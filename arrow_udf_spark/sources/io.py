"""Sources & sinks.

Everything relational is delegated to Spark's native connectors
(SURVEY.md §2.C: scan/sink are host-engine territory — predicate pushdown,
column pruning, and partition pruning come free from the parquet/csv/json
DataSource V2 readers).  This module adds:

- :func:`read_table`, the one reader of a catalog table file (used by
  :class:`Catalog` and ``queries.t``): it infers a file's parquet schema
  once per session and normalizes the events table's timestamps;
- :func:`read_arrow_ipc` — a **distributed** Arrow IPC file reader Spark
  lacks natively: files land as ``binaryFile`` rows and are decoded to
  record batches inside ``mapInArrow``, so no byte ever passes through the
  driver (the reference's RecordBatch-stream model as a source);
- :func:`write_parquet` with layout controls (partitioning, sorted
  writes) that matter at 100 TB.
"""

from __future__ import annotations

import os
from typing import Iterator, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "Catalog",
    "conform_schema",
    "normalize_events",
    "read_arrow_ipc",
    "read_table",
    "write_parquet",
    "write_bucketed",
    "TABLES",
]

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: epoch-unit inference thresholds: a column whose max |value| is at least
#: this is (nanos, micros, millis); below all three -> seconds.  Valid when
#: the column contains at least one timestamp after ~1973 (earlier-only
#: columns are indistinguishable from the next-finer unit by magnitude).
_EPOCH_UNITS = (
    (100_000_000_000_000_000, "ns"),
    (100_000_000_000_000, "us"),
    (100_000_000_000, "ms"),
)


def _infer_epoch_unit(df: DataFrame, col: str) -> str:
    """Infer the epoch unit of a bigint column ONCE per column from
    ``max(abs(col))`` — never per row, so a column is always interpreted
    under a single unit (mixed-magnitude rows would otherwise be split
    across units silently)."""
    row = df.agg(F.max(F.abs(F.col(col)))).first()
    mx = row[0] if row else None
    if mx is None:
        return "us"  # empty/all-null: any unit works, micros is the contract
    for bound, unit in _EPOCH_UNITS:
        if mx >= bound:
            return unit
    return "s"


def _epoch_to_us(col: str, unit: str):
    if unit == "ns":
        # integer DIV, not float /: double's 53-bit mantissa corrupts the
        # low bits of int64 nanos
        return F.expr(f"`{col}` DIV 1000")
    k = {"us": 1, "ms": 1000, "s": 1_000_000}[unit]
    return F.col(col) * k if k != 1 else F.col(col)


#: (file identity, simpleSchema) -> inferred unit: a rewritten file has a
#: new identity and is probed again
_UNIT_CACHE: dict = {}


def normalize_events(df: DataFrame, cache_key: Optional[tuple] = None) -> DataFrame:
    """Schema-sensitive normalization of the events table's ``ts`` column,
    derived from the *observed* schema (fixtures have shipped int64
    nanos-since-epoch and parquet TIMESTAMP(MICROS)).  Output contract:

    - ``ts``  — TimestampType (session tz is UTC, so NTZ->TZ cast is the
      identity on the wall-clock value, matching DuckDB's naive timestamp);
    - ``us``  — BIGINT micros-since-epoch (what DuckDB's ``epoch_us(ts)``
      returns), appended as the stable arithmetic-friendly column.

    For a bigint ``ts`` the unit is inferred once per column from
    ``max(abs)`` (one tiny agg job, memoized per ``cache_key``) rather
    than assumed nanos, so int64 micros or millis normalize correctly.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":  # integer epoch (unit inferred, not assumed)
        ck = (cache_key, df.schema.simpleString()) if cache_key else None
        unit = _UNIT_CACHE.get(ck) or _infer_epoch_unit(df, "ts")
        if ck:
            _UNIT_CACHE[ck] = unit
        df = df.withColumn("us", _epoch_to_us("ts", unit)).withColumn(
            "ts", F.timestamp_micros(F.col("us"))
        )
    elif dt in ("timestamp", "timestamp_ntz"):
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "us", F.unix_micros(F.col("ts"))
        )
    return df


def _scan_parallelism(path: str) -> int:
    """Partitions a parquet scan of ``path`` will produce (file bytes over
    ``spark.sql.files.maxPartitionBytes``, the planner's own formula).

    Directory datasets: sum the first 64 file sizes and treat 64+ files as
    already-wide — a partitioned 100 TB table must NEVER look small just
    because ``getsize(dir)`` returns the directory inode size."""
    try:
        if os.path.isdir(path):
            sizes = []
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    sizes.append(os.path.getsize(os.path.join(root, f)))
                    if len(sizes) >= 64:
                        return 1 << 30  # many files -> scan is already wide
            size = sum(sizes)
        else:
            size = os.path.getsize(path)
    except OSError:
        return 1 << 30  # unknown → assume wide, never force a shuffle
    return max(1, size // (128 << 20))


def read_table(spark: SparkSession, path: str, spread: bool = False) -> DataFrame:
    """Read one catalog table file, normalizing ``events.parquet``'s ``ts``.

    The first read of a regular file in a session infers its schema (a
    one-task Spark job over the footer); later reads of the same file
    (path, inode, mtime, size) pass it in and run no job.  The memo lives
    on the session, whose parquet settings shape the schema, and holds
    schemas only, so each call returns fresh attribute ids.  A directory
    is inferred on every read (a partition's rewrite keeps its mtime)."""
    st = os.stat(path) if os.path.isfile(path) else None
    key = st and (os.path.abspath(path), st.st_ino, st.st_mtime_ns, st.st_size)
    memo = spark.__dict__.setdefault("_aus_table_schemas", {})
    known = memo.get(key)
    df = (spark.read.schema(known) if known else spark.read).parquet(path)
    if key and not known:
        memo[key] = df.schema
    # Adaptive spread (opt-in per query): a source whose scan parallelism is
    # far below the cluster's leaves cores idle for the whole map-side of
    # the plan (the testdata ships single-row-group files -> 1-task scans).
    # One hash exchange on the parquet row index fixes that for queries
    # whose per-row compute dominates (UDFs, per-token hashing): the spread
    # is even and deterministic, so Spark does not sort every row first as
    # it does before a round-robin exchange.  Queries that are cheap JVM
    # projections or immediately shuffle anyway must NOT pay it (the
    # exchange also blocks scan-level filter pushdown).  At 100 TB the
    # branch never fires: a real scan yields >= parallelism splits.
    par = spark.sparkContext.defaultParallelism
    if spread and _scan_parallelism(path) < max(2, par // 2):
        df = df.repartition(par, F.col("_metadata.row_index"))
    if os.path.basename(path) == "events.parquet":
        df = normalize_events(df, cache_key=key)
    return df


class Catalog:
    """The testdata star schema as named DataFrames (+ temp views)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def table(self, name: str) -> DataFrame:
        return read_table(self.spark, f"{self.sf_dir}/{name}.parquet")

    def register_views(self) -> None:
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)


def read_arrow_ipc(spark: SparkSession, path: str) -> DataFrame:
    """Read Arrow IPC (Feather v2 / stream) files distributed.

    Each executor task receives whole files as binary content
    (``binaryFile`` source) and emits their record batches through
    ``mapInArrow`` — driver never touches data.  All files must share one
    schema (sampled from the first file).
    """
    bin_df = spark.read.format("binaryFile").load(path)

    # sample the schema from one file (driver reads only the header)
    first = bin_df.select("content").limit(1).collect()
    if not first:
        raise FileNotFoundError(f"no files at {path}")
    sample_schema = _open_ipc(first[0][0]).schema

    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql import types as T

    spark_schema = T.StructType(
        [T.StructField(f.name, from_arrow_type(f.type)) for f in sample_schema]
    )

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            contents = b.column(b.schema.get_field_index("content"))
            for blob in contents:
                reader = _open_ipc(blob.as_py())
                if hasattr(reader, "num_record_batches"):  # file format
                    for i in range(reader.num_record_batches):
                        yield reader.get_batch(i)
                else:  # stream format
                    yield from reader

    return bin_df.select("content").mapInArrow(decode, schema=spark_schema)


def _open_ipc(blob: bytes):
    import pyarrow.ipc as ipc

    buf = pa.BufferReader(blob)
    try:
        return ipc.open_file(buf)
    except pa.ArrowInvalid:
        buf.seek(0)
        return ipc.open_stream(buf)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
    max_records_per_file: Optional[int] = None,
) -> None:
    """Layout-aware parquet sink.

    ``partition_by`` prunes at read time; ``sort_by`` sorts within output
    partitions so min/max row-group statistics become selective (the
    cheap, portable cousin of Z-ordering); ``max_records_per_file`` bounds
    file sizes on skewed partitions.
    """
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_mb: int = 128,
    sort_by: Sequence[str] = (),
) -> int:
    """Small-file compaction — the maintenance job every long-lived
    100 TB table needs (streaming sinks and per-trigger appends leave
    thousands of KB-sized files; each costs a task, an open, and a
    footer read on every scan).  Sizes the output from the SOURCE's
    actual bytes: ``n_files = ceil(total_bytes / target_file_mb)``,
    rewrites with exactly that many output files (repartition — an
    honest shuffle; coalesce would skew when input files are uneven),
    optionally re-sorting within partitions so row-group min/max stats
    stay selective after compaction.  Returns the output file count.

    Metadata-only sizing: the file listing comes from the driver-side
    catalog, never from reading data twice.
    """
    import math

    from py4j.java_gateway import java_import

    jvm = spark._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")

    def sizes(path: str) -> list:  # bytes of each .parquet file under path
        p = jvm.Path(path)
        it = p.getFileSystem(spark._jsc.hadoopConfiguration()).listFiles(p, True)
        out = []
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                out.append(f.getLen())
        return out

    n_files = max(1, math.ceil(sum(sizes(src)) / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src).repartition(n_files)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    df.write.mode("overwrite").parquet(dst)
    return len(sizes(dst))


#: physical-type families conform_schema knows how to reconcile
_TS_TYPES = ("timestamp", "timestamp_ntz")
_INT_WIDEN = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}


def conform_schema(df: DataFrame, target: "T.StructType") -> DataFrame:
    """Schema-driven physical-type adapter: coerce ``df`` to ``target``'s
    logical types wherever a lossless conversion exists.

    Fixtures and upstream producers legitimately vary physical encodings
    over time — the round-2 events table silently moved from int64
    nanos-since-epoch to parquet TIMESTAMP(MICROS) and broke every query
    that assumed the old shape.  Reading through an explicit target schema
    makes ingestion robust to that class of drift (the reference declares
    fixed signatures per function, SURVEY §1.1; this is the table-level
    analogue).  Handled conversions:

    - timestamp <-> timestamp_ntz (cast; session tz UTC keeps wall-clock)
    - int64 epoch (nanos/micros/millis/seconds by magnitude) -> timestamp
    - integer widening (never narrowing) along tinyint->bigint
    - timestamp -> date truncation when the target says date
    - float -> double widening

    Columns absent from ``target`` pass through; columns absent from
    ``df`` are an error (no silent NULL invention).
    """
    from pyspark.sql import types as ST

    have = {f.name: f for f in df.schema.fields}
    missing = [f.name for f in target.fields if f.name not in have]
    if missing:
        raise ValueError(f"conform_schema: source lacks columns {missing}")
    out = []
    for f in df.schema.fields:
        tgt = next((t for t in target.fields if t.name == f.name), None)
        col = F.col(f.name)
        if tgt is None or tgt.dataType == f.dataType:
            out.append(col)
            continue
        src_s, tgt_s = f.dataType.simpleString(), tgt.dataType.simpleString()
        if tgt_s in _TS_TYPES and src_s in _TS_TYPES:
            out.append(col.cast(tgt_s).alias(f.name))
        elif tgt_s in _TS_TYPES and src_s == "bigint":
            # epoch-integer to timestamp: unit inferred ONCE per column
            # from max(abs) (one tiny agg job), never per row — per-row
            # magnitude probing misreads early-epoch values (e.g. int64
            # nanos for dates before ~1973 fall into the micros band).
            # Valid range: the column must contain at least one post-1973
            # value for its true unit to win; document-level constraint.
            unit = _infer_epoch_unit(df, f.name)
            us = _epoch_to_us(f.name, unit)
            out.append(F.timestamp_micros(us).cast(tgt_s).alias(f.name))
        elif tgt_s == "date" and src_s in _TS_TYPES:
            out.append(col.cast("date").alias(f.name))
        elif (
            src_s in _INT_WIDEN
            and tgt_s in _INT_WIDEN
            and _INT_WIDEN[tgt_s] >= _INT_WIDEN[src_s]
        ):
            out.append(col.cast(tgt_s).alias(f.name))
        elif src_s == "float" and tgt_s == "double":
            out.append(col.cast("double").alias(f.name))
        else:
            raise ValueError(
                f"conform_schema: no lossless conversion {f.name}: "
                f"{src_s} -> {tgt_s}"
            )
    return df.select(*out)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    n_buckets: int,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_by) at WRITE
    time, so equi-joins/aggregations on those keys read back with NO
    exchange — the per-query shuffle is paid once at ingest.  At 100 TB
    this is the difference between re-shuffling the fact table on every
    join and never shuffling it again.

    (Bucketing requires ``saveAsTable`` — the bucket metadata lives in the
    session catalog / metastore, not in the parquet files.)
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)
