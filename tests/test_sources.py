import shutil
import tempfile

import pyarrow as pa
import pyarrow.feather as feather
from pyspark.sql import functions as F

from arrow_udf_spark.sources.io import Catalog, read_arrow_ipc, write_parquet


def test_catalog_events_timestamp(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    ev = cat.table("events")
    # normalize_events contract: ts is a timestamp whatever the fixture's
    # physical type; us is bigint micros-since-epoch consistent with ts
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert dict(ev.dtypes)["us"] == "bigint"
    assert ev.count() == 1000
    bad = ev.where(F.unix_micros(F.col("ts")) != F.col("us")).count()
    assert bad == 0


def test_conform_schema_physical_drift(spark):
    """The round-2 lesson as a feature: the same logical table read from
    three physical encodings (int64 nanos epoch, TIMESTAMP micros, narrow
    ints) conforms to one target schema with identical values."""
    import datetime

    from pyspark.sql import types as T

    from arrow_udf_spark.sources.io import conform_schema

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    epoch_us = int(base.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)

    # int64 nanos + int32 id
    a = spark.createDataFrame(
        [(7, epoch_us * 1000)], "id int, ts bigint"
    )
    # already-timestamp + long id
    b = spark.createDataFrame([(7, base)], "id bigint, ts timestamp")

    ca, cb = conform_schema(a, target), conform_schema(b, target)
    assert ca.schema["ts"].dataType.simpleString() == "timestamp"
    assert ca.schema["id"].dataType.simpleString() == "bigint"
    ra, rb = ca.collect()[0], cb.collect()[0]
    assert ra.ts == rb.ts == base
    assert ra.id == rb.id == 7

    # epoch seconds and millis land on the same instant (truncated micros)
    c = spark.createDataFrame([(1, epoch_us // 1_000_000)], "id int, ts bigint")
    d = spark.createDataFrame([(1, epoch_us // 1_000)], "id int, ts bigint")
    assert conform_schema(c, target).collect()[0].ts == base.replace(microsecond=0)
    assert conform_schema(d, target).collect()[0].ts == base.replace(
        microsecond=123000
    )

    # no silent narrowing / NULL invention
    import pytest as _pytest

    bad = spark.createDataFrame([("x",)], "ts string")
    with _pytest.raises(ValueError, match="lacks columns"):
        conform_schema(spark.createDataFrame([(1,)], "id int"), target)
    with _pytest.raises(ValueError, match="no lossless conversion"):
        conform_schema(
            bad,
            T.StructType([T.StructField("ts", T.TimestampType())]),
        )


def test_arrow_ipc_roundtrip(spark):
    d = tempfile.mkdtemp(prefix="ipc_")
    try:
        t = pa.table({"a": list(range(100)), "s": [f"x{i}" for i in range(100)]})
        feather.write_feather(t, f"{d}/part0.arrow")
        feather.write_feather(t.slice(0, 10), f"{d}/part1.arrow")
        df = read_arrow_ipc(spark, d)
        assert df.count() == 110
        assert set(df.columns) == {"a", "s"}
        assert df.agg({"a": "sum"}).collect()[0][0] == sum(range(100)) + sum(range(10))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_write_parquet_partitioned(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="sink_")
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        write_parquet(
            li, f"{d}/out", partition_by=["l_returnflag"], sort_by=["l_orderkey"]
        )
        back = spark.read.parquet(f"{d}/out")
        assert back.count() == li.count()
        # partition pruning: reading one flag touches only its directory
        one = back.where(back.l_returnflag == "A")
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan or one.count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """Co-located bucketed tables join without any Exchange: the ingest-time
    shuffle replaces every per-query shuffle (the 100 TB fact-join plan)."""
    from arrow_udf_spark.sources.io import write_bucketed

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "li_b", ["l_orderkey"], 8, sort_by=["l_orderkey"])
    write_bucketed(o, "o_b", ["o_orderkey"], 8, sort_by=["o_orderkey"])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_b").join(
            spark.table("o_b"),
            spark.table("li_b").l_orderkey == spark.table("o_b").o_orderkey,
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_partition_pruning_at_read(spark, sf_dir, tmp_path):
    from arrow_udf_spark.sources.io import write_parquet

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    dest = str(tmp_path / "orders_part")
    write_parquet(o, dest, partition_by=["o_orderpriority"], sort_by=["o_orderkey"])
    back = spark.read.parquet(dest).where(F.col("o_orderpriority") == "1-URGENT")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the partition filter must prune directories, not scan-and-filter
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan
    n_urgent = back.count()
    n_all = spark.read.parquet(dest).count()
    assert 0 < n_urgent < n_all


def test_sorted_layout_skips_row_groups(spark, sf_dir):
    """Zone-map evidence: the SAME selective predicate over the SAME
    rows reads a fraction of the data when the file is sorted on the
    filter column (parquet row-group min/max stats let the pushed filter
    skip whole groups) and everything when it is shuffled.  This is the
    sort-on-write layout rule at 100 TB: the scan node's numOutputRows
    is what the reader actually surfaced, pre-Filter."""
    import tempfile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    d = tempfile.mkdtemp(prefix="rg_skip_")
    opts = {"parquet.block.size": 131072}  # small groups -> many stats
    li.sort("l_orderkey").coalesce(1).write.mode("overwrite").options(
        **opts
    ).parquet(d + "/sorted")
    li.orderBy(F.md5(F.col("l_orderkey").cast("string"))).coalesce(
        1
    ).write.mode("overwrite").options(**opts).parquet(d + "/shuffled")

    def scan_output_rows(path):
        df = (
            spark.read.parquet(path)
            .where("l_orderkey BETWEEN 100 AND 200")
            .select("l_orderkey")
        )
        matches = df.count()
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()

        def walk(n):
            if "Scan" in n.nodeName():
                it = n.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numOutputRows":
                        return kv._2().value()
            for i in range(n.children().length()):
                got = walk(n.children().apply(i))
                if got is not None:
                    return got
            return None

        return matches, walk(plan)

    m_sorted, rows_sorted = scan_output_rows(d + "/sorted")
    m_shuf, rows_shuf = scan_output_rows(d + "/shuffled")
    assert m_sorted == m_shuf  # same answer either way
    total = li.count()
    # shuffled layout surfaces (essentially) every row; sorted layout
    # skips whole row groups (at the tiny test SF the file only has a
    # handful of groups, so assert the mechanism — a large relative
    # reduction — not a fixed fraction; measured 36x at sf0.01)
    assert rows_shuf > total * 0.9
    assert rows_sorted < rows_shuf / 2, (rows_sorted, rows_shuf)


def test_compact_parquet_small_files(spark, sf_dir):
    """A fragmented 64-file table compacts to the byte-sized file count
    with identical data; sort_by keeps zone maps selective after the
    rewrite."""
    import tempfile

    from arrow_udf_spark.sources.io import compact_parquet

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    d = tempfile.mkdtemp(prefix="compact_")
    li.repartition(64).write.mode("overwrite").parquet(d + "/frag")
    import glob

    assert len(glob.glob(d + "/frag/part-*.parquet")) == 64
    n = compact_parquet(
        spark, d + "/frag", d + "/compact", target_file_mb=64,
        sort_by=["l_orderkey"],
    )
    assert n == len(glob.glob(d + "/compact/part-*.parquet"))
    assert n <= 2  # ~200 KB of data vs a 64 MB target
    a = sorted(map(tuple, li.collect()))
    b = sorted(map(tuple, spark.read.parquet(d + "/compact").collect()))
    assert a == b


def test_reference_server_failure_names_its_cause():
    """Without the reference tree the server exits at once; the error
    says why, from the server's own stderr."""
    import pytest

    from arrow_udf_spark.sources.ref_interop import reference_available, serve_reference

    if reference_available():
        pytest.skip("the reference tree is present, so the server starts")
    with pytest.raises(RuntimeError, match="reference package not found"):
        serve_reference()


# -- one reader of a catalog table file (sources.io.read_table) ------------


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    import uuid

    sc = spark.sparkContext
    group = f"read_table_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _norm_plan(df) -> str:
    import re

    return re.sub(r"#\d+", "#", df._jdf.queryExecution().executedPlan().toString())


def test_read_table_memo_matches_inferred_read(spark, sf_dir):
    """For every fixture table a memoized read (the schema passed in) has
    the schema and the executed plan of an inferred read."""
    from arrow_udf_spark.sources.io import TABLES, normalize_events, read_table

    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        read_table(spark, path)
        memo = read_table(spark, path)
        inferred = spark.read.parquet(path)
        if name == "events":
            inferred = normalize_events(inferred)
        assert memo.schema.json() == inferred.schema.json(), name
        assert _norm_plan(memo) == _norm_plan(inferred), name


def test_read_table_infers_once_per_file(spark, tmp_path):
    """The first read of a fresh file infers its schema with a Spark job;
    the second read of the same file runs none."""
    import pyarrow.parquet as pq

    from arrow_udf_spark.sources.io import read_table

    path = str(tmp_path / "fresh.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first, n_first = _jobs(spark, lambda: read_table(spark, path))
    second, n_second = _jobs(spark, lambda: read_table(spark, path))
    assert n_first >= 1
    assert n_second == 0
    assert sorted(r.a for r in second.collect()) == [1, 2, 3]


def test_read_table_sees_a_rewritten_schema(spark, tmp_path):
    """Overwriting a file with another schema gives it a new identity, so
    the next read infers again and sees the new columns."""
    import pyarrow.parquet as pq

    from arrow_udf_spark.sources.io import read_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1]}), path)
    assert read_table(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), path)
    back = read_table(spark, path)
    assert back.columns == ["a", "b"]
    assert [tuple(r) for r in back.collect()] == [(2, "x")]


def test_events_unit_follows_a_rewritten_file(spark, tmp_path):
    """The epoch unit of a bigint ``ts`` is memoized per file identity:
    rewriting ``events.parquet`` with the same instant in micros instead of
    nanos (same path, same schema) must not reuse the nanos unit."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    cat = Catalog(spark, str(tmp_path))
    us = 1_700_000_000_000_000
    pq.write_table(pa.table({"event_id": [1], "ts": [us * 1000]}), path)
    assert cat.table("events").first()["us"] == us
    pq.write_table(pa.table({"event_id": [1], "ts": [us]}), path)
    assert cat.table("events").first()["us"] == us


def test_two_reads_of_one_table_self_join(spark, sf_dir):
    """Each read is a new relation with fresh attribute ids, so a column
    from each side of a self-join resolves without ambiguity."""
    from arrow_udf_spark.queries import t

    a, b = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "lineitem")
    j = a.join(b, a.l_orderkey == b.l_orderkey).select(a.l_partkey, b.l_suppkey)
    per_order = a.groupBy("l_orderkey").count().collect()
    assert j.count() == sum(r["count"] ** 2 for r in per_order)


def test_read_table_directory_dataset(spark, tmp_path):
    """A directory dataset reads, and is inferred on every read: a change
    inside it need not touch the directory's own mtime."""
    import pyarrow.parquet as pq

    from arrow_udf_spark.sources.io import read_table

    d = tmp_path / "dir.parquet"
    (d / "k=1").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "k=1" / "part-0.parquet"))
    first, n_first = _jobs(spark, lambda: read_table(spark, str(d)))
    assert sorted(map(tuple, first.collect())) == [(1, 1), (2, 1)]
    (d / "k=2").mkdir()
    pq.write_table(pa.table({"a": [3]}), str(d / "k=2" / "part-0.parquet"))
    second, n_second = _jobs(spark, lambda: read_table(spark, str(d)))
    assert n_first >= 1 and n_second >= 1
    assert sorted(map(tuple, second.collect())) == [(1, 1), (2, 1), (3, 2)]
