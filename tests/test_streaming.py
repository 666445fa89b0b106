"""Structured Streaming tests: file stream -> availableNow trigger ->
memory sink, compared against the equivalent batch computation."""

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from arrow_udf_spark.functions.corpus import SumAgg
from arrow_udf_spark.streaming.stateful import (
    streaming_running_agg,
    windowed_agg,
)


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir):
    """events with a proper timestamp column, written for streaming reads."""
    from arrow_udf_spark.sources.io import normalize_events

    d = tempfile.mkdtemp(prefix="stream_src_")
    ev = (
        normalize_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
        .withColumn("ts2", F.col("ts"))
        .select("event_id", "user_id", "event_type", "value", "ts2")
    )
    ev.write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, out, name):
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_agg_matches_batch(spark, stream_dir):
    schema = spark.read.parquet(stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    out = windowed_agg(
        stream,
        "ts2",
        "1 hour",
        aggs={"n": "count(1)"},
        by=["event_type"],
        watermark="1 minute",
    )
    name = f"win_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(f"SELECT sum(n) AS total FROM {name}").collect()[0]["total"]
    batch_total = spark.read.parquet(stream_dir).count()
    # append mode emits only windows closed by the watermark; the final
    # (open) windows are withheld, so total <= batch and > 0
    assert got is not None and 0 < got <= batch_total


def test_streaming_running_udaf_matches_batch(spark, stream_dir):
    schema = spark.read.parquet(stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    src = stream.withColumn("v", F.col("value").cast("long"))
    out = streaming_running_agg(src, SumAgg, by=["event_type"], args=["v"])
    name = f"run_{uuid.uuid4().hex[:8]}"
    table = _run_stream(spark, out, name)
    # last update per key equals the batch aggregate
    got = {
        r["event_type"]: r["sum_udaf"]
        for r in table.groupBy("event_type")
        .agg(F.last("sum_udaf").alias("sum_udaf"))
        .collect()
    }
    expect = {
        r["event_type"]: r["s"]
        for r in spark.read.parquet(stream_dir)
        .withColumn("v", F.col("value").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("v").alias("s"))
        .collect()
    }
    assert got == expect


def test_sliding_window_retract(spark):
    """Retract-maintained sliding window over a controlled micro-batch."""
    import pandas as pd

    from arrow_udf_spark.streaming.stateful import sliding_window_agg

    d = tempfile.mkdtemp(prefix="slide_src_")
    try:
        base = pd.Timestamp("2024-01-01 00:00:00")
        pdf = pd.DataFrame(
            {
                "k": ["a"] * 4,
                "ts": [base + pd.Timedelta(seconds=s) for s in (0, 10, 20, 100)],
                "x": [1, 2, 4, 8],
            }
        )
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        stream = spark.readStream.schema(schema).parquet(d)
        out = sliding_window_agg(
            stream, SumAgg, by=["k"], args=["x"], ts_col="ts", window_seconds=30
        )
        name = f"slide_{uuid.uuid4().hex[:8]}"
        table = _run_stream(spark, out, name)
        rows = table.collect()
        # all four rows arrive in one micro-batch; max_ts=+100s, cutoff=+70s
        # -> rows at +0/+10/+20 retracted, only x=8 remains
        assert rows[-1]["sum_udaf"] == 8
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sliding_window_null_argument(spark):
    """A NULL argument reaches ``accumulate`` and ``retract`` as None on
    the sliding window: the micro-batch folds through the batch fold core,
    not the NaN that pandas carries a NULL bigint as."""
    import pandas as pd

    from arrow_udf_spark.streaming.stateful import sliding_window_agg

    d = tempfile.mkdtemp(prefix="slide_null_")
    try:
        base = pd.Timestamp("2024-01-01 00:00:00")
        pdf = pd.DataFrame(
            {
                "k": ["a"] * 4,
                "ts": [base + pd.Timedelta(seconds=s) for s in (0, 10, 20, 100)],
                "x": pd.array([1, None, 4, 8], dtype="Int64"),
            }
        )
        spark.createDataFrame(pdf, "k string, ts timestamp, x bigint").write.mode(
            "overwrite"
        ).parquet(d)
        schema = spark.read.parquet(d).schema
        stream = spark.readStream.schema(schema).parquet(d)
        out = sliding_window_agg(
            stream, SumAgg, by=["k"], args=["x"], ts_col="ts", window_seconds=30
        )
        table = _run_stream(spark, out, f"slide_null_{uuid.uuid4().hex[:8]}")
        assert table.collect()[-1]["sum_udaf"] == 8
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_dedup_first_wins(spark, stream_dir, tmp_path):
    """Duplicate payloads arriving on a stream are emitted once."""
    import uuid

    from arrow_udf_spark.streaming.stateful import streaming_dedup

    # craft a source with known duplicates: event_type repeats heavily
    src = str(tmp_path / "dupsrc")
    ev = spark.read.parquet(stream_dir).select("event_id", "event_type")
    ev.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_dedup(stream, "event_type")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(f"SELECT event_type FROM {name}").collect()
    distinct_types = {r.event_type for r in ev.collect()}
    assert len(got) == len(distinct_types)
    assert {r.event_type for r in got} == distinct_types


def test_streaming_session_window(spark, stream_dir):
    """Session windows on a stream (F.session_window) match the batch
    gap-sessionization count per user."""
    import uuid

    from pyspark.sql import functions as F

    schema = spark.read.parquet(stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    out = (
        stream.withWatermark("ts2", "0 seconds")
        .groupBy(F.session_window("ts2", "1 hour"), F.col("user_id"))
        .agg(F.count("*").alias("n"))
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_sessions = spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0].n

    from arrow_udf_spark.operators.temporal import sessionize

    ev = spark.read.parquet(stream_dir).select(
        "user_id", F.unix_micros("ts2").alias("us"), "event_id"
    )
    batch = sessionize(
        ev, key="user_id", ts="us", gap=3_600_000_000, order_tiebreak="event_id"
    )
    batch_sessions = (
        batch.select("user_id", "session_id").distinct().count()
    )
    assert stream_sessions == batch_sessions


def test_stream_interval_join_matches_across_batches(spark, tmp_path):
    """stream_interval_join: a left row whose only match arrives in a LATER
    micro-batch must still pair (buffered join state), and the final pair
    set equals the batch interval join."""
    import uuid

    from arrow_udf_spark.streaming.stateful import stream_interval_join

    # timeline (minutes): left at 0, 100; right at 5, 103, 200
    # bound: right in [left, left+10min] -> pairs (0,5) and (100,103)
    def ts(m):
        return f"2024-01-01 00:00:00" if m == 0 else f"2024-01-01 {m//60:02d}:{m%60:02d}:00"

    left = spark.createDataFrame(
        [(1, 7, ts(0)), (2, 7, ts(100))], "l_id long, k long, lt string"
    ).withColumn("lt", F.col("lt").cast("timestamp"))
    right = spark.createDataFrame(
        [(10, 7, ts(5)), (11, 7, ts(103)), (12, 7, ts(200))],
        "r_id long, rk long, rt string",
    ).withColumn("rt", F.col("rt").cast("timestamp"))

    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    # one file per time half on each side -> 2+ micro-batches at 1 file/trigger
    left.repartitionByRange(2, "lt").write.parquet(ld)
    right.repartitionByRange(2, "rt").write.parquet(rd)
    sl = spark.readStream.schema(left.schema).option("maxFilesPerTrigger", "1").parquet(ld)
    sr = spark.readStream.schema(right.schema).option("maxFilesPerTrigger", "1").parquet(rd)
    cond = "k = rk AND rt >= lt AND rt <= lt + INTERVAL 10 MINUTES"
    out = stream_interval_join(sl, sr, "lt", "rt", cond, delay="5 minutes")
    name = f"ij_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 1, "expected multiple micro-batches"
    got = sorted(
        (r.l_id, r.r_id) for r in spark.sql(f"SELECT l_id, r_id FROM {name}").collect()
    )
    batch = sorted(
        (r.l_id, r.r_id) for r in left.join(right, F.expr(cond)).collect()
    )
    assert got == batch == [(1, 10), (2, 11)]

