"""Type matrix across the Python UDF boundary (modelled on pyspark's
pandas-UDF type tests): identity scalar and table functions, row mode and
batch mode, and an identity aggregate on the SQL front, over every type
the signature parser maps to Spark.

Each case round-trips Spark values through the worker and back, so it pins
what a caller sees, whatever the executor-side evaluator is:

- every value comes back unchanged, ±0.0 keeps its sign;
- a float NaN comes back as NULL (row functions see it as None);
- an outer-NULL struct comes back with no non-NULL field;
- ``fallible=True`` wraps the value in ``struct<value, error>`` with a NULL
  error, and ``RETURN_NULL_ON_NULL_INPUT`` never calls the function on NULL.
"""

from __future__ import annotations

import math
import re
import warnings
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from arrow_udf_spark import CallMode, Registry, udaf, udf, udtf
from arrow_udf_spark.plans.types import parse_type

NAN = float("nan")

CASES = [
    ("int8", [1, None, -128, 127]),
    ("int16", [1, None, -(2**15), 2**15 - 1]),
    ("int32", [1, None, -(2**31), 2**31 - 1]),
    ("int64", [1, None, -(2**63), 2**63 - 1]),
    ("float32", [1.5, None, NAN, 0.0, -0.0]),
    ("float64", [1.5, None, NAN, 0.0, -0.0, float("inf")]),
    ("decimal(10,2)", [Decimal("1.25"), None, Decimal("-99999999.99")]),
    ("string", ["a", None, "", "é"]),
    ("binary", [b"a", None, b""]),
    ("boolean", [True, None, False]),
    ("date", [date(2020, 1, 1), None, date(1969, 12, 31)]),
    ("timestamp", [datetime(2020, 1, 1, 12, 0, 0, 123456), None, datetime(1960, 6, 1)]),
    ("int32[]", [[1, None, 2], None, []]),
    ("map<string,int32>", [{"a": 1, "b": None}, None, {}]),
    (
        "struct<key:string,value:string>",
        [{"key": "a", "value": "b"}, None, {"key": None, "value": "x"}],
    ),
    ("json", ['{"a":1}', None, "[1,2]"]),
    ("decimal", ["1.5", None, "-0.001"]),
]


def _same(got, sent) -> bool:
    """``got`` is what Spark returned for the Spark value ``sent``."""
    if isinstance(sent, float) and math.isnan(sent):
        return got is None
    if isinstance(sent, float):
        return got == sent and math.copysign(1, got) == math.copysign(1, sent)
    if sent is None and isinstance(got, T.Row):
        return all(v is None for v in got)
    return got == sent


def _functions(tstr: str):
    reg = Registry()

    @udf(input_types=[tstr], result_type=tstr, name="row_id", registry=reg)
    def row_id(x):
        if isinstance(x, float) and math.isnan(x):
            raise AssertionError("row function saw NaN")
        return x

    @udf(input_types=[tstr], result_type=tstr, name="batch_id", batch=True, registry=reg)
    def batch_id(x):
        return x

    @udf(input_types=[tstr], result_type=tstr, name="fall_id", fallible=True, registry=reg)
    def fall_id(x):
        return x

    @udf(
        input_types=[tstr],
        result_type=tstr,
        name="strict_id",
        mode=CallMode.RETURN_NULL_ON_NULL_INPUT,
        registry=reg,
    )
    def strict_id(x):
        if x is None:
            raise AssertionError("called on NULL")
        return x

    @udtf(input_types=[tstr], result_type=tstr, name="row_tid", registry=reg)
    def row_tid(x):
        yield x

    @udtf(input_types=[tstr], result_type=tstr, name="batch_tid", registry=reg)
    def batch_tid(x):
        yield x

    batch_tid.vectorize(lambda s: [[v] for v in s.tolist()])
    return row_id, batch_id, fall_id, strict_id, row_tid, batch_tid


@pytest.mark.parametrize("tstr,values", CASES, ids=[c[0] for c in CASES])
def test_identity_roundtrip(spark, tstr, values):
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("x", parse_type(tstr).dtype)]
    )
    df = spark.createDataFrame(list(enumerate(values)), schema)
    row_id, batch_id, fall_id, strict_id, row_tid, batch_tid = _functions(tstr)
    rows = (
        df.select(
            "id",
            "x",
            row_id("x").alias("r"),
            batch_id("x").alias("b"),
            fall_id("x").alias("f"),
            strict_id("x").alias("s"),
        )
        .orderBy("id")
        .collect()
    )
    assert len(rows) == len(values)
    for row in rows:
        for col in ("r", "b", "s"):
            assert _same(row[col], row.x), (tstr, col, row)
        assert row.f.error is None, (tstr, row)
        assert _same(row.f.value, row.x), (tstr, row)

    sent = {r.id: r.x for r in rows}
    for fn in (row_tid, batch_tid):
        name = fn.sig.name
        out = fn.apply(df, cols=["x"], passthrough=["id"]).collect()
        assert sorted(r.id for r in out) == sorted(sent), (tstr, name)
        for r in out:
            assert _same(r[name], sent[r.id]), (tstr, name, r)


def test_outer_null_struct_stays_null(spark):
    """A NULL struct reaches a row function as None and a None struct
    result comes back NULL; the pandas-UDF boundary turned both into a
    struct of NULL fields."""
    tstr = "struct<key:string,value:string>"
    reg = Registry()

    @udf(input_types=[tstr], result_type="string", name="kind", registry=reg)
    def kind(x):
        return type(x).__name__

    @udf(input_types=[tstr], result_type=tstr, name="row_id", registry=reg)
    def row_id(x):
        return x

    schema = T.StructType([T.StructField("x", parse_type(tstr).dtype)])
    df = spark.createDataFrame([(None,)], schema)
    row = df.select(kind("x").alias("k"), row_id("x").alias("r")).collect()[0]
    assert row.k == "NoneType" and row.r is None, row


@pytest.mark.parametrize("tstr,values", CASES, ids=[c[0] for c in CASES])
def test_sql_aggregate_identity(spark, tstr, values):
    """A first-non-NULL aggregate over one-row groups returns each value
    unchanged through every SQL aggregate surface: the bare name,
    ``__partial`` + ``__mergevec(collect_list(...))``, and
    ``Registry.sql``."""
    name = "first_" + re.sub(r"\W", "_", tstr)
    reg = Registry()

    @udaf(input_types=[tstr], result_type=tstr, name=name, registry=reg)
    class FirstNonNull:
        def create_state(self):
            return None

        def accumulate(self, s, x):
            return x if s is None else s

        def merge(self, a, b):
            return b if a is None else a

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("x", parse_type(tstr).dtype)]
    )
    df = spark.createDataFrame(list(enumerate(values)), schema)
    df.createOrReplaceTempView("agg_types")
    sent = {r.id: r.x for r in df.collect()}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        reg.register_sql(spark)
        bare = f"SELECT id, {name}(x) AS a FROM agg_types GROUP BY id"
        surfaces = {
            "bare": spark.sql(bare),
            "pair": spark.sql(
                f"""
                SELECT id, {name}__mergevec(collect_list(p)) AS a FROM (
                    SELECT id, {name}__partial(x) AS p FROM agg_types GROUP BY id
                ) GROUP BY id
                """
            ),
            "Registry.sql": reg.sql(spark, bare),
        }
    for surface, out in surfaces.items():
        rows = out.collect()
        assert sorted(r.id for r in rows) == sorted(sent), (tstr, surface)
        for r in rows:
            assert _same(r.a, sent[r.id]), (tstr, surface, r)
