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
import pickle
import re
import warnings
from datetime import date, datetime
from decimal import Decimal

import pandas as pd
import pytest
import pyarrow as pa
from pyspark.sql import types as T

from arrow_udf_spark import CallMode, Registry, udaf, udf, udtf
from arrow_udf_spark.operators.scalar import to_arrow
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


def _sql_lit(v, dtype: T.DataType) -> str:
    """A Spark SQL expression of type ``dtype`` holding the value ``v``."""
    if v is None:
        body = "NULL"
    elif isinstance(dtype, T.StructType):
        body = "named_struct({})".format(
            ", ".join(
                f"'{f.name}', {_sql_lit(v[f.name], f.dataType)}" for f in dtype.fields
            )
        )
    elif isinstance(dtype, T.ArrayType):
        body = "array({})".format(", ".join(_sql_lit(x, dtype.elementType) for x in v))
    elif isinstance(dtype, T.MapType):
        body = "map({})".format(
            ", ".join(
                f"{_sql_lit(k, dtype.keyType)}, {_sql_lit(x, dtype.valueType)}"
                for k, x in v.items()
            )
        )
    elif isinstance(v, bytes):
        body = f"X'{v.hex()}'"
    elif isinstance(v, bool):
        body = str(v).upper()
    elif isinstance(v, float):
        # quoted, so -0.0 is not read as the negation of a decimal zero
        body = "'{}'".format(repr(v).replace("nan", "NaN").replace("inf", "Infinity"))
    else:  # ints, decimals, strings, dates and timestamps: cast from text
        body = f"'{v}'"
    return f"CAST({body} AS {dtype.simpleString()})"


@pytest.mark.parametrize("tstr,values", CASES, ids=[c[0] for c in CASES])
def test_sql_table_function_identity(spark, tstr, values):
    """``row_tid`` through ``register_sql`` returns what ``.apply`` does,
    both as ``SELECT * FROM row_tid(<literal>)`` and as ``LATERAL
    row_tid(t.x)``: values unchanged, NaN as NULL, ±0.0 keeps its sign, an
    outer-NULL struct has no non-NULL field."""
    dtype = parse_type(tstr).dtype
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("x", dtype)]
    )
    df = spark.createDataFrame(list(enumerate(values)), schema)
    df.createOrReplaceTempView("tf_types")
    sent = {r.id: r.x for r in df.collect()}
    row_tid = _functions(tstr)[4]
    reg = Registry()
    reg.add(row_tid)
    # the bare name is taken once an earlier case registered it; the
    # registry then uses the signature-mangled name
    (fname,) = reg.register_sql(spark)
    names = [f.name for f in dtype.fields] if isinstance(dtype, T.StructType) else None

    def value(r):
        return T.Row(*(r[n] for n in names)) if names else r["row_tid"]

    literal = " UNION ALL ".join(
        f"SELECT {i} AS id, * FROM `{fname}`({_sql_lit(v, dtype)})"
        for i, v in enumerate(values)
    )
    lateral = f"SELECT t.id, s.* FROM tf_types t, LATERAL `{fname}`(t.x) s"
    for surface, q in (("literal", literal), ("lateral", lateral)):
        rows = spark.sql(q).collect()
        assert sorted(r.id for r in rows) == sorted(sent), (tstr, surface)
        for r in rows:
            assert _same(value(r), sent[r.id]), (tstr, surface, r)


def test_tuple_struct_result_reads_positionally(spark):
    """A plain tuple returned for a struct result fills the fields in
    order through a scalar ``@udf``, ``.apply`` and ``SELECT * FROM
    f(...)``; a tuple of the wrong length names the expected fields."""
    tstr = "struct<a:int32,b:string>"
    reg = Registry()

    @udf(input_types=["int64"], result_type=tstr, name="tuple_pair", registry=reg)
    def tuple_pair(n):
        return (int(n), str(n))

    @udtf(input_types=["int64"], result_type=tstr, name="tuple_pairs", registry=reg)
    def tuple_pairs(n):
        for i in range(n):
            yield (i, str(i))

    df = spark.createDataFrame([(1,), (3,)], "n bigint")
    got = df.select(tuple_pair("n").alias("p")).collect()
    assert sorted(tuple(r.p) for r in got) == [(1, "1"), (3, "3")]
    got = tuple_pairs.apply(df, cols=["n"], passthrough=["n"]).collect()
    assert sorted((r.n, tuple(r.tuple_pairs)) for r in got) == [
        (1, (0, "0")),
        (3, (0, "0")),
        (3, (1, "1")),
        (3, (2, "2")),
    ]
    reg.register_sql(spark)
    got = spark.sql("SELECT * FROM tuple_pairs(2)").collect()
    assert sorted(tuple(r) for r in got) == [(0, "0"), (1, "1")]
    atype = pa.struct([("a", pa.int32()), ("b", pa.string())])
    with pytest.raises(ValueError, match=r"expected 2: \(a, b\)"):
        to_arrow([(1,)], atype, 1)


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


#: a bigint above 2^53 next to a NULL: a float64 view of the column drops
#: its low bit, an exact view keeps it
WIDE = [2**60 + 1, None, 3]
NEG_WIDE = [-(2**60 + 1), None, -3]


def test_wide_int_batch_scalar(spark):
    """A ``pd.Series`` batch function sees a NULL-bearing bigint column as
    masked ``Int64``, all 64 bits intact."""
    from arrow_udf_spark.functions.corpus import neg_i64

    # one partition, so the NULL and the wide value share an Arrow batch
    df = spark.createDataFrame(list(enumerate(WIDE)), "id bigint, x bigint").coalesce(1)
    got = [r.n for r in df.select("id", neg_i64("x").alias("n")).orderBy("id").collect()]
    assert got == NEG_WIDE


def test_wide_int_batch_table_function(spark):
    """The same exact view reaches a ``pd.Series`` ``batch_fn``, through
    ``.apply`` and through the Flight server, which runs the same
    table-function evaluator (``batch_fn`` included)."""
    reg = Registry()

    @udtf(input_types=["bigint"], result_type="bigint", name="neg_rows", registry=reg)
    def neg_rows(x):
        if x is not None:
            yield -x

    #: batch sizes seen in this process; the Spark path runs in workers
    batch_calls = []

    def neg_rows_batch(xs: pd.Series):
        batch_calls.append(len(xs))
        return [[] if pd.isna(v) else [-v] for v in xs.tolist()]

    neg_rows.vectorize(neg_rows_batch)
    # one partition, so the NULL and the wide value share an Arrow batch
    df = spark.createDataFrame(list(enumerate(WIDE)), "id bigint, x bigint").coalesce(1)
    got = {r.id: r.neg_rows for r in neg_rows.apply(df, cols=["x"], passthrough=["id"]).collect()}
    assert got == {0: NEG_WIDE[0], 2: NEG_WIDE[2]}

    pytest.importorskip("pyarrow.flight")
    from arrow_udf_spark.sources.flight import FlightUdfClient, serve_registry

    c = FlightUdfClient(serve_registry(reg))
    try:
        x = pa.array(WIDE, pa.int64())
        out = c.call_table_function("neg_rows", pa.RecordBatch.from_arrays([x], ["arg0"]))
    finally:
        c.close()
    assert out.column("row").to_pylist() == [0, 2]
    assert out.column("neg_rows").to_pylist() == [NEG_WIDE[0], NEG_WIDE[2]]
    assert batch_calls == [3]


def test_wide_int_flight_server():
    """The Flight server evaluates with the Spark path's core: the batch
    function ``neg`` and the (fallible) row function ``sleepy_double``
    both see exact values."""
    pytest.importorskip("pyarrow.flight")
    from arrow_udf_spark import GLOBAL
    from arrow_udf_spark.sources.flight import FlightUdfClient, serve_registry

    c = FlightUdfClient(serve_registry(GLOBAL))
    try:
        x = pa.array(WIDE, pa.int64())
        out = c.call("neg__bigint", pa.RecordBatch.from_arrays([x], ["arg0"]))
        assert out.column(0).to_pylist() == NEG_WIDE
        out = c.call("sleepy_double", pa.RecordBatch.from_arrays([x], ["arg0"]))
        assert out.column("sleepy_double").to_pylist() == [2**61 + 2, None, 6]
        assert out.column("error").to_pylist() == [None] * 3
    finally:
        c.close()


def test_wide_int_arrow_accumulate_batch():
    """An ``accumulate_batch`` whose column parameter is annotated
    ``pa.Array`` gets Arrow slices from the fold; the per-row path and the
    batch path give the same exact state."""
    from unittest import mock

    from arrow_udf_spark.operators import aggregate as A

    @udaf(input_types=["bigint"], result_type="bigint", name="wide_sum", registry=Registry())
    class WideSum:
        def create_state(self):
            return 0

        def accumulate(self, s, x):
            return s if x is None else s + x

        def accumulate_batch(self, s, xs: pa.Array):
            assert isinstance(xs, pa.Array), type(xs)
            return s + sum(v for v in xs.to_pylist() if v is not None)

        def merge(self, a, b):
            return a + b

    x = pa.array(WIDE * 100, pa.int64())
    want = 100 * (2**60 + 4)
    for row_max in (0, 1 << 30):  # every group on the batch, then the row path
        with mock.patch.object(A, "_ROW_FOLD_MAX", row_max):
            fold = A.build_multi_fold([WideSum], 0, [1])
            (out,) = fold(iter([pa.RecordBatch.from_arrays([x], ["x"])]))
        assert pickle.loads(out.column(0)[0].as_py()) == want
