"""Tests for wildcard expansion, timeouts, map types, and the Flight
remote runtime."""

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from arrow_udf_spark import GLOBAL, Registry, udf


def test_wildcard_expansion_registers_overloads():
    reg = Registry()

    @udf(input_types=["number*"], result_type="number*", name="echo", batch=True, registry=reg)
    def echo(x):
        return x

    types = sorted(f.sig.arg_types[0] for f in reg._fns["echo"])
    assert types == ["float32", "float64", "int16", "int32", "int64", "int8"]
    # same-wildcard positions bind jointly: result type follows input
    f32 = reg.get("echo", ("float32",))
    assert f32.sig.return_type == "float32"


def test_expand_signature_joint_binding():
    from arrow_udf_spark.plans.types import expand_signature

    sigs = expand_signature(["int*", "int*"], "int*")
    assert len(sigs) == 4  # not 64: both args + result bind together
    assert (["int32", "int32"], "int32") in sigs


def test_timeout_rows_become_errors():
    reg = Registry()

    @udf(
        input_types=["double"],
        result_type="double",
        fallible=True,
        timeout=0.2,
        io_threads=4,
        registry=reg,
    )
    def slow(x):
        if x > 1:
            time.sleep(2)
        return x

    out = slow._eval(pd.Series([0.5, 5.0]))
    assert out["value"][0] == 0.5
    assert pd.isna(out["value"][1]) and out["error"][1] == "timeout"


def test_map_functions(spark):
    from arrow_udf_spark.functions.corpus import make_map, map_access

    df = spark.createDataFrame(
        [(["a", "b"], [1, 2], "b")], "ks array<string>, vs array<int>, k string"
    )
    m = df.select(make_map(F.col("ks"), F.col("vs")).alias("m"), "k")
    row = m.select(map_access(F.col("m"), F.col("k")).alias("v")).collect()[0]
    assert row["v"] == 2


def test_struct_to_json(spark):
    from arrow_udf_spark.functions.corpus import key_value, struct_to_json

    df = spark.createDataFrame([("a=b",)], "s string")
    out = df.select(struct_to_json(key_value(F.col("s"))).alias("j")).collect()
    assert out[0]["j"] == '{"key":"a","value":"b"}'


@pytest.fixture(scope="module")
def flight_uri():
    pytest.importorskip("pyarrow.flight")
    from arrow_udf_spark.sources.flight import serve_registry

    return serve_registry(GLOBAL)


def test_flight_protocol(flight_uri):
    from arrow_udf_spark.sources.flight import FlightUdfClient

    import pyarrow as pa

    c = FlightUdfClient(flight_uri)
    assert c.protocol_version() == b"\x02"
    assert "gcd" in c.list_functions()
    schema, nargs = c.function_info("gcd__bigint_bigint")
    assert nargs == 2
    batch = pa.RecordBatch.from_arrays(
        [pa.array([12, 15], pa.int64()), pa.array([8, 5], pa.int64())],
        names=["arg0", "arg1"],
    )
    out = c.call("gcd__bigint_bigint", batch)
    assert out.column(0).to_pylist() == [4, 5]
    c.close()


def test_flight_reference_client_decode(flight_uri):
    """Interop golden test: decode our server's discovery handshake exactly
    the way the reference Rust client does (Function::from_flight_info,
    remote/mod.rs:160-195): function name from descriptor.path[0],
    input/output split of the concatenated schema at total_records, and a
    u8 protocol version from the action body's first byte.  Any conforming
    peer (the Java UdfServer / Python arrow_udf server speak the same
    shape) interoperates iff this decode round-trips."""
    import pyarrow as pa
    from pyarrow import flight as fl

    client = fl.connect(flight_uri)

    # protocol version: reference client reads body.first() as u8
    body = next(iter(client.do_action(fl.Action("protocol_version", b"")))).body
    assert body.to_pybytes()[0] == 2

    def reference_decode(name: str):
        info = client.get_flight_info(fl.FlightDescriptor.for_path(name.encode()))
        assert info.descriptor.path[0].decode() == name
        input_num = info.total_records
        fields = list(info.schema)
        assert input_num <= len(fields)  # from_flight_info's validity check
        return pa.schema(fields[:input_num]), pa.schema(fields[input_num:])

    # plain scalar: args split cleanly from the single return field
    args, rets = reference_decode("gcd__bigint_bigint")
    assert args.types == [pa.int64(), pa.int64()]
    assert rets.names == ["gcd"] and rets.types == [pa.int64()]

    # fallible scalar advertises the (value, error: utf8) return pair
    args, rets = reference_decode("div__bigint_bigint")
    assert rets.names == ["div", "error"]
    assert rets.field("error").type == pa.string()

    # table function advertises (row: int32, value, [error])
    args, rets = reference_decode("series")
    assert rets.names[0] == "row" and rets.field("row").type == pa.int32()

    client.close()


def test_flight_temporal_roundtrip(flight_uri):
    """date32 / timestamp(us) / time64-as-int64 survive the remote exchange
    value-identically (reference test_udf.py:254-330 round-trips all
    temporal types through its Flight server)."""
    import datetime

    import pyarrow as pa

    from arrow_udf_spark.sources.flight import FlightUdfClient

    c = FlightUdfClient(flight_uri)

    d = datetime.date(2023, 6, 1)
    batch = pa.RecordBatch.from_arrays([pa.array([d, None], pa.date32())], ["arg0"])
    out = c.call("identity__date32", batch)
    assert out.column(0).to_pylist() == [d, None]

    ts = datetime.datetime(2023, 6, 1, 1, 2, 3, 456789)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([ts, None], pa.timestamp("us"))], ["arg0"]
    )
    out = c.call("identity__timestamp", batch)
    assert out.column(0).to_pylist() == [ts, None]

    micros = (1 * 3600 + 2 * 60 + 3) * 1_000_000 + 456789
    batch = pa.RecordBatch.from_arrays([pa.array([micros, None], pa.int64())], ["arg0"])
    out = c.call("identity__time64", batch)
    assert out.column(0).to_pylist() == [micros, None]

    c.close()


def test_flight_from_spark(spark, sf_dir, flight_uri):
    from arrow_udf_spark.sources.flight import remote_scalar

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(200)
    out = remote_scalar(
        li, flight_uri, "div", cols=["l_partkey", "l_suppkey"], passthrough=["l_orderkey"]
    )
    rows = out.collect()
    assert len(rows) == 200
    assert {c for c in out.columns} == {"l_orderkey", "div", "error"}


def test_nullary_udf(spark):
    from arrow_udf_spark.functions.corpus import int_42

    df = spark.range(3)
    vals = [r[0] for r in df.select(int_42()).collect()]
    assert vals == [42, 42, 42]


def test_remote_table_function(spark):
    """Table function over Arrow Flight (reference call_table_function):
    fan-out rows stream back as (row, value) and zip onto passthrough."""
    from arrow_udf_spark import GLOBAL
    from arrow_udf_spark.functions import corpus as C
    from arrow_udf_spark.sources.flight import remote_table, serve_registry

    uri = serve_registry(GLOBAL)
    df = spark.createDataFrame([(1, 3), (2, 0), (3, 2)], "k int, n int")
    got = remote_table(df, uri, "series", cols=["n"], passthrough=["k"])
    rows = sorted((r.k, r.series) for r in got.collect())
    assert rows == [(1, 0), (1, 1), (1, 2), (3, 0), (3, 1)]

    # local apply must agree
    local = C.series.apply(df, cols=["n"], passthrough=["k"])
    lrows = sorted((r.k, r.series) for r in local.collect())
    assert rows == lrows

    # no passthrough: ``row`` is the input row's index in its batch (one
    # partition, so one batch)
    one = df.coalesce(1)
    got = remote_table(one, uri, "series", cols=["n"])
    assert got.columns == ["row", "series"]
    rows = sorted((r.row, r.series) for r in got.collect())
    assert rows == [(0, 0), (0, 1), (0, 2), (2, 0), (2, 1)]
    local = C.series.apply(one, cols=["n"])
    assert sorted((r.row, r.series) for r in local.collect()) == rows


def test_serve_registry_serves_its_registry():
    """``serve_registry`` serves the registry it is given, one server per
    registry object, and each call re-reads it: a function added or
    redefined after the first call is served by the same server."""
    pytest.importorskip("pyarrow.flight")
    import pyarrow as pa

    from arrow_udf_spark.sources.flight import FlightUdfClient, serve_registry

    reg = Registry()

    @udf(input_types=["bigint"], result_type="bigint", name="plus_one", registry=reg)
    def plus_one(x):
        return x + 1

    uri = serve_registry(reg)
    assert uri != serve_registry(GLOBAL)

    @udf(input_types=["bigint"], result_type="bigint", name="plus_two", registry=reg)
    def plus_two(x):
        return x + 2

    @udf(input_types=["bigint"], result_type="bigint", name="plus_one", registry=reg)
    def plus_one_again(x):
        return x + 10

    assert serve_registry(reg) == uri
    c = FlightUdfClient(uri)
    try:
        assert sorted(c.list_functions()) == [
            "plus_one", "plus_one__bigint", "plus_two", "plus_two__bigint"
        ]
        x = pa.RecordBatch.from_arrays([pa.array([1, 2], pa.int64())], ["arg0"])
        assert c.call("plus_one", x).column(0).to_pylist() == [11, 12]
        assert c.call("plus_two", x).column(0).to_pylist() == [3, 4]
    finally:
        c.close()


def test_remote_table_function_fallible(spark):
    from arrow_udf_spark import GLOBAL
    from arrow_udf_spark.sources.flight import remote_table, serve_registry

    uri = serve_registry(GLOBAL)
    df = spark.createDataFrame([(1, '[1,2]'), (2, '"x"')], "k int, j string")
    got = remote_table(
        df, uri, "json_array_elements", cols=["j"], passthrough=["k"]
    ).collect()
    by_k = {}
    for r in got:
        by_k.setdefault(r.k, []).append((r.json_array_elements, r.error))
    assert sorted(by_k[1]) == [("1", None), ("2", None)]
    assert by_k[2] == [(None, "not an array")]


def test_bpe_pair_counts_tiny(spark):
    """aa bb: pairs are 'aa' x? — 'aab' yields 'aa','ab'; ties break
    lexicographically."""
    from arrow_udf_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame([("aab aab ba",)], "text: string")
    rows = bpe_pair_counts(df, top=3).collect()
    assert [(r["rank"], r["pair"], r["cnt"]) for r in rows] == [
        (1, "aa", 2),
        (2, "ab", 2),
        (3, "ba", 1),
    ]
