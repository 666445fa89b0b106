"""The reference's concrete function corpus, re-implemented on the framework.

Every function here mirrors a test/example function of the reference
(SURVEY.md §2.B); file:line citations point into /root/reference.  Batchable
numeric functions use vectorized numpy/pandas (``batch=True`` — the analogue
of the reference's SIMD path, arrow-udf-macros/src/codegen_utils.rs:517-540);
object-typed functions run row-at-a-time inside the Arrow batch (the
reference's default row loop, codegen_utils.rs:569-577).
"""

from __future__ import annotations

import json
import math
from datetime import date, datetime, time, timedelta
from decimal import Decimal, localcontext

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..operators.scalar import udf
from ..operators.table import udtf
from ..operators.aggregate import udaf

# ---------------------------------------------------------------------------
# scalar: numeric (vectorized batch mode)
# ---------------------------------------------------------------------------


def _i64(a: pa.Array) -> np.ndarray:
    return a.fill_null(0).to_numpy().astype("int64", copy=False)


def _both_valid(a: pa.Array, b: pa.Array) -> np.ndarray:
    return pc.and_(a.is_valid(), b.is_valid()).to_numpy(zero_copy_only=False)


def _gcd(a: pa.Array, b: pa.Array) -> pa.Array:
    g = np.gcd(_i64(a), _i64(b))
    if a.null_count or b.null_count:
        return pa.array(g, mask=~_both_valid(a, b))
    return pa.array(g)


@udf(input_types=["int", "int"], result_type="int", batch=True)
def gcd(a: pa.Array, b: pa.Array) -> pa.Array:
    """reference arrow-udf/tests/tests.rs:55-61, examples/rust.rs:23-29."""
    return _gcd(a, b)


@udf(input_types=["bigint", "bigint"], result_type="bigint", name="gcd", batch=True)
def gcd_i64(a: pa.Array, b: pa.Array) -> pa.Array:
    return _gcd(a, b)


@udf(input_types=["int", "int", "int"], result_type="int", name="gcd3", batch=True)
def gcd3(a: pa.Array, b: pa.Array, c: pa.Array) -> pa.Array:
    """reference arrow-udf-remote/python/example.py:42-45."""
    return _gcd(_gcd(a, b), c)


@udf(
    input_types=["bigint", "bigint"],
    result_type="bigint",
    name="gcd_async",
    io_threads=64,
)
async def gcd_async(a: int, b: int) -> int:
    """Async scalar UDF: batch rows run concurrently on one event loop
    (reference A12 async mode, javascript/mod.rs:954-974; python server
    io_threads, arrow-udf-remote test_udf.py:189-252).  Same math as gcd —
    the await point is where a real fn would do IO."""
    import asyncio

    if a is None or b is None:
        return None
    await asyncio.sleep(0)
    while b:
        a, b = b, a % b
    return a


@udf(input_types=["bigint", "bigint"], result_type="bigint", fallible=True, batch=True)
def div(a: pa.Array, b: pa.Array) -> pa.StructArray:
    """Integer division, row-level divide-by-zero capture — vectorized
    via the framework's batched-Result protocol (value/error StructArray):
    bad rows are masked, never raised, so the whole batch stays numpy.

    reference tests/tests.rs:99-102 (+ error-column shape :389-412).
    Truncated division (Rust semantics), not Python floor division.
    """
    av, bv = _i64(a), _i64(b)
    null = ~_both_valid(a, b)
    zero = ~null & (bv == 0)
    # INT64_MIN / -1 = 2^63 is unrepresentable in i64 (the reference's Rust
    # i64 division panics on it) -> error row, not a silent wraparound
    ovfl = ~null & ~zero & (av == -(2**63)) & (bv == -1)
    ok = ~(null | zero | ovfl)
    data = np.zeros(len(av), dtype="int64")
    if ok.any():
        ai, bi = av[ok], bv[ok]
        # truncated division from floor division: floor + 1 when the signs
        # differ and there is a remainder.  No abs() — np.abs(INT64_MIN)
        # silently overflows to INT64_MIN and corrupts the quotient.
        qf = ai // bi
        r = ai - qf * bi
        data[ok] = qf + ((r != 0) & ((ai < 0) != (bi < 0)))
    errors = np.full(len(av), None, dtype=object)
    errors[zero] = "division by zero"
    errors[ovfl] = "integer overflow"
    return pa.StructArray.from_arrays(
        [pa.array(data, mask=~ok), pa.array(errors, pa.string())],
        names=["value", "error"],
    )


@udf(input_types=["double"], result_type="double", batch=True)
def neg(x: pd.Series) -> pd.Series:
    """reference tests/tests.rs:43-52 (all numerics; double overload here)."""
    return -x


@udf(input_types=["bigint"], result_type="bigint", name="neg", batch=True)
def neg_i64(x: pd.Series) -> pd.Series:
    return -x


@udf(input_types=[], result_type="int", batch=True)
def zero() -> int:
    """reference tests/tests.rs:37-40."""
    return 0


@udf(input_types=["int", "int"], result_type="int", name="option_add", batch=True)
def option_add(a: pd.Series, b: pd.Series) -> pd.Series:
    """a + coalesce(b, 0), NULL if a is NULL — tests/tests.rs:94-97,490-514."""
    return a + b.fillna(0)


@udf(
    input_types=["int"] * 16,
    result_type="int",
    name="many_args",
    batch=True,
)
def many_args(*cols: pd.Series) -> pd.Series:
    """Sum of 16 int columns — reference tests/tests.rs:344-367."""
    out = cols[0].fillna(0)
    for c in cols[1:]:
        out = out + c.fillna(0)
    return out


# ---------------------------------------------------------------------------
# scalar: string / binary
# ---------------------------------------------------------------------------


@udf(input_types=["string"], result_type="int", batch=True)
def length(s: pd.Series) -> pd.Series:
    """Byte length (reference counts bytes) — tests/tests.rs:121-127."""
    return s.map(lambda x: None if x is None else len(x.encode("utf-8")))


@udf(input_types=["binary"], result_type="int", name="length", batch=True)
def length_bin(s: pd.Series) -> pd.Series:
    return s.map(lambda x: None if x is None else len(x))


@udf(input_types=["string", "int"], result_type="string", batch=True)
def substring(s: pd.Series, start: pd.Series) -> pd.Series:
    """Char-index suffix s[start:] — reference tests/tests.rs:129-140."""
    return pd.Series(
        [
            None if (a is None or _nan(i)) else a[max(int(i), 0):]
            for a, i in zip(s.tolist(), start.tolist())
        ],
        dtype="object",
    )


@udf(input_types=["string"], result_type="string[]", batch=True)
def split(s: pd.Series) -> pd.Series:
    """Split on ',' — reference tests/tests.rs:205-208,472-488."""
    return s.map(lambda x: None if x is None else x.split(","))


@udf(input_types=["bigint"], result_type="string", name="to_string", batch=True)
def to_string(x: pd.Series) -> pd.Series:
    """reference to_string1..4, tests/tests.rs:142-166."""
    return x.map(lambda v: None if _nan(v) else str(int(v)))


@udf(input_types=["int"], result_type="binary", name="bytes", batch=True)
def bytes_fn(x: pd.Series) -> pd.Series:
    """n zero bytes — reference bytes1..3, tests/tests.rs:168-184."""
    return x.map(lambda v: None if _nan(v) else b"\x00" * int(v))


@udf(input_types=["string"], result_type="struct<key:string,value:string>")
def key_value(s: str):
    """'k=v' -> struct, NULL if no '=' — reference tests/tests.rs:244-254."""
    if s is None:
        return None
    key, sep, value = s.partition("=")
    if not sep:
        return None
    return {"key": key, "value": value}


@udf(input_types=["string"], result_type="string", name="hex_to_dec")
def hex_to_dec(h: str):
    """reference arrow-udf-remote/python/example.py:78-91 (decimal ext out)."""
    if h is None:
        return None
    return str(int(h, 16))


# ---------------------------------------------------------------------------
# scalar: json (ext type arrowudf.json — carried as JSON text)
# ---------------------------------------------------------------------------


@udf(input_types=["json", "int"], result_type="json", name="json_array_access")
def json_array_access(j: str, i: int):
    """j[i] for JSON arrays — reference tests/python.rs:182, example.py:111."""
    if j is None or i is None:
        return None
    v = json.loads(j)
    if not isinstance(v, list) or not (0 <= i < len(v)):
        return None
    return json.dumps(v[i], separators=(",", ":"))


@udf(input_types=["json", "string"], result_type="json", name="jsonb_access")
def jsonb_access(j: str, key: str):
    """Object field access — reference arrow-udf-example/src/lib.rs:64-67."""
    if j is None or key is None:
        return None
    v = json.loads(j)
    if not isinstance(v, dict) or key not in v:
        return None
    return json.dumps(v[key], separators=(",", ":"))


@udf(input_types=["json", "json"], result_type="json", name="json_concat")
def json_concat(a: str, b: str):
    """Array concat — reference example.py:118-123."""
    if a is None or b is None:
        return None
    return json.dumps(json.loads(a) + json.loads(b), separators=(",", ":"))


@udf(input_types=["bigint"], result_type="json", name="to_json", batch=True)
def to_json_int(x: pd.Series) -> pd.Series:
    """reference tests/tests.rs:104-114 (int overload)."""
    return x.map(lambda v: None if _nan(v) else json.dumps(int(v)))


@udf(input_types=["string"], result_type="json", name="to_json")
def to_json_str(x: str):
    if x is None:
        return None
    return json.dumps(x)


# ---------------------------------------------------------------------------
# scalar: decimal (ext type arrowudf.decimal — exact, string-backed)
# ---------------------------------------------------------------------------


def _dec_str(d: Decimal) -> str:
    """Plain (non-scientific) text like PG unconstrained numeric."""
    return format(d, "f")


def _decimal_add_slow(a: pa.Array, b: pa.Array) -> list:
    """Arbitrary-precision reference path: one Decimal context per batch."""
    with localcontext() as ctx:
        ctx.prec = 1000  # arbitrary precision, like PG unconstrained numeric
        return [
            None if x is None or y is None else _dec_str(Decimal(x) + Decimal(y))
            for x, y in zip(a.to_pylist(), b.to_pylist())
        ]


def _decimal_scales(arr) -> tuple[int, int]:
    """(min, max) fractional-digit count over a pyarrow string array.

    Decimal addition keeps ``max(scale_a, scale_b)`` digits per ROW, so the
    columnar fast path is exact only when that per-row max is one constant —
    guaranteed by requiring each column's scale to be uniform.  Exponent
    notation ('1.5E+1') has no chars-after-dot scale, yet Arrow's decimal
    parser accepts it — refuse those batches so they take the exact
    Decimal loop instead of rendering at a bogus scale."""
    if pc.any(pc.match_substring(arr, "e", ignore_case=True)).as_py():
        raise ValueError("exponent notation: scale not derivable from text")
    dot = pc.find_substring(arr, ".")
    has = pc.not_equal(dot, -1)
    after = pc.subtract(pc.subtract(pc.utf8_length(arr), dot), 1)
    scales = pc.if_else(has, after, 0)
    mn, mx = pc.min(scales).as_py(), pc.max(scales).as_py()
    return int(mn or 0), int(mx or 0)


@udf(
    input_types=["decimal", "decimal"],
    result_type="decimal",
    name="decimal_add",
    batch=True,
)
def decimal_add(a: pa.Array, b: pa.Array) -> pa.Array:
    """Exact arbitrary-precision add — reference example/src/lib.rs:54-57,
    tests/tests.rs:573-592.

    Fast path: when both columns parse as decimal128 at their observed
    scale (<= 35 digits), the add runs entirely in Arrow compute kernels —
    exact fixed-point integer math, ~2.3x the Decimal loop.  Any parse
    failure / precision overflow falls back to the per-batch Decimal loop,
    which is the semantic reference (kept bit-identical by tests/
    test_properties.py).  (A numpy ``np.char`` cents path was measured
    3.5x SLOWER than the Decimal loop — numpy string kernels are
    object-level loops — and a pandas ``.str`` variant 2.8x slower.)"""
    try:
        amn, amx = _decimal_scales(a)
        bmn, bmx = _decimal_scales(b)
        if amn != amx or bmn != bmx or max(amx, bmx) > 18:
            raise ValueError("non-uniform or wide scale: arrow path inexact")
        s = max(amx, bmx)
        da = pc.cast(a, pa.decimal128(36, s))
        db = pc.cast(b, pa.decimal128(36, s))
        # Decimal-loop rendering has no trailing ".0*" beyond the operand
        # scale and never uses scientific notation; arrow's decimal->string
        # matches both properties at fixed scale s, including "0.00" signs.
        return pc.cast(pc.add(da, db), pa.string())
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, ValueError, OverflowError):
        return _decimal_add_slow(a, b)


@udf(input_types=["float64"], result_type="decimal", name="float_to_decimal")
def float_to_decimal(x: float):
    """reference example.py:94-97."""
    if x is None:
        return None
    return _dec_str(Decimal(str(x)))


# ---------------------------------------------------------------------------
# scalar: temporal
# ---------------------------------------------------------------------------


@udf(input_types=["date", "time"], result_type="timestamp", name="datetime_fn")
def datetime_fn(d: date, t_us: int):
    """date + time(micros) -> timestamp — reference tests/tests.rs:116-119.

    The reference's time64 arg is carried as micros-since-midnight (§1.2).
    """
    if d is None or t_us is None:
        return None
    return datetime.combine(d, time(0)) + timedelta(microseconds=int(t_us))


# ---------------------------------------------------------------------------
# scalar: arrays
# ---------------------------------------------------------------------------


@udf(input_types=["float32[]"], result_type="float32", name="array_sum", batch=True)
def array_sum(arr: pd.Series) -> pd.Series:
    """reference tests/tests.rs:195-203,516-544."""
    return arr.map(lambda a: None if a is None else float(np.sum(np.asarray(a, dtype="float32"))))


@udf(input_types=["bigint[]"], result_type="bigint", name="array_sum", batch=True)
def array_sum_i64(arr: pd.Series) -> pd.Series:
    return arr.map(lambda a: None if a is None else int(sum(x for x in a if x is not None)))


@udf(input_types=["int[]"], result_type="int[]", name="array_identity", batch=True)
def array_identity(arr: pd.Series) -> pd.Series:
    """reference *_array identity, tests/tests.rs:210-242."""
    return arr


@udf(input_types=["float64[]"], result_type="float64", name="array_sum", batch=True)
def array_sum_f64(arr: pd.Series) -> pd.Series:
    return arr.map(
        lambda a: None if a is None else float(sum(x for x in a if x is not None))
    )


@udf(input_types=["bigint[]", "int"], result_type="bigint", name="array_access")
def array_access_i64(arr, i):
    """1-based, NULL out-of-bounds — reference example.py:104-108."""
    if arr is None or i is None:
        return None
    if not (1 <= i <= len(arr)):
        return None
    return arr[int(i) - 1]


@udf(input_types=["int[]", "int"], result_type="int", name="array_access")
def array_access(arr, i):
    """1-based, NULL out-of-bounds — reference example.py:104-108."""
    if arr is None or i is None:
        return None
    if not (1 <= i <= len(arr)):
        return None
    return arr[int(i) - 1]


# ---------------------------------------------------------------------------
# scalar: remaining reference corpus
# ---------------------------------------------------------------------------


@udf(input_types=[], result_type="int", name="int_42", batch=True)
def int_42():
    """reference arrow-udf-remote/python/example.py:24-26."""
    return 42


@udf(input_types=["int"], result_type="int", name="fib")
def fib(n: int):
    """Recursive fibonacci — reference tests/python.rs:114-146."""
    if n is None:
        return None
    a, b = 0, 1
    for _ in range(int(n)):
        a, b = b, a + b
    return a


@udf(input_types=["int", "int"], result_type="int", name="max2", batch=True)
def max2(a: pd.Series, b: pd.Series) -> pd.Series:
    """Custom-handler max — reference tests/python.rs:71-112
    (add_function_with_handler)."""
    # a NULL on either side compares false, as NaN did under the float64 view
    return a.where((a >= b).fillna(False), b)


@udf(input_types=["string", "string"], result_type="string", name="concat2", batch=True)
def concat2(a: pd.Series, b: pd.Series) -> pd.Series:
    """reference tests/javascript.rs:121-158."""
    return a + b


@udf(input_types=["number*"], result_type="number*", name="identity", batch=True)
def identity_num(x: pd.Series) -> pd.Series:
    """Type round-trip over every numeric type (wildcard expansion) —
    reference identity x21, tests/tests.rs:68-92."""
    return x


@udf(input_types=["string"], result_type="string", name="identity", batch=True)
def identity_str(x: pd.Series) -> pd.Series:
    return x


@udf(input_types=["boolean"], result_type="boolean", name="identity", batch=True)
def identity_bool(x: pd.Series) -> pd.Series:
    return x


@udf(input_types=["binary"], result_type="binary", name="identity", batch=True)
def identity_bin(x: pd.Series) -> pd.Series:
    return x


@udf(input_types=["date32"], result_type="date32", name="identity", batch=True)
def identity_date(x: pd.Series) -> pd.Series:
    """Temporal round-trip through the Arrow boundary — the reference
    proves date/time/timestamp survive its remote runtime
    (arrow-udf-remote/python/arrow_udf/test_udf.py:254-330)."""
    return x


@udf(input_types=["timestamp"], result_type="timestamp", name="identity", batch=True)
def identity_ts(x: pd.Series) -> pd.Series:
    return x


@udf(input_types=["time64"], result_type="time64", name="identity", batch=True)
def identity_time(x: pd.Series) -> pd.Series:
    """time64 rides as int64 micros-since-midnight (SURVEY §1.2: Spark has
    no TimeType; the long carrier is the documented mapping)."""
    return x


@udf(
    input_types=["binary"],
    result_type="struct<src_addr:string,dst_addr:string,src_port:int,dst_port:int>",
    name="extract_tcp_info",
)
def extract_tcp_info(b: bytes):
    """Parse IPv4+TCP header fields from raw packet bytes —
    reference arrow-udf-remote/python/example.py:47-61."""
    if b is None or len(b) < 24:
        return None
    src = ".".join(str(x) for x in b[12:16])
    dst = ".".join(str(x) for x in b[16:20])
    src_port = (b[20] << 8) | b[21]
    dst_port = (b[22] << 8) | b[23]
    return {
        "src_addr": src,
        "dst_addr": dst,
        "src_port": src_port,
        "dst_port": dst_port,
    }


EMBED_DIM = 8


@udf(input_types=["string"], result_type="float32[]", name="text_embedding", batch=True)
def text_embedding(texts: pd.Series) -> pd.Series:
    """Batched deterministic text embedding — the reference's LLM-pipeline
    hook (arrow-udf-remote/python/example.py:233-247, batch=True).  The
    real model call is replaced by a reproducible hash projection; the
    batched Series-in/Series-out shape is the contract."""
    import hashlib

    def embed(s):
        if s is None:
            return None
        return [
            (int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:8], 16) % 1000)
            / 1000.0
            for i in range(EMBED_DIM)
        ]

    return texts.map(embed)


@udf(input_types=["map<string,int>", "string"], result_type="int", name="map_access")
def map_access(m, key):
    """Map argument access — reference tests/python.rs:387-488."""
    if m is None or key is None:
        return None
    return m.get(key)


@udf(input_types=["string[]", "int[]"], result_type="map<string,int>", name="make_map")
def make_map(keys, values):
    """Map return — reference tests/python.rs:387-488 (dict -> MapArray)."""
    if keys is None or values is None:
        return None
    return dict(zip(keys, values))


@udf(input_types=["struct<key:string,value:string>"], result_type="json", name="struct_to_json")
def struct_to_json(s):
    """reference tests/python.rs:571-621."""
    if s is None:
        return None
    d = s.asDict() if hasattr(s, "asDict") else dict(s)
    return json.dumps(d, separators=(",", ":"))


@udf(input_types=["double"], result_type="double", name="sleep_fn")
def sleep_fn(seconds: float):
    """Sleep probe (watchdog/timeout tests) — reference example.py:29-32."""
    import time as _time

    if seconds is not None:
        _time.sleep(min(float(seconds), 5.0))
    return seconds


@udf(
    input_types=["bigint"],
    result_type="bigint",
    name="sleepy_double",
    fallible=True,
    timeout=1.0,
    io_threads=64,
)
def sleepy_double(x: int):
    """Deterministic timeout probe (A21 timeout half, reference QuickJS
    interrupt deadline javascript/mod.rs:245-260): rows with x % 5 == 0
    sleep far past the 1 s per-call deadline and must come back as
    ``error = "timeout"`` rows; every other row doubles.  io_threads=64
    keeps the whole batch in ONE watchdog wave so the shared deadline is
    exactly one timeout."""
    import time as _time

    if x is None:
        return None
    if x % 5 == 0:
        _time.sleep(5.0)
    return x * 2


def _make_neg_probe():
    # the pinned error text renders the code object's co_qualname (CPython
    # 3.11+), so build a function whose code object is literally named
    # ``neg`` — a nested def would render as "_make_neg_probe.<locals>.neg"
    import types

    def _n(x):
        return -x

    code = _n.__code__.replace(co_name="neg", co_qualname="neg")
    return types.FunctionType(code, _n.__globals__, "neg")


#: Arity-mismatch probe (reference test_type_mismatch case 3,
#: arrow-udf-runtime/tests/python.rs:1080-1103): a 1-arg ``neg`` registered
#: and called with two columns — every row captures PyO3-style
#: "TypeError: neg() takes 1 positional argument but 2 were given".
neg_arity = udf(
    input_types=["bigint", "bigint"],
    result_type="bigint",
    fallible=True,
    error_style="pyerr",
    name="neg_arity",
)(_make_neg_probe())


@udf(
    input_types=["bigint"],
    result_type="bigint",
    fallible=True,
    error_style="pyerr",
    name="import_err_fn",
)
def import_err_fn(x):
    """Import-failure probe (reference test_import,
    arrow-udf-runtime/tests/python.rs:1010-1032 exercises in-body imports):
    a call-time import of a missing module becomes per-row error text
    "ModuleNotFoundError: No module named 'arrow_udf_missing_dependency'"."""
    import arrow_udf_missing_dependency  # noqa: F401  (deliberately absent)

    return x


# ---------------------------------------------------------------------------
# table functions
# ---------------------------------------------------------------------------


@udtf(input_types=["int"], result_type="int", name="series")
def series(n):
    """0..n-1 per input row — reference tests/tests.rs:329-332,614-661."""
    for i in range(int(n) if n is not None else 0):
        yield i


@series.vectorize
def _series_batch(n: pa.Array):
    return [range(v) if v is not None else () for v in n.to_pylist()]


@udtf(input_types=["string"], result_type="struct<key:string,value:string>", name="key_values")
def key_values(s):
    """'a=b,c=d' -> rows of KeyValue — reference tests/tests.rs:256-262."""
    if s is None:
        return
    for part in s.split(","):
        key, sep, value = part.partition("=")
        if sep:
            yield {"key": key, "value": value}


@udtf(input_types=["json"], result_type="json", name="json_array_elements", fallible=True)
def json_array_elements(j):
    """Unnest a JSON array; error 'not an array' on scalars —
    reference tests/tests.rs:334-342,663-683."""
    if j is None:
        return
    v = json.loads(j)
    if not isinstance(v, list):
        raise ValueError("not an array")
    for item in v:
        yield json.dumps(item, separators=(",", ":"))


@json_array_elements.vectorize
def _json_array_elements_batch(col: pa.Array):
    """Fallible vectorized fan-out: one tight loop per batch instead of the
    generic per-row tuple machinery (~2.5x on the events JSON bench)."""
    loads, dumps = json.loads, json.dumps
    outs: list = []
    errs: list = []
    for j in col.to_pylist():
        if j is None:
            outs.append(())
            errs.append(None)
            continue
        try:
            v = loads(j)
            if not isinstance(v, list):
                raise ValueError("not an array")
            outs.append([dumps(x, separators=(",", ":")) for x in v])
            errs.append(None)
        except Exception as e:
            outs.append(None)
            errs.append(str(e))
    return outs, errs


@udtf(input_types=["string"], result_type="struct<word:string,length:int>", name="split_words")
def split_words(s):
    """word + length per word — reference server example.py:72-75."""
    if s is None:
        return
    for w in s.split(" "):
        yield {"word": w, "length": len(w)}


# ---------------------------------------------------------------------------
# aggregates
# ---------------------------------------------------------------------------


@udaf(input_types=["bigint"], result_type="bigint", name="sum_udaf")
class SumAgg:
    """Sum with retract + merge — reference tests/python.rs:670-745."""

    def create_state(self):
        return 0

    def accumulate(self, s, x):
        return s + (0 if x is None else int(x))

    def accumulate_batch(self, s, xs: pa.Array):
        return s + int(pc.sum(xs).as_py() or 0)

    def retract(self, s, x):
        return s - (0 if x is None else int(x))

    def merge(self, a, b):
        return a + b


@udaf(input_types=["double", "double"], result_type="double", name="weighted_avg")
class WeightedAvg:
    """SUM(v*w)/SUM(w) with struct state — reference tests/python.rs:747-848."""

    def create_state(self):
        return {"sum": 0.0, "weight": 0.0}

    def accumulate(self, s, v, w):
        if v is None or w is None:
            return s
        return {"sum": s["sum"] + v * w, "weight": s["weight"] + w}

    def accumulate_batch(self, s, vs: pa.Array, ws: pa.Array):
        # rows where both hold a number: NULL masks drop, NaN is false
        m = pc.invert(pc.or_(pc.is_nan(vs), pc.is_nan(ws)))
        vs, ws = vs.filter(m), ws.filter(m)
        return {
            "sum": s["sum"] + float(pc.sum(pc.multiply(vs, ws)).as_py() or 0.0),
            "weight": s["weight"] + float(pc.sum(ws).as_py() or 0.0),
        }

    def retract(self, s, v, w):
        if v is None or w is None:
            return s
        return {"sum": s["sum"] - v * w, "weight": s["weight"] - w}

    def merge(self, a, b):
        return {"sum": a["sum"] + b["sum"], "weight": a["weight"] + b["weight"]}

    def finish(self, s):
        return None if s["weight"] == 0 else s["sum"] / s["weight"]


@udaf(input_types=["bigint"], result_type="bigint", name="count_udaf")
class CountAgg:
    def create_state(self):
        return 0

    def accumulate(self, s, x):
        return s + (0 if x is None else 1)

    def accumulate_batch(self, s, xs: pa.Array):
        return s + len(xs) - xs.null_count

    def retract(self, s, x):
        return s - (0 if x is None else 1)

    def merge(self, a, b):
        return a + b


def _nan(v) -> bool:
    """Missing in a Series view: None, NaN, or ``pd.NA`` (a masked Int64
    column's NULL)."""
    try:
        return v is None or v is pd.NA or v != v
    except Exception:
        return False


@udf(
    input_types=[
        "int8", "int16", "int32", "int64", "float32", "float64", "boolean",
        "string", "binary", "date", "timestamp", "decimal", "json",
        "int32[]", "map<string,int32>", "struct<key:string,value:string>",
    ],
    result_type=(
        "struct<i8:int8,i16:int16,i32:int32,i64:int64,f32:float32,"
        "f64:float64,b:boolean,s:string,bin:binary,d:date,ts:timestamp,"
        "dec:decimal,js:json,arr:int32[],mp:map<string,int32>,"
        "kv:struct<key:string,value:string>>"
    ),
    name="return_all",
)
def return_all(i8, i16, i32, i64, f32, f64, b, s, bin_, d, ts, dec, js, arr, mp, kv):
    """Echo every base type through the UDF boundary as one struct —
    reference return_all, arrow-udf-remote/python/example.py:137-230."""
    return {
        "i8": i8, "i16": i16, "i32": i32, "i64": i64, "f32": f32,
        "f64": f64, "b": b, "s": s, "bin": bin_, "d": d, "ts": ts,
        "dec": dec, "js": js, "arr": arr, "mp": mp, "kv": kv,
    }


@udf(input_types=["timestamp", "interval"], result_type="timestamp", name="interval_add")
def interval_add(ts, iv):
    """timestamp + MonthDayNano interval (reference interval type,
    arrow-udf/src/types.rs:31-36; Spark lacks a MonthDayNano scalar so the
    engine carries it as struct<months,days,nanos> — SURVEY §1.2).
    Month arithmetic clamps to month end (Postgres/DuckDB semantics)."""
    import calendar

    if ts is None or iv is None:
        return None
    months = (iv.get("months") or 0) if isinstance(iv, dict) else (iv["months"] or 0)
    days = (iv.get("days") or 0) if isinstance(iv, dict) else (iv["days"] or 0)
    nanos = (iv.get("nanos") or 0) if isinstance(iv, dict) else (iv["nanos"] or 0)
    y, m = ts.year, ts.month - 1 + months
    y, m = y + m // 12, m % 12 + 1
    d = min(ts.day, calendar.monthrange(y, m)[1])
    out = ts.replace(year=y, month=m, day=d)
    return out + timedelta(days=days, microseconds=nanos // 1000)
