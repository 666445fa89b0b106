"""The two-phase phase-1 fold core (``build_multi_fold``) against a plain
dict-of-``accumulate`` reference, without a JVM.

Batches are random: groups span batch and chunk boundaries (the chunk
caps are shrunk so a few dozen rows make several chunks), batches and
whole partitions may be empty, arguments may be all NULL, and int64
keys and arguments above 2^53 mix with NULLs.  Each case runs with every
group on the per-row ``accumulate`` path and again with every group on
the ``accumulate_batch`` path; both must give the reference's states.
"""

import math
import pickle
from collections import Counter
from unittest import mock

import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from arrow_udf_spark.functions import corpus as C
from arrow_udf_spark.operators import aggregate as A
from arrow_udf_spark.plans.registry import Registry

_NAN = ("nan",)
_BIG = 1 << 60


def _is_null(v) -> bool:
    """Missing in a Series view: None, NaN, or ``pd.NA`` (a masked Int64
    column's NULL; ``pd.NA != pd.NA`` is NA, whose truthiness raises)."""
    try:
        return v is None or v is pd.NA or v != v
    except Exception:
        return False


@A.udaf(input_types=["bigint"], result_type="bigint", name="seen",
        registry=Registry())
class Seen:
    """Multiset of the exact values accumulated (None for NULL): any
    lossy conversion or misrouted row changes the state."""

    def create_state(self):
        return Counter()

    def accumulate(self, s, x):
        s[x] += 1
        return s

    def accumulate_batch(self, s, xs):
        for x in xs.tolist():
            s[None if _is_null(x) else x] += 1
        return s

    def retract(self, s, x):
        s[x] -= 1
        return s

    def merge(self, a, b):
        return a + b


def _ref_key(v):
    """Spark's GROUP BY equality: NaN == NaN, -0.0 == 0.0, NULL apart."""
    return _NAN if isinstance(v, float) and math.isnan(v) else v


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


def _ref_partial(kind, vals):
    if kind == "count_star":
        return len(vals)
    vals = [v for v in vals if v is not None]
    if kind == "count":
        return len(vals)
    if not vals:
        return None
    if kind == "sum_int":
        return (sum(vals) + (1 << 63)) % (1 << 64) - (1 << 63)
    nans = [v for v in vals if isinstance(v, float) and math.isnan(v)]
    rest = [v for v in vals if v not in nans]
    if kind == "max":  # Spark: NaN is greater than every value
        return float("nan") if nans else max(rest)
    return min(rest) if rest else float("nan")


def _fold(batches, udafs, by_n, arg_ns, bp_kinds=(), retract=False):
    fold = A.build_multi_fold(udafs, by_n, arg_ns, bp_kinds, retract)
    return list(fold(iter(batches)))


def _check(batches, udafs, arg_ns, bp_kinds=(), retract=False, by_n=1):
    """Fold with every group on each path; compare with the reference."""
    rows = [r for b in batches for r in zip(*[c.to_pylist() for c in b.columns])]
    ref: dict = {}
    for r in rows:
        ref.setdefault(tuple(_ref_key(v) for v in r[:by_n]), []).append(r)
    for row_max in (0, 1 << 30):
        with mock.patch.object(A, "_ROW_FOLD_MAX", row_max), \
                mock.patch.object(A, "_CHUNK_ROWS", 16):
            out = _fold(batches, udafs, by_n, arg_ns, bp_kinds, retract)
        assert len(out) == 1 and out[0].num_columns == (
            by_n + len(udafs) + len(bp_kinds)
        )
        got = out[0].to_pylist()
        assert len(got) == len(ref)
        for g in got:
            vals = list(g.values())
            grp = ref[tuple(_ref_key(v) for v in vals[:by_n])]
            off = by_n
            for u, f in enumerate(udafs):
                want = f.create_state()
                for r in grp:
                    args = [None if v is None or v != v else v
                            for v in r[off:off + arg_ns[u]]]
                    op = retract and r[-1]
                    want = (f.retract if op else f.accumulate)(want, *args)
                off += arg_ns[u]
                assert pickle.loads(vals[by_n + u]) == want
            for j, (kind, ci) in enumerate(bp_kinds):
                col = [None] * len(grp) if ci is None else [r[ci] for r in grp]
                assert _same(vals[by_n + len(udafs) + j], _ref_partial(kind, col))


@st.composite
def partitions(draw, key_type, key_values):
    """A partition as a list of batches (some empty) of (key, arg, arg)
    rows: one argument column per aggregate."""
    n_batches = draw(st.integers(1, 6))
    args = st.one_of(st.none(), st.integers(-_BIG, _BIG), st.integers(-3, 3))
    batches = []
    for _ in range(n_batches):
        n = draw(st.integers(0, 30))
        ks = draw(st.lists(key_values, min_size=n, max_size=n))
        xs = draw(st.lists(args, min_size=n, max_size=n))
        x = pa.array(xs, pa.int64())
        batches.append(pa.RecordBatch.from_arrays(
            [pa.array(ks, key_type), x, x], ["k", "x", "y"]))
    return batches


@settings(max_examples=60, deadline=None)
@given(partitions(pa.int64(), st.one_of(
    st.none(), st.integers(0, 4), st.sampled_from([_BIG, _BIG + 1]))))
def test_int64_keys_and_args_above_2_53_with_nulls(batches):
    _check(batches, [C.SumAgg, Seen], [1, 1])


@settings(max_examples=40, deadline=None)
@given(partitions(pa.float64(), st.sampled_from(
    [None, float("nan"), 0.0, -0.0, 1.5])))
def test_float_keys_group_like_spark(batches):
    """NULL and NaN stay apart, -0.0 joins 0.0."""
    _check(batches, [C.SumAgg, Seen], [1, 1])


def test_null_nan_zero_keys_replayed_case():
    nan = float("nan")
    b = pa.RecordBatch.from_arrays(
        [pa.array([None, nan, None, nan, 0.0, -0.0]),
         pa.array([1, 2, 4, 8, 16, 32], pa.int64())], ["k", "x"])
    got = {
        _ref_key(r["k"]): pickle.loads(r["__st0"])
        for r in _fold([b], [C.SumAgg], 1, [1])[0].to_pylist()
    }
    assert got == {None: 5, _NAN: 10, 0.0: 48}


def test_all_null_arguments():
    nulls = pa.array([None, None, None], pa.int64())
    b = pa.RecordBatch.from_arrays(
        [pa.array(["a", "a", "b"]), nulls, nulls, nulls], ["k", "x", "y", "z"])
    _check([b, b], [C.SumAgg, Seen], [1, 1],
           [("count_star", None), ("count", 3), ("sum_int", 3), ("min", 3)])


def test_empty_batches_and_partitions():
    schema = pa.schema([("k", pa.int64()), ("x", pa.int64())])
    assert _fold([], [C.SumAgg], 1, [1]) == []
    empty = pa.RecordBatch.from_pylist([], schema=schema)
    (out,) = _fold([empty, empty], [C.SumAgg], 1, [1],
                   [("count_star", None), ("max", 1)])
    assert out.num_rows == 0
    assert out.schema.names == ["k", "__st0", "__bp0", "__bp1"]
    assert out.schema.field("__bp1").type == pa.int64()


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_builtin_partials(data):
    """count_star / count / sum_int / min / max, float MIN/MAX with NaN
    greater than every value as in Spark."""
    batches = []
    for _ in range(data.draw(st.integers(1, 4))):
        n = data.draw(st.integers(0, 25))
        rows = st.lists
        batches.append(pa.RecordBatch.from_arrays([
            pa.array(data.draw(rows(st.one_of(st.none(), st.sampled_from("abc")),
                                    min_size=n, max_size=n)), pa.string()),
            pa.array(data.draw(rows(st.one_of(st.none(), st.integers(-3, 3)),
                                    min_size=n, max_size=n)), pa.int64()),
            pa.array(data.draw(rows(st.one_of(
                st.none(), st.integers(-(1 << 63), (1 << 63) - 1)),
                min_size=n, max_size=n)), pa.int64()),
            pa.array(data.draw(rows(st.one_of(
                st.none(), st.sampled_from([float("nan"), 1.0, 3.0, -2.5])),
                min_size=n, max_size=n)), pa.float64()),
            pa.array(data.draw(rows(st.one_of(st.none(), st.sampled_from("xyz")),
                                    min_size=n, max_size=n)), pa.string()),
        ], ["k", "x", "big", "f", "s"]))
    _check(batches, [C.SumAgg], [1], [
        ("count_star", None), ("count", 3), ("sum_int", 2), ("min", 3),
        ("max", 3), ("min", 4), ("max", 4), ("max", 2),
    ])


def test_retract_ops_column():
    x = pa.array([1, 5, 1, None], pa.int64())
    b = pa.RecordBatch.from_arrays(
        [pa.array(["a", "a", "a", "b"]), x, x,
         pa.array([False, False, True, None])], ["k", "x", "y", "ops"])
    _check([b, b], [C.SumAgg, Seen], [1, 1], retract=True)


def test_global_fold_without_keys():
    x = pa.array([1, None, _BIG], pa.int64())
    b = pa.RecordBatch.from_arrays([x, x], ["x", "y"])
    _check([b, b, b], [C.SumAgg, Seen], [1, 1], [("count_star", None)],
           by_n=0)
