"""Aggregate functions with the reference's 5-phase protocol.

Reference protocol (SURVEY.md §2.A A6-A10; python runtime
arrow-udf-runtime/src/python/mod.rs:456-656):

    create_state() -> state
    accumulate(state, *args) -> state
    retract(state, *args) -> state          (optional; enables retraction)
    merge(state, other) -> state            (enables distributed agg)
    finish(state) -> output                 (optional; default: state)

Spark realization — a genuinely distributed two-phase plan:

  phase 1 (map side):  ``mapInArrow`` over input partitions
      (:func:`build_multi_fold`); each partition locally groups by key and
      folds its rows into one partial state per key.  Partial states are
      pickled to a binary column, so only ``O(groups)`` bytes shuffle —
      the same reason Spark's own hash aggregate does map-side combine.
      At 100 TB this is the difference between shuffling the table and
      shuffling a few KB per key.
  phase 2 (reduce side): a native ``collect_list`` of the states per key,
      then one scalar ``arrow_udf`` call per batch of groups that merges
      them with ``merge`` and applies ``finish``
      (:meth:`AggregateFunction.as_spark_mergevec`).

Every aggregate surface shares that one fold (:func:`_fold_spans`, the
only caller of ``accumulate`` / ``accumulate_batch``) and that one merge.
The DataFrame :meth:`AggregateFunction.agg` and ``Registry.sql`` fold in
``mapInArrow``; the SQL names ``f`` and ``f__partial`` fold a whole group
in one grouped aggregate ``arrow_udf``
(:meth:`AggregateFunction.as_spark_grouped_agg`); the streaming operators
fold each key's micro-batch; ``f__mergevec`` is the phase-2 UDF above.
Columns reach the bodies through the scalar functions' two views.

This exercises the reference's ``merge`` exactly the way its distributed
hosts do (partial + final agg).  Pickle-typed opaque state
(reference arrowudf.pickle, python/pyarrow.rs:296-313) is the native state
carrier here.

Retraction (A8): exposed as ``accumulate_or_retract(df, by, args, ops_col)``
— the reference host protocol's mixed-ops bitmap
(python/mod.rs:537-582): rows with ops=True are retracted instead of
accumulated.  The same callback is reused by the streaming layer for
sliding-window retraction.
"""

from __future__ import annotations

import functools
import itertools
import pickle
from dataclasses import dataclass
from typing import Any, Callable, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ..plans.registry import GLOBAL, Registry, Signature
from ..plans.types import ExtField, parse_type
from .scalar import batch_values, py_values, takes_arrow, to_arrow

__all__ = ["AggregateFunction", "udaf", "build_multi_fold"]


#: phase-1 chunk caps: incoming Arrow batches (Spark sends 10k rows each)
#: merge into chunks of at most this many rows or bytes before grouping,
#: so each key is visited once per chunk rather than once per batch.  The
#: byte cap bounds a task's fold memory to one chunk plus its sorted copy
#: and pandas views (a few times 64 MiB).
_CHUNK_ROWS = 1 << 18
_CHUNK_BYTES = 64 << 20
#: groups of at most this many rows fold through per-row ``accumulate``,
#: larger ones through one ``accumulate_batch`` call.  Measured call costs
#: (Xeon, 4 cores, pandas 2.2): a pandas slice plus ``accumulate_batch``
#: costs ~65-70 us for sum_udaf and ~600 us for weighted_avg, against
#: ~0.45 and ~0.77 us per row through ``accumulate``: break-even at ~150
#: and ~800 rows.  Taking the lower keeps every group within a few
#: hundred microseconds of its faster path.  (These are pandas-view
#: costs; an Arrow-annotated ``accumulate_batch`` is cheaper per call,
#: ~5 us for a ``pc.sum`` over a 500-row slice.)
_ROW_FOLD_MAX = 128
#: Arrow hash aggregate per built-in partial kind: over a chunk's rows
#: (COUNT(*) counts the never-NULL group id column), then over the chunk
#: partials of one group
_BP_CHUNK_FN = {"count_star": "count", "sum_int": "sum"}
_BP_MERGE_FN = {"count_star": "sum", "count": "sum", "sum_int": "sum"}
#: stands in for NaN in Python group keys (NaN != NaN defeats dict lookup)
_NAN_KEY = object()


def build_multi_fold(
    udafs: Sequence["AggregateFunction"],
    by_n: int,
    arg_ns: Sequence[int],
    bp_kinds: Sequence[tuple] = (),
    retract: bool = False,
):
    """The map-side phase-1 fold of both two-phase fronts: the
    ``Registry.sql`` mapfold view and :meth:`AggregateFunction.agg`.

    Returns a ``mapInArrow`` function over a projection laid out as
    ``[group keys (by_n)] + [udaf-0 args] + ... + [one col per non-star
    built-in partial]``, plus one boolean ops column when ``retract``
    (rows where it is true are retracted).  It emits ONE row per (group,
    input partition): ``[keys] + [pickled state per udaf, __st{u}] +
    [built-in partial per bp, __bp{j}]``.  The fold runs before any
    exchange, so only O(groups x partitions) state rows shuffle.

    Batches merge into chunks (``_CHUNK_ROWS`` / ``_CHUNK_BYTES``) and
    each chunk is grouped once, vectorized: the key columns are
    dictionary-encoded and a stable sort of the combined codes lays each
    group out as one contiguous slice.  The slices' Python keys then map
    to partition-wide groups with the equality of Spark's GROUP BY: NULL
    is its own group, all NaNs form one group, and -0.0 joins 0.0.  Per
    (group, chunk) the state then takes one ``accumulate_batch`` call on a
    column slice, or per-row ``accumulate`` over Python values when the
    group has at most ``_ROW_FOLD_MAX`` rows (the UDAF contract makes the
    two equivalent).

    ``bp_kinds`` entries are ``(kind, col_idx_or_None)`` with kind one of
    ``count_star | count | sum_int | min | max``.  Built-in partials are
    restricted by the caller to shapes that are EXACT under this fold:
    COUNT is a row count; SUM over integral types wraps in int64 exactly
    like Spark's long partial sum (merge order is irrelevant modulo
    2^64); MIN/MAX are order-free, with float NaN greater than every
    value as in Spark.  Order-sensitive partials (float/decimal SUM, AVG)
    never reach this path.
    """
    # the closure captures the user callables only: an AggregateFunction
    # may hold an unpicklable cached Spark UDF wrapper
    fns = [f._folder() for f in udafs]
    arg_offs = list(itertools.accumulate(arg_ns, initial=0))
    bp_chunk = [_BP_CHUNK_FN.get(k, k) for k, _ci in bp_kinds]
    bp_merge = [_BP_MERGE_FN.get(k, k) for k, _ci in bp_kinds]

    def fold(batches):
        index: dict[tuple, int] = {}  # python group key -> group id
        states: list[list] = []  # group id -> one state per udaf
        key_parts: list[list] = []  # Arrow keys of each chunk's new groups
        bp_parts: list[tuple] = []  # (group ids, partials) per chunk

        def fold_chunk(cols):
            n = len(cols[0])
            if by_n:
                keys = cols[:by_n]
                codes = _group_codes(keys)
                order = np.argsort(codes, kind="stable")
                codes = codes[order]
                starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
                reps = [k.take(order[starts]) for k in keys]
                pykeys = zip(*map(_key_values, reps))
                order = pa.array(order)
                cols = [c.take(order) for c in cols[by_n:]]
            else:
                starts, pykeys = [0], [()]
            bounds = list(starts) + [n]
            gids, new = [], []
            for i, k in enumerate(pykeys):
                g = index.get(k)
                if g is None:
                    g = index[k] = len(states)
                    states.append([create() for create, *_ in fns])
                    new.append(i)
                gids.append(g)
            if new and by_n:
                new = pa.array(new, pa.int64())
                key_parts.append([r.take(new) for r in reps])
            spans = list(zip(gids, bounds, bounds[1:]))
            ops = cols[arg_offs[-1]].to_pylist() if retract else None
            for u, fn in enumerate(fns):
                args = cols[arg_offs[u] : arg_offs[u + 1]]
                _fold_spans(fn, u, args, ops, spans, states)
            if bp_kinds:
                row_gids = pa.array(np.repeat(gids, np.diff(bounds)), pa.int64())
                bp_parts.append(
                    _reduce_partials(
                        row_gids,
                        [
                            row_gids if ci is None else cols[ci - by_n]
                            for _k, ci in bp_kinds
                        ],
                        bp_chunk,
                    )
                )

        schema = None
        buf: list = []
        rows = size = 0
        for rb in batches:
            schema = rb.schema
            if rb.num_rows:
                buf.append(rb)
                rows += rb.num_rows
                size += rb.nbytes
            if rows >= _CHUNK_ROWS or size >= _CHUNK_BYTES:
                fold_chunk(_merged_columns(buf))
                buf, rows, size = [], 0, 0
        if schema is None:  # empty partition, schema unknown
            return
        if buf:
            fold_chunk(_merged_columns(buf))
        fields = [
            pa.field(schema.field(i).name, schema.field(i).type)
            for i in range(by_n)
        ]
        out = [
            pa.concat_arrays([p[i] for p in key_parts])
            if key_parts
            else pa.array([], f.type)
            for i, f in enumerate(fields)
        ]
        for u in range(len(fns)):
            fields.append(pa.field(f"__st{u}", pa.binary()))
            out.append(pa.array([pickle.dumps(st[u]) for st in states], pa.binary()))
        merged = [None] * len(bp_kinds)
        if bp_parts:
            merged = _reduce_partials(
                pa.concat_arrays([g for g, _p in bp_parts]),
                [pa.concat_arrays([p[j] for _g, p in bp_parts]) for j in range(len(bp_kinds))],
                bp_merge,
            )[1]
        for j, (kind, ci) in enumerate(bp_kinds):
            t = schema.field(ci).type if kind in ("min", "max") else pa.int64()
            fields.append(pa.field(f"__bp{j}", t))
            out.append(pa.array([], t) if merged[j] is None else merged[j].cast(t))
        yield pa.RecordBatch.from_arrays(out, schema=pa.schema(fields))

    return fold


def _merged_columns(batches) -> list:
    """Record batches -> one contiguous Arrow array per column."""
    t = pa.Table.from_batches(batches).combine_chunks()
    return [c.chunk(0) for c in t.columns]


def _group_codes(keys) -> np.ndarray:
    """One int64 code per row, equal where every key column is equal
    (NULL equal to NULL, as in GROUP BY).  Atomic columns are Arrow
    dictionary-encoded; struct and array columns are coded from their
    Python key values, which Arrow cannot encode."""
    code, card = np.zeros(len(keys[0]), np.int64), 1
    for k in keys:
        if pa.types.is_nested(k.type):
            ids: dict = {}
            idx = np.fromiter(
                (ids.setdefault(v, len(ids)) for v in _key_values(k)),
                np.int64,
                len(k),
            )
            n = len(ids)
        else:
            enc = pc.dictionary_encode(k, null_encoding="encode")
            n, idx = len(enc.dictionary), enc.indices.to_numpy()
        if card * n >= 1 << 62:  # re-densify before the product overflows
            code = np.unique(code, return_inverse=True)[1]
            card = int(code.max()) + 1
        code = code * n + idx
        card *= n
    return code


def _key_values(col) -> list:
    """Hashable Python values of a key column, equal and hashed alike
    where Spark's GROUP BY equates them, inside struct and array values
    too: NaN equals NaN, and -0.0 == 0.0 already holds in Python."""
    vals = col.to_pylist()
    if pa.types.is_floating(col.type) or pa.types.is_nested(col.type):
        return [_norm_key(v) for v in vals]
    return vals


def _norm_key(v):
    if isinstance(v, float):
        return _NAN_KEY if v != v else v
    if isinstance(v, dict):  # struct: field order is fixed by the type
        return tuple(map(_norm_key, v.values()))
    if isinstance(v, list):
        return tuple(map(_norm_key, v))
    return v


def _fold_spans(fn, u, args, ops, spans, states) -> None:
    """Fold one chunk's group-sorted argument columns into state ``u`` of
    each ``(group id, start, end)`` span: one ``accumulate_batch`` call
    for a group above ``_ROW_FOLD_MAX`` rows, per-row ``accumulate`` (or
    ``retract`` where ``ops`` is true) otherwise.  ``fn`` is
    :meth:`AggregateFunction._folder`."""
    _create, acc, acc_b, ret, arrow = fn
    if ops is not None:
        acc_b = None  # mixed accumulate/retract folds row by row
    cols = rows = None
    if acc_b is not None and any(a1 - a0 > _ROW_FOLD_MAX for _g, a0, a1 in spans):
        # positional slicers: a pa.Array slices itself, a Series via .iloc
        cols = [a if arrow else batch_values(a, False).iloc for a in args]
    if acc_b is None or any(a1 - a0 <= _ROW_FOLD_MAX for _g, a0, a1 in spans):
        rows = [py_values(a) for a in args]
    # functools.reduce loops in C: twice as fast as a Python loop here
    step = acc if len(args) == 1 else (lambda s, row: acc(s, *row))
    for g, a0, a1 in spans:
        st = states[g]
        if acc_b is not None and a1 - a0 > _ROW_FOLD_MAX:
            st[u] = acc_b(st[u], *[c[a0:a1] for c in cols])
        elif ops is not None:
            s = st[u]
            for row, op in zip(zip(*[r[a0:a1] for r in rows]), ops[a0:a1]):
                s = ret(s, *row) if op else acc(s, *row)
            st[u] = s
        elif len(args) == 1:
            st[u] = functools.reduce(step, rows[0][a0:a1], st[u])
        else:
            st[u] = functools.reduce(step, zip(*[r[a0:a1] for r in rows]), st[u])


def _fold_all(fn, state, cols: Sequence[pa.Array], n: int):
    """Fold all ``n`` rows of ``cols`` into ``state`` as one span (a SQL
    group, a streaming micro-batch of one key); returns the new state."""
    states = [[state]]
    _fold_spans(fn, 0, cols, None, [(0, 0, n)], states)
    return states[0][0]


def _reduce_partials(gid, cols, fns) -> tuple:
    """Reduce built-in partial columns per group id with Arrow's hash
    aggregates, one of ``count | sum | min | max`` per column.  Returns
    the distinct ids ascending and one array per column in that order.
    Float MIN/MAX follow Spark's ordering, where NaN is greater than every
    value (Arrow's skip NaN)."""
    data, aggs, nan_cols = {"__g": gid}, [], set()
    for j, (c, f) in enumerate(zip(cols, fns)):
        if f in ("min", "max") and pa.types.is_floating(c.type):
            nan = pc.is_nan(c)
            data[f"n{j}"] = nan
            aggs.append((f"n{j}", "any"))
            nan_cols.add(j)
            c = pc.if_else(nan, pa.scalar(None, c.type), c)
        data[f"c{j}"] = c
        aggs.append((f"c{j}", f))
    t = pa.table(data).group_by("__g", use_threads=False).aggregate(aggs)
    t = t.sort_by("__g")
    out = []
    for j, f in enumerate(fns):
        v = t[f"c{j}_{f}"]
        if j in nan_cols:
            has_nan = t[f"n{j}_any"]
            if f == "min":  # NaN only when the group has nothing else
                has_nan = pc.and_(has_nan, pc.is_null(v))
            v = pc.if_else(has_nan, pa.scalar(float("nan"), v.type), v)
        out.append(v.combine_chunks())
    return t["__g"].combine_chunks(), out


@dataclass
class AggregateFunction:
    sig: Signature
    input_fields: tuple[ExtField, ...]
    result_field: ExtField
    create_state: Callable[[], Any]
    accumulate: Callable[..., Any]
    merge: Callable[[Any, Any], Any]
    retract: Optional[Callable[..., Any]] = None
    finish: Optional[Callable[[Any], Any]] = None
    #: optional vectorized fold: (state, *columns) -> state.  When
    #: present, the fold hands a group of more than ``_ROW_FOLD_MAX`` rows
    #: to it as column slices instead of Python rows (~50x on numeric
    #: aggregates): ``pa.Array`` slices when every column parameter is
    #: annotated ``pa.Array`` (the scalar ``takes_arrow`` rule), exact
    #: pandas Series slices otherwise.
    accumulate_batch: Optional[Callable[..., Any]] = None

    def _folder(self) -> tuple:
        """``(create_state, accumulate, accumulate_batch, retract, arrow)``
        for :func:`_fold_spans`: plain callables, since a fold closure must
        not capture the instance (it may hold a Spark UDF wrapper)."""
        acc_b = self.accumulate_batch
        arrow = acc_b is not None and takes_arrow(acc_b, skip=1)
        return self.create_state, self.accumulate, acc_b, self.retract, arrow

    # ------------------------------------------------------------------
    def as_spark_grouped_agg(self, partial: bool = False):
        """SQL surface: the group's rows fold in one grouped aggregate
        ``arrow_udf`` (``SQL_GROUPED_AGG_ARROW_UDF``).  It runs
        :func:`_fold_spans` over one span of the whole group, so NULL,
        NaN and wide-int handling is the DataFrame fold's, and returns a
        typed ``pa.Scalar``: ``finish(state)`` for ``f`` or, with
        ``partial``, the pickled state for ``f__partial``, which
        ``f__mergevec(collect_list(...))`` merges (the salted two-level
        GROUP BY of ``sum_udaf_two_phase_sql``).

        SCALE WARNING (once per aggregate, at wrap time, for ``f``): Spark
        gives a grouped aggregate UDF no map-side combine, so every row of
        a group moves to one worker.  ``Registry.sql`` and the DataFrame
        :meth:`agg` fold map-side and shuffle only O(groups) pickled
        states.  The bare wrapper is memoized per instance so the warning
        fires once per aggregate, not once per ``register_sql`` call.
        """
        if not partial:
            cached = getattr(self, "_grouped_agg_cache", None)
            if cached is not None:
                return cached
            import warnings

            warnings.warn(
                f"aggregate '{self.sig.name}' registered for SQL as a grouped "
                "aggregate UDF: a raw spark.sql() call evaluates this without "
                "partial aggregation (every row of a group moves to one "
                "worker). Run SQL through Registry.sql(spark, query) — it "
                "rewrites bare aggregate calls to the two-phase map-side fold "
                "+ merge plan — or use the DataFrame "
                "AggregateFunction.agg(df, by=..., args=...) path.",
                RuntimeWarning,
                stacklevel=2,
            )
        fn, create = self._folder(), self.create_state
        if partial:
            dtype, out = T.BinaryType(), pickle.dumps
        else:
            dtype, out = self.result_field.dtype, self.finish or (lambda st: st)
        atype = to_arrow_type(dtype)

        def agg_fn(*cols: pa.Array) -> pa.Scalar:
            state = _fold_all(fn, create(), cols, len(cols[0]) if cols else 0)
            res = to_arrow([out(state)], atype, 1)[0]
            # pyarrow cannot rebuild an array from a NULL nested scalar;
            # a bare None arrives as a null-typed array Spark casts
            return res if res.is_valid else None

        agg_fn.__name__ = self.sig.name + ("__partial" if partial else "")
        udf = arrow_udf(agg_fn, returnType=dtype)
        if not partial:
            self._grouped_agg_cache = udf
        return udf

    # ------------------------------------------------------------------
    def as_spark_mergevec(self):
        """Phase 2 of every two-phase surface: a scalar ``arrow_udf`` over
        ``collect_list(<pickled state>)`` that merges and finishes a whole
        Arrow batch of groups per Python call.  Merge order over the
        collected states is arbitrary; the UDAF contract makes merge
        commutative and associative, so the result is unchanged.

        NOT memoized on the instance: a used UDF wrapper holds a JVM
        handle, and streaming closures (streaming_running_agg) pickle the
        AggregateFunction — a cached wrapper attribute makes the instance
        unpicklable."""
        merge, finish = self.merge, self.finish
        atype = to_arrow_type(self.result_field.dtype)

        def mergevec_fn(blob_lists: pa.Array) -> pa.Array:
            # one flat list of states sliced by the list offsets: building
            # the Python bytes through to_numpy is ~30x faster than
            # to_pylist, which dominated the merge of 20k groups
            blobs = blob_lists.values.to_numpy(zero_copy_only=False).tolist()
            offs = blob_lists.offsets.to_numpy().tolist()
            out = []
            for a, b in zip(offs, offs[1:]):
                state = None
                for blob in blobs[a:b]:
                    if blob is None:
                        continue
                    s = pickle.loads(blob)
                    state = s if state is None else merge(state, s)
                out.append(finish(state) if finish is not None else state)
            return to_arrow(out, atype, len(out))

        mergevec_fn.__name__ = f"{self.sig.name}__mergevec"
        return arrow_udf(mergevec_fn, returnType=self.result_field.dtype)

    # ------------------------------------------------------------------
    def agg(
        self,
        df: DataFrame,
        by: Sequence[str],
        args: Sequence[str],
        _ops_col: Optional[str] = None,
    ) -> DataFrame:
        """Distributed grouped aggregation: ``by`` key cols, ``args`` inputs."""
        by = list(by)
        knames = [f"k{i}" for i in range(len(by))]
        proj = df.select(
            *[F.col(c).alias(k) for c, k in zip(by, knames)],
            *args,
            *([_ops_col] if _ops_col else []),
        )
        phase1_schema = T.StructType(
            [T.StructField(k, df.schema[c].dataType) for c, k in zip(by, knames)]
            + [T.StructField("__st0", T.BinaryType())]
        )
        # phase 1 over Arrow batches: exact nullable ints (no float64
        # coercion of NULL-bearing int columns, which destroys bits above
        # 2^53), and pandas only for an accumulate_batch that asks for it
        fold = build_multi_fold(
            [self], len(by), [len(args)], retract=_ops_col is not None
        )
        partials = proj.mapInArrow(fold, schema=phase1_schema)
        # merge+finish VECTORIZED (r10 perf): a native collect_list of the
        # O(partitions)-bounded pickled states per key (map-side partial,
        # codegen) and ONE scalar arrow_udf invocation per Arrow batch of
        # groups — applyInPandas called Python once per group, which at
        # high key cardinality is pure per-call overhead.  State merge
        # order stays arbitrary (UDAF contract: commutative+associative).
        return (
            partials.groupBy(*knames)
            .agg(F.collect_list("__st0").alias("__aus_states"))
            .select(
                *[F.col(k).alias(c) for k, c in zip(knames, by)],
                self.as_spark_mergevec()(F.col("__aus_states")).alias(
                    self.sig.name
                ),
            )
        )

    def agg_all(self, df: DataFrame, args: Sequence[str]) -> DataFrame:
        """Global (ungrouped) aggregate -> single-row DataFrame."""
        with_key = df.withColumn("__g", F.lit(0))
        out = self.agg(with_key, ["__g"], args)
        return out.drop("__g")

    def accumulate_or_retract(
        self, df: DataFrame, by: Sequence[str], args: Sequence[str], ops_col: str
    ) -> DataFrame:
        """Mixed accumulate/retract batch (reference ops bitmap, A8).

        Rows where ``ops_col`` is true are retracted (inverse-folded).
        """
        if self.retract is None:
            raise ValueError(f"aggregate {self.sig.name} does not define retract")
        return self.agg(df, by, args, _ops_col=ops_col)


def udaf(
    input_types: Sequence[str] | str = (),
    result_type: str = "null",
    state_type: str = "pickle",
    name: Optional[str] = None,
    registry: Registry = GLOBAL,
) -> Callable[[type], AggregateFunction]:
    """Declare an aggregate from a class with the 5-phase protocol::

        @udaf(input_types=["int"], result_type="int", name="sum_udaf")
        class Sum:
            def create_state(self): return 0
            def accumulate(self, s, x): return s + (x or 0)
            def retract(self, s, x): return s - (x or 0)
            def merge(self, a, b): return a + b
            # finish optional
    """
    if isinstance(input_types, str):
        input_types = [input_types]

    def deco(cls: type) -> AggregateFunction:
        inst = cls()
        # registration-time validation from the reference runtime
        # (python/mod.rs:305): with no finish(), the state IS the output,
        # so a declared Arrow state type must equal the result type.  The
        # default "pickle" state is opaque and exempt (the reference's
        # pickled-state mode, pyarrow.rs:296-313).
        if getattr(inst, "finish", None) is None and state_type != "pickle":
            # compare NORMALIZED types, not raw strings: alias pairs like
            # 'time'/'time64' or 'date'/'date32' are logically equal and
            # must not raise, while textual equality of unnormalized
            # spellings is not the contract (ADVICE r3)
            st, rt = parse_type(state_type), parse_type(result_type)
            if st.dtype != rt.dtype or st.ext != rt.ext:
                raise ValueError(
                    "`output_type` must be the same as `state_type` "
                    "when `finish` is not defined"
                )
        af = AggregateFunction(
            sig=Signature(
                name=name or cls.__name__.lower(),
                arg_types=tuple(input_types),
                return_type=result_type,
                kind="aggregate",
            ),
            input_fields=tuple(parse_type(t) for t in input_types),
            result_field=parse_type(result_type),
            create_state=inst.create_state,
            accumulate=inst.accumulate,
            merge=inst.merge,
            retract=getattr(inst, "retract", None),
            finish=getattr(inst, "finish", None),
            accumulate_batch=getattr(inst, "accumulate_batch", None),
        )
        registry.add(af)
        return af

    return deco
