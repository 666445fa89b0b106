"""Scalar UDF evaluation core.

This is the Spark-native re-expression of the reference's scalar protocol
(reference: arrow-udf/src/lib.rs:30 ``fn(&RecordBatch)->RecordBatch``; row
loop arrow-udf-macros/src/codegen_utils.rs:569-577; batched/columnar mode
arrow-udf-runtime/src/javascript/mod.rs:536-625 and python server
``batch=True`` arrow-udf-remote/python/arrow_udf/__init__.py:51-96).

Design (SURVEY.md §2.A A1-A4, A11, A12):

- Functions execute as **Arrow UDFs** (``arrow_udf``, Spark's
  ``SQL_SCALAR_ARROW_UDF``): each batch reaches the worker as
  :class:`pyarrow.Array` columns and the result goes back as one Arrow
  array built straight into the return type — Arrow in, Arrow out, the
  reference's ``RecordBatch -> RecordBatch`` contract.
- ``batch=True`` functions receive whole columns (the reference's
  batched/columnar mode, A11): :class:`pyarrow.Array` when every parameter
  is annotated ``pa.Array``, :class:`pandas.Series` otherwise (an int
  column with NULLs arrives as masked ``Int64``, never float64).  The
  choice is read once from the signature, like pyspark's own type-hint
  inference.  Every front shares these two column views
  (:func:`py_values`, :func:`batch_values`).
  ``batch=False`` functions are called once per row (the reference's
  default row loop, A1) with plain Python values: NaN reads as None, maps
  as dicts, structs as dicts.
- A float NaN in a result comes back NULL (pandas' missing-value rule).
- ``CallMode.RETURN_NULL_ON_NULL_INPUT`` masks null (and NaN) rows *before*
  the call and re-inserts nulls after (the reference's batched-mode null
  mask, javascript/mod.rs:568-618).
- Fallible functions (declared ``fallible=True``, the analogue of a Rust
  ``Result<T>`` return — codegen_utils.rs:398-414) produce a
  ``struct<value: T, error: string>`` column: per-row errors yield NULL
  value + message text, and never abort the batch.  Spark has no native
  row-level UDF error channel; this wrapper is that channel.
- ``io_threads=N`` maps each batch over a thread pool (reference python
  server ``io_threads``, __init__.py:75-87) for IO-bound row functions.

Serialization note: the closure shipped to executors captures only an
:class:`_EvalSpec` of plain picklable values (the user fn via cloudpickle,
flags, the return DataType) — never the :class:`ScalarFunction` itself,
which holds JVM handles.
"""

from __future__ import annotations

import enum
import inspect
import typing
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FuturesTimeout
from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ..plans.registry import GLOBAL, Registry, Signature
from ..plans.types import ExtField, expand_signature, parse_type, struct_to_row

__all__ = ["CallMode", "ScalarFunction", "udf"]


class CallMode(enum.Enum):
    """Reference arrow-udf-runtime/src/lib.rs:19-29."""

    CALLED_ON_NULL_INPUT = "called_on_null_input"
    RETURN_NULL_ON_NULL_INPUT = "return_null_on_null_input"


# ---------------------------------------------------------------------------
# Arrow <-> Python views of one column
# ---------------------------------------------------------------------------


def takes_arrow(fn: Callable, skip: int = 0) -> bool:
    """True when every parameter of ``fn`` after the first ``skip`` is
    annotated ``pa.Array`` (``skip=1`` passes over an aggregate's state)."""
    try:
        hints = typing.get_type_hints(fn)
        params = list(inspect.signature(fn).parameters)[skip:]
    except (NameError, TypeError, ValueError):
        return False
    return bool(params) and all(hints.get(p) is pa.Array for p in params)


def _has_map(t: pa.DataType) -> bool:
    if pa.types.is_map(t):
        return True
    if pa.types.is_struct(t):
        return any(_has_map(f.type) for f in t)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _has_map(t.value_type)
    return False


def _dictify(v: Any, t: pa.DataType) -> Any:
    """``to_pylist`` renders a map as (key, value) pairs; make it a dict."""
    if v is None:
        return None
    if pa.types.is_map(t):
        return {k: _dictify(x, t.item_type) for k, x in v}
    if pa.types.is_struct(t):
        return {f.name: _dictify(v[f.name], f.type) for f in t}
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return [_dictify(x, t.value_type) for x in v]
    return v


#: Arrow int type -> pandas masked dtype (see :func:`batch_values`)
_MASKED_INT = {
    getattr(pa, n)(): pd.api.types.pandas_dtype(n.title().replace("Uint", "UInt"))
    for n in ("int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64")
}
_TEXT = (pa.string(), pa.large_string(), pa.binary(), pa.large_binary())


def py_values(arr: pa.Array) -> list:
    """Row-function view of a column: Python values, NaN and NULL as None,
    maps as dicts.  Numbers, strings and binary are read through numpy
    (an order of magnitude faster than ``to_pylist``)."""
    t = arr.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        # filled first: a NULL-bearing int column would read as float64
        vals = arr.fill_null(False if pa.types.is_boolean(t) else 0)
        vals = vals.to_numpy(zero_copy_only=False).tolist()
        missing = np.flatnonzero(arr.is_null().to_numpy(zero_copy_only=False))
    elif pa.types.is_float32(t) or pa.types.is_float64(t):
        data = arr.to_numpy(zero_copy_only=False)  # NULL reads as NaN
        vals, missing = data.tolist(), np.flatnonzero(np.isnan(data))
    elif t in _TEXT:
        return arr.to_numpy(zero_copy_only=False).tolist()  # NULL is None
    elif _has_map(t):
        return [_dictify(v, t) for v in arr.to_pylist()]
    else:
        return arr.to_pylist()
    for i in missing.tolist():
        vals[i] = None
    return vals


def batch_values(arr: pa.Array, arrow: bool) -> pa.Array | pd.Series:
    """Batch-function view of a column: the array itself for a function
    whose parameters are annotated ``pa.Array`` (``arrow``); otherwise a
    pandas Series that loses nothing: a NULL-bearing int column is masked
    ``Int64`` (float64 would drop the bits above 2^53) and a map column
    holds dicts."""
    if arrow:
        return arr
    if _has_map(arr.type):
        return pd.Series(py_values(arr), dtype="object")
    if arr.null_count and pa.types.is_integer(arr.type):
        return arr.to_pandas(types_mapper=_MASKED_INT.get)
    return arr.to_pandas(coerce_temporal_nanoseconds=True)


def to_arrow(values: Any, atype: pa.DataType, n: int) -> pa.Array:
    """Build a result column of type ``atype`` from a user return: an Arrow
    array, a Series, a DataFrame of struct fields, a list, or a scalar
    broadcast to ``n`` rows.  Casts are unchecked, as in a pandas UDF."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if isinstance(values, pa.Array):
        return values if values.type == atype else values.cast(atype, safe=False)
    if isinstance(values, pd.DataFrame):  # batch struct contract: field columns
        cols = [to_arrow(values.get(f.name), f.type, len(values)) for f in atype]
        return pa.StructArray.from_arrays(cols, fields=list(atype))
    if isinstance(values, pd.Series):
        if values.dtype != object:
            return pa.Array.from_pandas(values, type=atype, safe=False)
        values = values.tolist()
    elif not isinstance(values, (list, tuple)):
        values = [values] * n
    if pa.types.is_struct(atype):
        names = [f.name for f in atype]
        values = [None if v is None else struct_to_row(v, names) for v in values]
    try:
        return pa.array(values, type=atype, from_pandas=True, safe=False)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        # e.g. integral floats for an int column: infer, then cast
        return pa.array(values, from_pandas=True).cast(atype, safe=False)


# ---------------------------------------------------------------------------
# executor-side evaluation
# ---------------------------------------------------------------------------


class _EvalSpec(NamedTuple):
    """Everything the executor-side wrapper needs; all picklable."""

    fn: Callable
    dtype: T.DataType
    batch: bool
    fallible: bool
    skip_null: bool  # True for RETURN_NULL_ON_NULL_INPUT
    io_threads: Optional[int]
    timeout: Optional[float] = None  # per-call deadline in seconds (A21)
    # per-call memory cap in bytes (A21 second half, reference QuickJS
    # set_memory_limit javascript/mod.rs:229-231 / wasm StoreLimits
    # wasm/mod.rs:358-371): the batch is evaluated in a forked child under
    # RLIMIT_AS; a row whose allocations blow the cap raises MemoryError in
    # the child and becomes an error row — the executor never OOMs
    memory_limit: Optional[int] = None
    # zero-arg function: Spark UDFs need >=1 column, so the caller passes a
    # dummy column that only provides the batch length
    nullary: bool = False
    # coroutine function: rows of a batch run concurrently on one event
    # loop (reference A12 async mode, javascript/mod.rs:954-974); io_threads
    # doubles as the concurrency cap
    is_async: bool = False
    # error-column text convention: "message" = bare str(e) (the Rust macro
    # runtime's Display texts, e.g. "division by zero", tests/tests.rs:389),
    # "pyerr" = "Type: message" (PyO3's PyErr Display used by the embedded
    # Python runtime, python/mod.rs:374 e.to_string() — e.g.
    # "TypeError: neg() takes 1 positional argument but 2 were given")
    error_style: str = "message"
    # batch fn annotated with pa.Array parameters: gets the arrays as-is
    arrow_in: bool = False


def _format_error(style: str) -> Callable[[BaseException], str]:
    """Error-column renderer for a given convention (see _EvalSpec)."""
    if style == "pyerr":
        return lambda e: f"{type(e).__name__}: {e}"
    return str


def _eval_rows(
    spec: _EvalSpec, arrays: Sequence[pa.Array], n: int
) -> tuple[list, Optional[list]]:
    fn = spec.fn
    if spec.batch:
        # row-wise fallback of a batch fn: call it on length-1 columns
        rows = [
            tuple(batch_values(a.slice(i, 1), spec.arrow_in) for a in arrays)
            for i in range(n)
        ]
        user, atype = spec.fn, to_arrow_type(spec.dtype)

        def fn(*cols):  # noqa: ANN001
            return to_arrow(user(*cols), atype, 1)[0].as_py()

    else:
        rows = list(zip(*map(py_values, arrays))) if arrays else [()] * n

    fmt = _format_error(spec.error_style)

    def call_one(args: tuple) -> tuple[Any, Optional[str]]:
        try:
            return fn(*args), None
        except MemoryError:  # A21 cap tripped (str(MemoryError()) is empty)
            return None, "memory limit exceeded"
        except Exception as e:  # row-level isolation, never abort the batch
            return None, fmt(e)

    if spec.is_async:
        import asyncio

        async def run_all() -> list[tuple[Any, Optional[str]]]:
            sem = asyncio.Semaphore(spec.io_threads or 64)

            async def one(args: tuple) -> tuple[Any, Optional[str]]:
                async with sem:
                    try:
                        coro = fn(*args)
                        if spec.timeout is not None:
                            return await asyncio.wait_for(coro, spec.timeout), None
                        return await coro, None
                    except asyncio.TimeoutError:
                        return None, "timeout"
                    except Exception as e:
                        return None, fmt(e)

            return await asyncio.gather(*[one(r) for r in rows])

        results = asyncio.run(run_all())
    elif spec.timeout is not None:
        # per-call deadline (reference A21, javascript/mod.rs:245-260):
        # run each row on a watchdog pool; late rows become error rows.
        # The worker thread is not killed (CPython can't), but the batch
        # stops waiting for it: the pool is shut down without waiting and
        # with pending futures cancelled, so a wedged call leaks only its
        # one thread instead of blocking the executor task.  Deadlines are
        # measured from a shared batch start so n sequential waits cannot
        # compound to n*timeout.
        import time as _time
        from concurrent.futures import CancelledError

        workers = spec.io_threads or 1
        pool = ThreadPoolExecutor(max_workers=workers)
        try:
            futures = [pool.submit(call_one, r) for r in rows]
            # shared batch deadline: the legitimate budget is one timeout per
            # execution wave (ceil(n/workers)); waits on individual futures
            # overlap against it, so a single wedged call cannot make the
            # batch wait n*timeout.
            waves = -(-len(rows) // workers)
            deadline = _time.monotonic() + spec.timeout * waves
            results = []
            for f in futures:
                remaining = deadline - _time.monotonic()
                try:
                    results.append(f.result(timeout=max(0.0, remaining)))
                except (FuturesTimeout, TimeoutError, CancelledError):
                    results.append((None, "timeout"))
        finally:
            pool.shutdown(wait=False, cancel_futures=True)
    elif spec.io_threads and spec.io_threads > 1:
        with ThreadPoolExecutor(max_workers=spec.io_threads) as pool:
            results = list(pool.map(call_one, rows))
    else:
        results = [call_one(r) for r in rows]
    values = [v for v, _ in results]
    errs = [e for _, e in results]
    if not any(e is not None for e in errs):
        return values, None
    if not spec.fallible:
        # non-fallible function raised: surface the first error loudly,
        # matching Spark (and reference non-Result) behavior
        raise RuntimeError(next(e for e in errs if e is not None))
    return values, errs


def _vm_bytes() -> int:
    """Current virtual size of this process (Linux /proc)."""
    try:
        with open("/proc/self/statm") as f:
            pages = int(f.read().split()[0])
        import os

        return pages * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):  # pragma: no cover
        return 1 << 31  # unknown baseline: leave 2 GiB headroom


def _eval_memcapped(
    spec: _EvalSpec, arrays: Sequence[pa.Array], n: int
) -> tuple[Any, Any]:
    """Run the batch in a forked child under ``RLIMIT_AS = current + cap``.

    Fork (not spawn) so the function and columns transfer by page sharing —
    no pickling of inputs; only the (values, errors) result crosses the
    pipe.  Per-row isolation comes from the row loop's existing try/except:
    a row whose allocations exceed the cap gets MemoryError -> error row.
    If the child dies outright (C-level abort), every row of the batch
    becomes an error row — the batch never kills the executor.
    """
    import os
    import pickle
    import resource

    inner = spec._replace(memory_limit=None)
    r_fd, w_fd = os.pipe()
    pid = os.fork()
    if pid == 0:  # child
        code = 1
        try:
            os.close(r_fd)
            cap = _vm_bytes() + spec.memory_limit
            # soft = cap; keep whatever hard limit the environment already
            # imposes (a finite container hard limit cannot be raised, and
            # asking for RLIM_INFINITY there is EPERM — which would turn
            # every capped batch into error rows).  The child lifts its own
            # soft limit back before pickling the (possibly large) result.
            saved_soft, saved_hard = resource.getrlimit(resource.RLIMIT_AS)
            soft = cap if saved_hard == resource.RLIM_INFINITY else min(cap, saved_hard)
            resource.setrlimit(resource.RLIMIT_AS, (soft, saved_hard))
            values, errors = _eval_clean(inner, arrays, n)
            # arrays, Series and DataFrames pickle natively; list(DataFrame)
            # would yield its column labels — only listify opaque iterables.
            # The listify still runs UNDER the cap (it may drive a user
            # generator); serialization of the already-materialized result
            # runs after the soft limit is restored, so a legitimately
            # large result doesn't MemoryError inside pickling and get
            # misreported as over-limit.
            if not isinstance(values, (list, pa.Array, pd.Series, pd.DataFrame)):
                values = list(values)
            resource.setrlimit(resource.RLIMIT_AS, (saved_soft, saved_hard))
            payload = pickle.dumps((values, errors))
            with os.fdopen(w_fd, "wb") as w:
                w.write(payload)
            code = 0
        except BaseException:  # noqa: BLE001 — child must never re-raise
            pass
        finally:
            os._exit(code)
    os.close(w_fd)
    with os.fdopen(r_fd, "rb") as r:
        data = r.read()
    _, status = os.waitpid(pid, 0)
    if data and status == 0:
        return pickle.loads(data)
    # the child died without delivering results.  Signal death (segfault in
    # a C extension, SIGKILL from the kernel OOM killer) is the reference's
    # wasm fault-injection scenario (tests/wasm.rs:33-70 segfault/oom
    # probes): the fork boundary contains it to this batch — the executor
    # and its Python worker survive.
    if os.WIFSIGNALED(status):
        msg = f"worker crashed: signal {os.WTERMSIG(status)}"
    else:
        msg = "memory limit exceeded"
    if not spec.fallible:
        raise MemoryError(
            f"{spec.fn.__name__}: {msg} "
            f"(per-call limit {spec.memory_limit} bytes)"
        )
    return [None] * n, [msg] * n


def _eval_clean(
    spec: _EvalSpec, arrays: Sequence[pa.Array], n: int
) -> tuple[Any, Any]:
    """Evaluate on (possibly pre-masked) columns; return (values, errors)
    where errors is None or one message-or-None per row."""
    if spec.memory_limit is not None:
        return _eval_memcapped(spec, arrays, n)
    if not spec.batch:
        return _eval_rows(spec, arrays, n)
    args = [batch_values(a, spec.arrow_in) for a in arrays]
    if not spec.fallible:
        return spec.fn(*args), None
    try:
        res = spec.fn(*args)
    except Exception:
        # vectorized fast path failed -> re-run row-wise to isolate errors
        return _eval_rows(spec, arrays, n)
    # vectorized-fallible protocol: the batch fn computed the error column
    # itself (masked arithmetic) as a value/error DataFrame or StructArray,
    # so bad rows never raise and the whole batch stays on the fast path.
    # Mirrors the reference's batched Result mode.
    if isinstance(res, pd.DataFrame) and {"value", "error"}.issubset(res.columns):
        return res["value"], res["error"].astype(object)
    if isinstance(res, pa.StructArray) and {"value", "error"} <= {
        f.name for f in res.type
    }:
        return res.field("value"), res.field("error")
    return res, None


def _valid_rows(arrays: Sequence[pa.Array], n: int) -> Optional[np.ndarray]:
    """Rows with no NULL (or float NaN) argument; None when that is all."""
    keep = np.ones(n, dtype=bool)
    for a in arrays:
        if pa.types.is_floating(a.type):
            keep &= ~np.isnan(a.to_numpy(zero_copy_only=False))
        elif a.null_count:
            keep &= a.is_valid().to_numpy(zero_copy_only=False)
    return None if keep.all() else keep


def _eval_arrays(spec: _EvalSpec, *arrays: pa.Array) -> pa.Array:
    """The executor-side batch evaluator (one Arrow batch per call)."""
    n = len(arrays[0]) if arrays else 0
    if spec.nullary:  # the dummy column carries only the batch length
        spec, arrays = spec._replace(nullary=False), ()
    keep = _valid_rows(arrays, n) if spec.skip_null else None
    if keep is not None:
        arrays = tuple(a.filter(pa.array(keep)) for a in arrays)
    m = n if keep is None else int(keep.sum())

    values, errors = _eval_clean(spec, arrays, m)
    atype = to_arrow_type(spec.dtype)
    out = to_arrow(values, atype, m)
    err = pa.nulls(m, pa.string()) if errors is None else to_arrow(errors, pa.string(), m)
    if keep is not None:
        # re-insert nulls at masked positions
        idx = pa.array(np.cumsum(keep) - 1, mask=~keep)
        out, err = out.take(idx), err.take(idx)
    if not spec.fallible:
        return out
    return pa.StructArray.from_arrays(
        [out, err], fields=[pa.field("value", atype), pa.field("error", pa.string())]
    )


def _make_wrapper(spec: _EvalSpec, name: str) -> Callable:
    """Build the plain function handed to arrow_udf (captures only spec)."""

    def eval_fn(*cols: pa.Array) -> pa.Array:
        return _eval_arrays(spec, *cols)

    eval_fn.__name__ = name
    return eval_fn


@dataclass
class ScalarFunction:
    """A registered scalar function; calling it on Columns yields a Column."""

    fn: Callable
    sig: Signature
    input_fields: tuple[ExtField, ...]
    result_field: ExtField
    batch: bool = False
    fallible: bool = False
    mode: CallMode = CallMode.CALLED_ON_NULL_INPUT
    io_threads: Optional[int] = None
    timeout: Optional[float] = None
    #: per-call memory cap in bytes (A21); see _eval_memcapped
    memory_limit: Optional[int] = None
    # volatile fns (reference macro attr `volatile`, arrow-udf-macros/src/
    # lib.rs:297-330) must not be constant-folded / CSE'd by Catalyst
    volatile: bool = False
    # "message" (Rust-runtime bare texts) | "pyerr" (PyO3 "Type: message")
    error_style: str = "message"
    _udf: Any = field(default=None, repr=False, compare=False)

    def _spec(self) -> _EvalSpec:
        is_async = inspect.iscoroutinefunction(self.fn)
        # a coroutine fn is always row-wise: the batch path would return an
        # un-awaited coroutine instead of a column
        batch = self.batch and not is_async
        return _EvalSpec(
            fn=self.fn,
            dtype=self.result_field.dtype,
            batch=batch,
            fallible=self.fallible,
            skip_null=self.mode is CallMode.RETURN_NULL_ON_NULL_INPUT,
            io_threads=self.io_threads,
            timeout=self.timeout,
            memory_limit=self.memory_limit,
            nullary=not self.input_fields,
            is_async=is_async,
            error_style=self.error_style,
            arrow_in=batch and takes_arrow(self.fn),
        )

    def _eval(self, *cols: pd.Series):
        """Driver-side direct evaluation (used by unit tests): pandas
        columns in; an object Series, or a DataFrame of them for struct
        and fallible results, out."""
        arrays = [
            pa.array(c, type=to_arrow_type(f.dtype), from_pandas=True)
            for c, f in zip(cols, self.input_fields)
        ]
        spec = self._spec()
        try:
            out = _eval_arrays(spec, *arrays)
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            # a result the return type rejects (Spark fails the task) is
            # surfaced raw here, never coerced to a wrong value
            values, _ = _eval_clean(spec, arrays, len(arrays[0]) if arrays else 0)
            return pd.Series(values, dtype="object")
        if isinstance(self.spark_return_type, T.StructType):
            return pd.DataFrame(
                {f.name: pd.Series(c.to_pylist(), dtype="object")
                 for f, c in zip(out.type, out.flatten())}
            )
        return pd.Series(out.to_pylist(), dtype="object")

    # ---- Spark surface ----

    @property
    def spark_return_type(self) -> T.DataType:
        if self.fallible:
            return T.StructType(
                [
                    T.StructField("value", self.result_field.dtype),
                    T.StructField("error", T.StringType()),
                ]
            )
        return self.result_field.dtype

    def as_spark_udf(self):
        if self._udf is None:
            u = arrow_udf(
                _make_wrapper(self._spec(), self.sig.name),
                returnType=self.spark_return_type,
            )
            # error-capturing / masked UDFs must not be re-executed or
            # common-subexpression'd by Catalyst (SURVEY.md §7.9d)
            if self.fallible or self.volatile:
                u = u.asNondeterministic()
            self._udf = u
        return self._udf

    def __call__(self, *cols: Column | str) -> Column:
        cs = [F.col(c) if isinstance(c, str) else c for c in cols]
        if not self.input_fields and not cs:
            cs = [F.lit(0)]  # dummy batch-length carrier for nullary fns
        out = self.as_spark_udf()(*cs)
        return out.alias(self.sig.name)

    def value_and_error(self, *cols: Column | str) -> tuple[Column, Column]:
        """For fallible functions: (value, error) column pair from one eval.

        NOTE: projecting both fields in the SAME select duplicates the
        (nondeterministic, hence non-CSE'd) UDF — ExtractPythonUDFs emits
        ``ArrowEvalPython [f(...), f(...)]`` and pays 2x eval + transfer.
        Hot paths should use :meth:`apply` instead, which materializes the
        struct in its own projection so the function runs exactly once.
        """
        s = self(*cols)
        return s.getField("value").alias(self.sig.name), s.getField("error").alias(
            "error"
        )

    def apply(
        self,
        df: DataFrame,
        cols: Sequence[Column | str],
        passthrough: Sequence[str] = (),
        value_alias: Optional[str] = None,
        error_alias: str = "error",
    ) -> DataFrame:
        """Evaluate over ``df`` with single-eval guarantees.

        Fallible functions come back as two columns (value, error) projected
        from ONE evaluation: the struct lands in its own projection and the
        fields are split in a second one — CollapseProject refuses to merge
        them because the UDF is nondeterministic, so the plan keeps exactly
        one ``ArrowEvalPython`` entry.  Non-fallible functions are a plain
        single-column select.
        """
        name = value_alias or self.sig.name
        out = self(*cols)
        if not self.fallible:
            return df.select(*passthrough, out.alias(name))
        staged = df.select(*passthrough, out.alias("__res"))
        return staged.select(
            *passthrough,
            F.col("__res.value").alias(name),
            F.col("__res.error").alias(error_alias),
        )


def udf(
    input_types: Sequence[str] | str = (),
    result_type: str = "null",
    name: Optional[str] = None,
    batch: bool = False,
    fallible: bool = False,
    mode: CallMode = CallMode.CALLED_ON_NULL_INPUT,
    io_threads: Optional[int] = None,
    timeout: Optional[float] = None,
    memory_limit: Optional[int] = None,
    volatile: bool = False,
    variadic: bool = False,
    error_style: str = "message",
    registry: Registry = GLOBAL,
) -> Callable[[Callable], ScalarFunction]:
    """Declare a scalar function (reference ``#[function("name(t,..)->t")]``).

    Wildcard types (``int*``, ``float*``, ``number*``) expand into one
    registered overload per concrete type, all sharing the implementation
    (reference signature expansion, arrow-udf-macros/src/parse.rs:24-100).
    The returned handle is the first expansion.

    Example::

        @udf(input_types=["int", "int"], result_type="int", batch=True)
        def gcd(a: pa.Array, b: pa.Array) -> pa.Array: ...

    When ``result_type`` is omitted, it is inferred from the function's
    return annotation for plain Python types (the reference's ``type_infer``
    registration knob, arrow-udf-macros/src/parse.rs:71-97):
    ``int -> int64``, ``float -> float64``, ``str -> string``,
    ``bool -> boolean``, ``bytes -> binary``.
    """
    if isinstance(input_types, str):
        input_types = [input_types]

    _PY_TYPES = {int: "int64", float: "float64", str: "string",
                 bool: "boolean", bytes: "binary"}

    def deco(fn: Callable) -> ScalarFunction:
        fname = name or fn.__name__
        res = result_type
        if res == "null":  # infer from the return annotation (type_infer)
            ann = getattr(fn, "__annotations__", {}).get("return")
            if ann in _PY_TYPES:
                res = _PY_TYPES[ann]
            elif isinstance(ann, str) and ann in (
                "int", "float", "str", "bool", "bytes"
            ):
                res = _PY_TYPES[{"int": int, "float": float, "str": str,
                                 "bool": bool, "bytes": bytes}[ann]]
        first: Optional[ScalarFunction] = None
        for ins, res_t in expand_signature(list(input_types), res):
            sf = ScalarFunction(
                fn=fn,
                sig=Signature(
                    name=fname,
                    arg_types=tuple(ins),
                    return_type=res_t,
                    variadic=variadic,
                    kind="scalar",
                ),
                input_fields=tuple(parse_type(t) for t in ins),
                result_field=parse_type(res_t),
                batch=batch,
                fallible=fallible,
                mode=mode,
                io_threads=io_threads,
                timeout=timeout,
                memory_limit=memory_limit,
                volatile=volatile,
                error_style=error_style,
            )
            registry.add(sf)
            first = first or sf
        return first

    return deco
