"""Streaming execution of the aggregate protocol.

Three layers, each the idiomatic Spark choice for its semantics
(SURVEY.md §2.C streaming row):

- :func:`windowed_agg` — plain Structured Streaming: watermark + tumbling/
  sliding event-time windows over built-in aggregates.  Nothing custom;
  Catalyst handles state, late data, and incremental execution.
- :func:`streaming_running_agg` — a *custom* stateful operator via
  ``applyInPandasWithState``: per key, the pickled UDAF state is folded
  through the batch aggregates' fold core (``accumulate``, or
  ``accumulate_batch`` for a large micro-batch) and the running
  ``finish`` value is emitted every micro-batch.  This is the
  reference's aggregate protocol (A6-A10) lifted onto a stream.
- :func:`sliding_window_agg` — exercises ``retract`` (A8, the reference's
  accumulate-or-retract bitmap, python/mod.rs:537-582) the way its
  streaming hosts do: rows enter the aggregate as they arrive and are
  retracted once they age out of the sliding window, so state never
  replays the whole window.

State is an opaque pickle (the reference's ``arrowudf.pickle`` extension
state, §1.2) carried in a single BinaryType column — GroupState handles
persistence/recovery; at scale this is Spark's HDFS/RocksDB-backed state
store, sharded by key.
"""

from __future__ import annotations

import pickle
from typing import Any, Iterator, Optional, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.aggregate import AggregateFunction, _fold_all
from ..operators.scalar import py_values

__all__ = [
    "windowed_agg",
    "session_agg",
    "stream_interval_join",
    "streaming_running_agg",
    "sliding_window_agg",
    "streaming_dedup",
]


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: dict[str, str],
    slide: Optional[str] = None,
    by: Sequence[str] = (),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked event-time window aggregation with built-in aggregates.

    ``aggs`` maps output name -> SQL aggregate expression, e.g.
    ``{"n": "count(1)", "total": "sum(value)"}``.
    """
    w = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(w.alias("window"), *by)
        .agg(*[F.expr(e).alias(name) for name, e in aggs.items()])
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: dict[str, str],
    by: Sequence[str] = (),
    watermark: Optional[str] = None,
) -> DataFrame:
    """Event-time session windows (gap-merged) with built-in aggregates —
    the streaming analogue of :func:`..operators.temporal.sessionize`.

    Spark merges events whose ``[ts, ts+gap)`` windows overlap, so two
    consecutive events share a session iff their gap is strictly less than
    ``gap`` (an exact-``gap`` spacing starts a new session).  State is one
    open session per key in the state store; with a watermark, closed
    sessions age out (append mode); without one, run complete mode — the
    per-batch merge cost is the same.

    ``aggs`` maps output name -> SQL aggregate expression.  The output
    keeps the ``session_window`` struct (start/end) as ``window``.
    """
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("window"), *by)
        .agg(*[F.expr(e).alias(name) for name, e in aggs.items()])
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    on: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time range predicate.

    ``on`` is the full join condition (equi-keys AND a time bound on both
    sides, e.g. ``"user_id = p_user AND p_ts >= ts AND p_ts <= ts +
    INTERVAL 6 HOURS"``).  Both sides are watermarked by ``delay``; the
    time bound lets Spark compute, per side, how long a row can still
    find a match — buffered state is dropped the moment the other side's
    watermark passes that bound, so state size is O(rows within the
    interval + delay), never the whole stream.

    Inner-join rows emit as soon as both sides arrive (append mode); the
    result over a finite replay equals the equivalent batch join.
    """
    return left.withWatermark(left_ts, delay).join(
        right.withWatermark(right_ts, delay), F.expr(on)
    )


def _state_schema() -> T.StructType:
    return T.StructType([T.StructField("blob", T.BinaryType())])


def _columns(pdf: pd.DataFrame, args: list) -> list:
    """A micro-batch frame's argument columns as Arrow arrays for the
    aggregate fold core; ``from_pandas``, so a NULL that pandas carries
    as NaN reaches ``accumulate`` as None."""
    return [pa.Array.from_pandas(pdf[a]) for a in args]


def streaming_running_agg(
    df: DataFrame,
    agg: AggregateFunction,
    by: Sequence[str],
    args: Sequence[str],
    emit_seq: bool = False,
) -> DataFrame:
    """Running per-key aggregate over a stream: emits (keys..., value) with
    the post-batch value of ``finish(state)`` each time a key sees data.

    ``emit_seq`` adds a ``__seq`` column (rows accumulated per key so far,
    strictly increasing across a key's updates) so an update-mode sink can
    select each key's FINAL value with ``max_by(value, __seq)`` even when
    micro-batch updates interleave (same contract as
    :func:`sliding_window_agg`)."""
    by, args = list(by), list(args)
    out_schema = T.StructType(
        [df.schema[c] for c in by]
        + [T.StructField(agg.sig.name, agg.result_field.dtype)]
        + ([T.StructField("__seq", T.LongType())] if emit_seq else [])
    )
    create, fold, finish = agg.create_state, agg._folder(), agg.finish

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st, seen = pickle.loads(state.get[0])
        else:
            st, seen = create(), 0
        for pdf in pdfs:
            seen += len(pdf)
            st = _fold_all(fold, st, _columns(pdf, args), len(pdf))
        state.update((pickle.dumps((st, seen)),))
        value = finish(st) if finish is not None else st
        out = dict(zip(by, key)) | {agg.sig.name: value}
        if emit_seq:
            out["__seq"] = seen
        yield pd.DataFrame([out])

    return (
        df.groupBy(*by)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_state_schema(),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sliding_window_agg(
    df: DataFrame,
    agg: AggregateFunction,
    by: Sequence[str],
    args: Sequence[str],
    ts_col: str,
    window_seconds: float,
    emit_seq: bool = False,
) -> DataFrame:
    """Sliding-window aggregate maintained *incrementally with retract*:

    state = (agg_state, buffer of (ts, args) still inside the window,
    max ts seen, rows seen).  New rows are accumulated; rows older than
    ``max_seen_ts - window`` are retracted — the aggregate is never
    recomputed from scratch.  Requires ``agg.retract``.  Correct under any
    split of rows into micro-batches: the cutoff only advances (max_ts is
    monotone), and a row already older than the cutoff on arrival is
    accumulated and retracted within its own batch.

    ``emit_seq`` adds a ``__seq`` column (total rows accumulated per key —
    strictly increasing across the key's updates), so a consumer of the
    update stream can pick each key's FINAL value with ``max_by(x, __seq)``
    even when micro-batch updates interleave in the sink.
    """
    if agg.retract is None:
        raise ValueError(f"{agg.sig.name} has no retract; sliding window needs it")
    by, args = list(by), list(args)
    out_schema = T.StructType(
        [df.schema[c] for c in by]
        + [T.StructField(agg.sig.name, agg.result_field.dtype)]
        + ([T.StructField("__seq", T.LongType())] if emit_seq else [])
    )
    create, fold, finish = agg.create_state, agg._folder(), agg.finish
    ret = agg.retract

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st, buf, max_ts, seen = pickle.loads(state.get[0])
        else:
            st, buf, max_ts, seen = create(), [], None, 0
        for pdf in pdfs:
            cols = _columns(pdf, args)
            st = _fold_all(fold, st, cols, len(pdf))
            # buffered as accumulate saw them, for the retract below
            rows = zip(*map(py_values, cols)) if cols else [()] * len(pdf)
            for ts, vals in zip(pdf[ts_col].tolist(), rows):
                buf.append((ts, list(vals)))
                max_ts = ts if max_ts is None or ts > max_ts else max_ts
            seen += len(pdf)
        # retract rows that fell out of the window
        if max_ts is not None:
            cutoff = max_ts - pd.Timedelta(seconds=window_seconds)
            keep = []
            for ts, vals in buf:
                if ts <= cutoff:
                    st = ret(st, *vals)
                else:
                    keep.append((ts, vals))
            buf = keep
        state.update((pickle.dumps((st, buf, max_ts, seen)),))
        value = finish(st) if finish is not None else st
        out = dict(zip(by, key)) | {agg.sig.name: value}
        if emit_seq:
            out["__seq"] = seen
        yield pd.DataFrame([out])

    return (
        df.groupBy(*by)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_state_schema(),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup(
    df: DataFrame,
    content_col: str,
    ts_col: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content digest wins.

    With ``ts_col``, duplicates are only tracked within the watermark
    horizon, so state is bounded (the only scalable choice on an unbounded
    stream — an un-watermarked digest set grows forever at 100 TB/day).
    Built on ``dropDuplicates``; Spark's state store shards the seen-set by
    digest across executors.
    """
    from ..operators.dedup import content_hash

    out = df.withColumn("__h", content_hash(content_col))
    if ts_col is not None:
        out = out.withWatermark(ts_col, watermark)
        return out.dropDuplicates(["__h", ts_col]).drop("__h")
    return out.dropDuplicates(["__h"]).drop("__h")


def streaming_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Incrementally maintained event-type transition counts over a
    stream: per-user state holds only the LAST event seen, so a
    transition that straddles a micro-batch boundary still counts —
    per-key state is O(1) regardless of stream length (compare the
    batch operator's lag window, which needs the whole history).

    Emits (prev_type, next_type, n) increments per (user, batch) in
    append mode; the consumer aggregates increments.  Assumes per-user
    in-order replay across batches (the Kafka partition-by-key /
    time-split-files shape); within a batch rows are sorted by
    (ts, id)."""
    out_schema = T.StructType(
        [
            T.StructField("prev_type", T.StringType()),
            T.StructField("next_type", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from collections import Counter

        last = pickle.loads(state.get[0]) if state.exists else None
        counts: Counter = Counter()
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([ts_col, id_col])
        for row in batch.itertuples(index=False):
            cur = getattr(row, type_col)
            if last is not None:
                counts[(last, cur)] += 1
            last = cur
        state.update((pickle.dumps(last),))
        if counts:
            yield pd.DataFrame(
                [
                    {"prev_type": p, "next_type": n, "n": v}
                    for (p, n), v in counts.items()
                ]
            )

    return df.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_state_schema(),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
