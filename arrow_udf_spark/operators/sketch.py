"""Mergeable cardinality sketches (KMV approximate distinct).

A 100 TB ``COUNT(DISTINCT key)`` is one of the most shuffle-hostile
queries there is: exact distinct must move every distinct value to its
group's reducer.  The K-minimum-values sketch (Bar-Yossef et al., "Counting
distinct elements in a data stream", RANDOM 2002) bounds the state at ``k``
hashes per group: hash every value into [0, M), keep only the ``k``
smallest distinct hashes, and estimate the cardinality from how densely
the smallest corner of the hash space is populated::

    estimate = (k - 1) * M / kth_smallest      (exact count when < k seen)

Two realizations, same estimate, same oracle:

- :func:`kmv_distinct` — pure Catalyst: one hash-aggregate with map-side
  combine (``collect_set`` carries the distinct hashes; bounded only by
  true cardinality).  Best when per-group cardinality is modest or when
  the plan must stay whole-stage-codegen.
- :data:`KmvAgg` (``kmv_udaf``) — the framework's 5-phase aggregate
  protocol (SURVEY §2.A A6/A9/A10) with a **bounded** state: each partial
  state is at most ``k`` int64s regardless of input size, so the shuffle
  moves O(groups * k) bytes at any scale.  This is the sketch-proper
  scale path and exercises ``merge`` exactly like a distributed host.

Cross-engine determinism (the oracle gate hashes values exactly):

- hash = first 15 hex chars of md5 → BIGINT in [0, 16^15); identical in
  Spark (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
  (``('0x'||substr(md5(x),1,15))::BIGINT``) — see memory of verified
  primitives; 15 nibbles keep the value well under 2^63.
- the estimate is computed as ``FLOOR((k-1.0) * M / kth)`` in IEEE double
  with the SAME operand order on both engines; ``M = 16^15 = 2^60`` and
  ``(k-1)*M`` are exactly representable, so the division is the only
  rounding step and IEEE-identical.

Reference hook: the reference's aggregate corpus (SURVEY §2.B, e.g.
arrow-udf-runtime/tests/python.rs:670 ``sum``/``weighted_avg``) proves the
create/accumulate/merge/finish protocol; KMV is that protocol applied to a
state the reference cannot express in SQL — a fixed-size sketch.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregate import udaf

__all__ = [
    "bloom_build",
    "bloom_prejoin_gate",
    "bloom_prune",
    "bloom_tuning_gate",
    "kmv_distinct",
    "kmv_error_gate",
    "KmvAgg",
    "KMV_K",
    "KMV_SPACE",
    "kmv_hash_col",
    "skew_profile",
    "count_min_sketch_keys",
    "join_size_gate",
]

#: sketch width: 64 hashes/group ≈ 12% standard error — plenty for
#: partition planning / skew detection, the 100 TB use cases
KMV_K = 64
#: hash space size: 15 md5 nibbles
KMV_SPACE = 16**15


def kmv_hash_col(key: str):
    """md5-derived BIGINT hash in [0, 16^15), bit-identical in DuckDB."""
    return F.conv(F.md5(F.col(key).cast("string")).substr(1, 15), 16, 10).cast(
        "long"
    )


def _estimate_expr(mins, k: int):
    """Catalyst estimate from the sorted k-min array (exact when < k)."""
    kth = F.element_at(mins, k).cast("double")
    est = F.floor(F.lit(float(k - 1)) * F.lit(float(KMV_SPACE)) / kth).cast("long")
    return F.when(F.size(mins) < k, F.size(mins).cast("long")).otherwise(est)


def kmv_distinct(
    df: DataFrame, key: str, by: Sequence[str] = (), k: int = KMV_K
) -> DataFrame:
    """Approximate ``COUNT(DISTINCT key)`` per group, pure Catalyst.

    Single hash-aggregate: ``collect_set`` of hashes (partial aggregation
    on the map side, so each group's distinct hashes are deduplicated
    before the shuffle), then sort + slice to the k smallest.  One shuffle
    of O(distinct hashes); for bounded state at any cardinality use the
    ``KmvAgg`` two-phase aggregate instead.
    """
    by = list(by)
    # NULL keys are excluded, matching COUNT(DISTINCT) semantics (and the
    # oracle's WHERE key IS NOT NULL) — without the filter a NULL hash would
    # ride along as float64 through pandas paths and as a phantom distinct.
    h = df.where(F.col(key).isNotNull()).select(
        *by, kmv_hash_col(key).alias("__kmv_h")
    )
    mins = F.slice(F.sort_array(F.collect_set("__kmv_h")), 1, k)
    out = h.groupBy(*by).agg(mins.alias("__kmv_mins"))
    return out.select(*by, _estimate_expr(F.col("__kmv_mins"), k).alias("approx_distinct"))


def _refuse_float_hashes():
    raise ValueError(
        "kmv_udaf: hash batch arrived as float64 (input column has "
        "NULLs); filter NULL keys before the aggregate — float "
        "coercion destroys hash bits above 2^53"
    )


@udaf(input_types=["bigint"], result_type="bigint", name="kmv_udaf")
class KmvAgg:
    """KMV sketch as a 5-phase aggregate: state = sorted tuple of ≤ k
    smallest distinct hashes.  ``merge`` is a sorted-set union truncated
    to k — associative and commutative, so Spark's two-phase plan
    (partial per partition → shuffle O(groups·k) → merge) is exact."""

    K = KMV_K

    def create_state(self):
        return ()

    def accumulate(self, state, h):
        if isinstance(h, float):  # see accumulate_batch
            _refuse_float_hashes()
        if h is None or (state and len(state) == self.K and h >= state[-1]):
            return state
        if h in state:
            return state
        return tuple(sorted(state + (int(h),))[: self.K])

    def accumulate_batch(self, state, hs):
        # Unannotated, so the fold hands over the exact Series view
        # (scalar.batch_values): a NULL-bearing int64 batch arrives as
        # masked Int64 on every surface and null keys just drop out
        # below.  The streaming operators fold through the same core, but
        # Spark's applyInPandasWithState has already turned such a column
        # into float64 before our code runs: the 53-bit mantissa has
        # corrupted hashes >= 2^53 and astype back cannot detect it —
        # refuse loudly (here and, for small micro-batches, in
        # accumulate) and tell the caller to pre-filter nulls
        # (kmv_distinct does).
        if hs.dtype.kind == "f":
            _refuse_float_hashes()
        vals = hs.dropna()
        if not len(vals):
            return state
        merged = set(state)
        merged.update(vals.astype("int64").tolist())
        return tuple(sorted(merged)[: self.K])

    def merge(self, a, b):
        if not a:
            return b
        if not b:
            return a
        return tuple(sorted(set(a) | set(b))[: self.K])

    def finish(self, state):
        n = len(state)
        if n < self.K:
            return n
        import math

        # same IEEE-double expression as the Catalyst/oracle formulation
        return int(math.floor((self.K - 1.0) * float(KMV_SPACE) / float(state[-1])))


def skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Join-key skew diagnostic — the number you look at BEFORE salting:
    the ``top`` heaviest keys with exact counts and their corpus share in
    parts-per-million — ``(rank, key, cnt, ppm)``, ties to the smaller
    key.  ``ppm = cnt * 1_000_000 DIV total`` (integer division, exact in
    any engine — no float share).

    A hot key's ppm directly sizes the salt factor a shuffle join needs
    (a key at 200_000 ppm = 20% of the table lands 20% of the shuffle on
    one reducer).  Plan: ONE map-side-combined count aggregate over the
    key (O(distinct) shuffle rows), total as a broadcast single-row
    cross (1-row, lint-whitelisted shape) — no window over the raw
    table, no sort of the full key space (TakeOrdered).
    """
    keyed = df.where(F.col(key).isNotNull())
    counts = keyed.groupBy(F.col(key).cast("string").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    total = keyed.agg(F.count(F.lit(1)).cast("bigint").alias("__total"))
    topk = (
        counts.orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top)
        .crossJoin(F.broadcast(total))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "rank",
            "key",
            "cnt",
            # DECIMAL numerator: cnt*1e6 in non-ANSI BIGINT wraps silently
            # past ~9.2e12 rows per key (the source_token_tv overflow class,
            # ADVICE r7); the quotient is <= 1e6 so the OUTPUT stays BIGINT
            F.expr(
                "CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000"
                " DIV __total AS BIGINT)"
            ).alias("ppm"),
        )
    )


def bloom_build(
    small: DataFrame, key: str, m_bits: int = 512, k_hashes: int = 2
) -> list:
    """Build a Bloom filter over the small side's keys: ``m_bits`` bits
    packed into ``m_bits/64`` signed int64 words (driver-side, bounded by
    ``m_bits`` regardless of key cardinality).

    Bit positions are md5-derived (``md5int32(key || ':' || i) % m``) so
    any engine reproduces the exact same filter — no library bloom, no
    seed.  The distinct positions are one bounded aggregate
    (O(m) rows max after DISTINCT) collected to the driver.
    """
    from .text import token_hash

    pos = (
        small.where(F.col(key).isNotNull())
        .select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            token_hash(
                                F.concat(
                                    F.col(key).cast("string"), F.lit(f":{i}")
                                )
                            ),
                            F.lit(m_bits),
                        ).alias("p")
                        for i in range(k_hashes)
                    ]
                )
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in pos:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # Java longs are signed: fold bit 63 into the sign
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_prune(
    big: DataFrame,
    key: str,
    words: list,
    m_bits: int = 512,
    k_hashes: int = 2,
) -> DataFrame:
    """Filter ``big`` to rows whose key MIGHT be in the bloom set: all
    ``k_hashes`` bit positions set.  No false negatives ever (a present
    key's bits are all set by construction); false positives pass and
    are eliminated by the join itself.

    This is THE map-side shuffle reducer at 100 TB: the filter is an
    O(m/64)-long literal folded into the scan's partition-local predicate
    (no join, no shuffle, whole-stage codegen bit math), so the fact
    table shrinks to ~(match + fp) rows BEFORE the join exchange —
    Spark's own runtime row-level filtering does exactly this shape with
    an injected bloom; here the filter is explicit, deterministic, and
    oracle-checkable.  Bit test: ``(words[p DIV 64] >> (p % 64)) & 1``
    — arithmetic shift is fine because the mask keeps only the target
    bit.
    """
    from .text import token_hash

    words_sql = "array({})".format(",".join(f"{int(w)}L" for w in words))
    ps = F.array(
        *[
            F.pmod(
                token_hash(
                    F.concat(F.col(key).cast("string"), F.lit(f":{i}"))
                ),
                F.lit(m_bits),
            )
            for i in range(k_hashes)
        ]
    )
    staged = big.where(F.col(key).isNotNull()).withColumn("__bp", ps)
    test = (
        f"forall(__bp, p -> (shiftright(element_at({words_sql}, "
        f"cast(p DIV 64 AS INT) + 1), cast(p % 64 AS INT)) & 1) = 1)"
    )
    return staged.where(F.expr(test)).drop("__bp")


def bloom_prejoin_gate(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    m_bits: int = 512,
    k_hashes: int = 2,
) -> DataFrame:
    """Bloom pre-join quality gate: one row
    ``(n_big, n_bloom_pass, n_exact_match, n_false_pos)`` pinning the
    filter's behavior next to the exact semijoin —

    - ``n_bloom_pass >= n_exact_match`` ALWAYS (no false negatives, the
      bloom contract; asserted in tests),
    - ``n_false_pos = n_bloom_pass - n_exact_match`` is the extra-row
      cost a pipeline tunes ``m_bits``/``k_hashes`` against — the same
      estimator-gate pattern as ``count_min_freq``/``kmv_error_gate``.

    ONE pass: a broadcast left join against the distinct small keys
    (small by contract — it fit in a bloom build) feeds a single
    conditional aggregate computing all four counters — no count
    subqueries, no 1-row cross joins, map-side combinable.
    """
    from .text import token_hash

    words = bloom_build(small, small_key, m_bits, k_hashes)
    words_sql = "array({})".format(",".join(f"{int(w)}L" for w in words))
    ps = F.array(
        *[
            F.pmod(
                token_hash(
                    F.concat(F.col(big_key).cast("string"), F.lit(f":{i}"))
                ),
                F.lit(m_bits),
            )
            for i in range(k_hashes)
        ]
    )
    test = (
        f"forall(__bp, p -> (shiftright(element_at({words_sql}, "
        f"cast(p DIV 64 AS INT) + 1), cast(p % 64 AS INT)) & 1) = 1)"
    )
    sk = (
        small.where(F.col(small_key).isNotNull())
        .select(F.col(small_key).alias("__k"))
        .distinct()
    )
    b = (
        big.where(F.col(big_key).isNotNull())
        .withColumn("__bp", ps)
        .withColumn("__pass", F.expr(test))
        .join(F.broadcast(sk), F.col(big_key) == F.col("__k"), "left")
    )
    return b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_big"),
        F.count(F.when(F.col("__pass"), 1)).cast("bigint").alias(
            "n_bloom_pass"
        ),
        F.count(F.when(F.col("__k").isNotNull(), 1)).cast("bigint").alias(
            "n_exact_match"
        ),
        F.count(F.when(F.col("__pass") & F.col("__k").isNull(), 1))
        .cast("bigint")
        .alias("n_false_pos"),
    )


def bloom_tuning_gate(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    m_list: Sequence[int] = (512, 8192),
    k_hashes: int = 2,
) -> DataFrame:
    """:func:`bloom_prejoin_gate` at several filter widths in ONE pass —
    ``(m_bits, n_big, n_bloom_pass, n_exact_match, n_false_pos)`` per
    width.  The point is the tuning curve: an under-sized filter
    saturates (n_bloom_pass -> n_big, the prune buys nothing) while a
    properly-sized one prunes to ~n_exact_match — the same
    multi-width-next-to-exact shape as ``kmv_error_gate``.

    All widths share the scan AND the hashing: the k_hashes md5s are
    STAGED into their own projection (the with_simhash lesson —
    re-inlining the hash expression into every width's bit test was
    measured to double the per-width cost), each width's positions are
    cheap ``% m`` over the staged columns, every width's pass-bit is a
    column, and one conditional aggregate emits the whole curve.  No
    extra shuffle per width.
    """
    from .text import token_hash

    b = big.where(F.col(big_key).isNotNull())
    for i in range(k_hashes):
        b = b.withColumn(
            f"__bh_{i}",
            token_hash(
                F.concat(F.col(big_key).cast("string"), F.lit(f":{i}"))
            ),
        )
    hashes = [F.col(f"__bh_{i}") for i in range(k_hashes)]
    pass_cols = {}
    for m in m_list:
        words = bloom_build(small, small_key, m, k_hashes)
        words_sql = "array({})".format(
            ",".join(f"{int(w)}L" for w in words)
        )
        ps = F.array(*[F.pmod(h, F.lit(m)) for h in hashes])
        col = f"__pass_{m}"
        test = (
            f"forall(__bp_{m}, p -> (shiftright(element_at({words_sql}, "
            f"cast(p DIV 64 AS INT) + 1), cast(p % 64 AS INT)) & 1) = 1)"
        )
        b = b.withColumn(f"__bp_{m}", ps).withColumn(col, F.expr(test))
        pass_cols[m] = col
    sk = (
        small.where(F.col(small_key).isNotNull())
        .select(F.col(small_key).alias("__k"))
        .distinct()
    )
    b = b.join(F.broadcast(sk), F.col(big_key) == F.col("__k"), "left")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_big")]
    for m, col in pass_cols.items():
        aggs.append(
            F.count(F.when(F.col(col), 1)).cast("bigint").alias(f"__p{m}")
        )
        aggs.append(
            F.count(F.when(F.col(col) & F.col("__k").isNull(), 1))
            .cast("bigint")
            .alias(f"__fp{m}")
        )
    aggs.append(
        F.count(F.when(F.col("__k").isNotNull(), 1))
        .cast("bigint")
        .alias("n_exact_match")
    )
    one = b.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(int(m)).cast("int").alias("m_bits"),
                F.col("n_big").alias("n_big"),
                F.col(f"__p{m}").alias("n_bloom_pass"),
                F.col("n_exact_match").alias("n_exact_match"),
                F.col(f"__fp{m}").alias("n_false_pos"),
            )
            for m in m_list
        ]
    )
    return one.select(F.explode(rows).alias("__r")).select(
        "__r.m_bits",
        "__r.n_big",
        "__r.n_bloom_pass",
        "__r.n_exact_match",
        "__r.n_false_pos",
    )


def kmv_error_gate(
    df: DataFrame, key: str, ks: Sequence[int] = (16, 64, 256)
) -> DataFrame:
    """KMV estimator-quality gate: the approximate distinct count at
    several sketch widths NEXT TO the exact ``COUNT(DISTINCT key)`` —
    ``(k, approx_distinct, exact_distinct)`` per k.

    This pins the accuracy the sketch buys at each width (standard error
    ≈ 1/sqrt(k-2): k=16 → ~27%, k=64 → ~13%, k=256 → ~6%) as a gated,
    cross-engine-deterministic result — the number a pipeline tunes k
    against, exactly like ``count_min_freq`` does for CMS and
    ``minhash_jaccard_est`` for signatures (the one sketch family whose
    accuracy was not yet gate-pinned, VERDICT r6 ask #7).

    One pass: a single hash-aggregate collects the sorted distinct-hash
    array AND the exact distinct count; every k then reads its estimate
    from a prefix slice of the same array — three sketch widths cost one
    scan, not three.  (The exact side is what makes this a GATE, not a
    production path — production uses :func:`kmv_distinct` / ``KmvAgg``
    with bounded state and no exact baseline.)
    """
    kmax = max(ks)
    h = df.where(F.col(key).isNotNull()).select(
        F.col(key).alias("__k"), kmv_hash_col(key).alias("__h")
    )
    agg = h.agg(
        F.slice(F.sort_array(F.collect_set("__h")), 1, kmax).alias("__mins"),
        F.countDistinct("__k").cast("long").alias("exact_distinct"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(int(k)).cast("int").alias("k"),
                _estimate_expr(F.slice(F.col("__mins"), 1, int(k)), int(k))
                .cast("long")
                .alias("approx_distinct"),
            )
            for k in ks
        ]
    )
    return agg.select(
        F.explode(rows).alias("__r"), "exact_distinct"
    ).select("__r.k", "__r.approx_distinct", "exact_distinct")


def kmv_source_similarity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 16,
) -> DataFrame:
    """Pairwise token-set similarity between groups, estimated from KMV
    sketches — corpus-composition analysis ("how much does src A overlap
    src B?") without ever joining the corpora.

    Per group only the k smallest distinct token hashes survive (windowed
    top-k: the shuffle carries distinct (group, hash) pairs, the state per
    group is bounded at k).  The pairwise stage then works on n_groups
    k-length arrays — broadcastable at any corpus size, since sketches,
    not documents, are compared.  Estimator: with M(S) the k smallest of
    S, J ≈ |M(A∪B) ∩ A ∩ B| / |M(A∪B)| (the standard KMV Jaccard
    estimator; exact whenever the true union is smaller than k).

    Hashing is the repo's md5 bridge (text.py::token_hash), so a SQL
    engine reproduces every sketch bit-for-bit."""
    from pyspark.sql import Window

    from .text import token_hash, tokens

    pairs = (
        df.select(
            F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("tok")
        )
        .where(F.col("tok") != "")
        .select("g", token_hash(F.col("tok")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("g").orderBy("h")
    sk = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("g")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"))
    )
    a = sk.select(F.col("g").alias("src_a"), F.col("sk").alias("ska"))
    b = sk.select(F.col("g").alias("src_b"), F.col("sk").alias("skb"))
    j = a.crossJoin(F.broadcast(b)).where(F.col("src_a") < F.col("src_b"))
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("ska"), F.col("skb")))), 1, k
    )
    inter = F.size(
        F.filter(
            merged,
            lambda x: F.array_contains(F.col("ska"), x)
            & F.array_contains(F.col("skb"), x),
        )
    )
    denom = F.size(merged)
    est = F.floor(
        inter.cast("double") / denom.cast("double") * 1_000_000 + F.lit(0.5)
    ) / 1_000_000
    return j.select(
        "src_a",
        "src_b",
        inter.cast("bigint").alias("n_shared"),
        denom.cast("bigint").alias("n_union_k"),
        est.alias("jaccard_est"),
    )


#: count-min defaults: 4 independent hash rows x 256 cells = 1024 int64
#: counters TOTAL, regardless of vocabulary size
CMS_DEPTH = 4
CMS_WIDTH = 256


def count_min_sketch(
    df: DataFrame,
    text_col: str = "text",
    d: int = CMS_DEPTH,
    w: int = CMS_WIDTH,
) -> DataFrame:
    """Build a Count-Min sketch of the token frequency stream (Cormode &
    Muthukrishnan, "An improved data stream summary: the count-min sketch
    and its applications", J. Algorithms 2005): ``d`` hash rows of ``w``
    cells; every token increments one cell per row.

    Returns the sketch as ``(r, cell, cnt)`` rows — at most ``d*w`` of
    them, independent of vocabulary size.  That is the whole point at
    100 TB: exact per-token counts shuffle O(vocabulary) keys, the sketch
    shuffles O(d*w) after map-side combine, and sketches from different
    corpora/days merge by cell-wise addition.

    Determinism: row r's hash of token t is ``md5int32(r || ':' || t)
    mod w`` — the md5→int bridge every oracle reproduces bit-exactly.
    """
    from .text import token_hash, tokens

    words = df.select(F.explode(tokens(F.col(text_col))).alias("tok")).where(
        F.col("tok") != ""
    )
    cells = words.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            token_hash(
                                F.concat(F.lit(f"{r}:"), F.col("tok"))
                            ),
                            F.lit(w),
                        ).cast("int").alias("cell"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("__rc")
    ).select(F.col("__rc.r").alias("r"), F.col("__rc.cell").alias("cell"))
    return cells.groupBy("r", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def count_min_sketch_keys(
    df: DataFrame,
    key: str,
    d: int = CMS_DEPTH,
    w: int = CMS_WIDTH,
) -> DataFrame:
    """:func:`count_min_sketch` over a KEY COLUMN instead of a token
    stream — same ``(r, cell, cnt)`` contract, same md5 cell derivation
    over the key's string rendering, NULL keys excluded."""
    from .text import token_hash

    keys = df.where(F.col(key).isNotNull()).select(
        F.col(key).cast("string").alias("tok")
    )
    cells = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            token_hash(
                                F.concat(F.lit(f"{r}:"), F.col("tok"))
                            ),
                            F.lit(w),
                        ).cast("int").alias("cell"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("__rc")
    ).select(F.col("__rc.r").alias("r"), F.col("__rc.cell").alias("cell"))
    return cells.groupBy("r", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def join_size_gate(
    a: DataFrame,
    a_key: str,
    b: DataFrame,
    b_key: str,
    d: int = CMS_DEPTH,
    w: int = CMS_WIDTH,
) -> DataFrame:
    """Pre-shuffle join-size estimation (Cormode & Muthukrishnan's
    inner-product application of Count-Min) gated next to the exact
    answer: ``|A join B| = sum_k cA(k)*cB(k)``, estimated as
    ``min_r sum_cell cmsA[r,cell]*cmsB[r,cell]`` — one row
    ``(join_size_exact, join_size_est)``.

    This is the number a planner consults BEFORE committing to a
    shuffle join (a skewed self-join's output is sum c(k)^2, which can
    dwarf the inputs): the sketches are d*w counters per side — they
    fit on the driver at any scale, merge across partitions/days, and
    the inner product costs O(d*w) — while the exact side shuffles the
    per-key count tables (vocabulary-sized, map-side combined), which
    the gate affords but a 100 TB planner would skip.  The CMS
    guarantee transfers: ``est >= exact`` always (collisions only add),
    asserted in tests.
    """
    ca = count_min_sketch_keys(a, a_key, d, w)
    cb = count_min_sketch_keys(b, b_key, d, w)
    prod = (
        ca.alias("a")
        .join(cb.alias("b"), ["r", "cell"])
        .groupBy("r")
        # DECIMAL product: cnt*cnt in non-ANSI BIGINT wraps silently at
        # extreme skew (~3e9 rows on one key), breaking est >= exact
        .agg(
            F.sum(
                F.col("a.cnt").cast("decimal(19,0)")
                * F.col("b.cnt").cast("decimal(19,0)")
            ).alias("ip")
        )
        # disjoint sketches -> empty join -> min(ip) is NULL; the true
        # inner product of all-zero overlap is 0, keeping est >= exact
        .agg(
            F.coalesce(F.min("ip"), F.lit(0))
            .cast("bigint")
            .alias("join_size_est")
        )
    )
    ka = (
        a.where(F.col(a_key).isNotNull())
        .groupBy(F.col(a_key).cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    kb = (
        b.where(F.col(b_key).isNotNull())
        .groupBy(F.col(b_key).cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    exact = (
        ka.join(kb, "k")
        .agg(
            F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
            .cast("bigint")
            .alias("join_size_exact")
        )
    )
    return exact.crossJoin(F.broadcast(prod))


def count_min_estimate(
    df: DataFrame,
    query_tokens: Sequence[str],
    text_col: str = "text",
    d: int = CMS_DEPTH,
    w: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the Count-Min sketch next to ground truth: for each
    queried token, ``(token, true_cnt, cms_est)`` where ``cms_est`` is
    the min over the token's ``d`` cells.

    CMS guarantees ``est >= true`` always and
    ``est <= true + e*N/w`` with high probability — emitting both numbers
    makes the estimator's error a gated, cross-engine-deterministic
    result (the number a pipeline tunes ``w`` against), exactly like
    ``minhash_jaccard_est`` does for signatures.  The true counts here
    are only computed for the |query| tokens — cheap — while the sketch
    side never materializes per-token state.

    The truth side counts over the SAME stream the sketch ingested
    (empty-string tokens excluded on both sides) — otherwise probing
    ``''`` could yield ``true_cnt > cms_est`` and break the documented
    ``est >= true`` invariant (ADVICE r6, low).
    """
    from .text import token_hash, tokens

    sketch = count_min_sketch(df, text_col, d, w)
    qt = None
    for r in range(d):
        part = F.array(
            *[
                F.struct(
                    F.lit(t).alias("token"),
                    F.lit(r).alias("r"),
                    F.pmod(
                        token_hash(F.lit(f"{r}:{t}")), F.lit(w)
                    ).cast("int").alias("cell"),
                )
                for t in query_tokens
            ]
        )
        qt = part if qt is None else F.concat(qt, part)
    spark = df.sparkSession
    probes = (
        spark.range(1)
        .select(F.explode(qt).alias("__q"))
        .select("__q.token", "__q.r", "__q.cell")
    )
    est = (
        probes.join(F.broadcast(sketch), ["r", "cell"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )
    truth = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.col("tok") != "")  # same filter as count_min_sketch
        .where(F.col("tok").isin(list(query_tokens)))
        .groupBy(F.col("tok").alias("token"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
    )
    return (
        est.join(truth, "token", "left")
        .select(
            "token",
            F.coalesce("true_cnt", F.lit(0)).cast("bigint").alias("true_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
        )
    )
