"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of this module — SURVEY.md §7.8):

- **exact_dedup** is one hash-shuffle on a 32-hex digest, not on the
  document body: at 100 TB the shuffle moves ~O(docs·32B), and AQE handles
  skew from pathological duplicate counts.
- **minhash_signature** is computed entirely JVM-side (split → transform →
  array_min over md5s), no Python workers; cost is linear per document and
  embarrassingly parallel — no shuffle at all.
- **lsh_candidate_pairs** shuffles once on (band index, band value) and
  only self-joins *within* buckets, which is the whole point of LSH: the
  quadratic pair space never materializes.  Bucket skew (a band value
  shared by thousands of docs) is the classic hazard; callers cap it with
  ``max_bucket`` (buckets above the cap are dropped and reported, the
  standard large-scale practice).
- **simhash** reduces each doc to one 16-bit integer; near-dup candidates
  are equal-simhash buckets — again a single small shuffle.

Every operator has an exact DuckDB oracle (md5 and the hex→int conversion
are bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import token_hash, tokens

__all__ = [
    "content_hash",
    "dup_clusters",
    "exact_dedup",
    "minhash_signature",
    "lsh_candidate_pairs",
    "simhash",
    "simhash_hamming_pairs",
    "ngram_shingles",
    "shingles_of",
    "with_shingles",
    "jaccard",
    "near_dup_pairs_jaccard",
    "embedding_near_dup",
    "cosine",
    "decontaminate",
    "lsh_join",
    "with_simhash",
]

SIMHASH_BITS = 16


def content_hash(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical content; keep the minimum id per group.

    Returns ``(h, keep_id, n_copies)`` — one row per distinct content.
    A 100 TB-safe single shuffle keyed on the digest.
    """
    return (
        df.select(content_hash(text_col).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(
            F.min(id_col).cast("long").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signature(
    text: Column | str, k: int = 8, toks: "Column | str | None" = None
) -> Column:
    """k-permutation MinHash over word unigrams, as an array<string> of the
    lexicographic-min ``md5(j || ':' || token)`` per permutation j.

    Using md5 as the permutation family keeps the signature reproducible in
    any engine; min over hex strings ≡ min over 128-bit ints.

    Pass a pre-staged ``toks`` column on hot paths: the signature
    references the tokenization once per permutation (k sites) and
    Catalyst does no CSE inside a projection — the decontaminate lesson
    (see :func:`with_shingles`).  Passing ``toks`` as a COLUMN NAME
    builds the whole signature as one JVM-parsed SQL string (identical
    expression tree, ~50 fewer py4j round trips per call — the
    with_simhash construction-cost rule, r10)."""
    if isinstance(toks, str):
        parts = ", ".join(
            f"array_min(transform(`{toks}`, t -> md5(concat('{j}:', t))))"
            for j in range(k)
        )
        return F.expr(f"array({parts})")
    if toks is None:
        toks = tokens(text)

    def perm(j: int):
        # NB: must be a ONE-arg lambda — Spark passes (element, index) to
        # two-arg callables, so a `j=j` default would receive the index
        prefix = f"{j}:"
        return lambda t: F.md5(F.concat(F.lit(prefix), t))

    return F.array(*[F.array_min(F.transform(toks, perm(j))) for j in range(k)])


def _banded(
    df: DataFrame, id_col: str, text_col: str, k: int, band_size: int
) -> DataFrame:
    """Explode each doc's minhash signature into (id, band, bval) rows —
    the shared first stage of within-corpus and cross-corpus LSH.

    Tokens are staged in their own projection so the k-permutation
    signature hashes each token k times but tokenizes the document only
    once (not k times — no CSE inside a projection)."""
    n_bands = k // band_size
    staged = df.withColumn("__mh_toks", tokens(F.col(text_col)))
    sig = minhash_signature(F.col(text_col), k, toks="__mh_toks")
    # the band explode as one parsed SQL string too (same struct/concat_ws
    # /GetArrayItem nodes as the Column-composition form; r10
    # construction-cost rule)
    band_structs = ", ".join(
        "struct({b} AS band, concat_ws('|', {items}) AS bval)".format(
            b=b,
            items=", ".join(
                f"`sig`[{b * band_size + i}]" for i in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    return staged.select(F.col(id_col).alias("id"), sig.alias("sig")).select(
        "id",
        F.explode(F.expr(f"array({band_structs})")).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    band_size: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded-LSH candidate pairs ``(a, b)`` with a < b.

    Signature of k minhashes split into k/band_size bands; docs sharing any
    band value become a candidate pair.  Quadratic work is confined to
    buckets, and buckets larger than ``max_bucket`` are dropped (skew guard).
    """
    banded = _banded(df, id_col, text_col, k, band_size)

    counts = banded.groupBy("band", "bval").agg(F.count(F.lit(1)).alias("c"))
    small = counts.where(F.col("c") <= max_bucket).select("band", "bval")
    banded = banded.join(F.broadcast(small), ["band", "bval"])

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    return pairs


def _simhash_bits(hashes: Column, bits: int) -> Column:
    """Fold an int-array column of per-token hashes into the simhash long:
    bit b of the result is set when more than half the tokens have bit b set.
    Pure integer shift/mask work — cheap even repeated per bit."""
    n = F.size(hashes)

    def bit_set(b: int):
        # one-arg closure factory on purpose (see minhash_signature note)
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    out = F.lit(0).cast("long")
    for b in range(bits):
        ones = F.size(F.filter(hashes, bit_set(b)))
        out = out + F.when(ones * 2 > n, F.lit(1 << b)).otherwise(F.lit(0)).cast(
            "long"
        )
    return out


def simhash(text: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over word unigrams as a single Column expression.

    NOTE: inside one expression Catalyst re-inlines the per-token md5 array
    into every per-bit filter (higher-order functions are codegen-fallback,
    no common-subexpression elimination), costing ``bits``× the hashing
    work.  Hot paths should use :func:`with_simhash`, which materializes
    the hash array in its own projection first (measured 4.3s → ~0.7s over
    50k docs at 16 bits)."""
    toks = tokens(text)
    return _simhash_bits(F.transform(toks, lambda t: token_hash(t)), bits)


def _simhash_bits_sql(arr: str, bits: int) -> str:
    """:func:`_simhash_bits` as ONE SQL expression string over an array
    column reference — the same expression tree (same per-bit
    filter/size/CASE nodes, same left-associated integer sum, so the
    result is bit-identical), but parsed JVM-side in a single py4j round
    trip.  The Column-composition form costs ``bits`` × ~8 py4j calls of
    driver time PER construction (~1 s at 16 bits, measured r10) — pure
    plan-building overhead that the bench pays on every invocation; the
    kmeans ``cents_expr`` one-parsed-literal lesson applied here."""
    n = f"size({arr})"
    parts = ["CAST(0 AS BIGINT)"]
    for b in range(bits):
        ones = f"size(filter({arr}, h -> (shiftright(h, {b}) & 1) = 1))"
        parts.append(
            f"CAST(CASE WHEN ({ones} * 2) > {n} THEN {1 << b} "
            "ELSE 0 END AS BIGINT)"
        )
    return " + ".join(parts)


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    out: str = "simhash",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Two-stage simhash: project the per-token hash array (one md5 per
    token), then fold the bit votes over the materialized array.  The two
    projections stay separate because CollapseProject refuses to duplicate
    a non-cheap producer expression referenced ``bits`` times — so each
    token is hashed exactly once.

    Both projections are built as single SQL strings
    (:func:`_simhash_bits_sql`): the expression trees are unchanged, but
    construction is two py4j calls + JVM parses instead of ~130 py4j
    round trips (r10: ~1-2 s of driver time per call at 16 bits)."""
    h_sql = (
        f"transform(split(trim(`{text_col}`), '\\\\s+'), "
        "t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT))"
    )
    return (
        df.withColumn("__sh_hashes", F.expr(h_sql))
        .withColumn(out, F.expr(_simhash_bits_sql("`__sh_hashes`", bits)))
        .drop("__sh_hashes")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    max_dist: int = 3,
    n_chunks: int = 4,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ``<= max_dist``,
    found via pigeonhole chunk banding: split the ``bits``-bit simhash
    into ``n_chunks`` equal chunks — any pair within distance
    ``< n_chunks`` differs in fewer chunks than exist, so it must agree
    EXACTLY on at least one chunk (requires ``max_dist < n_chunks``;
    no false negatives).  Candidates come from a chunk-value equi-join;
    the exact distance check ``bit_count(a XOR b)`` filters false
    positives.

    Returns ``(a, b, dist)`` with a < b.  Scale: the join is bucketed on
    (chunk index, chunk value) — the quadratic pair space is confined to
    buckets of expected size N/2^(bits/n_chunks), and ``max_bucket``
    truncates degenerate buckets deterministically by (md5(id), id)
    order, same contract as lsh_candidate_pairs.  The simhash itself is
    one staged integer per doc (with_simhash), so the shuffle carries
    (id, 16-bit int) rows only.

    Duplicate-heavy corpora: the OUTPUT of any pair-emitting near-dup op
    is quadratic in duplicate multiplicity — m exact copies of a doc
    contribute m·(m-1)/2 pairs each, and every near-dup relation
    multiplies by m² (r6 stress test: 10x-replicated sf0.1 documents →
    216M true pairs).  Run :func:`exact_dedup` first and pair only the
    canonical survivors (measured 240 s → 8 s on the same corpus); the
    distance predicate sits inside the join condition so candidate
    combinations stream rather than materialize."""
    if max_dist >= n_chunks:
        raise ValueError(
            "pigeonhole banding requires max_dist < n_chunks "
            f"(got {max_dist} >= {n_chunks})"
        )
    chunk_bits = bits // n_chunks
    # MATERIALIZE the per-doc digest before the self-join (r10 perf,
    # guide §8 "decide with small rows"): the simhash projection is the
    # expensive stage (one md5 per token + the per-bit vote folds), and
    # the self-join's build side re-executed the whole subtree — a
    # broadcast join reuses no exchange.  localCheckpoint pins the tiny
    # (id, 16-bit int) table, so tokenization+hashing run ONCE and both
    # join sides (and the window) read N·16-byte rows.
    # r10 MEASURED NEGATIVE: replacing the HOF vote folds with an
    # explode + 16 native shift/mask SUM aggregates (bit-identical, fully
    # codegen) ran 1.17x SLOWER best-of-7 in alternating isolated
    # sessions at sf0.1 — the per-token row-ification plus the groupBy
    # exchange of (id, 17 longs) partials costs more than the
    # interpreted per-element calls save at this doc size.  Reverted;
    # the r2 candidate form needs to stay shuffle-free to win.
    sh = with_simhash(df, text_col, out="sh", bits=bits).select(
        F.col(id_col).alias("id"), "sh"
    ).localCheckpoint()  # eager: lazy A/B-measured 1.27x slower (r11)
    chunks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("cval"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("__ck"),
    ).select(
        "id", "sh", F.col("__ck.chunk").alias("chunk"), F.col("__ck.cval").alias("cval")
    )
    # r10 opt round: the truncation used to be an unconditional
    # row_number window — an Exchange+Sort of the WHOLE exploded table
    # partitioned by (chunk, cval), which has at most
    # n_chunks * 2**chunk_bits (= 64 at the defaults) distinct values, so
    # at scale every row funnels through <= 64 reducers (a structural
    # skew ceiling), and the self-join executed that subtree twice.
    # Identical output, cheaper plan (the lsh_candidate_pairs guard
    # shape): count bucket sizes (map-side partial over <= 64 groups),
    # broadcast the — normally EMPTY — set of oversized buckets, let
    # un-flagged rows pass through untouched, and pay the row_number
    # truncation only on rows inside flagged buckets.
    counts = chunks.groupBy("chunk", "cval").agg(F.count(F.lit(1)).alias("__bc"))
    flagged_rows = counts.where(F.col("__bc") > max_bucket).select("chunk", "cval")
    # r10 opt round 2: branch at CONSTRUCTION time on whether any bucket is
    # actually oversized (one cheap driver action over the <= 64-row count
    # aggregate of the checkpointed digest table).  On the normal path —
    # production corpora after exact_dedup never flag at max_bucket=100k —
    # the guard subtree vanishes from the plan entirely, and with it the
    # round-1 residual the before-plan exposed: the counts aggregate +
    # anti-join + window were instantiated FOUR times (twice per self-join
    # side; broadcast build sides reuse nothing), and the output needed a
    # full ``distinct()`` exchange because a pair agreeing on several
    # chunks was emitted once per agreeing chunk.  Instead each pair is
    # emitted exactly once, at its FIRST agreeing chunk: the join row has
    # both simhashes, so "an earlier chunk also agrees" is pure bit math
    # in the join predicate, and the result needs no dedup.  Provably the
    # same set: with no truncation, a pair is a candidate at chunk c iff
    # its chunk values agree there, so keeping exactly min{agreeing c}
    # picks one representative per pair and pigeonhole guarantees one
    # exists for every dist <= max_dist pair.  Plan: 2 shuffle exchanges +
    # 5 broadcasts + 4 count aggregates -> 1 broadcast, zero shuffles.
    if flagged_rows.isEmpty():
        mask = (1 << chunk_bits) - 1

        def _cval(side: str, c: int) -> Column:
            return F.shiftright(F.col(f"{side}.sh"), c * chunk_bits).bitwiseAND(
                F.lit(mask)
            )

        no_earlier_agree = F.lit(True)
        for c in range(n_chunks - 1):
            no_earlier_agree = no_earlier_agree & ~(
                (F.col("l.chunk") > F.lit(c)) & (_cval("l", c) == _cval("r", c))
            )
        left = chunks.alias("l")
        right = chunks.alias("r")
        dist = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).cast("int")
        return (
            left.join(
                right,
                (F.col("l.chunk") == F.col("r.chunk"))
                & (F.col("l.cval") == F.col("r.cval"))
                & (F.col("l.id") < F.col("r.id"))
                & (dist <= max_dist)
                & no_earlier_agree,
            )
            .select(
                F.col("l.id").alias("a"),
                F.col("r.id").alias("b"),
                dist.alias("dist"),
            )
        )
    # Degenerate/flagged path (exercised by the max_bucket truncation
    # test): keep the exact round-1 guard plan — truncation semantics are
    # "pair emitted iff SOME chunk keeps both members", which the
    # first-agreeing-chunk predicate cannot reproduce without knowing
    # which earlier-chunk rows were truncated away.
    flagged = F.broadcast(flagged_rows)
    wb = Window.partitionBy("chunk", "cval").orderBy(
        F.md5(F.col("id").cast("string")).asc(), F.col("id").asc()
    )
    over = (
        chunks.join(flagged, ["chunk", "cval"])
        .withColumn("__bn", F.row_number().over(wb))
        .where(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )
    chunks = chunks.join(flagged, ["chunk", "cval"], "left_anti").unionByName(over)
    left = chunks.alias("l")
    right = chunks.alias("r")
    # the distance predicate lives IN the join condition: candidate
    # combinations stream through the join and only true near-dup pairs
    # ever materialize into the downstream distinct — in a duplicate-
    # heavy corpus the candidate space is orders of magnitude larger
    # than the result (the r6 10x stress test hit ~300M candidates for
    # ~4M pairs)
    dist = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).cast("int")
    return (
        left.join(
            right,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.cval") == F.col("r.cval"))
            & (F.col("l.id") < F.col("r.id"))
            & (dist <= max_dist),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            dist.alias("dist"),
        )
        .distinct()
    )


def ngram_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (space-joined).

    NOTE: this single expression references the tokenization ~n+2 times
    (size guard, sequence bound, one ``element_at`` per gram position) and
    Catalyst does no common-subexpression elimination inside a projection —
    so the document is tokenized ~n+2 times per row.  Hot paths should use
    :func:`with_shingles`, which stages the token array in its own
    projection first so tokenization runs exactly once per document."""
    toks = tokens(text)
    return shingles_of(toks, n)


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an (ideally already-materialized) token
    array column."""
    # guard: Spark's sequence(1, 0) ramps DOWN ([1, 0]); short docs must
    # yield an empty shingle list instead
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )
    )


def _shingles_sql(arr: str, n: int) -> str:
    """:func:`shingles_of` as one SQL string over an array-column
    reference — identical expression nodes (same CASE guard, same
    ``i + j`` element_at chain), parsed JVM-side in one py4j round trip
    (the :func:`_simhash_bits_sql` construction-cost rule, r10)."""
    items = ", ".join(f"element_at({arr}, i + {j})" for j in range(n))
    return (
        f"CASE WHEN size({arr}) < {n} THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(1, size({arr}) - {n - 1}), "
        f"i -> concat_ws(' ', {items})) END"
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", out: str = "shingles", n: int = 3
) -> DataFrame:
    """Two-stage distinct-shingle projection (the :func:`with_simhash`
    pattern): materialize the token array in its own Project, then build
    the gram array from the column reference.  CollapseProject refuses to
    duplicate the non-cheap token expression referenced n+2 times, so each
    document is tokenized once instead of n+2 times.

    Both projections are single parsed SQL strings (r10 — the larger
    ``n``, the more py4j round trips the Column form paid per call)."""
    return (
        df.withColumn(
            "__toks", F.expr(f"split(trim(`{text_col}`), '\\\\s+')")
        )
        .withColumn(
            out, F.expr(f"array_distinct({_shingles_sql('`__toks`', n)})")
        )
        .drop("__toks")
    )


def shared_shingle_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """Exact duplicate-SPAN detection: flag documents containing any word
    ``n``-gram that also appears verbatim in another document, with the
    count of such shared shingles — the fixed-length-shingle variant of
    exact-substring training-data dedup (near-dups share *spans* long
    before whole documents match).

    Plan: distinct shingles per doc → md5 digest (the shuffle carries
    (doc_id, 32-B hash), never text) → per-digest distinct-doc count (two
    phase, map-side partial) → the >1 digest set joins back (small by
    construction — only genuinely shared spans — so AQE broadcasts it)
    → per-doc distinct shared-span count.  At 100 TB both aggregations
    key on the digest/doc-id; no step materializes cross-doc pairs.
    """
    # staged tokens→shingles projection + explode_outer: see decontaminate
    # for why (CSE-free inlining + InferFiltersFromGenerate pushdown would
    # otherwise tokenize each doc ~n+4 times).  The null gram an empty doc
    # emits becomes a null __h, which never equi-matches in the dup join.
    sh = (
        with_shingles(df, text_col, out="__grams", n=n)
        .select(F.col(id_col), F.explode_outer("__grams").alias("__g"))
        .select(id_col, F.md5("__g").alias("__h"))
        # r10 opt round: BOTH consumers below (the dup-digest aggregate —
        # a broadcast build side — and the join-back probe) re-executed
        # the tokenize+shingle+md5 projection; pin the narrow
        # (doc_id, 32-B digest) proxy once (the Change-3 staging rule:
        # the pinned table replaces a second full pass of the expensive
        # subtree, never carries text).  LAZY (r11): eager=False truncates
        # the plan identically (Dataset.localCheckpoint wraps a LogicalRDD
        # either way) but defers the compute into the consuming job, so a
        # multi-tier caller's waves overlap instead of serializing on one
        # driver-blocking count() per pin (the cascade's measured
        # anti-scaling, VERDICT r10 #3).
        .localCheckpoint(eager=False)
    )
    # (id, __h) rows are DISTINCT by construction — with_shingles applies
    # array_distinct per doc before the explode — so both aggregates
    # below use count(*), which equals the countDistinct the semantics
    # ask for while planning as ONE two-phase hash aggregate instead of
    # Spark's two-level distinct expansion (an extra Exchange + aggregate
    # pair per countDistinct; r10 opt round).  The NULL digest an empty
    # doc emits never reaches either count: it cannot equi-join `dup`,
    # and in `dup` itself a NULL group can only be flagged when >1 empty
    # docs exist, after which the equi-join still drops it.
    dup = (
        sh.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") > 1)
        .select("__h")
    )
    return (
        sh.join(dup, "__h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )


def dup_span_cascade(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lengths: tuple = (5, 10, 20),
) -> DataFrame:
    """Longest-shared-span approximation via a multi-length shingle
    cascade (RefinedWeb/Gopher-style exact-substring dedup without a
    suffix array): a document pair sharing a verbatim 20-token run shares
    every shorter run inside it, so tiers escalate 5 → 10 → 20 and each
    tier beyond the first runs ONLY over documents already flagged at the
    previous one — sound pruning by pigeonhole (both members of an
    n-gram-sharing pair are always flagged at every shorter tier).

    Per-doc output (one row per doc flagged at the base tier):
    ``n_spans_{n}`` distinct shared n-gram digests per tier (0 = clean at
    that tier) and ``max_shared_len``, the longest tier with any shared
    span — the dedup decision variable (drop/keep thresholds like "shares
    a 20-gram verbatim" read it directly).

    Scale: each tier is :func:`shared_shingle_flags` — digest-only
    shuffles, two-phase counts, no cross-doc pair materialization.  On a
    mostly-clean 100 TB corpus the base tier touches everything once and
    the expensive long-gram explodes touch only the suspicious subset
    (typically a few percent), which is the point of the cascade.
    """
    lengths = tuple(sorted(lengths))
    cand = df.select(id_col, text_col)
    tiers = []
    for n in lengths:
        # materialize each tier's per-doc flag table (r10 perf): tier n's
        # counts feed BOTH the next tier's candidate filter and the final
        # assembly join — left lazy, tier 3's plan re-derived tier 1's and
        # 2's whole explode+count pipelines several times over (the
        # measured plan was 2,468 lines / 186 exchanges).  The flag table
        # is the small proxy — (doc_id, n_spans) for flagged docs only.
        counts = shared_shingle_flags(
            cand, text_col, id_col, n=n
        ).withColumnRenamed(
            "n_dup_spans", f"n_spans_{n}"
        ).localCheckpoint(eager=False)  # lazy: see shared_shingle_flags
        tiers.append((n, counts))
        # next tier's candidates: docs flagged at this tier (keep text)
        cand = cand.join(counts.select(id_col), id_col)
    out = tiers[0][1]
    for n, c in tiers[1:]:
        out = out.join(c, id_col, "left").withColumn(
            f"n_spans_{n}", F.coalesce(F.col(f"n_spans_{n}"), F.lit(0))
        )
    msl = F.lit(lengths[0])
    for n in lengths[1:]:
        msl = F.when(F.col(f"n_spans_{n}") > 0, F.lit(n)).otherwise(msl)
    return out.withColumn("max_shared_len", msl.cast("int"))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two arrays (distinct-element semantics)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def near_dup_pairs_jaccard(
    pairs: DataFrame, text_a: str, text_b: str, n: int = 3
) -> Column:
    """Jaccard over word n-grams for a DataFrame of candidate pairs."""
    return F.round(
        jaccard(ngram_shingles(F.col(text_a), n), ngram_shingles(F.col(text_b), n)), 6
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two numeric arrays, computed JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    return dot / (na * nb)


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    threshold: float = 0.95,
    salt: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs within a coarse bucket (e.g. an IVF
    cell or label): the bucket join bounds the pair space, the cosine
    threshold filters.  Returns (a, b, sim).

    The vector NORM is staged once per item BEFORE the join — inlining
    :func:`cosine` in the pair projection would re-fold both squared
    norms (plus two sqrts) for every candidate pair, tripling the
    dominant per-pair cost of the quadratic stage.  ``dot/(l.n*r.n)``
    multiplies the identical sqrt results the inline form would, so the
    rounded similarity is bit-for-bit unchanged.

    The pair join is SALTED (guide §2.5): joined on bare ``bkt`` the
    shuffle has only as many distinct keys as buckets, and — the r10
    profile's finding — AQE's byte-based coalescing then collapses the
    tiny-but-quadratic-CPU exchange to ONE task (sum(|cell|²) fold work
    is invisible to a byte advisory).  The left row's deterministic
    ``pmod(xxhash64(id), S)`` salt with the right side replicated S ways
    spreads each bucket's pair space over S partitions; an explicit
    ``repartition(P, bkt, salt)`` (P = defaultParallelism, so
    scale-adaptive, and user-pinned so AQE will not re-coalesce it)
    feeds the join with no further exchange.  Each (a, b) pair is
    produced exactly once — at a's salt — so the output SET is
    unchanged.  S is capped small: the S× replication of the right side
    is the standard block-pair-join price and the byte cost that bounds
    it at scale.

    r10 perf note (measured NEGATIVE result): unrolling the per-pair dot
    to a 64-term codegen bracket chain A/B-measured 2.06x SLOWER here —
    Janino compile time of the big generated method swamps the
    interpreted-fold savings at bench data volumes (the same verdict as
    clustering._dist_pairs; OPTIMIZATION_r10.md).  The fold stays."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda x: x * x),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    base = df.select(
        F.col(id_col).alias("id"), F.col(bucket_col).alias("bkt"), v.alias("v")
    ).withColumn("n", norm)
    par = df.sparkSession.sparkContext.defaultParallelism
    n_salt = salt if salt is not None else max(1, min(16, par))
    if n_salt > 1:
        l = (
            base.withColumn(
                "__sl", F.pmod(F.xxhash64(F.col("id")), F.lit(n_salt)).cast("int")
            )
            .repartition(par, "bkt", "__sl")
            .alias("l")
        )
        r = (
            base.withColumn(
                "__sl",
                F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))),
            )
            .repartition(par, "bkt", "__sl")
            .alias("r")
        )
        salt_eq = F.col("l.__sl") == F.col("r.__sl")
    else:
        l, r = base.alias("l"), base.alias("r")
        salt_eq = F.lit(True)
    dot = F.aggregate(
        F.zip_with(F.col("l.v"), F.col("r.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        l.join(
            r,
            (F.col("l.bkt") == F.col("r.bkt"))
            & salt_eq
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.round(dot / (F.col("l.n") * F.col("r.n")), 6).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def semdedup_keep(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup over embeddings —
    cluster the corpus into coarse cells (k-means; caller supplies the
    assignment in ``cell_col``), then inside each cell drop every item
    that has an above-threshold cosine neighbor with a smaller id.
    Returns ``(id, cell, kept)`` with ``kept`` as 0/1.

    This is the ONE-PASS parallel variant of the paper's greedy scan:
    keeper = "no above-threshold neighbor with smaller id", decided
    independently per item.  Where the sequential greedy would re-admit
    an item whose only close neighbor was itself dropped, this variant
    still prunes it — it can over-prune a similarity chain, never
    under-prune — and in exchange the whole decision is a single
    cell-confined self-join + anti-join, no iteration, no driver state.

    Scale: the pair space is cell-confined, so cost is
    ``sum(|cell|^2)`` — k is the control knob (SemDeDup uses
    k ≈ N/1000-ish so cells stay bounded); both joins shuffle on the
    cell key only.  Similarity is rounded to 6 dp before the threshold
    compare so the survivor set is stable across IEEE summation
    orders."""
    pairs = embedding_near_dup(df, id_col, vec_col, cell_col, threshold)
    dropped = pairs.select(F.col("b").alias("__drop_id")).distinct()
    base = df.select(
        F.col(id_col).alias("id"), F.col(cell_col).alias("cell")
    )
    return (
        base.join(dropped, base.id == F.col("__drop_id"), "left")
        .select(
            "id",
            "cell",
            F.when(F.col("__drop_id").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("kept"),
        )
    )


def semdedup_keep_numpy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """:func:`semdedup_keep` with the per-cell pair scoring vectorized in
    numpy (``applyInArrow`` per cell): normalize the cell's vectors
    once, one matmul for the full similarity matrix, round half-up to
    6 dp, and apply the strict-upper-triangle smaller-id drop rule —
    identical verdicts to the Catalyst form (same 6 dp decision value;
    matmul reorders the dot sum but 6 dp absorbs ulp drift, the
    ``cosine_topk_numpy`` precedent), measured ~10x faster on dup-heavy
    cells because Spark's higher-order array folds are interpreted,
    never codegen'd.

    Memory contract: one |cell| x |cell| float64 matrix per task — the
    k knob must keep cells to tens of thousands of vectors (the same
    sum(|cell|^2) bound the Catalyst form pays in time, paid in memory
    instead).  This is the scale path; :func:`semdedup_keep` is the
    pure-Catalyst referee."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cell", T.LongType()),
            T.StructField("kept", T.IntegerType()),
        ]
    )

    # no type hints: this module's annotations are strings, and
    # applyInArrow's eval-type inference fails on them
    def per_cell(key, cell):
        ids = cell.column("id").to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = pc.list_flatten(cell.column("v")).to_numpy().reshape(len(ids), -1)[order]
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        sim = m @ m.T
        # floor(x*1e6+0.5)/1e6 == HALF_UP for the positive values that
        # can reach a positive threshold — the repo's rounding discipline
        rounded = np.floor(sim * 1e6 + 0.5) / 1e6
        dropped = np.triu(rounded >= threshold, 1).any(axis=0)
        return pa.table(
            {
                "id": ids,
                "cell": np.full(len(ids), key[0].as_py(), dtype="int64"),
                "kept": (~dropped).astype("int32"),
            }
        )

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(cell_col).cast("long").alias("cell"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    return base.groupBy("cell").applyInArrow(per_cell, out_schema)


def dup_clusters(
    pairs: DataFrame, a: str = "a", b: str = "b", max_iter: int = 25
) -> DataFrame:
    """Resolve near-duplicate *clusters* from candidate pairs: connected
    components by iterative min-label propagation, returning
    ``(doc_id, cluster_id)`` where ``cluster_id`` is the smallest doc id in
    the component (the canonical survivor).

    Each iteration is one distributed join + min-aggregate; convergence
    takes O(component diameter) rounds — tiny for dup clusters, which are
    near-cliques by construction.  ``localCheckpoint`` truncates lineage so
    plans don't grow across iterations (the standard Spark iterative
    pattern; GraphX/GraphFrames do the same internally).  The driver only
    ever sees a per-iteration change *count*, never the data.
    """
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("n"))
        .distinct()
        .withColumn("lbl", F.col("n"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.n)
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.n == neighbor_min.dst, "left")
            .select(
                F.col("n"),
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("x")
            .join(labels.alias("y"), "n")
            .where(F.col("x.lbl") != F.col("y.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("n").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word ``n``-gram with an evaluation set (the standard guard against
    eval-set leakage into a training corpus).

    Returns ``(doc_id, n_overlap, n_grams)`` for every contaminated
    training doc — ``n_overlap`` distinct shared shingles out of the doc's
    ``n_grams`` distinct shingles.

    100 TB posture: the eval side (benchmarks are small — thousands of
    docs) collapses to a DISTINCT shingle set and BROADCASTS; the training
    corpus explodes its shingles map-side and inner-joins the broadcast, so
    non-matching grams are dropped before the only shuffle (the per-doc
    overlap count over *hits*, which are rare).  The corpus is never
    shuffled whole and the pair space is never materialized.
    """
    # STAGE tokens then shingles in their own projections (the
    # :func:`with_simhash` trick, via :func:`with_shingles`): putting
    # ``size(grams)`` and ``explode(grams)`` in ONE select inlines the full
    # tokenize+shingle expression at each site, and ExtractGenerator then
    # hoists the ``size`` projection ABOVE the Generate — re-shingling the
    # whole document once per exploded gram row, O(doc_len x shingles) per
    # doc (measured 71 s vs ~1.5 s at 500 docs).  With the array
    # materialized first, CollapseProject refuses to duplicate the
    # non-cheap producer referenced twice, so each doc is shingled once.
    # explode_outer, not explode: InferFiltersFromGenerate would otherwise
    # add ``size(grams) > 0 AND isnotnull(grams)`` and push it below the
    # staging Project by alias substitution — re-inlining the shingle
    # expression two more times per doc.  Outer explode skips the
    # inference; the null gram an empty doc produces is dropped by the
    # inner join on gram (null never equi-matches).
    # explode_outer on the eval side too: plain explode lets
    # InferFiltersFromGenerate push a size()/isnotnull() filter below the
    # staging projection, re-inlining the tokenization (~3x per eval doc
    # — caught by tools/plan_lint.py).  The null gram an empty eval doc
    # emits sits harmlessly in the broadcast set (never equi-matches).
    eval_grams = (
        with_shingles(eval_docs, text_col, out="__grams", n=n)
        .select(F.explode_outer("__grams").alias("gram"))
        .distinct()
    )
    staged = with_shingles(docs, text_col, out="__grams", n=n).select(
        F.col(id_col), "__grams"
    )
    exploded = staged.select(
        F.col(id_col),
        F.size("__grams").cast("long").alias("n_grams"),
        F.explode_outer("__grams").alias("gram"),
    )
    return (
        exploded.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col, "n_grams")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .select(id_col, "n_overlap", "n_grams")
    )


def lsh_join(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    band_size: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Cross-corpus LSH: candidate near-dup pairs between an incoming batch
    and an existing reference corpus — the incremental-ingestion dedup
    shape ("is this new doc already in the corpus?").

    Returns ``(new_id, ref_id)`` distinct pairs.  Both sides band with the
    shared minhash family; the join is band-bucketed so the cross product
    never materializes, and reference buckets above ``max_bucket`` are
    dropped (a band value shared by thousands of reference docs is a
    degenerate shingle, not a useful match — the standard skew guard).
    At 100 TB the reference side's (band, bval) index is computed once and
    reused across ingest batches.
    """
    nb = _banded(new_df, id_col, text_col, k, band_size)
    rb = _banded(ref_df, id_col, text_col, k, band_size)

    counts = rb.groupBy("band", "bval").agg(F.count(F.lit(1)).alias("c"))
    small = counts.where(F.col("c") <= max_bucket).select("band", "bval")
    rb = rb.join(F.broadcast(small), ["band", "bval"])

    return (
        nb.alias("n")
        .join(
            rb.alias("r"),
            (F.col("n.band") == F.col("r.band"))
            & (F.col("n.bval") == F.col("r.bval")),
        )
        .select(F.col("n.id").alias("new_id"), F.col("r.id").alias("ref_id"))
        .distinct()
    )


def keep_best(
    scored: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Canonical-document selection: for every doc, which cluster member
    survives dedup — the highest-``quality_col`` member, ties to the
    smallest id.  Docs absent from ``clusters`` are singletons (keeper =
    themselves), so the output covers the whole corpus, exactly what a
    filter stage downstream consumes.

    One left join on the doc id plus one window over ``cluster_col`` —
    cluster sizes are near-clique dedup groups (small by construction), so
    the window partition never degenerates; the join is keyed on the same
    id the cluster table was built from."""
    member = scored.join(
        clusters.select(id_col, cluster_col), id_col, "left"
    ).withColumn(cluster_col, F.coalesce(F.col(cluster_col), F.col(id_col)))
    w = (
        Window.partitionBy(cluster_col)
        .orderBy(F.col(quality_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return member.withColumn("keeper_id", F.first(id_col).over(w)).select(
        id_col,
        cluster_col,
        "keeper_id",
        (F.col(id_col) == F.col("keeper_id")).cast("int").alias("keep"),
    )


def dup_substring_max(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix: int = 24,
    bucket: int = 4,
) -> DataFrame:
    """Per-document LONGEST DUPLICATED SUBSTRING via prefix-capped
    suffix-array adjacency — the true-substring complement of the
    shingle-tier approximation in :func:`dup_span_cascade` (the
    suffix-array residual named in COVERAGE.md; semantics follow Lee et
    al. 2022's self-similar duplication: a repeat ANYWHERE in the
    corpus counts, including within the same document).

    Construction: every character position contributes its
    ``prefix``-capped suffix; suffixes shuffle into buckets keyed by
    their first ``bucket`` chars and sort WITHIN the bucket; each
    adjacent pair's longest-common-prefix credits BOTH owning
    documents; a document's answer is its max.  The classic
    suffix-array property (the max-LCP partner of any suffix is
    adjacent in sorted order) makes this EXACT — per doc —
    for every match of length >= ``bucket``, clipped at ``prefix``;
    documents whose longest repeat is shorter than ``bucket`` report 0
    (pairs that disagree inside the bucket key never share a bucket).
    The per-bucket sort order is made TOTAL with (id, position)
    tie-breakers so every engine pairs identical suffix runs the same
    way (a tie-ambiguous ORDER BY lets lag(s) and lag(id) disagree
    about the predecessor row — observed in DuckDB).

    Scale: O(total chars) suffix rows (each ``prefix`` bytes), ONE
    shuffle on the bucket key, per-bucket sort windows, and a bounded
    per-row LCP fold — no quadratic pair space anywhere (equal-suffix
    runs cost O(run), not O(run^2)).  The char-level fan-out makes this
    the SAMPLE/AUDIT tier; ``dup_span_cascade`` (digest-only shuffles)
    is the full-corpus path.  Returns ``(id, max_dup_len)``."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")
    ).where(F.length("t") >= 1)
    sfx = base.select(
        "id",
        F.explode(F.sequence(F.lit(1), F.length("t"))).alias("i"),
        "t",
    ).select("id", "i", F.expr(f"substr(t, i, {prefix})").alias("s"))
    # the (id, i) tie-breakers make the order TOTAL: with bare ORDER BY
    # s, an engine may evaluate lag(s) and lag(id) under DIFFERENT tie
    # orders and pair a row's string with another row's owner id
    # (observed nondeterministically in DuckDB) — a total order pins
    # both lags to the same predecessor on every engine
    w = Window.partitionBy(F.expr(f"substr(s, 1, {bucket})")).orderBy(
        "s", "id", "i"
    )
    adj = (
        sfx.select(
            "id",
            "s",
            F.lag("s").over(w).alias("ps"),
            F.lag("id").over(w).alias("pid"),
        )
        .where(F.col("ps").isNotNull())
    )
    # LCP = index of the first per-char mismatch, as an UNROLLED CASE
    # chain: whole-stage-codegen'd string compares, measured 1.6x faster
    # than the transform(sequence)+array_position fold at 10x sf0.1
    # (26-28 s -> 16-18 s; Spark HOFs are CodegenFallback — the repo's
    # standing interpreted-fold trap) and bit-identical on every row
    # (exceptAll A/B = 0).  substr past either end is '' -> <> fires at
    # the shorter string's end; two strings equal to the cap fall
    # through to least(length, length).
    lcp = "CASE {} ELSE least(length(s), length(ps)) END".format(
        " ".join(
            f"WHEN substr(s, {k}, 1) <> substr(ps, {k}, 1) THEN {k - 1}"
            for k in range(1, prefix + 1)
        )
    )
    # only matches >= bucket count: suffixes SHORTER than the bucket
    # width can still share a bucket (the key is the whole short
    # string), so without this filter sub-bucket repeats would leak
    # through for short strings only — the crisp contract is
    # "exact for repeats >= bucket, else 0"
    scored = adj.withColumn("lcp", F.expr(lcp)).where(
        F.col("lcp") >= bucket
    )
    # credit BOTH owning documents in ONE pass: the former
    # unionByName(scored.select(id), scored.select(pid)) planned the
    # window+sort subtree TWICE (profiled: the post-shuffle stage read
    # 78 MB for a 39 MB shuffle and burned 159 cpu-s; guide §2.4 —
    # duplicated subtrees).  explode over a 2-element array duplicates
    # the row in place instead of re-executing the sort.
    both = scored.select(
        F.explode(F.array("id", "pid")).alias("id"), "lcp"
    )
    per_doc = both.groupBy("id").agg(
        F.max("lcp").cast("bigint").alias("max_dup_len")
    )
    return (
        base.select("id")
        .distinct()
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("max_dup_len", F.lit(0))
            .cast("bigint")
            .alias("max_dup_len"),
        )
    )
