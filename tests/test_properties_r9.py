"""Referee properties for the round-9 rewriter widening: correlated
scalar aggregate subqueries through the two-phase SQL front door.

The referee is Spark's OWN single-phase evaluation of the identical
query text (native decorrelation + GROUPED_AGG) — the two-phase
decorrelated GROUP-BY-join form must be value-identical on arbitrary
data, including keys with no matching inner rows (the NULL-comparison /
join-drop equivalence the rewrite relies on) and the uncorrelated
global-aggregate cross-join form.
"""

import warnings

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def tables(draw):
    n = draw(st.integers(2, 12))
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                draw(st.integers(0, 3)),  # k: join key, few distinct
                draw(st.integers(0, 2)),  # g: group key
                draw(st.integers(-5, 20)),  # q
                draw(st.integers(-10, 50)),  # v
            )
        )
    return rows


def _both(spark, q):
    from arrow_udf_spark.plans.registry import GLOBAL

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = GLOBAL.sql(spark, q)
    assert not [w for w in caught if "single-phase" in str(w.message)]
    assert "__aus_corr0" in df._jdf.queryExecution().analyzed().toString()
    got = sorted(map(tuple, df.collect()))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        ref = sorted(map(tuple, spark.sql(q).collect()))
    return got, ref


@settings(max_examples=8, deadline=None)
@given(tables(), tables())
def test_correlated_scalar_subquery_matches_native(spark, a, b):
    schema = "id long, k long, g long, q long, v long"
    spark.createDataFrame(a, schema).createOrReplaceTempView("corr_a")
    spark.createDataFrame(b, schema).createOrReplaceTempView("corr_b")
    # outer rows join corr_b groups; keys with NO inner rows must drop
    # identically on both sides (NULL comparison vs join miss)
    q = (
        "SELECT o.id AS id, o.q AS q FROM corr_a o "
        "WHERE o.q < (SELECT sum_udaf(i.v) FROM corr_b i WHERE i.k = o.k) "
        "ORDER BY id"
    )
    got, ref = _both(spark, q)
    assert got == ref


@settings(max_examples=6, deadline=None)
@given(tables())
def test_correlated_with_outer_udaf_matches_native(spark, a):
    schema = "id long, k long, g long, q long, v long"
    spark.createDataFrame(a, schema).createOrReplaceTempView("corr_c")
    # both scopes aggregate: the subquery decorrelates AND the outer
    # sum_udaf rides the two-phase fold path over the joined source.
    # NO builtin aggregate alongside: native Spark refuses a GROUPED_AGG
    # pandas UDF mixed with native aggregates in one Aggregate
    # (INVALID_PANDAS_UDF_PLACEMENT) — the rewrite's U/B split exists
    # precisely for that — so the single-phase referee can only run the
    # UDAF-only projection
    q = (
        "SELECT g, CAST(sum_udaf(v) AS BIGINT) AS s "
        "FROM corr_c o "
        "WHERE o.q * 2 < (SELECT sum_udaf(i.v) FROM corr_c i "
        "WHERE i.k = o.k AND i.q > 0) "
        "GROUP BY g ORDER BY g"
    )
    got, ref = _both(spark, q)
    assert got == ref


@settings(max_examples=6, deadline=None)
@given(tables(), tables())
def test_uncorrelated_scalar_subquery_matches_native(spark, a, b):
    schema = "id long, k long, g long, q long, v long"
    spark.createDataFrame(a, schema).createOrReplaceTempView("unc_a")
    spark.createDataFrame(b, schema).createOrReplaceTempView("unc_b")
    # global aggregate: always exactly one row, so even COUNT is exact
    # through the cross-join form
    q = (
        "SELECT o.id AS id FROM unc_a o "
        "WHERE o.q < (SELECT count_udaf(i.v) FROM unc_b i) "
        "ORDER BY id"
    )
    got, ref = _both(spark, q)
    assert got == ref


# -- BPE train+encode vs a pure-Python referee ------------------------------


def _referee_bpe(texts, n_merges):
    """Classic dict-based BPE (Sennrich et al.), written list-of-symbols
    style — no marker strings, no replace(): an independent formulation
    of what bpe_train_encode computes with Spark columns."""
    from collections import Counter

    words = Counter()
    per_doc_words = []
    for t in texts:
        ws = [w for w in t.split() if w]
        per_doc_words.append(ws)
        words.update(ws)
    vocab = {w: [c for c in w] for w in words}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            f = words[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        # argmax with (count DESC, pair ASC) — pair compared in the
        # marker-wrapped rendering ("·a··b·") to mirror the operator
        best = min(
            pairs.items(),
            key=lambda kv: (-kv[1], f"·{kv[0][0]}··{kv[0][1]}·"),
        )[0]
        merges.append(best)
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    counts = []
    for ws in per_doc_words:
        counts.append((sum(len(vocab[w]) for w in ws), len(ws)))
    return counts, merges


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    ),
    st.integers(1, 5),
)
def test_bpe_matches_python_referee(spark, texts, n_merges):
    from arrow_udf_spark.operators.text import bpe_train_encode

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, merges = bpe_train_encode(df, n_merges=n_merges)
    got = {r.id: (r.n_tokens, r.n_words) for r in out.collect()}
    ref_counts, ref_merges = _referee_bpe(texts, n_merges)
    assert merges == [f"·{a}··{b}·" for a, b in ref_merges]
    exp = {
        i: rc
        for i, rc in enumerate(ref_counts)
        if rc[1] > 0  # all-whitespace docs produce no joinable words
    }
    assert got == exp


# -- dup_substring_max vs a brute-force all-pairs referee -------------------


def _referee_dup_substring(docs, prefix=24, bucket=4):
    """All-pairs common-prefix max per doc, clipped at ``prefix``; the
    operator's contract: exact for repeats >= ``bucket``, else 0."""
    sfx = []
    for did, t in docs:
        for i in range(len(t)):
            sfx.append((did, t[i : i + prefix]))
    out = {did: 0 for did, t in docs if len(t) >= 1}
    for x in range(len(sfx)):
        for y in range(x + 1, len(sfx)):
            a, b = sfx[x][1], sfx[y][1]
            m = 0
            for ca, cb in zip(a, b):
                if ca != cb:
                    break
                m += 1
            if m >= bucket:
                for did in (sfx[x][0], sfx[y][0]):
                    out[did] = max(out[did], m)
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=1,
        max_size=5,
    )
)
def test_dup_substring_matches_bruteforce(spark, texts):
    from arrow_udf_spark.operators.dedup import dup_substring_max

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.id: r.max_dup_len for r in dup_substring_max(df).collect()
    }
    assert got == _referee_dup_substring(docs)
