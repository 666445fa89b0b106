"""KMV sketch + int8 quantization: algebraic invariants (no Spark) and
plan/equivalence gates (Spark)."""

import math

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from arrow_udf_spark.operators.sketch import KMV_K, KMV_SPACE, KmvAgg

hashes = st.integers(min_value=0, max_value=KMV_SPACE - 1)


def _fold(vals):
    st_ = KmvAgg.create_state()
    for v in vals:
        st_ = KmvAgg.accumulate(st_, v)
    return st_


@given(st.lists(hashes, max_size=300))
@settings(max_examples=100, deadline=None)
def test_kmv_state_is_bounded_sorted_kmin(vals):
    """State is always the sorted set of the ≤ K smallest distinct hashes
    — the exact invariant that makes the shuffle O(groups·k)."""
    s = _fold(vals)
    assert len(s) <= KMV_K
    assert list(s) == sorted(set(s))
    assert set(s) == set(sorted(set(vals))[:KMV_K])


@given(st.lists(hashes, max_size=200), st.lists(hashes, max_size=200))
@settings(max_examples=100, deadline=None)
def test_kmv_merge_equals_single_pass(a, b):
    """merge(fold(a), fold(b)) == fold(a+b): the property Spark's two-phase
    plan relies on for exactness under any partitioning."""
    merged = KmvAgg.merge(_fold(a), _fold(b))
    assert merged == _fold(a + b)
    # commutative
    assert merged == KmvAgg.merge(_fold(b), _fold(a))


@given(st.lists(hashes, min_size=1, max_size=300))
@settings(max_examples=100, deadline=None)
def test_kmv_batch_matches_row_fold(vals):
    row = _fold(vals)
    batch = KmvAgg.accumulate_batch(KmvAgg.create_state(), pd.Series(vals))
    assert row == batch


def test_kmv_finish_branches():
    # < K distinct: exact count
    assert KmvAgg.finish(_fold([5, 5, 9])) == 2
    # >= K distinct: (k-1)*M/kth, floor, same double expression as oracle
    vals = list(range(1, KMV_K + 1))  # kth smallest = K
    est = KmvAgg.finish(_fold(vals + [KMV_SPACE - 1]))
    assert est == math.floor((KMV_K - 1.0) * float(KMV_SPACE) / float(KMV_K))


def test_kmv_estimate_accuracy(spark, sf_dir):
    """End-to-end sanity: both formulations estimate within ~3/sqrt(k)
    (3σ ≈ 37%) of the true cardinality, and agree with each other when
    fed the same key."""
    from arrow_udf_spark.operators.sketch import kmv_distinct, kmv_hash_col, KmvAgg

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    truth = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    cat = {
        r["l_returnflag"]: r["approx_distinct"]
        for r in kmv_distinct(li, key="l_partkey", by=["l_returnflag"]).collect()
    }
    hashed = li.select("l_returnflag", kmv_hash_col("l_partkey").alias("hv"))
    ag = {
        r["l_returnflag"]: r["kmv_udaf"]
        for r in KmvAgg.agg(hashed, by=["l_returnflag"], args=["hv"]).collect()
    }
    assert cat == ag
    for flag, n in truth.items():
        assert abs(cat[flag] - n) <= max(3, 0.37 * n), (flag, n, cat[flag])


def test_kmv_distinct_single_shuffle(spark, sf_dir):
    """The Catalyst formulation must be one partial→final hash aggregate:
    exactly one Exchange, no Python eval."""
    from arrow_udf_spark.operators.sketch import kmv_distinct

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = (
        kmv_distinct(li, key="l_partkey", by=["l_returnflag"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan


def test_quantize_int8_roundtrip(spark, sf_dir):
    """Dequantized values are within half a quantization step of the
    original, codes stay in [-127, 127], and the max-|x| element maps to
    ±127 exactly."""
    from arrow_udf_spark.operators.similarity import quantize_int8

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = quantize_int8(e).select("embedding", "q8", "q8_scale").limit(50).collect()
    assert rows
    for r in rows:
        s = r["q8_scale"]
        assert all(-127 <= q <= 127 for q in r["q8"])
        if s == 0:
            assert all(q == 0 for q in r["q8"])
            continue
        step = s / 127.0
        for x, q in zip(r["embedding"], r["q8"]):
            assert abs(q * step - x) <= step / 2 + 1e-9, (x, q, s)
        assert 127 in [abs(q) for q in r["q8"]]


def test_kmv_batch_refuses_float_coerced_hashes():
    """Arrow->pandas float64 coercion (int64 column with NULLs) destroys
    hash bits above 2^53 BEFORE the UDAF sees them — the batch fold must
    refuse loudly instead of silently skewing the estimate (ADVICE r3)."""
    import pandas as pd
    import pytest as _pytest

    from arrow_udf_spark.operators.sketch import KmvAgg  # AggregateFunction

    bad = pd.Series([float(2**60 + 1), None])  # already-corrupted batch
    with _pytest.raises(ValueError, match="float"):
        KmvAgg.accumulate_batch(KmvAgg.create_state(), bad)
    # clean int64 batches still fold
    ok = KmvAgg.accumulate_batch(
        KmvAgg.create_state(), pd.Series([5, 9], dtype="int64")
    )
    assert ok == (5, 9)


def test_kmv_row_fold_refuses_float_coerced_hash():
    """A micro-batch of at most ``_ROW_FOLD_MAX`` rows folds through
    ``accumulate``: a float hash is refused there too."""
    import pytest as _pytest

    from arrow_udf_spark.operators.sketch import KmvAgg

    with _pytest.raises(ValueError, match="float"):
        KmvAgg.accumulate(KmvAgg.create_state(), float(2**60 + 1))
    assert KmvAgg.accumulate(KmvAgg.create_state(), 2**60 + 1) == (2**60 + 1,)


def test_kmv_source_similarity_exact_when_union_small(spark):
    from arrow_udf_spark.operators.sketch import kmv_source_similarity

    docs = spark.createDataFrame(
        [
            ("a", "x y z"),
            ("b", "x y w"),
            ("c", "p q"),
        ],
        "source string, text string",
    )
    out = {
        (r["src_a"], r["src_b"]): (r["n_shared"], r["n_union_k"], r["jaccard_est"])
        for r in kmv_source_similarity(docs, k=16).collect()
    }
    # unions smaller than k -> estimator is EXACT Jaccard
    assert out[("a", "b")] == (2, 4, 0.5)       # {x,y} / {x,y,z,w}
    assert out[("a", "c")][0] == 0 and out[("a", "c")][2] == 0.0
    assert out[("b", "c")][0] == 0


def test_kmv_source_similarity_state_bounded(spark):
    from arrow_udf_spark.operators.sketch import kmv_source_similarity

    # 100 distinct tokens per source, k=8: sketch arrays must cap at 8
    rows = [("a", " ".join(f"tok{i}" for i in range(100))),
            ("b", " ".join(f"tok{i}" for i in range(50, 150)))]
    docs = spark.createDataFrame(rows, "source string, text string")
    out = kmv_source_similarity(docs, k=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_union_k"] == 8  # merged sketch capped at k
    assert 0 <= r["n_shared"] <= 8
    assert 0.0 <= r["jaccard_est"] <= 1.0


def test_count_min_never_underestimates_and_bounds_error(spark, sf_dir):
    """CMS guarantees est >= true for every token; the expected
    overestimate for a min over d=4 rows of w=256 cells is ~N/w per
    colliding row — assert the one-sided bound and a generous 2*N/w
    error ceiling (deterministic md5 cells, so this is a stable gate)."""
    from arrow_udf_spark.queries import QUERIES

    rows = QUERIES["count_min_freq"](spark, sf_dir).collect()
    assert rows
    total = sum(r["true_cnt"] for r in rows)  # lower bound on stream N
    for r in rows:
        assert r["cms_est"] >= r["true_cnt"], r
    # real N is larger than the probed-token total, so use the full token
    # stream for the bound
    from arrow_udf_spark.operators.text import tokens
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = (
        d.select(F.explode(tokens(F.col("text"))).alias("t"))
        .where(F.col("t") != "")
        .count()
    )
    for r in rows:
        assert r["cms_est"] - r["true_cnt"] <= 2 * n / 256, (r, n)


def test_count_min_sketch_state_is_bounded(spark):
    """The sketch must never exceed d*w rows no matter the vocabulary."""
    from arrow_udf_spark.operators.sketch import count_min_sketch

    rows = [(i, " ".join(f"tok{j}" for j in range(i * 50, i * 50 + 50)))
            for i in range(20)]  # 1000 distinct tokens
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sk = count_min_sketch(docs, "text", d=4, w=64)
    assert sk.count() <= 4 * 64
    assert sk.agg({"cnt": "sum"}).first()[0] == 4 * 1000  # d copies of N


def test_sampled_quantiles_error_bounded(spark, sf_dir):
    """The 10% hash-sample quantiles must land within 10% relative error
    of the exact quantiles at every probed p (deterministic md5 sample —
    a stable gate, not a flaky one)."""
    from arrow_udf_spark.queries import QUERIES

    r = QUERIES["sampled_quantiles"](spark, sf_dir).first()
    for p in (25, 50, 75, 95):
        exact, est = r[f"p{p}_exact"], r[f"p{p}_est"]
        assert exact > 0
        assert abs(est - exact) / exact <= 0.10, (p, exact, est)


def test_kmv_error_gate_floors(spark):
    """The KMV gate must show each width inside its 3-sigma band
    (stderr ~ 1/sqrt(k-2)) at a cardinality well above kmax, and fall
    back to the EXACT count when the true cardinality is below k."""
    from arrow_udf_spark.operators.sketch import kmv_error_gate

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    rows = {
        r["k"]: (r["approx_distinct"], r["exact_distinct"])
        for r in kmv_error_gate(li, key="l_partkey").collect()
    }
    assert set(rows) == {16, 64, 256}
    for k, (est, ex) in rows.items():
        bound = 3.0 / (k - 2) ** 0.5
        rel = abs(est - ex) / ex
        assert rel <= bound, f"k={k}: rel error {rel:.3f} > 3-sigma {bound:.3f}"
    # below-k cardinality -> the sketch IS the exact distinct-hash count
    small = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    srows = {
        r["k"]: (r["approx_distinct"], r["exact_distinct"])
        for r in kmv_error_gate(small, key="l_partkey").collect()
    }
    assert srows[256][0] == srows[256][1]


def test_bloom_prune_no_false_negatives_and_no_join(spark):
    """The bloom contract: every key actually present on the small side
    must survive the prune (no false negatives, ever); the prune itself
    must be a pure filter — no join/exchange in its plan."""
    from arrow_udf_spark.operators.sketch import bloom_build, bloom_prune

    sf = "/root/testdata/sf0.001"
    part = spark.read.parquet(f"{sf}/part.parquet").where("p_size <= 5")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    words = bloom_build(part, "p_partkey", m_bits=256, k_hashes=2)
    assert len(words) == 4  # 256 bits -> 4 signed words
    pruned = bloom_prune(li, "l_partkey", words, m_bits=256, k_hashes=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan[:500]
    # no false negatives: semijoin of the PRUNED side equals the exact one
    keys = {r["p_partkey"] for r in part.select("p_partkey").collect()}
    exact = li.where(F.col("l_partkey").isin(list(keys))).count()
    survived = pruned.where(F.col("l_partkey").isin(list(keys))).count()
    assert survived == exact


def test_bloom_gate_row_shape(spark):
    from arrow_udf_spark.operators.sketch import bloom_prejoin_gate

    sf = "/root/testdata/sf0.001"
    r = bloom_prejoin_gate(
        spark.read.parquet(f"{sf}/lineitem.parquet"),
        spark.read.parquet(f"{sf}/part.parquet").where("p_size <= 5"),
        "l_partkey",
        "p_partkey",
    ).collect()[0]
    assert r["n_bloom_pass"] >= r["n_exact_match"]
    assert r["n_false_pos"] == r["n_bloom_pass"] - r["n_exact_match"]
    assert r["n_false_pos"] >= 0 and r["n_big"] >= r["n_bloom_pass"]


def test_skew_profile_shape(spark):
    from arrow_udf_spark.operators.sketch import skew_profile

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)], "k: string"
    )
    rows = skew_profile(df, "k", top=2).collect()
    assert [(r["rank"], r["key"], r["cnt"], r["ppm"]) for r in rows] == [
        (1, "a", 6, 600000),
        (2, "b", 3, 300000),
    ]


def test_join_size_est_overestimates_never_under(spark):
    """CMS inner product >= true join size, always (collisions only
    add); and when distinct keys fit the cell width the estimate is
    EXACT."""
    from arrow_udf_spark.operators.sketch import join_size_gate

    df = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3]], "k: long"
    )
    r = join_size_gate(df, "k", df, "k").collect()[0]
    # c = {1:3, 2:2, 3:1} -> sum c^2 = 14; 3 keys << 256 cells -> exact
    assert r["join_size_exact"] == 14
    assert r["join_size_est"] == 14
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    r2 = join_size_gate(ev, "user_id", ev, "user_id").collect()[0]
    assert r2["join_size_est"] >= r2["join_size_exact"]
