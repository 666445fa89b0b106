"""Run tools/plan_lint.py's checks live over the families that have
historically shipped scale regressions (text tokenization, dedup
explodes, ANN joins, SQL aggregate hosting) — the decontaminate lesson
as a standing gate.  The full-catalog run records PLANLINT_r{N}.json."""

import pytest

FAMILIES = [
    "decontaminate",
    "ngram_jaccard_pairs",
    "dup_span_flags",
    "simhash",
    "simhash_hamming_pairs",
    "minhash_signature",
    "lsh_candidate_pairs",
    "lang_id",
    "quality_score",
    "repetition_ratio",
    "chunk_documents",
    "token_count_bpe",
    "pipeline_e2e",
    "dedup_keep_best",
    "lsh_topk",
    "ivf_trained_topk",
    "ivf_multiprobe_topk",
    "count_min_freq",
    "sql_agg_bare_two_phase",
    "sql_agg_having_two_phase",
    "tfidf_topterms",
    "bm25_topk",
]


@pytest.mark.parametrize("name", FAMILIES)
def test_plan_lint_clean(spark, sf_dir, name):
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.plan_lint import WHITELIST, lint_plan

    from arrow_udf_spark.queries import QUERIES

    plan = (
        QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    flags = [f for f in lint_plan(plan) if (name, f) not in WHITELIST]
    assert not flags, f"{name}: {flags}"


def test_r8_families_lint_clean(spark, sf_dir):
    """r8 additions ride the same live gate."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.plan_lint import WHITELIST, lint_plan

    from arrow_udf_spark.queries import QUERIES

    for name in [
        "dup_span_cascade",
        "png_pixels",
        "sql_agg_window_two_phase",
        "sql_agg_cte_two_phase",
        "sql_agg_union_two_phase",
    ]:
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        flags = [f for f in lint_plan(plan) if (name, f) not in WHITELIST]
        assert not flags, f"{name}: {flags}"


def test_streaming_micro_batch_plan_captured_and_linted(spark, sf_dir):
    """r8 (VERDICT r7 ask #3): streaming queries are no longer skipped —
    the DataStreamWriter.start intercept captures each started query, and
    its micro-batch physical plan (lastExecution) survives availableNow
    termination for linting.  This test replays the mechanism on one
    streaming query and asserts a real plan came back."""
    import sys

    sys.path.insert(0, "/root/repo")
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from tools.plan_lint import lint_plan
    from arrow_udf_spark.queries import QUERIES

    captured = []
    orig = DataStreamWriter.start

    def patched(self, *a, **k):
        q = orig(self, *a, **k)
        captured.append(q)
        return q

    DataStreamWriter.start = patched
    try:
        QUERIES["streaming_window_agg"](spark, sf_dir).count()
    finally:
        DataStreamWriter.start = orig
    assert captured, "no streaming query was started"
    plan = captured[0]._jsq.explainInternal(False)
    # a real micro-batch physical plan, not a placeholder
    assert "Physical Plan" in plan or "HashAggregate" in plan or "Scan" in plan
    assert lint_plan(plan) == []


def test_single_phase_pandas_agg_flagged(spark, sf_dir):
    """A raw spark.sql call of a registered UDAF plans Spark 4.1's
    single-phase ``ArrowAggregatePython``: the lint flags it, and not the
    salted ``__partial`` + ``__mergevec`` pair of sum_udaf_two_phase_sql."""
    import warnings

    from tools.plan_lint import lint_plan

    from arrow_udf_spark.plans.registry import GLOBAL
    from arrow_udf_spark.queries import QUERIES

    GLOBAL.register_sql(spark)
    spark.createDataFrame([(1, 2), (1, 3)], "k int, v bigint") \
        .createOrReplaceTempView("lint_single")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        raw = spark.sql("SELECT k, sum_udaf(v) AS s FROM lint_single GROUP BY k")
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "ArrowAggregatePython" in plan
    assert "single-phase-pandas-agg" in lint_plan(plan)
    pair = QUERIES["sum_udaf_two_phase_sql"](spark, sf_dir)
    plan = pair._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowAggregatePython") == 1
    assert "single-phase-pandas-agg" not in lint_plan(plan)


def test_sorted_round_robin_flagged(spark, sf_dir):
    """``df.repartition(n)`` plans a round-robin exchange, which Spark
    sorts every row before; the row-index spread of ``queries.t`` is a
    hash exchange and stays clean."""
    from tools.plan_lint import lint_plan

    from arrow_udf_spark.queries import QUERIES, t

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = li.repartition(4)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    assert "sorted-round-robin" in lint_plan(plan)
    spread = t(spark, sf_dir, "lineitem", spread=True)
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(_extract_row_index" in plan
    assert "sorted-round-robin" not in lint_plan(plan)
    plan = QUERIES["series_udtf"](spark, sf_dir)._jdf.queryExecution()
    assert "sorted-round-robin" not in lint_plan(plan.executedPlan().toString())
