"""Physical-plan quality gates: these assert the *shape* of the plans,
not their results — pushdown reaches the scan, small dims broadcast, and
native-expression operators never fall out of the JVM into Python."""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_orderkey") == 42).select("l_orderkey", "l_partkey")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "l_orderkey" in plan.split("PushedFilters")[1][:120]


def test_column_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.select("l_orderkey", "l_partkey")
    plan = _plan(q)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_join_uses_broadcast(spark, sf_dir):
    from arrow_udf_spark.queries import QUERIES

    plan = _plan(QUERIES["join_with_udf"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_text_ops_stay_jvm_side(spark, sf_dir):
    """minhash/simhash/fingerprint/lang_id are pure Catalyst expressions —
    no Python evaluation node may appear in their plans."""
    from arrow_udf_spark.queries import QUERIES

    for name in ["minhash_signature", "simhash", "fingerprint", "lang_id", "token_count", "quality_score", "repetition_ratio", "redact_pii"]:
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "EvalPython" not in plan, f"{name} fell back to Python: {plan[:300]}"
        # (higher-order fns are JVM-interpreted expressions; they don't
        # join whole-stage codegen, but they must stay a pure Project
        # directly over the columnar scan)
        assert "FileScan parquet" in plan, name


def test_topk_item_table_not_shuffled_before_scoring(spark, sf_dir):
    """brute_force_topk broadcasts the query side; the big item table must
    join without a shuffle (BroadcastNestedLoopJoin/BroadcastExchange)."""
    from arrow_udf_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(brute_force_topk(e, e.where(F.col("vec_id") < 3), k=3))
    assert "BroadcastExchange" in plan


def test_scalar_udf_single_python_eval(spark, sf_dir):
    """A fallible UDF projected as value+error must evaluate ONCE — one
    ArrowEvalPython node containing ONE udf instance.  (The two-getField
    ``value_and_error`` form produces ``ArrowEvalPython [div(..), div(..)]``
    because the nondeterministic UDF is never CSE'd; ``apply`` stages the
    struct in its own projection, which CollapseProject refuses to merge.)"""
    from arrow_udf_spark.functions.corpus import div

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = div.apply(
        li,
        cols=[F.col("l_partkey"), F.col("l_suppkey") % 7],
        passthrough=["l_orderkey"],
        value_alias="d",
    )
    plan = _plan(out)
    assert plan.count("ArrowEvalPython") == 1
    eval_line = next(l for l in plan.splitlines() if "ArrowEvalPython" in l)
    assert eval_line.count("div(") == 1, eval_line


def test_pipeline_e2e_single_scan(spark, sf_dir):
    from arrow_udf_spark.queries import QUERIES

    df = QUERIES["pipeline_e2e"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # quality filter + dedup + sample + pack must fuse over ONE scan of
    # documents; a second scan would double the 100 TB read
    assert opt.count("Relation [") == 1
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(text)]" in p


def test_salted_join_is_equi_join(spark, sf_dir):
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["salted_join_agg"](spark, sf_dir))
    assert "__salt" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_skew_agg_two_stages(spark, sf_dir):
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["skew_agg"](spark, sf_dir))
    # stage 1 groups by (key, salt), stage 2 by key alone
    assert p.count("HashAggregate") >= 4  # partial+final for each stage
    assert "__salt" in p


def test_streaming_source_not_rescanned(spark, sf_dir):
    # asof join: one window, no join operator, single exchange on the key
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["asof_join"](spark, sf_dir))
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_global_topk_uses_heap_not_sort(spark, sf_dir):
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["global_topk"](spark, sf_dir))
    # top-k must be per-partition heaps + k-row merge, not a global sort
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_tpch_carriers_broadcast_dims(spark, sf_dir):
    """Every TPC-H carrier joins dims via broadcast — the fact table must
    never shuffle for a dimension join (scale gate: at 100 TB the fact is
    partitioned across 1000 executors, dims still fit in memory)."""
    from arrow_udf_spark.queries import QUERIES

    for name in [
        "tpch_q3",
        "tpch_q5",
        "tpch_q7",
        "tpch_q8",
        "tpch_q10",
        "tpch_q14",
        "tpch_q17",
        "tpch_q19",
    ]:
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan[:400]}"
        # the fact table must not be exchanged for a *dimension* join.  q17 is
        # exempt from the shuffle-join ban: it joins lineitem against its own
        # per-part aggregate — both sides fact-scale at 100 TB — where a
        # co-partitioned shuffle join on l_partkey is the correct plan.
        if name != "tpch_q17":
            assert "SortMergeJoin" not in plan, f"{name}: fact shuffled for a join"


def test_tpch_q6_pushdown(spark, sf_dir):
    """Q6 predicates must reach the parquet scan as pushed filters."""
    from arrow_udf_spark.queries import QUERIES

    plan = _plan(QUERIES["tpch_q6"](spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "l_shipdate" in pushed and "l_discount" in pushed


def test_tpch_q18_preaggregates_fact(spark, sf_dir):
    """Q18 must aggregate lineitem to per-order quantity BEFORE any join —
    the first HashAggregate in the plan tree sits directly over the scan,
    with partial aggregation (map-side combine) ahead of the shuffle."""
    from arrow_udf_spark.queries import QUERIES

    plan = _plan(QUERIES["tpch_q18"](spark, sf_dir))
    assert "HashAggregate" in plan
    # partial_sum proves map-side combine before the exchange
    assert "partial_sum" in plan, plan[:500]


def test_chunk_documents_stays_jvm_side(spark, sf_dir):
    """Sliding-window chunking is sequence/explode/substring — pure
    Catalyst, no Python eval node, no shuffle (per-row fan-out)."""
    from arrow_udf_spark.queries import QUERIES

    plan = _plan(QUERIES["chunk_documents"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan, "chunking must not shuffle"


def test_decontaminate_broadcasts_eval_set(spark, sf_dir):
    """Decontamination must broadcast the (small) eval shingle set and never
    shuffle-join the exploded corpus side."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_decontaminate_shingles_once_per_doc(spark, sf_dir):
    """VERDICT r5 scale-killer regression gate: the tokenize+shingle
    expression must appear exactly ONCE on the training side — staged in
    its own projection BELOW the Generate.  The broken shape inlined it in
    the Project above the Generate (recomputed once per exploded gram row,
    71 s vs ~1 s at 500 docs) and in InferFiltersFromGenerate's pushed
    size()/isnotnull() filters (3x per doc)."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["decontaminate"](spark, sf_dir))
    train = p.split("BroadcastExchange")[0]
    assert train.count("split(trim") == 1, train[:2000]
    gen = train.index("Generate")
    above = train[:gen]
    assert "split(trim" not in above and "transform(" not in above, above


def test_shared_span_and_jaccard_shingle_once(spark, sf_dir):
    """Same staging invariant for the other shingle consumers: one
    tokenization per document side, never per exploded row / per
    element_at site."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["dup_span_flags"](spark, sf_dir))
    # one scan side feeds both the digest agg and the dup join; each
    # appearance of the staged projection tokenizes once
    for segment in p.split("FileScan")[:-1]:
        assert segment.count("split(trim") <= 1, segment[:2000]

    p = _plan(QUERIES["ngram_jaccard_pairs"](spark, sf_dir))
    for segment in p.split("FileScan")[:-1]:
        assert segment.count("split(trim") <= 1, segment[:2000]


def test_lsh_join_is_band_bucketed_equi_join(spark, sf_dir):
    """Cross-corpus LSH must join on (band, bval) equality — never a
    cartesian/nested-loop pair blow-up."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["lsh_join_new_vs_ref"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_two_phase_sql_agg_salted_plan(spark, sf_dir):
    """The __partial + __mergevec(collect_list(...)) SQL pattern compiles
    to the two-level shape: inner aggregate keyed by (group, salt) so hot
    keys split, outer exchange keyed by group alone carrying only pickled
    states."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["sum_udaf_two_phase_sql"](spark, sf_dir))
    # one Python grouped aggregate (the partial) and the batched merge
    assert p.count("ArrowAggregatePython") == 1
    assert "sum_udaf__mergevec" in p
    # inner grouping carries the pmod salt expression
    assert "pmod(hash(l_orderkey" in p
    # exactly two exchanges: (group, salt) then (group)
    assert p.count("Exchange hashpartitioning") == 2


def _assert_two_phase_phase1(p: str, name: str) -> None:
    """The two-phase scale property of the Registry.sql rewrite: the
    map-side MapInArrow fold reads its source with no Exchange below it
    (states before any exchange), the batched __mergevec merge sits
    above, and no bare single-phase node is left."""
    import re

    assert f"{name}__mergevec" in p
    assert "MapInArrow" in p and "Exchange" not in _under(p, "MapInArrow")
    assert not re.findall(rf"{name}(?!__)", p)


def test_bare_sql_agg_rewritten_two_phase(spark, sf_dir):
    """Registry.sql: a query calling the BARE aggregate name over GROUP BY
    must compile to the two-phase shape — map-side fold + merge
    present, no single-phase bare GROUPED_AGG node anywhere in the plan."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["sql_agg_bare_two_phase"](spark, sf_dir))
    # the rewrite produced the two-phase shape for BOTH aggregates; no
    # single-phase bare aggregate node survived the rewrite
    _assert_two_phase_phase1(p, "sum_udaf")
    _assert_two_phase_phase1(p, "count_udaf")


def _under(plan: str, node: str) -> str:
    """The plan-tree lines below each ``node`` line (its subtrees)."""
    import re

    out, depth = [], None
    for line in plan.splitlines():
        m = re.search(r"[A-Za-z]", line)
        if m is None:
            continue
        d = m.start()
        if depth is not None and d > depth:
            out.append(line)
            continue
        depth = d if node in line else None
    return "\n".join(out)


def test_two_phase_fold_runs_before_any_exchange(spark, sf_dir):
    """Both two-phase fronts fold map-side: the MapInArrow fold of the
    Registry.sql rewrite and of AggregateFunction.agg reads the scan with
    no Exchange below it, so only pickled states shuffle."""
    from arrow_udf_spark.queries import QUERIES

    for name in ("sql_agg_bare_two_phase", "sum_udaf"):
        p = _plan(QUERIES[name](spark, sf_dir))
        below = _under(p, "MapInArrow")
        assert "Scan" in below, (name, p)
        assert "Exchange" not in below, (name, p)


def test_registry_sql_passthrough_without_aggs(spark, sf_dir):
    """Queries with no registered aggregate run unchanged through the
    scale-safe front door."""
    from arrow_udf_spark.plans.registry import GLOBAL

    spark.range(5).createOrReplaceTempView("rsql_pass")
    out = GLOBAL.sql(spark, "SELECT id * 2 AS d FROM rsql_pass")
    assert sorted(r["d"] for r in out.collect()) == [0, 2, 4, 6, 8]


def test_lsh_topk_no_cartesian(spark, sf_dir):
    """lsh_topk's candidate generation must be a bucket equi-join with the
    (small) query bands broadcast — never a cartesian/all-pairs plan."""
    from arrow_udf_spark.operators.similarity import lsh_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(lsh_topk(e, e.where(F.col("vec_id") < 3), k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_funnel_single_exchange(spark, sf_dir):
    """All funnel stages must share ONE user_id exchange — stacked windows
    re-sort but never re-partition, and the final reduction is
    co-partitioned (no second hash exchange)."""
    from arrow_udf_spark.queries import QUERIES

    plan = _plan(QUERIES["funnel_conversion"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:500]
    assert "EvalPython" not in plan


def test_kmeans_assignment_stays_jvm_side(spark, sf_dir):
    """The k-means assignment expression (broadcast centroid literals) is
    pure Catalyst — no Python eval, no join, no shuffle."""
    from arrow_udf_spark.operators.clustering import _assign
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cents = [(0, [0.0] * 64), (1, [1.0] * 64)]
    plan = _plan(_assign(v, cents))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_inverted_index_no_vocabulary_broadcast(spark, sf_dir):
    """The tail-token filter must be a shuffled/sort-merge join on the
    token key, NOT a broadcast of the vocabulary (unbounded at scale).
    AQE may still broadcast at this toy SF — disable it for the check."""
    from arrow_udf_spark.operators.text import inverted_index

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = _plan(inverted_index(d))
        assert "BroadcastHashJoin" not in plan, plan[:800]
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bm25_broadcasts_corpus_stats(spark, sf_dir):
    """Corpus-level stats (avgdl, N) and the per-term df table are tiny —
    they must broadcast; the doc-length join keys on doc_id."""
    from arrow_udf_spark.operators.text import bm25_topk

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(bm25_topk(d, terms=["dup", "data"], k=10))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_rolling_window_input_is_daily_aggregate(spark, sf_dir):
    """The unpartitioned window must sit ABOVE the daily groupBy (bounded
    rows), never over the raw event table."""
    from arrow_udf_spark.operators.temporal import rolling_daily_sum

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(rolling_daily_sum(ev))
    w = plan.index("Window")
    agg = plan.index("HashAggregate")
    assert w < agg, "window must consume the aggregate, not raw events"


def test_hamming_predicate_streams_through_join(spark, sf_dir):
    """r6 stress lesson: the hamming-distance filter must sit in the
    JOIN condition (candidates stream), never in a filter above it
    (candidates materialize — ~300M rows on a duplicate-heavy corpus
    before the 1g-heap OOM fix).  bit_count(xor) must appear inside the
    join's condition line, and no Filter node above the join may carry
    it."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["simhash_hamming_pairs"](spark, sf_dir))
    join_lines = [
        ln for ln in p.splitlines() if "Join" in ln and "bit_count" in ln
    ]
    assert join_lines, p[:2000]


def test_having_sql_agg_rewritten_two_phase(spark, sf_dir):
    """HAVING / aggregate-ORDER-BY tails must go through the same
    two-phase rewrite (r5 gap: they silently fell back to single-phase
    GROUPED_AGG).  The UDAF calls in the tail resolve to merge columns of
    the U subquery; COUNT(*) folds as a native partial into the same
    view; no bare single-phase aggregate appears anywhere in the plan."""
    import re

    from arrow_udf_spark.queries import QUERIES

    df = QUERIES["sql_agg_having_two_phase"](spark, sf_dir)
    p = _plan(df)
    _assert_two_phase_phase1(p, "sum_udaf")
    # COUNT(*) is a partial+final composition, never a per-group pandas
    # agg: the map-side fold's __bp partial merged by a native SUM
    assert "__bp0" in p


def test_global_sql_agg_rewritten_two_phase(spark, sf_dir):
    """A GLOBAL aggregate (no GROUP BY) is the single worst single-phase
    case — every row of the table on one worker — so Registry.sql must
    rewrite it to the two-phase fold/merge pair too."""
    import re

    from arrow_udf_spark.plans.registry import GLOBAL
    import arrow_udf_spark.functions.corpus  # noqa: F401 (registers fns)

    GLOBAL.register_sql(spark)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "li_glob"
    )
    df = GLOBAL.sql(
        spark,
        "SELECT CAST(sum_udaf(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s "
        "FROM li_glob",
    )
    p = _plan(df)
    _assert_two_phase_phase1(p, "sum_udaf")
    expected = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s")
        .first()["s"]
    )
    assert df.first()["s"] == expected


def test_ivf_persisted_index_partition_prunes(spark, sf_dir):
    """The persisted-IVF query path must read ONLY the probed cells'
    partition directories: the index scan carries a PartitionFilter of
    exactly the n_probe cells the single query probes — never the full
    cell list — and the probe/query sides broadcast (no shuffle of the
    index beyond the final per-query top-k)."""
    import re
    import tempfile

    from arrow_udf_spark.operators.clustering import kmeans_fit
    from arrow_udf_spark.operators.similarity import (
        ivf_build_index,
        ivf_persisted_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(e, k=8, iters=2)
    path = tempfile.mkdtemp(prefix="ivf_prune_") + "/index"
    ivf_build_index(e, cents, path)

    out = ivf_persisted_topk(
        spark, path, e.where(F.col("vec_id") < 1), cents, k=5, n_probe=2
    )
    plan = _plan(out)
    idx_scan = next(
        ln for ln in plan.splitlines() if "index" in ln and "FileScan" in ln
    )
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)", idx_scan)
    assert m, idx_scan
    cells = m.group(1).split(",")
    # ONE query with n_probe=2 probes exactly 2 cells out of 8
    assert len(cells) == 2, cells
    # probe pairs and query vectors broadcast into the pruned scan
    assert "BroadcastHashJoin" in plan
    # and the answer over the pruned scan matches the un-persisted
    # multiprobe search exactly
    from arrow_udf_spark.operators.similarity import ivf_multiprobe_topk

    exp = ivf_multiprobe_topk(
        e, e.where(F.col("vec_id") < 1), cents, k=5, n_probe=2
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, exp.collect())
    )


def test_window_sql_agg_two_phase_plan(spark, sf_dir):
    """r8: a window function through Registry.sql rides ABOVE the merge —
    the plan carries the two-phase fold/merge pair, a Window node, and the
    window's ORDER BY references the merged column (O(groups) rows), never
    a GROUPED_AGG pandas UDF inside a window frame."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["sql_agg_window_two_phase"](spark, sf_dir))
    _assert_two_phase_phase1(p, "sum_udaf")
    assert "Window" in p


def test_cte_sql_agg_two_phase_plan(spark, sf_dir):
    """r8: a WITH prefix through Registry.sql still compiles to the
    two-phase shape (the CTE resolves across the U/B subqueries), with the
    CTE's WHERE pushed into the scan."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["sql_agg_cte_two_phase"](spark, sf_dir))
    _assert_two_phase_phase1(p, "sum_udaf")
    # the CTE body's filter reached the parquet scan (pushdown through
    # the rewrite + CTE inlining)
    assert "PushedFilters: [IsNotNull(l_extendedprice), GreaterThan(l_extendedprice" in p


def _assert_only_row_index_spread(p: str) -> None:
    """The one exchange a map-only plan may carry is the adaptive spread
    that fans the 1-task fixture scan across cores, hash-partitioned on
    the parquet row index; a real corpus scan never pays it."""
    exchanges = [line for line in p.splitlines() if "Exchange " in line]
    assert len(exchanges) <= 1, exchanges
    for line in exchanges:
        assert "Exchange hashpartitioning(_extract_row_index" in line, line
        assert "REPARTITION_BY_NUM" in line, line
    assert not re.search(r"hashpartitioning\((?!_extract_row_index)", p), p
    assert "RoundRobinPartitioning" not in p


def test_png_pipeline_single_map_stage(spark, sf_dir):
    """r8: png_pixels is one map stage over the scan — no KEYED shuffle
    anywhere (the embarrassing-parallel contract); the row-index spread is
    the only exchange.  The map is the table-function core's mapInArrow."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["png_pixels"](spark, sf_dir))
    assert p.count("MapInArrow") == 1 and "MapInPandas" not in p
    _assert_only_row_index_spread(p)
    assert "Exchange rangepartitioning" not in p


def test_operators_have_no_pandas_map():
    """Every per-row or batch-shaped operator runs on the Arrow APIs: no
    pandas UDF, mapInPandas or (grouped-map) applyInPandas under
    ``operators/``.  Streaming's applyInPandasWithState is not matched."""
    from pathlib import Path

    import arrow_udf_spark.operators as ops

    pat = re.compile(r"pandas_udf|mapInPandas|applyInPandas\(")
    hits = [
        f"{path.name}:{i}: {line.strip()}"
        for path in sorted(Path(ops.__file__).parent.glob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not hits, hits


def test_one_column_view():
    """One Arrow view of a column for every front: the aggregate fold,
    table functions and the Flight server read columns through the scalar
    views (``py_values`` / ``batch_values``), the Flight server evaluates
    with ``_eval_arrays`` (not the pandas ``_eval`` test entry), and the
    streaming folds run the aggregate fold core, not a row loop of their
    own.  ``streaming_transitions`` is not a UDF body and is not matched."""
    import ast
    from pathlib import Path

    import arrow_udf_spark as pkg

    root = Path(pkg.__file__).parent
    hits = [
        f"{rel}:{i}: {line.strip()}"
        for rel, pat in (
            ("operators/aggregate.py", r"to_pandas\("),
            ("operators/table.py", r"to_pandas\("),
            ("sources/flight.py", r"to_pandas\(|\b_eval\("),
        )
        for i, line in enumerate((root / rel).read_text().splitlines(), 1)
        if re.search(pat, line)
    ]
    assert not hits, hits
    src = (root / "streaming/stateful.py").read_text()
    folds = {"streaming_running_agg", "streaming_running_agg_tws", "sliding_window_agg"}
    for node in ast.parse(src).body:
        if isinstance(node, ast.FunctionDef) and node.name in folds:
            body = ast.get_source_segment(src, node)
            assert "itertuples" not in body, node.name
            assert "_fold_all(" in body, node.name
            folds.discard(node.name)
    assert not folds, folds


def test_one_table_reader():
    """Catalog tables are read through one reader: ``queries.t`` and
    ``Catalog.table`` call ``sources.io.read_table``, and no other batch
    ``.read...parquet(...)`` in the package reads a catalog table path
    (one built from the scale-factor directory or a ``.parquet`` name).
    Re-reads of files a query has just written are not catalog reads."""
    import ast
    from pathlib import Path

    import arrow_udf_spark as pkg

    root = Path(pkg.__file__).parent
    callers = {("queries.py", "t"), ("sources/io.py", "table")}
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            if (rel, fn.name) in callers:
                called = {
                    c.func.id
                    for c in ast.walk(fn)
                    if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
                }
                assert "read_table" in called, (rel, fn.name)
                callers.discard((rel, fn.name))
            if (rel, fn.name) == ("sources/io.py", "read_table"):
                continue
            for c in ast.walk(fn):
                if not (
                    isinstance(c, ast.Call)
                    and isinstance(c.func, ast.Attribute)
                    and c.func.attr == "parquet"
                ):
                    continue
                if not re.search(r"\.read\b", ast.unparse(c.func.value)):
                    continue
                arg = ast.unparse(c.args[0]) if c.args else ""
                if re.search(r"\.parquet|\bsf(_dir)?\b", arg):
                    hits.append(f"{rel}:{c.lineno}: {arg}")
    assert not callers, callers
    assert not hits, hits


def test_one_sql_tokenizer():
    """The ``Registry.sql`` rewriter reads SQL text through one tokenizer:
    quote tracking and paren-depth counting appear once each, in
    ``_lex``, and the scanners it replaced are gone."""
    import ast
    from pathlib import Path

    from arrow_udf_spark.plans import registry as R

    src = Path(R.__file__).read_text()
    lex = next(
        ast.get_source_segment(src, node)
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef) and node.name == "_lex"
    )
    for pattern in ('in "\'\\"', "depth += 1"):
        assert src.count(pattern) == 1 and pattern in lex, pattern
    gone = [
        name
        for name in (
            "_GROUPBY_SHAPE", "_split_tail", "_split_and", "_split_set_ops",
            "_strip_union_tail", "_has_top_level_kw", "_match_paren",
            "_split_top_level",
        )
        if re.search(rf"\b{name}\b", src)
    ]
    assert not gone, gone


def test_udf_boundary_runs_on_arrow(spark, sf_dir):
    """Scalar functions are Arrow UDFs (eval type 250, SQL_SCALAR_ARROW_UDF)
    and table functions run on mapInArrow, each over the sort-free
    row-index spread."""
    from arrow_udf_spark.queries import QUERIES

    p = _plan(QUERIES["decimal_add_fn"](spark, sf_dir))
    evals = [line for line in p.splitlines() if "ArrowEvalPython" in line]
    assert len(evals) == 1 and evals[0].rstrip().endswith(", 250"), evals
    _assert_only_row_index_spread(p)

    p = _plan(QUERIES["series_udtf"](spark, sf_dir))
    assert "MapInArrow" in p and "MapInPandas" not in p
    _assert_only_row_index_spread(p)


def test_dup_span_cascade_digest_only_shuffles(spark, sf_dir):
    """r8: the cascade's shuffles carry md5 digests / doc ids, never gram
    text — and no cartesian anywhere (pair-free by construction).

    Since the r10 checkpoint staging, the assembled query's plan shows
    only the assembly joins over the pinned per-tier flag tables
    (``Scan ExistingRDD``) — the digest shuffles live in each TIER's
    plan, executed at construction.  So the digest-only property is
    asserted on the tier component (shared_shingle_flags) and the
    no-cartesian property on both."""
    from arrow_udf_spark.operators.dedup import shared_shingle_flags
    from arrow_udf_spark.queries import QUERIES

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tier = _plan(shared_shingle_flags(docs, "text", "doc_id", n=5))
    # since the r10 opt round the tier pins its (doc_id, md5-digest)
    # projection once (localCheckpoint) before the dup aggregate and the
    # join-back consume it — the digest-only property now reads: the
    # tier's plan scans the pinned proxy carrying ONLY doc_id + __h (the
    # md5 column), and no text column ever reaches a shuffle
    assert "Scan ExistingRDD" in tier and "__h" in tier
    assert "text#" not in tier  # the proxy never carries document text
    assert "CartesianProduct" not in tier
    assert "BroadcastNestedLoopJoin" not in tier

    p = _plan(QUERIES["dup_span_cascade"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # assembly reads the pinned (doc_id, n_spans) proxies, never text
    assert "Scan ExistingRDD" in p
