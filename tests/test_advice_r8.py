"""Regression tests for the round-7 ADVICE items fixed in round 8, plus
the r8 rewriter widenings (CTE prefix, window passthrough).

1. (low) _norm must not lowercase / strip whitespace inside quoted
   literals when matching select items to expression group keys —
   date_format(ts,'mm') is NOT the date_format(ts,'MM') group key.
2. (low) the CTE-prefix splitter (_split_with) is wired into
   the two-phase rewrite: WITH blocks ride verbatim above the rewritten
   main SELECT; RECURSIVE and UDAF-in-CTE-body shapes are refused.
3. (low->feature) window functions pass through the two-phase rewrite:
   the OVER() call stays in the outer query with every inner aggregate
   replaced by its merged column; UDAF window heads are refused.
4. (low) join_size_gate: disjoint key sets yield est=0 (not NULL),
   keeping est >= exact; products are DECIMAL so extreme skew can't
   wrap the inner product.
5. (low) skew_profile's ppm numerator is DECIMAL (no silent int64 wrap
   at ~9.2e12-row keys); output stays BIGINT and <= 1e6.
6. (low) asof_join_forward fills ONE struct of right_cols, so a matched
   right row's legitimate NULL is attached (not a later row's value)
   and multi-column values always come from the same right row.
"""

import pytest


# -- 1. quoted literals are case/space-significant in group-key match ------


def test_literal_case_not_folded_in_group_key_match(rewrite):
    # 'mm' vs 'MM': different expressions — must NOT resolve to the key
    # (falls back: the item is neither a key nor an aggregate)
    q = (
        "SELECT date_format(ts, 'mm') AS d, sum_udaf(v) AS s "
        "FROM t GROUP BY date_format(ts, 'MM')"
    )
    assert rewrite(q) is None


def test_literal_exact_match_still_resolves(rewrite):
    # same literal, different OUTER whitespace/case — still the key
    q = (
        "SELECT DATE_FORMAT(ts,'MM') AS d, sum_udaf(v) AS s "
        "FROM t GROUP BY date_format( ts , 'MM' )"
    )
    ok = rewrite(q)
    assert ok is not None and "__g0 AS d" in ok


def test_literal_internal_spaces_significant(rewrite):
    # 'a b' vs 'ab': stripping spaces inside the literal would alias the
    # wrong expression as the key
    q = (
        "SELECT concat(x, 'a b') AS k, sum_udaf(v) AS s "
        "FROM t GROUP BY concat(x, 'ab')"
    )
    assert rewrite(q) is None


# -- 2. CTE prefix rides above the rewritten main block --------------------


def test_cte_prefix_preserved(rewrite):
    q = (
        "WITH big AS (SELECT * FROM t WHERE v > 10) "
        "SELECT g, sum_udaf(v) AS s FROM big GROUP BY g"
    )
    ok = rewrite(q)
    assert ok is not None
    assert ok.startswith("WITH big AS (SELECT * FROM t WHERE v > 10)")
    assert "FROM __aus_fold_" in ok and "sum_udaf__mergevec" in ok


def test_cte_multiple_and_column_aliases(rewrite):
    q = (
        "WITH a (x) AS (SELECT v FROM t), b AS (SELECT x AS v, 1 AS g FROM a) "
        "SELECT g, sum_udaf(v) AS s FROM b GROUP BY g"
    )
    ok = rewrite(q)
    assert ok is not None and ok.startswith("WITH a (x) AS")


def test_cte_recursive_refused(rewrite):
    q = (
        "WITH RECURSIVE c AS (SELECT 1 AS n UNION ALL SELECT n+1 FROM c) "
        "SELECT g, sum_udaf(v) AS s FROM t GROUP BY g"
    )
    assert rewrite(q) is None


def test_cte_body_with_udaf_refused(rewrite):
    # the UDAF inside the CTE body would stay single-phase — refuse
    q = (
        "WITH pre AS (SELECT g, sum_udaf(v) AS s FROM t GROUP BY g) "
        "SELECT g, sum_udaf(s) AS s2 FROM pre GROUP BY g"
    )
    assert rewrite(q) is None


# -- 3. window-function passthrough ---------------------------------------


def test_window_rank_over_udaf(rewrite):
    q = (
        "SELECT g, sum_udaf(v) AS s, "
        "rank() OVER (ORDER BY sum_udaf(v) DESC) AS rnk "
        "FROM t GROUP BY g"
    )
    ok = rewrite(q)
    assert ok is not None
    assert "rank() OVER (ORDER BY __u0 DESC) AS rnk" in ok


def test_window_share_of_total(rewrite):
    q = (
        "SELECT g, sum_udaf(v) AS s, SUM(SUM(v)) OVER () AS total "
        "FROM t GROUP BY g"
    )
    ok = rewrite(q)
    assert ok is not None and "SUM(__b0) OVER ()" in ok


def test_window_partition_by_group_key_and_frame(rewrite):
    q = (
        "SELECT g, h, sum_udaf(v) AS s, "
        "row_number() OVER (PARTITION BY g ORDER BY sum_udaf(v) DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn "
        "FROM t GROUP BY g, h"
    )
    ok = rewrite(q)
    assert ok is not None
    assert "PARTITION BY g ORDER BY __u0 DESC" in ok
    assert "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW" in ok


def test_window_udaf_head_refused(rewrite):
    # GROUPED_AGG over window frames = the every-row-to-one-worker trap
    q = (
        "SELECT g, sum_udaf(v) OVER (PARTITION BY g) AS s "
        "FROM t GROUP BY g"
    )
    assert rewrite(q) is None


def test_window_unknown_head_refused(rewrite):
    q = (
        "SELECT g, sum_udaf(v) AS s, "
        "my_mystery_fn() OVER (ORDER BY g) AS m FROM t GROUP BY g"
    )
    assert rewrite(q) is None


def test_window_non_key_column_in_spec_refused(rewrite):
    # v is neither a group key nor an aggregate — it does not exist
    # above the merge
    q = (
        "SELECT g, sum_udaf(v) AS s, rank() OVER (ORDER BY v) AS rnk "
        "FROM t GROUP BY g"
    )
    assert rewrite(q) is None


def test_window_over_expression_group_key(rewrite):
    q = (
        "SELECT pmod(x, 7) AS b, sum_udaf(v) AS s, "
        "rank() OVER (PARTITION BY pmod(x, 7) ORDER BY sum_udaf(v)) AS rnk "
        "FROM t GROUP BY pmod(x, 7)"
    )
    ok = rewrite(q)
    assert ok is not None and "PARTITION BY __g0 ORDER BY __u0" in ok


def test_window_end_to_end(spark):
    import arrow_udf_spark.functions.corpus  # noqa: F401 (registers)
    from arrow_udf_spark.plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10), ("c", 5)], ["g", "v"]
    ).createOrReplaceTempView("win_e2e")
    rows = GLOBAL.sql(
        spark,
        "SELECT g, CAST(sum_udaf(CAST(v AS BIGINT)) AS BIGINT) AS s, "
        "rank() OVER (ORDER BY sum_udaf(CAST(v AS BIGINT)) DESC) AS rnk "
        "FROM win_e2e GROUP BY g ORDER BY g",
    ).collect()
    assert [(r.g, r.s, r.rnk) for r in rows] == [
        ("a", 3, 3), ("b", 10, 1), ("c", 5, 2)
    ]


# -- 4. join_size_gate: disjoint keys => est 0, not NULL -------------------


def test_join_size_gate_disjoint_keys(spark):
    from arrow_udf_spark.operators.sketch import join_size_gate

    a = spark.createDataFrame([(f"a{i}",) for i in range(5)], ["k"])
    b = spark.createDataFrame([(f"b{i}",) for i in range(5)], ["k"])
    row = join_size_gate(a, "k", b, "k", d=2, w=8).collect()[0]
    assert row.join_size_exact == 0
    assert row.join_size_est is not None
    assert row.join_size_est >= row.join_size_exact


# -- 5. skew_profile ppm: DECIMAL numerator, BIGINT output -----------------


def test_skew_profile_ppm_exact(spark):
    from arrow_udf_spark.operators.sketch import skew_profile

    df = spark.createDataFrame(
        [("hot",)] * 75 + [("warm",)] * 20 + [("cold",)] * 5, ["k"]
    )
    out = skew_profile(df, "k", top=3)
    assert dict(out.dtypes)["ppm"] == "bigint"
    rows = {r.key: r.ppm for r in out.collect()}
    assert rows == {"hot": 750000, "warm": 200000, "cold": 50000}


# -- 6. asof_join_forward: single-struct fill -----------------------------


def test_asof_forward_null_value_attached_not_skipped(spark):
    from arrow_udf_spark.operators.temporal import asof_join_forward

    left = spark.createDataFrame([("u", 1)], ["by", "ts"])
    # nearest future right row (ts=2) has a NULL value; a later row
    # (ts=3) has 99 — per-column fill would leak 99 backwards
    right = spark.createDataFrame(
        [("u", 2, None), ("u", 3, 99)], ["by", "ts", "val"]
    )
    row = asof_join_forward(left, right, on="ts", by="by").collect()[0]
    assert row.val is None


def test_asof_forward_multi_cols_same_row(spark):
    from arrow_udf_spark.operators.temporal import asof_join_forward

    left = spark.createDataFrame([("u", 1)], ["by", "ts"])
    right = spark.createDataFrame(
        [("u", 2, None, "first"), ("u", 3, 7, "second")],
        ["by", "ts", "a", "b"],
    )
    row = asof_join_forward(left, right, on="ts", by="by").collect()[0]
    # both columns from the SAME (ts=2) row: a NULL, b 'first'
    assert row.a is None and row.b == "first"


def test_asof_forward_basic_semantics_hold(spark):
    from arrow_udf_spark.operators.temporal import asof_join_forward

    left = spark.createDataFrame(
        [("u", 1), ("u", 5), ("u", 9), ("v", 4)], ["by", "ts"]
    )
    right = spark.createDataFrame(
        [("u", 5, 50), ("u", 7, 70), ("v", 1, 10)], ["by", "ts", "val"]
    )
    rows = {
        (r.by, r.ts): r.val
        for r in asof_join_forward(left, right, on="ts", by="by").collect()
    }
    # inclusive forward: ts=5 matches the ts=5 right row; ts=9 has no
    # future right row -> NULL; v@4 has no future row -> NULL
    assert rows == {("u", 1): 50, ("u", 5): 50, ("u", 9): None, ("v", 4): None}


# -- 7. set operations between aggregate blocks (r8 widening) --------------


def test_union_all_both_blocks_rewritten(rewrite):
    q = (
        "SELECT g, sum_udaf(v) AS s FROM a GROUP BY g "
        "UNION ALL SELECT g, sum_udaf(v) AS s FROM b GROUP BY g"
    )
    ok = rewrite(q)
    assert ok is not None
    # an independent fold view and merge per block
    assert ok.count("FROM __aus_fold_") == 2
    assert ok.count("sum_udaf__mergevec") == 2
    assert " UNION ALL " in ok


def test_union_mixed_blocks_verbatim_passthrough(rewrite):
    # second block calls no UDAF — passes through verbatim
    q = (
        "SELECT g, sum_udaf(v) AS s FROM a GROUP BY g "
        "UNION SELECT g, SUM(v) AS s FROM b GROUP BY g"
    )
    ok = rewrite(q)
    assert ok is not None
    assert ok.count("FROM __aus_fold_") == 1
    assert "SELECT g, SUM(v) AS s FROM b GROUP BY g" in ok


def test_union_level_order_by_limit_preserved(rewrite):
    q = (
        "SELECT g, sum_udaf(v) AS s FROM a GROUP BY g "
        "UNION ALL SELECT g, sum_udaf(v) AS s FROM b GROUP BY g "
        "ORDER BY s DESC LIMIT 5"
    )
    ok = rewrite(q)
    assert ok is not None
    # the tail binds to the UNION, not the last block
    assert ok.endswith("ORDER BY s DESC LIMIT 5")
    assert ok.count("FROM __aus_fold_") == 2


def test_union_expression_order_key_refused(rewrite):
    q = (
        "SELECT g, sum_udaf(v) AS s FROM a GROUP BY g "
        "UNION ALL SELECT g, sum_udaf(v) AS s FROM b GROUP BY g "
        "ORDER BY s + 1"
    )
    assert rewrite(q) is None


def test_intersect_and_except_supported(rewrite):
    for op in ("INTERSECT", "EXCEPT ALL"):
        q = (
            f"SELECT g, sum_udaf(v) AS s FROM a GROUP BY g {op} "
            "SELECT g, sum_udaf(v) AS s FROM b GROUP BY g"
        )
        ok = rewrite(q)
        assert ok is not None and f" {op} " in ok


def test_union_inside_subquery_not_split(rewrite):
    # a set op INSIDE parens belongs to the FROM subquery, not the top level
    q = (
        "SELECT g, sum_udaf(v) AS s "
        "FROM (SELECT g, v FROM a UNION ALL SELECT g, v FROM b) "
        "GROUP BY g"
    )
    ok = rewrite(q)
    assert ok is not None
    assert ok.count("FROM __aus_fold_") == 1


def test_union_unrewritable_block_refuses_whole_query(rewrite):
    # DISTINCT arg in block 2 is unprovable -> the WHOLE query falls back
    q = (
        "SELECT g, sum_udaf(v) AS s FROM a GROUP BY g "
        "UNION ALL SELECT g, sum_udaf(DISTINCT v) AS s FROM b GROUP BY g"
    )
    assert rewrite(q) is None


def test_union_end_to_end(spark):
    import arrow_udf_spark.functions.corpus  # noqa: F401
    from arrow_udf_spark.plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 7)], ["g", "v"]
    ).createOrReplaceTempView("u_e2e_1")
    spark.createDataFrame(
        [("a", 10), ("c", 4)], ["g", "v"]
    ).createOrReplaceTempView("u_e2e_2")
    rows = GLOBAL.sql(
        spark,
        "SELECT g, CAST(sum_udaf(CAST(v AS BIGINT)) AS BIGINT) AS s "
        "FROM u_e2e_1 GROUP BY g "
        "UNION ALL "
        "SELECT g, CAST(sum_udaf(CAST(v AS BIGINT)) AS BIGINT) AS s "
        "FROM u_e2e_2 GROUP BY g "
        "ORDER BY g, s",
    ).collect()
    assert [(r.g, r.s) for r in rows] == [
        ("a", 3), ("a", 10), ("b", 7), ("c", 4)
    ]


# -- 8. multi-grouping clauses (ROLLUP / CUBE / GROUPING SETS, r8) ---------


def test_rollup_rewritten_with_grouping_id_join(rewrite):
    q = (
        "SELECT a, b, sum_udaf(v) AS s, COUNT(*) AS c "
        "FROM t GROUP BY ROLLUP(a, b)"
    )
    ok = rewrite(q)
    assert ok is not None
    # U reads the fold's states at the finest granularity (a, b) and
    # re-aggregates them under the ORIGINAL clause; the COUNT folds into
    # the same view (finest partial counts summed by the rollup), so B —
    # a second full-source aggregation — does not exist
    assert "SELECT a, b, grouping_id() AS __gid" in ok
    assert "FROM __aus_fold_" in ok
    assert ok.count("GROUP BY ROLLUP(a, b)") == 1
    assert "COALESCE(SUM(__bp0), 0) AS __b0" in ok and "__aus_b" not in ok
    # grouping_id() still projected for GROUPING()/outer references
    assert "grouping_id() AS __gid" in ok


def test_grouping_sets_and_cube_rewritten(rewrite):
    for clause in ("CUBE(a, b)", "GROUPING SETS ((a, b), (a), ())"):
        q = f"SELECT a, b, sum_udaf(v) AS s FROM t GROUP BY {clause}"
        ok = rewrite(q)
        assert ok is not None, clause
        assert f"GROUP BY {clause}" in ok


def test_grouping_id_select_item_reuses_gid(rewrite):
    q = (
        "SELECT a, grouping_id() AS gid, sum_udaf(v) AS s "
        "FROM t GROUP BY ROLLUP(a)"
    )
    ok = rewrite(q)
    assert ok is not None and "__gid AS gid" in ok


def test_rollup_expression_member_refused(rewrite):
    q = (
        "SELECT pmod(x, 2) AS p, sum_udaf(v) AS s "
        "FROM t GROUP BY ROLLUP(pmod(x, 2))"
    )
    assert rewrite(q) is None


def test_rollup_end_to_end(spark):
    import arrow_udf_spark.functions.corpus  # noqa: F401
    from arrow_udf_spark.plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4), (None, "x", 8)],
        ["a", "b", "v"],
    ).createOrReplaceTempView("ru_e2e")
    q_u = (
        "SELECT a, b, grouping_id() AS gid, "
        "CAST(sum_udaf(CAST(v AS BIGINT)) AS BIGINT) AS s "
        "FROM ru_e2e GROUP BY ROLLUP(a, b)"
    )
    q_n = q_u.replace("sum_udaf(", "SUM(")
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    got = sorted(map(tuple, GLOBAL.sql(spark, q_u).collect()), key=key)
    exp = sorted(map(tuple, spark.sql(q_n).collect()), key=key)
    # the data-NULL group (None, 'x') and the super-aggregate rows carry
    # distinct gids — the exact ambiguity the __gid join resolves
    assert got == exp
