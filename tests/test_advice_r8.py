"""Regression tests for the round-7 ADVICE items fixed in round 8.

1-3, 7-8. The rewriter cases — quoted literals in group-key matching,
   the CTE prefix, window passthrough, set operations and multi-grouping
   clauses — moved to ``tests/test_registry.py``; the imports at the end
   keep their names here.
4. (low) join_size_gate: disjoint key sets yield est=0 (not NULL),
   keeping est >= exact; products are DECIMAL so extreme skew can't
   wrap the inner product.
5. (low) skew_profile's ppm numerator is DECIMAL (no silent int64 wrap
   at ~9.2e12-row keys); output stays BIGINT and <= 1e6.
6. (low) asof_join_forward fills ONE struct of right_cols, so a matched
   right row's legitimate NULL is attached (not a later row's value)
   and multi-column values always come from the same right row.
"""

from test_registry import (  # noqa: F401 (moved; the old names stay)
    test_cte_body_with_udaf_refused,
    test_cte_multiple_and_column_aliases,
    test_cte_prefix_preserved,
    test_cte_recursive_refused,
    test_grouping_id_select_item_reuses_gid,
    test_grouping_sets_and_cube_rewritten,
    test_intersect_and_except_supported,
    test_literal_case_not_folded_in_group_key_match,
    test_literal_exact_match_still_resolves,
    test_literal_internal_spaces_significant,
    test_rollup_end_to_end,
    test_rollup_expression_member_refused,
    test_rollup_rewritten_with_grouping_id_join,
    test_union_all_both_blocks_rewritten,
    test_union_end_to_end,
    test_union_expression_order_key_refused,
    test_union_inside_subquery_not_split,
    test_union_level_order_by_limit_preserved,
    test_union_mixed_blocks_verbatim_passthrough,
    test_union_unrewritable_block_refuses_whole_query,
    test_window_end_to_end,
    test_window_non_key_column_in_spec_refused,
    test_window_over_expression_group_key,
    test_window_partition_by_group_key_and_frame,
    test_window_rank_over_udaf,
    test_window_share_of_total,
    test_window_udaf_head_refused,
    test_window_unknown_head_refused,
)


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
