"""Regression tests for the round-6 ADVICE items fixed in round 7.

1-2. The rewriter cases (scalar subqueries are never hoisted out of
   their scope; unbalanced parens are refused) moved to
   ``tests/test_registry.py``, and the imports below keep their
   names here.  The two ``WHERE x IN (SELECT ... ORDER BY ...)`` cases
   now rewrite there (``test_where_subquery_with_order_by_rewrites``,
   ``..._limit_rewrites``): the clause split no longer cuts WHERE at the
   subquery's ORDER BY.
3. (low) count_min_estimate's truth side counts the same (empty-token
   filtered) stream the sketch ingested, keeping est >= true.
4. (low) source_token_tv computes its numerator in DECIMAL(38,0) so the
   c_A(t)*N_B products cannot silently wrap int64 at 100 TB corpora.
"""

from test_registry import (  # noqa: F401 (moved; the old names stay)
    test_e2e_having_scalar_subquery_single_phase,
    test_exists_subquery_in_having_falls_back,
    test_having_with_builtin_and_case_still_rewrites,
    test_plain_having_still_rewrites,
    test_scalar_subquery_in_having_falls_back,
    test_scalar_subquery_in_order_by_falls_back,
    test_scalar_subquery_in_select_falls_back,
    test_unbalanced_parens_refused as test_split_tail_depth_guard,
)


# -- 3. CMS truth side matches the sketch stream ---------------------------


def test_cms_truth_side_excludes_empty_tokens(spark):
    from arrow_udf_spark.operators.sketch import count_min_estimate

    df = spark.createDataFrame([("a  b   a",), ("   ",)], "text: string")
    out = count_min_estimate(df, ["a", "b", ""], d=2, w=16)
    rows = {r["token"]: (r["true_cnt"], r["cms_est"]) for r in out.collect()}
    assert rows["a"][0] == 2 and rows["b"][0] == 1
    # the whitespace-only doc tokenizes to [''], which the sketch never
    # counted — the truth side must agree, keeping est >= true
    assert rows[""][0] == 0
    for tok, (tc, est) in rows.items():
        assert est >= tc, f"CMS invariant broken for {tok!r}: {est} < {tc}"


# -- 4. TV numerator in DECIMAL(38,0) --------------------------------------


def test_source_token_tv_decimal_numerator(spark):
    from arrow_udf_spark.operators.text import source_token_tv

    df = spark.createDataFrame(
        [("s1", "a a b"), ("s2", "a b b b")],
        "source: string, text: string",
    )
    out = source_token_tv(df, ["s1", "s2"])
    # r8: the provably-int64-fitting path emits BIGINT (2*N_A*N_B < 2^63
    # here) — the overflow guarantee lives in the internal DECIMAL
    # cross-multiplication and the beyond-int64 output branch
    assert dict(out.dtypes)["tv_num"] == "bigint"
    r = out.collect()[0]
    # N_A=3, N_B=4; token a: |2*4 - 1*3| = 5; token b: |1*4 - 3*3| = 5
    assert r["tv_num"] == 10
    assert (r["n_a"], r["n_b"]) == (3, 4)
