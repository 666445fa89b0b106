"""Regression tests for the round-6 ADVICE items fixed in round 7.

1. (high) registry._rewrite_agg_calls must not hoist aggregates out of
   scalar subqueries — a SELECT keyword in HAVING/ORDER BY/select items
   falls back to single-phase instead of computing the inner aggregate
   over the OUTER table.
2. (medium) registry._split_tail must reject unbalanced-paren tails
   (the non-paren-aware shape regex truncating ``WHERE x IN (SELECT ...
   ORDER BY z)``) instead of emitting malformed SQL.
3. (low) count_min_estimate's truth side counts the same (empty-token
   filtered) stream the sketch ingested, keeping est >= true.
4. (low) source_token_tv computes its numerator in DECIMAL(38,0) so the
   c_A(t)*N_B products cannot silently wrap int64 at 100 TB corpora.
"""

import warnings
from decimal import Decimal

import pytest


# -- 1. scalar subqueries must not be hoisted ------------------------------


def test_scalar_subquery_in_having_falls_back(rewrite):
    q = (
        "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g "
        "HAVING s > (SELECT max(y) FROM u)"
    )
    assert rewrite(q) is None


def test_scalar_subquery_in_select_falls_back(rewrite):
    q = (
        "SELECT g, sum_udaf(x) + (SELECT max(y) FROM u) AS s "
        "FROM t GROUP BY g"
    )
    assert rewrite(q) is None


def test_exists_subquery_in_having_falls_back(rewrite):
    q = (
        "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g "
        "HAVING EXISTS (SELECT 1 FROM u)"
    )
    assert rewrite(q) is None


def test_scalar_subquery_in_order_by_falls_back(rewrite):
    q = (
        "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g "
        "ORDER BY sum_udaf(x) - (SELECT max(y) FROM u)"
    )
    assert rewrite(q) is None


def test_plain_having_still_rewrites(rewrite):
    """The fix must not regress the provable shapes."""
    ok = rewrite(
        "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g "
        "HAVING sum_udaf(x) > 5 AND g IS NOT NULL"
    )
    assert ok is not None and "__u0" in ok


def test_having_with_builtin_and_case_still_rewrites(rewrite):
    ok = rewrite(
        "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g "
        "HAVING CASE WHEN count(x) > 2 THEN sum_udaf(x) ELSE 0 END > 5"
    )
    assert ok is not None and "__b0" in ok and "__u0" in ok


# -- 2. unbalanced tails from the shape regex ------------------------------


def test_where_subquery_with_order_by_falls_back(rewrite):
    """_GROUPBY_SHAPE truncates WHERE at the inner ORDER BY; the depth
    guard in _split_tail rejects the resulting ``ORDER BY z)`` tail."""
    q = (
        "SELECT sum_udaf(x) AS s FROM t "
        "WHERE x IN (SELECT y FROM u ORDER BY z)"
    )
    assert rewrite(q) is None


def test_where_subquery_with_order_by_limit_falls_back(rewrite):
    q = (
        "SELECT g, sum_udaf(x) AS s FROM t "
        "WHERE x IN (SELECT y FROM u ORDER BY z LIMIT 5) GROUP BY g"
    )
    assert rewrite(q) is None


def test_split_tail_depth_guard():
    from arrow_udf_spark.plans.registry import Registry

    split = Registry._split_tail
    assert split(" ORDER BY z)") is None  # closes a paren it never opened
    assert split(" HAVING (x > 1") is None  # never closes
    assert split(" HAVING (x > 1) ORDER BY y") == ("(x > 1)", "y", None)


def test_e2e_having_scalar_subquery_single_phase(spark):
    """End-to-end: the unprovable shape runs single-phase (with the
    registration warning) and returns the right answer."""
    from arrow_udf_spark.functions import corpus  # noqa: F401 (registers)
    from arrow_udf_spark.plans.registry import GLOBAL

    spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5)], "g: int, x: int"
    ).createOrReplaceTempView("adv7_t")
    spark.createDataFrame([(12,)], "y: int").createOrReplaceTempView(
        "adv7_u"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df = GLOBAL.sql(
            spark,
            "SELECT g, sum_udaf(x) AS s FROM adv7_t GROUP BY g "
            "HAVING s > (SELECT max(y) FROM adv7_u)",
        )
        rows = [(r["g"], r["s"]) for r in df.collect()]
    assert rows == [(1, 30)]
    assert any(issubclass(x.category, RuntimeWarning) for x in w)


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
