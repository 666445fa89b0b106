import re
import warnings
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from arrow_udf_spark import Registry, udf


def test_overloads_and_mangling():
    reg = Registry()

    @udf(input_types=["int", "int"], result_type="int", name="f", registry=reg)
    def f_int(a, b):
        return a

    @udf(input_types=["bigint", "bigint"], result_type="bigint", name="f", registry=reg)
    def f_big(a, b):
        return a

    assert reg.get("f").sig.arg_types == ("int", "int")
    assert reg.get("f", ("bigint", "bigint")).sig.mangled() == "f__bigint_bigint"
    with pytest.raises(KeyError):
        reg.get("f", ("string",))
    with pytest.raises(KeyError):
        reg.get("nope")


def test_variadic_match():
    reg = Registry()

    @udf(
        input_types=["string", "int"],
        result_type="string",
        name="v",
        variadic=True,
        registry=reg,
    )
    def v(s, *xs):
        return s

    assert reg.get("v", ("string", "int", "int", "int")).sig.name == "v"
    with pytest.raises(KeyError):
        reg.get("v", ("string", "int", "string"))


def test_global_corpus_registered():
    from arrow_udf_spark import GLOBAL
    import arrow_udf_spark.functions  # noqa: F401

    names = GLOBAL.names()
    for expected in ["gcd", "div", "series", "key_values", "sum_udaf", "weighted_avg"]:
        assert expected in names, expected


def test_udtf_sql_registration(spark):
    from arrow_udf_spark.functions import corpus as C  # noqa: F401 (registers)
    from arrow_udf_spark.plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    # table function as a SQL relation
    out = spark.sql("SELECT * FROM series(4)").collect()
    assert [r.series for r in out] == [0, 1, 2, 3]
    # lateral over a real table, struct output flattened to columns
    p = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    p.createOrReplaceTempView("part_sqludtf")
    rows = spark.sql(
        """
        SELECT p.p_partkey, s.word, s.length
        FROM part_sqludtf p, LATERAL split_words(p.p_name) s
        LIMIT 20
        """
    ).collect()
    assert len(rows) == 20 and all(r.length == len(r.word) for r in rows)


def test_udtf_sql_fallible_error_row(spark):
    from arrow_udf_spark.plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    rows = spark.sql(
        """SELECT * FROM json_array_elements('{"not": "array"}')"""
    ).collect()
    assert len(rows) == 1
    assert rows[0].json_array_elements is None and "not an array" in rows[0].error


def test_udaf_sql_registration(spark):
    from arrow_udf_spark.plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.createOrReplaceTempView("li_udaf")
    got = spark.sql(
        """
        SELECT l_returnflag, sum_udaf(l_orderkey) AS s,
               weighted_avg(l_extendedprice, l_quantity) AS w
        FROM li_udaf GROUP BY l_returnflag
        """
    ).collect()
    exp = {
        r.l_returnflag: (r.s, r.w)
        for r in spark.sql(
            """
            SELECT l_returnflag, SUM(l_orderkey) AS s,
                   SUM(l_extendedprice * l_quantity) / SUM(l_quantity) AS w
            FROM li_udaf GROUP BY l_returnflag
            """
        ).collect()
    }
    assert len(got) == len(exp)
    for r in got:
        s, w = exp[r.l_returnflag]
        assert r.s == s and abs(r.w - w) < 1e-6


def test_udaf_sql_two_phase_pair(spark):
    """``__partial`` and ``__mergevec(collect_list(...))`` give SQL the
    salted two-level plan: partial folds per (key, salt) bucket,
    merge+finish per key.  weighted_avg carries a struct state, so a
    wrong merge (e.g. averaging averages) diverges immediately."""
    from arrow_udf_spark.plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.createOrReplaceTempView("li_2p")
    got = spark.sql(
        """
        SELECT l_returnflag,
               sum_udaf__mergevec(collect_list(ps)) AS s,
               weighted_avg__mergevec(collect_list(pw)) AS w
        FROM (
            SELECT l_returnflag,
                   sum_udaf__partial(l_orderkey) AS ps,
                   weighted_avg__partial(l_extendedprice, l_quantity) AS pw
            FROM li_2p
            GROUP BY l_returnflag, pmod(hash(l_orderkey), 16)
        )
        GROUP BY l_returnflag
        """
    ).collect()
    exp = {
        r.l_returnflag: (r.s, r.w)
        for r in spark.sql(
            """
            SELECT l_returnflag, SUM(l_orderkey) AS s,
                   SUM(l_extendedprice * l_quantity) / SUM(l_quantity) AS w
            FROM li_2p GROUP BY l_returnflag
            """
        ).collect()
    }
    assert len(got) == len(exp)
    for r in got:
        s, w = exp[r.l_returnflag]
        assert r.s == s and abs(r.w - w) < 1e-6


#: NULL-bearing bigint rows whose k=1 sum needs all 64 bits: a float64
#: detour rounds 2^60 + 4 to 2^60
_EXACT_ROWS = [(1, 2**60 + 1), (1, 3), (1, None), (2, 5)]


def test_sql_udaf_surfaces_exact_on_null_bearing_bigint(spark):
    """The bare SQL name and the ``__partial`` +
    ``__mergevec(collect_list(...))`` pair fold a NULL-bearing bigint
    column exactly, as native SUM does."""
    import warnings

    from arrow_udf_spark.plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    spark.createDataFrame(_EXACT_ROWS, "k int, x bigint") \
        .createOrReplaceTempView("exact_sum_t")
    exp = dict(spark.sql("SELECT k, SUM(x) FROM exact_sum_t GROUP BY k").collect())
    assert exp[1] == 2**60 + 4
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        bare = spark.sql(
            "SELECT k, sum_udaf(x) FROM exact_sum_t GROUP BY k"
        ).collect()
    pair = spark.sql(
        """
        SELECT k, sum_udaf__mergevec(collect_list(p)) FROM (
            SELECT k, sum_udaf__partial(x) AS p FROM exact_sum_t GROUP BY k
        ) GROUP BY k
        """
    ).collect()
    assert dict(bare) == exp
    assert dict(pair) == exp


def test_raw_sql_kmv_udaf_matches_dataframe_agg(spark):
    """A raw ``spark.sql`` call of ``kmv_udaf`` over a NULL-bearing bigint
    column sees exact hashes, as the DataFrame path does."""
    import warnings

    from arrow_udf_spark.operators.sketch import KmvAgg
    from arrow_udf_spark.plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    df = spark.createDataFrame(_EXACT_ROWS, "k int, x bigint")
    df.createOrReplaceTempView("exact_kmv_t")
    exp = {r.k: r.kmv_udaf for r in KmvAgg.agg(df, by=["k"], args=["x"]).collect()}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = spark.sql(
            "SELECT k, kmv_udaf(x) AS e FROM exact_kmv_t GROUP BY k"
        ).collect()
    assert {r.k: r.e for r in got} == exp


def test_redefinition_replaces_the_entry(spark):
    """Re-running ``@udf(name=...)`` with the same signature replaces the
    registered body: ``get`` and ``SELECT f(...)`` both see the new one."""
    reg = Registry()

    @udf(input_types=["bigint"], result_type="bigint", name="redef_f", registry=reg)
    def f(x):
        return x + 1

    reg.register_sql(spark)
    assert spark.sql("SELECT redef_f(1) AS v").collect()[0].v == 2

    @udf(input_types=["bigint"], result_type="bigint", name="redef_f", registry=reg)
    def f(x):  # noqa: F811 (the redefinition under test)
        return x + 2

    assert len(reg.all()) == 1
    assert reg.get("redef_f").fn(1) == 3
    reg.register_sql(spark)
    assert spark.sql("SELECT redef_f(1) AS v").collect()[0].v == 3


def test_udaf_sql_surface_warns_no_partial_agg(spark):
    """The SQL GROUPED_AGG surface cannot do map-side combine (Spark ships
    the whole group to one worker); wrapping must warn loudly so pipelines
    reach for the two-phase AggregateFunction.agg path on hot keys."""
    import warnings

    from arrow_udf_spark.functions import corpus as C

    C.SumAgg._grouped_agg_cache = None  # reset the once-per-aggregate memo
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        C.SumAgg.as_spark_grouped_agg()
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("without partial" in m for m in msgs), msgs
    assert any("Registry.sql" in m for m in msgs), msgs
    assert any("agg(df, by=" in m for m in msgs), msgs


def test_udaf_overloads_all_get_two_phase_pair(spark):
    """EVERY aggregate overload must register its __partial/__mergevec pair —
    the second (mangled-name) overload included, not just the bare-named
    first one (ADVICE r3)."""
    from arrow_udf_spark.operators.aggregate import udaf
    from arrow_udf_spark.plans.registry import Registry

    reg = Registry()

    @udaf(input_types=["bigint"], result_type="bigint", name="ovl_sum", registry=reg)
    class OvlSumInt:
        def create_state(self):
            return 0

        def accumulate(self, s, x):
            return s + (0 if x is None else int(x))

        def merge(self, a, b):
            return a + b

    @udaf(input_types=["double"], result_type="double", name="ovl_sum", registry=reg)
    class OvlSumDouble:
        def create_state(self):
            return 0.0

        def accumulate(self, s, x):
            return s + (0.0 if x is None else float(x))

        def merge(self, a, b):
            return a + b

    registered = set(reg.register_sql(spark))
    # first overload owns the bare name; the second registers mangled —
    # and BOTH must expose partial/mergevec
    assert {"ovl_sum__partial", "ovl_sum__mergevec"} <= registered
    assert {"ovl_sum__double__partial", "ovl_sum__double__mergevec"} <= registered
    got = spark.sql(
        """
        SELECT ovl_sum__double__mergevec(collect_list(p)) AS s FROM (
            SELECT ovl_sum__double__partial(CAST(id AS DOUBLE)) AS p
            FROM range(10) GROUP BY pmod(id, 3)
        )
        """
    ).collect()
    assert got[0].s == 45.0


def test_two_phase_rewrite_handles_aggregate_tail(rewrite):
    """HAVING / aggregate ORDER BY tails ride the two-phase rewrite (r6,
    closing the r5 silent-fallback gap): UDAF calls become __u columns of
    the U subquery over the fold view; built-in aggregates must NEVER
    evaluate over partial states — they fold into the view as native
    partials or run in the B subquery, and HAVING becomes a WHERE."""
    ok = rewrite(
        "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g ORDER BY s DESC LIMIT 5"
    )
    assert ok is not None and ok.rstrip().endswith("ORDER BY s DESC LIMIT 5")
    # built-in agg in HAVING -> folded into the view: a per-(group,
    # partition) COUNT partial merged by SUM in U (exact — the same
    # partial/merge arithmetic Spark's Aggregate does), WHERE over U;
    # the COUNT must aggregate source rows, never partial states
    ok = rewrite(
        "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g HAVING COUNT(*) > 5"
    )
    assert ok is not None
    assert "FROM __aus_fold_" in ok and "WHERE __b0 > 5" in ok
    assert "COALESCE(SUM(__bp0), 0) AS __b0" in ok
    assert "__aus_b" not in ok  # B subquery folded away — no second scan
    assert "COUNT(__st" not in ok  # never counts partial states
    # plain grouped-column HAVING stays a WHERE on U alone (no B join)
    ok = rewrite("SELECT g, sum_udaf(x) AS s FROM t GROUP BY g HAVING g > 5")
    assert ok is not None and "WHERE g > 5" in ok and "JOIN" not in ok
    # aggregate ORDER BY rides the same path
    ok = rewrite("SELECT g, sum_udaf(x) AS s FROM t GROUP BY g ORDER BY SUM(x)")
    assert ok is not None and "ORDER BY __b0" in ok
    # UDAF calls in the tail memoize onto the SELECT's partial state
    ok = rewrite(
        "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g HAVING sum_udaf(x) > 5"
    )
    assert ok is not None and ok.count("sum_udaf__mergevec(") == 1
    assert "WHERE __u0 > 5" in ok
    # unknown (potentially aggregate) calls in the tail must fall back
    assert (
        rewrite(
            "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g "
            "HAVING percentile_approx(x, 0.5) > 1"
        )
        is None
    )


def test_two_phase_rewrite_rejects_distinct_args(rewrite):
    """agg(DISTINCT x) cannot be split into partials (per-partition
    DISTINCT misses cross-partition dupes) — must fall back."""
    assert (
        rewrite("SELECT g, sum_udaf(DISTINCT x) AS s FROM t GROUP BY g")
        is None
    )


def test_two_phase_having_resolves_select_aliases(rewrite):
    """Spark lets HAVING reference a select alias (HAVING sum_qty > N);
    the rewritten WHERE runs over the U/B join BELOW the projection that
    creates the alias, so the rewriter must substitute the alias's
    expression."""
    ok = rewrite(
        "SELECT g, CAST(sum_udaf(x) AS BIGINT) AS sum_qty FROM t "
        "GROUP BY g HAVING sum_qty > 100"
    )
    assert ok is not None
    assert "WHERE (CAST(__u0 AS BIGINT)) > 100" in ok


def test_register_sql_strict_refuses_single_phase(spark):
    """VERDICT r6 ask #5: ``register_sql(strict=True)`` never registers
    the single-phase GROUPED_AGG surface — the bare aggregate name fails
    analysis instead of silently planning the whole-group-on-one-worker
    shape — while the __partial/__mergevec pair still works, and
    ``Registry.sql`` raises (with the DataFrame-path pointer) on shapes
    it cannot rewrite instead of falling back."""
    import warnings

    from arrow_udf_spark.operators.aggregate import udaf
    from arrow_udf_spark.plans.registry import Registry

    reg = Registry()

    @udaf(
        input_types=["bigint"], result_type="bigint", name="strict_sum",
        registry=reg,
    )
    class StrictSum:
        def create_state(self):
            return 0

        def accumulate(self, s, x):
            return s + (0 if x is None else int(x))

        def merge(self, a, b):
            return a + b

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        registered = set(reg.register_sql(spark, strict=True))
    # no single-phase registration -> no GROUPED_AGG scale warning
    assert not any(
        "without partial" in str(w.message) for w in caught
    ), [str(w.message) for w in caught]
    assert "strict_sum" not in registered
    assert registered == {"strict_sum__partial", "strict_sum__mergevec"}
    # the pair is the only SQL surface: bare name fails analysis
    spark.range(10).selectExpr(
        "id AS x", "pmod(id, 3) AS g"
    ).createOrReplaceTempView("strict_t")
    with pytest.raises(Exception, match="(?i)unresolved|cannot resolve"):
        spark.sql("SELECT g, strict_sum(x) FROM strict_t GROUP BY g").collect()
    got = spark.sql(
        """
        SELECT strict_sum__mergevec(collect_list(p)) AS s FROM (
            SELECT strict_sum__partial(x) AS p FROM strict_t
            GROUP BY pmod(x, 4)
        )
        """
    ).collect()
    assert got[0]["s"] == 45
    # provable shapes still rewrite and run through the front door
    df = reg.sql(
        spark, "SELECT g, strict_sum(x) AS s FROM strict_t GROUP BY g"
    )
    assert sorted((r["g"], r["s"]) for r in df.collect()) == [
        (0, 18), (1, 12), (2, 15),
    ]
    # unprovable shapes raise in strict mode (no single-phase fallback)
    with pytest.raises(ValueError, match="strict SQL mode"):
        reg.sql(
            spark,
            "SELECT g, strict_sum(x) AS s FROM strict_t GROUP BY g "
            "HAVING s > (SELECT max(id) FROM range(1))",
        )


def test_two_phase_expression_group_keys(rewrite):
    """GROUP BY expressions (pmod, date_trunc, arithmetic over columns)
    ride the two-phase rewrite: each key is aliased __g{i} through the
    fold view and U, and select items matching the key expression
    resolve to the alias.  Unknown functions in a key still fall back."""
    ok = rewrite(
        "SELECT pmod(x, 7) AS b, sum_udaf(y) AS s, COUNT(*) AS c "
        "FROM t GROUP BY pmod(x, 7)"
    )
    assert ok is not None
    assert "GROUP BY __g0" in ok
    # B folded into the view
    assert "COALESCE(SUM(__bp0), 0) AS __b0" in ok and "__aus_b" not in ok
    assert "__g0 AS b" in ok
    # quoted literal inside the key expression
    ok2 = rewrite(
        "SELECT date_trunc('DAY', ts) AS d, sum_udaf(v) AS s "
        "FROM t GROUP BY date_trunc('DAY', ts)"
    )
    assert ok2 is not None and "__g0 AS d" in ok2
    # expression key without a select alias is unprovable
    assert rewrite(
        "SELECT pmod(x, 7), sum_udaf(y) AS s FROM t GROUP BY pmod(x, 7)"
    ) is None
    # unknown function in the key -> fallback
    assert rewrite(
        "SELECT hash(x) AS b, sum_udaf(y) AS s FROM t GROUP BY hash(x)"
    ) is None
    # subquery smuggled into a key -> fallback
    assert rewrite(
        "SELECT cast((SELECT max(z) FROM u) AS INT) AS b, sum_udaf(y) AS s "
        "FROM t GROUP BY cast((SELECT max(z) FROM u) AS INT)"
    ) is None
    # plain-column keys keep their name (no __g alias)
    ok3 = rewrite("SELECT g, sum_udaf(y) AS s FROM t GROUP BY g")
    assert ok3 is not None and "__g0" not in ok3


def test_pivot_expansion_rewrite(rewrite):
    """r8: PIVOT with a UDAF head expands to the GROUP BY + CASE form
    (Spark's own ResolvePivot expansion for null-ignoring aggregates)
    and then rides the two-phase rewrite.  Native Spark refuses
    pandas UDAFs in PIVOT outright (UNSUPPORTED_FEATURE.
    PANDAS_UDAF_IN_PIVOT), so the front door is the ONLY way to run
    one — and it runs scale-safe."""
    main = (
        "SELECT * FROM (SELECT g, k, v FROM t) "
        "PIVOT (sum_udaf(v) FOR k IN ('a' AS ca, 'b' AS cb)) ORDER BY g"
    )
    core, _outer, _tail = Registry._expand_pivot(main, {"sum_udaf"})
    assert "CASE WHEN k = 'a' THEN v END AS __pv0" in core
    ok = rewrite(main)
    assert ok is not None
    assert "FROM __aus_fold_" in ok and "sum_udaf__mergevec" in ok
    assert "AS ca" in ok and "AS cb" in ok
    # unaliased values name the column after the literal text
    ok2 = rewrite(
        "SELECT * FROM (SELECT g, k, v FROM t) "
        "PIVOT (sum_udaf(v) FOR k IN ('a', 'b'))"
    )
    assert ok2 is not None and "AS a" in ok2 and "AS b" in ok2
    # numeric literal values get backticked output names
    ok3 = rewrite(
        "SELECT * FROM (SELECT g, k, v FROM t) "
        "PIVOT (sum_udaf(v) FOR k IN (1, 2))"
    )
    assert ok3 is not None and "AS `1`" in ok3 and "AS `2`" in ok3


def test_pivot_refusal_shapes(rewrite):
    """PIVOT shapes outside the provable grammar refuse (None) rather
    than mangle: non-star outer select, non-literal values, expression
    agg args, no remaining group keys, WHERE after the pivot."""
    bad = [
        # outer select not *
        "SELECT g FROM (SELECT g, k, v FROM t) "
        "PIVOT (sum_udaf(v) FOR k IN ('a'))",
        # non-literal pivot value
        "SELECT * FROM (SELECT g, k, v FROM t) "
        "PIVOT (sum_udaf(v) FOR k IN (upper('a') AS ca))",
        # expression agg arg
        "SELECT * FROM (SELECT g, k, v FROM t) "
        "PIVOT (sum_udaf(v + 1) FOR k IN ('a' AS ca))",
        # all columns consumed -> no group keys
        "SELECT * FROM (SELECT k, v FROM t) "
        "PIVOT (sum_udaf(v) FOR k IN ('a' AS ca))",
        # WHERE after the pivot clause
        "SELECT * FROM (SELECT g, k, v FROM t) "
        "PIVOT (sum_udaf(v) FOR k IN ('a' AS ca)) WHERE g > 1",
        # inner select with star: implicit keys undecidable
        "SELECT * FROM (SELECT * FROM t) "
        "PIVOT (sum_udaf(v) FOR k IN ('a' AS ca))",
    ]
    for q in bad:
        assert rewrite(q) is None, q
    # PIVOT buried in a FROM subquery (no UDAF inside) must not trip the
    # top-level expansion: the k-in-subquery shape is not top level
    from arrow_udf_spark.plans.registry import _split_top

    assert _split_top(
        "x FROM (SELECT * FROM t PIVOT (SUM(v) FOR k IN ('a'))) GROUP BY x",
        "PIVOT",
    ) == [("", "x FROM (SELECT * FROM t PIVOT (SUM(v) FOR k IN ('a'))) GROUP BY x")]


def test_pivot_matches_native_builtin(spark):
    """Referee: the expanded two-phase UDAF pivot must be row-identical
    to NATIVE Spark PIVOT with the built-in SUM (sum_udaf == SUM on
    bigint) — column names, order, and values."""
    from arrow_udf_spark import GLOBAL

    GLOBAL.register_sql(spark)
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 5), (2, "c", 7), (1, "a", 3)],
        ["g", "k", "v"],
    )
    df.createOrReplaceTempView("pvt_ref")
    tpl = (
        "SELECT * FROM (SELECT g, k, CAST(v AS BIGINT) AS v FROM pvt_ref) "
        "PIVOT ({AGG}(v) FOR k IN ('a' AS ka, 'b' AS kb, 'z' AS kz)) "
        "ORDER BY g"
    )
    ours = GLOBAL.sql(spark, tpl.format(AGG="sum_udaf"))
    native = spark.sql(tpl.format(AGG="SUM"))
    assert ours.columns == native.columns
    # the 'z' slice is empty for every group: ANSI SUM yields NULL there,
    # sum_udaf yields 0 by the reference's contract (create_state()=0,
    # python.rs:670-745) — normalize that one documented difference
    assert [tuple(r) for r in ours.collect()] == [
        tuple(0 if v is None else v for v in r) for r in native.collect()
    ]
    # and the plan really is two-phase: merge stage present over the
    # map-side MapInArrow fold
    plan = ours._jdf.queryExecution().executedPlan().toString()
    assert "sum_udaf__mergevec" in plan and "MapInArrow" in plan


def _fold_has_no_exchange_below(plan: str) -> bool:
    """True when the plan has a MapInArrow node and no Exchange sits in
    any MapInArrow subtree (the fold runs map-side)."""
    below, depth = [], None
    for line in plan.splitlines():
        d = len(line) - len(line.lstrip(" :+-|"))
        if depth is not None and d > depth:
            below.append(line)
            continue
        depth = d if "MapInArrow" in line else None
    return "MapInArrow" in plan and not any("Exchange" in ln for ln in below)


def _norm_nan(v):
    """Row values with NaN as "NaN" (NaN != NaN), inside structs too."""
    import math

    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (tuple, list)):  # Row or array
        return tuple(map(_norm_nan, v))
    return v


def _mapfold_vs_native(spark, rows, schema, select):
    """Run ``select`` (``{A}`` marks the aggregate: sum_udaf on our side,
    native SUM on Spark's) through Registry.sql and natively; return both
    row sets, asserting ours took the map-side fold and kept Spark's
    output column names."""
    from arrow_udf_spark import GLOBAL

    GLOBAL.register_sql(spark)
    spark.createDataFrame(rows, schema).createOrReplaceTempView("mf_ref")
    ours = GLOBAL.sql(spark, select.format(A="sum_udaf"))
    native = spark.sql(select.format(A="SUM"))
    plan = ours._jdf.queryExecution().executedPlan().toString()
    assert _fold_has_no_exchange_below(plan), plan
    assert ours.columns == native.columns
    return (
        sorted(map(_norm_nan, ours.collect()), key=repr),
        sorted(map(_norm_nan, native.collect()), key=repr),
    )


def test_mapfold_null_nan_zero_keys_match_native(spark):
    """Double keys NULL and NaN are separate groups; -0.0 joins 0.0."""
    nan = float("nan")
    ours, native = _mapfold_vs_native(
        spark,
        [(None, 1), (nan, 2), (None, 4), (nan, 8), (0.0, 16), (-0.0, 32)],
        "k double, v bigint",
        "SELECT k, {A}(v) AS s, COUNT(*) AS c FROM mf_ref GROUP BY k",
    )
    assert ours == native
    assert len(ours) == 3


def test_mapfold_float_min_max_match_native(spark):
    """Float MIN/MAX partials order NaN above every value, as Spark does:
    MAX over data with NaN is NaN, MIN is NaN only without other values."""
    nan = float("nan")
    ours, native = _mapfold_vs_native(
        spark,
        [("a", 1, 1.0), ("a", 2, nan), ("a", 4, 3.0), ("b", 8, nan),
         ("b", 16, None), ("c", 32, None), ("d", 64, -2.5), ("d", 1, 7.0)],
        "g string, v bigint, x double",
        "SELECT g, {A}(v) AS s, MAX(x) AS mx, MIN(x) AS mn, "
        "MAX(CAST(x AS FLOAT)) AS mxf, MIN(CAST(x AS FLOAT)) AS mnf "
        "FROM mf_ref GROUP BY g",
    )
    assert ours == native


def test_registry_sql_drops_fold_views(spark):
    """The mapfold view of each rewrite is dropped once the query is
    analyzed; the returned DataFrame still runs after the drop."""
    from arrow_udf_spark import GLOBAL

    GLOBAL.register_sql(spark)
    spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "g string, v bigint") \
        .createOrReplaceTempView("mf_views")
    before = {t.name for t in spark.catalog.listTables()}
    dfs = [
        GLOBAL.sql(spark, "SELECT g, sum_udaf(v) AS s FROM mf_views GROUP BY g")
        for _ in range(3)
    ]
    assert {t.name for t in spark.catalog.listTables()} == before
    for df in dfs:
        assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
        assert sorted(map(tuple, df.collect())) == [("a", 3), ("b", 5)]


def test_nested_group_key_takes_the_fold(spark):
    """A struct group key takes the map-side fold and matches native
    GROUP BY."""
    from arrow_udf_spark import GLOBAL

    GLOBAL.register_sql(spark)
    spark.createDataFrame(
        [((1, "a"), 1), ((1, "a"), 2), ((2, "b"), 4), (None, 8)],
        "s struct<i: int, t: string>, v bigint",
    ).createOrReplaceTempView("mf_nested")
    q = "SELECT s, {A}(v) AS t FROM mf_nested GROUP BY s"
    ours = GLOBAL.sql(spark, q.format(A="sum_udaf"))
    assert "MapInArrow" in ours._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(str, ours.collect())) == sorted(
        map(str, spark.sql(q.format(A="SUM")).collect())
    )


_NAN = float("nan")
#: NULL, NaN and -0.0 / 0.0 in every key and built-in column; v is never
#: NULL, so sum_udaf (0 on an empty fold) and SUM agree on every group
_EDGE_ROWS = [
    (1, "a", 1.5, Decimal("1.25"), (1.0, "x"), [1.0, _NAN], 1),
    (1, "a", _NAN, Decimal("-2.50"), (1.0, "x"), [1.0, _NAN], 2),
    (2, None, -0.0, None, None, [-0.0], 4),
    (2, None, 0.0, Decimal("7.00"), (-0.0, None), [0.0], 8),
    (None, "b", None, Decimal("0.01"), (0.0, None), None, 16),
    (3, "b", _NAN, Decimal("3.30"), (_NAN, "y"), [], 32),
    (3, "b", 2.25, Decimal("-0.01"), (_NAN, "y"), [None], 64),
]
_EDGE_SCHEMA = (
    "k int, s string, d double, m decimal(10,2), "
    "st struct<a: double, b: string>, arr array<double>, v bigint"
)


@pytest.mark.parametrize(
    "select",
    [
        # float and decimal SUM next to the UDAF: joined native aggregate
        "SELECT k, {A}(v) AS t, SUM(d) AS sd FROM mf_ref GROUP BY k",
        "SELECT s, {A}(v) AS t, SUM(m) AS sm, MAX(m) AS mm "
        "FROM mf_ref GROUP BY s",
        # decimal MIN/MAX and COUNT fold into the view
        "SELECT k, {A}(v) AS t, MIN(m) AS mn, MAX(m) AS mm, COUNT(*) AS c "
        "FROM mf_ref GROUP BY k",
        # struct key with NULL, NaN and -0.0 inside
        "SELECT st, {A}(v) AS t, COUNT(st) AS c FROM mf_ref GROUP BY st",
        # array key with NULL, NaN, -0.0 and empty arrays
        "SELECT arr, {A}(v) AS t FROM mf_ref GROUP BY arr",
        # a CTE read by both arms of a set operation
        "WITH c AS (SELECT * FROM mf_ref WHERE v > 1) "
        "SELECT k, {A}(v) AS t FROM c GROUP BY k "
        "UNION ALL SELECT k, {A}(v) AS t FROM c WHERE d > 0 GROUP BY k",
        # qualified key, also in HAVING and ORDER BY
        "SELECT e.k, {A}(e.v) AS t FROM mf_ref e GROUP BY e.k "
        "HAVING e.k > 1 ORDER BY e.k",
        # implicit alias next to a native aggregate
        "SELECT k, {A}(v) t, COUNT(*) AS c FROM mf_ref GROUP BY k",
    ],
)
def test_fold_matches_native_on_edge_inputs(spark, select):
    """Inputs the removed collect_list phase 1 used to take (float and
    decimal built-ins, nested keys, CTE set-op arms) and the shapes it
    could not run (qualified keys, implicit aliases) all take the map-side
    fold and match native Spark GROUP BY."""
    ours, native = _mapfold_vs_native(spark, _EDGE_ROWS, _EDGE_SCHEMA, select)
    assert ours == native


@pytest.mark.parametrize(
    "query, condition",
    [
        (
            "WITH c AS (SELECT k, sum_udaf(v) AS s, COUNT(*) AS n "
            "FROM mf_refuse GROUP BY k) SELECT * FROM c",
            "INVALID_PANDAS_UDF_PLACEMENT",
        ),
        (
            "SELECT * FROM (SELECT k, s, v FROM mf_refuse) "
            "PIVOT (sum_udaf(v + 1) FOR s IN ('a' AS ca))",
            "PANDAS_UDAF_IN_PIVOT",
        ),
    ],
)
def test_refused_single_phase_fallback_raises(spark, query, condition):
    """When the rewrite refuses a shape whose single-phase plan Spark
    refuses too, Registry.sql raises a ValueError carrying the rewrite
    guidance instead of returning a plan that cannot run."""
    import warnings

    from arrow_udf_spark import GLOBAL

    GLOBAL.register_sql(spark)
    spark.createDataFrame(_EDGE_ROWS, _EDGE_SCHEMA).createOrReplaceTempView(
        "mf_refuse"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        with pytest.raises(ValueError, match=condition) as err:
            GLOBAL.sql(spark, query)
    assert "AggregateFunction.agg" in str(err.value)


# -- the clause split of a query block ------------------------------------


def test_clause_split_edges():
    """The clause split rejects malformed tails (the query falls back to
    single-phase) rather than mis-parse them."""
    from arrow_udf_spark.plans.registry import _clauses

    assert _clauses(" HAVING x > 1 ORDER BY y LIMIT 3") == {
        "HAVING": "x > 1", "ORDER BY": "y", "LIMIT": "3"
    }
    assert _clauses(" ORDER BY y DESC") == {"ORDER BY": "y DESC"}
    assert _clauses(" LIMIT 5") == {"LIMIT": "5"}
    # out-of-order clauses are not SQL
    assert _clauses(" ORDER BY y HAVING x > 1") is None
    # duplicate clause
    assert _clauses(" LIMIT 5 LIMIT 6") is None
    # non-numeric LIMIT
    assert _clauses(" LIMIT all") is None
    # leading junk
    assert _clauses(" WINDOW w AS (ORDER BY x)") is None


def test_unbalanced_parens_refused(rewrite):
    """A query with unbalanced parens is refused as a whole; balanced
    parens in a clause keep the clause whole."""
    from arrow_udf_spark.plans.registry import _clauses

    head = "SELECT g, sum_udaf(x) AS s FROM t GROUP BY g"
    assert rewrite(f"{head} ORDER BY z)") is None  # closes a paren never opened
    assert rewrite(f"{head} HAVING (x > 1") is None  # never closes
    assert _clauses(" HAVING (x > 1) ORDER BY y") == {
        "HAVING": "(x > 1)", "ORDER BY": "y"
    }


# -- scalar subqueries must not be hoisted ---------------------------------


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


# -- commented and quoted spellings read as SQL reads them -----------------


#: NULL keys, a key literal that spells a clause, an all-NULL group
_SPELL_ROWS = [
    (1, "a", 5), (1, "b", -3), (2, "a GROUP BY b", 7), (None, "c", 2),
    (2, None, None), (3, "x", 0), (4, "s", -1), (5, None, None),
]


#: NULL keys, -0.0 and 0.0 in the MIN/MAX column, NULL and negative x
_REF_ROWS = [
    (1, 0.0, 3), (1, -0.0, -2), (None, 1.5, 4), (None, -0.0, None),
    (2, -2.5, 7), (2, 0.0, 0), (3, None, None),
]


def _spelling_vs_native(spark, query, ordered=False):
    """Rows of ``Registry.sql(query)`` — asserting it took the rewrite,
    not the warned single-phase fallback — and of native Spark running
    ``query`` with ``COALESCE(SUM(x), 0)`` in place of ``sum_udaf(x)``
    (sum_udaf is 0 on an all-NULL group), over ``spell_t``, ``spell_u``
    and ``ref_t``; sorted unless ``ordered`` (-0.0 sorts as 0.0)."""
    from arrow_udf_spark import GLOBAL

    GLOBAL.register_sql(spark)
    for rows, schema, name in (
        (_SPELL_ROWS, "g bigint, k string, x bigint", "spell_t"),
        ([("a",), ("b",), ("c",)], "k string", "spell_u"),
        (_REF_ROWS, "g bigint, d double, x bigint", "ref_t"),
    ):
        spark.createDataFrame(rows, schema).createOrReplaceTempView(name)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ours = GLOBAL.sql(spark, query)
    assert not [w for w in caught if "not rewritable" in str(w.message)], query
    native = spark.sql(
        re.sub(r"(?i)sum_udaf\(x\)", "COALESCE(SUM(x), 0)", query)
    )
    assert ours.columns == native.columns
    if ordered:
        return ours.collect(), native.collect()
    key = lambda r: repr([  # noqa: E731
        (v is None, v + 0.0 if isinstance(v, float) else v) for v in r
    ])
    return sorted(ours.collect(), key=key), sorted(native.collect(), key=key)


@pytest.mark.parametrize(
    "query",
    [
        # a comment copied into the one-line B subquery used to comment
        # out its GROUP BY (ParseException)
        "SELECT g, sum_udaf(x) AS s, avg(x) AS a FROM spell_t\n"
        "WHERE x > 0 -- positive only\nGROUP BY g",
        # the comment of a HAVING next to a native aggregate used to
        # swallow the ORDER BY that follows it
        "SELECT g, sum_udaf(x) AS s FROM spell_t GROUP BY g "
        "HAVING count(*) > 0 -- note\n ORDER BY g",
        "SELECT g, sum_udaf(x) AS s FROM spell_t GROUP BY g -- per group",
        "SELECT g, /* , */ sum_udaf(x) AS s FROM spell_t /* ( */ GROUP BY g",
        "SELECT g, sum_udaf(x) AS s FROM spell_t "
        "WHERE k <> 'a GROUP BY b' GROUP BY g",
        "SELECT g, sum_udaf(x) AS s FROM spell_t "
        "WHERE k IN (SELECT k FROM spell_u ORDER BY k LIMIT 2) GROUP BY g",
    ],
    ids=[
        "comment-in-where", "comment-in-having", "trailing-comment",
        "bracketed-comments", "literal-with-group-by", "in-subquery-limit",
    ],
)
def test_commented_and_quoted_spellings_match_native(spark, query):
    ours, native = _spelling_vs_native(
        spark, query, ordered=query.endswith("ORDER BY g")
    )
    assert ours == native


def test_where_subquery_with_order_by_rewrites(rewrite, spark):
    """The clause split keeps a WHERE subquery's ORDER BY inside the
    WHERE: the query rewrites, and the answer is the native one."""
    assert rewrite(
        "SELECT sum_udaf(x) AS s FROM t "
        "WHERE x IN (SELECT y FROM u ORDER BY z)"
    ) is not None
    ours, native = _spelling_vs_native(
        spark,
        "SELECT sum_udaf(x) AS s FROM spell_t "
        "WHERE x IN (SELECT x FROM spell_t ORDER BY g)",
    )
    assert ours == native


def test_where_subquery_with_order_by_limit_rewrites(rewrite, spark):
    assert rewrite(
        "SELECT g, sum_udaf(x) AS s FROM t "
        "WHERE x IN (SELECT y FROM u ORDER BY z LIMIT 5) GROUP BY g"
    ) is not None
    ours, native = _spelling_vs_native(
        spark,
        "SELECT g, sum_udaf(x) AS s FROM spell_t "
        "WHERE x IN (SELECT x FROM spell_t ORDER BY x LIMIT 3) GROUP BY g",
    )
    assert ours == native


def test_substitution_never_touches_a_literal_or_a_call(rewrite, spark):
    """HAVING names the select alias ``s`` and compares a key with the
    literal ``'s'``: the alias becomes its merged column, the literal
    stays ``'s'``.  A select alias spelled like a function (``abs``)
    leaves a call of that function alone."""
    q = (
        "SELECT k, sum_udaf(x) AS s FROM {t} GROUP BY k "
        "HAVING s > 0 OR k = 's'"
    )
    ok = rewrite(q.format(t="t"))
    assert ok is not None and "WHERE (__u0) > 0 OR k = 's'" in ok
    ours, native = _spelling_vs_native(spark, q.format(t="spell_t"))
    assert ours == native and ("s", -1) in [tuple(r) for r in ours]
    q = "SELECT g, sum_udaf(x) AS abs FROM {t} GROUP BY g HAVING abs(g) > 1"
    ok = rewrite(q.format(t="t"))
    assert ok is not None and "WHERE abs(g) > 1" in ok
    ours, native = _spelling_vs_native(spark, q.format(t="spell_t"))
    assert ours == native


def test_backticked_identifier_never_splits(rewrite, spark):
    """A backticked name is one token: a comma inside it never splits a
    key list, and the key ``g,h`` groups as one column (an aliased
    backticked key rides as the expression key ``__g0``)."""
    from arrow_udf_spark import GLOBAL
    from arrow_udf_spark.plans.registry import _items

    assert _items("`g,h`, x") == ["`g,h`", "x"]
    spark.createDataFrame(
        [(1, 1), (1, 2), (None, 4)], "`g,h` bigint, x bigint"
    ).createOrReplaceTempView("tick_t")
    q = "SELECT `g,h` AS gh, {A}(x) AS s FROM tick_t GROUP BY `g,h`"
    rw = rewrite(q.format(A="sum_udaf"))
    assert rw is not None and "GROUP BY __g0)" in rw and "__g1" not in rw
    ours = GLOBAL.sql(spark, q.format(A="sum_udaf")).collect()
    native = spark.sql(q.format(A="SUM")).collect()
    assert sorted(map(tuple, ours), key=repr) == sorted(map(tuple, native), key=repr)


# -- quoted literals are case/space-significant in group-key match --------


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


# -- a CTE prefix rides above the rewritten main block ---------------------


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


# -- window functions pass through -----------------------------------------


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


# -- set operations between aggregate blocks -------------------------------


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


# -- multi-grouping clauses (ROLLUP / CUBE / GROUPING SETS) ----------------


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


# -- correlated scalar subqueries: decorrelation contract and refusals ------


_U = {"sum_udaf", "count_udaf"}


def test_q17_shape_decorrelates(rewrite, spark):
    from arrow_udf_spark.plans.registry import GLOBAL

    q = (
        "SELECT g, CAST(sum_udaf(v) AS BIGINT) AS s FROM t o "
        "WHERE o.q * 5 < (SELECT sum_udaf(i.q) FROM t i "
        "WHERE i.k = o.k) GROUP BY g"
    )
    rw = rewrite(q, _U)
    assert rw is not None and "sum_udaf__mergevec" in rw
    # the derived table carries the two-phase agg keyed by the join key;
    # it joins the outer block's source, which its fold view reads
    plan = GLOBAL.sql(spark, q)._jdf.queryExecution().analyzed().toString()
    assert "__aus_corr0" in plan and "__ck0" in plan
    # the outer UDAF is ALSO two-phase (two distinct fold views)
    assert plan.count("MapInArrow") == 2


def test_builtin_outer_returns_directly(rewrite):
    # outer aggregates are native SUM/COUNT: after decorrelation nothing
    # else needs protecting, so the rewrite returns the joined form
    # without wrapping the outer block
    q = (
        "SELECT g, CAST(SUM(v) AS BIGINT) AS s FROM t o "
        "WHERE o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = o.k) "
        "GROUP BY g"
    )
    rw = rewrite(q, _U)
    assert rw is not None and "__aus_corr0" in rw
    assert "__aus_u" in rw  # the subquery's own two-phase scope
    assert "SELECT g, CAST(SUM(v) AS BIGINT) AS s" in rw  # outer verbatim


def test_uncorrelated_global_cross_joins(rewrite):
    q = (
        "SELECT o.id FROM t o "
        "WHERE o.q < (SELECT count_udaf(i.v) FROM t i)"
    )
    rw = rewrite(q, _U)
    assert rw is not None and "__aus_corr0" in rw
    assert "__ck" not in rw  # no key columns — single-row cross join


@pytest.mark.parametrize(
    "where",
    [
        # non-equi correlation: a GROUP BY cannot express it
        "o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k < o.k)",
        # COUNT-headed KEYED subquery: 0-on-empty breaks the join-drop
        "o.q < (SELECT count_udaf(i.q) FROM t i WHERE i.k = o.k)",
        # unqualified correlation column: ambiguous scope
        "q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = k)",
        # OR around the comparison: TRUE via the other arm on join miss
        "o.x OR o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = o.k)",
        # subquery with its own GROUP BY: not a scalar-per-key shape
        "o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = o.k GROUP BY i.j)",
        # outer column inside the aggregate args: correlation through
        # the argument, not expressible as a per-key GROUP BY
        "o.q < (SELECT sum_udaf(i.q + o.z) FROM t i WHERE i.k = o.k)",
        # bare unqualified identifier in the select item
        "o.q < (SELECT sum_udaf(q2) FROM t i WHERE i.k = o.k)",
        # unknown function inside an inner predicate
        "o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = o.k AND rand(i.j) > 0)",
    ],
)
def test_correlated_refusals(rewrite, where):
    assert rewrite(f"SELECT o.a FROM t o WHERE {where}", _U) is None


def test_count_allowed_uncorrelated(rewrite):
    # global aggregates always yield exactly one row — COUNT is exact
    q = "SELECT o.a FROM t o WHERE o.q < (SELECT count_udaf(i.q) FROM t i WHERE i.q > 0)"
    assert rewrite(q, _U) is not None


# -- spelling invariance: random spellings against the native referee -----


#: (select items, GROUP BY, HAVING, ORDER BY) per shape; ``{S}`` and
#: ``{C}`` are the implicit-or-AS alias slots
_REF_SHAPES = [
    (["g", "sum_udaf(x){S}"], "g", None, None),
    (["sum_udaf(x){S}"], None, None, None),
    (["g", "sum_udaf(x){S}"], "g", "sum_udaf(x) > 0 OR g IS NULL", None),
    (["g", "sum_udaf(x){S}"], "g", None, "s DESC, g"),
    (["g", "sum_udaf(x){S}", "COUNT(*){C}", "MIN(d) AS mn", "MAX(d) AS mx"],
     "g", None, None),
    (["sum_udaf(x){S}", "COUNT(x){C}", "MIN(d) AS mn"], None, None, None),
]


@st.composite
def _spellings(draw):
    """``(query, ordered)``: a query of a random shape in a random
    spelling — keyword case, whitespace and newlines, comments between
    clauses, AS or implicit aliases — with a WHERE that keeps all, some
    or no rows."""
    items, grp, hav, order = draw(st.sampled_from(_REF_SHAPES))
    where = draw(st.sampled_from([None, "x > 0", "x > 1000"]))
    gap = lambda: draw(st.sampled_from([" ", "\n", "  \n\t", "\n  "]))  # noqa: E731
    note = lambda: draw(st.sampled_from(  # noqa: E731
        ["", " -- note, ( 'x\n", " /* GROUP BY ) */ ", "/**/"]
    ))

    def kw(word):
        return gap().join(
            draw(st.sampled_from([w.upper(), w.lower(), w.title()]))
            for w in word.split()
        )

    alias = lambda name: draw(st.sampled_from([f" AS {name}", f" {name}"]))  # noqa: E731
    sel = ("," + gap()).join(it.format(S=alias("s"), C=alias("c")) for it in items)
    sql = f"{kw('SELECT')}{gap()}{sel}{note()}{gap()}{kw('FROM')} ref_t"
    for clause, body in (("WHERE", where), ("GROUP BY", grp),
                         ("HAVING", hav), ("ORDER BY", order)):
        if body:
            sql += f"{note()}{gap()}{kw(clause)}{gap()}{body}"
    sql = re.sub("sum_udaf", lambda _: draw(
        st.sampled_from(["sum_udaf", "SUM_UDAF"])), sql)
    return sql + note(), order is not None


@settings(max_examples=20, deadline=None)
@given(_spellings())
def test_spellings_match_native_without_fallback(spark, spelling):
    """Each spelling rewrites (no single-phase warning) and returns the
    native answer; MIN/MAX may return either zero of -0.0/0.0, which
    compare equal."""
    query, ordered = spelling
    got, exp = _spelling_vs_native(spark, query, ordered)
    assert got == exp, query
