"""The benchmark's workloads: named lists of catalog queries.

Both cross the JVM <-> Python boundary, in the two ways the package uses
it, so a boundary change that helps one and hurts the other shows (see
README.md here).  The lists are short because a run costs four passes
(two warm-up, two timed) plus ~25 s of JVM start and first-time work,
and the benchmark's 48 runs must end within an hour.
"""

WORKLOADS: dict[str, list[str]] = {
    # many rows through scalar and table functions: Python-worker
    # init/run and Arrow transfer under operators.scalar, operators.table
    # and plans.types; no shuffle to speak of and no Registry use
    "udf_boundary": [
        "gcd",
        "div_error",
        "decimal_add_fn",
        "series_udtf",
        "image_meta",
    ],
    # few large fold states: the two-phase aggregate path of
    # operators.aggregate through the DataFrame API (sum_udaf) and through
    # the Registry.sql rewrite in plans.registry
    # (sql_agg_correlated_two_phase, the ROADMAP's correlated-subquery
    # target)
    "sql_two_phase": [
        "sum_udaf",
        "sql_agg_correlated_two_phase",
    ],
}
