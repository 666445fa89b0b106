"""Driver-facing query catalog: every implemented operator as a
(spark_query, oracle_sql) pair over the /root/testdata tables.

Conventions (kept in sync with the driver's compare, TESTDATA.md):

- every computed column is aliased IDENTICALLY in the Spark query and the
  oracle SQL;
- integer outputs are produced as BIGINT on both sides, floats as DOUBLE
  rounded to 6 dp where accumulation order could differ;
- arrays are joined to strings, timestamps cast to strings — so the
  value-hash never depends on engine-specific nested-type formatting;
- each query carries enough key columns to make the (order-insensitive)
  hash discriminating.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import corpus as C

Query = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}


def _scan_parallelism(path: str) -> int:
    """Partitions a parquet scan of ``path`` will produce (file bytes over
    ``spark.sql.files.maxPartitionBytes``, the planner's own formula).

    Directory datasets: sum the first 64 file sizes and treat 64+ files as
    already-wide — a partitioned 100 TB table must NEVER look small just
    because ``getsize(dir)`` returns the directory inode size."""
    import os

    try:
        if os.path.isdir(path):
            sizes = []
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    sizes.append(os.path.getsize(os.path.join(root, f)))
                    if len(sizes) >= 64:
                        return 1 << 30  # many files -> scan is already wide
            size = sum(sizes)
        else:
            size = os.path.getsize(path)
    except OSError:
        return 1 << 30  # unknown → assume wide, never force a shuffle
    return max(1, size // (128 << 20))


def t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    # Adaptive spread (opt-in per query): a source whose scan parallelism is
    # far below the cluster's leaves cores idle for the whole map-side of
    # the plan (the testdata ships single-row-group files -> 1-task scans).
    # One hash exchange on the parquet row index fixes that for queries
    # whose per-row compute dominates (UDFs, per-token hashing): the spread
    # is even and deterministic, so Spark does not sort every row first as
    # it does before a round-robin exchange.  Queries that are cheap JVM
    # projections or immediately shuffle anyway must NOT pay it (the
    # exchange also blocks scan-level filter pushdown).  At 100 TB the
    # branch never fires: a real scan yields >= parallelism splits.
    par = spark.sparkContext.defaultParallelism
    if spread and _scan_parallelism(path) < max(2, par // 2):
        df = df.repartition(par, F.col("_metadata.row_index"))
    if name == "events":
        # schema-sensitive ts normalization: guarantees `ts` (timestamp) and
        # `us` (bigint micros-since-epoch == DuckDB epoch_us(ts)) whatever
        # physical type the fixture ships (int64 nanos or TIMESTAMP(MICROS)).
        from .sources.io import normalize_events

        df = normalize_events(df, cache_key=path)
    return df


def query(name: str, oracle: str | None = None):
    def deco(fn: Query) -> Query:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# §2.B scalar corpus
# ---------------------------------------------------------------------------


@query(
    "gcd",
    """
    SELECT l_orderkey, l_linenumber, gcd(l_partkey, l_suppkey) AS g
    FROM lineitem
    """,
)
def q_gcd(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", C.gcd_i64("l_partkey", "l_suppkey").alias("g")
    )


@query(
    "gcd_async",
    """
    SELECT l_orderkey, l_linenumber, gcd(l_partkey, l_suppkey) AS g
    FROM lineitem
    """,
)
def q_gcd_async(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", C.gcd_async("l_partkey", "l_suppkey").alias("g")
    )


@query(
    "div_error",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_suppkey % 7 = 0 THEN NULL
                ELSE l_partkey // (l_suppkey % 7) END AS d,
           CASE WHEN l_suppkey % 7 = 0 THEN 'division by zero' END AS error
    FROM lineitem
    """,
)
def q_div_error(spark, sf):
    li = t(spark, sf, "lineitem")
    # single-eval apply: the two-getField form evaluated the UDF twice
    return C.div.apply(
        li,
        cols=[F.col("l_partkey"), F.col("l_suppkey") % 7],
        passthrough=["l_orderkey", "l_linenumber"],
        value_alias="d",
    )


@query(
    "neg",
    "SELECT l_orderkey, l_linenumber, -l_extendedprice AS n FROM lineitem",
)
def q_neg(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select("l_orderkey", "l_linenumber", C.neg("l_extendedprice").alias("n"))


@query(
    "option_add",
    """
    SELECT l_orderkey, l_linenumber,
           l_partkey + coalesce(nullif(l_suppkey % 3, 0), 0) AS s
    FROM lineitem
    """,
)
def q_option_add(spark, sf):
    li = t(spark, sf, "lineitem")
    b = F.nullif(F.col("l_suppkey") % 3, F.lit(0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        C.option_add(F.col("l_partkey"), b).cast("long").alias("s"),
    )


@query(
    "many_args",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_partkey + l_suppkey + l_linenumber + (l_orderkey % 97)
                + 1 + 2 + 3 + 4 + 5 + 6 + 7 + 8 + 9 + 10 + 11 + 12 AS BIGINT) AS s16
    FROM lineitem
    """,
)
def q_many_args(spark, sf):
    li = t(spark, sf, "lineitem")
    args = [
        F.col("l_partkey"),
        F.col("l_suppkey"),
        F.col("l_linenumber"),
        F.col("l_orderkey") % 97,
    ] + [F.lit(i) for i in range(1, 13)]
    return li.select(
        "l_orderkey",
        "l_linenumber",
        C.many_args(*args).cast("long").alias("s16"),
    )


@query(
    "length_fn",
    "SELECT p_partkey, CAST(strlen(p_name) AS BIGINT) AS len FROM part",
)
def q_length(spark, sf):
    p = t(spark, sf, "part")
    return p.select("p_partkey", C.length("p_name").cast("long").alias("len"))


@query(
    "substring_fn",
    """
    SELECT p_partkey, substr(p_name, (p_size % 10) + 1) AS suffix FROM part
    """,
)
def q_substring(spark, sf):
    p = t(spark, sf, "part")
    return p.select(
        "p_partkey",
        C.substring(F.col("p_name"), F.col("p_size") % 10).alias("suffix"),
    )


@query(
    "split_fn",
    """
    SELECT p_partkey,
           array_to_string(string_split(replace(p_type, ' ', ','), ','), '|') AS parts
    FROM part
    """,
)
def q_split(spark, sf):
    p = t(spark, sf, "part")
    parts = C.split(F.regexp_replace("p_type", " ", ","))
    return p.select("p_partkey", F.array_join(parts, "|").alias("parts"))


@query(
    "to_string_fn",
    "SELECT l_orderkey, CAST(l_orderkey AS VARCHAR) AS s FROM lineitem",
)
def q_to_string(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select("l_orderkey", C.to_string("l_orderkey").alias("s"))


@query(
    "key_value_fn",
    """
    SELECT p_partkey, p_brand AS key, p_type AS value FROM part
    """,
)
def q_key_value(spark, sf):
    p = t(spark, sf, "part")
    kv = C.key_value(F.concat_ws("=", "p_brand", "p_type"))
    return p.select(
        "p_partkey",
        kv.getField("key").alias("key"),
        kv.getField("value").alias("value"),
    )


@query(
    "hex_to_dec_fn",
    "SELECT l_orderkey, CAST(l_orderkey AS VARCHAR) AS dec FROM lineitem",
)
def q_hex_to_dec(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select("l_orderkey", C.hex_to_dec(F.hex("l_orderkey")).alias("dec"))


@query(
    "decimal_add_fn",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(printf('%.2f', l_extendedprice) AS DECIMAL(38,2))
                + CAST(printf('%.2f', l_tax * 1000) AS DECIMAL(38,2)) AS VARCHAR) AS dsum
    FROM lineitem
    """,
)
def q_decimal_add(spark, sf):
    li = t(spark, sf, "lineitem", spread=True)
    a = F.format_string("%.2f", "l_extendedprice")
    b = F.format_string("%.2f", F.col("l_tax") * 1000)
    return li.select(
        "l_orderkey", "l_linenumber", C.decimal_add(a, b).alias("dsum")
    )


@query(
    "decimal_wide_add",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_orderkey + 1000000 AS VARCHAR)
               || lpad(CAST(l_partkey AS VARCHAR), 34, '0') AS wide_sum,
           CAST((l_orderkey + 1000000) * 2 AS VARCHAR) || repeat('0', 34)
               AS wide_dbl
    FROM lineitem
    """,
)
def q_decimal_wide_add(spark, sf):
    """>38-digit decimal arithmetic through the string-backed exact path
    (reference README.md:71-77 unconstrained numeric; native wide decimals
    jsarrow.rs:267-278).  Operands are ~40 digits — beyond decimal128 AND
    beyond Spark's DecimalType(38) — so the Arrow fast path must refuse
    (cast overflow) and the per-batch Decimal loop carries the math
    exactly.  The oracle can't do 40-digit arithmetic either (DuckDB
    HUGEINT is 38 digits), so operands are built carry-free across the
    10^34 boundary: okey*10^34 + pkey == concat(okey, lpad(pkey, 34)),
    while wide_dbl = a + a exercises real carries inside the upper limbs.
    The +1000000 offset pins the prefix to 7 digits (41-digit operands,
    no leading-zero rendering divergence at okey=0)."""
    li = t(spark, sf, "lineitem")
    a = F.concat((F.col("l_orderkey") + 1000000).cast("string"), F.lit("0" * 34))
    b = F.col("l_partkey").cast("string")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        C.decimal_add(a, b).alias("wide_sum"),
        C.decimal_add(a, a).alias("wide_dbl"),
    )


@query(
    "to_json_fn",
    """
    SELECT l_orderkey, CAST(to_json(l_orderkey) AS VARCHAR) AS ji,
           CAST(to_json(l_returnflag) AS VARCHAR) AS js
    FROM lineitem
    """,
)
def q_to_json(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        C.to_json_int("l_orderkey").alias("ji"),
        C.to_json_str("l_returnflag").alias("js"),
    )


@query(
    "jsonb_access_fn",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS VARCHAR) AS k
    FROM events
    """,
)
def q_jsonb_access(spark, sf):
    ev = t(spark, sf, "events")
    return ev.select(
        "event_id", C.jsonb_access(F.col("props"), F.lit("k")).alias("k")
    )


@query(
    "datetime_fn",
    """
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + to_hours(o_orderkey % 24) AS VARCHAR) AS ts
    FROM orders
    """,
)
def q_datetime(spark, sf):
    o = t(spark, sf, "orders")
    hours_us = (F.col("o_orderkey") % 24) * F.lit(3_600_000_000)
    ts = C.datetime_fn(F.col("o_orderdate").cast("date"), hours_us)
    return o.select(
        "o_orderkey", F.date_format(ts, "yyyy-MM-dd HH:mm:ss").alias("ts")
    )


@query(
    "array_sum_fn",
    """
    SELECT vec_id, round(list_sum(CAST(embedding AS DOUBLE[])), 6) AS asum
    FROM embeddings
    """,
)
def q_array_sum(spark, sf):
    e = t(spark, sf, "embeddings")
    arr = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id", F.round(C.array_sum_f64(arr), 6).alias("asum")
    )


@query(
    "array_access_fn",
    """
    SELECT p_partkey,
           CASE WHEN (p_partkey % 60) + 1 BETWEEN 1 AND p_size
                THEN (p_partkey % 60) + 1 END AS v
    FROM part
    """,
)
def q_array_access(spark, sf):
    p = t(spark, sf, "part")
    arr = F.sequence(F.lit(1).cast("long"), F.col("p_size").cast("long"))
    i = (F.col("p_partkey") % 60 + 1).cast("int")
    return p.select(
        "p_partkey", C.array_access_i64(arr, i).cast("long").alias("v")
    )


# ---------------------------------------------------------------------------
# §2.B table functions
# ---------------------------------------------------------------------------


@query(
    "series_udtf",
    """
    SELECT p_partkey, unnest(range(0, p_size)) AS series FROM part
    """,
)
def q_series(spark, sf):
    p = t(spark, sf, "part", spread=True)
    out = C.series.apply(p, cols=["p_size"], passthrough=["p_partkey"])
    return out.select("p_partkey", F.col("series").cast("long").alias("series"))


@query(
    "key_values_udtf",
    """
    SELECT p_partkey, 'brand' AS key, p_brand AS value FROM part
    UNION ALL
    SELECT p_partkey, 'type' AS key, p_type AS value FROM part
    """,
)
def q_key_values(spark, sf):
    p = t(spark, sf, "part", spread=True)
    src = p.withColumn(
        "s",
        F.concat(F.lit("brand="), "p_brand", F.lit(",type="), "p_type"),
    )
    out = C.key_values.apply(src, cols=["s"], passthrough=["p_partkey"])
    return out.select(
        "p_partkey",
        F.col("key_values").getField("key").alias("key"),
        F.col("key_values").getField("value").alias("value"),
    )


@query(
    "json_array_elements_udtf",
    """
    SELECT event_id, CAST(user_id AS VARCHAR) AS elem, NULL AS error
    FROM events WHERE event_type <> 'click'
    UNION ALL
    SELECT event_id, CAST(event_id AS VARCHAR) AS elem, NULL AS error
    FROM events WHERE event_type <> 'click'
    UNION ALL
    SELECT event_id, NULL AS elem, 'not an array' AS error
    FROM events WHERE event_type = 'click'
    """,
)
def q_json_array_elements(spark, sf):
    ev = t(spark, sf, "events", spread=True)
    src = ev.withColumn(
        "j",
        F.when(
            F.col("event_type") != "click",
            F.to_json(F.array("user_id", "event_id")),
        ).otherwise(F.col("user_id").cast("string")),  # scalar JSON text
    )
    out = C.json_array_elements.apply(src, cols=["j"], passthrough=["event_id"])
    return out.select(
        "event_id", F.col("json_array_elements").alias("elem"), "error"
    )


# ---------------------------------------------------------------------------
# §2.B aggregates (distributed two-phase, proving merge)
# ---------------------------------------------------------------------------


@query(
    "sum_udaf",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_udaf
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sum_udaf(spark, sf):
    # Outer CAST on the oracle side: DuckDB SUM(BIGINT) widens to HUGEINT,
    # which renders differently from Spark's int64 under the driver's exact
    # value hash.  Pin both engines to int64.
    li = t(spark, sf, "lineitem").withColumn("q", F.col("l_quantity").cast("long"))
    out = C.SumAgg.agg(li, by=["l_returnflag"], args=["q"])
    return out.select("l_returnflag", F.col("sum_udaf").cast("long").alias("sum_udaf"))


@query(
    "sum_udaf_two_phase_sql",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_udaf
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sum_udaf_two_phase_sql(spark, sf):
    """The SQL-surface aggregate on its scale path: the salted two-level
    GROUP BY of ``__partial`` (a grouped aggregate UDF folding to one
    pickled state) and ``__mergevec(collect_list(...))``.  A hot key's
    rows split across 32 salt buckets (each folds to one pickled state on
    its own worker), and the outer aggregation moves only O(groups x 32)
    states — the same two-phase shape as ``AggregateFunction.agg``,
    expressible in plain SQL.  Result must equal the single-phase oracle
    exactly (merge associativity at the gate)."""
    from .plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    li = t(spark, sf, "lineitem").withColumn("q", F.col("l_quantity").cast("long"))
    li.createOrReplaceTempView("li_two_phase")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum_udaf__mergevec(collect_list(p)) AS BIGINT) AS sum_udaf
        FROM (
            SELECT l_returnflag, sum_udaf__partial(q) AS p
            FROM li_two_phase
            GROUP BY l_returnflag, pmod(hash(l_orderkey), 32)
        )
        GROUP BY l_returnflag
        """
    )


@query(
    "sql_agg_bare_two_phase",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(COUNT(l_quantity) AS BIGINT) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sql_agg_bare_two_phase(spark, sf):
    """The scale-safe SQL front door (``Registry.sql``): a user writes the
    BARE aggregate names over a skewed GROUP BY and the registry rewrites
    the query to the two-phase plan automatically — a map-side
    ``mapInArrow`` fold view turns each group's rows into one pickled
    state per input partition, so no single worker ever folds a whole hot
    group, and only O(groups x partitions) states reach the
    ``__mergevec`` merge.  The bare name IS the two-phase plan.  Plan
    shape asserted in tests/test_plans.py (fold with no Exchange below
    it, merge present, no bare single-phase aggregate)."""
    from .plans.registry import GLOBAL

    li = t(spark, sf, "lineitem").withColumn("q", F.col("l_quantity").cast("long"))
    li.createOrReplaceTempView("li_bare_sql")
    return GLOBAL.sql(
        spark,
        """
        SELECT l_returnflag,
               CAST(sum_udaf(q) AS BIGINT) AS sum_qty,
               CAST(count_udaf(q) AS BIGINT) AS cnt
        FROM li_bare_sql GROUP BY l_returnflag
        """,
    )


@query(
    "sql_agg_expr_key_two_phase",
    """
    SELECT CAST(l_orderkey % 7 AS BIGINT) AS bucket,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY 1
    ORDER BY bucket
    """,
)
def q_sql_agg_expr_key_two_phase(spark, sf):
    """EXPRESSION group keys through the scale-safe SQL front door (the
    round-7 widening of the two-phase surface): ``GROUP BY
    pmod(l_orderkey, 7)`` is provably deterministic (whitelisted scalar
    over a column), so the registry aliases it ``__g0`` through the fold
    view and the merge, where COUNT(*) folds as a native partial — no
    single-phase fallback, no analyzer magic.  HAVING on the select
    alias and ORDER BY ride along.  Unknown functions in a key still
    fall back loudly (unit-tested)."""
    from .plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    t(spark, sf, "lineitem").createOrReplaceTempView("li_exprkey_sql")
    return GLOBAL.sql(
        spark,
        """
        SELECT pmod(l_orderkey, 7) AS bucket,
               CAST(sum_udaf(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM li_exprkey_sql GROUP BY pmod(l_orderkey, 7)
        ORDER BY bucket
        """,
    )


@query(
    "sql_agg_window_two_phase",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(rank() OVER (ORDER BY SUM(CAST(l_quantity AS BIGINT)) DESC)
                AS BIGINT) AS rnk,
           CAST(SUM(SUM(CAST(l_quantity AS BIGINT))) OVER () AS BIGINT)
               AS total
    FROM lineitem GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_sql_agg_window_two_phase(spark, sf):
    """WINDOW functions through the scale-safe SQL front door (the r8
    widening, VERDICT r7 ask #6): window calls evaluate over the GROUPED
    result, so the rewriter leaves ``rank() OVER (...)`` and the
    share-of-total ``SUM(SUM(q)) OVER ()`` in the outer query and
    replaces every aggregate inside their args / ORDER BY with its merged
    column — the UDAF still runs two-phase (fold view + merge)
    underneath, and the window sees only O(groups) rows.  A registered UDAF as the window
    HEAD is refused (strict raises): a grouped aggregate UDF over window
    frames is the every-row-to-one-worker trap itself.  Unit coverage in
    tests/test_registry.py (PARTITION BY keys, frames, refusal shapes)."""
    from .plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    t(spark, sf, "lineitem").createOrReplaceTempView("li_winsql")
    # rank() is INT in Spark, BIGINT in DuckDB — the CAST-wrapped window
    # item (also a rewritable shape) pins the wire type in the SQL itself
    return GLOBAL.sql(
        spark,
        """
        SELECT l_returnflag,
               CAST(sum_udaf(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS sum_qty,
               CAST(rank() OVER (ORDER BY sum_udaf(CAST(l_quantity
                    AS BIGINT)) DESC) AS BIGINT) AS rnk,
               SUM(SUM(CAST(l_quantity AS BIGINT))) OVER () AS total
        FROM li_winsql GROUP BY l_returnflag
        ORDER BY l_returnflag
        """,
    )


@query(
    "sql_agg_cte_two_phase",
    """
    WITH pricey AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem WHERE l_extendedprice > 2000
    )
    SELECT l_returnflag,
           CAST(SUM(q) AS BIGINT) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pricey GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_sql_agg_cte_two_phase(spark, sf):
    """CTE blocks through the scale-safe SQL front door (the r8 widening
    with window functions): a leading non-RECURSIVE ``WITH`` prefix rides
    verbatim above the rewritten main block — Spark scopes a query's CTEs
    over every subquery of the following SELECT, and the fold view is
    analyzed inside the same prefix, so both resolve the CTE names.  A UDAF call
    INSIDE a CTE body is refused (it would silently stay single-phase),
    as is RECURSIVE; both unit-tested in tests/test_advice_r8.py."""
    from .plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    t(spark, sf, "lineitem").createOrReplaceTempView("li_ctesql")
    return GLOBAL.sql(
        spark,
        """
        WITH pricey AS (
          SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
          FROM li_ctesql WHERE l_extendedprice > 2000
        )
        SELECT l_returnflag,
               CAST(sum_udaf(q) AS BIGINT) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pricey GROUP BY l_returnflag
        ORDER BY l_returnflag
        """,
    )


@query(
    "sql_agg_union_two_phase",
    """
    SELECT l_returnflag AS g,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
    FROM lineitem WHERE l_extendedprice > 2000 GROUP BY l_returnflag
    UNION ALL
    SELECT l_linestatus AS g,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
    FROM lineitem WHERE l_extendedprice <= 2000 GROUP BY l_linestatus
    ORDER BY g, s
    """,
)
def q_sql_agg_union_two_phase(spark, sf):
    """SET OPERATIONS through the scale-safe SQL front door (the r8
    widening closing the last multi-block residual): each UNION ALL arm
    rewrites to its own two-phase composition independently (the scopes
    share nothing — a fresh fold view and merge per block; arms
    with no UDAF call pass verbatim), and the trailing ORDER BY binds to
    the UNION per the grammar, stripped off the last block and
    re-appended above the reassembly.  Unprovable arms (DISTINCT args)
    or expression-valued union-level order keys refuse the whole query.
    INTERSECT/EXCEPT ride the same split (unit-tested)."""
    from .plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    t(spark, sf, "lineitem").createOrReplaceTempView("li_unionsql")
    return GLOBAL.sql(
        spark,
        """
        SELECT l_returnflag AS g,
               CAST(sum_udaf(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
        FROM li_unionsql WHERE l_extendedprice > 2000 GROUP BY l_returnflag
        UNION ALL
        SELECT l_linestatus AS g,
               CAST(sum_udaf(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
        FROM li_unionsql WHERE l_extendedprice <= 2000
        GROUP BY l_linestatus
        ORDER BY g, s
        """,
    )


@query(
    "sql_agg_rollup_two_phase",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
)
def q_sql_agg_rollup_two_phase(spark, sf):
    """MULTI-GROUPING clauses through the scale-safe SQL front door (the
    r8 widening after set ops): ``GROUP BY ROLLUP/CUBE/GROUPING SETS``
    rides the two-phase rewrite — the fold view runs at the FINEST
    granularity, U re-aggregates the partial states under the
    ORIGINAL clause (exact by merge associativity: every grouping set is
    a subset of the finest keys), and both U and B project
    ``grouping_id()`` so their join tells a data-NULL group from a
    super-aggregate row — the classic rollup-join ambiguity, resolved
    structurally.  Expression members refuse (plain columns only)."""
    from .plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    t(spark, sf, "lineitem").createOrReplaceTempView("li_rollupsql")
    return GLOBAL.sql(
        spark,
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id() AS gid,
               CAST(sum_udaf(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM li_rollupsql GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus
        """,
    )


@query(
    "sql_agg_pivot_two_phase",
    # oracle = the CASE expansion with native SUM; COALESCE 0 mirrors
    # sum_udaf's reference contract (empty/all-null slice -> 0, not ANSI
    # NULL — create_state()=0, reference tests/python.rs:670-745)
    """
    SELECT l_returnflag AS rf,
           CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O'
                 THEN CAST(l_quantity AS BIGINT) END), 0) AS BIGINT)
               AS open_q,
           CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F'
                 THEN CAST(l_quantity AS BIGINT) END), 0) AS BIGINT)
               AS filled_q
    FROM lineitem GROUP BY l_returnflag ORDER BY rf
    """,
)
def q_sql_agg_pivot_two_phase(spark, sf):
    """PIVOT through the scale-safe SQL front door (the last r8 rewriter
    widening; PIVOT was a named residual): the provable shape —
    ``SELECT * FROM (projection) PIVOT (udaf(col) FOR col IN
    (literals))`` — expands to the GROUP BY + CASE form (exactly Spark's
    own ResolvePivot expansion for null-ignoring aggregates) and rides
    the two-phase rewrite underneath.  Native Spark REFUSES
    Python UDAFs in PIVOT outright (UNSUPPORTED_FEATURE.
    PANDAS_UDAF_IN_PIVOT), so this front door is the only way to run
    one at all — and it runs partial+merge.  Output names/order match
    native PIVOT; sum_udaf's empty-slice-is-0 contract is pinned in the
    oracle's COALESCE."""
    from .plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    t(spark, sf, "lineitem").createOrReplaceTempView("li_pvtsql")
    return GLOBAL.sql(
        spark,
        """
        SELECT * FROM (
          SELECT l_returnflag AS rf, l_linestatus AS ls,
                 CAST(l_quantity AS BIGINT) AS q
          FROM li_pvtsql
        ) PIVOT (sum_udaf(q) FOR ls IN ('O' AS open_q, 'F' AS filled_q))
        ORDER BY rf
        """,
    )


@query(
    "sql_agg_correlated_two_phase",
    """
    SELECT p.p_brand AS brand,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice) AS BIGINT)) AS BIGINT)
               AS revenue,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l, part p
    WHERE p.p_partkey = l.l_partkey
      AND CAST(l.l_quantity AS BIGINT) * 5 <
          (SELECT SUM(CAST(l2.l_quantity AS BIGINT))
           FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    GROUP BY p.p_brand
    ORDER BY brand
    """,
)
def q_sql_agg_correlated_two_phase(spark, sf):
    """Correlated scalar aggregate subqueries through the scale-safe SQL
    front door (the last rewriter residual, VERDICT r8 ask #3) — the
    TPC-H q17 shape: ``WHERE qty * 5 < (SELECT udaf(l2.qty) FROM
    lineitem l2 WHERE l2.l_partkey = p.p_partkey)``.  The rewriter
    decorrelates the provable equi-key shape into a GROUP-BY-key derived
    table (itself two-phase underneath) comma-joined into FROM —
    exact because the subquery is NULL when no inner row matches, a
    positive comparison conjunct on NULL filters the row, and the inner
    join drops exactly those rows (Spark's own
    RewriteCorrelatedScalarSubquery plays the same trick; COUNT-headed
    KEYED subqueries refuse since COUNT is 0-not-NULL on empty).  The
    outer UDAF then rides the normal two-phase path over the joined
    source, so BOTH aggregation scopes run partial+merge.  Non-equi correlation, unqualified columns inside the SUBQUERY,
    OR-guarded conjuncts all refuse loudly (unit-tested in
    tests/test_advice_r9.py; hypothesis referee vs the native
    single-phase result in tests/test_properties_r9.py).
    Scale: the derived table is one two-phase agg over the inner scan
    keyed by the join key — O(distinct keys) rows into a key-partitioned
    equi-join, no per-row subquery evaluation anywhere."""
    from .plans.registry import GLOBAL

    GLOBAL.register_sql(spark)
    t(spark, sf, "lineitem").createOrReplaceTempView("li_corrsql")
    t(spark, sf, "part").createOrReplaceTempView("pt_corrsql")
    return GLOBAL.sql(
        spark,
        """
        SELECT p_brand AS brand,
               CAST(sum_udaf(CAST(FLOOR(l_extendedprice) AS BIGINT))
                    AS BIGINT) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM li_corrsql l, pt_corrsql p
        WHERE p.p_partkey = l.l_partkey
          AND CAST(l.l_quantity AS BIGINT) * 5 <
              (SELECT sum_udaf(CAST(l2.l_quantity AS BIGINT))
               FROM li_corrsql l2 WHERE l2.l_partkey = p.p_partkey)
        GROUP BY p_brand
        ORDER BY brand
        """,
    )


@query(
    "sql_agg_having_two_phase",
    """
    SELECT g, CAST(SUM(q) AS BIGINT) AS sum_qty, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT l_orderkey % 16 AS g, CAST(l_quantity AS BIGINT) AS q
          FROM lineitem)
    GROUP BY g
    HAVING SUM(q) * 2 > 51 * COUNT(*)
    ORDER BY sum_qty DESC, g LIMIT 10
    """,
)
def q_sql_agg_having_two_phase(spark, sf):
    """HAVING + aggregate-ORDER-BY through the scale-safe SQL front door
    (closes the r5 'silent single-phase fallback for tails' gap): the
    registry rewrites the UDAF calls in the tail to merge columns over
    the fold view, folds COUNT(*) into the same view as a native partial
    (Spark refuses pandas + native aggregates in one Aggregate), and
    turns HAVING into a plain WHERE over the merged columns.  The integer-only HAVING predicate
    (avg quantity > 25.5 spelled as sum*2 > 51*count) is exact in both
    engines at any SF.  Plan shape asserted in tests/test_plans.py."""
    from .plans.registry import GLOBAL

    li = t(spark, sf, "lineitem").select(
        F.pmod(F.col("l_orderkey"), F.lit(16)).cast("long").alias("g"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    li.createOrReplaceTempView("li_having_sql")
    return GLOBAL.sql(
        spark,
        """
        SELECT g, CAST(sum_udaf(q) AS BIGINT) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM li_having_sql GROUP BY g
        HAVING sum_udaf(q) * 2 > 51 * COUNT(*)
        ORDER BY sum_udaf(q) DESC, g LIMIT 10
        """,
    )


@query(
    "retract_udaf",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linenumber % 5 = 0
                         THEN -CAST(l_quantity AS BIGINT)
                         ELSE  CAST(l_quantity AS BIGINT) END)
                AS BIGINT) AS retract_sum
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_retract_udaf(spark, sf):
    """Reference A8 ops-bitmap: rows flagged by the ops column are
    RETRACTED (inverse-folded) instead of accumulated — here every 5th
    line number.  The oracle models retraction as sign flip, which is
    exactly what SumAgg.retract does; a UDAF with a wrong retract/merge
    interaction diverges immediately."""
    li = (
        t(spark, sf, "lineitem")
        .withColumn("q", F.col("l_quantity").cast("long"))
        .withColumn("ops", F.col("l_linenumber") % 5 == 0)
    )
    out = C.SumAgg.accumulate_or_retract(
        li, by=["l_returnflag"], args=["q"], ops_col="ops"
    )
    return out.select(
        "l_returnflag", F.col("sum_udaf").cast("long").alias("retract_sum")
    )


@query(
    "weighted_avg_udaf",
    """
    SELECT l_returnflag,
           round(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6) AS weighted_avg
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_weighted_avg(spark, sf):
    li = t(spark, sf, "lineitem")
    out = C.WeightedAvg.agg(
        li, by=["l_returnflag"], args=["l_extendedprice", "l_quantity"]
    )
    return out.select(
        "l_returnflag", F.round("weighted_avg", 6).alias("weighted_avg")
    )


@query(
    "identity_roundtrip",
    """
    SELECT l_orderkey, l_linenumber,
           l_orderkey AS i64, l_extendedprice AS f64,
           l_returnflag AS s, l_quantity > 25 AS b
    FROM lineitem
    """,
)
def q_identity(spark, sf):
    from arrow_udf_spark import GLOBAL

    li = t(spark, sf, "lineitem")
    id_i64 = GLOBAL.get("identity", ("int64",))
    id_f64 = GLOBAL.get("identity", ("float64",))
    id_str = GLOBAL.get("identity", ("string",))
    id_bool = GLOBAL.get("identity", ("boolean",))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        id_i64("l_orderkey").alias("i64"),
        id_f64("l_extendedprice").alias("f64"),
        id_str("l_returnflag").alias("s"),
        id_bool(F.col("l_quantity") > 25).alias("b"),
    )


@query(
    "wildcard_widths",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_linenumber AS TINYINT) AS i8,
           CAST(l_linenumber * 100 AS SMALLINT) AS i16,
           CAST(l_orderkey % 100000 AS INT) AS i32,
           l_orderkey AS i64,
           CAST(l_discount AS FLOAT) AS f32,
           l_extendedprice AS f64
    FROM lineitem
    """,
)
def q_wildcard_widths(spark, sf):
    """§2.A14 wildcard signature expansion, driver-gated: ONE ``number*``
    registration (`identity`, functions/corpus.py) must have expanded to
    all six concrete widths — the same-wildcard-binds-same-type rule of
    reference arrow-udf-macros/src/types.rs:138-151 — and each resolved
    overload must round-trip its exact width through the Arrow boundary.
    A missing expansion fails resolution; a width-coercing one breaks the
    schema/hash gate."""
    from arrow_udf_spark import GLOBAL

    li = t(spark, sf, "lineitem")
    ids = {w: GLOBAL.get("identity", (w,)) for w in
           ["int8", "int16", "int32", "int64", "float32", "float64"]}
    return li.select(
        "l_orderkey",
        "l_linenumber",
        ids["int8"](F.col("l_linenumber").cast("tinyint")).alias("i8"),
        ids["int16"]((F.col("l_linenumber") * 100).cast("smallint")).alias("i16"),
        ids["int32"]((F.col("l_orderkey") % 100000).cast("int")).alias("i32"),
        ids["int64"]("l_orderkey").alias("i64"),
        ids["float32"](F.col("l_discount").cast("float")).alias("f32"),
        ids["float64"]("l_extendedprice").alias("f64"),
    )


def _fib_case() -> str:
    vals = [0, 1]
    for _ in range(30):
        vals.append(vals[-1] + vals[-2])
    whens = " ".join(
        f"WHEN {n} THEN {vals[n]}" for n in range(20)
    )
    return f"CASE l_linenumber % 20 {whens} END"


@query(
    "fib_fn",
    f"SELECT l_orderkey, l_linenumber, {_fib_case()} AS f FROM lineitem",
)
def q_fib(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        C.fib((F.col("l_linenumber") % 20).cast("int")).cast("int").alias("f"),
    )


@query(
    "max2_concat2",
    """
    SELECT p_partkey, greatest(p_partkey, CAST(p_size AS BIGINT)) AS m,
           p_brand || '|' || p_type AS c
    FROM part
    """,
)
def q_max2_concat2(spark, sf):
    p = t(spark, sf, "part")
    return p.select(
        "p_partkey",
        C.max2(F.col("p_partkey"), F.col("p_size").cast("long"))
        .cast("long")
        .alias("m"),
        C.concat2(F.concat(F.col("p_brand"), F.lit("|")), F.col("p_type")).alias("c"),
    )


@query(
    "constants_fn",
    "SELECT r_regionkey, 0 AS z, 42 AS i42 FROM region",
)
def q_constants(spark, sf):
    r = t(spark, sf, "region")
    return r.select(
        "r_regionkey",
        C.zero().cast("int").alias("z"),
        C.int_42().cast("int").alias("i42"),
    )


@query(
    "text_embedding_fn",
    """
    SELECT doc_id,
           array_to_string(list_transform(range(0, 8), i ->
             printf('%.3f', (CAST(('0x' || substr(md5(i || ':' || text), 1, 8)) AS BIGINT)
                             % 1000) / 1000.0)), ',') AS emb
    FROM documents
    """,
)
def q_text_embedding(spark, sf):
    d = t(spark, sf, "documents")
    emb = C.text_embedding(F.col("text"))
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(emb, lambda x: F.format_string("%.3f", x.cast("double"))),
            ",",
        ).alias("emb"),
    )


@query(
    "extract_tcp_info_fn",
    """
    SELECT doc_id,
           CAST(('0x' || substr(h, 25, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 27, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 29, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 31, 2)) AS INT) AS src_addr,
           CAST(('0x' || substr(h, 33, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 35, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 37, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 39, 2)) AS INT) AS dst_addr,
           CAST(('0x' || substr(h, 41, 4)) AS INT) AS src_port,
           CAST(('0x' || substr(h, 45, 4)) AS INT) AS dst_port
    FROM (SELECT doc_id, md5(text) || md5(reverse(text)) AS h FROM documents)
    """,
)
def q_extract_tcp(spark, sf):
    d = t(spark, sf, "documents")
    payload = F.unhex(F.concat(F.md5("text"), F.md5(F.reverse(F.col("text")))))
    info = C.extract_tcp_info(payload)
    return d.select(
        "doc_id",
        info.getField("src_addr").alias("src_addr"),
        info.getField("dst_addr").alias("dst_addr"),
        info.getField("src_port").cast("int").alias("src_port"),
        info.getField("dst_port").cast("int").alias("dst_port"),
    )


@query(
    "remote_gcd",
    """
    SELECT l_orderkey, l_linenumber, gcd(l_partkey, l_suppkey) AS gcd
    FROM lineitem
    """,
)
def q_remote_gcd(spark, sf):
    """Scalar UDF evaluated over Arrow Flight (reference A19/A20): executors
    stream batches to a UdfFlightServer hosting the registry."""
    from arrow_udf_spark import GLOBAL
    from .sources.flight import remote_scalar, serve_registry

    uri = serve_registry(GLOBAL)
    li = t(spark, sf, "lineitem")
    # result column is named from the server's advertised schema ("gcd")
    return remote_scalar(
        li,
        uri,
        "gcd__bigint_bigint",
        cols=["l_partkey", "l_suppkey"],
        passthrough=["l_orderkey", "l_linenumber"],
    )


# ---------------------------------------------------------------------------
# pipeline extensions: dedup / similarity / text / multimodal
# (SURVEY.md §7.8; these are first-class operators, designed for 100 TB —
#  see the module docstrings in operators/{dedup,similarity,text,multimodal})
# ---------------------------------------------------------------------------

# shared DuckDB SQL fragments, kept in lockstep with operators/text.py
_DD_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_DD_H32 = "CAST(('0x' || substr(md5({t}), 1, 8)) AS BIGINT)"

#: shared quality-score expression (the q_quality_score oracle), reused by
#: the curation capstone's CTE chain and the streaming curation filter
_QUALITY_EXPR = """floor((0.4 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
         + 0.3 * (1.0 - CAST(strlen(text) - strlen(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                        / greatest(strlen(text), 1))
         + 0.3 * least((CAST(len(list_filter({toks},
               t -> list_contains(['the','and','of','to','a','in','is','for'], t))) AS DOUBLE)
               / greatest(len({toks}), 1)) * 5, 1.0)) * 1000000 + 0.5)
    / 1000000""".format(toks="regexp_split_to_array(trim(text), '\\s+')")


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf):
    from .operators.dedup import exact_dedup

    return exact_dedup(t(spark, sf, "documents"), "text", "doc_id")


@query(
    "streaming_exact_dedup",
    """
    SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_streaming_exact_dedup(spark, sf):
    """EXACT dedup as incremental ingestion — the digest twin of
    ``streaming_semdedup`` and the simplest member of the streaming
    dedup family: a NATIVE update-mode streaming aggregation keyed by
    the content digest, ``min(doc_id)`` / ``count(*)`` per key, so
    Spark's state store holds exactly ONE (min, count) pair per
    distinct content — partial+final aggregation per micro-batch, no
    foreachBatch, no custom state.  The update-mode memory sink emits a
    row per touched key per trigger; because both aggregates are
    MONOTONE (keep_id only shrinks, n_copies only grows), the final
    state is recovered exactly by ``min``/``max`` over the update
    stream — the drained result hash-matches the batch ``dedup_exact``
    oracle verbatim.

    Scale: per-key state is O(1); the key space grows with distinct
    content, which is the honest cost of exact dedup anywhere — in
    production this state lives in RocksDB with changelog
    checkpointing, or the aggregation is replaced by a Delta-style
    MERGE into the digest table (the ``streaming_semdedup`` persisted-
    table posture)."""
    import uuid

    docs = t(spark, sf, "documents").select("doc_id", "text")
    import tempfile

    d = tempfile.mkdtemp(prefix="stream_xdd_")
    docs.write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    from .operators.dedup import content_hash

    agg = (
        stream.select(content_hash("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    sink = f"stream_xdd_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return (
        spark.table(sink)
        .groupBy("h")
        .agg(
            F.min("keep_id").alias("keep_id"),
            F.max("n_copies").alias("n_copies"),
        )
    )


@query(
    "minhash_signature",
    f"""
    SELECT doc_id,
           list_aggregate(list_transform({_DD_TOKS}, t -> md5('0:' || t)), 'min')
           || '|' ||
           list_aggregate(list_transform({_DD_TOKS}, t -> md5('1:' || t)), 'min')
           || '|' ||
           list_aggregate(list_transform({_DD_TOKS}, t -> md5('2:' || t)), 'min')
           || '|' ||
           list_aggregate(list_transform({_DD_TOKS}, t -> md5('3:' || t)), 'min')
           AS sig
    FROM documents
    """,
)
def q_minhash_signature(spark, sf):
    from .operators.dedup import minhash_signature
    from .operators.text import tokens

    d = t(spark, sf, "documents", spread=True).withColumn(
        "__toks", tokens(F.col("text"))
    )
    return d.select(
        "doc_id",
        F.array_join(
            minhash_signature(F.col("text"), k=4, toks="__toks"), "|"
        ).alias("sig"),
    )


@query(
    "lsh_candidate_pairs",
    f"""
    WITH sig AS (
      SELECT doc_id,
             [list_aggregate(list_transform({_DD_TOKS}, t -> md5('0:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('1:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('2:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('3:' || t)), 'min')
             ] AS s
      FROM documents WHERE doc_id < 100
    ), bands AS (
      SELECT doc_id, 0 AS band, s[1] || '|' || s[2] AS bval FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, s[3] || '|' || s[4] AS bval FROM sig
    )
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
    """,
)
def q_lsh_pairs(spark, sf):
    from .operators.dedup import lsh_candidate_pairs

    d = t(spark, sf, "documents").where(F.col("doc_id") < 100)
    return lsh_candidate_pairs(
        d, "doc_id", "text", k=4, band_size=2, max_bucket=100_000
    )


def _simhash_oracle(bits: int = 16) -> str:
    toks_h = f"list_transform({_DD_TOKS}, t -> {_DD_H32.format(t='t')})"
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(th, h -> (h >> {b}) & 1 = 1)) > len(th)"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    SELECT doc_id, CAST({terms} AS BIGINT) AS sh
    FROM (SELECT doc_id, {toks_h} AS th FROM documents)
    """


@query(
    "dedup_ensemble",
    f"""
    WITH sig AS (
      SELECT doc_id,
             [list_aggregate(list_transform({_DD_TOKS}, t -> md5('0:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('1:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('2:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('3:' || t)), 'min')
             ] AS s
      FROM documents WHERE doc_id < 100
    ), bands AS (
      SELECT doc_id, 0 AS band, s[1] || '|' || s[2] AS bval FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, s[3] || '|' || s[4] AS bval FROM sig
    ),
    lshp AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
    ),
    sh AS (SELECT * FROM ({_simhash_oracle()}) WHERE doc_id < 100),
    shp AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS dist
      FROM sh a JOIN sh b ON b.doc_id > a.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
    )
    SELECT l.a, l.b, shp.dist
    FROM lshp l JOIN shp USING (a, b)
    """,
)
def q_dedup_ensemble(spark, sf):
    """Precision-first ensemble dedup: a pair is flagged only when BOTH
    families agree — minhash-LSH (token-set similarity) AND simhash
    hamming <= 3 (weighted-profile similarity).  Ensembling is what
    production dedup actually ships (each family alone has
    characteristic false positives: LSH on short docs, simhash on
    near-anagrams); the intersection is an equi-join of two already
    bucket-confined pair streams, so the composition adds no new
    quadratic surface."""
    from .operators.dedup import lsh_candidate_pairs, simhash_hamming_pairs

    d = t(spark, sf, "documents").where(F.col("doc_id") < 100)
    lp = lsh_candidate_pairs(
        d, "doc_id", "text", k=4, band_size=2, max_bucket=100_000
    )
    sp = simhash_hamming_pairs(d)
    return lp.join(sp, ["a", "b"]).select("a", "b", "dist")


@query("simhash", _simhash_oracle())
def q_simhash(spark, sf):
    # with_simhash materializes the per-token hash array in its own
    # projection so the 16 bit-vote filters don't each recompute the md5s
    from .operators.dedup import with_simhash

    d = t(spark, sf, "documents", spread=True)
    return with_simhash(d, "text", out="sh").select("doc_id", "sh")


@query(
    "simhash_hamming_pairs",
    f"""
    WITH s AS ({_simhash_oracle()})
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS dist
    FROM s a JOIN s b ON b.doc_id > a.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def q_simhash_hamming_pairs(spark, sf):
    """Near-dup pairs by SimHash hamming distance <= 3 via pigeonhole
    chunk banding (4 chunks of 4 bits: a pair differing in <= 3 bits
    differs in <= 3 chunks, so it agrees exactly on >= 1 — no false
    negatives).  The Spark side only ever joins within chunk-value
    buckets; the oracle brute-forces all pairs, which proves the banded
    candidate set is lossless at the gate scales."""
    from .operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(t(spark, sf, "documents", spread=True))


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(toks) - 1, 1)),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ) AS g
      FROM (SELECT doc_id, {_DD_TOKS} AS toks FROM documents)
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 0
                 ELSE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.g, b.g))) END, 6) AS jac
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def q_ngram_jaccard(spark, sf):
    # with_shingles stages tokens → distinct shingles in separate
    # projections so each doc is tokenized once, not once per element_at
    # site (the decontaminate lesson, VERDICT r5)
    from .operators.dedup import jaccard, with_shingles

    d = t(spark, sf, "documents")
    g = with_shingles(d, "text", out="g", n=3)
    a = g.select(F.col("doc_id").alias("a"), F.col("g").alias("ga"))
    b = g.select(F.col("doc_id").alias("b"), F.col("g").alias("gb"))
    return (
        a.join(b, F.col("b") == F.col("a") + 1)
        .select("a", "b", F.round(jaccard(F.col("ga"), F.col("gb")), 6).alias("jac"))
    )


@query(
    "minhash_jaccard_est",
    f"""
    WITH toks AS (SELECT doc_id, {_DD_TOKS} AS tk FROM documents),
    sig AS (
      SELECT doc_id, j,
             min(md5(CAST(j AS VARCHAR) || ':' || t)) AS mh
      FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
      CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
      GROUP BY doc_id, j
    ),
    est AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_match
      FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1 AND a.j = b.j
      GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
      SELECT x.doc_id AS a,
             round(CASE WHEN len(list_distinct(list_concat(x.u, y.u))) = 0
                        THEN 0
                        ELSE CAST(len(list_intersect(x.u, y.u)) AS DOUBLE)
                             / len(list_distinct(list_concat(x.u, y.u))) END,
                   6) AS jac
      FROM (SELECT doc_id, list_distinct(tk) AS u FROM toks) x
      JOIN (SELECT doc_id, list_distinct(tk) AS u FROM toks) y
        ON y.doc_id = x.doc_id + 1
    )
    SELECT e.a, e.b, e.n_match,
           round(CAST(e.n_match AS DOUBLE) / 8, 6) AS est_jac, x.jac
    FROM est e JOIN exact x ON x.a = e.a
    """,
)
def q_minhash_jaccard_est(spark, sf):
    """MinHash as an ESTIMATOR, not just a bucketing key: for adjacent
    doc pairs, the fraction of matching signature components estimates
    the unigram Jaccard similarity (E[est] = J, the defining property of
    minhash).  Emitting the estimate NEXT TO the exact Jaccard makes the
    estimator quality itself a gated, cross-engine-deterministic result —
    the number a dedup pipeline tunes k against (test asserts the mean
    absolute error stays under 0.2 at k=8)."""
    from .operators.dedup import jaccard, minhash_signature
    from .operators.text import tokens

    d = t(spark, sf, "documents")
    staged = d.withColumn("__toks", tokens(F.col("text")))
    # materialize the per-doc (signature, distinct-unigram) table once
    # (r10 perf): both sides of the adjacent-pair join re-executed the
    # tokenize + 8-permutation minhash subtree (broadcast build side
    # reuses no exchange)
    sig = staged.select(
        "doc_id",
        minhash_signature(F.col("text"), 8, toks="__toks").alias("sig"),
        F.array_distinct(F.col("__toks")).alias("u"),
    ).localCheckpoint()
    a = sig.select(
        F.col("doc_id").alias("a"), F.col("sig").alias("sa"), F.col("u").alias("ua")
    )
    b = sig.select(
        F.col("doc_id").alias("b"), F.col("sig").alias("sb"), F.col("u").alias("ub")
    )
    n_match = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y),
            lambda m: m,
        )
    ).cast("long")
    return a.join(b, F.col("b") == F.col("a") + 1).select(
        "a",
        "b",
        n_match.alias("n_match"),
        F.round(n_match.cast("double") / 8, 6).alias("est_jac"),
        F.round(jaccard(F.col("ua"), F.col("ub")), 6).alias("jac"),
    )


_CMS_TOKENS = ["the", "and", "of", "data", "dup", "to", "a", "zzz_absent"]


@query(
    "count_min_freq",
    f"""
    WITH words AS (
      SELECT tok FROM (SELECT unnest({_DD_TOKS}) AS tok FROM documents)
      WHERE tok <> ''
    ),
    cells AS (
      SELECT r,
             CAST({_DD_H32.format(t="CAST(r AS VARCHAR) || ':' || tok")}
                  % 256 AS INT) AS cell,
             CAST(count(*) AS BIGINT) AS cnt
      FROM words CROSS JOIN (SELECT unnest(range(0, 4)) AS r)
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT t.token, g.r,
             CAST({_DD_H32.format(t="CAST(g.r AS VARCHAR) || ':' || t.token")}
                  % 256 AS INT) AS cell
      FROM (SELECT unnest({_CMS_TOKENS!r}::VARCHAR[]) AS token) t
      CROSS JOIN (SELECT unnest(range(0, 4)) AS r) g
    ),
    est AS (
      SELECT token, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
      FROM probes p LEFT JOIN cells c USING (r, cell) GROUP BY token
    ),
    truth AS (
      SELECT tok AS token, CAST(count(*) AS BIGINT) AS true_cnt
      FROM words WHERE tok IN (SELECT unnest({_CMS_TOKENS!r}::VARCHAR[]))
      GROUP BY tok
    )
    SELECT e.token, CAST(coalesce(t.true_cnt, 0) AS BIGINT) AS true_cnt,
           e.cms_est
    FROM est e LEFT JOIN truth t USING (token)
    """,
)
def q_count_min_freq(spark, sf):
    """Count-Min heavy-hitter estimation next to ground truth: the sketch
    holds 4x256 int64 counters TOTAL (vocabulary-size independent — the
    100 TB answer to per-token counting, mergeable cell-wise across
    corpora/days), and each probe token's estimate (min over its 4 cells)
    is emitted beside its exact count.  CMS guarantees est >= true;
    the overestimate bound is what a pipeline tunes width against
    (asserted in tests).  md5-derived cells are engine-exact."""
    from .operators.sketch import count_min_estimate

    # r11 MEASURED NEGATIVE: spread=True here ran 1.32x SLOWER (3
    # alternating samples) — the round-robin exchange ships the full text
    # column and BOTH passes (sketch ingest + truth count) re-execute the
    # repartitioned subtree, so the spread is paid twice for one scan's
    # worth of parallelism.  Unspread stays.
    return count_min_estimate(
        t(spark, sf, "documents"), _CMS_TOKENS, text_col="text"
    )


@query(
    "streaming_count_min",
    f"""
    WITH words AS (
      SELECT tok FROM (SELECT unnest({_DD_TOKS}) AS tok FROM documents)
      WHERE tok <> ''
    )
    SELECT r,
           CAST({_DD_H32.format(t="CAST(r AS VARCHAR) || ':' || tok")}
                % 256 AS INT) AS cell,
           CAST(count(*) AS BIGINT) AS cnt
    FROM words CROSS JOIN (SELECT unnest(range(0, 4)) AS r)
    GROUP BY 1, 2
    """,
)
def q_streaming_count_min(spark, sf):
    """The Count-Min sketch maintained by Spark's NATIVE streaming
    aggregation over a live 3-micro-batch stream: state is the d*w cell
    counters (<=1024 rows, bounded regardless of vocabulary or stream
    length — the whole point of a sketch on a stream), cells merge by
    addition across batches, and the final complete-mode table must
    equal the from-scratch batch sketch.  Complements
    streaming_kmv_distinct (UDAF state store path) with the built-in
    aggregation state path — both faces of 'sketches are mergeable,
    streams are just incremental merges'."""
    import tempfile
    import uuid

    from .operators.sketch import count_min_sketch

    docs = (
        t(spark, sf, "documents")
        .select("doc_id", "text")
        .repartitionByRange(3, "doc_id")
        .drop("doc_id")
    )
    d = tempfile.mkdtemp(prefix="stream_cms_")
    docs.write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = count_min_sketch(stream, "text")
    sink = f"cms_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if len(q.recentProgress) < 2:
        raise RuntimeError(
            f"expected multi-batch replay, got {len(q.recentProgress)}"
        )
    return spark.sql(
        f"SELECT r, cell, CAST(cnt AS BIGINT) AS cnt FROM {sink}"
    )


@query(
    "dup_span_flags",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             md5(unnest(list_transform(
                 range(1, greatest(len(toks) - 4, 0) + 1),
                 i -> array_to_string(toks[i:i+4], ' ')))) AS h
      FROM (SELECT doc_id, {_DD_TOKS} AS toks FROM documents)
    ),
    dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
    SELECT doc_id, CAST(COUNT(DISTINCT s.h) AS BIGINT) AS n_dup_spans
    FROM sh s JOIN dup USING (h)
    GROUP BY doc_id
    """,
)
def q_dup_span_flags(spark, sf):
    """Exact shared-span detection: documents containing any word 5-gram
    that appears verbatim in another document, with the distinct shared-
    span count — the fixed-shingle variant of exact-substring dedup."""
    from .operators.dedup import shared_shingle_flags

    return shared_shingle_flags(t(spark, sf, "documents", spread=True), n=5)


@query(
    "dup_span_cascade",
    # oracle computes the three tiers INDEPENDENTLY (no cascade); the
    # Spark side prunes tiers 10/20 to docs flagged at the prior tier —
    # equal outputs by the pigeonhole soundness the operator documents
    f"""
    WITH toks AS (SELECT doc_id, {_DD_TOKS} AS toks FROM documents),
    sh5 AS (
      SELECT DISTINCT doc_id,
             md5(unnest(list_transform(
                 range(1, greatest(len(toks) - 4, 0) + 1),
                 i -> array_to_string(toks[i:i+4], ' ')))) AS h
      FROM toks),
    sh10 AS (
      SELECT DISTINCT doc_id,
             md5(unnest(list_transform(
                 range(1, greatest(len(toks) - 9, 0) + 1),
                 i -> array_to_string(toks[i:i+9], ' ')))) AS h
      FROM toks),
    sh20 AS (
      SELECT DISTINCT doc_id,
             md5(unnest(list_transform(
                 range(1, greatest(len(toks) - 19, 0) + 1),
                 i -> array_to_string(toks[i:i+19], ' ')))) AS h
      FROM toks),
    d5 AS (SELECT h FROM sh5 GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
    d10 AS (SELECT h FROM sh10 GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
    d20 AS (SELECT h FROM sh20 GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
    n5 AS (SELECT doc_id, COUNT(DISTINCT s.h) AS n FROM sh5 s
           JOIN d5 USING (h) GROUP BY doc_id),
    n10 AS (SELECT doc_id, COUNT(DISTINCT s.h) AS n FROM sh10 s
            JOIN d10 USING (h) GROUP BY doc_id),
    n20 AS (SELECT doc_id, COUNT(DISTINCT s.h) AS n FROM sh20 s
            JOIN d20 USING (h) GROUP BY doc_id)
    SELECT n5.doc_id,
           CAST(n5.n AS BIGINT) AS n_spans_5,
           CAST(COALESCE(n10.n, 0) AS BIGINT) AS n_spans_10,
           CAST(COALESCE(n20.n, 0) AS BIGINT) AS n_spans_20,
           CAST(CASE WHEN COALESCE(n20.n, 0) > 0 THEN 20
                     WHEN COALESCE(n10.n, 0) > 0 THEN 10
                     ELSE 5 END AS INT) AS max_shared_len
    FROM n5 LEFT JOIN n10 ON n5.doc_id = n10.doc_id
            LEFT JOIN n20 ON n5.doc_id = n20.doc_id
    """,
)
def q_dup_span_cascade(spark, sf):
    """Longest-shared-span dedup approximation (VERDICT r7 ask #7): the
    5/10/20-gram cascade where each longer tier runs only over documents
    flagged at the shorter one — RefinedWeb/Gopher exact-substring
    semantics ("shares >= N tokens verbatim") without a suffix array,
    digest-only shuffles throughout.  ``max_shared_len`` is the dedup
    decision variable."""
    from .operators.dedup import dup_span_cascade

    return dup_span_cascade(t(spark, sf, "documents", spread=True))


@query(
    "dup_substring_max",
    """
    WITH base AS (
      SELECT doc_id AS id, text AS t FROM documents
      WHERE length(text) >= 1
    ),
    sfx AS (
      SELECT id, i, substr(t, i, 24) AS s
      FROM (SELECT id, t, unnest(range(1, length(t) + 1)) AS i
            FROM base)
    ),
    adj AS (
      SELECT id, s,
             lag(s)  OVER (PARTITION BY substr(s, 1, 4)
                           ORDER BY s, id, i) AS ps,
             lag(id) OVER (PARTITION BY substr(s, 1, 4)
                           ORDER BY s, id, i) AS pid
      FROM sfx
    ),
    sc AS (
      SELECT id, pid,
             coalesce(nullif(list_position(list_transform(range(1, 25),
                        k -> substr(s, k, 1) = substr(ps, k, 1)),
                        false), 0) - 1,
                      least(length(s), length(ps))) AS lcp
      FROM adj WHERE ps IS NOT NULL
    ),
    credit AS (SELECT id, lcp FROM sc WHERE lcp >= 4
               UNION ALL SELECT pid AS id, lcp FROM sc WHERE lcp >= 4),
    agg AS (SELECT id, MAX(lcp) AS m FROM credit GROUP BY id)
    SELECT b.id AS doc_id, CAST(coalesce(a.m, 0) AS BIGINT) AS max_dup_len
    FROM (SELECT DISTINCT id FROM base) b LEFT JOIN agg a USING (id)
    """,
)
def q_dup_substring_max(spark, sf):
    """TRUE longest-duplicated-substring per document — the suffix-array
    residual COVERAGE.md carried since r7, closed with a prefix-capped
    suffix-ARRAY adjacency instead of shingle tiers: every char position
    contributes its 24-capped suffix, suffixes bucket by their first 4
    chars and sort per bucket, each adjacent pair's LCP credits both
    owning docs, and a doc's answer is its max.  The classic SA property
    (a suffix's max-LCP partner is adjacent in sorted order) makes the
    per-doc value EXACT for every repeat of length >= 4 (clipped at
    24); shorter repeats report 0.  Self-similarity counts (Lee et al.
    2022's definition — a repeat within one document flags it too),
    which is what ``dup_span_cascade``'s cross-doc shingles cannot see.
    The per-bucket sort carries (id, position) tie-breakers: a
    tie-ambiguous ORDER BY lets an engine evaluate lag(s) and lag(id)
    under different tie orders and credit the wrong document (observed
    nondeterministically in DuckDB); the total order pins both lags to
    one predecessor (hypothesis referee in test_properties_r9.py).  Scale: O(total chars) suffix
    rows, ONE bucket-key shuffle, per-bucket windows — the sample/audit
    tier; the cascade stays the full-corpus path."""
    from .operators.dedup import dup_substring_max

    return dup_substring_max(
        t(spark, sf, "documents", spread=True)
    ).select(F.col("id").alias("doc_id"), "max_dup_len")


@query(
    "embedding_near_dup",
    """
    SELECT l.vec_id AS a, r.vec_id AS b,
           round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                        CAST(r.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings l JOIN embeddings r
      ON l.label = r.label AND l.vec_id < r.vec_id
    WHERE round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                       CAST(r.embedding AS DOUBLE[])), 6) >= 0.3
    """,
)
def q_embedding_near_dup(spark, sf):
    # threshold 0.3: the synthetic embeddings max out near cosine 0.47, so a
    # 0.5 cut returns 0 rows on both engines — a vacuous pass.  0.3 yields
    # ~80-110 pairs at the sf0.001/sf0.01 gate scales, actually exercising
    # the bucketed join + cosine + threshold path.
    from .operators.dedup import embedding_near_dup

    e = t(spark, sf, "embeddings")
    return embedding_near_dup(
        e, "vec_id", "embedding", "label", threshold=0.3
    )


_TOPK_ORACLE = """
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.q_id, e.vec_id AS n_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
      FROM embeddings e CROSS JOIN q
    )
    SELECT q_id, n_id, round(s, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) rn
          FROM scored)
    WHERE rn <= 5
"""


@query("cosine_topk_bruteforce", _TOPK_ORACLE)
def q_cosine_topk(spark, sf):
    from .operators.similarity import brute_force_topk

    e = t(spark, sf, "embeddings")
    return brute_force_topk(e, e.where(F.col("vec_id") < 5), k=5)


@query("cosine_topk_numpy", _TOPK_ORACLE)
def q_cosine_topk_numpy(spark, sf):
    from .operators.similarity import brute_force_topk_numpy

    e = t(spark, sf, "embeddings")
    return brute_force_topk_numpy(e, e.where(F.col("vec_id") < 5), k=5)


@query(
    "ivf_topk",
    """
    WITH q AS (
      SELECT vec_id AS q_id, label, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.q_id, e.vec_id AS n_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
      FROM embeddings e JOIN q ON e.label = q.label
    )
    SELECT q_id, n_id, round(s, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def q_ivf_topk(spark, sf):
    from .operators.similarity import ivf_topk

    e = t(spark, sf, "embeddings")
    return ivf_topk(e, e.where(F.col("vec_id") < 5), k=5)


# Random-hyperplane LSH ANN, recomputed exactly: plane coefficients are
# md5-derived ints, embeddings quantize to floor(x*1000) ints, so every
# projection sign is exact integer arithmetic on both engines.  16
# planes / 4 bands of 4 bits; candidates = bucket-join hits; exact
# cosine re-rank over candidates only.
_LSH_TOPK_ORACLE = """
    WITH planes AS (
      SELECT p, list(c ORDER BY d) AS pl
      FROM (
        SELECT pp.p AS p, dd.d AS d,
               (CAST(('0x' || substr(md5(pp.p || ':' || dd.d), 1, 8)) AS BIGINT)
                % 2001 - 1000) AS c
        FROM (SELECT unnest(range(0, 16)) AS p) pp
        CROSS JOIN (SELECT unnest(range(0, 64)) AS d) dd
      ) GROUP BY p
    ),
    vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
             list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1000)) AS qi
      FROM embeddings
    ),
    bits AS (
      SELECT v.vec_id, pl.p,
             CASE WHEN list_inner_product(v.qi, CAST(pl.pl AS DOUBLE[])) >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM vecs v CROSS JOIN planes pl
    ),
    bands AS (
      SELECT vec_id, p // 4 AS band,
             CAST(sum(bit * (1 << (p % 4))) AS INT) AS bkey
      FROM bits GROUP BY vec_id, p // 4
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, i.vec_id AS n_id
      FROM (SELECT * FROM bands WHERE vec_id < 5) q
      JOIN bands i ON q.band = i.band AND q.bkey = i.bkey
    ),
    scored AS (
      SELECT c.q_id, c.n_id, list_cosine_similarity(vn.ev, vq.ev) AS s
      FROM cand c
      JOIN vecs vq ON vq.vec_id = c.q_id
      JOIN vecs vn ON vn.vec_id = c.n_id
    )
    SELECT q_id, n_id, round(s, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) rn
          FROM scored)
    WHERE rn <= 5
    """


@query("lsh_topk", _LSH_TOPK_ORACLE)
def q_lsh_topk(spark, sf):
    from .operators.similarity import lsh_topk

    e = t(spark, sf, "embeddings")
    return lsh_topk(e, e.where(F.col("vec_id") < 5), k=5)


@query(
    "lsh_recall_at_k",
    f"""
    SELECT e.q_id,
           CAST(count(a.n_id) AS BIGINT) AS hits,
           CAST(count(*) AS BIGINT) AS k
    FROM ({_TOPK_ORACLE}) e
    LEFT JOIN ({_LSH_TOPK_ORACLE}) a
      ON a.q_id = e.q_id AND a.n_id = e.n_id
    GROUP BY e.q_id
    """,
)
def q_lsh_recall_at_k(spark, sf):
    """The number an ANN user actually tunes band_bits against: per-query
    recall@5 of the LSH path vs the exact brute-force answer.  Both sides
    are deterministic (md5-derived planes, exact integer projections), so
    the recall itself is engine-exact — the oracle recomputes both rankings
    and must land on identical (hits, k) rows.  A floor (recall ≥ 0.5 at
    the test scales) is asserted in tests/test_similarity_recall.py."""
    from .operators.similarity import brute_force_topk, lsh_topk

    e = t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    exact = brute_force_topk(e, q, k=5).select("q_id", "n_id")
    approx = lsh_topk(e, q, k=5).select(
        F.col("q_id").alias("aq"), F.col("n_id").alias("an")
    )
    return (
        exact.join(
            approx,
            (F.col("q_id") == F.col("aq")) & (F.col("n_id") == F.col("an")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("an").cast("long").alias("hits"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )


def _lang_oracle() -> str:
    from .operators.text import STOPWORDS

    hit = lambda ws: (  # noqa: E731
        "len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in ws)
        + "], t)))"
    )
    scores = {lang: hit(ws) for lang, ws in STOPWORDS.items()}
    mx = "greatest(" + ", ".join(scores.values()) + ")"
    case = "CASE"
    for lang, s in scores.items():
        case += f" WHEN {s} = mx THEN '{lang}'"
    case += " ELSE 'und' END"
    return f"""
    SELECT doc_id, CASE WHEN mx <= 0 THEN 'und' ELSE {case} END AS lang_pred
    FROM (SELECT doc_id, toks, {mx} AS mx
          FROM (SELECT doc_id, {_DD_TOKS} AS toks FROM documents))
    """


@query("lang_id", _lang_oracle())
def q_lang_id(spark, sf):
    # staged: one tokenization + one score evaluation per language per doc
    # (the single-expression form inlines the regex split ~2x languages
    # times — no CSE inside a projection, the decontaminate lesson)
    from .operators.text import with_lang_id

    return with_lang_id(t(spark, sf, "documents"), "text", out="lang_pred").select(
        "doc_id", "lang_pred"
    )


@query(
    "lang_id_confusion",
    f"""
    WITH p AS ({{pred}})
    SELECT d.lang AS lang_true, p.lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM p JOIN documents d USING (doc_id)
    GROUP BY 1, 2
    """.format(pred=_lang_oracle()),
)
def q_lang_id_confusion(spark, sf):
    """Estimator-quality gate for the language-ID heuristic: the full
    (true lang, predicted lang) CONFUSION MATRIX against the corpus's
    label column — the eval harness a real pipeline runs before
    trusting a classifier for routing/filtering.  On this fixture it is
    genuinely diagnostic: the text column is one English-ish vocabulary
    regardless of the lang label, so the matrix shows en-recall ≈ 0.91
    while every non-en label collapses to en/und — exactly the
    label-content mismatch a mislabeled corpus audit surfaces
    (floor-asserted in tests/test_sampling.py).  One tokenization, one
    broadcast-side join, output bounded by |langs|²."""
    from .operators.text import with_lang_id

    d = t(spark, sf, "documents")
    pred = with_lang_id(d, "text", out="lang_pred")
    return (
        pred.groupBy(F.col("lang").alias("lang_true"), "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "quality_score",
    f"""
    SELECT doc_id,
           floor((0.4 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
                 + 0.3 * (1.0 - CAST(strlen(text) - strlen(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                                / greatest(strlen(text), 1))
                 + 0.3 * least((CAST(len(list_filter({_DD_TOKS},
                       t -> list_contains(['the','and','of','to','a','in','is','for'], t))) AS DOUBLE)
                       / greatest(len({_DD_TOKS}), 1)) * 5, 1.0)) * 1000000 + 0.5)
           / 1000000 AS q
    FROM documents
    """,
)
def q_quality_score(spark, sf):
    from .operators.text import with_quality_score

    return with_quality_score(t(spark, sf, "documents"), "text", "n_chars").select(
        "doc_id", "q"
    )


@query(
    "token_count",
    f"SELECT doc_id, CAST(len({_DD_TOKS}) AS BIGINT) AS n_tokens FROM documents",
)
def q_token_count(spark, sf):
    from .operators.text import token_count

    return t(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )


@query(
    "fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_DD_TOKS}, t -> {_DD_H32.format(t='t')})),
             (a, b) -> (a * 31 + b) % 1000000007) AS fp
    FROM documents
    """,
)
def q_fingerprint(spark, sf):
    from .operators.text import fingerprint

    return t(spark, sf, "documents", spread=True).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


@query(
    "image_meta",
    """
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 64 + 1 AS width,
           CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 64 + 1 AS height,
           CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 3 + 1 AS channels,
           CAST(16 AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_image_meta(spark, sf):
    from .operators.multimodal import decode_image_meta, synthesize_payload

    d = t(spark, sf, "documents").withColumn(
        "payload", synthesize_payload(F.col("text"))
    )
    out = decode_image_meta(d, "payload", passthrough=["doc_id"])
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.channels").alias("channels"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


@query(
    "image_resize",
    # Oracle derives every pixel of the synthetic PPM in closed form:
    # pixel(x,y,c) = (7x + 13y + 31c + s) % 256 with s/w/h from md5(text)
    # bytes 0/1/2.  Stride-2 downsample keeps even rows/cols, so the
    # resized checksum is the sum over (2x, 2y, c) — computed here by
    # unnesting the index ranges, no image code involved.
    """
    WITH base AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 16 + 8 AS w,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 16 + 8 AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, s, w, h,
             (w + 1) // 2 AS ow, (h + 1) // 2 AS oh,
             unnest(range(0, (w + 1) // 2)) AS x
      FROM base
    ),
    pxy AS (SELECT *, unnest(range(0, oh)) AS y FROM px),
    pxyc AS (SELECT *, unnest(range(0, 3)) AS c FROM pxy)
    SELECT doc_id, MIN(w) AS w, MIN(h) AS h, MIN(ow) AS ow, MIN(oh) AS oh,
           CAST(SUM((7 * 2 * x + 13 * 2 * y + 31 * c + s) % 256) AS BIGINT)
               AS checksum
    FROM pxyc GROUP BY doc_id
    """,
)
def q_image_resize(spark, sf):
    """Real image resize plumbing (multimodal §: decode/resize): per doc,
    synthesize a genuine P6 PPM whose pixels are a closed-form function of
    md5(text), stride-2 downsample it with numpy, re-encode, then decode
    the result independently and checksum its pixels.  The oracle predicts
    dims and checksum analytically — any bug in encoder, header parser,
    resizer, or re-encoder breaks the match."""
    from .operators.multimodal import resize_pipeline

    return resize_pipeline(t(spark, sf, "documents", spread=True))


@query(
    "png_meta",
    # dims derive from md5(text) digest bytes 3/4/5 (hex chars 7-12); the
    # synthetic is always RGBA.  n_bytes is excluded: it depends on zlib's
    # compressed length, which no SQL oracle can predict.
    """
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(text), 9, 2)) AS INT) % 16 + 8
                AS INT) AS width,
           CAST(CAST(('0x' || substr(md5(text), 11, 2)) AS INT) % 16 + 8
                AS INT) AS height,
           CAST(4 AS INT) AS channels
    FROM documents
    """,
)
def q_png_meta(spark, sf):
    """REAL PNG header decode (multimodal §: the r8 upgrade of the codec
    stub, VERDICT r7 ask #5): per doc, synthesize a genuine RGBA PNG
    (zlib IDAT, CRC'd chunks, per-row filter cycling) and parse its IHDR
    back through ``decode_image_meta(real_decode=True)`` — the same
    entrypoint that parses PPM/BMP, now covering PNG.  Dims are a
    closed-form function of md5(text), so the oracle predicts them
    without any image code.  JPEG remains a documented descope."""
    from .operators.multimodal import decode_image_meta, synth_png
    from .operators.scalar import udf
    from .plans.registry import Registry

    mk_png = udf(["string"], "binary", name="mk_png", registry=Registry())(synth_png)

    d = t(spark, sf, "documents", spread=True).withColumn(
        "payload", mk_png("text")
    )
    out = decode_image_meta(
        d, "payload", passthrough=["doc_id"], real_decode=True
    )
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.channels").alias("channels"),
    )


@query(
    "png_pixels",
    # full-decode checksum: every pixel of the synthetic RGBA PNG is
    # (7x + 13y + 31c + s) % 256 with s/w/h from md5(text) bytes 3/4/5 —
    # the oracle sums the closed form by unnesting index ranges, no image
    # code involved.  The Spark side must run the whole chunk-walk /
    # CRC / inflate / 5-filter reconstruction to reproduce it.
    """
    WITH base AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 9, 2)) AS INT) % 16 + 8 AS w,
             CAST(('0x' || substr(md5(text), 11, 2)) AS INT) % 16 + 8 AS h
      FROM documents
    ),
    px AS (SELECT doc_id, s, w, h, unnest(range(0, w)) AS x FROM base),
    pxy AS (SELECT *, unnest(range(0, h)) AS y FROM px),
    pxyc AS (SELECT *, unnest(range(0, 4)) AS c FROM pxy)
    SELECT doc_id, CAST(MIN(w) AS INT) AS w, CAST(MIN(h) AS INT) AS h,
           CAST(4 AS INT) AS channels,
           CAST(SUM((7 * x + 13 * y + 31 * c + s) % 256) AS BIGINT)
               AS checksum
    FROM pxyc GROUP BY doc_id
    """,
)
def q_png_pixels(spark, sf):
    """Full PNG DECODE gate: synthesize → decode (chunk walk, CRC verify,
    zlib inflate, per-scanline None/Sub/Up/Average/Paeth reconstruction)
    → pixel checksum, per doc as a table function on ``mapInArrow``.
    The encoder cycles the filter type per row, so every one of the five
    reconstruction paths is load-bearing in every image (h >= 8 rows);
    encoder and decoder share only the spec.  Embarrassingly parallel
    scan — no shuffle, no driver state."""
    from .operators.multimodal import png_pipeline

    # spread: the fixture's single-row-group file scans as ONE task, which
    # serializes the per-row decode; one row-index hash exchange spreads
    # the CPU-dominated map across every core (never fires on a real corpus)
    return png_pipeline(t(spark, sf, "documents", spread=True))


@query(
    "png_palette_pixels",
    # palette PNG full decode: the synthetic carries a 256-entry PLTE with
    # plte[i][c] = (11i + 17c + s) % 256 and index(x,y) = (3x + 5y + s) % 256
    # (s/w/h from md5 bytes 6/7/8), so the expanded RGB pixel is the
    # composition (11*((3x+5y+s)%256) + 17c + s) % 256 — the oracle sums it
    # in closed form; the Spark side must unfilter the 1-byte index
    # scanlines AND apply the PLTE indirection to reproduce it.
    """
    WITH base AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 13, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 15, 2)) AS INT) % 16 + 8 AS w,
             CAST(('0x' || substr(md5(text), 17, 2)) AS INT) % 16 + 8 AS h
      FROM documents
    ),
    px AS (SELECT doc_id, s, w, h, unnest(range(0, w)) AS x FROM base),
    pxy AS (SELECT *, unnest(range(0, h)) AS y FROM px),
    pxyc AS (SELECT *, unnest(range(0, 3)) AS c FROM pxy)
    SELECT doc_id, CAST(MIN(w) AS INT) AS w, CAST(MIN(h) AS INT) AS h,
           CAST(3 AS INT) AS channels,
           CAST(SUM((11 * ((3 * x + 5 * y + s) % 256) + 17 * c + s) % 256)
                AS BIGINT) AS checksum
    FROM pxyc GROUP BY doc_id
    """,
)
def q_png_palette_pixels(spark, sf):
    """PALETTE PNG decode gate (closes the r8 PLTE residual): synthesize
    a color-type-3 PNG per doc (1-byte index scanlines, filter cycling,
    256-entry PLTE), decode it for real — chunk walk, CRC, inflate,
    bpp=1 unfilter, then the PLTE→RGB indirection — and checksum the
    EXPANDED pixels.  A decoder that skips the indirection (or indexes
    the palette before unfiltering, the spec-order trap) breaks the
    closed-form oracle.  Same embarrassingly-parallel scan shape as
    ``png_pixels``."""
    from .operators.multimodal import png_pipeline, synth_png_pal

    return png_pipeline(
        t(spark, sf, "documents", spread=True), synth=synth_png_pal
    )


@query(
    "gif_pixels",
    # pixel(x,y,c) = (11*((3x+5y+s)%256) + 17c + s) % 256 with s/w/h from
    # md5 bytes 9/10/11 — the palette-composition formula on the GIF
    # container; the Spark side must run the whole sub-block walk + LZW
    # dictionary decode to reproduce it
    """
    WITH base AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 19, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 21, 2)) AS INT) % 16 + 8 AS w,
             CAST(('0x' || substr(md5(text), 23, 2)) AS INT) % 16 + 8 AS h
      FROM documents
    ),
    px AS (SELECT doc_id, s, w, h, unnest(range(0, w)) AS x FROM base),
    pxy AS (SELECT *, unnest(range(0, h)) AS y FROM px),
    pxyc AS (SELECT *, unnest(range(0, 3)) AS c FROM pxy)
    SELECT doc_id, CAST(MIN(w) AS INT) AS w, CAST(MIN(h) AS INT) AS h,
           CAST(3 AS INT) AS channels,
           CAST(SUM((11 * ((3 * x + 5 * y + s) % 256) + 17 * c + s) % 256)
                AS BIGINT) AS checksum
    FROM pxyc GROUP BY doc_id
    """,
)
def q_gif_pixels(spark, sf):
    """GIF decode gate (r8, the LZW codec): synthesize a real GIF87a per
    doc — 256-entry global color table, REAL variable-width LZW
    compression with dictionary building and CLEAR resets — then decode
    it back (sub-block reassembly, full LZW decompression incl. the
    cScSc case, color-table expansion) and checksum the RGB pixels.
    Compressor and decompressor share only the spec; the closed-form
    oracle predicts every pixel from md5(text).  Same embarrassingly
    parallel scan shape as ``png_pixels``."""
    from .operators.multimodal import decode_gif, png_pipeline, synth_gif

    return png_pipeline(
        t(spark, sf, "documents", spread=True),
        synth=synth_gif,
        decode=decode_gif,
    )


@query(
    "source_formats_roundtrip",
    # one row per source format; every aggregate must be identical across
    # formats AND equal to the parquet truth — CSV quoting, JSON string
    # escaping, and ORC encoding all have to round-trip the text
    # byte-exactly for the sum(length(text)) leg to match
    """
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS sum_id,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(length(text)) AS BIGINT) AS sum_text_len
        FROM documents
    )
    SELECT fmt, n_rows, sum_id, sum_chars, sum_text_len
    FROM agg CROSS JOIN (
        SELECT unnest(['csv', 'json', 'orc']) AS fmt)
    """,
)
def q_source_formats_roundtrip(spark, sf):
    """Source-format integrity gate: the documents table is written to
    ORC, JSONL, and CSV and read back through Spark's native readers
    (explicit schema — inference is not the contract), then aggregated
    per format.  The three rows must be identical to the parquet truth:
    CSV quoting/escaping, JSON string escaping, and ORC encoding each
    have to preserve every text byte for the length-sum leg to match.
    Scale shape: each leg is one columnar scan + one map-side-combined
    aggregate; formats differ only in the scan node."""
    import tempfile

    d = t(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    base = tempfile.mkdtemp(prefix="srcfmt_")
    d.write.mode("overwrite").orc(f"{base}/orc")
    d.write.mode("overwrite").json(f"{base}/json")
    d.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    schema = d.schema
    reads = {
        "orc": spark.read.orc(f"{base}/orc"),
        "json": spark.read.schema(schema).json(f"{base}/json"),
        "csv": spark.read.schema(schema)
        .option("header", True)
        .csv(f"{base}/csv"),
    }
    outs = [
        df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("doc_id").cast("bigint").alias("sum_id"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
        ).select(F.lit(fmt).alias("fmt"), "*")
        for fmt, df in reads.items()
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query(
    "gif_frames",
    # animated GIF: n_frames = s%3+2; frame f = sub-rectangle (f,f)..(w,h)
    # with GLOBAL-coordinate indices idx=(3x+5y+7f+s)%256; EVEN frames
    # expand through the global table (11i+17c+s), ODD frames through
    # their LOCAL table (7i+23c+s+f) and arrive INTERLACED — a decoder
    # that misses palette scoping, row reordering, or offsets breaks it.
    # s/w/h from md5 hex nibbles 14-15/16-17/18-19.
    """
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 14, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 16, 2)) AS INT) % 12 + 6 AS w,
             CAST(('0x' || substr(md5(text), 18, 2)) AS INT) % 12 + 6 AS h
      FROM documents
    ),
    fr AS (SELECT doc_id, s, w, h, unnest(range(0, s % 3 + 2)) AS f FROM b),
    px AS (SELECT *, unnest(range(f, w)) AS x FROM fr),
    pxy AS (SELECT *, unnest(range(f, h)) AS y FROM px),
    pxyc AS (SELECT *, unnest(range(0, 3)) AS c FROM pxy)
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(f AS INT) AS x0, CAST(f AS INT) AS y0,
           CAST(MIN(w) - f AS INT) AS fw, CAST(MIN(h) - f AS INT) AS fh,
           CAST(SUM(CASE WHEN f % 2 = 0
                THEN (11 * ((3 * x + 5 * y + 7 * f + s) % 256) + 17 * c + s)
                     % 256
                ELSE (7 * ((3 * x + 5 * y + 7 * f + s) % 256) + 23 * c + s
                      + f) % 256 END) AS BIGINT) AS checksum
    FROM pxyc GROUP BY doc_id, f
    """,
)
def q_gif_frames(spark, sf):
    """Animated-GIF decode gate (closes the r8 GIF residuals): per doc,
    synthesize a real multi-frame GIF89a — graphic-control extensions,
    per-frame sub-rectangles, LOCAL color tables on odd frames, INTERLACE
    row order on odd frames — and fully decode every frame back,
    checksumming each frame's RGB against the closed-form oracle.  Same
    embarrassingly-parallel scan shape as ``png_pixels``."""
    from .operators.multimodal import gif_frames_pipeline

    return gif_frames_pipeline(t(spark, sf, "documents", spread=True))


@query(
    "png_deep_pixels",
    # the three r8-residual PNG formats in ONE gate, each with its own
    # closed-form pixel function of md5(text):
    #  16bit: sample(x,y,c) = (7x+13y+31c+257s) % 65536, s/w/h from md5
    #         bytes 12/13/14 (hex substr 25/27/29) — 257s makes BOTH bytes
    #         of every sample load-bearing
    #  adam7: pixel(x,y,c) = (7x+13y+31c+s) % 256, s/w/h from hex nibbles
    #         2-3/4-5/6-7 — decode must reassemble the seven passes
    #  trns : palette composition + alpha indirection, s/w/h from nibbles
    #         8-9/10-11/12-13; idx>=128 must come back opaque 255
    """
    WITH b16 AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 25, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 27, 2)) AS INT) % 12 + 6 AS w,
             CAST(('0x' || substr(md5(text), 29, 2)) AS INT) % 12 + 6 AS h
      FROM documents
    ),
    p16 AS (
      SELECT doc_id, '16bit' AS variant, w, h, CAST(3 AS INT) AS channels,
             CAST(SUM((7 * x + 13 * y + 31 * c + 257 * s) % 65536) AS BIGINT)
                 AS checksum
      FROM (SELECT *, unnest(range(0, w)) AS x FROM b16) t1,
           LATERAL (SELECT unnest(range(0, h)) AS y) t2,
           LATERAL (SELECT unnest(range(0, 3)) AS c) t3
      GROUP BY doc_id, w, h
    ),
    ba AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 2, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 4, 2)) AS INT) % 16 + 8 AS w,
             CAST(('0x' || substr(md5(text), 6, 2)) AS INT) % 16 + 8 AS h
      FROM documents
    ),
    pa AS (
      SELECT doc_id, 'adam7' AS variant, w, h, CAST(4 AS INT) AS channels,
             CAST(SUM((7 * x + 13 * y + 31 * c + s) % 256) AS BIGINT)
                 AS checksum
      FROM (SELECT *, unnest(range(0, w)) AS x FROM ba) t1,
           LATERAL (SELECT unnest(range(0, h)) AS y) t2,
           LATERAL (SELECT unnest(range(0, 4)) AS c) t3
      GROUP BY doc_id, w, h
    ),
    bt AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 8, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 10, 2)) AS INT) % 16 + 8 AS w,
             CAST(('0x' || substr(md5(text), 12, 2)) AS INT) % 16 + 8 AS h
      FROM documents
    ),
    pt AS (
      SELECT doc_id, 'trns' AS variant, w, h, CAST(4 AS INT) AS channels,
             CAST(SUM(CASE WHEN c < 3
                  THEN (11 * ((3 * x + 5 * y + s) % 256) + 17 * c + s) % 256
                  WHEN (3 * x + 5 * y + s) % 256 < 128
                  THEN (29 * ((3 * x + 5 * y + s) % 256) + s) % 256
                  ELSE 255 END) AS BIGINT) AS checksum
      FROM (SELECT *, unnest(range(0, w)) AS x FROM bt) t1,
           LATERAL (SELECT unnest(range(0, h)) AS y) t2,
           LATERAL (SELECT unnest(range(0, 4)) AS c) t3
      GROUP BY doc_id, w, h
    ),
    bb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 16 + 8 AS w,
             CAST(('0x' || substr(md5(text), 9, 2)) AS INT) % 16 + 8 AS h
      FROM documents
    ),
    pb AS (
      SELECT doc_id, 'bit2' AS variant, w, h, CAST(1 AS INT) AS channels,
             CAST(SUM((x + 2 * y + s) % 4) AS BIGINT) AS checksum
      FROM (SELECT *, unnest(range(0, w)) AS x FROM bb) t1,
           LATERAL (SELECT unnest(range(0, h)) AS y) t2
      GROUP BY doc_id, w, h
    ),
    bp4 AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 11, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 13, 2)) AS INT) % 16 + 8 AS w,
             CAST(('0x' || substr(md5(text), 15, 2)) AS INT) % 16 + 8 AS h
      FROM documents
    ),
    pp4 AS (
      SELECT doc_id, 'pal4' AS variant, w, h, CAST(3 AS INT) AS channels,
             CAST(SUM((11 * ((3 * x + 5 * y + s) % 16) + 17 * c + s) % 256)
                  AS BIGINT) AS checksum
      FROM (SELECT *, unnest(range(0, w)) AS x FROM bp4) t1,
           LATERAL (SELECT unnest(range(0, h)) AS y) t2,
           LATERAL (SELECT unnest(range(0, 3)) AS c) t3
      GROUP BY doc_id, w, h
    )
    SELECT doc_id, variant, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
           channels, checksum
    FROM (SELECT * FROM p16 UNION ALL SELECT * FROM pa
          UNION ALL SELECT * FROM pt UNION ALL SELECT * FROM pb
          UNION ALL SELECT * FROM pp4)
    """,
)
def q_png_deep_pixels(spark, sf):
    """PNG deep-format decode gate (closes EVERY PNG residual): per doc,
    synthesize and FULLY decode a 16-bit RGB PNG (byte-level unfilter,
    big-endian sample recombination), an Adam7-interlaced RGBA PNG
    (seven pass-local filtered sub-images scattered back), a
    tRNS-translucent palette PNG (PLTE→RGB plus the alpha indirection
    with opaque padding), a 2-BIT grayscale INTERLACED PNG (bit packing
    compounded with per-pass sub-byte strides), and a 4-bit palette PNG
    (two indices per wire byte) — five rows per doc, each checksummed
    against its closed-form oracle.  With these, decode_png covers the
    full legal PNG matrix except 16-bit palettes (illegal per spec).
    Same embarrassingly-parallel scan shape as ``png_pixels``."""
    from .operators.multimodal import png_deep_pipeline

    return png_deep_pipeline(t(spark, sf, "documents", spread=True))


@query(
    "jpeg_pixels",
    # the lossy-codec oracle trick: flat 8x8 blocks with EVEN values make
    # the DC coefficient an exact multiple of its quantization step (16),
    # so baseline JPEG becomes exactly invertible and every decoded pixel
    # is closed-form — while the decoder still runs the full marker walk,
    # Huffman decode, DC prediction, dequant, and IDCT.  s/bw/bh from md5
    # hex nibbles 20-21/22-23/24-25; block value v = 2*((7bx+13by+s)%128);
    # checksum = sum over blocks of 64*v.
    """
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 20, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 22, 2)) AS INT) % 3 + 1 AS bw,
             CAST(('0x' || substr(md5(text), 24, 2)) AS INT) % 3 + 1 AS bh
      FROM documents
    ),
    bx AS (SELECT *, unnest(range(0, bw)) AS x FROM b),
    bxy AS (SELECT *, unnest(range(0, bh)) AS y FROM bx)
    SELECT doc_id,
           CAST(MIN(bw) * 8 AS INT) AS w, CAST(MIN(bh) * 8 AS INT) AS h,
           CAST(1 AS INT) AS channels,
           CAST(SUM(64 * (2 * ((7 * x + 13 * y + s) % 128))) AS BIGINT)
               AS checksum
    FROM bxy GROUP BY doc_id
    """,
)
def q_jpeg_pixels(spark, sf):
    """BASELINE JPEG decode gate — the codec formerly stubbed as
    library-blocked, now implemented from ITU-T T.81 with numpy
    (operators/jpeg.py): per doc, synthesize a real baseline JPEG
    (Annex K quant/Huffman tables, exact FDCT, byte-stuffed entropy
    stream) and fully decode it back — marker walk, canonical Huffman
    decode, DC prediction chain, dequantization, inverse zigzag, IDCT.
    The flat-block fixture makes the lossy codec exactly invertible
    (see the oracle comment); general AC/color paths are pinned by
    round-trip tests in tests/test_jpeg.py.  Same embarrassingly
    parallel scan shape as ``png_pixels``."""
    from .operators.jpeg import decode_jpeg, synth_jpeg_flat
    from .operators.multimodal import png_pipeline

    return png_pipeline(
        t(spark, sf, "documents", spread=True),
        synth=synth_jpeg_flat,
        decode=decode_jpeg,
    )


@query(
    "image_autodecode",
    # one md5 nibble (hex digit 16, % 7) picks the container per doc; each
    # branch reuses the SAME closed form its dedicated gate verifies
    # (ppm/png/png_pal/gif/bmp/jpeg-flat/jpeg-progressive); the Spark side
    # must SNIFF the magic — decode_image is never told the choice
    """
    WITH sel AS MATERIALIZED (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5(text), 16, 1)) AS INT) % 7 AS f
      FROM documents
    ),
    p0 AS (
      SELECT doc_id, 'ppm' AS format, CAST(MIN(w) AS INT) AS w,
             CAST(MIN(h) AS INT) AS h, CAST(3 AS INT) AS channels,
             CAST(SUM((7 * x + 13 * y + 31 * c + s) % 256) AS BIGINT) AS checksum
      FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS s,
                   CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 16 + 8 AS w,
                   CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 16 + 8 AS h
            FROM sel WHERE f = 0) b,
           LATERAL (SELECT unnest(range(0, w)) AS x) xs,
           LATERAL (SELECT unnest(range(0, h)) AS y) ys,
           LATERAL (SELECT unnest(range(0, 3)) AS c) cs
      GROUP BY doc_id
    ),
    p1 AS (
      SELECT doc_id, 'png' AS format, CAST(MIN(w) AS INT) AS w,
             CAST(MIN(h) AS INT) AS h, CAST(4 AS INT) AS channels,
             CAST(SUM((7 * x + 13 * y + 31 * c + s) % 256) AS BIGINT) AS checksum
      FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS s,
                   CAST(('0x' || substr(md5(text), 9, 2)) AS INT) % 16 + 8 AS w,
                   CAST(('0x' || substr(md5(text), 11, 2)) AS INT) % 16 + 8 AS h
            FROM sel WHERE f = 1) b,
           LATERAL (SELECT unnest(range(0, w)) AS x) xs,
           LATERAL (SELECT unnest(range(0, h)) AS y) ys,
           LATERAL (SELECT unnest(range(0, 4)) AS c) cs
      GROUP BY doc_id
    ),
    p2 AS (
      SELECT doc_id, 'png' AS format, CAST(MIN(w) AS INT) AS w,
             CAST(MIN(h) AS INT) AS h, CAST(3 AS INT) AS channels,
             CAST(SUM((11 * ((3 * x + 5 * y + s) % 256) + 17 * c + s) % 256)
                  AS BIGINT) AS checksum
      FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 13, 2)) AS INT) AS s,
                   CAST(('0x' || substr(md5(text), 15, 2)) AS INT) % 16 + 8 AS w,
                   CAST(('0x' || substr(md5(text), 17, 2)) AS INT) % 16 + 8 AS h
            FROM sel WHERE f = 2) b,
           LATERAL (SELECT unnest(range(0, w)) AS x) xs,
           LATERAL (SELECT unnest(range(0, h)) AS y) ys,
           LATERAL (SELECT unnest(range(0, 3)) AS c) cs
      GROUP BY doc_id
    ),
    p3 AS (
      SELECT doc_id, 'gif' AS format, CAST(MIN(w) AS INT) AS w,
             CAST(MIN(h) AS INT) AS h, CAST(3 AS INT) AS channels,
             CAST(SUM((11 * ((3 * x + 5 * y + s) % 256) + 17 * c + s) % 256)
                  AS BIGINT) AS checksum
      FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 19, 2)) AS INT) AS s,
                   CAST(('0x' || substr(md5(text), 21, 2)) AS INT) % 16 + 8 AS w,
                   CAST(('0x' || substr(md5(text), 23, 2)) AS INT) % 16 + 8 AS h
            FROM sel WHERE f = 3) b,
           LATERAL (SELECT unnest(range(0, w)) AS x) xs,
           LATERAL (SELECT unnest(range(0, h)) AS y) ys,
           LATERAL (SELECT unnest(range(0, 3)) AS c) cs
      GROUP BY doc_id
    ),
    p4 AS (
      SELECT doc_id, 'bmp' AS format, CAST(MIN(w) AS INT) AS w,
             CAST(MIN(h) AS INT) AS h, CAST(3 AS INT) AS channels,
             CAST(SUM((7 * x + 13 * y + 31 * c + s) % 256) AS BIGINT) AS checksum
      FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 30, 2)) AS INT) AS s,
                   CAST(('0x' || substr(md5(text), 32, 1)) AS INT) % 12 + 6 AS w,
                   CAST(('0x' || substr(md5(text), 1, 1)) AS INT) % 12 + 6 AS h
            FROM sel WHERE f = 4) b,
           LATERAL (SELECT unnest(range(0, w)) AS x) xs,
           LATERAL (SELECT unnest(range(0, h)) AS y) ys,
           LATERAL (SELECT unnest(range(0, 3)) AS c) cs
      GROUP BY doc_id
    ),
    p5 AS (
      SELECT doc_id, 'jpeg' AS format, CAST(MIN(bw) * 8 AS INT) AS w,
             CAST(MIN(bh) * 8 AS INT) AS h, CAST(1 AS INT) AS channels,
             CAST(SUM(64 * (2 * ((7 * x + 13 * y + s) % 128))) AS BIGINT)
                 AS checksum
      FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 20, 2)) AS INT) AS s,
                   CAST(('0x' || substr(md5(text), 22, 2)) AS INT) % 3 + 1 AS bw,
                   CAST(('0x' || substr(md5(text), 24, 2)) AS INT) % 3 + 1 AS bh
            FROM sel WHERE f = 5) b,
           LATERAL (SELECT unnest(range(0, bw)) AS x) xs,
           LATERAL (SELECT unnest(range(0, bh)) AS y) ys
      GROUP BY doc_id
    ),
    p6 AS (
      SELECT doc_id, 'jpeg' AS format, CAST(MIN(mw) * 16 AS INT) AS w,
             CAST(MIN(mh) * 16 AS INT) AS h, CAST(3 AS INT) AS channels,
             CAST(SUM(3 * 64 * (2 * ((7 * x + 13 * y + s) % 128))) AS BIGINT)
                 AS checksum
      FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 10, 2)) AS INT) AS s,
                   CAST(('0x' || substr(md5(text), 12, 2)) AS INT) % 2 + 1 AS mw,
                   CAST(('0x' || substr(md5(text), 14, 2)) AS INT) % 2 + 1 AS mh
            FROM sel WHERE f = 6) b,
           LATERAL (SELECT unnest(range(0, 2 * mw)) AS x) xs,
           LATERAL (SELECT unnest(range(0, 2 * mh)) AS y) ys
      GROUP BY doc_id
    )
    SELECT * FROM p0 UNION ALL SELECT * FROM p1 UNION ALL SELECT * FROM p2
    UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
    UNION ALL SELECT * FROM p5 UNION ALL SELECT * FROM p6
    """,
)
def q_image_autodecode(spark, sf):
    """MIXED-FORMAT INGESTION — the dispatcher gate: a real crawl corpus
    doesn't label its bytes, so per doc an md5 nibble secretly picks one
    of SEVEN synthesizers (PPM, RGBA PNG, palette PNG, GIF, BMP,
    grayscale baseline JPEG, progressive 4:2:0 color JPEG) and
    ``decode_image`` must SNIFF the magic and run the right from-spec
    decoder end-to-end.  Every branch reuses the closed form its
    dedicated gate already verifies, so a dispatch mistake (or any
    decoder regression) breaks the per-doc checksum.  Per-row CPU, no
    shuffle — the ``png_pipeline`` contract."""
    from .operators.multimodal import image_autodecode_pipeline

    return image_autodecode_pipeline(t(spark, sf, "documents", spread=True))


def _q_jpeg_prog_oracle():
    # same geometry + checksum closed form as jpeg_subsampled_pixels
    # (the fixture shares synth_jpeg_subsampled's md5 fields), single
    # row per doc
    return """
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 10, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 12, 2)) AS INT) % 2 + 1 AS mw,
             CAST(('0x' || substr(md5(text), 14, 2)) AS INT) % 2 + 1 AS mh
      FROM documents
    ),
    bx AS (SELECT *, unnest(range(0, 2 * mw)) AS x FROM b),
    bxy AS (SELECT *, unnest(range(0, 2 * mh)) AS y FROM bx)
    SELECT doc_id,
           CAST(MIN(mw) * 16 AS INT) AS w, CAST(MIN(mh) * 16 AS INT) AS h,
           CAST(3 AS INT) AS channels,
           CAST(SUM(3 * 64 * (2 * ((7 * x + 13 * y + s) % 128))) AS BIGINT)
               AS checksum
    FROM bxy GROUP BY doc_id
    """


@query("jpeg_progressive_pixels", _q_jpeg_prog_oracle())
def q_jpeg_progressive_pixels(spark, sf):
    """PROGRESSIVE (SOF2) JPEG decode gate — the last JPEG layout class
    the r9 VERDICT left refused: per doc, synthesize a real progressive
    color 4:2:0 JPEG through the full libjpeg-style scan script (DC
    first at Al=1, split-band luma AC, chroma AC, AC refinement passes
    with correction bits, a DC refinement bit-plane, EOBRUN coding,
    restart intervals) and fully decode it — multi-scan coefficient
    accumulation per T.81 G.1.2/G.2, then one dequant+IDCT.  The flat
    gray fixture keeps it exactly invertible; the general paths are
    pinned by tests/test_jpeg_progressive.py's bit-identity property
    (progressive decode == baseline decode of the SAME image, every
    config).  Same embarrassingly-parallel scan shape as
    ``png_pixels``."""
    from .operators.jpeg import decode_jpeg, synth_jpeg_progressive
    from .operators.multimodal import png_pipeline

    return png_pipeline(
        t(spark, sf, "documents", spread=True),
        synth=synth_jpeg_progressive,
        decode=decode_jpeg,
    )



@query(
    "jpeg_subsampled_pixels",
    # the flat-block oracle trick extended to subsampled color (see
    # synth_jpeg_subsampled): gray flat 8x8 luma blocks with even values
    # keep luma DC an exact multiple of its quantization step and pin
    # both chroma planes at exactly 128, so 4:2:0 and 4:2:2 baseline
    # JPEG — restart intervals included — becomes exactly invertible.
    # s/mw/mh from md5 hex nibbles 10-11/12-13/14-15; the luma block
    # grid is 2mw x 2mh with v = 2*((7bx+13by+s)%128); both variants
    # decode the same 16mw x 16mh RGB grid, checksum = sum 3*64*v.
    """
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 10, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 12, 2)) AS INT) % 2 + 1 AS mw,
             CAST(('0x' || substr(md5(text), 14, 2)) AS INT) % 2 + 1 AS mh
      FROM documents
    ),
    bx AS (SELECT *, unnest(range(0, 2 * mw)) AS x FROM b),
    bxy AS (SELECT *, unnest(range(0, 2 * mh)) AS y FROM bx),
    per_doc AS (
      SELECT doc_id,
             CAST(MIN(mw) * 16 AS INT) AS w, CAST(MIN(mh) * 16 AS INT) AS h,
             CAST(3 AS INT) AS channels,
             CAST(SUM(3 * 64 * (2 * ((7 * x + 13 * y + s) % 128))) AS BIGINT)
                 AS checksum
      FROM bxy GROUP BY doc_id
    )
    SELECT doc_id, variant, w, h, channels, checksum
    FROM per_doc, (SELECT unnest(['420', '422']) AS variant)
    """,
)
def q_jpeg_subsampled_pixels(spark, sf):
    """Subsampled + restart-interval JPEG decode gate — the r9 VERDICT's
    top gap (real web JPEGs are overwhelmingly 4:2:0/4:2:2, often with
    restart markers; the baseline-4:4:4-only decoder covered a
    minority): per doc, synthesize a color baseline JPEG at BOTH 4:2:0
    and 4:2:2 with a restart interval, and fully decode — MCU
    de-interleaving over sampling factors, RSTn resync with DC resets,
    chroma upsampling, YCbCr→RGB.  The gray flat-block fixture makes
    the layout exactly invertible (see the oracle comment); lossy
    general paths are pinned by tests/test_jpeg_subsampling.py.  Same
    embarrassingly-parallel scan shape as ``png_pixels``."""
    from .operators.multimodal import jpeg_subsampled_pipeline

    return jpeg_subsampled_pipeline(t(spark, sf, "documents", spread=True))


@query(
    "bmp_pixels",
    # synth_png's pixel formula on the BMP container (s/w/h from md5 hex
    # nibbles 30-31 / 32 / 1): the Spark side must strip per-row 4-byte
    # padding, reverse the bottom-up row order, and swap BGR back to RGB
    # to reproduce the closed-form checksum
    """
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 30, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 32, 1)) AS INT) % 12 + 6 AS w,
             CAST(('0x' || substr(md5(text), 1, 1)) AS INT) % 12 + 6 AS h
      FROM documents
    ),
    px AS (SELECT doc_id, s, w, h, unnest(range(0, w)) AS x FROM b),
    pxy AS (SELECT *, unnest(range(0, h)) AS y FROM px),
    pxyc AS (SELECT *, unnest(range(0, 3)) AS c FROM pxy)
    SELECT doc_id, CAST(MIN(w) AS INT) AS w, CAST(MIN(h) AS INT) AS h,
           CAST(3 AS INT) AS channels,
           CAST(SUM((7 * x + 13 * y + 31 * c + s) % 256) AS BIGINT)
               AS checksum
    FROM pxyc GROUP BY doc_id
    """,
)
def q_bmp_pixels(spark, sf):
    """Full BMP pixel decode gate (the header already parsed; now the
    pixels do too): per doc, synthesize a real 24-bit BMP — bottom-up
    BGR rows, 4-byte padding — and decode it back, checksumming the RGB
    pixels against the closed-form oracle.  A decoder that forgets the
    padding, the row order, or the channel swap breaks the hash.  Same
    embarrassingly-parallel scan shape as ``png_pixels``."""
    from .operators.multimodal import decode_bmp, png_pipeline, synth_bmp

    return png_pipeline(
        t(spark, sf, "documents", spread=True),
        synth=synth_bmp,
        decode=decode_bmp,
    )


@query(
    "g711_roundtrip",
    # G.711 companding is pure integer quantization, so decode(encode(x))
    # has a closed form: mu-law m = min(|x|,32635)+132, segment by
    # threshold, mantissa 4 bits, decode (mant*8+132)<<seg - 132; A-law
    # is canonical per g711.c linear2alaw (ADVICE r9): 13-bit domain
    # p13 = pcm >> 3 (floor), negatives one's-complement m = -p13-1,
    # segment by 13-bit thresholds (seg 0 = two linear chords, mant
    # step >>1), decode seg 0 -> mant*16+8, else (mant*16+264)<<(seg-1).
    # PCM samples are the md5 closed form
    # sample(i) = (s*4093 + i*3797) % 65536 - 32768, s/n from hex
    # nibbles 26-27/28-29.
    """
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 26, 2)) AS INT) AS s,
             CAST(('0x' || substr(md5(text), 28, 2)) AS INT) % 64 + 32 AS n
      FROM documents
    ),
    sm AS (
      SELECT doc_id, n, ((s * 4093 + i * 3797) % 65536 - 32768) AS pcm
      FROM (SELECT *, unnest(range(0, n)) AS i FROM b)
    ),
    seg AS (
      SELECT doc_id, n, pcm,
             least(abs(pcm), 32635) + 132 AS um,
             CASE WHEN pcm >= 0 THEN CAST(floor(pcm / 8.0) AS BIGINT)
                  ELSE -CAST(floor(pcm / 8.0) AS BIGINT) - 1 END AS am
      FROM sm
    ),
    q AS (
      SELECT doc_id, n, pcm, um, am,
             CASE WHEN um < 256 THEN 0 WHEN um < 512 THEN 1
                  WHEN um < 1024 THEN 2 WHEN um < 2048 THEN 3
                  WHEN um < 4096 THEN 4 WHEN um < 8192 THEN 5
                  WHEN um < 16384 THEN 6 ELSE 7 END AS useg,
             CASE WHEN am < 32 THEN 0 WHEN am < 64 THEN 1
                  WHEN am < 128 THEN 2 WHEN am < 256 THEN 3
                  WHEN am < 512 THEN 4 WHEN am < 1024 THEN 5
                  WHEN am < 2048 THEN 6 ELSE 7 END AS aseg
      FROM seg
    ),
    d AS (
      SELECT doc_id, n,
             (CASE WHEN pcm < 0 THEN -1 ELSE 1 END) *
             (((um // (8 * (1 << useg))) % 16) * 8 + 132) * (1 << useg)
               - (CASE WHEN pcm < 0 THEN -132 ELSE 132 END) AS udec,
             (CASE WHEN pcm >= 0 THEN 1 ELSE -1 END) *
             (CASE WHEN aseg = 0 THEN ((am // 2) % 16) * 16 + 8
                   ELSE ((am // (1 << aseg)) % 16) * 16 * (1 << (aseg - 1))
                        + 264 * (1 << (aseg - 1)) END) AS adec
      FROM q
    )
    SELECT doc_id, CAST(MIN(n) AS INT) AS n_samples,
           CAST(SUM(udec) AS BIGINT) AS ulaw_sum,
           CAST(SUM(adec) AS BIGINT) AS alaw_sum
    FROM d GROUP BY doc_id
    """,
)
def q_g711_roundtrip(spark, sf):
    """REAL audio codec gate: per doc, closed-form int16 PCM compressed
    and expanded through BOTH ITU-T G.711 laws (mu-law: bias-132
    segment/mantissa quantization with complemented code bytes; A-law:
    linear chord 0 + XOR 0x55) — the telephony wire format every speech
    corpus pipeline ingests.  The companding is pure integer math, so
    the oracle predicts every decoded sample; the Spark side runs the
    actual byte-level encoders and decoders.  Per-row map work, no
    shuffle (the png_pipeline contract)."""
    from .operators.multimodal import g711_pipeline

    return g711_pipeline(t(spark, sf, "documents", spread=True))


@query(
    "sample_frames",
    """
    SELECT event_id, CAST(f AS INT) AS frame_idx, CAST(f * 500 AS BIGINT) AS t_ms
    FROM (SELECT event_id, unnest(range(0, CAST(trunc((value % 10) * 2) AS BIGINT))) AS f
          FROM events)
    """,
)
def q_sample_frames(spark, sf):
    from .operators.multimodal import sample_frames

    ev = t(spark, sf, "events").withColumn("dur", F.col("value") % 10)
    out = sample_frames.apply(
        ev.withColumn("fps", F.lit(2)), cols=["dur", "fps"], passthrough=["event_id"]
    )
    return out.select(
        "event_id",
        F.col("sample_frames.frame_idx").alias("frame_idx"),
        F.col("sample_frames.t_ms").alias("t_ms"),
    )


# ---------------------------------------------------------------------------
# relational carriers (§2.C): Spark built-ins hosting framework UDFs
# ---------------------------------------------------------------------------


@query(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_base_price_cents,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
           floor(CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / (100.0 * COUNT(*)) * 1e6 + 0.5) / 1e6 AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark, sf):
    # Exact-cent BIGINT math on both engines (TPC-H money is 2-dp by spec);
    # decimal SUM widening differs between Spark (38,2→28,2) and DuckDB
    # (→38,2/HUGEINT) and fails the driver's exact value hash.  avg_disc is an
    # integer-percent sum divided once — a single deterministic IEEE division —
    # then portable-rounded with floor(x*1e6+0.5)/1e6 (engines disagree on
    # round() midpoints).
    li = t(spark, sf, "lineitem")
    price_cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc_price_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    disc_pct = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(price_cents).alias("sum_base_price_cents"),
            F.sum(disc_price_cents).alias("sum_disc_price_cents"),
            F.sum(disc_pct).alias("disc_pct_sum"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price_cents",
            "sum_disc_price_cents",
            (
                F.floor(
                    F.col("disc_pct_sum").cast("double")
                    / (100.0 * F.col("count_order"))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("avg_disc"),
            "count_order",
        )
    )


@query(
    "join_with_udf",
    """
    SELECT n_name, COUNT(*) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    WHERE strlen(c_name) % 2 = 0
    GROUP BY n_name
    """,
)
def q_join_with_udf(spark, sf):
    cust = t(spark, sf, "customer")
    nat = t(spark, sf, "nation")
    orders = t(spark, sf, "orders")
    return (
        cust.where(C.length("c_name").cast("long") % 2 == 0)
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "window_topk_orders",
    """
    SELECT o_custkey, o_orderkey, rk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
    WHERE rk <= 3
    """,
)
def q_window_topk(spark, sf):
    from pyspark.sql import Window

    o = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


@query(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf):
    # BIGINT sum on both engines (decimal widening renders differently under
    # the exact hash); grouping_id() disambiguates NULL-valued rollup rows
    # from genuine NULL group keys.
    li = t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.grouping_id().cast("long").alias("gid"),
    )


@query(
    "set_ops",
    """
    SELECT c_custkey AS k FROM customer
    INTERSECT
    SELECT o_custkey AS k FROM orders
    """,
)
def q_set_ops(spark, sf):
    cust = t(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    orders = t(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    return cust.intersect(orders)


@query(
    "count_udaf",
    """
    SELECT event_type, COUNT(user_id) AS count_udaf FROM events GROUP BY event_type
    """,
)
def q_count_udaf(spark, sf):
    ev = t(spark, sf, "events")
    return C.CountAgg.agg(ev, by=["event_type"], args=["user_id"])


# ---------------------------------------------------------------------------
# §2.B remaining corpus: gcd3, maps, struct→json, json concat, decimals,
# binary builders, array identity, server split UDTF
# ---------------------------------------------------------------------------


@query(
    "gcd3_fn",
    """
    SELECT l_orderkey, l_linenumber,
           gcd(gcd(l_partkey, l_suppkey), l_linenumber) AS g
    FROM lineitem
    """,
)
def q_gcd3(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        C.gcd3(
            F.col("l_partkey").cast("int"),
            F.col("l_suppkey").cast("int"),
            F.col("l_linenumber").cast("int"),
        ).cast("long").alias("g"),
    )


@query(
    "map_fn",
    """
    SELECT p_partkey, CAST(p_partkey % 100 AS BIGINT) AS v FROM part
    """,
)
def q_map_fn(spark, sf):
    # make_map builds map<string,int> from parallel arrays; map_access reads
    # a key back out (reference map arg & return, tests/python.rs:387-488)
    p = t(spark, sf, "part")
    m = C.make_map(
        F.array(F.lit("a"), F.lit("b")),
        F.array(
            F.col("p_size").cast("int"), (F.col("p_partkey") % 100).cast("int")
        ),
    )
    return p.select("p_partkey", C.map_access(m, F.lit("b")).cast("long").alias("v"))


@query(
    "struct_to_json_fn",
    """
    SELECT p_partkey,
           '{"key":"brand","value":"' || p_brand || '"}' AS j
    FROM part
    """,
)
def q_struct_to_json(spark, sf):
    p = t(spark, sf, "part")
    kv = C.key_value(F.concat(F.lit("brand="), "p_brand"))
    return p.select("p_partkey", C.struct_to_json(kv).alias("j"))


@query(
    "json_concat_fn",
    """
    SELECT l_orderkey, l_linenumber,
           '[1,2,' || l_linenumber || ']' AS j
    FROM lineitem
    """,
)
def q_json_concat(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        C.json_concat(
            F.lit("[1,2]"),
            F.concat(F.lit("["), F.col("l_linenumber").cast("string"), F.lit("]")),
        ).alias("j"),
    )


@query(
    "float_to_decimal_fn",
    """
    SELECT o_orderkey, CAST(o_totalprice AS VARCHAR) AS d FROM orders
    """,
)
def q_float_to_decimal(spark, sf):
    # Decimal(str(x)) keeps the shortest round-trip text of the double;
    # DuckDB's double->VARCHAR cast is the same shortest-round-trip form
    o = t(spark, sf, "orders")
    return o.select("o_orderkey", C.float_to_decimal("o_totalprice").alias("d"))


@query(
    "binary_fns",
    """
    SELECT p_partkey,
           repeat('00', p_partkey % 8) AS hex,
           CAST(strlen(p_name) AS BIGINT) AS blen
    FROM part
    """,
)
def q_binary_fns(spark, sf):
    # bytes(n) -> n zero bytes (reference bytes1..3); length(binary) counts
    # octets on both engines (ASCII corpus)
    p = t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.hex(C.bytes_fn((F.col("p_partkey") % 8).cast("int"))).alias("hex"),
        C.length_bin(F.col("p_name").cast("binary")).cast("long").alias("blen"),
    )


@query(
    "array_identity_fn",
    """
    SELECT p_partkey,
           CAST(p_size AS VARCHAR) || ',' || CAST(p_partkey % 60 AS VARCHAR) AS arr
    FROM part
    """,
)
def q_array_identity(spark, sf):
    p = t(spark, sf, "part")
    arr = C.array_identity(
        F.array(F.col("p_size").cast("int"), (F.col("p_partkey") % 60).cast("int"))
    )
    return p.select(
        "p_partkey", F.array_join(arr, ",").alias("arr")
    )


@query(
    "split_words_udtf",
    """
    SELECT doc_id, word, CAST(length(word) AS INT) AS length
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    )
    """,
)
def q_split_words(spark, sf):
    d = t(spark, sf, "documents", spread=True)
    out = C.split_words.apply(d, cols=["text"], passthrough=["doc_id"])
    return out.select(
        "doc_id",
        F.col("split_words").getField("word").alias("word"),
        F.col("split_words").getField("length").alias("length"),
    )


# ---------------------------------------------------------------------------
# temporal operators (asof join / sessionize / range join) — §2.C extensions
# ---------------------------------------------------------------------------


@query(
    "asof_join",
    """
    SELECT e.event_id, p.day_price AS day_price
    FROM events e
    ASOF LEFT JOIN (
        SELECT o_custkey, o_orderdate,
               max(o_totalprice) AS day_price
        FROM orders GROUP BY o_custkey, o_orderdate
    ) p ON e.user_id = p.o_custkey AND CAST(e.ts AS DATE) >= p.o_orderdate
    """,
)
def q_asof_join(spark, sf):
    from arrow_udf_spark.operators.temporal import asof_join

    ev = t(spark, sf, "events").select(
        "event_id",
        "user_id",
        # micros-since-epoch to days-since-epoch for the date-grain asof
        F.expr("us DIV 86400000000").alias("d"),
    )
    orders = (
        t(spark, sf, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.datediff("o_orderdate", F.lit("1970-01-01")).alias("d"),
        )
        .agg(F.max("o_totalprice").alias("day_price"))
    )
    out = asof_join(ev, orders, on="d", by="user_id", right_cols=["day_price"])
    return out.select("event_id", "day_price")


@query(
    "asof_join_forward",
    """
    SELECT e.event_id, p.day_price AS day_price
    FROM events e
    ASOF LEFT JOIN (
        SELECT o_custkey, o_orderdate,
               max(o_totalprice) AS day_price
        FROM orders GROUP BY o_custkey, o_orderdate
    ) p ON e.user_id = p.o_custkey AND CAST(e.ts AS DATE) <= p.o_orderdate
    """,
)
def q_asof_join_forward(spark, sf):
    """The forward direction asof_join cannot express: each event picks
    the user's NEXT order-day price at-or-after the event (the
    "next restock / next quote" lookup).  Same one-shuffle union-window
    plan, mirrored frame; the oracle is DuckDB's native forward ASOF
    (the <= comparison flips the direction)."""
    from arrow_udf_spark.operators.temporal import asof_join_forward

    ev = t(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.expr("us DIV 86400000000").alias("d"),
    )
    orders = (
        t(spark, sf, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.datediff("o_orderdate", F.lit("1970-01-01")).alias("d"),
        )
        .agg(F.max("o_totalprice").alias("day_price"))
    )
    out = asof_join_forward(
        ev, orders, on="d", by="user_id", right_cols=["day_price"]
    )
    return out.select("event_id", "day_price")


@query(
    "sessionize",
    """
    SELECT event_id, user_id, session_id FROM (
        SELECT event_id, user_id,
               CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 3600000000
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        FROM (
            SELECT event_id, user_id, epoch_us(ts) AS us,
                   LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY epoch_us(ts), event_id)
                       AS prev_us
            FROM events
        )
    )
    """,
)
def q_sessionize(spark, sf):
    from arrow_udf_spark.operators.temporal import sessionize

    ev = t(spark, sf, "events").select("event_id", "user_id", "us")
    out = sessionize(
        ev, key="user_id", ts="us", gap=3_600_000_000, order_tiebreak="event_id"
    )
    return out.select("event_id", "user_id", "session_id")


@query(
    "range_join_count",
    """
    SELECT e.event_id, COUNT(f.event_id) AS n_follow
    FROM events e
    LEFT JOIN events f
      ON e.user_id = f.user_id
     AND epoch_us(f.ts) > epoch_us(e.ts)
     AND epoch_us(f.ts) <= epoch_us(e.ts) + 3600000000
    GROUP BY e.event_id
    """,
)
def q_range_join(spark, sf):
    from arrow_udf_spark.operators.temporal import range_join

    ev = t(spark, sf, "events").select("event_id", "user_id", "us")
    lhs = ev.select(
        F.col("event_id"), F.col("user_id"), F.col("us").alias("l_us")
    )
    rhs = ev.select(
        F.col("event_id").alias("f_id"), F.col("user_id"), F.col("us").alias("r_us")
    )
    pairs = range_join(
        lhs, rhs, key="user_id", left_ts="l_us", right_ts="r_us",
        lower=1, upper=3_600_000_000,
    )
    counts = pairs.groupBy("event_id").agg(F.count("f_id").alias("n_follow"))
    # left semantics: events with no follower still appear with count 0
    return (
        ev.select("event_id")
        .join(counts, "event_id", "left")
        .select("event_id", F.coalesce("n_follow", F.lit(0)).alias("n_follow"))
    )


@query(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("string").alias("sum_qty")
    )


@query(
    "grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q_grouping_sets(spark, sf):
    li = t(spark, sf, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem_gs GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@query(
    "streaming_enrich_join",
    """
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS VARCHAR) AS total
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_streaming_enrich(spark, sf):
    """Stream-static enrichment join (SURVEY §2.C streaming row): the
    events stream joins a broadcast static customer dimension per
    micro-batch — the standard streaming-ETL enrichment shape.  At scale
    the dim broadcast is paid once per executor per batch and the stream
    never shuffles for the join; the aggregate is the only stateful op.
    Result must equal the equivalent batch join+agg (the oracle)."""
    import tempfile
    import uuid

    ev = t(spark, sf, "events").select(
        "user_id", F.col("value").cast("decimal(18,2)").alias("value")
    )
    cust = t(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    d = tempfile.mkdtemp(prefix="stream_ej_")
    ev.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(ev.schema).parquet(d)
    joined = stream.join(F.broadcast(cust), "user_id")
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )
    sink = f"stream_ej_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(
        f"""
        SELECT segment, n,
               CAST(CAST(total AS DECIMAL(18,2)) AS STRING) AS total
        FROM {sink}
        """
    )


@query(
    "streaming_window_agg",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
               AS win_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS VARCHAR) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def q_streaming_window_agg(spark, sf):
    """Structured Streaming carrier (SURVEY §2.C streaming row): the events
    table replayed as a file stream, tumbling 1-hour event-time windows,
    emitted complete via availableNow — result must equal the batch oracle.
    """
    import tempfile
    import uuid

    from arrow_udf_spark.streaming.stateful import windowed_agg

    ev = t(spark, sf, "events").select(
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("value"),
        F.col("ts").alias("ts2"),
    )
    d = tempfile.mkdtemp(prefix="stream_q_")
    ev.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(ev.schema).parquet(d)
    out = windowed_agg(
        stream,
        "ts2",
        "1 hour",
        {"n": "count(1)", "total": "sum(value)"},
        by=["event_type"],
    )
    sink = f"stream_q_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(
        f"""
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS win_start,
               event_type, n,
               CAST(CAST(total AS DECIMAL(18,2)) AS STRING) AS total
        FROM {sink}
        """
    )


@query(
    "streaming_dedup_digests",
    """
    SELECT DISTINCT md5(text) AS h FROM documents
    """,
)
def q_streaming_dedup(spark, sf):
    """Streaming exact-dedup carrier: documents replayed as a file stream
    through ``streaming_dedup`` (state-store digest set, dropDuplicates),
    emitted via availableNow.  The surviving DISTINCT digest set is
    deterministic even though which duplicate row wins is not — so the
    digest set is what the batch oracle checks."""
    import tempfile
    import uuid

    from arrow_udf_spark.streaming.stateful import streaming_dedup

    docs = t(spark, sf, "documents").select("doc_id", "text")
    d = tempfile.mkdtemp(prefix="stream_dd_")
    docs.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(docs.schema).parquet(d)
    out = streaming_dedup(stream, "text").select(F.md5("text").alias("h"))
    sink = f"stream_dd_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT h FROM {sink}")


@query(
    "streaming_curation_filter",
    # the batch curation selection (quality -> mix -> DSIR, the capstone's
    # first three stages) as the oracle: the stream must admit EXACTLY the
    # docs the batch pipeline selects
    f"""
    WITH scored AS (
      SELECT doc_id, lang, text, {_QUALITY_EXPR} AS q
      FROM documents
    ),
    kept AS (SELECT * FROM scored WHERE q >= 0.5),
    n AS (SELECT lang, COUNT(*) AS ns FROM kept GROUP BY lang),
    mq AS (SELECT lang, (SELECT MIN(ns) FROM n) * 1.0 / ns AS r FROM n),
    mixed AS (
      SELECT k.doc_id, k.lang, k.text FROM (
        SELECT *, CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                       1, 8)) AS BIGINT) / 4294967296.0 AS f
        FROM kept) k JOIN mq USING (lang)
      WHERE k.f * k.f < mq.r
    ),
    toks AS (SELECT doc_id, lang,
                    regexp_split_to_array(trim(text), '\\s+') AS ts
             FROM mixed),
    rawg AS (
      SELECT doc_id, unnest(list_transform(range(2, len(ts) + 1),
             i -> ts[i-1] || ' ' || ts[i])) AS g
      FROM toks WHERE len(ts) >= 2
    ),
    rb AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 64 AS b
           FROM rawg),
    tb AS (SELECT CAST(('0x' || substr(md5(r.g), 1, 8)) AS BIGINT) % 64 AS b
           FROM (SELECT t.doc_id, unnest(list_transform(
                        range(2, len(t.ts) + 1),
                        i -> t.ts[i-1] || ' ' || t.ts[i])) AS g
                 FROM toks t WHERE t.lang = 'en' AND len(t.ts) >= 2) r),
    cr AS (SELECT b, COUNT(*) AS cr FROM rb GROUP BY b),
    ct AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM rb) AS tr,
                   (SELECT COUNT(*) FROM tb) AS tt),
    p AS (SELECT cr.b,
                 ln((CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                     * CAST(tot.tr + 64 AS DOUBLE))
                    / (CAST(cr.cr + 1 AS DOUBLE)
                       * CAST(tot.tt + 64 AS DOUBLE))) AS term
          FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot),
    wts AS (SELECT rb.doc_id, floor(SUM(p.term) * 1e6 + 0.5) / 1e6 AS logw
            FROM rb JOIN p USING (b) GROUP BY rb.doc_id)
    SELECT m.doc_id, m.lang, w.logw
    FROM mixed m JOIN wts w USING (doc_id) WHERE w.logw >= 0.0
    """,
)
def q_streaming_curation_filter(spark, sf):
    """CURATION AS INCREMENTAL INGESTION: the capstone's selection stages
    (quality gate → temperature mix → DSIR) applied to a DOCUMENT STREAM.
    The key design point: every decision is per-row map work once the
    model is trained — the mix thresholds (≤|langs| doubles) and the
    DSIR bucket table (64 ln-ratio terms, ``dsir_term_table``) are
    broadcast literals, and the per-doc weight is a FOLD over the row's
    own bigram array (no explode, no aggregation) — so the stream runs
    in append mode with ZERO state store.  At 100 TB/day this is the
    shape you want: train the model on yesterday's corpus, filter
    today's firehose statelessly.  Gate: the stream must admit exactly
    the docs the batch pipeline selects (same oracle CTEs)."""
    import tempfile
    import uuid

    from .operators.sampling import dsir_term_table, temperature_mix
    from .operators.text import quality_score, token_hash, tokens

    docs = t(spark, sf, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    # ---- train the model batch-side (yesterday's corpus) ----
    kept = docs.where(
        quality_score(F.col("text"), F.col("n_chars")) >= 0.5
    )
    counts = {
        r["lang"]: r["c"]
        for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n_min = min(counts.values())
    thresholds = {lg: float(n_min) / float(c) for lg, c in counts.items()}
    mixed = temperature_mix(kept, source_col="lang", alpha=0.5)
    terms = dsir_term_table(mixed, mixed.where(F.col("lang") == "en"))
    thr_map = F.create_map(
        *[x for lg, r in sorted(thresholds.items()) for x in (F.lit(lg), F.lit(r))]
    )
    term_map = F.create_map(
        *[x for b, v in sorted(terms.items()) for x in (F.lit(b), F.lit(v))]
    )
    # ---- replay the corpus as a stream and filter it statelessly ----
    d = tempfile.mkdtemp(prefix="stream_cur_")
    docs.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(docs.schema).parquet(d)
    toks = tokens(F.col("text"))
    frac = (
        F.conv(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))).substr(1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    bigrams = F.when(
        F.size(F.col("__t")) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(F.col("__t"))),
            lambda i: F.concat(
                F.element_at(F.col("__t"), i - 1),
                F.lit(" "),
                F.element_at(F.col("__t"), i),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    logw_raw = F.aggregate(
        F.col("__bg"),
        F.lit(0.0),
        lambda acc, g: acc
        + F.element_at(term_map, (token_hash(g) % 64).cast("int")),
    )
    out = (
        stream.where(
            quality_score(F.col("text"), F.col("n_chars")) >= 0.5
        )
        .where((frac * frac) < F.element_at(thr_map, F.col("lang")))
        .withColumn("__t", toks)
        .withColumn("__bg", bigrams)
        .where(F.size(F.col("__bg")) >= 1)
        .withColumn(
            "logw", F.floor(logw_raw * 1e6 + F.lit(0.5)) / 1e6
        )
        .where(F.col("logw") >= 0.0)
        .select("doc_id", "lang", "logw")
    )
    sink = f"stream_cur_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT doc_id, lang, logw FROM {sink}")


@query(
    "streaming_interval_join",
    """
    SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id AS user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    """,
)
def q_streaming_interval_join(spark, sf):
    """Stream-stream inner join with an event-time range (Structured
    Streaming's flagship stateful join): clicks and purchases replay as
    TWO separate file streams (two files each, ``maxFilesPerTrigger=1``,
    so matches must cross micro-batch boundaries through buffered state),
    joined on user within a 6-hour window.  The watermark + time bound cap
    both sides' state at O(interval + delay) — at 100 TB/day this is the
    only join shape whose state does not grow with the stream.  Result
    must equal the equivalent batch interval join (the oracle)."""
    import tempfile
    import uuid

    from arrow_udf_spark.streaming.stateful import stream_interval_join

    ev = t(spark, sf, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.where("event_type = 'click'").select("event_id", "user_id", "ts")
    purch = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    d1 = tempfile.mkdtemp(prefix="stream_ij_l_")
    d2 = tempfile.mkdtemp(prefix="stream_ij_r_")
    # time-ranged 2-file split per side: each trigger ingests one file, so
    # early left rows must wait in state for right rows of a later batch
    clicks.repartitionByRange(2, "ts").write.mode("overwrite").parquet(d1)
    purch.repartitionByRange(2, "p_ts").write.mode("overwrite").parquet(d2)
    s1 = spark.readStream.schema(clicks.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(d1)
    s2 = spark.readStream.schema(purch.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(d2)
    joined = stream_interval_join(
        s1,
        s2,
        "ts",
        "p_ts",
        "user_id = p_user AND p_ts >= ts AND p_ts <= ts + INTERVAL 6 HOURS",
        delay="1 hour",
    )
    sink = f"stream_ij_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.lastProgress and q.lastProgress["batchId"] < 1:
        raise RuntimeError("interval join replay ran a single micro-batch")
    return spark.sql(
        f"SELECT event_id AS a_id, p_id AS b_id, user_id FROM {sink}"
    )


@query(
    "streaming_session_window",
    """
    WITH marks AS (
      SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    sess AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(value) AS DECIMAL(18,2)) AS VARCHAR) AS total
    FROM sess GROUP BY user_id, sid
    """,
)
def q_streaming_session_window(spark, sf):
    """Event-time session windows on a stream (``F.session_window``):
    per-user sessions merge while consecutive events are < 30 minutes
    apart.  The batch oracle is the classic gap-sessionize (lag + running
    break-sum) with the same strictly-less-than-gap merge rule — the two
    formulations must produce identical session boundaries and aggregates.
    Complete mode: the events replay is finite and keyed state is
    per-session, so no watermark is needed for the gate."""
    import tempfile
    import uuid

    from arrow_udf_spark.streaming.stateful import session_agg

    ev = t(spark, sf, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("decimal(18,2)").alias("value"),
    )
    d = tempfile.mkdtemp(prefix="stream_sw_")
    ev.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(ev.schema).parquet(d)
    out = session_agg(
        stream,
        "ts",
        "30 minutes",
        {"n": "count(1)", "total": "sum(value)"},
        by=["user_id"],
    )
    sink = f"stream_sw_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(
        f"""
        SELECT user_id,
               date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS session_start,
               n,
               CAST(CAST(total AS DECIMAL(18,2)) AS STRING) AS total
        FROM {sink}
        """
    )


# ---------------------------------------------------------------------------
# pipeline: deterministic sampling, vocabulary, sequence packing
# ---------------------------------------------------------------------------


@query(
    "hash_sample",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < 500
    """,
)
def q_hash_sample(spark, sf):
    from arrow_udf_spark.operators.sampling import hash_sample

    d = t(spark, sf, "documents")
    return hash_sample(d, key="doc_id", rate_bp=500).select("doc_id", "n_chars")


@query(
    "weighted_sample",
    # A-ES weighted reservoir: priority = ln((md5_32('ws'||id)+1)/2^32)/w,
    # rounded half-up at 9dp so libm-vs-Math.log last-ulp differences
    # cannot flip the rounded ranking key; ties break on doc_id.  The
    # selected SET, priorities, and ranks are all hash-gated.
    """
    WITH pr AS (
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS weight,
               floor(ln((CAST(('0x' || substr(md5('ws' ||
                              CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                          + 1) / 4294967296.0)
                     / n_chars * 1e9 + 0.5) / 1e9 AS priority
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, weight, priority,
           CAST(row_number() OVER (ORDER BY priority DESC, doc_id)
                AS BIGINT) AS rnk
    FROM pr ORDER BY priority DESC, doc_id LIMIT 40
    """,
)
def q_weighted_sample(spark, sf):
    """Deterministic weighted reservoir sample (A-ES) of 40 documents
    with probability proportional to n_chars — md5-derived uniforms in
    place of the RNG (hash_sample's principle generalized to weights),
    so the subsample is reproducible and cross-engine auditable.  Plan:
    per-row hash+log, one TakeOrderedAndProject(k) — per-partition
    top-k heaps, never a full sort."""
    from arrow_udf_spark.operators.sampling import weighted_sample

    d = t(spark, sf, "documents")
    return weighted_sample(d, key="doc_id", weight_col="n_chars", k=40, salt="ws")


@query(
    "temperature_mix",
    # alpha=0.5: accept iff frac^2 < n_min/n_s — one IEEE multiply and one
    # division, NO sqrt/pow, so both engines compute the identical
    # survivor set; the gate checks integer counts + doc_id checksums.
    # Grouped by LANG (en is ~3.4x fr in the fixture) so the downsample
    # predicate actually fires — the `source` column is balanced and
    # would degenerate to q=1 for every group, gating nothing.
    """
    WITH n AS (SELECT lang, COUNT(*) AS ns FROM documents GROUP BY lang),
    q AS (SELECT lang,
                 (SELECT MIN(ns) FROM n) * 1.0 / ns AS r,
                 ns
          FROM n),
    sel AS (
      SELECT d.doc_id, d.lang
      FROM (SELECT doc_id, lang,
                   CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                         1, 8)) AS BIGINT) / 4294967296.0 AS f
            FROM documents) d
      JOIN q USING (lang)
      WHERE d.f * d.f < q.r
    )
    SELECT q.lang,
           CAST(q.ns AS BIGINT) AS n_docs,
           CAST(COALESCE(s.n_sel, 0) AS BIGINT) AS n_sel,
           CAST(COALESCE(s.id_sum, 0) AS BIGINT) AS id_sum
    FROM q LEFT JOIN (
      SELECT lang, COUNT(*) AS n_sel, SUM(doc_id) AS id_sum
      FROM sel GROUP BY lang
    ) s USING (lang)
    ORDER BY lang
    """,
)
def q_temperature_mix(spark, sf):
    """Temperature-based source rebalancing (the multilingual-LM mixture
    step: sample sources ~ n^alpha so high-resource sources stop
    drowning the tail).  alpha=0.5: each doc survives iff its md5
    fraction falls under sqrt(n_min/n_s), evaluated SQRT-FREE as
    ``frac^2 < n_min/n_s`` — provably the identical survivor set in any
    IEEE-754 engine (general pow differs by ulps across libms).  The
    gate pins per-lang doc counts, survivor counts, and the integer
    doc_id checksum of the exact survivor set; grouping is by ``lang``
    (skewed en >> fr in the fixture) so the predicate really downsamples
    rather than degenerating to q=1 everywhere.  One count aggregate +
    one broadcast threshold join + a scan-side filter; documents never
    shuffle."""
    from .operators.sampling import temperature_mix

    d = t(spark, sf, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    sel = (
        temperature_mix(d, source_col="lang", alpha=0.5)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sel"),
            F.sum("doc_id").alias("id_sum"),
        )
    )
    return (
        counts.join(sel, "lang", "left")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce(F.col("n_sel"), F.lit(0)).cast("long").alias("n_sel"),
            F.coalesce(F.col("id_sum"), F.lit(0)).cast("long").alias("id_sum"),
        )
        .orderBy("lang")
    )


@query(
    "dsir_weights",
    # DSIR importance weights over 64 hashed-bigram buckets; target = the
    # en slice, raw = the whole corpus.  Each term is ONE ln of ONE double
    # ratio of exact-integer products; the per-doc sum rounds half-up to
    # 6 dp (the bigram_surprisal discipline).
    f"""
    WITH toks AS (SELECT doc_id, lang, {{toks}} AS ts FROM documents),
    rawg AS (
      SELECT doc_id, unnest(list_transform(range(2, len(ts) + 1),
             i -> ts[i-1] || ' ' || ts[i])) AS g
      FROM toks WHERE len(ts) >= 2
    ),
    rb AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 64 AS b
           FROM rawg),
    tb AS (SELECT CAST(('0x' || substr(md5(r.g), 1, 8)) AS BIGINT) % 64 AS b
           FROM (SELECT t.doc_id, unnest(list_transform(
                        range(2, len(t.ts) + 1),
                        i -> t.ts[i-1] || ' ' || t.ts[i])) AS g
                 FROM toks t WHERE t.lang = 'en' AND len(t.ts) >= 2) r),
    cr AS (SELECT b, COUNT(*) AS cr FROM rb GROUP BY b),
    ct AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM rb) AS tr,
                   (SELECT COUNT(*) FROM tb) AS tt),
    p AS (SELECT cr.b,
                 ln((CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                     * CAST(tot.tr + 64 AS DOUBLE))
                    / (CAST(cr.cr + 1 AS DOUBLE)
                       * CAST(tot.tt + 64 AS DOUBLE))) AS term
          FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot)
    SELECT rb.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           floor(SUM(p.term) * 1e6 + 0.5) / 1e6 AS logw
    FROM rb JOIN p USING (b) GROUP BY rb.doc_id
    """.format(toks="regexp_split_to_array(trim(text), '\\s+')"),
)
def q_dsir_weights(spark, sf):
    """DSIR (Xie et al. 2023) — data selection via importance resampling:
    score every document by the log-likelihood ratio of its hashed word
    bigrams under the TARGET distribution (here: the corpus's en slice)
    vs the RAW distribution — the hashed-n-gram proxy the paper selects
    The-Pile-at-scale with.  High logw = looks like the target.  The
    gate pins every doc's bigram count and 6-dp-rounded weight against
    the same bucket model in SQL.

    Scale: bucket tables are 64 rows (broadcast; paper uses 10k — still
    broadcast-sized), totals are two O(1) driver scalars, and the only
    data-sized shuffles are the map-side-combined bucket counts and the
    per-doc weight sum.  One tokenization per scan (lag window over
    posexplode — plan-linted; the zero-exchange HOF alternative measured
    12x slower, see _bigram_buckets)."""
    from .operators.sampling import dsir_logweights

    d = t(spark, sf, "documents")
    out = dsir_logweights(
        d, d.where(F.col("lang") == "en"), buckets=64
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "logw",
    )


@query(
    "vocab_topk",
    """
    SELECT word, n FROM (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY word
    )
    ORDER BY n DESC, word
    LIMIT 100
    """,
)
def q_vocab_topk(spark, sf):
    # composition showcase: UDTF fan-out feeding a relational top-k —
    # the reference's table-fn protocol as one stage of a Spark plan
    d = t(spark, sf, "documents", spread=True)
    words = C.split_words.apply(d, cols=["text"])
    return (
        words.select(F.col("split_words").getField("word").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(100)
    )


@query(
    "inverted_index",
    r"""
    WITH pairs AS (
        SELECT DISTINCT d.doc_id, t.tok AS token
        FROM documents d,
             unnest(regexp_split_to_array(trim(d.text), '\s+')) AS t(tok)
        WHERE t.tok <> ''),
    dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df
            FROM pairs GROUP BY token)
    SELECT dfc.token, dfc.df,
           CASE WHEN dfc.df <= 50 THEN pl.postings END AS postings
    FROM dfc LEFT JOIN (
        SELECT token,
               string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id)
                   AS postings
        FROM pairs GROUP BY token) pl USING (token)
    """,
)
def q_inverted_index(spark, sf):
    """Inverted index over the corpus: token -> (document frequency,
    posting list), with the stop-token guard that keeps a 100 TB build
    bounded — head tokens (df > 50) carry df but NULL postings, so no
    aggregation buffer ever holds a stop-word's full id list."""
    from .operators.text import inverted_index

    return inverted_index(t(spark, sf, "documents"), stop_df=50)


@query(
    "funnel_conversion",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    s0 AS (SELECT user_id,
                  min(CASE WHEN event_type = 'signup' THEN us END) AS t0
           FROM e GROUP BY user_id),
    s1 AS (SELECT e.user_id,
                  min(CASE WHEN e.event_type = 'view' AND e.us > s0.t0
                           THEN e.us END) AS t1
           FROM e JOIN s0 USING (user_id) GROUP BY e.user_id),
    s2 AS (SELECT e.user_id,
                  min(CASE WHEN e.event_type = 'purchase' AND e.us > s1.t1
                           THEN e.us END) AS t2
           FROM e JOIN s1 USING (user_id) GROUP BY e.user_id)
    SELECT s0.user_id,
           CAST(CASE WHEN t2 IS NOT NULL THEN 3
                     WHEN t1 IS NOT NULL THEN 2
                     WHEN t0 IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage
    FROM s0 JOIN s1 USING (user_id) JOIN s2 USING (user_id)
    """,
)
def q_funnel_conversion(spark, sf):
    """Ordered funnel signup -> view -> purchase: stages completed per
    user, each stage strictly after the user's earliest completion of the
    previous one.  All stages are conditional-mins over ONE user_id hash
    partitioning (one exchange, windows re-sort only), fixed
    O(n_stages) state per user."""
    from .operators.temporal import funnel_stages

    return funnel_stages(
        t(spark, sf, "events"), stages=["signup", "view", "purchase"]
    )


@query(
    "bm25_topk",
    r"""
    WITH w AS (SELECT d.doc_id, t.tok AS word
               FROM documents d,
                    unnest(regexp_split_to_array(trim(d.text), '\s+')) AS t(tok)
               WHERE t.tok <> ''),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w
           GROUP BY doc_id),
    st AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS BIGINT) AS n_docs
           FROM dl),
    h AS (SELECT * FROM w WHERE word IN ('dup', 'data')),
    tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM h
           GROUP BY doc_id, word),
    dfc AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM h GROUP BY word),
    sc AS (SELECT tf.doc_id,
                  (CAST(st.n_docs AS DOUBLE) - dfc.df + 0.5) / (dfc.df + 0.5)
                      * (tf.tf * 2.2)
                      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
                      AS s
           FROM tf JOIN dfc USING (word) JOIN dl USING (doc_id)
                CROSS JOIN st),
    tot AS (SELECT doc_id, sum(s) AS s FROM sc GROUP BY doc_id)
    SELECT doc_id, floor(s * 1000000 + 0.5) / 1000000 AS score
    FROM tot ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q_bm25_topk(spark, sf):
    """BM25 retrieval top-10 for the term set {dup, data} (one rare, one
    common token — both idf branches live).  Rational idf keeps doubles
    bit-deterministic cross-engine; corpus stats are 1-row broadcasts."""
    from .operators.text import bm25_topk

    return bm25_topk(t(spark, sf, "documents"), terms=["dup", "data"], k=10)


@query(
    "hybrid_rrf_topk",
    # Reciprocal-rank fusion of the lexical BM25 top-20 and the dense
    # cosine top-20 (query = vec 0), k_const = 60.  Ranks come from
    # 6dp-ROUNDED scores with id tie-breaks (deterministic both engines);
    # each rrf term is one exact double division, so the fused ordering
    # needs no further rounding tricks.
    r"""
    WITH w AS (SELECT d.doc_id, t.tok AS word
               FROM documents d,
                    unnest(regexp_split_to_array(trim(d.text), '\s+')) AS t(tok)
               WHERE t.tok <> ''),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w
           GROUP BY doc_id),
    st AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS BIGINT) AS n_docs
           FROM dl),
    h AS (SELECT * FROM w WHERE word IN ('dup', 'data')),
    tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM h
           GROUP BY doc_id, word),
    dfc AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM h GROUP BY word),
    sc AS (SELECT tf.doc_id,
                  (CAST(st.n_docs AS DOUBLE) - dfc.df + 0.5) / (dfc.df + 0.5)
                      * (tf.tf * 2.2)
                      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
                      AS s
           FROM tf JOIN dfc USING (word) JOIN dl USING (doc_id)
                CROSS JOIN st),
    lt AS (SELECT doc_id, floor(sum(s) * 1000000 + 0.5) / 1000000 AS score
           FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
    lr AS (SELECT doc_id AS id,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                       AS INT) AS rank
           FROM lt),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 0),
    ds AS (SELECT e.vec_id AS id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               q.qv), 6) AS s
           FROM embeddings e CROSS JOIN q),
    dr AS (SELECT id, rank FROM (
             SELECT id, CAST(row_number() OVER (ORDER BY s DESC, id)
                             AS INT) AS rank
             FROM ds) WHERE rank <= 20),
    f AS (SELECT COALESCE(l.id, d2.id) AS id,
                 COALESCE(1.0 / (60 + l.rank), 0)
                   + COALESCE(1.0 / (60 + d2.rank), 0) AS rrf
          FROM lr l FULL OUTER JOIN dr d2 ON l.id = d2.id)
    SELECT id AS doc_id,
           CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INT) AS rank,
           floor(rrf * 1e6 + 0.5) / 1e6 AS rrf
    FROM f ORDER BY rank LIMIT 10
    """,
)
def q_hybrid_rrf_topk(spark, sf):
    """HYBRID SEARCH: reciprocal-rank fusion (Cormack et al.; the
    Elasticsearch/Vespa default combiner) of a lexical BM25 ranking over
    ``documents`` and a dense cosine ranking over ``embeddings`` (shared
    id space — the table pair models one corpus's text + vectors).
    Each ranker contributes its top-20 with ranks computed on 6dp-rounded
    scores (id tie-breaks), and ``rrf = Σ 1/(60+rank)`` fuses them —
    every term one exact double division, so the fused order is
    bit-stable with no further rounding.  Scale: both inputs are already
    top-k lists; the fusion itself is a 40-row join + TakeOrdered —
    cost lives entirely in the rankers, which scale independently
    (BM25's broadcast stats, ANN's cell pruning)."""
    from pyspark.sql import Window

    from .operators.similarity import _as_double, _dot, _vnorm, rrf_fuse
    from .operators.text import bm25_topk

    d = t(spark, sf, "documents")
    e = t(spark, sf, "embeddings")
    lex = bm25_topk(d, terms=["dup", "data"], k=20)
    lw = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex_r = lex.select(
        F.col("doc_id").alias("id"),
        F.row_number().over(lw).alias("rank"),
    )
    q = e.where(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", _vnorm(F.col("qv")))
    it = e.select(
        F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("nv")
    ).withColumn("nn", _vnorm(F.col("nv")))
    ds = it.crossJoin(F.broadcast(q)).select(
        "id",
        F.round(
            _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
        ).alias("s"),
    )
    dw = Window.orderBy(F.col("s").desc(), F.col("id").asc())
    dense_r = (
        ds.withColumn("rank", F.row_number().over(dw))
        .where(F.col("rank") <= 20)
        .select("id", "rank")
    )
    return rrf_fuse([lex_r, dense_r], k=10).select(
        F.col("id").alias("doc_id"), "rank", "rrf"
    )


@query(
    "retention_cohorts",
    """
    WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY user_id)
    SELECT CAST(f.cohort AS VARCHAR) AS cohort_day,
           CAST(datediff('day', f.cohort, e.d) AS INT) AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark, sf):
    """Daily retention triangle: users grouped by first-activity day
    (cohort), counted on each later day they return.  Two keyed
    aggregations and one user_id-co-partitioned join — (user, day) pairs
    are deduplicated BEFORE the join, so at 100 TB the join input is
    bounded by users*days, not raw events."""
    e = (
        t(spark, sf, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    f = e.groupBy("user_id").agg(F.min("d").alias("cohort"))
    return (
        e.join(f, "user_id")
        .groupBy(
            F.col("cohort").cast("string").alias("cohort_day"),
            F.datediff("d", "cohort").cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


@query(
    "pack_sequences",
    """
    SELECT doc_id, source, seq_id FROM (
        SELECT doc_id, source,
               CAST((SUM(CAST(n_chars AS BIGINT))
                    OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - 1) // 16384
                    AS BIGINT) AS seq_id
        FROM documents
    )
    """,
)
def q_pack_sequences(spark, sf):
    from arrow_udf_spark.operators.sampling import pack_sequences

    d = t(spark, sf, "documents")
    out = pack_sequences(
        d, shard="source", order="doc_id", tokens="n_chars", budget=16384
    )
    return out.select("doc_id", "source", "seq_id")


@query(
    "pipeline_e2e",
    f"""
    WITH scored AS (
        SELECT doc_id, source, n_chars, text,
               floor((0.4 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
                     + 0.3 * (1.0 - CAST(strlen(text) - strlen(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                                    / greatest(strlen(text), 1))
                     + 0.3 * least((CAST(len(list_filter({_DD_TOKS},
                           t -> list_contains(['the','and','of','to','a','in','is','for'], t))) AS DOUBLE)
                           / greatest(len({_DD_TOKS}), 1)) * 5, 1.0)) * 1000000 + 0.5)
               / 1000000 AS q
        FROM documents
    ), kept AS (
        SELECT doc_id, source, n_chars FROM (
            SELECT doc_id, source, n_chars,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
            FROM scored WHERE q >= 0.5
        ) WHERE doc_id = keep_id
          AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10000 < 5000
    )
    SELECT doc_id, source,
           CAST((SUM(CAST(n_chars AS BIGINT))
                OVER (PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - 1) // 16384
                AS BIGINT) AS seq_id
    FROM kept
    """,
)
def q_pipeline_e2e(spark, sf):
    """Capstone: the full training-data pipeline as ONE composed Spark plan —
    quality filter -> exact dedup (keep min id per content digest) ->
    deterministic 50% sample -> per-shard sequence packing.  Every stage is
    an engine operator; Catalyst fuses the filters and shares the scans."""
    from pyspark.sql import Window

    from .operators.dedup import content_hash
    from .operators.sampling import hash_sample, pack_sequences
    from .operators.text import with_quality_score

    d = t(spark, sf, "documents")
    scored = (
        with_quality_score(d, "text", "n_chars", out="__q")
        .where(F.col("__q") >= 0.5)
        .drop("__q")
    )
    keep = F.min("doc_id").over(Window.partitionBy(content_hash("text")))
    deduped = (
        scored.withColumn("__keep", keep)
        .where(F.col("doc_id") == F.col("__keep"))
        .drop("__keep")
    )
    sampled = hash_sample(deduped, key="doc_id", rate_bp=5000)
    packed = pack_sequences(
        sampled, shard="source", order="doc_id", tokens="n_chars", budget=16384
    )
    return packed.select("doc_id", "source", "seq_id")


@query(
    "curation_pipeline_e2e",
    # the round-8 curation capstone: every stage's oracle CTE chained —
    # quality gate (6dp-rounded score >= 0.5) -> temperature mix by lang
    # (sqrt-free alpha=0.5 md5 predicate) -> DSIR selection (64-bucket
    # hashed-bigram log-likelihood ratio >= 0, target = the mix's en
    # slice) -> exact dedup (min doc_id per md5(text)) -> per-lang
    # 16384-char sequence packing.  All decisions are integer/6dp-rounded
    # -> bit-stable across engines.
    f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars, text, {_QUALITY_EXPR} AS q
      FROM documents
    ),
    kept AS (SELECT * FROM scored WHERE q >= 0.5),
    n AS (SELECT lang, COUNT(*) AS ns FROM kept GROUP BY lang),
    mq AS (SELECT lang, (SELECT MIN(ns) FROM n) * 1.0 / ns AS r FROM n),
    mixed AS (
      SELECT k.doc_id, k.lang, k.n_chars, k.text FROM (
        SELECT *, CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                       1, 8)) AS BIGINT) / 4294967296.0 AS f
        FROM kept) k JOIN mq USING (lang)
      WHERE k.f * k.f < mq.r
    ),
    toks AS (SELECT doc_id, lang,
                    regexp_split_to_array(trim(text), '\\s+') AS ts
             FROM mixed),
    rawg AS (
      SELECT doc_id, unnest(list_transform(range(2, len(ts) + 1),
             i -> ts[i-1] || ' ' || ts[i])) AS g
      FROM toks WHERE len(ts) >= 2
    ),
    rb AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 64 AS b
           FROM rawg),
    tb AS (SELECT CAST(('0x' || substr(md5(r.g), 1, 8)) AS BIGINT) % 64 AS b
           FROM (SELECT t.doc_id, unnest(list_transform(
                        range(2, len(t.ts) + 1),
                        i -> t.ts[i-1] || ' ' || t.ts[i])) AS g
                 FROM toks t WHERE t.lang = 'en' AND len(t.ts) >= 2) r),
    cr AS (SELECT b, COUNT(*) AS cr FROM rb GROUP BY b),
    ct AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM rb) AS tr,
                   (SELECT COUNT(*) FROM tb) AS tt),
    p AS (SELECT cr.b,
                 ln((CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                     * CAST(tot.tr + 64 AS DOUBLE))
                    / (CAST(cr.cr + 1 AS DOUBLE)
                       * CAST(tot.tt + 64 AS DOUBLE))) AS term
          FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot),
    wts AS (SELECT rb.doc_id, floor(SUM(p.term) * 1e6 + 0.5) / 1e6 AS logw
            FROM rb JOIN p USING (b) GROUP BY rb.doc_id),
    sel AS (SELECT m.doc_id, m.lang, m.n_chars, m.text, w.logw
            FROM mixed m JOIN wts w USING (doc_id) WHERE w.logw >= 0.0),
    ded AS (SELECT doc_id, lang, n_chars, logw FROM (
              SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
              FROM sel) WHERE doc_id = keep_id)
    SELECT doc_id, lang, logw,
           CAST((SUM(CAST(n_chars AS BIGINT))
                OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - 1) // 16384
                AS BIGINT) AS seq_id
    FROM ded
    """,
)
def q_curation_pipeline_e2e(spark, sf):
    """The round-8 CURATION capstone — the r8 operator set composed as
    one pipeline, the data-curation twin of ``ann_pipeline_e2e``:
    quality filter → ``temperature_mix`` (n^0.5 lang rebalance) →
    ``dsir_logweights`` selection (keep docs that look like the en
    target, logw ≥ 0) → exact dedup (min doc_id per content digest) →
    ``pack_sequences`` into 16384-char training sequences per lang.

    Every stage decision is integer or 6dp-rounded — the whole pipeline
    is bit-stable across engines, and the gate pins each surviving
    doc's (lang, logw, seq_id).  Scale: scan-side filters (quality,
    mix predicate), broadcast joins (mix thresholds, DSIR buckets), one
    digest window (dedup), one per-shard window (packing) — no stage
    shuffles the corpus more than once.  The document is tokenized ONCE
    (a staged ``__toks`` array feeds both the quality score and the
    DSIR bigrams — the plan-lint retokenize rule; the array rides only
    scan-side filters and broadcast joins, never an exchange)."""
    from pyspark.sql import Window

    from .operators.dedup import content_hash
    from .operators.sampling import (
        dsir_logweights,
        pack_sequences,
        temperature_mix,
    )
    from .operators.text import quality_score, tokens

    d = t(spark, sf, "documents").withColumn(
        "__toks", tokens(F.col("text"))
    )
    kept = d.where(
        quality_score(F.col("text"), F.col("n_chars"), toks=F.col("__toks"))
        >= 0.5
    )
    # materialize the surviving mix once (r10 perf): `mixed` feeds the
    # DSIR raw side, the DSIR target side, AND the selection join — left
    # lazy, each consumer re-ran the scan + quality tokenization + the
    # mix's own count aggregate (two scans per evaluation, six total)
    mixed = temperature_mix(kept, source_col="lang", alpha=0.5).localCheckpoint()
    w = dsir_logweights(
        mixed, mixed.where(F.col("lang") == "en"), toks_col="__toks"
    )
    # the token array has served its purpose — drop it BEFORE any
    # exchange (dedup digest window, packing shard window) so arrays
    # never ride a shuffle
    sel = mixed.join(
        w.where(F.col("logw") >= 0.0), mixed.doc_id == F.col("id")
    ).drop("id", "n_bigrams", "__toks")
    keep = F.min("doc_id").over(Window.partitionBy(content_hash("text")))
    ded = (
        sel.withColumn("__keep", keep)
        .where(F.col("doc_id") == F.col("__keep"))
        .drop("__keep")
    )
    packed = pack_sequences(
        ded, shard="lang", order="doc_id", tokens="n_chars", budget=16384
    )
    return packed.select(
        "doc_id", "lang", "logw", F.col("seq_id").cast("long").alias("seq_id")
    )


@query(
    "return_all_fn",
    """
    SELECT p_partkey,
           CAST(p_size % 100 AS BIGINT) AS i8,
           CAST(p_size AS BIGINT) AS i16,
           CAST(p_partkey % 100000 AS BIGINT) AS i32,
           p_partkey AS i64,
           printf('%.2f', p_size / 4.0) AS f32s,
           printf('%.2f', p_retailprice) AS f64s,
           p_size > 25 AS b,
           p_brand AS s,
           p_brand AS bins,
           CAST(DATE '1970-01-01' + CAST(p_partkey % 1000 AS INT) AS VARCHAR) AS d,
           strftime(make_timestamp(p_partkey * 1000000), '%Y-%m-%d %H:%M:%S') AS ts,
           printf('%.2f', p_retailprice) AS dec,
           '{"k":' || p_size || '}' AS js,
           CAST(p_size AS VARCHAR) || ',' || CAST(p_size + 1 AS VARCHAR) AS arr,
           CAST(p_size AS BIGINT) AS mp_a,
           p_brand AS kv_key,
           p_type AS kv_value
    FROM part
    """,
)
def q_return_all(spark, sf):
    """21-type echo through one UDF struct boundary (reference return_all,
    example.py:137-230): every base type crosses JVM->Arrow->Python->Arrow
    and is then stringified identically on both engines."""
    p = t(spark, sf, "part")
    out = p.select(
        "p_partkey",
        C.return_all(
            (F.col("p_size") % 100).cast("tinyint"),
            F.col("p_size").cast("smallint"),
            (F.col("p_partkey") % 100000).cast("int"),
            F.col("p_partkey"),
            (F.col("p_size") / 4.0).cast("float"),
            F.col("p_retailprice"),
            F.col("p_size") > 25,
            F.col("p_brand"),
            F.col("p_brand").cast("binary"),
            F.date_add(F.lit("1970-01-01").cast("date"), (F.col("p_partkey") % 1000).cast("int")),
            F.timestamp_micros(F.col("p_partkey") * 1000000),
            F.format_string("%.2f", "p_retailprice"),
            F.concat(F.lit('{"k":'), F.col("p_size").cast("string"), F.lit("}")),
            F.array(F.col("p_size").cast("int"), (F.col("p_size") + 1).cast("int")),
            F.create_map(F.lit("a"), F.col("p_size").cast("int")),
            F.struct(F.col("p_brand").alias("key"), F.col("p_type").alias("value")),
        ).alias("r"),
    )
    r = F.col("r")
    return out.select(
        "p_partkey",
        r.getField("i8").cast("long").alias("i8"),
        r.getField("i16").cast("long").alias("i16"),
        r.getField("i32").cast("long").alias("i32"),
        r.getField("i64").cast("long").alias("i64"),
        F.format_string("%.2f", r.getField("f32").cast("double")).alias("f32s"),
        F.format_string("%.2f", r.getField("f64")).alias("f64s"),
        r.getField("b").alias("b"),
        r.getField("s").alias("s"),
        r.getField("bin").cast("string").alias("bins"),
        r.getField("d").cast("string").alias("d"),
        F.date_format(r.getField("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts"),
        r.getField("dec").alias("dec"),
        r.getField("js").alias("js"),
        F.array_join(r.getField("arr"), ",").alias("arr"),
        r.getField("mp").getItem("a").cast("long").alias("mp_a"),
        r.getField("kv").getField("key").alias("kv_key"),
        r.getField("kv").getField("value").alias("kv_value"),
    )


# ---------------------------------------------------------------------------
# skew mitigation carriers + window breadth + interval type
# ---------------------------------------------------------------------------


@query(
    "skew_agg",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_skew_agg(spark, sf):
    from .operators.skew import skew_agg

    o = t(spark, sf, "orders").withColumn(
        "price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    out = skew_agg(
        o,
        by=["o_orderpriority"],
        aggs={"n": ("count", "o_orderkey"), "total": ("sum", "price_dec")},
        buckets=16,
    )
    return out.select(
        "o_orderpriority", "n", F.col("total").cast("string").alias("total")
    )


@query(
    "salted_join_agg",
    """
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_quantity * 1) AS BIGINT) AS qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_salted_join(spark, sf):
    from .operators.skew import salted_join

    li = t(spark, sf, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity"
    )
    p = t(spark, sf, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, p, on=["p_partkey"], buckets=4)
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )


@query(
    "window_functions",
    """
    SELECT o_orderkey,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           LAG(o_orderkey) OVER w AS prev_k,
           LEAD(o_orderkey) OVER w AS next_k,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_functions(spark, sf):
    from pyspark.sql import Window

    o = t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("o_orderkey").over(w).alias("prev_k"),
        F.lead("o_orderkey").over(w).alias("next_k"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "interval_add_fn",
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS TIMESTAMP)
                    + to_months(CAST(o_orderkey % 5 AS INT))
                    + to_days(CAST(o_orderkey % 20 AS INT)),
                    '%Y-%m-%d %H:%M:%S') AS ts2
    FROM orders
    """,
)
def q_interval_add(spark, sf):
    o = t(spark, sf, "orders")
    iv = F.struct(
        (F.col("o_orderkey") % 5).cast("int").alias("months"),
        (F.col("o_orderkey") % 20).cast("int").alias("days"),
        F.lit(0).cast("long").alias("nanos"),
    )
    ts = F.col("o_orderdate").cast("timestamp_ntz")
    return o.select(
        "o_orderkey",
        F.date_format(C.interval_add(ts, iv), "yyyy-MM-dd HH:mm:ss").alias("ts2"),
    )


@query(
    "dup_clusters",
    f"""
    WITH RECURSIVE sig AS (
      SELECT doc_id,
             [list_aggregate(list_transform({_DD_TOKS}, t -> md5('0:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('1:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('2:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('3:' || t)), 'min')
             ] AS s
      FROM documents WHERE doc_id < 100
    ), bands AS (
      SELECT doc_id, 0 AS band, s[1] || '|' || s[2] AS bval FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, s[3] || '|' || s[4] AS bval FROM sig
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
    ), edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION SELECT b, a FROM pairs
    ), reach(n, m) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.m FROM edges e JOIN reach r ON e.src = r.n
    )
    SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n
    """,
)
def q_dup_clusters(spark, sf):
    """Near-dup clusters: LSH candidate pairs -> connected components.
    The oracle computes the same components with a recursive CTE."""
    from .operators.dedup import dup_clusters, lsh_candidate_pairs

    d = t(spark, sf, "documents").where(F.col("doc_id") < 100)
    pairs = lsh_candidate_pairs(
        d, "doc_id", "text", k=4, band_size=2, max_bucket=100_000
    )
    return dup_clusters(pairs)


@query(
    "kmv_source_similarity",
    r"""
    WITH ph AS (
      SELECT DISTINCT d.source AS g,
             CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) AS h
      FROM documents d,
           unnest(regexp_split_to_array(trim(d.text), '\s+')) AS t(tok)
      WHERE t.tok <> ''),
    sk AS (
      SELECT g, list(h ORDER BY h) AS sk FROM (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM ph)
      WHERE rn <= 16 GROUP BY g),
    j AS (
      SELECT a.g AS src_a, b.g AS src_b, a.sk AS ska, b.sk AS skb
      FROM sk a JOIN sk b ON a.g < b.g),
    m AS (
      SELECT src_a, src_b, ska, skb,
             list_sort(list_distinct(list_concat(ska, skb)))[1:16] AS merged
      FROM j),
    c AS (
      SELECT src_a, src_b,
             len(list_filter(merged,
                 x -> list_contains(ska, x) AND list_contains(skb, x)))
                 AS shared,
             len(merged) AS uk
      FROM m)
    SELECT src_a, src_b,
           CAST(shared AS BIGINT) AS n_shared,
           CAST(uk AS BIGINT) AS n_union_k,
           floor(CAST(shared AS DOUBLE) / CAST(uk AS DOUBLE) * 1000000 + 0.5)
               / 1000000 AS jaccard_est
    FROM c
    """,
)
def q_kmv_source_similarity(spark, sf):
    """Pairwise corpus-overlap matrix from bounded KMV sketches: per-source
    state is capped at k=16 hashes, the pairwise stage compares k-length
    arrays (broadcast), and no document ever meets another document."""
    from .operators.sketch import kmv_source_similarity

    return kmv_source_similarity(t(spark, sf, "documents"), k=16)


@query(
    "anomaly_zscore",
    """
    WITH base AS (SELECT event_id, event_type,
                         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
                  FROM events),
    mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(v) AS BIGINT) AS s,
                   sum(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))
                       AS ss
            FROM base GROUP BY event_type),
    sc AS (SELECT b.event_id, b.event_type, b.v, m.n, m.ss,
                  CAST(m.s AS DOUBLE) / m.n AS mean
           FROM base b JOIN mom m USING (event_type)),
    zs AS (SELECT event_id, event_type,
                  CASE WHEN CAST(ss AS DOUBLE) / n - mean * mean > 0
                       THEN (v - mean)
                            / sqrt(CAST(ss AS DOUBLE) / n - mean * mean)
                       ELSE 0.0 END AS z
           FROM sc),
    r AS (SELECT event_id, event_type, z,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY abs(z) DESC, event_id ASC)
                     AS rn
          FROM zs)
    SELECT event_id, event_type,
           floor(z * 1000000 + 0.5) / 1000000 AS z
    FROM r WHERE rn <= 20
    """,
)
def q_anomaly_zscore(spark, sf):
    """Per-type anomaly top-20 by |z-score|.  Moments accumulate in exact
    fixed-point (milli-units; sum-of-squares as DECIMAL(38,0)) so they are
    shuffle-layout- and engine-independent; the float math runs once per
    group on those exact inputs with pinned op order, making even the
    z-scores hash-identical to the oracle.  Moments broadcast back, the
    standardization pass is map-only, top-k is a window group limit."""
    from .operators.stats import zscore_outliers

    return zscore_outliers(t(spark, sf, "events"), top_k=20)


@query(
    "quality_percentile",
    f"""
    WITH scored AS (
      SELECT doc_id, source,
           floor((0.4 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
                 + 0.3 * (1.0 - CAST(strlen(text) - strlen(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                                / greatest(strlen(text), 1))
                 + 0.3 * least((CAST(len(list_filter({_DD_TOKS},
                       t -> list_contains(['the','and','of','to','a','in','is','for'], t))) AS DOUBLE)
                       / greatest(len({_DD_TOKS}), 1)) * 5, 1.0)) * 1000000 + 0.5)
           / 1000000 AS q
      FROM documents
    )
    SELECT doc_id, source, q,
           floor(percent_rank() OVER (PARTITION BY source
                                      ORDER BY q ASC, doc_id ASC)
                 * 1000000 + 0.5) / 1000000 AS pct
    FROM scored
    """,
)
def q_quality_percentile(spark, sf):
    """Cross-source quality calibration: raw quality scores are not
    comparable between sources (different length/style priors), so
    curriculum and mixture sampling use each doc's PERCENTILE within its
    own source.  percent_rank is pure integer rank arithmetic —
    (rank-1)/(n-1) — so it is exactly reproducible in any engine; one
    window per source partition, heavy sources self-limit because the
    rank pass is O(rows log rows) within the partition only."""
    from pyspark.sql import Window

    from .operators.text import with_quality_score

    d = with_quality_score(t(spark, sf, "documents"), "text", "n_chars").select(
        "doc_id", "source", "q"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("q").asc(), F.col("doc_id").asc()
    )
    return d.select(
        "doc_id",
        "source",
        "q",
        (F.floor(F.percent_rank().over(w) * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "pct"
        ),
    )


@query(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE sig AS (
      SELECT doc_id,
             [list_aggregate(list_transform({_DD_TOKS}, t -> md5('0:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('1:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('2:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('3:' || t)), 'min')
             ] AS s
      FROM documents WHERE doc_id < 100
    ), bands AS (
      SELECT doc_id, 0 AS band, s[1] || '|' || s[2] AS bval FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, s[3] || '|' || s[4] AS bval FROM sig
    ), prs AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
    ), edges AS (
      SELECT a AS src, b AS dst FROM prs
      UNION SELECT b, a FROM prs
    ), reach(n, m) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.m FROM edges e JOIN reach r ON e.src = r.n
    ), comp AS (
      SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n
    ), scored AS (
      SELECT doc_id,
           floor((0.4 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
                 + 0.3 * (1.0 - CAST(strlen(text) - strlen(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                                / greatest(strlen(text), 1))
                 + 0.3 * least((CAST(len(list_filter({_DD_TOKS},
                       t -> list_contains(['the','and','of','to','a','in','is','for'], t))) AS DOUBLE)
                       / greatest(len({_DD_TOKS}), 1)) * 5, 1.0)) * 1000000 + 0.5)
           / 1000000 AS q
      FROM documents WHERE doc_id < 100
    ), member AS (
      SELECT s.doc_id, COALESCE(c.cluster_id, s.doc_id) AS cluster_id, s.q
      FROM scored s LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           first_value(doc_id) OVER (PARTITION BY cluster_id
                                     ORDER BY q DESC, doc_id ASC) AS keeper_id,
           CAST(doc_id = first_value(doc_id)
                    OVER (PARTITION BY cluster_id
                          ORDER BY q DESC, doc_id ASC) AS INT) AS keep
    FROM member
    """,
)
def q_dedup_keep_best(spark, sf):
    """End-to-end dedup POLICY stage: LSH pairs -> connected components ->
    keep the highest-quality member per cluster (ties to smallest id),
    singletons keep themselves.  This is the decision a corpus pipeline
    actually applies after candidate generation — one left join + one
    window over near-clique-sized cluster partitions."""
    from .operators.dedup import dup_clusters, keep_best, lsh_candidate_pairs
    from .operators.text import with_quality_score

    d = t(spark, sf, "documents").where(F.col("doc_id") < 100)
    pairs = lsh_candidate_pairs(
        d, "doc_id", "text", k=4, band_size=2, max_bucket=100_000
    )
    scored = with_quality_score(d, "text", "n_chars").select("doc_id", "q")
    return keep_best(scored, dup_clusters(pairs), "q")


@query(
    "rolling_7d_sum",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS day_micros
        FROM events GROUP BY 1
    )
    SELECT CAST(d AS VARCHAR) AS d, day_micros,
           CAST(SUM(day_micros) OVER (ORDER BY datediff('day', DATE '1970-01-01', d)
                                      RANGE BETWEEN 6 PRECEDING
                                      AND CURRENT ROW)
                AS BIGINT) AS rolling_micros
    FROM daily
    """,
)
def q_rolling_7d_sum(spark, sf):
    """Trailing 7-day rolling sum of the event metric, exact: values are
    fixed-pointed to int64 micro-units before ANY aggregation, so the
    result is bit-identical under any shuffle layout (a double sum is
    not).  The unpartitioned window runs over one row per day — bounded
    input regardless of raw table size."""
    from .operators.temporal import rolling_daily_sum

    return rolling_daily_sum(t(spark, sf, "events"))


@query(
    "audio_chunks",
    """
    WITH src AS (
        SELECT doc_id, CAST(n_chars * 160 AS BIGINT) AS n FROM documents
    ), idx AS (
        SELECT doc_id, n, unnest(range(0, (n + 15999) // 16000)) AS i FROM src
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           CAST(i * 1000 AS BIGINT) AS start_ms,
           CAST(least((least((i + 1) * 16000, n) * 1000 + 15999) // 16000,
                      n * 1000 // 16000) AS BIGINT) AS end_ms,
           CAST(least((i + 1) * 16000, n) - i * 16000 AS BIGINT) AS n_samples
    FROM idx
    """,
)
def q_audio_chunks(spark, sf):
    from .operators.multimodal import audio_chunks

    d = t(spark, sf, "documents", spread=True).select(
        "doc_id",
        (F.col("n_chars") * 160).cast("long").alias("n"),
        F.lit(16000).cast("int").alias("sr"),
        F.lit(1000).cast("int").alias("cm"),
    )
    out = audio_chunks.apply(d, cols=["n", "sr", "cm"], passthrough=["doc_id"])
    c = F.col("audio_chunks")
    return out.select(
        "doc_id",
        c.getField("chunk_idx").alias("chunk_idx"),
        c.getField("start_ms").alias("start_ms"),
        c.getField("end_ms").alias("end_ms"),
        c.getField("n_samples").alias("n_samples"),
    )


@query(
    "tpch_q6",
    """
    SELECT CAST(SUM(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark, sf):
    # per-row deterministic cent quantization -> exact BIGINT sum on both
    # engines (double SUM association differs across engines; int sum not)
    li = t(spark, sf, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(cents).alias("revenue_cents"))
    )


@query(
    "tpch_q3",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(o_orderdate AS VARCHAR) AS odate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1997-03-15'
      AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue_cents DESC, o_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark, sf):
    # classic 3-way star join: customer dim broadcast, fact shuffles once
    from pyspark.sql.functions import broadcast

    c = t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("date")
    )
    li = t(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-03-15 00:00:00").cast("timestamp")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey", "revenue_cents", F.col("o_orderdate").cast("string").alias("odate")
        )
    )


@query(
    "percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS p25,
           round(quantile_cont(l_quantity, 0.50), 6) AS p50,
           round(quantile_cont(l_quantity, 0.75), 6) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark, sf):
    # one percentile(col, array(...)) call per group: separate percentile
    # aggregates each buffer the group's full value list (3x the memory
    # and 3 sorts — the sampled_quantiles lesson, r6)
    li = t(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, array(0.25D, 0.50D, 0.75D))").alias("qs")
    )
    return agg.select(
        "l_returnflag",
        F.round(F.col("qs")[0], 6).alias("p25"),
        F.round(F.col("qs")[1], 6).alias("p50"),
        F.round(F.col("qs")[2], 6).alias("p75"),
    )


def _tv_oracle() -> str:
    srcs = ["src0", "src1", "src2", "src3"]
    arms = []
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            arms.append(
                f"""
      SELECT '{a}' AS src_a, '{b}' AS src_b,
             CAST(COALESCE(SUM(ABS(
                 CAST(COALESCE("{a}", 0) AS DECIMAL(19,0))
                   * CAST((SELECT n FROM n WHERE source = '{b}') AS DECIMAL(19,0))
                 - CAST(COALESCE("{b}", 0) AS DECIMAL(19,0))
                   * CAST((SELECT n FROM n WHERE source = '{a}') AS DECIMAL(19,0)))), 0)
                  AS BIGINT) AS tv_num,
             COALESCE((SELECT n FROM n WHERE source = '{a}'), 0) AS n_a,
             COALESCE((SELECT n FROM n WHERE source = '{b}'), 0) AS n_b
      FROM piv"""
            )
    union = "\n      UNION ALL".join(arms)
    return f"""
    WITH w AS (
      SELECT source, tok
      FROM (SELECT source, unnest({_DD_TOKS}) AS tok FROM documents
            WHERE source IN ('src0','src1','src2','src3'))
      WHERE tok <> ''
    ),
    n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY source),
    piv AS (
      SELECT tok,
             SUM(CASE WHEN source = 'src0' THEN 1 END) AS "src0",
             SUM(CASE WHEN source = 'src1' THEN 1 END) AS "src1",
             SUM(CASE WHEN source = 'src2' THEN 1 END) AS "src2",
             SUM(CASE WHEN source = 'src3' THEN 1 END) AS "src3"
      FROM w GROUP BY tok
    )
    {union}
    """


@query("corpus_divergence", _tv_oracle())
def q_corpus_divergence(spark, sf):
    """Pairwise distribution-shift matrix between sources: exact-integer
    total-variation numerators (sum_t |c_A(t)*N_B - c_B(t)*N_A|) next to
    the stream sizes — TV = tv_num/(2*N_A*N_B), but no division ever
    happens so the gate is bit-exact.  TV, unlike KL/JS, needs no log —
    the drift metric that stays rational.  One vocabulary-keyed pivot
    shuffle; the pairwise pass is a single aggregate; sources never join
    documents."""
    from .operators.text import source_token_tv

    return source_token_tv(
        t(spark, sf, "documents"), ["src0", "src1", "src2", "src3"]
    )


@query(
    "pagerank_docs",
    f"""
    WITH sig AS (
      SELECT doc_id,
             [list_aggregate(list_transform({_DD_TOKS}, t -> md5('0:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('1:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('2:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('3:' || t)), 'min')
             ] AS s
      FROM documents WHERE doc_id < 100
    ), bands AS (
      SELECT doc_id, 0 AS band, s[1] || '|' || s[2] AS bval FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, s[3] || '|' || s[4] AS bval FROM sig
    ), prs AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
    ), edges AS (
      SELECT a AS src, b AS dst FROM prs UNION SELECT b, a FROM prs
    ), deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id < 100),
    r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
    i1 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
           FROM edges e JOIN r0 r ON r.node = e.src
           JOIN deg d ON d.src = e.src GROUP BY e.dst),
    r1 AS (SELECT n.node,
                  CAST(150000000 + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT)
                      AS rank
           FROM nodes n LEFT JOIN i1 i USING (node)),
    i2 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
           FROM edges e JOIN r1 r ON r.node = e.src
           JOIN deg d ON d.src = e.src GROUP BY e.dst),
    r2 AS (SELECT n.node,
                  CAST(150000000 + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT)
                      AS rank
           FROM nodes n LEFT JOIN i2 i USING (node)),
    i3 AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
           FROM edges e JOIN r2 r ON r.node = e.src
           JOIN deg d ON d.src = e.src GROUP BY e.dst),
    r3 AS (SELECT n.node,
                  CAST(150000000 + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT)
                      AS rank
           FROM nodes n LEFT JOIN i3 i USING (node))
    SELECT node AS doc_id, rank FROM r3
    """,
)
def q_pagerank_docs(spark, sf):
    """PageRank over the LSH near-dup graph (the centrality of a document
    inside its duplicate neighbourhood — a dedup-policy signal beyond
    keep-best): 3 rounds of integer-fixed-point power iteration.  Every
    round is one edge⋈rank hash join + one map-side-combined per-dst sum
    — O(E) shuffle, zero driver state — and the int64 arithmetic
    (rank DIV deg, (85·Σ) DIV 100) makes the trajectory bit-identical
    in any engine and under any shuffle layout, replayed exactly by the
    unrolled-CTE oracle."""
    from .operators.dedup import lsh_candidate_pairs
    from .operators.graph import pagerank

    d = t(spark, sf, "documents").where(F.col("doc_id") < 100)
    prs = lsh_candidate_pairs(
        d, "doc_id", "text", k=4, band_size=2, max_bucket=100_000
    )
    edges = prs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        prs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).distinct()
    nodes = d.select(F.col("doc_id").alias("node"))
    return pagerank(edges, nodes, iters=3).select(
        F.col("node").alias("doc_id"), "rank"
    )


@query(
    "bigram_surprisal",
    f"""
    WITH toks AS (SELECT doc_id, {_DD_TOKS} AS ts FROM documents),
    tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
    c1 AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    v AS (SELECT count(DISTINCT t) AS v FROM tok),
    pairs AS (
      SELECT doc_id, unnest(list_transform(range(2, len(ts) + 1),
             i -> struct_pack(prev := ts[i-1], cur := ts[i]))) AS p
      FROM toks WHERE len(ts) >= 2
    ),
    pr AS (SELECT doc_id, p.prev AS prev, p.cur AS cur FROM pairs),
    c2 AS (SELECT prev, cur, count(*) AS c FROM pr GROUP BY prev, cur)
    SELECT pr.doc_id,
           floor(avg(ln((CAST(c1.c AS DOUBLE) + v.v) / (c2.c + 1)))
                 * 1e6 + 0.5) / 1e6 AS surprisal
    FROM pr JOIN c1 ON c1.t = pr.prev
            JOIN c2 USING (prev, cur)
            CROSS JOIN v
    GROUP BY pr.doc_id
    """,
)
def q_bigram_surprisal(spark, sf):
    """Contextual LM quality proxy — the perplexity-shaped upgrade of
    unigram_surprisal: mean ``ln((c(prev)+V) / (c(prev,cur)+1))`` per
    doc, i.e. add-1-smoothed bigram conditional surprisal under the
    corpus's own model.  Repetitive/templated text scores low (its
    bigrams are predictable), rare-construction text scores high —
    the signal CCNet-style filters actually rank on.

    Scale: the bigram count table is corpus-bigram-vocabulary-sized and
    BROADCASTS like the unigram table; both scoring joins are map-side,
    and the only shuffle is the per-doc average.  Pairs come from ONE
    tokenization per scan: posexplode feeds a per-doc lag window (the
    event_transitions shape), so no token array is ever re-inlined
    under a Generate (plan-linted)."""
    from pyspark.sql import Window

    from .operators.text import tokens

    d = t(spark, sf, "documents")
    tokp = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t")
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    pr = (
        tokp.withColumn("prev", F.lag("t").over(wl))
        .where(F.col("prev").isNotNull())
        .select("doc_id", "prev", F.col("t").alias("cur"))
    )
    tok = tokp.select("t")
    c1 = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c1"))
    v = tok.select(F.countDistinct("t").alias("v")).first()["v"]
    c2 = pr.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        pr.join(F.broadcast(c1), pr["prev"] == c1["t"])
        .join(F.broadcast(c2), ["prev", "cur"])
        .select(
            "doc_id",
            F.log(
                (F.col("c1").cast("double") + F.lit(float(v)))
                / (F.col("c2") + F.lit(1))
            ).alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        (F.floor(F.avg("s") * 1e6 + F.lit(0.5)) / 1e6).alias("surprisal")
    )


@query(
    "time_bucket_rollup",
    """
    WITH raw AS (
      SELECT ts, CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL
    )
    SELECT 'hour' AS level,
           strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP),
                    '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM raw GROUP BY 2
    UNION ALL
    SELECT 'day',
           strftime(CAST(date_trunc('day', ts) AS TIMESTAMP),
                    '%Y-%m-%d %H:%M:%S'),
           CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM raw GROUP BY 2
    UNION ALL
    SELECT 'month',
           strftime(CAST(date_trunc('month', ts) AS TIMESTAMP),
                    '%Y-%m-%d %H:%M:%S'),
           CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM raw GROUP BY 2
    """,
)
def q_time_bucket_rollup(spark, sf):
    """Hypertable continuous-aggregate cascade: hour buckets aggregate
    the raw rows ONCE; day and month roll up from the hour/day PARTIALS
    (sums of sums) without re-touching the raw table — the refresh
    pattern that makes multi-granularity dashboards O(buckets) at
    100 TB.  The oracle computes every level DIRECTLY from the raw rows,
    so the gate proves the partial cascade is lossless (decomposable
    measures in exact integer cents)."""
    from .operators.temporal import time_bucket_rollup

    return time_bucket_rollup(t(spark, sf, "events"))


@query(
    "event_transitions",
    """
    SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events
    )
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def q_event_transitions(spark, sf):
    """Markov transition matrix over per-user event streams: one user-key
    exchange feeds the lag window, then a map-side-combinable aggregate
    over at most |types|^2 keys — path analysis whose output is
    schema-sized regardless of corpus size."""
    from .operators.temporal import event_transitions

    return event_transitions(t(spark, sf, "events"))


@query(
    "streaming_transitions",
    """
    SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events
    )
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def q_streaming_transitions(spark, sf):
    """The transition matrix maintained INCREMENTALLY over a live
    3-micro-batch stream: per-user state holds only the last event, so
    transitions that straddle batch boundaries still count (the batch
    operator needs the whole history in a lag window; the stream needs
    O(1) state per user).  Final aggregated increments must equal the
    from-scratch batch oracle."""
    import glob as _glob
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from .streaming.stateful import streaming_transitions

    ev = t(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    # per-user IN-ORDER replay is this operator's contract (the Kafka
    # partition-by-key shape): write three time-split files explicitly
    # and give them strictly increasing mtimes — FileStreamSource orders
    # candidate files by modification time, while a single
    # repartitionByRange write leaves batch order to path luck (observed
    # boundary transitions mis-counted when batch 2 replayed first)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    d = tempfile.mkdtemp(prefix="stream_tr_")
    for i in range(3):
        cond = F.col("ts") >= F.lit(lo + i * span)
        if i < 2:
            cond = cond & (F.col("ts") < F.lit(lo + (i + 1) * span))
        part_dir = f"{d}/__part{i}"
        ev.where(cond if i > 0 else F.col("ts") < F.lit(lo + span)).coalesce(
            1
        ).write.mode("overwrite").parquet(part_dir)
        src = _glob.glob(f"{part_dir}/part-*.parquet")[0]
        dst = f"{d}/batch{i}.parquet"
        shutil.move(src, dst)
        shutil.rmtree(part_dir)
        mt = _time.time() + i * 10
        os.utime(dst, (mt, mt))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = streaming_transitions(stream)
    sink = f"stream_tr_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(
        f"""
        SELECT prev_type, next_type, CAST(SUM(n) AS BIGINT) AS n
        FROM {sink} GROUP BY prev_type, next_type
        """
    )


@query(
    "sampled_quantiles",
    """
    WITH s AS (
      SELECT l_extendedprice FROM lineitem
      WHERE CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000 < 1000
    )
    SELECT
      round(quantile_cont(l.l_extendedprice, 0.25), 6) AS p25_exact,
      round(quantile_cont(l.l_extendedprice, 0.50), 6) AS p50_exact,
      round(quantile_cont(l.l_extendedprice, 0.75), 6) AS p75_exact,
      round(quantile_cont(l.l_extendedprice, 0.95), 6) AS p95_exact,
      (SELECT round(quantile_cont(l_extendedprice, 0.25), 6) FROM s) AS p25_est,
      (SELECT round(quantile_cont(l_extendedprice, 0.50), 6) FROM s) AS p50_est,
      (SELECT round(quantile_cont(l_extendedprice, 0.75), 6) FROM s) AS p75_est,
      (SELECT round(quantile_cont(l_extendedprice, 0.95), 6) FROM s) AS p95_est
    FROM lineitem l
    """,
)
def q_sampled_quantiles(spark, sf):
    """Quantile estimation from a deterministic 10% hash sample, emitted
    NEXT TO the exact quantiles — the third estimator-quality gate
    (minhash→similarity, count-min→frequency, hash-sample→quantiles).
    At 100 TB exact percentile buffers every group value; the sample
    path bounds that buffer by the sample rate while the gate pins how
    much accuracy the rate buys.  The md5 basis-point sample is the
    same cross-engine primitive hash_sample uses."""
    from .operators.sampling import hash_sample

    li = t(spark, sf, "lineitem")
    s = hash_sample(li, "l_orderkey", 1000)

    def qs(df, suffix):
        # ONE percentile call with an array of probabilities: separate
        # percentile(col, p) aggregates each buffer the full column
        # (4x the value buffer and 4 sorts — measured 8.9s -> ~2s at
        # sf0.1); the array form buffers and sorts once
        agg = df.agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D, 0.95D))"
            ).alias("qs")
        )
        return agg.select(
            *[
                F.round(F.col("qs")[i], 6).alias(f"p{int(p * 100)}_{suffix}")
                for i, p in enumerate((0.25, 0.50, 0.75, 0.95))
            ]
        )

    return qs(li, "exact").crossJoin(qs(s, "est"))


@query(
    "value_histogram",
    """
    SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def q_value_histogram(spark, sf):
    ev = t(spark, sf, "events")
    return ev.groupBy(
        F.floor(F.col("value") / 50).cast("long").alias("bucket")
    ).agg(F.count("*").alias("n"))


@query(
    "tpch_q5",
    """
    SELECT n_name,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark, sf):
    """TPC-H Q5 shape: one fact table, five dims — every dim broadcast, the
    fact shuffles once for the order join; exact cent math for the oracle."""
    from pyspark.sql.functions import broadcast

    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(cents).alias("revenue_cents"))
    )


@query(
    "remote_series_udtf",
    """
    SELECT p_partkey, unnest(range(0, p_size % 6)) AS series
    FROM part WHERE p_size % 6 > 0
    """,
)
def q_remote_series(spark, sf):
    """Table function evaluated over Arrow Flight (reference
    call_table_function): executors stream batches to the UdfFlightServer
    and gather the (row, value) fan-out back onto the passthrough key."""
    from arrow_udf_spark import GLOBAL
    from .sources.flight import remote_table, serve_registry

    uri = serve_registry(GLOBAL)
    p = t(spark, sf, "part").select(
        "p_partkey", (F.col("p_size") % 6).cast("int").alias("n")
    )
    out = remote_table(p, uri, "series", cols=["n"], passthrough=["p_partkey"])
    return out.select("p_partkey", F.col("series").cast("long").alias("series"))


@query(
    "remote_ref_gcd",
    """
    SELECT l_orderkey, l_linenumber, gcd(l_partkey, l_suppkey) AS gcd
    FROM lineitem
    """,
)
def q_remote_ref_gcd(spark, sf):
    """Live interop, reference side: the server process runs the REFERENCE
    implementation (arrow_udf.UdfServer, arrow-udf-remote/python/arrow_udf/
    __init__.py:356-436, imported unmodified from the read-only tree); our
    Spark executors call it through sources/flight.py.  Discovery decoding,
    the schema-concat trick (total_records = #args) and the exchange
    framing are therefore proven against the reference's actual wire
    behavior, not a self-test."""
    from .sources.flight import remote_scalar
    from .sources.ref_interop import serve_reference

    uri = serve_reference()
    li = t(spark, sf, "lineitem")
    return remote_scalar(
        li,
        uri,
        "gcd",
        cols=["l_partkey", "l_suppkey"],
        passthrough=["l_orderkey", "l_linenumber"],
    )


@query(
    "remote_ref_decimal_add",
    """
    SELECT p_partkey,
           CAST(CAST(printf('%.2f', p_retailprice) AS DECIMAL(38,2))
                + CAST(printf('%.2f', p_retailprice * 0.1) AS DECIMAL(38,2))
                AS VARCHAR) AS dsum
    FROM part
    """,
)
def q_remote_ref_decimal_add(spark, sf):
    """Extension-type interop with the reference server: decimal strings
    cross the Flight boundary as the reference's ``arrowudf.decimal``
    EXTENSION type (client wraps storage arrays to the advertised ext
    type so the server's row loop receives Decimals, and unwraps the ext
    result back to utf8 for Spark).  A raw-string send would silently
    CONCATENATE on the server — this query proves the wrapping."""
    from .sources.flight import remote_scalar
    from .sources.ref_interop import serve_reference

    uri = serve_reference()
    p = t(spark, sf, "part")
    src = p.select(
        "p_partkey",
        F.format_string("%.2f", "p_retailprice").alias("a"),
        F.format_string("%.2f", F.col("p_retailprice") * 0.1).alias("b"),
    )
    out = remote_scalar(
        src, uri, "decimal_add", cols=["a", "b"], passthrough=["p_partkey"]
    )
    return out.select("p_partkey", F.col("decimal_add").alias("dsum"))


@query(
    "remote_ref_json_access",
    """
    SELECT event_id,
           CAST(CASE WHEN event_id % 2 = 0 THEN user_id
                ELSE event_id END AS VARCHAR) AS elem
    FROM events
    """,
)
def q_remote_ref_json_access(spark, sf):
    """arrowudf.json extension-type interop (reference json_array_access,
    example.py:111-115): the client ships JSON text wrapped as the
    server's advertised ext type, the reference server's JsonScalar
    parses it to a Python list, indexes it, and returns a JSON ext result
    our client unwraps back to utf8."""
    from .sources.flight import remote_scalar
    from .sources.ref_interop import serve_reference

    uri = serve_reference()
    ev = t(spark, sf, "events")
    src = ev.select(
        "event_id",
        F.to_json(F.array("user_id", "event_id")).alias("j"),
        (F.col("event_id") % 2).cast("int").alias("i"),
    )
    out = remote_scalar(
        src, uri, "json_array_access", cols=["j", "i"], passthrough=["event_id"]
    )
    return out.select("event_id", F.col("json_array_access").alias("elem"))


@query(
    "remote_ref_tcp_info",
    """
    SELECT doc_id,
           CAST(('0x' || substr(h, 25, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 27, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 29, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 31, 2)) AS INT) AS src_addr,
           CAST(('0x' || substr(h, 33, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 35, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 37, 2)) AS INT) || '.' ||
           CAST(('0x' || substr(h, 39, 2)) AS INT) AS dst_addr,
           CAST(('0x' || substr(h, 41, 4)) AS INT) AS src_port,
           CAST(('0x' || substr(h, 45, 4)) AS INT) AS dst_port
    FROM (SELECT doc_id, md5(text) || md5(reverse(text)) AS h FROM documents)
    """,
)
def q_remote_ref_tcp_info(spark, sf):
    """STRUCT results across the wire from the reference server (binary ->
    struct-of-4, reference example.py:47-61): proves nested result types
    through the reference's do_exchange + our client's schema mapping."""
    from .sources.flight import remote_scalar
    from .sources.ref_interop import serve_reference

    uri = serve_reference()
    d = t(spark, sf, "documents")
    src = d.select(
        "doc_id",
        F.unhex(F.concat(F.md5("text"), F.md5(F.reverse(F.col("text"))))).alias(
            "pkt"
        ),
    )
    out = remote_scalar(
        src, uri, "extract_tcp_info", cols=["pkt"], passthrough=["doc_id"]
    )
    info = F.col("extract_tcp_info")
    return out.select(
        "doc_id",
        info.getField("src_addr").alias("src_addr"),
        info.getField("dst_addr").alias("dst_addr"),
        info.getField("src_port").alias("src_port"),
        info.getField("dst_port").alias("dst_port"),
    )


@query(
    "remote_ref_series_udtf",
    """
    SELECT p_partkey, unnest(range(0, p_size % 6)) AS series
    FROM part WHERE p_size % 6 > 0
    """,
)
def q_remote_ref_series(spark, sf):
    """Reference-server table function (@udtf, reference example.py:64-69
    shape) called by our remote_table client over Arrow Flight."""
    from .sources.flight import remote_table
    from .sources.ref_interop import serve_reference

    uri = serve_reference()
    p = t(spark, sf, "part").select(
        "p_partkey", (F.col("p_size") % 6).cast("long").alias("n")
    )
    out = remote_table(p, uri, "series", cols=["n"], passthrough=["p_partkey"])
    return out.select("p_partkey", F.col("series").cast("long").alias("series"))


@query(
    "view_roundtrip",
    """
    SELECT doc_id, text AS text_rt,
           CAST(strlen(text) AS INT) AS len,
           CAST(strlen(text) AS INT) AS blen
    FROM documents
    """,
)
def q_view_roundtrip(spark, sf):
    """Utf8View/BinaryView round-trip (reference runtime view converters,
    arrow-udf-runtime/src/python/pyarrow.rs:188-197; test
    tests/python.rs:1141): inside mapInArrow each text batch is rebuilt as
    a string_view / binary_view array, fed through the scalar eval core
    (length over utf8 bytes, length over binary), and the view text is
    round-tripped back to utf8 — proving view-backed inputs flow through
    the framework unchanged.  (pyarrow 16 has no utf8<->view cast kernels,
    so arrays are constructed as views directly.)"""
    import pyarrow as pa

    from .operators.scalar import _eval_arrays

    len_spec = C.length._spec()
    lenb_spec = C.length_bin._spec()

    def conv(batches):
        for b in batches:
            txt = b.column(1).to_pylist()
            sv = pa.array(txt, type=pa.string_view())  # Utf8View input
            bv = pa.array(
                [None if s is None else s.encode("utf-8") for s in txt],
                type=pa.binary_view(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pa.array(sv.to_pylist(), type=pa.string()),
                    _eval_arrays(len_spec, sv),
                    _eval_arrays(lenb_spec, bv),
                ],
                names=["doc_id", "text_rt", "len", "blen"],
            )

    d = t(spark, sf, "documents").select("doc_id", "text")
    return d.mapInArrow(conv, "doc_id long, text_rt string, len int, blen int")


@query(
    "http_fetch_corpus",
    """
    SELECT n_nationkey,
           CASE WHEN n_nationkey = 13 THEN NULL
                ELSE 'payload-' || n_nationkey END AS body,
           CASE WHEN n_nationkey = 13 THEN 'HTTP Error 404: Not Found'
                END AS error
    FROM nation
    """,
)
def q_http_fetch(spark, sf):
    """A22 fetch() under the oracle gate: a loopback HTTP fixture serves
    deterministic bodies; executors GET per row through the fallible
    ``http_get`` UDF (io_threads concurrency + deadline).  One row hits a
    404 and must land in the error column, not fail the task (reference
    javascript_fetch.rs:58-533, error paths :506-533)."""
    from .functions.net import make_http_get, serve_echo_fixture
    from .plans.registry import Registry

    base = serve_echo_fixture()
    fn = make_http_get(name="http_get_q", registry=Registry())
    n = t(spark, sf, "nation")
    url = F.when(
        F.col("n_nationkey") == 13, F.lit(f"{base}/missing/13")
    ).otherwise(F.concat(F.lit(f"{base}/echo/"), F.col("n_nationkey")))
    src = n.select("n_nationkey", url.alias("u"))
    return fn.apply(
        src, cols=["u"], passthrough=["n_nationkey"], value_alias="body"
    )


@query(
    "timeout_error_corpus",
    """
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 5 = 0 THEN NULL
                ELSE n_nationkey * 2 END AS v,
           CASE WHEN n_nationkey % 5 = 0 THEN 'timeout' END AS error
    FROM nation
    """,
)
def q_timeout_error(spark, sf):
    """A21 timeout half under the oracle gate: rows that sleep past the
    1 s per-call deadline must surface as ``error='timeout'`` rows (value
    NULL), everything else computes — the watchdog never aborts the batch
    or the executor (reference javascript/mod.rs:245-260, test
    javascript.rs:1246)."""
    n = t(spark, sf, "nation")
    return C.sleepy_double.apply(
        n, cols=["n_nationkey"], passthrough=["n_nationkey"], value_alias="v"
    )


@query(
    "resample_ffill",
    """
    WITH obs AS (
        SELECT user_id, epoch_us(ts) AS us, max(value) AS v
        FROM events GROUP BY user_id, epoch_us(ts)
    ), grid AS (
        SELECT u.user_id,
               CAST(1704067200000000 + t.i * 86400000000 AS BIGINT) AS tick
        FROM (SELECT DISTINCT user_id FROM events) u
        CROSS JOIN (SELECT unnest(range(0, 14)) AS i) t
    )
    SELECT g.user_id, g.tick, o.v AS value
    FROM grid g
    ASOF LEFT JOIN obs o
      ON g.user_id = o.user_id AND g.tick >= o.us
    """,
)
def q_resample_ffill(spark, sf):
    """Time-series gap fill: daily grid per user over 2024-01-01..-15,
    forward-filled from irregular events (hypertable-rollup primitive)."""
    from .operators.temporal import resample_ffill

    start = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in micros
    step = 86_400_000_000
    ev = (
        t(spark, sf, "events")
        .select("user_id", "us", "value")
        .groupBy("user_id", "us")
        .agg(F.max("value").alias("value"))
    )
    out = resample_ffill(
        ev, key="user_id", ts="us", value="value",
        step=step, start=start, end=start + 14 * step,
    )
    return out.select("user_id", F.col("us").alias("tick"), "value")


@query(
    "decimal_native_math",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(printf('%.2f', l_extendedprice) AS DECIMAL(30,10))
                + CAST(printf('%.2f', l_discount * 100) AS DECIMAL(30,10))
                AS VARCHAR) AS dsum,
           CAST(CAST(printf('%.2f', l_extendedprice) AS DECIMAL(30,10))
                - CAST(printf('%.2f', l_tax * 100) AS DECIMAL(30,10))
                AS VARCHAR) AS ddiff
    FROM lineitem
    """,
)
def q_decimal_native_math(spark, sf):
    """Native bounded-decimal arithmetic (reference decimal128/256 math,
    javascript.rs:333-420) carried by Spark's DecimalType — exact at
    (30,10) on both engines (precision 30 so the sum keeps scale 10 —
    at 38 Spark caps precision and drops the result to scale 9), stringified for the hash."""
    li = t(spark, sf, "lineitem")
    a = F.format_string("%.2f", "l_extendedprice").cast("decimal(30,10)")
    b = F.format_string("%.2f", F.col("l_discount") * 100).cast("decimal(30,10)")
    c = F.format_string("%.2f", F.col("l_tax") * 100).cast("decimal(30,10)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (a + b).cast("string").alias("dsum"),
        (a - c).cast("string").alias("ddiff"),
    )


@query(
    "tfidf_topterms",
    """
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE doc_id < 200
    ), tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM words GROUP BY doc_id, word
    ), df AS (
        SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM words
        GROUP BY word
    ), n AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM words
    ), scored AS (
        SELECT tf.doc_id, tf.word,
               tf.tf * (CAST(n.n AS DOUBLE) / df.df) AS score,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * (CAST(n.n AS DOUBLE) / df.df)
                                           DESC, tf.word) AS rk
        FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    )
    SELECT doc_id, word, floor(score * 1000000 + 0.5) / 1000000 AS score
    FROM scored WHERE rk <= 3
    """,
)
def q_tfidf_topterms(spark, sf):
    """TF-IDF top-3 terms per document: UDTF tokenization feeding joins +
    window top-k — one composed Catalyst plan.  Linear idf (tf * N/df,
    identical op order both engines) keeps doubles bit-deterministic; libm
    `ln` is NOT guaranteed identical across engines."""
    from pyspark.sql import Window

    d = t(spark, sf, "documents").where(F.col("doc_id") < 200)
    words = C.split_words.apply(d, cols=["text"], passthrough=["doc_id"]).select(
        "doc_id", F.col("split_words").getField("word").alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_ = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = words.select(F.countDistinct("doc_id").alias("n"))
    score = F.col("tf") * (F.col("n").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("word").asc())
    scored = (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(n))
        .withColumn("rk", F.row_number().over(w))
    )
    return (
        scored.where(F.col("rk") <= 3)
        .select(
            "doc_id",
            "word",
            (F.floor(score * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("score"),
        )
    )


@query(
    "global_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def q_global_topk(spark, sf):
    """Global top-k: ORDER BY + LIMIT compiles to TakeOrderedAndProject —
    per-partition heaps + a k-row driver merge, never a full sort/shuffle
    of the table (the only sane global-ordering plan at 100 TB)."""
    o = t(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@query(
    "pivot_agg",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_linestatus = 'F') AS VARCHAR) AS qty_F,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_linestatus = 'O') AS VARCHAR) AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot_agg(spark, sf):
    li = t(spark, sf, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")))
    )
    return out.select(
        "l_returnflag",
        F.col("F").cast("string").alias("qty_F"),
        F.col("O").cast("string").alias("qty_O"),
    )


@query(
    "upsert_latest",
    """
    SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
        FROM events
    ) WHERE rk = 1
    """,
)
def q_upsert_latest(spark, sf):
    """Latest-state compaction (the batch upsert / SCD-1 pattern): one
    window per key keeps the newest row — the standard way to materialize
    a changelog into current state at scale."""
    from pyspark.sql import Window

    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "event_id", "value")
    )


@query(
    "negative_pairs",
    """
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    pairs AS (
        SELECT d.doc_id, t.j,
               CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                        || CAST(t.j AS VARCHAR)), 1, 8))
                    AS BIGINT) % n.n AS partner
        FROM documents d
        CROSS JOIN (SELECT unnest(range(0, 3)) AS j) t
        CROSS JOIN n
    )
    SELECT p.doc_id, p.j, p.partner,
           CAST(d2.n_chars AS BIGINT) AS partner_chars
    FROM pairs p JOIN documents d2 ON p.partner = d2.doc_id
    """,
)
def q_negative_pairs(spark, sf):
    """Deterministic negative sampling for contrastive pairs: md5-derived
    partner ids joined back equi-style — reproducible, shuffle-once."""
    from .operators.sampling import negative_pairs

    d = t(spark, sf, "documents")
    n_rows = d.count()
    pairs = negative_pairs(d, key="doc_id", k=3, n_rows=n_rows)
    partner_side = d.select(
        F.col("doc_id").alias("partner"), F.col("n_chars").alias("partner_chars")
    )
    return pairs.join(partner_side, "partner").select(
        "doc_id", "j", "partner", F.col("partner_chars").cast("long").alias("partner_chars")
    )


@query(
    "semi_anti_join",
    """
    SELECT 'with_orders' AS grp, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer c WHERE EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS grp, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer c WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_semi_anti_join(spark, sf):
    """left_semi / left_anti carriers (SURVEY §2.C joins row): existence
    joins that never materialize the match fan-out — the right plan shape
    for 'has any orders' predicates at fact-table scale."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return semi.agg(
        F.lit("with_orders").alias("grp"), F.count("*").alias("n")
    ).unionAll(
        anti.agg(F.lit("without_orders").alias("grp"), F.count("*").alias("n"))
    )


@query(
    "set_ops_full",
    """
    SELECT 'union_all' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT c_custkey AS k FROM customer
        UNION ALL SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT c_custkey AS k FROM customer
        EXCEPT ALL SELECT o_custkey FROM orders)
    """,
)
def q_set_ops_full(spark, sf):
    c = t(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    o = t(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    ua = c.unionAll(o).agg(F.lit("union_all").alias("op"), F.count("*").alias("n"))
    ea = c.exceptAll(o).agg(F.lit("except_all").alias("op"), F.count("*").alias("n"))
    return ua.unionAll(ea)


@query(
    "string_agg_nations",
    """
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_string_agg(spark, sf):
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.groupBy("r_name").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@query(
    "stats_aggs",
    """
    SELECT l_returnflag,
           floor(stddev_samp(l_quantity) * 1000000 + 0.5) / 1000000 AS sd,
           floor(var_samp(l_quantity) * 1000000 + 0.5) / 1000000 AS var,
           floor(corr(l_quantity, l_extendedprice) * 1000000 + 0.5) / 1000000
               AS cr
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stats_aggs(spark, sf):
    li = t(spark, sf, "lineitem")

    def r6(c):
        return F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000

    return li.groupBy("l_returnflag").agg(
        r6(F.stddev_samp("l_quantity")).alias("sd"),
        r6(F.var_samp("l_quantity")).alias("var"),
        r6(F.corr("l_quantity", "l_extendedprice")).alias("cr"),
    )


@query(
    "expr_breadth",
    """
    SELECT o_orderkey,
           regexp_extract(o_orderpriority, '([0-9]+)', 1) AS prio_num,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           least(o_custkey, o_orderkey % 1000) AS lo,
           greatest(o_custkey, o_orderkey % 1000) AS hi,
           concat_ws('|', o_orderstatus, o_orderpriority) AS tag
    FROM orders
    """,
)
def q_expr_breadth(spark, sf):
    """Scalar function-library carrier: regex extraction, date truncation,
    least/greatest, multi-arg concat — the everyday expression surface,
    all whole-stage-codegen JVM expressions."""
    o = t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"([0-9]+)", 1).alias("prio_num"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month"
        ),
        F.least(F.col("o_custkey"), F.col("o_orderkey") % 1000).alias("lo"),
        F.greatest(F.col("o_custkey"), F.col("o_orderkey") % 1000).alias("hi"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("tag"),
    )


@query(
    "uint64_widening",
    """
    SELECT o_orderkey,
           CAST(CAST(o_orderkey AS DECIMAL(20,0))
                + CAST('9223372036854775808' AS DECIMAL(20,0)) AS VARCHAR)
               AS u64
    FROM orders
    """,
)
def q_uint64_widening(spark, sf):
    """uint64 widening rule (SURVEY §1.2): Spark has no unsigned types, so
    uint64 maps to DECIMAL(20,0) — here values past int64 max (2^63)
    round-trip exactly through the widened representation."""
    o = t(spark, sf, "orders")
    u = F.col("o_orderkey").cast("decimal(20,0)") + F.lit(
        "9223372036854775808"
    ).cast("decimal(20,0)")
    return o.select("o_orderkey", u.cast("string").alias("u64"))


# ---------------------------------------------------------------------------
# TPC-H breadth (beyond q1/q3/q5/q6): the remaining queries expressible on
# the driver's column subset (no partsupp table; lineitem lacks
# commitdate/receiptdate/shipmode, so q2/q4/q9/q11/q12/q16/q19-21 are out of
# scope — documented in COVERAGE.md).  All revenue math is quantized to
# BIGINT cents per-row so Spark and DuckDB sums match bit-exactly.
# ---------------------------------------------------------------------------


@query(
    "tpch_q14",
    """
    WITH j AS (
        SELECT p_type,
               CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT) AS cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    )
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
                AS BIGINT) AS promo_cents,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           floor(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
                 / SUM(cents) * 1e6 + 0.5) / 1e6 AS promo_pct
    FROM j
    """,
)
def q_tpch_q14(spark, sf):
    """TPC-H Q14 (promotion effect): fact filtered by ship month, part dim
    broadcast, conditional aggregation.  The percentage divides two exact
    BIGINT cent sums in the same operation order on both engines."""
    from pyspark.sql.functions import broadcast

    li = t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    p = t(spark, sf, "part").select("p_partkey", "p_type")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    j = li.join(broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_type", cents.alias("cents")
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("cents")).otherwise(0))
    total = F.sum("cents")
    return j.agg(
        promo.cast("long").alias("promo_cents"),
        total.cast("long").alias("total_cents"),
        (F.floor(F.lit(100.0) * promo / total * 1e6 + F.lit(0.5)) / 1e6).alias(
            "promo_pct"
        ),
    )


@query(
    "tpch_q18",
    """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS VARCHAR) AS odate,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS totalprice_cents,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(l_quantity) > 300
    """,
)
def q_tpch_q18(spark, sf):
    """TPC-H Q18 (large-volume customer): the fact is pre-aggregated to
    per-order quantity BEFORE joining dims, so the expensive groupBy runs on
    the narrow (orderkey, qty) projection and the surviving ~0.3% of orders
    join customer via broadcast.  l_quantity is integer-valued, so the
    double sum is exact and casts cleanly to BIGINT on both engines."""
    from pyspark.sql.functions import broadcast

    li = t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 300)
    )
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("odate"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("totalprice_cents"),
            F.col("qty").cast("long").alias("total_qty"),
        )
    )


@query(
    "tpch_q15",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                                   + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, revenue_cents
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE revenue_cents = (SELECT MAX(revenue_cents) FROM rev)
    """,
)
def q_tpch_q15(spark, sf):
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, then keep
    the max.  The max is taken with a rank() window over the already tiny
    per-supplier aggregate (|suppliers| rows), not a driver collect."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    li = t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents).alias("revenue_cents"))
    top = rev.withColumn(
        "rk", F.rank().over(Window.orderBy(F.col("revenue_cents").desc()))
    ).where(F.col("rk") == 1)
    s = t(spark, sf, "supplier")
    return top.join(broadcast(s), top.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "revenue_cents"
    )


@query(
    "tpch_q10",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark, sf):
    """TPC-H Q10 (returned-item reporting, projection adapted to the driver
    schema: no c_address/c_phone/c_comment columns exist).  Fact filtered on
    returnflag, quarter-filtered orders joined on the shuffle, customer and
    nation dims broadcast; deterministic top-20 via (revenue, custkey)."""
    from pyspark.sql.functions import broadcast

    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    o = t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    li = t(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("acctbal_cents"),
            "revenue_cents",
        )
    )


@query(
    "tpch_q13",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark, sf):
    """TPC-H Q13 (customer order-count distribution; the reference's
    o_comment NOT LIKE filter is dropped — the driver schema has no
    o_comment).  Two-level aggregation: the second groupBy runs on an
    already-aggregated |customers|-row input, so only one full-size
    shuffle touches the orders table."""
    c = t(spark, sf, "customer").select("c_custkey")
    o = t(spark, sf, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "tpch_q7",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS yr,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def q_tpch_q7(spark, sf):
    """TPC-H Q7 (volume shipping between two nations; names adapted to the
    driver's NATION_n values).  Both nation dims are pre-filtered to the two
    relevant rows and broadcast through supplier/customer, so the nation
    predicate prunes the fact early instead of after a 6-way join."""
    from pyspark.sql.functions import broadcast

    nations = ("NATION_1", "NATION_2")
    n1 = t(spark, sf, "nation").where(F.col("n_name").isin(*nations))
    n2 = n1.select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("cust_nation")
    )
    s = t(spark, sf, "supplier").join(
        broadcast(n1), F.col("s_nationkey") == n1.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = t(spark, sf, "customer").join(
        broadcast(n2), F.col("c_nationkey") == F.col("n2_nationkey")
    ).select("c_custkey", "cust_nation")
    li = t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .where(
            ((F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1]))
            | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("yr"))
        .agg(F.sum(cents).alias("revenue_cents"))
    )


@query(
    "tpch_q8",
    """
    WITH vol AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT) AS cents,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1998-01-01'
    )
    SELECT yr,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN cents ELSE 0 END)
                AS BIGINT) AS nation_cents,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           floor(1.0 * SUM(CASE WHEN supp_nation = 'NATION_1' THEN cents
                           ELSE 0 END) / SUM(cents) * 1e6 + 0.5) / 1e6
               AS mkt_share
    FROM vol GROUP BY yr
    """,
)
def q_tpch_q8(spark, sf):
    """TPC-H Q8 (national market share, names adapted to the driver data):
    NATION_1's share of ECONOMY-part revenue sold into ASIA per year.  All
    five dims are filtered before joining and broadcast; the lineitem fact
    shuffles once (order join).  Share divides two exact BIGINT cent sums
    in the same operation order on both engines."""
    from pyspark.sql.functions import broadcast

    p = t(spark, sf, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    r = t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n1 = t(spark, sf, "nation").join(
        broadcast(r), F.col("n_regionkey") == r.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = t(spark, sf, "customer").join(
        broadcast(n1), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    n2 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    s = t(spark, sf, "supplier").join(
        broadcast(n2), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "supp_nation")
    o = t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = t(spark, sf, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    vol = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.year("o_orderdate").cast("long").alias("yr"),
            cents.alias("cents"),
            "supp_nation",
        )
    )
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("cents")).otherwise(0))
    tot = F.sum("cents")
    return vol.groupBy("yr").agg(
        nat.cast("long").alias("nation_cents"),
        tot.cast("long").alias("total_cents"),
        (F.floor(F.lit(1.0) * nat / tot * 1e6 + F.lit(0.5)) / 1e6).alias("mkt_share"),
    )


@query(
    "tpch_q17",
    """
    WITH li AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
    ), st AS (
        SELECT l_partkey,
               0.2 * (SUM(l_quantity) / COUNT(*)) AS thr
        FROM li GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           floor(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 / 7.0 * 1e6 + 0.5) / 1e6 AS avg_yearly_cents
    FROM li JOIN st ON li.l_partkey = st.l_partkey
    WHERE l_quantity < thr
    """,
)
def q_tpch_q17(spark, sf):
    """TPC-H Q17 (small-quantity-order revenue; predicate adapted — the
    driver schema has no p_container, so the part filter is brand-only).
    The per-part average is computed as an aggregate and joined back on
    l_partkey, so both sides of the correlated subquery share one shuffle
    partitioning instead of a windowed second scan.  The threshold
    0.2*(sum/count) uses integer-valued doubles — exact on both engines."""
    from pyspark.sql.functions import broadcast

    p = t(spark, sf, "part").where(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = (
        t(spark, sf, "lineitem")
        .join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    st = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * (F.sum("l_quantity") / F.count("*"))).alias("thr")
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    total = F.sum(cents)
    return (
        li.join(st, "l_partkey")
        .where(F.col("l_quantity") < F.col("thr"))
        .agg(
            total.cast("long").alias("revenue_cents"),
            (F.floor(total / 7.0 * 1e6 + F.lit(0.5)) / 1e6).alias(
                "avg_yearly_cents"
            ),
        )
    )


@query(
    "chunk_documents",
    """
    WITH idx AS (
        SELECT doc_id, n_chars, text,
               unnest(range(0, (n_chars + 149) // 150)) AS i
        FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 150 AS BIGINT) AS start_pos,
           CAST(least(i * 150 + 200, n_chars) AS BIGINT) AS end_pos,
           substr(text, CAST(i * 150 + 1 AS BIGINT),
                  CAST(least(i * 150 + 200, n_chars) - i * 150 AS BIGINT))
               AS chunk_text
    FROM idx
    """,
)
def q_chunk_documents(spark, sf):
    """Sliding-window chunking (200-char windows, 150-char stride, 50-char
    overlap) over the documents table — the standard pre-tokenization step
    of an LLM data pipeline, kept entirely JVM-side."""
    from .operators.text import chunk_documents

    return chunk_documents(t(spark, sf, "documents"))


@query(
    "corpus_mixture",
    """
    WITH w(source, rate_bp) AS (
        VALUES ('src0', 10000), ('src1', 5000), ('src2', 2500)
    )
    SELECT doc_id, source FROM documents d
    LEFT JOIN w USING (source)
    WHERE CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000 < coalesce(rate_bp, 1000)
    """,
)
def q_corpus_mixture(spark, sf):
    """Corpus mixture sampling: keep src0 at 100%, src1 at 50%, src2 at
    25%, everything else at 10% — deterministic md5 Bernoulli per doc, so
    the sampled set is identical across engines, re-runs, and cluster
    sizes (no rand(), no per-partition state)."""
    from .operators.sampling import stratified_sample

    d = t(spark, sf, "documents").select("doc_id", "source")
    return stratified_sample(
        d,
        stratum="source",
        key="doc_id",
        rates_bp={"src0": 10000, "src1": 5000, "src2": 2500},
        default_bp=1000,
        salt="mix",
    )


@query(
    "repetition_ratio",
    r"""
    WITH tk AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ), g AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                    ELSE CAST([] AS VARCHAR[]) END AS g
        FROM tk
    )
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_unique,
           CASE WHEN len(g) > 0
                THEN floor((1.0 - 1.0 * len(list_distinct(g)) / len(g)) * 1e6
                           + 0.5) / 1e6
                END AS dup_ratio
    FROM g
    """,
)
def q_repetition_ratio(spark, sf):
    """Duplicate-trigram ratio per document (Gopher repetition filter)."""
    from .operators.text import repetition_ratio

    return repetition_ratio(t(spark, sf, "documents"))


@query(
    "gopher_repetition",
    # Gopher char-coverage repetition rules: frac of word chars in all
    # occurrences of the most frequent 2-gram, and frac of word chars
    # covered (each position once) by duplicated 5-grams.  Tie-break for
    # the top 2-gram is (count DESC, gram ASC) — a total order, so the
    # winner is cross-engine deterministic.
    r"""
    WITH doct AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' ' || text
                    WHEN doc_id % 5 = 1 THEN text || ' ' || array_to_string(
                        regexp_split_to_array(trim(text), '\s+')[1:5], ' ')
                    ELSE text END AS text
        FROM documents
    ), tk AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM doct
    ), base AS (
        SELECT doc_id, t, len(t) AS n_words,
               CAST(list_aggregate(list_transform(t, w -> length(w)), 'sum')
                    AS BIGINT) AS total_chars
        FROM tk
    ), o2 AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS gram,
               length(t[i]) + length(t[i+1]) AS glen
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
              FROM base WHERE len(t) >= 2)
    ), g2 AS (
        SELECT doc_id, gram, count(*) AS cnt, min(glen) AS glen
        FROM o2 GROUP BY doc_id, gram
    ), top2 AS (
        SELECT doc_id, cnt * glen AS top2_chars
        FROM (SELECT doc_id, cnt, glen,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY cnt DESC, gram ASC) AS rn
              FROM g2) WHERE rn = 1
    ), o5 AS (
        SELECT doc_id, i AS start,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                    || ' ' || t[i+4] AS gram
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
              FROM base WHERE len(t) >= 5)
    ), g5 AS (
        SELECT doc_id, gram FROM o5
        GROUP BY doc_id, gram HAVING count(*) > 1
    ), cov AS (
        SELECT DISTINCT doc_id, idx FROM (
            SELECT o5.doc_id, unnest(range(o5.start, o5.start + 5)) AS idx
            FROM o5 JOIN g5 USING (doc_id, gram))
    ), d5 AS (
        SELECT cov.doc_id,
               CAST(SUM(length(base.t[CAST(cov.idx AS INT)])) AS BIGINT)
                   AS dup5_chars
        FROM cov JOIN base ON cov.doc_id = base.doc_id
        GROUP BY cov.doc_id
    )
    SELECT base.doc_id,
           CAST(base.n_words AS BIGINT) AS n_words,
           base.total_chars AS total_chars,
           CASE WHEN base.total_chars > 0
                THEN floor(1.0 * COALESCE(top2.top2_chars, 0)
                           / base.total_chars * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS frac_top2,
           CASE WHEN base.total_chars > 0
                THEN floor(1.0 * COALESCE(d5.dup5_chars, 0)
                           / base.total_chars * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS frac_dup5
    FROM base LEFT JOIN top2 USING (doc_id) LEFT JOIN d5 USING (doc_id)
    """,
)
def q_gopher_repetition(spark, sf):
    """Gopher character-coverage repetition filters (top-2-gram char
    fraction + duplicated-5-gram char coverage) — the char-weighted forms
    the paper specifies, distinct from ``repetition_ratio``'s count
    ratio.  Linear plan: one tokenization, one tagged-gram explode, one
    (doc, n, gram) count with map-side combine, one join back.

    The fixture corpus has no natural 5-gram duplicates, so the query
    doctors it deterministically — doc_id%5==0 self-concatenates (every
    gram duplicated, overlapping coverage must UNION to ~1.0, the
    double-count trap), %5==1 echoes the first five words (one duplicated
    gram, light coverage), the rest stay clean (0.0) — so all three
    regimes are load-bearing in the gate."""
    from .operators.text import gopher_repetition

    # spread: the tagged-gram explode is CPU-dominated map work and the
    # fixture scans as ONE task (measured 3.6 -> 1.7-3.3 s at sf0.1)
    d = t(spark, sf, "documents", spread=True)
    # substring_index, not a second split(trim): the doctoring must not
    # add a tokenization to the scan segment (plan-lint retokenize rule);
    # the fixture is single-space separated so the two forms agree
    head5 = F.substring_index(F.trim(F.col("text")), " ", 5)
    doctored = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.col("text"), F.lit(" "), head5),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return gopher_repetition(doctored)


@query(
    "char_entropy",
    r"""
    WITH ch AS (
        SELECT doc_id, c FROM (
            SELECT doc_id, unnest(string_split(text, '')) AS c
            FROM documents) WHERE c != ''
    ), cnt AS (
        SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c
    ), tot AS (
        SELECT doc_id, CAST(sum(n) AS BIGINT) AS total
        FROM cnt GROUP BY doc_id
    )
    SELECT cnt.doc_id,
           tot.total AS n_chars_counted,
           floor(-sum((1.0 * n / total) * ln(1.0 * n / total)) * 1e6 + 0.5)
               / 1e6 AS entropy
    FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
    GROUP BY cnt.doc_id, tot.total
    """,
)
def q_char_entropy(spark, sf):
    """Per-doc character-distribution Shannon entropy (nats, 6dp) — the
    cheap garbage/mojibake detector of the quality family.  Shuffled
    rows are O(docs · alphabet) after map-side combine, never O(total
    chars)."""
    from .operators.text import char_entropy

    return char_entropy(t(spark, sf, "documents"))


@query(
    "redact_pii",
    """
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
                              '<EMAIL>', 'g'),
               '[0-9]{6,}', '<NUM>', 'g') AS redacted
    FROM documents
    """,
)
def q_redact_pii(spark, sf):
    """Email + long-digit-run scrubbing over the documents corpus."""
    from .operators.text import redact_pii

    return redact_pii(t(spark, sf, "documents"))


@query(
    "tpch_q19",
    """
    SELECT CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q_tpch_q19(spark, sf):
    """TPC-H Q19 (discounted revenue, predicates adapted — no
    p_container/shipmode columns exist; the brand/size/quantity
    disjunction structure is preserved).  Catalyst splits the disjunction:
    the common part-side condition (brand IN, size <= 30) prunes the
    broadcast build side, the quantity ranges filter the fact at the scan,
    and the full disjunction evaluates once post-join."""
    from pyspark.sql.functions import broadcast

    p = t(spark, sf, "part")
    li = t(spark, sf, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 20)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 30)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(F.sum(cents).alias("revenue_cents"))
    )


@query(
    "normalize_text",
    r"""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash
    FROM documents
    """,
)
def q_normalize_text(spark, sf):
    # canonicalization ahead of content-hash dedup; md5 of the normal form
    # proves byte-identical normalization across engines
    from .operators.text import normalize_text

    d = t(spark, sf, "documents")
    n = normalize_text("text")
    return d.select("doc_id", n.alias("norm"), F.md5(n).alias("norm_hash"))


@query(
    "source_quota",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents)
    WHERE rn <= 10
    """,
)
def q_source_quota(spark, sf):
    # per-domain quota: keep a deterministic md5-ordered sample of at most
    # 10 docs per source (corpus balancing / anti-spam capping)
    from .operators.text import source_quota

    d = t(spark, sf, "documents")
    return source_quota(d, quota=10).select("doc_id", "source")


@query(
    "unigram_surprisal",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DD_TOKS}) AS t FROM documents
    ),
    cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT count(*) AS n FROM tok)
    SELECT doc_id,
           floor(avg(ln(CAST(n AS DOUBLE) / c)) * 1e6 + 0.5) / 1e6
             AS surprisal
    FROM tok JOIN cnt USING (t) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_unigram_surprisal(spark, sf):
    """CCNet-style language-model quality proxy: mean token surprisal
    ``avg(ln(N / count(token)))`` under the corpus's own unigram model.
    Low = common boilerplate-ish text, high = rare-token text.

    Two passes over documents (vocab counts, then scoring) — the standard
    shape; the count table is corpus-vocabulary-sized and BROADCASTS, so
    the scoring pass is map-side and the only shuffle is the per-doc avg.
    """
    from .operators.text import tokens

    d = t(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tk"))
    cnt = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("c"))
    total = tok.count()  # scalar: corpus token count (an O(1) driver value)
    return (
        tok.join(F.broadcast(cnt), "tk")
        .groupBy("doc_id")
        .agg(
            (
                F.floor(
                    F.avg(F.log(F.lit(float(total)) / F.col("c"))) * 1e6 + 0.5
                )
                / 1e6
            ).alias("surprisal")
        )
    )


@query(
    "lsh_join_new_vs_ref",
    f"""
    WITH sig AS (
      SELECT doc_id,
             [list_aggregate(list_transform({_DD_TOKS}, t -> md5('0:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('1:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('2:' || t)), 'min'),
              list_aggregate(list_transform({_DD_TOKS}, t -> md5('3:' || t)), 'min')
             ] AS s
      FROM documents WHERE doc_id < 200
    ), bands AS (
      SELECT doc_id, 0 AS band, s[1] || '|' || s[2] AS bval FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, s[3] || '|' || s[4] AS bval FROM sig
    )
    SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
    FROM bands n JOIN bands r
      ON n.band = r.band AND n.bval = r.bval
    WHERE n.doc_id % 2 = 1 AND r.doc_id % 2 = 0
    """,
)
def q_lsh_join(spark, sf):
    # incremental-ingestion dedup: odd doc_ids are the "incoming batch",
    # even ids the existing reference corpus; pairs = new docs whose minhash
    # band collides with a reference doc
    from .operators.dedup import lsh_join

    d = t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return lsh_join(
        d.where(F.col("doc_id") % 2 == 1),
        d.where(F.col("doc_id") % 2 == 0),
        "doc_id",
        "text",
        k=4,
        band_size=2,
        max_bucket=100_000,
    )


@query(
    "token_count_bpe",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(source || ' ' || text,
                    '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS n_tok
    FROM documents
    """,
)
def q_token_count_bpe(spark, sf):
    # BPE-style pre-tokenization count: letter runs, digit runs, and
    # punctuation runs count separately ("src1" -> 2 tokens), unlike the
    # whitespace token_count.  RE2/Java-compatible character classes only.
    d = t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.expr(
                r"regexp_extract_all(source || ' ' || text,"
                r" '[a-z]+|[0-9]+|[^a-z0-9\\s]+', 0)"
            )
        )
        .cast("long")
        .alias("n_tok"),
    )


@query(
    "wav_roundtrip",
    """
    SELECT doc_id,
           1 AS n_channels,
           8000 AS sample_rate,
           16 AS bits,
           CAST(400 + (doc_id % 50) * 16 AS BIGINT) AS n_samples,
           CAST((400 + (doc_id % 50) * 16) // 8 AS BIGINT) AS duration_ms,
           CAST(44 + (400 + (doc_id % 50) * 16) * 2 AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_wav_roundtrip(spark, sf):
    """REAL audio container decode: synthesize PCM16 WAV bytes per doc,
    re-parse them with an independent RIFF chunk walker (multimodal.py),
    and check the recovered metadata against pure integer math.  No codec
    library involved — WAV is struct-parseable — so this is a genuine
    decode path, not the fake-metadata stub."""
    from .operators.multimodal import wav_meta

    d = t(spark, sf, "documents")
    out = wav_meta(d, "doc_id")
    return out.select(
        "doc_id",
        F.col("meta.n_channels").alias("n_channels"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.bits").alias("bits"),
        F.col("meta.n_samples").alias("n_samples"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


@query(
    "wav_frame_energy",
    """
    WITH d AS (SELECT doc_id,
                      400 + (doc_id % 50) * 16 AS n,
                      doc_id % 797 + 1 AS k
               FROM documents),
    s AS (SELECT doc_id,
                 CAST(j // 256 AS INT) AS frame,
                 CAST((j * k) % 2048 - 1024 AS BIGINT) AS v
          FROM (SELECT doc_id, k, unnest(range(0, n)) AS j FROM d))
    SELECT doc_id, frame,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v * v) AS BIGINT) AS sumsq
    FROM s GROUP BY doc_id, frame
    """,
)
def q_wav_frame_energy(spark, sf):
    """Audio feature extraction from REAL decoded PCM: per-256-sample
    frame energy (exact integer sum of squares + frame length — the VAD
    / silence-trim primitive; RMS = sqrt(sumsq/n) but no sqrt runs, so
    the gate stays bit-exact).  The WAV bytes are synthesized, re-parsed
    by the independent RIFF walker (encoder and parser share only the
    spec), and the oracle recomputes the integers from the synthesis
    formula — a byte-level bug on either side breaks the gate.  Per-row
    table function on mapInArrow, no shuffle; frames fan out n/256 rows."""
    from .operators.multimodal import wav_frame_energy

    return wav_frame_energy(t(spark, sf, "documents"), "doc_id", frame=256)


@query(
    "split_assign",
    """
    SELECT doc_id,
           CASE
             WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10000 < 9000 THEN 'train'
             WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10000 < 9500 THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
)
def q_split_assign(spark, sf):
    # deterministic 90/5/5 corpus split: md5 basis-point bucketing, no RNG,
    # identical assignment in any engine and under any repartitioning
    from .operators.sampling import split_assign

    d = t(spark, sf, "documents")
    return split_assign(d, key="doc_id").select("doc_id", "split")


@query(
    "decontaminate",
    f"""
    WITH grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ) AS g
      FROM (SELECT doc_id, {_DD_TOKS} AS toks FROM documents)
    ),
    eval_g AS (
      SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 97 = 0
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_overlap,
           CAST(any_value(t.n_grams) AS BIGINT) AS n_grams
    FROM (SELECT doc_id, len(g) AS n_grams, unnest(g) AS gram
          FROM grams WHERE doc_id % 97 <> 0) t
    JOIN eval_g e USING (gram)
    GROUP BY t.doc_id
    """,
)
def q_decontaminate(spark, sf):
    # Benchmark decontamination: training docs sharing any word 3-gram with
    # the (deterministic doc_id % 97 == 0) eval slice.  Eval shingle set is
    # broadcast; the corpus explodes map-side and only hits reach a shuffle.
    from .operators.dedup import decontaminate

    d = t(spark, sf, "documents")
    return decontaminate(
        d.where(F.col("doc_id") % 97 != 0),
        d.where(F.col("doc_id") % 97 == 0),
    )


# ---------------------------------------------------------------------------
# sketches + embedding quantization
# ---------------------------------------------------------------------------

_KMV_ORACLE = """
    WITH h AS (
        SELECT DISTINCT {grp},
               CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv
        FROM {tbl} WHERE {key} IS NOT NULL
    ),
    ranked AS (
        SELECT {grp}, hv,
               row_number() OVER (PARTITION BY {grp} ORDER BY hv) AS rn
        FROM h
    )
    SELECT {grp},
           CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS BIGINT)
                ELSE CAST(FLOOR((63.0 * 1152921504606846976.0)
                                / CAST(MAX(hv) AS DOUBLE)) AS BIGINT)
           END AS approx_distinct
    FROM ranked WHERE rn <= 64
    GROUP BY {grp}
"""


@query(
    "kmv_distinct",
    _KMV_ORACLE.format(grp="l_returnflag", key="l_partkey", tbl="lineitem"),
)
def q_kmv_distinct(spark, sf):
    # KMV cardinality sketch, pure-Catalyst formulation: one hash-aggregate
    # with map-side combine; the estimate is IEEE-identical in DuckDB
    # because (k-1)*16^15 is exactly representable and the division is the
    # only rounding step (operators/sketch.py docstring).
    from .operators.sketch import kmv_distinct

    li = t(spark, sf, "lineitem")
    return kmv_distinct(li, key="l_partkey", by=["l_returnflag"])


@query(
    "kmv_udaf",
    _KMV_ORACLE.format(grp="l_returnflag", key="l_suppkey", tbl="lineitem"),
)
def q_kmv_udaf(spark, sf):
    # the same sketch as a 5-phase framework aggregate (A6/A9/A10): partial
    # states are ≤ 64 int64s per (partition, group) regardless of input
    # size, so the shuffle moves O(groups·k) bytes — the bounded-state
    # scale path for COUNT(DISTINCT) at 100 TB.
    from .operators.sketch import KmvAgg, kmv_hash_col

    li = t(spark, sf, "lineitem").select(
        "l_returnflag", kmv_hash_col("l_suppkey").alias("hv")
    )
    out = KmvAgg.agg(li, by=["l_returnflag"], args=["hv"])
    return out.select(
        "l_returnflag", F.col("kmv_udaf").cast("long").alias("approx_distinct")
    )


def _bloom_oracle(m_list=(512, 8192)) -> str:
    arms = []
    for m in m_list:
        arms.append(
            f"""
      SELECT CAST({m} AS INT) AS m_bits,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM big) AS n_big,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM big
              WHERE (CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':0'),
                                          1, 8)) AS BIGINT) % {m})
                        IN (SELECT p FROM pos{m})
                AND (CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':1'),
                                          1, 8)) AS BIGINT) % {m})
                        IN (SELECT p FROM pos{m})) AS n_bloom_pass,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM big
              WHERE key IN (SELECT key FROM sk)) AS n_exact_match,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM big
              WHERE (CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':0'),
                                          1, 8)) AS BIGINT) % {m})
                        IN (SELECT p FROM pos{m})
                AND (CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':1'),
                                          1, 8)) AS BIGINT) % {m})
                        IN (SELECT p FROM pos{m})
                AND key NOT IN (SELECT key FROM sk)) AS n_false_pos"""
        )
    pos_ctes = ",\n".join(
        f"""pos{m} AS (SELECT DISTINCT
                CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':' || i),
                                     1, 8)) AS BIGINT) % {m} AS p
            FROM sk CROSS JOIN (SELECT unnest(range(0, 2)) AS i))"""
        for m in m_list
    )
    union = "\n      UNION ALL".join(arms)
    return f"""
    WITH sk AS (SELECT DISTINCT p_partkey AS key FROM part
                WHERE p_size <= 5 AND p_partkey IS NOT NULL),
    {pos_ctes},
    big AS (SELECT l_partkey AS key FROM lineitem
            WHERE l_partkey IS NOT NULL)
    {union}
    """


@query("bloom_prejoin", _bloom_oracle())
def q_bloom_prejoin(spark, sf):
    """Deterministic Bloom pre-join filter gated next to the exact
    semijoin, at TWO widths in one pass: the dim side's keys fold into
    md5-derived bitmaps (m/64 int64 words, bounded regardless of
    cardinality) and the fact table is pruned MAP-SIDE — codegen bit
    math in the scan predicate, no join, no shuffle — before any
    exchange.  Per width, (m_bits, n_big, n_bloom_pass, n_exact_match,
    n_false_pos) pins the no-false-negative contract and the
    false-positive cost: at larger SFs the 512-bit row shows
    SATURATION (pass -> n_big, the prune buys nothing) while 8192 bits
    prunes to ~matches — the under/right-sizing curve a pipeline tunes
    m against, the kmv_error_gate shape applied to Spark's own
    runtime-row-filter pattern."""
    from .operators.sketch import bloom_tuning_gate

    # r10 opt: the big-side probe computes k_hashes x widths md5s per
    # row — per-row compute dominates, so the scan takes the spread
    # exchange (2.5 cpu-s were serializing on the fixture's 3-split
    # scan; integer count aggregates are partition-layout invariant)
    return bloom_tuning_gate(
        t(spark, sf, "lineitem", spread=True),
        t(spark, sf, "part").where(F.col("p_size") <= 5),
        "l_partkey",
        "p_partkey",
        m_list=(512, 8192),
        k_hashes=2,
    )


@query(
    "kmv_error_gate",
    """
    WITH h AS (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
                                             1, 15)) AS BIGINT) AS hv
        FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    ranked AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
    nh AS (SELECT COUNT(*) AS n FROM h),
    ex AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
           FROM lineitem WHERE l_partkey IS NOT NULL)
    SELECT CAST(k AS INT) AS k,
           CASE WHEN (SELECT n FROM nh) < k
                THEN CAST((SELECT n FROM nh) AS BIGINT)
                ELSE CAST(FLOOR(((k - 1.0) * 1152921504606846976.0)
                                / CAST((SELECT hv FROM ranked WHERE rn = k)
                                       AS DOUBLE)) AS BIGINT)
           END AS approx_distinct,
           (SELECT exact_distinct FROM ex) AS exact_distinct
    FROM (SELECT unnest([16, 64, 256]) AS k)
    """,
)
def q_kmv_error_gate(spark, sf):
    """KMV estimator-quality gate (VERDICT r6 ask #7): the approximate
    distinct at k=16/64/256 next to the exact COUNT(DISTINCT) — pins the
    accuracy each sketch width buys, the way count_min_freq pins CMS and
    minhash_jaccard_est pins signatures.  One hash pass serves all three
    widths (prefix slices of one sorted distinct-hash array); the md5
    hash and the single-rounding-step IEEE estimate are engine-exact."""
    from .operators.sketch import kmv_error_gate

    return kmv_error_gate(t(spark, sf, "lineitem"), key="l_partkey")


@query(
    "join_size_est",
    """
    WITH ks AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
                WHERE user_id IS NOT NULL),
    kc AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM ks GROUP BY k),
    cells AS (
      SELECT r,
             CAST(CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || k),
                                       1, 8)) AS BIGINT) % 256 AS INT)
                 AS cell,
             CAST(SUM(c) AS BIGINT) AS cnt
      FROM kc CROSS JOIN (SELECT unnest(range(0, 4)) AS r)
      GROUP BY 1, 2),
    est AS (SELECT CAST(MIN(ip) AS BIGINT) AS join_size_est FROM (
              SELECT r, SUM(cnt * cnt) AS ip FROM cells GROUP BY r)),
    ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS join_size_exact FROM kc)
    SELECT ex.join_size_exact, est.join_size_est
    FROM ex CROSS JOIN est
    """,
)
def q_join_size_est(spark, sf):
    """Pre-shuffle join-size planning, gated: the events-on-user_id
    SELF-join's output size (sum c(k)^2 — the quadratic-blowup number)
    estimated from the Count-Min inner product (min over rows of
    sum_cell cnt^2, Cormode's classic application) next to the exact
    answer.  The sketch side is d*w counters per input — driver-sized at
    any scale, mergeable across days — where the exact side shuffles
    vocabulary-sized count tables; est >= exact always (collisions only
    add), asserted in tests."""
    from .operators.sketch import join_size_gate

    ev = t(spark, sf, "events")
    return join_size_gate(ev, "user_id", ev, "user_id")


@query(
    "skew_profile",
    """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM events
            WHERE user_id IS NOT NULL)
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key ASC) AS INT)
               AS rank,
           key, cnt,
           CAST(cnt * 1000000 // t AS BIGINT) AS ppm
    FROM (SELECT * FROM c ORDER BY cnt DESC, key ASC LIMIT 10), tot
    ORDER BY rank
    """,
)
def q_skew_profile(spark, sf):
    """Join-key skew diagnostic: the 10 heaviest keys with exact counts
    and integer parts-per-million share — the number that sizes a salt
    factor before a shuffle join (a 200_000-ppm key puts 20% of the
    exchange on one reducer).  One map-side-combined count aggregate,
    top-k via TakeOrdered, share as exact integer division — no floats,
    no full sort, no window over the raw table."""
    from .operators.sketch import skew_profile

    return skew_profile(t(spark, sf, "events"), key="user_id", top=10)


@query(
    "bpe_pair_counts",
    r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(tok)),
                                   i -> substr(tok, i, 2))) AS pair
      FROM toks WHERE len(tok) >= 2
    ),
    c AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt
          FROM pairs GROUP BY pair)
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS INT)
               AS rank,
           pair, cnt
    FROM c ORDER BY cnt DESC, pair ASC LIMIT 10
    """,
)
def q_bpe_pair_counts(spark, sf):
    """The hot loop of BPE tokenizer training: corpus-wide adjacent
    character-pair counts, top-10 with deterministic tie-break.  Pair
    generation is one codegen transform(sequence)/substring per token
    (no Python); the aggregate key space is the char-bigram vocabulary
    (thousands), so map-side combine collapses the corpus before a
    single bounded shuffle — the full BPE train is this argmax + a
    merge applied repeatedly, and this is the step that touches all
    the data."""
    from .operators.text import bpe_pair_counts

    return bpe_pair_counts(t(spark, sf, "documents"), top=10)


@query(
    "pii_scrub",
    # every doc gets one synthetic email/URL/phone injected from md5
    # nibbles (both engines build the identical augmented text), then the
    # SAME shared regex set counts and redacts; scrub_md5 fingerprints
    # the fully-redacted text, so replacement OUTPUT is pinned, not just
    # counts.  Patterns live in operators/text.py::PII_PATTERNS and are
    # restricted to the Java/RE2-identical subset.
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' u' || substr(md5(text), 1, 6) || '@ex' ||
             substr(md5(text), 7, 2) || '.com see http://t' ||
             substr(md5(text), 9, 4) || '.io/p' || substr(md5(text), 13, 2) ||
             ' call +' ||
             lpad(CAST(CAST(('0x' || substr(md5(text), 15, 7)) AS BIGINT)
                       % 100000000 AS VARCHAR), 8, '0') AS t
      FROM documents
    ),
    stages AS (
      SELECT doc_id, t,
             regexp_replace(t, 'https?://[^\\s]+', '<URL>', 'g') AS t1
      FROM aug
    ),
    stages2 AS (
      SELECT doc_id, t, t1,
             regexp_replace(t1,
               '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t2
      FROM stages
    )
    SELECT doc_id,
           -- staged counts: each kind counted AFTER the earlier kinds
           -- were redacted, so counts == redactions performed
           CAST(len(regexp_extract_all(t1,
               '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}'))
               AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, 'https?://[^\\s]+'))
               AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(t2, '\\+[0-9]{8,13}'))
               AS BIGINT) AS n_phones,
           md5(regexp_replace(t2, '\\+[0-9]{8,13}', '<PHONE>', 'g'))
               AS scrub_md5
    FROM stages2
    """,
)
def q_pii_scrub(spark, sf):
    """PII SCRUBBING — the redaction pass every released training corpus
    runs: count and redact emails, URLs, and international phone
    numbers (operators/text.py::pii_scrub — pure JVM regexp_count +
    chained regexp_replace, whole-stage codegen, no Python).  The gate
    injects one synthetic instance of each PII kind per document from
    md5 nibbles — both engines construct the identical augmented text —
    and pins the md5 of the fully-REDACTED output, so a wrong
    replacement span (not just a wrong count) breaks the hash.
    Patterns are pinned to the Java/RE2-identical regex subset (no
    lookaround, no backreferences — RE2 has neither).

    Scale: one projection over the corpus scan, zero shuffle."""
    from .operators.text import pii_scrub

    docs = t(spark, sf, "documents")
    hx = F.md5(F.col("text").cast("binary"))
    phone = F.lpad(
        (F.conv(F.substring(hx, 15, 7), 16, 10).cast("long")
         % 100000000).cast("string"),
        8,
        "0",
    )
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" u"), F.substring(hx, 1, 6),
            F.lit("@ex"), F.substring(hx, 7, 2),
            F.lit(".com see http://t"), F.substring(hx, 9, 4),
            F.lit(".io/p"), F.substring(hx, 13, 2),
            F.lit(" call +"), phone,
        ).alias("text"),
    )
    return pii_scrub(aug).select(
        F.col("id").alias("doc_id"),
        "n_emails",
        "n_urls",
        "n_phones",
        "scrub_md5",
    )


def _bpe_oracle():
    from .operators.text import bpe_oracle_sql

    return bpe_oracle_sql(8)


@query("bpe_train_encode", _bpe_oracle())
def q_bpe_train_encode(spark, sf):
    """BPE tokenizer trained END-TO-END and applied (VERDICT r8 ask #4
    — the last LLM-pipeline stage with no end-to-end operator): compact
    the corpus to the word-frequency table, learn 8 merges by repeated
    weighted pair argmax (ONE driver row per iteration, the kmeans
    unrolled-trajectory discipline: count DESC, pair ASC tie-break),
    then encode every document by joining its words to the trained
    vocab and summing final symbol counts.  Marker-terminated symbol
    strings make textual ``replace`` exactly the canonical
    left-to-right non-overlapping BPE merge (see
    ``operators/text.py::bpe_train_encode``).  The oracle replays the
    identical training as 8 unrolled MATERIALIZED CTE iterations in
    DuckDB — a wrong pair pick at ANY iteration shifts downstream
    counts, so the per-doc gate pins the whole merge sequence.

    Scale: training touches only the zipf-bounded word vocab (never raw
    docs after the first aggregation); the merge table is O(n_merges)
    driver/broadcast state; encode is one explode + vocab equi-join +
    per-doc sum."""
    from .operators.text import bpe_train_encode

    out, _merges = bpe_train_encode(
        t(spark, sf, "documents"), n_merges=8
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "n_words"
    )


def _bpe_batch_oracle():
    from .operators.text import bpe_batch_oracle_sql

    return bpe_batch_oracle_sql(8, 8)


def _unigram_oracle():
    from .operators.text import unigram_oracle_sql

    return unigram_oracle_sql(n_rounds=2)


@query("unigram_lm_fit", _unigram_oracle())
def q_unigram_lm_fit(spark, sf):
    """UNIGRAM-LM tokenizer trained in-engine by Viterbi hard-EM
    (SentencePiece's model family; the r9 VERDICT's named stretch) —
    the fourth trained model after kmeans_fit / quality_classifier_fit
    / bpe_train_encode: substring seeding over the word-frequency
    compaction, top-512 + single-char coverage vocabulary, two EM
    rounds (E-step Viterbi segmentation per word, M-step integer
    recount with unused-piece pruning and a single-char floor), then a
    final encode pass summed per document.  The float-safety design
    that makes the strict hash gate possible: segmentation scores are
    PRODUCTS of exact integer-ratio doubles (IEEE *, / are correctly
    rounded and engine-identical; ln() is not), tie-broken (score DESC,
    piece-length DESC) — the oracle replays the whole trajectory as
    ~120 unrolled MATERIALIZED CTEs (16-deep DP chain + 16-step
    backtrack per round).

    Scale: model = O(vocab) driver/broadcast state (kmeans-centroid
    pattern); each round is ONE mapInArrow pass over the zipf-bounded
    WORD table (never raw docs) + an O(vocab) collect; docs are touched
    once to compact and once to encode-join."""
    from .operators.text import unigram_lm_fit

    out, _probs = unigram_lm_fit(t(spark, sf, "documents"), n_rounds=2)
    return out.select(F.col("id").alias("doc_id"), "n_pieces", "n_words")


@query("bpe_batch_train_encode", _bpe_batch_oracle())
def q_bpe_batch_train_encode(spark, sf):
    """BPE trained with BATCHED merge rounds (VERDICT r9 ask #3 — the
    production loop shape): 8 rounds x up to 8 greedy NON-CONFLICTING
    merges per round = 64 merges in 8 heavy jobs, where the sequential
    trainer would run 64.  Per round: one pair-count job collects the
    top-32 candidate pool; the driver walks it in (count DESC, pair
    ASC) order skipping any pair sharing a symbol with an earlier pick
    (disjoint-symbol merges commute, so one chained replace applies the
    whole batch order-free); one materialize job lands it.  batch=1
    reduces to the exact sequential trainer (hypothesis-proven); the
    DuckDB oracle replays pool, greedy walk, and nested replace as
    unrolled MATERIALIZED CTEs, so a wrong pick at ANY round shifts the
    per-doc token counts and breaks the gate.

    Scale: a 32k-merge production vocab becomes O(32k / batch)
    sequential jobs — the named fix for the r9 trainer's loop shape —
    with O(batch) driver state per round and the same zipf-bounded
    word-vocab footprint."""
    from .operators.text import bpe_batch_train_encode

    out, _merges = bpe_batch_train_encode(
        t(spark, sf, "documents"), n_rounds=8, batch=8
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "n_words"
    )


@query("streaming_unigram_encode", _unigram_oracle())
def q_streaming_unigram_encode(spark, sf):
    """UNIGRAM TOKENIZATION AS INCREMENTAL INGESTION — the streaming
    serving twin of ``unigram_lm_fit`` (every trained model in the
    engine ships one: kmeans→streaming_kmeans assign, PQ→
    streaming_pq_encode, BPE→streaming_bpe_encode): the model trains
    batch-side (yesterday's corpus) and its O(vocab) probability table
    rides into the stream FROZEN inside a stateless table function
    (``TableFunction.apply`` on ``mapInArrow``) — per arriving document,
    whitespace words Viterbi-segment under the broadcast model (char
    fallback over ``max_len``, the training contract), emitting
    (doc_id, n_pieces, n_words) in append mode with ZERO state-store
    state.  The gate pins the drained stream against the SAME
    unrolled-CTE trajectory oracle as the batch trainer.

    Scale: per-row CPU + an O(vocab) broadcast — the firehose serving
    shape; no shuffle, no state."""
    import re
    import tempfile
    import uuid

    from .operators.table import udtf
    from .operators.text import (
        _BPE_M as _UNI_MARKER,
        UNIGRAM_MAX_LEN as _UNI_MAX_LEN,
        UNIGRAM_MAX_PIECE as _UNI_MAX_PIECE,
        _viterbi_segment,
        unigram_lm_fit,
    )
    from .plans.registry import Registry

    docs = t(spark, sf, "documents").select("doc_id", "text")
    out_batch, probs = unigram_lm_fit(
        t(spark, sf, "documents"), n_rounds=2
    )
    # the stream carries the python prob dict, not the cached word table
    out_batch.unigram_model_cache.unpersist()
    frozen = dict(probs)

    d = tempfile.mkdtemp(prefix="stream_unigram_")
    docs.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(docs.schema).parquet(d)

    # ASCII \s+ to match the batch trainer's JVM F.split(r"\s+") word
    # boundaries (python str.split() also breaks on Unicode whitespace
    # like U+00A0, which Java \s does not — review catch)
    ws = re.compile(r"\s+", re.ASCII)

    @udtf(
        ["string"],
        "struct<n_pieces:bigint,n_words:bigint>",
        name="unigram_encode",
        registry=Registry(),
    )
    def encode(text):
        words = [w.replace(_UNI_MARKER, "") for w in ws.split(text or "")]
        words = [w for w in words if w]
        if not words:
            return  # the batch/oracle emit no row either
        np_total = 0
        for w in words:
            if len(w) > _UNI_MAX_LEN:
                np_total += len(w)  # char fallback (contract)
            else:
                np_total += len(_viterbi_segment(w, frozen, _UNI_MAX_PIECE))
        yield np_total, len(words)

    out = encode.apply(stream, cols=["text"], passthrough=["doc_id"]).select(
        "doc_id", "unigram_encode.*"
    )
    sink = f"stream_unigram_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink)


@query("streaming_bpe_encode", _bpe_oracle())
def q_streaming_bpe_encode(spark, sf):
    """TOKENIZATION AS INCREMENTAL INGESTION — the streaming twin of
    ``bpe_train_encode`` and the tokenizer-stage analogue of
    ``streaming_curation_filter``: merges train batch-side (yesterday's
    corpus) and ride into the stream as EIGHT nested ``replace``
    literals; each arriving document's token count is a per-row fold —
    split to words, render each word's marker form, apply the merge
    chain, count markers — so the stream runs append-mode with ZERO
    state-store state and no per-doc vocab join at all.  Applying the
    ordered merge list per word is definitionally identical to the
    batch path's trained-vocab join (training applied the same merges
    to every vocab word), and the gate pins the drained stream against
    the SAME unrolled-CTE oracle.  At firehose scale this is the
    serving shape: the merge table is O(n_merges) broadcast state, and
    every row costs O(words · merges) codegen'd string work."""
    import tempfile
    import uuid

    from .operators.text import bpe_train_encode

    docs = t(spark, sf, "documents").select("doc_id", "text")
    _out, merges = bpe_train_encode(
        t(spark, sf, "documents"), n_merges=8
    )
    # the stream carries the merge literals, not the cached model table
    _out.bpe_model_cache.unpersist()

    d = tempfile.mkdtemp(prefix="stream_bpe_")
    docs.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(docs.schema).parquet(d)

    words = F.filter(
        F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda w: F.replace(w, F.lit("·"), F.lit("")),
        ),
        lambda w: w != "",
    )

    def encode(w):
        r = F.regexp_replace(w, "(.)", "·$1·")
        for pat in merges:
            r = F.replace(r, F.lit(pat), F.lit(pat.replace("··", "", 1)))
        return r

    # symbol count = half the marker count (every symbol carries a
    # marker on BOTH edges in the wrapped representation)
    reps = F.transform(words, encode)
    n_tokens = F.aggregate(
        reps,
        F.lit(0).cast("long"),
        lambda acc, r: acc
        + (
            (F.length(r) - F.length(F.replace(r, F.lit("·"), F.lit(""))))
            / F.lit(2)
        ).cast("long"),
    )
    out = (
        stream.withColumn("__w", words)
        .where(F.size("__w") >= 1)
        .select(
            "doc_id",
            n_tokens.cast("bigint").alias("n_tokens"),
            F.size("__w").cast("bigint").alias("n_words"),
        )
    )
    sink = f"stream_bpe_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink)


@query(
    "streaming_bloom",
    """
    WITH pos AS (
      SELECT DISTINCT
          CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR) || ':' || i),
                               1, 8)) AS BIGINT) % 512 AS p
      FROM part CROSS JOIN (SELECT unnest(range(0, 2)) AS i)
      WHERE p_size <= 5 AND p_partkey IS NOT NULL
    )
    SELECT CAST(p // 64 AS INT) AS word_idx,
           CAST(bit_or(CASE WHEN p % 64 = 63 THEN -9223372036854775808
                       ELSE 1::BIGINT << CAST(p % 64 AS INT) END)
                AS BIGINT) AS word
    FROM pos GROUP BY 1
    """,
)
def q_streaming_bloom(spark, sf):
    """The Bloom filter BUILT on a stream: dim-side keys arrive over 3
    micro-batches and the bitmap words accumulate through Spark's native
    streaming aggregation with ``bit_or`` — OR is idempotent and
    commutative, so the state is exactly the m/64 words regardless of
    stream length or replay, and the complete-mode table must equal the
    batch :func:`bloom_build`.  At scale this is how the pre-join filter
    (bloom_prejoin) stays fresh while the dim table trickles in —
    rebuild never, OR forever."""
    import tempfile
    import uuid

    pt = (
        t(spark, sf, "part")
        .where((F.col("p_size") <= 5) & F.col("p_partkey").isNotNull())
        .select("p_partkey")
        .repartitionByRange(3, "p_partkey")
    )
    d = tempfile.mkdtemp(prefix="stream_bloom_")
    pt.write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(pt.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    from .operators.text import token_hash

    m = 512
    pos = stream.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        token_hash(
                            F.concat(
                                F.col("p_partkey").cast("string"),
                                F.lit(f":{i}"),
                            )
                        ),
                        F.lit(m),
                    )
                    for i in range(2)
                ]
            )
        ).alias("p")
    )
    words = pos.groupBy(
        F.expr("CAST(p DIV 64 AS INT)").alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(1L, CAST(p % 64 AS INT)))").alias("word")
    )
    sink = f"bloom_{uuid.uuid4().hex[:8]}"
    q = (
        words.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if len(q.recentProgress) < 2:
        raise RuntimeError(
            f"expected multi-batch replay, got {len(q.recentProgress)}"
        )
    return spark.sql(
        f"SELECT word_idx, CAST(word AS BIGINT) AS word FROM {sink}"
    )


@query(
    "streaming_kmv_distinct",
    _KMV_ORACLE.format(grp="l_returnflag", key="l_orderkey", tbl="lineitem"),
)
def q_streaming_kmv_distinct(spark, sf):
    """The KMV sketch maintained INCREMENTALLY over a live 3-micro-batch
    stream: per-key state through the state store is the bounded <= k
    sorted hash tuple (KmvAgg's A6/A9 protocol under
    ``applyInPandasWithState``), each batch re-emits the running
    estimate, and the FINAL update per key must equal the from-scratch
    batch sketch (the oracle) — merge associativity/commutativity on a
    real stream.  This is the streaming face of the 100 TB
    COUNT(DISTINCT) answer: O(k) state per key forever, no growing
    distinct set, mergeable across days by construction."""
    import tempfile
    import uuid

    from .operators.sketch import KmvAgg, kmv_hash_col
    from .streaming.stateful import streaming_running_agg

    li = (
        t(spark, sf, "lineitem")
        .select(
            "l_returnflag",
            kmv_hash_col("l_orderkey").alias("hv"),
            "l_orderkey",
        )
        .repartitionByRange(3, "l_orderkey")
        .drop("l_orderkey")
    )
    d = tempfile.mkdtemp(prefix="stream_kmv_")
    li.write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = streaming_running_agg(
        stream, KmvAgg, by=["l_returnflag"], args=["hv"], emit_seq=True
    )
    sink = f"kmv_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if len(q.recentProgress) < 2:
        raise RuntimeError(
            f"expected multi-batch replay, got {len(q.recentProgress)}"
        )
    return spark.sql(
        f"SELECT l_returnflag, CAST(max_by(kmv_udaf, __seq) AS BIGINT) "
        f"AS approx_distinct FROM {sink} GROUP BY l_returnflag"
    )


@query(
    "quantize_int8",
    """
    WITH t AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                                       v -> abs(CAST(v AS DOUBLE)))) AS s,
               embedding
        FROM embeddings
    )
    SELECT vec_id,
           s AS q8_scale,
           array_to_string(list_transform(embedding, v ->
               CAST(CASE WHEN s = 0 THEN 0
                    ELSE greatest(-127, least(127,
                         FLOOR((CAST(v AS DOUBLE) * 127.0) / s + 0.5)))
               END AS INTEGER)), ',') AS q8
    FROM t
    """,
)
def q_quantize_int8(spark, sf):
    # symmetric per-vector int8 quantization (4× storage cut for embedding
    # corpora), zero-shuffle zero-Python Catalyst transform; floor-based
    # half-up rounding because engines disagree on round() midpoints
    from .operators.similarity import quantize_int8

    e = t(spark, sf, "embeddings")
    out = quantize_int8(e, vec_col="embedding", out_col="q8")
    return out.select(
        "vec_id",
        F.col("q8_scale"),
        F.array_join(
            F.transform(F.col("q8"), lambda v: v.cast("string")), ","
        ).alias("q8"),
    )


@query(
    "quantized_dot_recall",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    q8 AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS s,
             list_transform(e, x ->
                 CAST(CASE WHEN list_max(list_transform(e, y -> abs(y))) = 0
                      THEN 0
                      ELSE greatest(-127, least(127,
                           FLOOR((x * 127.0)
                                 / list_max(list_transform(e, y -> abs(y)))
                                 + 0.5)))
                 END AS BIGINT)) AS q
      FROM v
    ),
    qs AS (SELECT vec_id AS q_id, e AS qv, s AS sq, q AS qq
           FROM q8 WHERE vec_id < 5),
    scored AS (
      SELECT qs.q_id, n.vec_id AS n_id,
             (CAST(list_sum(list_transform(range(1, len(n.q) + 1),
                   i -> n.q[i] * qs.qq[i])) AS DOUBLE) * qs.sq) * n.s AS sa,
             list_sum(list_transform(range(1, len(n.e) + 1),
                   i -> n.e[i] * qs.qv[i])) AS se
      FROM q8 n CROSS JOIN qs
    ),
    ta AS (SELECT q_id, n_id FROM (
             SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY sa DESC, n_id ASC) AS r FROM scored)
           WHERE r <= 5),
    te AS (SELECT q_id, n_id FROM (
             SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY se DESC, n_id ASC) AS r FROM scored)
           WHERE r <= 5),
    o AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM ta JOIN te USING (q_id, n_id) GROUP BY q_id)
    SELECT qs.q_id, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_overlap
    FROM qs LEFT JOIN o USING (q_id)
    """,
)
def q_quantized_dot_recall(spark, sf):
    """Quantization-loss gate: per query, overlap between the top-5 by
    dequantized int8 dot product and the top-5 by exact float dot —
    the recall number that justifies 4x-smaller int8 embedding serving,
    pinned next to the exact answer (the lsh_recall_at_k pattern).  The
    int8 dot is exact integer arithmetic; dequantization is two pinned
    IEEE multiplies, so the ranking is engine-exact.  Recall floor
    asserted in tests/test_similarity_recall.py."""
    from .operators.similarity import quantized_dot_recall

    e = t(spark, sf, "embeddings")
    return quantized_dot_recall(e, e.where(F.col("vec_id") < 5), k=5)


@query(
    "matryoshka_recall",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    qs AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5),
    scored AS (
      SELECT qs.q_id, n.vec_id AS n_id,
             list_sum(list_transform(range(1, 17),
                   i -> n.e[i] * qs.qv[i])) AS st,
             list_sum(list_transform(range(1, len(n.e) + 1),
                   i -> n.e[i] * qs.qv[i])) AS sf
      FROM v n CROSS JOIN qs
    ),
    tt AS (SELECT q_id, n_id FROM (
             SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY st DESC, n_id ASC) AS r FROM scored)
           WHERE r <= 5),
    tf AS (SELECT q_id, n_id FROM (
             SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY sf DESC, n_id ASC) AS r FROM scored)
           WHERE r <= 5),
    o AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM tt JOIN tf USING (q_id, n_id) GROUP BY q_id)
    SELECT qs.q_id, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_overlap
    FROM qs LEFT JOIN o USING (q_id)
    """,
)
def q_matryoshka_recall(spark, sf):
    """Matryoshka truncation-loss gate (Kusupati et al. 2022): per
    query, overlap between the top-5 ranked by the FIRST-16-dims dot
    product and the top-5 by the full 64-dim dot — the recall number
    that justifies serving coarse ANN stages from a prefix slice of one
    stored vector (4x less I/O and multiply per candidate, no second
    index).  Completes the serving-compression gate family:
    ``quantized_dot_recall`` (precision axis), ``lsh_recall_at_k`` /
    ``ivf_multiprobe`` (bucketing axis), and now the DIMENSION axis.
    Both rankings are sequential index-order dot folds with id
    tie-breaks — engine-exact."""
    from .operators.similarity import matryoshka_recall

    e = t(spark, sf, "embeddings")
    return matryoshka_recall(
        e, e.where(F.col("vec_id") < 5), k=5, dim=16
    )


def _pq_oracle_sql(
    m: int = 4,
    sub: int = 16,
    ksub: int = 8,
    k: int = 5,
    emit: str = "recall",
) -> str:
    """The PQ oracles, generated: per subspace j an unrolled 1-round
    Lloyd chain (seed = first ksub subvectors by vec_id, the
    kmeans_train_assign pattern), code assignment, and a per-query LUT;
    the ADC score is the FIXED j-order sum of the m looked-up parts
    (matching Spark's left-assoc + chain), rounded 6dp before ranking.
    ``emit="recall"`` yields pq_adc_recall's (q_id, n_overlap);
    ``emit="codes"`` stops at the integer code assignment — the
    streaming_pq_encode gate (integer output, float-robust by the
    kmeans tie-break argument); ``emit="ivf"`` replays the FULL IVFPQ
    server — candidates pruned to the query's label cell before the
    ADC ranking — emitting the deterministic top-k (q_id, n_id, score)
    itself.  AS MATERIALIZED throughout — DuckDB's
    default CTE inlining recomputes chained stages exponentially (the
    bpe_train_encode lesson)."""
    parts = [
        "WITH v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[])"
        " AS e FROM embeddings)"
    ]
    assign = """
    SELECT vec_id, cid FROM (
        SELECT t.vec_id, c.cid,
               row_number() OVER (PARTITION BY t.vec_id
                   ORDER BY list_sum(list_transform(range(1, {sub} + 1),
                                i -> (t.e[i] - c.c[i]) * (t.e[i] - c.c[i])))
                            ASC, c.cid ASC) AS rn
        FROM v{j} t CROSS JOIN {cents} c) WHERE rn = 1"""
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f"v{j} AS MATERIALIZED (SELECT vec_id, e[{lo}:{hi}] AS e FROM v)"
        )
        parts.append(
            f"""c0{j} AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
               e AS c
        FROM (SELECT vec_id, e FROM v{j} ORDER BY vec_id LIMIT {ksub}))"""
        )
        parts.append(
            f"a0{j} AS MATERIALIZED ({assign.format(sub=sub, j=j, cents=f'c0{j}')})"
        )
        parts.append(
            f"""c1{j} AS MATERIALIZED (
        SELECT cid, list(m ORDER BY i) AS c FROM (
            SELECT a.cid, g.i AS i, avg(t.e[g.i]) AS m
            FROM a0{j} a JOIN v{j} t USING (vec_id)
                 CROSS JOIN unnest(generate_series(1, {sub})) AS g(i)
            GROUP BY a.cid, g.i) GROUP BY cid)"""
        )
        parts.append(
            f"code{j} AS MATERIALIZED ({assign.format(sub=sub, j=j, cents=f'c1{j}')})"
        )
        parts.append(
            f"""lut{j} AS MATERIALIZED (
        SELECT q.vec_id AS q_id, c.cid AS code,
               list_sum(list_transform(range(1, {sub} + 1),
                        i -> q.e[i] * c.c[i])) AS part
        FROM v{j} q CROSS JOIN c1{j} c WHERE q.vec_id < 5)"""
        )
    code_joins = " ".join(
        f"JOIN code{j} USING (vec_id)" if j else "code0"
        for j in range(m)
    )
    code_cols = ", ".join(f"code{j}.cid AS k{j}" for j in range(m))
    if emit == "codes":
        # the per-subspace lut CTEs stay defined but unreferenced —
        # DuckDB only evaluates CTEs the final query reaches
        kcols = ", ".join(f"CAST(k{j} AS INT) AS k{j}" for j in range(m))
        return (
            ",\n    ".join(parts)
            + f""",
    codes AS (SELECT vec_id, {code_cols} FROM {code_joins})
    SELECT vec_id, {kcols} FROM codes"""
        )
    lut_joins = " ".join(
        f"JOIN lut{j} l{j} ON l{j}.code = codes.k{j}"
        + ("" if j == 0 else f" AND l{j}.q_id = l0.q_id")
        for j in range(m)
    )
    adc = " + ".join(f"l{j}.part" for j in range(m))
    if emit == "ivf":
        parts.append(
            f"codes AS MATERIALIZED (SELECT vec_id, {code_cols} FROM {code_joins})"
        )
        parts.append(
            "cells AS MATERIALIZED (SELECT vec_id, label FROM embeddings)"
        )
        parts.append(
            f"""pq AS (
        SELECT l0.q_id, codes.vec_id AS n_id, round({adc}, 6) AS sp
        FROM codes {lut_joins}
        JOIN cells cn ON cn.vec_id = codes.vec_id
        JOIN cells cq ON cq.vec_id = l0.q_id AND cq.label = cn.label)"""
        )
        return (
            ",\n    ".join(parts)
            + f"""
    SELECT q_id, n_id, sp AS score FROM (
        SELECT q_id, n_id, sp, row_number() OVER (PARTITION BY q_id
               ORDER BY sp DESC, n_id ASC) AS r FROM pq) WHERE r <= {k}"""
        )
    parts.append(
        f"codes AS MATERIALIZED (SELECT vec_id, {code_cols} FROM {code_joins})"
    )
    parts.append(
        f"""pq AS (
        SELECT l0.q_id, codes.vec_id AS n_id, round({adc}, 6) AS sp
        FROM codes {lut_joins})"""
    )
    parts.append(
        """exact AS (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               list_sum(list_transform(range(1, len(n.e) + 1),
                        i -> n.e[i] * q.e[i])) AS sf
        FROM v n CROSS JOIN (SELECT * FROM v WHERE vec_id < 5) q)"""
    )
    parts.append(
        f"""tp AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                   ORDER BY sp DESC, n_id ASC) AS r FROM pq) WHERE r <= {k}),
    tf AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                   ORDER BY sf DESC, n_id ASC) AS r FROM exact) WHERE r <= {k}),
    o AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM tp JOIN tf USING (q_id, n_id) GROUP BY q_id)"""
    )
    return (
        ",\n    ".join(parts)
        + """
    SELECT qs.q_id, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_overlap
    FROM (SELECT vec_id AS q_id FROM v WHERE vec_id < 5) qs
    LEFT JOIN o USING (q_id)"""
    )


@query("streaming_pq_encode", _pq_oracle_sql(emit="codes"))
def q_streaming_pq_encode(spark, sf):
    """VECTOR QUANTIZATION AS INCREMENTAL INGESTION — the PQ twin of
    ``streaming_bpe_encode``: the m=4 subspace codebooks train
    batch-side (yesterday's corpus, the same 1-round Lloyd chains the
    pq_adc_recall oracle replays), then ride into the stream as parsed
    SQL literals; every arriving vector is encoded to its m codes by
    pure argmin-fold expressions — append mode, ZERO state-store state,
    no join.  This is how a production embedding pipeline compresses a
    firehose: O(m·ksub·dim/m) broadcast codebook state, m 1-byte codes
    per vector out.  The gate pins the drained stream against the SAME
    generated Lloyd-CTE oracle as the batch gate (integer codes —
    float-robust by the kmeans tie-break argument)."""
    import tempfile
    import uuid

    from .operators.similarity import pq_code_cols, pq_codebooks

    e = t(spark, sf, "embeddings").select("vec_id", "embedding")
    m, sub = 4, 16
    codebooks = pq_codebooks(e, m=m, sub=sub, ksub=8, iters=1)

    d = tempfile.mkdtemp(prefix="stream_pq_")
    e.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(e.schema).parquet(d)
    nv = F.col("embedding").cast("array<double>")
    out = stream.select("vec_id", *pq_code_cols(nv, codebooks, sub))
    sink = f"stream_pq_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink)


@query("ivf_pq_topk", _pq_oracle_sql(emit="ivf"))
def q_ivf_pq_topk(spark, sf):
    """IVFPQ SERVING — the coarse-prune + compressed-rank composition
    every production billion-vector ANN system deploys (FAISS
    IndexIVFPQ), assembled from the engine's own parts: the label cells
    prune candidates (the ``ivf_topk`` contract), product-quantized
    codes are ranked by per-query ADC lookup tables within the cell
    (the ``pq_adc_recall`` machinery — shared ``pq_codebooks`` /
    ``pq_code_cols`` / ``pq_lut_cols`` helpers, ONE implementation).
    The output is the deterministic IVFPQ top-k itself, so the oracle
    replays the entire server — per-subspace Lloyd codebooks, code
    assignment, LUT build, cell restriction, 6dp-rounded ranking —
    rather than a recall summary.

    Scale: candidates persist m 1-byte codes (64x memory cut) and join
    the broadcast query side on the CELL key — per-query cost is
    O(m · N/n_cells) integer lookups; codebooks are broadcast literals;
    no full-precision vector is touched at serve time."""
    from .operators.similarity import ivf_pq_topk

    e = t(spark, sf, "embeddings")
    return ivf_pq_topk(e, e.where(F.col("vec_id") < 5), k=5)


@query("pq_adc_recall", _pq_oracle_sql())
def q_pq_adc_recall(spark, sf):
    """Product-quantization ADC gate (Jégou et al. 2011): m=4 subspaces
    × 8-entry Lloyd codebooks (1 round, min-id seeds), items encoded as
    4 codes in one zero-shuffle projection, queries served via the
    per-query lookup table — m map lookups + adds per candidate instead
    of a 64-wide float scan, a 64x candidate-storage cut.  Output: top-5
    overlap between the ADC ranking and the exact full-dot ranking per
    query.  The codebook axis of the serving-compression gate family
    (int8 = precision, matryoshka = dimension, LSH/IVF = bucketing)."""
    from .operators.similarity import pq_recall

    e = t(spark, sf, "embeddings")
    return pq_recall(
        e, e.where(F.col("vec_id") < 5), m=4, ksub=8, k=5, iters=1, dim=64
    )


@query(
    "embedding_mean_pool",
    """
    WITH ex AS (
      SELECT vec_id % 50 AS g,
             unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ), av AS (
      SELECT g, pos, AVG(CAST(v AS DOUBLE)) AS m FROM ex GROUP BY g, pos
    )
    SELECT g, string_agg(printf('%.6f', m), '|' ORDER BY pos) AS vec
    FROM av GROUP BY g
    """,
)
def q_embedding_mean_pool(spark, sf):
    """Chunk→document embedding reduction: position-wise mean pooling of
    vectors per group (here: 50 synthetic doc groups over the embeddings
    table).  Explode-reduce with map-side partial averages; shuffled keys
    are O(groups · dim), never the vectors."""
    from .operators.similarity import mean_pool

    e = t(spark, sf, "embeddings").select(
        (F.col("vec_id") % 50).alias("g"), "embedding"
    )
    pooled = mean_pool(e, group_col="g", vec_col="embedding", out_col="p")
    return pooled.select(
        "g",
        F.array_join(
            F.transform(F.col("p"), lambda v: F.format_string("%.6f", v)), "|"
        ).alias("vec"),
    )


# order by the SQUARED distance (sequential sum of exact IEEE squares),
# the same quantity Spark's argmin fold compares: ordering by
# list_distance (its sqrt) can round two distinct squared distances to
# equal doubles and then tie-break on cid where Spark picks the strictly
# smaller square — a latent cross-engine divergence (ADVICE r5)
_KMEANS_ASSIGN_CTE = """
    SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_sum(list_transform(range(1, len(v.e) + 1),
                                i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i])))
                            ASC, c.cid ASC) AS rn
        FROM v CROSS JOIN {cents} AS c) WHERE rn = 1
"""

_KMEANS_MEANS_CTE = """
    SELECT cid, list(m ORDER BY i) AS c FROM (
        SELECT a.cid, g.i AS i, avg(v.e[g.i]) AS m
        FROM {assign} AS a JOIN v USING (vec_id)
             CROSS JOIN unnest(generate_series(1, len(v.e))) AS g(i)
        GROUP BY a.cid, g.i) GROUP BY cid
"""


@query(
    "quality_classifier_fit",
    # full-batch logistic-regression GD, 3 unrolled iterations: w0 = 0
    # makes the first step's sigmoid EXACTLY 0.5 on both engines; later
    # steps drift only by float-sum ordering + 1-ulp exp, absorbed by the
    # 6dp half-up round on the emitted weights
    r"""
    WITH base AS MATERIALIZED (
        SELECT (CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END) AS y,
               n_chars / 400.0 AS x1,
               len(regexp_split_to_array(trim(text), '\s+')) / 100.0 AS x2
        FROM documents
    ),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
    w1 AS MATERIALIZED (
        SELECT sum(1.0 * (y - 0.5)) / any_value(n) AS b,
               sum(x1 * (y - 0.5)) / any_value(n) AS a1,
               sum(x2 * (y - 0.5)) / any_value(n) AS a2
        FROM base, nn
    ),
    w2 AS MATERIALIZED (
        SELECT any_value(b) + sum(1.0 * (y - 1.0 /
                   (1.0 + exp(-(b + a1 * x1 + a2 * x2))))) / any_value(n)
                   AS b,
               any_value(a1) + sum(x1 * (y - 1.0 /
                   (1.0 + exp(-(b + a1 * x1 + a2 * x2))))) / any_value(n)
                   AS a1,
               any_value(a2) + sum(x2 * (y - 1.0 /
                   (1.0 + exp(-(b + a1 * x1 + a2 * x2))))) / any_value(n)
                   AS a2
        FROM base, w1, nn
    ),
    w3 AS MATERIALIZED (
        SELECT any_value(b) + sum(1.0 * (y - 1.0 /
                   (1.0 + exp(-(b + a1 * x1 + a2 * x2))))) / any_value(n)
                   AS b,
               any_value(a1) + sum(x1 * (y - 1.0 /
                   (1.0 + exp(-(b + a1 * x1 + a2 * x2))))) / any_value(n)
                   AS a1,
               any_value(a2) + sum(x2 * (y - 1.0 /
                   (1.0 + exp(-(b + a1 * x1 + a2 * x2))))) / any_value(n)
                   AS a2
        FROM base, w2, nn
    )
    SELECT 'bias' AS feature, floor(b * 1e6 + 0.5) / 1e6 AS weight FROM w3
    UNION ALL
    SELECT 'x1', floor(a1 * 1e6 + 0.5) / 1e6 FROM w3
    UNION ALL
    SELECT 'x2', floor(a2 * 1e6 + 0.5) / 1e6 FROM w3
    """,
)
def q_quality_classifier_fit(spark, sf):
    """Quality-classifier TRAINING in-engine (the fastText-style filter
    every LLaMA-lineage pipeline trains against a trusted source):
    logistic regression over (length, word-count) features with
    label = doc comes from src0, fit by 3 full-batch GD steps — each
    step ONE codegen'd score expression over broadcast weight literals
    plus ONE O(features) map-side-combined aggregate (the kmeans_fit
    execution shape; driver state is 3 doubles).  Deterministic: zero
    init, full batch, fixed steps — the oracle replays the identical
    trajectory as unrolled MATERIALIZED CTEs, and the learned weights
    hash-match at 6dp."""
    import math

    from .operators.clustering import logreg_fit

    d = t(spark, sf, "documents")
    feats = d.select(
        F.when(F.col("source") == "src0", 1.0).otherwise(0.0).alias("y"),
        (F.col("n_chars") / 400.0).alias("x1"),
        (F.size(F.split(F.trim(F.col("text")), r"\s+")) / 100.0).alias("x2"),
    )
    weights = logreg_fit(feats, ["x1", "x2"], "y", iters=3, lr=1.0)
    rows = [
        (name, math.floor(v * 1e6 + 0.5) / 1e6) for name, v in weights
    ]
    return spark.createDataFrame(rows, "feature string, weight double")


@query(
    "kmeans_train_assign",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                      AS cid, e AS c
           FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)),
    a0 AS ({_KMEANS_ASSIGN_CTE.format(cents="c0")}),
    c1 AS ({_KMEANS_MEANS_CTE.format(assign="a0")}),
    a1 AS ({_KMEANS_ASSIGN_CTE.format(cents="c1")}),
    c2 AS ({_KMEANS_MEANS_CTE.format(assign="a1")}),
    a2 AS ({_KMEANS_ASSIGN_CTE.format(cents="c2")})
    SELECT vec_id, CAST(cid AS INT) AS cluster FROM a2
    """,
)
def q_kmeans_train_assign(spark, sf):
    """k-means Lloyd training (k=8, 2 rounds) + final cell assignment —
    the training half of the IVF search path.  Assignment is a pure
    codegen expression over broadcast centroid literals (zero shuffle);
    each recompute shuffles only k*dim map-side-combined partial means;
    driver state is O(k*dim), data-size independent (the Spark MLlib
    KMeans shape).  Oracle: the same trajectory unrolled as CTEs —
    deterministic min-id seeds and lower-cid tie-breaks make the integer
    cluster output float-robust."""
    from .operators.clustering import kmeans_assign

    return kmeans_assign(t(spark, sf, "embeddings"), k=8, iters=2)


@query(
    "ivf_trained_topk",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                      AS cid, e AS c
           FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)),
    a0 AS ({_KMEANS_ASSIGN_CTE.format(cents="c0")}),
    c1 AS ({_KMEANS_MEANS_CTE.format(assign="a0")}),
    a1 AS ({_KMEANS_ASSIGN_CTE.format(cents="c1")}),
    c2 AS ({_KMEANS_MEANS_CTE.format(assign="a1")}),
    a2 AS ({_KMEANS_ASSIGN_CTE.format(cents="c2")}),
    q AS (SELECT a2.vec_id AS q_id, a2.cid AS cell, v.e AS qv
          FROM a2 JOIN v USING (vec_id) WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, a2.vec_id AS n_id,
             list_cosine_similarity(v.e, q.qv) AS s
      FROM a2 JOIN v USING (vec_id) JOIN q ON a2.cid = q.cell)
    SELECT q_id, n_id, round(s, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY s DESC, n_id) rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def q_ivf_trained_topk(spark, sf):
    """End-to-end ANN: k-means trains the coarse cells (no label column
    needed), items index into their learned cell, search scores only the
    query's cell — the full IVF build+query path in one plan.  Train cost
    amortizes across every query; the search join is the same broadcast/
    shuffled cell equi-join as ivf_topk."""
    from .operators.clustering import kmeans_assigned
    from .operators.similarity import ivf_topk

    e = t(spark, sf, "embeddings")
    # r10 opt: cluster column computed in place — no (id -> cluster)
    # self-join of the source (kmeans_assigned; values identical) — and
    # the assigned table pins ONCE (the fold is the expensive per-row
    # expression; both the item side and the query slice consume it)
    items = kmeans_assigned(
        e.select("vec_id", "embedding"), k=8, iters=2
    ).localCheckpoint(eager=True)
    queries = items.where(F.col("vec_id") < 5)
    return ivf_topk(items, queries, k=5, cell_col="cluster")


# SemDeDup: k-means cells (the proven 2-round Lloyd CTE trajectory), then
# inside each cell drop every vector with an above-threshold cosine
# neighbor of smaller id.  Threshold 0.3 because the synthetic embeddings
# max out near cosine 0.47 (same calibration note as embedding_near_dup);
# similarity rounds to 6 dp before the compare.  Shared by the Catalyst
# and numpy forms — same verdicts by contract.
_SEMDEDUP_ORACLE = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                      AS cid, e AS c
           FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)),
    a0 AS ({_KMEANS_ASSIGN_CTE.format(cents="c0")}),
    c1 AS ({_KMEANS_MEANS_CTE.format(assign="a0")}),
    a1 AS ({_KMEANS_ASSIGN_CTE.format(cents="c1")}),
    c2 AS ({_KMEANS_MEANS_CTE.format(assign="a1")}),
    a2 AS ({_KMEANS_ASSIGN_CTE.format(cents="c2")}),
    it AS (SELECT a2.vec_id, a2.cid, v.e FROM a2 JOIN v USING (vec_id)),
    dropped AS (
      SELECT DISTINCT r.vec_id
      FROM it l JOIN it r ON l.cid = r.cid AND l.vec_id < r.vec_id
      WHERE round(list_cosine_similarity(l.e, r.e), 6) >= 0.3
    )
    SELECT it.vec_id, CAST(it.cid AS INT) AS cluster,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM it LEFT JOIN dropped d USING (vec_id)
    """


@query("semdedup_prune", _SEMDEDUP_ORACLE)
def q_semdedup_prune(spark, sf):
    """SemDeDup (Abbas et al. 2023) — semantic near-dup pruning, the
    embedding-space complement of MinHash/SimHash: k-means clusters the
    corpus into coarse cells (training cost amortized, O(k·dim) driver
    state), then each cell prunes items with an above-threshold cosine
    neighbor of smaller id.  One-pass parallel keep-rule (over-prunes
    chains, never under-prunes — see ``semdedup_keep``); the pair space
    is cell-confined so k is the scale knob.  The gate pins every
    vector's (cluster, kept) verdict against the unrolled Lloyd
    trajectory + threshold join in SQL."""
    from .operators.clustering import kmeans_assigned
    from .operators.dedup import semdedup_keep

    e = t(spark, sf, "embeddings")
    # r10 opt: in-place cluster column (no source self-join), pinned
    # ONCE — semdedup_keep consumes items from BOTH pair-join sides and
    # the final keep join, and each would re-run the assign fold.  The
    # pre-salting attempt at this checkpoint lost its broadcast planning
    # (r10 first pass, reverted); the salted pair join takes explicit
    # repartitions, so the ExistingRDD stats objection is gone.
    items = kmeans_assigned(
        e.select("vec_id", "embedding"), k=8, iters=2
    ).localCheckpoint(eager=True)
    # r10 note: BOTH attempted optimizations here were A/B-measured
    # slower and reverted — a localCheckpoint of `items` (1.9x: the
    # ExistingRDD scan loses size stats and the pair join its broadcast)
    # and the unrolled codegen pair dot (Janino compile dominates at
    # bench volume); OPTIMIZATION_r10.md.
    out = semdedup_keep(items, "vec_id", "embedding", "cluster", threshold=0.3)
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("cell").cast("int").alias("cluster"),
        F.col("kept").cast("int").alias("kept"),
    )


@query("semdedup_prune_numpy", _SEMDEDUP_ORACLE)
def q_semdedup_prune_numpy(spark, sf):
    """The SCALE PATH for SemDeDup: same cells, same keep rule, same
    oracle as ``semdedup_prune``, but the per-cell pair scoring is one
    numpy matmul over the cell's normalized vectors (``applyInArrow``)
    instead of per-pair Catalyst array folds — Spark's higher-order
    array functions are interpreted (CodegenFallback), so the fold form
    pays an interpreter visit per element per pair, while the matmul is
    C-speed: ~10x faster on dup-heavy cells (PLANS.md stress row).
    Memory contract: one |cell|^2 float64 matrix per task, so k must
    bound cells — the same sum(|cell|^2) the fold form pays in time.
    The dual gate (both forms against ONE oracle) pins the equivalence
    every round."""
    from .operators.clustering import kmeans_assigned
    from .operators.dedup import semdedup_keep_numpy

    e = t(spark, sf, "embeddings")
    items = kmeans_assigned(
        e.select("vec_id", "embedding"), k=8, iters=2
    ).localCheckpoint(eager=True)
    out = semdedup_keep_numpy(
        items, "vec_id", "embedding", "cluster", threshold=0.3
    )
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("cell").cast("int").alias("cluster"),
        F.col("kept").cast("int").alias("kept"),
    )


@query("streaming_semdedup", _SEMDEDUP_ORACLE)
def q_streaming_semdedup(spark, sf):
    """STREAMING SemDeDup (VERDICT r8 ask #5) — the embedding twin of
    ``streaming_ivf_append_topk``: vectors ARRIVE AS A STREAM in
    ascending-id order (the monotone-ingestion posture of a production
    pipeline), each micro-batch assigns to the FROZEN batch-trained
    k-means cells, scores against the persisted per-cell history read
    partition-pruned to exactly the cells the batch touches, emits
    final per-vector (cluster, kept) verdicts, and appends its vectors
    to the cell-partitioned index for later batches.

    Exactness: the one-pass keep rule is "∃ above-threshold neighbour
    with smaller id in my cell".  With ascending arrival, every
    smaller-id vector is either in THIS batch or already in the index
    (appended kept-or-dropped — the rule compares against all smaller
    ids, not just survivors), so running ``semdedup_keep_numpy`` over
    batch ∪ index and keeping only the batch's verdicts reproduces the
    batch oracle verdict for every vector — the gate pins the drained
    stream against the SAME ``_SEMDEDUP_ORACLE`` as the two batch
    forms.

    Scale: no state-store state at all — the history lives in the
    cell-partitioned parquet index (the ivf_build_index artifact
    shape); per batch it reads O(touched cells · N/k) rows via
    PartitionFilters, the centroids are O(k·dim) broadcast literals,
    and the within-batch matmul pays the same sum(|cell|²) the batch
    scale path pays."""
    import tempfile
    import uuid

    from .operators.clustering import _assign, kmeans_fit
    from .operators.dedup import semdedup_keep_numpy

    e = t(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2)
    root = tempfile.mkdtemp(prefix="aus_semdd_stream_")
    idx, res, src = root + "/index", root + "/verdicts", root + "/incoming"

    vecs = e.select("vec_id", "embedding")
    # ascending-id arrival: three sequential single-file writes (mtime
    # orders the file-stream source) covering ascending id ranges
    hi = vecs.agg(F.max("vec_id")).collect()[0][0]
    cuts = [(None, hi // 3), (hi // 3, 2 * hi // 3), (2 * hi // 3, None)]
    for lo, up in cuts:
        part = vecs
        if lo is not None:
            part = part.where(F.col("vec_id") > lo)
        if up is not None:
            part = part.where(F.col("vec_id") <= up)
        part.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def dedup_batch(batch_df, batch_id):
        bs = batch_df.sparkSession
        v = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        assigned = _assign(v, cents).select(
            "vec_id", "e", F.col("cid").alias("cell")
        )
        cells = [
            r["cell"]
            for r in assigned.select("cell").distinct().collect()
        ]
        try:  # partition-pruned history read: ONLY the touched cells
            seen = bs.read.parquet(idx).where(F.col("cell").isin(cells))
        except Exception:  # noqa: BLE001 — first batch: no index yet
            seen = None
        both = (
            assigned
            if seen is None
            else assigned.unionByName(seen.select("vec_id", "e", "cell"))
        )
        verdicts = semdedup_keep_numpy(both, "vec_id", "e", "cell", 0.3)
        batch_ids = assigned.select(F.col("vec_id").alias("id"))
        verdicts.join(batch_ids, "id").write.mode("append").parquet(res)
        # history append is UNCONDITIONAL (kept and dropped): the keep
        # rule compares against every smaller id, not just survivors
        assigned.write.partitionBy("cell").mode("append").parquet(idx)

    q = (
        stream.writeStream.foreachBatch(dedup_batch)
        .queryName(f"semdd_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", root + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if len(q.recentProgress) < 2:
        raise RuntimeError(
            f"expected multi-batch replay, got {len(q.recentProgress)}"
        )
    return spark.read.parquet(res).select(
        F.col("id").alias("vec_id"),
        F.col("cell").cast("int").alias("cluster"),
        F.col("kept").cast("int").alias("kept"),
    )


_IVF_MULTIPROBE_ORACLE = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                      AS cid, e AS c
           FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)),
    a0 AS ({_KMEANS_ASSIGN_CTE.format(cents="c0")}),
    c1 AS ({_KMEANS_MEANS_CTE.format(assign="a0")}),
    a1 AS ({_KMEANS_ASSIGN_CTE.format(cents="c1")}),
    c2 AS ({_KMEANS_MEANS_CTE.format(assign="a1")}),
    a2 AS ({_KMEANS_ASSIGN_CTE.format(cents="c2")}),
    probes AS (
      SELECT vec_id AS q_id, cid AS cell FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_sum(list_transform(range(1, len(v.e) + 1),
                                i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i])))
                            ASC, c.cid ASC) AS rn
        FROM v CROSS JOIN c2 AS c WHERE v.vec_id < 5) WHERE rn <= 2),
    scored AS (
      SELECT p.q_id, a2.vec_id AS n_id,
             list_cosine_similarity(vn.e, vq.e) AS s
      FROM probes p
      JOIN a2 ON a2.cid = p.cell
      JOIN v vn ON vn.vec_id = a2.vec_id
      JOIN v vq ON vq.vec_id = p.q_id)
    SELECT q_id, n_id, round(s, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY s DESC, n_id) rn
          FROM scored)
    WHERE rn <= 5
    """


@query("ivf_multiprobe_topk", _IVF_MULTIPROBE_ORACLE)
def q_ivf_multiprobe_topk(spark, sf):
    """Multi-probe IVF (n_probe=2) over the same trained trajectory as
    ivf_trained_topk: the query searches its TWO nearest learned cells —
    the standard recall lever for IVF (the true neighbour often sits just
    across the cell boundary).  The oracle unrolls the identical Lloyd
    trajectory and probe ordering (squared-distance sum, cid tie-break),
    so the integer cell choices and the final ranking are engine-exact."""
    from .operators.clustering import kmeans_fit
    from .operators.similarity import ivf_multiprobe_topk

    e = t(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2)
    return ivf_multiprobe_topk(
        e, e.where(F.col("vec_id") < 5), cents, k=5, n_probe=2
    )


@query("ivf_persisted_topk", _IVF_MULTIPROBE_ORACLE)
def q_ivf_persisted_topk(spark, sf):
    """The production ANN shape (VERDICT r6 "missing #3"): train once,
    PERSIST the index (vectors written partitioned by learned cell, one
    indexing shuffle), then serve the query batch from the persisted
    index — the scan partition-prunes to the probed cells' directories
    (``PartitionFilters`` asserted in tests/test_plans.py) instead of
    re-scanning/re-assigning the corpus per batch.  Identical Lloyd
    trajectory, probe ordering, and ranking as ``ivf_multiprobe_topk``
    (it shares that oracle verbatim), so the gate proves persist+prune
    changes nothing about the answer.  At 100 TB: index build amortizes
    across every future batch; per-batch I/O is O(probed cells), and new
    vectors append to their cell directory without touching the rest."""
    import tempfile

    from .operators.clustering import kmeans_fit
    from .operators.similarity import ivf_build_index, ivf_persisted_topk

    e = t(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2)
    path = tempfile.mkdtemp(prefix="aus_ivf_idx_") + "/index"
    ivf_build_index(e, cents, path)
    return ivf_persisted_topk(
        spark, path, e.where(F.col("vec_id") < 5), cents, k=5, n_probe=2
    )


#: the embedded-documents view: the text_embedding UDF's hash projection
#: with its float32 storage rounding replicated via CAST(AS FLOAT)
_ANN_E2E_V = """SELECT doc_id AS vec_id,
           list_transform(range(0, 8), i ->
             CAST(CAST(CAST((CAST(('0x' || substr(md5(i || ':' || text),
                                                  1, 8)) AS BIGINT) % 1000)
                            AS DOUBLE) / 1000.0 AS FLOAT) AS DOUBLE)) AS e
    FROM documents"""


@query(
    "ann_pipeline_e2e",
    f"""
    WITH v AS ({_ANN_E2E_V}),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                      AS cid, e AS c
           FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 4)),
    a0 AS ({_KMEANS_ASSIGN_CTE.format(cents="c0")}),
    c1 AS ({_KMEANS_MEANS_CTE.format(assign="a0")}),
    a1 AS ({_KMEANS_ASSIGN_CTE.format(cents="c1")}),
    probes AS (
      SELECT vec_id AS q_id, cid AS cell FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_sum(list_transform(range(1, len(v.e) + 1),
                                i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i])))
                            ASC, c.cid ASC) AS rn
        FROM v CROSS JOIN c1 AS c WHERE v.vec_id < 5) WHERE rn <= 2),
    scored AS (
      SELECT p.q_id, a1.vec_id AS n_id,
             list_cosine_similarity(vn.e, vq.e) AS s
      FROM probes p
      JOIN a1 ON a1.cid = p.cell
      JOIN v vn ON vn.vec_id = a1.vec_id
      JOIN v vq ON vq.vec_id = p.q_id)
    SELECT q_id, n_id, round(s, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY s DESC, n_id) rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def q_ann_pipeline_e2e(spark, sf):
    """The reference's north-star LLM-pipeline shape end-to-end
    (arrow-udf-remote/python/example.py:233-247: a batched
    ``text_embedding`` UDF feeding an index): documents -> the Python
    batched embedding UDF (Arrow Series-in/Series-out, the reference's
    contract) -> k-means trains 4 coarse cells on the embeddings ->
    the index persists partitioned by cell (ivf_build_index) -> the
    query batch serves from the partition-pruned persisted index with
    n_probe=2 and exact cosine re-rank.  The oracle replays everything
    — including the UDF's hash projection AND its float32 storage
    rounding (CAST AS FLOAT) — in pure SQL, so embed, train, index,
    and serve are all one hash-exact gate."""
    import tempfile

    from .functions import corpus as C
    from .operators.clustering import kmeans_fit
    from .operators.similarity import ivf_build_index, ivf_persisted_topk

    d = t(spark, sf, "documents")
    # materialize the embedded table once (r10 perf): the Python
    # text_embedding UDF otherwise re-embeds the whole corpus for the
    # seed collect, each Lloyd round, the index write, AND the query-side
    # scan — five full UDF passes for one 8-double-per-doc projection
    emb = d.select(
        F.col("doc_id").alias("vec_id"),
        C.text_embedding(F.col("text")).alias("embedding"),
    ).localCheckpoint()
    cents = kmeans_fit(emb, k=4, iters=1)
    path = tempfile.mkdtemp(prefix="aus_ann_e2e_") + "/index"
    ivf_build_index(emb, cents, path)
    return ivf_persisted_topk(
        spark,
        path,
        emb.where(F.col("vec_id") < 5),
        cents,
        k=5,
        n_probe=2,
    )


@query("ivf_append_topk", _IVF_MULTIPROBE_ORACLE)
def q_ivf_append_topk(spark, sf):
    """Incremental index maintenance, gated: the index is built from the
    EVEN vec_ids, then the odd vec_ids are APPENDED against the same
    frozen centroids (new files land in their cell directory; existing
    data untouched) — and the search answers EXACTLY like a single full
    build (shares the ivf_multiprobe_topk oracle verbatim).  This is how
    a 100 TB pipeline actually lives with an ANN index: daily embeddings
    append in one assignment pass; nothing re-clusters, nothing
    rewrites, re-training is a deliberate separate event."""
    import tempfile

    from .operators.clustering import kmeans_fit
    from .operators.similarity import ivf_build_index, ivf_persisted_topk

    e = t(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2)
    path = tempfile.mkdtemp(prefix="aus_ivf_app_") + "/index"
    ivf_build_index(e.where(F.col("vec_id") % 2 == 0), cents, path)
    ivf_build_index(
        e.where(F.col("vec_id") % 2 == 1), cents, path, mode="append"
    )
    return ivf_persisted_topk(
        spark, path, e.where(F.col("vec_id") < 5), cents, k=5, n_probe=2
    )


@query("ivf_retrain_swap_topk", _IVF_MULTIPROBE_ORACLE)
def q_ivf_retrain_swap_topk(spark, sf):
    """The index LIFECYCLE's missing verb — re-train + atomic blue/green
    swap: a v1 index (k=4, one Lloyd round) is built and published, then
    a re-train (k=8, two rounds — the multiprobe trajectory) writes a v2
    index under a NEW version directory and flips the ``_CURRENT``
    pointer in one atomic rename.  Serving always resolves the pointer:
    queries in flight keep reading v1's files, nothing is rewritten in
    place, rollback is re-publishing v1.  The gate serves AFTER the swap
    and must hash-match the v2 (multiprobe) oracle — proving the flip
    changed the answers to exactly the re-trained index's."""
    import tempfile

    from .operators.clustering import kmeans_fit
    from .operators.similarity import (
        ivf_build_index,
        ivf_current,
        ivf_persisted_topk,
        ivf_publish,
    )

    e = t(spark, sf, "embeddings")
    root = tempfile.mkdtemp(prefix="aus_ivf_bg_")
    cents_v1 = kmeans_fit(e, k=4, iters=1)
    ivf_build_index(e, cents_v1, root + "/v1")
    ivf_publish(root, root + "/v1")
    # re-train and swap
    cents_v2 = kmeans_fit(e, k=8, iters=2)
    ivf_build_index(e, cents_v2, root + "/v2")
    ivf_publish(root, root + "/v2")
    return ivf_persisted_topk(
        spark,
        ivf_current(root),
        e.where(F.col("vec_id") < 5),
        cents_v2,
        k=5,
        n_probe=2,
    )


@query("streaming_ivf_append_topk", _IVF_MULTIPROBE_ORACLE)
def q_streaming_ivf_append_topk(spark, sf):
    """STREAMING index maintenance: half the vectors batch-build the
    index, the other half ARRIVE AS A STREAM and append through
    ``foreachBatch`` (each micro-batch is one frozen-centroid assignment
    pass + an append write into its cell directories — the
    ivf_build_index(mode=append) path on live data).  After the stream
    drains, serving must answer exactly like a single full build (the
    multiprobe oracle) — the daily-embedding-delivery shape of a
    production ANN index, gated end-to-end."""
    import tempfile
    import uuid

    from .operators.clustering import kmeans_fit
    from .operators.similarity import ivf_build_index, ivf_persisted_topk

    e = t(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2)
    root = tempfile.mkdtemp(prefix="aus_ivf_stream_")
    path = root + "/index"
    ivf_build_index(e.where(F.col("vec_id") % 2 == 0), cents, path)

    odd = e.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    src = root + "/incoming"
    odd.repartitionByRange(3, "vec_id").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def append_batch(batch_df, batch_id):
        ivf_build_index(batch_df, cents, path, mode="append")

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .queryName(f"ivfapp_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", root + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if len(q.recentProgress) < 2:
        raise RuntimeError(
            f"expected multi-batch replay, got {len(q.recentProgress)}"
        )
    return ivf_persisted_topk(
        spark, path, e.where(F.col("vec_id") < 5), cents, k=5, n_probe=2
    )


@query(
    "knn_label_vote",
    """
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
             label AS tl
      FROM embeddings WHERE vec_id < 50
    ),
    scored AS (
      SELECT q.q_id, q.tl, e.label AS nl, e.vec_id AS n_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
    ),
    knn AS (
      SELECT q_id, tl, nl
      FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY s DESC, n_id) rn
            FROM scored) WHERE rn <= 5
    ),
    votes AS (SELECT q_id, tl, nl, count(*) AS c
              FROM knn GROUP BY q_id, tl, nl)
    SELECT q_id, CAST(nl AS INT) AS pred_label,
           CAST(tl AS INT) AS true_label, CAST(c AS BIGINT) AS n_votes
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY c DESC, nl ASC) rn
          FROM votes) WHERE rn = 1
    """,
)
def q_knn_label_vote(spark, sf):
    """kNN majority-vote classification over the embedding column: each
    query's 5 nearest neighbours (cosine, self excluded) vote on its
    label; ties break to the smaller label.  The eval-set shape every
    embedding pipeline runs to sanity-check vector quality.  Exact
    brute-force here for a deterministic gate; at corpus scale the
    neighbour stage swaps for ivf_multiprobe_topk unchanged (same
    (q_id, n_id) contract).  Queries broadcast; votes are O(q·k) rows."""
    from pyspark.sql import Window

    # per-side norms staged ONCE per row (r10 perf, the
    # embedding_near_dup staging rule): the inlined cosine() re-folded
    # both squared norms + two sqrts for every candidate pair (100k
    # pairs, 3 interpreted 64-element folds each → 1).  dot/(qn*nn)
    # multiplies the identical sqrt values, so rankings are
    # bit-identical.  (The unrolled codegen pair dot was ALSO tried and
    # A/B-measured a wash-to-loss — Janino compile cost, see
    # OPTIMIZATION_r10.md — so the dot stays a fold.)
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda s, x: s + x
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("nv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    e = t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("tl"),
    ).withColumn("qn", norm(F.col("qv")))
    scored = (
        e.select(
            F.col("vec_id").alias("n_id"),
            F.col("embedding").cast("array<double>").alias("nv"),
            F.col("label").alias("nl"),
        )
        .withColumn("nn", norm(F.col("nv")))
        .join(F.broadcast(q), F.col("n_id") != F.col("q_id"))
        .select(
            "q_id", "tl", "nl", "n_id",
            (dot / (F.col("qn") * F.col("nn"))).alias("s"),
        )
    )
    wk = Window.partitionBy("q_id").orderBy(F.col("s").desc(), F.col("n_id").asc())
    knn = scored.withColumn("rn", F.row_number().over(wk)).where(F.col("rn") <= 5)
    votes = knn.groupBy("q_id", "tl", "nl").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.partitionBy("q_id").orderBy(F.col("c").desc(), F.col("nl").asc())
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select(
            "q_id",
            F.col("nl").cast("int").alias("pred_label"),
            F.col("tl").cast("int").alias("true_label"),
            F.col("c").cast("long").alias("n_votes"),
        )
    )


@query(
    "temporal_roundtrip",
    """
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
           strftime(CAST(o_orderdate AS TIMESTAMP) + to_hours(o_orderkey % 24),
                    '%Y-%m-%d %H:%M:%S') AS ts,
           CAST((o_orderkey % 86400) * 1000000 AS BIGINT) AS tmicros
    FROM orders
    """,
)
def q_temporal_roundtrip(spark, sf):
    """SURVEY §1.2 temporal rows as a type-matrix query: date32, timestamp
    and time64 (long micros-since-midnight carrier) each cross the
    JVM->Arrow->pandas->Arrow boundary through an identity UDF and must
    come back value-identical (reference remote runtime round-trip,
    arrow-udf-remote/python/arrow_udf/test_udf.py:254-330).  Added after
    the round-2 fixture change showed temporal ingestion assumed one
    physical type; this row pins the conversion layer at the gate."""
    from arrow_udf_spark import GLOBAL

    o = t(spark, sf, "orders")
    id_date = GLOBAL.get("identity", ("date32",))
    id_ts = GLOBAL.get("identity", ("timestamp",))
    id_time = GLOBAL.get("identity", ("time64",))
    us = (
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long")
        * 86_400_000_000
        + (F.col("o_orderkey") % 24) * 3_600_000_000
    )
    return o.select(
        "o_orderkey",
        id_date(F.col("o_orderdate").cast("date")).cast("string").alias("d"),
        F.date_format(
            id_ts(F.timestamp_micros(us).cast("timestamp_ntz")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("ts"),
        id_time(((F.col("o_orderkey") % 86400) * 1_000_000).cast("long")).alias(
            "tmicros"
        ),
    )


@query(
    "streaming_retract_sliding",
    """
    SELECT event_type, CAST(SUM(v) AS BIGINT) AS sum_udaf
    FROM (SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS v,
                 epoch_us(ts) AS us,
                 MAX(epoch_us(ts)) OVER (PARTITION BY event_type) AS m
          FROM events)
    WHERE us > m - 172800000000
    GROUP BY event_type
    """,
)
def q_streaming_retract_sliding(spark, sf):
    """A8 retraction end-to-end on a real MULTI-BATCH stream:
    ``sliding_window_agg`` maintains a per-key sum with
    accumulate-on-arrival / retract-on-expiry (the reference's
    accumulate-or-retract bitmap protocol, python/mod.rs:537-582) over a
    2-day sliding window.  The source is written as three parquet files and
    read with ``maxFilesPerTrigger=1``, so state (running sum + live
    buffer) crosses micro-batch boundaries through the state store and
    expiry retractions fire in later batches than the accumulations they
    undo.  Each key's FINAL update (selected by the monotone ``__seq``
    update counter) must equal the batch semantics "sum of rows within
    2 days of the key's newest event" — computed by the oracle from
    scratch, while the stream never recomputes a window."""
    import tempfile
    import uuid

    from .streaming.stateful import sliding_window_agg

    ev = (
        t(spark, sf, "events")
        .select(
            "event_type",
            F.floor("value").cast("long").alias("v"),
            F.col("ts"),
        )
        # three files -> three micro-batches under maxFilesPerTrigger=1;
        # repartitionByRange on ts makes the batches time-ordered, the
        # realistic replay shape (correctness holds under any split: the
        # cutoff is monotone and late rows retract in their own batch)
        .repartitionByRange(3, "ts")
    )
    d = tempfile.mkdtemp(prefix="stream_ret_")
    ev.write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = sliding_window_agg(
        stream,
        C.SumAgg,
        by=["event_type"],
        args=["v"],
        ts_col="ts",
        window_seconds=2 * 86400,
        emit_seq=True,
    )
    sink = f"ret_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len(q.recentProgress)
    if n_batches < 2:
        raise RuntimeError(
            f"expected multi-batch replay, got {n_batches} micro-batch(es)"
        )
    return spark.sql(
        f"SELECT event_type, max_by(sum_udaf, __seq) AS sum_udaf "
        f"FROM {sink} GROUP BY event_type"
    )


@query(
    "streaming_running_udaf",
    """
    SELECT event_type,
           CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS sum_udaf
    FROM events GROUP BY event_type
    """,
)
def q_streaming_running_udaf(spark, sf):
    """A6/A7/A9/A10 on a real MULTI-BATCH stream: the pickled-state UDAF
    protocol under ``applyInPandasWithState`` — state crosses micro-batch
    boundaries through the state store (three time-split files at one per
    trigger), every batch re-emits the key's running ``finish(state)``,
    and the FINAL update per key (monotone ``__seq``) must equal the batch
    aggregate computed from scratch by the oracle."""
    import tempfile
    import uuid

    from .streaming.stateful import streaming_running_agg

    ev = (
        t(spark, sf, "events")
        .select(
            "event_type",
            F.floor("value").cast("long").alias("v"),
            F.col("ts"),
        )
        .repartitionByRange(3, "ts")
        .drop("ts")
    )
    d = tempfile.mkdtemp(prefix="stream_run_")
    ev.write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = streaming_running_agg(
        stream, C.SumAgg, by=["event_type"], args=["v"], emit_seq=True
    )
    sink = f"run_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if len(q.recentProgress) < 2:
        raise RuntimeError(
            f"expected multi-batch replay, got {len(q.recentProgress)}"
        )
    return spark.sql(
        f"SELECT event_type, max_by(sum_udaf, __seq) AS sum_udaf "
        f"FROM {sink} GROUP BY event_type"
    )


@query(
    "error_text_corpus",
    """
    SELECT 'agg_state_mismatch' AS kind,
           '`output_type` must be the same as `state_type` when `finish` is not defined' AS error
    UNION ALL
    SELECT 'arity' AS kind,
           'TypeError: neg() takes 1 positional argument but 2 were given' AS error
    UNION ALL
    SELECT 'import' AS kind,
           'ModuleNotFoundError: No module named ''arrow_udf_missing_dependency''' AS error
    """,
)
def q_error_text_corpus(spark, sf):
    """The reference's unhappy-path texts pinned end-to-end
    (arrow-udf-runtime/tests/python.rs:916-935 output-type mismatch,
    :1010-1032 imports, :1080-1103 arity): each failure travels through the
    real machinery — per-row error capture in PyO3 "Type: message" format
    for the two call-time failures, registration-time validation for the
    aggregate state/output mismatch — and is compared against the
    reference's literal strings."""
    from .operators.aggregate import udaf
    from .plans.registry import Registry

    li = t(spark, sf, "lineitem").limit(64)
    _, e_arity = C.neg_arity.value_and_error(
        F.col("l_partkey"), F.col("l_suppkey")
    )
    _, e_imp = C.import_err_fn.value_and_error(F.col("l_partkey"))
    arity = (
        li.select(e_arity.alias("error"))
        .where(F.col("error").isNotNull())
        .distinct()
        .select(F.lit("arity").alias("kind"), "error")
    )
    imp = (
        li.select(e_imp.alias("error"))
        .where(F.col("error").isNotNull())
        .distinct()
        .select(F.lit("import").alias("kind"), "error")
    )

    try:

        @udaf(
            input_types=["int"],
            result_type="bigint",
            state_type="int",
            name="bad_sum_probe",
            registry=Registry(),
        )
        class BadSum:  # no finish() -> state type must equal output type
            def create_state(self):
                return 0

            def accumulate(self, s, x):
                return s + (x or 0)

            def merge(self, a, b):
                return a + b

        reg_err = "<no error raised>"
    except ValueError as exc:
        reg_err = str(exc)
    reg = spark.createDataFrame(
        [("agg_state_mismatch", reg_err)], "kind string, error string"
    )
    return arity.union(imp).union(reg)


# ---------------------------------------------------------------------------
# Catalog ordering for the driver's correctness gate
# ---------------------------------------------------------------------------
# The driver walks ``queries()`` in dict order and gates as many entries as
# its budget allows (round 1 covered exactly the first 50 of 108).  Order the
# catalog so the least-proven entries meet the hash gate first:
#   1. the four queries re-worked after round 1 (3 hash-rendering fixes + the
#      de-vacuated embedding_near_dup) — must re-prove;
#   2. the 58 queries added after the round-1 gate ran, most
#      architecturally-unique environments first (remote table exchange,
#      streaming, iterative clustering, temporal, sampling, TPC-H breadth);
#   3. the 46 queries already fully green in CORRECTNESS_r01.
_GATE_PRIORITY = [
    # ------------------------------------------------------------------
    # Round-10 OPTIMIZATION ordering.  The driver gates the first ~50
    # entries:
    #   1. never-driver-gated (mandatory — the build half of r10 added
    #      them and the driver has no row for them yet; asserted by
    #      tests/test_gate_window.py);
    #   2. changed THIS round by the optimization work — the vectorized
    #      two-phase UDAF rewrite (batched __mergevec merge), the DataFrame
    #      agg() merge, the fused BPE trainer loops, and the
    #      localCheckpoint staging pipelines — these carry the round's
    #      plan-mechanics risk and must re-prove under the driver gate;
    #   3. remaining slots: the stalest r5 queries (rotation continues;
    #      everything outside the window is re-proven by the regenerated
    #      LOCAL_VERIFY_r10 replica artifacts at final code).
    # ------------------------------------------------------------------
    # -- 1. never driver-gated (r10 build additions) --
    "pii_scrub",
    "image_autodecode",
    "ivf_pq_topk",
    "streaming_unigram_encode",
    "unigram_lm_fit",
    "jpeg_progressive_pixels",
    "jpeg_subsampled_pixels",
    "bpe_batch_train_encode",
    # -- 2. changed by the r10 optimization round --
    "sql_agg_correlated_two_phase",  # vectorized two-phase + decorrelation
    "sql_agg_bare_two_phase",
    "sql_agg_having_two_phase",
    "sql_agg_window_two_phase",
    "sql_agg_union_two_phase",
    "sql_agg_rollup_two_phase",
    "sql_agg_pivot_two_phase",
    "sql_agg_cte_two_phase",
    "sql_agg_expr_key_two_phase",
    "sum_udaf_two_phase_sql",  # hand-written __partial + __mergevec pair
    "sum_udaf",  # DataFrame agg(): vectorized collect_list+__mergevec merge
    "weighted_avg_udaf",
    "retract_udaf",
    "count_udaf",
    "kmv_udaf",
    "streaming_running_udaf",
    "bpe_train_encode",  # fused per-round materialization
    "streaming_bpe_encode",  # trains through bpe_train_encode
    "simhash_hamming_pairs",  # localCheckpoint digest staging
    "dedup_ensemble",  # consumes simhash_hamming_pairs
    "minhash_jaccard_est",
    "pagerank_docs",
    "dup_span_cascade",
    "dsir_weights",
    "curation_pipeline_e2e",
    "ann_pipeline_e2e",
    "knn_label_vote",  # staged per-side norms
    "embedding_near_dup",  # salted pair join (opt-session change)
    "semdedup_prune",  # pair join salted via embedding_near_dup
    # third-session optimization changes (SQL-string simhash build,
    # count(*) shingle flags, in-place kmeans cluster column, fused
    # multi-slice PQ fits) — the consumers not already listed above:
    "dup_span_flags",
    "semdedup_prune_numpy",
    "ivf_trained_topk",
    "pq_adc_recall",
    "streaming_pq_encode",
    # -- 3. stale-rotation residue (r5-latest driver rows) --
    "gcd",
    "option_add",
    "dedup_exact",
    "ivf_topk",
    "inverted_index",
    "kmv_source_similarity",
    "image_resize",
    "fib_fn",
    "gcd_async",
    "hex_to_dec_fn",
    "extract_tcp_info_fn",
    "funnel_conversion",
    "dedup_keep_best",
    "key_value_fn",
    "key_values_udtf",
]


def _reorder_catalog() -> None:
    ordered = {n: QUERIES[n] for n in _GATE_PRIORITY if n in QUERIES}
    for n, fn in QUERIES.items():
        ordered.setdefault(n, fn)
    QUERIES.clear()
    QUERIES.update(ordered)
    o = {n: ORACLE[n] for n in ordered if n in ORACLE}
    ORACLE.clear()
    ORACLE.update(o)


_reorder_catalog()
