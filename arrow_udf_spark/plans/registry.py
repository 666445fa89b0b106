"""Function registry with overload resolution.

Mirrors the reference's global signature registry and lookup rules
(reference: arrow-udf/src/sig.rs:92-151 — name + argument types + return
type, with a variadic prefix rule), re-expressed as a plain Python
registry.  SQL visibility is provided by registering each concrete
overload with ``spark.udf.register`` under a mangled name
(``name`` for the first/only overload, ``name__t1_t2`` for the rest).
"""

from __future__ import annotations

import itertools
import re
import threading
import warnings
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any, Optional

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


#: per thread, the names of the mapfold views the running ``Registry.sql``
#: call registered (None outside a call)
_FOLD_VIEWS = threading.local()


def _split_top_level(text: str) -> list[str]:
    """Split on commas not nested inside parentheses / quotes."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


@dataclass
class Signature:
    name: str
    arg_types: tuple[str, ...]
    return_type: str
    variadic: bool = False
    kind: str = "scalar"  # scalar | table | aggregate

    def mangled(self) -> str:
        if not self.arg_types:
            return self.name
        return self.name + "__" + "_".join(t.replace(" ", "") for t in self.arg_types)

    def matches(self, arg_types: tuple[str, ...]) -> bool:
        if self.variadic:
            # variadic prefix rule (sig.rs:106-110): fixed prefix must match,
            # trailing args all take the last declared type
            if len(arg_types) < len(self.arg_types) - 1:
                return False
            fixed = self.arg_types[:-1]
            if arg_types[: len(fixed)] != fixed:
                return False
            tail = self.arg_types[-1]
            return all(t == tail for t in arg_types[len(fixed) :])
        return arg_types == self.arg_types


@dataclass
class Registry:
    """name -> list of registered functions (overloads)."""

    _fns: dict[str, list[Any]] = field(default_factory=dict)
    # names this registry has itself SQL-registered (so re-registration in
    # the same session is recognized as ours, not as a builtin collision)
    _sql_names: set[str] = field(default_factory=set)
    # aggregate name -> sql name its first overload registered under (bare
    # or mangled); used by the two-phase SQL rewrite in :meth:`sql`
    _agg_sql_names: dict[str, str] = field(default_factory=dict)
    #: sticky flag set by ``register_sql(strict=True)``: the single-phase
    #: grouped aggregate SQL surface is never registered and unprovable query
    #: shapes raise instead of falling back to it
    _strict_sql: bool = False
    #: register_sql memo (r11 perf): a repeat registration of the full
    #: catalog costs ~0.5 s of py4j round trips per call, and every
    #: two-phase SQL query used to pay it inside the timed region.  Keyed
    #: WEAKLY by the live SparkSession and by a fingerprint of the
    #: registered function objects + the effective strict flag, so adding
    #: or redefining a function (tests do) or toggling strict re-registers
    #: for real.
    _reg_memo: Any = None

    def add(self, fn: Any) -> None:
        """Register ``fn``; a function of the same name, kind and argument
        types is replaced, so a redefinition is never shadowed by the old
        body."""
        fns = self._fns.setdefault(fn.sig.name, [])
        key = (fn.sig.kind, fn.sig.arg_types, fn.sig.variadic)
        for i, f in enumerate(fns):
            if (f.sig.kind, f.sig.arg_types, f.sig.variadic) == key:
                fns[i] = fn
                return
        fns.append(fn)

    def get(
        self,
        name: str,
        arg_types: Optional[tuple[str, ...]] = None,
        kind: Optional[str] = None,
    ) -> Any:
        """Resolve ``name`` (+ optional normalized arg types) to a function."""
        cands = self._fns.get(name, [])
        if kind is not None:
            cands = [f for f in cands if f.sig.kind == kind]
        if not cands:
            raise KeyError(f"function not found: {name}")
        if arg_types is None:
            return cands[0]
        for f in cands:
            if f.sig.matches(tuple(arg_types)):
                return f
        raise KeyError(f"no overload of {name} matches argument types {arg_types}")

    def names(self) -> list[str]:
        return sorted(self._fns)

    def all(self) -> list[Any]:
        return [f for fns in self._fns.values() for f in fns]

    def register_sql(
        self, spark: "SparkSession", strict: bool = False
    ) -> list[str]:
        """Expose overloads to ``spark.sql`` under mangled names.

        Scalars register via ``spark.udf.register``; table functions via
        ``spark.udtf.register`` (usable as ``SELECT * FROM f(...)`` and in
        ``LATERAL``).  The first overload of each name is also registered
        under the bare name, so ``SELECT gcd(a, b)`` works for the common
        case.

        Each aggregate registers three names, all Arrow UDFs over the
        fold and merge of ``AggregateFunction.agg``: ``f`` (single-phase
        grouped aggregate, eval type 252), ``f__partial`` (the group's
        pickled state, 252) and ``f__mergevec`` (scalar merge + finish
        over ``collect_list`` of states, 250).  ``f__partial`` under a
        salted GROUP BY, then ``f__mergevec(collect_list(p))`` under the
        real one, is the two-phase form in plain SQL.

        ``strict=True`` REFUSES to register the single-phase ``f`` (the
        scale trap: plain ``spark.sql`` plans it without partial
        aggregation, every row of a group on one worker), leaving two
        names per aggregate: ``f__partial`` and ``f__mergevec``.  A bare
        aggregate call then fails analysis-time with UNRESOLVED_ROUTINE
        instead of silently planning the single-phase shape, and
        :meth:`sql` raises (with the rewrite pointer) rather than falling
        back.  Strict mode is sticky on the registry so a later
        :meth:`sql` call honors it.
        """
        if strict:
            self._strict_sql = True
        strict = self._strict_sql
        # memo hit: same session, same registry contents, same strict mode
        # -> the catalog is already registered exactly as this call would
        # register it; skip the ~0.5 s of py4j registration round trips.
        # (UDF registration is idempotent session state, not a result
        # cache — re-running a query never depends on re-registering.)
        if self._reg_memo is None:
            import weakref

            self._reg_memo = weakref.WeakKeyDictionary()
        # function identities: the memo entry holds the functions, so an
        # id is never reused by a redefinition while it is recorded
        fns_now = self.all()
        fprint = (strict, tuple(map(id, fns_now)))
        memo_hit = self._reg_memo.get(spark)
        if memo_hit is not None and memo_hit[0] == fprint:
            return list(memo_hit[1])
        registered = []
        for name, fns in self._fns.items():
            # never shadow a Spark builtin under its bare name: a session
            # where `substring`/`length` silently became Python UDFs would
            # break unrelated queries (builtins resolve by name at analysis)
            if name in self._sql_names:
                bare_ok = True
            else:
                try:
                    bare_ok = not spark.catalog.functionExists(name)
                except Exception:
                    bare_ok = False
            scalar_i = table_i = 0
            for f in fns:
                if f.sig.kind == "scalar":
                    use_bare = bare_ok and scalar_i == 0
                    sql_name = name if use_bare else f.sig.mangled()
                    spark.udf.register(sql_name, f.as_spark_udf())
                    scalar_i += 1
                elif f.sig.kind == "table":
                    use_bare = bare_ok and table_i == 0
                    sql_name = name if use_bare else f.sig.mangled()
                    spark.udtf.register(sql_name, f.as_spark_udtf())
                    table_i += 1
                elif f.sig.kind == "aggregate":
                    # aggregates own their name space: first overload bare
                    sql_name = name if bare_ok else f.sig.mangled()
                    self._agg_sql_names.setdefault(name, sql_name)
                    if not strict:
                        # single-phase grouped aggregate (warns at wrap
                        # time); strict mode refuses it outright
                        spark.udf.register(
                            sql_name, f.as_spark_grouped_agg()
                        )
                    # phase 1 -> pickled state, and the batched merge +
                    # finish over collect_list of states, which the
                    # two-phase rewrite also emits over its fold view
                    spark.udf.register(
                        f"{sql_name}__partial", f.as_spark_grouped_agg(partial=True)
                    )
                    spark.udf.register(
                        f"{sql_name}__mergevec", f.as_spark_mergevec()
                    )
                    registered.append(f"{sql_name}__partial")
                    registered.append(f"{sql_name}__mergevec")
                    bare_ok = False
                    if strict:
                        # the bare single-phase name was NOT registered —
                        # keep it out of the registered list (and out of
                        # _sql_names, so leaving strict mode re-registers)
                        continue
                else:
                    continue
                if sql_name == name:
                    self._sql_names.add(name)
                registered.append(sql_name)
        try:
            self._reg_memo[spark] = (fprint, list(registered), fns_now)
        except TypeError:  # session not weak-referenceable (mock in tests)
            pass
        return registered

    # ------------------------------------------------------------------
    # Scale-safe SQL front door for aggregates
    # ------------------------------------------------------------------
    #: GROUP BY is optional: a GLOBAL aggregate (SELECT agg(x) FROM t) is
    #: the worst single-phase case — EVERY row moves to one worker — so it
    #: needs the two-phase rewrite most of all
    _GROUPBY_SHAPE = re.compile(
        r"(?is)^\s*SELECT\s+(?P<sel>.*?)\s+FROM\s+(?P<frm>.*?)"
        r"(?:\s+WHERE\s+(?P<where>.*?))?"
        r"(?:\s+GROUP\s+BY\s+(?P<grp>.*?))?"
        r"(?P<tail>\s+(?:HAVING|ORDER\s+BY|LIMIT)\b.*)?\s*;?\s*$"
    )
    _AGG_ITEM = re.compile(
        r"(?is)^(?:CAST\s*\(\s*)?(?P<fn>[A-Za-z_]\w*)\s*\((?P<args>.*?)\)"
        r"(?:\s+AS\s+(?P<cast>[\w()<>, ]+?)\s*\))?"
        r"(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?$"
    )
    _PLAIN_COL = re.compile(r"(?i)^[A-Za-z_][\w.]*$")
    #: built-in aggregates the map-side fold computes as one partial per
    #: (group, input partition), re-aggregated in U: SUM of partial
    #: COUNTs/SUMs, MIN of MINs, MAX of MAXes (the partial/merge
    #: arithmetic of Spark's own two-level Aggregate).  AVG has no
    #: single-fn merge (needs sum+count) and keeps the joined-B form.
    _B_FOLD_MERGE = {
        "count": "COALESCE(SUM({p}), 0)",
        "sum": "SUM({p})",
        "min": "MIN({p})",
        "max": "MAX({p})",
    }
    #: mapfold admissibility by the Spark type name of an analyzed source
    #: column: ``key`` when the fold groups by it with Spark's GROUP BY
    #: equality, plus the built-in partials it computes exactly over it
    #: (COUNT takes any type).  Float and decimal SUM are absent: added in
    #: another order than Spark's, they drift, so they take the joined B
    #: aggregate.  Struct and array keys need every field / element type
    #: admissible as a key.
    _FOLD_TYPES = {
        **dict.fromkeys(
            ("byte", "short", "integer", "long"), {"key", "sum", "min", "max"}
        ),
        **dict.fromkeys(
            (
                "float", "double", "decimal", "string", "binary", "boolean",
                "date", "timestamp", "timestamp_ntz",
            ),
            {"key", "min", "max"},
        ),
        "struct": {"key"},
        "array": {"key"},
    }
    #: built-in aggregates routed to the natively-aggregated B subquery —
    #: Spark plans these partial+final itself, so they are scale-safe
    #: without any salting
    _BUILTIN_AGGS = {
        "count", "sum", "min", "max", "avg", "mean", "stddev",
        "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
        "first", "last", "any_value", "approx_count_distinct",
    }
    #: scalar functions the call rewriter may pass through and recurse
    #: into.  A whitelist, not a blacklist: an unlisted call could be an
    #: aggregate we don't recognize, which must fall back to single-phase
    #: rather than silently evaluate over partial states.
    _SCALAR_PASSTHROUGH = {
        "cast", "coalesce", "abs", "round", "floor", "ceil", "ceiling",
        "nullif", "greatest", "least", "if", "ifnull", "nvl", "sign",
    }
    #: deterministic scalar functions allowed inside EXPRESSION group
    #: keys (GROUP BY pmod(x, 10)) — a whitelist like
    #: _SCALAR_PASSTHROUGH: an unknown call could be nondeterministic
    #: (rand()) or an aggregate, either of which breaks the U/B split
    _GRP_FUNCS = {
        "cast", "coalesce", "abs", "round", "floor", "ceil", "ceiling",
        "nullif", "greatest", "least", "if", "ifnull", "nvl", "sign",
        "pmod", "mod", "date_trunc", "date_format", "to_date", "year",
        "month", "day", "hour", "minute", "second", "substr",
        "substring", "concat", "lower", "upper", "trim", "length",
        "element_at", "split_part",
    }
    #: bare words that signal a shape the call rewriter must NOT hoist
    #: aggregates across.  ``SELECT`` is the load-bearing one: a scalar
    #: subquery ``(SELECT max(y) FROM u)`` opens a new scope whose
    #: aggregates range over ``u``, not the outer table — hoisting them
    #: into the B subquery silently computes them over the wrong table
    #: (ADVICE r6, high).  The rest are scope/structure keywords that can
    #: only appear when such a subquery (or a window/set-op) is present.
    _UNSAFE_BARE_WORDS = {
        "select", "from", "where", "group", "having", "order", "limit",
        "union", "intersect", "except", "join", "on", "exists", "with",
        "over", "lateral", "values", "qualify",
    }
    #: words that never name a select item without AS: Spark reads
    #: ``x IS NULL`` or ``CASE ... END`` as one expression
    _NOT_ALIAS = _UNSAFE_BARE_WORDS | {
        "and", "or", "not", "is", "null", "true", "false", "in", "like",
        "rlike", "ilike", "between", "escape", "case", "when", "then",
        "else", "end", "as", "asc", "desc", "nulls", "distinct", "div",
    }
    #: window functions the select-item rewriter may pass through with an
    #: ``OVER (...)`` clause.  Built-in aggregates (_BUILTIN_AGGS) are also
    #: legal as window functions (``SUM(...) OVER ()`` share-of-total).
    #: Registered UDAFs are NOT: a grouped aggregate UDF over window frames is
    #: exactly the every-row-to-one-worker trap the rewrite exists to avoid.
    _WINDOW_FUNCS = {
        "rank", "dense_rank", "row_number", "ntile", "percent_rank",
        "cume_dist", "lag", "lead", "first_value", "last_value",
        "nth_value",
    }
    #: bare words legal inside an ``OVER (...)`` specification (frame and
    #: ordering keywords); anything else bare must be a column reference
    _OVER_BARE_WORDS = {
        "partition", "by", "order", "asc", "desc", "nulls", "first",
        "last", "rows", "range", "groups", "between", "unbounded",
        "preceding", "following", "current", "row", "and",
    }

    #: what the loud refusals of :meth:`sql` tell the user to do instead
    _REWRITE_HINT = (
        "Simplify the query to a provable shape (single GROUP BY block, "
        "no UDAF inside a CTE body, no subqueries in the select list / "
        "HAVING / ORDER BY), or use the DataFrame "
        "AggregateFunction.agg(df, by=..., args=...) path"
    )
    #: Spark's refusals of a single-phase grouped aggregate UDF plan (it
    #: still names Arrow ones "pandas UDAF")
    _SINGLE_PHASE_REFUSED = {
        "INVALID_PANDAS_UDF_PLACEMENT",
        "UNSUPPORTED_FEATURE.PANDAS_UDAF_IN_PIVOT",
    }

    def sql(self, spark: "SparkSession", query: str) -> "DataFrame":
        """Run SQL with bare aggregate names made scale-safe by default.

        Spark plans a grouped aggregate UDF without partial aggregation:
        every row of a group moves to ONE worker — a scale trap on hot keys
        (the reference's hosts always run partial+final agg,
        arrow-udf-runtime/src/python/mod.rs:456-656).  This front door
        rewrites ``agg(args)`` calls over a single-block ``GROUP BY`` into
        the two-phase plan of ``AggregateFunction.agg``: a map-side
        ``mapInArrow`` fold turns each group's rows into one pickled state
        per input partition before any exchange, and ``agg__mergevec``
        merges only those O(groups x partitions) states.

        Queries that don't call a registered aggregate run unchanged.
        Provable shapes include expression and qualified group keys
        (GROUP BY pmod(x, 10), GROUP BY e.k), a leading non-RECURSIVE CTE
        block (rewritten main block, CTE bodies verbatim — refused if a
        CTE body itself calls a UDAF), window functions over the grouped
        result (rank() OVER (ORDER BY sum_udaf(v)), CAST-wrapped too),
        top-level set operations (each UNION/INTERSECT/EXCEPT arm
        rewrites independently; the trailing ORDER BY/LIMIT binds to the
        union), multi-grouping clauses (GROUP BY ROLLUP/CUBE/GROUPING
        SETS over plain columns — the fold runs at the finest
        granularity, U re-aggregates the states under the original
        clause, and a grouping_id() join keeps data-NULL groups distinct
        from super-aggregate rows), and top-level PIVOT over a named
        projection (expanded to the GROUP BY + CASE form — which native
        Spark cannot even run with a Python UDAF head,
        UNSUPPORTED_FEATURE.PANDAS_UDAF_IN_PIVOT).
        Anything unprovable falls back to the single-phase form with the
        registration warning, raises under ``register_sql(strict=True)``,
        and raises ``ValueError`` where Spark refuses the single-phase
        plan (a UDAF next to a native aggregate, a UDAF in PIVOT).
        """
        agg_names = {
            n
            for n, fns in self._fns.items()
            if any(f.sig.kind == "aggregate" for f in fns)
        }
        used = {
            n
            for n in agg_names
            if re.search(rf"(?i)\b{re.escape(n)}\s*\(", query)
        }
        if not used:
            return spark.sql(query)
        self.register_sql(spark)
        # mapfold views the rewrite registers are dropped once the query
        # is analyzed: the analyzed plan keeps the view's subtree inline
        created = _FOLD_VIEWS.names = []
        try:
            rewritten = self._rewrite_two_phase(query, used, spark)
            if rewritten is not None:
                return spark.sql(rewritten)
        finally:
            _FOLD_VIEWS.names = None
            for name in created:
                spark.catalog.dropTempView(name)
        if self._strict_sql:
            raise ValueError(
                "query shape not rewritable to two-phase aggregation "
                "and strict SQL mode refuses the single-phase "
                "grouped aggregate fallback (every row of a group on one "
                f"worker). {self._REWRITE_HINT}, "
                "or re-register with register_sql(strict=False)."
            )
        warnings.warn(
            "query shape not rewritable to two-phase aggregation; "
            "running single-phase grouped aggregate (every row of a group "
            "moves to one worker)",
            RuntimeWarning,
            stacklevel=2,
        )
        from pyspark.errors import AnalysisException

        try:
            df = spark.sql(query)
            # Spark refuses a Python UDAF next to a native aggregate only
            # when it plans the query
            df._jdf.queryExecution().executedPlan()
            return df
        except AnalysisException as e:
            if e.getCondition() not in self._SINGLE_PHASE_REFUSED:
                raise
            raise ValueError(
                "query shape not rewritable to two-phase aggregation, and "
                f"Spark refuses its single-phase form ({e.getCondition()}). "
                f"{self._REWRITE_HINT}."
            ) from e

    def _rewrite_two_phase(
        self,
        query: str,
        used: set[str],
        spark: "SparkSession",
        scope: str = "",
    ) -> Optional[str]:
        """Rewrite to the scale-safe composed form.

        Every aggregate CALL in the select list and the HAVING / ORDER BY
        tail becomes a column of one of two grouped subqueries:

        - **U**: registered UDAFs merge (``__mergevec``) the pickled
          states of the map-side fold view (:meth:`_build_mapfold_view`),
          one ``__u{i}`` column per distinct call;
        - **B**: built-in aggregates.  COUNT/SUM/MIN/MAX (no DISTINCT)
          FOLD into the same view when its type table computes their
          partials exactly: one partial per (group, input partition),
          merged by SUM/MIN/MAX in U — the partial/merge arithmetic
          Spark's own two-level Aggregate performs — so the source is
          evaluated ONCE and there is no U/B join.  Anything else (AVG,
          stddev, DISTINCT args, float or decimal SUM) becomes a separate
          plain native aggregation joined to U on the (null-safe ``<=>``)
          group keys — Spark plans those partial+final itself, so B is
          scale-safe by construction.

        HAVING becomes a plain WHERE over the merged columns and ORDER
        BY references them directly, so no analyzer magic is needed to
        resolve aggregates above the merge.  In the joined-B form B's
        group keys are renamed ``__bg{i}`` so every original name stays
        unambiguous.

        ``scope`` is the CTE prefix of an enclosing query, inside which a
        set-op arm, PIVOT core or decorrelated subquery analyzes its fold
        view.  Returns None when the shape is unprovable or the fold view
        cannot be built.
        """
        sw = self._split_with(query)
        if sw is None:
            return None  # malformed / RECURSIVE CTE block — fall back
        cte_prefix, main = sw
        pre = f"{cte_prefix} " if cte_prefix else ""
        scope = scope or pre
        if cte_prefix and any(
            re.search(rf"(?i)\b{re.escape(n)}\s*\(", cte_prefix)
            for n in used
        ):
            # a UDAF call INSIDE a CTE body would stay single-phase no
            # matter how we rewrite the main block — refuse rather than
            # silently leave the trap in the prefix
            return None
        blocks = self._split_set_ops(main)
        if blocks is None:
            return None
        if len(blocks) > 1:
            # set operations between aggregate blocks: each block rewrites
            # INDEPENDENTLY (fresh partial/merge columns per block — the
            # scopes share nothing), blocks without a UDAF call pass
            # verbatim, and a trailing ORDER BY/LIMIT belongs to the UNION
            # per the grammar, so it is stripped off the last block and
            # re-appended after reassembly (plain output columns only —
            # anything fancier refuses)
            last_i = len(blocks) - 1
            st = self._strip_union_tail(blocks[last_i][0])
            if st is None:
                return None
            blocks[last_i] = (st[0], blocks[last_i][1])
            union_tail = st[1]
            parts = []
            for blk, op in blocks:
                if not any(
                    re.search(rf"(?i)\b{re.escape(n)}\s*\(", blk)
                    for n in used
                ):
                    rb = blk.strip()  # no UDAF — verbatim
                else:
                    rb = self._rewrite_two_phase(blk, used, spark, scope)
                    if rb is None:
                        return None
                parts.append((rb, op))
            out_sql = parts[0][0]
            for rb, op in parts[1:]:
                out_sql += f" {op} {rb}"
            return f"{pre}{out_sql}{union_tail}"
        if self._has_top_level_kw(main, "PIVOT"):
            # PIVOT with a UDAF head: expand to the GROUP BY + CASE form
            # (exactly Spark's own ResolvePivot expansion for null-ignoring
            # aggregates), then rewrite the expansion two-phase.  Anything
            # outside the provable shape refuses rather than mangles.
            expanded = self._expand_pivot(main, used)
            if expanded is None:
                return None
            core, outer_items, tail = expanded
            rb = self._rewrite_two_phase(core, used, spark, scope)
            if rb is None:
                return None
            # the outermost projection applies the PUBLIC pivot column
            # names (possibly backticked literals) — the core rewrites
            # under plain internal aliases the select-item parser accepts
            sql = f"SELECT {outer_items} FROM ({rb}) __aus_pvt"
            return f"{pre}{sql} {tail}" if tail else f"{pre}{sql}"
        m = self._GROUPBY_SHAPE.match(main)
        if not m:
            return None
        frm_txt = m.group("frm")
        where_txt = m.group("where")
        # correlated scalar aggregate subqueries in WHERE (the TPC-H q17
        # shape): decorrelate each UDAF-headed one to a GROUP BY derived
        # table + equi-join (itself rewritten two-phase), then either
        # return directly (outer aggregates all native — scale-safe as
        # is) or continue below with the joined FROM/WHERE.  A UDAF call
        # in WHERE that does NOT decorrelate refuses (returning None)
        # rather than riding single-phase into the U/B sources.
        if where_txt and any(
            re.search(rf"(?i)\b{re.escape(n)}\s*\(", where_txt)
            for n in used
        ):
            dc = self._decorrelate_where(
                frm_txt, where_txt, used, spark, scope
            )
            if dc is None:
                return None
            frm_txt, where_txt = dc
            rest = f"{m.group('sel')} {m.group('tail') or ''}"
            if not any(
                re.search(rf"(?i)\b{re.escape(n)}\s*\(", rest)
                for n in used
            ):
                grp_sql = (
                    f" GROUP BY {m.group('grp')}" if m.group("grp") else ""
                )
                return (
                    f"{pre}SELECT {m.group('sel')} FROM {frm_txt} "
                    f"WHERE {where_txt}{grp_sql}{m.group('tail') or ''}"
                )
        grp_items = _split_top_level(m.group("grp")) if m.group("grp") else []
        # multi-grouping clauses (GROUP BY ROLLUP(a, b) / CUBE(a, b) /
        # GROUPING SETS ((a, b), (a), ())): the clause text passes to the
        # U and B subqueries VERBATIM, the fold runs at the
        # FINEST granularity (every mentioned column — each grouping set
        # is a subset, so merging finest states into any set's groups is
        # exact by merge associativity), and both sides project
        # grouping_id() so the join can tell a data-NULL group from a
        # super-aggregate row.  Plain columns only; anything else refuses.
        multi_clause = None
        if len(grp_items) == 1:
            mg = re.match(
                r"(?is)^(?:ROLLUP|CUBE)\s*\((?P<cols>[^()]*)\)$"
                r"|^GROUPING\s+SETS\s*\((?P<sets>.*)\)$",
                grp_items[0],
            )
            if mg:
                cols: list[str] = []
                if mg.group("cols") is not None:
                    raw = _split_top_level(mg.group("cols"))
                else:
                    raw = []
                    for s_ in _split_top_level(mg.group("sets")):
                        s_ = s_.strip()
                        if not (s_.startswith("(") and s_.endswith(")")):
                            return None
                        raw.extend(
                            c for c in _split_top_level(s_[1:-1]) if c
                        )
                for c in raw:
                    if not self._PLAIN_COL.match(c):
                        return None  # expressions inside the sets — refuse
                    if c.lower() not in {x.lower() for x in cols}:
                        cols.append(c)
                if not cols:
                    return None
                multi_clause = grp_items[0]
                grp_items = cols  # the finest keys drive everything else
        # EXPRESSION group keys (GROUP BY pmod(x, 10), date_trunc('day',
        # ts), ...) are provable when built from columns/literals and
        # whitelisted deterministic scalar functions.  A bare column key
        # keeps its name through the fold view and U; qualified (e.k)
        # and expression keys ride as __g{i}, and a select item that
        # textually matches a key resolves to that name.
        for g in grp_items:
            if not self._PLAIN_COL.match(g) and not self._safe_group_expr(g):
                return None
        g_names = [
            g if re.fullmatch(r"[A-Za-z_]\w*", g) else f"__g{i}"
            for i, g in enumerate(grp_items)
        ]
        if multi_clause is not None and g_names != grp_items:
            return None  # U re-groups under the clause text verbatim

        def _norm(e: str) -> str:
            # normalize case/whitespace OUTSIDE quoted literals only:
            # date_format(ts,'MM') and date_format(ts,'mm') are DIFFERENT
            # expressions, and lowercasing inside '...' would silently
            # project the wrong one as the group key where Spark's own
            # analyzer rejects the query (ADVICE r7)
            out = []
            quote = None
            for ch in e:
                if quote:
                    out.append(ch)
                    if ch == quote:
                        quote = None
                elif ch in "'\"":
                    quote = ch
                    out.append(ch)
                elif ch.isspace():
                    continue
                else:
                    out.append(ch.lower())
            return "".join(out)

        grp_norm = {_norm(g): i for i, g in enumerate(grp_items)}
        sel_items = _split_top_level(m.group("sel"))
        agg_args: list[tuple] = []  # (udaf name, [arg exprs]) per __u{i}
        b_cols: list = []  # built-in agg calls as (name, args) -> __b{i}
        memo: dict = {}  # lowercased call -> replacement token
        outer_items: list[str] = []
        grp_set = {g.lower() for g in grp_items}

        def _rw(e: str) -> Optional[str]:
            return self._rewrite_agg_calls(e, used, agg_args, b_cols, memo)

        def _rw_key(e: str) -> Optional[str]:
            # the U column of a group key expression, or None
            gi = grp_norm.get(_norm(e))
            return None if gi is None else g_names[gi]

        def _rw_spec_expr(e: str) -> Optional[str]:
            # a window-spec / window-arg expression above the merge can
            # only be a group key (plain or aliased expression key) or an
            # aggregate call (rewritten to its __u/__b column) — anything
            # else does not exist in the outer scope
            key = _rw_key(e)
            if key is not None:
                return key
            rw = _rw(e)
            return None if rw == e else rw

        def _rw_win(expr_src: str) -> Optional[tuple]:
            """Rewrite a ``head(args) OVER (spec)`` select item: window
            functions evaluate over the GROUPED result, so the call stays
            in the outer query verbatim while every aggregate inside its
            args / PARTITION BY / ORDER BY is replaced by its merged
            column (``SUM(sum_udaf(v)) OVER ()`` share-of-total,
            ``rank() OVER (ORDER BY sum_udaf(v) DESC)``).  Registered
            UDAFs as the window HEAD are refused — a grouped aggregate
            UDF over window frames is exactly the every-row-to-one-worker
            trap this rewrite exists to avoid.  Returns
            ``(rewritten, default_alias)`` or None."""
            # CAST-wrapped window (CAST(rank() OVER (...) AS BIGINT)):
            # unwrap, rewrite the inner window, re-wrap
            cm = re.match(r"(?is)^\s*CAST\s*\(", expr_src)
            if cm:
                ci = cm.end() - 1
                cj = self._match_paren(expr_src, ci)
                if cj is not None and not expr_src[cj + 1 :].strip():
                    inner = expr_src[ci + 1 : cj]
                    am2 = re.match(
                        r"(?is)^(?P<e>.+)\s+AS\s+"
                        r"(?P<t>\w+(\s*\(\s*\d+(\s*,\s*\d+)?\s*\))?)\s*$",
                        inner,
                    )
                    if am2 is None:
                        return None
                    sub = _rw_win(am2.group("e"))
                    if sub is None:
                        return None
                    return (
                        f"CAST({sub[0]} AS {am2.group('t')})",
                        sub[1],
                    )
            hm = re.match(r"(?is)^\s*([A-Za-z_]\w*)\s*\(", expr_src)
            if not hm:
                return None
            head = hm.group(1)
            i0 = hm.end() - 1
            j0 = self._match_paren(expr_src, i0)
            if j0 is None:
                return None
            args = expr_src[i0 + 1 : j0]
            rest = expr_src[j0 + 1 :]
            om = re.match(r"(?is)^\s*OVER\s*\(", rest)
            if not om:
                return None
            k0 = om.end() - 1
            k1 = self._match_paren(rest, k0)
            if k1 is None or rest[k1 + 1 :].strip():
                return None
            spec = rest[k0 + 1 : k1]
            hl = head.lower()
            if hl in used:
                return None
            if hl not in self._WINDOW_FUNCS and hl not in self._BUILTIN_AGGS:
                return None
            args_rw = ""
            if args.strip():
                args_rw = _rw_key(args) or _rw(args)
                if args_rw is None:
                    return None
            sm = re.match(
                r"(?is)^\s*(?:PARTITION\s+BY\s+(?P<pb>.*?))?"
                r"(?:\s*ORDER\s+BY\s+(?P<ob>.*?))?"
                r"(?:\s*(?P<frame>(?:ROWS|RANGE|GROUPS)\b[^()'\"]*))?\s*$",
                spec,
            )
            if not sm:
                return None
            parts = []
            if sm.group("pb"):
                its = []
                for it2 in _split_top_level(sm.group("pb")):
                    r2 = _rw_spec_expr(it2)
                    if r2 is None:
                        return None
                    its.append(r2)
                parts.append("PARTITION BY " + ", ".join(its))
            if sm.group("ob"):
                its = []
                for it2 in _split_top_level(sm.group("ob")):
                    sm2 = re.match(
                        r"(?is)^(?P<e>.*?)(?P<suffix>\s+(?:ASC|DESC)"
                        r"(?:\s+NULLS\s+(?:FIRST|LAST))?|"
                        r"\s+NULLS\s+(?:FIRST|LAST))?\s*$",
                        it2,
                    )
                    r2 = _rw_spec_expr(sm2.group("e"))
                    if r2 is None:
                        return None
                    its.append(r2 + (sm2.group("suffix") or ""))
                parts.append("ORDER BY " + ", ".join(its))
            frame = sm.group("frame")
            if frame:
                toks = re.findall(r"[A-Za-z_]\w*", frame)
                if any(
                    tk.lower() not in self._OVER_BARE_WORDS for tk in toks
                ):
                    return None
                parts.append(" ".join(frame.split()))
            return f"{head}({args_rw}) OVER ({' '.join(parts)})", hl
        for item in sel_items:
            expr_src, alias = self._split_alias(item)
            key = _rw_key(expr_src)
            if key is not None:
                # the select item IS a group key (possibly aliased); a
                # bare column keeps Spark's output name (e.k -> k)
                if alias is None:
                    if not self._PLAIN_COL.match(expr_src):
                        return None  # expression key needs an alias
                    alias = expr_src.rsplit(".", 1)[-1]
                outer_items.append(key if key == alias else f"{key} AS {alias}")
                continue
            if multi_clause is not None and re.match(
                r"(?is)^\s*grouping_id\s*\(\s*\)\s*$", expr_src
            ):
                # already projected by U for the join — reuse it
                outer_items.append(f"__gid AS {alias or 'grouping_id'}")
                continue
            if re.search(r"(?i)\bOVER\b", expr_src):
                wrw = _rw_win(expr_src)
                if wrw is None:
                    return None
                outer_items.append(f"{wrw[0]} AS {alias or wrw[1]}")
                continue
            # aliasless single calls (incl. the CAST(agg(x) AS T) shape)
            # default to the function name; any other aliasless
            # expression is unprovable
            if alias is None:
                am = self._AGG_ITEM.match(item)
                if am is None:
                    return None
                alias = am.group("fn").lower()
            rewritten = _rw(expr_src)
            if rewritten is None or rewritten == expr_src:
                return None  # no aggregate found / unprovable shape
            outer_items.append(f"{rewritten} AS {alias}")
        # SELECT-alias map for the tail: Spark lets HAVING/ORDER BY name a
        # select alias (HAVING sum_qty > 100), but the rewritten WHERE
        # runs over the U/B join, BELOW the final projection where the
        # alias is born — substitute the alias's rewritten expression.
        # Group columns are excluded (they exist in the join; an alias
        # shadowing one would be self-referential).
        alias_map = {}
        for item in outer_items:
            am2 = re.match(r"(?is)^(?P<e>.+)\s+AS\s+(?P<a>[A-Za-z_]\w*)$", item)
            if am2 and am2.group("a").lower() not in grp_set:
                alias_map[am2.group("a").lower()] = f"({am2.group('e')})"

        def _subst_aliases(expr: str) -> str:
            # group keys (qualified ones too) to their U names, then
            # select aliases to their expressions
            return re.sub(
                r"(?<![\w.])[A-Za-z_][\w.]*",
                lambda mm: _rw_key(mm.group(0))
                or alias_map.get(mm.group(0).lower(), mm.group(0)),
                expr,
            )

        having_sql = order_sql = limit_sql = ""
        tail = m.group("tail") or ""
        if tail:
            parts = self._split_tail(tail)
            if parts is None:
                return None
            hav, order, limit = parts
            if hav is not None:
                if not grp_items:
                    return None  # HAVING without GROUP BY — let Spark error
                hav_rw = _rw(hav)
                if hav_rw is None:
                    return None
                having_sql = f" WHERE {_subst_aliases(hav_rw)}"
            if order is not None:
                items = []
                for it in _split_top_level(order):
                    sm = re.match(
                        r"(?is)^(?P<e>.*?)(?P<suffix>\s+(?:ASC|DESC)"
                        r"(?:\s+NULLS\s+(?:FIRST|LAST))?|"
                        r"\s+NULLS\s+(?:FIRST|LAST))?\s*$",
                        it,
                    )
                    expr, suffix = sm.group("e"), sm.group("suffix") or ""
                    expr = _rw_key(expr) or (
                        expr if self._PLAIN_COL.match(expr) else _rw(expr)
                    )
                    if expr is None:
                        return None
                    items.append(expr + suffix)
                order_sql = f" ORDER BY {', '.join(items)}"
            if limit is not None:
                limit_sql = f" LIMIT {limit}"
        if not agg_args:
            return None  # no registered-UDAF call — nothing to protect
        where = f" WHERE {where_txt}" if where_txt else ""
        src = f"FROM {frm_txt}{where}"
        fold = self._build_mapfold_view(
            spark, scope, src, grp_items, g_names, agg_args, b_cols
        )
        if fold is None:
            return None
        view, fold_b = fold
        gnames = ", ".join(g_names)
        u_cols = [
            f"{self._agg_sql_names[ln]}__mergevec(collect_list(__st{i})) "
            f"AS __u{i}"
            for i, (ln, _args) in enumerate(agg_args)
        ]
        if fold_b:
            # COUNT merges through COALESCE(SUM(..), 0) because the global
            # no-GROUP-BY shape yields one NULL-state row on empty input
            # where COUNT must say 0 (keyed groups exist only where rows
            # do)
            u_cols += [
                f"{self._B_FOLD_MERGE[bn.lower()].format(p=f'__bp{j}')} "
                f"AS __b{j}"
                for j, (bn, _ba) in enumerate(b_cols)
            ]
        # multi-grouping: U re-aggregates the finest partial states under
        # the ORIGINAL rollup/cube/sets clause (merge associativity makes
        # that exact); grouping_id() disambiguates data-NULL keys from
        # super-aggregate rows in the U/B join
        u_grp = multi_clause if multi_clause is not None else gnames
        u_gid = ", grouping_id() AS __gid" if multi_clause is not None else ""
        u = (
            f"SELECT {gnames}{u_gid}{', ' if gnames else ''}"
            f"{', '.join(u_cols)} FROM {view} __aus_partials"
            + (f" GROUP BY {u_grp}" if u_grp else "")
        )
        from_sql = f"({u}) __aus_u"
        if b_cols and not fold_b:
            b_cols_sql = [
                f"{bn}({ba}) AS __b{bi}"
                for bi, (bn, ba) in enumerate(b_cols)
            ]
            bg = [f"{g} AS __bg{i}" for i, g in enumerate(grp_items)]
            if multi_clause is not None:
                bg.append("grouping_id() AS __bgid")
            b_grp = multi_clause or ", ".join(grp_items)
            b = (
                f"SELECT {', '.join(bg + b_cols_sql)} {src}"
                + (f" GROUP BY {b_grp}" if b_grp else "")
            )
            if grp_items:
                conds = " AND ".join(
                    f"__aus_u.{g_names[i]} <=> __aus_b.__bg{i}"
                    for i in range(len(grp_items))
                )
                if multi_clause is not None:
                    conds += " AND __aus_u.__gid = __aus_b.__bgid"
                from_sql += f" JOIN ({b}) __aus_b ON {conds}"
            else:
                from_sql += f" CROSS JOIN ({b}) __aus_b"  # both single-row
        # the CTE prefix rides verbatim above the rewritten main block:
        # Spark scopes a query's CTEs over every subquery of the following
        # SELECT, so the U/B subqueries still resolve the CTE names
        return (
            f"{pre}SELECT {', '.join(outer_items)} FROM {from_sql}"
            f"{having_sql}{order_sql}{limit_sql}"
        )

    #: monotone suffix for mapfold temp view names (concurrent rewrites in
    #: one session must never collide)
    _MAPFOLD_SEQ = itertools.count()

    def _build_mapfold_view(
        self,
        spark,
        scope: str,
        src: str,
        grp_items: list,
        g_names: list,
        agg_args: list,
        b_cols: list,
    ) -> Optional[tuple[str, bool]]:
        """Register a temp view computing the two-phase PARTIAL states
        with a map-side ``mapInArrow`` multi-fold: one pickled state per
        (group, input partition) plus the foldable built-in partials, all
        BEFORE any exchange, so only O(groups x partitions) state rows
        shuffle.  The view's columns are exactly what U's merge
        expressions reference: ``g_names`` + ``__st{i}`` + ``__bp{j}``.

        ``src`` is the ``FROM ... [WHERE ...]`` text of the query block,
        analyzed inside ``scope`` (the CTE prefix).  Fold admissibility is
        checked against the analyzed types in ``_FOLD_TYPES``: the group
        keys must be admissible, and the built-in partials fold only as a
        whole — one the fold cannot compute exactly sends every built-in
        call to the joined B aggregate.  Returns ``(view name, built-ins
        folded)``, or None when the source does not analyze or a key type
        is not admissible."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import types as T

        from ..operators.aggregate import build_multi_fold

        udafs = [
            next(f for f in self._fns[ln] if f.sig.kind == "aggregate")
            for ln, _args in agg_args
        ]
        sel = [g if g == n else f"{g} AS {n}" for g, n in zip(grp_items, g_names)]
        arg_ns = []
        for ui, (_ln, args_) in enumerate(agg_args):
            arg_ns.append(len(args_))
            sel += [f"{a} AS __aua{ui}_{ai}" for ai, a in enumerate(args_)]
        n_in = len(sel)  # key + UDAF argument columns
        fold_b = bool(b_cols) and all(
            bn.lower() in self._B_FOLD_MERGE
            and not re.match(r"(?is)^\s*DISTINCT\b", ba)
            and len(_split_top_level(ba)) == 1
            for bn, ba in b_cols
        )
        star = [bn.lower() == "count" and ba.strip() == "*" for bn, ba in b_cols]
        if fold_b:
            sel += [
                f"{ba} AS __aub{j}"
                for j, (_bn, ba) in enumerate(b_cols)
                if not star[j]
            ]
        try:
            df_src = spark.sql(f"{scope}SELECT {', '.join(sel)} {src}")
        except AnalysisException:
            return None
        fields = df_src.schema.fields
        by_n = len(g_names)
        if not all(self._fold_key_ok(f.dataType) for f in fields[:by_n]):
            return None
        kinds: list[tuple] = []
        ci = n_in
        for j, (bn, _ba) in enumerate(b_cols if fold_b else []):
            kind = bn.lower()
            if star[j]:
                kinds.append(("count_star", None))
                continue
            tname = fields[ci].dataType.typeName()
            if kind != "count" and kind not in self._FOLD_TYPES.get(tname, ()):
                fold_b, kinds = False, []
                df_src = df_src.select(*df_src.columns[:n_in])
                break
            kinds.append(("sum_int" if kind == "sum" else kind, ci))
            ci += 1
        out_fields = [
            T.StructField(f.name, f.dataType) for f in fields[:by_n]
        ] + [T.StructField(f"__st{u}", T.BinaryType()) for u in range(len(udafs))]
        for j, (kind, ci) in enumerate(kinds):
            dt = fields[ci].dataType if kind in ("min", "max") else T.LongType()
            out_fields.append(T.StructField(f"__bp{j}", dt))
        # The fold parallelizes at its INPUT width (local fixture: ~3
        # scan tasks; real scale: far wider than the core count, so it
        # runs map-side with ZERO exchanges).  A round-robin
        # repartition-to-cores here was A/B-measured SLOWER locally
        # (hi-card 5.4 s vs 4.6 s without): it multiplies the
        # (group x partition) state count by cores/width and pays an
        # exchange of every raw row.  The per-group cost is bounded in
        # the fold instead: it merges batches into chunks of up to
        # 256k rows / 64 MiB (the per-task memory cap), groups each
        # chunk once with a vectorized sort, and so pays Python once
        # per (group, chunk), not per (group, 10k-row batch); see
        # build_multi_fold.
        fold = build_multi_fold(udafs, by_n, arg_ns, kinds)
        view_df = df_src.mapInArrow(fold, schema=T.StructType(out_fields))
        name = f"__aus_fold_{next(self._MAPFOLD_SEQ)}"
        view_df.createOrReplaceTempView(name)
        names = getattr(_FOLD_VIEWS, "names", None)
        if names is not None:
            names.append(name)
        return name, fold_b

    @classmethod
    def _fold_key_ok(cls, dt) -> bool:
        """True when the fold can group by a column of Spark type ``dt``
        (``_FOLD_TYPES``), struct fields and array elements included."""
        name = dt.typeName()
        if "key" not in cls._FOLD_TYPES.get(name, ()):
            return False
        if name == "struct":
            return all(cls._fold_key_ok(f.dataType) for f in dt.fields)
        return name != "array" or cls._fold_key_ok(dt.elementType)

    @classmethod
    def _split_alias(cls, item: str) -> tuple[str, Optional[str]]:
        """Split a select item into ``(expression, alias or None)``:
        ``expr AS name``, or Spark's implicit ``expr name`` when neither
        ``name`` nor the word before it is a keyword (``x IS NULL`` and
        ``a + b`` carry no alias; ``CASE ... END s`` does)."""
        m = re.match(
            r"(?is)^(?P<e>.+?)\s+(?P<as>AS\s+)?(?P<a>[A-Za-z_]\w*)\s*$", item
        )
        if m is None:
            return item, None
        e, alias = m.group("e"), m.group("a")
        if not m.group("as"):
            last = re.search(r"\w*$", e).group(0).lower()
            if (
                alias.lower() in cls._NOT_ALIAS
                or not re.search(r"[\w)]$", e)
                or (last in cls._NOT_ALIAS and last != "end")
            ):
                return item, None
        return e, alias

    def _safe_group_expr(self, expr: str) -> bool:
        """True when a GROUP BY expression is provably safe to alias
        through the U/B split: balanced parens, single-quoted literals
        only (no escapes), every call a whitelisted deterministic scalar
        (_GRP_FUNCS), no scope-opening bare words.  Anything else —
        unknown functions (could be rand() or an aggregate), double
        quotes, backslashes, subqueries — returns False and the caller
        falls back to single-phase."""
        if '"' in expr or "\\" in expr:
            return False
        s = re.sub(r"'[^']*'", "''", expr)
        if s.replace("''", "").count("'"):
            return False  # unbalanced quote
        depth = 0
        i, n = 0, len(s)
        while i < n:
            ch = s[i]
            if ch == "(":
                depth += 1
                i += 1
                continue
            if ch == ")":
                depth -= 1
                if depth < 0:
                    return False
                i += 1
                continue
            mm = re.match(r"[A-Za-z_]\w*", s[i:])
            if mm:
                w = mm.group(0)
                j = i + len(w)
                k = j
                while k < n and s[k].isspace():
                    k += 1
                if k < n and s[k] == "(":
                    if w.lower() not in self._GRP_FUNCS:
                        return False
                elif w.lower() in self._UNSAFE_BARE_WORDS:
                    return False
                i = j
                continue
            i += 1
        return depth == 0

    @staticmethod
    def _match_paren(s: str, i: int) -> Optional[int]:
        """Index of the ``)`` matching the ``(`` at ``s[i]``, skipping
        quoted strings; None when unbalanced."""
        depth, quote = 0, None
        n = len(s)
        while i < n:
            ch = s[i]
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    return i
            i += 1
        return None

    @classmethod
    def _split_with(cls, query: str) -> Optional[tuple[str, str]]:
        """Split a leading ``WITH name [(cols)] AS (body), ...`` block off
        ``query``.  Returns ``(prefix, main)`` — prefix ``""`` when there
        is no CTE block — or None when the block is malformed or
        RECURSIVE (caller falls back to single-phase).

        The rewrite only restructures the MAIN block; CTE bodies are
        passed to Spark verbatim, which is sound because Spark scopes a
        query's CTEs over every subquery of the following SELECT — the
        U/B subqueries the rewrite builds still resolve the CTE names."""
        s = query.strip()
        if not re.match(r"(?is)^WITH\s", s):
            return "", query
        if re.match(r"(?is)^WITH\s+RECURSIVE\b", s):
            return None
        i = len("WITH")
        n = len(s)
        while True:
            while i < n and s[i].isspace():
                i += 1
            mm = re.match(r"[A-Za-z_]\w*", s[i:])
            if not mm:
                return None
            i += mm.end()
            while i < n and s[i].isspace():
                i += 1
            if i < n and s[i] == "(":  # optional column alias list
                j = cls._match_paren(s, i)
                if j is None:
                    return None
                i = j + 1
                while i < n and s[i].isspace():
                    i += 1
            ma = re.match(r"(?is)^AS\s*\(", s[i:])
            if not ma:
                return None
            i += ma.end() - 1  # at the body's '('
            j = cls._match_paren(s, i)
            if j is None:
                return None
            i = j + 1
            while i < n and s[i].isspace():
                i += 1
            if i < n and s[i] == ",":
                i += 1
                continue
            break
        prefix, main = s[:i], s[i:]
        if not re.match(r"(?is)^SELECT\b", main.strip()):
            return None
        return prefix, main

    @staticmethod
    def _split_and(text: str) -> list[str]:
        """Split on top-level ``AND`` (word boundary, outside parens and
        quotes).  A ``BETWEEN x AND y`` mis-splits into two pieces, but
        the caller rejoins untouched pieces with " AND " verbatim, so a
        fragment that matches nothing reassembles bit-identically — only
        a piece that FULLY matches the correlated-subquery shape is ever
        replaced."""
        parts, depth, quote, buf = [], 0, None, []
        i, n = 0, len(text)
        while i < n:
            ch = text[i]
            if quote:
                buf.append(ch)
                if ch == quote:
                    quote = None
                i += 1
                continue
            if ch in "'\"":
                quote = ch
                buf.append(ch)
                i += 1
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if (
                depth == 0
                and text[i : i + 3].lower() == "and"
                and (i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_"))
                and (
                    i + 3 >= n
                    or not (text[i + 3].isalnum() or text[i + 3] == "_")
                )
            ):
                parts.append("".join(buf).strip())
                buf = []
                i += 3
                continue
            buf.append(ch)
            i += 1
        parts.append("".join(buf).strip())
        return parts

    #: bare words that may appear in the OUTER comparison expression of a
    #: correlated-subquery conjunct without changing the inner-join
    #: equivalence (NOT flips a NULL predicate to NULL — still filtered
    #: on a join miss, same as the original's NULL comparison).  OR is
    #: the load-bearing exclusion: ``a OR b < (subq)`` can be TRUE via
    #: ``a`` on a row the inner join drops.
    _CORR_LHS_BARE_OK = {"not", "null", "true", "false"}
    #: bare words allowed inside a NON-correlated inner predicate of the
    #: subquery (plain SQL operators/literals over the inner table)
    _CORR_INNER_BARE_OK = {
        "not", "null", "true", "false", "or", "is", "in", "between",
        "like", "case", "when", "then", "else", "end", "and",
    }
    #: bare type words legal inside a CAST in the subquery's select item
    _CORR_TYPE_WORDS = {
        "as", "bigint", "int", "integer", "smallint", "tinyint", "long",
        "double", "float", "real", "decimal", "numeric", "string",
        "varchar", "char", "boolean", "date", "timestamp",
    }

    def _decorrelate_where(
        self, frm: str, where: str, used: set, spark, scope: str
    ) -> Optional[tuple[str, str]]:
        """Decorrelate every UDAF-headed correlated scalar aggregate
        subquery in a WHERE conjunction — the TPC-H q17 shape:

            ``WHERE ... AND expr OP (SELECT udaf(t2.y) FROM tbl t2
                                     WHERE t2.k = outer.k [AND inner...])``

        becomes a derived table ``(SELECT k AS __ck0, <two-phase udaf>
        AS __cv FROM tbl [WHERE inner...] GROUP BY k) __aus_corrN``
        comma-joined into FROM with ``__aus_corrN.__ck0 = outer.k AND
        expr OP __aus_corrN.__cv`` replacing the conjunct.  The GROUP
        BY + join is exact for this shape: the subquery is NULL when no
        inner row matches the key, a positive top-level comparison
        conjunct on NULL filters the row, and the inner join drops
        exactly those rows (Spark's own RewriteCorrelatedScalarSubquery
        plays the same trick).  The derived table itself re-enters
        ``_rewrite_two_phase``, so the UDAF runs its two-phase fold/merge.

        The provable contract (anything else returns None → loud
        fallback): subquery has ONE table with a MANDATORY alias; every
        inner column reference is alias-qualified; correlation
        predicates are alias.col = other_qualifier.col equalities (the
        COUNT-shape exception below); the select item calls at least one
        registered UDAF and no COUNT-like aggregate (COUNT is 0 — not
        NULL — on an empty group, so the join-drop equivalence breaks);
        the outer comparison side contains no OR / subquery / unknown
        call."""
        pieces = self._split_and(where)
        new_pieces: list[str] = []
        extra_from: list[str] = []
        ci = 0
        for piece in pieces:
            if not any(
                re.search(rf"(?i)\b{re.escape(n)}\s*\(", piece)
                for n in used
            ):
                new_pieces.append(piece)
                continue
            rep = self._decorrelate_conjunct(piece, used, ci, spark, scope)
            if rep is None:
                return None  # a UDAF call we cannot make scale-safe
            conjuncts, derived = rep
            new_pieces.extend(conjuncts)
            extra_from.append(derived)
            ci += 1
        if not extra_from:
            return None  # no rewritable subquery — caller falls back
        return (
            frm + "".join(f", {d}" for d in extra_from),
            " AND ".join(new_pieces),
        )

    def _decorrelate_conjunct(
        self, piece: str, used: set, ci: int, spark, scope: str
    ) -> Optional[tuple[list[str], str]]:
        """One conjunct ``lhs OP (SELECT ...)`` → (replacement conjunct
        list, derived-table SQL).  See _decorrelate_where."""
        p = piece.strip()
        # the conjunct must END with a balanced "(SELECT ...)" group
        sub = None
        for i, ch in enumerate(p):
            if ch == "(" and re.match(r"(?is)^\(\s*SELECT\b", p[i:]):
                j = self._match_paren(p, i)
                if j is not None and not p[j + 1 :].strip():
                    sub = p[i + 1 : j]
                    lhs_full = p[:i]
                    break
        if sub is None:
            return None
        om = re.match(
            r"(?is)^(?P<e>.+?)\s*(?P<op><=|>=|<>|!=|<|>|=)\s*$", lhs_full
        )
        if om is None:
            return None
        lhs, op = om.group("e").strip(), om.group("op")
        if not lhs or ("(" in lhs and not self._safe_group_expr(lhs)):
            return None
        for wm in re.finditer(r"(?<![\w.])([A-Za-z_]\w*)", lhs):
            w = wm.group(1).lower()
            rest = lhs[wm.end():].lstrip()
            if rest.startswith("(") or rest.startswith("."):
                continue  # call (vetted by _safe_group_expr) / qualifier
            # a BARE word must be a column ref or a whitelisted literal;
            # OR is the load-bearing refusal (see _CORR_LHS_BARE_OK)
            if w in self._UNSAFE_BARE_WORDS or w in {
                "or", "in", "between", "like", "case", "when", "then",
                "else", "end", "is", "distinct",
            }:
                return None
        # ---- parse the subquery --------------------------------------
        for kw in (
            "GROUP", "HAVING", "ORDER", "LIMIT", "JOIN", "UNION",
            "INTERSECT", "EXCEPT", "DISTINCT", "WITH",
        ):
            if self._has_top_level_kw(sub, kw):
                return None
        sm = re.match(
            r"(?is)^\s*SELECT\s+(?P<item>.+?)\s+FROM\s+"
            r"(?P<tbl>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<al>[A-Za-z_]\w*)"
            r"(?:\s+WHERE\s+(?P<conds>.+?))?\s*$",
            sub,
        )
        if sm is None:
            return None
        item, tbl, al, conds = (
            sm.group("item"),
            sm.group("tbl"),
            sm.group("al"),
            sm.group("conds"),
        )
        if al.lower() in self._UNSAFE_BARE_WORDS:
            return None
        if not any(
            re.search(rf"(?i)\b{re.escape(n)}\s*\(", item) for n in used
        ):
            return None  # builtin-only subquery: Spark decorrelates natively
        # ---- classify the inner conjuncts ----------------------------
        qual = re.compile(r"(?i)\b([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)")
        corr_keys: list[tuple[str, str]] = []  # (inner col, outer ref)
        inner_conds: list[str] = []
        eq = re.compile(
            r"(?is)^\s*(?P<a>[A-Za-z_]\w*\.[A-Za-z_]\w*)\s*=\s*"
            r"(?P<b>[A-Za-z_]\w*\.[A-Za-z_]\w*)\s*$"
        )
        for c in self._split_and(conds) if conds else []:
            em = eq.match(c)
            if em:
                a, b = em.group("a"), em.group("b")
                aq, bq = a.split(".")[0].lower(), b.split(".")[0].lower()
                if aq == al.lower() and bq != al.lower():
                    corr_keys.append((a.split(".", 1)[1], b))
                    continue
                if bq == al.lower() and aq != al.lower():
                    corr_keys.append((b.split(".", 1)[1], a))
                    continue
                if aq == al.lower() and bq == al.lower():
                    inner_conds.append(c)
                    continue
                return None  # equality between two OUTER refs — not ours
            # non-equality conjunct: must reference ONLY the inner alias
            # (a non-equi correlation like t2.k < t1.k is NOT
            # decorrelatable by a GROUP BY — refuse)
            for qm in qual.finditer(c):
                if qm.group(1).lower() != al.lower():
                    return None
            for wm in re.finditer(r"(?<![\w.])([A-Za-z_]\w*)", c):
                w = wm.group(1).lower()
                rest = c[wm.end():].lstrip()
                if rest.startswith("."):
                    continue  # qualifier — vetted against al above
                if rest.startswith("("):
                    if (
                        w not in self._GRP_FUNCS
                        and w not in self._SCALAR_PASSTHROUGH
                    ):
                        return None  # unknown call — could be anything
                    continue
                if (
                    w not in self._CORR_INNER_BARE_OK
                    and w != al.lower()
                ):
                    return None  # bare unqualified identifier — ambiguous
            inner_conds.append(c)
        if corr_keys and (
            re.search(r"(?i)\bcount\w*\s*\(", item)
            or re.search(r"(?i)\bapprox_count_distinct\s*\(", item)
        ):
            # 0-on-empty aggregates break the join-drop trick for KEYED
            # subqueries (no group row where COUNT would say 0).  An
            # UNCORRELATED global aggregate always yields exactly one
            # row, so the cross-join form below is exact even for COUNT.
            return None
        # ---- every inner reference must be alias-qualified -----------
        # (an UNQUALIFIED identifier in the select item could be an outer
        # column — correlation through the aggregate's args — which a
        # GROUP BY over the inner table cannot express: refuse)
        item = re.sub(r"(?is)\s+AS\s+[A-Za-z_]\w*\s*$", "", item)
        for wm in re.finditer(r"(?<![\w.])([A-Za-z_]\w*)", item):
            w = wm.group(1).lower()
            rest = item[wm.end():].lstrip()
            if rest.startswith("."):
                if w != al.lower():
                    return None  # qualified ref to another table
                continue
            if rest.startswith("("):
                if (
                    w not in used
                    and w not in self._BUILTIN_AGGS
                    and w not in self._SCALAR_PASSTHROUGH
                ):
                    return None  # unknown call
                continue
            if w in self._CORR_LHS_BARE_OK or w in self._CORR_TYPE_WORDS:
                continue
            return None  # bare unqualified identifier — ambiguous scope
        # ---- build + recursively rewrite the decorrelated subquery ---
        strip = re.compile(rf"(?i)\b{re.escape(al)}\s*\.\s*")
        item_s = strip.sub("", item)
        conds_s = [strip.sub("", c) for c in inner_conds]
        keys_s: list[str] = []
        for k, _ in corr_keys:
            if k.lower() not in {x.lower() for x in keys_s}:
                keys_s.append(k)
        alias = f"__aus_corr{ci}"
        key_sel = ", ".join(
            f"{k} AS __ck{i}" for i, k in enumerate(keys_s)
        )
        inner_where = (
            f" WHERE {' AND '.join(conds_s)}" if conds_s else ""
        )
        if keys_s:
            sub_sql = (
                f"SELECT {key_sel}, {item_s} AS __cv FROM {tbl}"
                f"{inner_where} GROUP BY {', '.join(keys_s)}"
            )
        else:
            # UNCORRELATED scalar aggregate: a single-row global
            # aggregate, cross-joined (Catalyst broadcasts the 1-row
            # side; the two-phase global agg is the worst single-phase
            # case this front door exists for)
            sub_sql = f"SELECT {item_s} AS __cv FROM {tbl}{inner_where}"
        sub_rw = self._rewrite_two_phase(sub_sql, used, spark, scope)
        if sub_rw is None:
            return None
        out_conds = [f"{lhs} {op} {alias}.__cv"]
        kmap = {k.lower(): i for i, k in enumerate(keys_s)}
        for k, outer_ref in corr_keys:
            out_conds.append(f"{alias}.__ck{kmap[k.lower()]} = {outer_ref}")
        return out_conds, f"({sub_rw}) {alias}"

    @staticmethod
    def _has_top_level_kw(s: str, kw: str) -> bool:
        """True when ``kw`` appears at paren depth 0 outside quoted
        literals — a PIVOT buried in a FROM subquery must NOT trigger the
        top-level expansion (the subquery is opaque to the rewrite)."""
        depth, quote = 0, None
        pat = re.compile(rf"(?i)^{kw}\b")
        for i, ch in enumerate(s):
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and pat.match(s[i : i + len(kw) + 1]):
                if i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"):
                    return True
        return False

    @classmethod
    def _expand_pivot(
        cls, main: str, used: set[str]
    ) -> Optional[tuple[str, str, str]]:
        """Expand a provable top-level ``PIVOT`` into its GROUP BY + CASE
        equivalent — the same rewrite Spark's analyzer (ResolvePivot)
        applies internally for aggregates that ignore NULL inputs, which
        every registered UDAF does (accumulate skips nulls, the SQL
        aggregate contract).  Provable shape, everything else refuses:

        ``SELECT * FROM (<inner select over plain output names>)
        [AS alias] PIVOT (<one agg call of one plain column> FOR
        <plain column> IN (<literals, each optionally AS alias>))
        [ORDER BY ... / LIMIT ...]``

        The implicit group keys are the inner select's output columns
        minus the pivot column and the aggregated column — textually
        decidable BECAUSE the source is required to be a projection with
        explicit names.  Output column order (group keys, then one column
        per IN value, in IN order) and names (value alias, else the
        literal's text) match Spark's native PIVOT output — which is the
        only reference point, since native Spark refuses Python UDAFs in
        PIVOT outright (UNSUPPORTED_FEATURE.PANDAS_UDAF_IN_PIVOT): this
        expansion is what makes a UDAF pivot runnable at all.

        Returns ``(core, outer_items, tail)``: ``core`` is the GROUP BY
        query under internal ``__pc{i}`` aliases (the caller rewrites it
        two-phase), ``outer_items`` the final projection applying the
        public (possibly backticked) names, ``tail`` the ORDER BY/LIMIT
        to re-append outermost.
        """
        m = re.match(r"(?is)^\s*SELECT\s+(?P<sel>.*?)\s+FROM\s*\(", main)
        if m is None or m.group("sel").strip() != "*":
            return None  # implicit keys are only decidable under SELECT *
        open_i = main.rindex("(", 0, m.end())
        close_i = cls._match_paren(main, open_i)
        if close_i is None:
            return None
        inner = main[open_i + 1 : close_i].strip()
        rest = main[close_i + 1 :]
        pm = re.match(
            r"(?is)^\s*(?:AS\s+(?!PIVOT\b)\w+\s*|(?!PIVOT\b)(?!AS\b)\w+\s+)?"
            r"PIVOT\s*\(",
            rest,
        )
        if pm is None:
            return None
        p_open = rest.index("(", pm.end() - 1)
        p_close = cls._match_paren(rest, p_open)
        if p_close is None:
            return None
        spec = rest[p_open + 1 : p_close].strip()
        tail = rest[p_close + 1 :].strip()
        if tail and not re.match(r"(?is)^(ORDER\s+BY|LIMIT)\b", tail):
            return None  # WHERE-after-pivot etc. — out of the shape
        sm = re.match(
            r"(?is)^(?P<agg>[A-Za-z_]\w*)\s*\(\s*(?P<arg>[A-Za-z_]\w*)\s*\)"
            r"\s*(?:AS\s+\w+\s*)?FOR\s+(?P<pcol>[A-Za-z_]\w*)\s+IN\s*\(",
            spec,
        )
        if sm is None:
            return None  # multiple aggs / expression args — refuse
        v_open = spec.index("(", sm.end() - 1)
        v_close = cls._match_paren(spec, v_open)
        if v_close is None or spec[v_close + 1 :].strip():
            return None
        agg, arg, pcol = sm.group("agg"), sm.group("arg"), sm.group("pcol")
        values: list[tuple[str, str]] = []  # (literal, output name)
        for item in _split_top_level(spec[v_open + 1 : v_close]):
            vm = re.match(
                r"(?is)^(?P<lit>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
                r"\s*(?:AS\s+(?P<alias>\w+))?$",
                item.strip(),
            )
            if vm is None:
                return None  # non-literal pivot value — refuse
            lit = vm.group("lit")
            name = vm.group("alias") or (
                lit[1:-1].replace("''", "'") if lit.startswith("'") else lit
            )
            if not name:
                return None
            values.append((lit, name))
        if not values:
            return None
        # inner output names: scan to the inner select's top-level FROM
        im = re.match(r"(?is)^SELECT\s+(?P<rest>.*)$", inner)
        if im is None:
            return None
        body = im.group("rest")
        depth, quote, from_at = 0, None, None
        for i, ch in enumerate(body):
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif (
                depth == 0
                and body[i : i + 4].upper() == "FROM"
                and (i == 0 or body[i - 1].isspace())
                and (i + 4 == len(body) or body[i + 4].isspace())
            ):
                from_at = i
                break
        if from_at is None:
            return None
        out_names: list[str] = []
        for item in _split_top_level(body[:from_at]):
            am = re.match(
                r"(?is)^.*\sAS\s+(?P<n>[A-Za-z_]\w*)\s*$", item
            ) or re.match(r"(?is)^(?P<n>[A-Za-z_]\w*)\s*$", item)
            if am is None:
                return None  # unnamed expression / star — keys undecidable
            out_names.append(am.group("n"))
        low = {n.lower() for n in out_names}
        if pcol.lower() not in low or arg.lower() not in low:
            return None
        groups = [
            n
            for n in out_names
            if n.lower() not in (pcol.lower(), arg.lower())
        ]
        if not groups:
            return None  # global pivot: no GROUP BY to ride the rewrite
        # the CASE filters live in an inner projection (__pv{i}) so the
        # aggregate calls take PLAIN columns, and the aggregate outputs
        # get internal __pc{i} aliases — both shapes the recursive
        # two-phase rewrite proves (CASE directly inside the UDAF arg,
        # or a backticked public alias, would refuse).  The caller wraps
        # the rewritten core in one projection applying the public names.
        items = ", ".join(groups)
        outer = ", ".join(groups)
        proj = ", ".join(groups + [pcol, arg])
        for i, (lit, name) in enumerate(values):
            if "`" in name:
                return None
            # backticks only for non-identifier names (numeric / spaced
            # literals); identifiers pass through plain
            quoted = (
                name
                if re.match(r"^[A-Za-z_]\w*$", name)
                else f"`{name}`"
            )
            items += f", {agg}(__pv{i}) AS __pc{i}"
            outer += f", __pc{i} AS {quoted}"
            proj += f", CASE WHEN {pcol} = {lit} THEN {arg} END AS __pv{i}"
        core = (
            f"SELECT {items} FROM (SELECT {proj} FROM ({inner})) "
            f"GROUP BY {', '.join(groups)}"
        )
        return core, outer, tail

    _SET_OP = re.compile(
        r"(?is)^(UNION|INTERSECT|EXCEPT)(\s+(ALL|DISTINCT))?\b"
    )

    @classmethod
    def _split_set_ops(cls, main: str) -> Optional[list]:
        """Split ``main`` into top-level set-operation blocks:
        ``[(block_sql, op_before), ...]`` with ``op_before == ""`` for the
        first block.  Set operators are matched at paren depth 0 outside
        quoted literals only; a single-block query returns one entry.
        Returns None when a block is empty (malformed)."""
        blocks = []
        depth, quote = 0, None
        start, cur_op = 0, ""
        i, n = 0, len(main)
        while i < n:
            ch = main[i]
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and ch.isalpha():
                prev = main[i - 1] if i > 0 else " "
                if not (prev.isalnum() or prev == "_"):
                    m = cls._SET_OP.match(main[i:])
                    if m:
                        blk = main[start:i].strip()
                        if not blk:
                            return None
                        blocks.append((blk, cur_op))
                        cur_op = " ".join(m.group(0).split()).upper()
                        i += m.end()
                        start = i
                        continue
            i += 1
        blk = main[start:].strip()
        if not blk:
            return None
        blocks.append((blk, cur_op))
        return blocks

    @staticmethod
    def _strip_union_tail(blk: str) -> Optional[tuple]:
        """Strip a trailing union-level ``ORDER BY ... LIMIT n`` off the
        LAST set-op block (the grammar binds it to the whole union, so
        leaving it inside the block's rewrite would order the block, not
        the union).  Provable shapes only: ORDER BY plain output columns
        with optional ASC/DESC/NULLS FIRST|LAST, LIMIT integer.  Returns
        ``(block_without_tail, tail_sql)`` or None (→ fall back)."""
        depth, quote = 0, None
        first = None
        for i, ch in enumerate(blk):
            if quote:
                if ch == quote:
                    quote = None
                continue
            if ch in "'\"":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and ch.isalpha() and first is None:
                prev = blk[i - 1] if i > 0 else " "
                if not (prev.isalnum() or prev == "_"):
                    if re.match(r"(?is)(ORDER\s+BY|LIMIT)\b", blk[i:]):
                        first = i
        if first is None:
            return blk, ""
        tail = blk[first:]
        tm = re.match(
            r"(?is)^(?:ORDER\s+BY\s+(?P<ob>.+?))?\s*"
            r"(?:LIMIT\s+(?P<n>\d+))?\s*;?\s*$",
            tail,
        )
        if not tm or (tm.group("ob") is None and tm.group("n") is None):
            return None
        if tm.group("ob") is not None:
            for it in tm.group("ob").split(","):
                if not re.match(
                    r"(?is)^\s*[A-Za-z_]\w*"
                    r"(\s+(ASC|DESC))?(\s+NULLS\s+(FIRST|LAST))?\s*$",
                    it,
                ):
                    return None  # expression/positional order key — refuse
        return blk[:first].rstrip(), " " + " ".join(tail.split())

    @staticmethod
    def _split_tail(tail: str) -> Optional[tuple]:
        """Split ``HAVING ... ORDER BY ... LIMIT n`` into its clauses at
        paren depth 0.  Returns (having, order_by, limit) — each None when
        absent — or None when the tail has another shape.

        Unbalanced parens mean the non-paren-aware _GROUPBY_SHAPE regex
        mis-split the query (e.g. ``WHERE x IN (SELECT y FROM u ORDER BY
        z)`` truncates WHERE and hands this function ``ORDER BY z)``) —
        return None so the caller falls back to single-phase execution
        instead of emitting malformed SQL (ADVICE r6, medium)."""
        marks = []  # (pos, kind, match_end)
        depth = 0
        for i, ch in enumerate(tail):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return None
            elif depth == 0:
                m = re.match(
                    r"(?i)\b(HAVING|ORDER\s+BY|LIMIT)\b", tail[i:]
                )
                if m and (i == 0 or not tail[i - 1].isalnum()):
                    kind = re.sub(r"\s+", " ", m.group(1).upper())
                    marks.append((i, kind, i + m.end()))
        if depth != 0:
            return None  # unbalanced tail — regex mis-split the query
        if not marks or tail[: marks[0][0]].strip():
            return None
        seen_order = [k for _, k, _ in marks]
        if seen_order != sorted(
            seen_order, key=["HAVING", "ORDER BY", "LIMIT"].index
        ) or len(set(seen_order)) != len(seen_order):
            return None
        out = {"HAVING": None, "ORDER BY": None, "LIMIT": None}
        for j, (pos, kind, body_start) in enumerate(marks):
            end = marks[j + 1][0] if j + 1 < len(marks) else len(tail)
            out[kind] = tail[body_start:end].strip().rstrip(";").strip()
        if out["LIMIT"] is not None and not re.match(r"^\d+$", out["LIMIT"]):
            return None
        return out["HAVING"], out["ORDER BY"], out["LIMIT"]

    def _rewrite_agg_calls(
        self,
        expr: str,
        used: set,
        agg_args: list,
        b_cols: list,
        memo: dict,
    ) -> Optional[str]:
        """Replace every aggregate CALL in ``expr`` with a column token:
        registered UDAFs become ``__u{i}`` (name and argument texts go to
        ``agg_args`` for the fold view and U's merge), built-in aggregates
        become ``__b{i}`` (the raw call goes to ``b_cols``, folded into
        the view or run in the natively-aggregated B subquery).  ``memo`` dedupes identical calls onto one column
        (SELECT sum_udaf(q) ... HAVING sum_udaf(q) > 5 folds the partial
        once, not twice).  Whitelisted scalar functions are recursed
        into; anything unprovable returns None (→ single-phase
        fallback)."""
        if "'" in expr or '"' in expr:
            return None  # string literals could hide unbalanced parens
        out = []
        i = 0
        n = len(expr)
        while i < n:
            m = re.match(r"[A-Za-z_]\w*", expr[i:])
            if not m:
                out.append(expr[i])
                i += 1
                continue
            name = m.group(0)
            j = i + len(name)
            k = j
            while k < n and expr[k].isspace():
                k += 1
            if k >= n or expr[k] != "(":
                # bare word (no call parens).  Column references and
                # operator/literal keywords (AND, OR, NOT, IN, NULL, CASE,
                # ...) pass through, but scope-opening keywords mean a
                # subquery / window we cannot prove hoist-safe: fall back
                # to single-phase instead of hoisting an inner scope's
                # aggregate over the outer table.
                if name.lower() in self._UNSAFE_BARE_WORDS:
                    return None
                out.append(expr[i:j])
                i = j
                continue
            depth = 0
            e = k
            while e < n:
                if expr[e] == "(":
                    depth += 1
                elif expr[e] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                e += 1
            if e >= n:
                return None
            args = expr[k + 1 : e]
            ln = name.lower()
            key = (ln, re.sub(r"\s+", " ", args.strip().lower()))
            if ln in used and ln in self._agg_sql_names:
                # DISTINCT inside a UDAF call cannot be split: per-
                # partition DISTINCT before the merge misses cross-
                # partition dupes.  (B-side built-ins run unsplit, so
                # COUNT(DISTINCT x) there is fine.)
                if re.match(r"(?is)^\s*DISTINCT\b", args):
                    return None
                arg_items = [
                    a.strip() for a in _split_top_level(args) if a.strip()
                ]
                if not arg_items:
                    # a zero-arg UDAF is not expressible as a grouped
                    # aggregate UDF either — fall back loudly
                    return None
                if key not in memo:
                    memo[key] = f"__u{len(agg_args)}"
                    agg_args.append((ln, arg_items))
                out.append(memo[key])
            elif ln in self._BUILTIN_AGGS:
                if key not in memo:
                    idx = len(b_cols)
                    b_cols.append((name, args))
                    memo[key] = f"__b{idx}"
                out.append(memo[key])
            elif ln in self._SCALAR_PASSTHROUGH:
                sub = self._rewrite_agg_calls(args, used, agg_args, b_cols, memo)
                if sub is None:
                    return None
                out.append(f"{name}({sub})")
            else:
                return None  # unknown call — could be an aggregate
            i = e + 1
        return "".join(out)


#: the default global registry (analogue of the reference's linkme slice,
#: arrow-udf/src/sig.rs:114-127)
GLOBAL = Registry()
