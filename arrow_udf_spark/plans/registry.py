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
from typing import TYPE_CHECKING, Any, NamedTuple, Optional

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


#: per thread, the names of the mapfold views the running ``Registry.sql``
#: call registered (None outside a call)
_FOLD_VIEWS = threading.local()


# ----------------------------------------------------------------------
# SQL text, read once: the tokenizer and the scanners built on its stream
# ----------------------------------------------------------------------


class _Tok(NamedTuple):
    """One token of comment-free SQL text: its text, its span in that
    text, the parens around it (a paren counts as outside itself) and its
    kind: ``str`` (a quoted literal), ``name`` (a backticked identifier),
    ``word`` (identifier, keyword or number) or ``op``."""

    text: str
    start: int
    end: int
    depth: int
    kind: str


#: multi-character operators, each read as one token
_OPS = ("<=>", "<=", ">=", "<>", "!=", "==", "||", "::", "->")


def _lex(text: str) -> Optional[tuple[str, list[_Tok]]]:
    """``(comment-free text, tokens)``, the token spans indexing the
    comment-free text.  A quoted literal (``''`` doubling and backslash
    escapes inside) and a backticked identifier are each one token; a
    ``--`` or ``/* */`` comment becomes one space.  None when the text is
    unreadable: an unclosed quote or comment, a nested ``/*``, or
    unbalanced parens."""
    out: list[str] = []
    toks: list[_Tok] = []
    i = pos = depth = 0  # pos: length of the comment-free text so far
    n = len(text)
    while i < n:
        ch = text[i]
        if text.startswith(("--", "/*"), i):
            if ch == "-":
                j = text.find("\n", i)
                i = n if j < 0 else j
            else:
                j = text.find("*/", i + 2)
                if j < 0 or "/*" in text[i + 2 : j]:
                    return None  # unclosed or nested
                i = j + 2
            out.append(" ")
            pos += 1
            continue
        kind = None
        if ch.isspace():
            j = i + 1
            while j < n and text[j].isspace():
                j += 1
        elif ch in "'\"`":
            j = i + 1
            while j < n and not (text[j] == ch and not text.startswith(ch, j + 1)):
                # a doubled quote or a backslash escape is two characters
                j += 2 if text[j] == ch or (text[j] == "\\" and ch != "`") else 1
            if j >= n:
                return None
            j += 1
            kind = "name" if ch == "`" else "str"
        elif ch.isalnum() or ch == "_":
            j = i + 1
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            kind = "word"
        else:
            j = i + next((len(o) for o in _OPS if text.startswith(o, i)), 1)
            kind = "op"
        piece = text[i:j]
        if kind:
            if piece == ")":
                depth -= 1
                if depth < 0:
                    return None
            toks.append(_Tok(piece, pos, pos + len(piece), depth, kind))
            if piece == "(":
                depth += 1
        out.append(piece)
        pos += len(piece)
        i = j
    return None if depth else ("".join(out), toks)


def _read(text: str) -> tuple[str, list[_Tok]]:
    """:func:`_lex` of text the caller has already read once (a slice of
    a readable query at token boundaries)."""
    lexed = _lex(text)
    if lexed is None:
        raise ValueError(f"unreadable SQL text: {text!r}")
    return lexed


def _is_ident(t: _Tok) -> bool:
    return t.kind == "word" and not t.text[0].isdigit()


def _close(toks: list[_Tok], k: int) -> int:
    """Index of the ``)`` matching the ``(`` at ``toks[k]``."""
    return next(j for j in range(k + 1, len(toks)) if toks[j].depth == toks[k].depth)


def _split_top(text: str, *phrases: str) -> list[tuple[str, str]]:
    """Cut ``text`` at each depth-0 occurrence of one of ``phrases`` (a
    punctuation token such as ``","`` or one or more words such as
    ``"ORDER BY"``; the longest phrase wins): ``[(phrase as written,
    piece), ...]``, the first phrase ``""``, every piece stripped."""
    clean, toks = _read(text)
    seps = sorted((p.upper().split() for p in phrases), key=len, reverse=True)
    out, sep, start, i = [], "", 0, 0
    while i < len(toks):
        run = toks[i].depth == 0 and next(
            (toks[i : i + len(w)] for w in seps
             if [t.text.upper() for t in toks[i : i + len(w)]] == w),
            None,
        )
        if not run:
            i += 1
            continue
        out.append((sep, clean[start : run[0].start].strip()))
        sep, start = " ".join(t.text for t in run), run[-1].end
        i += len(run)
    out.append((sep, clean[start:].strip()))
    return out


def _items(text: str, sep: str = ",") -> list[str]:
    """The depth-0 ``sep``-separated items of ``text`` ([] when empty)."""
    parts = _split_top(text, sep)
    return [] if parts == [("", "")] else [p for _, p in parts]


#: the clauses of one query block, in the order SQL requires them
_CLAUSES = ("SELECT", "FROM", "WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT")


def _clauses(text: str) -> Optional[dict[str, str]]:
    """``{clause keyword: body}`` of one query block, cut at its depth-0
    clause keywords (:data:`_CLAUSES`).  None unless the text starts with
    a clause, every clause has a body and comes at most once and in SQL's
    order, and LIMIT is a number."""
    parts = _split_top(text, *_CLAUSES)
    if parts[0][1]:
        return None
    out: dict[str, str] = {}
    for kw, body in parts[1:]:
        kw = kw.upper()
        if not body or (out and _CLAUSES.index(kw) <= _CLAUSES.index([*out][-1])):
            return None
        out[kw] = body
    return out if re.fullmatch(r"\d+", out.get("LIMIT", "0")) else None


def _call(text: str) -> Optional[tuple[str, str, str]]:
    """``(head, inner, rest)`` of text that reads ``head (inner) rest``,
    ``head`` being zero or more words (``GROUPING SETS``, ``OVER``);
    ``inner`` is verbatim, ``rest`` stripped.  None for any other text."""
    clean, toks = _read(text)
    k = 0
    while k < len(toks) and _is_ident(toks[k]):
        k += 1
    if k == len(toks) or toks[k].text != "(":
        return None
    c = _close(toks, k)
    head = " ".join(t.text for t in toks[:k])
    return head, clean[toks[k].end : toks[c].start], clean[toks[c].end :].strip()


def _words(text: str) -> list[tuple[str, str]]:
    """``(identifier, next token)`` for each identifier of ``text`` not
    after a dot, lowercased: a ``(`` next marks a call, a ``.`` a
    qualifier, anything else a bare word."""
    _, toks = _read(text)
    return [
        (t.text.lower(), toks[i + 1].text if i + 1 < len(toks) else "")
        for i, t in enumerate(toks)
        if _is_ident(t) and (i == 0 or toks[i - 1].text != ".")
    ]


def _calls(text: str) -> set[str]:
    """Lowercased names ``text`` calls.  Unreadable text is scanned
    crudely, so a UDAF call in it still takes the warned fallback."""
    if _lex(text) is None:
        return {w.lower() for w in re.findall(r"([A-Za-z_]\w*)\s*\(", text)}
    return {w for w, nxt in _words(text) if nxt == "("}


def _norm(text: str) -> str:
    """Token texts one space apart, lowercased outside quoted literals:
    two spellings of one expression compare equal, ``'MM'`` and ``'mm'``
    do not."""
    return " ".join(
        t.text if t.kind == "str" else t.text.lower() for t in _read(text)[1]
    )


def _unqualify(text: str, qual: str) -> str:
    """``text`` with each ``qual.`` qualifier removed; literals untouched."""
    clean, toks = _read(text)
    out, at = [], 0
    for i, t in enumerate(toks[:-2]):
        if (
            _is_ident(t)
            and t.text.lower() == qual.lower()
            and toks[i + 1].text == "."
            and (i == 0 or toks[i - 1].text != ".")
        ):
            out.append(clean[at : t.start])
            at = toks[i + 2].start
    return "".join(out) + clean[at:]


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
    #: the set operators between query blocks
    _SET_OPS = tuple(
        f"{op} {q}".strip()
        for op in ("UNION", "INTERSECT", "EXCEPT")
        for q in ("ALL", "DISTINCT", "")
    )
    _AGG_ITEM = re.compile(
        r"(?is)^(?:CAST\s*\(\s*)?(?P<fn>[A-Za-z_]\w*)\s*\((?P<args>.*?)\)"
        r"(?:\s+AS\s+(?P<cast>[\w()<>, ]+?)\s*\))?"
        r"(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?$"
    )
    _PLAIN_COL = re.compile(r"(?i)^[A-Za-z_][\w.]*$")
    #: an ORDER BY item: the expression and its ASC/DESC/NULLS suffix
    _ORDER_SUFFIX = re.compile(
        r"(?is)^(?P<e>.*?)(?P<suffix>\s+(?:ASC|DESC)"
        r"(?:\s+NULLS\s+(?:FIRST|LAST))?|\s+NULLS\s+(?:FIRST|LAST))?\s*$"
    )
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
        The query is read as SQL reads it: comments are dropped (the
        rewritten SQL never carries one), and quoted literals and
        backticked identifiers are opaque, so a keyword, comma or paren
        inside one never splits a clause.  A backticked group key rides
        as an expression key: it rewrites when its select item has an
        alias and otherwise falls back.
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
        calls = _calls(query)
        used = {n for n in agg_names if n.lower() in calls}
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
        lexed = _lex(query)
        if lexed is None:
            return None  # unclosed quote or comment, unbalanced parens
        # everything below reads (and the rewrite emits) the comment-free
        # text, without a trailing semicolon
        query, toks = lexed
        if toks and toks[-1].text == ";":
            query = query[: toks[-1].start]
        sw = self._split_with(query)
        if sw is None:
            return None  # malformed / RECURSIVE CTE block — fall back
        cte_prefix, main = sw
        pre = f"{cte_prefix} " if cte_prefix else ""
        scope = scope or pre
        if _calls(cte_prefix) & used:
            # a UDAF call INSIDE a CTE body would stay single-phase no
            # matter how we rewrite the main block — refuse rather than
            # silently leave the trap in the prefix
            return None
        blocks = _split_top(main, *self._SET_OPS)
        if not all(blk for _, blk in blocks):
            return None
        if len(blocks) > 1:
            # set operations between aggregate blocks: each block rewrites
            # INDEPENDENTLY (fresh partial/merge columns per block — the
            # scopes share nothing), blocks without a UDAF call pass
            # verbatim, and a trailing ORDER BY/LIMIT belongs to the UNION
            # per the grammar, so it is stripped off the last block and
            # re-appended after reassembly (plain output columns only,
            # LIMIT a number — anything fancier refuses)
            tail = _split_top(blocks[-1][1], "ORDER BY", "LIMIT")
            blocks[-1] = (blocks[-1][0], tail.pop(0)[1])
            union_tail = "".join(f" {kw} {body}" for kw, body in tail)
            cl = _clauses(union_tail)
            if cl is None or not all(
                re.fullmatch(r"[A-Za-z_]\w*", self._ORDER_SUFFIX.match(it)["e"])
                for it in _items(cl.get("ORDER BY", ""))
            ):
                return None  # expression/positional order key — refuse
            out_sql = ""
            for op, blk in blocks:
                rb = blk  # no UDAF — verbatim
                if _calls(blk) & used:
                    rb = self._rewrite_two_phase(blk, used, spark, scope)
                    if rb is None:
                        return None
                out_sql += f" {op.upper()} {rb}" if op else rb
            return f"{pre}{out_sql}{union_tail}"
        if len(_split_top(main, "PIVOT")) > 1:
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
        # GROUP BY is optional: a GLOBAL aggregate (SELECT agg(x) FROM t)
        # is the worst single-phase case — EVERY row moves to one worker —
        # so it needs the two-phase rewrite most of all
        cl = _clauses(main)
        if cl is None or "SELECT" not in cl or "FROM" not in cl:
            return None
        frm_txt = cl["FROM"]
        where_txt = cl.get("WHERE")
        # correlated scalar aggregate subqueries in WHERE (the TPC-H q17
        # shape): decorrelate each UDAF-headed one to a GROUP BY derived
        # table + equi-join (itself rewritten two-phase), then either
        # return directly (outer aggregates all native — scale-safe as
        # is) or continue below with the joined FROM/WHERE.  A UDAF call
        # in WHERE that does NOT decorrelate refuses (returning None)
        # rather than riding single-phase into the U/B sources.
        if where_txt and _calls(where_txt) & used:
            dc = self._decorrelate_where(
                frm_txt, where_txt, used, spark, scope
            )
            if dc is None:
                return None
            frm_txt, where_txt = dc
            if not any(
                _calls(cl.get(kw, "")) & used
                for kw in ("SELECT", "HAVING", "ORDER BY")
            ):
                rest = "".join(
                    f" {kw} {cl[kw]}"
                    for kw in ("GROUP BY", "HAVING", "ORDER BY", "LIMIT")
                    if kw in cl
                )
                return (
                    f"{pre}SELECT {cl['SELECT']} FROM {frm_txt} "
                    f"WHERE {where_txt}{rest}"
                )
        grp_items = _items(cl.get("GROUP BY", ""))
        # multi-grouping clauses (GROUP BY ROLLUP(a, b) / CUBE(a, b) /
        # GROUPING SETS ((a, b), (a), ())): the clause text passes to the
        # U and B subqueries VERBATIM, the fold runs at the
        # FINEST granularity (every mentioned column — each grouping set
        # is a subset, so merging finest states into any set's groups is
        # exact by merge associativity), and both sides project
        # grouping_id() so the join can tell a data-NULL group from a
        # super-aggregate row.  Plain columns only; anything else refuses.
        multi_clause = None
        mg = _call(grp_items[0]) if len(grp_items) == 1 else None
        head = mg[0].upper() if mg and not mg[2] else ""
        if head in ("ROLLUP", "CUBE", "GROUPING SETS"):
            raw = _items(mg[1])
            if head == "GROUPING SETS":
                sets, raw = raw, []
                for s_ in sets:
                    one = _call(s_)
                    if one is None or one[0] or one[2]:
                        return None
                    raw.extend(c for c in _items(one[1]) if c)
            cols: list[str] = []
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

        grp_norm = {_norm(g): i for i, g in enumerate(grp_items)}
        sel_items = _items(cl["SELECT"])
        agg_args: list[tuple] = []  # (udaf name, [arg exprs]) per __u{i}
        b_cols: list = []  # built-in agg calls as (name, args) -> __b{i}
        memo: dict = {}  # normalized call -> replacement token
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

        def _rw_order(items: list[str], rw_expr) -> Optional[str]:
            # ORDER BY items with their ASC/DESC/NULLS suffix kept
            out = []
            for it in items:
                sm = self._ORDER_SUFFIX.match(it)
                expr = rw_expr(sm.group("e"))
                if expr is None:
                    return None
                out.append(expr + (sm.group("suffix") or ""))
            return ", ".join(out)

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
            call = _call(expr_src)
            if call is None:
                return None
            head, args, rest = call
            if head.upper() == "CAST" and not rest:
                # CAST-wrapped window (CAST(rank() OVER (...) AS BIGINT)):
                # unwrap, rewrite the inner window, re-wrap
                am2 = re.match(
                    r"(?is)^(?P<e>.+)\s+AS\s+"
                    r"(?P<t>\w+(\s*\(\s*\d+(\s*,\s*\d+)?\s*\))?)\s*$",
                    args,
                )
                sub = am2 and _rw_win(am2.group("e"))
                return sub and (f"CAST({sub[0]} AS {am2.group('t')})", sub[1])
            over = _call(rest) if head and " " not in head else None
            if over is None or over[0].upper() != "OVER" or over[2]:
                return None
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
            spec = _split_top(
                over[1], "PARTITION BY", "ORDER BY", "ROWS", "RANGE", "GROUPS"
            )
            ranks = [
                {"PARTITION BY": 0, "ORDER BY": 1}.get(kw.upper(), 2)
                for kw, _ in spec[1:]
            ]
            if spec[0][1] or ranks != sorted(set(ranks)):
                return None  # text before, or clauses out of order/twice
            parts = []
            for kw, body in spec[1:]:
                if kw.upper() == "PARTITION BY":
                    its = [_rw_spec_expr(it) for it in _items(body)]
                    if None in its:
                        return None
                    parts.append("PARTITION BY " + ", ".join(its))
                elif kw.upper() == "ORDER BY":
                    ob = _rw_order(_items(body), _rw_spec_expr)
                    if ob is None:
                        return None
                    parts.append("ORDER BY " + ob)
                else:
                    frame = f"{kw} {body}"
                    if set(frame) & set("()'\"`") or any(
                        w not in self._OVER_BARE_WORDS for w, _ in _words(frame)
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
            if any(w == "over" for w, _ in _words(expr_src)):
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
            # select aliases to their expressions; a run of adjacent
            # words and dots is one name, and literals and the names of
            # calls are never substituted
            clean, toks = _read(expr)
            out, at, i = [], 0, 0
            while i < len(toks):
                prev = toks[i - 1] if i else None
                if not _is_ident(toks[i]) or (
                    prev and prev.text == "." and prev.end == toks[i].start
                ):
                    i += 1
                    continue
                j = i + 1
                while j < len(toks) and toks[j].start == toks[j - 1].end and (
                    toks[j].kind == "word" or toks[j].text == "."
                ):
                    j += 1
                if j < len(toks) and toks[j].text == "(":
                    i = j
                    continue
                name = clean[toks[i].start : toks[j - 1].end]
                out.append(clean[at : toks[i].start])
                out.append(_rw_key(name) or alias_map.get(name.lower(), name))
                at, i = toks[j - 1].end, j
            return "".join(out) + clean[at:]

        having_sql = order_sql = limit_sql = ""
        if "HAVING" in cl:
            if not grp_items:
                return None  # HAVING without GROUP BY — let Spark error
            hav_rw = _rw(cl["HAVING"])
            if hav_rw is None:
                return None
            having_sql = f" WHERE {_subst_aliases(hav_rw)}"
        if "ORDER BY" in cl:
            order = _rw_order(
                _items(cl["ORDER BY"]),
                lambda e: _rw_key(e) or (e if self._PLAIN_COL.match(e) else _rw(e)),
            )
            if order is None:
                return None
            order_sql = f" ORDER BY {order}"
        if "LIMIT" in cl:
            limit_sql = f" LIMIT {cl['LIMIT']}"
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
            and len(_items(ba)) == 1
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
        through the U/B split: single-quoted literals only (no escapes),
        every call a whitelisted deterministic scalar (_GRP_FUNCS), no
        scope-opening bare words.  Anything else — unknown functions
        (could be rand() or an aggregate), double quotes, backslashes,
        subqueries — returns False and the caller falls back to
        single-phase."""
        if '"' in expr or "\\" in expr:
            return False
        return all(
            w in self._GRP_FUNCS if nxt == "(" else w not in self._UNSAFE_BARE_WORDS
            for w, nxt in _words(expr)
        )

    @staticmethod
    def _split_with(query: str) -> Optional[tuple[str, str]]:
        """Split a leading ``WITH name [(cols)] AS (body), ...`` block off
        ``query``.  Returns ``(prefix, main)`` — prefix ``""`` when there
        is no CTE block — or None when the block is malformed or
        RECURSIVE (caller falls back to single-phase).

        The rewrite only restructures the MAIN block; CTE bodies are
        passed to Spark verbatim, which is sound because Spark scopes a
        query's CTEs over every subquery of the following SELECT — the
        U/B subqueries the rewrite builds still resolve the CTE names."""
        clean, toks = _read(query)
        up = [t.text.upper() for t in toks]
        if up[:1] != ["WITH"]:
            return "", clean
        if up[1:2] == ["RECURSIVE"]:
            return None
        i = 1
        while i < len(toks) and _is_ident(toks[i]):
            i += 1
            if up[i : i + 1] == ["("]:  # optional column alias list
                i = _close(toks, i) + 1
            if up[i : i + 2] != ["AS", "("]:
                return None
            i = _close(toks, i + 1) + 1
            if up[i : i + 1] != [","]:
                if up[i : i + 1] != ["SELECT"]:
                    return None
                return clean[: toks[i - 1].end], clean[toks[i].start :]
            i += 1
        return None

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

    #: depth-0 words that take a scalar subquery out of the provable
    #: one-table, one-aggregate shape
    _CORR_REFUSED = (
        "GROUP", "HAVING", "ORDER", "LIMIT", "JOIN", "UNION", "INTERSECT",
        "EXCEPT", "DISTINCT", "WITH",
    )

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
        # a BETWEEN x AND y mis-splits into two pieces, but untouched
        # pieces rejoin with " AND " verbatim — only a piece that FULLY
        # matches the correlated-subquery shape is ever replaced
        new_pieces: list[str] = []
        extra_from: list[str] = []
        ci = 0
        for piece in _items(where, "AND"):
            if not _calls(piece) & used:
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
        clean, toks = _read(piece)
        # the conjunct must END with a balanced "(SELECT ...)" group
        if not toks or toks[-1].text != ")":
            return None
        o = max(j for j in range(len(toks) - 1) if toks[j].depth == toks[-1].depth)
        if toks[o + 1].text.upper() != "SELECT":
            return None
        sub = clean[toks[o].end : toks[-1].start]
        om = re.match(
            r"(?is)^(?P<e>.+?)\s*(?P<op><=|>=|<>|!=|<|>|=)\s*$",
            clean[: toks[o].start],
        )
        if om is None:
            return None
        lhs, op = om.group("e").strip(), om.group("op")
        if not lhs or ("(" in lhs and not self._safe_group_expr(lhs)):
            return None
        for w, nxt in _words(lhs):
            # a BARE word must be a column ref or a whitelisted literal;
            # OR is the load-bearing refusal (see _CORR_LHS_BARE_OK).  A
            # call was vetted by _safe_group_expr; a qualifier passes.
            if nxt not in ("(", ".") and (
                w in self._UNSAFE_BARE_WORDS or w in {
                    "or", "in", "between", "like", "case", "when", "then",
                    "else", "end", "is", "distinct",
                }
            ):
                return None
        # ---- parse the subquery --------------------------------------
        if len(_split_top(sub, *self._CORR_REFUSED)) > 1:
            return None
        cl = _clauses(sub)
        tm = cl and re.match(
            r"(?is)^(?P<tbl>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<al>[A-Za-z_]\w*)$",
            cl.get("FROM", ""),
        )
        if not tm or "SELECT" not in cl:
            return None
        item, conds = cl["SELECT"], cl.get("WHERE")
        tbl, al = tm.group("tbl"), tm.group("al")
        if al.lower() in self._UNSAFE_BARE_WORDS:
            return None
        if not _calls(item) & used:
            return None  # builtin-only subquery: Spark decorrelates natively
        # ---- classify the inner conjuncts ----------------------------
        corr_keys: list[tuple[str, str]] = []  # (inner col, outer ref)
        inner_conds: list[str] = []
        eq = re.compile(
            r"(?is)^\s*(?P<a>[A-Za-z_]\w*\.[A-Za-z_]\w*)\s*=\s*"
            r"(?P<b>[A-Za-z_]\w*\.[A-Za-z_]\w*)\s*$"
        )
        for c in _items(conds, "AND") if conds else []:
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
            for w, nxt in _words(c):
                if nxt == ".":
                    if w != al.lower():
                        return None  # qualified ref to another table
                elif nxt == "(":
                    if (
                        w not in self._GRP_FUNCS
                        and w not in self._SCALAR_PASSTHROUGH
                    ):
                        return None  # unknown call — could be anything
                elif (
                    w not in self._CORR_INNER_BARE_OK
                    and w != al.lower()
                ):
                    return None  # bare unqualified identifier — ambiguous
            inner_conds.append(c)
        if corr_keys and any(
            w.startswith("count") or w == "approx_count_distinct"
            for w in _calls(item)
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
        for w, nxt in _words(item):
            if nxt == ".":
                if w != al.lower():
                    return None  # qualified ref to another table
            elif nxt == "(":
                if (
                    w not in used
                    and w not in self._BUILTIN_AGGS
                    and w not in self._SCALAR_PASSTHROUGH
                ):
                    return None  # unknown call
            elif w not in self._CORR_LHS_BARE_OK and w not in self._CORR_TYPE_WORDS:
                return None  # bare unqualified identifier — ambiguous scope
        # ---- build + recursively rewrite the decorrelated subquery ---
        item_s = _unqualify(item, al)
        conds_s = [_unqualify(c, al) for c in inner_conds]
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
        clean, toks = _read(main)
        up = [t.text.upper() for t in toks]
        if up[:4] != ["SELECT", "*", "FROM", "("]:
            return None  # implicit keys are only decidable under SELECT *
        close = _close(toks, 3)
        inner = clean[toks[3].end : toks[close].start].strip()
        k = close + 1  # past an optional alias of the pivot source
        if up[k : k + 1] == ["AS"]:
            k += 2 if k + 1 < len(toks) and toks[k + 1].kind == "word" else 0
        elif k < len(toks) and toks[k].kind == "word" and up[k] != "PIVOT":
            k += 1
        if up[k : k + 2] != ["PIVOT", "("]:
            return None
        p_close = _close(toks, k + 1)
        spec = clean[toks[k + 1].end : toks[p_close].start].strip()
        tail = clean[toks[p_close].end :].strip()
        if tail and not re.match(r"(?is)^(ORDER\s+BY|LIMIT)\b", tail):
            return None  # WHERE-after-pivot etc. — out of the shape
        sm = re.match(
            r"(?is)^(?P<agg>[A-Za-z_]\w*)\s*\(\s*(?P<arg>[A-Za-z_]\w*)\s*\)"
            r"\s*(?:AS\s+\w+\s*)?FOR\s+(?P<pcol>[A-Za-z_]\w*)\s+IN\s*(?=\()",
            spec,
        )
        in_list = sm and _call(spec[sm.end() :])
        if not in_list or in_list[2]:
            return None  # multiple aggs / expression args — refuse
        agg, arg, pcol = sm.group("agg"), sm.group("arg"), sm.group("pcol")
        values: list[tuple[str, str]] = []  # (literal, output name)
        for item in _items(in_list[1]):
            vm = re.match(
                r"(?is)^(?P<lit>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
                r"\s*(?:AS\s+(?P<alias>\w+))?$",
                item,
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
        # inner output names: the inner select's list, up to its FROM
        parts = _split_top(inner, "SELECT", "FROM")
        if (
            len(parts) < 3
            or parts[0][1]
            or [kw.upper() for kw, _ in parts[1:3]] != ["SELECT", "FROM"]
        ):
            return None
        out_names: list[str] = []
        for item in _items(parts[1][1]):
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
        clean, toks = _read(expr)
        out, at, i = [], 0, 0  # at: end of the text already copied
        while i < len(toks):
            t = toks[i]
            if not _is_ident(t) or (i and toks[i - 1].text == "."):
                i += 1
                continue
            if (toks[i + 1].text if i + 1 < len(toks) else "") != "(":
                # bare word (no call parens).  Column references and
                # operator/literal keywords (AND, OR, NOT, IN, NULL, CASE,
                # ...) pass through, but scope-opening keywords mean a
                # subquery / window we cannot prove hoist-safe: fall back
                # to single-phase instead of hoisting an inner scope's
                # aggregate over the outer table.
                if t.text.lower() in self._UNSAFE_BARE_WORDS:
                    return None
                i += 1
                continue
            e = _close(toks, i + 1)
            name, args = t.text, clean[toks[i + 1].end : toks[e].start]
            ln = name.lower()
            key = (ln, _norm(args))
            if ln in used and ln in self._agg_sql_names:
                # DISTINCT inside a UDAF call cannot be split: per-
                # partition DISTINCT before the merge misses cross-
                # partition dupes.  (B-side built-ins run unsplit, so
                # COUNT(DISTINCT x) there is fine.)
                if re.match(r"(?is)^\s*DISTINCT\b", args):
                    return None
                arg_items = [a for a in _items(args) if a]
                if not arg_items:
                    # a zero-arg UDAF is not expressible as a grouped
                    # aggregate UDF either — fall back loudly
                    return None
                if key not in memo:
                    memo[key] = f"__u{len(agg_args)}"
                    agg_args.append((ln, arg_items))
                rep = memo[key]
            elif ln in self._BUILTIN_AGGS:
                if key not in memo:
                    memo[key] = f"__b{len(b_cols)}"
                    b_cols.append((name, args))
                rep = memo[key]
            elif ln in self._SCALAR_PASSTHROUGH:
                sub = self._rewrite_agg_calls(args, used, agg_args, b_cols, memo)
                if sub is None:
                    return None
                rep = f"{name}({sub})"
            else:
                return None  # unknown call — could be an aggregate
            out += [clean[at : t.start], rep]
            at, i = toks[e].end, e + 1
        return "".join(out) + clean[at:]


#: the default global registry (analogue of the reference's linkme slice,
#: arrow-udf/src/sig.rs:114-127)
GLOBAL = Registry()
