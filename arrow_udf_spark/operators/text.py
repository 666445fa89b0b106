"""Text-analysis operators for large-scale training-data pipelines.

These are the north-star extensions beyond the reference surface
(BASELINE.json; reference hook: the batched ``text_embedding`` UDF,
arrow-udf-remote/python/example.py:233-247).  Everything here is built from
**native Spark SQL functions** (split/filter/transform/aggregate) so the
whole pipeline stays JVM-side inside whole-stage codegen — no Python
worker in the hot path, which is what makes it viable at 100 TB.

Cross-engine determinism: token hashes use ``conv(substr(md5(t),1,8),16,10)``
which DuckDB reproduces exactly as ``('0x'||substr(md5(t),1,8))::BIGINT`` —
every operator therefore has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "token_hash",
    "lang_id",
    "quality_score",
    "fingerprint",
    "STOPWORDS",
    "normalize_text",
    "source_quota",
    "bpe_pair_counts",
]

#: small fixed stopword lists per language (order = tiebreak priority)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "und", "das", "ist", "von"],
    "fr": ["le", "la", "les", "et", "des", "est"],
    "zh": ["的", "是", "了", "在"],
}

FINGERPRINT_MOD = 1_000_000_007


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (regexp split, empty-safe)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def token_hash(tok: Column) -> Column:
    """Deterministic 32-bit token hash shared with the DuckDB oracle."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def _hits(toks: Column, words: list[str]) -> Column:
    lst = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lst, t)))


def _lang_case(scores: list[tuple[str, Column]]) -> Column:
    """Argmax CASE chain over (language, score) pairs, ties broken by the
    fixed language order; all-zero scores yield 'und'."""
    mx = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, s in reversed(scores):
        expr = F.when(s == mx, F.lit(lang)).otherwise(expr)
    return F.when(mx <= 0, F.lit("und")).otherwise(expr)


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts,
    ties broken by the fixed language order of STOPWORDS.

    NOTE: as a single expression this inlines the tokenization at every
    score reference (~2 x languages sites — Catalyst does no CSE inside a
    projection, the decontaminate lesson).  Hot paths use
    :func:`with_lang_id`, which stages tokens and per-language scores in
    their own projections (measured 0.96 s -> ~0.5 s over 50k docs)."""
    toks = tokens(text)
    return _lang_case([(lang, _hits(toks, ws)) for lang, ws in STOPWORDS.items()])


def with_lang_id(df, text_col: str = "text", out: str = "lang"):
    """Staged language ID: one tokenization per document, one per-language
    score evaluation, then the argmax CASE over materialized score
    columns.  CollapseProject keeps the stages separate because each
    non-cheap producer is referenced more than once downstream."""
    d = df.withColumn("__li_toks", tokens(F.col(text_col)))
    for lang, ws in STOPWORDS.items():
        d = d.withColumn(f"__li_{lang}", _hits(F.col("__li_toks"), ws))
    d = d.withColumn(
        out,
        _lang_case([(lang, F.col(f"__li_{lang}")) for lang in STOPWORDS]),
    )
    return d.drop("__li_toks", *[f"__li_{lang}" for lang in STOPWORDS])


def quality_score(
    text: Column | str, n_chars: Column | str, toks: Column | None = None
) -> Column:
    """Composite document quality in [0,1]:
    0.4·length + 0.3·(1 − punctuation ratio) + 0.3·stopword density.

    The token array is referenced exactly ONCE: stopword hits and token
    count come out of a single aggregate fold, so even when Catalyst
    inlines this expression into a pushed-down Filter (predicate pushdown
    substitutes aliases regardless of cost — staging cannot protect a
    filter use), the document is tokenized once.  ``toks`` lets callers
    share an already-staged array."""
    c = F.col(text) if isinstance(text, str) else text
    n = (F.col(n_chars) if isinstance(n_chars, str) else n_chars).cast("double")
    if toks is None:
        toks = tokens(c)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    clean = F.regexp_replace(c, "[^a-z0-9 ]", "")
    punct_ratio = (F.length(c) - F.length(clean)) / F.greatest(
        F.length(c), F.lit(1)
    ).cast("double")
    lst = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    # ONE aggregate expression: (stopword hits, token count) fold with the
    # ratio produced by the finish lambda — referencing an accumulator
    # struct from two sibling expressions would inline the whole fold
    # twice (no CSE inside a projection).  Counts are exact ints, so the
    # ratio is bit-identical to the oracle's len(list_filter)/len(list).
    stop_ratio = F.aggregate(
        toks,
        F.struct(F.lit(0).alias("h"), F.lit(0).alias("n")),
        lambda a, t: F.struct(
            (
                a["h"]
                + F.when(F.array_contains(lst, t), F.lit(1)).otherwise(F.lit(0))
            ).alias("h"),
            (a["n"] + F.lit(1)).alias("n"),
        ),
        lambda a: a["h"].cast("double")
        / F.greatest(a["n"], F.lit(1)).cast("double"),
    )
    raw = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    # floor(x·1e6 + 0.5)/1e6 instead of round(): engines disagree on
    # round() at exact-midpoint doubles, floor is bit-deterministic
    return F.floor(raw * 1_000_000 + F.lit(0.5)) / 1_000_000


def with_quality_score(
    df,
    text_col: str = "text",
    n_col: str = "n_chars",
    out: str = "q",
):
    """Staged quality score: tokenize once into its own projection, then
    score over the materialized array (the tokenization is referenced at
    both the stopword-hit and token-count sites)."""
    d = df.withColumn("__qs_toks", tokens(F.col(text_col)))
    d = d.withColumn(
        out, quality_score(F.col(text_col), F.col(n_col), toks=F.col("__qs_toks"))
    )
    return d.drop("__qs_toks")


def fingerprint(text: Column | str) -> Column:
    """Order-sensitive rolling document fingerprint:
    fold (acc·31 + token_hash) mod 1e9+7 over the token stream."""
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + token_hash(t)) % F.lit(FINGERPRINT_MOD),
    )


def bpe_pair_counts(df, text_col: str = "text", top: int = 10):
    """The hot loop of BPE tokenizer training, distributed: count every
    adjacent CHARACTER pair inside each whitespace token across the
    corpus and return the ``top`` heaviest — ``(rank, pair, cnt)`` with
    ties to the lexicographically smaller pair.  (A full BPE train
    repeats this argmax + merge; the pair count is the step that touches
    all the data, so it is the step that must scale.)

    Plan: per token, pairs come from one ``transform(sequence)`` over
    substring — pure codegen, no Python; the aggregate's key space is
    bounded by the character-bigram vocabulary (thousands), so map-side
    combine collapses the corpus before ONE shuffle; the top-k is a
    TakeOrdered, never a full sort.  Exact integer counts + fixed
    tie-break = engine-exact oracle.
    """
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok")).where(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top)
        .select("rank", "pair", "cnt")
    )


def oracle_token_hash(expr: str) -> str:
    """DuckDB rendering of token_hash for oracle SQL construction."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def chunk_documents(
    df,
    text_col: str = "text",
    n_col: str = "n_chars",
    window: int = 200,
    stride: int = 150,
    passthrough: tuple[str, ...] = ("doc_id",),
):
    """Sliding-window document chunking for LLM training pipelines: emit
    overlapping character windows of ``window`` chars every ``stride``
    chars (overlap = window - stride).

    Pure Catalyst plan — sequence/explode/substring, no Python eval — so
    the fan-out runs inside whole-stage codegen and scales linearly with
    input partitions (no shuffle at all: chunking is per-row).  Uses
    integer DIV (never float floor-division) so char offsets are exact
    past 2^53.
    """
    nchunks = F.expr(f"CAST(({n_col} + {stride - 1}) DIV {stride} AS INT)")
    # sequence(0, -1) ramps DOWN in Spark — guard empty docs explicitly
    idx = F.when(nchunks > 0, F.sequence(F.lit(0), nchunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    start = F.col("chunk_idx").cast("long") * stride
    end = F.least(start + window, F.col(n_col).cast("long"))
    return (
        df.select(*passthrough, text_col, n_col, F.explode(idx).alias("chunk_idx"))
        .select(
            *passthrough,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            start.alias("start_pos"),
            end.alias("end_pos"),
            F.substring(
                F.col(text_col), (start + 1).cast("int"), (end - start).cast("int")
            ).alias("chunk_text"),
        )
    )


def repetition_ratio(
    df,
    text_col: str = "text",
    key: str = "doc_id",
    n: int = 3,
):
    """Gopher-style repetition quality signal: the fraction of duplicate
    word n-grams in each document (1 - unique/total).  High values flag
    boilerplate / spam for corpus filtering.

    Pure Catalyst: split → sequence/transform n-gram build →
    array_distinct, all inside whole-stage codegen, no shuffle (per-row).
    The one-arg transform lambda is deliberate — Spark passes the element
    index to a second lambda arg, which would corrupt closure-bound
    constants.
    """
    # stage the token array first: the gram expression references it at
    # n+2 sites and Catalyst does no CSE inside a projection (the
    # decontaminate lesson — caught again by tools/plan_lint.py)
    staged = df.withColumn("__rr_toks", F.split(F.trim(F.col(text_col)), r"\s+"))
    toks = F.col("__rr_toks")
    ntok = F.size(toks)
    # sequence(0, -k) ramps DOWN — guard docs shorter than n tokens
    grams = F.when(
        ntok >= n,
        F.transform(
            F.sequence(F.lit(0), ntok - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = staged.withColumn("__g", grams).select(
        key,
        F.size(F.col("__g")).cast("long").alias("n_grams"),
        F.size(F.array_distinct(F.col("__g"))).cast("long").alias("n_unique"),
    )
    ratio = F.when(
        F.col("n_grams") > 0,
        F.floor(
            (F.lit(1.0) - F.lit(1.0) * F.col("n_unique") / F.col("n_grams")) * 1e6
            + F.lit(0.5)
        )
        / 1e6,
    )
    return out.withColumn("dup_ratio", ratio)


def gopher_repetition(
    df,
    text_col: str = "text",
    key: str = "doc_id",
):
    """Gopher-style CHARACTER-COVERAGE repetition signals (Rae et al. 2021,
    appendix A1.1 — the filter set every big web-corpus pipeline runs):

    - ``frac_top2`` — fraction of word characters contained in all
      occurrences of the single most frequent word 2-gram (the paper
      rejects documents above 0.20);
    - ``frac_dup5`` — fraction of word characters covered by words that
      participate in ANY occurrence of a duplicated 5-gram, counting each
      word position once even when overlapping duplicated grams cover it
      repeatedly (the paper's "do not double count" clause; it rejects
      above ~0.15);
    - ``n_words`` / ``total_chars`` — the denominators, for auditability.

    Distinct from :func:`repetition_ratio`, which is the unique/total gram
    COUNT ratio: these are the char-weighted coverage forms the paper
    specifies.  Characters are WORD characters (whitespace excluded) on
    both sides of the oracle, so the definition is engine-exact.

    Scale shape (the reason this is NOT a per-row HOF scan): a 10k-word
    document would make the naive per-row duplicate scan O(m²).  Instead
    the plan is linear end-to-end — ONE tokenization, one explode of
    tagged (n, start, gram) structs, a (doc, n, gram) count with map-side
    combine, and one equi-join back to the doc row.  Per-doc HOF work only
    touches the duplicated-5-gram START LIST (bounded by actual duplicate
    volume, near-zero on clean corpora); ties for the top 2-gram break by
    (count desc, gram asc) — a total order, so cross-engine deterministic.
    """
    staged = df.select(
        key,
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    )
    toks = F.col("__toks")
    ntok = F.size(toks)
    wlen = lambda i: F.length(F.element_at(toks, i))  # noqa: E731

    def grams(n: int):
        # sequence(0, -k) ramps DOWN in Spark — guard short docs
        return F.when(
            ntok >= n,
            F.transform(
                F.sequence(F.lit(0), ntok - n),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    i.cast("int").alias("start"),
                    F.concat_ws(
                        " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
                    ).alias("gram"),
                    sum(
                        [wlen(i + j + 1) for j in range(1, n)],
                        wlen(i + 1),
                    ).cast("long").alias("glen"),
                ),
            ),
        ).otherwise(F.array().cast(
            "array<struct<n:int,start:int,gram:string,glen:bigint>>"
        ))

    ex = staged.select(
        key, F.explode(F.concat(grams(2), grams(5))).alias("g")
    ).select(key, "g.n", "g.start", "g.gram", "g.glen")
    per_gram = ex.groupBy(key, "n", "gram").agg(
        F.count("*").alias("cnt"),
        F.min("glen").alias("glen"),
        # starts are only consumed for duplicated 5-grams — collect_list
        # skips the NULLs this when() emits for 2-gram rows, so the
        # shuffle carries no start payload for the (much larger) 2-gram
        # population
        F.collect_list(
            F.when(F.col("n") == 5, F.col("start"))
        ).alias("starts"),
    )
    # most frequent 2-gram via a struct-min (no window): min over
    # (-cnt, gram) is (highest count, lexicographically first)
    top2 = (
        per_gram.where(F.col("n") == 2)
        .groupBy(key)
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"),
                    F.col("gram").alias("gram"),
                    F.col("glen").alias("glen"),
                )
            ).alias("t")
        )
        .select(
            key,
            (-F.col("t.neg") * F.col("t.glen")).cast("long").alias("top2_chars"),
        )
    )
    # word positions covered by duplicated 5-grams, counted once
    dup5 = (
        per_gram.where((F.col("n") == 5) & (F.col("cnt") > 1))
        .groupBy(key)
        .agg(F.flatten(F.collect_list("starts")).alias("starts"))
        .select(
            key,
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.col("starts"), lambda s: F.sequence(s, s + 4)
                    )
                )
            ).alias("covered"),
        )
    )
    base = staged.select(
        key,
        toks.alias("__toks"),
        ntok.cast("long").alias("n_words"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).alias("total_chars"),
    )
    joined = (
        base.join(top2, key, "left")
        .join(dup5, key, "left")
        .withColumn(
            "dup5_chars",
            F.coalesce(
                F.aggregate(
                    F.col("covered"),
                    F.lit(0).cast("long"),
                    lambda a, i: a + F.length(F.element_at(F.col("__toks"), i + 1)),
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("top2_chars", F.coalesce(F.col("top2_chars"), F.lit(0).cast("long")))
    )

    def frac(num):
        return F.when(
            F.col("total_chars") > 0,
            F.floor(F.lit(1.0) * num / F.col("total_chars") * 1e6 + F.lit(0.5))
            / 1e6,
        ).otherwise(F.lit(0.0))

    return joined.select(
        key,
        "n_words",
        "total_chars",
        frac(F.col("top2_chars")).alias("frac_top2"),
        frac(F.col("dup5_chars")).alias("frac_dup5"),
    )


def char_entropy(df, text_col: str = "text", key: str = "doc_id"):
    """Per-document Shannon entropy of the character distribution (nats)
    — the classic cheap garbage detector: binary blobs / base64 / key
    dumps sit near ln(alphabet) while natural language sits well below;
    mojibake and single-char spam sit near zero.  Rounded half-up at 6dp
    (cross-engine float discipline).

    Plan: explode characters, ONE (doc, char) count with map-side
    combine (the per-doc combine collapses each document's characters
    to its alphabet size before the shuffle), then a per-doc fold —
    shuffled rows are O(docs · alphabet), never O(total chars)."""
    chars = df.select(
        key,
        F.explode(F.split(F.col(text_col), "")).alias("__c"),
    ).where(F.col("__c") != "")
    counts = chars.groupBy(key, "__c").agg(F.count("*").alias("__n"))
    per_doc = counts.groupBy(key).agg(
        F.sum("__n").alias("__total"),
        F.collect_list("__n").alias("__ns"),
    )
    p = lambda n: n / F.col("__total")  # noqa: E731
    h = -F.aggregate(
        F.col("__ns"),
        F.lit(0.0),
        lambda acc, n: acc + p(n) * F.log(p(n)),
    )
    return per_doc.select(
        key,
        F.col("__total").cast("long").alias("n_chars_counted"),
        (F.floor(h * 1e6 + F.lit(0.5)) / 1e6).alias("entropy"),
    )


def redact_pii(df, text_col: str = "text", key: str = "doc_id"):
    """Scrub emails and long digit runs from text — the standard PII pass
    before training-data release.  Two chained regexp_replace expressions
    (patterns valid in both Java regex and RE2), JVM-side, zero shuffle."""
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.col(text_col), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"
        ),
        "[0-9]{6,}",
        "<NUM>",
    )
    return df.select(key, redacted.alias("redacted"))


def normalize_text(text: Column | str) -> Column:
    """Canonical text normalization for dedup keys: lowercase, collapse
    whitespace runs to single spaces, trim.  Pure Catalyst string exprs —
    per-row map work, no shuffle, safe at any scale.  (Unicode NFC/NFKC is
    deliberately NOT applied here: normalization forms differ subtly across
    engines/ICU versions, which would break cross-engine reproducibility of
    content hashes.)"""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def source_quota(
    df,
    source_col: str = "source",
    id_col: str = "doc_id",
    quota: int = 100,
):
    """Cap documents per source/domain (anti-spam corpus balancing): keep at
    most ``quota`` docs per source, chosen deterministically by md5(id) so
    the survivors are a stable pseudo-random sample, not a scan-order
    artifact.  One window per source partition — shuffles O(rows) once on
    the source key; heavy domains are exactly the rows the quota discards,
    so skew self-limits at emission."""
    from pyspark.sql import Window

    rank_key = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(source_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= quota)
        .drop("__rk")
    )


def inverted_index(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    stop_df: int = 50,
):
    """Build an inverted index: token -> (document frequency, posting list).

    The core retrieval/decontamination structure a training-data pipeline
    materializes over a corpus.  Scale shape:

    - (token, doc_id) pairs are deduplicated then counted with map-side
      combine — document frequency is one bounded-state aggregation;
    - posting lists are only materialized for TAIL tokens (df <= stop_df).
      Head tokens ("the", "and") keep df but a NULL posting list — at
      100 TB a stop-token's postings are billions of ids in ONE aggregation
      buffer, the classic inverted-index skew trap; real IR systems
      threshold or tier them the same way;
    - the tail filter is a co-partitioned join on the token key (both
      sides descend from the same groupBy(token) shuffle), never a
      broadcast of the vocabulary.
    """
    pairs = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    dfc = pairs.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    tail_postings = (
        pairs.join(dfc.where(F.col("df") <= stop_df), "token")
        .groupBy("token", "df")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                "|",
            ).alias("postings")
        )
    )
    head = dfc.where(F.col("df") > stop_df).select(
        "token", "df", F.lit(None).cast("string").alias("postings")
    )
    return tail_postings.unionByName(head)


def bm25_topk(
    df,
    terms: list,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """BM25 document ranking for a small term set, rational-idf variant.

    idf(t) = (N - df + 0.5) / (df + 0.5) — classic BM25 takes ln() of
    this.  ln is monotone, so omitting it is rank-equivalent PER TERM;
    for a multi-term summed score the weighting between terms differs
    from textbook BM25 and rankings CAN deviate (a rare term counts
    relatively more here, since x grows faster than ln x).  The trade is
    deliberate: libm ``ln`` is NOT bit-identical across engines (same
    trade tfidf_topterms makes), every operation stays rational
    arithmetic with a fixed evaluation order, and sum(dl)/count(dl) over
    integers is exact in doubles — so the score is cross-engine
    deterministic and oracle-consistent, at the cost of being a
    documented BM25 *variant* rather than the textbook formula.

    Scale: corpus-level stats (avgdl, N) are a 1-row broadcast; per-term
    document frequencies broadcast (|terms| rows); only the docs that
    actually contain a query term reach the scoring join."""
    words = (
        df.select(
            F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("word")
        )
        .where(F.col("word") != "")
    )
    dl = words.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count("*").cast("bigint").alias("n_docs")
    )
    hits = words.where(F.col("word").isin(list(terms)))
    tf = hits.groupBy("doc_id", "word").agg(F.count("*").cast("bigint").alias("tf"))
    dfc = hits.groupBy("word").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    j = (
        tf.join(F.broadcast(dfc), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = (F.col("n_docs").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    s = idf * (F.col("tf") * (k1 + 1)) / denom
    tot = j.select("doc_id", s.alias("s")).groupBy("doc_id").agg(
        F.sum("s").alias("s")
    )
    return (
        tot.select(
            "doc_id",
            (F.floor(F.col("s") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def source_token_tv(
    df,
    sources: list,
    text_col: str = "text",
    source_col: str = "source",
):
    """Pairwise corpus-drift matrix: total-variation distance between the
    unigram distributions of each source pair, in EXACT integers.

    TV(A,B) = 1/2 * sum_t |p_A(t) - p_B(t)| — computed as the integer
    numerator ``tv_num = sum_t |c_A(t)*N_B - c_B(t)*N_A|`` next to the
    stream sizes (TV = tv_num / (2*N_A*N_B)); no division ever happens,
    so the result is bit-identical in any engine (log-based divergences
    like KL/JS would hit libm; TV is the distribution-shift metric that
    stays rational).

    The numerator type is chosen from the DRIVER-KNOWN stream totals:
    ``sum_t |c_A*N_B - c_B*N_A| <= 2*N_A*N_B``, so when every pairwise
    ``2*N_A*N_B < 2^63`` the whole computation provably fits int64 and
    runs on fast long arithmetic; otherwise (the ~1e13-token corpus
    where the products reach ~1e26) it runs in DECIMAL(19,0)x(19,0) ->
    (38,0), which keeps every term exact to 38 digits and fails loudly
    beyond — Spark's non-ANSI long multiply would wrap SILENTLY and
    break the exactness guarantee (ADVICE r6, low).  The fitting path
    emits ``tv_num`` as BIGINT (the natural exact type when the bound
    proves it fits); only the beyond-int64 path emits DECIMAL(38,0) —
    documented as driver-incompatible-by-design, since renderers
    disagree on how to print a decimal integer (pandas floats it,
    Spark keeps ``Decimal``) even when the VALUES are bit-identical.

    Scale: per-source token counts are vocabulary-sized (one map-side
    combined aggregate over the corpus); the pivot is one shuffle keyed
    on token; the pairwise pass is ONE aggregate producing |S|^2/2
    columns over the pivot — sources never join documents.  Stream
    totals are |S| numbers collected to the driver (the k-means-centroid
    pattern, O(S) driver state).

    Returns ``(src_a, src_b, tv_num, n_a, n_b)`` for a < b.
    """
    words = (
        df.where(F.col(source_col).isin(list(sources)))
        .select(
            F.col(source_col).alias("src"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    totals = {
        r["src"]: r["n"]
        for r in words.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    cnts = words.groupBy("src", "tok").agg(F.count(F.lit(1)).alias("c"))
    piv = cnts.groupBy("tok").pivot("src", list(sources)).sum("c")
    pairs = [
        (a, b)
        for i, a in enumerate(sources)
        for b in list(sources)[i + 1 :]
    ]
    fits_long = all(
        2 * int(totals.get(a, 0)) * int(totals.get(b, 0)) < 2**63
        for a, b in pairs
    )
    aggs = []
    for a, b in pairs:
        na, nb = int(totals.get(a, 0)), int(totals.get(b, 0))
        num_t = "bigint" if fits_long else "decimal(19,0)"
        diff = F.abs(
            F.coalesce(F.col(f"`{a}`"), F.lit(0)).cast(num_t)
            * F.lit(nb).cast(num_t)
            - F.coalesce(F.col(f"`{b}`"), F.lit(0)).cast(num_t)
            * F.lit(na).cast(num_t)
        )
        # coalesce: an empty token stream (all-empty docs) must read as
        # zero divergence, not NULL
        out_t = "bigint" if fits_long else "decimal(38,0)"
        aggs.append(
            F.coalesce(F.sum(diff), F.lit(0))
            .cast(out_t)
            .alias(f"__tv_{a}__{b}")
        )
    one = piv.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("src_a"),
                F.lit(b).alias("src_b"),
                F.col(f"__tv_{a}__{b}").alias("tv_num"),
                F.lit(int(totals.get(a, 0))).cast("long").alias("n_a"),
                F.lit(int(totals.get(b, 0))).cast("long").alias("n_b"),
            )
            for a, b in pairs
        ]
    )
    return one.select(F.explode(rows).alias("__r")).select(
        "__r.src_a", "__r.src_b", "__r.tv_num", "__r.n_a", "__r.n_b"
    )


#: the BPE symbol-boundary marker; stripped from input words
_BPE_M = "·"


def _bpe_words_of(df, text_col: str, id_col: str):
    """(id, w) rows: whitespace-split words with the marker char
    stripped — the shared front door of both BPE trainers."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), r"\s+")).alias("w"),
        )
        .withColumn("w", F.regexp_replace("w", _BPE_M, ""))
        .where(F.col("w") != "")
    )


def _bpe_pair_expr():
    """Adjacent-pair fan-out over the marker-wrapped representation in
    column ``r``: each pair rendered ``·a··b·`` (both edges marked — the
    soundness form; see :func:`bpe_train_encode`)."""
    M = _BPE_M
    # split on the marker leaves "" between/around symbols — filter
    syms = F.filter(F.split(F.col("r"), M), lambda x: x != "")
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.concat(
                F.lit(M),
                F.element_at(syms, i + 1),
                F.lit(M + M),
                F.element_at(syms, i + 2),
                F.lit(M),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _release_pin(df) -> None:
    """Free a loop table's storage NOW, whether it was persist()ed or
    localCheckpoint()ed (the r9 cache-release contract): unpersist covers
    the CacheManager entry, and the LogicalRDD branch frees a local
    checkpoint's BlockManager blocks, which otherwise linger until the
    RDD is garbage-collected."""
    df.unpersist()
    try:
        lg = df._jdf.queryExecution().logical()
        if lg.getClass().getSimpleName() == "LogicalRDD":
            lg.rdd().unpersist(True)
    except Exception:
        pass


def _bpe_finish(words, cur, parent=None):
    """Shared trainer epilogue: pin the O(|vocab|) model (w, n_sym),
    release the loop table(s), and build the per-document encode join.

    ``parent`` is the last round's still-cached table (the fused loop —
    see :func:`bpe_train_encode` — leaves the final ``cur`` lazy, so its
    parent cache must survive until ``final`` materializes here)."""
    M = _BPE_M
    final = cur.select(
        "w",
        F.size(
            F.filter(F.split(F.col("r"), M), lambda x: x != "")
        ).cast("long").alias("n_sym"),
    ).persist()
    final.count()
    _release_pin(cur)
    if parent is not None:
        _release_pin(parent)
    out = (
        words.join(final, "w")
        .groupBy("id")
        .agg(
            F.sum("n_sym").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
        )
    )
    # the one remaining cached table IS the trained model, which the
    # returned (lazy) DataFrame still reads; callers that are done with
    # it can release it via this handle
    out.bpe_model_cache = final
    return out


def bpe_train_encode(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 8,
):
    """Train a byte-pair-encoding tokenizer END-TO-END and apply it —
    the full loop ``bpe_pair_counts`` only samples one step of
    (mirrors the reference's text-pipeline scope; cf.
    arrow-udf/arrow-udf-example/python.py's string corpus breadth).

    Training (Sennrich et al. 2016, word-internal BPE):

    1. Compact the corpus to the WORD-FREQUENCY table — the classic BPE
       trick: training never touches raw documents again, only the
       O(|word vocab|) ``(word, freq)`` rows.
    2. Represent each word as marker-WRAPPED symbols
       (``"the" -> "·t··h··e·"``).  Both edges of every symbol carry a
       marker, so a pair pattern ``"·a··b·"`` can only align at symbol
       boundaries — a trailing-marker-only scheme is UNSOUND: the
       pattern's bare leading symbol can match the TAIL of a longer
       symbol ("·d·c·" inside "dd·c·"), a real corruption hypothesis
       found on the terminated form.  The doubled inner separator also
       means adjacent matches share no characters, so ``replace``
       substitutes left-to-right non-overlapping — the canonical merge
       order ("aaa" + (a,a) -> "aa a", not "a aa").
    3. ``n_merges`` iterations of: fan adjacent pairs out of every word
       (weighted by freq), argmax ``(count DESC, pair ASC)`` — ONE row
       to the driver per iteration, like kmeans' per-round centroid
       collect — then apply the merge with one ``replace`` column.

    Encoding: per-document token counts come from joining the
    document's words to the trained vocab table and summing final
    symbol counts — no per-document merge replay.

    Returns ``(per_doc DataFrame (id, n_tokens, n_words), merges)``
    where ``merges`` is the ordered learned pair list (marker form).

    Scale: the learned merge table is O(n_merges) driver/broadcast
    state; training runs over the word-vocab table (zipf-bounded, far
    smaller than the corpus, and itself distributed — nothing here
    collects more than ONE argmax row per iteration); encoding is one
    explode + one vocab equi-join + one per-doc sum.  The iteration's
    pair fan-out is a ``transform(sequence)`` HOF — interpreted, but
    over vocab-sized rows, not corpus-sized (the measured-perf HOF
    caveat does not bite; see PLANS.md).
    """
    M = _BPE_M
    words_of = lambda d: _bpe_words_of(d, text_col, id_col)  # noqa: E731
    vocab = words_of(df).groupBy("w").agg(
        F.count(F.lit(1)).alias("freq")
    )
    cur = vocab.withColumn(
        "r", F.regexp_replace(F.col("w"), "(.)", M + "$1" + M)
    ).persist()
    merges: list[str] = []
    prev = None
    for _ in range(n_merges):
        # FUSED materialization (r10 perf): this argmax job is the FIRST
        # action over a freshly-persisted `cur`, so it computes and caches
        # `cur` (one replace step off the parent's cache) as a side effect
        # — the former dedicated `nxt.count()` job per round paid a whole
        # extra pass over the cached table.  ONE job per merge round.
        best = (
            cur.select(F.explode(_bpe_pair_expr()).alias("p"), "freq")
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("p"))
            .limit(1)
            .collect()
        )
        # `cur` is materialized now — its parent cache can go
        if prev is not None:
            _release_pin(prev)
            prev = None
        if not best:
            break
        pat = best[0]["p"]
        # "·a··b·" -> "·ab·": delete the doubled inner boundary
        merged = pat.replace(M + M, "", 1)
        merges.append(pat)
        # lazy localCheckpoint, not persist (r11): same fused
        # materialization (the next round's argmax computes it), but the
        # lineage TRUNCATES — with persist, round n's plan re-analyzed n
        # chained replaces + the vocab aggregate every round, and the
        # profiled trainer spent ~5.6 s of its 9 s in driver-side gaps
        # between 33 sub-second jobs
        nxt = cur.withColumn(
            "r", F.replace(F.col("r"), F.lit(pat), F.lit(merged))
        ).localCheckpoint(eager=False)
        prev, cur = cur, nxt
    # release the training loop's cached word tables (ADVICE r9: they
    # leaked for the session lifetime): pin the compact O(|vocab|)
    # trained model (w, n_sym) instead, materialize it, then free both
    return _bpe_finish(words_of(df), cur, parent=prev), merges


def bpe_batch_train_encode(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_rounds: int = 8,
    batch: int = 8,
):
    """BPE trainer with BATCHED merge rounds — the production loop shape
    (VERDICT r9 ask #3): :func:`bpe_train_encode` runs one Spark job
    pipeline per merge, which a 32k-merge production vocabulary turns
    into a 32k-job sequential driver loop.  This variant applies up to
    ``batch`` merges per round — the standard distributed relaxation —
    so the heavy-job count is O(n_merges / batch).

    Per round, over the same word-frequency compaction:

    1. ONE pair-count job; collect the top ``4·batch`` candidates by
       ``(count DESC, pair ASC)`` — the round's CANDIDATE POOL (pairs
       beyond the pool defer to a later round; the cap is part of the
       contract so a SQL oracle can replay the selection exactly).
    2. Greedy non-conflicting selection on the driver: walk the pool in
       order, skipping any pair sharing a symbol with one already
       selected this round.  Disjoint-symbol merges COMMUTE — replacing
       ``·c··d·`` can neither create nor destroy an occurrence of
       ``·a··b·`` when {a,b} ∩ {c,d} = ∅, and the freshly merged symbol
       cannot appear in this round's counts — so one chained ``replace``
       applies them all, order-free, and batch ≡ sequential when
       ``batch=1`` (hypothesis-proven in tests/test_properties_r10.py).
    3. ONE merge + materialize job applying the whole batch.

    Returns ``(per_doc DataFrame (id, n_tokens, n_words), merges)``
    like the sequential trainer.  Scale: driver state is O(batch) pair
    strings per round; everything else is the sequential trainer's
    posture (vocab-sized fan-outs, O(|vocab|) pinned model)."""
    M = _BPE_M
    words = _bpe_words_of(df, text_col, id_col)
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    cur = vocab.withColumn(
        "r", F.regexp_replace(F.col("w"), "(.)", M + "$1" + M)
    ).persist()
    merges: list[str] = []
    prev = None
    for _ in range(n_rounds):
        # FUSED materialization (r10 perf, same as bpe_train_encode):
        # the round's ONE pair-count job caches the freshly-persisted
        # `cur` as a side effect; no dedicated count() pass per round
        pool = (
            cur.select(F.explode(_bpe_pair_expr()).alias("p"), "freq")
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .select(
                "p",
                "cnt",
                F.regexp_extract("p", f"^{M}([^{M}]+){M}", 1).alias("pa"),
                F.regexp_extract("p", f"{M}([^{M}]+){M}$", 1).alias("pb"),
            )
            .orderBy(F.desc("cnt"), F.asc("p"))
            .limit(4 * batch)
            .collect()
        )
        if prev is not None:
            _release_pin(prev)
            prev = None
        selected: list[str] = []
        used: set[str] = set()
        for row in pool:
            if len(selected) >= batch:
                break
            if row["pa"] in used or row["pb"] in used:
                continue
            selected.append(row["p"])
            used.update((row["pa"], row["pb"]))
        if not selected:
            break
        newr = F.col("r")
        for p in selected:
            newr = F.replace(newr, F.lit(p), F.lit(p.replace(M + M, "", 1)))
        nxt = cur.withColumn("r", newr).localCheckpoint(
            eager=False
        )  # lazy truncation (see bpe_train_encode)
        prev, cur = cur, nxt
        merges.extend(selected)
    return _bpe_finish(words, cur, parent=prev), merges


def bpe_oracle_sql(n_merges: int = 8, table: str = "documents") -> str:
    """DuckDB replay of ``bpe_train_encode``: the same word-frequency
    compaction, the same marker-wrapped representation, and ``n_merges``
    UNROLLED argmax+merge iterations as chained CTEs (the kmeans
    unrolled-trajectory gate pattern) — then the same vocab-join
    per-document encode.  Both engines break count ties on the
    lexicographically smaller pair under binary collation, so the
    learned merge sequence is engine-exact."""
    M = "·"
    sql = [
        f"""
    WITH dw AS MATERIALIZED (
      SELECT doc_id, replace(w, '{M}', '') AS w
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
            FROM {table})
      WHERE replace(w, '{M}', '') <> ''
    ),
    w0 AS MATERIALIZED (
      SELECT w, COUNT(*) AS freq,
             regexp_replace(w, '(.)', '{M}\\1{M}', 'g') AS r
      FROM dw GROUP BY w
    )"""
    ]
    for k in range(1, n_merges + 1):
        sql.append(
            f""",
    p{k} AS MATERIALIZED (
      WITH e AS (
        SELECT freq, s, unnest(range(1, len(s))) AS i
        FROM (SELECT freq,
                     list_filter(string_split(r, '{M}'),
                                 x -> x <> '') AS s
              FROM w{k - 1})
      )
      SELECT '{M}' || s[i] || '{M}{M}' || s[i + 1] || '{M}' AS p,
             SUM(freq) AS cnt
      FROM e GROUP BY 1
    ),
    b{k} AS MATERIALIZED (SELECT p FROM p{k}
                         ORDER BY cnt DESC, p ASC LIMIT 1),
    w{k} AS MATERIALIZED (
      SELECT w, freq,
             replace(r, (SELECT p FROM b{k}),
                     (SELECT regexp_replace(p, '{M}{M}', '') FROM b{k}))
               AS r
      FROM w{k - 1}
    )"""
        )
    sql.append(
        f"""
    SELECT dw.doc_id,
           CAST(SUM(len(list_filter(string_split(f.r, '{M}'),
                                    x -> x <> ''))) AS BIGINT)
               AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM dw JOIN w{n_merges} f USING (w)
    GROUP BY dw.doc_id"""
    )
    return "".join(sql)


def bpe_batch_oracle_sql(
    n_rounds: int = 8, batch: int = 8, table: str = "documents"
) -> str:
    """DuckDB replay of ``bpe_batch_train_encode``: the same
    word-frequency compaction, then ``n_rounds`` UNROLLED rounds, each
    with a MATERIALIZED pair-count CTE, a top-``4·batch`` candidate-pool
    CTE, ``batch`` chained greedy argmax selections (each excluding the
    symbols of all earlier selections this round — exactly the driver's
    ordered-walk greedy), and ONE nested-replace merge CTE.  Both
    engines break ties on ``(count DESC, pair ASC)`` under binary
    collation, so the selected batches are engine-exact."""
    M = _BPE_M
    K = 4 * batch
    sql = [
        f"""
    WITH dw AS MATERIALIZED (
      SELECT doc_id, replace(w, '{M}', '') AS w
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
            FROM {table})
      WHERE replace(w, '{M}', '') <> ''
    ),
    w0 AS MATERIALIZED (
      SELECT w, COUNT(*) AS freq,
             regexp_replace(w, '(.)', '{M}\\1{M}', 'g') AS r
      FROM dw GROUP BY w
    )"""
    ]
    for k in range(1, n_rounds + 1):
        sql.append(
            f""",
    p{k} AS MATERIALIZED (
      WITH e AS (
        SELECT freq, s, unnest(range(1, len(s))) AS i
        FROM (SELECT freq,
                     list_filter(string_split(r, '{M}'),
                                 x -> x <> '') AS s
              FROM w{k - 1})
      ),
      g AS (
        SELECT '{M}' || s[i] || '{M}{M}' || s[i + 1] || '{M}' AS p,
               SUM(freq) AS cnt
        FROM e GROUP BY 1
      )
      SELECT p, cnt,
             regexp_extract(p, '^{M}([^{M}]+){M}', 1) AS pa,
             regexp_extract(p, '{M}([^{M}]+){M}$', 1) AS pb
      FROM g
    ),
    c{k} AS MATERIALIZED (SELECT p, cnt, pa, pb FROM p{k}
                          ORDER BY cnt DESC, p ASC LIMIT {K})"""
        )
        for j in range(1, batch + 1):
            if j == 1:
                sql.append(
                    f""",
    s{k}_1 AS MATERIALIZED (SELECT p, pa, pb FROM c{k}
                            ORDER BY cnt DESC, p ASC LIMIT 1),
    u{k}_1 AS MATERIALIZED (SELECT pa AS y FROM s{k}_1
                            UNION ALL SELECT pb FROM s{k}_1)"""
                )
            else:
                sql.append(
                    f""",
    s{k}_{j} AS MATERIALIZED (
      SELECT p, pa, pb FROM c{k}
      WHERE pa NOT IN (SELECT y FROM u{k}_{j - 1})
        AND pb NOT IN (SELECT y FROM u{k}_{j - 1})
      ORDER BY cnt DESC, p ASC LIMIT 1),
    u{k}_{j} AS MATERIALIZED (SELECT y FROM u{k}_{j - 1}
                              UNION ALL SELECT pa FROM s{k}_{j}
                              UNION ALL SELECT pb FROM s{k}_{j})"""
                )
        repl = "r"
        for j in range(1, batch + 1):
            # empty-selection sentinel: '···' can NEVER occur in a
            # marker representation (it would need an empty symbol), so
            # the no-op replace is safe even for corpora containing
            # control bytes — chr(1) was not (review catch)
            repl = (
                f"replace({repl},\n"
                f"        coalesce((SELECT p FROM s{k}_{j}), '{M}{M}{M}'),\n"
                f"        coalesce((SELECT replace(p, '{M}{M}', '')"
                f" FROM s{k}_{j}), ''))"
            )
        sql.append(
            f""",
    w{k} AS MATERIALIZED (SELECT w, freq, {repl} AS r FROM w{k - 1})"""
        )
    sql.append(
        f"""
    SELECT dw.doc_id,
           CAST(SUM(len(list_filter(string_split(f.r, '{M}'),
                                    x -> x <> ''))) AS BIGINT)
               AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM dw JOIN w{n_rounds} f USING (w)
    GROUP BY dw.doc_id"""
    )
    return "".join(sql)


def _viterbi_segment(w, probs, max_piece):
    """Best unigram segmentation of ``w`` maximizing the PRODUCT of
    piece probabilities in double precision (no logs — IEEE *, / are
    correctly rounded and engine-identical, ln() is not), tie-broken on
    the LONGER piece at each position (score DESC, l DESC — the same
    total order the SQL oracle's ROW_NUMBER uses).  Returns the piece
    list.  All single chars are guaranteed in the vocab, so coverage
    never fails."""
    n = len(w)
    dp = [0.0] * (n + 1)
    dp[0] = 1.0
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        best = -1.0
        bl = 0
        for l in range(min(max_piece, j), 0, -1):
            p = probs.get(w[j - l : j])
            if p is None:
                continue
            sc = dp[j - l] * p
            if sc > best:
                best, bl = sc, l
        dp[j] = best
        back[j] = bl
    out = []
    j = n
    while j > 0:
        l = back[j]
        out.append(w[j - l : j])
        j -= l
    out.reverse()
    return out


#: gate-scale unigram-LM hyperparameters — named ONCE so the trainer,
#: the streaming twin, and the generated oracle can never drift apart
UNIGRAM_MAX_LEN = 16
UNIGRAM_MAX_PIECE = 4
UNIGRAM_VOCAB = 512


def unigram_lm_fit(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_rounds: int = 2,
    max_len: int = UNIGRAM_MAX_LEN,
    max_piece: int = UNIGRAM_MAX_PIECE,
    vocab_size: int = UNIGRAM_VOCAB,
):
    """Train a UNIGRAM-LM tokenizer (SentencePiece's model family, Kudo
    2018) by Viterbi hard-EM and encode every document — the third
    in-engine trained model after kmeans_fit / quality_classifier_fit /
    bpe_train_encode:

    1. Compact to the word-frequency table (the BPE front door,
       :func:`_bpe_words_of`); words longer than ``max_len`` chars fall
       back to char segmentation (documented contract) and are excluded
       from training.
    2. Seed vocabulary: the top-``vocab_size`` substrings (length <=
       ``max_piece``) by freq-weighted occurrence count, (count DESC,
       piece ASC) tie-broken, UNION all single chars (coverage).
       Initial probability = count / total.
    3. Per EM round: E-step Viterbi-segments every training word under
       the current probabilities (:func:`_viterbi_segment` — product
       scoring in plain doubles, so the DuckDB oracle's replay is
       bit-identical; ln() would not be); M-step recounts pieces from
       the chosen segmentations, drops multi-char pieces that went
       unused, floors single-char counts at 1, renormalizes.
    4. Encode: one final Viterbi pass; per-doc ``n_pieces`` sums the
       word segmentations (char-count for over-long words).

    Returns ``(per_doc DataFrame (id, n_pieces, n_words), probs dict)``.

    Scale: the model is O(vocab_size) driver/broadcast state (the
    kmeans-centroid pattern); each round is ONE distributed
    mapInArrow pass over the zipf-bounded word-vocab table plus an
    O(vocab) count collect; documents are touched once at the start
    (word compaction) and once at the end (encode join)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from ..plans.registry import Registry
    from .table import udtf

    words = _bpe_words_of(df, text_col, id_col)
    wf = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("n", F.length("w"))
        .persist()
    )
    wf.count()
    tr = wf.where(F.col("n") <= max_len)

    # seed: substring fan-out over the word table (vocab-sized, not
    # corpus-sized), counts weighted by word freq with multiplicity
    subs = (
        tr.select(
            "w",
            "freq",
            "n",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"),
        )
        .select(
            "w",
            "freq",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece), F.col("n") - F.col("i") + 1),
                )
            ).alias("l"),
            "i",
        )
        .select(F.expr("substring(w, i, l)").alias("piece"), "freq")
    )
    cnt0 = subs.groupBy("piece").agg(F.sum("freq").alias("cnt")).persist()
    top = cnt0.orderBy(F.desc("cnt"), F.asc("piece")).limit(
        vocab_size
    ).collect()
    chars = cnt0.where(F.length("piece") == 1).collect()
    cnt0.unpersist()
    vocab = {r["piece"]: int(r["cnt"]) for r in top}
    for r in chars:
        vocab[r["piece"]] = int(r["cnt"])
    total = sum(vocab.values())
    probs = {p: c / float(total) for p, c in vocab.items()}

    seg_schema = T.StructType(
        [
            T.StructField("piece", T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    for _ in range(n_rounds):
        cur = dict(probs)  # snapshot for the closure

        def estep(batches):
            for rb in batches:
                counts: dict[str, int] = {}
                ws, fqs = rb.column(0).to_pylist(), rb.column(1).to_pylist()
                for w, fq in zip(ws, fqs):
                    for piece in _viterbi_segment(w, cur, max_piece):
                        counts[piece] = counts.get(piece, 0) + fq
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(list(counts), pa.string()),
                        pa.array(list(counts.values()), pa.int64()),
                    ],
                    names=["piece", "cnt"],
                )

        rows = (
            tr.select("w", "freq")
            .mapInArrow(estep, seg_schema)
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        counted = {r["piece"]: int(r["cnt"]) for r in rows}
        new_vocab = {}
        for piece in vocab:
            c = counted.get(piece, 0)
            if len(piece) == 1:
                c = max(c, 1)  # coverage floor
            if c > 0:
                new_vocab[piece] = c
        vocab = new_vocab
        total = sum(vocab.values())
        probs = {p: c / float(total) for p, c in vocab.items()}

    # encode: one final Viterbi pass over the word table, then the
    # per-doc join (the bpe_train_encode epilogue shape)
    final_probs = dict(probs)

    @udtf(["string", "int"], "bigint", name="n_pieces", registry=Registry())
    def encode(w, n):
        if n > max_len:
            yield n  # char fallback
        else:
            yield len(_viterbi_segment(w, final_probs, max_piece))

    model = encode.apply(wf, cols=["w", "n"], passthrough=["w"]).persist()
    model.count()
    wf.unpersist()
    out = (
        words.join(model, "w")
        .groupBy("id")
        .agg(
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
        )
    )
    out.unigram_model_cache = model
    return out, probs


def unigram_oracle_sql(
    n_rounds: int = 2,
    max_len: int = UNIGRAM_MAX_LEN,
    max_piece: int = UNIGRAM_MAX_PIECE,
    vocab_size: int = UNIGRAM_VOCAB,
    table: str = "documents",
) -> str:
    """DuckDB replay of :func:`unigram_lm_fit`: the same word
    compaction, substring seeding, and per-round Viterbi-EM as UNROLLED
    MATERIALIZED CTEs — the DP over word positions is ``max_len``
    chained CTEs per round (dp[j] = argmax over piece lengths of
    dp[j-l]·p(piece), ROW_NUMBER tie-broken (score DESC, l DESC) exactly
    like the operator), the backtrack is another ``max_len`` chained
    step CTEs, and the M-step recount is integer-exact.  All scores are
    plain double products of exact integer ratios, so both engines
    compute bit-identical probabilities — no ln()/exp() anywhere (the
    design constraint that makes a strict-hash oracle possible)."""
    M = _BPE_M
    L = max_piece
    sql = [
        f"""
    WITH dw AS MATERIALIZED (
      SELECT doc_id, replace(w, '{M}', '') AS w
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
            FROM {table})
      WHERE replace(w, '{M}', '') <> ''
    ),
    wf AS MATERIALIZED (
      SELECT w, COUNT(*) AS freq, len(w) AS n FROM dw GROUP BY w
    ),
    tr AS MATERIALIZED (SELECT * FROM wf WHERE n <= {max_len}),
    sub AS MATERIALIZED (
      SELECT substr(w, i, l) AS piece, SUM(freq) AS cnt
      FROM (SELECT w, freq, i,
                   unnest(range(1, least({L}, n - i + 1) + 1)) AS l
            FROM (SELECT w, freq, n, unnest(range(1, n + 1)) AS i
                  FROM tr))
      GROUP BY 1
    ),
    v0 AS MATERIALIZED (
      SELECT piece, MAX(cnt) AS cnt FROM (
        (SELECT piece, cnt FROM sub
         ORDER BY cnt DESC, piece ASC LIMIT {vocab_size})
        UNION ALL
        (SELECT piece, cnt FROM sub WHERE len(piece) = 1)
      ) GROUP BY piece
    ),
    p0 AS MATERIALIZED (
      SELECT piece,
             CAST(cnt AS DOUBLE)
               / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v0) AS p
      FROM v0
    )"""
    ]

    def dp_round(r: int, prev_p: str) -> None:
        # Viterbi DP chain d{r}_1..d{r}_max_len against piece table prev_p
        for j in range(1, max_len + 1):
            cands = []
            for l in range(1, min(L, j) + 1):
                if j - l == 0:
                    cands.append(
                        f"""
        SELECT t.w, t.n, pp.p AS sc, {l} AS l
        FROM tr t JOIN {prev_p} pp
          ON pp.piece = substr(t.w, 1, {l})
        WHERE t.n >= {j}"""
                    )
                else:
                    cands.append(
                        f"""
        SELECT d.w, d.n, d.sc * pp.p AS sc, {l} AS l
        FROM d{r}_{j - l} d JOIN {prev_p} pp
          ON pp.piece = substr(d.w, {j - l + 1}, {l})
        WHERE d.n >= {j}"""
                    )
            union = "\n        UNION ALL".join(cands)
            sql.append(
                f""",
    d{r}_{j} AS MATERIALIZED (
      SELECT w, n, sc, l FROM (
        SELECT w, n, sc, l,
               ROW_NUMBER() OVER (PARTITION BY w
                                  ORDER BY sc DESC, l DESC) AS rn
        FROM ({union})
      ) WHERE rn = 1
    )"""
            )
        dall = "\n      UNION ALL ".join(
            f"SELECT {j} AS pos, w, l FROM d{r}_{j}"
            for j in range(1, max_len + 1)
        )
        sql.append(f""",
    dall{r} AS MATERIALIZED ({dall})""")
        sql.append(
            f""",
    st{r}_1 AS MATERIALIZED (
      SELECT d.w, d.pos, d.l FROM dall{r} d
      JOIN tr t ON t.w = d.w AND d.pos = t.n
    )"""
        )
        for t in range(2, max_len + 1):
            sql.append(
                f""",
    st{r}_{t} AS MATERIALIZED (
      SELECT d.w, d.pos, d.l
      FROM st{r}_{t - 1} s JOIN dall{r} d
        ON d.w = s.w AND d.pos = s.pos - s.l
      WHERE s.pos - s.l > 0
    )"""
            )

    for r in range(1, n_rounds + 1):
        dp_round(r, f"p{r - 1}")
        steps = "\n        UNION ALL ".join(
            f"SELECT * FROM st{r}_{t}" for t in range(1, max_len + 1)
        )
        sql.append(
            f""",
    pieces{r} AS MATERIALIZED (
      SELECT w, substr(w, pos - l + 1, l) AS piece
      FROM ({steps})
    ),
    c{r} AS MATERIALIZED (
      SELECT piece, SUM(freq) AS cnt
      FROM pieces{r} JOIN tr USING (w) GROUP BY piece
    ),
    v{r} AS MATERIALIZED (
      SELECT v.piece,
             CASE WHEN len(v.piece) = 1
                  THEN greatest(COALESCE(c.cnt, 0), 1)
                  ELSE COALESCE(c.cnt, 0) END AS cnt
      FROM v{r - 1} v LEFT JOIN c{r} c USING (piece)
      WHERE COALESCE(c.cnt, 0) > 0 OR len(v.piece) = 1
    ),
    p{r} AS MATERIALIZED (
      SELECT piece,
             CAST(cnt AS DOUBLE)
               / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v{r}) AS p
      FROM v{r}
    )"""
        )

    enc = n_rounds + 1
    dp_round(enc, f"p{n_rounds}")
    steps = "\n        UNION ALL ".join(
        f"SELECT * FROM st{enc}_{t}" for t in range(1, max_len + 1)
    )
    sql.append(
        f""",
    np AS MATERIALIZED (
      SELECT w, COUNT(*) AS np FROM ({steps}) GROUP BY w
    )
    SELECT dw.doc_id,
           CAST(SUM(CASE WHEN len(dw.w) > {max_len} THEN len(dw.w)
                         ELSE np.np END) AS BIGINT) AS n_pieces,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM dw LEFT JOIN np ON np.w = dw.w
    GROUP BY dw.doc_id"""
    )
    return "".join(sql)


#: PII patterns shared by the operator and its oracle — restricted to the
#: regex subset Java (Spark) and RE2 (DuckDB) treat identically: character
#: classes, bounded/greedy quantifiers, alternation; no lookaround, no
#: backreferences (RE2 has neither).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+[0-9]{8,13}",
}

#: scrub order matters (a URL may contain an @); pinned here
PII_ORDER = ["url", "email", "phone"]


def pii_scrub(df, text_col: str = "text", id_col: str = "doc_id"):
    """PII scrubbing — the redaction pass every public training corpus
    runs before release: count and redact emails, URLs, and
    international-format phone numbers with pure JVM regex (no Python
    in the hot path; `regexp_count` + chained `regexp_replace`).
    Returns ``(id, n_emails, n_urls, n_phones, scrub_md5)`` where
    ``scrub_md5`` fingerprints the redacted text, so the gate pins the
    exact replacement output, not just the counts.

    Each kind is counted on the text AFTER the earlier kinds in
    ``PII_ORDER`` were redacted, so the counts equal the redactions the
    scrub actually performed — an email inside a URL is one URL, not a
    URL plus a phantom email (review catch).

    Scale: embarrassingly parallel scan — one projection, no shuffle,
    whole-stage codegen end to end."""
    stage = {}
    scrubbed = F.col(text_col)
    for kind in PII_ORDER:
        stage[kind] = F.regexp_count(
            scrubbed, F.lit(PII_PATTERNS[kind])
        ).cast("bigint")
        scrubbed = F.regexp_replace(
            scrubbed, PII_PATTERNS[kind], f"<{kind.upper()}>"
        )
    return df.select(
        F.col(id_col).alias("id"),
        stage["email"].alias("n_emails"),
        stage["url"].alias("n_urls"),
        stage["phone"].alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrub_md5"),
    )
