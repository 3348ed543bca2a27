"""Query/search surface (SURVEY.md §2.8 A1–A6).

The reference exposes Elasticsearch queries: `_count` (A1/A3),
aggregation passthrough (A2), `match{content}` top-k (A5,
internal/api/api.go:114-122), and `multi_match` over
`title^2, body, description` (A6, internal/crawler/storage.go:100-110).
Here the same surface is DataFrame-native over any text table:

- counts/aggs are plain filter/groupBy (Catalyst handles pushdown);
- `match` relevance is term-frequency scoring, `multi_match` a
  boost-weighted sum per field;
- `bm25_topk` is the full BM25 ranking ES actually runs under
  `match`, built from explode/groupBy/join — no UDFs, the whole
  scorer is codegen'd, and doc stats (dl, tf) are map-side.

Scoring determinism: scores round to 6 dp and ordering ties break on
the id column, so results are stable across engines and parallelism.

Scale: term stats shuffle on the term (high cardinality, balanced);
the query-term set is tiny and broadcast. At 100 TB the df/idf table
is a precomputed index table rather than a per-query subquery — same
plan shape, one join instead of a recompute.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenize + term frequency — the ES `standard` analyzer approximation
# ---------------------------------------------------------------------------

# ES `match` runs the standard analyzer (UAX#29 word segmentation +
# lowercase — the articles index mapping,
# reference internal/storage/elasticsearch/mappings/article.go:48-84).
# Approximation used on BOTH the index and query side: lowercase, then
# tokens are letter/digit runs with apostrophes kept between runs —
# "Wi-Fi" → [wi, fi], "O'Brien's" → [o'brien's] — matching UAX#29 on
# hyphenated/apostrophized text. Known divergence (documented, fixed
# identically in Spark, DuckDB and Python, so oracles stay exact):
# UAX#29 ExtendNumLet joins underscores ("a_b" one token, here two)
# and combining marks are dropped rather than attached.
ANALYZER_RE = r"[\p{L}\p{N}]+(?:['’][\p{L}\p{N}]+)*"
_PY_ANALYZER_RE = r"[^\W_]+(?:['’][^\W_]+)*"


def analyze_query(query: str) -> list[str]:
    """Query-side analysis (Python twin of :func:`tokens`)."""
    import re as _re

    return _re.findall(_PY_ANALYZER_RE, query.lower(), _re.UNICODE)


def tokens(col: Column | str) -> Column:
    """Standard-analyzer token array for a text column (JVM regex)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(ANALYZER_RE), 0)


def _terms(query: str) -> list[str]:
    return analyze_query(query)


def _eq(term_lit: Column):
    return lambda x: x == term_lit


# pinned-query score base: pinned doc #i scores _PIN_BASE − i, far above
# any organic TF-derived score at any corpus size the compositor serves
_PIN_BASE = 1_000_000


def tf(col: Column | str, term: str) -> Column:
    """Occurrences of analyzer-token `term` in the analyzed column."""
    return F.size(F.filter(tokens(col), _eq(F.lit(term))))


# ---------------------------------------------------------------------------
# A1/A3: counts
# ---------------------------------------------------------------------------


def count_where(df: DataFrame, pred: Column | None = None) -> int:
    return (df.filter(pred) if pred is not None else df).count()


# ---------------------------------------------------------------------------
# A5: match top-k (TF scoring)
# ---------------------------------------------------------------------------


def match_scores(
    df: DataFrame, query: str, text_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, score) for every document: score = Σ_term analyzer-token
    TF. The column is tokenized ONCE (materialized through a select) —
    Catalyst does not CSE the regexp into each per-term lambda, so the
    naive per-term `tf()` would re-tokenize T times."""
    terms = _terms(query)
    toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
    score = F.lit(0)
    for t in terms:
        # NB: single-arg lambda built by a factory — a default-arg
        # binding (lambda x, _t=...) changes the visible arity and
        # pyspark would feed the element INDEX as the second argument
        score = score + F.size(F.filter("_toks", _eq(F.lit(t))))
    return toked.select("id", score.cast("double").alias("score"))


def match_topk(
    df: DataFrame,
    query: str,
    text_col: str = "content",
    id_col: str = "id",
    k: int = 10,
    operator: str = "or",
) -> DataFrame:
    """ES `match` analogue: sum of per-term analyzer TFs, top-k.
    Output: (id, score) ordered by (score DESC, id ASC).
    ``operator="and"`` requires EVERY analyzed term to occur (the ES
    match operator parameter); scoring is unchanged."""
    scored = match_scores(df, query, text_col=text_col, id_col=id_col)
    if operator == "and":
        # min over per-term TFs > 0 ⇔ all terms present; recomputed on
        # the same single tokenization via a second materialized pass
        terms = _terms(query)
        toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
        present = F.lit(True)
        for t in terms:
            present = present & (F.size(F.filter("_toks", _eq(F.lit(t)))) > 0)
        scored = scored.join(toked.filter(present).select("id"), "id")
    return (
        scored.filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def suggest_topk(
    df: DataFrame, prefix: str, field: str = "content", k: int = 10
) -> DataFrame:
    """ES completion-suggester twin: distinct analyzer terms starting
    with `prefix`, ranked by document frequency (desc, term asc
    tie-break), top-k — (term, doc_freq).

    Scale shape: per-doc ``array_distinct`` bounds the explode at the
    doc's distinct-term count; the prefix filter runs BEFORE the
    vocabulary aggregation, so only matching terms shuffle (one
    partial-aggregated groupBy over a tiny slice). At 100 TB the
    (term, doc_freq) vocabulary is the same precomputed index table
    fuzzy search scans (:func:`fuzzy_expansions`) and suggest becomes
    an index-only prefix scan."""
    terms = df.select(
        F.explode(F.array_distinct(tokens(field))).alias("term")
    ).filter(F.col("term").startswith(prefix))
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("term"))
        .limit(k)
    )


def fuzzy_expansions(
    df: DataFrame,
    term: str,
    text_col: str = "content",
    fuzziness: int = 1,
    prefix_length: int = 1,
    max_expansions: int = 50,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Corpus terms within Levenshtein distance `fuzziness` of `term`
    — the expansion set ES's `fuzzy`/`match{fuzziness}` query builds
    from its term dictionary. Returns (qterm, term, distance), at most
    `max_expansions` rows ordered (distance ASC, term ASC) — ES caps
    expansions the same way; the deterministic tie-break replaces its
    index-order cap. `prefix_length` is ES's fuzzy prefix_length: the
    first N characters must match exactly, which prunes the vocab scan
    before any distance is computed. Plain Levenshtein, not ES's
    Damerau variant — a transposition counts 2, documented divergence
    fixed identically in Spark and DuckDB.

    Scale shape: distances are computed on the DISTINCT vocabulary
    (one partial-agged shuffle, vocab ≪ corpus), prefiltered by prefix
    and ±fuzziness length bounds; the result is ≤ max_expansions rows.
    At 100 TB the vocab is a precomputed index table — same plan, no
    recompute; multi-term callers pass one shared (persisted)
    ``vocab`` (term) table so N fuzzy terms cost ONE vocab scan.
    """
    t = term.lower()
    # ES clamps prefix_length at the query-term length: a prefix longer
    # than the term itself would otherwise compare a longer vocab
    # term's N-char substring against the shorter t[:N] literal and
    # exclude every candidate longer than the term.
    plen = min(prefix_length, len(t))
    if vocab is None:
        vocab = df.select(
            F.explode(tokens(text_col)).alias("term")
        ).distinct()
    cand = vocab.filter(
        (F.abs(F.length("term") - F.lit(len(t))) <= fuzziness)
        & (F.substring("term", 1, plen) == F.lit(t[:plen]))
    )
    return (
        cand.withColumn("distance", F.levenshtein(F.col("term"), F.lit(t)))
        .filter(F.col("distance") <= fuzziness)
        .select(F.lit(t).alias("qterm"), "term", "distance")
        .orderBy(F.asc("distance"), F.asc("term"))
        .limit(max_expansions)
    )


def fuzzy_topk(
    df: DataFrame,
    query: str,
    text_col: str = "content",
    id_col: str = "id",
    k: int = 10,
    fuzziness: int = 1,
    prefix_length: int = 1,
    max_expansions: int = 50,
) -> DataFrame:
    """ES `match` with `fuzziness` (typo-tolerant search): every
    analyzed query term expands to its near-spellings in the corpus
    vocabulary (see :func:`fuzzy_expansions`), and a document scores
    the total occurrences of any expansion of any query term —
    match_scores' TF convention, summed per query term exactly as ES
    sums per-clause scores. Output (id, score) ordered
    (score DESC, id ASC), top-k.

    Scale shape: expansions ≤ terms·max_expansions rows → broadcast
    onto the exploded postings; one id-keyed count shuffle with
    map-side partial aggregation. The corpus is never scanned per
    expansion term.
    """
    qterms = _terms(query)
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .distinct()
        .persist()
        if len(qterms) > 1
        else None
    )
    # expansions are ≤ max_expansions driver-side rows per term BY
    # DESIGN — collect them eagerly (one shared vocab scan across
    # terms, unpersisted right after), keeping duplicates: a term
    # reached from two query terms counts its postings twice, exactly
    # like ES's per-clause sum (and the UNION ALL oracle)
    exp_rows = [
        (r["term"],)
        for t in qterms
        for r in fuzzy_expansions(
            df, t, text_col=text_col, fuzziness=fuzziness,
            prefix_length=prefix_length, max_expansions=max_expansions,
            vocab=vocab,
        ).collect()
    ]
    if vocab is not None:
        vocab.unpersist()
    if not exp_rows:
        return df.select(F.col(id_col).alias("id")).limit(0).withColumn(
            "score", F.lit(0.0)
        )
    exp = df.sparkSession.createDataFrame(exp_rows, "term string")
    postings = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    return (
        postings.join(F.broadcast(exp), "term")
        .groupBy("id")
        .agg(F.count("*").cast("double").alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def highlight_topk(
    df: DataFrame,
    query: str,
    text_col: str = "content",
    id_col: str = "id",
    k: int = 10,
    frag_size: int = 80,
    pre: str = "<em>",
    post: str = "</em>",
) -> DataFrame:
    """ES `highlight` analogue (number_of_fragments=1): top-k docs by
    the match TF score, each with ONE snippet — a `frag_size`-char
    window of the ORIGINAL text around the earliest occurrence of any
    analyzed query term, the matched span wrapped in `pre`/`post`.
    Earliest-position wins; position ties break to query-term order.
    Documented simplification of ES's fragment scorer: first match,
    fixed window, no sentence snapping. Output
    (id, score, snippet) ordered (score DESC, id ASC).

    Scale shape: one projection over the scan — the position fold,
    substring splice and TF score are all codegen'd scalars computed
    alongside the single tokenization; top-k is TakeOrdered. No
    shuffle beyond the limit's partial-merge, no UDF.
    """
    terms = _terms(query)
    if not terms:
        return (
            df.select(F.col(id_col).alias("id")).limit(0)
            .withColumn("score", F.lit(0.0))
            .withColumn("snippet", F.lit(""))
        )
    toked = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_txt"),
        tokens(text_col).alias("_toks"),
    )
    score = F.lit(0)
    for t in terms:
        score = score + F.size(F.filter("_toks", _eq(F.lit(t))))
    low = F.lower(F.col("_txt"))
    best_pos, best_len = F.lit(0), F.lit(0)
    for t in terms:
        p = F.locate(t, low)
        take = (p > 0) & ((best_pos == F.lit(0)) | (p < best_pos))
        best_len = F.when(take, F.lit(len(t))).otherwise(best_len)
        best_pos = F.when(take, p).otherwise(best_pos)
    start = F.greatest(F.lit(1), best_pos - F.lit(30))
    lead = F.col("_txt").substr(start, best_pos - start)
    mid = F.col("_txt").substr(best_pos, best_len)
    tail_len = F.greatest(
        F.lit(0), start + F.lit(frag_size) - (best_pos + best_len)
    )
    tail = F.col("_txt").substr(best_pos + best_len, tail_len)
    snippet = F.concat(lead, F.lit(pre), mid, F.lit(post), tail)
    return (
        toked.select(
            "id",
            score.cast("double").alias("score"),
            snippet.alias("snippet"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# A6: multi-match with field boosts
# ---------------------------------------------------------------------------


def multi_match_topk(
    df: DataFrame,
    query: str,
    fields: dict[str, float],
    id_col: str = "id",
    k: int = 10,
) -> DataFrame:
    """ES `multi_match` analogue with per-field boost weights
    (reference boosts: title^2, body, description). Score =
    Σ_field boost · Σ_term tf(field, term). Each field tokenized once
    (materialized columns, same CSE rationale as match_scores)."""
    terms = _terms(query)
    names = list(fields)
    toked = df.select(
        F.col(id_col).alias("id"),
        *[tokens(f).alias(f"_toks_{i}") for i, f in enumerate(names)],
    )
    score = F.lit(0.0)
    for i, name in enumerate(names):
        fscore = F.lit(0)
        for t in terms:
            fscore = fscore + F.size(F.filter(f"_toks_{i}", _eq(F.lit(t))))
        score = score + F.lit(float(fields[name])) * fscore.cast("double")
    return (
        toked.select("id", score.alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def match_phrase_topk(
    df: DataFrame,
    query: str,
    text_col: str = "content",
    id_col: str = "id",
    k: int = 10,
) -> DataFrame:
    """ES `match_phrase` analogue: the analyzed query terms must occur
    CONSECUTIVELY; score = exact-phrase occurrence count (documented
    simplification of ES's position-aware scoring), top-k by
    (score DESC, id ASC). Pure codegen'd array expressions — a
    slice-equality scan over each doc's token array, no positions
    index, no UDF; tokenized once like match_scores."""
    terms = _terms(query)
    if not terms:
        return df.select(F.col(id_col).alias("id")).limit(0).withColumn(
            "score", F.lit(0.0)
        )
    toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
    cnt = _phrase_count(F.col("_toks"), terms)
    return (
        toked.select("id", cnt.cast("double").alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Full BM25 (what ES runs under `match`)
# ---------------------------------------------------------------------------


def bm25_topk(
    df: DataFrame,
    query: str,
    text_col: str = "content",
    id_col: str = "id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 over standard-analyzer tokens, entirely in built-in
    expressions:

        idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))   (Lucene form)
        score_d = Σ_t idf·tf/(tf + k1·(1 - b + b·dl/avgdl))

    Output (id, score) ordered by (round(score,6) DESC, id ASC),
    limit k. Plan: one pass for (dl, tf per query term) — map-side;
    one tiny aggregate for N/avgdl/df broadcast back as literals would
    require an action, so they join as 1-row/na-row frames (broadcast).
    """
    terms = _terms(query)
    if not terms:
        return df.sparkSession.createDataFrame([], "id long, score double")

    def _tf_of(term: str) -> Column:
        return F.size(F.filter("toks", lambda x: x == F.lit(term)))

    docs = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks")).select(
        "id",
        F.size("toks").alias("dl"),
        *[_tf_of(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}") for i in range(len(terms))],
    )
    scored = docs.join(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf_c = F.col(f"tf_{i}").cast("double")
        denom = tf_c + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        score = score + F.when(F.col(f"df_{i}") > 0, idf * tf_c / denom).otherwise(F.lit(0.0))
    return (
        scored.select("id", F.round(score, 6).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def mlt_topk(
    df: DataFrame,
    like_id,
    text_col: str = "content",
    id_col: str = "id",
    k: int = 10,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
    min_should_match_pct: int = 30,
    _terms_only: bool = False,
) -> DataFrame:
    """ES ``more_like_this``: find documents similar to one document.

    1. Representative-term selection from the `like` doc: terms with
       tf ≥ min_term_freq and corpus df ≥ min_doc_freq, ranked by
       round(idf·tf, 9) with Lucene idf = ln(1+(N−df+0.5)/(df+0.5)),
       (score DESC, term ASC) deterministic order, capped at
       max_query_terms — exactly ES's interestingTerms pipeline with
       a pinned tie-break.
    2. Scoring: Σ idf·tf over the selected terms per candidate doc,
       folded in SORTED term order (collect_list→array_sort→aggregate)
       so the float sum is bit-equal at any partitioning; a doc must
       contain ≥ ceil(min_should_match_pct% of the selected terms)
       distinct selected terms (integer ceil — (n·pct+99) DIV 100);
       the like doc itself is excluded.

    Scale shape: one (id, term) postings shuffle; term stats are
    vocabulary-sized; the selected-term set (≤ max_query_terms rows)
    broadcasts. Output (id, score) by (round(score,6) DESC, id ASC),
    limit k."""
    postings = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    n = df.select(F.count("*").alias("n_docs"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    sel = (
        postings.filter(
            (F.col("id") == F.lit(like_id)) & (F.col("tf") >= min_term_freq)
        )
        .join(dfreq, "term")
        .filter(F.col("df") >= min_doc_freq)
        .crossJoin(F.broadcast(n))
        .select("term", idf.alias("idf"), F.round(idf * F.col("tf"), 9).alias("_sel"))
        .orderBy(F.desc("_sel"), F.asc("term"))
        .limit(max_query_terms)
    )
    if _terms_only:
        # the interestingTerms view (the DSL leaf consumes just the
        # selected terms, in selection order)
        return sel.select("term")
    nsel = sel.agg(F.count("*").alias("n_sel"))
    contrib = (
        postings.filter(F.col("id") != F.lit(like_id))
        .join(F.broadcast(sel.select("term", "idf")), "term")
        .select("id", "term", (F.col("idf") * F.col("tf")).alias("c"))
    )
    folded = contrib.groupBy("id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("score"),
        F.count("*").alias("n_matched"),
    )
    required = F.expr("(n_sel * {p} + 99) DIV 100".format(p=int(min_should_match_pct)))
    return (
        folded.crossJoin(F.broadcast(nsel))
        .filter(F.col("n_matched") >= required)
        .select("id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# ES `bool` query compositor (must / should / must_not / filter)
# ---------------------------------------------------------------------------


def _collect_match_fields(clauses, fields: list[str]) -> None:
    """Every field referenced by a match/match_phrase leaf, depth-first
    through nested bools — each gets ONE materialized token column."""
    for c in clauses:
        ((kind, body),) = c.items()
        if kind == "bool":
            for ctx in ("must", "should", "must_not", "filter"):
                _collect_match_fields(body.get(ctx, ()), fields)
        elif kind in (
            "match", "match_phrase", "match_phrase_prefix", "token_wildcard"
        ):
            ((field, _qs),) = body.items()
            if field not in fields:
                fields.append(field)
        elif kind == "query_string":
            _collect_match_fields([parse_query_string(body)], fields)
        elif kind == "dis_max":
            _collect_match_fields(body.get("queries", ()), fields)
        elif kind == "constant_score":
            _collect_match_fields([body["filter"]], fields)
        elif kind == "boosting":
            _collect_match_fields([body["positive"], body["negative"]], fields)
        elif kind == "function_score":
            subs = [body.get("query", {"match_all": {}})]
            for fn in body.get("functions", ()):
                if "filter" in fn:
                    subs.append(fn["filter"])
            _collect_match_fields(subs, fields)
        elif kind == "pinned":
            _collect_match_fields([body["organic"]], fields)
        elif kind == "terms_set":
            ((field, _spec),) = body.items()
            if field not in fields:
                fields.append(field)
        elif kind == "intervals":
            ((field, _spec),) = body.items()
            if field not in fields:
                fields.append(field)
        elif kind == "combined_fields":
            for f in body.get("fields", ()):
                base = f.split("^", 1)[0]
                if base not in fields:
                    fields.append(base)
        elif kind == "span_near":
            for sub in body.get("clauses", ()):
                ((_k2, b2),) = sub.items()
                ((field, _t),) = b2.items()
                if field not in fields:
                    fields.append(field)


def _phrase_count(toks, terms: list[str]):
    """Occurrence count of the exact analyzed phrase in a token array:
    a slice-equality scan over every window. Explicit +1 step because
    Spark's sequence() defaults to step -1 when stop < start, so the
    short-doc case must be guarded anyway. Shared by match_phrase_topk
    and the bool compositor's match_phrase leaf."""
    n = len(terms)
    phrase = F.array(*[F.lit(t) for t in terms])
    sz = F.size(toks)
    return F.when(
        sz >= n,
        F.size(
            F.filter(
                F.sequence(F.lit(1), sz - n + 1, F.lit(1)),
                lambda i: F.slice(toks, i, n) == phrase,
            )
        ),
    ).otherwise(F.lit(0))


def _phrase_prefix_count(toks, terms: list[str]):
    """``match_phrase_prefix``: consecutive analyzed terms where the
    LAST position only needs to START WITH the final term (ES's
    type-ahead phrase query). Same windowed slice scan as
    :func:`_phrase_count` with a startswith on the closing position."""
    n = len(terms)
    head = F.array(*[F.lit(t) for t in terms[:-1]]).cast("array<string>")
    last = F.lit(terms[-1])
    sz = F.size(toks)

    def hit(i):
        closing = F.startswith(F.element_at(toks, i + n - 1), last)
        if n == 1:
            return closing
        return (F.slice(toks, i, n - 1) == head) & closing

    return F.when(
        sz >= n,
        F.size(F.filter(F.sequence(F.lit(1), sz - n + 1, F.lit(1)), hit)),
    ).otherwise(F.lit(0))


def _wildcard_regex(pattern: str) -> str:
    """ES wildcard pattern → anchored Java regex (`*` any sequence,
    `?` any single char, everything else literal)."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def _subseq_window_count(toks, terms: list[str], slop: int):
    """Anchored ordered-subsequence window count for `span_near`
    (in_order=true): the number of positions i with toks[i] ==
    terms[0] such that the window toks[i .. i+n+slop-1] contains
    `terms` as an in-order subsequence. Lucene's slop counts the
    intervening positions, i_n − i_1 − (n−1) ≤ slop, which is exactly
    a window of length n + slop anchored at the first term.

    The subsequence check is a greedy left-to-right fold over the
    window (aggregate carrying "how many terms matched so far") —
    greedy earliest-next matching is exact for subsequence
    containment, so no backtracking is needed. Everything stays a
    per-row column expression: no join, no shuffle, whole-stage
    codegen-able, same plan shape as _phrase_count (which is the
    slop=0 special case)."""
    n = len(terms)
    win = n + slop
    ta = F.array(*[F.lit(t) for t in terms])
    sz = F.size(toks)
    first = F.lit(terms[0])

    def _ok(i):
        return (F.element_at(toks, i) == first) & (
            F.aggregate(
                F.slice(toks, i, win),
                F.lit(0),
                lambda acc, x: F.when(
                    (acc < n) & (x == F.element_at(ta, acc + 1)), acc + 1
                ).otherwise(acc),
            )
            == n
        )

    return F.when(
        sz >= n,
        F.size(F.filter(F.sequence(F.lit(1), sz - n + 1, F.lit(1)), _ok)),
    ).otherwise(F.lit(0))


# --- query_string mini-parser ----------------------------------------------
# The Lucene query_string subset the reference's pass-through surface
# sees in practice (storage.go:212-257 forwards arbitrary query maps;
# ES parses the string server-side): terms, "quoted phrases",
# field:term scoping, * / ? wildcards, AND / OR / NOT (&& / ||),
# parentheses. Parsed into the SAME clause dicts the bool compiler
# already executes, so query_string composes with every other leaf.

_QS_ATOM = None  # compiled lazily (module import stays regex-free)


def _qs_tokenize(q: str) -> list[tuple[str, str | None, str | None]]:
    """(kind, field, value) tokens; kind ∈ ( ( , ) , AND, OR, NOT,
    phrase, word )."""
    import re as _re

    global _QS_ATOM
    if _QS_ATOM is None:
        _QS_ATOM = _re.compile(
            r'\(|\)|(?:([\w.]+):)?"([^"]*)"|([^\s()]+)'
        )
    out: list[tuple[str, str | None, str | None]] = []
    for m in _QS_ATOM.finditer(q):
        tok = m.group(0)
        if tok in ("(", ")"):
            out.append((tok, None, None))
        elif m.group(2) is not None:
            out.append(("phrase", m.group(1), m.group(2)))
        elif tok in ("AND", "&&"):
            out.append(("AND", None, None))
        elif tok in ("OR", "||"):
            out.append(("OR", None, None))
        elif tok in ("NOT", "!"):
            out.append(("NOT", None, None))
        else:
            word = m.group(3)
            field = None
            if ":" in word:
                field, _, rest = word.partition(":")
                word = rest
            out.append(("word", field, word))
    return out


def _qs_atom_clause(field: str | None, value: str, default_field: str,
                    is_phrase: bool) -> dict:
    import re as _re

    f = field or default_field
    if is_phrase:
        return {"match_phrase": {f: value}}
    m = _re.fullmatch(r"(.+?)~(\d?)", value)
    if m:  # Lucene fuzzy suffix: term~ (distance 1) or term~N
        return {"fuzzy": {f: {
            "value": m.group(1),
            "fuzziness": int(m.group(2) or 1),
        }}}
    if "*" in value or "?" in value:
        return {"token_wildcard": {f: value}}
    return {"match": {f: value}}


def _qs_parse(toks, pos: int, default_field: str, default_op: str,
              depth: int) -> tuple[dict, int]:
    """Recursive descent over one paren level. Operands link by an
    explicit AND/OR or by ``default_op``; consecutive AND-linked
    operands form one conjunction group, groups combine as should
    (OR). NOT negates the next operand within its group."""
    items: list[tuple[str, bool, dict]] = []  # (link, negated, clause)
    link: str | None = None
    negate = False
    while pos < len(toks):
        kind, field, value = toks[pos]
        if kind == ")":
            if depth == 0:
                raise ValueError("unbalanced ')' in query_string")
            pos += 1
            break
        if kind in ("AND", "OR"):
            link = kind
            pos += 1
            continue
        if kind == "NOT":
            negate = not negate
            pos += 1
            continue
        if kind == "(":
            clause, pos = _qs_parse(
                toks, pos + 1, default_field, default_op, depth + 1
            )
        else:
            clause = _qs_atom_clause(
                field, value, default_field, kind == "phrase"
            )
            pos += 1
        items.append((link or default_op, negate, clause))
        link, negate = None, False
    if not items:
        return {"match_all": {}}, pos
    # fold: OR starts a new conjunction group
    groups: list[dict] = []
    for i, (lnk, neg, clause) in enumerate(items):
        if i == 0 or lnk == "OR":
            groups.append({"must": [], "must_not": []})
        groups[-1]["must_not" if neg else "must"].append(clause)
    bools = []
    for g in groups:
        if len(g["must"]) == 1 and not g["must_not"]:
            bools.append(g["must"][0])
        else:
            bools.append({"bool": {k: v for k, v in g.items() if v}})
    if len(bools) == 1:
        return bools[0], pos
    return {"bool": {"should": bools}}, pos


def parse_query_string(body) -> dict:
    """{"query_string": body} → an equivalent clause dict of existing
    leaves. ``body`` is {"query": ..., "default_field": ...,
    "default_operator": "OR"|"AND"} or a bare string (then the caller
    must scope fields explicitly with field: prefixes)."""
    if isinstance(body, str):
        body = {"query": body}
    default_field = body.get("default_field", "content")
    default_op = str(body.get("default_operator", "OR")).upper()
    if default_op not in ("AND", "OR"):
        raise ValueError(f"bad default_operator: {default_op}")
    toks = _qs_tokenize(body["query"])
    clause, pos = _qs_parse(toks, 0, default_field, default_op, 0)
    if pos != len(toks):
        raise ValueError("unbalanced '(' in query_string")
    return clause


def _expand_fuzzy_clauses(
    clause: dict, df: DataFrame, _vocabs: dict | None = None
) -> dict:
    """Pre-compile pass replacing every `fuzzy` leaf (and any fuzzy
    `term~N` inside a query_string) with a should-of-matches over its
    corpus-vocabulary expansions (:func:`fuzzy_expansions`) — the leaf
    needs the DataFrame to derive the term dictionary, which the pure
    column-expression compiler below never sees. A term with no
    expansions compiles to a never-match (ES: zero expanded terms →
    no hits). At 100 TB the vocab scan inside fuzzy_expansions is a
    precomputed index table; the expansion set itself is ≤
    max_expansions driver-side strings per fuzzy term. ``_vocabs``
    memoizes one persisted distinct-term table per field so N fuzzy
    terms over a field cost ONE vocab scan — the caller unpersists
    after the walk (expansions are collected eagerly)."""
    if _vocabs is None:
        _vocabs = {}
    ((kind, body),) = clause.items()
    if kind == "bool":
        new: dict = {}
        for ctx in ("must", "should", "must_not", "filter"):
            if ctx in body:
                new[ctx] = [
                    _expand_fuzzy_clauses(c, df, _vocabs) for c in body[ctx]
                ]
        if "minimum_should_match" in body:
            new["minimum_should_match"] = body["minimum_should_match"]
        return {"bool": new}
    if kind == "query_string":
        return _expand_fuzzy_clauses(parse_query_string(body), df, _vocabs)
    if kind == "dis_max":
        return {
            "dis_max": {
                **body,
                "queries": [
                    _expand_fuzzy_clauses(c, df, _vocabs)
                    for c in body.get("queries", ())
                ],
            }
        }
    if kind == "constant_score":
        return {
            "constant_score": {
                **body,
                "filter": _expand_fuzzy_clauses(body["filter"], df, _vocabs),
            }
        }
    if kind == "boosting":
        return {
            "boosting": {
                **body,
                "positive": _expand_fuzzy_clauses(
                    body["positive"], df, _vocabs
                ),
                "negative": _expand_fuzzy_clauses(
                    body["negative"], df, _vocabs
                ),
            }
        }
    if kind == "function_score":
        new_fs = {
            **body,
            "query": _expand_fuzzy_clauses(
                body.get("query", {"match_all": {}}), df, _vocabs
            ),
        }
        if "functions" in body:
            new_fs["functions"] = [
                {**fn, "filter": _expand_fuzzy_clauses(fn["filter"], df, _vocabs)}
                if "filter" in fn
                else fn
                for fn in body["functions"]
            ]
        return {"function_score": new_fs}
    if kind == "pinned":
        return {
            "pinned": {
                **body,
                "organic": _expand_fuzzy_clauses(body["organic"], df, _vocabs),
            }
        }
    if kind == "match":
        # ES match with fuzziness: each analyzed term becomes a fuzzy
        # leaf (expanded below via the shared vocab); terms combine
        # per the match operator (and → must, or → should)
        ((field, qs),) = body.items()
        if isinstance(qs, dict) and "fuzziness" in qs:
            fz = int(qs["fuzziness"])
            op = str(qs.get("operator", "or")).lower()
            leaves = [
                _expand_fuzzy_clauses(
                    {"fuzzy": {field: {"value": t, "fuzziness": fz}}},
                    df, _vocabs,
                )
                for t in _terms(qs["query"])
            ]
            if not leaves:
                return {"bool": {"must": [{"match_all": {}}],
                                 "must_not": [{"match_all": {}}]}}
            ctx = "must" if op == "and" else "should"
            return {"bool": {ctx: leaves}}
        return clause
    if kind == "fuzzy":
        ((field, spec),) = body.items()
        if not isinstance(spec, dict):
            spec = {"value": spec}
        vocab = _vocabs.get(field)
        if vocab is None:
            vocab = (
                df.select(F.explode(tokens(field)).alias("term"))
                .distinct()
                .persist()
            )
            _vocabs[field] = vocab
        expansions = [
            r["term"]
            for r in fuzzy_expansions(
                df,
                str(spec["value"]),
                text_col=field,
                fuzziness=int(spec.get("fuzziness", 1)),
                prefix_length=int(spec.get("prefix_length", 1)),
                max_expansions=int(spec.get("max_expansions", 50)),
                vocab=vocab,
            ).collect()
        ]
        if not expansions:
            return {"bool": {"must": [{"match_all": {}}],
                             "must_not": [{"match_all": {}}]}}
        return {"bool": {"should": [{"match": {field: t}}
                                    for t in expansions]}}
    if kind == "more_like_this":
        # {"more_like_this": {"fields": [f], "like": {"_id": id} |
        #  "text", "max_query_terms": N, "min_term_freq": n,
        #  "min_doc_freq": n, "minimum_should_match": "30%"}}
        # → interesting terms via the mlt_topk selection pipeline,
        # compiled to a should-of-matches with
        # minimum_should_match — DSL MLT scores by TF over the
        # selected terms (the standalone mlt_topk keeps the exact
        # idf-weighted ranking; documented simplification)
        fields = body.get("fields") or ["content"]
        field = fields[0]
        like = body.get("like")
        msm = str(body.get("minimum_should_match", "30%")).rstrip("%")
        if isinstance(like, dict) and "_id" in like:
            sel = mlt_topk(
                df, like["_id"], text_col=field,
                id_col=str(body.get("id_col", "id")),
                max_query_terms=int(body.get("max_query_terms", 25)),
                min_term_freq=int(body.get("min_term_freq", 1)),
                min_doc_freq=int(body.get("min_doc_freq", 2)),
                min_should_match_pct=0,
                _terms_only=True,
            )
            terms_sel = [r["term"] for r in sel.collect()]
        else:
            terms_sel = _terms(str(like or ""))[
                : int(body.get("max_query_terms", 25))
            ]
        if not terms_sel:
            return {"bool": {"must": [{"match_all": {}}],
                             "must_not": [{"match_all": {}}]}}
        out: dict = {
            "should": [{"match": {field: t}} for t in terms_sel],
            "minimum_should_match": max(
                1, -(-len(terms_sel) * int(msm) // 100)
            ),
        }
        if isinstance(like, dict) and "_id" in like:
            # ES excludes the like document(s) from the results
            out["must_not"] = [{"ids": {"values": [like["_id"]]}}]
        return {"bool": out}
    return clause


def _compile_clause(clause: dict, tokcol: dict[str, str]):
    """One ES clause → (predicate Column, score Column) — both
    NULL-free: a clause over a NULL field value evaluates to (False,
    0.0), matching ES, where a doc missing a field simply doesn't
    match — instead of letting SQL NULL poison the enclosing
    should-count / must_not conjunction.

    Supported shapes (the ES query-DSL the reference's search surface
    passes through verbatim — internal/storage/storage.go:212-257 takes
    an arbitrary query map):
      {"bool": {...}}                   nested compositor (recursive;
                                        honors an embedded
                                        minimum_should_match); score
                                        gated to 0 on non-match
      {"match": {field: querystring}}   OR over analyzed terms; score
                                        = Σ term TF (match_topk's TF
                                        scoring, same determinism)
      {"match_phrase": {field: qs}}     consecutive analyzed terms;
                                        score = phrase occurrence count
                                        (match_phrase_topk semantics)
      {"term":  {field: value}}         exact raw equality; score 1.0
      {"terms": {field: [v, ...]}}      membership; score 1.0
      {"range": {field: {gte/gt/lte/lt: v}}}  bound checks; score 1.0
      {"exists": {"field": name}}       non-null; score 1.0
      {"prefix": {field: string}}       raw startswith; score 1.0
      {"match_all": {}}                 always true; score 1.0
      {"match_phrase_prefix": ...}      type-ahead phrase (last term a
                                        token prefix); score = windows
      {"dis_max": {"queries": [...]}}   best sub-score + tie_breaker·rest
      {"constant_score": {"filter": q}} flat boost, filter context
      {"boosting": {...}}               negative-matching docs demoted
                                        ×negative_boost, never excluded
      {"function_score": {...}}         per-function weight / field_
                                        value_factor, score_mode +
                                        boost_mode combiners, max_boost,
                                        min_score
      {"rank_feature": {...}}           saturation / log / sigmoid
                                        shaping of a numeric feature
      {"terms_set": {field: {...}}}     per-doc required match count
                                        (minimum_should_match_field)
      {"pinned": {"ids": [...], ...}}   promoted ids first, organic after
      {"span_near": {...}}              ordered span_term chain within
                                        slop (in_order=true)
    (plus wildcard/regexp/ids/fuzzy/query_string — see _compile_leaf)
    """
    pred, score = _compile_leaf(clause, tokcol)
    return (
        F.coalesce(pred, F.lit(False)),
        F.coalesce(score, F.lit(0.0)),
    )


def _compile_leaf(clause: dict, tokcol: dict[str, str]):
    ((kind, body),) = clause.items()
    if kind == "bool":
        pred, score = _compile_bool(body, tokcol)
        # a non-matching sub-bool contributes nothing, even if its
        # should clauses matched (ES: only matching clauses score)
        return pred, F.when(pred, score).otherwise(F.lit(0.0))
    if kind == "match":
        # bare-string form: OR over analyzed terms; dict form adds
        # ES's match options — {"query": ..., "operator": "and"}
        # requires EVERY term present (fuzziness is resolved earlier,
        # in _expand_fuzzy_clauses, since it needs the corpus vocab)
        ((field, qs),) = body.items()
        operator = "or"
        if isinstance(qs, dict):
            operator = str(qs.get("operator", "or")).lower()
            qs = qs["query"]
        score = F.lit(0)
        pred = F.lit(True) if operator == "and" else None
        for t in _terms(qs):
            tf_t = F.size(F.filter(tokcol[field], _eq(F.lit(t))))
            score = score + tf_t
            if operator == "and":
                pred = pred & (tf_t > 0)
        if operator == "and":
            return pred, score.cast("double")
        return score > 0, score.cast("double")
    if kind == "match_phrase":
        ((field, qs),) = body.items()
        terms = _terms(qs)
        if not terms:
            return F.lit(False), F.lit(0.0)
        cnt = _phrase_count(F.col(tokcol[field]), terms)
        return cnt > 0, cnt.cast("double")
    if kind == "match_phrase_prefix":
        # ES type-ahead phrase: all terms consecutive, the last one a
        # token PREFIX; score = matching-window count (match_phrase's
        # occurrence-count scoring with the relaxed closing position)
        ((field, qs),) = body.items()
        if isinstance(qs, dict):
            qs = qs["query"]
        terms = _terms(qs)
        if not terms:
            return F.lit(False), F.lit(0.0)
        cnt = _phrase_prefix_count(F.col(tokcol[field]), terms)
        return cnt > 0, cnt.cast("double")
    if kind == "dis_max":
        # ES dis_max: match if ANY sub-query matches; score = best
        # matching sub-score + tie_breaker · (sum of the other
        # matching sub-scores). Non-matching sub-queries contribute
        # nothing (each gated to 0 by _compile_clause).
        subs = [_compile_clause(c, tokcol) for c in body["queries"]]
        if not subs:
            return F.lit(False), F.lit(0.0)
        tb = float(body.get("tie_breaker", 0.0))
        pred = subs[0][0]
        for p, _ in subs[1:]:
            pred = pred | p
        gated = [F.when(p, s).otherwise(F.lit(0.0)) for p, s in subs]
        best = gated[0] if len(gated) == 1 else F.greatest(*gated)
        total = gated[0]
        for g in gated[1:]:
            total = total + g
        return pred, best + F.lit(tb) * (total - best)
    if kind == "constant_score":
        # ES constant_score: filter-context sub-query, fixed boost as
        # the score — the sub-query's own score is discarded
        p, _ = _compile_clause(body["filter"], tokcol)
        boost = float(body.get("boost", 1.0))
        return p, F.when(p, F.lit(boost)).otherwise(F.lit(0.0))
    if kind == "boosting":
        # ES boosting: positive decides matching; docs also matching
        # the negative query have their score multiplied by
        # negative_boost (demoted, never excluded)
        pp, ps = _compile_clause(body["positive"], tokcol)
        np_, _ = _compile_clause(body["negative"], tokcol)
        nb = float(body.get("negative_boost", 0.5))
        demoted = ps * F.when(np_, F.lit(nb)).otherwise(F.lit(1.0))
        return pp, F.when(pp, demoted).otherwise(F.lit(0.0))
    if kind == "term":
        ((field, val),) = body.items()
        pred = F.col(field) == F.lit(val)
        return pred, F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
    if kind == "terms":
        ((field, vals),) = body.items()
        pred = F.col(field).isin(list(vals))
        return pred, F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
    if kind == "range":
        ((field, spec),) = body.items()
        ops = {"gte": "__ge__", "gt": "__gt__", "lte": "__le__", "lt": "__lt__"}
        pred = F.lit(True)
        for op, v in spec.items():
            try:
                pred = pred & getattr(F.col(field), ops[op])(F.lit(v))
            except KeyError:
                raise ValueError(f"unsupported range op: {op}") from None
        return pred, F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
    if kind == "exists":
        pred = F.col(body["field"]).isNotNull()
        return pred, F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
    if kind == "prefix":
        ((field, pfx),) = body.items()
        pred = F.col(field).startswith(str(pfx))
        return pred, F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
    if kind == "match_all":
        return F.lit(True), F.lit(1.0)
    if kind == "wildcard":
        # ES wildcard query: raw (keyword-style) field value against
        # the * / ? pattern, case-sensitive, constant score
        ((field, spec),) = body.items()
        pattern = spec["value"] if isinstance(spec, dict) else spec
        pred = F.col(field).rlike(_wildcard_regex(str(pattern)))
        return pred, F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
    if kind == "token_wildcard":
        # query_string wildcards apply to ANALYZED terms (ES analyzes
        # the non-wildcard parts and matches per token); score = count
        # of matching tokens, mirroring match's TF scoring
        ((field, pattern),) = body.items()
        rx = F.lit(_wildcard_regex(str(pattern).lower()))
        score = F.size(F.filter(tokcol[field], lambda t: F.rlike(t, rx)))
        return score > 0, score.cast("double")
    if kind == "query_string":
        return _compile_leaf(parse_query_string(body), tokcol)
    if kind == "regexp":
        # ES regexp query: anchored match of the whole keyword-style
        # field value (Lucene regexps are implicitly anchored — the
        # explicit ^...$ wrap reproduces that on Java regex)
        ((field, spec),) = body.items()
        pattern = spec["value"] if isinstance(spec, dict) else spec
        pred = F.col(field).rlike(f"^(?:{pattern})$")
        return pred, F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
    if kind == "ids":
        # ES ids query: membership in the given id list ("id" is the
        # compositor's id alias — bool_topk projects id_col to it)
        pred = F.col("id").isin(list(body["values"]))
        return pred, F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
    if kind == "rank_feature":
        # ES rank_feature query: numeric feature field, matches where
        # the feature is present and positive; score by the chosen
        # shaping function — saturation v/(v+pivot) (the default),
        # log log10(scaling_factor + v) (Lucene FeatureField uses
        # log10), sigmoid v^e/(v^e + pivot^e) — times boost
        field = body["field"]
        v = F.col(field).cast("double")
        pred = v.isNotNull() & (v > 0)
        boost = float(body.get("boost", 1.0))
        if "log" in body:
            sf_ = float(body["log"].get("scaling_factor", 1.0))
            shaped = F.log10(F.lit(sf_) + v)
        elif "sigmoid" in body:
            pivot = float(body["sigmoid"]["pivot"])
            exp = float(body["sigmoid"]["exponent"])
            ve = F.pow(v, F.lit(exp))
            shaped = ve / (ve + F.lit(pivot**exp))
        else:
            sat = body.get("saturation") or {}
            pivot = float(sat.get("pivot", 1.0))
            shaped = v / (v + F.lit(pivot))
        return pred, F.when(pred, F.lit(boost) * shaped).otherwise(F.lit(0.0))
    if kind == "terms_set":
        # ES terms_set: analyzed-term membership with a per-document
        # match threshold — minimum_should_match_field names a numeric
        # column holding each doc's required count (or a constant
        # minimum_should_match). Score = Σ TF of the present query
        # terms, the same TF scoring as the match leaf (ES scores it
        # as a bool-of-terms; the TF part of that, deterministic here)
        ((field, spec),) = body.items()
        qterms = [t for q in spec["terms"] for t in _terms(str(q))]
        if not qterms:
            return F.lit(False), F.lit(0.0)
        toks = tokcol[field]
        n_present: Column = F.lit(0)
        tf_sum: Column = F.lit(0)
        for t in qterms:
            tf_t = F.size(F.filter(toks, _eq(F.lit(t))))
            n_present = n_present + (tf_t > 0).cast("int")
            tf_sum = tf_sum + tf_t
        if "minimum_should_match_field" in spec:
            req = F.col(spec["minimum_should_match_field"]).cast("int")
        else:
            req = F.lit(int(spec.get("minimum_should_match", 1)))
        pred = n_present >= req
        return pred, F.when(pred, tf_sum.cast("double")).otherwise(F.lit(0.0))
    if kind == "pinned":
        # ES pinned query: the listed ids rank first, in list order,
        # ahead of every organic hit; organic matches keep their own
        # scores. ES implements this with a huge per-position boost —
        # same here: pinned doc #i scores _PIN_BASE − i, which
        # dominates any organic score under the (score DESC, id ASC)
        # ordering
        ids = list(body["ids"])
        op, os_ = _compile_clause(body["organic"], tokcol)
        pred = F.col("id").isin(ids) | op
        organic_score = F.when(op, os_).otherwise(F.lit(0.0))
        if not ids:
            return pred, organic_score
        score = F.when(F.col("id") == F.lit(ids[0]), F.lit(float(_PIN_BASE)))
        for i, v in enumerate(ids[1:], 1):
            score = score.when(F.col("id") == F.lit(v), F.lit(float(_PIN_BASE - i)))
        return pred, score.otherwise(organic_score)
    if kind == "span_near":
        # Lucene span_near over span_term clauses (in_order=true):
        # terms appear in order within slop intervening positions;
        # score = anchored matching-window count (the occurrence-count
        # scoring _phrase_count uses — span_near slop=0 IS
        # match_phrase). in_order=false is not compiled (would need
        # permutation enumeration; unsupported, loudly)
        clauses_sn = body.get("clauses", ())
        if not bool(body.get("in_order", False)):
            raise ValueError("span_near supports in_order=true only")
        field = None
        sn_terms: list[str] = []
        for sub in clauses_sn:
            ((k2, b2),) = sub.items()
            if k2 != "span_term":
                raise ValueError("span_near supports span_term clauses only")
            ((f2, t2),) = b2.items()
            if field is None:
                field = f2
            elif f2 != field:
                raise ValueError("span_near clauses must share one field")
            sn_terms.extend(_terms(str(t2)))
        if not sn_terms:
            return F.lit(False), F.lit(0.0)
        cnt = _subseq_window_count(
            F.col(tokcol[field]), sn_terms, int(body.get("slop", 0))
        )
        return cnt > 0, cnt.cast("double")
    if kind == "intervals":
        # ES intervals query, the `match` rule (ordered=true):
        # analyzed terms within max_gaps intervening positions, in
        # order — exactly the span_near fold with slop=max_gaps; an
        # `any_of` combinator ORs sub-rules (best sub-score, count
        # scoring as elsewhere). Unordered rules are not compiled
        # (same permutation-enumeration cost span_near declines).
        ((field, spec),) = body.items()

        def _compile_rule(rule: dict):
            ((rk, rb),) = rule.items()
            if rk == "match":
                if not bool(rb.get("ordered", False)):
                    raise ValueError("intervals match supports ordered=true only")
                terms_iv = _terms(str(rb["query"]))
                if not terms_iv:
                    return F.lit(0)
                return _subseq_window_count(
                    F.col(tokcol[field]), terms_iv, int(rb.get("max_gaps", 0))
                )
            if rk == "any_of":
                counts = [_compile_rule(r) for r in rb["intervals"]]
                return counts[0] if len(counts) == 1 else F.greatest(*counts)
            raise ValueError(f"unsupported intervals rule: {rk}")

        cnt = _compile_rule(spec)
        return cnt > 0, cnt.cast("double")
    if kind == "combined_fields":
        # ES combined_fields: term-centric scoring over a virtual
        # combined field — each term's frequency is the boost-weighted
        # sum of its per-field TFs ("title^2" doubles title hits);
        # operator=and requires every term somewhere in the combined
        # field. Score = Σ weighted TFs (the match leaf's TF idiom).
        weights = []
        for f in body.get("fields", ()):
            if "^" in f:
                base, b = f.split("^", 1)
                weights.append((base, float(b)))
            else:
                weights.append((f, 1.0))
        if not weights:
            raise ValueError("combined_fields needs fields")
        cf_terms = _terms(str(body["query"]))
        if not cf_terms:
            return F.lit(False), F.lit(0.0)
        operator = str(body.get("operator", "or")).lower()
        score = F.lit(0.0)
        pred = F.lit(True) if operator == "and" else None
        for t in cf_terms:
            tf_t = F.lit(0.0)
            for base, wgt in weights:
                tf_f = F.size(F.filter(tokcol[base], _eq(F.lit(t))))
                tf_t = tf_t + F.lit(wgt) * F.coalesce(
                    tf_f.cast("double"), F.lit(0.0)
                )
            score = score + tf_t
            if operator == "and":
                pred = pred & (tf_t > 0)
        if operator == "and":
            return pred, score
        return score > 0, score
    if kind == "function_score":
        # ES function_score: the sub-query decides matching; each
        # function applies where its filter matches (no filter =
        # everywhere) and yields weight × field_value_factor (or just
        # weight). Matching functions combine per score_mode
        # (multiply/sum/avg/max/min/first; no matching function → 1,
        # as in ES), clamp at max_boost, then combine with the query
        # score per boost_mode (multiply/sum/replace/max/min/avg).
        # min_score drops matches below the threshold. All column
        # arithmetic — one scan, no extra plan nodes.
        qp, qs = _compile_clause(
            body.get("query", {"match_all": {}}), tokcol
        )
        funcs = body.get("functions")
        if funcs is None:
            shorthand = {
                k: v
                for k, v in body.items()
                if k in ("field_value_factor", "weight", "filter")
            }
            funcs = [shorthand] if shorthand else []
        compiled: list[tuple[Column, Column]] = []
        for fn in funcs:
            if "filter" in fn:
                fp, _fs = _compile_clause(fn["filter"], tokcol)
            else:
                fp = F.lit(True)
            if "field_value_factor" in fn:
                fvf = fn["field_value_factor"]
                v = F.col(fvf["field"]).cast("double")
                if "missing" in fvf:
                    v = F.coalesce(v, F.lit(float(fvf["missing"])))
                v = v * F.lit(float(fvf.get("factor", 1.0)))
                mod = str(fvf.get("modifier", "none"))
                if mod == "log1p":      # ES log modifiers are log10
                    v = F.log10(F.lit(1.0) + v)
                elif mod == "log":
                    v = F.log10(v)
                elif mod == "ln1p":
                    v = F.log(F.lit(1.0) + v)
                elif mod == "ln":
                    v = F.log(v)
                elif mod == "sqrt":
                    v = F.sqrt(v)
                elif mod == "square":
                    v = v * v
                elif mod == "reciprocal":
                    v = F.lit(1.0) / v
                elif mod != "none":
                    raise ValueError(f"bad fvf modifier: {mod!r}")
                fscore = v
            else:
                fscore = F.lit(1.0)
            fscore = fscore * F.lit(float(fn.get("weight", 1.0)))
            compiled.append((fp, fscore))
        score_mode = str(body.get("score_mode", "multiply"))
        if not compiled:
            combined = F.lit(1.0)
        elif score_mode == "first":
            combined = F.lit(1.0)
            for fp, fs_ in reversed(compiled):
                combined = F.when(fp, fs_).otherwise(combined)
        else:
            n_match = compiled[0][0].cast("int")
            for fp, _ in compiled[1:]:
                n_match = n_match + fp.cast("int")
            if score_mode == "multiply":
                raw = F.when(compiled[0][0], compiled[0][1]).otherwise(F.lit(1.0))
                for fp, fs_ in compiled[1:]:
                    raw = raw * F.when(fp, fs_).otherwise(F.lit(1.0))
            elif score_mode in ("sum", "avg"):
                raw = F.when(compiled[0][0], compiled[0][1]).otherwise(F.lit(0.0))
                for fp, fs_ in compiled[1:]:
                    raw = raw + F.when(fp, fs_).otherwise(F.lit(0.0))
                if score_mode == "avg":
                    raw = raw / n_match.cast("double")
            elif score_mode in ("max", "min"):
                gated = [F.when(fp, fs_) for fp, fs_ in compiled]  # NULL skipped
                pick = F.greatest if score_mode == "max" else F.least
                raw = gated[0] if len(gated) == 1 else pick(*gated)
            else:
                raise ValueError(f"bad score_mode: {score_mode!r}")
            combined = F.when(n_match > 0, raw).otherwise(F.lit(1.0))
        if "max_boost" in body:
            combined = F.least(combined, F.lit(float(body["max_boost"])))
        boost_mode = str(body.get("boost_mode", "multiply"))
        if boost_mode == "multiply":
            final = qs * combined
        elif boost_mode == "sum":
            final = qs + combined
        elif boost_mode == "replace":
            final = combined
        elif boost_mode == "max":
            final = F.greatest(qs, combined)
        elif boost_mode == "min":
            final = F.least(qs, combined)
        elif boost_mode == "avg":
            final = (qs + combined) / F.lit(2.0)
        else:
            raise ValueError(f"bad boost_mode: {boost_mode!r}")
        pred = qp
        if "min_score" in body:
            pred = pred & (final >= F.lit(float(body["min_score"])))
        return pred, F.when(pred, final).otherwise(F.lit(0.0))
    raise ValueError(f"unsupported bool clause: {kind}")


def _compile_bool(
    body: dict, tokcol: dict[str, str], minimum_should_match: int | None = None
):
    """One bool level → (matched Column, score Column), ES semantics
    (see :func:`bool_topk`). msm resolution per level: an explicit
    argument wins, then a "minimum_should_match" key embedded in the
    bool body (how nested levels carry it), then ES's own default —
    1 when the level is should-only, else 0."""
    must = list(body.get("must", ()))
    should = list(body.get("should", ()))
    must_not = list(body.get("must_not", ()))
    filt = list(body.get("filter", ()))
    if minimum_should_match is None:
        minimum_should_match = body.get("minimum_should_match")
    if minimum_should_match is None:
        minimum_should_match = 1 if should and not (must or filt) else 0

    matched = F.lit(True)
    score = F.lit(0.0)
    for c in must:
        pred, s = _compile_clause(c, tokcol)
        matched = matched & pred
        score = score + s
    for c in filt:
        pred, _s = _compile_clause(c, tokcol)
        matched = matched & pred
    for c in must_not:
        pred, _s = _compile_clause(c, tokcol)
        matched = matched & ~pred
    if should:
        n_should = F.lit(0)
        for c in should:
            pred, s = _compile_clause(c, tokcol)
            n_should = n_should + pred.cast("int")
            score = score + s
        matched = matched & (n_should >= minimum_should_match)
    return matched, score


def bool_topk(
    df: DataFrame,
    query: dict,
    id_col: str = "id",
    k: int = 10,
    minimum_should_match: int | None = None,
) -> DataFrame:
    """ES `bool` query analogue with the ES combination semantics:

    - ``must``     — every clause matches; scores add.
    - ``filter``   — every clause matches; no score contribution.
    - ``must_not`` — no clause matches; no score contribution.
    - ``should``   — scores of matching clauses add; at least
      ``minimum_should_match`` must match (ES default: 1 when the
      query has no must/filter context, else 0).

    Output (id, score) ordered by (round(score,6) DESC, id ASC),
    limit k. Score-0 matches survive (a filter-only bool matches with
    score 0, as in ES).

    Clauses may nest arbitrarily ({"bool": {...}} is itself a clause) —
    the reference passes the whole query map through to ES verbatim
    (internal/storage/storage.go:212-257), so any DSL shape a caller
    composes must compile. A nested bool's score is gated to 0 when the
    sub-bool doesn't match (ES scores only matching clauses).

    Plan shape: each text field referenced by a match/match_phrase
    clause — at any nesting depth — is analyzed ONCE into a
    materialized token column (Catalyst does not CSE the regexp across
    clause lambdas — the match_scores rationale); the whole compositor
    is one scan projection + one boolean filter, no joins, no shuffle
    beyond the top-k sort of matches."""
    # resolve fuzzy leaves against the corpus vocab first (needs df),
    # then analyze each match-referenced field exactly once
    vocabs: dict = {}
    query = _expand_fuzzy_clauses({"bool": query}, df, vocabs)["bool"]
    for v in vocabs.values():
        v.unpersist()
    fields: list[str] = []
    _collect_match_fields([{"bool": query}], fields)
    tokcol = {f: f"_toks_{i}" for i, f in enumerate(fields)}
    # keep every raw column (the id column too, under its own name) so
    # term/range clauses can reference any field, id included
    raw = [c for c in df.columns if c != "id"]
    toked = df.select(
        F.col(id_col).alias("id"),
        *raw,
        *[tokens(f).alias(tokcol[f]) for f in fields],
    )

    matched, score = _compile_bool(query, tokcol, minimum_should_match)

    return (
        toked.filter(matched)
        .select("id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def knn_topk(df: DataFrame, knn: dict, id_col: str = "id") -> DataFrame:
    """ES ``knn`` search section (the modern dense-vector retrieval
    leaf the query DSL tail would otherwise lack): ``{"field": ...,
    "query_vector": [...], "k": N, "num_candidates": M}`` → the
    global top-k of the corpus by rounded cosine similarity.

    Engine mapping: the probe runs through the IVF path
    (similarity.ivf_topk) — ``num_candidates`` is the examined-
    candidate budget, translated to the probe width as
    nprobe ≈ ⌈num_candidates · n_centroids / N⌉ under balanced cells
    (exactly ES's contract: score num_candidates per shard, keep k).
    Explicit ``nprobe``/``n_centroids``/``index_path`` keys override —
    with ``index_path`` the scan partition-prunes to the probed cells
    of the persisted centroid_id-partitioned index (the 100 TB
    layout; plan-pinned in tests/test_pipeline_ops.py). Setting
    nprobe = n_centroids degrades gracefully to exact brute search.

    Returns DF(id, _kscore), one row per top-k neighbor."""
    from gocrawl_spark import similarity

    field = knn["field"]
    qv = [float(x) for x in knn["query_vector"]]
    k = int(knn.get("k", 10))
    n_centroids = int(knn.get("n_centroids", 16))
    corpus = df.select(
        F.col(id_col).alias("vec_id"), F.col(field).alias("embedding")
    ).filter(F.col("embedding").isNotNull())
    if "nprobe" in knn:
        nprobe = int(knn["nprobe"])
    else:
        num_candidates = int(knn.get("num_candidates", max(100, 10 * k)))
        # one metadata-sized count; at scale this reads the index
        # manifest, not the vectors
        n = corpus.count()
        cell = max(1, n // n_centroids)
        nprobe = min(n_centroids, max(1, -(-num_candidates // cell)))
    queries = df.sparkSession.createDataFrame(
        [(-1, qv)], "vec_id long, embedding array<float>"
    )
    out = similarity.ivf_topk(
        corpus,
        queries,
        k=k,
        n_centroids=n_centroids,
        nprobe=nprobe,
        index_path=knn.get("index_path"),
    )
    return out.select(
        F.col("neighbor_id").alias("id"), F.col("score").alias("_kscore")
    )


def es_search(df: DataFrame, body: dict, id_col: str = "id") -> dict:
    """ES ``_search`` REQUEST BODY in one call — the exact shape the
    reference's storage layer forwards verbatim
    (internal/storage/storage.go:212-257 Search /
    :364-415 Aggregate): ``{"query": <clause>, "aggs": {...},
    "size": N}``. The query compiles through the full bool-leaf
    surface; the aggregations run over the QUERY-FILTERED scope, as
    in ES. Returns ``{"hits": DF(id, score), "total": DF(total),
    "aggs": DF}`` (aggs key only when requested).

    Plan shape: ONE scan projection (match fields analyzed once) +
    one boolean filter feeds hits, total and aggs — the filter is not
    recomputed per output."""
    # Extended request surface: "sort" (field/_score entries, auto id
    # tiebreak), "search_after" (keyset cursor — the deep-paging path
    # that stays O(page) at any depth), "post_filter" (narrows hits,
    # NOT aggs/total), and the scope-aware top-level agg kinds:
    # "global" (whole index, escaping the query scope),
    # "significant_terms"/"significant_text" (fg = matched docs, bg =
    # whole index in one pass) and "(diversified_)sampler" (sub-aggs
    # over only the top shard_size scored hits).
    req_query = body.get("query") or {"match_all": {}}
    vocabs: dict = {}
    clause = _expand_fuzzy_clauses(req_query, df, vocabs)
    post = body.get("post_filter")
    if post is not None:
        post = _expand_fuzzy_clauses(post, df, vocabs)
    resc = body.get("rescore")
    rq = None
    if resc is not None:
        if body.get("sort"):
            raise ValueError("rescore requires the default _score sort")
        if body.get("collapse"):
            raise ValueError("rescore cannot combine with collapse")
        rq = _expand_fuzzy_clauses(resc["query"]["rescore_query"], df, vocabs)
    for v in vocabs.values():
        v.unpersist()
    fields: list[str] = []
    _collect_match_fields([clause], fields)
    if post is not None:
        _collect_match_fields([post], fields)
    if rq is not None:
        _collect_match_fields([rq], fields)
    tokcol = {f: f"_toks_{i}" for i, f in enumerate(fields)}
    raw = [c for c in df.columns if c != "id"]
    toked = df.select(
        F.col(id_col).alias("id"),
        *raw,
        *[tokens(f).alias(tokcol[f]) for f in fields],
    )
    pred, score = _compile_clause(clause, tokcol)
    matched = toked.filter(pred)
    size = int(body.get("size", 10))

    # hits scope: post_filter narrows HITS ONLY — aggs/total keep the
    # query scope (ES semantics: facet counts survive the UI filter)
    hit_src = matched if post is None else matched.filter(
        _compile_clause(post, tokcol)[0]
    )
    hit_src = hit_src.withColumn("_score", F.round(score, 6))

    # sort: field entries ({f: dir} / {f: {"order": dir}}) or
    # "_score"; a trailing unique "id" tiebreak is appended unless
    # already present — search_after values must cover the EFFECTIVE
    # sort (including that id), exactly ES's explicit-tiebreak rule
    entries: list[tuple[str, bool]] = []
    for item in body.get("sort") or [{"_score": "desc"}]:
        if item == "_score":
            entries.append(("_score", False))
            continue
        ((f, d),) = item.items()
        d = d.get("order", "asc") if isinstance(d, dict) else d
        entries.append(
            ("_score" if f == "_score" else f, str(d).lower() == "asc")
        )
    if "id" not in [f for f, _ in entries]:
        entries.append(("id", True))

    after = body.get("search_after")
    if after is not None:
        if len(after) != len(entries):
            raise ValueError(
                "search_after needs one value per effective sort key "
                f"({[f for f, _ in entries]})"
            )
        # strict lexicographic "beyond the cursor" — a keyset filter
        # that pushes into the scan, so page N costs the same as page
        # 1 (ES's search_after vs the from+size deep-paging trap)
        beyond = F.lit(False)
        tied = F.lit(True)
        for (f, asc), v in zip(entries, after):
            c = F.col(f)
            beyond = beyond | (tied & ((c > F.lit(v)) if asc else (c < F.lit(v))))
            tied = tied & (c == F.lit(v))
        hit_src = hit_src.filter(beyond)

    order = [(F.asc(f) if asc else F.desc(f)) for f, asc in entries]
    sort_fields = [f for f, _ in entries if f not in ("id", "_score")]

    # collapse: one hit per distinct collapse-field value — the BEST
    # hit under the effective sort (row_number over a field-keyed
    # window; ES's field collapsing). The window shuffles on the
    # collapse key only; the global top-k then runs over one survivor
    # per key.
    collapse = body.get("collapse")
    if collapse is not None:
        cfield = collapse["field"]
        cw = Window.partitionBy(cfield).orderBy(*order)
        hit_src = (
            hit_src.withColumn("_rn", F.row_number().over(cw))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if cfield not in sort_fields:
            sort_fields = sort_fields + [cfield]

    # rescore: re-rank the top window_size hits with a (usually more
    # expensive) secondary query — final score = query_weight·score +
    # rescore_query_weight·rescore_score for window docs matching the
    # rescore query (ES semantics; docs outside the window keep their
    # rank order and never pay the secondary scoring). Only the
    # window's rows evaluate the rescore expressions.
    if rq is not None:
        spec = resc["query"]
        qw = float(spec.get("query_weight", 1.0))
        rqw = float(spec.get("rescore_query_weight", 1.0))
        wsize = int(resc.get("window_size", size))
        rpred, rscore = _compile_clause(rq, tokcol)
        hit_src = hit_src.orderBy(*order).limit(wsize).withColumn(
            "_score",
            F.round(
                F.col("_score") * qw
                + F.when(rpred, F.round(rscore, 6)).otherwise(F.lit(0.0)) * rqw,
                6,
            ),
        )

    # knn section: dense-vector retrieval (knn_topk) — alone, hits =
    # the vector top-k; next to a query, scores SUM over the union of
    # both hit sets (ES's pre-retriever combination rule). total counts
    # that union (the knn hits alone when there is no query); aggs keep
    # the query scope.
    knn_spec = body.get("knn")
    if knn_spec is None:
        hits = (
            hit_src.orderBy(*order)
            .limit(size)
            .select(
                "id", *sort_fields, F.col("_score").alias("score")
            )
        )
        total_df = matched.agg(F.count("*").alias("total"))
    else:
        if (
            body.get("sort") or body.get("collapse")
            or body.get("rescore") or body.get("search_after")
            or body.get("post_filter")
        ):
            raise ValueError(
                "knn composes with the default _score ranking only"
            )
        knn_hits = knn_topk(df, knn_spec, id_col=id_col)
        if body.get("query"):
            merged = (
                hit_src.select("id", "_score")
                .join(knn_hits, "id", "full_outer")
                .select(
                    "id",
                    F.round(
                        F.coalesce(F.col("_score"), F.lit(0.0))
                        + F.coalesce(F.col("_kscore"), F.lit(0.0)),
                        6,
                    ).alias("_score"),
                )
            )
        else:
            merged = knn_hits.select(
                "id", F.col("_kscore").alias("_score")
            )
        total_df = merged.agg(F.count("*").alias("total"))
        hits = (
            merged.orderBy(F.desc("_score"), F.asc("id"))
            .limit(size)
            .select("id", F.col("_score").alias("score"))
        )
    out = {
        "hits": hits,
        "total": total_df,
    }
    if body.get("aggs"):
        (aname, aspec), = body["aggs"].items()
        akind = next(k for k in aspec if k != "aggs")
        if akind == "global":
            # global agg escapes the query scope — whole index
            out["aggs"] = es_aggs(df.select(
                F.col(id_col).alias("id"), *raw
            ), aspec["aggs"])
        elif akind == "significant_terms":
            # needs BOTH scopes at once (fg = query-matched docs,
            # bg = whole index), which the matched-scope es_aggs
            # can't see — one pass over the full frame with the
            # query predicate as a codegen'd flag
            out["aggs"] = _significant_terms_scoped(
                toked.withColumn("_fg", pred.cast("int")),
                aspec["significant_terms"],
            )
        elif akind == "significant_text":
            # the free-text twin: same two-scope JLH, terms re-analyzed
            # from the text field instead of read from a keyword field
            out["aggs"] = _significant_text_scoped(
                toked.withColumn("_fg", pred.cast("int")),
                aspec["significant_text"],
            )
        elif akind in ("sampler", "diversified_sampler"):
            # ES sampler: sub-aggs run over only the top shard_size
            # highest-scoring query-matched docs (one logical shard
            # here — deterministic: score desc, id asc — vs ES's
            # per-shard first-N nondeterminism). diversified_sampler
            # first caps docs per distinct `field` value at
            # max_docs_per_value via a field-keyed row_number window
            # (the window shuffles on the dedup key only), THEN takes
            # the global top shard_size. The sampler bucket's own
            # doc_count broadcasts onto the inner agg rows as
            # <name>_doc_count — the flat-table encoding of ES's
            # single-bucket nesting.
            sbody = aspec[akind]
            sorder = [F.desc("_sc"), F.asc("id")]
            scored = matched.withColumn("_sc", F.round(score, 6))
            if akind == "diversified_sampler":
                dfield = sbody["field"]
                mdv = int(sbody.get("max_docs_per_value", 1))
                dw = Window.partitionBy(dfield).orderBy(*sorder)
                scored = (
                    scored.withColumn("_dv", F.row_number().over(dw))
                    .filter(F.col("_dv") <= mdv)
                    .drop("_dv")
                )
            shard = int(sbody.get("shard_size", 100))
            sample = scored.orderBy(*sorder).limit(shard)
            inner = es_aggs(sample.select("id", *raw), aspec["aggs"])
            cnt = sample.agg(F.count("*").alias(f"{aname}_doc_count"))
            out["aggs"] = inner.crossJoin(F.broadcast(cnt))
        else:
            out["aggs"] = es_aggs(matched.select("id", *raw), body["aggs"])
    return out


def _significant_terms_scoped(base: DataFrame, body: dict) -> DataFrame:
    """ES `significant_terms` as a request-scoped agg over a KEYWORD
    field (the free-text twin is :func:`significant_terms`): JLH of
    field values unusually frequent among query-matched docs vs the
    whole index. ONE scan — the foreground flag is a codegen'd
    column, counts are one conditional aggregation on the field, the
    two corpus scalars broadcast back as a 1-row cross join."""
    field = body["field"]
    k = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 3))
    sizes = base.agg(
        F.count("*").cast("double").alias("_n_all"),
        F.sum("_fg").cast("double").alias("_n_fg"),
    )
    tc = base.groupBy(F.col(field).alias("key")).agg(
        F.count("*").alias("bg_count"), F.sum("_fg").alias("fg_count")
    )
    j = tc.crossJoin(F.broadcast(sizes))
    fgp = F.col("fg_count") / F.col("_n_fg")
    bgp = F.col("bg_count") / F.col("_n_all")
    score = F.when(
        fgp > bgp, F.round((fgp - bgp) * (fgp / bgp), 6)
    ).otherwise(F.lit(0.0))
    return (
        j.select("key", "fg_count", "bg_count", score.alias("score"))
        .filter((F.col("fg_count") >= F.lit(min_dc)) & (F.col("score") > 0))
        .orderBy(F.desc("score"), F.asc("key"))
        .limit(k)
    )


def hybrid_rrf(
    lex: DataFrame, sem: DataFrame, k: int = 10, rrf_k: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) of a lexical
    and a semantic ranking — the standard hybrid-retrieval combiner
    (BM25 + ANN): rrf = Σ 1/(rrf_k + rank_i) over the lists containing
    the doc, rrf_k = 60 per the paper. Inputs are (id, rank)
    DataFrames with 1-based ranks; a doc absent from one list
    contributes 0 from it and reports rank 0. Returns
    (id, lex_rank, sem_rank, rrf_score) top-k by (score desc, id).

    Scale shape: both inputs are already top-N lists (N rows, not
    corpus-sized), so the full-outer equi-join and the final sort are
    driver-scale; the heavy lifting lives in the rankers themselves."""
    left = lex.select("id", F.col("rank").alias("lex_rank"))
    right = sem.select("id", F.col("rank").alias("sem_rank"))
    j = left.join(right, "id", "full_outer")

    def contrib(c: str) -> Column:
        return F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(c)), F.lit(0.0)
        )

    return (
        j.select(
            "id",
            F.coalesce("lex_rank", F.lit(0)).cast("int").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("int").alias("sem_rank"),
            F.round(contrib("lex_rank") + contrib("sem_rank"), 6).alias(
                "rrf_score"
            ),
        )
        .orderBy(F.desc("rrf_score"), F.asc("id"))
        .limit(k)
    )


def _significant_text_scoped(base: DataFrame, body: dict) -> DataFrame:
    """ES `significant_text` as a request-scoped agg: JLH of ANALYZED
    terms of a free-text field unusually frequent among query-matched
    docs vs the whole index (the keyword twin is
    :func:`_significant_terms_scoped`; the standalone-query twin is
    :func:`significant_terms`). ONE scan — per-doc distinct terms via
    array_distinct in the projection, the foreground flag is a
    codegen'd column, counts fold in one term-keyed aggregation, the
    two corpus scalars broadcast back as a 1-row cross join."""
    field = body["field"]
    k = int(body.get("size", 10))
    min_dc = int(body.get("min_doc_count", 3))
    toked = base.select(
        "_fg", F.array_distinct(tokens(field)).alias("_t")
    )
    sizes = toked.agg(
        F.count("*").cast("double").alias("_n_all"),
        F.sum("_fg").cast("double").alias("_n_fg"),
    )
    tc = (
        toked.select("_fg", F.explode("_t").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("bg_count"), F.sum("_fg").alias("fg_count"))
    )
    j = tc.crossJoin(F.broadcast(sizes))
    fgp = F.col("fg_count") / F.col("_n_fg")
    bgp = F.col("bg_count") / F.col("_n_all")
    score = F.when(
        fgp > bgp, F.round((fgp - bgp) * (fgp / bgp), 6)
    ).otherwise(F.lit(0.0))
    return (
        j.select("term", "fg_count", "bg_count", score.alias("score"))
        .filter((F.col("fg_count") >= F.lit(min_dc)) & (F.col("score") > 0))
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(k)
    )


__all__ = [
    "tf", "tokens", "analyze_query", "count_where",
    "match_scores", "match_topk", "multi_match_topk", "match_phrase_topk",
    "bm25_topk", "bool_topk", "fuzzy_expansions", "fuzzy_topk",
    "highlight_topk", "es_search", "hybrid_rrf",
]


# ---------------------------------------------------------------------------
# A2: ES aggregations passthrough
# ---------------------------------------------------------------------------

_METRICS = {
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "value_count": F.count,
    "cardinality": F.countDistinct,
}


def _metric_cols(
    kind: str, name: str, body: dict, value: Column | None = None
) -> list[tuple[str, Column]]:
    """One metric sub-agg → [(output_name, unaliased aggregate)].
    Single-valued metrics emit one column under ``name``; the
    multi-valued ES metrics emit one per component — ``stats`` →
    name_count/min/max/avg/sum, ``percentiles`` → name_pN per entry of
    ``percents`` (ES default [1,5,25,50,75,95,99]; exact interpolated
    percentile, the deterministic stand-in for ES's t-digest).
    ``value`` overrides the aggregated expression (the range agg's
    per-bucket conditional)."""
    if kind == "weighted_avg":
        # ES weighted_avg: Σ(value·weight)/Σ(weight) — exact LONG
        # sums for integral fields (same contract as extended_stats),
        # one division; body holds value/weight sub-dicts, no "field"
        val = F.col(body["value"]["field"]).cast("long")
        wgt = F.col(body["weight"]["field"]).cast("long")
        return [(name, F.sum(val * wgt) / F.sum(wgt))]
    v = F.col(body["field"]) if value is None else value
    if kind in _METRICS:
        return [(name, _METRICS[kind](v))]
    if kind == "stats":
        return [
            (f"{name}_count", F.count(v)),
            (f"{name}_min", F.min(v)),
            (f"{name}_max", F.max(v)),
            (f"{name}_avg", F.avg(v)),
            (f"{name}_sum", F.sum(v)),
        ]
    if kind == "extended_stats":
        # stats + sum_of_squares/variance/std_deviation (ES population
        # semantics). Sums run in LONG (exact to 2^63 — the field
        # contract is integral, like every float-sensitive agg here);
        # the derived doubles are a fixed two-division op sequence,
        # E[x²] − E[x]², reproduced verbatim in the oracle SQL.
        vl = v.cast("long")
        cnt = F.count(v)
        s = F.sum(vl)
        soq = F.sum(vl * vl)
        var = soq / cnt - (s / cnt) * (s / cnt)
        return [
            (f"{name}_count", cnt),
            (f"{name}_min", F.min(v)),
            (f"{name}_max", F.max(v)),
            (f"{name}_avg", s / cnt),
            (f"{name}_sum", s),
            (f"{name}_sum_of_squares", soq),
            (f"{name}_variance", var),
            (f"{name}_std_deviation", F.sqrt(var)),
        ]
    if kind == "percentile_ranks":
        # ES inverse percentiles: % of observed values ≤ v — exact
        # (two counts + one division + one multiply), not t-digest
        return [
            (
                f"{name}_r{str(vv).replace('.', '_')}",
                F.count(F.when(v <= F.lit(vv), 1)) / F.count(v) * F.lit(100.0),
            )
            for vv in body["values"]
        ]
    if kind == "percentiles":
        pcts = body.get("percents", [1, 5, 25, 50, 75, 95, 99])
        return [
            (
                f"{name}_p{str(p).replace('.', '_')}",
                F.percentile(v, F.lit(float(p) / 100.0)),
            )
            for p in pcts
        ]
    raise ValueError(f"unsupported metric agg: {kind}")


_BUCKET_KINDS = ("terms", "date_histogram", "histogram")
# ES pipeline aggs: post-process a parent bucket SERIES (sibling
# metric or _count referenced by buckets_path) with an ordered window
_PIPELINE_KINDS = (
    "cumulative_sum",
    "derivative",
    "serial_diff",
    "moving_fn",
    "bucket_script",
    "bucket_selector",
    "avg_bucket",
    "sum_bucket",
    "min_bucket",
    "max_bucket",
    "stats_bucket",
    "percentiles_bucket",
    "bucket_sort",
)
# moving_fn scripts the reference surface would pass through to ES
# (storage.go:212-257 forwards arbitrary DSL) — the stock
# MovingFunctions library entries that reduce a window to a scalar
_MOVING_FNS = {
    "MovingFunctions.unweightedAvg": F.avg,
    "MovingFunctions.sum": F.sum,
    "MovingFunctions.max": F.max,
    "MovingFunctions.min": F.min,
}
_SIBLING_FNS = {
    "avg_bucket": F.avg,
    "sum_bucket": F.sum,
    "min_bucket": F.min,
    "max_bucket": F.max,
}

_SCRIPT_OK = re.compile(r"^[\w\s.+\-*/()><=!&|%,']*$")


def _bucket_script_expr(body: dict, resolve) -> Column:
    """Compile an ES bucket_script/bucket_selector ``script`` — an
    arithmetic/boolean expression over ``params.<var>`` references,
    each var bound by ``buckets_path`` to a sibling series column —
    into a Spark SQL expression over the aggregated bucket row.
    Painless's operator subset used in scripts (+-*/%, comparisons,
    && || !) maps 1:1 onto SQL once params are substituted."""
    script = body["script"]
    if not _SCRIPT_OK.match(script):
        raise ValueError(f"unsupported script syntax: {script!r}")
    paths = body["buckets_path"]
    if not isinstance(paths, dict):
        raise ValueError("bucket_script buckets_path must be a dict")
    # longest names first so params.ab never matches inside params.abc
    for var in sorted(paths, key=len, reverse=True):
        script = script.replace(f"params.{var}", f"`{resolve(paths[var])}`")
    script = script.replace("&&", " AND ").replace("||", " OR ")
    return F.expr(script)


def _terms_order(body: dict, prefix: str = "") -> list[Column]:
    """ES terms-agg ordering: default (doc_count desc, key asc), or an
    explicit ``order`` entry — ``{"_key": "asc"}``, ``{"_count":
    "desc"}``, or a single-valued metric sub-agg name. Key asc always
    breaks ties for determinism."""
    order = body.get("order")
    if not order:
        return [F.desc(f"{prefix}doc_count"), F.asc(f"{prefix}key")]
    ((target, direction),) = order.items()
    col = {
        "_key": f"{prefix}key",
        "_count": f"{prefix}doc_count",
    }.get(target, f"{prefix}{target}")
    d = F.asc if str(direction).lower() == "asc" else F.desc
    return [d(col), F.asc(f"{prefix}key")]


def _terms_include_exclude(df: DataFrame, body: dict) -> DataFrame:
    """ES terms-agg ``include``/``exclude``: anchored regexes (ES
    matches the WHOLE term) deciding which keys may bucket. Row-side
    filter, so excluded keys never reach the aggregation shuffle."""
    field = body["field"]
    inc, exc = body.get("include"), body.get("exclude")
    if inc is not None:
        if isinstance(inc, (list, tuple)):  # exact-values form
            df = df.filter(F.col(field).isin(list(inc)))
        else:
            df = df.filter(F.col(field).rlike(f"^(?:{inc})$"))
    if exc is not None:
        if isinstance(exc, (list, tuple)):
            df = df.filter(~F.col(field).isin(list(exc)))
        else:
            df = df.filter(~F.col(field).rlike(f"^(?:{exc})$"))
    return df


_FIXED_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400}


def _fixed_interval_seconds(spec: str) -> int:
    """ES fixed_interval strings — "45s", "30m", "3h", "7d"."""
    unit = spec[-1]
    if unit not in _FIXED_UNITS:
        raise ValueError(f"unsupported fixed_interval: {spec!r}")
    return int(spec[:-1]) * _FIXED_UNITS[unit]


def _bucket_key(kind: str, body: dict) -> Column:
    if kind == "terms":
        key = F.col(body["field"])
        if "missing" in body:
            # ES terms `missing`: null-field docs bucket under the
            # stand-in value instead of being skipped
            key = F.coalesce(key, F.lit(body["missing"]))
        return key
    if kind == "date_histogram":
        if "fixed_interval" in body:
            s = _fixed_interval_seconds(body["fixed_interval"])
            return F.timestamp_seconds(
                F.floor(
                    F.unix_timestamp(
                        F.col(body["field"]).cast("timestamp")
                    ) / s
                )
                * F.lit(s)
            )
        interval = body.get("calendar_interval", "day")
        return F.date_trunc(interval, F.col(body["field"]))
    # histogram: numeric key floor((value−offset)/interval)*interval
    # + offset (ES shape; offset defaults to 0)
    interval = float(body["interval"])
    offset = float(body.get("offset", 0.0))
    return (
        F.floor((F.col(body["field"]) - F.lit(offset)) / F.lit(interval))
        * F.lit(interval)
        + F.lit(offset)
    ).cast("double")


def _split_subaggs(spec: dict) -> tuple[list[tuple[str, str, dict]], list]:
    """spec["aggs"] → ([(name, bucket_kind, bucket_spec)], [metric
    Columns]); at most one nested bucket agg (one level, the ES shape
    the reference surface exercises)."""
    nested: list[tuple[str, str, dict]] = []
    metrics: list = []
    for sub_name, sub in (spec.get("aggs") or {}).items():
        kind = next(k for k in sub if k != "aggs")
        if kind in _BUCKET_KINDS:
            nested.append((sub_name, kind, sub))
        else:
            metrics.extend(
                c.alias(n) for n, c in _metric_cols(kind, sub_name, sub[kind])
            )
    if len(nested) > 1:
        raise ValueError("at most one nested bucket agg supported")
    return nested, metrics


def _fill_histogram(buckets: DataFrame, body: dict) -> DataFrame:
    """ES histogram default (min_doc_count=0): every interval bucket
    between the data min and max key appears, empty ones with
    doc_count 0; ``extended_bounds`` {min,max} widens the domain past
    the data, ``min_doc_count`` > 0 drops sparse buckets after the
    fill (downstream pipeline aggs then see the SURVIVING series —
    ES applies min_doc_count at bucket construction too). One 1-row
    bounds aggregate + a sequence explode — no extra scan of the
    data."""
    interval = float(body["interval"])
    offset = float(body.get("offset", 0.0))
    idx = lambda c: F.floor((c - F.lit(offset)) / F.lit(interval))
    lo_c, hi_c = idx(F.min("key")), idx(F.max("key"))
    ext = body.get("extended_bounds")
    if ext is not None:
        lo_e = idx(F.lit(float(ext["min"])))
        hi_e = idx(F.lit(float(ext["max"])))
        lo_c = F.coalesce(F.least(lo_c, lo_e), lo_e)
        hi_c = F.coalesce(F.greatest(hi_c, hi_e), hi_e)
    bounds = buckets.agg(
        lo_c.cast("long").alias("_lo"), hi_c.cast("long").alias("_hi")
    )
    domain = bounds.select(
        F.explode(F.sequence("_lo", "_hi")).alias("_i")
    ).select(
        (F.col("_i") * F.lit(interval) + F.lit(offset))
        .cast("double")
        .alias("key")
    )
    filled = domain.join(buckets, "key", "left")
    filled = filled.withColumn("doc_count", F.coalesce("doc_count", F.lit(0)))
    min_dc = int(body.get("min_doc_count", 0))
    if min_dc > 0:
        filled = filled.filter(F.col("doc_count") >= min_dc)
    return filled


def _conditional_buckets(
    df: DataFrame, conds: list[tuple[str, Column]], spec: dict
) -> DataFrame:
    """Shared engine for the bucket kinds a groupBy can't express
    (`range`, `filters`): buckets defined by arbitrary — possibly
    overlapping — predicates, every bucket emitted even when empty.
    One conditional-aggregation pass (per bucket a filtered count +
    filtered metric sub-aggs), unpivoted to one row per bucket in the
    declared order. Single scan, 1-row shuffle."""
    subs = list((spec.get("aggs") or {}).items())
    agg_cols = []
    for i, (_key, cond) in enumerate(conds):
        agg_cols.append(F.count(F.when(cond, 1)).alias(f"_dc_{i}"))
        for sub_name, sub in subs:
            (mk, mb), = sub.items()
            agg_cols.extend(
                c.alias(f"_m_{i}_{n}")
                for n, c in _metric_cols(
                    mk, sub_name, mb, value=F.when(cond, F.col(mb["field"]))
                )
            )
    sub_names = [
        n
        for sub_name, sub in subs
        for n, _c in _metric_cols(
            next(iter(sub)), sub_name, sub[next(iter(sub))]
        )
    ]
    one = df.agg(*agg_cols)
    rows = [
        F.struct(
            F.lit(i).alias("bucket_order"),
            F.lit(key).alias("key"),
            F.col(f"_dc_{i}").alias("doc_count"),
            *[F.col(f"_m_{i}_{sn}").alias(sn) for sn in sub_names],
        )
        for i, (key, _cond) in enumerate(conds)
    ]
    return (
        one.select(F.explode(F.array(*rows)).alias("b"))
        .select("b.*")
        .orderBy("bucket_order")
        .drop("bucket_order")
    )


def _range_agg(df: DataFrame, body: dict, spec: dict) -> DataFrame:
    """ES `range` bucket agg: explicit [from, to) buckets, possibly
    overlapping — a doc lands in EVERY matching range, and every
    range emits a bucket even when empty. See
    :func:`_conditional_buckets` for the plan shape."""
    field = body["field"]
    conds = []
    for r in body["ranges"]:
        frm, to = r.get("from"), r.get("to")
        cond = F.lit(True)
        if frm is not None:
            cond = cond & (F.col(field) >= F.lit(frm))
        if to is not None:
            cond = cond & (F.col(field) < F.lit(to))
        key = r.get("key") or (
            f"{'*' if frm is None else frm}-{'*' if to is None else to}"
        )
        conds.append((key, cond))
    return _conditional_buckets(df, conds, spec)


def _date_range_agg(df: DataFrame, body: dict, spec: dict) -> DataFrame:
    """ES `date_range` bucket agg: [from, to) buckets over a
    date/timestamp field, bounds given as ISO strings, declared order,
    empty buckets kept — the `range` agg with timestamp bounds. Same
    single-scan conditional-aggregation plan."""
    field = body["field"]
    conds = []
    for r in body["ranges"]:
        frm, to = r.get("from"), r.get("to")
        cond = F.lit(True)
        if frm is not None:
            cond = cond & (F.col(field) >= F.to_timestamp(F.lit(frm)))
        if to is not None:
            cond = cond & (F.col(field) < F.to_timestamp(F.lit(to)))
        key = r.get("key") or (
            f"{'*' if frm is None else frm}-{'*' if to is None else to}"
        )
        conds.append((key, cond))
    return _conditional_buckets(df, conds, spec)


def _rare_terms_agg(df: DataFrame, body: dict, spec: dict) -> DataFrame:
    """ES `rare_terms` bucket agg: the long-tail complement of
    `terms` — buckets whose doc_count is at most ``max_doc_count``
    (default 1), ascending by count then key (ES's ordering). The
    plan is the same single groupBy as terms; the rarity cut is a
    HAVING on the aggregated (≈ #distinct-keys row) side, so no
    second scan — and unlike ES's CuckooFilter approximation this is
    exact."""
    nested, metrics = _split_subaggs(spec)
    if nested:
        raise ValueError("rare_terms supports metric sub-aggs only")
    maxc = int(body.get("max_doc_count", 1))
    # ES skips docs missing the field — no null bucket
    out = (
        df.filter(F.col(body["field"]).isNotNull())
        .groupBy(F.col(body["field"]).alias("key"))
        .agg(F.count("*").alias("doc_count"), *metrics)
    )
    return out.filter(F.col("doc_count") <= maxc).orderBy(
        F.asc("doc_count"), F.asc("key")
    )


def _multi_terms_agg(df: DataFrame, body: dict, spec: dict) -> DataFrame:
    """ES `multi_terms` bucket agg: terms over a TUPLE of fields —
    one groupBy on the composite key, doc_count-desc-then-keys-asc
    ordering, top ``size`` buckets. Emits one column per source field
    (the flat-table form of ES's key array) plus doc_count and any
    metric sub-aggs."""
    nested, metrics = _split_subaggs(spec)
    if nested:
        raise ValueError("multi_terms supports metric sub-aggs only")
    fields = [t["field"] for t in body["terms"]]
    size = int(body.get("size", 10))
    # ES skips docs missing ANY of the source fields
    for f in fields:
        df = df.filter(F.col(f).isNotNull())
    out = df.groupBy(*fields).agg(F.count("*").alias("doc_count"), *metrics)
    return out.orderBy(
        F.desc("doc_count"), *[F.asc(f) for f in fields]
    ).limit(size)


def _filters_agg(df: DataFrame, body: dict, spec: dict) -> DataFrame:
    """ES `filters` bucket agg (named form): one bucket per named
    query clause, each clause ANY shape the bool compositor compiles
    (term/range/match/match_phrase/wildcard/query_string/nested
    bool/...). Match-referenced fields get their one-shot token
    columns exactly like bool_topk; buckets emit in declared order,
    empty included. See :func:`_conditional_buckets`."""
    vocabs: dict = {}
    named = {
        name: _expand_fuzzy_clauses(clause, df, vocabs)
        for name, clause in body["filters"].items()
    }
    for v in vocabs.values():
        v.unpersist()
    clauses = list(named.values())
    fields: list[str] = []
    _collect_match_fields(clauses, fields)
    tokcol = {f: f"_toks_{i}" for i, f in enumerate(fields)}
    proj = df.select(
        "*", *[tokens(f).alias(tokcol[f]) for f in fields]
    )
    conds = [
        (name, _compile_clause(clause, tokcol)[0])
        for name, clause in named.items()
    ]
    return _conditional_buckets(proj, conds, spec)


# ES auto_date_histogram rounding ladder: fixed sub-month intervals
# (label, seconds), then calendar month/quarter/year tiers
_ADH_FIXED = [
    ("1s", 1), ("5s", 5), ("10s", 10), ("30s", 30),
    ("1m", 60), ("5m", 300), ("10m", 600), ("30m", 1800),
    ("1h", 3600), ("3h", 10800), ("12h", 43200),
    ("1d", 86400), ("7d", 604800),
]


def _auto_date_histogram_agg(df: DataFrame, body: dict, spec: dict) -> DataFrame:
    """ES `auto_date_histogram`: picks the smallest ladder interval
    that fits the data span into at most ``buckets`` buckets, and
    reports the choice in a constant ``interval`` column (ES returns
    it in the response). The bounds probe is ONE 1-row aggregate
    (driver metadata, like the histogram fill); the rollup itself is
    a single epoch-floor groupBy — no second scan, no interval
    iteration over data."""
    field = body["field"]
    target = int(body.get("buckets", 10))
    nested, metrics = _split_subaggs(spec)
    if nested:
        raise ValueError("auto_date_histogram supports metric sub-aggs only")
    bounds = df.agg(
        F.min(F.unix_timestamp(F.col(field))).alias("lo"),
        F.max(F.unix_timestamp(F.col(field))).alias("hi"),
        F.min(F.year(F.col(field))).alias("ylo"),
        F.max(F.year(F.col(field))).alias("yhi"),
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    label, key = "1s", None
    if lo is not None:
        for name, iv in _ADH_FIXED:
            if hi // iv - lo // iv + 1 <= target:
                label = name
                key = F.timestamp_seconds(
                    F.floor(F.unix_timestamp(F.col(field)) / iv)
                    * F.lit(iv)
                )
                break
        else:
            for name, trunc in (("1M", "month"), ("3M", "quarter"),
                                ("1y", "year")):
                # conservative month-tier fit check via year span
                years = bounds["yhi"] - bounds["ylo"] + 1
                per_year = {"1M": 12, "3M": 4, "1y": 1}[name]
                if years * per_year <= target:
                    label = name
                    key = F.date_trunc(trunc, F.col(field))
                    break
            else:
                label = "100y"
                key = F.make_timestamp(
                    (F.floor(F.year(F.col(field)) / 100) * 100).cast("int"),
                    F.lit(1), F.lit(1), F.lit(0), F.lit(0), F.lit(0),
                )
    if key is None:  # empty input: any key expr yields zero rows
        key = F.col(field)
    out = df.groupBy(key.alias("key")).agg(
        F.count("*").alias("doc_count"), *metrics
    )
    return out.withColumn("interval", F.lit(label)).orderBy(F.asc("key"))


def _adjacency_matrix_agg(df: DataFrame, body: dict, spec: dict) -> DataFrame:
    """ES `adjacency_matrix` bucket agg: named filters → one bucket
    per filter plus one per pairwise INTERSECTION (key "a&b", names
    sorted, ES's separator default), empty buckets dropped (ES emits
    doc_count > 0 only). N filters → N + N·(N−1)/2 conditional
    aggregates in ONE scan — the pair conditions are just ANDs of the
    compiled single-filter predicates, so no self-join ever happens."""
    vocabs: dict = {}
    named = {
        name: _expand_fuzzy_clauses(clause, df, vocabs)
        for name, clause in body["filters"].items()
    }
    for v in vocabs.values():
        v.unpersist()
    clauses = list(named.values())
    fields: list[str] = []
    _collect_match_fields(clauses, fields)
    tokcol = {f: f"_toks_{i}" for i, f in enumerate(fields)}
    proj = df.select(
        "*", *[tokens(f).alias(tokcol[f]) for f in fields]
    )
    sep = body.get("separator", "&")
    compiled = {
        name: _compile_clause(clause, tokcol)[0]
        for name, clause in named.items()
    }
    names = sorted(compiled)
    conds = [(n, compiled[n]) for n in names]
    conds += [
        (f"{a}{sep}{b}", compiled[a] & compiled[b])
        for i, a in enumerate(names)
        for b in names[i + 1:]
    ]
    return _conditional_buckets(proj, conds, spec).filter(
        F.col("doc_count") > 0
    )


def _composite_agg(df: DataFrame, body: dict, spec: dict) -> DataFrame:
    """ES `composite` bucket agg: multi-source bucket tuples streamed
    in key order with `after`-keyset pagination — THE agg for paging
    an unbounded bucket space through bounded responses (the 100 TB
    shape: each page is one groupBy + a keyset filter, no global
    collect). ``sources`` is the ES list-of-{name: {terms|histogram|
    date_histogram: ...}} form; buckets order by the full key tuple
    ascending; ``after`` (name → value) resumes strictly after that
    tuple via one struct comparison. Metric sub-aggs per bucket."""
    sources = body["sources"]
    keys, names = [], []
    for srcdef in sources:
        ((nm, kd),) = srcdef.items()
        ((kkind, kbody),) = kd.items()
        keys.append(_bucket_key(kkind, kbody).alias(nm))
        names.append(nm)
    metrics = []
    for sub_name, sub in (spec.get("aggs") or {}).items():
        kind = next(iter(sub))
        metrics.extend(
            c.alias(n) for n, c in _metric_cols(kind, sub_name, sub[kind])
        )
    grouped = df.groupBy(*keys).agg(
        F.count("*").alias("doc_count"), *metrics
    )
    after = body.get("after")
    if after:
        cur = F.struct(*[F.col(n) for n in names])
        aft = F.struct(
            *[
                F.lit(after[n]).cast(grouped.schema[n].dataType).alias(n)
                for n in names
            ]
        )
        grouped = grouped.filter(cur > aft)
    return grouped.orderBy(*[F.asc(n) for n in names]).limit(
        int(body.get("size", 10))
    )


def es_aggs(df: DataFrame, aggs: dict) -> DataFrame:
    """ES `aggs` body → DataFrame aggregation (the search manager's
    arbitrary-aggregations passthrough, reference
    internal/storage/storage.go:364-415 / search_manager.go:43-55).

    Supported: one top-level bucket agg — ``terms`` (size, ordered by
    doc_count desc then key asc, ES's default), ``date_histogram``
    (calendar_interval, ordered by key) or ``histogram`` (fixed
    numeric interval, empty buckets emitted with doc_count 0, ES's
    min_doc_count=0 default) or ``range``/``date_range`` (explicit,
    possibly overlapping [from, to) buckets in declared order, empty
    buckets kept — see :func:`_range_agg`; metric sub-aggs only) or
    ``rare_terms``/``multi_terms``/``missing`` (long-tail, composite-
    key, and null-slice buckets) — with optional metric sub-aggs
    (avg/sum/min/max/value_count/cardinality, plus the multi-valued
    `stats` → <name>_count/min/max/avg/sum, `extended_stats` (adds
    sum_of_squares/variance/std_deviation over exact LONG sums), and
    `percentiles` → <name>_pN columns — see :func:`_metric_cols`)
    and at most ONE
    nested bucket sub-agg (one level). A nested bucket flattens to one row
    per (outer, inner) bucket: columns ``key, doc_count, <outer
    metrics...>, <name>_key, <name>_doc_count, <name>_<metric>...`` —
    outer ES ordering first, inner ordering within each outer bucket,
    per-level ``size`` limits (inner terms size via a per-outer-bucket
    rank, one window over the already-aggregated buckets). Or one
    bare metric agg. Deterministic orderings throughout.
    """
    if len(aggs) != 1:
        raise ValueError("exactly one top-level agg expected")
    name, spec = next(iter(aggs.items()))
    kind = next(k for k in spec if k != "aggs")
    body = spec[kind]
    if kind == "range":
        return _range_agg(df, body, spec)
    if kind == "date_range":
        return _date_range_agg(df, body, spec)
    if kind == "filters":
        return _filters_agg(df, body, spec)
    if kind == "composite":
        return _composite_agg(df, body, spec)
    if kind == "adjacency_matrix":
        return _adjacency_matrix_agg(df, body, spec)
    if kind == "auto_date_histogram":
        return _auto_date_histogram_agg(df, body, spec)
    if kind == "missing":
        # ES missing agg: ONE bucket counting docs where the field is
        # null, metric sub-aggs over that slice — a 1-condition
        # conditional-aggregation pass (same plan as range/filters)
        return _conditional_buckets(
            df, [(name, F.col(body["field"]).isNull())], spec
        )
    if kind == "rare_terms":
        return _rare_terms_agg(df, body, spec)
    if kind == "multi_terms":
        return _multi_terms_agg(df, body, spec)
    if kind not in _BUCKET_KINDS:
        # bare metric agg, size:0 style
        return df.agg(
            *[c.alias(n) for n, c in _metric_cols(kind, name, body)]
        )

    # top_hits sub-aggs attach per-bucket documents, not metrics —
    # split them off before the metric/nested-bucket scan
    top_hits = {
        n: sub["top_hits"]
        for n, sub in (spec.get("aggs") or {}).items()
        if next(iter(sub)) == "top_hits"
    }
    if top_hits:
        spec = {
            **spec,
            "aggs": {
                n: sub
                for n, sub in spec["aggs"].items()
                if next(iter(sub)) != "top_hits"
            },
        }
    # pipeline sub-aggs post-process the bucket series — split them
    # off too (ES parents them on histogram-family aggs only)
    pipelines = {
        n: sub
        for n, sub in (spec.get("aggs") or {}).items()
        if next(iter(sub)) in _PIPELINE_KINDS
    }
    if pipelines:
        if kind not in ("histogram", "date_histogram"):
            raise ValueError(
                "pipeline aggs require a histogram/date_histogram parent"
            )
        spec = {
            **spec,
            "aggs": {
                n: sub
                for n, sub in spec["aggs"].items()
                if next(iter(sub)) not in _PIPELINE_KINDS
            },
        }
    nested, metrics = _split_subaggs(spec)
    if top_hits and nested:
        raise ValueError("top_hits and a nested bucket agg are exclusive")
    if len(top_hits) > 1:
        raise ValueError("at most one top_hits sub-agg supported")
    key = _bucket_key(kind, body).alias("key")

    if kind == "terms":
        # ES include/exclude: anchored regexes over the TERM — applied
        # scan-side (filtering rows whose key won't bucket), so the
        # shuffle only carries admissible keys
        df = _terms_include_exclude(df, body)
    outer = df.groupBy(key).agg(F.count("*").alias("doc_count"), *metrics)
    if kind == "histogram":
        outer = _fill_histogram(outer, body)
    if kind == "terms":
        min_dc = int(body.get("min_doc_count", 1))
        if min_dc > 1:
            outer = outer.filter(F.col("doc_count") >= min_dc)
        outer = outer.orderBy(*_terms_order(body)).limit(
            int(body.get("size", 10))
        )

    if pipelines:
        # one ordered window over the ALREADY-AGGREGATED bucket series
        # (≈ #buckets rows — driver-scale, not data-scale); selectors
        # filter LAST so every script/moving column sees the full
        # series regardless of dict order
        w = Window.orderBy("key")
        _resolve = lambda p: "doc_count" if p == "_count" else p
        selectors: list[Column] = []
        bucket_sort_body: dict | None = None
        for pname, sub in pipelines.items():
            (pkind, pbody), = sub.items()
            if pkind == "bucket_sort":
                if bucket_sort_body is not None:
                    raise ValueError("at most one bucket_sort supported")
                bucket_sort_body = pbody
                continue
            if pkind == "bucket_selector":
                selectors.append(_bucket_script_expr(pbody, _resolve))
                continue
            if pkind == "bucket_script":
                outer = outer.withColumn(
                    pname, _bucket_script_expr(pbody, _resolve)
                )
                continue
            whole = w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            if pkind in _SIBLING_FNS:
                # ES sibling agg: ONE scalar over the whole series
                # (gap_policy=skip ≡ SQL null-skipping aggregates),
                # emitted as a constant column on every bucket row —
                # the flat-table encoding of ES's parent-level value
                outer = outer.withColumn(
                    pname,
                    _SIBLING_FNS[pkind](
                        _resolve(pbody["buckets_path"])
                    ).over(whole),
                )
                continue
            if pkind == "stats_bucket":
                src = _resolve(pbody["buckets_path"])
                for comp, fn in (("count", F.count), ("min", F.min),
                                 ("max", F.max), ("avg", F.avg),
                                 ("sum", F.sum)):
                    outer = outer.withColumn(
                        f"{pname}_{comp}", fn(src).over(whole)
                    )
                continue
            if pkind == "percentiles_bucket":
                src = _resolve(pbody["buckets_path"])
                for p in pbody.get("percents", [1, 5, 25, 50, 75, 95, 99]):
                    outer = outer.withColumn(
                        f"{pname}_p{str(p).replace('.', '_')}",
                        F.percentile(src, F.lit(float(p) / 100.0)).over(
                            whole
                        ),
                    )
                continue
            src = _resolve(pbody["buckets_path"])
            if pkind == "cumulative_sum":
                outer = outer.withColumn(
                    pname,
                    F.sum(src).over(
                        w.rowsBetween(Window.unboundedPreceding, 0)
                    ),
                )
            elif pkind == "moving_fn":
                # ES window semantics: shift=0 → the window is the
                # ``window`` buckets BEFORE the current one; shift
                # slides it right (shift=1 ends the window at the
                # current bucket, shift=window//2 centers it)
                width = int(pbody["window"])
                shift = int(pbody.get("shift", 0))
                fn = _MOVING_FNS.get(pbody.get("script"))
                if fn is None:
                    raise ValueError(
                        f"unsupported moving_fn script: {pbody.get('script')!r}"
                    )
                outer = outer.withColumn(
                    pname,
                    fn(src).over(
                        w.rowsBetween(-width + shift, -1 + shift)
                    ),
                )
            elif pkind == "serial_diff":
                # value minus the value `lag` buckets earlier (ES
                # seasonal differencing; lag defaults to 1)
                outer = outer.withColumn(
                    pname,
                    F.col(src)
                    - F.lag(src, int(pbody.get("lag", 1))).over(w),
                )
            else:  # derivative: first bucket has no predecessor → null
                outer = outer.withColumn(
                    pname, F.col(src) - F.lag(src).over(w)
                )
        for cond in selectors:
            outer = outer.filter(cond)
        if bucket_sort_body is not None:
            # ES bucket_sort: re-order the (already filtered) bucket
            # series by sibling-series columns and truncate with
            # from/size — runs LAST among pipelines (ES's stated
            # ordering), over the ≈ #buckets-row aggregated frame. The
            # sorted order IS the response order, so the key re-sort
            # below is bypassed. _key auto-tiebreak keeps ties stable.
            if top_hits or nested:
                raise ValueError(
                    "bucket_sort with top_hits/nested buckets unsupported"
                )
            bs_order: list[Column] = []
            for item in bucket_sort_body.get("sort", ()):
                ((f, d),) = item.items()
                d = d.get("order", "asc") if isinstance(d, dict) else d
                col = {"_key": "key", "_count": "doc_count"}.get(f, f)
                bs_order.append(
                    F.asc(col) if str(d).lower() == "asc" else F.desc(col)
                )
            bs_order.append(F.asc("key"))
            frm = int(bucket_sort_body.get("from", 0))
            bsz = bucket_sort_body.get("size")
            bw = Window.orderBy(*bs_order)
            outer = outer.withColumn("_bs_rk", F.row_number().over(bw))
            outer = outer.filter(F.col("_bs_rk") > frm)
            if bsz is not None:
                outer = outer.filter(F.col("_bs_rk") <= frm + int(bsz))
            return outer.drop("_bs_rk").orderBy(*bs_order)

    if top_hits:
        # ES top_hits: the top documents of each bucket by the given
        # sort — one window over the bucket-keyed rows (row_number,
        # _source columns appended as the deterministic tie-break),
        # flattened to one row per (bucket, hit)
        (hname, hspec), = top_hits.items()
        src = list(hspec["_source"])
        order = [
            (F.asc if str(d).lower() == "asc" else F.desc)(f)
            for item in hspec.get("sort", ())
            for f, d in item.items()
        ] + [F.asc(c) for c in src]
        w = Window.partitionBy("key").orderBy(*order)
        hits = (
            df.select(key, *src)
            .withColumn(f"{hname}_rank", F.row_number().over(w))
            .filter(F.col(f"{hname}_rank") <= int(hspec.get("size", 3)))
        )
        joined = outer.join(hits, "key", "left")
        outer_order = (
            _terms_order(body) if kind == "terms" else [F.asc("key")]
        )
        return joined.orderBy(*outer_order, F.asc(f"{hname}_rank"))

    if not nested:
        if kind == "terms":
            return outer
        return outer.orderBy(F.asc("key"))

    (iname, ikind, ispec), = nested
    ibody = ispec[ikind]
    _inner_nested, imetrics = _split_subaggs(ispec)
    if _inner_nested:
        raise ValueError("bucket nesting supported one level deep")
    ikey = _bucket_key(ikind, ibody).alias(f"{iname}_key")
    inner_df = (
        _terms_include_exclude(df, ibody) if ikind == "terms" else df
    )
    inner = inner_df.groupBy(key, ikey).agg(
        F.count("*").alias(f"{iname}_doc_count"), *imetrics
    )
    # namespace the inner metric aliases under the sub-agg name
    for m_name in [c for c in inner.columns
                   if c not in ("key", f"{iname}_key", f"{iname}_doc_count")]:
        inner = inner.withColumnRenamed(m_name, f"{iname}_{m_name}")
    if ikind == "terms":
        min_dc = int(ibody.get("min_doc_count", 1))
        if min_dc > 1:
            inner = inner.filter(F.col(f"{iname}_doc_count") >= min_dc)
        w = Window.partitionBy("key").orderBy(*_terms_order(ibody, f"{iname}_"))
        inner = (
            inner.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= int(ibody.get("size", 10)))
            .drop("_rk")
        )
    joined = outer.join(inner, "key", "left")
    outer_order = (
        _terms_order(body) if kind == "terms" else [F.asc("key")]
    )
    inner_order = (
        _terms_order(ibody, f"{iname}_") if ikind == "terms"
        else [F.asc(f"{iname}_key")]
    )
    return joined.orderBy(*outer_order, *inner_order)


def significant_terms(
    df: DataFrame,
    query: str,
    text_col: str = "content",
    id_col: str = "id",
    k: int = 10,
    min_doc_count: int = 3,
) -> DataFrame:
    """ES `significant_terms` aggregation with the default JLH score:
    terms unusually frequent in the FOREGROUND (docs matching the
    analyzed `query`, OR semantics) vs the BACKGROUND (whole index).

      fgPct = fg_count/|fg|,  bgPct = bg_count/|corpus|
      JLH   = (fgPct - bgPct) * (fgPct / bgPct)   if fgPct > bgPct

    Returns (term, fg_count, bg_count, score) top-k by
    (score DESC, term ASC), score rounded to 6 dp; terms below
    `min_doc_count` foreground docs are dropped (the ES default
    min_doc_count=3 semantics).

    Scale shape: ONE scan — per-doc distinct terms via
    array_distinct in the projection (no doc-term distinct shuffle),
    foreground membership is a codegen'd flag, counts are one
    conditional aggregation keyed on the term (high cardinality,
    balanced); the two corpus scalars broadcast back as a 1-row
    cross join. Entirely JVM-side.
    """
    terms = _terms(query)
    toked = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(text_col)).alias("_toks"),
    )
    is_fg = F.lit(False)
    for t in terms:
        is_fg = is_fg | F.array_contains("_toks", F.lit(t))
    base = toked.withColumn("_fg", is_fg.cast("int"))
    sizes = base.agg(
        F.count("*").cast("double").alias("_n_all"),
        F.sum("_fg").cast("double").alias("_n_fg"),
    )
    tc = (
        base.select("_fg", F.explode("_toks").alias("term"))
        .groupBy("term")
        .agg(
            F.count("*").alias("bg_count"),
            F.sum("_fg").alias("fg_count"),
        )
    )
    j = tc.crossJoin(F.broadcast(sizes))
    fgp = F.col("fg_count") / F.col("_n_fg")
    bgp = F.col("bg_count") / F.col("_n_all")
    score = F.when(
        fgp > bgp, F.round((fgp - bgp) * (fgp / bgp), 6)
    ).otherwise(F.lit(0.0))
    return (
        j.select("term", "fg_count", "bg_count", score.alias("score"))
        .filter(
            (F.col("fg_count") >= F.lit(int(min_doc_count)))
            & (F.col("score") > 0)
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(k)
    )


__all__.append("significant_terms")


def percolate(
    df: DataFrame,
    queries: list[tuple],
    text_col: str = "content",
    id_col: str = "id",
) -> DataFrame:
    """ES percolator: match DOCUMENTS against REGISTERED QUERIES.

    ES stores `percolator`-typed queries in an index and `percolate`
    runs each incoming document through all of them (the alerting /
    saved-search primitive). The reference's search surface is plain
    `match` queries (/root/reference/internal/api/api.go — the only
    query shape it emits), so registered queries are (query_id,
    query_string, operator) triples with ES `match` semantics:
    operator "or" matches when ANY analyzed term occurs, "and" when
    EVERY term occurs.

    Returns (query_id, id, n_matched) — one row per (registered
    query, matching document), n_matched = how many of the query's
    distinct analyzed terms the document contains.

    Scale shape: the classic inverted formulation, scaling with BOTH
    corpus size and registry size (ES percolator indexes thousands of
    queries): documents are tokenized once and exploded to DISTINCT
    (doc, term) pairs; the query-term table (Σ|terms| rows) broadcasts
    onto that stream; one (id, query_id) groupBy with map-side partial
    counts applies the and/or gate. No per-query corpus scan — adding
    a registered query costs broadcast rows, not a pass.
    """
    spark = df.sparkSession
    rows = []
    for entry in queries:
        qid, qs = entry[0], entry[1]
        op = entry[2] if len(entry) > 2 else "or"
        if op not in ("or", "and"):
            raise ValueError(f"operator must be or|and, got {op!r}")
        terms = sorted(set(_terms(qs)))
        for t in terms:
            rows.append((qid, t, len(terms), op))
    qdf = spark.createDataFrame(
        rows, "query_id string, term string, n_terms int, operator string"
    )
    pairs = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("term"),
    )
    return (
        pairs.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "id", "n_terms", "operator")
        .agg(F.count("*").alias("n_matched"))
        .filter(
            (F.col("operator") == "or")
            | (F.col("n_matched") == F.col("n_terms"))
        )
        .select("query_id", "id", "n_matched")
    )


__all__.append("percolate")


def termvectors(
    df: DataFrame,
    doc_ids: list,
    text_col: str = "content",
    id_col: str = "id",
) -> DataFrame:
    """ES `_termvectors` (term_statistics=true): for each requested
    document, every analyzed term with its in-doc frequency plus the
    corpus-wide statistics ES reports — doc_freq (documents containing
    the term) and ttf (total term frequency across the index).

    Returns (id, term, term_freq, doc_freq, ttf), one row per
    (requested doc, distinct term).

    Scale shape: one corpus scan → (id, term) counts with map-side
    combine; term-level stats fold from that (vocab-row output, second
    map-side-combined groupBy). The requested docs' rows (a handful)
    broadcast onto the stats table, so the per-request cost after the
    two index-build aggregations is a broadcast-hash join over
    vocab-sized input — exactly the shape of serving `_termvectors`
    from a prebuilt index at 100 TB.
    """
    per = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count("*").alias("term_freq"))
    )
    stats = per.groupBy("term").agg(
        F.sum("term_freq").alias("ttf"),
        F.count("*").alias("doc_freq"),
    )
    sel = per.filter(F.col("id").isin(list(doc_ids)))
    return F.broadcast(sel).join(stats, "term").select(
        "id", "term", "term_freq", "doc_freq", "ttf"
    )


__all__.append("termvectors")


def build_postings(
    df: DataFrame, text_col: str = "content", id_col: str = "id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The persisted inverted index behind index-time BM25:

      postings   (term, id, tf, dl)   — one row per distinct doc-term
      term_stats (term, df)           — document frequency
      corpus     (n_docs, avgdl)      — one row

    In production the postings table is written ``partitionBy(term
    bucket)`` so a query reads ONLY its terms' partitions — the
    100 TB search plan (corpus never rescanned per query); these
    frames are the exact tables that layout persists. dl rides on
    every posting so scoring never joins back to the corpus.

    Plan: one tokenize pass, one (id, term) rollup for tf, one term
    rollup for df, one 1-row agg — all map-side-combining."""
    base = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_toks")
    ).select("id", F.size("_toks").alias("dl"), F.col("_toks"))
    toked = base.select("id", "dl", F.explode("_toks").alias("term"))
    postings = toked.groupBy("term", "id", "dl").agg(
        F.count("*").cast("long").alias("tf")
    ).select("term", "id", "tf", "dl")
    term_stats = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    # corpus stats come from the PRE-explode frame: a zero-token doc
    # has no postings but still counts toward n_docs and avgdl
    # (bm25_topk's contract — it averages over every document)
    corpus = base.agg(
        F.count("*").cast("long").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return postings, term_stats, corpus


def bm25_index_topk(
    postings: DataFrame,
    term_stats: DataFrame,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    prune: bool = True,
    pruned_acc=None,
) -> DataFrame:
    """BM25 top-k over a :func:`build_postings` index — EXACTLY
    :func:`bm25_topk`'s result (same score expression, same per-term
    fold order via a term-index-sorted sequential fold, same
    round/filter/tie-break) from a plan that reads only the query
    terms' postings, with MaxScore pruning (Turtle & Flood 1995, batch
    form) cutting the docs that get fully scored:

      1. per-term upper bounds UB_t = max posting contribution (an agg
         over query-term postings only);
      2. seed threshold θ = k-th exact score among the docs posted
         under the highest-UB term's top-k contributions;
      3. a doc whose Σ_{t present} UB_t < θ − 10⁻⁶ can never enter the
         top k (strict margin of one 6dp rounding quantum keeps the
         prune LOSSLESS under IEEE reassociation), so only survivors
         are scored and sorted.

    The two driver hops (UB list, θ) move ≤ |terms| + 1 scalars. At
    10^10 docs the win is structural: per query, term-partition-pruned
    posting scans instead of a corpus pass, and a top-k sort over the
    pruned survivor set. ``pruned_acc`` (optional accumulator) counts
    docs skipped by the θ-prune — the observability hook the tests
    assert on."""
    terms = _terms(query)
    spark = postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "id long, score double")
    p = postings.filter(F.col("term").isin(terms))
    st = term_stats.filter(F.col("term").isin(terms))
    contrib = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf").cast("double")
        / (
            F.col("tf").cast("double")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    # one (_ti, term) row per query-term OCCURRENCE: a duplicated
    # query term contributes once per occurrence, exactly like
    # bm25_topk's per-position fold (the ES match semantics)
    terms_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(terms)], "_ti int, term string"
    )
    scored_terms = (
        p.join(F.broadcast(st), "term")
        .join(F.broadcast(corpus))
        .join(F.broadcast(terms_df), "term")
        .select("id", "_ti", contrib.alias("_c"))
    )
    if prune:
        ubs = {
            r["_ti"]: r["ub"]
            for r in scored_terms.groupBy("_ti").agg(F.max("_c").alias("ub")).collect()
        }
        if ubs:
            seed_ti = max(ubs, key=lambda i: (ubs[i], -i))
            seed_ids = [
                r["id"]
                for r in scored_terms.filter(F.col("_ti") == seed_ti)
                .orderBy(F.desc("_c"), F.asc("id"))
                .limit(k)
                .collect()
            ]
            seed_scores = _fold_scores(
                scored_terms.filter(F.col("id").isin(seed_ids))
            )
            seeds = sorted(
                (r["score"] for r in seed_scores.collect()), reverse=True
            )
            theta = seeds[k - 1] if len(seeds) >= k else 0.0
            ubarr = F.array(
                *[F.lit(float(ubs.get(i, 0.0))) for i in range(len(terms))]
            )
            per_doc = scored_terms.groupBy("id").agg(
                F.array_sort(F.collect_list(F.struct("_ti", "_c"))).alias("_a"),
                F.collect_set("_ti").alias("_ts"),
            )
            ub_sum = F.aggregate(
                F.col("_ts"),
                F.lit(0.0),
                lambda acc, i: acc + F.element_at(ubarr, i + 1),
            )
            tagged = per_doc.withColumn("_keep", ub_sum >= F.lit(theta - 1e-6))
            if pruned_acc is not None:
                tagged = tagged.withColumn(
                    "_keep", _count_pruned(pruned_acc)(F.col("_keep"))
                )
            survivors = tagged.filter(F.col("_keep")).select("id", "_a")
            scored = survivors.select(
                "id", F.round(_fold_col("_a"), 6).alias("score")
            )
        else:
            scored = _fold_scores(scored_terms)
    else:
        scored = _fold_scores(scored_terms)
    return (
        scored.filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def _fold_col(arr_col: str) -> Column:
    """Sequential IEEE fold of (term_index, contribution) structs in
    term order — bm25_topk's ((0 + c₀) + c₁) + … chain exactly
    (absent terms contribute +0.0 there, an IEEE no-op)."""
    return F.aggregate(
        F.col(arr_col), F.lit(0.0), lambda acc, s: acc + s._c
    )


def _fold_scores(scored_terms: DataFrame) -> DataFrame:
    return scored_terms.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("_ti", "_c"))).alias("_a")
    ).select("id", F.round(_fold_col("_a"), 6).alias("score"))


def _count_pruned(acc):
    # local import kept out of the module namespace; the explicit
    # returnType+evalType pair sidesteps `from __future__ import
    # annotations` turning the pd.Series hints into unresolvable strings
    import pandas as pd
    from pyspark.sql.types import BooleanType

    def tag(keep: "pd.Series") -> "pd.Series":
        acc.add(int((~keep).sum()))
        return keep

    tag.__annotations__ = {}
    return F.pandas_udf(tag, returnType=BooleanType())


__all__ += ["build_postings", "bm25_index_topk"]


def term_suggest(
    df: DataFrame,
    text: str,
    text_col: str = "content",
    size: int = 3,
    max_edits: int = 2,
    prefix_length: int = 1,
    min_word_length: int = 4,
    suggest_mode: str = "missing",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """ES ``term`` suggester (the spell-checker behind "did you
    mean"): per analyzed input term, up to ``size`` corpus-vocabulary
    corrections within ``max_edits``, scored like Lucene's
    DirectSpellChecker — score = 1 − distance/max(len) — and ordered
    (score DESC, freq DESC, suggestion ASC). Output
    (term, suggestion, score, freq). Plain Levenshtein, not Lucene's
    transposition variant — a transposition counts 2; the same
    documented divergence as :func:`fuzzy_expansions`, fixed
    identically in Spark and DuckDB.

    ``suggest_mode`` (the ES modes): ``missing`` suggests only for
    terms absent from the index, ``popular`` only corrections more
    frequent than the input term, ``always`` everything. Terms shorter
    than ``min_word_length`` are skipped (the ES default guard).

    Scale shape: ONE distinct-vocab aggregation (or a precomputed
    ``vocab`` (term, freq) index table), then an equi-join of the
    query terms on the ``prefix_length``-char prefix plus a ±max_edits
    length band BEFORE any distance is computed — the vocab never
    fans out per query term, and the result is ≤ terms × size rows."""
    if suggest_mode not in ("missing", "popular", "always"):
        raise ValueError(f"bad suggest_mode: {suggest_mode!r}")
    spark = df.sparkSession
    terms = [t for t in _terms(text) if len(t) >= min_word_length]
    if not terms:
        return spark.createDataFrame(
            [], "term string, suggestion string, score double, freq long"
        )
    if vocab is None:
        vocab = (
            df.select(F.explode(tokens(text_col)).alias("v"))
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("freq"))
        )
    qt = spark.createDataFrame([(t,) for t in terms], "term string")
    plen = prefix_length
    joined = qt.join(
        vocab,
        (F.substring("term", 1, plen) == F.substring("v", 1, plen))
        & (F.abs(F.length("v") - F.length("term")) <= max_edits)
        & (F.col("v") != F.col("term")),
    ).withColumn("_d", F.levenshtein("term", "v"))
    cand = joined.filter(F.col("_d") <= max_edits)
    if suggest_mode == "missing":
        present = vocab.select(F.col("v").alias("term"))
        cand = cand.join(present, "term", "left_anti")
    elif suggest_mode == "popular":
        tf = vocab.select(
            F.col("v").alias("term"), F.col("freq").alias("_tf")
        )
        cand = (
            cand.join(tf, "term", "left")
            .filter(F.col("freq") > F.coalesce(F.col("_tf"), F.lit(0)))
            .drop("_tf")
        )
    score = F.round(
        F.lit(1.0)
        - F.col("_d").cast("double")
        / F.greatest(F.length("term"), F.length("v")).cast("double"),
        6,
    )
    w = Window.partitionBy("term").orderBy(
        F.desc("score"), F.desc("freq"), F.asc("suggestion")
    )
    return (
        cand.select("term", F.col("v").alias("suggestion"), score.alias("score"), "freq")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= size)
        .drop("_rn")
    )


__all__.append("term_suggest")
