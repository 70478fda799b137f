"""Text analysis operators (SURVEY §2.8).

Everything is JVM-side built-ins (split/regexp/length/aggregate) — the
hot path of a 100 TB corpus scan must stay inside whole-stage codegen;
there is no Python in any of these.

Functions are factored so each returned Column can be reused in larger
projections (one scan computes all stats at once — never one scan per
metric).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_lakehouse_project_spark.functions.scalar import normalize_text

# minimal deterministic stopword lists for the lang-id heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "por", "para"],
}

PUNCT_CLASS = "[.,!?;:]"
# BPE-ish word/number/symbol tokenization (letters run | digits run | one symbol)
BPE_TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization of normalized text.

    Same end-trim + direct ``\\s+`` split as ext/dedup.tokens (r12):
    identical token list to splitting the collapsed-whitespace form,
    without rewriting the whole string first (~1.7x faster)."""
    return F.split(
        F.regexp_replace(F.lower(text), r"^\s+|\s+$", ""), r"\s+"
    )


def token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish regex tokens (letter runs / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_TOKEN_PATTERN), 0))


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, f"[^{PUNCT_CLASS[1:-1]}]", ""))


def stopword_count(text: Column, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(ws_tokens(text), lambda t: t.isin(*words)))


def avg_token_length(text: Column) -> Column:
    toks = ws_tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.size(toks)


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document stats in ONE projection over one scan.

    The projection tokenizes the text several times (token, stopword,
    punct counts) through interpreted higher-order functions, so an
    under-partitioned input serializes it behind one task — fan out
    first (measured 1.6x at sf0.1; no-op on multi-split inputs)."""
    from data_lakehouse_project_spark.ext.skew import fan_out_input

    df = fan_out_input(df, id_col)
    t = F.col(text_col)
    n_tok = token_count(t)
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        punct_count(t).alias("n_punct"),
        stopword_count(t).alias("n_stopwords"),
        F.round(avg_token_length(t), 4).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality score in [0,1]: penalize too-short docs, extreme
    punctuation density, and stopword-free word soup. Weights are fixed
    and documented so the score is reproducible; rounding uses the
    explicit floor form (floor(x*1e4+0.5)/1e4) so external oracles can
    replicate it bit-for-bit."""
    t = F.col(text_col)
    n_char = F.length(t)
    n_tok = token_count(t)
    len_ok = F.least(n_char / F.lit(200.0), F.lit(1.0))
    punct_ratio = punct_count(t) / F.greatest(n_char, F.lit(1))
    punct_ok = F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))
    stop_ratio = stopword_count(t) / F.greatest(n_tok, F.lit(1))
    stop_ok = F.least(stop_ratio * 5, F.lit(1.0))
    raw = 0.4 * len_ok + 0.3 * punct_ok + 0.3 * stop_ok
    return df.select(
        F.col(id_col),
        (F.floor(raw * 10000 + F.lit(0.5)).cast("double") / 10000).alias(
            "quality_score"
        ),
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-hit language heuristic: argmax over per-language stopword
    occurrence counts; 'und' (undetermined) when no list hits.

    A production system would use fastText/cld3 via a Pandas UDF; this
    deterministic n-gram-free heuristic keeps the operator self-contained
    and JVM-only while exercising the same plan shape (wide projection →
    argmax struct sort)."""
    toks = ws_tokens(F.col(text_col))

    def _hits(words: list[str]):
        return lambda t: t.isin(*words)

    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, _hits(words))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(STOPWORDS.items())
        ]
    )
    best = F.array_max(scored)
    return df.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "detected_lang"
        ),
        best["hits"].alias("stopword_hits"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic document fingerprints: md5 of normalized text plus a
    64-bit rolling-style hash (xxhash64) for compact joins."""
    norm = normalize_text(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        F.xxhash64(norm).alias("fp_xx64"),
    )


def repetition_signals(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus repetition filters (the Gopher-rules family): per document,

    - ``dup5_frac`` — fraction of word 5-grams that are repeats
      (1 - distinct/total); boilerplate and templated spam score high.
    - ``top2_frac`` — mass of the single most frequent word bigram
      (max count / total); looping generation scores high.

    Shape at scale: ONE normalize+split per document feeding two
    explode→partial-aggregate subplans joined back on the id — the
    shuffles carry (doc, gram-hash) counts, never the text. All JVM
    expressions; fractions use the engine-wide floor rounding so
    external oracles match bit-for-bit.
    """
    toks = ws_tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("toks"))

    def grams(n: int) -> Column:
        # element_at (O(1)) per offset, NOT slice-inside-transform —
        # slice copies O(len) per position, making the gram expansion
        # O(len²) per doc (measured 20× slower on this corpus).
        # Spark's sequence(1, 0) counts DOWN — guard short docs explicitly.
        parts = ", ".join(f"element_at(toks, i + {j})" for j in range(n))
        return F.when(
            F.size("toks") >= n,
            F.expr(
                f"transform(sequence(1, size(toks) - {n - 1}), "
                f"i -> concat_ws(' ', {parts}))"
            ),
        ).otherwise(F.array().cast("array<string>"))

    def _r6(c: Column) -> Column:
        return (F.floor(c * 1e6 + F.lit(0.5)).cast("double") / 1e6).cast("double")

    g5 = (
        base.select(id_col, F.explode(grams(5)).alias("g"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("total5"),
            F.countDistinct("g").alias("dist5"),
        )
    )
    g2 = (
        base.select(id_col, F.explode(grams(2)).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top2"), F.sum("c").alias("total2"))
    )
    return (
        df.select(id_col)
        .join(g5, id_col, "left")
        .join(g2, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                _r6(1 - F.col("dist5") / F.col("total5")), F.lit(0.0)
            ).alias("dup5_frac"),
            F.coalesce(
                _r6(F.col("top2") / F.col("total2")), F.lit(0.0)
            ).alias("top2_frac"),
        )
    )


# dialect-neutral PII patterns (valid in both Java regex and RE2, so the
# same pattern string drives Spark and external SQL oracles): character
# classes + bounded quantifiers only — no lookaround, no backreferences
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    (r"\+?[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
]


def redact_pii(text: Column) -> Column:
    """Scrub emails / IPv4s / phone-like digit runs to typed placeholders.

    A chain of JVM ``regexp_replace`` calls — whole-stage codegen, no
    Python. Pattern order matters (emails before phone-ish digit runs).
    The redaction is deterministic, so an external engine applying the
    identical patterns reproduces the output exactly.
    """
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_documents(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document redaction + how many substitutions were made
    (length-delta-free count: occurrences of each placeholder)."""
    red = redact_pii(F.col(text_col))
    n_redactions = sum(
        (
            F.size(F.split(red, repl.replace("<", "\\<"), -1)) - 1
            for _, repl in PII_PATTERNS
        ),
        F.lit(0),
    )
    return df.select(
        F.col(id_col),
        red.alias("text_redacted"),
        n_redactions.cast("long").alias("n_redactions"),
    )


def unigram_xentropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document cross-entropy against the corpus unigram LM — the
    CCNet-style statistical quality filter (documents whose token
    distribution diverges from the corpus score high: gibberish, wrong
    language, boilerplate).

    Two aggregation stages over ONE tokenized explode:
      1. corpus LM: term → ln(count/total) (term-count shuffle; the
         corpus total comes from a 1-row broadcast crossJoin, the
         distributed form of an uncorrelated scalar subquery);
      2. doc score: join tokens to the LM (AQE picks broadcast when the
         vocabulary fits) → per-doc -avg(logp).
    Nothing carries text after the explode — shuffles move (term, count)
    and (doc, logp) only. Floor-rounded at 6 so oracles match.
    """
    toks = df.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("t")
    )
    counts = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("n_total"))
    lm = counts.crossJoin(F.broadcast(total)).select(
        "t", F.log(F.col("c") / F.col("n_total")).alias("logp")
    )
    return (
        toks.join(lm, "t")
        .groupBy(id_col)
        .agg(
            (
                F.floor(-F.avg("logp") * 1e6 + F.lit(0.5)).cast("double") / 1e6
            ).alias("unigram_xent"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )


def bigram_xentropy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lam: float = 0.7,
) -> DataFrame:
    """Per-document cross-entropy against a Jelinek-Mercer-interpolated
    corpus bigram LM — the next step up from :func:`unigram_xentropy`
    (CCNet trains a 5-gram KenLM for exactly this filter; a bigram with
    unigram backoff is the distributed-SQL-expressible core of it).

    p(w2|w1) = lam * c(w1,w2)/c(w1,·) + (1-lam) * c(w2)/N, where
    c(w1,·) counts w1 as a bigram HEAD (so the conditional is a proper
    MLE over transitions) and c(w2)/N is the full unigram backoff.
    Score = -avg(ln p) over a document's transitions; docs with < 2
    tokens have no transitions and are excluded.

    Scale: the LM is built once from two aggregations over one exploded
    bigram set (distinct bigrams ≤ total tokens, so every shuffle moves
    counts, never text); scoring is ONE join of doc transitions to the
    finished LM table on (w1, w2) — AQE broadcasts it when the
    vocabulary fits. Same shape as unigram_xentropy, one grain deeper.
    Floor-rounded at 6 so oracles match across engines.
    """
    toks = ws_tokens(F.col(text_col))
    bg = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    grams = df.select(
        F.col(id_col), F.explode(bg).alias("b")
    ).select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))

    c12 = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # head counts fold over the already-aggregated bigram counts —
    # re-aggregating the raw grams would scan and shuffle the exploded
    # corpus a second time for numbers c12 already holds
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni = df.select(F.explode(ws_tokens(F.col(text_col))).alias("t"))
    cu = uni.groupBy("t").agg(F.count(F.lit(1)).alias("cu"))
    total = cu.agg(F.sum("cu").alias("n_total"))
    lm = (
        c12.join(c1, "w1")
        .join(cu.select(F.col("t").alias("w2"), "cu"), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.log(
                F.lit(lam) * F.col("c12") / F.col("c1")
                + F.lit(1.0 - lam) * F.col("cu") / F.col("n_total")
            ).alias("logp"),
        )
    )
    return (
        grams.join(lm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            (
                F.floor(-F.avg("logp") * 1e6 + F.lit(0.5)).cast("double")
                / 1e6
            ).alias("bigram_xent"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        )
    )


def ngram_novelty(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Per-document novelty score: the fraction of a document's DISTINCT
    word n-grams that appear in no other document (corpus document
    frequency 1). High novelty ≈ informative/unique content; low
    novelty ≈ boilerplate or template text — a standard corpus-curation
    ranking signal alongside quality_score.

    Returns (id, n_grams, novel_frac) for documents with at least one
    n-gram (shorter docs have no gram evidence and are excluded).

    Scale: the classic posting-list shape — explode distinct grams
    (map-side), one aggregation on the gram for document frequency, one
    join back on the gram (cost bounded by total postings, never
    |docs|²), one aggregation on the id. All JVM expressions.
    """
    from data_lakehouse_project_spark.ext.dedup import _distinct_grams

    grams = _distinct_grams(df, text_col, id_col, n, id_col)
    gram_df = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    scale = 1_000_000.0
    novel = F.avg(
        F.when(F.col("doc_freq") == 1, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    return (
        grams.join(gram_df, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            (F.floor(novel * scale + F.lit(0.5)).cast("double") / scale).alias(
                "novel_frac"
            ),
        )
    )


def length_outlier_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str | None = None,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Drop documents whose token length falls outside the [lo, hi]
    exact-percentile band of their group (per-source when ``group_col``
    is set, corpus-wide otherwise) — the truncated/concatenated-page
    outlier filter every crawl pipeline applies before quality scoring.

    Returns (id, group?, n_tokens) for surviving documents.

    Scale: the per-group exact percentiles run through the BOUNDED-
    MEMORY counts-grain straddle (``registry_r6.
    grouped_quantiles_exact`` — bit-identical to percentile_cont's
    interpolation without its per-group buffer materializing every
    document's length on one task); the tiny bounds table broadcasts
    back onto the scan, so the filter itself is map-side.  Distinct
    token LENGTHS per group are tiny relative to documents, so the
    straddle's count grain stays metadata-sized even at 100 TB.
    """
    from data_lakehouse_project_spark.registry_r6 import (
        grouped_quantiles_exact,
    )

    n = token_count(F.col(text_col))
    if group_col is None:
        keyed = df.select(F.col(id_col), F.lit(0).alias("_g"), n.alias("n_tokens"))
        gcols = ["_g"]
    else:
        keyed = df.select(
            F.col(id_col), F.col(group_col), n.alias("n_tokens")
        )
        gcols = [group_col]
    bounds = grouped_quantiles_exact(
        keyed, gcols, "n_tokens", {"_lo": lo, "_hi": hi}
    ).drop("__n")
    out = (
        keyed.join(F.broadcast(bounds), gcols)
        .where(
            (F.col("n_tokens") >= F.col("_lo"))
            & (F.col("n_tokens") <= F.col("_hi"))
        )
        .drop("_lo", "_hi")
    )
    return out.drop("_g") if group_col is None else out


def _ordered_sum(values: Column) -> Column:
    """Aggregate: the group's doubles added in ascending order. ``F.sum``
    adds in the order rows reach the aggregate, which follows the
    partitioning, so its last bits (and a top-k tie) changed with the
    slot count; here equal multisets give equal bits, and the id breaks
    the tie."""
    return F.aggregate(
        F.array_sort(F.collect_list(values)), F.lit(0.0), lambda acc, v: acc + v
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Keyword retrieval: top-k documents by TF-IDF score for a constant
    query-term set — the lexical-search primitive of a corpus engine.

    score(d) = Σ_{t ∈ query} tf(t, d) · ln(N / df(t)), tf raw counts,
    smoothed as ln((N+1)/(df+1)) so unseen terms contribute 0 rather
    than dividing by zero.

    Scale shape: the exploded token stream is filtered to the query
    terms FIRST (an ``isin`` over literals — Catalyst folds it into the
    scan-side filter), so all shuffles are on the sliver of matching
    tokens, never the whole vocabulary. N (corpus size) and the per-term
    document frequencies ride a 1-row/|query|-row broadcast. Final
    top-k is orderBy+limit → TakeOrderedAndProject, no global sort.
    A document's terms are summed in a fixed order (``_ordered_sum``),
    so the ranking does not depend on partitioning; ties break on
    ascending id.
    """
    terms = [t.lower() for t in query_terms]
    toks = df.select(
        F.col(id_col),
        F.explode(ws_tokens(F.col(text_col))).alias("t"),
    ).where(F.col("t").isin(terms))

    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    idf = (
        toks.groupBy("t")
        .agg(F.count_distinct(id_col).cast("double").alias("df_t"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "t",
            F.log((F.col("n_docs") + 1.0) / (F.col("df_t") + 1.0)).alias(
                "idf"
            ),
        )
    )
    tf = toks.groupBy(id_col, "t").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    return (
        tf.join(F.broadcast(idf), "t")
        .groupBy(id_col)
        .agg(_ordered_sum(F.col("tf") * F.col("idf")).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval for a constant query-term set — the
    production lexical ranker (tfidf_topk is the unsaturated baseline).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with the Lucene non-negative idf ln(1 + (N − df + 0.5)/(df + 0.5)).
    Term saturation (k1) caps the reward for repeating a term; length
    normalization (b) stops long documents from dominating on raw tf.

    Scale shape: two column-pruned scans of the corpus. Scan 1 explodes
    tokens and filters to the query terms FIRST (isin over literals →
    scan-side filter), so tf/df shuffles touch only matching tokens.
    Scan 2 is map-only: per-doc token count dl; N and avgdl ride a
    1-row broadcast. The dl join keys on the ids of matching docs only —
    the tf side is a sliver, so AQE turns it into a broadcast hash join
    against the full-length table at scale. Final top-k is
    orderBy+limit → TakeOrderedAndProject. Terms are summed in a fixed
    order (``_ordered_sum``), so the ranking does not depend on
    partitioning; ties break on ascending id.
    """
    terms = [t.lower() for t in query_terms]
    lengths = df.select(
        F.col(id_col),
        F.size(ws_tokens(F.col(text_col))).cast("double").alias("dl"),
    )
    stats = lengths.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    toks = df.select(
        F.col(id_col),
        F.explode(ws_tokens(F.col(text_col))).alias("t"),
    ).where(F.col("t").isin(terms))
    idf = (
        toks.groupBy("t")
        .agg(F.count_distinct(id_col).cast("double").alias("df_t"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "t",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
            ).alias("idf"),
        )
    )
    tf = toks.groupBy(id_col, "t").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    return (
        tf.join(F.broadcast(idf), "t")
        .join(lengths, id_col)
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy(id_col)
        .agg(
            _ordered_sum(
                F.col("idf")
                * F.col("tf")
                * (k1 + 1.0)
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score")
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )
