"""Text analysis operators over `documents`: token counting, quality scoring,
language-ID, TF-IDF keywords and URL extraction. All built-in-function
expressions (codegen'd, no UDFs) with exact DuckDB oracles; words come from
the shared dedup.tokens tokenizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens

# tiny per-language stopword gazetteers (n-gram-heuristic stand-in; the container
# has no langid lib — deterministic and engine-portable by design)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "fr": ["le", "la", "et", "de", "un", "une", "est"],
    "es": ["el", "la", "y", "de", "un", "una", "es"],
    "de": ["der", "die", "das", "und", "ein", "ist", "zu"],
}


def _text():
    """The documents text column, NULL-coalesced — every textstats operator
    reads text through this (or tokens()) so NULL rows behave as empty."""
    return F.coalesce(F.col("text"), F.lit(""))


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword proxy: ceil(chars/4) — the standard
    rough tokens-per-char heuristic for budgeting."""
    return docs.select(
        "doc_id",
        F.size(tokens(_text())).alias("n_words"),
        F.ceil(F.length(_text()) / 4).cast("int").alias("n_subwords_est"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length/punctuation/stopword-ratio quality heuristics (rounded, engine-stable).

    score = 0.4*stopword_ratio + 0.3*min(n_words/100,1) + 0.3*(1-punct_ratio)
    """
    toks = tokens(_text())
    n_words = F.size(toks)
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(all_stop)))
    punct = F.length(F.regexp_replace(_text(), r"[\w\s]", ""))
    stop_ratio = stop_hits.cast("double") / F.greatest(n_words, F.lit(1))
    punct_ratio = punct.cast("double") / F.greatest(F.length(_text()), F.lit(1))
    len_component = F.least(n_words.cast("double") / 100.0, F.lit(1.0))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(0.4 * stop_ratio + 0.3 * len_component + 0.3 * (1.0 - punct_ratio), 6).alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """argmax over per-language stopword hit counts; ties broken by language code
    ascending; 'und' when no list scores > 0."""
    toks = tokens(_text())

    def hits(ws):
        # NB: a two-arg lambda would be called as (element, index) by F.filter —
        # keep the stopword list in a real closure.
        return F.size(F.filter(toks, lambda t: t.isin(list(ws))))

    scored = docs.select(
        "doc_id",
        *[hits(ws).alias(f"hits_{lang}") for lang, ws in sorted(STOPWORDS.items())],
    )
    pairs = F.array(
        *[F.struct(F.col(f"hits_{lang}").alias("hits"), F.lit(lang).alias("lang")) for lang in sorted(STOPWORDS)]
    )
    # Rule: pick the struct with the strictly greatest hit count; the fold
    # keeps the FIRST max, and langs are folded in ascending code order, so
    # ties deterministically resolve to the smallest language code.
    best = F.aggregate(
        pairs,
        F.struct(F.lit(-1).alias("hits"), F.lit("zzz").alias("lang")),
        lambda acc, p: F.when(
            (p["hits"] > acc["hits"]), p
        ).otherwise(acc),
    )
    return scored.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        best["hits"].alias("lang_hits"),
    )


def tfidf_topk(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k terms by TF-IDF (doc_id, term, tf, df_docs, tfidf, rnk).

    The classic training-data-curation signal (domain keywords, boilerplate
    detection). idf = ln(N / df) with N = |documents| (no smoothing —
    engine-portable, df >= 1 by construction); score quantized to 6 decimals
    before ranking; ties broken by term ascending so the top-k set is
    deterministic in both engines.

    Scale shape: tokenize (codegen'd split, no UDF) -> one (doc_id, term)
    partial-agg shuffle for tf -> one term-grain shuffle for df (terms are
    orders of magnitude fewer than tokens after the map-side combine) ->
    broadcast df back onto tf -> per-doc window. No step materializes an
    unbounded per-doc state.
    """
    from pyspark.sql import Window

    n_docs = docs.count()  # one scalar action; the corpus size is a job input at any scale
    toks = docs.select(
        "doc_id", F.explode(tokens(_text())).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_docs = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    scored = tf.join(df_docs, "term").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_docs")), 6),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df_docs", "tfidf", "rnk")
    )


# URL patterns shared verbatim by the Spark expressions and the DuckDB oracle.
# Whitespace is spelled as the explicit class [ \t\n\f\r] (not \s) for the same
# dialect-divergence reason as BPE_PRETOKEN_RE above; no lookarounds, no
# back-references — the subset Java regex and RE2 implement identically.
URL_RE = r"https?://[^ \t\n\f\r]+"
URL_DOMAIN_RE = r"https?://([^/ \t\n\f\r]+)"


def _domains(text_col) -> "F.Column":
    """Lowercased, www.-stripped host list extracted from a text column."""
    return F.transform(
        F.regexp_extract_all(text_col, F.lit(URL_DOMAIN_RE), 1),
        lambda d: F.regexp_replace(F.lower(d), r"^www\.", ""),
    )


def url_extract(docs: DataFrame) -> DataFrame:
    """Per-document URL inventory — the first half of C4/RefinedWeb-style
    domain curation (the second half, the blocklist decision, is
    curation.domain_filter): (doc_id, n_urls, n_domains, domains) where
    `domains` is the sorted-distinct hosts comma-joined (lowercased,
    leading 'www.' stripped) so the frame stays one narrow row per doc.
    Pure codegen regexp_extract_all/transform chain — no UDF, no shuffle:
    this is a map-only pass whatever the corpus size."""
    t = _text()
    doms = F.array_sort(F.array_distinct(_domains(t)))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(URL_RE), 0)).alias("n_urls"),
        F.size(doms).alias("n_domains"),
        F.array_join(doms, ",").alias("domains"),
    )
