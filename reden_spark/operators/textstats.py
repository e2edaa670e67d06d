"""Text analysis operators over `documents`: language-ID, quality scoring, token
counting, document fingerprinting. All built-in-function expressions (codegen'd,
no UDFs) with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import shared

# tiny per-language stopword gazetteers (n-gram-heuristic stand-in; the container
# has no langid lib — deterministic and engine-portable by design)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "fr": ["le", "la", "et", "de", "un", "une", "est"],
    "es": ["el", "la", "y", "de", "un", "una", "es"],
    "de": ["der", "die", "das", "und", "ein", "ist", "zu"],
}


def tokens(col):
    # NULL text tokenizes as empty text (size() would otherwise return NULL on
    # the Spark side vs DuckDB's NULL-row semantics — a latent parity split)
    return F.split(F.trim(F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\W+", " ")), " ")


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


# GPT-2-style pretokenizer pattern, restricted to the subset both regex
# dialects (Java, RE2) implement identically: contraction suffixes, optional-
# space letter runs, digit runs, symbol runs, whitespace runs. Two canonical-
# pattern deviations, both deliberate: the trailing `\s+(?!\S)` lookahead is
# dropped (RE2 has no lookahead — only how space runs split between matches
# changes, identically in both engines), and `\s` is spelled as the explicit
# class [ \t\n\f\r] because the shorthand DIVERGES between dialects (Java \s
# includes vertical tab \x0B, RE2's does not — a VT would land in the
# whitespace branch on one side and the symbol branch on the other).
BPE_PRETOKEN_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+"
)


def pretoken_count(docs: DataFrame) -> DataFrame:
    """BPE-ish token budgeting: count GPT-2-pretokenizer matches (the unit BPE
    merges operate on — a far better tokens-per-doc estimate than whitespace
    words or chars/4) alongside both cruder estimates. Pure codegen
    regexp_count; the DuckDB oracle applies the identical RE2-compatible
    pattern."""
    return docs.select(
        "doc_id",
        F.regexp_count(_text(), F.lit(BPE_PRETOKEN_RE)).alias("n_pretokens"),
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


def fingerprint(docs: DataFrame, shingle_n: int = 5) -> DataFrame:
    """Document fingerprints: full-content md5 over normalized text, plus the
    winnowing-style min-shingle fingerprint (min md5 over word n-grams — the
    shingle formula is dedup.word_shingles, shared so the two modules and their
    DuckDB oracles can never drift)."""
    from .dedup import word_shingles

    return docs.select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower(_text()), r"\W+", " "))).alias("content_md5"),
        F.array_min(F.transform(word_shingles("text", shingle_n), F.md5)).alias(
            "min_shingle_md5"
        ),
    )


# PII patterns shared verbatim by the Spark expressions and the DuckDB oracle:
# both engines' regex dialects (Java, RE2) treat \d, \b, and these character
# classes identically (ASCII), which is what makes the redaction exactly
# oracle-checkable. Replacement order matters and is part of the contract:
# emails first (their digit runs must not count as phones), then IPv4 (dotted
# quads would otherwise match the phone pattern), then phones on what remains.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d .-]{7,}\d"


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing — the standard pre-training hygiene pass alongside dedup
    and decontamination: replace emails / IPv4 addresses / phone-shaped digit
    runs with typed placeholder tokens, counting each. Pure codegen
    regexp_replace/regexp_count chain (no UDF); counts are taken against the
    text state BEFORE that category's replacement (see pattern-order note
    above). Returns (doc_id, n_emails, n_ips, n_phones, redacted_md5) — the
    md5 fingerprints the redacted text so the frame stays narrow at any scale
    (the redacted text itself would be written to the output table in a real
    run; the fingerprint is what the oracle pins)."""
    t0 = F.coalesce(F.col("text"), F.lit(""))
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(t0, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t1, F.lit(PII_IPV4)).alias("n_ips"),
        F.regexp_count(t2, F.lit(PII_PHONE)).alias("n_phones"),
        F.md5(t3).alias("redacted_md5"),
    )


def quality_filter(
    docs: DataFrame,
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_punct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.01,
) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021 §A1-flavored): hard per-doc
    quality gates over word count, mean word length, symbol ratio and
    stopword presence — the yes/no companion to :func:`quality_score`'s
    soft score. Returns every doc with its rule inputs and a `passes` flag
    (a real run keeps the flag column and filters downstream, preserving the
    audit trail). All ratios quantized to 6 decimals before comparison so the
    boolean is engine-stable."""
    toks = tokens(_text())
    n_words = F.size(toks)
    total_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    mean_wl = F.round(total_chars.cast("double") / F.greatest(n_words, F.lit(1)), 6)
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_ratio = F.round(
        F.size(F.filter(toks, lambda t: t.isin(all_stop))).cast("double")
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    punct_ratio = F.round(
        F.length(F.regexp_replace(_text(), r"[\w\s]", "")).cast("double")
        / F.greatest(F.length(_text()), F.lit(1)),
        6,
    )
    passes = (
        n_words.between(min_words, max_words)
        & mean_wl.between(min_mean_word_len, max_mean_word_len)
        & (punct_ratio <= max_punct_ratio)
        & (stop_ratio >= min_stopword_ratio)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        passes.alias("passes"),
    )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021 §A1.2
    flavor): duplicate-word fraction, duplicate-line fraction, and the mass of
    the single most frequent word bigram — the classic boilerplate/spam
    detectors that length and stopword ratios miss. Returns (doc_id, n_words,
    dup_word_frac, dup_line_frac, top_bigram_frac), ratios quantized to 6
    decimals; degenerate docs (under 2 words / 1 line) report 0.

    Shape: dup fractions are pure array expressions (codegen); the top-bigram
    mode needs a per-(doc, bigram) count — one explode + two partial-agg
    shuffles at (doc, bigram) then doc grain, the standard mode-per-group
    plan at any scale."""
    toks = tokens(_text())
    n_words = F.size(toks)
    dup_word = F.when(
        n_words > 0,
        F.round((n_words - F.size(F.array_distinct(toks))).cast("double") / n_words, 6),
    ).otherwise(F.lit(0.0))
    lines = F.split(_text(), "\n")
    n_lines = F.size(lines)
    dup_line = F.when(
        n_lines > 0,
        F.round((n_lines - F.size(F.array_distinct(lines))).cast("double") / n_lines, 6),
    ).otherwise(F.lit(0.0))
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        dup_word.alias("dup_word_frac"),
        dup_line.alias("dup_line_frac"),
        toks.alias("toks"),
    )
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(toks) >= 2 then "
                "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i])) "
                "else array() end"
            )
        ).alias("bg"),
    )
    top = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_bigram_frac"))
    )
    return (
        base.drop("toks")
        .join(top, "doc_id", "left")
        .withColumn("top_bigram_frac", F.coalesce("top_bigram_frac", F.lit(0.0)))
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


def ngram_topk(docs: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-level top-k word n-grams by total occurrence count — the global
    boilerplate detector (repetition_signals is the per-document twin): the
    n-grams that dominate a crawl are navigation chrome, cookie banners and
    template text, and this table is what a curation recipe blocklists on.
    Returns (ngram, total_count, doc_freq) — total occurrences across the
    corpus and the number of distinct documents containing the n-gram —
    ordered by total_count desc, ties broken by ngram asc, limited to k.

    Scale shape: the n-gram space of a real corpus is huge and sparse (~one
    group per occurrence), so aggregating string keys end-to-end degenerates
    into spill-and-sort on ~corpus-sized string data — measured 490 s at 2 M
    docs. Instead the heavy counting runs at xxhash64-long grain (8-byte
    keys, practically injective — same argument as duplicated_spans):
    explode → ONE agg at h grain (doc_freq needs no heavy-path grain at all;
    it is recomputed exactly on the thin slice below, so the (h, doc_id)
    pre-aggregate a first draft carried was pure waste) → the k-th
    count enters the plan as a broadcast 1-row threshold (never a driver
    round-trip) → hash-grain candidates = every h with total >= threshold
    (ALL count-ties survive; the string tie-break is applied later on real
    strings). Strings materialize only for candidates: a second map-only
    explode pass probes a broadcast candidate-hash table, and the exact
    (ngram, doc_id) → ngram recount runs on that thin slice, so the final
    counts and the (total_count desc, ngram asc) top-k are computed on
    strings exactly as before — 490 s → 106 s at 2 M docs
    (bench_artifacts/new_ops_scale_r5.json). Only a 64-bit collision inside
    the top-of-distribution could perturb boundary membership (~1e-4 at 1e8
    distinct n-grams; values are exact regardless, since candidate counts
    are string-grain recounts).
    """
    toks = tokens(_text())
    # explode_outer + null filter: plain explode lets
    # InferFiltersFromGenerate re-inline the gram construction into a
    # pre-Generate filter (see duplicated_spans).
    occ = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    f"case when size(toks) >= {n} then "
                    f"transform(sequence(1, size(toks) - {n - 1}), "
                    f"i -> array_join(slice(toks, i, {n}), ' ')) "
                    "else array() end"
                )
            ).alias("ngram"),
        )
        .filter(F.col("ngram").isNotNull())
        .select("doc_id", "ngram", F.xxhash64("ngram").alias("h"))
    )
    # heavy path: long keys only (column pruning drops `ngram` at the scan);
    # map-side combine absorbs the Zipf head before the single shuffle.
    # shared(): the threshold subquery and the candidate filter both consume
    # this hash-grain count table, and exchange reuse does NOT cross the
    # broadcast-subquery boundary (measured plan: the corpus explode+agg ran
    # twice) — the checkpoint materializes it once, a thin 16-byte-per-
    # distinct-ngram frame.
    agg = shared(occ.groupBy("h").agg(F.count("*").alias("total")))
    th = agg.orderBy(F.col("total").desc()).limit(k).agg(F.min("total").alias("th"))
    cand = (
        agg.crossJoin(F.broadcast(th))
        .filter(F.col("total") >= F.col("th"))
        .select("h")
    )
    # thin path: strings + exact recount for candidates only
    exact_pd = (
        occ.join(F.broadcast(cand), "h")
        .groupBy("ngram", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    return (
        exact_pd.groupBy("ngram")
        .agg(
            F.sum("c").cast("long").alias("total_count"),
            F.count("*").cast("long").alias("doc_freq"),
        )
        .orderBy(F.col("total_count").desc(), F.col("ngram").asc())
        .limit(k)
    )


def perplexity(docs: DataFrame) -> DataFrame:
    """Corpus bigram-LM perplexity scoring — the classic CCNet/KenLM-style
    quality signal (a document whose word transitions the corpus LM finds
    surprising is boilerplate, gibberish or OCR noise): train add-one-smoothed
    bigram counts over the WHOLE corpus, then score every document by its
    average negative log-likelihood. P(w|p) = (c(p,w) + 1) / (c_prev(p) + V)
    with V = corpus distinct-token count; nll = -(1/n) * sum ln P over the
    doc's n bigram occurrences. Returns (doc_id, n_bigrams, nll), nll rounded
    to 6 decimals with a -1.0 sentinel for docs shorter than two words.

    Scale shape: the LM is two token-vocabulary-grain tables (bigram counts,
    prefix counts) built by partial aggregation — map-side combine collapses
    within-doc repeats before either shuffle. Scoring joins the per-(doc,
    bigram) term table against them on the bigram/prefix keys (vocab-sized
    build sides broadcast at typical vocab sizes; AQE decides otherwise) and
    V enters the plan as a broadcast 1-row frame, never a driver constant.
    No UDF anywhere; everything is codegen explode/agg/join.

    The bigram and prefix keys travel as xxhash64 longs, never as string
    pairs: they are pure EQUALITY keys (the output exposes only counts and
    the nll double, both derived from group sizes), so the practically-
    injective-hash argument of duplicated_spans/ngram_topk applies, and a
    sparse corpus — where the distinct-bigram space is ~one group per
    occurrence — would otherwise drag ~corpus-sized string pairs through
    two aggregations and two joins: measured 469.7 s -> 259.8 s at 2 M docs
    from the key change alone, and -> 65.4 s once shared() materializes
    per_doc for its three consumers on a tmpfs-scratch 32-core
    session (bench_artifacts/new_ops_scale_r5.json `shared_checkpoint_round`;
    the first artifact entry for this operator recorded 1.7 s from a bare
    count(), which Catalyst collapses to a scan — value-forced timings only).
    """
    toks = F.filter(tokens(_text()), lambda t: t != "")
    base = docs.select("doc_id", toks.alias("toks"))
    # explode_outer + null filter: see duplicated_spans (plain explode lets
    # InferFiltersFromGenerate re-inline the bigram construction as a
    # pre-Generate filter over raw text).
    bigrams = (
        base.select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    "case when size(toks) >= 2 then "
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(xxhash64(toks[i-1]) as h_prev, "
                    "xxhash64(toks[i-1], toks[i]) as h_ab)) "
                    "else array() end"
                )
            ).alias("bg"),
        )
        .filter(F.col("bg").isNotNull())
        .select("doc_id", F.col("bg.h_prev").alias("h_prev"), F.col("bg.h_ab").alias("h_ab"))
    )
    # shared(): per_doc feeds THREE consumers (c_ab, c_prev, the term join's
    # probe side) and exchange reuse does not span them — unmaterialized, the
    # corpus-grain explode+agg executes three times (measured; see BENCH.md
    # r5 §4). One checkpoint of the (doc, h_prev, h_ab, k) frame collapses
    # that to a single pass.
    per_doc = shared(
        bigrams.groupBy("doc_id", "h_prev", "h_ab").agg(F.count("*").alias("k"))
    )
    c_ab = per_doc.groupBy("h_ab").agg(F.sum("k").alias("c_ab"))
    c_prev = per_doc.groupBy("h_prev").agg(F.sum("k").alias("c_prev"))
    # NULL filter BEFORE hashing: xxhash64(NULL) is a non-null seed constant
    # (it does not propagate NULL the way countDistinct skips it), so an
    # unfiltered explode_outer would inflate V by 1 whenever empty docs exist
    vocab = (
        base.select(F.explode_outer("toks").alias("t"))
        .filter(F.col("t").isNotNull())
        .agg(F.countDistinct(F.xxhash64("t")).alias("v"))
    )
    term = (
        per_doc.join(c_ab, "h_ab")
        .join(c_prev, "h_prev")
        .crossJoin(F.broadcast(vocab))
    )
    scored = term.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_bigrams"),
        (
            -F.sum(
                F.col("k")
                * F.log(
                    (F.col("c_ab") + 1).cast("double") / (F.col("c_prev") + F.col("v"))
                )
            )
            / F.sum("k")
        ).alias("nll"),
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.round(F.coalesce("nll", F.lit(-1.0)), 6).alias("nll"),
    )
