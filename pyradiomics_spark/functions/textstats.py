"""Text analytics: language-ID, quality scoring, document
fingerprinting — all JVM-side column expressions / relational plans
(no Python UDFs)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyradiomics_spark.operators.dedup import tokens, word_ngrams

#: tiny stopword marker profiles for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "für"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"],
    "nl": ["de", "het", "een", "en", "van", "is", "dat", "niet", "met", "voor"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "on", "at", "by", "as", "be"]
#: one match per space-delimited token that is a stopword up to ASCII case
#: (no non-ASCII char lower()s into a stopword letter, so (?i) suffices)
_STOP_RE = "(?i)(?<![^ ])(?:" + "|".join(STOPWORDS_EN) + ")(?![^ ])"


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring columns: length, token stats, stopword/punct/digit
    ratios, mean word length, uppercase ratio. Compiled expressions only."""
    t = F.col(text_col)
    n_tok = F.size(tokens(t))
    n_chars = F.length(t)
    n_stop = F.regexp_count(t, F.lit(_STOP_RE))
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    n_digit = F.regexp_count(t, F.lit(r"[0-9]"))
    n_upper = F.regexp_count(t, F.lit(r"[A-Z]"))
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "mean_word_len",
            F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok),
        )
        .withColumn("stopword_ratio", F.when(n_tok > 0, n_stop / n_tok))
        .withColumn("punct_ratio", F.when(n_chars > 0, n_punct / n_chars))
        .withColumn("digit_ratio", F.when(n_chars > 0, n_digit / n_chars))
        .withColumn("upper_ratio", F.when(n_chars > 0, n_upper / n_chars))
        .withColumn(
            "quality_score",
            F.round(
                F.when(F.coalesce(n_tok, F.lit(0)) <= 0, 0.0).otherwise(
                    F.greatest(
                        F.lit(0.0),
                        F.least(
                            F.lit(1.0),
                            0.5
                            + 0.5 * F.least(n_tok / 100.0, F.lit(1.0))
                            - F.coalesce(n_punct / F.greatest(n_chars, F.lit(1)), F.lit(0.0))
                            - F.coalesce(n_digit / F.greatest(n_chars, F.lit(1)), F.lit(0.0)),
                        ),
                    )
                ),
                6,
            ),
        )
    )


#: Gopher rule 6's required-word list (Rae et al. 2021, appendix A1.1)
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_required_words: int = 2,
    max_dup_5gram: float = 0.15,
) -> DataFrame:
    """Gopher/MassiveText document-quality rule set (Rae et al. 2021,
    appendix A1.1), adapted to whitespace tokens: word-count bounds, mean
    word length bounds, symbol-to-word ratio (# and ellipsis), fraction
    of words containing an alphabetic character, presence of ≥2 required
    English words, and duplicate-5-gram fraction (token-fraction stand-in
    for the paper's character-fraction). Appends the metric columns, one
    0/1 flag per rule, and the composite ``gopher_pass``.

    Scale shape: pure builtin column expressions over the text column —
    no shuffle, no join, no UDF; a straight map that fuses into the scan
    stage and pushes column pruning down to the parquet reader."""
    t = F.col(text_col)
    n_words = F.size(tokens(t))
    word_chars = F.length(t) - (n_words - 1)  # single-spaced char count
    mean_wl = F.when(n_words > 0, word_chars / n_words)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.when(n_words > 0, (n_hash + n_ellipsis) / n_words)
    # one match per token holding a letter: anchored at the token start
    n_alpha = F.regexp_count(t, F.lit("(?<![^ ])[^ A-Za-z]*[A-Za-z]"))
    alpha_ratio = F.when(n_words > 0, n_alpha / n_words)
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])
    n_req = F.size(F.array_intersect(F.split(F.lower(t), " "), req))
    dup5 = repetition_ratio(t, n=5)

    # null metrics (empty doc) must FAIL the rule, not propagate null
    flag = lambda c: F.coalesce(c.cast("int"), F.lit(0))  # noqa: E731
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_wl)
        .withColumn("symbol_ratio", symbol_ratio)
        .withColumn("alpha_word_ratio", alpha_ratio)
        .withColumn("n_required_words", n_req)
        .withColumn("dup_5gram", dup5)
        .withColumn(
            "pass_word_count",
            flag((n_words >= min_words) & (n_words <= max_words)),
        )
        .withColumn(
            "pass_mean_word_len",
            flag(
                (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
            ),
        )
        .withColumn("pass_symbol_ratio", flag(symbol_ratio < max_symbol_ratio))
        .withColumn("pass_alpha_ratio", flag(alpha_ratio >= min_alpha_word_ratio))
        .withColumn("pass_required_words", flag(n_req >= min_required_words))
        .withColumn("pass_repetition", flag(dup5 <= max_dup_5gram))
    )
    return out.withColumn(
        "gopher_pass",
        flag(
            (F.col("pass_word_count") == 1)
            & (F.col("pass_mean_word_len") == 1)
            & (F.col("pass_symbol_ratio") == 1)
            & (F.col("pass_alpha_ratio") == 1)
            & (F.col("pass_required_words") == 1)
            & (F.col("pass_repetition") == 1)
        ),
    )


def repetition_ratio(text_col, n: int = 3):
    """Duplicate word-n-gram fraction per doc — the Gopher-style repetition
    quality filter (fraction of n-grams that are repeats of an earlier
    n-gram): 1 − distinct/total, 0.0 for docs with < n tokens. Pure builtin
    expressions (``word_ngrams`` → array_distinct), no UDF; exact DuckDB
    twin in the `repetition` gate query. The gram array is built once:
    ``total`` comes from the token count, not from a second gram array."""
    total = F.greatest(F.size(tokens(text_col)) - (n - 1), F.lit(0))
    grams = word_ngrams(text_col, n, drop_empty=True)
    return F.when(
        total > 0, 1.0 - F.size(F.array_distinct(grams)) / total
    ).otherwise(F.lit(0.0))


def detect_language(
    df: DataFrame, id_col: str, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Stopword-marker language ID, fully relational: explode tokens →
    broadcast-join the marker table → per-(doc, lang) hit counts → argmax
    via row_number. Docs with zero marker hits get 'unk'."""
    spark = df.sparkSession
    markers = [(lang, w) for lang, ws in LANG_MARKERS.items() for w in ws]
    mdf = F.broadcast(spark.createDataFrame(markers, ["cand_lang", "marker"]))
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    ).where(F.col("tok") != "")
    hits = (
        toks.join(mdf, toks.tok == mdf.marker)
        .groupBy(id_col, "cand_lang")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("hits"), "cand_lang")
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col(id_col), F.col("cand_lang").alias(out_col))
    )
    return df.join(best, id_col, "left").fillna({out_col: "unk"})


def doc_fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Whole-document content fingerprint: sha256 of whitespace-normalized,
    lowercased text."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.withColumn(out_col, F.sha2(norm.cast("binary"), 256))


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str = "text",
    kgram: int = 5, window: int = 4,
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: hash every k-gram of tokens,
    keep the min hash of each sliding window of ``window`` consecutive
    k-grams (distinct). Relational: explode k-grams → window min → distinct.
    The standard local document fingerprint for plagiarism/near-dup. The
    hash is md5 (a hex string, the lexicographic min) so an SQL engine
    replays the fingerprints exactly (the gate's ``winnowing`` row)."""
    grams = word_ngrams(F.col(text_col), kgram)
    g = df.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    ).withColumn("gh", F.md5("gram"))
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    return (
        g.withColumn("winmin", F.min("gh").over(w))
        .select(F.col(id_col), F.col("winmin").alias("fingerprint"))
        .distinct()
    )


def ngram_topk(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 100,
) -> DataFrame:
    """Corpus-level top-k word n-grams with counts — the vocabulary /
    boilerplate-phrase census every curation pass starts with. Returns
    (ngram, n_occurrences) ordered by (count desc, ngram) with
    deterministic ties.

    Scale shape: explode → ONE map-side-combined groupBy on the n-gram →
    global top-k. The final ordering is a k-bounded TakeOrdered (Spark
    turns orderBy+limit into per-partition top-k + driver merge), never a
    full sort of the distinct-ngram table; hot n-grams skew the AGG, not
    a join, and partial aggregation absorbs them before the shuffle."""
    grams = word_ngrams(F.col(text_col), n)
    exploded = df.select(F.explode(grams).alias("ngram")).where(
        F.col("ngram") != "")
    return (
        exploded.groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "ngram")
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str = "text",
    top_n: int = 5, min_df: int = 1,
) -> DataFrame:
    """Per-doc top-N terms by smoothed TF-IDF — the relational keyword
    extractor (tf·(ln((N+1)/(df+1))+1), sklearn's smooth_idf formula).
    Returns (id, term, tf, df, tfidf, rank), rank 1..top_n per doc with
    deterministic (score desc, term) ties.

    Scale shape: one groupBy for per-(doc, term) tf, one for per-term df
    (both map-side combined), a broadcast of the corpus size N (a literal
    from the caller's count — NO action here; pass n_docs if known),
    then a join on term — skew-safe because both sides are already
    aggregates (one row per distinct (doc,term) / term, not per token) —
    and a per-doc rank window (bounded by doc vocabulary, never global)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = (tf.groupBy("term").agg(F.count("*").alias("df"))
             .where(F.col("df") >= min_df))
    # N as a scalar subquery would need an action; use a broadcast 1-row
    # aggregate joined in (Catalyst broadcasts it, the plan stays lazy)
    ndf = F.broadcast(df.agg(F.countDistinct(id_col).alias("__n")))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(ndf)
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0))
        .drop("__n")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text", top_v: int = 1000,
) -> DataFrame:
    """Corpus Zipf-law fit: OLS slope/intercept of ln(term frequency) on
    ln(frequency rank) over the ``top_v`` most frequent terms — the
    one-row corpus-health diagnostic (natural text sits near slope −1;
    boilerplate-heavy or synthetic corpora drift off it). Returns ONE row
    (n_terms, zipf_slope, zipf_intercept).

    Scale shape: one map-side-combined term census, then a k-bounded
    TakeOrdered (orderBy+limit fuses to per-partition top-k + driver
    merge — never a full sort of the vocabulary), then the OLS moments
    as ONE aggregate over ≤ top_v rows. The global row_number window is
    bounded by top_v, not the corpus. The slope is computed from the
    explicit closed form (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) so an oracle
    can reproduce it term-for-term."""
    toks = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term")
    ).where(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    top = counts.orderBy(F.desc("c"), "term").limit(top_v)
    w = Window.orderBy(F.desc("c"), "term")
    ranked = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    n = F.count("*").cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return ranked.agg(
        F.count("*").alias("n_terms"),
        slope.alias("zipf_slope"),
        ((sy - slope * sx) / n).alias("zipf_intercept"),
    )


def lexical_diversity(
    df: DataFrame, id_col: str, text_col: str = "text",
) -> DataFrame:
    """Per-document vocabulary-richness diagnostics: token count, distinct
    type count, type-token ratio and hapax ratio (share of types that
    occur exactly once) — the classic repetition/boilerplate quality
    signals. Returns (id, n_tokens, n_types, ttr, hapax_ratio).

    Scale shape: explode → ONE (doc, term) groupBy with map-side combine,
    then ONE per-doc agg — two partial-aggregated shuffles keyed by doc,
    no window, no self-join; empty docs keep a row (zero counts, null
    ratios) via a left join back onto the id spine."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    per_term = toks.groupBy("_id", "term").agg(F.count("*").alias("c"))
    per_doc = per_term.groupBy("_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    spine = df.select(F.col(id_col).alias("_id"))
    return (
        spine.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).alias("n_types"),
            (F.col("n_types").cast("double")
             / F.col("n_tokens").cast("double")).alias("ttr"),
            (F.col("n_hapax").cast("double")
             / F.col("n_types").cast("double")).alias("hapax_ratio"),
        )
    )


def unigram_logloss(
    df: DataFrame, id_col: str, text_col: str = "text",
    out_col: str = "unigram_logloss",
) -> DataFrame:
    """Per-doc mean negative log2 corpus-unigram probability — the
    relational perplexity proxy (the CCNet-style "LM quality" signal
    without an external model): boilerplate and in-distribution text
    score low, rare-token noise scores high. Adds ``out_col`` (double,
    null for token-less docs).

    Scale shape: ONE map-side-combined groupBy builds the corpus unigram
    table (distinct terms ≪ tokens), a broadcast 1-row total joins in,
    then tokens join the term-probability table — the probability side is
    one row per distinct term, so a hot stop-word skews only the probe
    side of a shuffle join AQE already splits — and one per-doc mean agg.
    No Python, no window."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count("*").alias("tc"))
    total = F.broadcast(counts.agg(F.sum("tc").alias("__tot")))
    probs = counts.crossJoin(total).select(
        "term", (F.col("tc") / F.col("__tot")).alias("p"))
    per_doc = (
        toks.join(probs, "term")
        .groupBy(id_col)
        .agg(F.avg(-F.log2("p")).alias(out_col))
    )
    return df.join(per_doc, id_col, "left")


#: (name, java/RE2-common regex, replacement token) — the default PII
#: surface: emails, IPv4 literals, NANP-style phone numbers. Patterns are
#: restricted to the Java-regex ∩ RE2 common subset (char classes, \d, \b,
#: bounded repetition — no lookaround, no backrefs) so the same strings
#: drive Spark (Java) and any RE2-based oracle identically.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_redacted",
    patterns=PII_PATTERNS,
) -> DataFrame:
    """PII scrubbing as scan-fused column expressions (the pre-training
    redaction pass of C4/RefinedWeb-style pipelines): each ``(name,
    regex, token)`` pattern is applied IN ORDER with a global
    ``regexp_replace``, and ``n_<name>`` counts the matches seen at that
    stage (counts are stage-wise: a span consumed by an earlier pattern
    is invisible to later ones — e.g. digits inside an already-redacted
    email never double-count as a phone). Adds ``out_col``, one
    ``n_<name>`` per pattern, and ``pii_total``.

    Scale shape: zero shuffles, zero joins, zero Python — the whole
    operator is a projection fused into the scan, so it pipelines inside
    one WholeStageCodegen span at any corpus size."""
    cur = F.col(text_col)
    out = df
    n_cols = []
    for name, pat, token in patterns:
        out = out.withColumn(f"n_{name}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, token)
        n_cols.append(f"n_{name}")
    out = out.withColumn(out_col, cur)
    if n_cols:
        expr = F.col(n_cols[0])
        for c in n_cols[1:]:
            expr = expr + F.col(c)
        out = out.withColumn("pii_total", expr)
    return out


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    target_pred,
    text_col: str = "text",
    smoothing: float = 1.0,
    out_col: str = "dsir_log_weight",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023 "Data Selection for
    Language Models via Importance Resampling"), unigram form: the
    target distribution is estimated from the rows matching
    ``target_pred`` (a boolean Column), the raw distribution from the
    whole input, both add-λ smoothed over the SHARED raw vocabulary, and
    each document scores ``Σ_tokens ln p̂_target(tok) − ln p̂_raw(tok)``
    — resample with probability ∝ exp(out_col) to tilt the corpus
    toward the target domain. Adds ``out_col`` (double; null for
    token-less docs) and ``n_tokens_dsir``.

    Scale shape: ONE map-side-combined census groupBy computes BOTH
    distributions (count + conditional count per term — the target
    filter is a flag on the pre-explode row, so no second corpus pass),
    a broadcast 1-row totals join, then tokens equi-join the per-term
    log-ratio table (one row per distinct term — hot stop-words skew
    only the AQE-splittable probe side) and ONE per-doc sum. The hashed
    n-gram variant of the paper is this same plan with the term replaced
    by a bucketed hash — exact terms keep the oracle cross-engine."""
    lam = float(smoothing)
    toks = df.select(
        F.col(id_col),
        target_pred.cast("int").alias("__is_tgt"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    census = toks.groupBy("term").agg(
        F.count("*").alias("c_raw"),
        F.sum("__is_tgt").alias("c_tgt"),
    )
    totals = F.broadcast(census.agg(
        F.sum("c_raw").alias("__n_raw"),
        F.sum("c_tgt").alias("__n_tgt"),
        F.count("*").alias("__v"),
    ))
    ratio = census.crossJoin(totals).select(
        "term",
        (
            F.log((F.col("c_tgt") + lam)
                  / (F.col("__n_tgt") + lam * F.col("__v")))
            - F.log((F.col("c_raw") + lam)
                    / (F.col("__n_raw") + lam * F.col("__v")))
        ).alias("__lr"),
    )
    per_doc = (
        toks.join(ratio, "term")
        .groupBy(id_col)
        .agg(
            F.sum("__lr").alias(out_col),
            F.count("*").alias("n_tokens_dsir"),
        )
    )
    return df.join(per_doc, id_col, "left")


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    k: float = 3.0,
    consistency: float = 1.4826,
    out_col: str = "is_outlier",
):
    """Robust (median/MAD) outlier flag per group — the corpus-level
    analog of the reference's sigma outlier clamp
    (imageoperations.py normalizeImage sigma clip), but median-based so
    a heavy tail can't drag the threshold: flag rows where
    ``|x − median| > k · consistency · MAD``. ``consistency=1.4826``
    rescales MAD to σ-equivalents for Gaussian data; MAD==0 (constant
    group) flags only values different from the median.

    Scale shape: two grouped EXACT-percentile aggregates (median, then
    median of |x−median|) + one broadcastable per-group stats join back
    — group count is bounded (languages/domains), never a window over
    the corpus. Returns the input plus (grp_median, grp_mad, out_col).
    """
    v = F.col(value_col).cast("double")
    keys = [group_col] if group_col else []
    med_agg = F.expr(f"percentile({value_col}, 0.5)").alias("grp_median")
    if keys:
        med = df.groupBy(*keys).agg(med_agg)
        j1 = df.join(F.broadcast(med), keys)
    else:
        med = df.agg(med_agg)
        j1 = df.crossJoin(F.broadcast(med))
    mad_agg = F.expr(
        "percentile(abs(cast({v} as double) - grp_median), 0.5)".format(
            v=value_col)).alias("grp_mad")
    if keys:
        mad = j1.groupBy(*keys, "grp_median").agg(mad_agg)
        out = df.join(F.broadcast(mad), keys)
    else:
        mad = j1.groupBy("grp_median").agg(mad_agg)
        out = df.crossJoin(F.broadcast(mad))
    thresh = F.lit(float(k)) * F.lit(float(consistency)) * F.col("grp_mad")
    return out.withColumn(
        out_col,
        F.when(F.col("grp_mad") == 0.0, v != F.col("grp_median"))
        .otherwise(F.abs(v - F.col("grp_median")) > thresh))


def normalize_for_dedup(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    strip_digits: bool = False,
) -> DataFrame:
    """Fuzzy-dedup key normalization (the pre-hash canonicalization of
    C4/RefinedWeb/MinHash pipelines, cf. Lee et al. 2022 §4): lowercase,
    strip punctuation to spaces, optionally fold digit runs to ``0``,
    collapse whitespace runs, trim. Two near-duplicate pages differing
    only in case/punctuation/counters then hash identically, so the
    exact- and MinHash-dedup stages upstream of training see through
    cosmetic variation.

    Patterns stay in the Java∩RE2∩DuckDB regex subset (ASCII classes,
    no lookaround — the pii_redact discipline) so the normalization is
    engine-reproducible byte-for-byte. Scale shape: pure scan-fused
    projection — zero shuffle/join/Python, pipelines inside one
    WholeStageCodegen span."""
    c = F.lower(F.col(text_col))
    # punctuation → space (ASCII, explicit class — no \p{Punct}, which
    # RE2/DuckDB read differently than Java)
    c = F.regexp_replace(c, r"[!-/:-@\[-`{-~]", " ")
    if strip_digits:
        c = F.regexp_replace(c, r"[0-9]+", "0")
    c = F.regexp_replace(c, r"[ \t\r\n]+", " ")
    c = F.trim(c)
    return df.withColumn(out_col, c)


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """The data-card census: one tidy (metric, value) table describing a
    corpus — doc/token/char totals, token-length moments, exact char
    percentiles, empty-doc count, and (with ``lang_col``) language
    diversity (distinct langs + Shannon entropy of the language mix).
    The standard first page of a dataset datasheet, producible per
    snapshot/shard and diffable across crawls.

    Scale shape: ONE map-side-combined aggregate for every scalar
    metric (the token counts are scan-fused expressions — no explode),
    plus one bounded ``lang`` groupBy for the mix entropy (|langs|
    rows). Output is a constant-size table at any corpus size.
    """
    t = F.col(text_col)
    n_toks = F.when(
        F.length(F.trim(t)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(t), " +")))
    base = df.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(t)).alias("n_chars"),
        F.sum(n_toks).alias("n_tokens"),
        F.avg(n_toks).alias("mean_tokens"),
        F.expr(f"percentile(length({text_col}), 0.5)").alias("p50_chars"),
        F.expr(f"percentile(length({text_col}), 0.9)").alias("p90_chars"),
        F.sum(F.when(F.length(F.trim(t)) == 0, 1).otherwise(0))
        .alias("n_empty"),
    )
    metrics = base.selectExpr(
        "stack(7, 'n_docs', cast(n_docs as double), "
        "'n_chars', cast(n_chars as double), "
        "'n_tokens', cast(n_tokens as double), "
        "'mean_tokens', mean_tokens, "
        "'p50_chars', p50_chars, "
        "'p90_chars', p90_chars, "
        "'n_empty', cast(n_empty as double)) AS (metric, value)")
    if lang_col is None:
        return metrics
    counts = df.groupBy(lang_col).agg(F.count("*").alias("c"))
    tot = counts.agg(F.sum("c").alias("t"))
    p_l = F.col("c") / F.col("t")
    lc = counts.crossJoin(F.broadcast(tot)).agg(
        F.count("*").cast("double").alias("n_langs"),
        (-F.sum(p_l * F.log2(p_l))).alias("lang_entropy"),
    )
    lang_metrics = lc.selectExpr(
        "stack(2, 'n_langs', n_langs, 'lang_entropy', lang_entropy)"
        " AS (metric, value)")
    return metrics.unionByName(lang_metrics)


def tag_keywords(
    df: DataFrame,
    keyword_sets: dict,
    text_col: str = "text",
    lowercase: bool = True,
    prefix: str = "kw_",
) -> DataFrame:
    """Topic/keyword tagging — the curation step that routes documents
    to domain buckets (code/medical/legal/...) by vocabulary hit
    counts: for each ``tag → [words]`` entry, adds ``{prefix}{tag}`` =
    the number of tokens (multiset count) that belong to the tag's word
    set. Matching is token-exact after optional lowercasing, not
    substring (no 'cat' inside 'category').

    Scale shape: the vocabularies ride into the plan as array literals
    and counting is ``size(filter(tokens, t -> array_contains(...)))``
    — a pure scan-fused projection, zero shuffle/join/Python. For
    vocabularies beyond a few thousand words per tag, switch to the
    token-explode + broadcast-join census (ngram_topk's shape) — the
    literal form keeps the oracle byte-exact and the plan O(vocab) in
    size, fine for curated tag lists.
    """
    if not keyword_sets:
        raise ValueError("keyword_sets must be non-empty")
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = F.split(t, " +")
    out = df
    for tag, words in keyword_sets.items():
        if not words:
            raise ValueError(f"empty keyword list for tag {tag!r}")
        vocab = F.array(*[
            F.lit(w.lower() if lowercase else w) for w in words])
        out = out.withColumn(
            f"{prefix}{tag}",
            F.size(F.filter(toks, lambda x: F.array_contains(vocab, x)))
            .cast("long"))
    return out


def winsorize(
    df: DataFrame,
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
    relative_error: float | None = None,
) -> DataFrame:
    """Percentile winsorization — clamp a feature at its corpus
    quantiles (the tail-taming preprocessing step; the percentile twin
    of the reference's sigma clamp, imageoperations.py normalizeImage):
    values below the ``lower`` quantile snap up to it, above ``upper``
    snap down. Nulls pass through.

    Scale shape: ONE exact-percentile aggregate (GK-sketch arm via
    ``relative_error`` for the 100-TB path) broadcast back through a
    crossJoin, then a scan-fused clamp — the quantile_buckets
    discipline, never a sort."""
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError("need 0 <= lower < upper <= 1")
    v = F.col(value_col).cast("double")
    pr = F.array(F.lit(float(lower)), F.lit(float(upper)))
    if relative_error is not None:
        agg = F.percentile_approx(
            v, pr, F.lit(int(round(1.0 / relative_error))))
    else:
        agg = F.percentile(v, pr)
    bounds = F.broadcast(df.agg(agg.alias("__wb")))
    out_col = out_col or f"{value_col}_wins"
    lo, hi = F.col("__wb")[0], F.col("__wb")[1]
    return (
        df.crossJoin(bounds)
        .withColumn(out_col,
                    F.when(v.isNull(), None)
                    .otherwise(F.greatest(lo, F.least(hi, v))))
        .drop("__wb")
    )


def group_standardize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    out_col: str | None = None,
    ddof: int = 1,
) -> DataFrame:
    """Z-score standardization, optionally per group (per-language /
    per-domain feature normalization): ``(x − μ_g) / σ_g``; a
    zero-variance group standardizes to 0.0 (defined, not NaN — a
    constant feature carries no signal). Nulls pass through.

    Scale shape: one bounded groupBy for (μ, σ) + a broadcast stats
    join back — group count is languages/domains, never a window over
    the corpus; same discipline as mad_outliers."""
    v = F.col(value_col).cast("double")
    std = F.stddev_samp(v) if ddof == 1 else F.stddev_pop(v)
    keys = [group_col] if group_col else []
    if keys:
        stats = df.groupBy(*keys).agg(
            F.avg(v).alias("__mu"), std.alias("__sd"))
        j = df.join(F.broadcast(stats), keys)
    else:
        stats = df.agg(F.avg(v).alias("__mu"), std.alias("__sd"))
        j = df.crossJoin(F.broadcast(stats))
    out_col = out_col or f"{value_col}_z"
    z = F.when(v.isNull(), None).otherwise(
        F.when((F.col("__sd").isNull()) | (F.col("__sd") == 0.0), 0.0)
        .otherwise((v - F.col("__mu")) / F.col("__sd")))
    return j.withColumn(out_col, z).drop("__mu", "__sd")


def feature_corr(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Pairwise Pearson correlation matrix of feature columns as tidy
    (col_a, col_b, corr) rows (a < b) — the feature-QA/drift diagnostic
    (near-±1 pairs are redundant features; a correlation that moves
    between crawls is drift). ONE aggregate computes every pair
    map-side-combined; output is |cols|²/2 rows at any corpus size."""
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")
    aggs = []
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            pairs.append((a, b))
            aggs.append(F.corr(F.col(a).cast("double"),
                               F.col(b).cast("double"))
                        .alias(f"__c_{a}__{b}"))
    row = df.agg(*aggs)
    stack = ", ".join(
        f"'{a}', '{b}', `__c_{a}__{b}`" for a, b in pairs)
    return row.selectExpr(
        f"stack({len(pairs)}, {stack}) AS (col_a, col_b, corr)")


def bigram_logloss(
    df: DataFrame, id_col: str, text_col: str = "text",
    add_k: float = 1.0,
    out_col: str = "bigram_logloss",
) -> DataFrame:
    """Per-doc mean negative log2 conditional bigram probability under an
    add-k-smoothed corpus bigram LM — one fidelity step past
    ``unigram_logloss`` toward CCNet's LM-perplexity quality signal:
    word-salad spam has plausible unigrams but implausible transitions.

        P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + k) / (c(w_{i-1}) + k·V)

    with corpus counts c and unigram vocabulary size V; the doc score
    averages -log2 P over positions 2..n (null for docs with < 2
    tokens). Smoothing keeps unseen transitions finite and, with the
    default k=1, the probabilities are ratios of exact integers — the
    cross-engine-stable form.

    Scale shape: bigram pairing is arrays_zip over two slices of the
    token array — scan-fused, ZERO shuffle to form pairs (never a
    per-doc window or positional self-join). Corpus model = one groupBy
    per n-gram order (map-side combined, |distinct bigrams| ≪ tokens) +
    a broadcast 1-row vocab total; docs then probe the probability table
    on (w1, w2) — hot transitions skew only the AQE-splittable probe
    side — and one per-doc mean agg. No Python."""
    toks = tokens(F.lower(F.col(text_col)))
    pairs = df.select(
        F.col(id_col),
        F.explode(F.arrays_zip(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        )).alias("__bg"),
    ).select(
        id_col,
        F.col("__bg.0").alias("w1"), F.col("__bg.1").alias("w2"))
    uni = (df.select(F.explode(toks).alias("w1"))
           .groupBy("w1").agg(F.count("*").alias("cw")))
    vocab = F.broadcast(uni.agg(F.count("*").alias("__v")))
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    probs = (big.join(uni, "w1").crossJoin(vocab).select(
        "w1", "w2",
        ((F.col("cb") + F.lit(add_k))
         / (F.col("cw") + F.lit(add_k) * F.col("__v"))).alias("p")))
    per_doc = (pairs.join(probs, ["w1", "w2"])
               .groupBy(id_col)
               .agg(F.avg(-F.log2("p")).alias(out_col)))
    return df.join(per_doc, id_col, "left")


def pmi_pairs(
    df: DataFrame, text_col: str = "text",
    min_count: int = 5, top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` adjacent-token collocations by pointwise mutual
    information — PMI(w1,w2) = log2( c(w1 w2)·T / (c(w1)·c(w2)) ) with T
    the corpus bigram total — the classic multiword-expression detector
    (Church & Hanks 1990) used to audit tokenizer merge candidates and
    template boilerplate. ``min_count`` suppresses the low-frequency PMI
    explosion (hapax pairs score arbitrarily high). Ties break on
    (w1, w2) so the k-bounded ranking is engine-stable; all inputs are
    ratios of exact integers.

    Output: (w1, w2, n, pmi), ``top_k`` rows by descending PMI.

    Scale shape: the same zero-shuffle arrays_zip pairing as
    ``bigram_logloss``, one census groupBy per order, a |bigrams|⨝|vocab|
    equi-join twice (never corpus rows), broadcast 1-row total, and a
    k-bounded TakeOrderedAndProject — no global sort materializes."""
    toks = tokens(F.lower(F.col(text_col)))
    pairs = df.select(
        F.explode(F.arrays_zip(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        )).alias("__bg"),
    ).select(F.col("__bg.0").alias("w1"), F.col("__bg.1").alias("w2"))
    uni = (df.select(F.explode(toks).alias("w")).groupBy("w")
           .agg(F.count("*").alias("cw")))
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    tot = F.broadcast(big.agg(F.sum("n").alias("__t")))
    scored = (
        big.where(F.col("n") >= int(min_count))
        .join(uni.select(F.col("w").alias("w1"),
                         F.col("cw").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("cw").alias("c2")), "w2")
        .crossJoin(tot)
        .select(
            "w1", "w2", "n",
            # ranking key: the raw likelihood ratio, NOT its log — the
            # ratio is one correctly-rounded double op tree (identical
            # bits in any IEEE engine) while log2 implementations may
            # disagree by 1 ulp and flip a boundary rank
            ((F.col("n").cast("double") * F.col("__t"))
             / (F.col("c1").cast("double") * F.col("c2")))
            .alias("__r")))
    return (scored
            .orderBy(F.col("__r").desc(), "w1", "w2")
            .limit(int(top_k))
            .select("w1", "w2", "n", F.log2("__r").alias("pmi")))


def snapshot_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    top_movers: int = 10,
) -> DataFrame:
    """Vocabulary drift between two corpus snapshots (crawl N vs crawl
    N+1): per-term probability shift plus the corpus-level
    Jensen-Shannon divergence — the monitoring signal that a source
    changed template, language mix, or spam profile between crawls.
    Output rows: ``('__jsd__', NULL, NULL, jsd)`` and the
    ``top_movers`` terms by |Δp| as ``(term, p_a, p_b, delta)``.

    JSD uses log2 (bounded [0,1]); unseen terms contribute via the
    mixture M = (P+Q)/2 with no smoothing needed (0·log0 ≡ 0 — exact,
    not an epsilon hack).

    Scale shape: one census groupBy per snapshot (map-side combined),
    a full-outer term join (shuffles |vocab| rows, not corpus rows), a
    single-row total agg, and a k-bounded TakeOrdered for the movers."""
    def census(df):
        toks = F.explode(F.split(F.col(text_col), " ")).alias("term")
        return (df.select(toks).where(F.col("term") != "")
                .groupBy("term").agg(F.count("*").alias("c")))
    ca, cb = census(df_a), census(df_b)
    j = (ca.withColumnRenamed("c", "ca")
         .join(cb.withColumnRenamed("c", "cb"), "term", "full_outer")
         .fillna(0, ["ca", "cb"]))
    tot = j.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    j = j.crossJoin(F.broadcast(tot))
    p = F.col("ca") / F.col("ta")
    q = F.col("cb") / F.col("tb")
    m = (p + q) / F.lit(2.0)
    term_kl = (
        F.when(p > 0, p * F.log2(p / m)).otherwise(0.0)
        + F.when(q > 0, q * F.log2(q / m)).otherwise(0.0)
    ) / F.lit(2.0)
    scored = j.select(
        "term", p.alias("p_a"), q.alias("p_b"),
        (q - p).alias("delta"), term_kl.alias("__kl"))
    jsd = scored.agg(F.sum("__kl").alias("jsd")).select(
        F.lit("__jsd__").alias("term"),
        F.lit(None).cast("double").alias("p_a"),
        F.lit(None).cast("double").alias("p_b"),
        F.col("jsd").alias("delta"))
    movers = (scored.orderBy(F.abs(F.col("delta")).desc(), F.col("term"))
              .limit(top_movers)
              .select("term", "p_a", "p_b", "delta"))
    return jsd.unionByName(movers)


def bm25_top_terms(
    df: DataFrame, id_col: str, text_col: str = "text",
    top_n: int = 5, k1: float = 1.2, b: float = 0.75, min_df: int = 1,
) -> DataFrame:
    """Per-doc top-N terms by Okapi BM25 weight — TF-IDF's
    production-search successor (Robertson & Zaragoza 2009; the Lucene
    `IDF = ln(1 + (N − df + 0.5)/(df + 0.5))` form, which keeps the
    weight positive for df > N/2). Returns
    (id, term, tf, df, dl, bm25, rank) with deterministic
    (score desc, term) ties — the keyword extractor to use when scores
    must be comparable across documents of very different lengths
    (tf saturates at k1+1; dl/avgdl normalizes verbosity).

    Scale shape: ONE groupBy for per-(doc, term) tf; per-doc length dl
    as a window sum over the SAME doc partitioning the final rank window
    uses (no extra shuffle, unlike a second groupBy + join); one
    map-side-combined groupBy for df; corpus N and avgdl as a broadcast
    1-row aggregate (no driver action); then a term-keyed join of two
    aggregate relations — skew-safe: both sides are one row per distinct
    (doc, term) / term, never per token."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    tf = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy(id_col)))
    dfreq = (tf.groupBy("term").agg(F.count("*").alias("df"))
             .where(F.col("df") >= min_df))
    stats = F.broadcast(tf.agg(
        F.countDistinct(id_col).alias("__n"),
        (F.sum("tf") / F.countDistinct(id_col)).alias("__avgdl")))
    idf = F.log(1.0 + (F.col("__n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
    scored = (tf.join(dfreq, "term").crossJoin(stats)
              .withColumn("bm25",
                          idf * (F.col("tf") * (k1 + 1.0)) / norm)
              .drop("__n", "__avgdl"))
    w = Window.partitionBy(id_col).orderBy(F.desc("bm25"), "term")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_n)
            .select(id_col, "term", "tf", "df", "dl", "bm25", "rank"))


def chi2_terms(
    df: DataFrame, class_col: str, text_col: str = "text",
    top_n: int = 10, min_df: int = 2,
) -> DataFrame:
    """Per-class top-N terms by χ² association between document-level
    term PRESENCE and class membership — the classic supervised
    feature-selection statistic for text classification (Yang &
    Pedersen, ICML'97; Manning IR §13.5.2). For each (term, class) the
    2×2 contingency is a = docs of the class containing the term,
    b = other-class docs containing it, c/d their complements, and

        χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))

    Returns (class, term, n_with_term, chi2, rank), rank 1..top_n per
    class with deterministic (χ² desc, term) ties. LLM-pipeline use:
    surfacing language/domain-discriminative vocabulary and leaking
    template markers before training a quality classifier on the split.

    Scale shape: presence is a distinct on (doc, term, class) — one
    shuffle on corpus-vocabulary rows; everything after operates on
    aggregates: per-(term, class) counts, per-term totals (map-side
    combined), per-class doc counts as a BROADCAST |classes|-row join,
    and the rank window partitions by class ordered by a score whose
    operands are all exact integers, so the cut is engine-exact. The
    integer products are computed in double (N·(ad−bc)² overflows i64
    past ~10⁵ docs) with one fixed operation tree, so both engines
    round identically."""
    toks = df.select(
        F.col(class_col).alias("cls"),
        F.split(F.lower(F.col(text_col)), " ").alias("__toks"))
    # presence rows: array_distinct dedups WITHIN the doc before the
    # explode, so each (doc, term) contributes exactly one row and no
    # doc id ever needs to be carried (or shuffled)
    pres = (toks.select(
        "cls", F.explode(F.array_distinct("__toks")).alias("term"))
        .where(F.col("term") != ""))
    # per-(term, class) doc counts and per-term totals
    tc = pres.groupBy("term", "cls").agg(F.count("*").alias("a"))
    tt = (tc.groupBy("term").agg(F.sum("a").alias("t"))
          .where(F.col("t") >= min_df))
    # per-class doc counts + corpus N (broadcast: |classes| rows)
    cls_n = df.groupBy(F.col(class_col).alias("cls")).agg(
        F.count("*").alias("n_cls"))
    tot = F.broadcast(cls_n.agg(F.sum("n_cls").alias("__N")))
    j = (tc.join(tt, "term").join(F.broadcast(cls_n), "cls")
         .crossJoin(tot))
    a = F.col("a").cast("double")
    bb = (F.col("t") - F.col("a")).cast("double")
    c = (F.col("n_cls") - F.col("a")).cast("double")
    d = (F.col("__N") - F.col("t") - F.col("n_cls")
         + F.col("a")).cast("double")
    n_d = F.col("__N").cast("double")
    num = n_d * (a * d - bb * c) * (a * d - bb * c)
    den = ((a + bb) * (c + d)) * ((a + c) * (bb + d))
    chi2 = F.when(den > 0, num / den).otherwise(0.0)
    scored = j.select(F.col("cls"), "term",
                      F.col("a").alias("n_with_term"),
                      chi2.alias("chi2"))
    w = Window.partitionBy("cls").orderBy(F.desc("chi2"), "term")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_n))


def textrank_keywords(
    df: DataFrame, text_col: str = "text",
    min_count: int = 3, n_iter: int = 3, damping: float = 0.85,
    top_k: int | None = None,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): weighted
    PageRank over the token CO-OCCURRENCE graph — nodes are tokens,
    undirected edges are adjacent-token pairs weighted by corpus count
    (``min_count`` prunes noise edges), rank is the stationary
    importance under the standard damped walk. The graph-centrality
    complement to frequency-based keywording (tfidf/bm25 rows): a token
    ranks high when it co-occurs with other high-ranking tokens, not
    merely when it is common.

    Output: (token, rank), optionally cut to ``top_k`` by
    (rank desc, token).

    Scale shape: one corpus-sized bigram census groupBy (the same
    zero-shuffle arrays_zip pairing as pmi_pairs), then
    ``operators.graph.pagerank(weight_col='n')`` over the |vocab|-sized
    aggregate graph — per-iteration joins never touch corpus rows. An
    undirected co-occurrence graph has no dangling nodes, so the mass
    term is exactly zero and rank stays comparable across crawls."""
    from pyradiomics_spark.operators.graph import pagerank

    toks = tokens(F.lower(F.col(text_col)))
    pairs = df.select(
        F.explode(F.arrays_zip(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        )).alias("__bg"),
    ).select(F.col("__bg.0").alias("w1"), F.col("__bg.1").alias("w2"))
    big = (pairs.groupBy("w1", "w2").agg(F.count("*").alias("n"))
           .where(F.col("n") >= int(min_count)))
    und = big.unionByName(big.select(
        F.col("w2").alias("w1"), F.col("w1").alias("w2"), "n"))
    # self-loop bigrams ("very very") would let a token vote for itself
    und = und.where(F.col("w1") != F.col("w2"))
    ranks = pagerank(und, n_iter=n_iter, damping=damping,
                     src="w1", dst="w2", weight_col="n")
    out = ranks.select(F.col("node").alias("token"), "rank")
    if top_k is not None:
        out = out.orderBy(F.col("rank").desc(), "token").limit(int(top_k))
    return out


def concentration_metrics(
    df: DataFrame,
    group_cols,
    unit_col,
) -> DataFrame:
    """Per-group source-concentration metrics over unit counts —
    ``(group..., n_units, hhi, gini)`` where each unit's share is its
    row count within the group:

        hhi  = Σ_u share_u²          (Herfindahl–Hirschman index)
        gini = Σ_u (2·rank_u − n − 1)·count_u / (n · Σ count)

    (ranks ascending by (count, unit) — the deterministic form of the
    standard rank formula). The data-card diversity row: a language
    whose corpus mass concentrates in a handful of hosts (HHI → 1,
    Gini → 1) is one takedown or one boilerplate family away from
    collapse, and mix rebalancing (domain_mix_sample) keys off exactly
    these numbers.

    Scale shape: ONE map-side-combined (group, unit) census — corpus
    rows are touched once — then a rank window and a sum over the
    |group×unit| AGGREGATE rows only. Exact integer counts through one
    fixed op tree → engine-exact."""
    from pyspark.sql import Window

    groups = [group_cols] if isinstance(group_cols, str) else list(
        group_cols)
    u = F.col(unit_col) if isinstance(unit_col, str) else unit_col
    census = df.groupBy(*groups, u.alias("__unit")).agg(
        F.count("*").alias("__c"))
    w = Window.partitionBy(*groups)
    wr = w.orderBy(F.col("__c").asc(), F.col("__unit").asc())
    c = F.col("__c").cast("double")
    tot = F.sum("__c").over(w).cast("double")
    n = F.count("*").over(w).cast("double")
    rk = F.row_number().over(wr).cast("double")
    per = census.select(
        *groups,
        n.alias("__n"),
        (c / tot) .alias("__share"),
        ((2.0 * rk - n - 1.0) * c / (n * tot)).alias("__gc"))
    return per.groupBy(*groups).agg(
        F.max("__n").cast("long").alias("n_units"),
        F.sum(F.col("__share") * F.col("__share")).alias("hhi"),
        F.sum("__gc").alias("gini"))


def bm25_search(
    df: DataFrame,
    id_col: str,
    query_terms: list[str],
    text_col: str = "text",
    top_n: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Rank documents for a bag-of-terms query by summed Okapi BM25 —
    the serving twin of ``bm25_top_terms`` (same Lucene idf / saturation
    / length normalization; Robertson & Zaragoza 2009). Returns the
    ``top_n`` docs as (id, score, n_hits, rank) with deterministic
    (score desc, id) ties; ``n_hits`` = how many query terms matched.
    This is the lexical leg a retrieval stack fuses with the ANN leg
    via ``ranking.rrf_fuse`` and evaluates with ``ranking.ndcg_at_k``.

    Scale shape: the token stream is filtered to the query terms AT THE
    SCAN (an isin over a literal list — predicate-pushdown friendly,
    no broadcast table needed), so the per-(doc, term) tf groupBy only
    ever sees query-term hits; doc lengths come from one full-count
    groupBy on the same doc key; df/N/avgdl are aggregate-sized. The
    final cut is a k-bounded TakeOrdered on the scored hits — never a
    global sort of the corpus."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # distinctness must hold AFTER lowercasing — ['A', 'a'] would
    # otherwise double-count the term in the isin filter's score sum
    if len({t.lower() for t in query_terms}) != len(query_terms):
        raise ValueError("query_terms must be distinct (case-folded)")
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    # doc length over ALL tokens (BM25 normalizes by true verbosity,
    # not by query-hit count)
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = F.broadcast(dl.agg(
        F.count("*").alias("__n"),
        (F.sum("dl") / F.count("*")).alias("__avgdl")))
    hits = toks.where(F.col("term").isin([t.lower()
                                          for t in query_terms]))
    tf = hits.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(1.0 + (F.col("__n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    scored = (tf.join(dl, id_col).join(F.broadcast(dfreq), "term")
              .crossJoin(stats))
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                               / F.col("__avgdl"))
    per_term = scored.withColumn(
        "__s", idf * (F.col("tf") * (k1 + 1.0)) / norm)
    agg = per_term.groupBy(id_col).agg(
        F.sum("__s").alias("score"), F.count("*").alias("n_hits"))
    top = agg.orderBy(F.col("score").desc(), F.col(id_col)).limit(top_n)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "score", F.col("n_hits").cast("long").alias("n_hits"),
        "rank")


def skipgram_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    min_count: int = 1,
) -> DataFrame:
    """Directional skip-gram co-occurrence census — ``(w1, w2, d, n)``
    counts of token pairs at forward offset ``d`` (1..``window``) —
    the word2vec/GloVe training-pair shape (Mikolov et al. 2013)
    generalizing ``pmi_pairs``' adjacent-only bigrams: windowed
    co-occurrence is what embedding trainers and distributional-
    similarity audits consume (symmetric counts are
    ``c(a,b,d) + c(b,a,d)`` — emit-once keeps the census lossless).

    Scale shape: pairing is ``window`` arrays_zip's over shifted slices
    of the SAME tokenized array — pure per-row expressions, ZERO
    shuffle until the single map-side-combined census groupBy (each
    scan partition ships at most its distinct (w1, w2, d) keys).
    ``min_count`` prunes the hapax tail at the aggregate."""
    if window < 1:
        raise ValueError("window must be >= 1")
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(toks.alias("__t"))
    parts = []
    for d in range(1, window + 1):
        n_pairs = F.greatest(F.size(F.col("__t")) - d, F.lit(0))
        parts.append(base.select(
            F.explode(F.arrays_zip(
                F.slice(F.col("__t"), 1, n_pairs),
                F.slice(F.col("__t"), 1 + d, n_pairs))).alias("__p"))
            .select(F.col("__p.0").alias("w1"),
                    F.col("__p.1").alias("w2"),
                    F.lit(d).alias("d")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    census = u.groupBy("w1", "w2", "d").agg(F.count("*").alias("n"))
    return census.where(F.col("n") >= min_count)
