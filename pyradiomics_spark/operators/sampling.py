"""Deterministic dataset sampling / splitting / shuffling — the operators a
training-data pipeline needs between dedup and the trainer.

Reference scope note: pyradiomics has no sampling stage (its batch driver
enumerates every case, scripts/__init__.py:256-322); these exist for the
LLM-training-pipeline surface. All three are hash-deterministic (md5 of
``id || ':' || seed``): re-running on the same corpus reproduces the same
split/sample/order bit-for-bit, rows added later don't move existing rows
between splits, and the md5 derivation is engine-reproducible (the driver's
DuckDB oracle computes the identical assignment).

Scale notes (the design constraints, in order of importance):
* ``split_dataset`` / ``stratified_sample`` are pure per-row projections /
  filters — NO shuffle, no state; they push down to the scan and cost one
  codegen stage at any corpus size.
* ``deterministic_shuffle`` is ONE global range sort on the hash key
  (sample-based range partitioning, the same machinery as orderBy) — the
  one honest way to get a reproducible global permutation; the hash key is
  uniform by construction so the range partitions are balanced regardless
  of input skew. For training-data export prefer ``shuffle_pos % n_shards``
  (also provided) over a driver-side ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyradiomics_spark.operators.dedup import word_ngrams

#: 16^8 — the md5-prefix fraction denominator
_DENOM = float(1 << 32)


def hash_fraction(id_col, seed: int = 0) -> Column:
    """Deterministic uniform [0, 1) value per id: first 8 hex digits of
    md5(id ':' seed), over 2³². Same derivation as the hash_bucket
    intensity mode (functions/text.py) — engine-reproducible."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(c.cast("string"), F.lit(f":{seed}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_DENOM)


def split_dataset(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Add a deterministic split label ('train'/'val'/'test' by default)
    from cumulative weight thresholds on the id's hash fraction.

    Hash-based (NOT randomSplit): assignment is a pure function of the id,
    so it is stable under re-runs, repartitioning, AND corpus growth — a
    doc never migrates from test into train when new data arrives, which is
    the property that keeps eval sets uncontaminated over time.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = float(sum(weights.values()))
    frac = hash_fraction(id_col, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = frac < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def time_split(
    df: DataFrame,
    ts_col: str,
    cut,
    embargo: float = 0.0,
    split_col: str = "split",
) -> DataFrame:
    """Temporal train/test split with an embargo gap — the
    leakage-aware cut for autocorrelated data (the north rule's
    zero-temporal-leakage discipline applied to SPLITTING, not just
    features): rows strictly before ``cut`` are 'train', rows at or
    after ``cut + embargo`` seconds are 'test', and rows inside the
    embargo window are 'embargo' (DROPPED from both sides by the
    caller) so label horizons that extend past the cut can't leak
    future information into training (the purged split of
    López de Prado 2018 ch. 7, simplified to one cut).

    ``cut`` is a timestamp/NTZ literal or epoch-seconds number. Pure
    scan-fused projection — no shuffle, stable under corpus growth for
    all rows outside the embargo."""
    if embargo < 0:
        raise ValueError("embargo must be >= 0")
    t = F.col(ts_col).cast("timestamp").cast("double")
    c = F.lit(cut).cast("timestamp").cast("double")
    return df.withColumn(
        split_col,
        F.when(t < c, "train")
        .when(t >= c + F.lit(float(embargo)), "test")
        .otherwise("embargo"))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    fractions: dict | float,
    strata_col: str | None = None,
    seed: int = 0,
) -> DataFrame:
    """Deterministic (per-id hash) sample; with ``strata_col`` + a dict of
    per-stratum fractions, each stratum is sampled at its own rate (the
    quality-tier downsampling move: keep 100% of high-quality docs, 10% of
    mid, 1% of boilerplate). Unknown strata default to fraction 0.

    Pure filter — no shuffle, no sampling state; unlike df.sample it is
    reproducible across retries/partitionings and composable with the
    split (independent seeds give independent hash draws).
    """
    frac = hash_fraction(id_col, seed)
    if strata_col is None:
        if not isinstance(fractions, (int, float)):
            raise ValueError("scalar fraction required without strata_col")
        return df.where(frac < F.lit(float(fractions)))
    if not isinstance(fractions, dict):
        raise ValueError("dict of per-stratum fractions required")
    if not fractions:
        # every stratum is "unknown" → fraction 0: empty result, explicitly
        return df.where(F.lit(False))
    rate = None
    for k, v in fractions.items():
        cond = F.col(strata_col) == F.lit(k)
        rate = F.when(cond, float(v)) if rate is None else rate.when(cond, float(v))
    rate = rate.otherwise(0.0)
    return df.where(frac < rate)


def stratified_sample_exact(
    df: DataFrame,
    id_col: str,
    n_per_stratum: dict | int,
    strata_col: str,
    seed: int = 0,
) -> DataFrame:
    """Exactly-N rows per stratum (the common curation ask fraction-based
    hashing can't satisfy: "give me 100k docs per language"): rank each
    stratum by (hash_fraction, id) and keep rank ≤ N. Deterministic — the
    same corpus always yields the same sample regardless of partitioning
    or executor count; strata smaller than N are kept whole.

    ``n_per_stratum``: an int (same N everywhere) or a dict per stratum
    value; strata absent from the dict are dropped (N=0), matching
    stratified_sample's unknown-stratum contract.

    Scale shape: ONE window partitioned BY STRATUM — a bounded per-key
    sort (strata counts are corpus/|strata|, never a global single-
    partition window), the same shuffle the downstream per-stratum use
    would pay anyway. Unlike the fraction filter this is rank-based, so
    adding corpus CAN rotate members in/out of the sample — inherent to
    any exact-N contract; use stratified_sample where growth-stability
    matters more than the count."""
    frac = hash_fraction(id_col, seed)
    w = Window.partitionBy(strata_col).orderBy(
        frac.asc(), F.col(id_col).asc())
    ranked = df.withColumn("__rk", F.row_number().over(w))
    if isinstance(n_per_stratum, dict):
        if not n_per_stratum:
            return df.where(F.lit(False))
        lim = None
        for k, v in n_per_stratum.items():
            cond = F.col(strata_col) == F.lit(k)
            lim = (F.when(cond, F.lit(int(v))) if lim is None
                   else lim.when(cond, F.lit(int(v))))
        lim = lim.otherwise(F.lit(0))
    else:
        lim = F.lit(int(n_per_stratum))
    return ranked.where(F.col("__rk") <= lim).drop("__rk")


def cross_split_contamination(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str = "split",
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Train/test DECONTAMINATION check: pairs of docs in *different*
    splits sharing content — each row is an eval doc whose answer leaked
    into train. ``prefix_tokens=None`` keys on the byte-identical full
    text (exact contamination — structurally impossible after
    exact-dedup-then-split, which curate() relies on);
    ``prefix_tokens=N`` keys on the first N space-tokens (the practical
    decontamination net: boilerplate-headed near-copies).

    One shuffle on the content-key hash; skew-safe unless one literal
    document/prefix dominates the corpus, in which case the dedup stage
    upstream was skipped.
    """
    if prefix_tokens is None:
        key = F.col(text_col).cast("binary")
    else:
        key = F.concat_ws(
            " ", F.slice(F.split(F.col(text_col), " "), 1, prefix_tokens)
        ).cast("binary")
    h = df.select(
        F.col(id_col), F.col(split_col), F.sha2(key, 256).alias("__h"))
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(b, (F.col("a.__h") == F.col("b.__h"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
               & (F.col(f"a.{split_col}") != F.col(f"b.{split_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"a.{split_col}").alias("split_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"b.{split_col}").alias("split_b"),
        )
    )


def quantile_buckets(
    df: DataFrame,
    value_col: str,
    probs: tuple[float, ...] = (1.0 / 3, 2.0 / 3),
    bucket_col: str = "bucket",
    relative_error: float | None = None,
    round_dp: int | None = 6,
) -> DataFrame:
    """Corpus-quantile tiering — assign each row the bucket its
    ``value_col`` falls into between the corpus quantile boundaries at
    ``probs`` (CCNet's head/middle/tail perplexity tiers with the default
    tertiles; Wenzek et al. 2020 §4.3). Bucket i means
    value ≤ boundary_i with boundaries sorted ascending; the last bucket
    (len(probs)) is everything above the top boundary. Null values get a
    null bucket.

    Scale shape: ONE all-corpus aggregate producing a single boundary row
    (broadcast by Catalyst via the crossJoin), then a scan-fused
    projection — never a global sort/ntile window, which would funnel the
    corpus through one partition. Exact ``percentile`` by default (one
    sorted-buffer agg — fine to ~10⁸ rows); pass ``relative_error`` to
    switch to ``percentile_approx`` (GK sketch, the mergeable 100-TB
    path; boundaries then differ from exact by ≤ ε·n ranks).

    ``round_dp`` floor-rounds the boundaries (2⁻²⁰-shifted, the repo's
    ``_rnd`` convention) before comparison so bucket assignment is
    reproducible across engines whose interpolation arithmetic differs in
    the last ulp; None compares raw boundaries."""
    pr = F.array(*[F.lit(float(p)) for p in probs])
    v = F.col(value_col).cast("double")
    if relative_error is not None:
        acc = F.lit(int(round(1.0 / relative_error)))
        agg = F.percentile_approx(v, pr, acc)
    else:
        agg = F.percentile(v, pr)
    bounds = F.broadcast(df.agg(agg.alias("__b")))
    b = F.col("__b")
    if round_dp is not None:
        shift = 0.5 + 2.0 ** -20
        b = F.transform(
            b, lambda x: F.floor(x * 10.0**round_dp + shift) / 10.0**round_dp
        )
    bucket = F.when(
        v.isNotNull(), F.size(F.filter(b, lambda x: v > x))
    ).cast("int")
    return df.crossJoin(bounds).withColumn(bucket_col, bucket).drop("__b")


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 0,
    pos_col: str = "shuffle_pos",
    n_shards: int | None = None,
    shard_col: str = "shard",
    num_buckets: int = 1024,
) -> DataFrame:
    """Reproducible global permutation with a 0-based global position, and
    optionally a round-robin shard assignment (``pos % n_shards``) for
    sharded training-data export.

    NOT ``row_number() over (order by hash)``: a global window collapses
    every row into ONE partition — the classic scale-killer. Instead the
    hash fraction is cut into ``num_buckets`` explicit uniform buckets (a
    pure function of the id — no range-sampler nondeterminism), bucket
    sizes are counted off the SAME bucket exchange the rank window uses
    (reused, so the input lineage runs once), cross-bucket offsets are a
    ≤ num_buckets-row window, and pos = bucket offset + rank within
    bucket. One balanced shuffle on the bucket key + one broadcast of
    the offset table, at any corpus size; no driver action.
    """
    frac = hash_fraction(id_col, seed)
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    bucket = F.least(F.floor(frac * num_buckets), F.lit(num_buckets - 1)) \
        .cast("int")
    # ONE explicit bucket exchange feeds both the rank window and the
    # bucket census (the census groupBy sees the partitioning satisfied
    # and reuses the exchange), and the cross-bucket offsets are a
    # ≤ num_buckets-row window instead of a driver collect — the input
    # lineage runs once and the plan stays fully lazy
    src = df.withColumn("__shuf_bucket", bucket).repartition(
        F.col("__shuf_bucket"))
    tot = src.groupBy("__shuf_bucket").agg(F.count("*").alias("__t"))
    wo = Window.orderBy("__shuf_bucket").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = tot.select(
        "__shuf_bucket",
        F.coalesce(F.sum("__t").over(wo), F.lit(0)).alias("__shuf_off"))
    w = Window.partitionBy("__shuf_bucket").orderBy(h, F.col(id_col))
    out = (
        src.join(F.broadcast(offsets), "__shuf_bucket")
        .withColumn(pos_col,
                    (F.col("__shuf_off") + F.row_number().over(w) - 1)
                    .cast("long"))
        .drop("__shuf_bucket", "__shuf_off")
    )
    if n_shards is not None:
        out = out.withColumn(shard_col, F.col(pos_col) % F.lit(n_shards))
    return out


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    seed: int = 0,
    num_buckets: int = 64,
) -> DataFrame:
    """GPT-style sequence packing: documents are laid out in a
    deterministic shuffled order, conceptually concatenated, and cut into
    fixed ``budget``-token context windows (documents straddle cuts — the
    standard pretraining packing, not first-fit bin packing).

    Adds per-doc layout columns:
      * ``bucket``      — layout bucket (uniform hash cut, execution unit)
      * ``start_off``   — the doc's global token offset in the packed stream
      * ``pack_first`` / ``pack_last`` — context-window ids the doc spans
        (``start_off // budget`` .. ``(start_off + tokens − 1) // budget``;
        zero-token docs contribute nothing — their pack_first just marks
        where they would start).

    Same scale shape as ``deterministic_shuffle``: token prefix-sums run
    per uniform hash bucket (window partitioned by bucket — never global),
    bucket token totals aggregate off the same reused bucket exchange and
    come back as a broadcast ≤ num_buckets-row offset table (no driver
    action). The global layout is a pure function
    of (ids, token counts, seed) — independent of partitioning and of
    bucket count, so a re-run or a differently-sized cluster cuts the
    exact same context windows.
    """
    frac = hash_fraction(id_col, seed)
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    bucket = F.least(F.floor(frac * num_buckets), F.lit(num_buckets - 1)) \
        .cast("int")
    tok = F.col(token_col).cast("long")
    # same shape as deterministic_shuffle: one explicit bucket exchange
    # shared by the prefix-sum window and the token census; cross-bucket
    # offsets via a ≤ num_buckets-row window, no driver collect, input
    # lineage runs once
    src = df.withColumn("__pk_bucket", bucket).repartition(
        F.col("__pk_bucket"))
    tot = src.groupBy("__pk_bucket").agg(
        F.coalesce(F.sum(tok), F.lit(0)).alias("__t"))
    wo = Window.orderBy("__pk_bucket").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = tot.select(
        "__pk_bucket",
        F.coalesce(F.sum("__t").over(wo), F.lit(0)).alias("__pk_off"))
    w = Window.partitionBy("__pk_bucket").orderBy(h, F.col(id_col))
    cum = F.sum(tok).over(w.rowsBetween(Window.unboundedPreceding, 0))
    out = (
        src.join(F.broadcast(offsets), "__pk_bucket")
        .withColumn("__pk_cum", cum + F.col("__pk_off"))
        .withColumn("start_off", (F.col("__pk_cum") - tok).cast("long"))
        .withColumn("pack_first",
                    F.floor(F.col("start_off") / budget).cast("long"))
        .withColumn("pack_last",
                    F.floor((F.col("__pk_cum") - 1) / budget).cast("long"))
        .withColumnRenamed("__pk_bucket", "bucket")
        .drop("__pk_off", "__pk_cum")
    )
    return out


def domain_mix_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    target_shares: dict[str, float],
    seed: int = 0,
):
    """Static domain-mixture resampling (the Pile/DoReMi data-mixing
    move): downsample each domain so the OUTPUT corpus approaches the
    target mixture ``target_shares`` (weights, normalized internally)
    WITHOUT upsampling any domain. Domains absent from the dict are
    dropped; domains present keep at most their full contents.

    Water-filling: with availability c_d and normalized target share
    s_d, the largest achievable mixed corpus is T = min_d(c_d / s_d) —
    the binding domain is kept whole — and every other domain is
    hash-downsampled at rate s_d·T / c_d. Deterministic per-id hash
    (same draw family as stratified_sample, independent by seed), so
    the mix is reproducible across retries and partitionings.

    Returns ``(sampled_df, rates)`` where ``rates`` maps domain →
    (availability, rate) for monitoring/logging.

    Scale shape: ONE map-side-combined count agg over the target
    domains only (an ``In`` filter runs first, so at most
    ``len(target_shares)`` rows reach the driver whatever the domain
    column's cardinality — hosts, URLs), rates ride back into the plan
    as a literal CASE — then a pure scan-fused filter. No join, no
    shuffle of the corpus itself.
    """
    if not target_shares:
        raise ValueError("target_shares must be non-empty")
    if min(target_shares.values()) <= 0:
        raise ValueError("target shares must be > 0")
    tot = float(sum(target_shares.values()))
    shares = {k: v / tot for k, v in target_shares.items()}
    counts = {
        r[domain_col]: r["n"]
        for r in df.where(F.col(domain_col).isin(list(shares)))
        .groupBy(domain_col).agg(F.count("*").alias("n")).collect()
    }
    missing = [d for d in shares if counts.get(d, 0) == 0]
    if missing:
        raise ValueError(f"target domains absent from corpus: {missing}")
    t_rows = min(counts[d] / shares[d] for d in shares)
    rates = {d: (counts[d], shares[d] * t_rows / counts[d]) for d in shares}
    frac = hash_fraction(id_col, seed)
    rate = None
    for d, (_, r) in rates.items():
        cond = F.col(domain_col) == F.lit(d)
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = rate.otherwise(0.0)
    return df.where(frac < rate), rates


def ngram_decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str = "split",
    n: int = 13,
    eval_splits: tuple = ("val", "test"),
) -> DataFrame:
    """GPT-3-style n-gram decontamination census: every TRAIN doc that
    shares at least one ``n``-token (space-split) n-gram with any eval
    doc, with the count of distinct shared n-grams. Stricter than
    ``cross_split_contamination``'s prefix key — a leaked span anywhere
    inside a document is caught, which is the standard eval-integrity
    bar (GPT-3 appendix C uses 13-grams). Docs shorter than ``n``
    tokens contribute no n-grams (and cannot be flagged).

    Output: (doc_id, n_shared_grams) per contaminated train doc.
    Downstream either drops these ids (anti-join) or masks the spans.

    Scale shape: n-gram generation is JVM-side (``dedup.word_ngrams``,
    one regex — no Python); keys are md5 digests so the join shuffles
    16-byte keys, never text. The eval side is distinct-reduced first —
    at web scale eval sets are tiny, so AQE turns the join broadcast; the
    census is then a map-side lookup against a ~|eval n-grams| hash set,
    one scan of train.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    grams = F.transform(word_ngrams(F.col(text_col), n), lambda g: F.md5(g))
    is_eval = F.col(split_col).isin(*eval_splits)
    exploded = df.select(
        F.col(id_col), is_eval.alias("__ev"),
        F.explode(grams).alias("__g"))
    ev = exploded.where("__ev").select("__g").distinct()
    return (
        exploded.where(~F.col("__ev"))
        .join(ev, "__g")
        .groupBy(id_col)
        .agg(F.count_distinct("__g").alias("n_shared_grams"))
    )


def rank_normalize(
    df: DataFrame,
    value_col: str,
    out_col: str = "cdf",
    num_buckets: int = 64,
    relative_error: float | None = None,
):
    """Corpus rank/CDF normalization (the quantile transform): adds
    ``{out_col}_strict`` = (#values < v)/n and ``{out_col}`` =
    (#values ≤ v)/n per row — the uniform-marginal feature scaling
    robust to any input distribution, and the per-doc form of corpus
    percentile signals (a doc's length/perplexity percentile). Null
    values pass through with null outputs.

    Scale shape — the global-rank problem WITHOUT a global window:
    corpus quantile boundaries (ONE exact-percentile agg; GK-sketch arm
    via ``relative_error``) cut the corpus into ``num_buckets``
    value-ordered buckets; per-bucket counts (≤ num_buckets rows) come
    to the driver once and return as a broadcast offset table; inside a
    bucket ``rank()``/descending ``rank()`` windows give exact
    strictly-less / strictly-greater counts, tie groups intact (rank,
    not row_number — no arbitrary tie order). Same discipline as
    ``deterministic_shuffle``: bounded per-bucket sorts, one balanced
    shuffle, identical result at any partitioning. Boundary-straddling
    tie groups are safe: boundaries only place a row in a bucket; the
    strict/equal counts come from rank arithmetic against GLOBAL offsets,
    and equal values always land in the same bucket (value-deterministic
    cut).
    """
    v = F.col(value_col).cast("double")
    probs = tuple((i + 1) / num_buckets for i in range(num_buckets - 1))
    pr = F.array(*[F.lit(float(p)) for p in probs])
    if relative_error is not None:
        agg = F.percentile_approx(v, pr, F.lit(int(round(1.0 / relative_error))))
    else:
        agg = F.percentile(v, pr)
    brow = df.agg(agg.alias("__b")).collect()[0]["__b"]
    bounds = [float(x) for x in (brow or [])]
    bucket = F.when(v.isNotNull(), F.lit(0))
    expr = F.lit(0)
    for b in bounds:
        expr = expr + F.when(v > F.lit(b), 1).otherwise(0)
    bucket = F.when(v.isNotNull(), expr).cast("int")
    src = df.withColumn("__rn_bucket", bucket)
    counts = {r["__rn_bucket"]: r["cnt"] for r in
              src.where(v.isNotNull())
              .groupBy("__rn_bucket").agg(F.count("*").alias("cnt"))
              .collect()}
    n = sum(counts.values())
    offsets, acc = [], 0
    for b in sorted(counts):
        offsets.append((b, acc, n - acc - counts[b]))
        acc += counts[b]
    spark = df.sparkSession
    odf = spark.createDataFrame(
        offsets or [(0, 0, 0)],
        "__rn_bucket int, __rn_below long, __rn_above long")
    wa = Window.partitionBy("__rn_bucket").orderBy(v.asc())
    wd = Window.partitionBy("__rn_bucket").orderBy(v.desc())
    out = (
        src.join(F.broadcast(odf), "__rn_bucket", "left")
        .withColumn("__lt", F.col("__rn_below") + F.rank().over(wa) - 1)
        .withColumn("__gt", F.col("__rn_above") + F.rank().over(wd) - 1)
        .withColumn(
            f"{out_col}_strict",
            F.when(v.isNotNull(), F.col("__lt") / F.lit(float(n))))
        .withColumn(
            out_col,
            F.when(v.isNotNull(),
                   (F.lit(float(n)) - F.col("__gt")) / F.lit(float(n))))
        .drop("__rn_bucket", "__rn_below", "__rn_above", "__lt", "__gt")
    )
    return out


def gumbel_topk_sample(
    df: DataFrame,
    id_col: str,
    log_weight_col: str,
    k: int,
    seed: int = 0,
    score_col: str = "gumbel_score",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Gumbel-top-k trick
    (the DSIR §2 resampling step executed at scale): keep the k rows
    maximizing ``log_weight + G_id`` where ``G_id = −ln(−ln(u_id))`` and
    ``u_id`` is the row's deterministic hash fraction. This draws k rows
    with probability proportional to ``exp(log_weight)`` without
    replacement — importance resampling as an ORDER — and because the
    Gumbel noise is a pure function of (id, seed), the sample is
    reproducible across retries, partitionings, and engines (no RNG
    state, unlike df.sample/rand()).

    Null log-weights (e.g. token-less docs from dsir_log_weights) are
    excluded. Returns the k sampled rows plus ``score_col``.

    Scale shape: a scan-fused score projection + a k-bounded global
    TakeOrdered (Spark's orderBy().limit(k) physical plan — per-
    partition top-k then a k-sized driver merge, NEVER a full global
    sort). u=0 is impossible (md5 of a finite id), so the double log is
    finite.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    u = hash_fraction(id_col, seed)
    # u in [0,1): -ln(-ln(u)) needs u>0; the 2^-32 floor of the md5
    # fraction makes u=0 a 2^-32 event per id — shift by half an ulp of
    # the fraction grid so the expression is total, without moving any
    # realizable draw perceptibly
    g = -F.log(-F.log(u + F.lit(2.0 ** -33)))
    lw = F.col(log_weight_col).cast("double")
    out = (
        df.where(lw.isNotNull())
        .withColumn(score_col, lw + g)
    )
    return out.orderBy(F.desc(score_col), F.col(id_col)).limit(k)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int,
    overlap: int = 0,
    out_col: str = "chunk_text",
) -> DataFrame:
    """Split each document into fixed-size token windows — the
    long-document half of corpus preparation (pack_sequences handles the
    short half): chunk i covers tokens ``[i·stride, i·stride +
    chunk_tokens)`` with ``stride = chunk_tokens − overlap``; the final
    chunk keeps its tail even when short, and every chunk starts within
    the document (no empty trailing chunks). Emits one row per chunk
    with ``chunk_idx``, ``chunk_n_tokens``, and ``out_col``.

    Whitespace tokenization (the repo's token convention) — swap in a
    BPE count upstream and chunk on precomputed token arrays if exact
    model tokens matter.

    Scale shape: pure JVM projection + explode (sequence/transform/
    slice/concat_ws — no Python, no shuffle); output row count is
    Σ ceil(max(n_i − overlap, 1)/stride), linear in corpus tokens.
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # number of chunks: 1 + floor((max(n - chunk, 0) + stride - 1)/stride)
    # == chunks whose start < n, with the last partial tail kept
    extra = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    n_chunks = F.lit(1) + F.floor(
        (extra + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.slice(toks, i * stride + 1, chunk_tokens).alias("t"),
        ),
    )
    return (
        df.select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
            F.size("c.t").cast("long").alias("chunk_n_tokens"),
            F.concat_ws(" ", F.col("c.t")).alias(out_col),
        )
    )


def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int = 4,
    seed: int = 0,
    bucket_bits: int = 6,
) -> DataFrame:
    """Deterministic hash-ring negative sampling for contrastive /
    embedding training data: every id owns a segment of the 60-bit md5
    ring, and its j-th negative (j = 1..k) is the id owning the ring
    position ``h(id:neg<j>:seed)`` — i.e. the successor doc at a
    pseudo-random point. Uniform over the corpus, reproducible across
    engines and re-runs (no RNG state), and stable under corpus growth
    in the consistent-hashing sense (adding docs only re-routes targets
    whose segment split). The rare self-draw (target lands in the id's
    own segment, P ≈ 1/n per slot) is dropped and documented — slots
    are not re-rolled, so output has ≤ k rows per id.

    Output: ``(id, j, neg_id)``.

    Scale shape — the ring successor is a GLOBAL-order lookup, but no
    global window ever runs (the rank_normalize discipline): ring rows
    and targets are bucketed by the position's high ``bucket_bits``
    bits, the in-bucket successor is one bucket-keyed equi-join + one
    min(struct) aggregate (size each bucket to O(10) docs by raising
    ``bucket_bits`` with corpus size), empty/overrun buckets fall back
    to a bucket-successor table built from ONE aggregate-sized window
    over the 2^bucket_bits-row bucket minima (bucket = high bits ⇒ the
    min struct over following buckets IS the next non-empty bucket's
    owner), and the wrap-around is a broadcast 1-row global min."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 1 <= bucket_bits <= 40:
        raise ValueError("bucket_bits must be in [1, 40]")
    from pyspark.sql import Window

    def h60(col):
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast(
            "long")

    shift = 60 - bucket_bits
    i = F.col(id_col).cast("string")
    ring = df.select(
        F.col(id_col).alias("__rid"),
        h60(F.concat(i, F.lit(f":ring:{seed}"))).alias("__rpos"))
    ring = ring.withColumn("__b", F.shiftright(F.col("__rpos"), shift))
    tg = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("j"))
    tg = tg.withColumn(
        "__tpos",
        h60(F.concat(i, F.lit(":neg"), F.col("j").cast("string"),
                     F.lit(f":{seed}"))))
    tg = tg.withColumn("__b", F.shiftright(F.col("__tpos"), shift))
    win = F.struct(F.col("__rpos").alias("p"), F.col("__rid").alias("r"))
    cand = (tg.join(ring, "__b")
            .where(F.col("__rpos") >= F.col("__tpos"))
            .groupBy(id_col, "j")
            .agg(F.min(win).alias("__w1")))
    bmin = ring.groupBy("__b").agg(F.min(win).alias("__w"))
    # the successor table must cover buckets that hold TARGETS but no
    # ring rows — a target there must route to the next non-empty
    # bucket, not fall through to the global wrap; window min skips
    # the empty buckets' nulls
    allb = (ring.select("__b").unionByName(tg.select("__b")).distinct()
            .join(bmin, "__b", "left"))
    w_succ = Window.orderBy("__b").rowsBetween(
        1, Window.unboundedFollowing)
    succ = allb.select(
        "__b", F.min("__w").over(w_succ).alias("__w2"))
    wrap = F.broadcast(ring.agg(F.min(win).alias("__w3")))
    out = (tg.join(cand, [id_col, "j"], "left")
           .join(F.broadcast(succ), "__b", "left")
           .crossJoin(wrap))
    neg = F.coalesce(F.col("__w1.r"), F.col("__w2.r"), F.col("__w3.r"))
    return (out.select(F.col(id_col), "j", neg.alias("neg_id"))
            .where(F.col("neg_id") != F.col(id_col)))


def weighted_stratified_sample(
    df: DataFrame,
    stratum_cols,
    id_col: str,
    log_weight_col: str,
    k: int,
    seed: int = 0,
    score_col: str = "gumbel_score",
) -> DataFrame:
    """Exactly-k-per-stratum WEIGHTED sampling without replacement —
    the Gumbel-top-k trick applied per group (equivalently
    Efraimidis–Spirakis A-ES keys): within each stratum keep the k rows
    maximizing ``log_weight + G_id``, drawing proportional-to-weight
    without replacement. This completes the sampling matrix:
    `stratified_sample` (uniform rate), `stratified_sample_exact`
    (uniform exact-N), `gumbel_topk_sample` (weighted global-k) —
    weighted exact-N per language/domain is the DoReMi-style mix with a
    quality prior inside each domain. Deterministic: the noise is a
    pure function of (id, seed) — reproducible across retries,
    partitionings, and engines. Null log-weights are excluded.

    Scale shape: scan-fused score projection + ONE bounded rank window
    per stratum (the stratified_sample_exact shape — one exchange on
    the stratum key, in-partition top-k, never a global sort)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    strata = ([stratum_cols] if isinstance(stratum_cols, str)
              else list(stratum_cols))
    u = hash_fraction(id_col, seed)
    g = -F.log(-F.log(u + F.lit(2.0 ** -33)))
    lw = F.col(log_weight_col).cast("double")
    scored = (df.where(lw.isNotNull())
              .withColumn(score_col, lw + g))
    w = Window.partitionBy(*strata).orderBy(
        F.desc(score_col), F.col(id_col))
    return (scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))
