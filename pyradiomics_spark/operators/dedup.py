"""Deduplication operators for web-scale training-data pipelines.

All four families are expressed RELATIONALLY (explode → hash → groupBy →
join) so Catalyst plans them with map-side partial aggregation and AQE —
no Python on the hot path:

* ``exact_dedup``        — content-hash groupBy (one shuffle; the gate's
  ``dedup_exact`` row runs it)
* ``minhash_signatures`` / ``minhash_lsh_candidates`` — shingle → k
  min-hashes (ONE groupBy with k min() aggregates) → band buckets →
  candidate pairs (verify with ``ngram_jaccard_pairs``; the transitive
  survivor pick is ``plans.curation``'s components → canonical step)
* ``simhash_signatures`` / ``simhash_candidates`` — 64-bit token simhash via
  64 conditional sums; near-dup pairs via 4×16-bit band equality
  (Hamming ≤ 3 guarantee by pigeonhole)
* ``ngram_jaccard_pairs`` — exact n-gram Jaccard via self-equi-join on the
  n-gram (bounded by LSH candidates or an id window at scale)
* ``dup_ngram_coverage`` — per-doc fraction of n-gram occurrences shared
  with other docs (gram census + AQE-splittable many-to-one join)

Every word n-gram in the package comes from ``word_ngrams`` (one regex).
The candidate generators' ``bucket_cap`` drops over-cap buckets before
their self-join (``_drop_hot_buckets``); nothing reports the dropped set.

Determinism: every hash is ``xxhash64`` with an integer seed column baked
into the input — reproducible across runs/executors/cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per distinct text. Returns survivors with
    ``dup_count`` (group size). One shuffle on the content hash."""
    h = F.sha2(F.col(text_col).cast("binary"), 256).alias("__h")
    groups = (
        df.select(F.col(id_col), h)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__h")
    )
    return groups.join(df, id_col, "inner")


# ---------------------------------------------------------------- minhash

def tokens(text):
    """Non-empty tokens of ``split(text, " ")`` in order — a compiled
    ``array_remove``, not an interpreted ``filter`` lambda."""
    return F.array_remove(F.split(text, " "), "")


def word_ngrams(text, n: int, drop_empty: bool = False):
    """Word n-grams of the string column ``text`` in token order: element
    i is ``" ".join(toks[i:i+n])`` with ``toks = split(text, " ")``, or
    its non-empty tokens with ``drop_empty``. NULL or < n tokens → [].

    One compiled ``regexp_extract_all`` (no interpreted per-token lambda):
    a zero-width match at every token start whose lookahead captures the
    next n space-joined tokens. ``drop_empty`` first collapses space runs
    and trims, so every token is non-empty."""
    if drop_empty:
        text = F.trim(F.regexp_replace(text, " +", " "))
    tok = "[^ ]++" if drop_empty else "[^ ]*+"
    pattern = f"(?:^|(?<= ))(?=({tok}(?: {tok}){{{n - 1}}}))"
    return F.coalesce(F.regexp_extract_all(text, F.lit(pattern), 1),
                      F.array().cast("array<string>"))


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int,
              dedupe: bool = True) -> DataFrame:
    """Word n-gram shingles per doc (``word_ngrams`` + explode, no UDF),
    empty shingles dropped. ``dedupe=False`` skips the distinct for
    consumers whose aggregation is multiset-invariant (min-hash)."""
    grams = word_ngrams(F.col(text_col), n)
    # within-doc dedupe is FREE (array_distinct, no shuffle); the global
    # .distinct() would be a full shuffle of the exploded shingle table
    if dedupe:
        grams = F.array_distinct(grams)
    return (
        df.select(F.col(id_col), F.explode(grams).alias("shingle"))
        .where(F.col("shingle") != "")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """(id, sig_0..sig_{k-1}): k independent min-hashes in ONE aggregation.
    No distinct pass: min() over the shingle multiset equals min() over the
    set, so the only shuffle is the final map-side-combined groupBy."""
    sh = _shingles(df, id_col, text_col, shingle_n, dedupe=False)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _drop_hot_buckets(rows: DataFrame, key_cols: list[str],
                      bucket_cap: int) -> DataFrame:
    """``rows`` minus the rows of over-cap buckets.

    A self-join on a bucket key is quadratic in bucket membership, so ONE
    degenerate hot bucket — mass-produced boilerplate that survives exact
    dedup — can dominate the whole job at 10⁹ docs. Buckets with more
    than ``bucket_cap`` members are excluded wholesale (their docs remain
    candidates through their other bands/blocks, the standard LSH
    treatment of stop-bands).

    Cost shape: the membership count is a map-side-combinable groupBy,
    the surviving hot set is tiny (≤ total/cap buckets) and broadcast
    anti-joined — the big table takes no extra shuffle."""
    hot = (
        rows.groupBy(*key_cols)
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > bucket_cap)
    )
    return rows.join(
        F.broadcast(hot.select(*key_cols)), key_cols, "left_anti")


def minhash_lsh_candidates(
    signatures: DataFrame, id_col: str, num_hashes: int = 32, bands: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that share ≥1 LSH band.

    ``bucket_cap``: drop bands whose bucket membership exceeds the cap
    BEFORE the self-join (see _drop_hot_buckets) — at web scale a single
    boilerplate bucket would otherwise explode quadratically. None (the
    default) keeps every bucket."""
    banded = _lsh_banded(signatures, id_col, num_hashes, bands)
    if bucket_cap is not None:
        banded = _drop_hot_buckets(banded, ["band", "bh"], bucket_cap)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _lsh_banded(signatures: DataFrame, id_col: str, num_hashes: int,
                bands: int) -> DataFrame:
    """(id, band, bh) — one row per doc per LSH band."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        sig_slice = [F.col(f"sig_{b * rows_per_band + r}")
                     for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*sig_slice).alias("bh"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    include_containment: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for pairs: |A∩B| via self-equi-join on the
    shingle, |A∪B| = |A|+|B|−|A∩B|. ``candidates`` (id_a,id_b) bounds the
    O(n²) blowup at scale (pass LSH candidates); None = all co-shingled
    pairs (fine at test scale, every pair sharing ≥1 shingle).

    ``include_containment=True`` appends the ASYMMETRIC overlap scores
    containment_a = |A∩B|/|A| and containment_b = |A∩B|/|B| (Broder's
    containment) — the quote/partial-inclusion detector Jaccard misses:
    a short doc fully embedded in a long one has high containment but
    low Jaccard, so symmetric dedup keeps the near-plagiarized pair."""
    docs = df.select(id_col, text_col)
    if candidates is not None:
        # Restrict to candidate docs BEFORE shingling and the self-join: a
        # stop-word-like hot shingle shared by millions of non-candidate
        # docs would otherwise explode quadratically inside the join, and
        # the pair filter after the aggregate would never see it.
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        )
        docs = docs.join(cand_ids, id_col, "left_semi")
    # one shingle SET per doc, its size on every exploded row (no per-doc
    # count aggregate). explode_outer: explode would make Catalyst push an
    # inferred size(__set) > 0 below the semi-join and build every set
    # twice; an empty set's NULL shingle never passes the equi-join.
    sets = docs.select(F.col(id_col), F.array_remove(F.array_distinct(
        word_ngrams(F.col(text_col), shingle_n)), "").alias("__set"))
    sh = sets.select(F.col(id_col), F.size("__set").alias("n"),
                     F.explode_outer("__set").alias("shingle"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    if candidates is not None:
        # still needed: candidate PAIRS, not all pairs among candidate docs
        common = common.join(candidates, ["id_a", "id_b"], "inner")
    cols = [
        F.col("id_a"), F.col("id_b"),
        (F.col("common")
         / (F.col("na") + F.col("nb") - F.col("common"))).alias("jaccard"),
    ]
    if include_containment:
        cols += [
            (F.col("common") / F.col("na")).alias("containment_a"),
            (F.col("common") / F.col("nb")).alias("containment_b"),
        ]
    return common.select(*cols)


def dup_ngram_coverage(
    df: DataFrame, id_col: str, text_col: str, n: int = 5,
) -> DataFrame:
    """Per-doc duplicated-n-gram coverage — the fraction of a document's
    n-gram occurrences whose n-gram also appears in at least one OTHER
    document (the corpus-overlap diagnostic behind exact-substring
    deduplication, Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better"). Complements ``textstats.repetition_ratio``,
    which is intra-doc only. Returns
    (id, n_grams, n_dup_grams, dup_coverage); docs shorter than ``n``
    tokens keep a row with zero counts and a null coverage.

    Scale shape: shingle multiset → ONE (doc, gram) groupBy (map-side
    combined — within-doc repeats collapse before the shuffle) → ONE
    gram-keyed census groupBy → many-to-one join census back on the gram
    → ONE per-doc agg. The census is deliberately a join, NOT a
    count-over-window: a window partitioned by gram would buffer every
    (doc, gram) row of a boilerplate gram in one partition, while the
    join's probe-side skew is AQE-splittable and the build side is one
    row per distinct gram."""
    sh = _shingles(df, id_col, text_col, n, dedupe=False)
    per = sh.groupBy(id_col, "shingle").agg(F.count("*").alias("c"))
    census = per.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    agg = (
        per.join(census, "shingle")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
    )
    spine = df.select(F.col(id_col))
    return spine.join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        (F.col("n_dup_grams").cast("double") / F.col("n_grams").cast("double")).alias(
            "dup_coverage"
        ),
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 8,
    min_count: int = 2,
    keep_first: bool = True,
    out_col: str = "text_deduped",
) -> DataFrame:
    """C4-style duplicated-span removal (Raffel et al. 2020 §2.2: "we
    discarded all but one of any three-sentence span occurring more than
    once in the data set"), re-expressed over whitespace tokens: each
    document is cut into fixed non-overlapping ``seg_tokens``-token
    segments, a corpus-wide census finds segments occurring
    ``>= min_count`` times, and every occurrence EXCEPT the corpus-first
    (lowest ``(id, position)``) is removed from the document
    (``keep_first=False`` removes all occurrences instead — the
    boilerplate-strip variant). Returns the input plus ``out_col`` (text
    reassembled from surviving segments in original order; ``''`` when
    everything dropped), ``n_segments`` and ``n_dropped_segments``.

    Scale shape: the census is ONE groupBy keyed on ``md5(segment)`` —
    128 bits, so no collision-borne drop decisions at 10^12 segments
    (Lee et al. 2022 use 128-bit for the same reason) — with map-side
    partial ``count`` + ``min(struct(id, pos))`` aggregates; occurrences
    then equi-join the census back on the key (AQE-splittable probe-side
    skew for boilerplate segments, build side one row per distinct
    segment — never a count-over-window, which would buffer every
    occurrence of a hot segment in one partition); reassembly is ONE
    per-doc groupBy. No windows, no all-pairs, no Python."""
    toks = tokens(F.col(text_col))
    n_seg = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda g: F.array_join(
                F.slice(toks, g * seg_tokens + 1, seg_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    occ = df.select(
        F.col(id_col), F.posexplode(segs_arr).alias("seg_pos", "seg")
    )
    census = occ.groupBy(F.md5("seg").alias("seg_key")).agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct(F.col(id_col).alias("kid"),
                       F.col("seg_pos").alias("kpos"))).alias("keeper"),
    )
    is_keeper = (F.col(f"keeper.kid") == F.col(id_col)) & (
        F.col("keeper.kpos") == F.col("seg_pos")
    )
    survive = (F.col("n_occ") < min_count) | (
        is_keeper if keep_first else F.lit(False)
    )
    kept = (
        occ.join(census, F.md5("seg") == F.col("seg_key"))
        .where(survive)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_pos", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias(out_col),
            F.count("*").alias("__n_kept"),
        )
    )
    return (
        df.withColumn("n_segments", F.coalesce(n_seg, F.lit(0)))
        .join(kept, id_col, "left")
        .select(
            *df.columns,
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            "n_segments",
            (F.col("n_segments") - F.coalesce("__n_kept", F.lit(0)))
            .cast("int").alias("n_dropped_segments"),
        )
    )


# ---------------------------------------------------------------- simhash

def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit token-level simhash, fully relational: explode tokens →
    per-bit signed sums → reassemble bits. Returns (id, simhash:long,
    b0..b3: 4×16-bit bands for candidate joins)."""
    toks = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .withColumn("th", F.xxhash64("tok"))
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(64)
    ]
    sums = toks.groupBy(id_col).agg(*bit_aggs)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"s{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(0)
        )
    out = sums.select(F.col(id_col), sim.alias("simhash"))
    for band in range(4):
        out = out.withColumn(
            f"band{band}",
            F.shiftright(F.col("simhash"), band * 16).bitwiseAND(F.lit(0xFFFF)),
        )
    return out


def simhash_signatures_md5(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """Engine-agnostic ``bits``-wide simhash (md5-based): every step — md5
    hex, hex-digit value via instr('0123456789abcdef', d) − 1, shift/mask,
    signed per-bit sums — has an exact ANSI-SQL twin, so a DuckDB oracle
    reproduces the signature bit-for-bit (unlike the xxhash64 64-bit
    variant above, which has no cross-engine hash twin). Token weight =
    multiplicity. Same plan shape: explode → ONE groupBy with ``bits``
    conditional sums. ``bits`` ≤ 32: bit 63 would need a LongType literal
    beyond the signed range (the 64-bit production variant above uses
    shiftleft instead); this md5 variant exists for oracle checking."""
    if not (bits % 4 == 0 and 4 <= bits <= 32):
        raise ValueError("bits must be a multiple of 4 in [4, 32]")
    toks = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .withColumn("h", F.md5("tok"))
    )
    aggs = []
    for k in range(bits):
        j = k // 4 + 1   # 1-based hex digit index in the md5 string
        b = k % 4        # bit within that digit
        digit = F.expr(f"instr('0123456789abcdef', substring(h, {j}, 1)) - 1")
        bit = F.shiftright(digit, b).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{k}"))
    sums = toks.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for k in range(bits):
        sim = sim + F.when(F.col(f"s{k}") > 0, F.lit(1 << k).cast("long")).otherwise(
            F.lit(0).cast("long"))
    return sums.select(F.col(id_col), sim.alias("simhash"))


def hamming64(a, b):
    """Hamming distance between two long columns (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def _block_bounds(n_blocks: int, bits: int = 64):
    """Split a ``bits``-wide fingerprint into n_blocks contiguous blocks;
    returns (lo_bit, width) per block, remainder spread over the first."""
    base, rem = divmod(bits, n_blocks)
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    los = [sum(widths[:i]) for i in range(n_blocks)]
    return los, widths


def _block_key(col, blocks, los, widths):
    """Concatenate the selected blocks of a long fingerprint column into
    one join key (pure bit ops, codegen'd JVM-side)."""
    key = F.lit(0).cast("long")
    shift = 0
    for b in blocks:
        mask = F.lit((1 << widths[b]) - 1).cast("long")
        v = F.shiftrightunsigned(col, los[b]).bitwiseAND(mask)
        key = key.bitwiseOR(F.shiftleft(v, shift))
        shift += widths[b]
    return key


def simhash_candidates(
    signatures: DataFrame, id_col: str, max_hamming: int = 3,
    n_blocks: int | None = None, bits: int = 64,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming ≤ max_hamming, guaranteed-found by
    block pigeonhole, then exact bit_count verify.

    Block scheme (Manku et al., WWW'07 "Detecting Near-Duplicates for Web
    Crawling"): split the fingerprint into ``n_blocks`` blocks; any pair
    within Hamming ≤ k agrees entirely on at least n_blocks − k blocks, so
    the union of equality-joins over every C(n_blocks, n_blocks−k)
    block-combination key finds ALL qualifying pairs.

    ``n_blocks`` trades join-key width against table count:
    - default (max_hamming+1, e.g. 4): k+1 tables on 64/(k+1)-bit keys —
      16-bit keys → only 65k buckets/band; fine to ~10⁷ docs, quadratic
      bucket blowup beyond.
    - web scale (e.g. 6 for k=3): C(6,3)=20 tables on ~32-bit keys —
      4×10⁹ buckets/table keeps per-bucket membership ~constant at 10⁹⁺
      docs. More shuffles, but each is skew-free; this is the 100 TB path.

    ``bucket_cap``: even with wide keys, a DEGENERATE bucket (boilerplate
    that survives exact dedup with distinct-but-near-identical text)
    self-joins quadratically; a cap drops over-cap block-key buckets
    before the join (see _drop_hot_buckets — capped docs stay findable
    through their other block combinations unless hot in all of them).
    None keeps every bucket.
    """
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks < max_hamming + 1:
        raise ValueError(
            f"n_blocks={n_blocks} cannot pigeonhole max_hamming={max_hamming}"
            " (need n_blocks >= max_hamming + 1)")
    if n_blocks > bits:
        raise ValueError(f"n_blocks={n_blocks} exceeds fingerprint bits={bits}")
    from itertools import combinations

    los, widths = _block_bounds(n_blocks, bits)
    agree = n_blocks - max_hamming
    pairs = None
    for combo in combinations(range(n_blocks), agree):
        tbl = signatures
        if bucket_cap is not None:
            keyed = signatures.withColumn(
                "__bk", _block_key(F.col("simhash"), combo, los, widths))
            tbl = _drop_hot_buckets(keyed, ["__bk"], bucket_cap)
            tbl = tbl.drop("__bk")
        a = tbl.alias("a")
        b = tbl.alias("b")
        ka = _block_key(F.col("a.simhash"), combo, los, widths)
        kb = _block_key(F.col("b.simhash"), combo, los, widths)
        # exact bit_count verify INSIDE the join condition: over-distance
        # bucket-mates die before the union, so the cross-combo distinct
        # dedupes only true pairs (3 narrow columns) instead of every
        # bucket collision with both 8-byte fingerprints (guide §2.3
        # "project before the exchange")
        p = a.join(
            b,
            (ka == kb) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (hamming64(F.col("a.simhash"), F.col("b.simhash"))
               <= max_hamming),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.simhash"),
                      F.col("b.simhash")).alias("hamming"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()


# ---------------------------------------------------------------- embeddings

def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    threshold: float = 0.95,
    cell_cap: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): k-means-cell-bounded
    semantic dedup. Rows are assigned to their nearest centroid
    (clustering.assign_cells, deterministic lowest-cell ties), candidate
    pairs are generated ONLY within a cell, exact cosine ≥ ``threshold``
    marks near-dups, and the deterministic greedy keeps the lowest id of
    each qualifying pair (a row is dropped iff some smaller-id row in its
    cell is ≥ threshold similar — the one-pass relational variant of the
    paper's keep-one-per-group; no iterative closure). Returns the input
    plus ``cell`` and a 0/1 ``semdedup_keep``; null embeddings keep a
    null cell and are kept.

    Scale shape: assignment is shuffle-free (one Arrow-gemm stage);
    pair generation is an equi-self-join on the cell id — quadratic only
    within a cell, which is exactly the knob k controls (k ≈ n/target
    cell size, the paper's regime); ``cell_cap`` drops degenerate
    over-cap cells from pair generation (their rows stay, flagged kept)
    with the same _drop_hot_buckets machinery as the LSH families."""
    from pyradiomics_spark.operators.clustering import assign_cells

    assigned = assign_cells(df, centroids, vec_col, "cell")
    pool = assigned.select(F.col(id_col), "cell").where(
        F.col("cell").isNotNull())
    if cell_cap is not None:
        pool = _drop_hot_buckets(pool, ["cell"], cell_cap)
    a, b = pool.alias("a"), pool.alias("b")
    cand = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )
    pairs = embedding_cosine_pairs(
        df, id_col, vec_col, threshold, candidates=cand)
    removed = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__rm", F.lit(1))
    )
    return (
        assigned.join(removed, id_col, "left")
        .withColumn(
            "semdedup_keep",
            F.when(F.col("__rm").isNull(), 1).otherwise(0),
        )
        .drop("__rm")
    )


def embedding_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95,
    candidates: DataFrame | None = None, dim: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs by exact cosine (builtin array ops —
    F.zip_with + F.aggregate, JVM-side). Pair generation bounded by
    ``candidates`` or LSH buckets from ``similarity.hyperplane_buckets``.

    ``dim`` (embedding dimensionality) is required when ``candidates`` is
    None: plan construction must never run a Spark action (a ``first()``
    here would execute a job on the driver before the query is even built).
    """
    if candidates is None:
        from pyradiomics_spark.operators.similarity import hyperplane_buckets

        if dim is None:
            raise ValueError(
                "embedding_cosine_pairs requires dim= when candidates is None "
                "(no driver-side action during plan construction)")
        bucketed = hyperplane_buckets(df, id_col, vec_col, n_planes=8, dim=dim)
        if bucket_cap is not None:
            # an embedding cluster denser than the cap (boilerplate whose
            # vectors collapse to one LSH cell) would self-join
            # quadratically — same hazard, same cap as minhash/simhash
            bucketed = _drop_hot_buckets(bucketed, ["bucket"], bucket_cap)
        a = bucketed.alias("a")
        b = bucketed.alias("b")
        candidates = (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
    # hoist the per-row norms out of the pair loop: HOF folds are
    # interpreted, and cosine_expr would run three per candidate pair —
    # precomputing sqrt(Σv²) per row leaves one (the dot). The norm
    # expression tree is unchanged, so cosines stay bit-identical.
    norm = F.sqrt(F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x))
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                   norm.alias("__na"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                   norm.alias("__nb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", dot / (F.col("__na") * F.col("__nb")))
        .drop("__na", "__nb")
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def incremental_dedup(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Snapshot-incremental dedup — the recurring-crawl form of the
    pipeline: flag each NEW-crawl doc that duplicates the PRIOR corpus,
    ``dup_exact`` (content hash seen before) and ``dup_near`` (shares
    ≥1 MinHash LSH band with any old doc). Unlike the batch self-join
    dedup, nothing old×old or new×new is compared: each crawl pays only
    new×old — the shape that keeps a 10^12-page corpus's weekly delta
    affordable.

    Scale shape: the old side reduces to DISTINCT content hashes and
    DISTINCT (band, bucket) keys — both ≤ |old| rows of fixed-width
    keys, equi-joined as flag markers (left join on the distinct key
    table, never a pair materialization). ``bucket_cap`` drops
    boilerplate buckets from the OLD side before the join (the
    _drop_hot_buckets treatment); new docs keep their other bands.
    Returns new_df + both boolean flags.
    """
    h = F.sha2(F.col(text_col).cast("binary"), 256)
    old_h = (old_df.select(h.alias("__h")).distinct()
             .withColumn("__seen_x", F.lit(1)))
    out = (new_df.withColumn("__h", h)
           .join(old_h, "__h", "left")
           .withColumn("dup_exact", F.col("__seen_x").isNotNull())
           .drop("__h", "__seen_x"))

    old_bands = _lsh_banded(
        minhash_signatures(old_df, id_col, text_col, num_hashes, shingle_n),
        id_col, num_hashes, bands)
    if bucket_cap is not None:
        old_bands = _drop_hot_buckets(old_bands, ["band", "bh"], bucket_cap)
    old_keys = (old_bands.select("band", "bh").distinct()
                .withColumn("__seen_n", F.lit(1)))
    new_bands = _lsh_banded(
        minhash_signatures(new_df, id_col, text_col, num_hashes, shingle_n),
        id_col, num_hashes, bands)
    near_ids = (
        new_bands.join(old_keys, ["band", "bh"], "left")
        .groupBy(id_col)
        .agg(F.max(F.coalesce(F.col("__seen_n"), F.lit(0))).alias("__any"))
        .where(F.col("__any") == 1)
        .select(id_col)
        .withColumn("__near", F.lit(1))
    )
    return (out.join(near_ids, id_col, "left")
            .withColumn("dup_near", F.col("__near").isNotNull())
            .drop("__near"))


def host_boilerplate_strip(
    df: DataFrame,
    host_col: str,
    id_col: str,
    text_col: str,
    seg_tokens: int = 8,
    max_ratio: float = 0.5,
    min_docs: int = 2,
    out_col: str = "text_stripped",
) -> DataFrame:
    """Host-level boilerplate removal — the CCNet/RefinedWeb curation
    stage that `segment_dedup`'s corpus-wide census cannot express:
    a span is boilerplate RELATIVE TO ITS HOST (nav bars, cookie
    banners, footers repeat across one site's pages, not the corpus),
    so the census here is per (host, segment): any ``seg_tokens``-token
    segment present in more than ``max_ratio`` of the host's documents
    (and at least ``min_docs`` of them) is removed from EVERY document
    of that host. Returns the input plus ``out_col`` (reassembled
    text), ``n_segments`` and ``n_boiler_segments``.

    Scale shape: document-frequency presence is a distinct on
    (host, id, md5(segment)) followed by a map-side-combined groupBy on
    (host, seg_key); the per-host doc census is |hosts| rows and joins
    broadcast; the boilerplate key set joins back onto occurrences as a
    (host, seg_key)-keyed LEFT ANTI equi-join — never broadcast, since
    a template-heavy host can own millions of boilerplate keys at crawl
    scale. Reassembly is the same single per-doc groupBy as
    segment_dedup. No windows, no Python."""
    toks = tokens(F.col(text_col))
    n_seg = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda g: F.array_join(
                F.slice(toks, g * seg_tokens + 1, seg_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    occ = df.select(
        F.col(host_col).alias("__host"), F.col(id_col),
        F.posexplode(segs_arr).alias("seg_pos", "seg"),
    ).withColumn("__k", F.md5("seg"))
    host_docs = F.broadcast(
        df.groupBy(F.col(host_col).alias("__host")).agg(
            F.countDistinct(id_col).alias("__host_n")))
    dfreq = (occ.select("__host", id_col, "__k").distinct()
             .groupBy("__host", "__k").agg(F.count("*").alias("__nd")))
    boiler = (dfreq.join(host_docs, "__host")
              .where((F.col("__nd") >= min_docs)
                     & (F.col("__nd") / F.col("__host_n") > max_ratio))
              .select("__host", "__k"))
    kept = (
        occ.join(boiler, ["__host", "__k"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_pos", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias(out_col),
            F.count("*").alias("__n_kept"),
        )
    )
    return (
        df.withColumn("n_segments", F.coalesce(n_seg, F.lit(0)))
        .join(kept, id_col, "left")
        .select(
            *df.columns,
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            "n_segments",
            (F.col("n_segments") - F.coalesce("__n_kept", F.lit(0)))
            .cast("int").alias("n_boiler_segments"),
        )
    )


def jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_tokens: int = 3,
    positional_filter: bool = True,
    return_candidates: bool = False,
) -> DataFrame:
    """EXACT all-pairs Jaccard-similarity self-join at ``threshold`` over
    token-``shingle_tokens``-gram shingle SETS — the deterministic
    complement to the MinHash/LSH pipeline (which is probabilistic and
    tuned by band count): (id_a, id_b, jaccard) for every pair with
    J(a, b) ≥ threshold, id_a < id_b, no false positives OR negatives.

    Algorithm — AllPairs/PPJoin prefix filtering (Bayardo et al. WWW'07;
    Xiao et al. WWW'08): order every set by GLOBAL shingle frequency
    (rarest first, ties on the shingle); two sets with J ≥ t must share
    at least one shingle inside each other's first
    |x| − ⌈t·|x|⌉ + 1 elements, so candidate generation equi-joins on
    PREFIX shingles only — rare ones, by construction, which is what
    bounds bucket sizes (the hottest shingles never enter a prefix
    unless a set is nearly all-boilerplate). A length filter
    (t·|x| ≤ |y|) prunes inside the join; verification computes the
    exact intersection with builtin array_intersect on the two sorted
    arrays.

    Scale shape: one census groupBy (global shingle df — keyed on the
    64-bit shingle hash, so the census shuffle and the prefix equi-join
    move longs, not strings; a hash collision can only merge two
    shingles' df counts (ordering quality) or admit an extra CANDIDATE
    pair — verification is on the true string arrays, so the output is
    still exact), one per-doc re-sort (aggregate-sized), the prefix
    equi-join with the PPJoin length AND positional filters (Xiao et
    al. WWW'08 §3.2: a match at prefix positions (pa, pb) bounds the
    overlap by min(|x|−pa, |y|−pb), which must reach the equivalent
    overlap threshold t/(1+t)·(|x|+|y|)), then a distinct on candidate
    pairs and two |pairs|-row joins to fetch the arrays. All equi-joins;
    no windows over hot keys; no Python. Verification cost is
    |candidates|·avg|set| — prefix + positional filtering exists
    precisely to keep |candidates| near the output size."""
    sh = word_ngrams(F.lower(F.col(text_col)), shingle_tokens, drop_empty=True)
    sets = (df.select(F.col(id_col).alias("__id"),
                      F.array_distinct(sh).alias("__sh"))
            .where(F.size("__sh") > 0))
    # the census / ordering / prefix-join path never ships a STRING:
    # occurrences carry only (id, xxhash64(shingle)). A collision can
    # merge two shingles' df counts (ordering quality only) or admit an
    # extra candidate; verification below intersects the true string
    # sets, so the output is exact either way. (`sets` is probed three
    # times — once for the census, twice to fetch the verify arrays; at
    # cluster scale persist it once, the standard PPJoin shape.)
    occ = sets.select("__id", F.explode("__sh").alias("__s")).select(
        "__id", F.xxhash64("__s").alias("__h"))
    census = occ.groupBy("__h").agg(F.count("*").alias("__df"))
    # rarest-first ordering: re-collect each set sorted by (df, hash) —
    # any consistent global order is correct for prefix filtering; two
    # colliding shingles share one census row, so equal (df, hash)
    # entries are byte-identical and the array is deterministic
    ordered = (occ.join(census, "__h")
               .groupBy("__id")
               .agg(F.array_sort(F.collect_list(
                   F.struct("__df", "__h"))).alias("__full")))
    size = F.size("__full")
    plen = (size - F.ceil(F.lit(float(threshold)) * size) + 1).cast("int")
    ordered = ordered.select(
        "__id", size.alias("__n"),
        F.transform(F.slice("__full", 1, plen),
                    lambda x: x["__h"]).alias("__ph"))
    pref = ordered.select(
        "__id", "__n", F.posexplode("__ph").alias("__p", "__h"))
    a, b = pref.alias("a"), pref.alias("b")
    t = float(threshold)
    # equivalent-overlap threshold: J >= t  <=>  |A∩B| >= t/(1+t)·(|A|+|B|)
    alpha = F.lit(t / (1.0 + t)) * (F.col("a.__n") + F.col("b.__n"))
    # positional upper bound on the overlap at the FIRST common prefix
    # element (0-indexed positions): the 1e-9 slack keeps float rounding
    # from ever dropping an exact-boundary true pair (overlap is integer)
    ubound = F.least(F.col("a.__n") - F.col("a.__p"),
                     F.col("b.__n") - F.col("b.__p"))
    cand = (a.join(b, (F.col("a.__h") == F.col("b.__h"))
                   & (F.col("a.__id") < F.col("b.__id"))
                   # length filter: t·|x| ≤ |y| ≤ |x|/t
                   & (F.col("b.__n") * t <= F.col("a.__n"))
                   & (F.col("a.__n") * t <= F.col("b.__n"))
                   # positional filter (off only for the pruning test —
                   # the OUTPUT is identical either way, verification is
                   # exact; only the candidate count changes)
                   & ((ubound >= alpha - F.lit(1e-9))
                      if positional_filter else F.lit(True)))
            .select(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"))
            .distinct())
    if return_candidates:
        # (id_a, id_b) BEFORE verification — the pruning-effect surface
        # for tests and production monitoring (candidate volume is the
        # cost driver; see the plan-shape docstring above)
        return cand
    # exact verification on the raw shingle SETS (array_intersect is
    # order-insensitive, so the unsorted per-doc arrays serve directly)
    arrs_a = sets.select(F.col("__id").alias("id_a"),
                         F.col("__sh").alias("__aa"))
    arrs_b = sets.select(F.col("__id").alias("id_b"),
                         F.col("__sh").alias("__ab"))
    inter = F.size(F.array_intersect("__aa", "__ab"))
    union = F.size("__aa") + F.size("__ab") - inter
    return (cand.join(arrs_a, "id_a").join(arrs_b, "id_b")
            .withColumn("jaccard", inter / union)
            .where(F.col("jaccard") >= t)
            .select("id_a", "id_b", "jaccard"))
