"""End-to-end training-data CURATION pipeline — the LLM-data story in one
callable, composing the verified operators in the order a production
pretraining pipeline runs them:

  scan → exact dedup (content hash)
       → near-dup clustering (MinHash-LSH candidates → exact-Jaccard
         verify → connected components → one survivor per cluster)
       → quality filter (relational scoring + repetition)
       → deterministic train/val/test split (hash, growth-stable)
       → sequence packing layout (concat-and-cut context windows)
       → committed parquet + metrics.

Every stage is individually gate-verified (dedup_exact, lsh_buckets,
dedup_components, text_quality, repetition, dataset_split,
pack_sequences); this plan pins their COMPOSITION: counts are monotone,
stages commute with partitioning, and the packed layout covers exactly
the surviving train split.

Scale shape: exact dedup = one sha2 shuffle; near-dup = banded equi-joins
+ O(log² n) component rounds; quality/split = pure projections; packing =
one bucketed window + an offset broadcast. Nothing collects to the driver
except the ≤ num_buckets offset tables and the metrics dict.

Metrics are SINGLE-PASS: each stage contributes a boolean flag column on
one shared lineage instead of materializing a filtered frame, so all four
stage counts come from ONE aggregation over the cached flag table. (At
100 TB a ``count()`` per stage is a full job over non-materialized
lineage — five full corpus passes for bookkeeping.) The whole call runs
in one ``session.scope()``: the candidate checkpoint, the components'
blocks and the flag cache are released on every exit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyradiomics_spark.functions.textstats import (quality_features,
                                                   repetition_ratio)
from pyradiomics_spark.operators.components import connected_components
from pyradiomics_spark.operators.dedup import (minhash_lsh_candidates,
                                               minhash_signatures,
                                               ngram_jaccard_pairs)
from pyradiomics_spark.operators.sampling import (cross_split_contamination,
                                                  pack_sequences,
                                                  split_dataset)
from pyradiomics_spark.session import cache, checkpoint, scope

_FLAGS = ("__exact", "__surv", "__kept")


def _check(cond: bool, msg: str) -> None:
    """Composition invariants are production gates, not debug asserts —
    they must survive ``python -O`` (a stripped decontamination check is a
    silent training-data leak)."""
    if not cond:
        raise RuntimeError(f"curation invariant violated: {msg}")


@scope()
def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    max_repetition: float = 0.35,
    jaccard_threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    pack_budget: int = 2048,
    seed: int = 0,
    out_path: str | None = None,
    bucket_cap: int | None = None,
) -> dict:
    """Run the full curation pipeline; returns a metrics dict (stage
    counts + leak-style invariant checks). ``out_path`` commits the packed
    train split and the val/test doc lists as parquet. ``bucket_cap``
    bounds LSH bucket membership in the near-dup stage (see
    operators.dedup.minhash_lsh_candidates) — set it at web scale."""
    # 1. exact dedup as a FLAG: min-id row per distinct content hash
    # survives (same semantics as operators.dedup.exact_dedup — one sha2
    # shuffle, here a window so the losers stay on the lineage for the
    # single metrics pass). dup_count rides along for the committed output.
    w_exact = Window.partitionBy(
        F.sha2(F.col(text_col).cast("binary"), 256))
    flagged = docs.withColumn(
        "__exact", F.row_number().over(w_exact.orderBy(id_col)) == 1
    ).withColumn("dup_count", F.count("*").over(w_exact))

    # 2. near-dup clusters over the exact survivors: candidates → verify →
    # components → 1 survivor. Transitive-safe: a–b–c chains collapse to
    # ONE doc (pairwise loser-dropping would keep a leaf), see
    # operators.components. The component loop is inherently iterative
    # (its own bounded jobs); its LOSER set comes back as a flag join.
    exact = flagged.where("__exact")
    sigs = minhash_signatures(exact, id_col, text_col, num_hashes, shingle_n)
    # materialize the candidate pair list once: the verify stage probes
    # it twice (docs semi-join + final pair join), and each probe would
    # otherwise re-run the whole signature/banding lineage. Candidate
    # pairs are output-sized (near the dup count), tiny vs the corpus.
    cand = checkpoint(minhash_lsh_candidates(sigs, id_col, num_hashes, bands,
                                             bucket_cap=bucket_cap))
    verified = ngram_jaccard_pairs(
        exact, id_col, text_col, shingle_n, cand).where(
        F.col("jaccard") >= jaccard_threshold)
    comp = connected_components(verified, "id_a", "id_b",
                                assume_distinct=True)
    losers = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col), F.lit(True).alias("__loser"))
    flagged = (
        flagged.join(losers, id_col, "left")
        .withColumn("__surv",
                    F.col("__exact") & F.col("__loser").isNull())
        .drop("__loser"))

    # 3+4. quality filter + deterministic split — pure projections, so they
    # stack onto the same lineage as more flag columns. The tokenize/regex
    # scoring is gated to SURVIVORS per row (null text for losers → null
    # scores): at web dup rates a third or more of the corpus are loser
    # rows whose __kept can never be true, and the quality expressions are
    # the most expensive projection in this stage.
    flagged = flagged.withColumn(
        "__qtext", F.when(F.col("__surv"), F.col(text_col)))
    flagged = quality_features(flagged, "__qtext").withColumn(
        "rep_ratio", repetition_ratio(F.col("__qtext"))).drop("__qtext")
    flagged = flagged.withColumn(
        "__kept",
        # losers short-circuit on __surv=false; Spark's FALSE AND NULL is
        # FALSE, so their null scores never leak into the flag
        F.col("__surv")
        & (F.col("quality_score") >= min_quality)
        & (F.coalesce(F.col("rep_ratio"), F.lit(0.0)) <= max_repetition))
    flagged = cache(split_dataset(flagged, id_col, seed=seed))

    # ONE metrics job for every stage count (was: one count() per stage)
    stage = flagged.agg(
        F.count("*").alias("raw"),
        F.sum(F.col("__exact").cast("long")).alias("exact"),
        F.sum(F.col("__surv").cast("long")).alias("surv"),
        F.sum(F.col("__kept").cast("long")).alias("kept")).collect()[0]
    n_raw, n_exact = int(stage["raw"]), int(stage["exact"] or 0)
    n_neardup, n_kept = int(stage["surv"] or 0), int(stage["kept"] or 0)

    # 5. pack the train split into fixed context windows
    kept = flagged.where("__kept").drop(*_FLAGS)
    train = kept.where(F.col("split") == "train")
    # quality_features' n_tokens was counted on __qtext == text (kept ⇒ __surv)
    packed = pack_sequences(train.withColumn("__n_tok", F.col("n_tokens")),
                            id_col, "__n_tok", budget=pack_budget, seed=seed)
    # one job for count + token totals + layout extent (was two)
    totals = packed.agg(
        F.count("*").alias("n"),
        F.sum("__n_tok").alias("tok"),
        F.max(F.col("start_off") + F.col("__n_tok")).alias("end"),
    ).collect()[0]
    n_train = int(totals["n"])
    n_tokens = int(totals["tok"] or 0)
    n_packs = -(-n_tokens // pack_budget) if n_tokens else 0

    # invariants (the composition contract)
    _check(n_exact <= n_raw and n_neardup <= n_exact and n_kept <= n_neardup,
           "stage counts must be monotone non-increasing")
    # packed layout is gapless: max(start+len) == Σ len
    _check(int(totals["end"] or 0) == n_tokens,
           "packed layout has gaps (max(start+len) != total tokens)")
    # decontamination: exact dedup ran BEFORE the split, so no eval doc
    # can share byte-identical content with a train doc
    n_contam = cross_split_contamination(kept, id_col, text_col).count()
    _check(n_contam == 0, f"{n_contam} cross-split exact-content pairs")

    if out_path:
        packed.drop("bucket").write.mode("overwrite").parquet(
            f"{out_path}/train_packed")
        kept.where(F.col("split") != "train").select(
            id_col, "split").write.mode("overwrite").parquet(
            f"{out_path}/holdout_ids")

    return {
        "n_raw": n_raw,
        "n_after_exact_dedup": n_exact,
        "n_after_neardup": n_neardup,
        "n_after_quality": n_kept,
        "n_train_docs": n_train,
        "n_train_tokens": n_tokens,
        "n_context_windows": n_packs,
        "cross_split_contamination": n_contam,
    }
