"""Edit-distance (typo-tolerant) self-join over a string column —
entity resolution / vocabulary cleanup for web corpora: collapsing
near-identical hostnames, spell-variant tokens, and template slugs
before they fragment dedup keys and frequency censuses.

Reference scope note: pyradiomics has no string-similarity stage (its
unit of work is one image); this module exists for the LLM-pipeline
surface, next to the n-gram Jaccard / SimHash candidate generators in
operators/dedup.py — same candidates→verify architecture, here with
Levenshtein distance as the verifier.

Algorithm — FastSS deletion neighborhoods (Bocek et al., 2007):
ed(s, t) ≤ d implies D_d(s) ∩ D_d(t) ≠ ∅ where D_d(x) is x plus every
way of deleting up to d characters from x. Candidate generation is
therefore an equi-join on deletion variants (O(L^d) variants per
string — L+1 at d=1, ~L²/2 at d=2 — all built with builtin
`transform`/`substring` lambdas, zero Python), and each candidate pair
is verified with the builtin `levenshtein`. This is exact (no false
negatives) and never compares strings that share no variant — unlike
q-gram prefix filtering it needs no global gram frequency census
pass. d is capped at 2: beyond that the neighborhood explodes and the
n-gram Jaccard pipeline is the right tool.

Scale shape: variant explode (≤ L+1 rows per string) → ONE equi-join on
the variant key → distinct pairs → JVM-side levenshtein verify. The
variant key is skew-prone exactly like an LSH band bucket (very short
strings collapse to few variants), so the same ``bucket_cap`` treatment
as dedup._drop_hot_buckets applies: over-cap variant buckets are
broadcast-anti-joined away BEFORE the self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyradiomics_spark.operators.dedup import _drop_hot_buckets


def _deletion_variants(col, max_dist: int = 1):
    """Array of the string plus every distinct way of deleting up to
    ``max_dist`` (1 or 2) characters — builtin expressions only
    (whole-stage codegen'd); duplicates collapsed with array_distinct
    (deleting different equal characters yields the same variant)."""
    s = F.col(col) if isinstance(col, str) else col
    # delete char i (1-based): prefix [1, i-1] ++ suffix [i+1, end]
    dels = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(s.substr(F.lit(1), i - 1),
                           s.substr(i + 1, F.length(s))),
    )
    out = F.concat(F.array(s), dels)
    if max_dist == 2:
        # delete positions i < j: [1,i-1] ++ [i+1, j-i-1] ++ [j+1, end]
        del2 = F.flatten(F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - 1, F.lit(1))),
            lambda i: F.transform(
                F.sequence(i + 1, F.greatest(F.length(s), i + 1)),
                lambda j: F.when(
                    j <= F.length(s),
                    F.concat(s.substr(F.lit(1), i - 1),
                             s.substr(i + 1, j - i - 1),
                             s.substr(j + 1, F.length(s))))),
        ))
        out = F.concat(out, F.array_compact(del2))
    return F.array_distinct(out)


def edit_join(
    df: DataFrame,
    col: str,
    max_dist: int = 1,
    bucket_cap: int | None = None,
) -> DataFrame:
    """All unordered pairs (w1 < w2) of DISTINCT values of ``col`` with
    Levenshtein distance ≤ ``max_dist``, plus the distance:
    (w1, w2, dist). max_dist ∈ {1, 2} — the deletion neighborhood grows
    O(L^d) (d=2 multiplies variant volume ~L/2×), and beyond 2 the
    n-gram Jaccard pipeline is the right tool.

    ``bucket_cap``: exclude deletion-variant buckets with more members
    (they self-join quadratically; the standard hot-bucket treatment —
    see dedup._drop_hot_buckets). Capped pairs may be lost, so the
    default (None) keeps everything; set it at web scale."""
    if max_dist not in (1, 2):
        raise ValueError(
            f"edit_join supports max_dist in (1, 2) (got {max_dist}); "
            "use ngram Jaccard candidates for larger radii")
    words = df.select(F.col(col).alias("w")).where(
        F.col("w").isNotNull() & (F.col("w") != "")).distinct()
    variants = words.select(
        "w", F.explode(_deletion_variants("w", max_dist)).alias("v"))
    if bucket_cap is not None:
        variants = _drop_hot_buckets(variants, ["v"], bucket_cap)
    # join on the 64-bit hash of the variant, not the string: the
    # candidate shuffle moves 8-byte longs instead of ~L-byte strings
    # and the equi-join compares longs (guide §2.3 "narrower types").
    # Equal variants always hash equal, so no candidate is LOST; a hash
    # collision only adds a spurious candidate, which the exact
    # levenshtein verify below removes — output unchanged.
    hashed = variants.select("w", F.xxhash64("v").alias("vh"))
    a = hashed.alias("a")
    b = hashed.alias("b")
    cand = (a.join(b, F.col("a.vh") == F.col("b.vh"))
            .where(F.col("a.w") < F.col("b.w"))
            .select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
            .distinct())
    # verify in two steps: a BANDED levenshtein (threshold form, O(L·d)
    # vs O(L²)) as a plain filter — a filter on a *derived* column would
    # be pushed below its own projection and evaluate the distance twice
    # per row (guide §4.4's duplication, which hits builtins too) — then
    # the exact distance projected for survivors only
    return (cand
            .where(F.levenshtein("w1", "w2", max_dist) >= 0)
            .withColumn("dist", F.levenshtein("w1", "w2")))

