"""Byte-pair-encoding tokenizer training primitives (Sennrich et al.
2016) — the in-engine path to learning a subword vocabulary from the
corpus the engine is already curating, instead of exporting text to a
single-node trainer.

Reference scope note: pyradiomics tokenizes nothing; this is
LLM-pipeline surface like functions/textstats.py. The discretization
spirit matches the reference's gray-level binning (images → levels;
here: text → subword symbols).

The decomposition is the one that scales:

* the corpus pass is a WORD census (one groupBy; |vocab| ≪ tokens) — all
  later rounds operate on the vocabulary table weighted by word count,
  exactly like the reference operates on histograms instead of voxels;
* each merge round is a pair census over the vocab (zero-shuffle
  arrays_zip pairing + one map-side-combined sum) and a 1-row argmax —
  the only driver traffic, same shape as kmeans_step's centroid update;
* applying a merge is a per-row left fold over the symbol array
  (builtin ``aggregate`` — greedy non-overlapping left-to-right, the BPE
  contract), scan-fused, no Python.

Words carry a terminal ``</w>`` symbol so merges can't cross word
boundaries and end-of-word units are learnable (Sennrich §3.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyradiomics_spark.session import checkpoint, release

EOW = "</w>"


def word_census(df: DataFrame, text_col: str = "text",
                lower: bool = True) -> DataFrame:
    """(word, n) corpus word counts — the one corpus-sized pass."""
    t = F.lower(F.col(text_col)) if lower else F.col(text_col)
    return (df.select(F.explode(F.split(t, " ")).alias("word"))
            .where(F.col("word") != "")
            .groupBy("word").agg(F.count("*").alias("n")))


def with_symbols(words: DataFrame, word_col: str = "word",
                 syms_col: str = "syms") -> DataFrame:
    """Initial BPE state: characters plus the terminal ``</w>``."""
    return words.withColumn(
        syms_col,
        F.concat(F.split(F.col(word_col), ""), F.array(F.lit(EOW))))


def pair_census(words: DataFrame, syms_col: str = "syms",
                n_col: str = "n") -> DataFrame:
    """(s1, s2, n) adjacent-symbol pair counts weighted by word count —
    zero-shuffle arrays_zip pairing, one map-side-combined sum."""
    syms = F.col(syms_col)
    pairs = words.select(
        F.col(n_col).alias("__n"),
        F.explode(F.arrays_zip(
            F.slice(syms, 1, F.greatest(F.size(syms) - 1, F.lit(0))),
            F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
        )).alias("__pr"))
    return (pairs.select(F.col("__pr.0").alias("s1"),
                         F.col("__pr.1").alias("s2"), "__n")
            .groupBy("s1", "s2").agg(F.sum("__n").alias(n_col)))


def top_pairs(pairs: DataFrame, k: int = 1, n_col: str = "n") -> DataFrame:
    """k-bounded argmax with the deterministic (n desc, s1, s2) order —
    integer counts, so the cut is engine-exact."""
    return pairs.orderBy(F.col(n_col).desc(), "s1", "s2").limit(int(k))


def apply_merge(words: DataFrame, s1: str, s2: str,
                syms_col: str = "syms") -> DataFrame:
    """Replace every adjacent (s1, s2) with the fused symbol, greedy
    non-overlapping left-to-right (so 'aaaa' under (a,a) becomes
    [aa, aa]) — a builtin left fold, no Python, no shuffle."""
    fused = s1 + s2

    def step(acc: Column, x: Column) -> Column:
        can = ((F.size(acc) > 0)
               & (F.element_at(acc, -1) == F.lit(s1))
               & (x == F.lit(s2)))
        merged = F.concat(
            F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(fused)))
        return F.when(can, merged).otherwise(F.concat(acc, F.array(x)))

    return words.withColumn(
        syms_col,
        F.aggregate(F.col(syms_col),
                    F.expr("CAST(array() AS array<string>)"), step))


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
) -> tuple[list, DataFrame]:
    """Learn ``n_merges`` BPE merges from a document corpus. Returns
    (merge list [(s1, s2, count)...] in learned order, final vocabulary
    DataFrame (word, n, syms)).

    Driver traffic is ONE row per round (the argmax pair) — the model
    lives on the driver like kmeans centroids, the data stays
    distributed. Each round checkpoints the vocab and releases the
    previous one (iterative lineage discipline, as components/pagerank).
    Rounds stop early if no pair remains (tiny corpora)."""
    vocab = checkpoint(with_symbols(word_census(df, text_col)))
    merges: list = []
    for _ in range(int(n_merges)):
        best = top_pairs(pair_census(vocab)).collect()
        if not best:
            break
        b = best[0]
        merges.append((b.s1, b.s2, b.n))
        prev, vocab = vocab, checkpoint(apply_merge(vocab, b.s1, b.s2))
        release(prev)
    return merges, vocab
