"""Deterministic split/sample/shuffle (operators.sampling): subset
stability (the eval-contamination property), permutation exactness, bucket
invariance, and the no-shuffle plan guarantees."""

import hashlib

import pytest
from pyspark.sql import functions as F

from pyradiomics_spark.operators.sampling import (
    deterministic_shuffle, hash_fraction, split_dataset, stratified_sample)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 2000).withColumnRenamed("id", "doc_id")


def _expected_frac(i, seed):
    return int(hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:8], 16) / 2**32


def test_hash_fraction_matches_python_md5(spark, ids):
    rows = ids.select("doc_id", hash_fraction("doc_id", 5).alias("f")).collect()
    for r in rows[:50]:
        assert r.f == pytest.approx(_expected_frac(r.doc_id, 5), abs=1e-12)


def test_split_proportions_and_coverage(spark, ids):
    out = split_dataset(ids, "doc_id", seed=1)
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == 2000
    assert 1700 < counts["train"] < 1890  # ~0.9 of 2000
    assert counts.get("val", 0) > 40 and counts.get("test", 0) > 40


def test_split_stable_under_corpus_growth(spark, ids):
    """A doc's split NEVER changes when the corpus grows — the property
    randomSplit does not have."""
    small = ids.where("doc_id < 500")
    a = {r.doc_id: r.split
         for r in split_dataset(small, "doc_id", seed=9).collect()}
    b = {r.doc_id: r.split
         for r in split_dataset(ids, "doc_id", seed=9).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_split_is_pure_projection(spark, ids):
    plan = _plan(split_dataset(ids, "doc_id"))
    assert "Exchange" not in plan


def test_stratified_sample_rates(spark, ids):
    from pyspark.sql import functions as F

    df = ids.withColumn(
        "tier", F.when(F.col("doc_id") % 2 == 0, "hi").otherwise("lo"))
    out = stratified_sample(df, "doc_id", {"hi": 1.0, "lo": 0.1},
                            strata_col="tier", seed=2)
    counts = {r.tier: r["count"] for r in out.groupBy("tier").count().collect()}
    assert counts["hi"] == 1000  # fraction 1.0 keeps everything
    assert 50 < counts["lo"] < 160  # ~100
    assert "Exchange" not in _plan(out)


def test_stratified_unknown_stratum_dropped(spark, ids):
    from pyspark.sql import functions as F

    df = ids.withColumn("tier", F.lit("other"))
    assert stratified_sample(df, "doc_id", {"hi": 1.0},
                             strata_col="tier").count() == 0


def test_deterministic_shuffle_is_exact_global_rank(spark, ids):
    out = deterministic_shuffle(ids, "doc_id", seed=4, n_shards=4,
                                num_buckets=8)
    rows = out.collect()
    assert sorted(r.shuffle_pos for r in rows) == list(range(2000))
    expect = sorted(
        (hashlib.md5(f"{i}:4".encode()).hexdigest(), i) for i in range(2000))
    want = {i: p for p, (_, i) in enumerate(expect)}
    for r in rows:
        assert r.shuffle_pos == want[r.doc_id]
        assert r.shard == r.shuffle_pos % 4


def test_deterministic_shuffle_bucket_invariance(spark, ids):
    """The global position is independent of the bucket count (buckets are
    an execution detail, not a semantic knob)."""
    a = {r.doc_id: r.shuffle_pos
         for r in deterministic_shuffle(ids, "doc_id", seed=6,
                                        num_buckets=4).collect()}
    b = {r.doc_id: r.shuffle_pos
         for r in deterministic_shuffle(ids, "doc_id", seed=6,
                                        num_buckets=64).collect()}
    assert a == b


def test_shuffle_no_single_partition_window(spark, ids):
    """The plan must partition the window by bucket — a global
    single-partition Window would be the 100-TB killer."""
    out = deterministic_shuffle(ids, "doc_id", num_buckets=16)
    plan = _plan(out)
    assert "__shuf_bucket" in plan  # window keyed by bucket


def test_pack_sequences_exact_layout(spark, ids):
    """Layout matches the python ground truth: concat in md5-shuffled
    order, cut at budget boundaries; invariant to num_buckets."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.sampling import pack_sequences

    df = ids.withColumn("n_tok", (F.col("doc_id") % 37 + 1).cast("long"))
    out = pack_sequences(df, "doc_id", "n_tok", budget=256, seed=11,
                         num_buckets=8)
    rows = {r.doc_id: r for r in out.collect()}
    order = sorted(range(2000),
                   key=lambda i: (hashlib.md5(f"{i}:11".encode()).hexdigest(), i))
    off = 0
    for i in order:
        n = i % 37 + 1
        r = rows[i]
        assert r.start_off == off, i
        assert r.pack_first == off // 256
        assert r.pack_last == (off + n - 1) // 256
        off += n
    # bucket count is an execution detail, not a semantic knob
    out2 = {r.doc_id: r.start_off
            for r in pack_sequences(df, "doc_id", "n_tok", budget=256,
                                    seed=11, num_buckets=64).collect()}
    assert out2 == {i: rows[i].start_off for i in rows}


def test_pack_sequences_zero_token_docs(spark):
    from pyradiomics_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, 5)], "doc_id long, n_tok long")
    rows = {r.doc_id: r for r in
            pack_sequences(df, "doc_id", "n_tok", budget=8).collect()}
    total = sum(r.start_off == 0 for r in rows.values())
    assert total == 1  # exactly one stream head
    spans = sum(max(r.pack_last - r.pack_first + 1, 0)
                for r in rows.values() if r.n_tok > 0)
    assert spans >= 2  # 15 tokens over budget 8 → some doc straddles a cut


def test_cross_split_contamination(spark):
    from pyradiomics_spark.operators.sampling import cross_split_contamination

    df = spark.createDataFrame(
        [(1, "same exact text", "train"), (2, "same exact text", "test"),
         (3, "same exact text", "train"),  # same split as 1 — not a pair
         (4, "different text entirely", "test"),
         (5, "common prefix words here then tail one", "train"),
         (6, "common prefix words here then tail two", "test")],
        "doc_id long, text string, split string")
    exact = cross_split_contamination(df, "doc_id", "text")
    assert [(r.id_a, r.id_b) for r in exact.orderBy("id_a", "id_b").collect()] \
        == [(1, 2), (2, 3)]
    pre = cross_split_contamination(df, "doc_id", "text", prefix_tokens=5)
    got = {(r.id_a, r.id_b) for r in pre.collect()}
    assert (5, 6) in got  # caught by the 5-token prefix net


def test_stratified_sample_exact_counts_and_determinism(spark, ids):
    from pyspark.sql import functions as F
    from pyradiomics_spark.operators.sampling import stratified_sample_exact

    df = ids.withColumn(
        "tier", F.when(F.col("doc_id") % 2 == 0, "hi").otherwise("lo"))
    out = stratified_sample_exact(df, "doc_id", {"hi": 37, "lo": 5},
                                  strata_col="tier", seed=2)
    counts = {r.tier: r["count"] for r in out.groupBy("tier").count().collect()}
    assert counts == {"hi": 37, "lo": 5}  # EXACT, not approximate
    # deterministic: same corpus → same members, any partitioning
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in stratified_sample_exact(
        df.repartition(13), "doc_id", {"hi": 37, "lo": 5},
        strata_col="tier", seed=2).collect()}
    assert a == b
    # the sample is the hash-order prefix of each stratum (matches the
    # fraction filter's draw for the same seed)
    fr = {r.doc_id: _expected_frac(r.doc_id, 2)
          for r in df.select("doc_id").collect()}
    hi_sorted = sorted((d for d in fr if d % 2 == 0), key=lambda d: (fr[d], d))
    assert {d for d in a if d % 2 == 0} == set(hi_sorted[:37])


def test_stratified_sample_exact_int_n_and_small_stratum(spark, ids):
    from pyspark.sql import functions as F
    from pyradiomics_spark.operators.sampling import stratified_sample_exact

    df = ids.withColumn(
        "tier", F.when(F.col("doc_id") < 3, "tiny").otherwise("big"))
    out = stratified_sample_exact(df, "doc_id", 10, strata_col="tier")
    counts = {r.tier: r["count"] for r in out.groupBy("tier").count().collect()}
    assert counts == {"tiny": 3, "big": 10}  # small stratum kept whole
    # unknown strata drop under a dict, like stratified_sample
    assert stratified_sample_exact(
        df, "doc_id", {"tiny": 2}, strata_col="tier").count() == 2
    assert stratified_sample_exact(
        df, "doc_id", {}, strata_col="tier").count() == 0
    # no global single-partition window: the sort is partitioned by tier
    assert "partitionBy=[]" not in _plan(
        stratified_sample_exact(df, "doc_id", 10, strata_col="tier"))


def test_quantile_buckets_tertiles(spark):
    import numpy as np
    from pyradiomics_spark.operators.sampling import quantile_buckets

    vals = [float(v) for v in range(1, 301)]  # 1..300, tertiles at 100.67/200.33
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id int, v double")
    got = quantile_buckets(df, "v").collect()
    b1, b2 = np.percentile(np.array(vals), [100 / 3, 200 / 3])
    for r in got:
        exp = 0 if r.v <= round(b1, 6) else (1 if r.v <= round(b2, 6) else 2)
        assert r.bucket == exp
    counts = {b: sum(1 for r in got if r.bucket == b) for b in (0, 1, 2)}
    assert counts == {0: 100, 1: 100, 2: 100}


def test_quantile_buckets_nulls_and_custom_probs(spark):
    from pyradiomics_spark.operators.sampling import quantile_buckets

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, None)],
        "doc_id int, v double")
    got = {r.doc_id: r.bucket for r in
           quantile_buckets(df, "v", probs=(0.5,)).collect()}
    assert got[5] is None                       # null value -> null bucket
    assert got[1] == 0 and got[2] == 0          # <= median (25.0)
    assert got[3] == 1 and got[4] == 1


def test_quantile_buckets_approx_arm(spark):
    from pyradiomics_spark.operators.sampling import quantile_buckets

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"), F.col("id").cast("double").alias("v"))
    exact = quantile_buckets(df, "v")
    approx = quantile_buckets(df, "v", relative_error=0.001)
    # at eps=1e-3 over 3000 uniform rows the GK boundaries sit within
    # eps*n=3 ranks of exact: bucket flips only near the cut points
    diff = (
        exact.select("doc_id", F.col("bucket").alias("be"))
        .join(approx.select("doc_id", F.col("bucket").alias("ba")), "doc_id")
        .where(F.col("be") != F.col("ba")).count())
    assert diff <= 12


def test_quantile_buckets_no_global_sort(spark):
    from pyradiomics_spark.operators.sampling import quantile_buckets

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.col("id").cast("double").alias("v"))
    plan = _plan(quantile_buckets(df, "v"))
    assert "Window" not in plan          # never an ntile/global-rank window
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_domain_mix_water_filling(spark, ids):
    from pyradiomics_spark.operators.sampling import domain_mix_sample

    # three domains with availability 1000 / 600 / 400
    df = ids.withColumn(
        "domain",
        F.when(F.col("doc_id") < 1000, "web")
        .when(F.col("doc_id") < 1600, "books").otherwise("code"))
    out, rates = domain_mix_sample(
        df, "doc_id", "domain", {"web": 0.5, "books": 0.25, "code": 0.25})
    # binding domain: books needs 0.25 share with 600 avail → T=2400 > web's
    # 1000/0.5=2000 > code's 400/0.25=1600 → code binds, T=1600, code whole
    assert rates["code"] == (400, 1.0)
    assert rates["web"][1] == pytest.approx(800 / 1000)
    assert rates["books"][1] == pytest.approx(400 / 600)
    got = {r.domain: r["count"]
           for r in out.groupBy("domain").count().collect()}
    assert got["code"] == 400
    # hash sampling is approximate for the non-binding domains (±~5%)
    assert abs(got["web"] - 800) < 80 and abs(got["books"] - 400) < 60
    # output mix ≈ target mix
    tot = sum(got.values())
    assert abs(got["web"] / tot - 0.5) < 0.05


def test_domain_mix_drops_unlisted_and_validates(spark, ids):
    from pyradiomics_spark.operators.sampling import domain_mix_sample

    df = ids.withColumn(
        "domain", F.when(F.col("doc_id") < 1000, "web").otherwise("spam"))
    out, rates = domain_mix_sample(df, "doc_id", "domain", {"web": 1.0})
    assert out.where("domain = 'spam'").count() == 0
    assert out.count() == 1000  # single listed domain kept whole
    with pytest.raises(ValueError, match="non-empty"):
        domain_mix_sample(df, "doc_id", "domain", {})
    with pytest.raises(ValueError, match="absent"):
        domain_mix_sample(df, "doc_id", "domain", {"web": 0.5, "nope": 0.5})


def test_domain_mix_collect_bounded_by_share_keys(spark, ids, monkeypatch):
    """A domain column with one distinct value per row (hosts, URLs)
    still brings at most len(target_shares) count rows to the driver:
    the target-domain In filter sits under the aggregate."""
    from pyradiomics_spark.operators.sampling import domain_mix_sample

    df = ids.withColumn(
        "domain", F.concat(F.lit("host"), F.col("doc_id").cast("string")))
    seen = []
    frame = type(df)
    collect = frame.collect

    def spy(self):
        rows = collect(self)
        seen.append((len(rows), self._jdf.queryExecution().optimizedPlan()
                     .toString()))
        return rows

    monkeypatch.setattr(frame, "collect", spy)
    out, rates = domain_mix_sample(
        df, "doc_id", "domain", {"host1": 0.5, "host2": 0.5})
    monkeypatch.undo()
    assert [n for n, _ in seen] == [2]
    plan = seen[0][1]
    assert plan.index("Aggregate") < plan.index(" IN (host1,host2)")
    assert rates == {"host1": (1, 1.0), "host2": (1, 1.0)}
    assert sorted(r.domain for r in out.collect()) == ["host1", "host2"]


def test_domain_mix_deterministic_subset(spark, ids):
    from pyradiomics_spark.operators.sampling import domain_mix_sample

    df = ids.withColumn(
        "domain", F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b"))
    shares = {"a": 0.75, "b": 0.25}
    a1, _ = domain_mix_sample(df, "doc_id", "domain", shares, seed=3)
    a2, _ = domain_mix_sample(df.repartition(7), "doc_id", "domain",
                              shares, seed=3)
    assert sorted(r.doc_id for r in a1.collect()) == \
        sorted(r.doc_id for r in a2.collect())


def test_ngram_decontaminate_catches_interior_span(spark):
    from pyradiomics_spark.operators.sampling import ngram_decontaminate

    leak = "the quick brown fox jumps over"   # 6-token span
    rows = [
        (0, f"prefix junk {leak} suffix junk here", "train"),  # interior hit
        (1, "completely unrelated training text with no overlap at all",
         "train"),
        (2, f"another doc {leak} twice embedded {leak} again ok", "train"),
        (10, f"eval question containing {leak} verbatim", "test"),
        (11, "short eval", "val"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "split"])
    out = {r.doc_id: r.n_shared_grams
           for r in ngram_decontaminate(
               df, "doc_id", "text", n=6).collect()}
    assert 0 in out and 2 in out and 1 not in out
    # eval docs are never in the output
    assert 10 not in out and 11 not in out
    # doc 0 shares exactly the one 6-gram; doc 2 shares it too (distinct=1)
    assert out[0] == 1 and out[2] == 1


def test_ngram_decontaminate_prefix_equivalence(spark):
    """With n > every doc length no doc yields grams → empty result; with
    n=1 it reduces to shared-vocabulary detection."""
    from pyradiomics_spark.operators.sampling import ngram_decontaminate

    df = spark.createDataFrame(
        [(0, "a b c", "train"), (1, "c d e", "test")],
        ["doc_id", "text", "split"])
    assert ngram_decontaminate(df, "doc_id", "text", n=9).count() == 0
    out = {r.doc_id: r.n_shared_grams
           for r in ngram_decontaminate(df, "doc_id", "text", n=1).collect()}
    assert out == {0: 1}  # only token 'c' shared
    with pytest.raises(ValueError, match="n must be"):
        ngram_decontaminate(df, "doc_id", "text", n=0)


def test_rank_normalize_matches_numpy(spark):
    import numpy as np

    from pyradiomics_spark.operators.sampling import rank_normalize

    rng = np.random.default_rng(5)
    vals = np.round(rng.normal(50, 10, 500), 2)  # rounding forces ties
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["id", "v"])
    out = {r.id: (r.cdf_strict, r.cdf)
           for r in rank_normalize(df, "v", num_buckets=8).collect()}
    n = len(vals)
    for i, v in enumerate(vals):
        lt = float((vals < v).sum())
        le = float((vals <= v).sum())
        assert out[i][0] == pytest.approx(lt / n, abs=1e-12)
        assert out[i][1] == pytest.approx(le / n, abs=1e-12)


def test_rank_normalize_bucket_invariance_and_ties(spark):
    from pyradiomics_spark.operators.sampling import rank_normalize

    vals = [1.0] * 10 + [2.0] * 5 + [3.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["id", "v"])
    a = {r.id: (r.cdf_strict, r.cdf)
         for r in rank_normalize(df, "v", num_buckets=2).collect()}
    b = {r.id: (r.cdf_strict, r.cdf)
         for r in rank_normalize(df.repartition(7), "v",
                                 num_buckets=16).collect()}
    assert a == b
    # all members of a tie group share BOTH cdfs
    assert a[0] == (0.0, 10 / 16) and a[0] == a[9]
    assert a[10] == (10 / 16, 15 / 16)
    assert a[15] == (15 / 16, 1.0)


def test_rank_normalize_null_passthrough(spark):
    from pyradiomics_spark.operators.sampling import rank_normalize

    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 2.0)], "id long, v double")
    out = {r.id: (r.cdf_strict, r.cdf)
           for r in rank_normalize(df, "v").collect()}
    assert out[1] == (None, None)
    assert out[0] == (0.0, 0.5) and out[2] == (0.5, 1.0)


def test_gumbel_topk_matches_python_twin(spark):
    import hashlib
    import math

    from pyradiomics_spark.operators.sampling import gumbel_topk_sample

    rows = [(i, float((i % 7) - 3)) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "lw"])
    got = [r.id for r in gumbel_topk_sample(df, "id", "lw", k=20,
                                            seed=4).collect()]

    def score(i, lw):
        u = int(hashlib.md5(f"{i}:4".encode()).hexdigest()[:8], 16) / 2**32
        return lw - math.log(-math.log(u + 2.0 ** -33))

    exp = sorted(rows, key=lambda r: (-score(*r), r[0]))[:20]
    assert got == [i for i, _ in exp]


def test_gumbel_topk_is_weighted_without_replacement(spark):
    """Heavier log-weights are sampled proportionally more often across
    independent seeds, and a draw never repeats an id."""
    import numpy as np

    from pyradiomics_spark.operators.sampling import gumbel_topk_sample

    # two strata: 100 ids at weight ln(9), 100 at weight 0 → a single
    # draw picks the heavy stratum w.p. 0.9
    rows = [(i, float(np.log(9.0)) if i < 100 else 0.0) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "lw"]).cache()
    heavy = 0
    for seed in range(30):
        got = gumbel_topk_sample(df, "id", "lw", k=10, seed=seed).collect()
        ids = [r.id for r in got]
        assert len(set(ids)) == 10  # without replacement
        heavy += sum(1 for i in ids if i < 100)
    df.unpersist()
    # E[heavy fraction] ≈ 0.9 (slightly below due to depletion); 300 draws
    assert 0.78 < heavy / 300 < 0.98


def test_gumbel_topk_null_weights_excluded_and_validation(spark):
    from pyradiomics_spark.operators.sampling import gumbel_topk_sample

    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 0.5)], "id long, lw double")
    got = {r.id for r in gumbel_topk_sample(df, "id", "lw", k=3).collect()}
    assert got == {0, 2}
    with pytest.raises(ValueError, match="k must be"):
        gumbel_topk_sample(df, "id", "lw", k=0)


def test_chunk_documents_layout(spark):
    from pyradiomics_spark.operators.sampling import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    got = {r.chunk_idx: (r.chunk_n_tokens, r.chunk_text)
           for r in chunk_documents(df, "doc_id", "text", 4).collect()}
    assert len(got) == 3
    assert got[0] == (4, "w0 w1 w2 w3")
    assert got[1] == (4, "w4 w5 w6 w7")
    assert got[2] == (2, "w8 w9")  # short tail kept


def test_chunk_documents_overlap_and_reconstruction(spark):
    from pyradiomics_spark.operators.sampling import chunk_documents

    text = " ".join(f"w{i}" for i in range(9))
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, "doc_id", "text", 4, overlap=2).collect(),
        key=lambda r: r.chunk_idx)
    # stride 2: starts at 0,2,4 — every token covered, overlap = 2
    assert [r.chunk_text.split()[0] for r in rows] == ["w0", "w2", "w4", "w6"]
    # consecutive chunks agree on their overlap (the training contract)
    for a, b in zip(rows, rows[1:]):
        assert a.chunk_text.split()[2:] == b.chunk_text.split()[:2]
    # non-overlap chunks reconstruct the doc exactly
    plain = sorted(chunk_documents(df, "doc_id", "text", 4).collect(),
                   key=lambda r: r.chunk_idx)
    assert " ".join(r.chunk_text for r in plain) == text


def test_chunk_documents_short_doc_single_chunk_and_validation(spark):
    from pyradiomics_spark.operators.sampling import chunk_documents

    df = spark.createDataFrame([(0, "a b"), (1, "x")], ["doc_id", "text"])
    got = {(r.doc_id, r.chunk_idx): r.chunk_text
           for r in chunk_documents(df, "doc_id", "text", 16).collect()}
    assert got == {(0, 0): "a b", (1, 0): "x"}
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "doc_id", "text", 4, overlap=4)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, "doc_id", "text", 0)


def test_time_split_embargo(spark):
    import pytest as _pt

    from pyradiomics_spark.operators.sampling import time_split

    rows = [(0, 10.0), (1, 99.9), (2, 100.0), (3, 150.0), (4, 200.0),
            (5, 250.0)]
    df = spark.createDataFrame(rows, ["id", "ts"])
    got = {r.id: r.split
           for r in time_split(df, "ts", 100.0, embargo=100.0).collect()}
    assert got == {0: "train", 1: "train", 2: "embargo", 3: "embargo",
                   4: "test", 5: "test"}
    # zero embargo: a clean two-way cut
    z = {r.id: r.split for r in time_split(df, "ts", 100.0).collect()}
    assert z[1] == "train" and z[2] == "test"
    assert "embargo" not in z.values()
    with _pt.raises(ValueError, match="embargo"):
        time_split(df, "ts", 100.0, embargo=-1.0)


def _py_negative_samples(ids, k, seed=0):
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    ring = sorted((h60(f"{i}:ring:{seed}"), i) for i in ids)
    out = {}
    for i in ids:
        for j in range(1, k + 1):
            t = h60(f"{i}:neg{j}:{seed}")
            nxt = next((rid for pos, rid in ring if pos >= t),
                       ring[0][1])
            if nxt != i:
                out[(i, j)] = nxt
    return out


def test_negative_samples_matches_python(spark):
    from pyradiomics_spark.operators.sampling import negative_samples

    ids = [f"doc{i}" for i in range(60)]
    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    for bits in (1, 3, 6, 12):
        got = {(r.id, r.j): r.neg_id
               for r in negative_samples(df, "id", k=3, seed=2,
                                         bucket_bits=bits).collect()}
        assert got == _py_negative_samples(ids, 3, seed=2), bits


def test_negative_samples_deterministic_and_no_self(spark):
    from pyradiomics_spark.operators.sampling import negative_samples

    ids = [f"u{i}" for i in range(40)]
    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    a = sorted(map(tuple, negative_samples(
        df, "id", k=4).collect()))
    b = sorted(map(tuple, negative_samples(
        df.repartition(7), "id", k=4).collect()))
    assert a == b  # partitioning-invariant
    assert all(r[0] != r[2] for r in a)
    # coverage: nearly every (id, j) slot produced a negative
    assert len(a) >= 40 * 4 - 6


def test_negative_samples_rejects_bad_params(spark):
    import pytest

    from pyradiomics_spark.operators.sampling import negative_samples

    df = spark.createDataFrame([("a",)], ["id"])
    with pytest.raises(ValueError):
        negative_samples(df, "id", k=0)
    with pytest.raises(ValueError):
        negative_samples(df, "id", bucket_bits=0)


def _py_weighted_strat(rows, k, seed=0):
    """rows: (stratum, id, logw). Gumbel-top-k per stratum twin."""
    import hashlib
    import math
    from collections import defaultdict

    def score(i, lw):
        u = int(hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:8],
                16) / float(1 << 32)
        return lw - math.log(-math.log(u + 2.0 ** -33))

    by_s = defaultdict(list)
    for s, i, lw in rows:
        if lw is not None:
            by_s[s].append((score(i, lw), i))
    out = set()
    for s, items in by_s.items():
        for _, i in sorted(items, key=lambda t: (-t[0], t[1]))[:k]:
            out.add((s, i))
    return out


def test_weighted_stratified_matches_python(spark):
    from pyradiomics_spark.operators.sampling import (
        weighted_stratified_sample)

    rows = ([("en", f"e{i}", float(i % 7) / 2.0) for i in range(40)]
            + [("de", f"d{i}", 0.0) for i in range(10)]
            + [("fr", "f0", None)])          # null weight excluded
    df = spark.createDataFrame(rows, ["lang", "id", "lw"])
    got = {(r.lang, r.id) for r in weighted_stratified_sample(
        df, "lang", "id", "lw", k=5, seed=3).collect()}
    assert got == _py_weighted_strat(
        [(s, i, w) for s, i, w in rows], 5, seed=3)
    # strata smaller than k are kept whole (minus null weights)
    assert sum(1 for s, _ in got if s == "de") == 5
    assert not any(s == "fr" for s, _ in got)


def test_weighted_stratified_biases_toward_weight(spark):
    from pyradiomics_spark.operators.sampling import (
        weighted_stratified_sample)

    # two weight classes 1000 apart: the k sampled ids must all come
    # from the heavy class (probability ~e^-1000 otherwise)
    rows = ([("s", f"h{i}", 10.0) for i in range(20)]
            + [("s", f"l{i}", -990.0) for i in range(20)])
    df = spark.createDataFrame(rows, ["g", "id", "lw"])
    got = [r.id for r in weighted_stratified_sample(
        df, "g", "id", "lw", k=10).collect()]
    assert len(got) == 10 and all(i.startswith("h") for i in got)


def test_weighted_stratified_rejects_k(spark):
    import pytest

    from pyradiomics_spark.operators.sampling import (
        weighted_stratified_sample)

    df = spark.createDataFrame([("s", "a", 0.0)], ["g", "id", "lw"])
    with pytest.raises(ValueError):
        weighted_stratified_sample(df, "g", "id", "lw", k=0)
