"""Physical-plan hygiene: predicate pushdown, column pruning, broadcast
joins — the Catalyst properties the engine relies on at 100 TB
(SURVEY.md §4). These assert on .explain output so regressions that
silently de-optimize the plan fail loudly."""

import pytest


SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1998-09-02").select("l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or \
           "LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_quantity", "l_returnflag")
    plan = _plan(q)
    # ReadSchema carries only the projected columns
    assert "l_quantity" in plan and "l_extendedprice" not in plan.split("ReadSchema")[1]


def test_broadcast_join_in_topcustomers(spark):
    import __spark_entry__ as e

    plan = _plan(e.q_top_customers(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_extraction_prunes_to_keys_and_text(spark):
    from pyradiomics_spark.operators.features import extract_features
    from pyradiomics_spark.sources.pages import pages_pdf, PAGES_SCHEMA

    pages = spark.createDataFrame(pages_pdf(3), schema=PAGES_SCHEMA)
    out = extract_features(pages, keys=("url", "warc_ts"))
    plan = _plan(out)
    # the heavy html binary column must NOT cross the Arrow boundary
    assert "html" not in plan


def test_asof_whole_stage_codegen(spark):
    import pandas as pd
    from pyradiomics_spark.operators.asof import asof_join

    l = spark.createDataFrame(pd.DataFrame({
        "k": ["a"], "ts": [pd.Timestamp("2024-01-01")], "x": [1.0]}))
    r = spark.createDataFrame(pd.DataFrame({
        "k": ["a"], "rts": [pd.Timestamp("2024-01-01")], "y": [2.0]}))
    plan = _plan(asof_join(l, r, "k", "ts", "rts"))
    # fully JVM-side: union → one Exchange → Sort → Window → Filter/Project
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "Window" in plan and "Exchange hashpartitioning" in plan


def test_partition_pruning(spark, tmp_path):
    """A predicate on the partition column must prune at planning time
    (PartitionFilters), not scan every directory — table layout strategy
    for the lang/date-partitioned corpora at scale."""
    from pyradiomics_spark.sources.sinks import append_stage

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "part_docs")
    append_stage(docs, path, write_lineage=False, partition_by="lang")
    q = spark.read.parquet(path).where("lang = 'en'").select("doc_id")
    plan = _plan(q)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1].split("]")[0]
    assert q.count() > 0


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed by the same key/count sort-merge-join with NO
    Exchange — the co-located join strategy big joins need at 100 TB."""
    from pyspark.sql import functions as F
    from pyradiomics_spark.sources.sinks import write_bucketed

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_name")
    write_bucketed(orders, "bkt_orders", "o_custkey", num_buckets=4,
                   sort_cols="o_custkey")
    write_bucketed(cust.withColumnRenamed("c_custkey", "o_custkey"),
                   "bkt_cust", "o_custkey", num_buckets=4,
                   sort_cols="o_custkey")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_orders").join(spark.table("bkt_cust"), "o_custkey")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_cust")


def test_minhash_single_aggregate_stage(spark):
    """The k min-hashes must be ONE groupBy (k aggregates), not k passes."""
    from pyradiomics_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_signatures(docs, "doc_id", "text", num_hashes=16))
    # one (partial+final) hash aggregate pair over the shingles
    assert plan.count("HashAggregate") <= 4


def test_decayed_features_single_exchange(spark):
    """Both windows (per-entity min rebase + range cumsum) share ONE
    hash partitioning — the operator costs one shuffle, reusable by the
    other per-entity feature windows."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.windows import decayed_features

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "ts", "value")
    plan = _plan(decayed_features(ev, "user_id", "ts", "value", 3600.0))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower().replace(
        "hashpartitioning", "")


def test_cms_sketch_partial_aggregated_single_shuffle(spark):
    """The sketch shuffle moves ≤ depth·width partial cells per
    partition, never corpus rows: one Exchange, map-side combine."""
    from pyradiomics_spark.operators.sketches import cms_sketch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(cms_sketch(docs, "lang", width=64, depth=4))
    assert plan.count("Exchange") == 1
    # partial+final pair proves map-side combine before the shuffle
    assert plan.count("HashAggregate") == 2


def test_bloom_and_cms_probes_broadcast(spark):
    from pyradiomics_spark.operators.sketches import (bloom_build,
                                                      bloom_contains)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bloom = bloom_build(docs.select("lang"), "lang", n_bits=1024)
    plan = _plan(bloom_contains(bloom, docs.select("lang").distinct(),
                                "lang", n_bits=1024))
    assert "BroadcastHashJoin" in plan


def test_brute_force_topk_shards_the_rank_window(spark):
    """The exact-arm top-k must never sort |corpus|x|queries| rows in a
    single per-query window partition (SURVEY §2.6 "never a global
    sort"): the first rank window is partitioned by (query, corpus
    shard), bounding every sort partition at |corpus|/n_shards rows;
    only the k-bounded survivors reach the per-query merge window."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qdf = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(brute_force_topk(emb, qdf, k=5))
    # the shard-level rank window partitions by (query, shard) — the
    # full scored relation is never sorted per query alone
    import re

    assert re.search(r"windowspecdefinition\(query_id#\d+L?, __bfs", plan), (
        "shard rank window must include the corpus shard key")
    # the k-bounded merge window exists above it
    assert plan.count("windowspecdefinition") >= 2


def test_gumbel_topk_never_global_sorts(spark):
    """orderBy().limit(k) must plan as TakeOrderedAndProject (per-
    partition top-k + k-sized merge), not a full Sort+Exchange."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.sampling import gumbel_topk_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("n_chars").cast("double").alias("lw"))
    plan = _plan(gumbel_topk_sample(docs, "doc_id", "lw", k=10))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_interval_join_is_equi_not_nested_loop(spark):
    """The binned range join must plan as a hash-partitioned equi-join
    with the containment predicate as residual — the whole point vs the
    naive BroadcastNestedLoopJoin that a raw start<=ts<end join plans."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.intervals import interval_join

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "ts")
    iv = ev.where(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("iv_id"), F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"))
    plan = _plan(interval_join(ev, iv, "ts", "lo", "hi", 3600.0))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_funnel_reuses_one_corpus_exchange(spark):
    """funnel pre-partitions events once on the user key; every later
    stage aggregate/join satisfies its distribution from that single
    exchange (ReusedExchange), instead of re-shuffling the corpus per
    stage."""
    from pyradiomics_spark.operators.events import funnel

    ev = spark.read.parquet(f"{SF}/events.parquet")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(funnel(ev, "user_id", "ts", "event_type",
                            ("view", "click", "purchase")))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("ReusedExchange") >= 4


def test_scd2_single_exchange(spark):
    """SCD2 compression runs entirely on one per-entity partitioning:
    boundary lag, interval lead, and run-length row_number deltas all
    share the exchange — no groupBy reshuffle."""
    from pyradiomics_spark.operators.windows import scd2_compress

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "ts", "event_type")
    plan = _plan(scd2_compress(ev, "user_id", "ts", "event_type",
                               tie_col="event_id"))
    assert plan.count("Exchange") == 1


def test_bm25_rank_is_window_not_global_sort(spark):
    """BM25's per-doc top-N is a doc-partitioned rank window; the only
    global structure is the broadcast 1-row corpus stats (no global
    rangepartitioning sort anywhere in the plan)."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.functions.textstats import bm25_top_terms

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    plan = _plan(bm25_top_terms(docs, "doc_id", "text", top_n=3))
    assert "BroadcastExchange" in plan  # corpus N/avgdl row
    assert "rangepartitioning" not in plan.lower().replace(
        "hashpartitioning", "x")


def test_chi2_class_census_broadcast(spark):
    """chi2_terms joins the per-class doc counts (|classes| rows) as a
    broadcast — the term-keyed aggregates never shuffle against a
    corpus-sized side."""
    from pyradiomics_spark.functions.textstats import chi2_terms

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "lang", "text")
    plan = _plan(chi2_terms(docs, "lang", "text", top_n=5))
    assert plan.count("BroadcastExchange") >= 2  # class census + corpus N


def test_triangle_orientation_bounds_wedge_join(spark):
    """triangle_count's wedge join joins the ORIENTED edge relation to
    itself on the apex — all equi (SortMergeJoin/ShuffledHashJoin or
    broadcast under AQE), never a BroadcastNestedLoopJoin/cartesian."""
    from pyradiomics_spark.operators.graph import triangle_count

    e = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 20}") for i in range(60)],
        ["src", "dst"])
    plan = _plan(triangle_count(e))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_edit_join_is_equi_never_allpairs(spark):
    """edit_join's candidate stage is an equi-join on deletion variants —
    the plan must never degrade to BroadcastNestedLoopJoin/cartesian
    (which is what a naive `levenshtein(a,b) <= 1` theta-join gives)."""
    from pyradiomics_spark.operators.fuzzy import edit_join

    c = spark.read.parquet(f"{SF}/customer.parquet").select("c_name")
    plan = _plan(edit_join(c, "c_name"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ab_ttest_single_aggregate_shuffle(spark):
    """ab_welch_ttest is one map-side-combined groupBy; every statistic
    is post-aggregation scalar arithmetic (one Exchange total)."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.events import ab_welch_ttest

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_type", "value").withColumn(
            "arm", (F.col("user_id") % 2).cast("int"))
    plan = _plan(ab_welch_ttest(ev, "event_type", "arm", "value"))
    assert plan.count("Exchange") == 1


def test_jaccard_join_prefix_candidates_equi(spark):
    """jaccard_join's candidate stage equi-joins on prefix shingles —
    never a cartesian/BroadcastNestedLoopJoin (the shape a naive
    `jaccard(a,b) >= t` theta-join degrades to)."""
    from pyradiomics_spark.operators.dedup import jaccard_join

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(jaccard_join(docs, "doc_id", "text", threshold=0.8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_negative_samples_no_corpus_global_window(spark):
    """negative_samples' ring-successor lookup must stay bucketed: the
    only empty-partition-spec window runs over the 2^bucket_bits-row
    bucket-minima AGGREGATE (its child contains the bucket groupBy),
    never over corpus rows, and no join degrades to BNLJ/cartesian
    (the global wrap is the 1-row broadcast-scalar pattern)."""
    from pyradiomics_spark.operators.sampling import negative_samples

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    df = negative_samples(docs, "doc_id", k=3, bucket_bits=6)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the in-bucket successor is an equi-join on __b: present as a hash
    # or sort-merge join keyed on __b somewhere in the plan
    assert "__b" in plan
    # analyzed plan: every Window with an empty partitionBy must sit
    # above the bucket-minima Aggregate, not the raw scan
    lp = df._jdf.queryExecution().analyzed().toString()
    import re

    for m in re.finditer(r"Window \[", lp):
        seg = lp[m.start():m.start() + 300]
        # the successor window orders by __b (bucket aggregate); the
        # only other windows would be corpus-sized — there are none
        assert "__b" in seg


def test_weighted_stratified_bounded_rank_window(spark):
    """weighted_stratified_sample ranks WITHIN strata — the window's
    partition spec must be non-empty (no global single-partition
    sort)."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.sampling import (
        weighted_stratified_sample)

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "lang", "doc_id",
        F.log(F.lit(1.0) + F.col("n_chars")).alias("lw"))
    df = weighted_stratified_sample(docs, "lang", "doc_id", "lw", k=5)
    plan = _plan(df)
    # physical window partition spec carries the stratum column
    assert "lang" in plan and "row_number" in plan


def test_text_statistics_have_no_interpreted_lambdas(spark):
    """Curation's per-doc token statistics are compiled builtins: Spark
    evaluates filter/transform/aggregate lambdas through the
    CodegenFallback interpreter, so none may reach the optimized plan."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.functions.textstats import (gopher_quality_filter,
                                                       quality_features,
                                                       repetition_ratio)

    df = spark.createDataFrame([(1, "the cat sat")], "doc_id int, text string")
    for q in (quality_features(df).withColumn(
                  "r", repetition_ratio(F.col("text"))),
              gopher_quality_filter(df)):
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in plan.lower()
