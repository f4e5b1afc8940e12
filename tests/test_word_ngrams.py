"""The one word-n-gram builder (``operators.dedup.word_ngrams``) against a
Python reference, and the compute-once shape of its two curation
consumers (``repetition_ratio``, ``ngram_jaccard_pairs``)."""

import re

import pandas as pd
from hypothesis import given, settings as hsettings, strategies as st
from pyspark.sql import functions as F

from pyradiomics_spark.functions.textstats import repetition_ratio
from pyradiomics_spark.operators.dedup import ngram_jaccard_pairs, word_ngrams

NS = (1, 2, 3, 5)
EDGE = ["", " ", "  ", " a", "a ", "a  b", "  a  b  ", "a\tb c", "\ta\t \t",
        "é ü 中文 😀 x", "a.b $c ^d [e] (f) \\g *h ?+ | {2}", "a\nb c\r\nd",
        "x", "a b", "a b c d e f", "the cat the cat the cat", None]


def _reference(s, n, drop_empty):
    if s is None:
        return []
    t = s.split(" ")
    if drop_empty:
        t = [x for x in t if x != ""]
    return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]


def _check(spark, texts):
    df = spark.createDataFrame([(s,) for s in texts], "text string")
    cols = [word_ngrams(F.col("text"), n, de).alias(f"g{n}{int(de)}")
            for n in NS for de in (False, True)]
    rows = df.select("text", *cols).collect()
    for r in rows:
        for n in NS:
            for de in (False, True):
                assert r[f"g{n}{int(de)}"] == _reference(r.text, n, de), (
                    r.text, n, de)


def test_word_ngrams_matches_python_reference(spark):
    """Same strings, same order as joining each run of n split tokens —
    empty tokens kept or dropped, NULL → [], docs shorter than n → []."""
    _check(spark, EDGE)


@given(st.lists(st.text(alphabet=["a", "b", "é", " ", "\t", ".", "$"],
                        max_size=12), min_size=1, max_size=20))
@hsettings(max_examples=25, deadline=None)
def test_word_ngrams_property(spark, texts):
    _check(spark, texts)


def _static_plan(spark, build) -> str:
    """Physical plan without AQE and broadcast joins, so exchange reuse
    (the same subtree read twice) shows in the plan text."""
    keys = {"spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1"}
    old = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        return build()._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_repetition_ratio_builds_grams_once(spark):
    df = spark.createDataFrame([("a b a b a",), (None,), ("x",)], "text string")
    out = df.select(repetition_ratio(F.col("text"), 2).alias("r"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all(") == 1, plan
    assert [r.r for r in out.collect()] == [0.5, 0.0, 0.0]


def test_ngram_jaccard_pairs_one_shingle_set_per_candidate(spark, tmp_path):
    """Candidate docs are shingled once: one Generate (the other join side
    reuses its exchange), one gram build (no inferred size filter pushed
    below the semi-join), and no per-doc count aggregate for |A|, |B|.
    The docs are a parquet scan: the optimizer folds filters into a
    local relation, which would hide a pushed-down rebuild."""
    texts = ["a b c d e", "a b c d f", "x y z a b", "a b c d e g", "q r s t"]
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    cand = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 0, 1], "id_b": [1, 3, 3]}))

    def build():
        return ngram_jaccard_pairs(docs, "doc_id", "text", 3, cand)

    plan = _static_plan(spark, build)
    assert len(re.findall(r"\bGenerate ", plan)) == 1, plan
    assert plan.count("regexp_extract_all(") == 1, plan
    opt = build()._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"Aggregate \[[^,\]]+\], ", opt), opt
    got = sorted(map(tuple, build().collect()))
    assert got == [(0, 1, 0.5), (0, 3, 0.75), (1, 3, 0.4)]
