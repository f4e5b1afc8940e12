"""Scoped materialization (session.checkpoint / cache / release / defer /
scope): every iterative operator and the curation plan give back what they
pinned, on a clean exit and when the body raises, and a bare call keeps only
the blocks its returned lineage reads.

Counts compare the SET of persistent RDD ids before and after, so a
ContextCleaner sweep of an older test's blocks cannot mask a new one."""

import pytest

from pyradiomics_spark.functions.bpe import bpe_learn
from pyradiomics_spark.operators import components
from pyradiomics_spark.operators.components import connected_components
from pyradiomics_spark.operators.graph import (hits, kcore_peel,
                                               label_propagation, pagerank)
from pyradiomics_spark.plans import curation
from pyradiomics_spark.plans.curation import curate
from pyradiomics_spark.session import (cache, checkpoint, defer, release,
                                       scope)


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _chain(spark, n):
    return spark.createDataFrame([(i, i + 1) for i in range(n)],
                                 "id_a long, id_b long")


@pytest.fixture(scope="module")
def graph_edges(spark):
    # two dense clusters joined by one bridge, plus a dangling tail
    e = [(a, b) for a in range(6) for b in range(6) if a != b]
    e += [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    e += [(5, 10), (14, 20), (20, 21)]
    return spark.createDataFrame([(f"h{a}", f"h{b}") for a, b in e],
                                 "src string, dst string")


@pytest.fixture(scope="module")
def corpus(spark):
    text = ("the quick brown fox jumps over the lazy dog again and again "
            "repeatedly every single day without fail ok")
    rows = [(i, f"plain document {i} alpha{i} beta{i} gamma{i} delta{i}")
            for i in range(30)]
    rows += [(100, rows[0][1]), (200, text),
             (201, text.replace("quick", "swift")),
             (202, text.replace("quick", "swift").replace("dog", "cat"))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _runs(spark, graph_edges, corpus):
    docs = spark.createDataFrame(
        [("low lower lowest newer newest wider",),
         ("low low lower new newer wide",)], "text string")
    return {
        "connected_components": lambda: connected_components(
            _chain(spark, 40)).count(),
        "pagerank": lambda: pagerank(graph_edges, n_iter=3).count(),
        "hits": lambda: hits(graph_edges, n_iter=3).count(),
        "kcore_peel": lambda: kcore_peel(graph_edges, k=3,
                                         n_rounds=3).count(),
        "label_propagation": lambda: label_propagation(
            graph_edges, n_iter=3).count(),
        "bpe_learn": lambda: bpe_learn(docs, n_merges=5)[1].count(),
        "curate": lambda: curate(corpus, jaccard_threshold=0.6,
                                 bands=16)["n_raw"],
    }


OPS = ("connected_components", "pagerank", "hits", "kcore_peel",
       "label_propagation", "bpe_learn", "curate")


@pytest.mark.parametrize("op", OPS)
def test_scope_returns_persistent_rdds_to_baseline(spark, graph_edges,
                                                   corpus, op):
    run = _runs(spark, graph_edges, corpus)[op]
    before = _persisted(spark)
    with scope():
        assert run() > 0
    assert _persisted(spark) - before == set()


@pytest.mark.parametrize("op", OPS)
def test_scope_releases_when_the_body_raises(spark, graph_edges, corpus, op):
    run = _runs(spark, graph_edges, corpus)[op]
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="after the operator"):
        with scope():
            run()
            raise RuntimeError("after the operator")
    assert _persisted(spark) - before == set()


def test_curate_releases_when_a_stage_raises(spark, corpus, monkeypatch):
    """A failure after the candidate checkpoint, the component rounds
    and the flag cache exist still leaves nothing pinned — curate owns
    its own scope."""
    def boom(*a, **k):
        raise RuntimeError("contamination check failed")

    monkeypatch.setattr(curation, "cross_split_contamination", boom)
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="contamination"):
        curate(corpus, jaccard_threshold=0.6, bands=16)
    assert _persisted(spark) - before == set()


def test_components_without_scope_keeps_two_blocks(spark, monkeypatch):
    """A bare call releases every superseded round: what stays is the
    contraction and the final edge set its output reads, however many
    rounds the chain needs."""
    made = []

    def counting(df):
        made.append(df)
        return checkpoint(df)

    monkeypatch.setattr(components, "checkpoint", counting)
    kept, rounds = [], []
    for n in (40, 400):
        made.clear()
        before = _persisted(spark)
        comp = connected_components(_chain(spark, n))
        assert comp.where("component != 0").count() == 0
        kept.append(len(_persisted(spark) - before))
        rounds.append(len(made))
        for df in made:
            release(df)
    assert rounds[1] > rounds[0]
    assert kept[0] == kept[1] <= 2


def test_release_frees_a_checkpoint_and_later_reads_fail(spark):
    before = _persisted(spark)
    ck = checkpoint(spark.range(50).selectExpr("id", "id * 2 AS y"))
    assert len(_persisted(spark) - before) == 1
    assert ck.count() == 50
    release(ck)
    assert _persisted(spark) - before == set()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        ck.count()


def test_scope_releases_its_caches_and_leaves_the_callers(spark):
    before = _persisted(spark)
    theirs = spark.range(20).cache()
    with scope():
        ours = cache(spark.range(30))
        assert ours.count() + theirs.count() == 50
        assert len(_persisted(spark) - before) == 2
    assert not ours.is_cached and theirs.is_cached
    assert len(_persisted(spark) - before) == 1
    release(theirs)
    assert _persisted(spark) - before == set() and not theirs.is_cached


def test_scope_runs_deferred_cleanup_when_the_body_raises(spark):
    ran = []
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="body failed"):
        with scope():
            ours = checkpoint(spark.range(10))
            with scope():
                defer(lambda: ran.append("inner"))
            assert ran == ["inner"]
            defer(lambda: ran.append("outer"))
            raise RuntimeError("body failed")
    assert ran == ["inner", "outer"]
    assert _persisted(spark) - before == set()
    with pytest.raises(Exception):
        ours.count()
    defer(lambda: ran.append("unscoped"))  # outside any scope: never runs
    with scope():
        pass
    assert ran == ["inner", "outer"]
