"""Connected components (large-star/small-star) vs a driver-side
union-find oracle, incl. the long-chain case that breaks O(diameter)
label propagation budgets."""

import random

import pytest

from pyradiomics_spark.operators.components import connected_components


def _union_find_truth(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    return {n: min(comp[find(n)]) for n in parent}


def test_components_match_union_find(spark):
    random.seed(3)
    edges = [(random.randrange(200), random.randrange(200))
             for _ in range(150)]
    edges += [(1000 + i, 1000 + i + 1) for i in range(60)]  # 61-node chain
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component
           for r in connected_components(df).collect()}
    assert got == _union_find_truth(edges)


def test_components_all_ids_singletons(spark):
    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    ids = spark.createDataFrame([(1,), (2,), (7,)], "doc_id long")
    got = {r.id: r.component
           for r in connected_components(df, all_ids=ids).collect()}
    assert got == {1: 1, 2: 1, 7: 7}


def test_components_nonconvergence_raises(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError):
        connected_components(df, max_rounds=0)


# ---------------------------------------------------------------------------
# canonical_representatives
# ---------------------------------------------------------------------------

def test_canonical_representatives_quality_argmax(spark):
    from pyradiomics_spark.operators.components import (
        canonical_representatives, connected_components)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)],
                                ["doc_id"])
    comp = connected_components(pairs, all_ids=ids)
    qual = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 7.0), (10, 1.0), (11, 1.0), (20, 4.0)],
        ["doc_id", "q"])
    got = {r.doc_id: (r.canonical_id, r.keep) for r in
           canonical_representatives(comp, qual, "doc_id", "q").collect()}
    # cluster {1,2,3}: 2 has max quality; cluster {10,11}: tie → lower id
    assert got[1] == (2, False) and got[2] == (2, True) and got[3] == (2, False)
    assert got[10] == (10, True) and got[11] == (10, False)
    assert got[20] == (20, True)  # singleton keeps itself


def test_canonical_keep_exactly_one_per_component(spark):
    import random

    from pyradiomics_spark.operators.components import (
        canonical_representatives, connected_components)

    rnd = random.Random(2)
    pairs = [(rnd.randrange(40), rnd.randrange(40)) for _ in range(30)]
    pairs = [(a, b) for a, b in pairs if a != b]
    ids = spark.createDataFrame([(i,) for i in range(40)], ["doc_id"])
    comp = connected_components(
        spark.createDataFrame(pairs, ["id_a", "id_b"]), all_ids=ids)
    qual = spark.createDataFrame(
        [(i, float(rnd.randint(0, 5))) for i in range(40)],
        ["doc_id", "q"])
    rows = canonical_representatives(comp, qual, "doc_id", "q").collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp_id, members in by_comp.items():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1
        assert all(r.canonical_id == keeps[0].doc_id for r in members)
