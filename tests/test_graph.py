"""PageRank / degree census vs a hand-rolled numpy power iteration."""

import numpy as np
import pytest

from pyradiomics_spark.operators.graph import degree_census, pagerank


def _np_pagerank(edges, n_iter, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outd = np.zeros(n)
    for u, _ in edges:
        outd[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dang = r[outd == 0].sum()
        new = np.full(n, (1.0 - d) / n + d * dang / n)
        for u, v in edges:
            new[idx[v]] += d * r[idx[u]] / outd[idx[u]]
        r = new
    return {nodes[i]: r[i] for i in range(n)}


EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
         ("d", "c"), ("c", "e")]  # e is dangling


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, ["src", "dst"])


def test_pagerank_matches_numpy(spark, edges_df):
    got = {r.node: r["rank"] for r in pagerank(edges_df, n_iter=5).collect()}
    want = _np_pagerank(EDGES, n_iter=5)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)
    # mass conservation: dangling redistribution keeps Σr = 1 exactly
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_parallel_edges_count_twice(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")],
        ["src", "dst"])
    got = {r.node: r["rank"] for r in pagerank(df, n_iter=3).collect()}
    want = _np_pagerank(
        [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")], 3)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)
    assert got["b"] > got["c"]  # 2/3 of a's mass vs 1/3


def test_pagerank_rejects_zero_iters(edges_df):
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(edges_df, n_iter=0)


def test_degree_census(spark, edges_df):
    got = {r.node: (r.out_degree, r.in_degree)
           for r in degree_census(edges_df).collect()}
    assert got == {"a": (2, 1), "b": (1, 1), "c": (2, 3),
                   "d": (1, 0), "e": (0, 1)}


def test_pagerank_fuzz_random_graph(spark):
    """Seeded random digraph (multi-edges, dangling sinks, self-loop-free)
    must track the numpy power iteration to 1e-12 and conserve mass."""
    import numpy as np

    rng = np.random.default_rng(11)
    n_nodes = 30
    edges = []
    for _ in range(120):
        u, v = rng.integers(0, n_nodes, size=2)
        if u != v and u < 24:  # nodes 24..29 stay dangling
            edges.append((f"n{u}", f"n{v}"))
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r["rank"] for r in pagerank(df, n_iter=6).collect()}
    want = _np_pagerank(edges, n_iter=6)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def _np_ppr(edges, seeds, n_iter, d=0.85):
    import numpy as np

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outd = np.zeros(n)
    for u, _ in edges:
        outd[idx[u]] += 1
    tv = np.zeros(n)
    tot = sum(seeds.values())
    for k, w in seeds.items():
        if k in idx:
            tv[idx[k]] = w / tot
    r = tv.copy()
    for _ in range(n_iter):
        dang = r[outd == 0].sum()
        new = (1.0 - d) * tv + d * dang * tv
        for u, v in edges:
            new[idx[v]] += d * r[idx[u]] / outd[idx[u]]
        r = new
    return {nodes[i]: r[i] for i in range(n)}


def test_personalized_pagerank_trustrank(spark, edges_df):
    seeds = {"a": 2.0, "d": 1.0}
    tele = spark.createDataFrame(list(seeds.items()), ["node", "w"])
    got = {r.node: r["rank"] for r in pagerank(
        edges_df, n_iter=4, teleport=tele).collect()}
    want = _np_ppr(EDGES, seeds, n_iter=4)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k
    # mass conserved on the seed-biased walk too
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
    # seed-distance decay: the seed 'a' outranks the sink 'e'
    assert got["a"] > got["e"]


def test_personalized_pagerank_unreachable_gets_zero(spark):
    df = spark.createDataFrame(
        [("s", "x"), ("island1", "island2")], ["src", "dst"])
    tele = spark.createDataFrame([("s", 1.0)], ["node", "w"])
    got = {r.node: r["rank"] for r in pagerank(
        df, n_iter=3, teleport=tele).collect()}
    assert got["island1"] == 0.0 and got["island2"] == 0.0
    assert got["s"] > 0 and got["x"] > 0


def test_uniform_path_unchanged_by_teleport_param(spark, edges_df):
    a = {r.node: r["rank"] for r in pagerank(edges_df, n_iter=3).collect()}
    b = _np_pagerank(EDGES, n_iter=3)
    for k in b:
        assert a[k] == pytest.approx(b[k], rel=1e-12)


def test_personalized_pagerank_rejects_zero_mass(spark, edges_df):
    tele = spark.createDataFrame([("a", 0.0), ("d", 0.0)], ["node", "w"])
    with pytest.raises(Exception, match="positive"):
        pagerank(edges_df, n_iter=1, teleport=tele).collect()


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------

from pyradiomics_spark.operators.graph import triangle_count  # noqa: E402


def _np_triangles(edges):
    import itertools

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    per = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if ({(a, b), (a, c), (b, c)} <= und):
            per[a] += 1
            per[b] += 1
            per[c] += 1
    return per


def test_triangle_count_small(spark):
    # triangle a-b-c plus a pendant d and an isolated-ish edge e-f
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "f")]
    got = {r.node: r.triangles for r in
           triangle_count(spark.createDataFrame(edges, ["src", "dst"])).collect()}
    assert got == {"a": 1, "b": 1, "c": 1, "d": 0, "e": 0, "f": 0}


def test_triangle_count_ignores_direction_loops_and_parallels(spark):
    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"),
             ("a", "a"), ("a", "b")]
    got = {r.node: r.triangles for r in
           triangle_count(spark.createDataFrame(edges, ["src", "dst"])).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_count_k4(spark):
    import itertools

    edges = list(itertools.combinations("abcd", 2))
    got = {r.node: r.triangles for r in
           triangle_count(spark.createDataFrame(edges, ["src", "dst"])).collect()}
    # K4: every node is in C(3,2)=3 triangles
    assert got == {n: 3 for n in "abcd"}


def test_triangle_count_fuzz_random_graph(spark):
    import random

    rnd = random.Random(7)
    nodes = [f"n{i}" for i in range(30)]
    edges = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(160)]
    got = {r.node: r.triangles for r in
           triangle_count(spark.createDataFrame(edges, ["src", "dst"])).collect()}
    want = _np_triangles(edges)
    assert got == want


# ---------------------------------------------------------------------------
# kcore_peel
# ---------------------------------------------------------------------------

from pyradiomics_spark.operators.graph import kcore_peel  # noqa: E402


def _np_kcore_rounds(edges, k, rounds):
    e = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    for _ in range(rounds):
        deg = {}
        for a, b in e:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        e = {(a, b) for a, b in e if a in keep and b in keep}
    deg = {}
    for a, b in e:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return deg


def test_kcore_clique_survives_pendants_peel(spark):
    import itertools

    clique = list(itertools.combinations("abcd", 2))   # K4: 3-core
    pendants = [("a", "p1"), ("p1", "p2"), ("b", "p3")]
    df = spark.createDataFrame(clique + pendants, ["src", "dst"])
    got = {r.node: r.degree for r in kcore_peel(df, k=3, n_rounds=3).collect()}
    assert got == {n: 3 for n in "abcd"}


def test_kcore_fuzz_matches_python(spark):
    import random

    rnd = random.Random(17)
    nodes = [f"n{i}" for i in range(25)]
    edges = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(120)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for k, rounds in ((2, 1), (3, 2), (4, 3)):
        got = {r.node: r.degree
               for r in kcore_peel(df, k=k, n_rounds=rounds).collect()}
        assert got == _np_kcore_rounds(edges, k, rounds)


def test_kcore_rejects_bad_params(spark):
    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError):
        kcore_peel(df, k=0, n_rounds=1)
    with pytest.raises(ValueError):
        kcore_peel(df, k=2, n_rounds=0)


# ---------------------------------------------------------------------------
# weighted pagerank + textrank
# ---------------------------------------------------------------------------

def _np_weighted_pagerank(wedges, n_iter, d=0.85):
    nodes = sorted({u for u, _, _ in wedges} | {v for _, v, _ in wedges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    wout = np.zeros(n)
    for u, _, w in wedges:
        wout[idx[u]] += w
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dang = r[wout == 0].sum()
        new = np.full(n, (1.0 - d) / n + d * dang / n)
        for u, v, w in wedges:
            new[idx[v]] += d * r[idx[u]] * w / wout[idx[u]]
        r = new
    return {nodes[i]: r[i] for i in range(n)}


def test_weighted_pagerank_matches_numpy(spark):
    wedges = [("a", "b", 3.0), ("b", "c", 1.0), ("c", "a", 2.0),
              ("a", "c", 1.0), ("d", "a", 5.0)]
    df = spark.createDataFrame(wedges, ["src", "dst", "w"])
    got = {r.node: r["rank"]
           for r in pagerank(df, n_iter=4, weight_col="w").collect()}
    want = _np_weighted_pagerank(wedges, n_iter=4)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_weighted_pagerank_unit_weights_equal_unweighted(spark, edges_df):
    uw = {r.node: r["rank"] for r in pagerank(edges_df, n_iter=3).collect()}
    from pyspark.sql import functions as F

    w = {r.node: r["rank"] for r in pagerank(
        edges_df.withColumn("w", F.lit(1.0)), n_iter=3,
        weight_col="w").collect()}
    for k in uw:
        assert w[k] == pytest.approx(uw[k], rel=1e-12)


def test_textrank_keywords_matches_numpy(spark):
    from pyradiomics_spark.functions.textstats import textrank_keywords

    texts = ["spark runs fast queries fast",
             "fast queries need fast plans",
             "spark plans fast spark queries"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {r.token: r["rank"] for r in
           textrank_keywords(df, min_count=1, n_iter=3).collect()}
    # reference: bigram census -> symmetric weighted graph -> pagerank
    from collections import Counter

    big = Counter()
    for t in texts:
        ws = t.split()
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] += 1
    wedges = []
    for (a, b), n in big.items():
        if a != b:
            wedges.append((a, b, float(n)))
            wedges.append((b, a, float(n)))
    want = _np_weighted_pagerank(wedges, n_iter=3)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)
    # the hub token co-occurring with everything ranks first
    top = max(got, key=got.get)
    assert top == "fast"


# ---------------------------------------------------------------------------
# degree_assortativity
# ---------------------------------------------------------------------------

def test_assortativity_matches_numpy(spark):
    import random

    from pyradiomics_spark.operators.graph import degree_assortativity

    rnd = random.Random(31)
    nodes = [f"n{i}" for i in range(20)]
    edges = list({tuple(sorted((rnd.choice(nodes), rnd.choice(nodes))))
                  for _ in range(60)})
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = degree_assortativity(df).collect()[0]
    # numpy reference over the symmetrized edge list
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    want = np.corrcoef(xs, ys)[0, 1]
    assert got.n_edges == len(edges)
    assert got.r == pytest.approx(want, rel=1e-12)


def test_assortativity_star_is_negative_clique_null(spark):
    from pyradiomics_spark.operators.graph import degree_assortativity

    star = [("hub", f"leaf{i}") for i in range(6)]
    r = degree_assortativity(
        spark.createDataFrame(star, ["src", "dst"])).collect()[0].r
    assert r < -0.99  # pure star: perfectly disassortative
    import itertools

    k4 = list(itertools.combinations("abcd", 2))
    rk = degree_assortativity(
        spark.createDataFrame(k4, ["src", "dst"])).collect()[0].r
    assert rk is None  # regular graph: zero degree variance → gated NULL


# ---------------------------------------------------------------------------
# clustering_coefficient
# ---------------------------------------------------------------------------

def test_clustering_coefficient_fuzz(spark):
    import random

    from pyradiomics_spark.operators.graph import clustering_coefficient

    rnd = random.Random(37)
    nodes = [f"n{i}" for i in range(22)]
    edges = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(90)]
    got = {r.node: (r.degree, r.triangles, r.coeff)
           for r in clustering_coefficient(
               spark.createDataFrame(edges, ["src", "dst"])).collect()}
    tri = _np_triangles(edges)
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for n, d in deg.items():
        gd, gt, gc = got[n]
        assert gd == d and gt == tri[n]
        if d >= 2:
            assert gc == pytest.approx(2.0 * tri[n] / (d * (d - 1)),
                                       rel=1e-15)
        else:
            assert gc is None


def test_clustering_coefficient_extremes(spark):
    import itertools

    from pyradiomics_spark.operators.graph import clustering_coefficient

    k4 = list(itertools.combinations("abcd", 2))
    star = [("hub", f"l{i}") for i in range(5)]
    out = {r.node: r.coeff for r in clustering_coefficient(
        spark.createDataFrame(k4 + star, ["src", "dst"])).collect()}
    for n in "bcd":
        assert out[n] == pytest.approx(1.0)   # clique members
    assert out["hub"] is None or out["hub"] == pytest.approx(0.0)
    assert out["l0"] is None                  # degree-1 leaf gated NULL


def _np_hits(edges, n_iter):
    import numpy as np

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    h = np.full(n, 1.0 / n)
    a = np.zeros(n)
    for _ in range(n_iter):
        a = np.zeros(n)
        for u, v in edges:
            a[idx[v]] += h[idx[u]]
        a = a / a.sum()
        h = np.zeros(n)
        for u, v in edges:
            h[idx[u]] += a[idx[v]]
        h = h / h.sum()
    return ({nodes[i]: h[i] for i in range(n)},
            {nodes[i]: a[i] for i in range(n)})


def test_hits_matches_numpy(spark, edges_df):
    from pyradiomics_spark.operators.graph import hits

    rows = hits(edges_df, n_iter=3).collect()
    got_h = {r.node: r.hub for r in rows}
    got_a = {r.node: r.auth for r in rows}
    want_h, want_a = _np_hits(EDGES, 3)
    assert set(got_h) == set(want_h)
    for k in want_h:
        assert got_h[k] == pytest.approx(want_h[k], rel=1e-12, abs=1e-15)
        assert got_a[k] == pytest.approx(want_a[k], rel=1e-12, abs=1e-15)
    # L1 normalization holds exactly on both vectors
    assert sum(got_h.values()) == pytest.approx(1.0, abs=1e-12)
    assert sum(got_a.values()) == pytest.approx(1.0, abs=1e-12)
    # e has no out-edges -> hub exactly 0; d has no in-edges -> auth 0
    assert got_h["e"] == 0.0
    assert got_a["d"] == 0.0


def test_hits_directory_vs_source(spark):
    """A pure directory (links to everything, never linked) must be the
    top hub with zero authority; the page everyone points at the top
    authority."""
    from pyradiomics_spark.operators.graph import hits

    edges = [("dir", "p1"), ("dir", "p2"), ("dir", "p3"),
             ("p1", "p2"), ("p3", "p2")]
    rows = hits(spark.createDataFrame(edges, ["src", "dst"]),
                n_iter=4).collect()
    h = {r.node: r.hub for r in rows}
    a = {r.node: r.auth for r in rows}
    assert max(h, key=h.get) == "dir" and a["dir"] == 0.0
    assert max(a, key=a.get) == "p2"


def test_hits_rejects_zero_iters(edges_df):
    from pyradiomics_spark.operators.graph import hits

    with pytest.raises(ValueError):
        hits(edges_df, n_iter=0)


def _py_lpa(edges, n_iter):
    """Synchronous deterministic LPA: most frequent neighbor label,
    ties -> smallest label, self-label excluded from the vote."""
    from collections import Counter

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    lab = {n: n for n in nbrs}
    for _ in range(n_iter):
        new = {}
        for n in nbrs:
            c = Counter(lab[m] for m in nbrs[n])
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
            new[n] = best[0]
        lab = new
    return lab


def test_lpa_matches_reference(spark):
    from pyradiomics_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge: LPA keeps them apart
    edges = [("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for n_iter in (1, 2, 3, 4):
        got = {r.node: r.label
               for r in label_propagation(df, n_iter=n_iter).collect()}
        assert got == _py_lpa(edges, n_iter)
    got = {r.node: r.label
           for r in label_propagation(df, n_iter=4).collect()}
    # the two triangles converge to single (distinct) community labels
    # despite the bridge edge
    assert len({got[n] for n in "abc"}) == 1
    assert len({got[n] for n in "xyz"}) == 1
    assert got["a"] != got["x"]


def test_lpa_fuzz_random_graph(spark):
    import numpy as np

    from pyradiomics_spark.operators.graph import label_propagation

    rng = np.random.default_rng(7)
    edges = []
    for _ in range(80):
        u, v = rng.integers(0, 25, size=2)
        if u != v:
            edges.append((f"n{u:02d}", f"n{v:02d}"))
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.label
           for r in label_propagation(df, n_iter=3).collect()}
    assert got == _py_lpa(edges, 3)


def test_lpa_ignores_direction_and_duplicates(spark):
    from pyradiomics_spark.operators.graph import label_propagation

    a = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c")], ["src", "dst"])
    b = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    ga = {r.node: r.label for r in label_propagation(a, n_iter=2).collect()}
    gb = {r.node: r.label for r in label_propagation(b, n_iter=2).collect()}
    assert ga == gb


def _py_modularity(edges, labels):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    m = len(und)
    from collections import defaultdict

    ec = defaultdict(int)
    dc = defaultdict(int)
    for a, b in und:
        la, lb = labels.get(a), labels.get(b)
        if la == lb:
            ec[la] += 1
        dc[la] += 1
        dc[lb] += 1
    return sum(ec.get(l, 0) / m - (d / (2 * m)) ** 2
               for l, d in dc.items())


def test_modularity_matches_python(spark):
    from pyradiomics_spark.operators.graph import modularity

    edges = [("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x"),
             ("b", "a")]  # duplicate direction collapses
    labels = {"a": "L1", "b": "L1", "c": "L1",
              "x": "L2", "y": "L2", "z": "L2"}
    edf = spark.createDataFrame(edges, ["src", "dst"])
    ldf = spark.createDataFrame(list(labels.items()), ["node", "label"])
    row = modularity(edf, ldf).collect()[0]
    assert row.n_edges == 7 and row.n_communities == 2
    assert row.q == pytest.approx(_py_modularity(edges, labels),
                                  rel=1e-12)
    # two clean triangles with one bridge: strongly positive Q
    assert row.q > 0.3


def test_modularity_single_community_is_zero(spark):
    from pyradiomics_spark.operators.graph import modularity

    edges = [("a", "b"), ("b", "c")]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    ldf = spark.createDataFrame([("a", "L"), ("b", "L"), ("c", "L")],
                                ["node", "label"])
    # all mass in one community: e_c/m = 1, (d_c/2m)^2 = 1 -> Q = 0
    assert modularity(edf, ldf).collect()[0].q == pytest.approx(0.0,
                                                                abs=1e-15)


def test_modularity_lpa_beats_random_assignment(spark):
    from pyradiomics_spark.operators.graph import (label_propagation,
                                                   modularity)

    edges = ([(f"a{i}", f"a{j}") for i in range(5) for j in range(i)]
             + [(f"b{i}", f"b{j}") for i in range(5) for j in range(i)]
             + [("a0", "b0")])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    lpa_q = modularity(edf, label_propagation(edf, n_iter=3)).collect()[0].q
    # everything-in-one-bucket baseline
    nodes = sorted({u for e in edges for u in e})
    one = spark.createDataFrame([(n, "L") for n in nodes],
                                ["node", "label"])
    base_q = modularity(edf, one).collect()[0].q
    assert lpa_q > 0.3 > base_q


def test_reciprocity_counts(spark):
    from pyradiomics_spark.operators.graph import reciprocity

    edges = [("a", "b"), ("b", "a"),      # reciprocated pair
             ("a", "c"),                   # one-way
             ("c", "d"), ("d", "c"),       # reciprocated pair
             ("d", "d"),                   # self-loop dropped
             ("a", "b")]                   # duplicate collapses
    row = reciprocity(
        spark.createDataFrame(edges, ["src", "dst"])).collect()[0]
    assert (row.n_directed, row.n_reciprocated) == (5, 4)
    assert row.reciprocity == pytest.approx(0.8)


def test_reciprocity_none_and_all(spark):
    from pyradiomics_spark.operators.graph import reciprocity

    one_way = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["src", "dst"])
    assert reciprocity(one_way).collect()[0].reciprocity == 0.0
    ring = spark.createDataFrame(
        [("a", "b"), ("b", "a")], ["src", "dst"])
    assert ring.count() == 2
    assert reciprocity(ring).collect()[0].reciprocity == 1.0


def test_hits_fuzz_random_graph(spark):
    """Seeded random digraph (multi-edges, sinks, sources) must track
    the numpy iteration to 1e-12 on both vectors."""
    import numpy as np

    from pyradiomics_spark.operators.graph import hits

    rng = np.random.default_rng(23)
    edges = []
    for _ in range(150):
        u, v = rng.integers(0, 28, size=2)
        if u != v and u < 22:          # 22..27 are pure sinks
            edges.append((f"n{u}", f"n{v}"))
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = hits(df, n_iter=4).collect()
    want_h, want_a = _np_hits(edges, 4)
    assert {r.node for r in rows} == set(want_h)
    for r in rows:
        assert r.hub == pytest.approx(want_h[r.node], rel=1e-12,
                                      abs=1e-15)
        assert r.auth == pytest.approx(want_a[r.node], rel=1e-12,
                                       abs=1e-15)
