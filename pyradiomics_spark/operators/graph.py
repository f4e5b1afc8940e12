"""Link-graph analytics over the crawl's host graph — PageRank power
iteration and degree census, the signals CommonCrawl-scale curation uses
for source-level quality weighting (OPT/CCNet keep-probabilities, seed-set
expansion, spam-host downweighting).

Reference scope note: pyradiomics has no graph stage (its unit of work is
one image); this module exists for the LLM-training-pipeline surface —
host authority is a standard quality prior for web corpora (Brin & Page
1998; used as a curation feature in e.g. RefinedWeb appendix filters).

Scale shape (per iteration): ONE equi-join of the rank vector onto the
edge list keyed on ``src`` followed by ONE groupBy ``dst`` sum — both
shuffles are on the same keys every round, so a cluster run that
pre-partitions ``edges`` by ``src`` (or bucket-writes it) reuses the
exchange across all iterations. Dangling mass is a single-row aggregate
broadcast back via crossJoin — never a driver collect. Each round
checkpoints the rank vector: iterative DataFrame lineage otherwise grows
O(iterations) and re-executes history at every action. Superseded rounds
are released, so a call keeps only the blocks its output reads (same
discipline as components.connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyradiomics_spark.session import checkpoint, release


def degree_census(edges: DataFrame, src: str = "src",
                  dst: str = "dst") -> DataFrame:
    """(node, out_degree, in_degree) for every node appearing in the edge
    list — two map-side-combined groupBys and one full-outer join on the
    |nodes|-row aggregates (never corpus-row)."""
    outd = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("out_degree"))
    ind = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count("*").alias("in_degree"))
    return (outd.join(ind, "node", "full_outer")
            .fillna(0, ["out_degree", "in_degree"]))


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    rank_col: str = "rank",
    teleport: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous power-iteration steps of
    PageRank with uniform teleport and dangling-mass redistribution:

        r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)/outdeg(u) + dangling/N )

    where ``dangling = Σ r(u)`` over nodes with no out-edges — dropping it
    (the common shortcut) leaks mass every round and the vector no longer
    sums to 1, which breaks rank comparability across crawls. Parallel
    edges are honored as-is (a host linking twice contributes twice);
    dedup upstream if simple-graph semantics are wanted. Ranks start
    uniform at 1/N over the nodes present in ``edges``.

    Deterministic: every step is sums of the same addends regrouped by
    key; the float result is invariant to partitioning only up to
    addition order, so ranks are exact-reproducible at fixed partitioning
    and 1-ulp-stable otherwise — the oracle twin replays the identical
    iteration count.

    ``teleport`` personalizes the walk (TrustRank, Gyöngyi et al. 2004 —
    the seed-biased anti-spam variant; topic-sensitive PageRank is the
    same math): a (node, weight) DataFrame, normalized internally to sum
    to 1; teleport AND dangling mass then land on the seed distribution
    instead of uniformly, so rank decays with link distance from the
    trusted seeds and unreachable spam farms get exactly 0. Nodes absent
    from ``teleport`` get weight 0; the start vector is the normalized
    teleport itself. With ``teleport=None`` the uniform expressions are
    unchanged (bit-identical to the unpersonalized form)."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    # weight_col generalizes to WEIGHTED PageRank (TextRank etc.): out-
    # "degree" becomes the weight sum and each edge contributes
    # share·w. With weight_col=None every expression below is literally
    # the unweighted form — the existing gates stay bit-identical.
    wcols = [F.col(weight_col).cast("double").alias("__w")] if weight_col \
        else []
    # the edge list is probed once per round — materialize it once
    # instead of re-deriving its lineage (often a corpus scan + hashing)
    # every iteration
    e = checkpoint(edges.select(F.col(src).alias("__s"),
                                F.col(dst).alias("__d"), *wcols))
    nodes = (e.select(F.col("__s").alias("node"))
             .unionByName(e.select(F.col("__d").alias("node")))
             .distinct())
    outd = e.groupBy(F.col("__s").alias("node")).agg(
        (F.sum("__w") if weight_col else F.count("*")).alias("__outd"))
    # static per-node state: (node, outdeg or null [, teleport weight]);
    # reused every round
    base = nodes.join(outd, "node", "left")
    if teleport is not None:
        tw = teleport.select(
            F.col(teleport.columns[0]).alias("node"),
            F.col(teleport.columns[1]).cast("double").alias("__w"))
        # a zero/negative/null total would silently null every rank —
        # fail loudly at run time instead (plan-time can't see the data)
        tsum = F.broadcast(tw.agg(
            F.when(F.sum("__w") > 0, F.sum("__w")).otherwise(
                F.raise_error(F.lit(
                    "teleport weights must sum to a positive value")))
            .alias("__ws")))
        base = (base.join(tw, "node", "left")
                .crossJoin(tsum)
                .select("node", "__outd",
                        (F.coalesce(F.col("__w"), F.lit(0.0))
                         / F.col("__ws")).alias("__tv")))
    base = checkpoint(base)
    n_total = base.agg(F.count("*").alias("__n"))
    d = float(damping)

    if teleport is None:
        rank = base.crossJoin(F.broadcast(n_total)).select(
            "node", "__outd", (F.lit(1.0) / F.col("__n")).alias(rank_col))
    else:
        rank = base.select("node", "__outd",
                           F.col("__tv").alias(rank_col))
    for _ in range(n_iter):
        # scalar row: dangling mass this round + N (broadcast, no collect)
        scal = rank.agg(
            F.sum(F.when(F.col("__outd").isNull(),
                         F.col(rank_col)).otherwise(0.0)).alias("__dang"),
            F.count("*").alias("__n"))
        contrib = (
            e.join(rank.where(F.col("__outd").isNotNull())
                   .select(F.col("node").alias("__s"),
                           (F.col(rank_col) / F.col("__outd"))
                           .alias("__share")),
                   "__s")
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum(F.col("__share") * F.col("__w") if weight_col
                       else F.col("__share")).alias("__in")))
        if teleport is None:
            new_rank = (F.lit((1.0 - d)) / F.col("__n")
                        + F.lit(d) * (F.coalesce(F.col("__in"), F.lit(0.0))
                                      + F.col("__dang") / F.col("__n")))
        else:
            new_rank = (F.lit(1.0 - d) * F.col("__tv")
                        + F.lit(d) * (F.coalesce(F.col("__in"), F.lit(0.0))
                                      + F.col("__dang") * F.col("__tv")))
        keep = ["node", "__outd"] + (["__tv"] if teleport is not None
                                     else [])
        prev, rank = rank, checkpoint(
            base.join(contrib, "node", "left")
            .crossJoin(F.broadcast(scal))
            .select(*keep, new_rank.alias(rank_col)))
        release(prev)
    release(e)
    release(base)
    return rank.select("node", rank_col)


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, triangles) — per-node triangle participation counts over the
    UNDIRECTED simple graph induced by the edge list (direction, parallel
    edges, and self-loops are collapsed/dropped first). Triangle density is
    a standard link-spam signal for web corpora: farms are near-cliques,
    organic host neighborhoods are sparse (Becchetti et al., KDD'08 use
    exactly this count for spam-host demotion).

    Scale shape — degree-ordered orientation (Schank & Wagner '05; the
    MapReduce form is Suri & Vassilvitskii WWW'11): every undirected edge
    is oriented from its (degree, node)-smaller endpoint to the larger, so
    each node's oriented out-degree is O(√m) and the wedge self-join does
    O(Σ outdeg²) = O(m^1.5) work TOTAL — never the naive Σ deg² that a
    hot host (degree 10⁷ at crawl scale) would turn into 10¹⁴ pairs. The
    plan is: one distinct on canonicalized edges, one degree groupBy, the
    wedge equi-join keyed on the wedge apex, and the closing-edge
    equi-join on (v1, v2) — all hash-partitioned equi-joins (no broadcast
    needed at any scale; AQE may still choose one for small inputs).
    Each triangle {a,b,c} is emitted exactly once (its orientation is a
    DAG, so exactly one wedge (u→v1, u→v2) has the closing edge v1→v2),
    then unioned out to all three corners for the per-node census."""
    # undirected simple graph: canonical (a<b) pairs, loops dropped
    e = (edges
         .select(F.least(F.col(src), F.col(dst)).alias("a"),
                 F.greatest(F.col(src), F.col(dst)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct())
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    # orient a→b iff (deg_a, a) < (deg_b, b); a < b already, so the tie
    # case keeps a→b — the orientation is a total order, hence acyclic
    ab = (e.join(deg.select(F.col("node").alias("a"),
                            F.col("deg").alias("__da")), "a")
          .join(deg.select(F.col("node").alias("b"),
                           F.col("deg").alias("__db")), "b"))
    fwd = F.col("__da") < F.col("__db")
    tie = (F.col("__da") == F.col("__db"))  # then a < b decides
    oe = ab.select(
        F.when(fwd | tie, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd | tie, F.col("b")).otherwise(F.col("a")).alias("v"))
    # wedges at apex u (the low-order endpoint), closed by an oriented
    # v1→v2 edge; v1 != v2 generates each unordered wedge in both orders
    # and exactly one order matches the (single) closing edge's direction
    x = oe.select(F.col("u"), F.col("v").alias("v1"))
    y = oe.select(F.col("u"), F.col("v").alias("v2"))
    tri = (x.join(y, "u")
           .where(F.col("v1") != F.col("v2"))
           .join(oe.select(F.col("u").alias("v1"),
                           F.col("v").alias("v2")), ["v1", "v2"]))
    per = (tri.select(F.col("u").alias("node"))
           .unionAll(tri.select(F.col("v1").alias("node")))
           .unionAll(tri.select(F.col("v2").alias("node")))
           .groupBy("node").agg(F.count("*").alias("triangles")))
    return (deg.select("node").join(per, "node", "left")
            .select("node", F.coalesce(F.col("triangles"), F.lit(0))
                    .cast("long").alias("triangles")))


def kcore_peel(
    edges: DataFrame,
    k: int,
    n_rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, degree) after ``n_rounds`` of k-core peeling on the
    undirected simple graph: each round removes every node whose current
    degree is < k (and the edges touching it), the standard iterative
    refinement whose fixed point is the k-core (Seidman '83; Batagelj &
    Zaveršnik '03). Bounded-round form: at crawl scale one runs a fixed
    number of peels per cadence (each round strictly shrinks the graph,
    and the survivors-after-r-rounds are already a sound upper bound on
    the core). Link-spam use: dense farms survive aggressive peeling
    long after organic neighborhoods dissolve — k-core depth is a
    classic spam-mass feature alongside `triangle_count`.

    Scale shape per round: ONE degree groupBy + TWO semi-joins of the
    edge list onto the |survivors|-row degree table, keyed on the same
    endpoints every round (a cluster run pre-partitioned by endpoint
    reuses its exchange). A checkpoint per round caps the iterative
    lineage exactly like pagerank/connected_components."""
    if k < 1 or n_rounds < 1:
        raise ValueError("k and n_rounds must be >= 1")
    # round 0 probes the canonical edge list three times (degree census
    # + both semi-joins) — materialize it once first
    e = checkpoint(edges
                   .select(F.least(F.col(src), F.col(dst)).alias("a"),
                           F.greatest(F.col(src), F.col(dst)).alias("b"))
                   .where(F.col("a") != F.col("b"))
                   .distinct())
    for _ in range(n_rounds):
        deg = (e.select(F.col("a").alias("node"))
               .unionAll(e.select(F.col("b").alias("node")))
               .groupBy("node").agg(F.count("*").alias("deg")))
        keep = deg.where(F.col("deg") >= k).select("node")
        prev, e = e, checkpoint(
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi"))
        release(prev)
    return (e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count("*").alias("degree")))


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One-row (n_edges, r): the degree assortativity coefficient
    (Newman, PRL 2002) of the undirected simple graph — the Pearson
    correlation of endpoint degrees over the symmetrized edge list.
    Web graphs are famously DISassortative (hubs link to leaves,
    r < 0); link farms wire hub-to-hub and push r up, which makes this
    the cheapest whole-graph spam barometer next to triangle_count /
    kcore_peel's local ones.

    Scale shape: canonical distinct + ONE degree groupBy + two
    |edges|⨝|nodes| equi-joins to attach endpoint degrees + ONE
    five-sum aggregate — every float in the output flows through a
    fixed op tree over exact integer degree sums, so an oracle replays
    it bit-for-bit. NULL r for degenerate graphs (no edges / zero
    variance)."""
    e = (edges
         .select(F.least(F.col(src), F.col(dst)).alias("a"),
                 F.greatest(F.col(src), F.col(dst)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct())
    both = e.unionAll(e.select(F.col("b").alias("a"),
                               F.col("a").alias("b")))
    deg = both.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("deg"))
    j = (both
         .join(deg.select(F.col("node").alias("a"),
                          F.col("deg").alias("__x")), "a")
         .join(deg.select(F.col("node").alias("b"),
                          F.col("deg").alias("__y")), "b"))
    x = F.col("__x").cast("double")
    y = F.col("__y").cast("double")
    g = j.agg(F.count("*").alias("m"),
              F.sum(x).alias("sx"), F.sum(y).alias("sy"),
              F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
              F.sum(x * y).alias("sxy"))
    m = F.col("m").cast("double")
    cov = F.col("sxy") - (F.col("sx") * F.col("sy")) / m
    vx = F.col("sxx") - (F.col("sx") * F.col("sx")) / m
    vy = F.col("syy") - (F.col("sy") * F.col("sy")) / m
    r = F.when((F.col("m") >= 2) & (vx > 0) & (vy > 0),
               cov / F.sqrt(vx * vy))
    return g.select(
        (F.col("m") / 2).cast("long").alias("n_edges"), r.alias("r"))


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, degree, triangles, coeff) — the local clustering
    coefficient 2·T(v) / (deg(v)·(deg(v)−1)) over the undirected simple
    graph (Watts & Strogatz '98), NULL for degree < 2. Completes the
    local density triple with `triangle_count` (its numerator) and
    `kcore_peel`: spam farms read near 1.0, organic hub neighborhoods
    near 0.

    Scale shape: the O(m^1.5) oriented triangle census (see
    triangle_count) plus one degree groupBy and a |nodes|-row join —
    the coefficient itself is scalar arithmetic on exact integers
    through one fixed op tree."""
    e = (edges
         .select(F.least(F.col(src), F.col(dst)).alias("a"),
                 F.greatest(F.col(src), F.col(dst)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct())
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("degree")))
    tri = triangle_count(edges, src=src, dst=dst)
    j = deg.join(tri, "node")
    d = F.col("degree").cast("double")
    t = F.col("triangles").cast("double")
    coeff = F.when(F.col("degree") >= 2,
                   (2.0 * t) / (d * (d - 1.0)))
    return j.select("node", "degree", "triangles", coeff.alias("coeff"))


def hits(
    edges: DataFrame,
    n_iter: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, hub, auth) after ``n_iter`` synchronous rounds of
    Kleinberg's HITS (JACM '99) over the directed edge list — the
    hub/authority split PageRank flattens: a link directory is a hub
    (points at good authorities), a canonical source is an authority
    (pointed at by good hubs). For crawl curation the AUTHORITY score is
    the quality prior and a high hub/auth ratio flags link farms.

        a'(v) = Σ_{u→v} h(u)        then L1-normalize a'
        h'(u) = Σ_{u→v} a'(v)       then L1-normalize h'

    L1 normalization (not Kleinberg's L2) keeps every output a fixed
    IEEE op tree over regrouped sums — same determinism contract as
    `pagerank` (exact at fixed partitioning, 1-ulp-stable otherwise);
    the ranking it induces is identical to the L2-normalized one since
    normalization is a positive scalar. Parallel edges are honored
    as-is (dedup upstream for simple-graph semantics). Hubs start
    uniform at 1/N over the nodes present in ``edges``; a node with no
    in-edges has auth exactly 0, no out-edges hub exactly 0.

    Scale shape per round: TWO equi-joins of the |nodes|-row score
    vector onto the edge list (keyed on ``src`` then ``dst``) and TWO
    map-side-combined groupBys on the same keys — a cluster run that
    bucket-writes ``edges`` by either endpoint reuses its exchange
    every round. Normalizers are single-row aggregates broadcast back
    via crossJoin (no driver collect); a checkpoint per round caps
    iterative lineage exactly like `pagerank`."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    # probed twice per round (hub pass + auth pass) — materialize once
    # instead of re-deriving the edge lineage each time
    e = checkpoint(edges.select(F.col(src).alias("__s"),
                                F.col(dst).alias("__d")))
    nodes = checkpoint(e.select(F.col("__s").alias("node"))
                       .unionByName(e.select(F.col("__d").alias("node")))
                       .distinct())
    n_total = nodes.agg(F.count("*").alias("__n"))
    hub = nodes.crossJoin(F.broadcast(n_total)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("hub"))

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        tot = scores.agg(F.sum(col).alias("__t"))
        return (scores.crossJoin(F.broadcast(tot))
                .select("node", (F.col(col) / F.col("__t")).alias(col)))

    auth, prev = None, hub
    for _ in range(n_iter):
        a_raw = (e.join(hub.select(F.col("node").alias("__s"), "hub"),
                        "__s")
                 .groupBy(F.col("__d").alias("node"))
                 .agg(F.sum("hub").alias("auth")))
        auth = _norm(
            nodes.join(a_raw, "node", "left")
            .select("node", F.coalesce(F.col("auth"), F.lit(0.0))
                    .alias("auth")), "auth")
        h_raw = (e.join(auth.select(F.col("node").alias("__d"), "auth"),
                        "__d")
                 .groupBy(F.col("__s").alias("node"))
                 .agg(F.sum("auth").alias("hub")))
        # only the hub drives the recursion — auth's lineage is one
        # join+groupBy past the previous hub checkpoint, so materializing
        # it too would double the per-round I/O for nothing (the final
        # auth, read at the output join, keeps only the previous hub)
        release(prev)
        prev, hub = hub, checkpoint(_norm(
            nodes.join(h_raw, "node", "left")
            .select("node", F.coalesce(F.col("hub"), F.lit(0.0))
                    .alias("hub")), "hub"))
    return hub.join(auth, "node").select("node", "hub", "auth")


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, label) after ``n_iter`` SYNCHRONOUS rounds of deterministic
    label propagation (Raghavan et al., PRE 2007) over the undirected
    simple graph: every node adopts the most frequent label among its
    neighbors, ties broken by the smallest label. Communities over the
    host graph group mirror/boilerplate families that exact URL dedup
    misses; unlike `connected_components` (which merges anything
    touching) LPA keeps weakly-bridged clusters apart, so it is the
    right granularity for per-community quality weighting.

    Deterministic by construction — integer counts, string min — so a
    SQL twin replaying the same rounds is bit-exact. Labels start as
    the node's own id; classic LPA excludes the self-label from the
    vote (a node's label flips whenever any neighbor label outvotes it),
    and synchronous updates may 2-cycle on bipartite structures — run a
    fixed even/odd ``n_iter`` per cadence and compare, as with
    `kcore_peel`'s bounded rounds.

    Scale shape per round: ONE equi-join of the |nodes|-row label vector
    onto the symmetrized edge list + ONE (node, label) census groupBy +
    ONE argmax window over census rows partitioned by node (census rows
    ≤ edge endpoints, shrinking as communities coalesce; the window
    never sees corpus-scale partitions because a node's census rows are
    bounded by its degree). Same-key shuffles reuse one exchange; a
    checkpoint per round caps lineage."""
    from pyspark.sql import Window

    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = (edges
         .select(F.least(F.col(src), F.col(dst)).alias("a"),
                 F.greatest(F.col(src), F.col(dst)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct())
    both = checkpoint(e.unionAll(e.select(F.col("b").alias("a"),
                                          F.col("a").alias("b"))))
    labels = (both.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    w = Window.partitionBy("node").orderBy(
        F.col("__n").desc(), F.col("label").asc())
    for _ in range(n_iter):
        census = (both
                  .join(labels.select(F.col("node").alias("b"), "label"),
                        "b")
                  .groupBy(F.col("a").alias("node"), "label")
                  .agg(F.count("*").alias("__n")))
        prev, labels = labels, checkpoint(
            census.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .select("node", "label"))
        release(prev)
    release(both)
    return labels


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """One row ``(n_edges, n_communities, q)`` — Newman–Girvan
    modularity (Newman & Girvan, PRE 2004) of a node→community
    assignment over the undirected simple graph:

        Q = Σ_c ( e_c/m − (d_c / 2m)² )

    with ``e_c`` = intra-community edge count, ``d_c`` = summed degree
    of the community's nodes, ``m`` = total edges. The evaluation row
    for ``label_propagation`` (exactly as ``ndcg_at_k`` evaluates
    rankings): Q ≈ 0 means the partition is no better than random
    wiring, organic host graphs cluster around 0.3–0.7, and a HIGH Q on
    a near-clique family is the link-farm signature the curation prior
    keys on. Nodes missing from ``labels`` form implicit singletons
    (their edges count toward m and their degree toward a NULL-label
    community).

    Scale shape: canonical distinct + TWO |nodes|-row label joins onto
    the edge list + degree census — every aggregate is community- or
    node-sized; Q itself is exact-integer scalar arithmetic through one
    fixed op tree (engine-exact)."""
    e = (edges
         .select(F.least(F.col(src), F.col(dst)).alias("a"),
                 F.greatest(F.col(src), F.col(dst)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct())
    lab = labels.select(F.col(node_col).alias("__n"),
                        F.col(label_col).alias("__l"))
    tagged = (e.join(lab.select(F.col("__n").alias("a"),
                                F.col("__l").alias("__la")), "a", "left")
              .join(lab.select(F.col("__n").alias("b"),
                               F.col("__l").alias("__lb")), "b", "left"))
    m = tagged.agg(F.count("*").alias("m"))
    intra = (tagged.where(F.col("__la").eqNullSafe(F.col("__lb")))
             .groupBy(F.col("__la").alias("__l"))
             .agg(F.count("*").alias("ec")))
    deg = (e.select(F.col("a").alias("__n"))
           .unionAll(e.select(F.col("b").alias("__n")))
           .join(lab, "__n", "left")
           .groupBy("__l").agg(F.count("*").alias("dc")))
    per = (deg.join(intra, "__l", "left")
           .crossJoin(F.broadcast(m)))
    md = F.col("m").cast("double")
    term = (F.coalesce(F.col("ec"), F.lit(0)).cast("double") / md
            - (F.col("dc").cast("double") / (2.0 * md))
            * (F.col("dc").cast("double") / (2.0 * md)))
    return per.agg(
        F.max("m").cast("long").alias("n_edges"),
        F.count("*").cast("long").alias("n_communities"),
        F.sum(term).alias("q"))


def reciprocity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One row ``(n_directed, n_reciprocated, reciprocity)`` — the
    fraction of distinct directed edges whose reverse edge also exists
    (self-loops excluded). Organic web linking is strongly asymmetric
    (reciprocity ≲ 0.1 between hosts); link exchanges and farm rings
    wire A↔B by construction, so a high ratio is the third whole-graph
    spam barometer next to `degree_assortativity` and `modularity`.

    Scale shape: one distinct + ONE self-equi-join on the reversed key
    pair (hash join on (src,dst) — no broadcast needed at any scale) +
    a single count aggregate; exact integer ratio."""
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .where(F.col("s") != F.col("d")).distinct())
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    rec = e.join(rev, ["s", "d"], "left_semi")
    tot = e.agg(F.count("*").alias("n_directed"))
    got = rec.agg(F.count("*").alias("n_reciprocated"))
    ratio = F.when(
        F.col("n_directed") > 0,
        F.col("n_reciprocated").cast("double")
        / F.col("n_directed").cast("double"))
    return (tot.crossJoin(F.broadcast(got))
            .select(F.col("n_directed").cast("long").alias("n_directed"),
                    F.col("n_reciprocated").cast("long")
                    .alias("n_reciprocated"),
                    ratio.alias("reciprocity")))
