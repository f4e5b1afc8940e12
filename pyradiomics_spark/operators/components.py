"""Distributed connected components over near-duplicate pair sets —
the step that turns candidate PAIRS (minhash/simhash/embedding) into dedup
CLUSTERS with one representative per cluster.

Reference scope note: pyradiomics has no graph stage (its unit of work is
one image); this operator exists for the LLM-training-pipeline surface —
transitive near-dup grouping is required for correct dedup (pairwise
"drop the larger id" keeps both endpoints of a chain a–b–c).

Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — converges in O(log² n)
rounds on any graph, each round a constant number of shuffles, no
collect_list (a high-degree node never materializes its neighbor list; the
per-node minimum is a window aggregate). This is the published web-scale
answer: hash-min label propagation needs O(diameter) rounds, which on a
10⁹-node dup graph with chain structure is unbounded.

Each round checkpoints the edge set: iterative DataFrame algorithms
otherwise stack O(rounds) of lineage, and the convergence check would
re-execute the whole history every round. Round r−1 is released once the
convergence anti-join has read it, so a call keeps only the contraction
and the final edge set, which its output reads. On a real cluster prefer
``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` for fault
tolerance across executor loss; localCheckpoint is the single-JVM analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyradiomics_spark.session import checkpoint, release

_U, _V = "__cc_u", "__cc_v"


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor to the
    minimum of N(u) ∪ {u}. Strictly-larger guard keeps the edge set from
    oscillating (Kiveris et al. §3)."""
    both = edges.unionByName(edges.select(
        F.col(_V).alias(_U), F.col(_U).alias(_V)))
    w = Window.partitionBy(_U)
    m = F.least(F.min(_V).over(w), F.col(_U))
    return (
        both.withColumn("__m", m)
        .where(F.col(_V) > F.col(_U))
        .select(F.col(_V).alias(_U), F.col("__m").alias(_V))
        .where(F.col(_U) != F.col(_V))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For every node u: connect u and all its ≤-neighbors to the minimum
    of those neighbors (and u)."""
    # orient every edge (larger → smaller): v ≤ u for all rows
    oriented = edges.select(
        F.greatest(_U, _V).alias(_U), F.least(_U, _V).alias(_V))
    w = Window.partitionBy(_U)
    m = F.min(_V).over(w)
    with_min = oriented.withColumn("__m", m)
    relink = with_min.select(F.col(_V).alias(_U), F.col("__m").alias(_V))
    self_link = with_min.select(F.col(_U), F.col("__m").alias(_V))
    return (
        relink.unionByName(self_link)
        .where(F.col(_U) != F.col(_V))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 30,
    all_ids: DataFrame | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """(id, component) for every node in ``pairs`` — component = the
    minimum node id reachable (the canonical dedup representative).

    ``all_ids`` (single-column DataFrame, optional): universe of ids;
    nodes with no pair become singleton components of themselves — pass
    the full corpus id set so the output covers every document.

    One hash-min contraction runs before the star rounds: every node
    maps to m(u) = min(N(u) ∪ {u}) via a map-side-combined groupBy,
    edges relabel to (m(u), m(v)), and the star loop runs on the
    contracted graph (near-dup graphs are cliquey, so this one cheap
    pass collapses most of the edge volume: measured 540k → ~7k edges
    at sf0.1 before round 0 ever runs). The final label composes
    comp(u) = comp'(m(u)); since the component's global minimum g always
    has m(g) = g, the contracted minimum is the true minimum (checked
    against union-find and the recursive-CTE oracle).

    Iterative: runs Spark actions during construction (convergence check
    per round) — this is the documented exception to lazy plan building;
    an O(log² n)-round algorithm cannot be a single static plan.
    """
    id_type = pairs.schema[id_a].dataType
    edges = (
        pairs.select(F.col(id_a).cast(id_type).alias(_U),
                     F.col(id_b).cast(id_type).alias(_V))
        .where(F.col(_U) != F.col(_V))
    )
    if not assume_distinct:
        edges = edges.distinct()
    # assume_distinct=True skips a full shuffle of the edge set when the
    # producer already guarantees set semantics (e.g. *_candidates
    # outputs, which are distinct by construction)
    edges = checkpoint(edges)

    both = edges.unionByName(edges.select(
        F.col(_V).alias(_U), F.col(_U).alias(_V)))
    contraction = checkpoint(
        both.groupBy(_U).agg(F.min(_V).alias("__mn"))
        .select(_U, F.least(F.col("__mn"), F.col(_U)).alias("__m")))
    mu = contraction.select(F.col(_U).alias("__n"),
                            F.col("__m").alias("__mu"))
    contracted = checkpoint(
        edges
        .join(mu.withColumnRenamed("__n", _U)
              .withColumnRenamed("__mu", "__ma"), _U)
        .join(mu.withColumnRenamed("__n", _V)
              .withColumnRenamed("__mu", "__mb"), _V)
        .select(F.col("__ma").alias(_U), F.col("__mb").alias(_V))
        .where(F.col(_U) != F.col(_V))
        .distinct())
    release(edges)
    edges = contracted

    def _sig(df: DataFrame) -> tuple:
        """(count, order-invariant content checksum) in ONE job off the
        checkpoint. The checksum sums the upper 32 bits of xxhash64(u, v):
        each term < 2³², so the sum stays overflow-safe (ANSI mode) up to
        ~2³¹ edges per partition tree — far past any real dup graph."""
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.shiftrightunsigned(F.xxhash64(_U, _V), 32)).alias("h"),
        ).collect()[0]
        return int(r["n"]), int(r["h"] or 0)

    sig = _sig(edges)
    for _ in range(max_rounds):
        nxt = checkpoint(_small_star(_large_star(edges)))
        # convergence: both sets are distinct, so equal sets ⇔ equal counts
        # + empty one-sided anti-join. One agg job per round gets count AND
        # checksum; the exact anti-join confirmation only runs once both
        # are stable — star rounds routinely plateau on count while still
        # moving edges, and the checksum filters those plateaus out, so
        # the anti-join fires on (typically) just the true final round.
        # Per-round driver latency, not data volume, dominates this loop.
        nsig = _sig(nxt)
        converged = (
            nsig == sig
            and nxt.join(edges, [_U, _V], "left_anti").limit(1).count() == 0)
        release(edges)
        edges, sig = nxt, nsig
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds")
    # converged star graph: every edge points node → component minimum
    labels = edges.select(F.col(_U).alias("id"), F.col(_V).alias("component"))
    # roots (component minima) appear only on the _V side — label them too
    roots = edges.select(F.col(_V).alias("id")).distinct().join(
        labels.select("id"), "id", "left_anti"
    ).withColumn("component", F.col("id"))
    # compose through the contraction: comp(u) = comp'(m(u));
    # a representative absent from the contracted graph had its
    # whole component collapse onto it, so it is its own minimum
    out = (contraction
           .join(labels.unionByName(roots).withColumnRenamed("id", "__m"),
                 "__m", "left")
           .select(F.col(_U).alias("id"),
                   F.coalesce("component", F.col("__m"))
                   .alias("component")))
    if all_ids is not None:
        idc = all_ids.columns[0]
        singles = (
            all_ids.select(F.col(idc).alias("id")).distinct()
            .join(out.select("id"), "id", "left_anti")
            .withColumn("component", F.col("id")))
        out = out.unionByName(singles)
    return out


def canonical_representatives(
    components: DataFrame,
    quality: DataFrame,
    id_col: str,
    quality_col: str,
    comp_id_col: str = "id",
) -> DataFrame:
    """Turn a (id, component) clustering into the dedup DECISION LIST:
    (id, component, canonical_id, keep) where each component's canonical
    representative is its highest-``quality_col`` member (ties broken on
    the lower id — fully deterministic), and ``keep`` marks it. This is
    the materialized output a curation pipeline actually writes after
    near-dup clustering: losers map to their keeper for provenance, and
    the keep flag drives the retained corpus.

    Scale shape: one |corpus|-row equi-join of the component map onto
    the quality column, then ONE window over the component partitioning
    — bounded by cluster size, which the upstream candidate caps bound
    in turn (a crawl-scale boilerplate cluster is exactly what
    *_candidates' bucket_cap exists to prevent). No driver action."""
    q = quality.select(F.col(id_col), F.col(quality_col).alias("__q"))
    # connected_components emits (id, component); rename its id column
    # onto the quality frame's key so the join and output share one name
    j = components.select(
        F.col(comp_id_col).alias(id_col), "component").join(q, id_col)
    w = Window.partitionBy("component").orderBy(
        F.desc("__q"), F.col(id_col))
    return (j.withColumn(
        "canonical_id", F.first(id_col).over(
            w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)))
        .select(id_col, "component", "canonical_id",
                (F.col(id_col) == F.col("canonical_id")).alias("keep")))
