"""Graph operators beyond connected components (EXT mandate).

The reference has no graph algorithms; connected components (the near-dup
closure) lives in ``operators.dedup``. This module holds link-analysis
operators useful to training-data pipelines — PageRank as a document /
source authority signal for corpus weighting (the classic
quality-weighting feature for web-scale pretraining data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize, release


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, n_iter: int = 3,
             round_dp: int = 6) -> DataFrame:
    """Simplified PageRank over a directed edge list → (id, rank).

    r₀ = 1/N; rₜ₊₁(v) = (1-d)/N + d · Σ_{u→v} rₜ(u)/outdeg(u); fixed
    iteration count, dangling mass ignored (the common simplified form).
    Ranks ROUND to ``round_dp`` between iterations: per-node in-edge sums
    are order-dependent in the last ulps under parallel aggregation, and
    the round collapses every engine to identical values — the same
    determinism device as ``kmeans_fit``. Callers replicating this in SQL
    must inline the exact binary double for (1-d) (``repr(1 - damping)``),
    not a decimal re-spelling.

    Scale: per iteration ONE shuffle (contribution sum on dst) plus the
    node left-join. The edges, carrying their source's out-degree, and
    the node set are materialized once (N observed in the same job, so
    1/N and (1-d)/N are the same IEEE divisions in driver doubles); each
    round's ranks are materialized (flat plans, as in the CC loops) and
    the previous round's released. Edge multiplicity is collapsed
    (DISTINCT) so a duplicated edge cannot double-ship rank.
    """
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .distinct())
    ed, _ = materialize(
        e.join(e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg")), "u"))
    nodes, m = materialize(
        ed.select(F.col("u").alias("id"))
        .unionByName(ed.select(F.col("v").alias("id"))).distinct(),
        n=F.count(F.lit(1)))
    n = max(m["n"], 1)   # an empty graph ranks no node
    ranks = nodes.select("id", F.round(F.lit(1.0 / n), round_dp).alias("rank"))
    for _ in range(n_iter):
        contrib = (ed.join(ranks, ed["u"] == ranks["id"])
                   .groupBy(F.col("v").alias("id"))
                   .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("s")))
        nxt, _ = materialize(
            ranks.select("id").join(contrib, "id", "left")
            .select("id", F.round(F.lit((1.0 - damping) / n) + F.lit(damping)
                                  * F.coalesce(F.col("s"), F.lit(0.0)),
                                  round_dp).alias("rank")))
        release(ranks)   # round 1 frees the node set behind rank 0
        ranks = nxt
    release(ed)
    return ranks


def _oriented(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v) with u < v: the undirected simple graph's edges oriented
    low→high, self-loops and multiplicity dropped."""
    return (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                         F.greatest(F.col(src), F.col(dst)).alias("v"))
            .filter(F.col("u") < F.col("v")).distinct())


def _triangles(e: DataFrame) -> DataFrame:
    """(a, b, c) once per triangle a<b<c of the oriented edges ``e``."""
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"])


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Triangle counting via the canonical oriented edge-join — the local
    clustering signal (spam/link-farm detection on a web corpus graph,
    community density profiling).

    Edges orient low→high (deduplicated, self-loops dropped), so each
    triangle {a<b<c} is found exactly once as (a,b)⋈(b,c)⋈(a,c).
    Returns (node, n_triangles) attributing each triangle to its SMALLEST
    vertex (deterministic attribution; SUM(n_triangles) is the global
    count).

    Scale: two hash joins on single-node keys — the standard formulation
    whose cost is Σ deg(u)·deg(v) over edges; orientation bounds the
    wedge generation by out-degree under the low→high order (the
    classic mitigation that keeps hub nodes from exploding the join).
    The oriented edge table is materialized, as all THREE join legs (and
    the returned frame) read it.
    """
    e, _ = materialize(_oriented(edges, src, dst))
    return (_triangles(e).groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def bfs_hops(edges: DataFrame, seeds: list[int], src: str = "src",
             dst: str = "dst", max_hops: int = 6) -> DataFrame:
    """EXT (R140): breadth-first hop distances from a seed set over an
    UNDIRECTED graph — (id, hops) for every node within ``max_hops``.
    The "distance from known-good/known-bad" signal: seed a few vetted
    (or spammy) sources and every document inherits a proximity feature;
    also the blast-radius query for incident triage.

    Frontier iteration, the connected-components discipline: each round
    expands the CURRENT frontier only (never re-expands settled nodes —
    the anti-join guarantees every node joins edges exactly once over
    the whole run), min-distance semantics fall out of first-discovery
    order, and both accumulators are materialized per round (flat
    lineage; each released once superseded). The frontier's size is
    observed in the same job, so the empty-frontier exit costs no probe
    job. Rounds = graph diameter ∧ ``max_hops``; each is one join +
    distinct + anti-join shuffle on the node id."""
    spark = edges.sparkSession
    bidir, _ = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"),
                                  F.col(src).alias("v")))
        .distinct())
    dist = spark.createDataFrame([(int(s), 0) for s in seeds],
                                 "id long, hops int")
    frontier = dist.select("id")
    for i in range(1, max_hops + 1):
        nxt, m = materialize(
            frontier.join(bidir, frontier.id == bidir.u)
            .select(F.col("v").alias("id")).distinct()
            .join(dist.select("id"), "id", "left_anti")
            .withColumn("hops", F.lit(i).cast("int")),
            n=F.count(F.lit(1)))
        release(frontier)
        frontier = nxt.select("id")
        if not m["n"]:
            break
        grown, _ = materialize(dist.unionByName(nxt))
        release(dist)
        dist = grown
    release(frontier, bidir)
    return dist


def degree_assortativity(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """EXT (R206, round 6): degree assortativity — Newman's r, the
    Pearson correlation between the degrees at the two ends of every
    edge of the undirected simple graph (each edge contributes both
    orientations, making r symmetric). Positive r: hubs link to hubs
    (social-style graphs); negative: hubs link to leaves
    (web/citation-style) — the one-number structural fingerprint that
    tells a sampler whether near-dup clusters chain through hubs.

    Built from relational pieces only: orientation union → distinct
    (simple graph), one degree aggregate keyed on vertex, two joins to
    attach end degrees (vertex-keyed shuffles; AQE broadcasts the
    degree side when small), and ``corr_matrix``'s exact decimal(38,0)
    moment pass — the only floats are the final sqrt/divide, identical
    cross-engine. ONE row: (n_stubs, assortativity); NULL when a
    degree variance is zero (e.g. a regular graph)."""
    from .analytics import corr_matrix

    bidir = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
             .union(edges.select(F.col(dst).alias("u"),
                                 F.col(src).alias("v")))
             .distinct())
    deg = bidir.groupBy(F.col("u").alias("id")) \
               .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    stubs = (bidir
             .join(deg.select(F.col("id").alias("u"),
                              F.col("deg").alias("deg_u")), "u")
             .join(deg.select(F.col("id").alias("v"),
                              F.col("deg").alias("deg_v")), "v"))
    r = corr_matrix(stubs, {"deg_u": F.col("deg_u"),
                            "deg_v": F.col("deg_v")})
    return r.select(F.col("n").alias("n_stubs"),
                    F.col("corr").alias("assortativity"))


def local_clustering(edges: DataFrame, src: str = "src",
                     dst: str = "dst", round_dp: int = 6) -> DataFrame:
    """EXT (round 6): local clustering coefficient per node over an
    undirected simple graph — (node, degree, n_triangles,
    clustering_coeff) with cc = 2T(v) / (deg(v)·(deg(v)−1)), 0 for
    degree < 2. The per-node density signal `triangle_count` only
    aggregates for its smallest vertex: spam/link-farm neighborhoods
    score near 1, tree-like citation frontiers near 0.

    Same oriented low→high 3-way self-join over the same materialized
    edge table as `triangle_count` (each triangle found once), then every
    triangle credits ALL THREE corners via an explode — no per-corner
    re-join. Degrees come from one stub aggregation on the oriented edge
    list. Scale: the wedge join dominates (Σ deg²); the explode adds 3
    rows per triangle, shuffled once on node id.
    """
    e, _ = materialize(_oriented(edges, src, dst))
    deg = (e.select(F.col("u").alias("node"))
           .unionByName(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    tri_nodes = (_triangles(e)
                 .select(F.explode(F.array("a", "b", "c")).alias("node"))
                 .groupBy("node")
                 .agg(F.count(F.lit(1)).alias("n_triangles")))
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    return (deg.join(tri_nodes, "node", "left")
            .select(F.col("node"), F.col("degree"),
                    t.alias("n_triangles"),
                    F.round(
                        F.when(F.col("degree") >= 2,
                               F.lit(2.0) * t.cast("double")
                               / (F.col("degree")
                                  * (F.col("degree") - 1)).cast("double"))
                        .otherwise(F.lit(0.0)),
                        round_dp).alias("clustering_coeff")))


def k_core(edges: DataFrame, k: int, src: str = "src",
           dst: str = "dst", n_iter: int = 10) -> DataFrame:
    """EXT (round 6): k-core extraction — iteratively peel nodes of
    degree < k until fixpoint; return (node, core_degree) for the
    surviving subgraph. The classic "dense kernel" filter: spam link
    farms and tightly-cross-quoting doc clusters survive high k, while
    tree-like citation fringes peel away (complements `local_clustering`
    which scores density but never removes the fringe).

    At most ``n_iter`` peeling rounds. Per round: ONE stub aggregation
    for degrees + two semi-joins keeping edges whose BOTH endpoints
    survive, materialized (flat lineage) with its edge count observed in
    the same job; the previous round's edges are released. A round that
    peels no edge is the fixpoint and ends the loop. Scale: every step
    shuffles only node ids / edge keys, never payloads; rounds bounded
    by the cap, each strictly shrinking the edge set.
    """
    e, m = materialize(_oriented(edges, src, dst), n=F.count(F.lit(1)))
    for _ in range(n_iter):
        n = m["n"]
        deg = (e.select(F.col("u").alias("node"))
               .unionByName(e.select(F.col("v").alias("node")))
               .groupBy("node").agg(F.count(F.lit(1)).alias("dg"))
               .filter(F.col("dg") >= k))
        peeled, m = materialize(
            e.join(deg.select(F.col("node").alias("u")), "u", "semi")
            .join(deg.select(F.col("node").alias("v")), "v", "semi"),
            n=F.count(F.lit(1)))
        release(e)
        e = peeled
        if m["n"] == n:
            break
    return (e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("core_degree")))


def reciprocity(edges: DataFrame, src: str = "src",
                dst: str = "dst", round_dp: int = 6) -> DataFrame:
    """EXT (round 6): directed-graph reciprocity — the share of edges
    whose reverse edge also exists (mutual-link rate). On a citation /
    quote graph high reciprocity flags cliquey mutual-promotion rings
    (the directed cousin of `local_clustering`); on a follow graph
    it's the community-health number. Self-loops are excluded, edge
    multiplicity collapsed.

    ONE scalar row: (n_edges, n_reciprocal, reciprocity). The check
    is a self semi-join on the flipped key — no explode, no pairs
    materialized; only the edge table is, as both semi-join sides, the
    edge count and the result read it."""
    e, _ = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col(src).isNotNull() & F.col(dst).isNotNull()
                & (F.col(src) != F.col(dst)))
        .distinct())
    flipped = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    recip = e.join(flipped, ["u", "v"], "semi")
    agg = (e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
           .crossJoin(recip.agg(F.count(F.lit(1)).cast("long")
                                .alias("n_reciprocal"))))
    return agg.select(
        "n_edges", "n_reciprocal",
        F.round(F.when(F.col("n_edges") > 0,
                       F.col("n_reciprocal").cast("double")
                       / F.col("n_edges").cast("double"))
                .otherwise(F.lit(0.0)), round_dp).alias("reciprocity"))
