"""Network analysis over edge tables — the reference's GNM capability.

Reference: the Geographic Network Model (/root/reference/gnm/gnmgraph.h:
162-211) ships Dijkstra shortest path, K shortest paths and connected
components over vector-layer networks, single-node in-memory.

Distributed recast (no GraphFrames dependency — plain DataFrame loops):
- single-source shortest paths: iterative edge relaxation
  (Bellman-Ford shape — the distributed-friendly form of Dijkstra for
  non-negative weights): each round joins the frontier to the edge table
  and keeps improved distances; terminates when no distance improves.
  Rounds <= graph diameter; each round is one equi-join + min-aggregate,
  both map-side combinable. The frontier (changed vertices only) shrinks
  the join's left side every round — the same driver-side
  loop-until-converged discipline as knn.knn_ring.
- connected components: min-label propagation to a fixed point — the
  generic-graph generalization of polygonize's grid connected components
  (which exploits grid structure to finish in one pass + stitch).

Scale notes: both algorithms shuffle O(|frontier| x avg-degree) per
round, not O(V x E); every round localCheckpoints (eager) — iterative
DataFrame algorithms MUST truncate lineage or the logical plan doubles
per round and the driver dies on analysis long before any data limit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _sym(edges: DataFrame, directed: bool) -> DataFrame:
    e = edges.select("src", "dst", "w")
    if directed:
        return e
    return e.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )


def _barriers(e: DataFrame, blocked_vertices, blocked_edges,
              directed: bool) -> DataFrame:
    """GNM blocking (gnm/gnmgraph.h:139 ChangeBlockState): blocked
    features are barriers during routing. Exact reference semantics —
    drop blocked EDGES (gnmgraph.cpp:511) and edges whose TARGET vertex
    is blocked (gnmgraph.cpp:529); edges OUT of a blocked vertex stay,
    so a blocked SOURCE still routes (the reference pushes the start
    vertex unconditionally). Blocked sets are dimension-sized ->
    broadcast anti-joins; the corpus edge side never re-shuffles.

    connected_components takes no blocking on purpose: with every
    vertex a start (our all-graph CC), the reference still walks the
    out-edges of a blocked start (gnmgraph.cpp:589-622 marks the start
    and pushes its out-edge pairs before the target check), so blocked
    vertices merge into their neighbours' components anyway — blocking
    cannot change all-start membership."""
    spark = e.sparkSession
    if blocked_vertices is not None:
        bv = blocked_vertices if isinstance(blocked_vertices, DataFrame) \
            else spark.createDataFrame(pd.DataFrame(
                {"bver": [int(v) for v in blocked_vertices]}), "bver long")
        bv = bv.toDF("bver")
        e = e.join(F.broadcast(bv), e.dst == bv.bver, "left_anti")
    if blocked_edges is not None:
        be = blocked_edges if isinstance(blocked_edges, DataFrame) \
            else spark.createDataFrame(pd.DataFrame(
                [(int(s), int(d)) for s, d in blocked_edges],
                columns=["bsrc", "bdst"]), "bsrc long, bdst long")
        be = be.toDF("bsrc", "bdst")
        if not directed:
            # an undirected edge is ONE reference FID: blocking it kills
            # both directions of the symmetrized table
            be = be.unionByName(be.select(F.col("bdst").alias("bsrc"),
                                          F.col("bsrc").alias("bdst")))
        e = e.join(F.broadcast(be),
                   (e.src == be.bsrc) & (e.dst == be.bdst), "left_anti")
    return e


def sssp(edges: DataFrame, source, directed: bool = False,
         max_rounds: int = 50, *, blocked_vertices=None,
         blocked_edges=None) -> DataFrame:
    """Single-source shortest path distances: (vertex, dist).

    edges: (src, dst, w) with non-negative w. Unreachable vertices are
    absent (the reference returns an empty path for them,
    gnmgraph.h DijkstraShortestPath semantics). blocked_vertices /
    blocked_edges (list or DataFrame) are routing barriers with the
    reference's ChangeBlockState semantics — see _barriers."""
    spark = edges.sparkSession
    e = _barriers(_sym(edges, directed), blocked_vertices, blocked_edges,
                  directed).persist()
    dist = spark.createDataFrame(pd.DataFrame({"vertex": [source], "dist": [0.0]}),
                                 "vertex long, dist double")
    frontier = dist
    for r in range(max_rounds):
        # relax all edges out of the frontier
        cand = (
            frontier.join(e, frontier.vertex == e.src)
            .select(F.col("dst").alias("vertex"),
                    (F.col("dist") + F.col("w")).alias("dist"))
        )
        both = dist.unionByName(cand).groupBy("vertex").agg(
            F.min("dist").alias("dist")
        )
        # improved = vertices whose best distance changed this round
        improved = both.join(
            dist.withColumnRenamed("dist", "_old"), on="vertex", how="left"
        ).filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
        # localCheckpoint (eager): truncates lineage — without it the
        # logical plan doubles per round and analysis/codegen blows up
        # after ~15 rounds long before any data-size limit
        improved = improved.select("vertex", "dist").localCheckpoint()
        if len(improved.take(1)) == 0:
            break
        dist = both.localCheckpoint()
        frontier = improved
    e.unpersist()
    return dist


def k_shortest_paths(edges: DataFrame, source, target, k: int,
                     directed: bool = False, max_hops: int = 12,
                     prune: int | None = None, *, blocked_vertices=None,
                     blocked_edges=None) -> DataFrame:
    """K shortest SIMPLE paths source -> target: (rank, cost, path).

    The reference's GNMGraph::KShortestPaths (gnm/gnmgraph.h:176, Yen's
    algorithm, single-node). Distributed recast: iterative frontier
    expansion over the edge table — each round extends every live path by
    one edge, drops cycles (the path string encodes visited vertices),
    and collects arrivals at the target. With `prune=None` (default) the
    enumeration is EXHAUSTIVE over simple paths up to `max_hops`, so the
    final top-k is exact — right for the small-diameter networks GNM
    targets. `prune=m` keeps only the m cheapest paths per intermediate
    vertex each round — the bounded-frontier variant for big graphs
    (exact for m >= k on graphs where subpath-optimality holds; a
    documented approximation otherwise).

    Paths are '|v0|v1|...|' strings; ties on cost break lexicographically
    on the path — deterministic under any partitioning. Each round
    localCheckpoints (the iterative-lineage discipline of sssp).
    blocked_vertices / blocked_edges: routing barriers with the
    reference's ChangeBlockState semantics — see _barriers."""
    from pyspark.sql import Window

    spark = edges.sparkSession
    e = _barriers(_sym(edges, directed), blocked_vertices, blocked_edges,
                  directed).persist()
    src_l = int(source)
    frontier = spark.createDataFrame(
        pd.DataFrame({"vertex": [src_l], "cost": [0.0], "path": [f"|{src_l}|"]}),
        "vertex long, cost double, path string")
    hits = frontier.filter(F.col("vertex") == target)
    for _ in range(max_hops):
        ext = (
            frontier.join(e, frontier.vertex == e.src)
            .filter(~F.col("path").contains(
                F.concat(F.lit("|"), F.col("dst").cast("string"), F.lit("|"))))
            .select(
                F.col("dst").alias("vertex"),
                (F.col("cost") + F.col("w")).alias("cost"),
                F.concat(F.col("path"), F.col("dst").cast("string"),
                         F.lit("|")).alias("path"),
            )
        )
        if prune is not None:
            w = Window.partitionBy("vertex").orderBy(
                F.col("cost").asc(), F.col("path").asc())
            ext = (ext.withColumn("_r", F.row_number().over(w))
                   .filter(F.col("_r") <= prune).drop("_r"))
        ext = ext.localCheckpoint()
        if len(ext.take(1)) == 0:
            break
        hits = hits.unionByName(ext.filter(F.col("vertex") == target))
        frontier = ext.filter(F.col("vertex") != target)
    hits = hits.localCheckpoint()
    e.unpersist()
    w = Window.orderBy(F.col("cost").asc(), F.col("path").asc())
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("rank").cast("long").alias("rank"), "cost", "path")
    )


def pagerank(edges: DataFrame, iterations: int = 6, *,
             scale: int = 10 ** 12, damping_pct: int = 85,
             checkpoint_every: int = 8) -> DataFrame:
    """Integer PageRank: (vertex, rank) after a FIXED number of power
    iterations over a directed edge table (src, dst).

    The GNM family (gnm/gnmgraph.h:162-211) stops at shortest paths and
    components; link-based ranking is the webtext extension of the same
    edge-table model (host/document graphs from a crawl). The classic
    float formulation is fold-order sensitive (summing in-neighbor
    contributions is a data-ordered float sum), so this implementation
    uses SCALED INTEGER arithmetic — the form large systems used for
    exactly this reproducibility reason:

        r_0(v)     = scale
        r_{k+1}(v) = (scale*(100-d)) div 100
                     + SUM over in-edges (u,v) of
                       (r_k(u) * d) div (100 * outdeg(u))

    with d = damping_pct. Every operation is BIGINT (+, *, truncating
    div); integer sums are order-independent, so the result is
    bit-identical on any engine / partitioning — exactly oracle-able as
    unrolled GROUP-BY SQL (duckdb `//` == Spark `div` for positives).
    Quantization: each division truncates, so total mass leaks a few
    units per round — bounded by |E| ulps of the scale, irrelevant at
    scale=1e12, and identically reproduced by the oracle.

    Dangling vertices (no out-edges) keep receiving the base term but
    distribute nothing — the "sink mass drops out" convention; callers
    wanting the redistribute convention add self-loops.

    Scale notes (100 TB / 10^11-edge graphs): per iteration ONE
    rank⋈edges equi-join on src (edges pre-joined once with outdeg and
    persisted; at cluster scale bucket both sides by src to make every
    round shuffle-free) + ONE map-side-combinable integer groupBy(dst).
    Lineage: unlike sssp/cc (whose rounds reference the previous state
    TWICE, doubling the plan), each pagerank round references ranks_k
    exactly once — the plan grows LINEARLY — so the per-round
    localCheckpoint discipline is unnecessary for small fixed iteration
    counts; `checkpoint_every` (default 8) truncates only on long runs,
    keeping short ones a single multi-stage job instead of N eager
    barriers (measured: 6 rounds at sf0.1 drop 5.2 s -> job-scheduling
    cost only). Overflow headroom: ranks are bounded by total mass ≈
    |V|*scale, so rank*damping_pct stays < 2^63 for |V|*scale < 1e17
    (choose a smaller scale for larger graphs).
    """
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # pre-partition the (static) edge side on the join key once, so
    # every round's rank⋈edges join reuses this layout instead of
    # re-exchanging it (ranks arrive hash-partitioned on vertex from
    # the previous round's groupBy)
    esrc = e.join(deg, "src").repartition("src").persist()
    base = (scale * (100 - damping_pct)) // 100
    ranks = nodes.select("vertex", F.lit(scale).cast("long").alias("rank"))
    # a zero row per vertex folded into the SAME aggregate replaces the
    # nodes left-join: one shuffle per round instead of two
    zeros = nodes.select("vertex", F.lit(0).cast("long").alias("c"))
    contrib_expr = F.expr(
        f"(rank * {damping_pct}L) div (100L * outdeg)")
    for it in range(iterations):
        contrib = (
            ranks.join(esrc, ranks.vertex == esrc.src)
            .select(F.col("dst").alias("vertex"), contrib_expr.alias("c"))
        )
        ranks = (
            contrib.unionByName(zeros).groupBy("vertex")
            .agg((F.lit(base) + F.sum("c")).cast("long").alias("rank"))
        )
        # linear lineage: truncate only periodically (module docstring);
        # checkpoint_every <= 0 disables mid-run truncation entirely
        if (checkpoint_every > 0 and (it + 1) % checkpoint_every == 0
                and it + 1 < iterations):
            ranks = ranks.localCheckpoint()
    # ONE eager materialization at the end (not per round): the caches
    # populate and get reused inside this single multi-stage job, and
    # only then is it safe to unpersist them under the returned frame
    ranks = ranks.localCheckpoint()
    nodes.unpersist()
    esrc.unpersist()
    return ranks


def connected_components(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """(vertex, component) with component = min vertex id in the component
    (deterministic under any partitioning)."""
    e = _sym(edges.withColumn("w", F.lit(1.0)), directed=False).persist()
    verts = (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    label = verts.withColumn("component", F.col("vertex"))
    for r in range(max_rounds):
        prop = (
            label.join(e, label.vertex == e.src)
            .select(F.col("dst").alias("vertex"), "component")
        )
        new_label = (
            label.unionByName(prop)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
        )
        new_label = new_label.localCheckpoint()  # truncate lineage per round
        changed = new_label.join(
            label.withColumnRenamed("component", "_old"), on="vertex"
        ).filter(F.col("component") < F.col("_old"))
        if len(changed.take(1)) == 0:
            label = new_label
            break
        label = new_label
    e.unpersist()
    return label
