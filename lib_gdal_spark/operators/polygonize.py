"""Polygonize: merge adjacent equal-valued cells into labeled regions.

Reference: /root/reference/alg/polygonize.cpp (622 LoC) — a two-row sliding
window ("TwoArm" state :236-239) with connected-component ids from
alg/gdalrasterpolygonenumerator.cpp, 4- or 8-connectedness.

Distributed recast (the classic CC-over-partitions scheme):
1. partition the grid into coarse blocks (block = bx>>B, by>>B);
2. per-block connected components via applyInPandas (vectorized two-pass
   union-find on the local raster — the reference's enumerator semantics,
   4-connected, equal `value` merges);
3. boundary stitching: labels of cells on block edges that touch across the
   boundary with equal value form an edge list (size ~ total block
   perimeter, << area). By default the edge list is resolved DISTRIBUTED
   via graph.connected_components (min-label propagation, bounded rounds,
   lineage-checkpointed) — at a 100 TB grid the cross-block pair list is
   itself huge, so a driver-side union-find would be the scale killer.
   `stitch='driver'` keeps the in-memory union-find as an opt-in fast path
   for small grids (measured ~2x faster under ~10^5 boundary pairs);
4. one final broadcast-join relabels components to global ids (min
   cell-label wins under BOTH stitchers — identical, deterministic output).

Output: (bx, by, value, region_id). Ring tracing (the reference's polygon
geometry output, polygonize.cpp:236-239 TwoArm) is `polygonize_rings`:
labeling is the distributed part; each region's rings are then traced
locally inside one applyInPandas group (interior-on-the-left directed
edges stitched with a sharpest-left-turn rule), emitting WKB polygons.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def _label_block(pdf: pd.DataFrame, connect8: bool = False) -> pd.DataFrame:
    """Union-find CC inside one block; labels are global-min (bx,by) keys."""
    bx = pdf["bx"].to_numpy(np.int64)
    by = pdf["by"].to_numpy(np.int64)
    val = pdf["value"].to_numpy()
    key = (by << np.int64(32)) | (bx & np.int64(0xFFFFFFFF))
    parent = {int(k): int(k) for k in key}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    idx = {(int(x), int(y)): i for i, (x, y) in enumerate(zip(bx, by))}
    neigh = [(-1, 0), (0, -1)] + ([(-1, -1), (1, -1)] if connect8 else [])
    for i in range(len(bx)):
        for dx, dy in neigh:
            j = idx.get((int(bx[i]) + dx, int(by[i]) + dy))
            if j is not None and val[i] == val[j]:
                union(int(key[i]), int(key[j]))
    lab = np.array([find(int(k)) for k in key], dtype=np.int64)
    out = pdf.copy()
    out["label"] = lab
    return out


def polygonize(cells: DataFrame, block_bits: int = 5,
               connect8: bool = False, max_iters: int = 100,
               stitch: str = "distributed") -> DataFrame:
    """(bx, by, value) -> (bx, by, value, region_id); 4-connected by default
    (polygonize.cpp default connectedness).

    stitch: 'distributed' (default — cross-block label components via
    graph.connected_components; no driver-side collect anywhere in the
    plan) or 'driver' (in-memory union-find over the collected pair list;
    only for small grids)."""
    spark = cells.sparkSession
    from ..session import ship_package

    ship_package(spark)
    blocked = cells.withColumn("_blk_x", F.shiftright("bx", block_bits)).withColumn(
        "_blk_y", F.shiftright("by", block_bits)
    )

    labeled = blocked.groupBy("_blk_x", "_blk_y").applyInPandas(
        lambda pdf: _label_block(pdf, connect8),
        schema="bx long, by long, value double, _blk_x long, _blk_y long, label long",
    ).drop("_blk_x", "_blk_y").cache()

    # boundary cells: on a block edge -> candidate cross-block adjacencies
    bsize = 1 << block_bits
    on_edge = (
        (F.col("bx") % bsize == 0) | (F.col("bx") % bsize == bsize - 1)
        | (F.col("by") % bsize == 0) | (F.col("by") % bsize == bsize - 1)
    )
    edge = labeled.filter(on_edge).select("bx", "by", "value", "label")
    a = edge.alias("a")
    b = edge.alias("b")
    neigh = [(1, 0), (0, 1)] + ([(1, 1), (1, -1)] if connect8 else [])
    pairs = None
    for dx, dy in neigh:
        p = a.join(
            b,
            (F.col("a.bx") + dx == F.col("b.bx"))
            & (F.col("a.by") + dy == F.col("b.by"))
            & (F.col("a.value") == F.col("b.value"))
            & (F.col("a.label") != F.col("b.label")),
        ).select(F.col("a.label").alias("la"), F.col("b.label").alias("lb"))
        pairs = p if pairs is None else pairs.unionByName(p)
    if stitch == "distributed":
        # resolve cross-block label components ON THE CLUSTER: the pair
        # list scales with total block perimeter, which at a 100 TB grid
        # is far beyond driver memory. connected_components labels every
        # touched label with the MIN label of its component — the same
        # fixed point the union-find reaches.
        from . import graph

        cc_edges = pairs.distinct().select(
            F.col("la").alias("src"), F.col("lb").alias("dst"),
            F.lit(1.0).alias("w"),
        )
        comp = graph.connected_components(cc_edges)
        remap_df = comp.filter(F.col("vertex") != F.col("component")).select(
            F.col("vertex").alias("label"), F.col("component").alias("region_id")
        )
        # no broadcast hint: the relabel map scales with total block
        # perimeter — AQE broadcasts it when it is actually small
        out = labeled.join(remap_df, on="label", how="left").withColumn(
            "region_id", F.coalesce("region_id", "label")
        )
        return out.select("bx", "by", "value", "region_id")
    if stitch != "driver":
        raise ValueError(f"unknown stitch={stitch}")
    edges = [(r.la, r.lb) for r in pairs.distinct().collect()]

    # driver-side union-find over the (small) cross-block edge list
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for la, lb in edges:
        ra, rb = find(la), find(lb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    remap = {k: find(k) for k in list(parent)}
    if remap:
        remap_df = F.broadcast(
            spark.createDataFrame(pd.DataFrame(list(remap.items())),
                                  schema="label long, region_id long")
        )
        out = labeled.join(remap_df, on="label", how="left").withColumn(
            "region_id", F.coalesce("region_id", "label")
        )
    else:
        out = labeled.withColumn("region_id", F.col("label"))
    return out.select("bx", "by", "value", "region_id")


def _trace_rings(cell_set: set):
    """Trace the boundary rings of a set of unit cells.

    The reference walks a two-row window with TwoArm state
    (alg/polygonize.cpp:236-239); here the region is already materialized,
    so we emit every boundary edge DIRECTED with the region interior on
    the LEFT (outer rings come out CCW, holes CW — OGR ring-orientation
    convention) and stitch edges into closed rings. At a vertex where the
    boundary self-touches (two same-region cells meeting only diagonally)
    the SHARPEST LEFT TURN relative to the incoming direction is taken,
    which keeps the walk hugging the current cell and splits the
    self-touching boundary into simple rings sharing the vertex.

    Returns a list of rings, each a list of (x, y) vertices, closed
    (first == last), deterministic (rings start at their min vertex and
    are emitted in min-vertex order).
    """
    edges: dict = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    for (x, y) in cell_set:
        if (x, y - 1) not in cell_set:
            add((x, y), (x + 1, y))          # bottom, interior above
        if (x + 1, y) not in cell_set:
            add((x + 1, y), (x + 1, y + 1))  # right, interior left
        if (x, y + 1) not in cell_set:
            add((x + 1, y + 1), (x, y + 1))  # top, interior below
        if (x - 1, y) not in cell_set:
            add((x, y + 1), (x, y))          # left, interior right
    for v in edges:
        edges[v].sort()

    rings = []
    while edges:
        start = min(edges)
        ring = [start]
        cur = start
        d = None
        while True:
            outs = edges[cur]
            if d is None or len(outs) == 1:
                nxt = outs[0]
            else:
                # sharpest left turn: left(d), straight, right, back
                pref = [(-d[1], d[0]), d, (d[1], -d[0]), (-d[0], -d[1])]
                nxt = None
                for p in pref:
                    cand = (cur[0] + p[0], cur[1] + p[1])
                    if cand in outs:
                        nxt = cand
                        break
            outs.remove(nxt)
            if not outs:
                del edges[cur]
            d = (nxt[0] - cur[0], nxt[1] - cur[1])
            ring.append(nxt)
            cur = nxt
            if cur == start:
                break
        rings.append(ring)
    return rings


def _ring_signed_area(ring) -> float:
    a = 0.0
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        a += x0 * y1 - x1 * y0
    return 0.5 * a


def polygonize_rings(cells: DataFrame, block_bits: int = 5,
                     cell_size: float = 1.0,
                     origin=(0.0, 0.0)) -> DataFrame:
    """Full polygonize with geometry output — the reference's
    GDALPolygonize contract (alg/polygonize.cpp; asserted geometries in
    autotest/alg/polygonize.py): one polygon per 4-connected equal-valued
    region, WKB-encoded with CCW outer ring and CW holes.

    Distribution split: region LABELING is the distributed CC pass
    (polygonize above); ring tracing is local per region inside ONE
    applyInPandas group — rings are inherently sequential per polygon
    (the reference is sequential for the whole raster). Output:
    (region_id, value, n_cells, n_rings, n_vertices, area, wkb) with
    area in cell units — shoelace over the traced rings, which must
    equal n_cells exactly (tested invariant).
    """
    from ..geo import wkb as _wkb
    from ..session import ship_package

    ship_package(cells.sparkSession)
    labeled = polygonize(cells, block_bits=block_bits)
    ox, oy = origin

    def trace(pdf: pd.DataFrame) -> pd.DataFrame:
        s = set(zip(pdf["bx"].astype("int64"), pdf["by"].astype("int64")))
        rings = _trace_rings(s)
        area = sum(_ring_signed_area(r) for r in rings)
        # outer ring first (largest positive signed area), holes after
        rings.sort(key=_ring_signed_area, reverse=True)
        geo = [np.asarray(r, dtype=np.float64) * cell_size + [ox, oy]
               for r in rings]
        xs = [p[0] for p in s]
        ys = [p[1] for p in s]
        return pd.DataFrame({
            "region_id": [int(pdf["region_id"].iloc[0])],
            "value": [float(pdf["value"].iloc[0])],
            "n_cells": [len(s)],
            "n_rings": [len(rings)],
            "n_vertices": [sum(len(r) for r in rings)],
            "area": [float(area)],
            "wkb": [_wkb.encode_polygon(geo)],
            # cell-EDGE envelope in geo units (cells span [b, b+1))
            "xmin": [min(xs) * cell_size + ox],
            "ymin": [min(ys) * cell_size + oy],
            "xmax": [(max(xs) + 1) * cell_size + ox],
            "ymax": [(max(ys) + 1) * cell_size + oy],
        })

    return labeled.groupBy("region_id").applyInPandas(
        trace,
        schema="region_id long, value double, n_cells long, n_rings int, "
               "n_vertices long, area double, wkb binary, "
               "xmin double, ymin double, xmax double, ymax double",
    )


def _resolve_chains_distributed(smalldf: DataFrame, sizes: DataFrame,
                                threshold: int) -> DataFrame:
    """Pointer-doubling twin of sieve_gdal's driver-side chain walk.

    Resolves every small region to the FIRST >= `threshold` region on its
    forward path through the functional big-neighbour graph (`smalldf`:
    one `_nb` pointer per `_r`); nodes whose path dead-ends or cycles are
    simply absent from the result (keep-original-value, the reference's
    merge = -1 outcome, alg/gdalsievefilter.cpp:470-540). Semantically
    identical to the sequential walk because the graph is functional: the
    first qualifying region on the unique forward path does not depend on
    visit order.

    Scale shape: state is one row per small region; each round is one
    self-equi-join on the pointer column (pointer doubling), so chains of
    any length resolve in ceil(log2(n)) + 1 rounds. Rounds are
    localCheckpoint-ed (eager) so the plan stays flat — the CLAUDE.md
    iterative-loop rule. Nothing ever collects to the driver.
    """
    import math

    n_small = smalldf.count()
    big = sizes.filter(F.col("_n") >= threshold).select(
        F.col("region_id").alias("_bid"))
    small_set = smalldf.select(F.col("_r").alias("_sid"))
    # classify each pointer once: _tgt = already-big target (resolved),
    # _ptr = next small hop (pending). A pointer to a region that is
    # neither big nor a pointered small region is a dead end -> the row
    # is dropped, and rows pointing AT a dropped node fail through the
    # left join below, exactly like the driver walk's -1 propagation.
    st = (smalldf
          .join(big, F.col("_nb") == F.col("_bid"), "left")
          .join(small_set, F.col("_nb") == F.col("_sid"), "left")
          .filter(F.col("_bid").isNotNull() | F.col("_sid").isNotNull())
          .select(
              "_r",
              F.when(F.col("_bid").isNotNull(), F.col("_nb")).alias("_tgt"),
              F.when(F.col("_bid").isNull(), F.col("_nb")).alias("_ptr"),
          )
          .localCheckpoint())
    max_rounds = int(math.ceil(math.log2(max(float(n_small), 2.0)))) + 1
    for _ in range(max_rounds):
        if st.filter(F.col("_ptr").isNotNull()).isEmpty():
            break
        t = st.select(F.col("_r").alias("_pr"),
                      F.col("_tgt").alias("_ptgt"),
                      F.col("_ptr").alias("_pptr"))
        st = (st.alias("s")
              .join(t.alias("t"), F.col("s._ptr") == F.col("t._pr"), "left")
              # pending row whose pointer's row is gone = failed chain
              .filter(F.col("s._tgt").isNotNull() | F.col("s._ptr").isNull()
                      | F.col("t._pr").isNotNull())
              .select(
                  F.col("s._r").alias("_r"),
                  F.coalesce(F.col("s._tgt"), F.col("t._ptgt")).alias("_tgt"),
                  F.when(F.col("s._tgt").isNull() & F.col("t._ptgt").isNull(),
                         F.col("t._pptr")).alias("_ptr"),
              )
              .localCheckpoint())
    # cycle survivors are still pending after the round bound -> fail them
    return st.filter(F.col("_tgt").isNotNull()).select(
        F.col("_r").alias("region_id"), "_tgt")


def sieve_gdal(cells: DataFrame, threshold: int, connect8: bool = False,
               block_bits: int = 5,
               max_small_collect: int = 65536) -> DataFrame:
    """Bit-faithful GDALSieveFilter (alg/gdalsievefilter.cpp): replays the
    reference's exact merge semantics so its autotest checksums reproduce.

    Differences from the engine-native `sieve`:
    - big-neighbour choice (:100-126 CompareNeighbour): neighbour with the
      LARGEST size; ties break to the neighbour whose first observation
      comes earliest in the raster scan (top-down rows, left-right, and
      within a cell: top, [top-left, top-right,] left). The scan is
      re-expressed as a deterministic position key, so the distributed
      computation reproduces the sequential scan's answer exactly.
    - chain walk (:470-540): a small region whose big neighbour is still
      small follows big-neighbour pointers until a region >= threshold
      (merge the whole chain into it) or a cycle/dead end (keep original
      value). The walk's result is ORDER-INDEPENDENT — each node resolves
      to the first >=threshold region on its unique forward path in the
      functional big-neighbour graph (path-compression shortcuts taken
      through earlier walks land on exactly that region, and cycle nodes
      stay unresolved either way) — so it distributes as pointer doubling.
      Up to `max_small_collect` small regions the walk runs driver-side
      (cheaper: one collect); above it, O(log n) pointer-doubling join
      rounds with eager checkpoints resolve every chain with no
      driver-side data path (a 100 TB noisy raster, where sub-threshold
      regions are the majority, never materializes on the driver).

    Input rows are (bx, by, value) with by increasing UPWARD (row 0 of a
    top-down raster = max by), matching the repo's grid convention.
    """
    spark = cells.sparkSession
    labeled = polygonize(cells, block_bits=block_bits,
                         connect8=connect8).persist()
    sizes = labeled.groupBy("region_id").agg(F.count(F.lit(1)).alias("_n"))
    vals = labeled.groupBy("region_id").agg(F.first("value").alias("_val"))

    ymax, xmax, xmin = labeled.agg(
        F.max("by"), F.max("bx"), F.min("bx")).collect()[0]
    # width/origin from the grid's actual bbox: grids with negative or
    # offset bx must still reproduce the reference's raster scan order
    width = int(xmax) - int(xmin) + 1

    # scan index of a cell: top-down rows ->
    # (ymax - by) * width + (bx - xmin)
    def scan(col_bx, col_by):
        return (F.lit(int(ymax)) - col_by) * width + (col_bx - int(xmin))

    # directed observations at the CURRENT cell, sub-ranked in GDAL's
    # within-cell compare order (gdalsievefilter.cpp second pass loop)
    neigh = [((0, 1), 0)]                      # top (previous raster row)
    if connect8:
        neigh += [((-1, 1), 1), ((1, 1), 2)]   # top-left, top-right
    neigh += [((-1, 0), 3)]                    # left
    a = labeled.select("bx", "by", F.col("region_id").alias("_ra")).alias("a")
    b = labeled.select("bx", "by", F.col("region_id").alias("_rb")).alias("b")
    obs = None
    for (dx, dy), sub in neigh:
        p = a.join(
            b,
            (F.col("a.bx") + dx == F.col("b.bx"))
            & (F.col("a.by") + dy == F.col("b.by"))
            & (F.col("a._ra") != F.col("b._rb")),
        ).select(
            F.col("a._ra").alias("_r"), F.col("b._rb").alias("_nb"),
            (scan(F.col("a.bx"), F.col("a.by")) * 4 + sub).alias("_pos"),
        )
        # the same observation updates BOTH regions at the same position
        p = p.unionByName(p.select(F.col("_nb").alias("_r"),
                                   F.col("_r").alias("_nb"), "_pos"))
        obs = p if obs is None else obs.unionByName(p)
    first_obs = obs.groupBy("_r", "_nb").agg(F.min("_pos").alias("_pos"))
    cand = first_obs.join(
        sizes.select(F.col("region_id").alias("_nb"),
                     F.col("_n").alias("_nbsize")), on="_nb")
    w = Window.partitionBy("_r").orderBy(F.col("_nbsize").desc(),
                                         F.col("_pos").asc())
    bign = (cand.withColumn("_rk", F.row_number().over(w))
            .filter("_rk = 1").select("_r", "_nb"))

    smalldf = (bign.join(sizes.withColumnRenamed("region_id", "_r"), "_r")
               .filter(F.col("_n") < threshold).select("_r", "_nb"))
    n_small = smalldf.count()

    if n_small > max_small_collect:
        m = _resolve_chains_distributed(smalldf, sizes, threshold)
    elif n_small == 0:
        m = None
    else:
        # driver-side chain walk over the small-region graph (reference
        # :470-540); sizes/pointers for small regions + targets only
        small_ids = {r._r: r._nb for r in smalldf.collect()}
        needed = set(small_ids) | set(small_ids.values())
        size_map = {r.region_id: r._n for r in
                    sizes.filter(
                        F.col("region_id").isin(list(needed))).collect()}
        merge: dict = {}
        for poly in sorted(small_ids):
            visited = {poly}
            cur = poly
            found = False
            while True:
                cur = merge.get(cur, small_ids.get(cur, -1))
                if cur == -1:
                    break
                if size_map.get(cur, 0) >= threshold:
                    found = True
                    break
                if cur in visited:
                    break
                visited.add(cur)
            if found:
                # map the whole chain (reference's path compression)
                c2 = poly
                while c2 != cur and c2 != -1:
                    nxt = merge.get(c2, small_ids.get(c2, -1))
                    merge[c2] = cur
                    c2 = nxt
            else:
                merge[poly] = -1
        final = [(r, t) for r, t in merge.items() if t != -1]
        m = (F.broadcast(spark.createDataFrame(
            pd.DataFrame(final), "region_id long, _tgt long")) if final else None)
    if m is None:
        out = labeled
    else:
        out = (
            labeled.join(m, on="region_id", how="left")
            .withColumn("_final", F.coalesce("_tgt", "region_id"))
            .drop("region_id", "value", "_tgt")
            # per-region value map scales with region count -> no hint
            .join(vals.withColumnRenamed("region_id", "_final"), on="_final")
            .select("bx", "by", F.col("_val").alias("value"),
                    F.col("_final").alias("region_id"))
        )
    labeled.unpersist()
    return out


def sieve(cells: DataFrame, threshold: int, connect8: bool = False,
          block_bits: int = 5, iterations: int = 1) -> DataFrame:
    """Remove raster polygons smaller than `threshold` cells by merging
    them into their largest neighbor — GDALSieveFilter semantics
    (/root/reference/alg/gdalsievefilter.cpp:559 entry; "merge with the
    largest neighbour polygon", per its doc comment).

    Pipeline: polygonize (distributed CC) -> region sizes (groupBy) ->
    boundary adjacency (the same shifted-key self-join the CC stitcher
    uses) -> per small region pick the adjacent region with the largest
    size (tie: smallest region_id — deterministic under any partitioning)
    -> relabel value+region. One extra shuffle round over the labeled
    cells; small regions with no neighbor (isolated islands) keep their
    value, as the reference does when no merge target exists.

    iterations: simultaneous one-pass merges can leave a region that is
    still under threshold (A->B while B->C strands A's cells in a small
    B-valued region) — the reference's pointer-chain walk keeps merging
    until every survivor is big (`sieve_gdal` replays that exactly).
    Pass iterations=N to run N passes, or iterations=0 to iterate to the
    FIXPOINT (until a pass merges nothing). Each round re-labels the
    merged value grid and localCheckpoints eagerly (CLAUDE.md iterative-
    loop rule: lineage must truncate or the plan doubles per round).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0 (0 = to fixpoint)")
    if iterations != 1:
        out = _sieve_pass(cells, threshold, connect8, block_bits)
        rounds = 1
        while iterations == 0 or rounds < iterations:
            out = out.localCheckpoint(eager=True)
            nxt = _sieve_pass(out.select("bx", "by", "value"),
                              threshold, connect8, block_bits)
            rounds += 1
            if iterations == 0:
                # fixpoint test: a pass that changes no cell value is
                # stable (region ids may relabel, values cannot)
                changed = (
                    out.select("bx", "by", F.col("value").alias("_pv"))
                    .join(nxt, on=["bx", "by"])
                    .filter(F.col("value") != F.col("_pv")).limit(1).count())
                if not changed:
                    break
                if rounds > 100:
                    raise RuntimeError("sieve: no fixpoint after 100 rounds")
            out = nxt
        return nxt if iterations != 0 else out
    return _sieve_pass(cells, threshold, connect8, block_bits)


def _sieve_pass(cells: DataFrame, threshold: int, connect8: bool = False,
                block_bits: int = 5) -> DataFrame:
    labeled = polygonize(cells, block_bits=block_bits, connect8=connect8)
    labeled = labeled.persist()
    sizes = labeled.groupBy("region_id").agg(F.count(F.lit(1)).alias("_n"))

    a = labeled.select("bx", "by", F.col("region_id").alias("ra")).alias("a")
    b = labeled.select("bx", "by", F.col("region_id").alias("rb")).alias("b")
    neigh = [(1, 0), (0, 1)] + ([(1, 1), (1, -1)] if connect8 else [])
    pairs = None
    for dx, dy in neigh:
        p = a.join(
            b,
            (F.col("a.bx") + dx == F.col("b.bx"))
            & (F.col("a.by") + dy == F.col("b.by"))
            & (F.col("a.ra") != F.col("b.rb")),
        ).select("ra", "rb")
        pairs = p if pairs is None else pairs.unionByName(p)
    adj = pairs.unionByName(pairs.select(F.col("rb").alias("ra"),
                                         F.col("ra").alias("rb"))).distinct()

    small = sizes.filter(F.col("_n") < threshold).select("region_id")
    cand = (
        small.join(adj, small.region_id == adj.ra)
        .join(sizes.select(F.col("region_id").alias("rb"),
                           F.col("_n").alias("nb")), on="rb")
        .select(F.col("ra").alias("region_id"), "rb", "nb")
    )
    w = Window.partitionBy("region_id").orderBy(F.col("nb").desc(),
                                                F.col("rb").asc())
    target = (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter("_rk = 1")
        .select("region_id", F.col("rb").alias("_into"))
    )
    vals = labeled.groupBy("region_id").agg(F.first("value").alias("_tv"))
    # no broadcast hints: `target` scales with the SMALL-region count and
    # `vals` with the total region count — both unbounded at a 100 TB
    # grid; the joins are keyed on region_id either way and AQE upgrades
    # them to broadcasts when the maps actually are small
    out = (
        labeled.join(target, on="region_id", how="left")
        .withColumn("_final", F.coalesce("_into", "region_id"))
        .drop("region_id", "value")
        .join(vals.withColumnRenamed("region_id", "_final"), on="_final")
        .select("bx", "by", F.col("_tv").alias("value"),
                F.col("_final").alias("region_id"))
    )
    return out
