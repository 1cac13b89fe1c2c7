"""Polygonal-coverage validation — `gdal vector check-coverage`.

Reference: apps/gdalalg_vector_check_coverage.cpp (GEOS >= 3.12
CoverageValidator behind GDALVectorCheckCoverageOutputDataset): for a
layer of polygons that should form a valid coverage (no overlaps, shared
boundaries vertex-matched), emit per input feature an ``invalid_edge``
geometry of the boundary portions that violate coverage validity
(autotest/utilities/test_gdalalg_vector_check_coverage.py:31 — the
three-rectangles case with a 0.1 overlap flags exactly the two
overlapping features, the cleanly-abutting one stays valid).

Re-expression (Spark-first, polygon x polygon at data scale — unlike
sjoin's broadcast dimension, BOTH sides here are the big table):

1. polygons arrive relationally as closed coordinate rings
   (``xs``/``ys`` array columns — rows ARE geometries in this engine);
   bboxes are pure Catalyst ``array_min``/``array_max``.
2. candidate pairs come from an integer grid-cell equi-join
   (floor(x / cell_size)) over the bbox cover — hash-partitionable,
   AQE-skew-handled, never all-pairs. Pair dedup is the classic
   REPORT-POINT rule (emit a pair only in the cell that contains the
   bbox-intersection's min corner), so no distinct/groupBy shuffle is
   spent on dedup.
3. the exact kernel (Arrow pandas batches, NumPy inside) classifies
   each boundary segment of ``a`` against neighbor ``b``:
     - exact vertex-matched segments (canonical endpoint equality) are
       VALID shared edges;
     - segments whose midpoint lies strictly inside ``b`` are INVALID
       (overlap);
     - segments collinear-overlapping a ``b`` segment over positive
       length without exact match are INVALID (boundaries must be
       vertex-matched in a valid coverage);
     - segments properly crossing a ``b`` segment are INVALID.
   This classifies the same FEATURES invalid as GEOS CoverageValidator
   on the replayed autotests; unlike GEOS we flag whole input segments
   rather than clipped sub-portions (documented divergence — the
   feature-level verdict and the edge locations agree).
4. one groupBy(poly_id) aggregates the per-feature verdict.

Gap checking (maximum-gap-width, gdalalg_vector_check_coverage.cpp:41)
is `gap_edges` / `check_coverage(max_gap_width=...)`: enclosed uncovered
holes of the neighborhood union narrower (max-inscribed-circle diameter)
than the threshold flag the segments of every bounding polygon lying on
the gap ring. Default 0 = off, the reference's default.

Scale shape: two Exchanges total (pair join + final agg). Hot cells
(dense stacked polygons) are the skew class; cell_size is the knob and
AQE skew-join the runtime backstop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

_PAIR_SCHEMA = ("poly_id long, seg_id int, x1 double, y1 double, "
                "x2 double, y2 double")


def _segments(xs: np.ndarray, ys: np.ndarray):
    """(n,4) array of ring segments [x1,y1,x2,y2]; ring must be closed
    (first == last vertex, the WKB/ring convention everywhere in this
    engine). Zero-length segments are dropped."""
    p1 = np.stack([xs[:-1], ys[:-1]], axis=1)
    p2 = np.stack([xs[1:], ys[1:]], axis=1)
    keep = ~((p1[:, 0] == p2[:, 0]) & (p1[:, 1] == p2[:, 1]))
    return np.concatenate([p1[keep], p2[keep]], axis=1)


def _canon(segs: np.ndarray) -> np.ndarray:
    """Canonical (lexicographically sorted endpoints) form for exact
    shared-edge matching."""
    a = segs[:, 0:2]
    b = segs[:, 2:4]
    swap = (b[:, 0] < a[:, 0]) | ((b[:, 0] == a[:, 0]) & (b[:, 1] < a[:, 1]))
    lo = np.where(swap[:, None], b, a)
    hi = np.where(swap[:, None], a, b)
    return np.concatenate([lo, hi], axis=1)


def _strictly_inside(px, py, xs, ys) -> np.ndarray:
    """Even-odd ray cast, boundary EXCLUDED (GEOS interior test; the
    engine's pip.py implements the reference's boundary-inclusive
    variant, so the strict form lives here)."""
    inside = np.zeros(px.shape, bool)
    onb = np.zeros(px.shape, bool)
    n = len(xs)
    for k in range(n - 1):
        ax, ay, bx, by = xs[k], ys[k], xs[k + 1], ys[k + 1]
        cond = (ay > py) != (by > py)
        if ay != by:
            xi = ax + (py - ay) / (by - ay) * (bx - ax)
            inside ^= cond & (px < xi)
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        onb |= ((cross == 0.0)
                & (px >= min(ax, bx)) & (px <= max(ax, bx))
                & (py >= min(ay, by)) & (py <= max(ay, by)))
    return inside & ~onb


def _classify_pair(sa: np.ndarray, sb: np.ndarray,
                   bxs: np.ndarray, bys: np.ndarray) -> np.ndarray:
    """Invalid mask over a's segments vs neighbor b (segments sb,
    ring bxs/bys). Vectorized n x m segment tests."""
    n = len(sa)
    if n == 0:
        return np.zeros(0, bool)
    ca = _canon(sa)[:, None, :]          # (n,1,4)
    cb = _canon(sb)[None, :, :]          # (1,m,4)
    matched = (ca == cb).all(axis=2).any(axis=1)

    a1x, a1y, a2x, a2y = (sa[:, k][:, None] for k in range(4))
    b1x, b1y, b2x, b2y = (sb[:, k][None, :] for k in range(4))
    dax, day = a2x - a1x, a2y - a1y
    # collinearity of both b endpoints with a's line
    c1 = dax * (b1y - a1y) - day * (b1x - a1x)
    c2 = dax * (b2y - a1y) - day * (b2x - a1x)
    coll = (c1 == 0.0) & (c2 == 0.0)
    # 1-D overlap along the dominant axis of a
    use_x = np.abs(dax) >= np.abs(day)
    alo = np.where(use_x, np.minimum(a1x, a2x), np.minimum(a1y, a2y))
    ahi = np.where(use_x, np.maximum(a1x, a2x), np.maximum(a1y, a2y))
    blo = np.where(use_x, np.minimum(b1x, b2x), np.minimum(b1y, b2y))
    bhi = np.where(use_x, np.maximum(b1x, b2x), np.maximum(b1y, b2y))
    pos_overlap = (np.minimum(ahi, bhi) - np.maximum(alo, blo)) > 0.0
    exact = (ca == cb).all(axis=2)
    coll_bad = (coll & pos_overlap & ~exact).any(axis=1)

    # proper crossing: endpoints of each strictly on opposite sides
    d1 = dax * (b1y - a1y) - day * (b1x - a1x)
    d2 = dax * (b2y - a1y) - day * (b2x - a1x)
    dbx, dby = b2x - b1x, b2y - b1y
    d3 = dbx * (a1y - b1y) - dby * (a1x - b1x)
    d4 = dbx * (a2y - b1y) - dby * (a2x - b1x)
    crossing = (((d1 > 0) != (d2 > 0)) & (d1 != 0) & (d2 != 0)
                & ((d3 > 0) != (d4 > 0)) & (d3 != 0) & (d4 != 0))
    cross_bad = crossing.any(axis=1)

    mx = (sa[:, 0] + sa[:, 2]) * 0.5
    my = (sa[:, 1] + sa[:, 3]) * 0.5
    mid_in = _strictly_inside(mx, my, bxs, bys)

    return ~matched & (mid_in | coll_bad | cross_bad)


def _with_bbox(df: DataFrame, id_col, xs_col, ys_col) -> DataFrame:
    return df.select(
        F.col(id_col).alias("poly_id"),
        F.col(xs_col).alias("xs"), F.col(ys_col).alias("ys"),
        F.array_min(xs_col).alias("xmin"), F.array_max(xs_col).alias("xmax"),
        F.array_min(ys_col).alias("ymin"), F.array_max(ys_col).alias("ymax"))


def _cells(side: DataFrame, cell_size: float,
           expand: float = 0.0) -> DataFrame:
    cs, e = float(cell_size), float(expand)
    return side.withColumn(
        "cx", F.explode(F.sequence(F.floor((F.col("xmin") - e) / cs),
                                   F.floor((F.col("xmax") + e) / cs)))
    ).withColumn(
        "cy", F.explode(F.sequence(F.floor((F.col("ymin") - e) / cs),
                                   F.floor((F.col("ymax") + e) / cs))))


def _candidate_pairs(polys: DataFrame, id_col: str, xs_col: str,
                     ys_col: str, cell_size: float,
                     expand: float = 0.0) -> DataFrame:
    """Both-direction candidate neighbor pairs (poly_id, axs, ays,
    other_id, bxs, bys) from the grid-cell equi-join with bbox-overlap
    pushdown and report-point dedup (a pair is emitted only in the cell
    holding its bbox-intersection's min corner — no distinct shuffle).
    ``expand`` grows every bbox symmetrically — the gap-merge stage
    needs near-but-not-touching neighbors (within the gap width)."""
    base = _with_bbox(polys, id_col, xs_col, ys_col)
    cs, e = float(cell_size), float(expand)
    a = _cells(base, cs, e).alias("a")
    b = _cells(base, cs, e).alias("b")
    pair = a.join(
        b,
        (F.col("a.cx") == F.col("b.cx")) & (F.col("a.cy") == F.col("b.cy"))
        & (F.col("a.poly_id") != F.col("b.poly_id"))
        & (F.col("a.xmin") - e <= F.col("b.xmax") + e)
        & (F.col("b.xmin") - e <= F.col("a.xmax") + e)
        & (F.col("a.ymin") - e <= F.col("b.ymax") + e)
        & (F.col("b.ymin") - e <= F.col("a.ymax") + e)
        & (F.col("a.cx") == F.floor(
            (F.greatest(F.col("a.xmin"), F.col("b.xmin")) - e) / cs))
        & (F.col("a.cy") == F.floor(
            (F.greatest(F.col("a.ymin"), F.col("b.ymin")) - e) / cs)))
    return pair.select(
        F.col("a.poly_id").alias("poly_id"),
        F.col("a.xs").alias("axs"), F.col("a.ys").alias("ays"),
        F.col("b.poly_id").alias("other_id"),
        F.col("b.xs").alias("bxs"), F.col("b.ys").alias("bys"))


#: rings longer than this fall back to the per-pair loop (the padded
#: batch kernel's memory is P_chunk * Smax^2 floats)
_VEC_MAX_SEGS = 256


def _pad_rings(col_x, col_y):
    """Ragged coordinate lists -> padded (P, Vmax, 2) array + per-row
    vertex counts (closure point included). Uniform-length batches (the
    common case — e.g. rect coverages) stack without the Python row
    loop."""
    n = np.fromiter((len(v) for v in col_x), np.int64, len(col_x))
    vmax = int(n.max()) if len(n) else 0
    if len(n) and (n == vmax).all():
        pts = np.empty((len(col_x), vmax, 2), np.float64)
        pts[:, :, 0] = np.concatenate(list(col_x)).reshape(-1, vmax)
        pts[:, :, 1] = np.concatenate(list(col_y)).reshape(-1, vmax)
        return pts, n
    pts = np.zeros((len(col_x), vmax, 2), np.float64)
    for k, (xs, ys) in enumerate(zip(col_x, col_y)):
        m = len(xs)
        pts[k, :m, 0] = xs
        pts[k, :m, 1] = ys
        if m < vmax:          # repeat last vertex: degenerate filler
            pts[k, m:, :] = pts[k, m - 1, :]
    return pts, n


def _classify_block(pa, na, pb, nb):
    """Vectorized _classify_pair over a BLOCK of pairs: pa/pb are
    padded vertex arrays (P, V, 2), na/nb the true vertex counts.
    Padding repeats the closure vertex, so filler segments are
    zero-length and masked out. Returns (P, Sa) invalid masks plus the
    (P, Sa, 4) segment array. One Python loop over ring slots (bounded
    by _VEC_MAX_SEGS), everything else broadcast across pairs."""
    P, Va, _ = pa.shape
    Vb = pb.shape[1]
    sa = np.concatenate([pa[:, :-1, :], pa[:, 1:, :]], axis=2)  # (P,Sa,4)
    sb = np.concatenate([pb[:, :-1, :], pb[:, 1:, :]], axis=2)
    va = ((sa[:, :, 0] != sa[:, :, 2]) | (sa[:, :, 1] != sa[:, :, 3]))
    vb = ((sb[:, :, 0] != sb[:, :, 2]) | (sb[:, :, 1] != sb[:, :, 3]))
    va &= np.arange(Va - 1)[None, :] < (na - 1)[:, None]
    vb &= np.arange(Vb - 1)[None, :] < (nb - 1)[:, None]

    def canon(s):
        a, b = s[..., 0:2], s[..., 2:4]
        swap = (b[..., 0] < a[..., 0]) | (
            (b[..., 0] == a[..., 0]) & (b[..., 1] < a[..., 1]))
        lo = np.where(swap[..., None], b, a)
        hi = np.where(swap[..., None], a, b)
        return np.concatenate([lo, hi], axis=-1)

    ca = canon(sa)[:, :, None, :]          # (P,Sa,1,4)
    cb = canon(sb)[:, None, :, :]          # (P,1,Sb,4)
    pairmask = va[:, :, None] & vb[:, None, :]
    exact = (ca == cb).all(axis=3) & pairmask
    matched = exact.any(axis=2)

    a1x = sa[:, :, 0][:, :, None]
    a1y = sa[:, :, 1][:, :, None]
    dax = (sa[:, :, 2] - sa[:, :, 0])[:, :, None]
    day = (sa[:, :, 3] - sa[:, :, 1])[:, :, None]
    b1x = sb[:, :, 0][:, None, :]
    b1y = sb[:, :, 1][:, None, :]
    b2x = sb[:, :, 2][:, None, :]
    b2y = sb[:, :, 3][:, None, :]
    d1 = dax * (b1y - a1y) - day * (b1x - a1x)
    d2 = dax * (b2y - a1y) - day * (b2x - a1x)
    coll = (d1 == 0.0) & (d2 == 0.0)
    use_x = np.abs(dax) >= np.abs(day)
    a2x = sa[:, :, 2][:, :, None]
    a2y = sa[:, :, 3][:, :, None]
    alo = np.where(use_x, np.minimum(a1x, a2x), np.minimum(a1y, a2y))
    ahi = np.where(use_x, np.maximum(a1x, a2x), np.maximum(a1y, a2y))
    blo = np.where(use_x, np.minimum(b1x, b2x), np.minimum(b1y, b2y))
    bhi = np.where(use_x, np.maximum(b1x, b2x), np.maximum(b1y, b2y))
    pos_overlap = (np.minimum(ahi, bhi) - np.maximum(alo, blo)) > 0.0
    coll_bad = (coll & pos_overlap & ~exact & pairmask).any(axis=2)

    dbx = b2x - b1x
    dby = b2y - b1y
    d3 = dbx * (a1y - b1y) - dby * (a1x - b1x)
    d4 = dbx * (a2y - b1y) - dby * (a2x - b1x)
    crossing = (((d1 > 0) != (d2 > 0)) & (d1 != 0) & (d2 != 0)
                & ((d3 > 0) != (d4 > 0)) & (d3 != 0) & (d4 != 0))
    cross_bad = (crossing & pairmask).any(axis=2)

    # midpoint strictly inside b: ray cast + boundary test, one Python
    # loop over b's ring slots, broadcast over (P, Sa)
    mx = (sa[:, :, 0] + sa[:, :, 2]) * 0.5
    my = (sa[:, :, 1] + sa[:, :, 3]) * 0.5
    inside = np.zeros(mx.shape, bool)
    onb = np.zeros(mx.shape, bool)
    for k in range(Vb - 1):
        alive = (k < nb - 1)[:, None]
        ax, ay = pb[:, k, 0][:, None], pb[:, k, 1][:, None]
        bx, by = pb[:, k + 1, 0][:, None], pb[:, k + 1, 1][:, None]
        cond = (ay > my) != (by > my)
        dy = by - ay
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = ax + (my - ay) / np.where(dy == 0, 1.0, dy) * (bx - ax)
        inside ^= alive & cond & (dy != 0) & (mx < xi)
        cross = (bx - ax) * (my - ay) - dy * (mx - ax)
        onb |= alive & ((cross == 0.0)
                        & (mx >= np.minimum(ax, bx))
                        & (mx <= np.maximum(ax, bx))
                        & (my >= np.minimum(ay, by))
                        & (my <= np.maximum(ay, by)))
    mid_in = inside & ~onb

    bad = va & ~matched & (mid_in | coll_bad | cross_bad)
    return bad, sa


def invalid_edges(polys: DataFrame, id_col: str = "poly_id",
                  xs_col: str = "xs", ys_col: str = "ys",
                  cell_size: float = 1.0) -> DataFrame:
    """(poly_id, seg_id, x1, y1, x2, y2) for every boundary segment that
    violates coverage validity — the row form of the reference's
    ``invalid_edge`` layer. ``seg_id`` is the segment's index along the
    ring, so results are deterministic and partition-independent.

    The pair kernel is fully vectorized across pairs (padded block
    broadcasting, chunked so a block holds ~16M segment-pair lanes);
    rings longer than _VEC_MAX_SEGS fall back to the per-pair loop."""
    from ..session import ship_package

    ship_package(polys.sparkSession)
    pair = _candidate_pairs(polys, id_col, xs_col, ys_col, cell_size)

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[
                    "poly_id", "seg_id", "x1", "y1", "x2", "y2"])
                continue
            pa, nva = _pad_rings(pdf["axs"].to_numpy(),
                                 pdf["ays"].to_numpy())
            pb, nvb = _pad_rings(pdf["bxs"].to_numpy(),
                                 pdf["bys"].to_numpy())
            big = ((nva > _VEC_MAX_SEGS) | (nvb > _VEC_MAX_SEGS))
            ids = pdf["poly_id"].to_numpy(np.int64)
            frames = []
            small = np.nonzero(~big)[0]
            if small.size:
                sm_a, sm_b = pa[small], pb[small]
                lanes = (sm_a.shape[1] - 1) * max(1, sm_b.shape[1] - 1)
                chunk = max(1, (1 << 24) // max(1, lanes))
                for lo in range(0, small.size, chunk):
                    sl = slice(lo, lo + chunk)
                    bad, sa = _classify_block(
                        sm_a[sl], nva[small][sl],
                        sm_b[sl], nvb[small][sl])
                    pi, si = np.nonzero(bad)
                    if pi.size:
                        frames.append(pd.DataFrame({
                            "poly_id": ids[small][sl][pi],
                            "seg_id": si.astype(np.int32),
                            "x1": sa[pi, si, 0], "y1": sa[pi, si, 1],
                            "x2": sa[pi, si, 2], "y2": sa[pi, si, 3]}))
            for k in np.nonzero(big)[0]:
                axs = np.asarray(pdf["axs"].iloc[k], np.float64)
                ays = np.asarray(pdf["ays"].iloc[k], np.float64)
                bxs = np.asarray(pdf["bxs"].iloc[k], np.float64)
                bys = np.asarray(pdf["bys"].iloc[k], np.float64)
                sa1 = _segments(axs, ays)
                sb1 = _segments(bxs, bys)
                badk = _classify_pair(sa1, sb1, bxs, bys)
                sid = np.nonzero(badk)[0]
                if sid.size:
                    frames.append(pd.DataFrame({
                        "poly_id": np.full(sid.size, ids[k]),
                        "seg_id": sid.astype(np.int32),
                        "x1": sa1[sid, 0], "y1": sa1[sid, 1],
                        "x2": sa1[sid, 2], "y2": sa1[sid, 3]}))
            if frames:
                yield pd.concat(frames, ignore_index=True)
            else:
                yield pd.DataFrame(columns=[
                    "poly_id", "seg_id", "x1", "y1", "x2", "y2"])

    edges = pair.mapInPandas(kern, _PAIR_SCHEMA)
    # a segment can be flagged by several neighbors -> one row per seg
    return edges.groupBy("poly_id", "seg_id").agg(
        F.min("x1").alias("x1"), F.min("y1").alias("y1"),
        F.min("x2").alias("x2"), F.min("y2").alias("y2"))


_CHAIN_SCHEMA = ("lox double, loy double, hix double, hiy double, "
                 "chain string, cxs array<double>, cys array<double>, "
                 "oxs array<double>, oys array<double>")


def _walk_chains(edges: np.ndarray, own_key: str, tolerance: float):
    """Within one owner-set group: assemble the canonical edges into
    maximal paths through degree-2 vertices, Douglas-Peucker each path
    with PINNED endpoints, and return per-edge rows
    (edge canonical cols, chain id, simplified chain polyline).

    Cycles (a ring entirely inside one owner set — an isolated polygon
    or an island) anchor at the lexicographically smallest vertex plus
    the vertex farthest from it, so the ring cannot collapse and the
    result is partition- and traversal-order independent."""
    from ..geo.simplify import douglas_peucker_np

    pts = {}          # vertex -> incident edge indices
    for k, e in enumerate(edges):
        for v in ((e[0], e[1]), (e[2], e[3])):
            pts.setdefault(v, []).append(k)
    visited = np.zeros(len(edges), bool)
    out = []

    def other(e, v):
        return (e[2], e[3]) if (e[0], e[1]) == v else (e[0], e[1])

    def next_edge(v, cur):
        inc = pts[v]
        if len(inc) != 2:
            return None
        nxt = inc[0] if inc[1] == cur else inc[1]
        return None if visited[nxt] else nxt

    # deterministic start order: lexicographic over canonical edges
    order = np.lexsort((edges[:, 3], edges[:, 2], edges[:, 1],
                        edges[:, 0]))
    chain_n = 0
    for k0 in order:
        if visited[k0]:
            continue
        # grow a path both ways from edge k0
        path = [k0]
        visited[k0] = True
        ends = [(edges[k0][0], edges[k0][1]), (edges[k0][2], edges[k0][3])]
        for side in (0, 1):
            v = ends[side]
            cur = path[0] if side == 0 else path[-1]
            while True:
                nxt = next_edge(v, cur)
                if nxt is None:
                    break
                visited[nxt] = True
                if side == 0:
                    path.insert(0, nxt)
                else:
                    path.append(nxt)
                v = other(edges[nxt], v)
                cur = nxt
                ends[side] = v
        # order vertices along the path
        verts = [ends[0]]
        v = ends[0]
        for k in path:
            v = other(edges[k], v)
            verts.append(v)
        is_cycle = verts[0] == verts[-1] and len(verts) > 2
        if is_cycle:
            ring = verts[:-1]
            a0 = min(range(len(ring)), key=lambda i: ring[i])
            ring = ring[a0:] + ring[:a0]
            arr = np.asarray(ring + [ring[0]], np.float64)
            d = np.hypot(arr[:, 0] - arr[0, 0], arr[:, 1] - arr[0, 1])
            far = int(np.argmax(d))
            half1 = douglas_peucker_np(arr[:far + 1], tolerance)
            half2 = douglas_peucker_np(arr[far:], tolerance)
            simp = np.concatenate([half1, half2[1:]], axis=0)
        else:
            simp = douglas_peucker_np(np.asarray(verts, np.float64),
                                      tolerance)
        cid = f"{own_key}#{chain_n}"
        chain_n += 1
        cxs = simp[:, 0].tolist()
        cys = simp[:, 1].tolist()
        # original (unsimplified) chain polyline — carried on the FIRST
        # edge row only, so the per-edge payload stays O(simplified) and
        # a long chain never multiplies its own vertex list
        orig = (np.asarray(arr, np.float64) if is_cycle
                else np.asarray(verts, np.float64))
        oxs = orig[:, 0].tolist()
        oys = orig[:, 1].tolist()
        for j, k in enumerate(path):
            e = edges[k]
            out.append((float(e[0]), float(e[1]), float(e[2]),
                        float(e[3]), cid, cxs, cys,
                        oxs if j == 0 else None,
                        oys if j == 0 else None))
    return out


def _uncross_chains(uniq: DataFrame):
    """Cross-chain crossing re-check (GEOS CoverageSimplifier's corrected
    variant, TPVWSimplifier's edge-index guard re-expressed post-hoc):
    detect any contact between segments of DIFFERENT simplified chains
    (or non-adjacent contact within one chain) that is not a shared
    endpoint vertex, and revert every chain involved to its ORIGINAL
    vertex run. Reverting is iterated to a fixed point — an original
    chain cannot cross another original chain (the input coverage is
    valid), but a still-simplified chain can cross a reverted one. Each
    round moves at least one chain from simplified to original and
    stops when none is left to move, so the loop ends after at most
    (number of chains + 1) rounds, even on an invalid input.

    Coarser than GEOS (whole-chain revert instead of per-vertex
    reinstatement — strictly more conservative: the output stays a valid
    coverage, some chains keep more vertices than GEOS would). The
    detection is pure Catalyst column math over a grid-cell pair join,
    so the revert SET is deterministic and partition-independent. Its
    orientation tests are plain double-precision sign tests, so the
    validity claim assumes they decide every contact: a crossing closer
    than rounding to degenerate can be missed.

    ``uniq``: (chain, cxs, cys, oxs, oys), one row per chain.
    Returns the fixed (chain, cxs, cys) DataFrame, or None when the
    first round finds no crossing (caller keeps its unmodified plan)."""
    first = True
    uniq = uniq.withColumn("_orig", F.lit(False))
    while True:
        seg = (uniq.select(
            "chain",
            F.posexplode(F.transform(
                F.sequence(F.lit(0), F.size("cxs") - 2),
                lambda i: F.struct(
                    F.col("cxs")[i].alias("ax"),
                    F.col("cys")[i].alias("ay"),
                    F.col("cxs")[i + 1].alias("bx"),
                    F.col("cys")[i + 1].alias("by"))))
            .alias("i", "s"))
            .select("chain", "i", "s.ax", "s.ay", "s.bx", "s.by")
            .filter((F.col("ax") != F.col("bx"))
                    | (F.col("ay") != F.col("by"))))
        # grid cell size from the data: the longest segment bbox side,
        # so every segment covers at most 2x2 cells (one tiny job)
        cs = seg.agg(F.max(F.greatest(
            F.abs(F.col("bx") - F.col("ax")),
            F.abs(F.col("by") - F.col("ay"))))).first()[0]
        if cs is None or cs <= 0.0:
            return None if first else uniq.select("chain", "cxs", "cys")
        cells = (seg
                 .withColumn("cx", F.explode(F.sequence(
                     F.floor(F.least("ax", "bx") / cs),
                     F.floor(F.greatest("ax", "bx") / cs))))
                 .withColumn("cy", F.explode(F.sequence(
                     F.floor(F.least("ay", "by") / cs),
                     F.floor(F.greatest("ay", "by") / cs)))))
        # self-join with RENAMED right-side columns — a plain alias()
        # self-join on identical lineage is ambiguity-prone (Spark can
        # resolve both sides to the same attribute)
        a = cells
        b = cells.select([F.col(c).alias("r_" + c) for c in
                          ["chain", "i", "ax", "ay", "bx", "by",
                           "cx", "cy"]])
        A = F.col
        B = lambda c: F.col("r_" + c)  # noqa: E731
        pairs = a.join(b, on=(
            (A("cx") == B("cx")) & (A("cy") == B("cy"))
            & ((A("chain") < B("chain"))
               | ((A("chain") == B("chain")) & (A("i") < B("i"))))))
        ax, ay, bx, by = A("ax"), A("ay"), A("bx"), A("by")
        cx, cy, dx, dy = B("ax"), B("ay"), B("bx"), B("by")
        d1 = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        d2 = (bx - ax) * (dy - ay) - (by - ay) * (dx - ax)
        d3 = (dx - cx) * (ay - cy) - (dy - cy) * (ax - cx)
        d4 = (dx - cx) * (by - cy) - (dy - cy) * (bx - cx)
        proper = (d1 * d2 < 0) & (d3 * d4 < 0)

        def on_seg(px, py, d, x1, y1, x2, y2):
            return ((d == 0)
                    & (px >= F.least(x1, x2)) & (px <= F.greatest(x1, x2))
                    & (py >= F.least(y1, y2)) & (py <= F.greatest(y1, y2)))

        def is_pt(px, py, qx, qy):
            return (px == qx) & (py == qy)

        interior = (
            (on_seg(cx, cy, d1, ax, ay, bx, by)
             & ~is_pt(cx, cy, ax, ay) & ~is_pt(cx, cy, bx, by))
            | (on_seg(dx, dy, d2, ax, ay, bx, by)
               & ~is_pt(dx, dy, ax, ay) & ~is_pt(dx, dy, bx, by))
            | (on_seg(ax, ay, d3, cx, cy, dx, dy)
               & ~is_pt(ax, ay, cx, cy) & ~is_pt(ax, ay, dx, dy))
            | (on_seg(bx, by, d4, cx, cy, dx, dy)
               & ~is_pt(bx, by, cx, cy) & ~is_pt(bx, by, dx, dy)))
        dup = ((is_pt(ax, ay, cx, cy) & is_pt(bx, by, dx, dy))
               | (is_pt(ax, ay, dx, dy) & is_pt(bx, by, cx, cy)))
        bad = pairs.filter(proper | interior | dup)
        # only chains still simplified move; an original one has no
        # other vertex run to fall back to
        revert = (bad.select(A("chain").alias("chain"))
                  .union(bad.select(B("chain").alias("chain")))
                  .join(uniq.filter(~F.col("_orig")).select("chain"), "chain")
                  .distinct())
        if revert.count() == 0:
            return None if first else uniq.select("chain", "cxs", "cys")
        first = False
        uniq = (uniq.join(revert.withColumn("_rv", F.lit(True)),
                          "chain", "left")
                .select("chain",
                        F.when(F.col("_rv"), F.col("oxs"))
                         .otherwise(F.col("cxs")).alias("cxs"),
                        F.when(F.col("_rv"), F.col("oys"))
                         .otherwise(F.col("cys")).alias("cys"),
                        "oxs", "oys",
                        (F.col("_orig") | F.col("_rv").isNotNull())
                        .alias("_orig"))
                .localCheckpoint())


def simplify_coverage(polys: DataFrame, tolerance: float,
                      id_col: str = "poly_id", xs_col: str = "xs",
                      ys_col: str = "ys",
                      crossing_recheck: bool = True) -> DataFrame:
    """`gdal vector simplify-coverage`
    (apps/gdalalg_vector_simplify_coverage.cpp / GEOS 3.12
    CoverageSimplifier): topology-aware simplification where a boundary
    shared by two polygons is simplified ONCE and both neighbors get
    the identical simplified arc, so the coverage stays gap/sliver-free.

    Distributed shape:
      1. ring -> directed segment rows (pure Catalyst posexplode);
      2. groupBy canonical edge -> owner set (one bounded shuffle);
      3. applyInPandas per OWNER-SET group: edges with identical owner
         sets form the arcs between coverage nodes (a vertex where the
         owner set changes terminates the path by construction, exactly
         GEOS's ring-intersection nodes), so chain assembly + pinned
         Douglas-Peucker is group-local — groups are pair-boundary
         sized, never corpus-sized;
      4. join chains back to the per-polygon segment sequence and
         rebuild each ring in pos order (one groupBy(poly_id)).

    ``crossing_recheck`` (default on) runs the cross-chain crossing
    re-check after DP (`_uncross_chains`): any chain whose simplified
    run contacts another chain beyond shared endpoint vertices reverts
    to its original vertices, iterated to a fixed point — coarser than
    GEOS's per-vertex reinstatement (documented), but the output is a
    valid coverage (up to the double-precision sign tests the re-check
    uses; see `_uncross_chains`). The clean case costs one cheap probe job
    over the simplified chain segments and leaves results unchanged;
    the reference autotest's assertions (feature count preserved, point
    count reduced) replay in tests/test_coverage.py on the reference's
    own poly.shp.

    Returns (poly_id, xs, ys) simplified closed rings."""
    from ..session import ship_package

    ship_package(polys.sparkSession)
    tol = float(tolerance)
    n = F.size(xs_col)
    seg = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.struct(
            F.col(xs_col)[i].alias("ax"), F.col(ys_col)[i].alias("ay"),
            F.col(xs_col)[i + 1].alias("bx"),
            F.col(ys_col)[i + 1].alias("by")))
    segs = (polys.select(F.col(id_col).alias("poly_id"),
                         F.posexplode(seg).alias("pos", "s"))
            .select("poly_id", "pos", "s.ax", "s.ay", "s.bx", "s.by")
            .filter((F.col("ax") != F.col("bx"))
                    | (F.col("ay") != F.col("by"))))
    swap = (F.col("bx") < F.col("ax")) | (
        (F.col("bx") == F.col("ax")) & (F.col("by") < F.col("ay")))
    segs = (segs
            .withColumn("lox", F.when(swap, F.col("bx"))
                        .otherwise(F.col("ax")))
            .withColumn("loy", F.when(swap, F.col("by"))
                        .otherwise(F.col("ay")))
            .withColumn("hix", F.when(swap, F.col("ax"))
                        .otherwise(F.col("bx")))
            .withColumn("hiy", F.when(swap, F.col("ay"))
                        .otherwise(F.col("by"))))
    owners = (segs.groupBy("lox", "loy", "hix", "hiy")
              .agg(F.concat_ws(
                  "_", F.sort_array(F.collect_set("poly_id")))
                  .alias("own_key")))

    # per-group work is tiny (a pair boundary), so per-group
    # applyInPandas calls would dominate the wall at millions of
    # owner-sets; instead hash-co-locate the key and run ONE pandas
    # kernel per partition with a vectorized groupby inside (measured
    # ~4x on the 500k-rect probe, BENCH/VOLUME.md)
    cols = ["lox", "loy", "hix", "hiy"]

    def chains_part(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            yield pd.DataFrame(columns=cols + ["chain", "cxs", "cys", "oxs", "oys"])
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        rows = []
        for key, g in pdf.groupby("own_key", sort=False):
            rows.extend(_walk_chains(g[cols].to_numpy(np.float64),
                                     str(key), tol))
            if len(rows) >= 65536:
                yield pd.DataFrame(rows, columns=cols
                                   + ["chain", "cxs", "cys",
                                      "oxs", "oys"])
                rows = []
        yield pd.DataFrame(rows, columns=cols + ["chain", "cxs", "cys", "oxs", "oys"])

    chains = (owners.repartition("own_key")
              .mapInPandas(chains_part, _CHAIN_SCHEMA))
    if crossing_recheck:
        # materialize once: the re-check probe runs actions against the
        # chain walk, and the rebuild join below reads it again
        chains = chains.localCheckpoint()
        fixed = _uncross_chains(
            chains.filter(F.col("oxs").isNotNull())
                  .select("chain", "cxs", "cys", "oxs", "oys"))
        if fixed is not None:
            chains = (chains.drop("cxs", "cys", "oxs", "oys")
                      .join(fixed, "chain"))
        else:
            chains = chains.drop("oxs", "oys")
    else:
        chains = chains.drop("oxs", "oys")

    joined = segs.join(chains, cols)

    def _rebuild_ring(rows):
        xs_out = []
        ys_out = []
        i = 0
        # the ring's (arbitrary) start vertex may fall mid-chain,
        # splitting that chain into a head run and a tail run — rotate
        # so the ring starts at a chain boundary (a no-op when the
        # whole ring is one cycle chain)
        if rows and rows[0]["chain"] == rows[-1]["chain"]:
            for k in range(1, len(rows)):
                if rows[k]["chain"] != rows[k - 1]["chain"]:
                    rows = rows[k:] + rows[:k]
                    break
        while i < len(rows):
            r = rows[i]
            cid = r["chain"]
            # extent of this consecutive run of the same chain
            j = i
            while j + 1 < len(rows) and rows[j + 1]["chain"] == cid:
                j += 1
            cxs = list(rows[i]["cxs"])
            cys = list(rows[i]["cys"])
            start = (rows[i]["ax"], rows[i]["ay"])
            end = (rows[j]["bx"], rows[j]["by"])
            if (cxs[0], cys[0]) == start and (cxs[-1], cys[-1]) == end:
                pass
            elif (cxs[-1], cys[-1]) == start and (cxs[0], cys[0]) == end:
                cxs.reverse()
                cys.reverse()
            # else: full-cycle chain (start == end, or the traversal
            # start was an interior vertex DP removed) — keep the
            # anchored orientation; ring equality up to rotation is
            # fine for a full-ring chain.
            skip_first = bool(xs_out) and (xs_out[-1], ys_out[-1]) == (
                cxs[0], cys[0])
            xs_out.extend(cxs[1:] if skip_first else cxs)
            ys_out.extend(cys[1:] if skip_first else cys)
            i = j + 1
        # close the ring
        if xs_out and (xs_out[0], ys_out[0]) != (xs_out[-1], ys_out[-1]):
            xs_out.append(xs_out[0])
            ys_out.append(ys_out[0])
        return xs_out, ys_out

    def rebuild_part(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            yield pd.DataFrame(columns=["poly_id", "xs", "ys"])
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values(
            ["poly_id", "pos"])
        out = []
        for pid, g in pdf.groupby("poly_id", sort=False):
            xs_out, ys_out = _rebuild_ring(g.to_dict("records"))
            out.append((int(pid), xs_out, ys_out))
            if len(out) >= 65536:
                yield pd.DataFrame(out, columns=["poly_id", "xs", "ys"])
                out = []
        yield pd.DataFrame(out, columns=["poly_id", "xs", "ys"])

    return (joined.repartition("poly_id")
            .mapInPandas(rebuild_part,
                         "poly_id long, xs array<double>, ys array<double>"))


def _closed(r) -> np.ndarray:
    """clip.py hands back OPEN rings — close before shoelace/segments."""
    r = np.asarray(r, np.float64)
    if len(r) and (r[0] != r[-1]).any():
        r = np.vstack([r, r[:1]])
    return r


def _poly_area(polys_list) -> float:
    """Signed-ring area sum per polygon (holes wound opposite subtract),
    abs per polygon — OGR_G_Area semantics over clip.py's ring lists."""
    total = 0.0
    for rings in polys_list:
        s = 0.0
        for r in rings:
            r = _closed(r)
            x, y = r[:, 0], r[:, 1]
            s += 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
        total += abs(s)
    return total


def _seg_mask_on_ring(segs: np.ndarray, ring_xs, ring_ys,
                      scale: float) -> np.ndarray:
    """Boolean mask over ``segs`` (N,4): segment midpoint collinear-with
    and inside some segment of the given ring (eps-scaled for the
    split-point rounding clip.py introduces)."""
    eps = 1e-9 * scale * scale
    ring = _segments(np.asarray(ring_xs, np.float64),
                     np.asarray(ring_ys, np.float64))
    mx = (segs[:, 0] + segs[:, 2]) * 0.5
    my = (segs[:, 1] + segs[:, 3]) * 0.5
    ax, ay = ring[:, 0][None, :], ring[:, 1][None, :]
    bx, by = ring[:, 2][None, :], ring[:, 3][None, :]
    cross = ((bx - ax) * (my[:, None] - ay)
             - (by - ay) * (mx[:, None] - ax))
    within = ((mx[:, None] >= np.minimum(ax, bx) - 1e-12)
              & (mx[:, None] <= np.maximum(ax, bx) + 1e-12)
              & (my[:, None] >= np.minimum(ay, by) - 1e-12)
              & (my[:, None] <= np.maximum(ay, by) + 1e-12))
    on = (np.abs(cross) <= eps) & within
    return on.any(axis=1)


def _border_len(piece_polys, ring_xs, ring_ys, scale) -> float:
    """Length of the piece's boundary lying on the given ring — the
    longest-border merge metric."""
    segs = np.concatenate(
        [_segments(_closed(r)[:, 0], _closed(r)[:, 1])
         for rings in piece_polys for r in rings], axis=0)
    hit = _seg_mask_on_ring(segs, ring_xs, ring_ys, scale)
    lens = np.hypot(segs[:, 2] - segs[:, 0], segs[:, 3] - segs[:, 1])
    return float(lens[hit].sum())


def _mic_diameter(ring: np.ndarray, iters: int = 6,
                  grid: int = 16) -> float:
    """Maximum-inscribed-circle diameter of a simple ring — the gap
    width measure (GEOS CoverageGapFinder classifies a face as a gap
    when its inscribed width is under the threshold). Deterministic
    refine-around-argmax grid search: each round shrinks the window to
    one cell of the previous grid, so resolution improves by grid/2 per
    round — plenty against the driver fixtures' >=2x width margins."""
    r = _closed(np.asarray(ring, np.float64))
    xs, ys = r[:, 0], r[:, 1]
    segs = _segments(xs, ys)
    ax, ay, bx, by = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy

    def boundary_dist(px, py):
        t = ((px[:, None] - ax) * dx + (py[:, None] - ay) * dy) / L2
        t = np.clip(t, 0.0, 1.0)
        qx, qy = ax + t * dx, ay + t * dy
        return np.sqrt(np.min((px[:, None] - qx) ** 2
                              + (py[:, None] - qy) ** 2, axis=1))

    x0, x1 = float(xs.min()), float(xs.max())
    y0, y1 = float(ys.min()), float(ys.max())
    best, bx_, by_ = 0.0, 0.5 * (x0 + x1), 0.5 * (y0 + y1)
    for _ in range(iters):
        gx = np.linspace(x0, x1, grid)
        gy = np.linspace(y0, y1, grid)
        X, Y = np.meshgrid(gx, gy)
        px, py = X.ravel(), Y.ravel()
        inside = _strictly_inside(px, py, xs, ys)
        if inside.any():
            d = np.where(inside, boundary_dist(px, py), -1.0)
            k = int(np.argmax(d))
            if d[k] > best:
                best, bx_, by_ = float(d[k]), float(px[k]), float(py[k])
        wx = (x1 - x0) / (grid - 1)
        wy = (y1 - y0) / (grid - 1)
        x0, x1 = bx_ - wx, bx_ + wx
        y0, y1 = by_ - wy, by_ + wy
    return 2.0 * best


def _merge_gaps(cleaned: DataFrame, polys: DataFrame, id_col: str,
                xs_col: str, ys_col: str, cell_size: float,
                gw: float) -> DataFrame:
    """Gap-merge stage of clean-coverage (maximum-gap-width > 0,
    gdalalg_vector_clean_coverage.cpp / GEOS CoverageCleaner): a gap is
    an enclosed uncovered face — a HOLE of the union of a polygon with
    its (gap-width-expanded bbox) neighborhood — whose inscribed width
    is under the threshold; it merges into the bounding polygon sharing
    the longest border (ties to the lower id).

    Distributed shape: every bounding polygon discovers the same gap
    from its own neighborhood union (the bounding set is mutually
    bbox-near, so each union contains the identical face); discoveries
    agree on the winner, and the winner-side union is idempotent, so
    duplicates are collapsed by an exact ring key with no cross-
    neighborhood coordination. Gaps whose bounding polygons are NOT
    mutually within the expanded-bbox join (a narrow channel much
    longer than the gap width, bounded by distant polygons) are not
    detected — documented divergence from GEOS's whole-coverage noding;
    the reference's own gap autotest (the circles fixture) replays
    exactly (tests/test_coverage.py)."""
    from ..geo import clip as _clip
    from ..geo import wkb as _wkb

    spark = cleaned.sparkSession
    pairs = _candidate_pairs(polys, id_col, xs_col, ys_col, cell_size,
                             expand=gw).select("poly_id", "other_id")
    geo = cleaned.select("poly_id", "geometry")
    nbr = pairs.join(
        geo.select(F.col("poly_id").alias("other_id"),
                   F.col("geometry").alias("b_geom")), "other_id")
    grouped = nbr.groupBy("poly_id").agg(
        F.array_sort(F.collect_list(
            F.struct("other_id", "b_geom"))).alias("nbrs"))
    # left join: an isolated polygon still gap-checks its own holes
    work = geo.join(grouped, "poly_id", "left")

    def find_gaps(batches):
        for pdf in batches:
            rows = []
            for pid, geom, nbrs in zip(pdf["poly_id"], pdf["geometry"],
                                       pdf["nbrs"]):
                kind, data = _wkb.decode(bytes(geom))
                apolys = _clip.as_polys(kind, data)
                if not apolys:
                    continue
                cand = [(int(pid), apolys)]
                ukind, udata = kind, data
                if nbrs is not None:
                    for nb in nbrs:   # array_sort -> ascending other_id
                        k2, d2 = _wkb.decode(bytes(nb["b_geom"]))
                        bp = _clip.as_polys(k2, d2)
                        if not bp:
                            continue
                        cand.append((int(nb["other_id"]), bp))
                        ukind, udata = _clip.overlay(ukind, udata,
                                                     k2, d2, "union")
                upolys = _clip.as_polys(ukind, udata)
                scale = max(
                    (float(np.abs(np.asarray(r)).max())
                     for rings in upolys for r in rings), default=1.0)
                scale = max(scale, 1.0)
                for rings in upolys:
                    for h in rings[1:]:
                        hr = _closed(np.asarray(h, np.float64))
                        lens = []
                        for oid, op_ in cand:
                            bl = sum(
                                _border_len([[hr]], rr[:, 0], rr[:, 1],
                                            scale)
                                for rings2 in op_
                                for rr in map(_closed, rings2))
                            if bl > 0.0:
                                lens.append((-bl, oid))
                        if not any(o == int(pid) for _, o in lens):
                            continue   # gap not bounded by this poly
                        if _mic_diameter(hr) >= gw:
                            continue
                        lens.sort()
                        winner = lens[0][1]
                        x2, y2 = hr[:, 0], hr[:, 1]
                        kx = float(x2.min())
                        ky = float(y2[x2 == x2.min()].min())
                        area = abs(0.5 * float(
                            np.sum(x2[:-1] * y2[1:] - x2[1:] * y2[:-1])))
                        gkey = f"{kx:.9e}:{ky:.9e}:{area:.6e}:{len(hr)}"
                        rows.append((gkey, int(winner),
                                     [float(v) for v in x2],
                                     [float(v) for v in y2]))
            yield pd.DataFrame(rows, columns=[
                "gkey", "winner", "gxs", "gys"])

    gaps = work.mapInPandas(
        find_gaps, "gkey string, winner long, gxs array<double>, "
                   "gys array<double>")
    # every discoverer computes the identical row; keep one per key
    one = gaps.groupBy("gkey").agg(
        F.min(F.struct("winner", "gxs", "gys")).alias("g"))
    per_winner = one.select(F.col("g.winner").alias("poly_id"),
                            F.col("g.gxs").alias("gxs"),
                            F.col("g.gys").alias("gys"))
    per_winner = per_winner.groupBy("poly_id").agg(
        F.array_sort(F.collect_list(
            F.struct("gxs", "gys"))).alias("gaps"))
    merged = cleaned.join(per_winner, "poly_id", "left")

    def apply_gaps(batches):
        for pdf in batches:
            rows = []
            for pid, geom, area, nparts, gaps_ in zip(
                    pdf["poly_id"], pdf["geometry"], pdf["area"],
                    pdf["n_parts"], pdf["gaps"]):
                if gaps_ is None or not len(gaps_):
                    rows.append((int(pid), bytes(geom), float(area),
                                 int(nparts)))
                    continue
                kind, data = _wkb.decode(bytes(geom))
                for gp in gaps_:
                    ring = np.stack(
                        [np.asarray(gp["gxs"], np.float64),
                         np.asarray(gp["gys"], np.float64)], axis=1)
                    kind, data = _clip.overlay(kind, data, "polygon",
                                               [ring], "union")
                plist = _clip.as_polys(kind, data)
                rows.append((int(pid),
                             _wkb.encode_geometry(kind, data),
                             _poly_area(plist), len(plist)))
            yield pd.DataFrame(rows, columns=[
                "poly_id", "geometry", "area", "n_parts"])

    return merged.mapInPandas(
        apply_gaps,
        "poly_id long, geometry binary, area double, n_parts int")


def clean_coverage(polys: DataFrame, id_col: str = "poly_id",
                   xs_col: str = "xs", ys_col: str = "ys",
                   cell_size: float = 1.0,
                   merge_strategy: str = "longest-border",
                   max_gap_width: float = 0.0) -> DataFrame:
    """`gdal vector clean-coverage`
    (apps/gdalalg_vector_clean_coverage.cpp / GEOS 3.12
    CoverageCleaner): remove pairwise overlaps from a would-be coverage
    by assigning each overlap piece to ONE neighbor per merge strategy
    and subtracting it from the other.

    merge_strategy (gdalalg_vector_clean_coverage.cpp choices):
      - 'longest-border' (the reference default): the piece goes to the
        neighbor sharing the longer border with it;
      - 'min-index': the lower poly_id keeps the piece;
      - 'max-area' / 'min-area': the larger / smaller polygon keeps it.
    Ties break to the lower poly_id (deterministic, partition-safe).

    Distributed shape: candidate pairs from the same grid-cell join as
    check_coverage, each unordered pair decided once (id_a < id_b) in
    an Arrow batch kernel over clip.py's exact overlay; losers group
    their winners (sorted by id — deterministic sequential difference)
    in one groupBy. With ``max_gap_width`` > 0 the _merge_gaps stage
    then merges enclosed uncovered faces narrower than the threshold
    into their longest-border neighbor (GEOS CoverageCleaner gap
    merging; replays test_gdalalg_vector_clean_coverage.py:110's
    circles case). Triple-overlap arrangements resolve pairwise (GEOS
    nodes the full arrangement), documented divergence.

    Returns (poly_id, geometry WKB, area, n_parts)."""
    from ..geo import clip as _clip
    from ..geo import wkb as _wkb
    from ..session import ship_package

    ship_package(polys.sparkSession)
    strat = merge_strategy
    if strat not in ("longest-border", "min-index", "max-area",
                     "min-area"):
        raise ValueError(f"unknown merge strategy {strat!r}")
    # NaN fails this comparison too (the reference rejects both:
    # test_gdalalg_vector_clean_coverage.py:128 'should be >= 0')
    if not (float(max_gap_width) >= 0.0):
        raise ValueError("maximum-gap-width should be >= 0")

    pair = _candidate_pairs(polys, id_col, xs_col, ys_col, cell_size)
    pair = pair.filter(F.col("poly_id") < F.col("other_id"))
    # Catalyst pushdown: a positive-area intersection needs a
    # positive-area bbox overlap in BOTH axes, so the touching-only
    # majority of a near-valid coverage never reaches the Python
    # overlay kernel (check_coverage must NOT do this — exact-match /
    # T-join classification lives exactly on zero-area contacts).
    ov_x = (F.least(F.array_max("axs"), F.array_max("bxs"))
            - F.greatest(F.array_min("axs"), F.array_min("bxs")))
    ov_y = (F.least(F.array_max("ays"), F.array_max("bys"))
            - F.greatest(F.array_min("ays"), F.array_min("bys")))
    pair = pair.filter((ov_x > 0) & (ov_y > 0))

    def decide(batches):
        for pdf in batches:
            rows = []
            for pid, axs, ays, oid, bxs, bys in zip(
                    pdf["poly_id"], pdf["axs"], pdf["ays"],
                    pdf["other_id"], pdf["bxs"], pdf["bys"]):
                ra = np.stack([np.asarray(axs, np.float64),
                               np.asarray(ays, np.float64)], axis=1)
                rb = np.stack([np.asarray(bxs, np.float64),
                               np.asarray(bys, np.float64)], axis=1)
                kind, data = _clip.overlay("polygon", [ra],
                                           "polygon", [rb],
                                           "intersection")
                piece = _clip.as_polys(kind, data)
                if _poly_area(piece) <= 0.0:
                    continue
                if strat == "min-index":
                    winner = min(pid, oid)
                elif strat in ("max-area", "min-area"):
                    area_a = _poly_area([[ra]])
                    area_b = _poly_area([[rb]])
                    if area_a == area_b:
                        winner = min(pid, oid)
                    elif strat == "max-area":
                        winner = pid if area_a > area_b else oid
                    else:
                        winner = pid if area_a < area_b else oid
                else:  # longest-border
                    # the piece's border with what REMAINS of a is the
                    # part of b's ring crossing a (and vice versa) —
                    # the arcs swap owners at the piece boundary
                    scale = max(np.abs(ra).max(), np.abs(rb).max(), 1.0)
                    la = _border_len(piece, rb[:, 0], rb[:, 1], scale)
                    lb = _border_len(piece, ra[:, 0], ra[:, 1], scale)
                    if la == lb:
                        winner = min(pid, oid)
                    else:
                        winner = pid if la > lb else oid
                loser = oid if winner == pid else pid
                wxs, wys = (axs, ays) if winner == pid else (bxs, bys)
                rows.append((int(loser), int(winner),
                             list(wxs), list(wys)))
            yield pd.DataFrame(rows, columns=[
                "poly_id", "winner", "wxs", "wys"])

    losses = pair.mapInPandas(
        decide, "poly_id long, winner long, wxs array<double>, "
                "wys array<double>")
    grouped = losses.groupBy("poly_id").agg(
        F.array_sort(F.collect_list(
            F.struct("winner", "wxs", "wys"))).alias("ws"))
    full = (polys.select(F.col(id_col).alias("poly_id"),
                         F.col(xs_col).alias("xs"),
                         F.col(ys_col).alias("ys"))
            .join(grouped, "poly_id", "left"))

    def subtract(batches):
        for pdf in batches:
            rows = []
            for pid, xs, ys, ws in zip(pdf["poly_id"], pdf["xs"],
                                       pdf["ys"], pdf["ws"]):
                ring = np.stack([np.asarray(xs, np.float64),
                                 np.asarray(ys, np.float64)], axis=1)
                kind, data = "polygon", [ring]
                if ws is not None and len(ws):
                    for w in ws:  # already sorted by winner id
                        wr = np.stack(
                            [np.asarray(w["wxs"], np.float64),
                             np.asarray(w["wys"], np.float64)], axis=1)
                        kind, data = _clip.overlay(
                            kind, data, "polygon", [wr], "difference")
                plist = _clip.as_polys(kind, data)
                rows.append((int(pid),
                             _wkb.encode_geometry(kind, data),
                             _poly_area(plist), len(plist)))
            yield pd.DataFrame(rows, columns=[
                "poly_id", "geometry", "area", "n_parts"])

    cleaned = full.mapInPandas(
        subtract,
        "poly_id long, geometry binary, area double, n_parts int")
    if max_gap_width <= 0.0:
        return cleaned
    return _merge_gaps(cleaned, polys, id_col, xs_col, ys_col,
                       cell_size, float(max_gap_width))


def invalid_edge_geometries(polys: DataFrame, id_col: str = "poly_id",
                            xs_col: str = "xs", ys_col: str = "ys",
                            cell_size: float = 1.0,
                            include_valid: bool = False) -> DataFrame:
    """The reference's exact output shape: one row per feature with an
    ``invalid_edge`` MultiLineString WKB (empty geometry for valid
    features when ``include_valid``, matching the --include-valid flag;
    feature count semantics pinned against the three-rectangles
    autotest in tests/test_coverage.py). Segments are ordered by their
    ring position, so the geometry is deterministic."""
    from ..geo import wkb as _wkb
    from ..session import ship_package

    ship_package(polys.sparkSession)
    edges = invalid_edges(polys, id_col, xs_col, ys_col, cell_size)
    grouped = edges.groupBy("poly_id").agg(
        F.array_sort(F.collect_list(F.struct(
            "seg_id", "x1", "y1", "x2", "y2"))).alias("segs"))

    def encode(batches):
        for pdf in batches:
            rows = []
            for pid, segs in zip(pdf["poly_id"], pdf["segs"]):
                lines = [np.array([[s["x1"], s["y1"]], [s["x2"], s["y2"]]])
                         for s in segs]
                rows.append((int(pid),
                             _wkb.encode_geometry("multilinestring",
                                                  lines)))
            yield pd.DataFrame(rows, columns=["poly_id", "invalid_edge"])

    out = grouped.mapInPandas(encode,
                              "poly_id long, invalid_edge binary")
    if not include_valid:
        return out
    ids = polys.select(F.col(id_col).alias("poly_id")).distinct()
    empty = _wkb.encode_geometry("multilinestring", [])
    return (ids.join(out, "poly_id", "left")
            .select("poly_id",
                    F.coalesce("invalid_edge", F.lit(empty))
                     .alias("invalid_edge")))


def gap_edges(polys: DataFrame, id_col: str = "poly_id",
              xs_col: str = "xs", ys_col: str = "ys",
              cell_size: float = 1.0,
              max_gap_width: float = 0.0) -> DataFrame:
    """(poly_id, seg_id, x1, y1, x2, y2) for every boundary segment that
    borders a GAP — an enclosed uncovered hole of the polygon's
    neighborhood union whose max-inscribed-circle diameter is under
    ``max_gap_width``. This is check-coverage's maximum-gap-width
    surface (gdalalg_vector_check_coverage.cpp:41-44 passing gapWidth
    to GEOSCoverageIsValid_r; GEOS CoverageGapFinder classifies the
    faces). Same documented divergences as the rest of the module:
    whole input segments are flagged rather than GEOS's clipped
    sub-portions, and gaps whose bounding polygons are not mutually
    within the gap-width-expanded bbox join are not detected (the
    _merge_gaps discovery bound).

    Distributed shape: one grouped neighbor join (gap-width-expanded
    candidate pairs) + one Arrow kernel; every bounding polygon
    discovers the gap from its own neighborhood union and flags only
    its OWN segments, so no cross-neighborhood coordination is needed;
    the final (poly_id, seg_id) groupBy collapses duplicate
    discoveries."""
    from ..geo import clip as _clip
    from ..session import ship_package

    ship_package(polys.sparkSession)
    gw = float(max_gap_width)
    pairs = _candidate_pairs(polys, id_col, xs_col, ys_col, cell_size,
                             expand=gw)
    grouped = pairs.groupBy("poly_id").agg(
        F.array_sort(F.collect_list(
            F.struct("other_id", "bxs", "bys"))).alias("nbrs"))
    own = polys.select(F.col(id_col).alias("poly_id"),
                       F.col(xs_col).alias("xs"),
                       F.col(ys_col).alias("ys"))
    # inner join: an isolated single-ring polygon cannot enclose a gap
    work = own.join(grouped, "poly_id")

    def kern(batches):
        for pdf in batches:
            rows = []
            for pid, xs, ys, nbrs in zip(pdf["poly_id"], pdf["xs"],
                                         pdf["ys"], pdf["nbrs"]):
                ownr = _closed(np.stack(
                    [np.asarray(xs, np.float64),
                     np.asarray(ys, np.float64)], axis=1))
                ukind, udata = "polygon", [ownr]
                for nb in nbrs:   # array_sort -> ascending other_id
                    br = _closed(np.stack(
                        [np.asarray(nb["bxs"], np.float64),
                         np.asarray(nb["bys"], np.float64)], axis=1))
                    ukind, udata = _clip.overlay(
                        ukind, udata, "polygon", [br], "union")
                upolys = _clip.as_polys(ukind, udata)
                scale = max(
                    (float(np.abs(np.asarray(r)).max())
                     for rings in upolys for r in rings), default=1.0)
                scale = max(scale, 1.0)
                own_segs = _segments(ownr[:, 0], ownr[:, 1])
                for rings in upolys:
                    for h in rings[1:]:
                        hr = _closed(np.asarray(h, np.float64))
                        if _mic_diameter(hr) >= gw:
                            continue
                        mask = _seg_mask_on_ring(own_segs, hr[:, 0],
                                                 hr[:, 1], scale)
                        for sid in np.nonzero(mask)[0]:
                            rows.append((int(pid), int(sid),
                                         float(own_segs[sid, 0]),
                                         float(own_segs[sid, 1]),
                                         float(own_segs[sid, 2]),
                                         float(own_segs[sid, 3])))
            yield pd.DataFrame(rows, columns=[
                "poly_id", "seg_id", "x1", "y1", "x2", "y2"])

    edges = work.mapInPandas(kern, _PAIR_SCHEMA)
    return edges.groupBy("poly_id", "seg_id").agg(
        F.min("x1").alias("x1"), F.min("y1").alias("y1"),
        F.min("x2").alias("x2"), F.min("y2").alias("y2"))


def check_coverage(polys: DataFrame, id_col: str = "poly_id",
                   xs_col: str = "xs", ys_col: str = "ys",
                   cell_size: float = 1.0,
                   include_valid: bool = True,
                   max_gap_width: float = 0.0) -> DataFrame:
    """Per-feature coverage verdict: (poly_id, n_invalid, invalid_len).
    ``n_invalid`` > 0 <=> the reference emits a non-empty invalid_edge
    geometry for the feature; with ``include_valid`` the valid features
    appear with n_invalid = 0 (the --include-valid flag,
    gdalalg_vector_check_coverage.cpp:35). ``max_gap_width`` > 0 also
    flags segments bordering narrow enclosed gaps (the maximum-gap-width
    argument, gdalalg_vector_check_coverage.cpp:41; default 0 = off,
    the reference's default)."""
    edges = invalid_edges(polys, id_col, xs_col, ys_col, cell_size)
    if float(max_gap_width) > 0.0:
        g = gap_edges(polys, id_col, xs_col, ys_col, cell_size,
                      max_gap_width)
        # a segment can be both overlap-invalid and gap-adjacent ->
        # one row per (poly_id, seg_id), like invalid_edges' own dedup
        edges = (edges.unionByName(g)
                 .groupBy("poly_id", "seg_id")
                 .agg(F.min("x1").alias("x1"), F.min("y1").alias("y1"),
                      F.min("x2").alias("x2"), F.min("y2").alias("y2")))
    seg_len = F.sqrt((F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
                     + (F.col("y2") - F.col("y1"))
                     * (F.col("y2") - F.col("y1")))
    # partition-count independence: a double SUM over segment lengths is
    # an order-dependent float fold — round each segment to 6 dp and sum
    # as DECIMAL so the total is exact regardless of partitioning
    agg = edges.groupBy("poly_id").agg(
        F.count("*").cast("long").alias("n_invalid"),
        F.sum(F.round(seg_len, 6).cast("decimal(28,6)"))
         .cast("double").alias("invalid_len"))
    if not include_valid:
        return agg
    ids = polys.select(F.col(id_col).alias("poly_id")).distinct()
    return (ids.join(agg, "poly_id", "left")
               .select("poly_id",
                       F.coalesce("n_invalid", F.lit(0).cast("long"))
                        .alias("n_invalid"),
                       F.coalesce("invalid_len", F.lit(0.0))
                        .alias("invalid_len")))
