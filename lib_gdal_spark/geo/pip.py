"""Exact point-in-polygon by ray casting + envelope/area/cover kernels.

Semantics follow the reference's native implementation
(/root/reference/ogr/ogrlinearring.cpp:452-521 ``isPointInRing``):

- cast a ray in the +x direction from the point, count edge crossings,
  odd = inside;
- a crossing is counted when the edge straddles the point's y
  (``(y1 > y) != (y0 > y)``) and the edge/ray intersection x exceeds the
  point's x — evaluated as the reference does, via the edge-line x at the
  point's y;
- the envelope (bbox) pre-test runs first (ogrlayer.cpp:3753/3824
  FilterGeometry discipline): cheap test in Catalyst-land or NumPy, exact
  test only on survivors.

Polygons-with-holes: inside = in exterior ring XOR in any interior ring
(even-odd rule over all rings), matching OGRPolygon::Contains for valid
polygons whose holes don't overlap.

All kernels are vectorized over the *points* axis (polygons are small:
admin boundaries have tens-to-hundreds of vertices; pages are trillions).
"""

from __future__ import annotations

import numpy as np


def point_in_ring_np(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast: are points (px, py) inside `ring`?

    ring: (n, 2) float64 array of vertices; closed or open (we wrap).
    Returns bool array over points. Parity of +x ray crossings
    (ogrlinearring.cpp:452-521 semantics).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) >= 2 and ring[0][0] == ring[-1][0] and ring[0][1] == ring[-1][1]:
        ring = ring[:-1]
    inside = np.zeros(px.shape, dtype=bool)
    n = len(ring)
    x0, y0 = ring[n - 1]
    for i in range(n):
        x1, y1 = ring[i]
        straddle = (y1 > py) != (y0 > py)
        if straddle.any():
            # x of edge-line at the point's y; ray points +x
            xint = (x0 - x1) * (py - y1) / (y0 - y1) + x1
            inside ^= straddle & (px < xint)
        x0, y0 = x1, y1
    return inside


def point_in_polygon_np(px, py, rings: list) -> np.ndarray:
    """Even-odd over [exterior, *holes*]; envelope pre-test on the exterior."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ext = np.asarray(rings[0], dtype=np.float64)
    xmin, ymin = ext.min(axis=0)
    xmax, ymax = ext.max(axis=0)
    cand = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
    out = np.zeros(px.shape, dtype=bool)
    if not cand.any():
        return out
    sub = point_in_ring_np(px[cand], py[cand], ext)
    for hole in rings[1:]:
        sub ^= point_in_ring_np(px[cand], py[cand], np.asarray(hole, dtype=np.float64))
    out[cand] = sub
    return out


def ring_area_np(ring: np.ndarray) -> float:
    """Shoelace area (positive regardless of winding) — OGRLinearRing::get_Area."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) >= 2 and (r[0] == r[-1]).all():
        r = r[:-1]
    x, y = r[:, 0], r[:, 1]
    return float(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0)


def polygon_area_np(rings: list) -> float:
    """Exterior area minus hole areas (OGRPolygon::get_Area semantics)."""
    a = ring_area_np(rings[0])
    for h in rings[1:]:
        a -= ring_area_np(h)
    return a


def envelope_np(rings: list):
    """(xmin, ymin, xmax, ymax) over all rings — OGRGeometry::getEnvelope."""
    ext = np.asarray(rings[0], dtype=np.float64)
    return (
        float(ext[:, 0].min()),
        float(ext[:, 1].min()),
        float(ext[:, 0].max()),
        float(ext[:, 1].max()),
    )


def envelopes_intersect_np(a, b) -> bool:
    """bbox intersects test (ogrlayer.cpp:3824 pre-test)."""
    return not (a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1])


def segments_intersect_np(p0, p1, q0, q1) -> bool:
    """Exact 2-segment intersection via orientation signs (GEOS-free)."""

    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return int(v > 0) - int(v < 0)

    def on_seg(a, b, c):
        return (
            min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    o1, o2 = orient(p0, p1, q0), orient(p0, p1, q1)
    o3, o4 = orient(q0, q1, p0), orient(q0, q1, p1)
    if o1 != o2 and o3 != o4:
        return True
    if o1 == 0 and on_seg(p0, p1, q0):
        return True
    if o2 == 0 and on_seg(p0, p1, q1):
        return True
    if o3 == 0 and on_seg(q0, q1, p0):
        return True
    return o4 == 0 and on_seg(q0, q1, p1)


def polygons_intersect_np(rings_a: list, rings_b: list) -> bool:
    """Exact polygon-polygon intersects: bbox pre-test, vertex containment,
    then boundary segment crossings. Mirrors the prepared-geometry
    Intersects discipline of ogrlayer.cpp:5325-5380 without GEOS.

    The crossings cover every ring, holes included: a polygon whose only
    overlap with the other lies beside one of its holes (first vertex in
    the hole, exterior rings apart) is found only by a hole edge."""
    if not envelopes_intersect_np(envelope_np(rings_a), envelope_np(rings_b)):
        return False
    ea = np.asarray(rings_a[0], dtype=np.float64)
    eb = np.asarray(rings_b[0], dtype=np.float64)
    if point_in_polygon_np(eb[:1, 0], eb[:1, 1], rings_a)[0]:
        return True
    if point_in_polygon_np(ea[:1, 0], ea[:1, 1], rings_b)[0]:
        return True
    for ra in rings_a:
        ra = np.asarray(ra, dtype=np.float64)
        for rb in rings_b:
            rb = np.asarray(rb, dtype=np.float64)
            for i in range(len(ra) - 1):
                for j in range(len(rb) - 1):
                    if segments_intersect_np(ra[i], ra[i + 1], rb[j], rb[j + 1]):
                        return True
    return False


def _orient(ax, ay, bx, by, cx, cy):
    """Sign of the (a, b, c) turn, as ``segments_intersect_np`` computes it."""
    v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return (v > 0).astype(np.int8) - (v < 0).astype(np.int8)


def _on_seg(ax, ay, bx, by, cx, cy):
    return ((np.minimum(ax, bx) <= cx) & (cx <= np.maximum(ax, bx))
            & (np.minimum(ay, by) <= cy) & (cy <= np.maximum(ay, by)))


def cells_intersect_np(rings: list, x0, y0, x1, y1) -> np.ndarray:
    """``polygons_intersect_np(rings, [cell rect])`` for every cell at once:
    cell i is the rect ring (x0, y0) -> (x1, y0) -> (x1, y1) -> (x0, y1).

    Same tests, same float operations, so the same answer per cell: the
    envelope pre-test, the cell's first corner in the polygon (one PIP
    call over all cells), the polygon's first vertex in each cell (the
    ray cast on a rect ring is ``[x0, x1) x [y0, y1)``) and the edges of
    every ring against the cells' sides as one edges x sides array,
    chunked over cells to bound its size."""
    ex, ey, exx, exy = envelope_np(rings)
    env = ~((exx < np.minimum(x0, x1)) | (np.maximum(x0, x1) < ex)
            | (exy < np.minimum(y0, y1)) | (np.maximum(y0, y1) < ey))
    hit = point_in_polygon_np(x0, y0, rings)
    ea = rings[0]
    vx, vy = ea[0]
    hit |= ((y0 > vy) != (y1 > vy)) & ((vx < x0) != (vx < x1))
    hit &= env
    # the rect ring's 4 sides (corner j -> corner j+1), one column each
    sx = np.stack([x0, x1, x1, x0, x0], axis=1)
    sy = np.stack([y0, y0, y1, y1, y0], axis=1)
    p = np.concatenate([r[:-1] for r in rings])[:, :, None, None]
    q = np.concatenate([r[1:] for r in rings])[:, :, None, None]
    px, py, qx, qy = p[:, 0], p[:, 1], q[:, 0], q[:, 1]
    todo = np.flatnonzero(env & ~hit)
    step = max(1, (1 << 16) // max(1, len(p)))
    for s in range(0, len(todo), step):
        idx = todo[s:s + step]
        ax, ay = sx[idx, :-1][None], sy[idx, :-1][None]
        bx, by = sx[idx, 1:][None], sy[idx, 1:][None]
        o1 = _orient(px, py, qx, qy, ax, ay)
        o2 = _orient(px, py, qx, qy, bx, by)
        o3 = _orient(ax, ay, bx, by, px, py)
        o4 = _orient(ax, ay, bx, by, qx, qy)
        cross = (((o1 != o2) & (o3 != o4))
                 | ((o1 == 0) & _on_seg(px, py, qx, qy, ax, ay))
                 | ((o2 == 0) & _on_seg(px, py, qx, qy, bx, by))
                 | ((o3 == 0) & _on_seg(ax, ay, bx, by, px, py))
                 | ((o4 == 0) & _on_seg(ax, ay, bx, by, qx, qy)))
        hit[idx] = cross.any(axis=(0, 2))
    return hit




def ring_centroid_signed_np(ring: np.ndarray):
    """(signed_area, cx, cy) of one ring by the shoelace centroid formula —
    OGRPolygon::Centroid semantics (delegated to GEOS in the reference;
    native here). Sign follows winding, so holes stored with opposite
    winding subtract naturally in polygon_centroid_np."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) >= 2 and (r[0] == r[-1]).all():
        r = r[:-1]
    x, y = r[:, 0], r[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y1 - x1 * y
    a = cross.sum() / 2.0
    if a == 0.0:
        return 0.0, float(x.mean()), float(y.mean())
    cx = ((x + x1) * cross).sum() / (6.0 * a)
    cy = ((y + y1) * cross).sum() / (6.0 * a)
    return float(a), float(cx), float(cy)


def polygon_centroid_np(rings: list):
    """(cx, cy) of a polygon: exterior minus holes, area-weighted.

    Holes are rings[1:] BY POSITION (the OGR polygon model: first ring
    exterior, rest interior — ogr/ogr_geometry.h) regardless of winding;
    each ring's own centroid is winding-independent (the signed area
    cancels between numerator and denominator)."""
    tot_a, sx, sy = 0.0, 0.0, 0.0
    for i, ring in enumerate(rings):
        a, cx, cy = ring_centroid_signed_np(ring)
        w = abs(a) if i == 0 else -abs(a)
        tot_a += w
        sx += w * cx
        sy += w * cy
    if tot_a == 0.0:
        ext = np.asarray(rings[0], dtype=np.float64)
        return float(ext[:, 0].mean()), float(ext[:, 1].mean())
    return sx / tot_a, sy / tot_a
