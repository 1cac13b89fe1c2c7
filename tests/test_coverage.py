"""Coverage-validation tests (operators/coverage.py).

Replays the reference's own autotest case
(autotest/utilities/test_gdalalg_vector_check_coverage.py:31
three_rectangles: POLYGON((0 0,10 0,10 10,0 10,0 0)) /
((9.9 0,20 0,20 10,9.9 10,9.9 0)) / ((20 0,30 0,30 10,20 10,20 0)) —
the two overlapping features are invalid, the cleanly-abutting third is
valid; --include-valid emits it with an empty geometry) plus kernel
unit cases for each invalidity rule.
"""

import numpy as np
import pytest

from lib_gdal_spark.operators import coverage as C


def _rect(x0, y0, x1, y1):
    x0, y0, x1, y1 = float(x0), float(y0), float(x1), float(y1)
    return ([x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0])


def _df(spark, polys):
    rows = [(i, xs, ys) for i, (xs, ys) in enumerate(polys)]
    return spark.createDataFrame(
        rows, "poly_id long, xs array<double>, ys array<double>")


def test_three_rectangles_autotest(spark):
    # the reference autotest's exact geometry (0.1 overlap)
    polys = [_rect(0, 0, 10, 10), _rect(9.9, 0, 20, 10),
             _rect(20, 0, 30, 10)]
    out = (C.check_coverage(_df(spark, polys), cell_size=10.0)
           .orderBy("poly_id").toPandas())
    assert list(out["poly_id"]) == [0, 1, 2]
    # feature-level parity: 2 invalid, abutting third valid
    assert (out["n_invalid"] > 0).tolist() == [True, True, False]
    # include_valid=False drops the valid feature (2 rows, the
    # reference's default feature count)
    out2 = C.check_coverage(_df(spark, polys), cell_size=10.0,
                            include_valid=False).toPandas()
    assert len(out2) == 2


def test_valid_coverage_all_clean(spark):
    # 2x2 exactly-abutting grid: a valid coverage -> zero invalid
    polys = [_rect(0, 0, 10, 10), _rect(10, 0, 20, 10),
             _rect(0, 10, 10, 20), _rect(10, 10, 20, 20)]
    out = C.check_coverage(_df(spark, polys), cell_size=10.0).toPandas()
    assert (out["n_invalid"] == 0).all()


def test_tjoin_vertex_mismatch_invalid(spark):
    # T-join: b+c tile a's right edge with an intermediate vertex a
    # lacks -> boundaries are not vertex-matched -> a's long edge and
    # both short edges are invalid (GEOS coverage rule), even though
    # areas don't overlap.
    a = _rect(0, 0, 10, 20)
    b = _rect(10, 0, 20, 10)
    c = _rect(10, 10, 20, 20)
    out = (C.check_coverage(_df(spark, [a, b, c]), cell_size=10.0)
           .orderBy("poly_id").toPandas())
    assert (out["n_invalid"] > 0).tolist() == [True, True, True]


def test_crossing_boundaries_invalid(spark):
    # two squares rotated 45deg against each other cross transversally
    sq = _rect(0, 0, 10, 10)
    diamond = ([5.0, 12.0, 5.0, -2.0, 5.0], [-2.0, 5.0, 12.0, 5.0, -2.0])
    out = (C.check_coverage(_df(spark, [sq, diamond]), cell_size=10.0)
           .orderBy("poly_id").toPandas())
    assert (out["n_invalid"] > 0).all()


def test_disjoint_polys_valid(spark):
    polys = [_rect(0, 0, 10, 10), _rect(50, 50, 60, 60)]
    out = C.check_coverage(_df(spark, polys), cell_size=10.0).toPandas()
    assert (out["n_invalid"] == 0).all()


def test_invalid_edges_locations(spark):
    # the overlapping pair flags exactly left/bottom/top of the shifted
    # rect and right/bottom/top of its neighbor
    polys = [_rect(0, 0, 10, 10), _rect(9.875, 0, 19.875, 10)]
    edges = (C.invalid_edges(_df(spark, polys), cell_size=10.0)
             .orderBy("poly_id", "seg_id").toPandas())
    by_poly = {p: g for p, g in edges.groupby("poly_id")}
    # poly 0 ring segs: 0=bottom 1=right 2=top 3=left
    assert sorted(by_poly[0]["seg_id"]) == [0, 1, 2]
    assert sorted(by_poly[1]["seg_id"]) == [0, 2, 3]


def test_kernel_rules_direct():
    # unit-level: exact-match shared edge is valid; midpoint-inside,
    # collinear-mismatch and crossing are invalid
    a_xs, a_ys = _rect(0, 0, 10, 10)
    b_xs, b_ys = _rect(10, 0, 20, 10)
    sa = C._segments(np.array(a_xs, float), np.array(a_ys, float))
    sb = C._segments(np.array(b_xs, float), np.array(b_ys, float))
    bad = C._classify_pair(sa, sb, np.array(b_xs, float),
                           np.array(b_ys, float))
    assert not bad.any()          # exact shared edge + point touches

    b_xs2, b_ys2 = _rect(9.5, 0, 20, 10)
    sb2 = C._segments(np.array(b_xs2, float), np.array(b_ys2, float))
    bad2 = C._classify_pair(sa, sb2, np.array(b_xs2, float),
                            np.array(b_ys2, float))
    # right edge midpoint-inside, bottom/top collinear-mismatch
    assert bad2.tolist() == [True, True, True, False]


def _dens_rect(x0, y0, x1, y1, mh=3, mv=1):
    # m+1 a power of two -> dyadic split points, identical from either
    # traversal direction (coverage ops require exact vertex match,
    # same as GEOS)
    def seg(a, b, m):
        return [a + (b - a) * (j / (m + 1.0)) for j in range(m + 1)]
    xs = (seg(x0, x1, mh) + seg(x1, x1, mv) + seg(x1, x0, mh)
          + seg(x0, x0, mv) + [float(x0)])
    ys = (seg(y0, y0, mh) + seg(y0, y1, mv) + seg(y1, y1, mh)
          + seg(y1, y0, mv) + [float(y0)])
    return [float(v) for v in xs], [float(v) for v in ys]


def _ring_area(xs, ys):
    return 0.5 * abs(sum(xs[k] * ys[k + 1] - xs[k + 1] * ys[k]
                         for k in range(len(xs) - 1)))


def test_simplify_coverage_rect_chain(spark):
    # three abutting densified rects: every collinear midpoint drops,
    # corners stay, shared edges stay vertex-matched, areas exact
    polys = [_dens_rect(0, 0, 10, 10), _dens_rect(10, 0, 20, 10),
             _dens_rect(20, 0, 30, 10)]
    out = (C.simplify_coverage(_df(spark, polys), tolerance=0.5)
           .orderBy("poly_id").collect())
    assert len(out) == 3
    for r in out:
        assert len(r.xs) == 5
        assert (r.xs[0], r.ys[0]) == (r.xs[-1], r.ys[-1])
        assert _ring_area(r.xs, r.ys) == 100.0
    # shared boundary stays identical on both sides: the two middle
    # polys both contain the segment x=10 (corner pair) and x=20
    edges = set()
    for r in out:
        for k in range(len(r.xs) - 1):
            e = tuple(sorted([(r.xs[k], r.ys[k]),
                              (r.xs[k + 1], r.ys[k + 1])]))
            edges.add((int(r.poly_id),) + e)
    shared10 = {p for (p, a, b) in edges
                if a == (10.0, 0.0) and b == (10.0, 10.0)}
    assert shared10 == {0, 1}


def test_simplify_coverage_zigzag_chain(spark):
    # a wiggly shared boundary: both neighbors get the SAME simplified
    # arc (the whole point of coverage-aware simplification)
    left_xs = [0.0, 10.0, 9.5, 10.0, 9.5, 10.0, 0.0, 0.0]
    left_ys = [0.0, 0.0, 2.5, 5.0, 7.5, 10.0, 10.0, 0.0]
    right_xs = [10.0, 20.0, 20.0, 10.0, 9.5, 10.0, 9.5, 10.0]
    right_ys = [0.0, 0.0, 10.0, 10.0, 7.5, 5.0, 2.5, 0.0]
    df = _df(spark, [(left_xs, left_ys), (right_xs, right_ys)])
    out = {r.poly_id: r for r in
           C.simplify_coverage(df, tolerance=1.0).collect()}
    e0 = {tuple(sorted([(out[0].xs[k], out[0].ys[k]),
                        (out[0].xs[k + 1], out[0].ys[k + 1])]))
          for k in range(len(out[0].xs) - 1)}
    e1 = {tuple(sorted([(out[1].xs[k], out[1].ys[k]),
                        (out[1].xs[k + 1], out[1].ys[k + 1])]))
          for k in range(len(out[1].xs) - 1)}
    shared = tuple(sorted([(10.0, 0.0), (10.0, 10.0)]))
    # the zigzag (deviation 0.5 < tol 1.0) collapsed to the straight
    # shared segment — in BOTH rings
    assert shared in e0 and shared in e1
    assert len(out[0].xs) == 5 and len(out[1].xs) == 5


def test_simplify_coverage_isolated_cycle(spark):
    # an isolated polygon is one cycle chain: anchored DP, no collapse
    xs, ys = _dens_rect(0, 0, 10, 10, mh=3, mv=3)
    out = C.simplify_coverage(_df(spark, [(xs, ys)]),
                              tolerance=0.5).collect()
    r = out[0]
    assert (r.xs[0], r.ys[0]) == (r.xs[-1], r.ys[-1])
    assert _ring_area(r.xs, r.ys) == 100.0
    assert len(r.xs) <= 6  # 4 corners + closure (+1 anchor at most)


def test_simplify_coverage_polyshp_autotest(spark):
    # the reference autotest's own assertions on its own data
    # (test_gdalalg_vector_simplify_coverage.py:40 — poly.shp,
    # tolerance=2: feature count preserved, point count reduced)
    from lib_gdal_spark.sources.shapefile import read_shapefile
    feats = read_shapefile("/root/reference/autotest/ogr/data/poly.shp")
    rows = []
    n_before = 0
    for fid, f in enumerate(feats):
        ring = f["geom"]["parts"][0]  # exterior ring
        xs = [float(p[0]) for p in ring]
        ys = [float(p[1]) for p in ring]
        n_before += len(xs)
        rows.append((fid, xs, ys))
    df = spark.createDataFrame(
        rows, "poly_id long, xs array<double>, ys array<double>")
    out = C.simplify_coverage(df, tolerance=2.0).collect()
    assert len(out) == len(feats)            # feature count preserved
    n_after = sum(len(r.xs) for r in out)
    assert n_after < n_before                # point count reduced
    for r in out:
        assert (r.xs[0], r.ys[0]) == (r.xs[-1], r.ys[-1])
        assert len(r.xs) >= 4


def _circle(cx, cy, r):
    from lib_gdal_spark.geo import hull
    ring = np.asarray(hull.point_buffer_ring(cx, cy, r, quadsegs=30),
                      float)
    if (ring[0] != ring[-1]).any():
        ring = np.vstack([ring, ring[:1]])
    return ([float(v) for v in ring[:, 0]],
            [float(v) for v in ring[:, 1]])


def test_clean_coverage_circles_autotest(spark):
    # the reference autotest's exact fixture and expected areas
    # (test_gdalalg_vector_clean_coverage.py:27 circles at (5,5)r5 /
    # (10,15)r6.5 / (15,5)r5.1, OGR Buffer default 30 quadsegs) — all
    # FOUR merge strategies match GEOS CoverageCleaner to the
    # autotest's own 0.01 tolerance.
    polys = [_circle(5, 5, 5), _circle(10, 15, 6.5), _circle(15, 5, 5.1)]
    df = _df(spark, polys)
    expected = {
        "longest-border": [77.85, 132.67, 80.82],   # the default
        "max-area": [77.85, 132.67, 80.82],
        "min-area": [78.50, 131.26, 81.58],
        "min-index": [78.50, 132.11, 80.73],
    }
    for strat, exp in expected.items():
        out = (C.clean_coverage(df, cell_size=10.0, merge_strategy=strat)
               .orderBy("poly_id").collect())
        areas = [r.area for r in out]
        assert len(out) == 3          # feature count preserved
        for got, want in zip(areas, exp):
            assert got == pytest.approx(want, abs=0.01), strat


def test_clean_coverage_rect_pair_exact(spark):
    # equal-area rects overlap 2.5x10; every strategy tie-breaks to the
    # lower id, whose area stays exactly 100; the loser becomes exactly
    # 75 (dyadic coords -> exact overlay vertices)
    polys = [_rect(0, 0, 10, 10), _rect(7.5, 0, 17.5, 10)]
    out = (C.clean_coverage(_df(spark, polys), cell_size=10.0,
                            merge_strategy="min-index")
           .orderBy("poly_id").collect())
    assert [(r.poly_id, r.area, r.n_parts) for r in out] == [
        (0, 100.0, 1), (1, 75.0, 1)]


def test_clean_coverage_no_overlap_passthrough(spark):
    polys = [_rect(0, 0, 10, 10), _rect(10, 0, 20, 10),
             _rect(50, 0, 60, 10)]
    out = (C.clean_coverage(_df(spark, polys), cell_size=10.0)
           .orderBy("poly_id").collect())
    assert [(r.poly_id, r.area) for r in out] == [
        (0, 100.0), (1, 100.0), (2, 100.0)]
    # geometry passes through as valid WKB
    from lib_gdal_spark.geo.wkb import decode
    kind, data = decode(bytes(out[0].geometry))
    assert kind == "polygon"


def test_invalid_edge_geometries_autotest_shape(spark):
    # the reference output layer shape: MultiLineString per invalid
    # feature, empty geometry for valid ones under --include-valid
    # (test_gdalalg_vector_check_coverage.py:41 — 3 rows with
    # include-valid, 2 without, third geometry empty)
    from lib_gdal_spark.geo.wkb import decode
    polys = [_rect(0, 0, 10, 10), _rect(9.9, 0, 20, 10),
             _rect(20, 0, 30, 10)]
    out = (C.invalid_edge_geometries(_df(spark, polys), cell_size=10.0,
                                     include_valid=True)
           .orderBy("poly_id").collect())
    assert len(out) == 3
    kinds = []
    for r in out:
        kind, data = decode(bytes(r.invalid_edge))
        kinds.append((kind, len(data)))
    assert kinds[0][0] == "multilinestring" and kinds[0][1] > 0
    assert kinds[1][0] == "multilinestring" and kinds[1][1] > 0
    assert kinds[2] == ("multilinestring", 0)   # valid -> empty
    out2 = C.invalid_edge_geometries(_df(spark, polys), cell_size=10.0,
                                     include_valid=False).collect()
    assert len(out2) == 2


def test_clean_coverage_rejects_unknown_strategy(spark):
    with pytest.raises(ValueError):
        C.clean_coverage(_df(spark, [_rect(0, 0, 1, 1)]),
                         merge_strategy="bogus")


def test_clean_coverage_property_no_residual_overlap(spark):
    # the cleaning postcondition: whatever the strategy, the cleaned
    # polygons are pairwise overlap-free (exact overlay intersection
    # area 0). Deterministic pseudo-random rect sets, including
    # identical rects (full-overlap loser -> empty result, n_parts 0).
    import random

    from lib_gdal_spark.geo import clip as _clip
    from lib_gdal_spark.geo.wkb import decode
    from lib_gdal_spark.operators.coverage import _poly_area

    rng = random.Random(7)
    for case in range(4):
        polys = []
        for i in range(6):
            x0 = rng.randint(0, 30) * 1.0
            y0 = rng.randint(0, 30) * 1.0
            w = rng.randint(4, 12) * 1.0
            h = rng.randint(4, 12) * 1.0
            polys.append(_rect(x0, y0, x0 + w, y0 + h))
        if case == 3:
            polys[1] = polys[0]  # identical pair
        strat = ("longest-border", "min-index", "max-area",
                 "min-area")[case]
        out = (C.clean_coverage(_df(spark, polys), cell_size=16.0,
                                merge_strategy=strat)
               .orderBy("poly_id").collect())
        assert len(out) == 6
        geoms = []
        for r in out:
            kind, data = decode(bytes(r.geometry))
            geoms.append((kind, data))
        for i in range(6):
            for j in range(i + 1, 6):
                ka, da = geoms[i]
                kb, db = geoms[j]
                if not da or not db:
                    continue
                k, d = _clip.overlay(ka, da, kb, db, "intersection")
                resid = _poly_area(_clip.as_polys(k, d))
                assert resid <= 1e-9, (case, strat, i, j, resid)


def test_strictly_inside_boundary_excluded():
    xs = np.array([0.0, 10, 10, 0, 0])
    ys = np.array([0.0, 0, 10, 10, 0])
    px = np.array([5.0, 0.0, 10.0, 5.0, -1.0])
    py = np.array([5.0, 5.0, 5.0, 0.0, 5.0])
    got = C._strictly_inside(px, py, xs, ys)
    assert got.tolist() == [True, False, False, False, False]


def _notched_rect(x0, y0, s):
    # 10x10 cell with a depth-s notch on the right edge, y in [y0+2, y0+8]
    x0, y0, s = float(x0), float(y0), float(s)
    x1, y1 = x0 + 10.0, y0 + 10.0
    xs = [x0, x1, x1, x1 - s, x1 - s, x1, x1, x0, x0]
    ys = [y0, y0, y0 + 2, y0 + 2, y0 + 8, y0 + 8, y1, y1, y0]
    return xs, ys


def test_clean_coverage_gap_width_circles_autotest(spark):
    # test_gdalalg_vector_clean_coverage.py:110 — maximum-gap-width=2
    # merges the central curvilinear gap (area ~2.95, inscribed width
    # < 2) into the first circle: areas [80.80, 132.67, 80.82]
    polys = [_circle(5, 5, 5), _circle(10, 15, 6.5), _circle(15, 5, 5.1)]
    out = (C.clean_coverage(_df(spark, polys), cell_size=10.0,
                            max_gap_width=2.0)
           .orderBy("poly_id").collect())
    areas = [r.area for r in out]
    for got, want in zip(areas, [80.80, 132.67, 80.82]):
        assert got == pytest.approx(want, abs=0.01)


def test_clean_coverage_gap_width_rect_exact(spark):
    # dyadic notched grid: the 0.5-wide slot (inscribed width 0.5 < 1)
    # merges back into the notched cell (longest border: 6+2s vs 6) ->
    # exactly 100; the 3-wide slot stays open -> exactly 82
    polys = [_notched_rect(0, 0, 0.5), _rect(10, 0, 20, 10),
             _notched_rect(20, 0, 3.0), _rect(30, 0, 40, 10),
             _rect(0, 10, 10, 20), _rect(10, 10, 20, 20),
             _rect(20, 10, 30, 20), _rect(30, 10, 40, 20)]
    out = (C.clean_coverage(_df(spark, polys), cell_size=10.0,
                            max_gap_width=1.0)
           .orderBy("poly_id").collect())
    got = [(r.poly_id, r.area, r.n_parts) for r in out]
    assert got == [(0, 100.0, 1), (1, 100.0, 1), (2, 82.0, 1),
                   (3, 100.0, 1), (4, 100.0, 1), (5, 100.0, 1),
                   (6, 100.0, 1), (7, 100.0, 1)]


def test_clean_coverage_gap_width_zero_unchanged(spark):
    # default 0 = no gap merging (the reference default)
    polys = [_notched_rect(0, 0, 0.5), _rect(10, 0, 20, 10)]
    out = (C.clean_coverage(_df(spark, polys), cell_size=10.0)
           .orderBy("poly_id").collect())
    assert [r.area for r in out] == [97.0, 100.0]


def test_clean_coverage_bad_gap_width(spark):
    # test_gdalalg_vector_clean_coverage.py:128 — negative and NaN
    for bad in (-5.0, float("nan")):
        with pytest.raises(ValueError, match="should be >= 0"):
            C.clean_coverage(_df(spark, [_rect(0, 0, 1, 1)]),
                             max_gap_width=bad)


def test_mic_diameter_rect():
    # exact: inscribed diameter of an s x 6 slot is s
    ring = np.array([[0, 0], [0.5, 0], [0.5, 6], [0, 6], [0, 0]], float)
    d = C._mic_diameter(ring)
    assert d == pytest.approx(0.5, abs=0.01)
    ring = np.array([[0, 0], [3, 0], [3, 6], [0, 6], [0, 0]], float)
    assert C._mic_diameter(ring) == pytest.approx(3.0, abs=0.02)


def _gap_pair(s, ox=0.0, oy=0.0):
    """Vertex-matched pair enclosing a (s x 6) slot between them: A has
    a right-edge notch of depth s over y in [2, 8]; B's left edge is
    split at the notch corners so every shared border is exactly
    vertex-matched (valid coverage except the gap)."""
    a = ([ox + 0, ox + 10, ox + 10, ox + 10 - s, ox + 10 - s, ox + 10,
          ox + 10, ox + 0, ox + 0],
         [oy + 0, oy + 0, oy + 2, oy + 2, oy + 8, oy + 8,
          oy + 10, oy + 10, oy + 0])
    b = ([ox + 10, ox + 20, ox + 20, ox + 10, ox + 10, ox + 10, ox + 10],
         [oy + 0, oy + 0, oy + 10, oy + 10, oy + 8, oy + 2, oy + 0])
    return a, b


def test_check_coverage_gap_width_flags_narrow_slot(spark):
    # narrow slot (0.5 x 6, inscribed width 0.5 < 1.0): A's three notch
    # segments + B's slot-mouth segment are gap edges; nothing else
    a, b = _gap_pair(0.5)
    df = _df(spark, [a, b])
    out = (C.check_coverage(df, cell_size=10.0, max_gap_width=1.0)
           .orderBy("poly_id").toPandas())
    assert list(out["poly_id"]) == [0, 1]
    assert list(out["n_invalid"]) == [3, 1]
    assert out["invalid_len"][0] == pytest.approx(6.0 + 2 * 0.5, abs=1e-9)
    assert out["invalid_len"][1] == pytest.approx(6.0, abs=1e-9)
    # the flagged segments are exactly the slot boundary
    ge = (C.gap_edges(df, cell_size=10.0, max_gap_width=1.0)
          .orderBy("poly_id", "seg_id").toPandas())
    segs = {(r.x1, r.y1, r.x2, r.y2) for r in ge.itertuples()}
    assert segs == {(10.0, 2.0, 9.5, 2.0), (9.5, 2.0, 9.5, 8.0),
                    (9.5, 8.0, 10.0, 8.0), (10.0, 8.0, 10.0, 2.0)}


def test_check_coverage_gap_width_ignores_wide_slot(spark):
    # wide slot (3 x 6, inscribed width 3 >= 1.0): not a gap; the
    # coverage is otherwise vertex-matched, so everything is valid
    a, b = _gap_pair(3.0)
    out = (C.check_coverage(_df(spark, [a, b]), cell_size=10.0,
                            max_gap_width=1.0)
           .orderBy("poly_id").toPandas())
    assert list(out["n_invalid"]) == [0, 0]


def test_check_coverage_gap_width_zero_is_off(spark):
    # default 0 = the reference's default: the narrow slot is NOT
    # flagged without the argument
    a, b = _gap_pair(0.5)
    out = (C.check_coverage(_df(spark, [a, b]), cell_size=10.0)
           .orderBy("poly_id").toPandas())
    assert list(out["n_invalid"]) == [0, 0]


def test_check_coverage_gap_plus_overlap_dedup(spark):
    # a pair with BOTH an overlap (A/B overlap by 0.1 on the lower
    # shared border) and a narrow gap would flag segments through both
    # paths; the (poly_id, seg_id) dedup keeps counts stable vs the
    # gap-only fixture on the segments hit twice
    a, b = _gap_pair(0.5)
    c = _rect(40, 0, 50, 10)
    d = _rect(49.9, 0, 60, 10)
    df = _df(spark, [a, b, c, d])
    out = (C.check_coverage(df, cell_size=10.0, max_gap_width=1.0)
           .orderBy("poly_id").toPandas())
    assert list(out["n_invalid"])[:2] == [3, 1]
    assert (out["n_invalid"][2] > 0) and (out["n_invalid"][3] > 0)


def test_simplify_coverage_crossing_recheck(spark):
    # C-shaped polygon with a thin slot + sliver polygon inside the
    # slot: DP (tol 0.5) drops the slot-tip vertex of the C, so the
    # simplified chain cuts straight across the sliver (a cross-chain
    # crossing GEOS's corrected simplifier prevents). The re-check must
    # detect it and revert BOTH chains to their original vertices.
    c_xs = [0.0, 8.0, 8.0, 2.0, 2.0, 8.0, 8.0, 0.0, 0.0]
    c_ys = [0.0, 0.0, 1.9, 1.9, 2.1, 2.1, 4.0, 4.0, 0.0]
    s_xs = [3.0, 9.0, 9.0, 3.0, 3.0]
    s_ys = [1.95, 1.95, 2.05, 2.05, 1.95]
    df = _df(spark, [(c_xs, c_ys), (s_xs, s_ys)])

    out = {r.poly_id: r for r in
           C.simplify_coverage(df, tolerance=0.5).collect()}
    # both rings reverted: original vertex sets and areas preserved
    for pid, (xs, ys) in ((0, (c_xs, c_ys)), (1, (s_xs, s_ys))):
        r = out[pid]
        assert set(zip(r.xs, r.ys)) == set(zip(xs, ys))
        assert abs(_ring_area(r.xs, r.ys) - _ring_area(xs, ys)) < 1e-9
        assert (r.xs[0], r.ys[0]) == (r.xs[-1], r.ys[-1])
    # the re-check output is itself a valid coverage
    chk = {r.poly_id: r.n_invalid for r in
           C.check_coverage(C.simplify_coverage(df, tolerance=0.5),
                            cell_size=10.0).collect()}
    assert chk == {0: 0, 1: 0}

    # recheck off reproduces the documented divergence: the C's chain
    # crosses the sliver (and the sliver degenerates)
    raw = {r.poly_id: r for r in
           C.simplify_coverage(df, tolerance=0.5,
                               crossing_recheck=False).collect()}
    assert (2.0, 1.9) not in set(zip(raw[0].xs, raw[0].ys))

    # clean case: recheck finds nothing and leaves the plan untouched
    clean = _df(spark, [(c_xs, c_ys)])
    a = C.simplify_coverage(clean, tolerance=0.05).collect()
    b = C.simplify_coverage(clean, tolerance=0.05,
                            crossing_recheck=False).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_uncross_chains_cascade_converges(spark):
    # a domino of crossings: chain 0's run crosses chain 1's simplified
    # run; each reverted original i then crosses simplified i+1. Every
    # chain i >= 1 needs its own round (10 chains -> 10 rounds), and the
    # loop must run to the fixed point, where no chain crosses another
    n = 10
    rows = []
    for i in range(n):
        orig = ([float(i), i + 1.5, float(i)], [0.0, 5.0, 10.0])
        simp = orig if i == 0 else ([float(i), float(i)], [0.0, 10.0])
        rows.append((f"c{i}", simp[0], simp[1], orig[0], orig[1]))
    uniq = spark.createDataFrame(
        rows, "chain string, cxs array<double>, cys array<double>, "
              "oxs array<double>, oys array<double>")
    fixed = C._uncross_chains(uniq)
    got = {r.chain: (list(r.cxs), list(r.cys)) for r in fixed.collect()}
    assert got == {c: (ox, oy) for c, _, _, ox, oy in rows}


def test_uncross_chains_clean_input_untouched(spark):
    uniq = spark.createDataFrame(
        [("a", [0.0, 0.0], [0.0, 10.0], [0.0, 0.5, 0.0], [0.0, 5.0, 10.0]),
         ("b", [3.0, 3.0], [0.0, 10.0], [3.0, 3.5, 3.0], [0.0, 5.0, 10.0])],
        "chain string, cxs array<double>, cys array<double>, "
        "oxs array<double>, oys array<double>")
    assert C._uncross_chains(uniq) is None
