"""Spatial join + tile pyramid: Spark result vs pure-pandas oracle."""

import numpy as np
import pandas as pd
import pytest

from lib_gdal_spark.geo import mercator
from lib_gdal_spark.geo.cells import cell_encode_np
from lib_gdal_spark.geo.pip import envelope_np, point_in_polygon_np, polygons_intersect_np
from lib_gdal_spark.operators import sjoin, tiles
from lib_gdal_spark.pages.synth import synth_pages_pdf, extract_text_bytes

# three polygons: a box, a concave L, a box with a hole
POLYS = [
    (1, [np.array([[-10.0, -10.0], [20.0, -10.0], [20.0, 20.0], [-10.0, 20.0], [-10.0, -10.0]])]),
    (2, [np.array([[30.0, 0.0], [60.0, 0.0], [60.0, 15.0], [45.0, 15.0], [45.0, 30.0], [30.0, 30.0], [30.0, 0.0]])]),
    (3, [
        np.array([[-80.0, 30.0], [-40.0, 30.0], [-40.0, 60.0], [-80.0, 60.0], [-80.0, 30.0]]),
        np.array([[-70.0, 40.0], [-50.0, 40.0], [-50.0, 50.0], [-70.0, 50.0], [-70.0, 40.0]]),
    ]),
]
# the non-box member of the mixed set
TRI = (4, [np.array([[100.0, -50.0], [160.0, -50.0], [130.0, 10.0], [100.0, -50.0]])])
N = 3000


@pytest.fixture(scope="module")
def pages_pdf():
    return synth_pages_pdf(np.arange(N), seed=42)


@pytest.fixture(scope="module")
def points(spark, pages_pdf):
    df = spark.createDataFrame(pages_pdf[["url", "text", "lang"]])
    return sjoin.with_tile(sjoin.geocode(df), zoom=7).cache()


def oracle_join(pages_pdf):
    lat = pages_pdf.text.str.extract(r"@(-?\d+\.\d+),(-?\d+\.\d+)")[0].astype(float).to_numpy()
    lon = pages_pdf.text.str.extract(r"@(-?\d+\.\d+),(-?\d+\.\d+)")[1].astype(float).to_numpy()
    out = []
    for pid, rings in POLYS:
        m = point_in_polygon_np(lon, lat, rings)
        for u in pages_pdf.url.to_numpy()[m]:
            out.append((u, pid))
    return sorted(out)


class TestGeocode:
    def test_geocode_matches_synth(self, points, pages_pdf):
        got = points.select("url", "lat", "lon").toPandas().sort_values("url")
        exp = pages_pdf.copy()
        exp["lat"] = exp.text.str.extract(r"@(-?\d+\.\d+)")[0].astype(float)
        exp = exp.sort_values("url")
        np.testing.assert_allclose(got.lat.to_numpy(), exp.lat.to_numpy(), atol=1e-9)

    def test_extract_text_invariant(self, pages_pdf):
        # byte-identical per url (the north-rule per-row invariant)
        for _, row in pages_pdf.head(200).iterrows():
            assert extract_text_bytes(row.html) == row.text

    def test_cell_column_matches_numpy(self, points):
        pdf = points.select("lon", "lat", "tile_x", "tile_y").limit(500).toPandas()
        tx, ty = mercator.lonlat_to_tile_np(pdf.lon.to_numpy(), pdf.lat.to_numpy(), 7)
        np.testing.assert_array_equal(pdf.tile_x.to_numpy(), tx)
        np.testing.assert_array_equal(pdf.tile_y.to_numpy(), ty)


class TestSpatialJoin:
    def test_inner_matches_oracle(self, points, pages_pdf):
        ps = sjoin.PolygonSet(POLYS)
        got = sjoin.spatial_join(points, ps, zoom=7, how="inner")
        got_pairs = sorted(
            (r.url, r.poly_id) for r in got.select("url", "poly_id").collect()
        )
        assert got_pairs == oracle_join(pages_pdf)
        assert len(got_pairs) > 50  # data actually lands in the polygons

    def test_left_keeps_all_points(self, points):
        ps = sjoin.PolygonSet(POLYS)
        left = sjoin.spatial_join(points, ps, zoom=7, how="left")
        # every url appears; unmatched have null poly_id
        assert left.select("url").distinct().count() == N
        assert left.filter("poly_id IS NULL").count() > 0

    def test_defaulted_nonunique_key_raises(self, points):
        # ADVICE r02: the key-based faces anti-join on points.columns[0]
        # and silently produced wrong unmatched sets when it wasn't unique
        from pyspark.sql import functions as F

        ps = sjoin.PolygonSet(POLYS)
        dup = points.withColumn("url", F.lit("same-for-all"))
        with pytest.raises(ValueError, match="not.*unique|unique"):
            sjoin.spatial_join(dup, ps, zoom=7, how="left")

    def test_layer_algebra_faces(self, points, pages_pdf):
        # Identity/Union/SymDifference (ogrlayer.cpp:6589/:5622/:6159)
        # recast for point inputs; poly 9 is placed in an empty corner so
        # the method-only arm is non-degenerate
        empty_poly = (9, [np.array([[170.0, 80.0], [175.0, 80.0],
                                    [175.0, 84.0], [170.0, 84.0],
                                    [170.0, 80.0]])])
        ps = sjoin.PolygonSet(POLYS + [empty_poly])
        matched = oracle_join(pages_pdf)  # (url, pid) pairs, polys 1-3
        matched_urls = {u for u, _ in matched}
        n_unmatched = N - len(matched_urls)

        ident = sjoin.spatial_join(points, ps, zoom=7, how="identity")
        assert ident.count() == len(matched) + n_unmatched
        assert ident.filter("poly_id IS NULL").count() == n_unmatched
        # method attribute attaches on matched rows: shoelace area of
        # poly 1 (30x30 box) is exactly 900
        a1 = ident.filter("poly_id = 1").select("poly_area").first()[0]
        assert a1 == 900.0

        uni = sjoin.spatial_join(points, ps, zoom=7, how="union")
        method_only = uni.filter("url IS NULL")
        assert {r.poly_id for r in method_only.collect()} == {9}
        assert uni.count() == len(matched) + n_unmatched + 1

        sym = sjoin.spatial_join(points, ps, zoom=7, how="symdiff")
        assert sym.count() == n_unmatched + 1
        assert sym.filter("url IS NOT NULL AND poly_id IS NOT NULL").count() == 0

    def test_no_exact_is_superset(self, points):
        ps = sjoin.PolygonSet(POLYS)
        exact = sjoin.spatial_join(points, ps, zoom=7, how="inner").count()
        loose = sjoin.spatial_join(points, ps, zoom=7, how="inner", exact=False).count()
        assert loose >= exact


def _boundary_points(polys):
    """Every vertex and edge midpoint of every ring, each with its 8
    one-ulp neighbours (just inside / just outside every edge and corner),
    plus points with a NaN coordinate."""
    base = np.concatenate([np.vstack([r[:-1], (r[:-1] + r[1:]) / 2])
                           for _, rings in polys for r in rings])
    nx = np.stack([np.nextafter(base[:, 0], -np.inf), base[:, 0],
                   np.nextafter(base[:, 0], np.inf)], axis=1)
    ny = np.stack([np.nextafter(base[:, 1], -np.inf), base[:, 1],
                   np.nextafter(base[:, 1], np.inf)], axis=1)
    lon = np.concatenate([np.repeat(nx, 3, axis=1).ravel(), [np.nan, 5.0, np.nan]])
    lat = np.concatenate([np.tile(ny, (1, 3)).ravel(), [5.0, np.nan, np.nan]])
    return pd.DataFrame({"url": [f"p{i}" for i in range(len(lon))],
                         "lon": lon, "lat": lat})


def _oracle_rows(pdf, polys, how):
    """Expected rows of spatial_join(how=...) from the NumPy PIP kernel."""
    ps = sjoin.PolygonSet(polys)
    pairs = [(u, pid) for pid, rings in polys for u in
             pdf.url[point_in_polygon_np(pdf.lon, pdf.lat, rings)]]
    hit = {u for u, _ in pairs}
    miss = [u for u in pdf.url if u not in hit]
    if how == "inner":
        return sorted(pairs)
    if how == "left":
        return sorted(pairs + [(u, None) for u in miss])
    if how == "semi":
        return sorted((u,) for u in hit)
    if how == "anti":
        return sorted((u,) for u in miss)
    return sorted([(u, pid, ps.area(pid)) for u, pid in pairs]
                  + [(u, None, None) for u in miss])  # identity


BOUNDARY_SETS = {"box": [POLYS[0]], "concave_L": [POLYS[1]],
                 "box_with_hole": [POLYS[2]], "mixed": [POLYS[0], TRI]}


class TestBoxRule:
    @pytest.mark.parametrize("rings,want", [
        ([np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 2.0], [0.0, 2.0], [0.0, 0.0]])], True),
        ([np.array([[0.0, 0.0], [0.0, 2.0], [1.0, 2.0], [1.0, 0.0]])], True),  # open, CW
        ([np.array([[0.0, 0.0], [1.0, 2.0], [1.0, 0.0], [0.0, 2.0]])], False),  # bow tie
        ([np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 0.0], [1.0, 0.0]])], False),  # degenerate
        ([np.array([[0.0, 0.0], [np.inf, 0.0], [np.inf, 1.0], [0.0, 1.0]])], False),
        (POLYS[1][1], False), (POLYS[2][1], False), (TRI[1], False),
    ], ids=["closed", "open_cw", "bow_tie", "degenerate", "infinite",
            "concave_L", "holed", "triangle"])
    def test_is_box(self, rings, want):
        assert sjoin._is_box(rings) is want

    def test_box_pip_is_half_open_envelope(self):
        # the identity the Catalyst-side decision rests on
        pdf = _boundary_points([POLYS[0]])
        x, y = pdf.lon.to_numpy(), pdf.lat.to_numpy()
        xmin, ymin, xmax, ymax = envelope_np(POLYS[0][1])
        with np.errstate(invalid="ignore"):
            half_open = (x >= xmin) & (x < xmax) & (y >= ymin) & (y < ymax)
        np.testing.assert_array_equal(point_in_polygon_np(x, y, POLYS[0][1]), half_open)


class TestBoundaryPoints:
    """Points on, and one ulp either side of, every edge and corner: each
    join face equals the NumPy ray-cast oracle row for row."""

    @pytest.mark.parametrize("how", ["inner", "left", "semi", "anti", "identity"])
    @pytest.mark.parametrize("name", list(BOUNDARY_SETS))
    def test_faces_match_pip_oracle(self, spark, name, how):
        polys = BOUNDARY_SETS[name]
        pdf = _boundary_points(polys)
        pts = spark.createDataFrame(pdf, "url string, lon double, lat double")
        out = sjoin.spatial_join(pts, sjoin.PolygonSet(polys), zoom=7, how=how,
                                 key_col="url")
        cols = {"semi": ["url"], "anti": ["url"],
                "identity": ["url", "poly_id", "poly_area"]}.get(how, ["url", "poly_id"])
        got = sorted(tuple(r) for r in out.select(*cols).collect())
        want = _oracle_rows(pdf, polys, how)
        assert got == want
        if how == "inner":
            assert len(got) > 20  # the boundary actually lands inside

    @pytest.mark.parametrize("name", ["box", "concave_L"])
    def test_no_broadcast_or_cover_rebuild_per_call(self, spark, monkeypatch, name):
        from pyspark import SparkContext

        polys = sjoin.PolygonSet(BOUNDARY_SETS[name])
        pts = spark.createDataFrame(_boundary_points(BOUNDARY_SETS[name]),
                                    "url string, lon double, lat double")
        broadcasts, builds = [], []
        bc, cover = SparkContext.broadcast, sjoin.PolygonSet.cover_cells
        monkeypatch.setattr(SparkContext, "broadcast",
                            lambda self, v: broadcasts.append(1) or bc(self, v))
        monkeypatch.setattr(sjoin.PolygonSet, "cover_cells",
                            lambda self, *a, **k: builds.append(1) or cover(self, *a, **k))
        for _ in range(3):
            sjoin.spatial_join(pts, polys, zoom=7).collect()
        assert broadcasts == []
        assert len(builds) == 1


def _cover_cells_loop(ps, zoom):
    """The per-cell refine loop cover_cells ran before it was vectorized:
    the oracle for the vectorized build."""
    rows_cell, rows_pid = [], []
    for pid in ps.ids:
        rings = ps.rings[pid]
        xmin, ymin, xmax, ymax = envelope_np(rings)
        txa, tya = mercator.lonlat_to_tile_np([xmin], [ymax], zoom)
        txb, tyb = mercator.lonlat_to_tile_np([xmax], [ymin], zoom)
        gx, gy = np.meshgrid(np.arange(txa[0], txb[0] + 1, dtype=np.int64),
                             np.arange(tya[0], tyb[0] + 1, dtype=np.int64))
        gx, gy = gx.ravel(), gy.ravel()
        if len(gx) > 4:
            keep = np.zeros(len(gx), dtype=bool)
            for i in range(len(gx)):
                ln0, lt0, ln1, lt1 = mercator.tile_bounds_lonlat_np(
                    np.array([gx[i]]), np.array([gy[i]]), zoom)
                rect = np.array([[ln0[0], lt0[0]], [ln1[0], lt0[0]], [ln1[0], lt1[0]],
                                 [ln0[0], lt1[0]], [ln0[0], lt0[0]]])
                keep[i] = polygons_intersect_np(rings, [rect])
            gx, gy = gx[keep], gy[keep]
        rows_cell.append(cell_encode_np(gx.astype(np.uint64), gy.astype(np.uint64), zoom))
        rows_pid.append(np.full(len(rows_cell[-1]), pid, dtype=np.int64))
    return pd.DataFrame({"cell": np.concatenate(rows_cell),
                         "poly_id": np.concatenate(rows_pid)})


class TestCoverCells:
    @pytest.mark.parametrize("zoom", range(4, 10))
    @pytest.mark.parametrize("name", ["POLYS", "contract_rects", "contract_tri"])
    def test_vectorized_refine_matches_loop(self, name, zoom):
        import __spark_entry__ as em

        polys = {"POLYS": POLYS,
                 "contract_rects": [(p, em._rect_rings(*r)) for p, *r in em._RECTS],
                 "contract_tri": [(1, [np.array(em._TRI + [em._TRI[0]])])]}[name]
        ps = sjoin.PolygonSet(polys)
        pd.testing.assert_frame_equal(ps.cover_cells(zoom), _cover_cells_loop(ps, zoom))


class TestPyramid:
    def test_level_sums_invariant(self, points):
        pyr = tiles.tile_pyramid(points, max_zoom=8, min_zoom=0).toPandas()
        sums = pyr.groupby("z").n_pages.sum()
        assert (sums == N).all()  # every level partitions all pages
        z0 = pyr[pyr.z == 0]
        assert len(z0) == 1 and z0.n_pages.iloc[0] == N

    def test_base_matches_direct_tile_assignment(self, points):
        base = tiles.base_tiles(sjoin.with_tile(points.drop("tile_x", "tile_y", "cell"), 8), 8)
        pdf = base.toPandas()
        raw = points.select("lon", "lat").toPandas()
        tx, ty = mercator.lonlat_to_tile_np(raw.lon.to_numpy(), raw.lat.to_numpy(), 8)
        exp = pd.DataFrame({"x": tx, "y": ty}).groupby(["x", "y"]).size()
        got = pdf.set_index(["x", "y"]).n_pages.sort_index()
        assert (got == exp.sort_index()).all()

    @pytest.mark.parametrize("max_zoom,min_zoom", [(8, 7), (8, 0), (6, 6)])
    def test_parent_child_consistency(self, points, max_zoom, min_zoom):
        pyr = tiles.tile_pyramid(points, max_zoom=max_zoom,
                                 min_zoom=min_zoom).toPandas()
        assert sorted(pyr.z.unique()) == list(range(min_zoom, max_zoom + 1))
        base = tiles.base_tiles(points, max_zoom).toPandas()
        top = pyr[pyr.z == max_zoom]
        assert (top.set_index(["x", "y"]).n_pages.to_dict()
                == base.set_index(["x", "y"]).n_pages.to_dict())
        for z in range(max_zoom, min_zoom, -1):
            child = pyr[pyr.z == z]
            rolled = child.groupby([child.x // 2, child.y // 2]).n_pages.sum()
            parent = pyr[pyr.z == z - 1].set_index(["x", "y"]).n_pages
            assert rolled.to_dict() == parent.to_dict()

    @pytest.mark.parametrize("max_zoom,min_zoom", [(6, 7), (6, -1)])
    def test_bad_zoom_range_refused(self, points, max_zoom, min_zoom):
        with pytest.raises(ValueError, match="min_zoom"):
            tiles.tile_pyramid(points, max_zoom=max_zoom, min_zoom=min_zoom)

    def test_no_cache_growth(self, spark):
        # a long-lived session (streaming micro-batches, serve) calls the
        # pyramid over ever-new inputs: no call may leave a cached frame
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        rng = np.random.default_rng(5)
        for _ in range(3):
            pdf = pd.DataFrame({"lon": rng.uniform(-180, 180, 500),
                                "lat": rng.uniform(-85, 85, 500)})
            pts = sjoin.with_tile(spark.createDataFrame(pdf), 8)
            tiles.tile_pyramid(pts, max_zoom=8, min_zoom=0).count()
        assert jsc.getPersistentRDDs().size() == before

    def test_resume_filter(self, points, spark, tmp_path):
        pyr = tiles.tile_pyramid(points, max_zoom=6, min_zoom=4)
        path = str(tmp_path / "tiles")
        # commit only z<=5, then resume: only z=6 remains
        tiles.write_pyramid(pyr.filter("z <= 5"), path)
        remaining = tiles.resume_filter(pyr, path)
        zs = {r.z for r in remaining.select("z").distinct().collect()}
        assert zs == {6}


class TestLayerOverlay:
    """operators/overlay.py — polygon-polygon layer algebra
    (OGRLayer::Intersection family, ogrlayer.cpp:4063+): cell-join
    candidate generation must lose no pair, and pairwise results must
    match driver-side brute force."""

    def test_matches_bruteforce(self, spark):
        import numpy as np

        from lib_gdal_spark.geo import clip, wkb
        from lib_gdal_spark.geo.pip import ring_area_np
        from lib_gdal_spark.operators import overlay

        rng = np.random.default_rng(11)

        def rect(x0, y0, w, h):
            return [np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                              [x0, y0 + h], [x0, y0]], float)]

        a_geoms = {i: rect(*rng.uniform(0, 200, 2), *rng.uniform(5, 40, 2))
                   for i in range(30)}
        b_geoms = {i: rect(*rng.uniform(0, 200, 2), *rng.uniform(5, 40, 2))
                   for i in range(100, 125)}
        a = spark.createDataFrame(
            [(i, bytearray(wkb.encode_polygon(g))) for i, g in
             a_geoms.items()], "id long, geom binary")
        b = spark.createDataFrame(
            [(i, bytearray(wkb.encode_polygon(g))) for i, g in
             b_geoms.items()], "id long, geom binary")
        got = {(r.a_id, r.b_id): r.area
               for r in overlay.layer_overlay(a, b, "intersection",
                                              cell=64.0).collect()}
        want = {}
        for ai, ag in a_geoms.items():
            for bi, bg in b_geoms.items():
                k, d = clip.overlay("polygon", ag, "polygon", bg,
                                    "intersection")
                if d:
                    polys = clip.as_polys(k, d)
                    want[(ai, bi)] = sum(
                        ring_area_np(r[0]) for r in polys)
        assert set(got) == set(want)
        for key in want:
            assert got[key] == pytest.approx(want[key], abs=1e-9)

    def test_driver_query_partition_invariance(self, spark):
        import __spark_entry__ as em

        q = em.queries()["geom_overlay"]
        a = q(spark, "/root/testdata/sf0.01").toPandas() \
            .sort_values("pair_id").reset_index(drop=True)
        b = q(spark, "/root/testdata/sf0.01").repartition(7).toPandas() \
            .sort_values("pair_id").reset_index(drop=True)
        assert a.equals(b)

    def test_layer_clip_erase_update(self, spark):
        """OGRLayer Clip/Erase/Update faces on polygon layers: area
        conservation against hand-computed values."""
        import numpy as np

        from lib_gdal_spark.geo import wkb
        from lib_gdal_spark.operators import overlay

        def rect(x0, y0, w, h):
            return wkb.encode_polygon(
                [[(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h),
                  (x0, y0)]])

        # A: two 4x4 squares; B: two 2x4 rects each covering the right
        # half of one A square, plus one far-away rect
        a = spark.createDataFrame(
            [(1, bytearray(rect(0, 0, 4, 4))),
             (2, bytearray(rect(10, 0, 4, 4)))], "id long, geom binary")
        b = spark.createDataFrame(
            [(21, bytearray(rect(2, 0, 2, 4))),
             (22, bytearray(rect(12, 0, 2, 4))),
             (23, bytearray(rect(50, 50, 1, 1)))], "id long, geom binary")
        clip = {r.a_id: r.area for r in
                overlay.layer_clip(a, b).collect()}
        assert clip == {1: pytest.approx(8.0), 2: pytest.approx(8.0)}
        erase = {r.a_id: r.area for r in
                 overlay.layer_erase(a, b).collect()}
        assert erase == {1: pytest.approx(8.0), 2: pytest.approx(8.0)}
        upd = overlay.layer_update(a, b).collect()
        tot = sum(r.area for r in upd)
        # erased halves (8+8) + all of B (8+8+1)
        assert tot == pytest.approx(33.0)
        assert {r.src for r in upd} == {"input", "method"}


class TestGeodeticProfile:
    # GlobalGeodetic replay (gdal2tiles.py:534-640): formulas re-derived
    # by hand for spot values, both profiles, plus the XYZ flip
    def test_hand_values_tmscompatible(self):
        import numpy as np

        from lib_gdal_spark.geo import geodetic_profile as gp

        # z=3 tms: res = 0.703125/8; lon=-100 -> px=910.22 -> tile 3
        tx, ty = gp.geodetic_tile_np([-100.0], [40.0], 3, xyz=False)
        assert (tx[0], ty[0]) == (3, 5)
        txf, tyf = gp.geodetic_tile_np([-100.0], [40.0], 3, xyz=True)
        assert (txf[0], tyf[0]) == (3, 8 - 1 - 5)
        # level 0 is two tiles wide: +1 deg of lon -> tile 1
        tx0, _ = gp.geodetic_tile_np([1.0], [0.0], 0, xyz=False)
        assert tx0[0] == 1

    def test_openlayers_profile(self):
        from lib_gdal_spark.geo import geodetic_profile as gp

        # non-tms: resFact 360/256 -> ONE tile at level 0
        tx, ty = gp.geodetic_tile_np([1.0], [0.0], 0, tmscompatible=False,
                                     xyz=False)
        assert tx[0] == 0
        assert gp.geodetic_resolution(0, tmscompatible=False) == 1.40625

    def test_reference_formula_sweep(self):
        # exact replay of the class formulas over a coordinate sweep
        import numpy as np

        from lib_gdal_spark.geo import geodetic_profile as gp

        rng = np.random.RandomState(7)
        lon = rng.uniform(-179.9, 179.9, 200)
        lat = rng.uniform(-89.9, 89.9, 200)
        for z in (1, 4, 9):
            res = (180.0 / 256) / 2 ** z
            px, py = (180.0 + lon) / res, (90.0 + lat) / res
            exp_tx = np.ceil(px / 256.0).astype(np.int64) - 1
            exp_ty = np.ceil(py / 256.0).astype(np.int64) - 1
            tx, ty = gp.geodetic_tile_np(lon, lat, z, xyz=False)
            assert (tx == exp_tx).all() and (ty == exp_ty).all()

    def test_column_matches_numpy(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from lib_gdal_spark.geo import geodetic_profile as gp

        rng = np.random.RandomState(11)
        lon = rng.uniform(-180, 180, 300)
        lat = rng.uniform(-90, 90, 300)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(lon, lat)],
            "lon double, lat double")
        got = df.select(
            gp.geodetic_tile_x_col(F.col("lon"), 7).alias("x"),
            gp.geodetic_tile_y_col(F.col("lat"), 7).alias("y")).collect()
        ex, ey = gp.geodetic_tile_np(lon, lat, 7)
        assert [r.x for r in got] == ex.tolist()
        assert [r.y for r in got] == ey.tolist()

    def test_tile_bounds_roundtrip(self):
        from lib_gdal_spark.geo import geodetic_profile as gp

        # bounds of tile (3,5) z=3 contain the point that mapped there
        w, s, e, n = gp.geodetic_tile_bounds_np([3], [5], 3)
        assert w[0] <= -100.0 < e[0] and s[0] <= 40.0 < n[0]


class TestRasterProfileZoomify:
    def test_native_zoom(self):
        from lib_gdal_spark.geo import raster_profile as rp

        # 20x20 at ts=256 -> zoom 0; 1000x600 -> ceil(log2(1000/256))=2
        assert rp.native_zoom(20, 20) == 0
        assert rp.native_zoom(1000, 600) == 2
        assert rp.native_zoom(257, 100) == 1

    def test_raster_tile_assign(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from lib_gdal_spark.geo import raster_profile as rp

        nz = rp.native_zoom(1000, 600)
        # native zoom: 256-pixel tiles straight off pixel coords
        tx, ty = rp.raster_tile_np([0, 255, 256, 999], [0, 10, 300, 599],
                                   nz, nz)
        assert tx.tolist() == [0, 0, 1, 3]
        assert ty.tolist() == [0, 0, 1, 2]
        # one zoom up: 512-pixel span
        tx1, _ = rp.raster_tile_np([511, 512], [0, 0], nz - 1, nz)
        assert tx1.tolist() == [0, 1]
        # Column twin agrees
        df = spark.range(100).select(
            (F.col("id") * 37 % 1000).alias("bx"),
            (F.col("id") * 13 % 600).alias("by"))
        cx, cy = rp.raster_tile_cols(F.col("bx"), F.col("by"), nz, nz)
        got = df.select("bx", "by", cx.alias("tx"), cy.alias("ty")).collect()
        ex, ey = rp.raster_tile_np([r.bx for r in got],
                                   [r.by for r in got], nz, nz)
        assert [r.tx for r in got] == ex.tolist()
        assert [r.ty for r in got] == ey.tolist()

    def test_zoomify_replay(self):
        # replay the reference class's own arithmetic for a 1000x600
        # image: tiers halve to a single tile; filenames bucket by 256
        from lib_gdal_spark.geo import raster_profile as rp

        tiles, sizes, count_up = rp.zoomify_tiers(1000, 600)
        assert sizes[-1] == (1000, 600)
        assert tiles[-1] == (4, 3)
        assert sizes[0][0] <= 256 and sizes[0][1] <= 256
        assert tiles[0] == (1, 1)
        assert count_up[0] == 0 and count_up[1] == 1
        assert rp.zoomify_tilename(0, 0, 0, 1000, 600) == \
            "TileGroup0/0-0-0.jpg"
        # last tier starts after all smaller tiers' tiles
        z_last = len(tiles) - 1
        assert rp.zoomify_tilename(0, 0, z_last, 1000, 600).startswith(
            "TileGroup0/")
