"""Spatial join + tile pyramid: Spark result vs pure-pandas oracle."""

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as em
from lib_gdal_spark.geo import mercator
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

    def test_with_tile_adds_only_the_tile_pair(self, spark, pages_pdf):
        df = sjoin.geocode(spark.createDataFrame(pages_pdf[["url", "text"]].head(10)))
        assert sjoin.with_tile(df, 7).columns == df.columns + ["tile_x", "tile_y"]


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

    def test_duplicate_rows_and_colliding_keys(self, spark, pages_pdf):
        # no face needs a unique key: 800 rows, 200 of them exact
        # duplicates, urls cut so keys collide, and a box around polygons
        # 1 and 2 so some points lie in two polygons
        base = pages_pdf.head(600)
        pdf = pd.concat([base, base.head(200)], ignore_index=True)
        geo = pdf.text.str.extract(r"@(-?\d+\.\d+),(-?\d+\.\d+)").astype(float)
        pdf = pd.DataFrame({"url": pdf.url.str[:14], "lon": geo[1], "lat": geo[0]})
        over = (7, [np.array([[-20.0, -20.0], [70.0, -20.0], [70.0, 40.0],
                              [-20.0, 40.0], [-20.0, -20.0]])])
        polys = POLYS + [over]
        ps = sjoin.PolygonSet(polys)
        pts = spark.createDataFrame(pdf, "url string, lon double, lat double")
        rows = list(pdf.itertuples(index=False, name=None))
        hits = [[pid for pid, rings in polys
                 if point_in_polygon_np(np.array([r[1]]), np.array([r[2]]), rings)[0]]
                for r in rows]
        assert pdf.url.nunique() < 200
        assert sum(len(h) > 1 for h in hits) > 5

        def got(how):
            return sorted(tuple(r) for r in
                          sjoin.spatial_join(pts, ps, zoom=7, how=how).collect())

        semi, anti = got("semi"), got("anti")
        assert sorted(semi + anti) == sorted(rows)
        assert semi == sorted(r for r, h in zip(rows, hits) if h)
        assert got("left") == sorted(
            [(*r, pid) for r, h in zip(rows, hits) for pid in h]
            + [(*r, None) for r, h in zip(rows, hits) if not h])
        assert got("identity") == sorted(
            [(*r, pid, ps.area(pid)) for r, h in zip(rows, hits) for pid in h]
            + [(*r, None, None) for r, h in zip(rows, hits) if not h])

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

    @pytest.mark.parametrize("zoom", [-1, 30])
    def test_zoom_outside_int_key_refused(self, points, zoom):
        with pytest.raises(ValueError, match="zoom"):
            sjoin.spatial_join(points, sjoin.PolygonSet(POLYS), zoom=zoom)

    def test_no_exact_is_superset(self, points):
        ps = sjoin.PolygonSet(POLYS)
        exact = sjoin.spatial_join(points, ps, zoom=7, how="inner").count()
        loose = sjoin.spatial_join(points, ps, zoom=7, how="inner", exact=False).count()
        assert loose >= exact


class TestNullCoordinates:
    """A NULL lon or lat has no tile: it joins no polygon and the pyramid
    counts it in no tile. NaN keeps its real (clamped) tile."""

    ROWS = [("a", None, None), ("b", None, 5.0), ("c", 5.0, None),
            ("d", 5.0, 5.0), ("e", float("nan"), 5.0)]

    @pytest.fixture()
    def pts(self, spark):
        return spark.createDataFrame(self.ROWS, "url string, lon double, lat double")

    def test_with_tile(self, pts):
        got = {r.url: (r.tile_x, r.tile_y)
               for r in sjoin.with_tile(pts, zoom=7).collect()}
        tx, ty = mercator.lonlat_to_tile_np([5.0], [5.0], 7)
        assert got["a"] == (None, None)
        assert got["b"] == (None, int(ty[0]))
        assert got["c"] == (int(tx[0]), None)
        assert got["d"] == (int(tx[0]), int(ty[0]))
        assert got["e"] == (0, int(ty[0]))

    def test_left_join_has_no_polygon(self, pts):
        polys = sjoin.PolygonSet([POLYS[0]])
        got = sorted(tuple(r) for r in sjoin.spatial_join(
            pts, polys, zoom=7, how="left").select("url", "poly_id").collect())
        assert got == [("a", None), ("b", None), ("c", None), ("d", 1), ("e", None)]

    def test_pyramid_counts_no_null_tile(self, pts):
        pyr = tiles.tile_pyramid(sjoin.with_tile(pts, zoom=7), max_zoom=7, min_zoom=0)
        rows = pyr.collect()
        assert all(r.x is not None and r.y is not None for r in rows)
        # d and e only, at every one of the 8 zooms
        assert sum(r.n_pages for r in rows) == 2 * 8


class TestRoundTrips:
    def test_pip_request_py4j_budget(self, spark, py4j_calls):
        """One 100-point pip request, plan built and collected, stays
        within a budget of driver-to-JVM round trips: the count measured
        when the budget was set plus 10 %. The join key and the
        containment test, ray-cast lambda included, are built once per
        session (session.built), so what is left is the new set's cover
        relation, the join and the collect."""
        q = spark.createDataFrame(
            [(f"q{i}", float(i % 50), float(i % 30)) for i in range(100)],
            "url string, lon double, lat double")

        def request():
            return sjoin.spatial_join(q, em._rect_polyset(), 7).collect()

        request()  # warm: first-use lookups are not per-request cost
        rows, calls = py4j_calls(request)
        assert len(rows) > 0
        assert calls <= PIP_BUDGET, calls

    @pytest.mark.parametrize("how", ["inner", "identity", "union"])
    def test_reused_set_py4j_budget(self, spark, py4j_calls, how):
        """A serving session joins every request against one set, whose
        relations are built on the first call: a request is the key
        columns, the join, the drop and the collect (union adds the
        point-free polygons' anti-join and the union)."""
        polys = em._rect_polyset()
        q = spark.createDataFrame(pd.DataFrame({
            "url": [f"q{i}" for i in range(100)],
            "lon": np.arange(100) % 50.0, "lat": np.arange(100) % 30.0}))

        def request():
            return sjoin.spatial_join(q, polys, 7, how=how).collect()

        request()
        rows, calls = py4j_calls(request)
        assert len(rows) > 0
        assert calls <= REUSED_BUDGET[how], calls

    def test_pyramid_plan_py4j_budget(self, spark, py4j_calls):
        """with_tile(12) -> tile_pyramid, the plan built (no action)."""
        df = spark.createDataFrame([(1.0, 2.0)], "lon double, lat double")

        def build():
            return tiles.tile_pyramid(sjoin.with_tile(df, 12).select("tile_x", "tile_y"),
                                      max_zoom=12, min_zoom=0)

        build()
        _, calls = py4j_calls(build)
        assert calls <= PYRAMID_BUDGET, calls


# measured round trips plus 10 %
PIP_BUDGET = 69  # 64 measured; 976 with every expression rebuilt per call
PYRAMID_BUDGET = 120  # 109; 635
# one set for every request: 36, 35 and 53 measured; 63, 134 and 313 with
# the cover and the attribute and id tables rebuilt per call
REUSED_BUDGET = {"inner": 40, "identity": 39, "union": 59}


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


def _star():
    """A 400-vertex concave star, radius 10 + 4 sin 7t, with a square hole."""
    t = np.linspace(0.0, 2 * np.pi, 400, endpoint=False)
    r = 10.0 + 4.0 * np.sin(7 * t)
    ring = np.column_stack([r * np.cos(t), r * np.sin(t)])
    hole = np.array([[-3.0, -3.0], [3.0, -3.0], [3.0, 3.0], [-3.0, 3.0], [-3.0, -3.0]])
    return (6, [np.vstack([ring, ring[:1]]), hole])


BOUNDARY_SETS = {"box": [POLYS[0]], "concave_L": [POLYS[1]],
                 "box_with_hole": [POLYS[2]], "mixed": [POLYS[0], TRI],
                 "contract_rects_tri": [(p, em._rect_rings(*r)) for p, *r in em._RECTS]
                 + [(5, [np.array(em._TRI + [em._TRI[0]])])],
                 "star_with_hole": [_star()]}


class TestBoxRule:
    def test_box_pip_is_half_open_envelope(self):
        # a box's ray-cast answer is its half-open envelope, bit for bit
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
        out = sjoin.spatial_join(pts, sjoin.PolygonSet(polys), zoom=7, how=how)
        cols = {"semi": ["url"], "anti": ["url"],
                "identity": ["url", "poly_id", "poly_area"]}.get(how, ["url", "poly_id"])
        got = sorted(tuple(r) for r in out.select(*cols).collect())
        want = _oracle_rows(pdf, polys, how)
        assert got == want
        if how == "inner":
            assert len(got) > 20  # the boundary actually lands inside

    @pytest.mark.parametrize("name", ["box", "concave_L", "mixed"])
    def test_no_broadcast_or_cover_rebuild_per_call(self, spark, monkeypatch, name):
        from pyspark import SparkContext

        polys = sjoin.PolygonSet(BOUNDARY_SETS[name])
        pts = spark.createDataFrame(_boundary_points(BOUNDARY_SETS[name]),
                                    "url string, lon double, lat double")
        broadcasts, builds, edges = [], [], []
        bc, cover, ed = SparkContext.broadcast, sjoin.PolygonSet.cover_cells, sjoin._edges
        monkeypatch.setattr(SparkContext, "broadcast",
                            lambda self, v: broadcasts.append(1) or bc(self, v))
        monkeypatch.setattr(sjoin.PolygonSet, "cover_cells",
                            lambda self, *a, **k: builds.append(1) or cover(self, *a, **k))
        monkeypatch.setattr(sjoin, "_edges", lambda rings: edges.append(1) or ed(rings))
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        for how in ("inner", "identity", "union"):
            sjoin.spatial_join(pts, polys, zoom=7, how=how).collect()
        assert broadcasts == []
        assert len(builds) == 1
        assert len(edges) == len(polys.ids)  # once per polygon, at one zoom
        # one cover relation at the one zoom, and the id/area relation
        assert set(polys._rels) == {7, None}
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def _cover_cells_loop(ps, zoom):
    """The per-cell refine loop cover_cells ran before it was vectorized:
    the oracle for the vectorized build."""
    rows_x, rows_y, rows_pid = [], [], []
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
        rows_x.append(gx.astype(np.int32))
        rows_y.append(gy.astype(np.int32))
        rows_pid.append(np.full(len(gx), pid, dtype=np.int64))
    return pd.DataFrame({"x": np.concatenate(rows_x), "y": np.concatenate(rows_y),
                         "poly_id": np.concatenate(rows_pid)})


class TestCoverCells:
    @pytest.mark.parametrize("zoom", range(4, 10))
    @pytest.mark.parametrize("name", ["POLYS", "contract_rects", "contract_tri"])
    def test_vectorized_refine_matches_loop(self, name, zoom):
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
        base = tiles.base_tiles(sjoin.with_tile(points.drop("tile_x", "tile_y"), 8), 8)
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
