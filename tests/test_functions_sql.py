"""SQL function catalog tests — parity with the reference's SQLite-dialect
spatial functions (ogrsqlitesqlfunctions.cpp) exercised through
spark.sql over registered UDFs."""

import pytest
from pyspark.sql import functions as F

from lib_gdal_spark import functions as fns
from lib_gdal_spark.geo import wkb


@pytest.fixture(scope="module")
def sql(spark):
    fns.register_all(spark)
    unit = wkb.encode_polygon([[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]])
    holed = wkb.encode_polygon([
        [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
        [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)],
    ])
    multi = wkb.encode_multipolygon([
        [[(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]],
        [[(10, 10), (12, 10), (12, 12), (10, 12), (10, 10)]],
    ])
    df = spark.createDataFrame(
        [(1, bytearray(unit)), (2, bytearray(holed)), (3, bytearray(multi))],
        schema="gid int, geom binary",
    )
    df.createOrReplaceTempView("geoms")
    return spark


class TestStFunctions:
    def test_st_area(self, sql):
        got = {r.gid: r.a for r in sql.sql(
            "SELECT gid, st_area(geom) AS a FROM geoms").collect()}
        assert got[1] == 16.0
        assert got[2] == 15.0  # hole subtracted
        assert got[3] == 5.0   # multipolygon parts summed

    def test_st_length(self, sql):
        """ST_Length (ogr_api.cpp:1633): curve length; surfaces sum
        exterior + interior ring perimeters (since-3.10 rule); points
        are non-curve -> 0.0."""
        got = {r.gid: r.v for r in sql.sql(
            "SELECT gid, st_length(geom) AS v FROM geoms").collect()}
        assert got[1] == 16.0          # 4x4 square perimeter
        assert got[2] == 16.0 + 4.0    # hole ring ADDS to the length
        assert got[3] == 4.0 + 8.0     # multipolygon parts summed
        from lib_gdal_spark.geo import wkb as _w
        line = _w.encode_linestring([(0.0, 0.0), (3.0, 4.0), (3.0, 6.0)])
        pt = _w.encode_point(7.0, 8.0)
        df = sql.createDataFrame(
            [(1, bytearray(line)), (2, bytearray(pt))], "gid int, g binary")
        df.createOrReplaceTempView("curves")
        got = {r.gid: r.v for r in sql.sql(
            "SELECT gid, st_length(g) AS v FROM curves").collect()}
        assert got[1] == 7.0           # 3-4-5 segment + vertical 2
        assert got[2] == 0.0           # non-curve

    def test_st_isempty_issimple(self, sql):
        """SQLite-dialect IsEmpty/IsSimple (REGISTER_ST_op list,
        ogrsqlitesqlfunctions.cpp:1195-1197)."""
        from lib_gdal_spark.geo import wkb as _w
        bow = _w.encode_linestring(
            [(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0)])  # self-X
        straight = _w.encode_linestring([(0.0, 0.0), (1.0, 1.0), (3.0, 1.0)])
        ring = _w.encode_linestring(
            [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)])  # closed ok
        pt = _w.encode_point(1.0, 2.0)
        df = sql.createDataFrame(
            [(1, bytearray(bow)), (2, bytearray(straight)),
             (3, bytearray(ring)), (4, bytearray(pt))], "gid int, g binary")
        df.createOrReplaceTempView("simp")
        got = {r.gid: (r.e, r.s) for r in sql.sql(
            "SELECT gid, st_isempty(g) AS e, st_issimple(g) AS s "
            "FROM simp").collect()}
        assert got[1] == (False, False)   # bow-tie self-crossing
        assert got[2] == (False, True)
        assert got[3] == (False, True)    # ring closure allowed
        assert got[4] == (False, True)

    def test_st_issimple_invalid_but_ring_simple(self, sql):
        """Simplicity is per-ring self-intersection ONLY (JTS
        IsSimpleOp), strictly weaker than validity: a polygon whose
        hole lies OUTSIDE its shell is invalid but each ring is simple
        -> IsSimple must be True (ADVICE r3). A bow-tie ring stays
        non-simple."""
        from lib_gdal_spark.geo import clip as _clip
        from lib_gdal_spark.geo import wkb as _w
        hole_outside = _w.encode_polygon(
            [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
             [(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0),
              (10.0, 10.0)]])
        bowtie = _w.encode_polygon(
            [[(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)]])
        assert not _clip.is_valid(
            "polygon",
            [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
             [(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0),
              (10.0, 10.0)]])[0]
        df = sql.createDataFrame(
            [(1, bytearray(hole_outside)), (2, bytearray(bowtie))],
            "gid int, g binary")
        df.createOrReplaceTempView("simp2")
        got = {r.gid: r.s for r in sql.sql(
            "SELECT gid, st_issimple(g) AS s FROM simp2").collect()}
        assert got[1] is True    # invalid yet simple
        assert got[2] is False   # self-crossing ring

    def test_st_equals_linestrings(self, sql):
        """ST_Equals for 1-D pairs (ADVICE r3 gap): point-set equality
        via canonical vertex splitting — same line split differently,
        reversed orientation, and a multi covering the same set are all
        equal; partial overlap is not."""
        from lib_gdal_spark.geo import wkb as _w
        base = _w.encode_linestring([(0.0, 0.0), (2.0, 0.0)])
        split = _w.encode_linestring([(0.0, 0.0), (1.0, 0.0), (2.0, 0.0)])
        rev = _w.encode_linestring([(2.0, 0.0), (0.0, 0.0)])
        longer = _w.encode_linestring([(0.0, 0.0), (3.0, 0.0)])
        multi = _w.encode_multilinestring(
            [[(1.0, 0.0), (2.0, 0.0)], [(0.0, 0.0), (1.0, 0.0)]])
        df = sql.createDataFrame(
            [(1, bytearray(base), bytearray(split)),
             (2, bytearray(base), bytearray(rev)),
             (3, bytearray(base), bytearray(longer)),
             (4, bytearray(base), bytearray(multi))],
            "gid int, ga binary, gb binary")
        df.createOrReplaceTempView("leq")
        got = {r.gid: r.v for r in sql.sql(
            "SELECT gid, st_equals(ga, gb) AS v FROM leq").collect()}
        assert got[1] is True and got[2] is True
        assert got[3] is False and got[4] is True

    def test_st_equals_and_wkb_roundtrip(self, sql):
        """ST_Equals point-set equality + AsBinary/GeomFromWKB identity
        + MakePoint alias (ogrsqlitesqlfunctions.cpp:1208-1221)."""
        from lib_gdal_spark.geo import wkb as _w
        # same square with different start vertex and ring direction
        a = _w.encode_polygon([[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]])
        b = _w.encode_polygon([[(4, 4), (4, 0), (0, 0), (0, 4), (4, 4)]])
        c = _w.encode_polygon([[(0, 0), (5, 0), (5, 4), (0, 4), (0, 0)]])
        df = sql.createDataFrame(
            [(1, bytearray(a), bytearray(b)),
             (2, bytearray(a), bytearray(c))], "gid int, ga binary, gb binary")
        df.createOrReplaceTempView("eqs")
        got = {r.gid: r.v for r in sql.sql(
            "SELECT gid, st_equals(ga, gb) AS v FROM eqs").collect()}
        assert got[1] is True and got[2] is False
        rt = sql.sql(
            "SELECT st_astext(st_geomfromwkb(st_asbinary(ga))) AS t, "
            "st_x(st_makepoint(3.0D, 4.0D)) AS px FROM eqs "
            "WHERE gid = 1").collect()[0]
        assert rt.t.startswith("POLYGON")
        assert rt.px == 3.0

    def test_st_contains_point(self, sql):
        rows = sql.sql("""
            SELECT gid,
                   st_contains_point(geom, 1.5d, 1.5d) AS in_hole_spot,
                   st_contains_point(geom, 3.0d, 3.0d) AS inside,
                   st_contains_point(geom, 11.0d, 11.0d) AS in_part2
            FROM geoms ORDER BY gid""").collect()
        by = {r.gid: r for r in rows}
        assert by[1].in_hole_spot and by[1].inside
        assert not by[2].in_hole_spot  # inside the hole -> outside
        assert by[2].inside
        assert by[3].in_part2 and not by[3].inside

    def test_envelope(self, sql):
        r = sql.sql("""
            SELECT st_xmin(geom) a, st_ymin(geom) b, st_xmax(geom) c,
                   st_ymax(geom) d FROM geoms WHERE gid = 3""").collect()[0]
        assert (r.a, r.b, r.c, r.d) == (0.0, 0.0, 12.0, 12.0)

    def test_st_point_roundtrip(self, sql):
        r = sql.sql("SELECT st_point(2.5d, -3.5d) AS p").collect()[0]
        assert wkb.decode(bytes(r.p)) == ("point", (2.5, -3.5))


class TestTileFunctions:
    def test_tile_matches_column_api(self, sql, spark):
        # the SQL forms run mercator.lonlat_to_tile_np; besides a grid,
        # the points sit on tile edges (lon exact, lat through the inverse
        # projection), on the +-180 and +-MAX_LAT clamps and past them,
        # and one coordinate of a row is NaN
        import numpy as np
        from lib_gdal_spark.geo import mercator

        for zoom in (0, 7, 12, 29):
            n = 2 ** zoom
            k = np.array(sorted({0, 1, n // 2, n - 1, n}))
            lon0, lat0, _, _ = mercator.tile_bounds_lonlat_np(k, k, zoom)
            m = mercator.MAX_LAT
            rows = [(float(a), float(b)) for a in lon0 for b in lat0] + [
                (-180.0, -m), (180.0, m), (-180.0, m), (180.0, -m),
                (-190.0, -89.0), (190.0, 89.0), (float("nan"), 0.0), (0.0, float("nan"))]
            df = spark.range(100).select(
                ((F.col("id") * 37 % 360) - 180.0 + 0.5).alias("lon"),
                ((F.col("id") * 17 % 160) - 80.0 + 0.5).alias("lat"),
            ).unionByName(spark.createDataFrame(rows, "lon double, lat double"))
            df.createOrReplaceTempView("pts")
            via_sql = sql.sql(
                f"SELECT tile_x(lon, {zoom}) x, tile_y(lat, {zoom}) y FROM pts").toPandas()
            via_col = df.select(
                mercator.tile_x_col("lon", zoom).alias("x"),
                mercator.tile_y_col("lat", zoom).alias("y"),
            ).toPandas()
            assert len(via_col) == 100 + len(rows), zoom
            assert (via_sql.values == via_col.values).all(), zoom

    def test_null_coordinate_has_no_tile(self, sql, spark):
        # NULL in, NULL out, in both forms; NaN keeps its clamped tile
        from lib_gdal_spark.geo import mercator

        spark.createDataFrame(
            [(None, None), (None, 5.0), (5.0, None), (float("nan"), 5.0)],
            "lon double, lat double").createOrReplaceTempView("null_pts")
        via_sql = [tuple(r) for r in sql.sql(
            "SELECT tile_x(lon, 7) x, tile_y(lat, 7) y FROM null_pts").collect()]
        via_col = [tuple(r) for r in spark.table("null_pts").select(
            mercator.tile_x_col("lon", 7), mercator.tile_y_col("lat", 7)).collect()]
        tx, ty = (int(v[0]) for v in mercator.lonlat_to_tile_np([5.0], [5.0], 7))
        assert via_sql == via_col == [(None, None), (None, ty), (tx, None), (0, ty)]

    def test_per_row_zoom(self, sql, spark):
        # one partition, so one Arrow batch carries every zoom: each row
        # gets its own zoom's (or step count's) answer, and a NULL zoom,
        # step count or input gives NULL
        import numpy as np
        from lib_gdal_spark.geo import cells, mercator

        rows = [(0, 100.0, 40.0, 3, 5, 6, 2), (1, 100.0, 40.0, 12, 3000, 17, 1),
                (2, -33.5, -60.25, 0, 0, 0, 0), (3, 100.0, 40.0, 29, 123456789, 5, 7),
                (4, 100.0, 40.0, 12, 9, 4000, 12), (5, 100.0, 40.0, 3, 1, 2, 3),
                (6, 100.0, 40.0, None, 1, 1, None), (7, None, None, 7, None, 3, 1)]
        spark.createDataFrame(
            rows, "i int, lon double, lat double, z int, x long, y long, s int",
        ).coalesce(1).createOrReplaceTempView("zoom_mix")
        got = [tuple(r)[1:] for r in sql.sql("""
            SELECT i, tile_x(lon, z), tile_y(lat, z), cell_id(x, y, z),
                   cell_parent(cell_id(x, y, z), s)
            FROM zoom_mix ORDER BY i""").collect()]
        want = []
        for _, lon, lat, z, x, y, s in rows:
            if z is None:
                want.append((None,) * 4)
                continue
            tx, ty = (None, None) if lon is None else (
                int(v[0]) for v in mercator.lonlat_to_tile_np([lon], [lat], z))
            c = None if x is None else cells.cell_encode_np(
                np.array([x], np.uint64), np.array([y], np.uint64), z)
            want.append((tx, ty, None if c is None else int(c[0]),
                         None if c is None else int(cells.cell_parent_np(c, s)[0])))
        assert got == want
        assert got[1][0] == 3185  # tile_x(100.0, 12), after a zoom-3 row

    def test_cell_id_parent(self, sql):
        r = sql.sql("""
            SELECT cell_id(3L, 5L, 4) AS c,
                   cell_parent(cell_id(3L, 5L, 4), 1) AS p,
                   cell_id(1L, 2L, 3) AS cp FROM range(1)""").collect()[0]
        assert r.p == r.cp  # parent of (3,5)@z4 is (1,2)@z3


class TestCentroid:
    def test_square_and_hole(self, sql):
        r = sql.sql("""
            SELECT gid, st_centroid_x(geom) cx, st_centroid_y(geom) cy
            FROM geoms ORDER BY gid""").collect()
        by = {x.gid: (x.cx, x.cy) for x in r}
        assert by[1] == (2.0, 2.0)  # unit square 0..4
        # holed square: symmetric hole at (1..2)^2 pulls centroid away
        hx, hy = by[2]
        assert hx > 2.0 and hy > 2.0

    def test_multipolygon_weighted(self, sql):
        r = sql.sql(
            "SELECT st_centroid_x(geom) cx FROM geoms WHERE gid = 3").collect()[0]
        # parts: unit square at (0.5,0.5) area 1; 2x2 at (11,11) area 4
        assert r.cx == pytest.approx((0.5 * 1 + 11 * 4) / 5)


class TestWktCodec:
    def test_roundtrip_pure_python(self):
        import numpy as np
        from lib_gdal_spark.geo import wkt as wktmod

        cases = [
            ("point", (1.5, -2.0)),
            ("linestring", np.array([[0.0, 0.0], [1.25, 3.5]])),
            ("polygon", [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0],
                                   [0.0, 0.0]])]),
            ("multipolygon", [
                [np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]])],
                [np.array([[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 5.0]])],
            ]),
        ]
        for kind, data in cases:
            k2, d2 = wktmod.from_wkt(wktmod.to_wkt(kind, data))
            assert k2 == kind
            if kind == "point":
                assert d2 == data
            elif kind == "linestring":
                assert np.array_equal(d2, data)
            elif kind == "polygon":
                assert all(np.array_equal(a, b) for a, b in zip(d2, data))
            else:
                assert all(np.array_equal(a, b)
                           for pa, pb in zip(d2, data)
                           for a, b in zip(pa, pb))

    def test_astext_geomfromtext_sql(self, sql):
        r = sql.sql("SELECT st_astext(st_point(1.0D, 2.5D)) AS t "
                    "FROM range(1)").collect()[0]
        assert r.t == "POINT (1 2.5)"
        # text -> geom -> area closes the loop through BOTH codecs
        r = sql.sql("""
            SELECT st_area(st_geomfromtext(
              'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) AS a
            FROM range(1)""").collect()[0]
        assert r.a == 16.0
        # and WKB -> text on the fixture table round-trips through area
        r = sql.sql("""
            SELECT st_area(st_geomfromtext(st_astext(geom))) AS a,
                   st_area(geom) AS b
            FROM geoms""").collect()
        for row in r:
            assert row.a == row.b


class TestStDistance:
    def test_point_point(self, sql):
        r = sql.sql("""
            SELECT st_distance(st_point(0.0D, 0.0D),
                               st_point(3.0D, 4.0D)) AS d
            FROM range(1)""").collect()[0]
        assert r.d == 5.0

    def test_point_polygon_inside_and_out(self, sql):
        # inside the 0..4 unit square -> 0; 3 to the right of x=4 edge -> 3
        r = sql.sql("""
            SELECT st_distance(geom, st_point(2.0D, 2.0D)) AS din,
                   st_distance(geom, st_point(7.0D, 2.0D)) AS dout
            FROM geoms WHERE gid = 1""").collect()[0]
        assert r.din == 0.0 and r.dout == 3.0

    def test_polygon_polygon(self, sql):
        import math
        # gid 3's first part lies INSIDE gid 1's square -> distance 0
        r = sql.sql("""
            SELECT st_distance(a.geom, b.geom) AS d
            FROM geoms a, geoms b WHERE a.gid = 1 AND b.gid = 3""").collect()[0]
        assert r.d == 0.0
        # disjoint squares: gap is the corner diagonal (4,4) -> (10,10)
        r = sql.sql("""
            SELECT st_distance(geom, st_geomfromtext(
              'POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))')) AS d
            FROM geoms WHERE gid = 1""").collect()[0]
        assert r.d == pytest.approx(math.hypot(6, 6))

    def test_crossing_linestrings_zero(self, sql):
        # boundaries cross with no vertex of either near the other —
        # GEOS ST_Distance returns 0 (ADVICE r02: crossing case)
        r = sql.sql("""
            SELECT st_distance(
              st_geomfromtext('LINESTRING (-10 0, 10 0)'),
              st_geomfromtext('LINESTRING (0 -10, 0 10)')) AS d
            FROM range(1)""").collect()[0]
        assert r.d == 0.0

    def test_plus_shaped_polygon_overlap_zero(self, sql):
        # two rectangles overlapping in a plus shape: neither contains a
        # VERTEX of the other, but their boundaries cross -> 0
        r = sql.sql("""
            SELECT st_distance(
              st_geomfromtext('POLYGON ((-10 -1, 10 -1, 10 1, -10 1, -10 -1))'),
              st_geomfromtext('POLYGON ((-1 -10, 1 -10, 1 10, -1 10, -1 -10))')
            ) AS d
            FROM range(1)""").collect()[0]
        assert r.d == 0.0


class TestGeodesicReferenceGolden:
    """Replay of the reference's geodesic autotest values
    (autotest/ogr/ogr_geom.py::test_ogr_geom_GeodesicArea /
    test_ogr_geom_GeodesicLength — Karney geodesic lib expectations) via
    the Vincenty + authalic-sphere kernels."""

    def test_area_triangle_49N(self, sql):
        r = sql.sql("""
            SELECT st_geodesic_area(st_geomfromtext(
              'POLYGON ((2 49, 3 49, 3 48, 2 49))')) AS a
            FROM range(1)""").collect()[0]
        assert r.a == pytest.approx(4068384291.8911743, rel=1e-7)

    def test_area_longitude_invariant(self, sql):
        # the reference checks the same triangle at lon 12..13
        r = sql.sql("""
            SELECT st_geodesic_area(st_geomfromtext(
              'POLYGON ((12 49, 13 49, 13 48, 12 49))')) AS a
            FROM range(1)""").collect()[0]
        assert r.a == pytest.approx(4068384291.8911743, rel=1e-7)

    def test_area_near_pole(self, sql):
        r = sql.sql("""
            SELECT st_geodesic_area(st_geomfromtext(
              'POLYGON ((2 89, 3 89, 3 88, 2 89))')) AS a
            FROM range(1)""").collect()[0]
        assert r.a == pytest.approx(108860488.12023926, rel=1e-7)

    def test_area_hole_cancels(self, sql):
        # reference: POLYGON with hole == outer -> exactly 0
        r = sql.sql("""
            SELECT st_geodesic_area(st_geomfromtext(
              'POLYGON ((2 49, 3 49, 3 48, 2 49), (2 49, 3 49, 3 48, 2 49))'
            )) AS a
            FROM range(1)""").collect()[0]
        assert r.a == 0.0

    def test_area_multipolygon_sums(self, sql):
        r = sql.sql("""
            SELECT st_geodesic_area(st_geomfromtext(
              'MULTIPOLYGON (((2 49, 3 49, 3 48, 2 49)), ((2 89, 3 89, 3 88, 2 89)))'
            )) AS a
            FROM range(1)""").collect()[0]
        assert r.a == pytest.approx(4068384291.8911743 + 108860488.12023926,
                                    rel=1e-7)

    def test_length_parallel_and_meridian(self, sql):
        # LINESTRING(49 2,49 3) in the reference's lat-lon order = lon
        # 2->3 at lat 49
        r = sql.sql("""
            SELECT st_geodesic_length(st_geomfromtext(
              'LINESTRING (2 49, 3 49)')) AS l1,
                   st_geodesic_length(st_geomfromtext(
              'LINESTRING (3 49, 3 48)')) AS l2
            FROM range(1)""").collect()[0]
        assert r.l1 == pytest.approx(73171.26435678436, rel=1e-9)
        # one degree of meridian at ~48.5N (Karney: 111195.80 m class)
        assert 111000 < r.l2 < 111400

    def test_planar_vs_geodesic_ratio(self, sql):
        # sanity: geodesic area of the 49N triangle is ~0.08% above the
        # reference's cartesian UTM value (its own test prints both)
        r = sql.sql("""
            SELECT st_geodesic_area(st_geomfromtext(
              'POLYGON ((2 49, 3 49, 3 48, 2 49))')) AS g
            FROM range(1)""").collect()[0]
        assert r.g / 4065070548.465351 == pytest.approx(1.000815, abs=2e-4)


class TestHullBuffer:
    def test_convexhull_of_concave_polygon(self, sql):
        # hull of an L-shaped ring is its bounding pentagon-ish hull;
        # check via area: hull of the holed square's OUTER ring = 16
        r = sql.sql("""
            SELECT st_area(st_convexhull(geom)) AS a
            FROM geoms WHERE gid = 2""").collect()[0]
        assert r.a == 16.0
        # hull of a multipolygon spans both parts
        r = sql.sql("""
            SELECT st_xmin(st_convexhull(geom)) AS x0,
                   st_xmax(st_convexhull(geom)) AS x1
            FROM geoms WHERE gid = 3""").collect()[0]
        assert (r.x0, r.x1) == (0.0, 12.0)

    def test_convexhull_drops_interior_points(self, sql):
        r = sql.sql("""
            SELECT st_astext(st_convexhull(st_geomfromtext(
              'LINESTRING (0 0, 4 0, 2 1, 4 4, 0 4)'))) AS t
            FROM range(1)""").collect()[0]
        # (2 1) is interior to the hull square
        assert "2 1" not in r.t
        assert r.t.startswith("POLYGON")

    def test_point_buffer_area_and_distance(self, sql):
        import math
        r = sql.sql("""
            SELECT st_area(st_buffer(st_point(3.0D, 4.0D), 2.0D)) AS a,
                   st_contains_point(st_buffer(st_point(3.0D, 4.0D), 2.0D),
                                     3.0D, 5.9D) AS inside
            FROM range(1)""").collect()[0]
        # 32-gon area = 1/2 n r^2 sin(2 pi / n)
        n = 32
        assert r.a == pytest.approx(0.5 * n * 4.0 * math.sin(2 * math.pi / n))
        assert r.inside


class TestOverlayFunctions:
    """st_intersection / st_union / st_difference / st_symdifference /
    st_makevalid / st_buffer(line|polygon) / st_union_agg — the
    formerly-GEOS-only slice (ogrgeometry.cpp:4498+), now geo/clip."""

    def test_overlay_binary(self, sql):
        rows = sql.sql("""
            WITH p AS (SELECT
              st_geomfromtext('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS a,
              st_geomfromtext('POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))') AS b)
            SELECT st_area(st_intersection(a, b)) AS i,
                   st_area(st_union(a, b)) AS u,
                   st_area(st_difference(a, b)) AS d,
                   st_area(st_symdifference(a, b)) AS s
            FROM p""").collect()[0]
        assert (rows.i, rows.u, rows.d, rows.s) == (4.0, 28.0, 12.0, 24.0)

    def test_overlay_empty_is_null(self, sql):
        r = sql.sql("""
            SELECT st_intersection(
              st_geomfromtext('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'),
              st_geomfromtext('POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))')) AS g
            """).collect()[0]
        assert r.g is None

    def test_st_makevalid_bowtie(self, sql):
        r = sql.sql("""
            SELECT st_area(st_makevalid(st_geomfromtext(
              'POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))'))) AS a,
                   st_astext(st_makevalid(st_geomfromtext(
              'POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))'))) AS t
            """).collect()[0]
        assert r.a == pytest.approx(8.0)
        assert r.t.startswith("MULTIPOLYGON")

    def test_st_buffer_line_polygon(self, sql):
        import math
        r = sql.sql("""
            SELECT st_area(st_buffer(st_geomfromtext(
                     'LINESTRING (0 0, 10 0)'), 1.0d)) AS lb,
                   st_area(st_buffer(st_geomfromtext(
                     'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'), -1.0d)) AS er
            """).collect()[0]
        assert r.lb == pytest.approx(20 + math.pi, abs=2e-3)
        assert r.er == pytest.approx(4.0, abs=1e-9)

    def test_st_union_agg(self, sql):
        # cascaded union: 5 overlapping 3x3 squares stepping by 2
        rows = ", ".join(
            f"({i}, 'POLYGON (({2*i} 0, {2*i+3} 0, "
            f"{2*i+3} 3, {2*i} 3, {2*i} 0))')" for i in range(5))
        r = sql.sql(f"""
            SELECT st_area(st_union_agg(st_geomfromtext(w))) AS a
            FROM (SELECT * FROM VALUES {rows} AS t(i, w))""").collect()[0]
        assert r.a == pytest.approx(33.0)

    def test_predicates_sql(self, sql):
        r = sql.sql("""
            WITH p AS (SELECT
              st_geomfromtext('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS a,
              st_geomfromtext('POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))') AS b,
              st_geomfromtext('POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))') AS i,
              st_geomfromtext('LINESTRING (-1 2, 5 2)') AS l)
            SELECT st_intersects(a, b) AS ab_i, st_overlaps(a, b) AS ab_o,
                   st_within(i, a) AS i_w, st_contains(a, i) AS a_c,
                   st_touches(a, b) AS ab_t, st_crosses(l, a) AS l_c,
                   st_disjoint(a, b) AS ab_d
            FROM p""").collect()[0]
        assert (r.ab_i, r.ab_o, r.i_w, r.a_c) == (True, True, True, True)
        assert (r.ab_t, r.l_c, r.ab_d) == (False, True, False)

    def test_st_delaunay(self, sql):
        # triangulating a square's 4 corners -> 2 triangles, total area
        # equals the square's
        r = sql.sql("""
            SELECT st_area(st_delaunay(st_geomfromtext(
              'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'))) AS a,
                   st_astext(st_delaunay(st_geomfromtext(
              'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'))) AS t
            """).collect()[0]
        assert r.a == 16.0
        assert r.t.count("((") == 2  # two triangles

    def test_accessors(self, sql):
        r = sql.sql("""
            SELECT st_x(st_point(2.5d, -3d)) AS x,
                   st_y(st_point(2.5d, -3d)) AS y,
                   st_npoints(st_geomfromtext(
                     'LINESTRING (0 0, 1 1, 2 0)')) AS np,
                   st_ngeometries(geom) AS ng,
                   st_geometrytype(geom) AS gt
            FROM geoms WHERE gid = 3""").collect()[0]
        assert (r.x, r.y, r.np) == (2.5, -3.0, 3.0)
        assert (r.ng, r.gt) == (2.0, "MULTIPOLYGON")

    def test_st_simplifypreservetopology(self, sql):
        # a ring that plain DP at tolerance 10 would collapse/self-cross
        # must stay simple and areal under the preserve-topology variant
        r = sql.sql("""
            SELECT st_area(st_simplifypreservetopology(st_geomfromtext(
              'POLYGON ((0 0, 4 0, 4 4, 2 1, 0 4, 0 0))'), 10.0d)) AS a,
                   st_area(st_unaryunion(st_geomfromtext(
              'MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)),
                             ((2 2, 6 2, 6 6, 2 6, 2 2)))'))) AS u
            """).collect()[0]
        assert r.a > 0.0       # not collapsed
        assert r.u == pytest.approx(28.0)  # overlapping parts dissolved


class TestUtmFunctions:
    def test_utm_forward_matches_kernel(self, spark):
        from lib_gdal_spark.functions import register_all
        from lib_gdal_spark.geo import tmerc

        register_all(spark)
        rows = spark.sql("""
            SELECT st_utm_zone_epsg(lon, lat) AS epsg,
                   st_utm_easting(lon, lat, st_utm_zone_epsg(lon, lat)) AS e,
                   st_utm_northing(lon, lat, st_utm_zone_epsg(lon, lat)) AS n
            FROM VALUES (0.0D, 0.0D), (-1.44D, 51.95D), (13.4D, -22.9D)
                 AS t(lon, lat)
        """).collect()
        import numpy as np
        for (lon, lat), r in zip([(0.0, 0.0), (-1.44, 51.95),
                                  (13.4, -22.9)], rows):
            epsg = tmerc.utm_zone_epsg(lon, lat)
            assert r["epsg"] == epsg
            e, n = tmerc.utm_forward(np.array([lon]), np.array([lat]), epsg)
            assert r["e"] == e[0] and r["n"] == n[0]
        # the published zone-31 example: (0,0) -> easting 166021.443
        assert abs(rows[0]["e"] - 166021.4430805395) < 1e-6
        assert rows[2]["n"] > 7_000_000  # southern false northing applied


class TestTransformGeoloc:
    def test_reference_transformgeoloc_expectations(self):
        # autotest/alg/transformgeoloc.py test_transformgeoloc_1: WGS84
        # geolocation arrays -> UTM zone 11. The reference computes via
        # PROJ; geo/tmerc's Krueger series matches its printed
        # expectations to < 1e-8 m (allclose tolerance there is 1e-5).
        import numpy as np

        from lib_gdal_spark.geo import tmerc

        lon = np.array([-117.0, -116.0, -116.5, -115.5])
        lat = np.array([45.0, 45.5, 44.0, 44.5])
        e, n = tmerc.utm_forward(lon, lat, 32611)
        exp_e = [500000.0, 578126.73752062, 540087.07398217,
                 619246.88515195]
        exp_n = [4982950.40022655, 5038982.81207855, 4871994.34702622,
                 4928503.38229753]
        assert np.abs(e - exp_e).max() < 1e-7
        assert np.abs(n - exp_n).max() < 1e-7


class TestGeometryNSwapXY:
    def test_explode_collections_pattern(self, spark):
        from lib_gdal_spark.functions import register_all
        register_all(spark)
        wkt = ("MULTIPOLYGON(((0 0,4 0,4 4,0 4,0 0)),"
               "((10 10,12 10,12 12,10 12,10 10)))")
        rows = spark.sql(f"""
            WITH g AS (SELECT st_geomfromtext('{wkt}') AS geom)
            SELECT st_astext(st_geometryn(geom, i)) AS part
            FROM g LATERAL VIEW explode(sequence(1, int(st_ngeometries(geom)))) AS i
            ORDER BY part""").collect()
        assert [r.part for r in rows] == [
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
            "POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))"]

    def test_swapxy(self, spark):
        from lib_gdal_spark.functions import register_all
        register_all(spark)
        rows = spark.sql(
            "SELECT st_astext(st_swapxy(st_geomfromtext('POINT (3 7)'))) AS p, "
            "st_astext(st_swapxy(st_geomfromtext("
            "'LINESTRING (1 2,3 4)'))) AS l").collect()
        assert rows[0].p == "POINT (7 3)"
        assert rows[0].l == "LINESTRING (2 1, 4 3)"

    def test_swapxy_involution(self, spark):
        from lib_gdal_spark.functions import register_all
        register_all(spark)
        wkt = "POLYGON ((0 0, 4 1, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 1))"
        rows = spark.sql(
            f"SELECT st_astext(st_swapxy(st_swapxy(st_geomfromtext('{wkt}')))) AS g"
        ).collect()
        assert rows[0].g == wkt


class TestZFunctions:
    """Z-geometry SQL surface (round 4): st_is3d / st_z / st_distance3d
    over the new Z WKB codec (geo/wkb.py; OGRReadWKBGeometryType
    normalization, ogr/ogrutils.cpp:2050-2215)."""

    def test_is3d_z_distance3d(self, sql):
        from lib_gdal_spark.geo import wkb as _w

        p2 = _w.encode_point(1.0, 2.0)
        p3 = _w.encode_point(1.0, 2.0, 7.5)
        l3 = _w.encode_linestring([(0.0, 0.0, 0.0), (10.0, 0.0, 0.0)])
        df = sql.createDataFrame(
            [(1, bytearray(p2)), (2, bytearray(p3)), (3, bytearray(l3))],
            "gid int, g binary")
        df.createOrReplaceTempView("zgeoms")
        got = {r.gid: (r.is3, r.z) for r in sql.sql(
            "SELECT gid, st_is3d(g) AS is3, st_z(g) AS z "
            "FROM zgeoms").collect()}
        assert got[1] == (False, 0.0)   # getZ() == 0.0 for 2-D points
        assert got[2] == (True, 7.5)
        assert got[3][0] is True and got[3][1] is None  # non-point
        # distance3d: point above the segment's interior
        q = _w.encode_point(5.0, 0.0, 3.0)
        df2 = sql.createDataFrame(
            [(bytearray(q), bytearray(l3)), (bytearray(p2), bytearray(l3))],
            "a binary, b binary")
        df2.createOrReplaceTempView("zpairs")
        vals = [r.d for r in sql.sql(
            "SELECT st_distance3d(a, b) AS d FROM zpairs").collect()]
        assert vals[0] == 3.0
        assert vals[1] == -1.0          # 2-D operand -> reference's -1.0


class TestOgrZlibFunctions:
    """ogr_deflate / ogr_inflate (SQLite-dialect utility functions,
    ogrsqlitesqlfunctions.cpp:127/:180) — round-trip + error-path NULL."""

    def test_roundtrip_and_error_null(self, sql):
        import zlib

        payload = b"the quick brown fox " * 50
        df = sql.createDataFrame(
            [(1, bytearray(payload)), (2, bytearray(b"not zlib")),
             (3, None)],
            "gid int, b binary")
        df.createOrReplaceTempView("blobs")
        rows = {r.gid: (r.c, r.rt, r.bad) for r in sql.sql(
            "SELECT gid, ogr_deflate(b) AS c, "
            "       ogr_inflate(ogr_deflate(b)) AS rt, "
            "       ogr_inflate(b) AS bad "
            "FROM blobs").collect()}
        assert bytes(rows[1][1]) == payload          # round-trip
        assert len(rows[1][0]) < len(payload)        # actually compressed
        assert zlib.decompress(bytes(rows[1][0])) == payload
        assert rows[2][2] is None                    # non-zlib -> NULL
        assert rows[3] == (None, None, None)
        lv = sql.sql("SELECT ogr_inflate(ogr_deflate_level(b, 9)) AS rt "
                     "FROM blobs WHERE gid = 1").head()
        assert bytes(lv.rt) == payload


class TestCurveFunctions:
    """st_curvetoline / st_hascurvegeometry + curve-aware st_area and
    st_length (OGR_G_CurveToLine / HasCurveGeometry; exact curve areas
    per ogrcurvepolygon.cpp get_Area)."""

    def test_curvetoline_and_measures(self, sql):
        import math

        from lib_gdal_spark.geo import wkb as _w

        cs = _w.encode_circularstring([(0, 0), (1, 1), (1, -1)])
        circle = _w.encode_curvepolygon(
            [_w.encode_circularstring([(0, 0), (1, 0), (0, 0)])])
        line = _w.encode_linestring([(0, 0), (3, 4)])
        df = sql.createDataFrame(
            [(1, bytearray(cs)), (2, bytearray(circle)),
             (3, bytearray(line)), (4, None)],
            "gid int, geom binary")
        df.createOrReplaceTempView("curvegeoms")

        rows = {r.gid: r for r in sql.sql(
            "SELECT gid, st_hascurvegeometry(geom) AS hc, "
            "       st_length(geom) AS len, st_area(geom) AS a, "
            "       st_curvetoline(geom) AS lin "
            "FROM curvegeoms").collect()}
        assert rows[1].hc is True and rows[3].hc is False
        assert rows[4].hc is None and rows[4].lin is None
        assert rows[1].len == pytest.approx(1.5 * math.pi, abs=1e-9)
        assert rows[2].len == pytest.approx(math.pi, abs=1e-9)
        assert rows[2].a == pytest.approx(math.pi * 0.25, abs=1e-12)
        assert rows[3].len == 5.0

        # linear input passes through byte-identical
        assert bytes(rows[3].lin) == line
        # curve input linearizes to a plain linestring / polygon
        kind, pts = wkb.decode(bytes(rows[1].lin))
        assert kind == "linestring" and len(pts) >= 8
        kind, rings = wkb.decode(bytes(rows[2].lin))
        assert kind == "polygon"
        # stroked ring is closed and near the unit half-circle radius
        import numpy as np
        r0 = np.asarray(rings[0])
        assert (r0[0] == r0[-1]).all()
        d = np.hypot(r0[:, 0] - 0.5, r0[:, 1])
        assert np.abs(d - 0.5).max() < 1e-9

    def test_geomfromtext_curves(self, sql):
        row = sql.sql(
            "SELECT st_length(st_geomfromtext("
            "'CIRCULARSTRING (0 0, 1 1, 1 -1)')) AS len, "
            "st_area(st_geomfromtext("
            "'CURVEPOLYGON (CIRCULARSTRING (0 0, 1 0, 0 0))')) AS a"
        ).head()
        import math
        assert row.len == pytest.approx(1.5 * math.pi, abs=1e-9)
        assert row.a == pytest.approx(math.pi * 0.25, abs=1e-12)

    def test_curve_tolerant_surfaces(self, sql):
        """GEOS-analog functions linearize curve inputs (the reference's
        exportToGEOS path); type-preserving ops keep the curve type."""
        import math

        from lib_gdal_spark.geo import wkb as _w

        cs = _w.encode_circularstring([(0, 0), (1, 1), (1, -1)])
        circle = _w.encode_curvepolygon(
            [_w.encode_circularstring([(0, 0), (1, 0), (0, 0)])])
        df = sql.createDataFrame(
            [(1, bytearray(cs)), (2, bytearray(circle))],
            "gid int, geom binary")
        df.createOrReplaceTempView("curvegeoms2")
        rows = {r.gid: r for r in sql.sql(
            "SELECT gid, st_geometrytype(geom) AS t, "
            "       st_npoints(geom) AS np, "
            "       st_centroid_x(geom) AS cxx, "
            "       st_isempty(geom) AS emp, "
            "       st_distance(geom, st_geomfromtext('POINT (5 0)')) AS d,"
            "       st_astext(st_swapxy(geom)) AS sw "
            "FROM curvegeoms2").collect()}
        assert rows[1].t == "CIRCULARSTRING" and rows[1].np == 3.0
        assert rows[2].t == "CURVEPOLYGON"
        assert rows[1].emp is False and rows[2].emp is False
        # distance measured to the stroked curve: point (5,0) vs the arc
        # through (2,0): within a stroking sliver of 3.0
        assert abs(rows[1].d - 3.0) < 1e-3
        # swapxy preserved the curve type and mirrored coordinates
        assert rows[1].sw.startswith("CIRCULARSTRING")
        k, d = wkb.decode(bytes(sql.sql(
            "SELECT st_swapxy(geom) AS g FROM curvegeoms2 WHERE gid = 1"
        ).head().g))
        assert k == "circularstring"
        assert d[1][0] == 1.0 and d[2][0] == -1.0
        # predicates over a curve polygon: contains its center
        got = sql.sql(
            "SELECT st_intersects(geom, st_geomfromtext("
            "'POLYGON ((0.4 -0.1, 0.6 -0.1, 0.6 0.1, 0.4 0.1, 0.4 -0.1))'"
            ")) AS i FROM curvegeoms2 WHERE gid = 2").head().i
        assert got is True
        # curvepolygon area stays the EXACT pi*R^2 path
        a = sql.sql("SELECT st_area(geom) AS a FROM curvegeoms2 "
                    "WHERE gid = 2").head().a
        assert a == math.pi * 0.25
