"""SQL-callable function catalog — the engine's `spark.sql` surface.

Reference parity: the SQLite dialect registers a spatial SQL catalog over
OGR layers (/root/reference/ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp
— ST_Area :959, predicates :876-883, ST_AsText/AsBinary/GeomFromText
:723-808) and OGR SQL accepts custom functions via
swq_custom_func_registrar (ogr/ogr_swq.h:225-231). This module is the
Spark twin: `register_all(spark)` installs the kernel library as session
functions so `spark.sql("SELECT st_area(geom) ...")` works over any table.

Implementation notes:
- geometry kernels (WKB decode, ray-cast PIP, shoelace area) are the
  NumPy kernels from geo/, wrapped as **pandas UDFs** (Arrow-batched, no
  per-row Python — the input_hint contract);
- tile / cell-id math is pure closed-form arithmetic, registered as
  Arrow UDFs over the same NumPy kernels the column API uses, run once
  per distinct zoom of a batch (callers wanting whole-stage codegen use
  the column forms, mercator.tile_x_col etc.; the SQL forms exist for
  parity and ad-hoc SQL);
- everything registered here returns Spark-native types (no objects), so
  results compose with any Catalyst expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession, functions as F, types as T

from ..geo import cells as _cells, clip as _clip, curves as _curves, \
    geodesic as _geodesic, mercator as _mercator, wkb as _wkb, wkt as _wkt
from ..geo.distance import geometry_distance, geometry_distance3d
from ..geo.hull import convex_hull_np, point_buffer_ring
from ..geo.pip import point_in_polygon_np, polygon_area_np, polygon_centroid_np
from ..geo.simplify import douglas_peucker_np, segmentize_np


def _decode_polys(wkb_series: pd.Series):
    """WKB bytes series -> list of polygon-lists: each feature is
    [[rings], ...] (one entry per polygon part; None for nulls/non-areal).
    """
    out = []
    for buf in wkb_series:
        if buf is None:
            out.append(None)
            continue
        kind, coords = _wkb.decode(bytes(buf))
        if kind in _curves.CURVE_KINDS or kind in (
                "triangle", "polyhedralsurface", "tin"):
            kind, coords = _curves.linearize(kind, coords)
        if kind == "polygon":
            out.append([coords])
        elif kind == "multipolygon":
            out.append(coords)
        else:
            out.append(None)
    return out


def _swap_xy_pts(pts):
    a = np.asarray(pts, np.float64).copy()
    a[:, [0, 1]] = a[:, [1, 0]]
    return a


def _swap_struct(kind, data):
    """OGRGeometry::swapXY over decoded structures, preserving the
    geometry TYPE (curve kinds stay curves, like the reference)."""
    if kind == "point":
        return kind, (float(data[1]), float(data[0])) + tuple(data[2:])
    if kind in ("linestring", "circularstring", "multipoint"):
        return kind, _swap_xy_pts(data)
    if kind in ("polygon", "triangle"):
        return kind, [_swap_xy_pts(r) for r in data]
    if kind == "multilinestring":
        return kind, [_swap_xy_pts(p) for p in data]
    if kind in ("multipolygon", "polyhedralsurface", "tin"):
        return kind, [[_swap_xy_pts(r) for r in rings] for rings in data]
    if kind in ("compoundcurve", "multicurve", "multisurface",
                "collection"):
        return kind, [_swap_struct(k, d) for k, d in data]
    if kind == "curvepolygon":
        rings = []
        for r in data:
            if (isinstance(r, tuple) and len(r) == 2
                    and isinstance(r[0], str)):
                rings.append(_swap_struct(r[0], r[1]))
            else:
                rings.append(_swap_xy_pts(r))
        return kind, rings
    raise NotImplementedError(f"swapxy kind {kind}")


def _npoints(kind, data) -> int:
    """OGR_G_GetPointCount over decoded structures. Curve kinds count
    CONTROL points (the reference counts them on the curve itself, not
    a linearized copy); compound curves subtract the shared joint per
    component after the first (ogrcompoundcurve.cpp getNumPoints)."""
    if kind == "point":
        return 1
    if kind in ("linestring", "circularstring", "multipoint"):
        return len(data)
    if kind in ("polygon", "triangle"):
        return sum(len(r) for r in data)
    if kind == "multilinestring":
        return sum(len(p) for p in data)
    if kind in ("multipolygon", "polyhedralsurface", "tin"):
        return sum(len(r) for rings in data for r in rings)
    if kind == "compoundcurve":
        return (sum(_npoints(k, d) for k, d in data)
                - max(0, len(data) - 1))
    if kind in ("multicurve", "multisurface", "collection"):
        return sum(_npoints(k, d) for k, d in data)
    if kind == "curvepolygon":
        n = 0
        for r in data:
            if (isinstance(r, tuple) and len(r) == 2
                    and isinstance(r[0], str)):
                n += _npoints(r[0], r[1])
            else:
                n += len(r)
        return n
    return 0


def _decode_lin(buf):
    """Decode WKB, linearizing curve/surface kinds first — the engine's
    analog of the reference's exportToGEOS path (GEOS has no curve
    types, so every GEOS-backed operation implicitly runs on
    GetLinearGeometry of a curve input; ogr/ogrgeometry.cpp)."""
    kind, data = _wkb.decode(bytes(buf))
    if kind in _curves.CURVE_KINDS or kind in (
            "triangle", "polyhedralsurface", "tin"):
        kind, data = _curves.linearize(kind, data)
    return kind, data


def register_all(spark: SparkSession) -> None:
    """Install the function catalog in this session (idempotent)."""
    from ..session import ship_package

    ship_package(spark)

    @F.pandas_udf(T.DoubleType())
    def st_area(wkb: pd.Series) -> pd.Series:
        # Curve surfaces take the reference's EXACT paths first
        # (ogrcurvepolygon.cpp get_Area: pi*R^2 full circles, shoelace +
        # circular-segment areas for convex rings) — only concave curve
        # rings stroke (the reference's own fallback).
        vals = []
        for buf in wkb:
            if buf is None:
                vals.append(float("nan"))
                continue
            kind, coords = _wkb.decode(bytes(buf))
            if kind == "curvepolygon":
                vals.append(_curves.curvepolygon_area(coords))
                continue
            if kind == "multisurface":
                vals.append(sum(
                    _curves.curvepolygon_area(d) if k == "curvepolygon"
                    else polygon_area_np(d) for k, d in coords))
                continue
            if kind in ("triangle", "polyhedralsurface", "tin"):
                kind, coords = _curves.linearize(kind, coords)
            if kind == "polygon":
                vals.append(polygon_area_np(coords))
            elif kind == "multipolygon":
                vals.append(sum(polygon_area_np(r) for r in coords))
            else:
                vals.append(float("nan"))
        return pd.Series(vals)

    @F.pandas_udf(T.BooleanType())
    def st_contains_point(wkb: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        out = np.zeros(len(xs), dtype=bool)
        for i, polys in enumerate(_decode_polys(wkb)):
            if polys is not None:
                out[i] = any(
                    bool(point_in_polygon_np(xs[i : i + 1], ys[i : i + 1], rings)[0])
                    for rings in polys
                )
        return pd.Series(out)

    def _env(idx):
        @F.pandas_udf(T.DoubleType())
        def f(wkb: pd.Series) -> pd.Series:
            vals = []
            for polys in _decode_polys(wkb):
                if polys is None:
                    vals.append(float("nan"))
                else:
                    pts = np.vstack([
                        np.asarray(rings[0], dtype=np.float64)
                        for rings in polys
                    ])
                    vals.append(
                        [pts[:, 0].min(), pts[:, 1].min(),
                         pts[:, 0].max(), pts[:, 1].max()][idx]
                    )
            return pd.Series(vals)
        return f

    @F.pandas_udf(T.BinaryType())
    def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series([
            _wkb.encode_point(float(a), float(b)) for a, b in zip(x, y)
        ])

    # Arrow UDFs, not pandas ones: pandas reads a NULL as NaN, and the tile
    # of a NULL coordinate is NULL while NaN's is a real tile. The zoom (or
    # step count) is a column, so a batch may hold several: fn(rows, k) runs
    # once per distinct k; NULL where the key or an input is NULL
    def _np(a: pa.Array) -> np.ndarray:  # filled, int64 stays int64
        return a.fill_null(0).to_numpy(zero_copy_only=False)

    def _per_key(key: pa.Array, fn, *args: pa.Array) -> pa.Array:
        null = np.logical_or.reduce(
            [a.is_null().to_numpy(zero_copy_only=False) for a in (key, *args)])
        k, out = _np(key), np.zeros(len(key), np.int64)
        for v in np.unique(k[~null]):
            rows = ~null & (k == v)
            out[rows] = fn(rows, int(v))
        return pa.array(out, mask=null)

    @F.arrow_udf(T.LongType())
    def tile_x(lon: pa.Array, zoom: pa.Array) -> pa.Array:
        return _per_key(zoom, lambda r, z: _mercator.lonlat_to_tile_np(
            _np(lon)[r], np.zeros(r.sum()), z)[0], lon)

    @F.arrow_udf(T.LongType())
    def tile_y(lat: pa.Array, zoom: pa.Array) -> pa.Array:
        return _per_key(zoom, lambda r, z: _mercator.lonlat_to_tile_np(
            np.zeros(r.sum()), _np(lat)[r], z)[1], lat)

    @F.arrow_udf(T.LongType())
    def cell_id(x: pa.Array, y: pa.Array, zoom: pa.Array) -> pa.Array:
        return _per_key(zoom, lambda r, z: _cells.cell_encode_np(
            _np(x)[r].astype(np.uint64), _np(y)[r].astype(np.uint64), z), x, y)

    @F.arrow_udf(T.LongType())
    def cell_parent(cell: pa.Array, steps: pa.Array) -> pa.Array:
        return _per_key(steps, lambda r, s: _cells.cell_parent_np(
            _np(cell)[r].astype(np.uint64), s), cell)

    def _per_ring(wkb_series, scalar, fn):
        """Apply a ring/line kernel to every ring of polygon WKB rows
        and to every part of (multi)linestrings — the reference's
        segmentize/Simplify operate on any curve, not only rings
        (OGRSimpleCurve::segmentize, ogr_geometry.h:543)."""
        out = []
        for buf in wkb_series:
            if buf is None:
                out.append(None)
                continue
            kind, coords = _decode_lin(buf)
            if kind == "polygon":
                out.append(_wkb.encode_polygon([fn(r, scalar) for r in coords]))
            elif kind == "multipolygon":
                out.append(_wkb.encode_multipolygon(
                    [[fn(r, scalar) for r in rings] for rings in coords]))
            elif kind == "linestring":
                out.append(_wkb.encode_linestring(fn(coords, scalar)))
            elif kind == "multilinestring":
                out.append(_wkb.encode_multilinestring(
                    [fn(part, scalar) for part in coords]))
            else:
                out.append(bytes(buf))
        return pd.Series(out)

    @F.pandas_udf(T.BinaryType())
    def st_simplify(wkb: pd.Series, tol: pd.Series) -> pd.Series:
        # OGRGeometry::Simplify (Douglas-Peucker) on every ring
        return _per_ring(wkb, float(tol.iloc[0]), douglas_peucker_np)

    @F.pandas_udf(T.BinaryType())
    def st_simplifypreservetopology(wkb: pd.Series,
                                    tol: pd.Series) -> pd.Series:
        # OGRGeometry::SimplifyPreserveTopology (ogr_geometry.h:583):
        # per-POLYGON kernel (rings interact via the hole-containment
        # guarantee), linestrings plain-DP
        from ..geo.simplify import simplify_preserve_topology_np

        t = float(tol.iloc[0])
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, coords = _decode_lin(buf)
            if kind == "polygon":
                out.append(_wkb.encode_polygon(
                    simplify_preserve_topology_np(coords, t)))
            elif kind == "multipolygon":
                out.append(_wkb.encode_multipolygon(
                    [simplify_preserve_topology_np(rings, t)
                     for rings in coords]))
            elif kind == "linestring":
                out.append(_wkb.encode_linestring(
                    douglas_peucker_np(np.asarray(coords, float), t)))
            else:
                out.append(bytes(buf))
        return pd.Series(out)

    @F.pandas_udf(T.BinaryType())
    def st_segmentize(wkb: pd.Series, max_len: pd.Series) -> pd.Series:
        # OGRGeometry::segmentize on every ring
        return _per_ring(wkb, float(max_len.iloc[0]), segmentize_np)

    def _centroid(idx):
        @F.pandas_udf(T.DoubleType())
        def f(wkb: pd.Series) -> pd.Series:
            vals = []
            for polys in _decode_polys(wkb):
                if polys is None:
                    vals.append(float("nan"))
                else:
                    # area-weighted over parts
                    acc_a, acc = 0.0, 0.0
                    for rings in polys:
                        c = polygon_centroid_np(rings)
                        a = polygon_area_np(rings)
                        acc_a += a
                        acc += a * c[idx]
                    vals.append(acc / acc_a if acc_a else polygon_centroid_np(polys[0])[idx])
            return pd.Series(vals)
        return f

    @F.pandas_udf(T.StringType())
    def st_astext(wkb: pd.Series) -> pd.Series:
        # ST_AsText (ogrsqlitesqlfunctions.cpp:723): WKB -> WKT;
        # Z geometries keep their third ordinate (decode_z) like the
        # reference's exportToWkt
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, data, _hz = _wkb.decode_z(bytes(buf))
            out.append(_wkt.to_wkt(kind, data))
        return pd.Series(out)

    @F.pandas_udf(T.BinaryType())
    def st_geomfromtext(txt: pd.Series) -> pd.Series:
        # ST_GeomFromText (ogrsqlitesqlfunctions.cpp:760): WKT -> WKB
        out = []
        for t in txt:
            if t is None:
                out.append(None)
                continue
            out.append(_wkb.encode_geometry(*_wkt.from_wkt(str(t))))
        return pd.Series(out)

    @F.pandas_udf(T.DoubleType())
    def st_distance(wa: pd.Series, wb: pd.Series) -> pd.Series:
        # ST_Distance (GEOS Distance analog; exact for the 2-D subset)
        vals = []
        for a, b in zip(wa, wb):
            if a is None or b is None:
                vals.append(float("nan"))
            else:
                ka, da = _decode_lin(a)
                kb, db = _decode_lin(b)
                vals.append(geometry_distance(ka, da, kb, db))
        return pd.Series(vals)

    @F.pandas_udf(T.DoubleType())
    def st_distance3d(wa: pd.Series, wb: pd.Series) -> pd.Series:
        # OGR_G_Distance3D (ogr/ogrgeometry.cpp:3668): -1.0 unless both
        # operands are 3-D; exact for the 0/1-dimensional Z subset
        vals = []
        for a, b in zip(wa, wb):
            if a is None or b is None:
                vals.append(float("nan"))
            else:
                ka, da, za = _wkb.decode_z(bytes(a))
                kb, db, zb = _wkb.decode_z(bytes(b))
                vals.append(geometry_distance3d(ka, da, za, kb, db, zb))
        return pd.Series(vals)

    @F.pandas_udf(T.BooleanType())
    def st_is3d(wkb: pd.Series) -> pd.Series:
        # OGRGeometry::Is3D — true when the WKB carries Z (either the
        # 0x80000000-flag or ISO +1000 encoding)
        return pd.Series([None if buf is None
                          else _wkb.decode_z(bytes(buf))[2] for buf in wkb])

    @F.pandas_udf(T.DoubleType())
    def st_z(wkb: pd.Series) -> pd.Series:
        # OGRPoint::getZ — 0.0 for 2-D points (the reference's default)
        vals = []
        for buf in wkb:
            if buf is None:
                vals.append(None)
                continue
            kind, data, has_z = _wkb.decode_z(bytes(buf))
            if kind != "point":
                vals.append(None)
            else:
                vals.append(float(data[2]) if has_z else 0.0)
        return pd.Series(vals)

    @F.pandas_udf(T.BinaryType())
    def st_convexhull(wkb: pd.Series) -> pd.Series:
        # OGRGeometry::ConvexHull (ogr_geometry.h:560): hull of ALL
        # vertices of the geometry, as a polygon
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, data = _decode_lin(buf)
            if kind == "point":
                pts = np.array([data], dtype=np.float64)
            elif kind == "linestring":
                pts = np.asarray(data, dtype=np.float64)
            elif kind == "polygon":
                pts = np.vstack(data)
            else:
                pts = np.vstack([r for rings in data for r in rings])
            out.append(_wkb.encode_polygon([convex_hull_np(pts)]))
        return pd.Series(out)

    def _enc_areal(kind, data):
        """(kind, data) -> WKB, or None for an empty result (the
        reference returns an EMPTY geometry; SQL-side NULL is this
        catalog's empty signal)."""
        if not data:
            return None
        if kind == "polygon":
            return _wkb.encode_polygon(data)
        return _wkb.encode_multipolygon(data)

    @F.pandas_udf(T.BinaryType())
    def st_buffer(wkb: pd.Series, dist: pd.Series) -> pd.Series:
        # OGRGeometry::Buffer (ogr_geometry.h:565, nQuadSegs=30 default).
        # Points keep the legacy 8-seg-per-quadrant ring (point_buffer_
        # ring, GEOS's own default density); lines and areal geometries
        # go through the geo/clip offset machinery: per-edge round-cap
        # capsules folded with boolean union (dilate) or difference
        # (erode) — approximation-equal to GEOS, not bit-equal (arc
        # vertex phase differs; see geo/clip.buffer_geometry).
        d = float(dist.iloc[0])
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, data = _decode_lin(buf)
            if kind == "point":
                out.append(_wkb.encode_polygon(
                    [point_buffer_ring(data[0], data[1], d)])
                    if d > 0 else None)
                continue
            rk, rd = _clip.buffer_geometry(kind, data, d)
            out.append(_enc_areal(rk, rd))
        return pd.Series(out)

    def _overlay(op):
        @F.pandas_udf(T.BinaryType())
        def f(wa: pd.Series, wb: pd.Series) -> pd.Series:
            # OGRGeometry::Intersection/Union/Difference/SymDifference
            # (ogrgeometry.cpp:4560+, GEOS-delegated there) for the
            # areal subset, via geo/clip fragment classification.
            out = []
            for a, b in zip(wa, wb):
                if a is None or b is None:
                    out.append(None)
                    continue
                ka, da = _decode_lin(a)
                kb, db = _decode_lin(b)
                rk, rd = _clip.overlay(ka, da, kb, db, op)
                out.append(_enc_areal(rk, rd))
            return pd.Series(out)
        return f

    def _accessor(what):
        @F.pandas_udf(T.DoubleType())
        def f(wkb: pd.Series) -> pd.Series:
            # ST_X/ST_Y/ST_NumPoints/ST_NumGeometries — the SQLite
            # dialect's accessor set (ogrsqlitesqlfunctions.cpp; OGR
            # core getters ogr/ogrpoint.cpp, ogrgeometrycollection.cpp)
            out = []
            for buf in wkb:
                if buf is None:
                    out.append(None)
                    continue
                kind, data = _wkb.decode(bytes(buf))
                if what in ("x", "y"):
                    out.append(float(data[0 if what == "x" else 1])
                               if kind == "point" else None)
                elif what == "npoints":
                    out.append(float(_npoints(kind, data)))
                else:  # ngeometries
                    out.append(float(len(data)) if kind in (
                        "multipolygon", "multicurve", "multisurface",
                        "polyhedralsurface", "tin", "collection",
                        "multilinestring", "multipoint") else 1.0)
            return pd.Series(out, dtype="float64")
        return f

    @F.pandas_udf(T.BinaryType())
    def st_geometryn(wkb: pd.Series, idx: pd.Series) -> pd.Series:
        # OGRGeometryCollection::getGeometryRef (1-based like the SQL
        # dialect's ST_GeometryN) — with explode(sequence(1,
        # st_ngeometries(g))) this IS `gdal vector explode-collections`
        out = []
        for buf, i in zip(wkb, idx):
            if buf is None or i is None:
                out.append(None)
                continue
            kind, data = _wkb.decode(bytes(buf))
            i = int(i)
            if kind == "multipolygon":
                out.append(_wkb.encode_polygon(data[i - 1])
                           if 1 <= i <= len(data) else None)
            elif kind in ("multicurve", "multisurface", "collection"):
                out.append(_wkb.encode_geometry(*data[i - 1])
                           if 1 <= i <= len(data) else None)
            elif kind in ("polyhedralsurface", "tin"):
                out.append(_wkb.encode_geometry("polygon", data[i - 1])
                           if 1 <= i <= len(data) else None)
            else:
                out.append(bytes(buf) if i == 1 else None)
        return pd.Series(out)

    @F.pandas_udf(T.BinaryType())
    def st_swapxy(wkb: pd.Series) -> pd.Series:
        # OGRGeometry::swapXY / `gdal vector swap-xy`
        # (gdalalg_vector_swap_xy.cpp)
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            out.append(_wkb.encode_geometry(
                *_swap_struct(*_wkb.decode(bytes(buf)))))
        return pd.Series(out)

    @F.pandas_udf(T.StringType())
    def st_geometrytype(wkb: pd.Series) -> pd.Series:
        # OGR_GEOMETRY special field / GeometryType() — WKT-style names
        names_ = {"point": "POINT", "linestring": "LINESTRING",
                  "polygon": "POLYGON", "multipolygon": "MULTIPOLYGON",
                  "multipoint": "MULTIPOINT",
                  "multilinestring": "MULTILINESTRING",
                  "collection": "GEOMETRYCOLLECTION",
                  "circularstring": "CIRCULARSTRING",
                  "compoundcurve": "COMPOUNDCURVE",
                  "curvepolygon": "CURVEPOLYGON",
                  "multicurve": "MULTICURVE",
                  "multisurface": "MULTISURFACE", "triangle": "TRIANGLE",
                  "polyhedralsurface": "POLYHEDRALSURFACE", "tin": "TIN"}
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
            else:
                out.append(names_[_wkb.decode(bytes(buf))[0]])
        return pd.Series(out)

    @F.pandas_udf(T.BinaryType())
    def st_delaunay(wkb: pd.Series) -> pd.Series:
        # OGRGeometry::DelaunayTriangulation (ogr_geometry.h:585,
        # GEOS-delegated there): triangulate ALL vertices of the input,
        # return the triangles as a multipolygon — geo/delaunay's
        # Bowyer-Watson kernel (the one the TIN gridding oracle
        # validated against brute force)
        from ..geo.delaunay import delaunay as _delaunay

        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, data = _decode_lin(buf)
            if kind == "point":
                pts = np.array([data], dtype=np.float64)
            elif kind == "linestring":
                pts = np.asarray(data, dtype=np.float64)
            elif kind == "polygon":
                pts = np.vstack(data)
            else:
                pts = np.vstack([r for rings in data for r in rings])
            pts = np.unique(pts, axis=0)
            tris = _delaunay(pts)
            if len(tris) == 0:
                out.append(None)
                continue
            out.append(_wkb.encode_multipolygon(
                [[np.vstack([pts[t], pts[t[:1]]])] for t in tris]))
        return pd.Series(out)

    def _predicate(name):
        @F.pandas_udf(T.BooleanType())
        def f(wa: pd.Series, wb: pd.Series) -> pd.Series:
            # OGRGeometry predicate set (ogr_geometry.h:546-553),
            # re-derived from the clip/distance kernels (geo/clip.relate).
            # Kind pairings relate() declares undefined yield NULL
            # (SQL unknown) instead of failing the whole Spark job —
            # one malformed row must not kill a corpus-scale query.
            out = []
            for a, b in zip(wa, wb):
                if a is None or b is None:
                    out.append(None)
                    continue
                ka, da = _decode_lin(a)
                kb, db = _decode_lin(b)
                try:
                    out.append(_clip.relate(ka, da, kb, db, name))
                except NotImplementedError:
                    out.append(None)
            return pd.Series(out, dtype="object")
        return f

    @F.pandas_udf(T.BooleanType())
    def st_isvalid(wkb: pd.Series) -> pd.Series:
        # OGRGeometry::IsValid / gdal vector check-geometry
        # (geo/clip.is_valid; rule subset documented there)
        out = []
        for a in wkb:
            if a is None:
                out.append(None)
                continue
            k, d = _decode_lin(a)
            out.append(_clip.is_valid(k, d)[0])
        return pd.Series(out, dtype="object")

    @F.pandas_udf(T.StringType())
    def st_isvalidreason(wkb: pd.Series) -> pd.Series:
        out = []
        for a in wkb:
            if a is None:
                out.append(None)
                continue
            k, d = _decode_lin(a)
            ok, reason = _clip.is_valid(k, d)
            out.append("Valid Geometry" if ok else reason)
        return pd.Series(out)

    @F.pandas_udf(T.BinaryType())
    def st_unaryunion(wkb: pd.Series) -> pd.Series:
        # OGRGeometry::UnaryUnion (ogr_geometry.h:570s, GEOS-delegated):
        # dissolve the parts of one geometry (overlapping multipolygon
        # parts merge); polygons just re-validate
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, data = _decode_lin(buf)
            if kind == "multipolygon":
                rk, rd = _clip.union_all(
                    [("polygon", rings) for rings in data])
            else:
                rk, rd = _clip.make_valid(kind, data)
            out.append(_enc_areal(rk, rd))
        return pd.Series(out)

    @F.pandas_udf(T.BinaryType())
    def st_makevalid(wkb: pd.Series) -> pd.Series:
        # OGRGeometry::MakeValid (ogr_geometry.h:430), STRUCTURE-method
        # semantics: even-odd reinterpretation of self-intersecting
        # rings (bowtie -> two triangles, autotest ogr_geom_makevalid).
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, data = _decode_lin(buf)
            rk, rd = _clip.make_valid(kind, data)
            out.append(_enc_areal(rk, rd))
        return pd.Series(out)

    @F.pandas_udf(T.BinaryType())
    def st_union_agg(wkb: pd.Series) -> bytes:  # Series->scalar: GROUPED_AGG
        # OGRGeometry::UnionCascaded (ogr_geometry.h:573) as a grouped
        # aggregate. Grouped-agg pandas UDFs ship each whole group to
        # one worker — right-sized here because union groups are the
        # DIMENSION side (admin regions, boundary sets: tens-to-
        # thousands of parts), never the page corpus.
        geoms = [_decode_lin(b) for b in wkb if b is not None]
        rk, rd = _clip.union_all(geoms)
        return _enc_areal(rk, rd)

    @F.pandas_udf(T.BooleanType())
    def st_isempty(wkb: pd.Series) -> pd.Series:
        # OGRGeometry::IsEmpty (ogr_geometry.h; SQLite dialect
        # REGISTER_ST_op(1, IsEmpty)): no points in the point set.
        # POINT EMPTY travels as NaN coordinates in WKB — that is the
        # empty point, not a located one (OGRPoint::IsEmpty).
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, data = _decode_lin(buf)
            if kind == "point":
                out.append(bool(np.isnan(data[0]) or np.isnan(data[1])))
            elif kind == "linestring":
                out.append(len(data) == 0)
            elif kind == "polygon":
                out.append(len(data) == 0 or len(data[0]) == 0)
            else:
                out.append(len(data) == 0)
        return pd.Series(out, dtype="object")

    def _polyline_simple(pts: np.ndarray) -> bool:
        """JTS/GEOS IsSimple for one polyline, on the same vectorized
        orientation grids is_valid uses (geo/clip._segment_grid_tests):
        non-simple iff any NON-ADJACENT segment pair makes contact
        (proper crossing or point touch — a revisited point), or ANY
        pair (adjacent included) overlaps collinearly (backtracking
        spikes). The ring-closure pair of a closed line touches at the
        shared endpoint by construction and is exempt from the contact
        rule (but not from collinear overlap). Repeated consecutive
        points are dropped first — JTS ignores them."""
        keep = np.ones(len(pts), bool)
        if len(pts) > 1:
            keep[1:] = (np.diff(pts, axis=0) != 0).any(axis=1)
        pts = pts[keep]
        n = len(pts) - 1
        if n <= 1:
            return True
        proper, touch, coll = _clip._segment_grid_tests(pts, pts)
        i_idx, j_idx = np.indices(proper.shape)
        nonadj = np.abs(i_idx - j_idx) >= 2
        if (pts[0] == pts[-1]).all():
            nonadj[0, n - 1] = False
            nonadj[n - 1, 0] = False
        if ((proper | touch) & nonadj).any():
            return False
        return not (coll & (i_idx != j_idx)).any()

    @F.pandas_udf(T.BooleanType())
    def st_issimple(wkb: pd.Series) -> pd.Series:
        # OGRGeometry::IsSimple (GEOS-delegated in the reference):
        # (multi)points are simple iff no repeated member; linestrings
        # via _polyline_simple; areal kinds test PER-RING simplicity
        # only (the JTS IsSimpleOp rule) — NOT validity, which is
        # strictly stronger: an invalid polygon with ring-simple rings
        # (hole outside shell, shell-crossing hole) is still SIMPLE
        # (ADVICE r3). multilinestring/collection return NULL — the
        # cross-member endpoint-only-contact rule is not implemented
        # (same unknown-result convention as the geodesic kernels' NaN).
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, data = _decode_lin(buf)
            if kind == "point":
                out.append(True)
            elif kind == "multipoint":
                pts = np.asarray(data, np.float64).reshape(-1, 2)
                out.append(len(np.unique(pts, axis=0)) == len(pts))
            elif kind == "linestring":
                out.append(_polyline_simple(np.asarray(data, np.float64)))
            elif kind in ("polygon", "multipolygon"):
                rings = (data if kind == "polygon"
                         else [r for poly in data for r in poly])
                out.append(all(
                    _polyline_simple(np.asarray(r, np.float64))
                    for r in rings))
            else:
                out.append(None)
        return pd.Series(out, dtype="object")

    @F.pandas_udf(T.DoubleType())
    def st_length(wkb: pd.Series) -> pd.Series:
        # ST_Length (ogrsqlitesqlfunctions.cpp:978 -> OGR_G_Length,
        # ogr_api.cpp:1633): planar curve length; surfaces sum their
        # exterior AND interior ring perimeters (documented since-3.10
        # behavior); points (non-curve) return 0.0. Rings are stored
        # closed, so the plain per-segment sum includes the closing edge.
        def seglen(pts) -> float:
            a = np.asarray(pts, np.float64)
            if len(a) < 2:
                return 0.0
            d = np.diff(a, axis=0)
            return float(np.sqrt(d[:, 0] * d[:, 0]
                                 + d[:, 1] * d[:, 1]).sum())

        def glen(kind, data) -> float:
            if kind == "linestring":
                return seglen(data)
            if kind == "multilinestring":
                return sum(seglen(part) for part in data)
            if kind == "polygon":
                return sum(seglen(r) for r in data)
            if kind == "multipolygon":
                return sum(seglen(r) for rings in data for r in rings)
            if kind == "collection":
                # OGRGeometryCollection::get_Length sums curve/surface
                # members and skips the rest
                return sum(glen(k, d) for k, d in data)
            if kind in _curves.CURVE_KINDS or kind in (
                    "triangle", "polyhedralsurface", "tin"):
                # exact arc lengths, R*|dalpha| per arc span
                return _curves.curve_length(kind, data)
            return 0.0  # points / multipoints: non-curve -> 0

        vals = []
        for buf in wkb:
            if buf is None:
                vals.append(float("nan"))
                continue
            kind, data = _wkb.decode(bytes(buf))
            vals.append(glen(kind, data))
        return pd.Series(vals)

    @F.pandas_udf(T.BinaryType())
    def st_curvetoline(wkb: pd.Series) -> pd.Series:
        # OGR_G_CurveToLine / GetLinearGeometry at the default 4-degree
        # step (ogrgeometryfactory.cpp curveToLineString; stealth
        # low-byte alpha encoding replayed bit-exactly). Linear inputs
        # pass through unchanged, like the reference.
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            kind, data = _wkb.decode(bytes(buf))
            if kind in _curves.CURVE_KINDS or kind in (
                    "triangle", "polyhedralsurface", "tin"):
                out.append(_wkb.encode_geometry(
                    *_curves.linearize(kind, data)))
            else:
                out.append(bytes(buf))
        return pd.Series(out, dtype="object")

    @F.pandas_udf(T.BooleanType())
    def st_hascurvegeometry(wkb: pd.Series) -> pd.Series:
        # OGR_G_HasCurveGeometry(bLookForNonLinear=TRUE)
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            out.append(_curves.has_curve_geometry(*_wkb.decode(bytes(buf))))
        return pd.Series(out, dtype="object")

    @F.pandas_udf(T.DoubleType())
    def st_geodesic_area(wkb: pd.Series) -> pd.Series:
        # ST_Area(geom, use_ellipsoid=1) (ogrsqlitesqlfunctions.cpp:630
        # -> OGR_G_GeodesicArea): WGS84 ellipsoidal area in m^2; closed
        # linestrings count as rings, multipolygons sum parts, holes
        # subtract (ogr_geom.py geodesic autotest semantics)
        vals = []
        for buf in wkb:
            if buf is None:
                vals.append(float("nan"))
                continue
            kind, data = _decode_lin(buf)
            if kind == "polygon":
                vals.append(_geodesic.geodesic_area(data))
            elif kind == "multipolygon":
                vals.append(sum(_geodesic.geodesic_area(rings)
                                for rings in data))
            elif kind == "linestring":
                pts = np.asarray(data, np.float64)
                closed = len(pts) >= 4 and (pts[0] == pts[-1]).all()
                vals.append(_geodesic.geodesic_area([pts]) if closed
                            else float("nan"))
            else:
                vals.append(0.0 if kind == "point" else float("nan"))
        return pd.Series(vals)

    @F.pandas_udf(T.DoubleType())
    def st_geodesic_length(wkb: pd.Series) -> pd.Series:
        # ST_Length(geom, use_ellipsoid=1) (ogrsqlitesqlfunctions.cpp:675
        # -> get_GeodesicLength): Vincenty per-segment sum; polygons
        # return their ring perimeters
        vals = []
        for buf in wkb:
            if buf is None:
                vals.append(float("nan"))
                continue
            kind, data = _decode_lin(buf)
            if kind == "linestring":
                pts = np.asarray(data, np.float64)
                vals.append(_geodesic.geodesic_length(pts[:, 0], pts[:, 1]))
            elif kind == "polygon":
                vals.append(sum(
                    _geodesic.geodesic_length(np.asarray(r, np.float64)[:, 0],
                                              np.asarray(r, np.float64)[:, 1])
                    for r in data))
            elif kind == "multipolygon":
                vals.append(sum(
                    _geodesic.geodesic_length(np.asarray(r, np.float64)[:, 0],
                                              np.asarray(r, np.float64)[:, 1])
                    for rings in data for r in rings))
            else:
                vals.append(0.0 if kind == "point" else float("nan"))
        return pd.Series(vals)

    @F.pandas_udf(T.BinaryType())
    def ogr_deflate(blob: pd.Series) -> pd.Series:
        # OGR2SQLITE_ogr_deflate (ogrsf_frmts/sqlite/
        # ogrsqlitesqlfunctions.cpp:127): CPLZLibDeflate at the default
        # level over the raw blob -> zlib-format stream. The reference's
        # TEXT form compresses strlen+1 bytes (the C NUL terminator
        # rides along); binary callers here pass the exact payload —
        # append b"\\x00" before casting if that artifact matters.
        import zlib

        return pd.Series([None if b is None else zlib.compress(bytes(b))
                          for b in blob])

    @F.pandas_udf(T.BinaryType())
    def ogr_deflate_level(blob: pd.Series, level: pd.Series) -> pd.Series:
        # the 2-arg reference form (SQL has no default args, so the
        # leveled variant registers under its own name)
        import zlib

        out = []
        for b, lv in zip(blob, level):
            if b is None or lv is None:
                out.append(None)
            else:
                out.append(zlib.compress(bytes(b), int(lv)))
        return pd.Series(out)

    @F.pandas_udf(T.BinaryType())
    def ogr_inflate(blob: pd.Series) -> pd.Series:
        # OGR2SQLITE_ogr_inflate (:180): CPLZLibInflate; NULL on any
        # non-zlib input (the reference's error path)
        import zlib

        out = []
        for b in blob:
            if b is None:
                out.append(None)
                continue
            try:
                out.append(zlib.decompress(bytes(b)))
            except zlib.error:
                out.append(None)
        return pd.Series(out)

    @F.pandas_udf(T.DoubleType())
    def st_utm_easting(lon: pd.Series, lat: pd.Series,
                       epsg: pd.Series) -> pd.Series:
        # geo/tmerc Krueger forward, per-row zone (EPSG 326xx/327xx)
        from ..geo import tmerc as _tm

        out = np.empty(len(lon))
        lo = lon.to_numpy()
        la = lat.to_numpy()
        for code in np.unique(epsg.to_numpy()):
            m = epsg.to_numpy() == code
            out[m] = _tm.utm_forward(lo[m], la[m], int(code))[0]
        return pd.Series(out)

    @F.pandas_udf(T.DoubleType())
    def st_utm_northing(lon: pd.Series, lat: pd.Series,
                        epsg: pd.Series) -> pd.Series:
        from ..geo import tmerc as _tm

        out = np.empty(len(lon))
        lo = lon.to_numpy()
        la = lat.to_numpy()
        for code in np.unique(epsg.to_numpy()):
            m = epsg.to_numpy() == code
            out[m] = _tm.utm_forward(lo[m], la[m], int(code))[1]
        return pd.Series(out)

    @F.pandas_udf(T.IntegerType())
    def st_utm_zone_epsg(lon: pd.Series, lat: pd.Series) -> pd.Series:
        # the reference's midpoint zone pick (ogrlineref.cpp:559-569)
        zone = (30 + (lon.to_numpy() + 3.0) / 6.0 + 0.5).astype(int)
        base = np.where(lat.to_numpy() > 0, 32600, 32700)
        return pd.Series((base + zone).astype("int32"))

    spark.udf.register("st_utm_easting", st_utm_easting)
    spark.udf.register("st_utm_northing", st_utm_northing)
    spark.udf.register("st_utm_zone_epsg", st_utm_zone_epsg)
    spark.udf.register("st_geodesic_area", st_geodesic_area)
    spark.udf.register("st_geodesic_length", st_geodesic_length)
    spark.udf.register("st_length", st_length)
    spark.udf.register("st_curvetoline", st_curvetoline)
    spark.udf.register("st_hascurvegeometry", st_hascurvegeometry)
    spark.udf.register("st_isempty", st_isempty)
    spark.udf.register("st_issimple", st_issimple)
    # the geometry column IS WKB here, so AsBinary/GeomFromWKB are the
    # identity (the SQLite dialect round-trips through its blob format;
    # GeomFromWKB still decode-validates so malformed blobs surface).
    # Arrow-batched identity, not a per-row scalar UDF (repo invariant).
    @F.pandas_udf(T.BinaryType())
    def st_asbinary(b: pd.Series) -> pd.Series:
        return b

    spark.udf.register("st_asbinary", st_asbinary)

    @F.pandas_udf(T.BinaryType())
    def st_geomfromwkb(wkb: pd.Series) -> pd.Series:
        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            _wkb.decode(bytes(buf))  # raises on malformed input
            out.append(bytes(buf))
        return pd.Series(out)

    spark.udf.register("st_geomfromwkb", st_geomfromwkb)
    spark.udf.register("st_makepoint", st_point)
    spark.udf.register("st_convexhull", st_convexhull)
    spark.udf.register("st_buffer", st_buffer)
    spark.udf.register("st_intersection", _overlay("intersection"))
    spark.udf.register("st_union", _overlay("union"))
    spark.udf.register("st_difference", _overlay("difference"))
    spark.udf.register("st_symdifference", _overlay("symdifference"))
    spark.udf.register("st_makevalid", st_makevalid)
    spark.udf.register("st_isvalid", st_isvalid)
    spark.udf.register("st_isvalidreason", st_isvalidreason)
    spark.udf.register("st_unaryunion", st_unaryunion)
    spark.udf.register("st_union_agg", st_union_agg)
    for _p in ("intersects", "disjoint", "touches", "within", "contains",
               "overlaps", "crosses", "equals"):
        spark.udf.register(f"st_{_p}", _predicate(_p))
    spark.udf.register("st_delaunay", st_delaunay)
    spark.udf.register("st_x", _accessor("x"))
    spark.udf.register("st_y", _accessor("y"))
    spark.udf.register("st_npoints", _accessor("npoints"))
    spark.udf.register("st_ngeometries", _accessor("ngeometries"))
    spark.udf.register("st_geometrytype", st_geometrytype)
    spark.udf.register("st_geometryn", st_geometryn)
    spark.udf.register("st_swapxy", st_swapxy)
    spark.udf.register("st_astext", st_astext)
    spark.udf.register("st_geomfromtext", st_geomfromtext)
    spark.udf.register("st_distance", st_distance)
    spark.udf.register("st_distance3d", st_distance3d)
    spark.udf.register("ogr_deflate", ogr_deflate)
    spark.udf.register("ogr_deflate_level", ogr_deflate_level)
    spark.udf.register("ogr_inflate", ogr_inflate)
    spark.udf.register("st_is3d", st_is3d)
    spark.udf.register("st_z", st_z)
    spark.udf.register("st_centroid_x", _centroid(0))
    spark.udf.register("st_centroid_y", _centroid(1))
    spark.udf.register("st_simplify", st_simplify)
    spark.udf.register("st_simplifypreservetopology",
                       st_simplifypreservetopology)
    spark.udf.register("st_segmentize", st_segmentize)
    spark.udf.register("st_area", st_area)
    spark.udf.register("st_contains_point", st_contains_point)
    spark.udf.register("st_xmin", _env(0))
    spark.udf.register("st_ymin", _env(1))
    spark.udf.register("st_xmax", _env(2))
    spark.udf.register("st_ymax", _env(3))
    spark.udf.register("st_point", st_point)
    spark.udf.register("tile_x", tile_x)
    spark.udf.register("tile_y", tile_y)
    spark.udf.register("cell_id", cell_id)
    spark.udf.register("cell_parent", cell_parent)
