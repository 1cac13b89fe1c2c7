"""Two-phase distributed spatial join: tile pre-filter + exact ray-cast.

Reference semantics re-expressed Spark-first:

- The reference's spatial join is a filter-pushdown nested loop with
  prepared geometries (/root/reference/ogr/ogrlayer.cpp:5204 ``Intersection``:
  method-extent pre-test :5280-5300, per-row spatial-filter pushdown :5305,
  prepared-geometry fast Intersects :5325-5380, exact combine :5395-5420).
  Its per-layer spatial filter is the same discipline (ogrlayer.cpp:3707
  ``InstallFilter`` / :3824 ``FilterGeometry``): a cheap envelope test first,
  the exact geometry test only on survivors.

- Here phase 1 (cheap) is a *tile-pair equi-join*: every point carries its
  XYZ tile (x, y) at the join zoom (Catalyst column math, geo/mercator.py);
  every polygon is exploded to the tiles its geometry covers. The two int
  keys pack into one long, so the join is hash-partitionable and
  broadcastable as a single-long hashed relation; nothing rolls cells up,
  so the key needs equality only. Phase 2 (exact) is one Catalyst expression
  for every polygon: the closed exterior envelope test, then the ray-cast
  of geo/pip.py (semantics of ogr/ogrlinearring.cpp:452-521) as an
  ``aggregate`` over the polygon's edges, which ride in the cover rows.
  The edges keep ``point_in_ring_np``'s order and float operations, so for
  finite vertices the answer is ``point_in_polygon_np``'s bit for bit:
  half-open on the max edges, holes by even-odd parity over all rings.

- Every face is ONE join of the points with the cover whose condition is
  the whole containment test; only the join type differs: inner -> inner;
  left, identity, union -> left; semi -> left_semi (each input row once,
  however many polygons contain it); anti, symdiff -> left_anti. Cover
  rows carry poly_area, so no face joins an attribute table. No face needs
  a unique key; union and symdiff add the point-free polygons by a tiny
  id anti-join against the distinct ids a second point join matched.

Scale design (100 TB / 10^12 pages):
- the polygon side (admin boundaries) is small: the cover, edges included,
  is built from pandas once per (set, zoom, SparkContext) and rides in
  the plan as a local relation whose size the planner knows, so it picks
  a broadcast hash join by itself — ZERO shuffle of the big side; each
  task filters its own partition (the distributed analog of the
  reference's per-executor prepared-geometry cache, ogrlayer.cpp:5325). A broadcast join has no
  skew exposure; AQE skew-join (session.py) splits hot partitions of any
  shuffled join. (Salting the cover join lost in every measured
  configuration, BENCH/SKEW.md.)
- the plan holds no Python stage and no RDD scan of a Python list, and no
  call leaves a broadcast behind.
  The ray-cast costs O(edges) per candidate row, and the broadcast carries
  (cover rows x edges) values: the figure to watch for large
  admin-boundary sets.
- plan construction is per-call work in Python: every Column call is one py4j
  round trip. The join key and the whole containment condition, ray-cast
  lambda included, are built once per (columns, zoom, exact) and session
  (session.built), so a 100-point request against a reused set plans in
  about 40 round trips (union about 55) instead of about 1,000.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..geo import mercator
from ..geo.cells import MAX_ZOOM
from ..geo.pip import cells_intersect_np, envelope_np
from ..pages.synth import GEOTAG_RE
from ..session import built


def _edges(rings) -> list:
    """The ray-cast edges of every ring as (x0, y0, x1, y1), in
    ``point_in_ring_np``'s order: the closing vertex dropped, edge i runs
    from vertex i-1 (wrapping) to vertex i. Left out: horizontal edges,
    which never straddle, and edges with a NaN coordinate, whose crossing
    x is NaN and so never right of a point. Neither counts a crossing,
    and without them the divisor ``y0 - y1`` is never 0."""
    out = []
    for r in rings:
        if len(r) >= 2 and r[0][0] == r[-1][0] and r[0][1] == r[-1][1]:
            r = r[:-1]
        e = np.hstack([np.roll(r, 1, axis=0), r])
        e = e[(e[:, 1] != e[:, 3]) & ~np.isnan(e).any(axis=1)]
        out.extend(map(tuple, e.tolist()))
    return out


class PolygonSet:
    """Driver-side polygon dimension: rings + envelopes.

    polys: list of (poly_id:int, rings:list[np.ndarray(n,2) lon/lat]).
    Small by construction (admin/boundary sets); its cover rides in the
    join plan and is broadcast to executors.
    """

    def __init__(self, polys):
        self.ids = [int(p) for p, _ in polys]
        self.rings = {int(p): [np.asarray(r, dtype=np.float64) for r in rings]
                      for p, rings in polys}
        boxes = np.array([envelope_np(self.rings[p]) for p in self.ids], dtype=np.float64)
        self.boxes = boxes.reshape(-1, 4)
        self._sc = None  # the SparkContext whose relations _rels holds
        self._rels = {}

    def area(self, pid: int) -> float:
        """Shoelace area of the polygon (holes subtract when wound
        opposite to the outer ring) — the OGR_GEOM_AREA analog
        (ogr/ogrlinearring.cpp get_Area semantics)."""
        total = 0.0
        for r in self.rings[int(pid)]:
            x, y = r[:, 0], r[:, 1]
            total += 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
        return abs(total)

    def cover_cells(self, zoom: int, with_bbox: bool = False) -> pd.DataFrame:
        """(x, y, poly_id[, xmin..ymax]) covering table at `zoom`: the int32
        XYZ tiles each polygon touches.

        bbox cover, refined by an exact rect-polygon intersects test so
        fully-outside tiles are dropped (fewer phase-1 candidates).
        with_bbox=True appends the polygon envelope columns so the join
        can run the Catalyst-side envelope pre-test (ogrlayer.cpp:3753).
        """
        empty = np.empty(0, np.int64)
        rows_x, rows_y, rows_pid = [empty], [empty], [empty]
        for pid in self.ids:
            rings = self.rings[pid]
            xmin, ymin, xmax, ymax = envelope_np(rings)
            txa, tya = mercator.lonlat_to_tile_np([xmin], [ymax], zoom)  # NW
            txb, tyb = mercator.lonlat_to_tile_np([xmax], [ymin], zoom)  # SE
            xs = np.arange(txa[0], txb[0] + 1, dtype=np.int64)
            ys = np.arange(tya[0], tyb[0] + 1, dtype=np.int64)
            gx, gy = np.meshgrid(xs, ys)
            gx, gy = gx.ravel(), gy.ravel()
            if len(gx) > 4:
                keep = cells_intersect_np(
                    rings, *mercator.tile_bounds_lonlat_np(gx, gy, zoom))
                gx, gy = gx[keep], gy[keep]
            rows_x.append(gx)
            rows_y.append(gy)
            rows_pid.append(np.full(len(gx), pid, dtype=np.int64))
        out = pd.DataFrame({"x": np.concatenate(rows_x).astype(np.int32),
                            "y": np.concatenate(rows_y).astype(np.int32),
                            "poly_id": np.concatenate(rows_pid)})
        if with_bbox:
            box = pd.DataFrame(self.boxes, columns=["xmin", "ymin", "xmax", "ymax"])
            box["poly_id"] = self.ids
            out = out.merge(box, on="poly_id", how="left")
        return out

    def _relation(self, spark, zoom: int | None = None) -> DataFrame:
        """The set's Spark side: for a zoom, the cover
        ``(_x, _y, poly_id, poly_area, xmin, ymin, xmax, ymax, edges)``
        (``cover_cells`` plus area and ``_edges``); for None, the
        (poly_id, poly_area) method-layer table (result schema = input
        fields + method fields, ogrlayer.cpp:4936). Built from pandas, so
        a local relation the planner broadcasts unhinted, and kept on the
        set: a serving session joins one set on every request. A new
        SparkContext drops them (the rule of session.built)."""
        if spark.sparkContext is not self._sc:
            self._sc, self._rels = spark.sparkContext, {}
        if zoom not in self._rels:
            area = {p: self.area(p) for p in self.ids}
            if zoom is None:
                pdf = pd.DataFrame({"poly_id": self.ids,
                                    "poly_area": [area[p] for p in self.ids]})
                schema = "poly_id long, poly_area double"
            else:
                pdf = self.cover_cells(zoom, with_bbox=True)
                pdf.insert(3, "poly_area", pdf.poly_id.map(area))
                edges = {p: _edges(self.rings[p]) for p in self.ids}
                pdf["edges"] = [edges[p] for p in pdf.poly_id]
                schema = ("_x int, _y int, poly_id long, poly_area double, "
                          "xmin double, ymin double, xmax double, ymax double, "
                          "edges array<struct<x0:double,y0:double,x1:double,y1:double>>")
            self._rels[zoom] = spark.createDataFrame(pdf, schema)
        return self._rels[zoom]


def geocode(df: DataFrame, text_col: str = "text", fast: bool = False) -> DataFrame:
    """Extract the @lat,lon geotag into double columns — JVM-side, no
    Python. The engine analog of the reference's field parsing in OGR text
    drivers (csv/geojson type inference).

    fast=True swaps the two regexp_extract passes for substring_index +
    split byte scans — ~1.6x cheaper and better-scaling (regex allocates
    per-row matcher state; measured eff 0.74 vs 0.81 at 2->8 cores on 32M
    rows). Valid only when the geotag is the final token (the pages-table
    contract, pages/synth.py); identical output values there. The regex
    path stays the general-input default because it validates the token
    shape wherever it sits."""
    if fast:
        tail = F.split(F.substring_index(F.col(text_col), "@", -1), ",")
        return df.withColumn("lat", tail.getItem(0).cast("double")).withColumn(
            "lon", tail.getItem(1).cast("double")
        )
    return df.withColumn(
        "lat", F.regexp_extract(F.col(text_col), GEOTAG_RE, 1).cast("double")
    ).withColumn(
        "lon", F.regexp_extract(F.col(text_col), GEOTAG_RE, 2).cast("double")
    )


def with_tile(df: DataFrame, zoom: int, lon_col: str = "lon",
              lat_col: str = "lat") -> DataFrame:
    """Add the XYZ tile columns tile_x/tile_y at `zoom` — pure Catalyst
    math."""
    return df.withColumns({"tile_x": mercator.tile_x_col(lon_col, zoom),
                           "tile_y": mercator.tile_y_col(lat_col, zoom)})


def _inside(lon_col: str, lat_col: str, exact: bool):
    """The join condition: phase 1, the tile-pair equi-join; phase 1b,
    the closed envelope test (ogrlayer.cpp:3753 point-in-envelope
    shortcut; point_in_polygon_np's pre-test); phase 2, the ray-cast in
    point_in_ring_np's float operations, parity over every ring's edges."""
    x, y = F.col(lon_col), F.col(lat_col)
    inside = ((F.col("_jx") == F.col("_x")) & (F.col("_jy") == F.col("_y"))
              & (x >= F.col("xmin")) & (x <= F.col("xmax"))
              & (y >= F.col("ymin")) & (y <= F.col("ymax")))
    if exact:
        inside = inside & F.aggregate("edges", F.lit(False), lambda acc, e: acc != (
            ((e.y1 > y) != (e.y0 > y))
            & (x < (e.x0 - e.x1) * (y - e.y1) / (e.y0 - e.y1) + e.x1)))
    return inside


# the one join each face makes (see spatial_join)
_JOIN_TYPE = {"inner": "inner", "left": "left", "semi": "left_semi",
              "anti": "left_anti", "identity": "left", "union": "left",
              "symdiff": "left_anti"}


def spatial_join(
    points: DataFrame,
    polys: PolygonSet,
    zoom: int = 7,
    how: str = "inner",
    lon_col: str = "lon",
    lat_col: str = "lat",
    exact: bool = True,
) -> DataFrame:
    """Join points to the polygons containing them. Output = points columns +
    ``poly_id`` (null for unmatched rows under how='left').

    Every face is one join of the points with the broadcast cover whose
    condition is the whole containment test (tile equality at `zoom`, the
    closed envelope, the ray-cast); only the join type differs:

    - 'inner' (inner): one row per (point, containing polygon);
    - 'left' (left): the OGR left-join shape — an unmatched point keeps
      one row with poly_id NULL;
    - 'semi' (left_semi): each input row once if >= 1 polygon contains it
      (duplicate input rows stay duplicates);
    - 'anti' (left_anti): the input rows no polygon contains;
    - the layer-algebra faces below.

    Layer-algebra faces (the reference's Layer.Identity/Union/
    SymDifference, ogr/ogrsf_frmts/generic/ogrlayer.cpp:6589, :5622,
    :6159; result schema = input fields + method fields per :4936),
    recast for point inputs where "intersects" is exact containment and
    a method polygon's non-intersecting part is the whole polygon iff it
    contains no input point:
    - 'identity' (left, keeping the cover's poly_area): every input row
      survives, method attributes attach where covered, NULL elsewhere;
    - 'union':     identity rows + one row per polygon containing NO
      point (input fields NULL, method fields set);
    - 'symdiff' (left_anti, method fields NULL): unmatched points +
      point-free polygons only.
    Union and symdiff evaluate the point join twice: the second, inner,
    finds the matched ids that the point-free polygons are not.
    All three return points columns + (poly_id, poly_area).

    exact=True decides containment as the ray-cast kernel does
    (geo/pip.py): the closed exterior envelope test, then the even-odd
    count of +x ray crossings over the edges of all rings, both in
    Catalyst — half-open on the max edges, holes excluded. exact=False
    keeps only the closed envelope test: a superset of the exact answer.

    `zoom` must lie in [0, MAX_ZOOM], where a tile index fits an int key.
    """
    if how not in _JOIN_TYPE:
        raise ValueError(f"unknown how={how!r}")
    if not 0 <= zoom <= MAX_ZOOM:
        raise ValueError(f"zoom={zoom} outside [0, {MAX_ZOOM}]")
    spark = points.sparkSession
    # ALWAYS derive the join tile from lon/lat at THIS zoom: the points'
    # own tile_x/tile_y, if any, may sit at another zoom (the flagship
    # tiles at z12 and joins at z7) and would join to the wrong tiles
    jx, jy = built(("sjoin.key", lon_col, lat_col, zoom), lambda: (
        mercator.tile_x_col(lon_col, zoom).cast("int"),
        mercator.tile_y_col(lat_col, zoom).cast("int")))
    pts = points.withColumns({"_jx": jx, "_jy": jy})

    cover = polys._relation(spark, zoom)
    inside = built(("sjoin.inside", lon_col, lat_col, exact),
                   lambda: _inside(lon_col, lat_col, exact))
    drop = ["_jx", "_jy", "_x", "_y", "xmin", "ymin", "xmax", "ymax", "edges"]
    out = pts.join(cover, inside, _JOIN_TYPE[how]).drop(
        *drop, *([] if how in ("identity", "union") else ["poly_area"]))
    if how not in ("union", "symdiff"):
        return out
    # method features intersecting NO input row (the polygon side of
    # union/symdiff): tiny anti-join of the id dimension against the
    # distinct matched ids; the other side's columns fill with NULL
    matched = pts.join(cover, inside, "inner").select("poly_id").distinct()
    method_only = polys._relation(spark).join(matched, "poly_id", "left_anti")
    return out.unionByName(method_only, allowMissingColumns=True)
