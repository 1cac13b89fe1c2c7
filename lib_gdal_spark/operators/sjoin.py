"""Two-phase distributed spatial join: cell pre-filter + exact PIP kernel.

Reference semantics re-expressed Spark-first:

- The reference's spatial join is a filter-pushdown nested loop with
  prepared geometries (/root/reference/ogr/ogrlayer.cpp:5204 ``Intersection``:
  method-extent pre-test :5280-5300, per-row spatial-filter pushdown :5305,
  prepared-geometry fast Intersects :5325-5380, exact combine :5395-5420).
  Its per-layer spatial filter is the same discipline (ogrlayer.cpp:3707
  ``InstallFilter`` / :3824 ``FilterGeometry``): a cheap envelope test first,
  the exact geometry test only on survivors.

- Here phase 1 (cheap) is a *cell equi-join*: every point carries a z-order
  cell id (Catalyst column math, geo/cells.py); every polygon is exploded to
  the cells its geometry covers. The join on ``cell`` is hash-partitionable,
  broadcastable, and prunable. Phase 2 (exact) runs in Catalyst when it can:
  for an axis-aligned rectangle ("box": one ring, the 4 corners of its
  envelope joined by axis-parallel edges) the ray-cast kernel
  (geo/pip.py, semantics of ogr/ogrlinearring.cpp:452-521) answers exactly
  ``[xmin, xmax) x [ymin, ymax)`` — a vertical edge gives the ray crossing
  ``xint == x`` bit for bit and horizontal edges never straddle — so the
  half-open envelope test IS the exact test. Only a set holding a non-box
  polygon plans the kernel, as an Arrow pandas UDF over the survivors of a
  closed (superset) envelope test.

Scale design (100 TB / 10^12 pages):
- the polygon side (admin boundaries) is small: the cover is built once
  per (set, zoom) and rides in the plan as a local relation whose size
  the planner knows, so it picks a broadcast hash join by itself — ZERO
  shuffle of the big side; each task filters its own partition (the
  distributed analog of the reference's per-executor prepared-geometry
  cache, ogrlayer.cpp:5325). A broadcast join has no skew exposure; AQE
  skew-join (session.py) splits hot partitions of any shuffled join.
  (Salting the cover join lost in every measured configuration,
  BENCH/SKEW.md.)
- an all-box set runs with no Python stage at all. Otherwise the PIP
  kernel only sees (lon, lat, poly_id) survivors — Arrow batches, no
  per-row Python — and the rings travel inside the UDF's pickled closure
  (PySpark broadcasts a command above 1 MB by itself), so no call leaves
  a broadcast behind.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..geo import mercator
from ..geo.cells import cell_encode_col, cell_encode_np
from ..geo.pip import envelope_np, point_in_polygon_np
from ..geo.rtree import PackedRTree
from ..pages.synth import GEOTAG_RE


def _is_box(rings) -> bool:
    """One ring whose vertices, closing vertex dropped, are the 4 distinct
    corners of its envelope joined by axis-parallel edges, with a finite
    width and height. For such a ring ``point_in_ring_np`` is exactly
    ``[xmin, xmax) x [ymin, ymax)``: a vertical edge gives ``xint == x1``
    bit for bit (``0 * finite + x1``) and horizontal edges never straddle.
    An infinite extent would turn ``xint`` into NaN, so it is no box."""
    if len(rings) != 1:
        return False
    r = rings[0]
    if len(r) >= 2 and r[0][0] == r[-1][0] and r[0][1] == r[-1][1]:
        r = r[:-1]
    if len(r) != 4:
        return False
    lo, hi = r.min(axis=0), r.max(axis=0)
    if not np.isfinite(hi - lo).all():
        return False
    corners = {(lo[0], lo[1]), (hi[0], lo[1]), (hi[0], hi[1]), (lo[0], hi[1])}
    if len(corners) != 4 or {tuple(v) for v in r.tolist()} != corners:
        return False
    nxt = np.roll(r, -1, axis=0)
    return bool(((r[:, 0] == nxt[:, 0]) != (r[:, 1] == nxt[:, 1])).all())


def _orient(ax, ay, bx, by, cx, cy):
    """Sign of the (a, b, c) turn, as ``segments_intersect_np`` computes it."""
    v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return (v > 0).astype(np.int8) - (v < 0).astype(np.int8)


def _on_seg(ax, ay, bx, by, cx, cy):
    return ((np.minimum(ax, bx) <= cx) & (cx <= np.maximum(ax, bx))
            & (np.minimum(ay, by) <= cy) & (cy <= np.maximum(ay, by)))


def _cells_intersect(rings, ln0, lt0, ln1, lt1) -> np.ndarray:
    """``polygons_intersect_np(rings, [cell rect])`` for every cell at once.

    Same tests, same float operations, so the same answer per cell: the
    envelope pre-test, the cell's first corner in the polygon (one PIP
    call over all cells), the polygon's first vertex in each cell (the
    ray cast on a rect ring is ``[x0, x1) x [y0, y1)``) and the edges of
    every ring against the cells' sides as one edges x sides array,
    chunked over cells to bound its size."""
    ex, ey, exx, exy = envelope_np(rings)
    env = ~((exx < np.minimum(ln0, ln1)) | (np.maximum(ln0, ln1) < ex)
            | (exy < np.minimum(lt0, lt1)) | (np.maximum(lt0, lt1) < ey))
    hit = point_in_polygon_np(ln0, lt0, rings)
    ea = rings[0]
    vx, vy = ea[0]
    hit |= ((lt0 > vy) != (lt1 > vy)) & ((vx < ln0) != (vx < ln1))
    hit &= env
    # the rect ring's 4 sides (corner j -> corner j+1), one column each
    sx = np.stack([ln0, ln1, ln1, ln0, ln0], axis=1)
    sy = np.stack([lt0, lt0, lt1, lt1, lt0], axis=1)
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


class PolygonSet:
    """Driver-side polygon dimension: rings + envelopes + packed R-tree.

    polys: list of (poly_id:int, rings:list[np.ndarray(n,2) lon/lat]).
    Small by construction (admin/boundary sets); broadcast to executors.
    ``is_box[i]`` marks ``ids[i]`` as an axis-aligned rectangle, whose
    exact PIP answer is its half-open envelope (see ``_is_box``).
    """

    def __init__(self, polys):
        self.ids = [int(p) for p, _ in polys]
        self.rings = {int(p): [np.asarray(r, dtype=np.float64) for r in rings]
                      for p, rings in polys}
        boxes = np.array([envelope_np(self.rings[p]) for p in self.ids], dtype=np.float64)
        self.boxes = boxes.reshape(-1, 4)
        self.is_box = np.array([_is_box(self.rings[p]) for p in self.ids], dtype=bool)
        self.rtree = PackedRTree(self.boxes) if len(self.ids) else None
        self._covers = {}

    def area(self, pid: int) -> float:
        """Shoelace area of the polygon (holes subtract when wound
        opposite to the outer ring) — the OGR_GEOM_AREA analog
        (ogr/ogrlinearring.cpp get_Area semantics)."""
        total = 0.0
        for r in self.rings[int(pid)]:
            x, y = r[:, 0], r[:, 1]
            total += 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
        return abs(total)

    def attrs_df(self, spark):
        """(poly_id, poly_area) method-layer attribute table — the
        attributes the layer-algebra faces (Identity/Union, schema rule
        ogrlayer.cpp:4936: result schema = input fields + method fields)
        carry onto matched rows. Tiny by construction -> broadcast."""
        rows = [(int(pid), self.area(pid)) for pid in self.ids]
        return spark.createDataFrame(rows, "poly_id long, poly_area double")

    def cover_cells(self, zoom: int, with_bbox: bool = False) -> pd.DataFrame:
        """(cell, poly_id[, xmin..ymax]) covering table at `zoom` (XYZ
        tiles as cells).

        bbox cover, refined by an exact rect-polygon intersects test so
        fully-outside cells are dropped (fewer phase-1 candidates).
        with_bbox=True appends the polygon envelope columns so the join
        can run the Catalyst-side envelope pre-test (ogrlayer.cpp:3753).
        """
        rows_cell, rows_pid = [], []
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
                keep = _cells_intersect(
                    rings, *mercator.tile_bounds_lonlat_np(gx, gy, zoom))
                gx, gy = gx[keep], gy[keep]
            cells = cell_encode_np(gx.astype(np.uint64), gy.astype(np.uint64), zoom)
            rows_cell.append(cells)
            rows_pid.append(np.full(len(cells), pid, dtype=np.int64))
        if not rows_cell:
            out = pd.DataFrame({"cell": np.empty(0, np.int64),
                                "poly_id": np.empty(0, np.int64)})
        else:
            out = pd.DataFrame(
                {"cell": np.concatenate(rows_cell), "poly_id": np.concatenate(rows_pid)}
            )
        if with_bbox:
            box = pd.DataFrame(self.boxes, columns=["xmin", "ymin", "xmax", "ymax"])
            box["poly_id"] = self.ids
            out = out.merge(box, on="poly_id", how="left")
        return out

    def _cover(self, zoom: int) -> pd.DataFrame:
        """``cover_cells(zoom, with_bbox=True)``, built once per zoom: the
        set does not change, and a serving session joins against it on
        every request. At most one frame per zoom level, so it is bounded."""
        if zoom not in self._covers:
            self._covers[zoom] = self.cover_cells(zoom, with_bbox=True)
        return self._covers[zoom]


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


def with_tile(df: DataFrame, zoom: int, lon_col: str = "lon", lat_col: str = "lat",
              prefix: str = "") -> DataFrame:
    """Add tile_x/tile_y (XYZ) + cell id columns — pure Catalyst math."""
    tx = mercator.tile_x_col(F.col(lon_col), zoom)
    ty = mercator.tile_y_col(F.col(lat_col), zoom)
    return (
        df.withColumn(f"{prefix}tile_x", tx)
        .withColumn(f"{prefix}tile_y", ty)
        .withColumn(f"{prefix}cell", cell_encode_col(F.col(f"{prefix}tile_x"),
                                                     F.col(f"{prefix}tile_y"), zoom))
    )


def spatial_join(
    points: DataFrame,
    polys: PolygonSet,
    zoom: int = 7,
    how: str = "inner",
    lon_col: str = "lon",
    lat_col: str = "lat",
    exact: bool = True,
    key_col: str | None = None,
) -> DataFrame:
    """Join points to the polygons containing them. Output = points columns +
    ``poly_id`` (null for unmatched rows under how='left').

    how: 'inner' | 'left' (left keeps unmatched points with poly_id NULL —
    the OGR left-join shape) | 'semi' (points in >=1 polygon, deduped) |
    'anti' (points in no polygon) | the three layer-algebra faces below.

    Layer-algebra faces (the reference's Layer.Identity/Union/
    SymDifference, ogr/ogrsf_frmts/generic/ogrlayer.cpp:6589, :5622,
    :6159; result schema = input fields + method fields per :4936),
    recast for point inputs where "intersects" is exact containment and
    a method polygon's non-intersecting part is the whole polygon iff it
    contains no input point:
    - 'identity':  matched points (with poly_id + poly_area) + unmatched
      points (method fields NULL) — every input row survives, method
      attributes attach where covered;
    - 'union':     identity rows + one row per polygon containing NO
      point (input fields NULL, method fields set);
    - 'symdiff':   unmatched points + point-free polygons only.
    All three return points columns + (poly_id, poly_area).

    key_col: a UNIQUE row id column used by the left/anti faces to find
    unmatched points (defaults to the FIRST column of `points`, which the
    caller must guarantee unique — url/doc_id in the page tables). The
    anti-join runs on this single narrow key, so the exchange never
    hashes or dedups wide payload columns (html at page scale).

    exact=True decides containment as the ray-cast kernel does
    (geo/pip.py), half-open on the max edges. When every polygon of the
    set is a box (``PolygonSet.is_box``) that is the Catalyst test
    ``xmin <= lon < xmax and ymin <= lat < ymax`` and the plan holds no
    Python stage; otherwise a closed envelope test feeds the PIP pandas
    UDF. exact=False keeps only the closed envelope test: a superset of
    the exact answer.
    """
    spark = points.sparkSession
    # ALWAYS derive the join cell at THIS zoom — a pre-existing `cell`
    # column may be indexed at a different zoom and would silently join to
    # nothing (cell ids embed their zoom in the high bits)
    jcell = cell_encode_col(
        mercator.tile_x_col(F.col(lon_col), zoom),
        mercator.tile_y_col(F.col(lat_col), zoom),
        zoom,
    )
    pts = points.withColumn("_jcell", jcell)

    cover = spark.createDataFrame(
        polys._cover(zoom),
        schema="_jcell long, poly_id long, xmin double, ymin double, "
               "xmax double, ymax double",
    )

    # a local relation of known size: the planner broadcasts it unhinted
    cand = pts.join(cover, on="_jcell", how="inner").drop("_jcell")

    # phase 1b — envelope test IN CATALYST (ogrlayer.cpp:3753
    # point-in-envelope shortcut). Half-open on the max edges it is the
    # exact answer for an all-box set; closed it is a superset of the
    # ray-cast result, so the PIP kernel only ever REMOVES rows.
    x, y = F.col(lon_col), F.col(lat_col)
    decided = exact and bool(polys.is_box.all())
    if decided:
        upper = (x < F.col("xmax")) & (y < F.col("ymax"))
    else:
        upper = (x <= F.col("xmax")) & (y <= F.col("ymax"))
    cand = cand.filter(
        (x >= F.col("xmin")) & (y >= F.col("ymin")) & upper
    ).drop("xmin", "ymin", "xmax", "ymax")

    if exact and not decided:
        from ..session import ship_package

        ship_package(spark)  # workers must import the PIP kernel
        rings_map = polys.rings  # pickled with the UDF: no broadcast to leak

        @F.pandas_udf(T.BooleanType())
        def _pip(lon: pd.Series, lat: pd.Series, pid: pd.Series) -> pd.Series:
            out = np.zeros(len(lon), dtype=bool)
            lons = lon.to_numpy(np.float64)
            lats = lat.to_numpy(np.float64)
            pids = pid.to_numpy(np.int64)
            for p in np.unique(pids):
                m = pids == p
                rings = rings_map.get(int(p))
                if rings:
                    out[m] = point_in_polygon_np(lons[m], lats[m], rings)
            return pd.Series(out)

        cand = cand.filter(_pip(x, y, F.col("poly_id")))

    if how == "inner":
        return cand
    if how == "semi":
        return cand.drop("poly_id").distinct()
    key = key_col
    if key is None:
        # The key-based faces (left/anti/identity/union/symdiff) anti-join
        # on this column and silently produce wrong unmatched sets if it
        # is not unique. When the caller did not choose it, probe
        # uniqueness with a single narrow-column agg; hot paths should
        # pass key_col explicitly (a known-unique row id) to skip this.
        key = points.columns[0]
        dup = (points.groupBy(key).count()
               .filter(F.col("count") > 1).limit(1).count())
        if dup:
            raise ValueError(
                f"spatial_join how={how!r}: defaulted key column {key!r} "
                "is not unique; pass key_col= (a unique row id) explicitly")
    if how == "anti":
        return points.join(
            cand.select(key).distinct(), on=key, how="left_anti",
        )
    if how == "left":
        matched = cand
        unmatched = points.join(
            matched.select(key).distinct(), on=key, how="left_anti",
        ).withColumn("poly_id", F.lit(None).cast("long"))
        return matched.unionByName(unmatched)
    if how in ("identity", "union", "symdiff"):
        attrs = F.broadcast(polys.attrs_df(spark))
        out_cols = [*points.columns, "poly_id", "poly_area"]
        unmatched = points.join(
            cand.select(key).distinct(), on=key, how="left_anti",
        ).withColumn("poly_id", F.lit(None).cast("long")).withColumn(
            "poly_area", F.lit(None).cast("double"))
        matched = cand.join(attrs, on="poly_id", how="left").select(*out_cols)
        # method features intersecting NO input row (the polygon side of
        # union/symdiff): tiny anti-join of the id dimension against the
        # distinct matched ids
        ids_df = spark.createDataFrame([(int(p),) for p in polys.ids],
                                       "poly_id long")
        null_pts = [F.lit(None).cast(f.dataType).alias(f.name)
                    for f in points.schema.fields]
        method_only = (
            ids_df.join(cand.select("poly_id").distinct(),
                        on="poly_id", how="left_anti")
            .join(attrs, on="poly_id", how="left")
            .select(*null_pts, "poly_id", "poly_area")
        )
        if how == "identity":
            return matched.unionByName(unmatched)
        if how == "union":
            return matched.unionByName(unmatched).unionByName(method_only)
        return unmatched.unionByName(method_only)  # symdiff
    raise ValueError(f"unknown how={how}")
