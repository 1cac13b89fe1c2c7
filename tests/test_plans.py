"""Physical-plan assertions: the plans must be the ones we'd want at 100 TB.

Checks (via explain(formatted)) that:
- filters reach the parquet scan (PushedFilters) and columns are pruned
  (ReadSchema) — the engine analog of the reference's WHERE pushdown
  (ogr_gensql.cpp:132-145) and ignored-fields pruning (ogrunionlayer.cpp:540);
- the spatial join's phase-1 tile join is a BroadcastHashJoin (zero shuffle
  of the big side);
- aggregations are partial (map-side combine) before the exchange;
- the two-phase spatial predicate runs after the tile join, not in the
  scan, and no polygon set plans a Python stage;
- every tokenizing operator runs its tokenizer regex once per row.
"""

import re
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lib_gdal_spark.operators import sjoin, tiles


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def explain_str(df) -> str:
    from io import StringIO
    import contextlib

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestPushdown:
    def test_filter_and_pruning_reach_scan(self, spark):
        df = (
            spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
            .filter("l_quantity > 30")
            .select("l_orderkey", "l_quantity")
        )
        plan = explain_str(df)
        assert "PushedFilters" in plan
        assert "GreaterThan(l_quantity,30.0)" in plan
        # column pruning: the scan must not read all 11 columns
        rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "l_extendedprice" not in rs and "l_orderkey" in rs

    def test_partial_agg_before_exchange(self, spark):
        df = (
            spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
            .groupBy("l_returnflag").agg(F.sum("l_quantity"))
        )
        plan = explain_str(df)
        # map-side combine: a partial_sum HashAggregate feeds the Exchange
        # (AQE's pre-execution plan hides WholeStageCodegen spans, so assert
        # the aggregate mode directly)
        assert "partial_sum" in plan
        assert plan.index("HashAggregate") < plan.index("Exchange")


def _plan_sets():
    """Polygon sets the exact join plans the same way: boxes, a concave L,
    a holed box, a box plus a triangle, a many-vertex star with a hole."""
    import __spark_entry__ as em

    box = (1, em._rect_rings(0.0, 0.0, 20.0, 20.0))
    ell = (2, [np.array([[30.0, 0.0], [60.0, 0.0], [60.0, 15.0], [45.0, 15.0],
                         [45.0, 30.0], [30.0, 30.0], [30.0, 0.0]])])
    holed = (3, em._rect_rings(0.0, 0.0, 40.0, 25.0)
             + em._rect_rings(10.0, 5.0, 20.0, 15.0))
    tri = (5, [np.array([[0.0, 0.0], [40.0, 0.0], [20.0, 25.0], [0.0, 0.0]])])
    t = np.linspace(0.0, 2 * np.pi, 400, endpoint=False)
    ring = np.column_stack([(10.0 + 4.0 * np.sin(7 * t)) * np.cos(t) + 20.0,
                            (10.0 + 4.0 * np.sin(7 * t)) * np.sin(t) + 15.0])
    star = (6, [np.vstack([ring, ring[:1]])] + em._rect_rings(17.0, 12.0, 23.0, 18.0))
    return {"box": em._rect_polyset(), "concave_L": sjoin.PolygonSet([ell]),
            "holed": sjoin.PolygonSet([holed]), "mixed": sjoin.PolygonSet([box, tri]),
            "star": sjoin.PolygonSet([star])}


def _final_nodes(plan):
    """(ids of the final plan's nodes, {id: node detail text}) from an
    executed formatted explain. Formatted explain numbers nodes children
    first, so a node above another has the larger id."""
    assert "isFinalPlan=true" in plan
    ids = {int(i) for i in re.findall(r"\((\d+)\)",
                                      plan.split("== Initial Plan ==")[0])}
    nodes = {int(m[1]): m[0] for m in re.finditer(
        r"^\((\d+)\) .*?(?=^\(\d+\) |\Z)", plan, re.S | re.M)}
    return ids, nodes


def _walk(node):
    """``node`` and every node below it in a JVM physical plan."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i))


def _job_count(spark, fn):
    """Spark jobs run by ``fn()``, counted by job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestSpatialJoinPlan:
    def test_cover_join_is_broadcast(self, spark):
        pdf = spark.createDataFrame(
            [(f"u{i}", float(i % 50), float(i % 30)) for i in range(100)],
            "url string, lon double, lat double",
        )
        for name, polys in _plan_sets().items():
            j = sjoin.spatial_join(pdf, polys, zoom=6, how="inner")
            j.collect()
            plan = explain_str(j)
            ids, nodes = _final_nodes(plan)
            bhj = [i for i in ids if nodes[i].split()[1] == "BroadcastHashJoin"]
            assert len(bhj) == 1, name
            # the exact ray-cast runs after the tile join (two-phase
            # discipline): in the join's condition or in a filter above it
            cast = [i for i in ids if "aggregate(" in nodes[i]]
            assert cast, name
            for i in cast:
                assert nodes[i].split()[1] in ("BroadcastHashJoin", "Filter"), nodes[i]
                assert i >= bhj[0], name
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name

    def test_box_set_has_no_python(self, spark):
        # one exact path for every set: a non-box polygon adds no Python
        # stage and no job to a small request
        pdf = spark.createDataFrame(
            [(f"u{i}", float(i % 50), float(i % 30)) for i in range(100)],
            "url string, lon double, lat double",
        )
        for name in ("box", "mixed"):
            j = sjoin.spatial_join(pdf, _plan_sets()[name], zoom=6, how="inner")
            assert _job_count(spark, j.collect) <= 2, name
            plan = explain_str(j)
            assert "isFinalPlan=true" in plan
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_unhinted_cover_is_broadcast_over_parquet(self, spark, tmp_path):
        # no broadcast hint: the planner must choose the broadcast join
        # from the cover's known size against a big-statistics parquet
        # scan of the points (the flagship's shape). A left join can build
        # only its right side, so there the broadcast is the planner's
        # choice of the cover's local relation; an inner join of these
        # 5,000 narrow rows may broadcast either side, and what it must
        # not do is shuffle the points. The join key is the int tile pair,
        # which Spark packs into one long: no cell id's bit interleave in
        # the plan
        import __spark_entry__ as em

        spark.range(5000).select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
            ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("lon"),
            ((F.col("id") * 9973 % 1700) / 10.0 - 85.0).alias("lat"),
        ).write.parquet(str(tmp_path / "pts"))
        pts = spark.read.parquet(str(tmp_path / "pts"))
        for how in ("left", "inner"):
            j = sjoin.spatial_join(pts, em._rect_polyset(), zoom=7, how=how)
            qe = j._jdf.queryExecution()
            assert "shiftleft" not in qe.optimizedPlan().toString().lower()
            joins = [n for n in _walk(qe.sparkPlan()) if n.nodeName() == "BroadcastHashJoin"]
            assert len(joins) == 1, how
            for keys, names in ((joins[0].leftKeys(), ["_jx", "_jy"]),
                                (joins[0].rightKeys(), ["_x", "_y"])):
                keys = [keys.apply(i) for i in range(keys.size())]
                assert [k.name() for k in keys] == names
                assert [k.dataType().simpleString() for k in keys] == ["int", "int"]
            j.collect()
            plan = explain_str(j)
            assert "isFinalPlan=true" in plan
            assert "SortMergeJoin" not in plan.split("== Initial Plan ==")[0], how
            ids, nodes = _final_nodes(plan)
            kinds = [nodes[i].split()[1] for i in ids]
            assert kinds.count("BroadcastHashJoin") == 1, kinds
            if how == "left":
                # the broadcast (build) side is the cover's local relation
                assert joins[0].buildSide().toString() == "BuildRight"
                build = joins[0].right()
                leaves = [n.nodeName() for n in _walk(build) if n.children().size() == 0]
                assert leaves == ["LocalTableScan"], leaves
            else:
                assert "Exchange" not in kinds, kinds

    @pytest.mark.parametrize("how", ["left", "semi", "anti", "identity"])
    def test_face_is_one_broadcast_join(self, spark, how):
        # every face is one join of the points with the broadcast cover
        # under the containment test: no exchange or aggregate over the
        # points (wide payload columns, html at page scale, are never
        # hashed or deduplicated) and one join carries the ray-cast
        pdf = spark.createDataFrame(
            [(f"u{i}", float(i % 50), float(i % 30), b"x" * 10) for i in range(100)],
            "url string, lon double, lat double, html binary",
        )
        polys = sjoin.PolygonSet(
            [(1, [np.array([[0.0, 0.0], [40.0, 0.0], [40.0, 25.0], [0.0, 25.0], [0.0, 0.0]])])]
        )
        j = sjoin.spatial_join(pdf, polys, zoom=6, how=how)
        j.collect()
        ids, nodes = _final_nodes(explain_str(j))
        kinds = [nodes[i].split()[1] for i in ids]
        assert "Exchange" not in kinds and "HashAggregate" not in kinds, kinds
        cast = [i for i in ids if "aggregate(" in nodes[i]]
        assert len(cast) == 1 and nodes[cast[0]].split()[1] == "BroadcastHashJoin", kinds

    def test_faces_run_no_more_jobs_than_inner(self, spark, tmp_path):
        # left/semi/anti are one join each, like inner: no uniqueness
        # probe, no second pass over the points; and no face runs a job
        # before an action
        import __spark_entry__ as em

        spark.range(5000).select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
            ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("lon"),
            ((F.col("id") * 9973 % 1700) / 10.0 - 85.0).alias("lat"),
        ).write.parquet(str(tmp_path / "pts"))
        pts = spark.read.parquet(str(tmp_path / "pts"))
        polys = em._rect_polyset()

        def run(how):
            return _job_count(spark, lambda: sjoin.spatial_join(
                pts, polys, zoom=7, how=how).write.format("noop").mode("overwrite").save())

        inner = run("inner")
        assert inner >= 1
        for how in ("left", "semi", "anti"):
            assert run(how) <= inner, how
        for how in ("inner", "left", "semi", "anti", "identity", "union", "symdiff"):
            assert _job_count(spark, lambda: sjoin.spatial_join(
                pts, polys, zoom=7, how=how)) == 0, how

    @pytest.mark.parametrize("how", ["inner", "left", "semi", "anti", "identity",
                                     "union", "symdiff"])
    def test_face_plans_no_python_frame(self, spark, how):
        # the set's relations are built once from pandas: local relations,
        # so no face plans an RDD scan (a frame built from a Python list
        # starts Python workers on every call) or a Python stage, and
        # identity takes poly_area from the cover in its one join
        import __spark_entry__ as em

        rng = np.random.default_rng(2)
        pts = spark.createDataFrame(pd.DataFrame({
            "url": [f"u{i}" for i in range(100)],
            "lon": rng.uniform(-90, 170, 100), "lat": rng.uniform(-60, 70, 100)}))
        j = sjoin.spatial_join(pts, em._rect_polyset(), zoom=7, how=how)
        jobs = _job_count(spark, j.collect)
        assert jobs <= (6 if how in ("union", "symdiff") else 2), jobs
        plan = explain_str(j)
        for word in ("ExistingRDD", "ArrowEvalPython", "BatchEvalPython"):
            assert word not in plan, word
        if how == "identity":
            ids, nodes = _final_nodes(plan)
            kinds = [nodes[i].split()[1] for i in ids]
            assert kinds.count("BroadcastHashJoin") == 1, kinds

    def test_no_python_in_prefilter(self, spark):
        # phase 1 (tile assignment + cover join) must be pure JVM
        pdf = spark.createDataFrame(
            [(f"u{i}", float(i % 50), float(i % 30)) for i in range(100)],
            "url string, lon double, lat double",
        )
        polys = sjoin.PolygonSet(
            [(1, [np.array([[0.0, 0.0], [40.0, 0.0], [40.0, 25.0], [0.0, 25.0], [0.0, 0.0]])])]
        )
        j = sjoin.spatial_join(pdf, polys, zoom=6, how="inner", exact=False)
        plan = explain_str(j)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestLocalFrames:
    """Per-call driver-side frames are built from pandas (a local
    relation), never from a Python list (an RDD scan whose Python worker
    tasks start on every call)."""

    def test_rgb2pct_plans_no_rdd_scan(self, spark):
        from lib_gdal_spark.operators.pct import rgb2pct

        cells = spark.range(64).select(
            (F.col("id") % 8).alias("bx"), (F.col("id") / 8).cast("long").alias("by"),
            F.array(*[(F.col("id") * k % 256).cast("double") for k in (3, 5, 7)]).alias("vals"))
        j = rgb2pct(cells, [(0, 0, 0), (255, 255, 255), (200, 30, 30)])
        assert len(j.collect()) == 64
        plan = explain_str(j)
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan

    def test_rasterize_lines_plans_no_rdd_scan(self, spark):
        from lib_gdal_spark.operators import raster

        def burn(a, b):
            return raster.rasterize_lines(spark, [(1, [a, b])], {1: 5.0},
                                          cell_size=1.0, width=8, height=8)

        line = burn((0.5, 0.5), (7.5, 3.5))
        assert line.count() == 8
        plan = explain_str(line)
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan
        # a line off the raster burns no cell: an empty frame of the same
        # types, still a local relation
        off = burn((20.5, 20.5), (30.5, 20.5))
        assert off.collect() == [] and off.dtypes == line.dtypes
        plan = explain_str(off)
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan

    def test_rat_frames_plan_no_rdd_scan(self, spark, tmp_path):
        from lib_gdal_spark.operators import rat
        from lib_gdal_spark.sources.shapefile import write_shapefile

        base = str(tmp_path / "thematic")
        write_shapefile([{"VALUE": v, "COUNT": 10 * v, "CLASS": c,
                          "geom": {"type": 1, "points": [(float(v), 0.0)]}}
                         for v, c in ((1, "water"), (2, "forest"))], base + ".shp")
        vat = rat.from_vat_dbf(spark, base + ".dbf").df
        # the types and column order a list frame infers from the records
        assert vat.dtypes == [("CLASS", "string"), ("COUNT", "double"),
                              ("VALUE", "double"), ("_row", "bigint")]
        assert sorted(tuple(r) for r in vat.collect()) == [
            ("forest", 20.0, 2.0, 1), ("water", 10.0, 1.0, 0)]
        colors = rat.from_color_table(spark, [(255, 0, 0, 255), (0, 0, 255)]).df
        assert colors.count() == 2
        empty = rat.from_color_table(spark, []).df
        assert empty.collect() == [] and empty.dtypes == colors.dtypes
        for df in (vat, colors, empty):
            plan = explain_str(df)
            assert "ExistingRDD" not in plan and "LocalTableScan" in plan

    def test_sssp_plans_no_rdd_scan(self, spark, monkeypatch):
        # each round's plan is checkpointed (lineage truncation): the
        # first round's holds no RDD scan, and later rounds' scan only
        # those checkpoints, never a Python RDD
        from lib_gdal_spark.operators import graph

        e = spark.range(1, 6).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"),
                                     F.lit(1.0).alias("w"))
        plans = []
        ckpt = type(e).localCheckpoint

        def record(self, *a, **k):
            plans.append([n.rdd().toDebugString() for n in _walk(self._jdf.queryExecution().sparkPlan())
                          if n.nodeName() == "Scan ExistingRDD"])
            return ckpt(self, *a, **k)

        monkeypatch.setattr(type(e), "localCheckpoint", record)
        got = {r.vertex: r.dist for r in graph.sssp(e, 1, blocked_vertices=[9]).collect()}
        assert got == {v: float(v - 1) for v in range(1, 7)}
        assert plans and plans[0] == []
        for lineages in plans:
            for lineage in lineages:
                assert "LocalCheckpointRDD" in lineage and "PythonRDD" not in lineage, lineage


class TestPyramidPlan:
    def test_rollup_partial_agg(self, spark):
        pdf = spark.createDataFrame(
            [(f"u{i}", float(i % 50), float(i % 30)) for i in range(200)],
            "url string, lon double, lat double",
        )
        pts = sjoin.with_tile(pdf, 8)
        pyr = tiles.tile_pyramid(pts, max_zoom=8, min_zoom=6)
        plan = explain_str(pyr)
        # every groupBy shows partial-then-final HashAggregate pairs
        assert plan.count("HashAggregate") >= 4
        assert "partial_" in plan
        # base groupBy + one explode/groupBy over all zooms: two shuffles,
        # no cached level, no per-level union
        executed = pyr._jdf.queryExecution().executedPlan().toString()
        assert executed.count("Exchange hashpartitioning") == 2, executed
        assert "InMemory" not in executed, executed
        assert "Union" not in executed, executed


class TestStencilPlans:
    def test_window3x3_is_single_shuffle(self, spark):
        from pyspark.sql import functions as F
        from lib_gdal_spark.operators import dem

        g = spark.range(400).select(
            (F.col("id") % 20).alias("bx"),
            (F.col("id") / 20).cast("long").alias("by"),
            (F.col("id") * 7 % 31).cast("double").alias("value"),
        )
        plan = dem.slope(g)._jdf.queryExecution().executedPlan().toString()
        # conditional agg keeps the halo exchange to ONE Exchange;
        # groupBy().pivot() would plan two
        assert plan.count("Exchange") == 1, plan

    def test_contour_is_single_shuffle(self, spark):
        from pyspark.sql import functions as F
        from lib_gdal_spark.operators import contour

        g = spark.range(400).select(
            (F.col("id") % 20).alias("bx"),
            (F.col("id") / 20).cast("long").alias("by"),
            (F.col("id") * 7 % 31).cast("double").alias("value"),
        )
        plan = contour.contour_segments(g, 5.0)._jdf.queryExecution(
        ).executedPlan().toString()
        assert plan.count("Exchange") == 1, plan


class TestWarpTriPlans:
    def _src(self, spark):
        return spark.range(64).select(
            ((F.col("id") % 8 + 0.5) * 5.0 - 20.0).alias("cx"),
            (((F.col("id") / 8).cast("long") + 0.5) * 5.0 - 20.0).alias("cy"),
            F.lit(1.0).alias("v"),
        )

    def test_warp_agg_single_exchange(self, spark):
        from lib_gdal_spark.operators import warp

        plan = warp.warp_agg(self._src(spark), 3, "average")._jdf \
            .queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan

    def test_warp_convolution_two_exchanges_broadcast_src(self, spark):
        # distinct-target shuffle + final (x, y) aggregate; the source
        # grid side must BROADCAST into the tap join (it is the already-
        # aggregated coarse grid), never hash-shuffle — and the fold must
        # map-side combine
        from lib_gdal_spark.operators import warp

        plan = warp.warp_convolution(self._src(spark), 3, 5.0, "cubic")._jdf \
            .queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 2, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "partial_sum" in plan, plan

    def test_warp_quartiles_single_exchange(self, spark):
        # the ranking window and the final aggregate share the (x, y)
        # key, so the percentile pass must NOT add a second shuffle
        from lib_gdal_spark.operators import warp

        plan = warp.warp_quartiles(self._src(spark), 3)._jdf \
            .queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan

    def test_tri_two_exchanges_join_reused_by_agg(self, spark):
        # halo explode + center join shuffle both join sides; the final
        # groupBy must reuse the join's (bx, by) partitioning
        from lib_gdal_spark.operators import focal

        g = spark.range(400).select(
            (F.col("id") % 20).alias("bx"),
            (F.col("id") / 20).cast("long").alias("by"),
            (F.col("id") * 7 % 31).cast("double").alias("value"),
        )
        plan = focal.tri(g)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 2, plan

    def test_grid_movavg_single_exchange(self, spark):
        from lib_gdal_spark.operators import grid

        pts = spark.range(100).select(
            (F.col("id") % 10).cast("double").alias("x"),
            (F.col("id") / 10).cast("double").alias("y"),
            F.lit(1.0).alias("z"),
        )
        plan = grid.grid_movavg(pts, 2.0, 3.0)._jdf \
            .queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan


class TestLayerOverlayPlan:
    def test_cell_join_no_cartesian_envelope_prefilter(self, spark):
        """layer_overlay's candidate generation must be an equi-join on
        (cx, cy) — never a cartesian/BNL product of the two layers —
        with the exact-envelope pre-test as a Catalyst Filter ABOVE the
        join (cheap rejection before the Python kernel)."""
        from lib_gdal_spark.geo import wkb
        from lib_gdal_spark.operators import overlay

        def rect(x0, y0, s):
            return wkb.encode_polygon(
                [[(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s),
                  (x0, y0)]])

        a = spark.createDataFrame(
            [(i, bytearray(rect(i * 3.0, 0.0, 5.0))) for i in range(20)],
            "id long, geom binary")
        b = spark.createDataFrame(
            [(i, bytearray(rect(i * 4.0, 2.0, 5.0))) for i in range(20)],
            "id long, geom binary")
        plan = explain_str(overlay.layer_overlay(a, b, cell=64.0))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "hashpartitioning(cx" in plan or "Join" in plan
        # envelope pre-test stays JVM-side (a Filter on the env columns)
        assert "a_xmin" in plan and "b_xmax" in plan

    def test_rgb2pct_broadcast_lut_join(self, spark):
        """rgb2pct's undithered mapping must broadcast the 32768-row LUT
        — never shuffle the pixel side (at 100 TB the pixel table is the
        corpus; the LUT is a constant)."""
        from lib_gdal_spark.operators import pct

        cells = spark.range(500).select(
            F.col("id").alias("pid"),
            F.array((F.col("id") * 7 % 256).cast("double"),
                    (F.col("id") * 13 % 256).cast("double"),
                    (F.col("id") * 29 % 256).cast("double")).alias("vals"))
        pal = [(36, 48, 32), (0, 0, 0), (164, 164, 108)]
        plan = explain_str(pct.rgb2pct(cells, pal))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_gcp_polywarp_zero_exchange(self, spark):
        """The polynomial GCP application is pure projection arithmetic:
        no exchange, no Python."""
        from lib_gdal_spark.geo.gcptransform import GCPPolynomialTransform

        tr = GCPPolynomialTransform(
            [(0, 0, 440720.0, 3751320.0), (20, 0, 441920.0, 3751320.0),
             (20, 20, 441920.0, 3750120.0), (0, 20, 440720.0, 3750120.0)],
            order=1)
        df = spark.range(100).select(
            F.col("id").cast("double").alias("px"),
            (F.col("id") % 7).cast("double").alias("py"))
        gx, gy = tr.columns(F.col("px"), F.col("py"))
        plan = explain_str(df.select(gx.alias("x"), gy.alias("y")))
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_lineref_locate_zero_exchange(self, spark):
        """Point location against broadcast parts is a pure Arrow
        projection — no shuffle of the point table."""
        from lib_gdal_spark.operators import lineref

        parts = lineref.create_parts(
            [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (20.0, 10.0)],
            [(100.0, (2.0, 0.0)), (130.0, (10.0, 8.0))],
            step=10.0, geographic=False)
        df = spark.range(100).select(
            (F.col("id") % 19).cast("double").alias("x"),
            (F.col("id") % 11).cast("double").alias("y"))
        plan = explain_str(lineref.locate_df(df, parts))
        assert "Exchange" not in plan, plan

    def test_sequence_pack_single_exchange(self, spark):
        """Packing shuffles ONCE on the bucket key; the sequential
        recurrence runs inside each bucket's task."""
        from lib_gdal_spark.operators import sampling

        df = spark.range(200).select(
            F.col("id"), (F.col("id") % 97 + 1).alias("tokens"))
        plan = sampling.sequence_pack(df, "id", "tokens", 512) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan


class TestWebtextNewPlans:
    """Plan pins for the round-3 late additions (the shapes we'd want at
    100 TB: broadcast small sides, one wide exchange per logical stage,
    global top-k as TakeOrderedAndProject)."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(i, "a b c d e f g h") for i in range(8)],
            "doc_id long, text string")

    def test_inverted_index_topk_and_single_pair_exchange(self, spark):
        from lib_gdal_spark.operators import relevance
        plan = explain_str(relevance.inverted_index(self._docs(spark)))
        assert "TakeOrderedAndProject" in plan
        # one groupBy(term) over the distinct (doc, term) pairs: the only
        # wide exchanges are that hashpartitioning on term
        ex = [l for l in plan.splitlines()
              if "Exchange hashpartitioning" in l]
        assert all("term" in l for l in ex)

    def test_cosine_pairs_broadcasts_norms(self, spark):
        from lib_gdal_spark.operators import relevance
        plan = explain_str(relevance.cosine_pairs(self._docs(spark),
                                                  threshold=0.5, ngram=3))
        assert "TakeOrderedAndProject" in plan
        # the tf table is reused (persisted) and the dot agg is partial
        assert "InMemoryTableScan" in plan
        assert "partial_sum" in plan

    def test_pmi_broadcasts_unigrams_and_totals(self, spark):
        from lib_gdal_spark.operators import relevance
        plan = explain_str(relevance.pmi_topk(self._docs(spark),
                                              10, min_count=1))
        assert "TakeOrderedAndProject" in plan
        assert plan.count("BroadcastExchange") >= 3  # u0, u1, totals

    def test_pagerank_round_is_join_plus_partial_agg(self, spark):
        from lib_gdal_spark.operators import graph
        e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                  "src long, dst long")
        out = graph.pagerank(e, iterations=1)
        plan = explain_str(out)
        # after localCheckpoint the lineage is truncated: the final plan
        # must be the flat scan of the checkpointed round, not a
        # per-round doubling tree
        assert "Scan ExistingRDD" in plan

    def test_resize_is_one_equijoin(self, spark):
        from lib_gdal_spark.operators import raster
        cells = spark.createDataFrame(
            [(x, y, 1.0) for x in range(4) for y in range(4)],
            "bx long, by long, value double")
        plan = explain_str(raster.resize(cells, 4, 4, 8, 8))
        # dst lattice derives from Range (no data scan); exactly one join
        assert "Scan Range" in plan or "Range (" in plan
        assert plan.count("Join") >= 1

    def test_kmeans_final_assignment_is_shuffle_free(self, spark):
        # clustering.kmeans: the returned assignment projects literal
        # centroids over the persisted quantized base — NO Exchange
        # anywhere in the final plan (the per-iteration update groupBys
        # are separate bounded jobs, not part of this frame)
        from lib_gdal_spark.operators import clustering
        pts = spark.createDataFrame(
            [(i, [float(i % 5), float(i % 3)]) for i in range(20)],
            "vec_id long, embedding array<float>")
        out = clustering.kmeans(pts, k=2, iterations=1, quant=10)
        plan = explain_str(out)
        assert "Exchange" not in plan, plan
        assert "InMemoryTableScan" in plan, plan
        spark.catalog.clearCache()

    def test_rpc_forward_is_shuffle_free_codegen(self, spark):
        # geo/rpc.py pixel_line as Column math: the 40-term rational
        # model must stay one codegen'd scan+project — no Exchange, no
        # Python
        import __spark_entry__ as em
        plan = explain_str(em._q_rpc_project(spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, plan
        assert "* Project" in plan, plan  # '*' = whole-stage codegen
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_semdedup_pair_join_not_cartesian(self, spark):
        # the pair search must be an equi-join on the cluster key over
        # the PERSISTED assignment projection — never CartesianProduct,
        # and the assignment cache must feed both pair sides
        from lib_gdal_spark.operators import clustering
        pts = spark.createDataFrame(
            [(i, [float(i % 5), float(i % 3)]) for i in range(30)],
            "vec_id long, embedding array<float>")
        out = clustering.semantic_dedup(pts, k=2, iterations=1, quant=10)
        plan = explain_str(out)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert plan.count("InMemoryTableScan") >= 2, plan
        spark.catalog.clearCache()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _md5_gram_hash(c):
    # the driver contract's winnow hash (__spark_entry__._q_winnow)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# the operators whose plans read the corpus once per branch (a reused
# subtree prints once per reference); every other tokenizing operator
# scans it once
_MULTI_SCAN_OPS = {"pmi_topk", "cosine_pairs", "exact_substr_spans",
                   "lm_crossentropy"}
_NGRAM_OPS = {"ngram_topk"} | _MULTI_SCAN_OPS


def _tokenizing_ops():
    from lib_gdal_spark.operators import dedup, relevance, sampling, textops

    return {
        "shingles": lambda d: dedup.shingles(d, "doc_id", "text"),
        "minhash_signature": lambda d: dedup.minhash_signature(
            d, "doc_id", "text"),
        "with_minhash": lambda d: dedup.with_minhash(d, "text"),
        "winnow_fingerprints": lambda d: textops.winnow_fingerprints(
            d, k=3, window=4, hash_fn=_md5_gram_hash),
        "repetition_ratio": lambda d: textops.repetition_ratio(d),
        "hashed_ngram_buckets": lambda d: sampling._hashed_ngram_buckets(
            d, "doc_id", "text", 8, "dsir|"),
        "simhash": lambda d: dedup.simhash(d, "doc_id", "text"),
        "ngram_topk": lambda d: relevance.ngram_topk(d, 3, 25),
        "pmi_topk": lambda d: relevance.pmi_topk(d, 10, min_count=1),
        "cosine_pairs": lambda d: relevance.cosine_pairs(
            d, threshold=0.5, ngram=3),
        "exact_substr_spans": lambda d: dedup.exact_substr_spans(d, k=3),
        "lm_crossentropy": lambda d: textops.lm_crossentropy(d),
    }


def _nodes(plan):
    """``plan`` and every node below it, the physical plans of cached
    relations included."""
    yield plan
    for kids in (plan.children(), plan.innerChildren()):
        for i in range(kids.size()):
            yield from _nodes(kids.apply(i))
    if plan.nodeName() == "AdaptiveSparkPlan":
        yield from _nodes(plan.inputPlan())


class TestMinhashPlan:
    def _docs(self, spark):
        return spark.createDataFrame(
            [(i, "w x y z w x y z") for i in range(8)],
            "doc_id long, text string")

    def test_minhash_signature_no_exchange(self, spark):
        """The signature is n_hashes columns on each document's own row:
        no shingle explode, no Exchange at all (neither a shingle-table
        exchange nor a per-doc MIN aggregate), and the tokenizer runs
        once per row."""
        from lib_gdal_spark.operators import dedup

        sig = dedup.minhash_signature(self._docs(spark), "doc_id", "text")
        plan = sig._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Generate" not in plan, plan
        assert _optimized(sig).count("regexp_extract_all") == 1

    @pytest.mark.parametrize("op", sorted(_tokenizing_ops()))
    def test_tokenizer_runs_once(self, spark, op):
        """Guard against the higher-order-function trap (CLAUDE.md): a
        token array consumed by a transform() lambda must stay a staged
        column. If Catalyst inlines it — through a collapsed projection,
        or a filter on a staged array pushed below its select — the
        optimized plan holds more than one copy of the tokenizer regex
        per scan of the corpus."""
        plan = _optimized(_tokenizing_ops()[op](self._docs(spark)))
        spark.catalog.clearCache()
        scans = len(re.findall(r"LogicalRDD|Scan ExistingRDD", plan))
        assert plan.count("regexp_extract_all") == scans, plan
        if op not in _MULTI_SCAN_OPS:
            assert scans == 1, plan

    @pytest.mark.parametrize("op", sorted(_NGRAM_OPS))
    def test_no_doc_window_before_aggregate(self, spark, op):
        """Word n-grams come from each document's own row: no window
        partitioned by document (a shuffle and sort of every token)
        runs before the operator's first aggregate."""
        out = _tokenizing_ops()[op](self._docs(spark))
        bad = [w.toString() for w in _nodes(out._jdf.queryExecution().optimizedPlan())
               if w.nodeName() == "Window" and w.partitionSpec().nonEmpty()
               and not any("Aggregate" in n.nodeName() for n in _nodes(w))]
        spark.catalog.clearCache()
        assert not bad, bad


CURATE_JOBS = 5  # measured on a 300-row local segment; 7 with the self-joins


class TestCuratePlans:
    """Each curate operator reads its input once where it can: over a
    local segment, every extra reference is one more LocalRelation leaf
    in the optimized plan, and the optimizer re-evaluates the upstream
    projection on each of them, row by row on the driver."""

    @pytest.fixture(scope="class")
    def seg(self, spark):
        from lib_gdal_spark.pages.synth import synth_pages_pdf

        pdf = synth_pages_pdf(np.arange(300), seed=11)[["url", "text", "lang"]]
        return spark.createDataFrame(pdf, "url string, text string, lang string")

    def test_exact_dedup_reads_input_once(self, seg):
        from lib_gdal_spark.operators import dedup

        plan = _optimized(dedup.exact_dedup(seg, "url", "text"))
        assert plan.count("LocalRelation") == 1, plan
        assert "Join" not in plan, plan

    def test_temperature_resample_no_scalar_subquery(self, seg):
        from lib_gdal_spark.operators import sampling

        plan = _optimized(sampling.temperature_resample(seg, "lang", "url"))
        assert plan.count("LocalRelation") == 2, plan
        assert "scalar-subquery" not in plan, plan

    def test_curate_reads_segment_twice(self, seg):
        from lib_gdal_spark.plans import curate

        assert _optimized(curate(seg)).count("LocalRelation") == 2

    def test_curate_jobs_budget(self, spark, seg):
        from lib_gdal_spark.plans import curate

        def run():
            return curate(seg).select("url").collect()

        run()
        assert _job_count(spark, run) <= CURATE_JOBS


class TestRound4Plans:
    def test_curve_stroke_zero_exchange(self, spark):
        """The arc-metrics query is embarrassingly parallel: scan ->
        project -> ONE MapInPandas, no Exchange anywhere."""
        import __spark_entry__ as em

        p = _plan(em.queries()["curve_stroke"](spark,
                                               "/root/testdata/sf0.001"))
        assert "Exchange" not in p
        import re
        assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1

    def test_proj_conic_single_arrow_batch_no_exchange(self, spark):
        """Catalyst fuses the three projection pandas UDFs into ONE
        ArrowEvalPython node (one Arrow round-trip per batch, not
        three), and the whole query has no Exchange."""
        import __spark_entry__ as em

        p = _plan(em.queries()["proj_conic"](spark,
                                             "/root/testdata/sf0.001"))
        assert "Exchange" not in p
        import re
        assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1

    def test_mdim_arith_two_aggs_broadcast_combine(self, spark):
        """combine() joins the two aggregated arrays without a THIRD
        shuffle: the small side broadcasts (or the join reuses the agg
        partitioning) — one Exchange per groupBy only."""
        import __spark_entry__ as em

        p = _plan(em.queries()["mdim_arith"](spark,
                                             "/root/testdata/sf0.001"))
        n_shuffle = p.count("Exchange hashpartitioning")
        assert n_shuffle <= 3  # 2 aggs + the final y-reduce
        assert "CartesianProduct" not in p


class TestGeodeticTilePlan:
    def test_single_exchange_pure_catalyst(self, spark):
        # the geodetic tile assignment must stay whole-stage Column
        # math: one Exchange (the groupBy), partial agg before it, no
        # Python evaluation anywhere
        import __spark_entry__ as em

        df = em.queries()["tile_geodetic"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert plan.index("HashAggregate") < plan.index("Exchange")


class TestCoveragePlans:
    """The coverage trio must never degrade to all-pairs: the pair
    source is an equi-join on grid cells (hash-joinable), and the exact
    kernels only see candidate pairs."""

    def test_coverage_check_no_cartesian(self, spark):
        import __spark_entry__ as em

        p = _plan(em.queries()["coverage_check"](spark,
                                                 "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        # the bbox-overlap + report-point predicates ride INSIDE the
        # cell equi-join (condition on the join node), not a post-scan
        # filter of a cross product
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p

    def test_coverage_clean_no_cartesian_one_decide_kernel(self, spark):
        import re

        import __spark_entry__ as em

        p = _plan(em.queries()["coverage_clean"](spark,
                                                 "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        # exactly two Arrow kernels: decide (per pair) + subtract
        assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 2

    def test_coverage_simplify_bounded_shuffles(self, spark):
        import __spark_entry__ as em

        p = _plan(em.queries()["coverage_simplify"](spark,
                                                    "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in p
        # owner-set agg + chain group + edge-key join + poly reassembly
        # + the n_before join: bounded, data-scale-independent count
        assert p.count("Exchange hashpartitioning") <= 8


class TestRound5Plans:
    def test_rat_classify_broadcast_no_pixel_shuffle_before_agg(self, spark):
        import __spark_entry__ as em

        p = _plan(em.queries()["rat_classify"](spark,
                                               "/root/testdata/sf0.001"))
        # the RAT payload join must broadcast (row-bounded side) and the
        # pixel side must reach the final agg without a join shuffle
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p
        # CASE-chain classify is pure Catalyst: no Python on the pixels
        assert "MapInPandas" not in p and "ArrowEvalPython" not in p

    def test_proj_datum_is_single_pass_no_shuffle(self, spark):
        import __spark_entry__ as em

        p = _plan(em.queries()["proj_datum"](spark,
                                             "/root/testdata/sf0.001"))
        # two broadcast-constant Arrow UDF hops over one scan: no
        # Exchange anywhere in the plan
        assert "Exchange" not in p
        assert "ArrowEvalPython" in p

    def test_nearblack_two_passes_bounded_exchanges(self, spark):
        import __spark_entry__ as em

        p = _plan(em.queries()["nearblack_collar"](spark,
                                                   "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in p
        # two window stages + two per-line kernels; exchange count is
        # pass-structure-bound, not data-bound
        assert p.count("Exchange hashpartitioning") <= 6
