"""Physical-plan assertions: the plans must be the ones we'd want at 100 TB.

Checks (via explain(formatted)) that:
- filters reach the parquet scan (PushedFilters) and columns are pruned
  (ReadSchema) — the engine analog of the reference's WHERE pushdown
  (ogr_gensql.cpp:132-145) and ignored-fields pruning (ogrunionlayer.cpp:540);
- the spatial join's phase-1 cell join is a BroadcastHashJoin (zero shuffle
  of the big side);
- aggregations are partial (map-side combine) before the exchange;
- the two-phase spatial predicate keeps the cheap test JVM-side: the PIP
  UDF appears AFTER the join, not in the scan, and an all-box polygon
  set plans no Python stage at all.
"""

import re

import numpy as np
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


class TestSpatialJoinPlan:
    def test_cover_join_is_broadcast(self, spark):
        pdf = spark.createDataFrame(
            [(f"u{i}", float(i % 50), float(i % 30)) for i in range(100)],
            "url string, lon double, lat double",
        )
        # a concave L: not a box, so the exact PIP kernel is planned
        polys = sjoin.PolygonSet(
            [(1, [np.array([[30.0, 0.0], [60.0, 0.0], [60.0, 15.0], [45.0, 15.0],
                            [45.0, 30.0], [30.0, 30.0], [30.0, 0.0]])])]
        )
        j = sjoin.spatial_join(pdf, polys, zoom=6, how="inner")
        plan = explain_str(j)
        assert "BroadcastHashJoin" in plan
        # exact PIP runs AFTER the join (two-phase discipline): the plan
        # prints top-down, so the UDF node comes first
        assert plan.index("ArrowEvalPython") < plan.index("BroadcastHashJoin")

    def test_box_set_has_no_python(self, spark):
        # a box's exact answer is its half-open envelope, decided in Catalyst
        import __spark_entry__ as em

        pdf = spark.createDataFrame(
            [(f"u{i}", float(i % 50), float(i % 30)) for i in range(100)],
            "url string, lon double, lat double",
        )
        j = sjoin.spatial_join(pdf, em._rect_polyset(), zoom=6, how="inner")
        j.collect()
        plan = explain_str(j)
        assert "isFinalPlan=true" in plan
        assert "BroadcastHashJoin" in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        # one non-box polygon brings back exactly one PIP stage
        tri = (5, [np.array([[0.0, 0.0], [40.0, 0.0], [20.0, 25.0], [0.0, 0.0]])])
        mixed = sjoin.PolygonSet([(1, em._rect_rings(0.0, 0.0, 20.0, 20.0)), tri])
        j = sjoin.spatial_join(pdf, mixed, zoom=6, how="inner")
        j.collect()
        final = explain_str(j).split("== Initial Plan ==")[0]
        assert len(re.findall(r"ArrowEvalPython \(\d+\)", final)) == 1

    def test_unhinted_cover_is_broadcast_over_parquet(self, spark, tmp_path):
        # no broadcast hint: the planner must choose the broadcast join
        # from the cover's known size against a big-statistics parquet
        # scan of the points (the flagship's shape)
        import __spark_entry__ as em

        spark.range(5000).select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
            ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("lon"),
            ((F.col("id") * 9973 % 1700) / 10.0 - 85.0).alias("lat"),
        ).write.parquet(str(tmp_path / "pts"))
        pts = spark.read.parquet(str(tmp_path / "pts"))
        j = sjoin.spatial_join(pts, em._rect_polyset(), zoom=7, how="inner")
        j.collect()
        plan = explain_str(j)
        assert "isFinalPlan=true" in plan
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final
        assert "SortMergeJoin" not in final

    def test_left_face_anti_join_on_narrow_key(self, spark):
        # the left face finds unmatched points by anti-joining on ONE
        # unique key column — wide payload columns (html at page scale)
        # must never appear in an exchange hash key or aggregate key
        pdf = spark.createDataFrame(
            [(f"u{i}", float(i % 50), float(i % 30), b"x" * 10) for i in range(100)],
            "url string, lon double, lat double, html binary",
        )
        polys = sjoin.PolygonSet(
            [(1, [np.array([[0.0, 0.0], [40.0, 0.0], [40.0, 25.0], [0.0, 25.0], [0.0, 0.0]])])]
        )
        j = sjoin.spatial_join(pdf, polys, zoom=6, how="left")
        plan = explain_str(j)
        for line in plan.splitlines():
            if "hashpartitioning" in line or "HashAggregate" in line:
                assert "html" not in line.split("ReadSchema")[0], line
        # and the matched-keys dedup is on the key alone, never full rows
        assert "html" not in "".join(
            l for l in plan.splitlines() if "HashAggregate" in l)

    def test_no_python_in_prefilter(self, spark):
        # phase 1 (cell assignment + cover join) must be pure JVM
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


class TestMinhashPlan:
    def test_minhash_signature_single_exchange(self, spark):
        """The only shuffle is the per-doc MIN agg (map-side combined):
        shingles feed the partial agg distinct-free — MIN is duplicate-
        insensitive, so a set-semantics exchange of the shingle table
        (the widest table in any dedup job) would be pure waste."""
        from lib_gdal_spark.operators import dedup

        df = spark.createDataFrame(
            [(i, "w x y z w x y z") for i in range(8)],
            "doc_id long, text string")
        sig = dedup.minhash_signature(df, "doc_id", "text")
        plan = sig._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        # and it's the partial-agg exchange: a partial_min aggregate
        # (SortAggregate — string MIN) runs BEFORE the exchange
        assert "partial_min" in plan[plan.index("Exchange"):], plan


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
