"""Warp / reproject raster with the GDAL resampling-kernel family.

Reference: /root/reference/alg/gdalwarper.cpp:1921-1947 enumerates the
resampling kernels (near, bilinear, cubic, cubicspline, lanczos, average,
rms, mode, max, min, med, q1, q3, sum). The reference pulls target blocks
through a per-block transformer single-node; the distributed recast here
has two shapes, both pure Catalyst:

- FORWARD (aggregating kernels: average / sum / min / max / rms / mode /
  med / q1 / q3): closed-form reprojection of each SOURCE-cell center to
  its target tile (geo/mercator column math), then ONE groupBy(x, y)
  computes the kernel over contributing source cells — a map-side-combined
  shuffle keyed on the output tile, GDAL's area-aggregating kernels on a
  downsampling warp. No search structure, no Python.

- INVERSE (sampling kernels: near / bilinear): the target-tile set is the
  distinct forward image of the source; each target CENTER is
  inverse-projected (mercator.tile_center_*_col, closed form) and samples
  the REGULAR source grid by index arithmetic — floor() for near, a
  4-tap weighted join for bilinear. This is GDAL's pull-based sampling
  re-expressed as an equi-join on source grid indices: shuffle volume is
  |target tiles| x (1 or 4), never |src| x |tgt|.

Scale notes: both shapes shuffle once on the output key; the inverse
join's source side is the (already aggregated) source grid — broadcastable
when it is a coarse overview, hash-joined otherwise. Quantile kernels add
one window over the same (x, y) key, which AQE keeps co-partitioned with
the final aggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..geo import mercator

AGG_KERNELS = ("average", "sum", "min", "max", "rms", "mode")

# Convolution kernels (the last three of gdalwarper.cpp's 14): taps per
# axis = 2 * radius
CONV_RADIUS = {"cubic": 2, "cubicspline": 2, "lanczos": 3}

_PI = repr(math.pi)


def kernel_weight_sql(d: str, kernel: str) -> str:
    """SQL text for the 1-D kernel weight at signed distance expression
    `d` (in source-grid units). The SAME string runs as a Spark Column
    (F.expr) and inside the duckdb oracle, so the float op ORDER is
    identical across engines by construction (CLAUDE.md exactness rule).

    Formulas are term-for-term the reference's:
    - cubic: Catmull-Rom, alg/gdalresamplingkernels.h:23-42
      (x^2*(1.5|x| - 2.5) + 1; x^2*(-0.5|x| + 2.5) - 4|x| + 2)
    - cubicspline: cubic B-spline, alg/gdalwarpkernel.cpp:3680 GWKBSpline
      (Mitchell (B,C)=(1,0); the reference omits the 1/6 factor and so do
      we — it cancels in the sum(w*v)/sum(w) normalization)
    - lanczos: radius-3 windowed sinc, alg/gdalwarpkernel.cpp:3540
      GWKLanczosSinc including its sin(3x) = (3 - 4 sin^2 x) sin x trick,
      so only ONE transcendental sin() per weight in both engines
    """
    if kernel == "cubic":
        return (
            f"CASE WHEN abs({d}) <= 1.0 THEN"
            f" ({d})*({d}) * (1.5*abs({d}) - 2.5) + 1.0"
            f" WHEN abs({d}) <= 2.0 THEN"
            f" ({d})*({d}) * (-0.5*abs({d}) + 2.5) - 4.0*abs({d}) + 2.0"
            f" ELSE 0.0 END"
        )
    if kernel == "cubicspline":
        return (
            f"CASE WHEN abs({d}) < 1.0 THEN"
            f" 3.0*abs({d})*abs({d})*abs({d})"
            f" - 6.0*abs({d})*abs({d}) + 4.0"
            f" WHEN abs({d}) < 2.0 THEN"
            f" -(abs({d})*abs({d})*abs({d}))"
            f" + 6.0*abs({d})*abs({d}) - 12.0*abs({d}) + 8.0"
            f" ELSE 0.0 END"
        )
    if kernel == "lanczos":
        s = f"sin({_PI}*({d})/3.0)"
        return (
            f"CASE WHEN ({d}) = 0.0 THEN 1.0"
            f" WHEN abs({d}) < 3.0 THEN"
            f" (3.0 - 4.0*({s})*({s})) * (({s})*({s}))"
            f" / (({_PI}*({d})) * ({_PI}*({d})/3.0))"
            f" ELSE 0.0 END"
        )
    raise ValueError(f"unknown convolution kernel {kernel!r}")


def _tiled(src: DataFrame, zoom: int, lon_col: str, lat_col: str,
           value_col: str) -> DataFrame:
    return src.select(
        mercator.tile_x_col(lon_col, zoom).alias("x"),
        mercator.tile_y_col(lat_col, zoom).alias("y"),
        F.col(value_col).alias("_v"),
    )


def warp_agg(src: DataFrame, zoom: int, kernel: str,
             lon_col: str = "cx", lat_col: str = "cy",
             value_col: str = "v") -> DataFrame:
    """Forward warp with an aggregating kernel -> (x, y, value).

    src: source-cell centers (lon/lat) + value. Kernel semantics follow
    gdalwarper.cpp / gcore/overview.cpp: mode ties break to the SMALLEST
    value (deterministic under any partitioning)."""
    t = _tiled(src, zoom, lon_col, lat_col, value_col)
    if kernel == "mode":
        g = t.groupBy("x", "y", "_v").agg(F.count(F.lit(1)).alias("_n"))
        w = Window.partitionBy("x", "y").orderBy(F.col("_n").desc(),
                                                 F.col("_v").asc())
        return (
            g.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .select("x", "y", F.col("_v").alias("value"))
        )
    if kernel == "rms":
        # sqrt of the mean square — exact cross-engine when values are
        # integer-valued (squares and sums stay exact, one division)
        agg = F.sqrt(F.avg(F.col("_v") * F.col("_v")))
    else:
        agg = {"average": F.avg("_v"), "sum": F.sum("_v"),
               "min": F.min("_v"), "max": F.max("_v")}[kernel]
    return t.groupBy("x", "y").agg(agg.alias("value"))


def warp_quartiles(src: DataFrame, zoom: int,
                   lon_col: str = "cx", lat_col: str = "cy",
                   value_col: str = "v") -> DataFrame:
    """Forward warp with the med/q1/q3 kernels (gdalwarper.cpp:1940-1943)
    in one pass -> (x, y, q1, med, q3).

    Discrete percentile (percentile_disc): the value at rank
    max(1, ceil(p * n)) in ascending order — identical index arithmetic
    in the duckdb twin, so results are engine-exact (a VALUE from the
    input, never an interpolated float)."""
    t = _tiled(src, zoom, lon_col, lat_col, value_col)
    w = Window.partitionBy("x", "y")
    ranked = t.select(
        "x", "y", "_v",
        F.row_number().over(w.orderBy(F.col("_v").asc())).alias("_rn"),
        F.count(F.lit(1)).over(w).alias("_n"),
    )

    def pick(p: float, name: str):
        idx = F.greatest(F.lit(1), F.ceil(F.lit(p) * F.col("_n")))
        return F.max(F.when(F.col("_rn") == idx, F.col("_v"))).alias(name)

    return ranked.groupBy("x", "y").agg(
        pick(0.25, "q1"), pick(0.5, "med"), pick(0.75, "q3")
    )


def _target_centers(src: DataFrame, zoom: int, lon_col: str, lat_col: str):
    """Distinct target tiles (the forward image of the source) with their
    inverse-projected center coordinates."""
    tgt = src.select(
        mercator.tile_x_col(lon_col, zoom).alias("x"),
        mercator.tile_y_col(lat_col, zoom).alias("y"),
    ).distinct()
    return tgt.withColumn(
        "_lon", mercator.tile_center_lon_col(F.col("x"), zoom)
    ).withColumn("_lat", mercator.tile_center_lat_col(F.col("y"), zoom))


def warp_near(src: DataFrame, zoom: int, cell_size: float,
              lon_col: str = "cx", lat_col: str = "cy",
              value_col: str = "v") -> DataFrame:
    """Inverse warp, nearest-neighbor kernel (gdalwarper.cpp near):
    sample the source grid at each target center -> (x, y, value).

    The source must be a regular `cell_size`-degree grid whose cell
    centers sit at (g + 0.5) * cell_size; nearest-cell lookup is then
    floor(coord / cell_size) — index arithmetic, no distance search.
    Target tiles whose center falls in a source hole drop (nodata)."""
    tgt = _target_centers(src, zoom, lon_col, lat_col).select(
        "x", "y",
        F.floor(F.col("_lon") / cell_size).cast("long").alias("_gx"),
        F.floor(F.col("_lat") / cell_size).cast("long").alias("_gy"),
    )
    s = src.select(
        F.floor(F.col(lon_col) / cell_size).cast("long").alias("_gx"),
        F.floor(F.col(lat_col) / cell_size).cast("long").alias("_gy"),
        F.col(value_col).alias("value"),
    )
    return tgt.join(s, on=["_gx", "_gy"], how="inner").select("x", "y", "value")


def warp_bilinear(src: DataFrame, zoom: int, cell_size: float,
                  lon_col: str = "cx", lat_col: str = "cy",
                  value_col: str = "v") -> DataFrame:
    """Inverse warp, bilinear kernel (gdalwarper.cpp bilinear): 4-tap
    weighted sample of the source grid at each target center ->
    (x, y, value). Complete 4-tap windows only (edge/hole tiles drop,
    the engine's deterministic nodata discipline).

    The weights derive from the target center's fractional position in
    source-grid units; the inverse latitude is transcendental, so callers
    comparing across engines must round the weighted fold (the weights
    differ in the last ulp, never more)."""
    taps = F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
        for i in (0, 1) for j in (0, 1)
    ])
    tgt = _target_centers(src, zoom, lon_col, lat_col).select(
        "x", "y",
        (F.col("_lon") / cell_size - 0.5).alias("_fx"),
        (F.col("_lat") / cell_size - 0.5).alias("_fy"),
        F.explode(taps).alias("_t"),
    ).select(
        "x", "y",
        (F.floor("_fx") + F.col("_t.i")).cast("long").alias("_gx"),
        (F.floor("_fy") + F.col("_t.j")).cast("long").alias("_gy"),
        (
            F.when(F.col("_t.i") == 0,
                   F.lit(1.0) - (F.col("_fx") - F.floor("_fx")))
            .otherwise(F.col("_fx") - F.floor("_fx"))
            * F.when(F.col("_t.j") == 0,
                     F.lit(1.0) - (F.col("_fy") - F.floor("_fy")))
            .otherwise(F.col("_fy") - F.floor("_fy"))
        ).alias("_w"),
    )
    s = src.select(
        F.floor(F.col(lon_col) / cell_size).cast("long").alias("_gx"),
        F.floor(F.col(lat_col) / cell_size).cast("long").alias("_gy"),
        F.col(value_col).alias("_v"),
    )
    return (
        tgt.join(s, on=["_gx", "_gy"], how="inner")
        .groupBy("x", "y")
        .agg(F.sum(F.col("_w") * F.col("_v")).alias("value"),
             F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == 4)
        .drop("_n")
    )


def warp_convolution(src: DataFrame, zoom: int, cell_size: float,
                     kernel: str = "cubic",
                     lon_col: str = "cx", lat_col: str = "cy",
                     value_col: str = "v") -> DataFrame:
    """Inverse warp with a convolution kernel — cubic / cubicspline /
    lanczos, the last three of gdalwarper.cpp:1921-1947's 14 ->
    (x, y, value).

    Same pull-based shape as `warp_bilinear`, widened to the kernel's
    support: each target-tile center explodes (2r)^2 taps on the regular
    source grid (r=2 for the cubics, r=3 for lanczos) and one
    groupBy(x, y) folds sum(w*v)/sum(w) — normalized convolution, the
    reference's accumulator-weight semantics (GWKResample's
    dfAccumulatorWeight divide; exact 1 for Catmull-Rom, and absorbing
    B-spline's omitted 1/6). Only COMPLETE (2r)^2-tap windows survive
    (edge/hole tiles drop — the engine's nodata discipline).

    Scale: shuffle volume is |target tiles| x (2r)^2 against the
    (already aggregated) source grid — an equi-join on grid indices,
    never |src| x |tgt|; the source side is broadcastable when coarse.

    Weights are evaluated from ONE shared SQL text (kernel_weight_sql)
    reused verbatim by the duckdb oracle, so cross-engine drift is
    limited to the final fold order — callers comparing across engines
    round the output (the weights involve the transcendental inverse
    latitude anyway, as in bilinear).
    """
    r = CONV_RADIUS[kernel]
    ks = list(range(-(r - 1), r + 1))
    taps = F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
        for i in ks for j in ks
    ])
    wx = kernel_weight_sql("_fx - (floor(_fx) + _t.i)", kernel)
    wy = kernel_weight_sql("_fy - (floor(_fy) + _t.j)", kernel)
    tgt = _target_centers(src, zoom, lon_col, lat_col).select(
        "x", "y",
        (F.col("_lon") / cell_size - 0.5).alias("_fx"),
        (F.col("_lat") / cell_size - 0.5).alias("_fy"),
        F.explode(taps).alias("_t"),
    ).select(
        "x", "y",
        (F.floor("_fx") + F.col("_t.i")).cast("long").alias("_gx"),
        (F.floor("_fy") + F.col("_t.j")).cast("long").alias("_gy"),
        (F.expr(wx) * F.expr(wy)).alias("_w"),
    )
    s = src.select(
        F.floor(F.col(lon_col) / cell_size).cast("long").alias("_gx"),
        F.floor(F.col(lat_col) / cell_size).cast("long").alias("_gy"),
        F.col(value_col).alias("_v"),
    )
    full = (2 * r) * (2 * r)
    return (
        tgt.join(s, on=["_gx", "_gy"], how="inner")
        .groupBy("x", "y")
        .agg((F.sum(F.col("_w") * F.col("_v"))
              / F.sum("_w")).alias("value"),
             F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == full)
        .drop("_n")
    )


# ---------------------------------------------------------------------------
# Affine grid warp — the gdalwarp chain replayed distributed

#: smallest normal double — GWKComputeWeights seeds weight sums with it
#: (gdalwarpkernel.cpp:4620) to dodge division by zero
_DBL_MIN = 2.2250738585072014e-308


def invert_geotransform(gt):
    """GDALInvGeoTransform (alg/gdaltransformer.cpp:4562-4608), both
    paths with the reference's exact op order (it matters at the last
    ulp — the warp replay must reproduce it):

    - no-rotation fast path: reciprocal-multiply form, NOT
      (x - gt0)/gt1;
    - general affine (rotated/sheared gt[2]/gt[4] != 0): adjoint over
      determinant with the same term order, and the reference's
      singularity rule |det| <= 1e-10 * magnitude^2 -> ValueError
      (the C API returns 0 there)."""
    if gt[2] == 0.0 and gt[4] == 0.0 and gt[1] != 0.0 and gt[5] != 0.0:
        return (-gt[0] / gt[1], 1.0 / gt[1], 0.0,
                -gt[3] / gt[5], 0.0, 1.0 / gt[5])
    det = gt[1] * gt[5] - gt[2] * gt[4]
    magnitude = max(abs(gt[1]), abs(gt[2]), abs(gt[4]), abs(gt[5]))
    if abs(det) <= 1e-10 * magnitude * magnitude:
        raise ValueError("invert_geotransform: singular geotransform")
    inv_det = 1.0 / det
    return ((gt[2] * gt[3] - gt[0] * gt[5]) * inv_det,
            gt[5] * inv_det,
            -gt[2] * inv_det,
            (-gt[1] * gt[3] + gt[0] * gt[4]) * inv_det,
            -gt[4] * inv_det,
            gt[1] * inv_det)


def _bspline_sql(a: str) -> str:
    """GWKBSpline (gdalwarpkernel.cpp:3685): the nested-conditional
    cascade, term order preserved (xm1/x/xp1/xp2 cubes, 1/6 factor
    omitted as in the reference — it cancels in the normalization)."""
    return (
        f"CASE WHEN ({a} + 2.0) > 0.0 THEN"
        f" (CASE WHEN ({a} + 1.0) > 0.0 THEN"
        f" (CASE WHEN ({a}) > 0.0 THEN"
        f" (CASE WHEN ({a} - 1.0) > 0.0 THEN"
        f" -4.0 * ({a} - 1.0) * ({a} - 1.0) * ({a} - 1.0) ELSE 0.0 END)"
        f" + 6.0 * ({a}) * ({a}) * ({a})"
        f" ELSE 0.0 END)"
        f" + -4.0 * ({a} + 1.0) * ({a} + 1.0) * ({a} + 1.0)"
        f" ELSE 0.0 END)"
        f" + ({a} + 2.0) * ({a} + 2.0) * ({a} + 2.0)"
        f" ELSE 0.0 END"
    )


def warp_affine(src: DataFrame, src_size: tuple, dst_size: tuple,
                src_gt: tuple, dst_gt: tuple, kernel: str = "near",
                out_byte: bool = True, masked: bool = False) -> DataFrame:
    """gdalwarp on a same-CRS affine grid, replaying GDAL's exact chain
    for the single-band NoMasks paths — the warp analog of the
    gdaldem_compat byte-exact replays:

    - dst->src coordinates go through the APPROX transformer
      (gdaltransformer.cpp:4332: per-scanline linear interpolation
      between exact endpoint transforms, the default errorThreshold=
      0.125 behavior; exact for affine up to the interpolation's own
      float ops, which we reproduce) composed with GDALInvGeoTransform's
      reciprocal-multiply inverse;
    - near: trunc(srcX + 1e-10), ==size clamp, bounds skip
      (GWKCheckAndComputeSrcOffsets, gdalwarpkernel.cpp:5189);
    - bilinear: GWKBilinearResampleNoMasks4SampleT (:2969) — interior
      closed form, border accumulate-valid/normalize, 1e-5 miss rule;
    - cubic: GWKCubicResampleNoMasks4SampleT (:3482) — Catmull-Rom
      via GWKCubicComputeWeights + CubicConvolution, border falls back
      to bilinear;
    - cubicspline: GWKResampleNoMasksT (:4670) with GWKBSpline weights,
      clipped tap ranges, DBL_MIN-seeded weight sums, multiply by
      1/(sumX*sumY).  Upsampling only (XScale >= 1; the reference
      widens the kernel for downsampling — use the overview/warp_agg
      family for that).

    src: (bx, by, value) cells, by increasing UPWARD (sources/tiff
    convention); returns the same shape for the dst grid.  out_byte
    applies the reference's Byte store rule (clamp + floor(v + 0.5)).

    Distributed shape: dst-pixel table -> closed-form coordinate
    columns -> explode bounded taps -> ONE equi-join against the source
    grid -> ONE groupBy(dst pixel) with conditional-aggregation slots
    (max(when), not pivot — single exchange) -> fixed-order kernel
    fold.  Scales as |dst| x taps with no driver-side state."""
    spark = src.sparkSession
    W, H = int(src_size[0]), int(src_size[1])
    DW, DH = int(dst_size[0]), int(dst_size[1])
    igt = invert_geotransform(src_gt)
    d0, d1, d2, d3, d4, d5 = [float(v) for v in dst_gt]
    i0, i1, i2, i3, i4, i5 = igt

    d = spark.range(DW * DH).select(
        (F.col("id") % DW).alias("xd"),
        (F.col("id") / DW).cast("long").alias("yd"))
    yP = F.col("yd") + F.lit(0.5)

    def exact_pair(xp):
        gx = F.lit(d0) + xp * F.lit(d1) + yP * F.lit(d2)
        gy = F.lit(d3) + xp * F.lit(d4) + yP * F.lit(d5)
        return (F.lit(i0) + gx * F.lit(i1) + gy * F.lit(i2),
                F.lit(i3) + gx * F.lit(i4) + gy * F.lit(i5))

    x0s, y0s = exact_pair(F.lit(0.5))
    xns, yns = exact_pair(F.lit(DW - 1 + 0.5))
    den = float(DW - 1) if DW > 1 else 1.0
    d = d.select(
        "xd", "yd",
        (x0s + ((xns - x0s) / F.lit(den)) * F.col("xd")).alias("sx"),
        (y0s + ((yns - y0s) / F.lit(den)) * F.col("xd")).alias("sy"),
    )
    # GWKCheckAndComputeSrcOffsets: reject outside source, clamp ==size
    nx = F.floor(F.col("sx") + F.lit(1e-10)).cast("long")
    ny = F.floor(F.col("sy") + F.lit(1e-10)).cast("long")
    d = d.withColumn("nx", F.when(nx == W, W - 1).otherwise(nx)) \
         .withColumn("ny", F.when(ny == H, H - 1).otherwise(ny)) \
         .filter((F.col("nx") >= 0) & (F.col("nx") < W)
                 & (F.col("ny") >= 0) & (F.col("ny") < H))

    # source in row-major coords
    s = src.select(
        F.col("bx").alias("scol"),
        (F.lit(H - 1) - F.col("by")).alias("srow"),
        F.col("value").alias("_v"))

    def finish(col_expr):
        v = F.expr(col_expr)
        if out_byte:
            v = F.when(v < 0.0, F.lit(0.0)).when(v > 255.0, F.lit(255.0)) \
                 .otherwise(F.floor(v + F.lit(0.5)))
        return v

    if kernel == "near":
        out = d.join(s, (d.nx == s.scol) & (d.ny == s.srow), "inner")
        vcol = F.col("_v")
        if out_byte:
            vcol = F.floor(vcol + F.lit(0.5))
        return out.select(
            F.col("xd").alias("bx"),
            (F.lit(DH - 1) - F.col("yd")).alias("by"),
            vcol.cast("double").alias("value"))

    if kernel not in ("bilinear", "cubic", "cubicspline"):
        raise ValueError(f"warp_affine kernel {kernel!r}")

    taps = F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
        for j in (-1, 0, 1, 2) for i in (-1, 0, 1, 2)
    ])
    e = d.select(
        "xd", "yd", "sx", "sy",
        F.floor(F.col("sx") - F.lit(0.5)).alias("ixf"),
        F.floor(F.col("sy") - F.lit(0.5)).alias("iyf"),
        F.explode(taps).alias("_t"),
    ).select(
        "xd", "yd", "sx", "sy", "ixf", "iyf",
        F.col("_t.i").alias("ti"), F.col("_t.j").alias("tj"),
        (F.col("ixf") + F.col("_t.i")).cast("long").alias("scol"),
        (F.col("iyf") + F.col("_t.j")).cast("long").alias("srow"),
    )
    j = e.join(s, ["scol", "srow"], "left")
    slots = []
    names = {-1: "m1", 0: "0", 1: "1", 2: "2"}
    for jj in (-1, 0, 1, 2):
        for ii in (-1, 0, 1, 2):
            nm = f"v_{names[ii]}_{names[jj]}"
            slots.append(F.max(F.when(
                (F.col("ti") == ii) & (F.col("tj") == jj), F.col("_v")
            )).alias(nm))
    g = j.groupBy("xd", "yd", "sx", "sy", "ixf", "iyf").agg(*slots)

    def v(ii, jj):
        return f"coalesce(v_{names[ii]}_{names[jj]}, 0.0)"

    def inb(ii, jj):
        return (f"(ixf + ({ii}) >= 0 AND ixf + ({ii}) < {W} "
                f"AND iyf + ({jj}) >= 0 AND iyf + ({jj}) < {H})")

    rx = "(1.5 - (sx - ixf))"
    ry = "(1.5 - (sy - iyf))"
    # GWKBilinearResampleNoMasks4SampleT: interior closed form; border
    # accumulates present taps in UL, UR, LR, LL order and normalizes
    bil_terms = [
        (0, 0, f"({rx} * {ry})"),
        (1, 0, f"((1.0 - {rx}) * {ry})"),
        (1, 1, f"((1.0 - {rx}) * (1.0 - {ry}))"),
        (0, 1, f"({rx} * (1.0 - {ry}))"),
    ]
    acc = " + ".join(
        f"(CASE WHEN {inb(ii, jj)} THEN {v(ii, jj)} * {wt} ELSE 0.0 END)"
        for ii, jj, wt in bil_terms)
    div = " + ".join(
        f"(CASE WHEN {inb(ii, jj)} THEN {wt} ELSE 0.0 END)"
        for ii, jj, wt in bil_terms)
    bil_interior = (
        f"(({v(0, 0)} * {rx} + {v(1, 0)} * (1.0 - {rx})) * {ry}"
        f" + ({v(0, 1)} * {rx} + {v(1, 1)} * (1.0 - {rx})) * (1.0 - {ry}))")
    vbil = (
        f"CASE WHEN ixf >= 0 AND ixf + 1 < {W} AND iyf >= 0"
        f" AND iyf + 1 < {H} THEN {bil_interior}"
        f" WHEN ({div}) < 1e-5 THEN 0.0"
        f" WHEN ({div}) = 1.0 THEN ({acc})"
        f" ELSE ({acc}) / ({div}) END")

    if masked:
        # GWKBilinearResample4Sample (gdalwarpkernel.cpp:2815), the
        # -srcnodata path: a tap participates only when its source cell
        # EXISTS (absent row = nodata); iSrc == -1 clamps to column/row
        # 0 with ratio 1 (the kernel's edge-shift rule); accumulate
        # valid taps UL,UR then LL,LR; divisor 1e-5 miss -> dst nodata
        # (row absent), divisor == 1 -> exact, else normalize.
        def pres(ii, jj):
            return (f"({inb(ii, jj)}"
                    f" AND v_{names[ii]}_{names[jj]} IS NOT NULL)")

        def mb(xs: int, ys: int):
            rxs = "1.0" if xs else rx
            rys = "1.0" if ys else ry
            terms = [
                (xs, ys, f"({rxs} * {rys})"),
                (xs + 1, ys, f"((1.0 - {rxs}) * {rys})"),
                (xs, ys + 1, f"({rxs} * (1.0 - {rys}))"),
                (xs + 1, ys + 1, f"((1.0 - {rxs}) * (1.0 - {rys}))"),
            ]
            a = " + ".join(
                f"(CASE WHEN {pres(ii, jj)} THEN {v(ii, jj)} * {wt}"
                f" ELSE 0.0 END)" for ii, jj, wt in terms)
            dv = " + ".join(
                f"(CASE WHEN {pres(ii, jj)} THEN {wt} ELSE 0.0 END)"
                for ii, jj, wt in terms)
            return (f"CASE WHEN ({dv}) < 1e-5 THEN NULL"
                    f" WHEN ({dv}) = 1.0 THEN ({a})"
                    f" ELSE ({a}) / ({dv}) END")

        vbil = (f"CASE WHEN ixf = -1 AND iyf = -1 THEN {mb(1, 1)}"
                f" WHEN ixf = -1 THEN {mb(1, 0)}"
                f" WHEN iyf = -1 THEN {mb(0, 1)}"
                f" ELSE {mb(0, 0)} END")

    if kernel == "bilinear":
        out = g.select("xd", "yd", finish(vbil).alias("value"))
        if masked:
            out = out.filter(F.col("value").isNotNull())
    elif kernel == "cubic":
        dxx = "(sx - 0.5 - ixf)"
        dyy = "(sy - 0.5 - iyf)"
        hx = f"(0.5 * {dxx})"
        hx2 = f"({hx} * {dxx})"
        cw = [
            f"({hx} * (-1.0 + {dxx} * (2.0 - {dxx})))",
            f"(1.0 + {hx2} * (-5.0 + 3.0 * {dxx}))",
            f"({hx} * (1.0 + {dxx} * (4.0 - 3.0 * {dxx})))",
            f"({hx2} * (-1.0 + {dxx}))",
        ]

        def row(jj):
            return ("(" + " + ".join(
                f"{cw[k]} * {v(ii, jj)}"
                for k, ii in enumerate((-1, 0, 1, 2))) + ")")

        d2s = f"({dyy} * {dyy})"
        d3s = f"({d2s} * {dyy})"
        f0, f1, f2, f3 = row(-1), row(0), row(1), row(2)
        vcub = (
            f"({f1} + 0.5 * ({dyy} * ({f2} - {f0})"
            f" + {d2s} * (2.0 * {f0} - 5.0 * {f1} + 4.0 * {f2} - {f3})"
            f" + {d3s} * (3.0 * ({f1} - {f2}) + {f3} - {f0})))")
        interior = (f"ixf - 1 >= 0 AND ixf + 2 < {W}"
                    f" AND iyf - 1 >= 0 AND iyf + 2 < {H}")
        if masked:
            # GWKCubicResample4Sample (:3141): any missing tap in the
            # 4x4 support -> fall back to the masked bilinear
            all16 = " AND ".join(
                f"v_{names[ii]}_{names[jj]} IS NOT NULL"
                for jj in (-1, 0, 1, 2) for ii in (-1, 0, 1, 2))
            expr = (f"CASE WHEN {interior} AND {all16} THEN {vcub}"
                    f" ELSE {vbil} END")
        else:
            expr = f"CASE WHEN {interior} THEN {vcub} ELSE {vbil} END"
        out = g.select("xd", "yd", finish(expr).alias("value"))
        if masked:
            out = out.filter(F.col("value").isNotNull())
    else:  # cubicspline
        if masked:
            raise NotImplementedError(
                "warp_affine masked mode covers near/bilinear/cubic"
                " (the reference's cubicspline masked path does density"
                " weight adjustment, GWKResample — out of scope)")
        if DW < W or DH < H:
            raise NotImplementedError(
                "warp_affine cubicspline: downsampling widens the kernel"
                " (XScale < 1); use warp_agg/overview kernels instead")
        # stage weights as real projected columns: the one-expression
        # form exceeded Janino's method-size limit and killed
        # whole-stage codegen (same class of issue as the winnow
        # staged-array rule in CLAUDE.md)
        dxx = "(sx - 0.5 - ixf)"
        dyy = "(sy - 0.5 - iyf)"
        stage = g.select(
            "*",
            F.expr(f"CASE WHEN ixf - 1 < 0 THEN -ixf ELSE -1.0 END")
             .alias("imn"),
            F.expr(f"CASE WHEN ixf + 2 >= {W} - 1 THEN ({W} - 1) - ixf"
                   " ELSE 2.0 END").alias("imx"),
            F.expr(f"CASE WHEN iyf - 1 < 0 THEN -iyf ELSE -1.0 END")
             .alias("jmn"),
            F.expr(f"CASE WHEN iyf + 2 >= {H} - 1 THEN ({H} - 1) - iyf"
                   " ELSE 2.0 END").alias("jmx"),
            *[F.expr(_bspline_sql(f"(({ii} - {dxx}) * 1.0)"))
              .alias(f"wh_{names[ii]}") for ii in (-1, 0, 1, 2)],
            *[F.expr(_bspline_sql(f"(({jj} - {dyy}) * 1.0)"))
              .alias(f"wv_{names[jj]}") for jj in (-1, 0, 1, 2)],
        )

        def hp(ii):
            return f"({ii} >= imn AND {ii} <= imx)"

        def vp(jj):
            return f"({jj} >= jmn AND {jj} <= jmx)"

        stage = stage.select(
            "*",
            F.expr(f"{_DBL_MIN!r} + " + " + ".join(
                f"(CASE WHEN {hp(ii)} THEN wh_{names[ii]} ELSE 0.0 END)"
                for ii in (-1, 0, 1, 2))).alias("sumh"),
            F.expr(f"{_DBL_MIN!r} + " + " + ".join(
                f"(CASE WHEN {vp(jj)} THEN wv_{names[jj]} ELSE 0.0 END)"
                for jj in (-1, 0, 1, 2))).alias("sumv"),
            *[F.expr("(" + " + ".join(
                f"(CASE WHEN {hp(ii)} THEN wh_{names[ii]} * {v(ii, jj)}"
                f" ELSE 0.0 END)" for ii in (-1, 0, 1, 2)) + ")")
              .alias(f"row_{names[jj]}") for jj in (-1, 0, 1, 2)],
        )
        accv = " + ".join(
            f"(CASE WHEN {vp(jj)} THEN wv_{names[jj]} * row_{names[jj]}"
            f" ELSE 0.0 END)" for jj in (-1, 0, 1, 2))
        expr = f"(({accv}) * (1.0 / (sumh * sumv)))"
        out = stage.select("xd", "yd", finish(expr).alias("value"))

    return out.select(
        F.col("xd").alias("bx"),
        (F.lit(DH - 1) - F.col("yd")).alias("by"),
        F.col("value").cast("double").alias("value"))


# ---------------------------------------------------------------------------
# gdalwarp from GCPs: -tps / -order N (apps/gdalwarp_lib.cpp transformer
# options; alg/gdal_tps.cpp, alg/gdal_crs.cpp)
# ---------------------------------------------------------------------------

def suggested_output(to_geo, src_size: tuple):
    """GDALSuggestedWarpOutput (alg/gdaltransformer.cpp:1070-1146),
    corner-sampled: bbox of the transformed source corners, pixel size =
    transformed diagonal / source diagonal, size = int(extent/ps + 0.5),
    gt anchored top-left.  The reference walks 21 samples per edge; for
    the affine-consistent GCP sets its own warp autotests use the corner
    bbox is identical (a curved TPS could bulge past the corners — use
    an explicit dst grid then)."""
    W, H = int(src_size[0]), int(src_size[1])
    import numpy as np

    cx, cy = zip(*[(0.0, 0.0), (W, 0.0), (0.0, H), (W, H)])
    gx, gy = to_geo(np.asarray(cx), np.asarray(cy))
    minx, maxx = float(gx.min()), float(gx.max())
    miny, maxy = float(gy.min()), float(gy.max())
    dx = float(gx[3] - gx[0])
    dy = float(gy[3] - gy[0])
    if dx == 0.0 or dy == 0.0:
        dx, dy = maxx - minx, maxy - miny
    ps = math.sqrt(dx * dx + dy * dy) / math.sqrt(
        float(W) * W + float(H) * H)
    dw = int((maxx - minx) / ps + 0.5)
    dh = int((maxy - miny) / ps + 0.5)
    return (dw, dh), (minx, ps, 0.0, maxy, 0.0, -ps)


def warp_gcp(src: DataFrame, src_size: tuple, gcps, method: str = "tps",
             dst_size: tuple | None = None, dst_gt: tuple | None = None,
             out_byte: bool = True) -> DataFrame:
    """gdalwarp -tps / -order N from a GCP set, nearest resampling:
    dst pixel centers -> dst geo (output geotransform) -> the GCP
    transformer's REVERSE fit (geo -> source pixel) -> GWK near pick
    (trunc(src + 1e-10), bounds skip — gdalwarpkernel.cpp:5189).

    method: 'tps' (alg/gdal_tps.cpp) or 'poly1'/'poly2'/'poly3'
    (alg/gdal_crs.cpp).  Replays test_gdalwarp_lib_5/_6 and warp_26
    (checksum 4672 + the byte.tif geotransform to 1e-9).

    Distributed shape: the fitted transformer is a broadcast constant;
    polynomial application is pure Column math, TPS runs the Arrow
    pandas kernel (geo/gcptransform.py) — then ONE equi-join against
    the source cells.  src: (bx, by, value), by increasing upward."""
    from ..geo.gcptransform import GCPPolynomialTransform, TPSTransform

    spark = src.sparkSession
    W, H = int(src_size[0]), int(src_size[1])
    if method == "tps":
        tr = TPSTransform(gcps)
        to_geo = tr.to_geo
    elif method.startswith("poly"):
        tr = GCPPolynomialTransform(gcps, order=int(method[4:]))
        to_geo = tr.to_geo
    else:
        raise ValueError(f"method must be tps/poly1/poly2/poly3: {method}")
    if dst_size is None or dst_gt is None:
        dst_size, dst_gt = suggested_output(to_geo, src_size)
    DW, DH = int(dst_size[0]), int(dst_size[1])
    g0, g1, g2, g3, g4, g5 = [float(v) for v in dst_gt]

    d = spark.range(DW * DH).select(
        (F.col("id") % DW).cast("double").alias("xd"),
        (F.col("id") / DW).cast("long").cast("double").alias("yd"))
    gx = F.lit(g0) + (F.col("xd") + 0.5) * g1 + (F.col("yd") + 0.5) * g2
    gy = F.lit(g3) + (F.col("xd") + 0.5) * g4 + (F.col("yd") + 0.5) * g5
    d = d.select("xd", "yd", gx.alias("_gx"), gy.alias("_gy"))

    if method == "tps":
        d = tr.transform_df(d, "_gx", "_gy", inverse=True,
                            out_cols=("_sx", "_sy"))
    else:
        sx, sy = tr.columns(F.col("_gx"), F.col("_gy"), inverse=True)
        d = d.select("xd", "yd", sx.alias("_sx"), sy.alias("_sy"))

    # GWK near: integer pick + bounds skip
    ix = F.floor(F.col("_sx") + F.lit(1.0e-10)).cast("long")
    iy = F.floor(F.col("_sy") + F.lit(1.0e-10)).cast("long")
    d = d.select(
        F.col("xd").cast("long").alias("xd"),
        F.col("yd").cast("long").alias("yd"),
        ix.alias("_ix"), iy.alias("_iy"),
    ).filter((F.col("_ix") >= 0) & (F.col("_ix") < W)
             & (F.col("_iy") >= 0) & (F.col("_iy") < H))
    cells = src.select(
        F.col("bx").alias("_ix"),
        (F.lit(H - 1) - F.col("by")).alias("_iy"),
        F.col("value").alias("_v"))
    out = d.join(cells, on=["_ix", "_iy"], how="inner")
    v = F.col("_v")
    if out_byte:
        v = F.floor(F.least(F.lit(255.0), F.greatest(F.lit(0.0), v))
                    + F.lit(0.5))
    return out.select(
        F.col("xd").alias("bx"),
        (F.lit(DH - 1) - F.col("yd")).alias("by"),
        v.cast("double").alias("value"))
