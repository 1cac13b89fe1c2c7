"""`gdal vector pipeline` analog: a composable step chain over DataFrames.

Reference: the modern GDAL CLI composes vector processing as a `!`-joined
step DAG — registry at /root/reference/apps/gdalalg_vector_pipeline.cpp:
138-186 (read, filter, select, sql, reproject, clip, buffer, simplify,
segmentize, explode, concat, limit, partition (Hive scheme,
gdalalg_vector_partition.h:46-47), rasterize, grid, tee, write…); its
raster twin is gdalalg_raster_pipeline.cpp:168-227. `ogr2ogr` is the
classic spelling of the same read→transform→write chain
(apps/ogr2ogr_lib.cpp:2391).

Spark recast: each step is a DataFrame -> DataFrame function; the chain
IS the logical plan, so Catalyst still sees one tree (filters typed at
the end still push down to the scan — the pipeline adds zero optimization
barriers). Steps:

    read <path>                       parquet/csv/json by extension
    filter <sql-expr>
    select <expr AS name, ...>
    sql <SELECT ... FROM input>       prior step registered as `input`
    reproject                         adds mx/my EPSG:3857 meter columns
                                      from lon/lat (the engine's fixed
                                      4326 -> 3857 convention, SURVEY §1.1)
    clip <xmin> <ymin> <xmax> <ymax>  half-open bbox on lon/lat
    explode <array-col>
    concat <path>                     unionByName(allowMissingColumns)
    limit <n>
    offset <n>
    grid <cell_size> <radius>         IDW-grid points (x, y, z)
    tile <zoom>                       add tile_x/tile_y
    pyramid <max_zoom> [min_zoom]     aggregate to the zoom pyramid
    tee <path>                        write a copy, keep flowing
    partition <col,...>               declare Hive partition cols for write
    write <path> [overwrite|append]

Example:
    run_pipeline(spark,
        "read /data/pages.parquet ! filter lang = 'en' "
        "! select url, lon, lat ! reproject ! partition lang ! write /out")
"""

from __future__ import annotations

import shlex

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geo import mercator


def _read(spark: SparkSession, path: str) -> DataFrame:
    if path.endswith(".csv"):
        return spark.read.option("header", "true").csv(path)
    if path.endswith(".json") or path.endswith(".jsonl"):
        return spark.read.json(path)
    return spark.read.parquet(path)


class _Ctx:
    def __init__(self, spark):
        self.spark = spark
        self.partition_cols: list = []


def _step_read(ctx, df, args):
    return _read(ctx.spark, shlex.split(args)[0])


def _step_filter(ctx, df, args):
    return df.filter(args)  # raw SQL expression, quotes intact


def _step_select(ctx, df, args):
    exprs = [e.strip() for e in args.split(",")]
    return df.selectExpr(*exprs)


def _step_sql(ctx, df, args):
    df.createOrReplaceTempView("input")
    return ctx.spark.sql(args)


def _step_reproject(ctx, df, args):  # args unused
    # fixed 4326 -> 3857 (closed-form; the vectorized twin of the
    # reference's per-feature PROJ transform, ogr/ogrct.cpp:1027)
    return df.withColumn("mx", mercator.meters_x_col(F.col("lon"))).withColumn(
        "my", mercator.meters_y_col(F.col("lat"))
    )


def _step_clip(ctx, df, args):
    x0, y0, x1, y1 = map(float, args.split())
    return df.filter(
        (F.col("lon") >= x0) & (F.col("lon") < x1)
        & (F.col("lat") >= y0) & (F.col("lat") < y1)
    )


def _step_explode(ctx, df, args):
    col = args.strip()
    others = [c for c in df.columns if c != col]
    return df.select(*others, F.explode(F.col(col)).alias(col))


def _step_concat(ctx, df, args):
    other = _read(ctx.spark, shlex.split(args)[0])
    return df.unionByName(other, allowMissingColumns=True)


def _step_limit(ctx, df, args):
    return df.limit(int(args))


def _step_offset(ctx, df, args):
    return df.offset(int(args))


def _step_grid(ctx, df, args):
    # points (x, y, z) -> IDW cell grid (the registry's `grid` step)
    from ..operators import grid as _grid

    parts = args.split()
    cell, radius = float(parts[0]), float(parts[1])
    return _grid.grid_idw(df, cell_size=cell, radius=radius)


def _step_tile(ctx, df, args):
    # engine-native: add tile_x/tile_y at a zoom (the pipeline registry's
    # rasterize/grid steps generalized to the tile model)
    from ..operators import sjoin

    return sjoin.with_tile(df, int(args))


def _step_pyramid(ctx, df, args):
    from ..operators import tiles

    parts = args.split()
    max_zoom = int(parts[0])
    min_zoom = int(parts[1]) if len(parts) > 1 else 0
    return tiles.tile_pyramid(df, max_zoom=max_zoom, min_zoom=min_zoom)


def _step_tee(ctx, df, args):
    path = shlex.split(args)[0]
    df.write.mode("overwrite").parquet(path)
    return ctx.spark.read.parquet(path)  # continue from materialized copy


def _step_partition(ctx, df, args):
    ctx.partition_cols = [c.strip() for c in args.split(",")]
    return df


def _step_write(ctx, df, args):
    parts = shlex.split(args)
    path = parts[0]
    mode = parts[1] if len(parts) > 1 else "overwrite"
    w = df.write.mode(mode)
    if ctx.partition_cols:
        w = w.partitionBy(*ctx.partition_cols)
    w.parquet(path)
    return df


def _step_buffer(ctx, df, args):
    # registry `buffer` (gdalalg_vector_pipeline.cpp:138-186): geometry
    # buffer through the registered Arrow kernel; needs a `wkb` column
    from .. import functions as fns

    fns.register_all(ctx.spark)
    dist = float(args.split()[0])
    return df.withColumn("wkb", F.expr(f"st_buffer(wkb, {dist!r})"))


def _step_simplify(ctx, df, args):
    # registry `simplify`: SimplifyPreserveTopology at a tolerance
    from .. import functions as fns

    fns.register_all(ctx.spark)
    tol = float(args)
    return df.withColumn(
        "wkb", F.expr(f"st_simplifypreservetopology(wkb, {tol!r})"))


def _step_segmentize(ctx, df, args):
    # registry `segmentize`: densify edges to a max segment length
    from .. import functions as fns

    fns.register_all(ctx.spark)
    maxlen = float(args)
    return df.withColumn("wkb", F.expr(f"st_segmentize(wkb, {maxlen!r})"))


PIPELINE_STEPS = {
    "read": _step_read,
    "filter": _step_filter,
    "select": _step_select,
    "sql": _step_sql,
    "reproject": _step_reproject,
    "clip": _step_clip,
    "explode": _step_explode,
    "buffer": _step_buffer,
    "simplify": _step_simplify,
    "segmentize": _step_segmentize,
    "concat": _step_concat,
    "limit": _step_limit,
    "offset": _step_offset,
    "grid": _step_grid,
    "tile": _step_tile,
    "pyramid": _step_pyramid,
    "tee": _step_tee,
    "partition": _step_partition,
    "write": _step_write,
}


def run_pipeline(spark: SparkSession, pipeline: str) -> DataFrame:
    """Parse and run a `!`-joined step chain; returns the final DataFrame
    (already written if the chain ends in `write`).

    Steps are separated by a STANDALONE `!` (whitespace on both sides, or
    at the chain ends) — a `!` embedded in an expression token such as
    `filter id != 7` is NOT a separator, so SQL `!=` works inside
    filter/sql/select steps."""
    import re

    ctx = _Ctx(spark)
    df = None
    for raw in re.split(r"(?:^|\s)!(?:\s|$)", pipeline):
        raw = raw.strip()
        if not raw:
            continue
        # split off the step name only: expression-bearing steps (filter,
        # sql, select) need their argument text VERBATIM — shlex would
        # strip the SQL string quotes
        bits = raw.split(None, 1)
        name, args = bits[0], (bits[1] if len(bits) > 1 else "")
        if name not in PIPELINE_STEPS:
            raise ValueError(f"unknown pipeline step '{name}' "
                             f"(known: {sorted(PIPELINE_STEPS)})")
        if df is None and name != "read":
            raise ValueError("pipeline must start with 'read <path>'")
        df = PIPELINE_STEPS[name](ctx, df, args)
    return df
