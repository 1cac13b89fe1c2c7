"""Per-partition lineage + metrics capture, and snapshot-style resume.

North-rule requirement: "every stage checkpoints per-partition lineage and
row-count/byte metrics to a metadata table so a killed job resumes from the
last committed snapshot". The reference's analogs: GDALProgressFunc
callbacks threaded through every long op (e.g. ogrlayer.cpp:5205) and
gdal2tiles --resume (gdal2tiles.py:1497-1500).

Design:
- `stage_snapshot(df, stage)` / `record(df, stage, path)` — per-partition
  (partition_id, rows, bytes) computed as a JVM-side aggregation over
  `spark_partition_id()`. No Python pass touches the data; run it against
  a stage's written or persisted output, so it reads that rather than
  recomputing the stage. `plans.flagship` records its sinks this way.
- resume = anti-join against the committed sink (operators/tiles.py
  resume_filter) + the `_metrics` table recording which stages completed.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

METRICS_SCHEMA = (
    "stage string, partition_id int, input_rows long, bytes long, "
    "wall_ms double, ts double"
)

_FIXED_WIDTH = {
    "boolean": 1, "byte": 1, "short": 2, "integer": 4, "float": 4,
    "long": 8, "double": 8, "date": 4, "timestamp": 8, "timestamp_ntz": 8,
}


def _bytes_expr(df: DataFrame):
    """Approximate per-row payload bytes as a Catalyst expression: exact
    octet length for string/binary columns, fixed width for scalars."""
    from pyspark.sql import functions as F

    parts = []
    fixed = 0
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in ("string", "binary"):
            parts.append(F.coalesce(F.octet_length(F.col(f.name)), F.lit(0)))
        else:
            fixed += _FIXED_WIDTH.get(t, 8)
    expr = F.lit(fixed).cast("long")
    for p in parts:
        expr = expr + p
    return expr


def stage_snapshot(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage metrics (stage, partition_id, input_rows,
    bytes) as a pure JVM aggregation — zero Python in the data path.

    Run it on the stage's (persisted) output AFTER the materializing
    action: it then scans the cache, costing one cheap map-side agg. The
    distributed analog of GDALProgressFunc per-chunk reporting
    (/root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:5205) without
    the reference's single-thread callback bottleneck."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("input_rows"),
            F.sum(_bytes_expr(df)).alias("bytes"),
        )
        .select(
            F.lit(stage).alias("stage"),
            "partition_id",
            "input_rows",
            "bytes",
            F.lit(None).cast("double").alias("wall_ms"),
            F.lit(time.time()).alias("ts"),
        )
    )


def record(df: DataFrame, stage: str, path: str | None = None) -> DataFrame:
    """Compute stage_snapshot and append it to the `_metrics` table."""
    snap = stage_snapshot(df, stage)
    if path:
        snap.write.mode("append").parquet(path)
    return snap
