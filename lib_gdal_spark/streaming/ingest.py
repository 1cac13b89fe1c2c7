"""Continuous pages ingest -> incrementally maintained tile pyramid.

The streaming face of the engine's snapshot/resume story (SURVEY §2.11):
the reference's closest notion is gdal2tiles --resume (skip tiles whose
output exists, gdal2tiles.py:1497-1500) — a batch-level idempotence trick.
Structured Streaming generalizes it: each micro-batch of newly crawled
pages becomes a per-epoch DELTA of tile counts, committed via foreachBatch
with dynamic partition overwrite on the epoch column, so a replayed epoch
(failure/restart -> same epoch id re-delivered from the checkpoint)
REWRITES its own partition instead of double-counting — exactly-once
counts from at-least-once delivery.

Store layout (log-structured):
    out_dir/epoch=<n>/z=<z>/part-*.parquet     (delta rows: z,x,y,n_pages)
Reads sum deltas per (z,x,y); `compact()` collapses all epochs into one
(epoch = -1) partition — the Iceberg-snapshot-rewrite stand-in. At scale
the delta volume per epoch is bounded by the batch's distinct-tile count
(map-side combined), and compaction amortizes reads the same way the
reference's overview regeneration amortizes block reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import sjoin, tiles

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _epoch_delta(batch_df: DataFrame, max_zoom: int, min_zoom: int) -> DataFrame:
    pts = sjoin.with_tile(
        sjoin.geocode(batch_df.select("text"), fast=True), zoom=max_zoom
    )
    return tiles.tile_pyramid(pts.select("tile_x", "tile_y"),
                              max_zoom=max_zoom, min_zoom=min_zoom)


def start_incremental_pyramid(spark: SparkSession, src_dir: str, out_dir: str,
                              checkpoint_dir: str, max_zoom: int = 8,
                              min_zoom: int = 0,
                              query_name: str = "pyramid_ingest"):
    """Start the ingest stream. Deltas land under out_dir/epoch=<id>/."""
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src_dir)

    def commit(batch_df, epoch_id):
        delta = _epoch_delta(batch_df, max_zoom, min_zoom)
        (
            delta.withColumn("epoch", F.lit(int(epoch_id)))
            .repartition("z")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")  # replayed epoch
            .partitionBy("epoch", "z")                    # rewrites itself
            .parquet(out_dir)
        )

    return (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def read_pyramid(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current pyramid = sum of all committed epoch deltas per tile."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("z", "x", "y")
        .agg(F.sum("n_pages").alias("n_pages"))
    )


def compact(spark: SparkSession, out_dir: str, compact_dir: str) -> None:
    """Collapse all epochs into a single epoch=-1 snapshot (written to a
    NEW directory then meant to atomically replace out_dir — two-phase, as
    a snapshot table format would do natively)."""
    (
        read_pyramid(spark, out_dir)
        .withColumn("epoch", F.lit(-1))
        .repartition("z")
        .write.mode("overwrite")
        .partitionBy("epoch", "z")
        .parquet(compact_dir)
    )
