#!/usr/bin/env python
"""One webtext-curation pipeline run at a given parallelism — the second
scaling probe (see scripts/bench_scaling_dedup.py).

The flagship probe (scripts/scaling_job.py) evidences the north rule on
the spatial-join + tiling half of the engine; this job evidences it on
the training-data-curation half: the operator family a 100 TB crawl
actually runs end-to-end (`lib_gdal_spark.plans.curate`) —

  read pages -> lang-id + token-count + Gopher quality rules (pure
  Catalyst column math) -> filter -> EXACT dedup (md5 groupBy, min-id
  keep) -> MinHash signatures (8 array_min columns on each row, no
  shuffle) -> temperature resample (dim-sized agg + broadcast rate
  join) -> curated parquet sink, with per-partition lineage metrics.

Deliberately EXCLUDED from the timed probe: the LSH candidate pair-join.
On the synthetic 20-word-vocab pages its bucket collision rate is an
artifact of the template (quadratic pair growth that no real crawl
shows), so timing it would grade the fixture, not the engine. The
pair-join's scaling shape (bucketed equi-join) is the same exchange
pattern the flagship's cell join already measures.

Prints one JSON line with wall seconds and throughput.

Usage: spark-submit --master local[N] --py-files lib.zip
       scaling_job_dedup.py [n_pages] [out_dir] [pages_parquet_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="cur_")
    pages_dir = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        tempfile.gettempdir(), f"pages_{n_pages}"
    )

    spark = (
        SparkSession.builder.appName("scaling_job_dedup")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # The probe input is small (~120 B/row), so the default 128 MB
        # maxPartitionBytes bin-packs the whole scan into ~3 input splits
        # — every map stage then runs 3 tasks no matter how many cores,
        # which grades the bin-packing, not the engine (measured: the
        # scan+regex stage "scaled" 1.2x from 1 -> 4 cores before this).
        # At production scale (TB inputs) the default yields thousands
        # of splits and this override is unnecessary.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))

    from lib_gdal_spark import metrics
    from lib_gdal_spark.pages.synth import pages_df
    from lib_gdal_spark.plans import curate

    # ---- setup (untimed): materialize the deterministic input once; 64
    # fixed partitions so both parallelism levels read identical files
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        pages_df(spark, n_pages, partitions=64).write.mode(
            "overwrite").parquet(pages_dir)
    if len(sys.argv) > 4 and sys.argv[4] == "prepare":
        print(json.dumps({"prepared": n_pages}))
        spark.stop()
        return

    def run_pipeline(out_dir: str, src) -> dict:
        """One curation pass (the timed unit); the curated sink write
        materializes every stage."""
        t0 = time.time()
        curated_path = os.path.join(out_dir, "curated")
        curate(src).write.mode("overwrite").parquet(curated_path)
        back = spark.read.parquet(curated_path)
        curated_rows = back.count()
        metrics.record(back, "curated", os.path.join(out_dir, "_metrics"))
        return {"wall": time.time() - t0, "curated_rows": curated_rows}

    # ---- warm-up (untimed): full pipeline over a small slice — same
    # rationale as scaling_job.py (codegen + worker-pool spin-up is fixed
    # cost that otherwise caps measured efficiency identically at every
    # parallelism level).
    pages = spark.read.parquet(pages_dir)
    warm_src = spark.read.parquet(pages_dir).limit(100_000)
    run_pipeline(os.path.join(out_dir, "warm"), warm_src)

    reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "2"))
    best = None
    for i in range(reps):
        r = run_pipeline(os.path.join(out_dir, f"rep{i}"), pages)
        if best is None or r["wall"] < best["wall"]:
            best = r

    print(json.dumps({
        "cores": cores,
        "n_pages": n_pages,
        "curated_rows": best["curated_rows"],
        "sec": round(best["wall"], 3),
        "rows_per_sec": round(n_pages / best["wall"], 1),
        "reps": reps,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
