#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

The flagship workload (the north-star metric's shape) is the synthetic
pages pipeline, `lib_gdal_spark.plans.flagship`: deterministic pages ->
geocode from text -> cell index -> exact spatial join -> zoom 0-12 tile
pyramid -> parquet sinks; its throughput (pages+join rows+tiles per
second) is also reported. scripts/bench_scaling.py runs this same job at
two parallelism levels for the N-vs-4N scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PAGES_N = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "200000"))
# Best-of-N per query: this host shows +-20% steal-time noise on single
# shots (BENCH/BASELINE.md), which made r01-vs-r02 comparison unactionable.
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

HEADLINE = [
    "tile_pyramid",
    "pip_rect_join",
    "knn_ring",
    "tpch_q1_groupby",
    "window_running_sum",
    "dedup_exact",
    "minhash_signatures",
    "simhash",
    "cosine_topk",
    "events_sessionize",
    "zonal_stats",
    "dem_slope",
    "contour_segments",
    "warp_avg",
    "interp_bilinear",
    # round 3: the geometry boolean-kernel family (pandas-UDF path)
    "geom_overlay",
    # round 3 late: the webtext retrieval/dedup/quality family
    "bm25_topk",
    "exact_substr",
    "lm_xent",
    # round 3 final session: iterative graph + sparse-similarity paths
    "pagerank_docs",
    "doc_cosine_pairs",
    # round 3 session 5: corpus resampling (per-query columns are the
    # cross-round signal; totals shift when the composition grows)
    "temperature_resample",
    "dsir_topk",
    # round 4: the curve-geometry kernel (mapInPandas path) and the
    # conic-projection pandas-UDF path
    "curve_stroke",
    "proj_conic",
    # round 4 session 2: geodetic-profile tile math (pure Catalyst) and
    # the BM25+cosine fused retriever (two bounded rankers + tiny join)
    "tile_geodetic",
    "hybrid_rrf",
    # round 4 session 3: geolocation-array broadcast bilinear (pure
    # JVM column math over a broadcast cell table) and the coverage
    # validator (polygon x polygon cell pair join + exact kernel)
    "geoloc_forward",
    "coverage_check",
]


_PAGES_SRC: dict = {}


def _ancestors(pid: int) -> set:
    """PID ancestor chain via /proc/<pid>/stat field 4 (ppid)."""
    out = set()
    while pid > 1:
        try:
            with open(f"/proc/{pid}/stat") as f:
                # comm may contain spaces/parens: split after the last ')'
                rest = f.read().rsplit(")", 1)[1].split()
            pid = int(rest[1])  # field 4 overall = field 2 after comm+state
        except (OSError, IndexError, ValueError):
            break
        out.add(pid)
    return out


def competing_procs() -> list:
    """JVM / Spark / pytest processes that are NOT this process or its
    descendants. Benchmarks taken while any of these run are inflated
    uniformly 1.2-1.5x (BENCH/ROUNDS.md r4 postmortem) and must not be
    compared across rounds — the round-4 driver bench hit exactly this."""
    import glob

    me = os.getpid()
    out = []
    for path in glob.glob("/proc/[0-9]*/cmdline"):
        pid = int(path.split("/")[2])
        if pid == me:
            continue
        try:
            with open(path, "rb") as f:
                cmd = f.read().decode("utf-8", "replace").replace("\0", " ").strip()
        except OSError:
            continue
        if not cmd:
            continue
        argv0 = cmd.split()[0].rsplit("/", 1)[-1]
        low = cmd.lower()
        suspicious = (
            argv0 == "java"
            or "org.apache.spark" in low
            or (argv0.startswith("python") and any(
                k in low for k in ("pytest", "bench", "pyspark", "spark")))
        )
        if not suspicious:
            continue
        if me in _ancestors(pid):
            continue  # our own JVM / worker pool
        out.append({"pid": pid, "cmd": cmd[:160]})
    return out


def _cpu_counters() -> tuple:
    """(steal_jiffies, total_jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def flagship_pipeline(spark, n_pages: int):
    """The north-star job (``plans.flagship``, sinks included) over the
    synthetic pages table. Returns (n_pages, join_rows, tiles, engine_sec):
    synthesis is MATERIALIZED ONCE per session and excluded from
    engine_sec — the metric is the engine's throughput over an existing
    pages table (matching scripts/scaling_job.py), not the generator's.
    (Re-synthesizing per rep made best-of-N measure the cold file
    listing, not the engine.)"""
    import shutil
    import tempfile

    import __spark_entry__ as em
    from lib_gdal_spark.pages.synth import pages_df
    from lib_gdal_spark.plans import flagship

    src = _PAGES_SRC.get(n_pages)
    if src is None:
        src = tempfile.mkdtemp(prefix="bench_pages_")
        pages_df(spark, n_pages).write.mode("overwrite").parquet(src)
        _PAGES_SRC[n_pages] = src
    pages = spark.read.parquet(src)
    out = tempfile.mkdtemp(prefix="bench_flagship_")

    t0 = time.time()
    res = flagship(pages, em._rect_polyset(), out)
    sec = round(time.time() - t0, 3)
    shutil.rmtree(out, ignore_errors=True)
    return n_pages, res["join_rows"], res["tiles"], sec


def refshape_benchmarks(spark, tmp_dir: str) -> dict:
    """The reference's OWN benchmark shapes replayed on this engine
    (autotest/benchmark) — same data, same predicate, measured here:

    - gpkg_spatial_filter: 50k points at (i,i) with 20 string fields,
      rect filter [1000,10000]^2 -> must hit exactly 9001 rows
      (test_ogr_gpkg.py:57-66 incl. its hardcoded expected count);
    - ogr2ogr_copy: full-table copy of the same 50k x 20-field table
      (test_ogr2ogr.py:26-58 shape).
    """
    import os as _os
    from pyspark.sql import functions as F

    src = _os.path.join(tmp_dir, "refshape_src")
    n = 50_000
    df = spark.range(n).select(
        F.col("id").cast("double").alias("x"),
        F.col("id").cast("double").alias("y"),
        *[F.lit(f"value{i}").alias(f"field{i}") for i in range(20)],
    )
    df.write.mode("overwrite").parquet(src)
    out = {}
    t0 = time.time()
    hits = (
        spark.read.parquet(src)
        .filter("x >= 1000 AND x <= 10000 AND y >= 1000 AND y <= 10000")
        .count()
    )
    out["gpkg_spatial_filter_sec"] = round(time.time() - t0, 3)
    assert hits == 9001, f"refshape filter hit {hits}, expected 9001"
    t0 = time.time()
    spark.read.parquet(src).write.mode("overwrite").parquet(
        _os.path.join(tmp_dir, "refshape_copy"))
    out["ogr2ogr_copy_sec"] = round(time.time() - t0, 3)
    out["rows"] = n
    return out


def main():
    from lib_gdal_spark.session import get_spark
    import __spark_entry__ as em

    # Load guard BEFORE the session exists (everything running now is
    # foreign); re-probed at the end. See competing_procs() docstring.
    competing_start = competing_procs()
    steal0, total0 = _cpu_counters()

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    qs = em.queries()
    times: dict[str, float] = {}

    # warm the JVM/session with a trivial action
    spark.range(1000).count()

    runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        samples = []
        for _ in range(REPS):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.count()
            samples.append(round(time.time() - t0, 3))
        runs[name] = samples
        times[name] = min(samples)
        # several queries persist() intermediates by design; drop them so
        # later queries aren't measured under the accumulated cache/GC
        # pressure (flagship read 2-3x slower before this)
        spark.catalog.clearCache()

    import tempfile
    refshapes = refshape_benchmarks(spark, tempfile.mkdtemp(prefix="refshape_"))

    fl_samples = []
    for _ in range(REPS):
        n_pages, join_rows, n_tiles, s = flagship_pipeline(spark, PAGES_N)
        fl_samples.append(s)
    flagship_sec = min(fl_samples)
    runs["flagship_pipeline"] = fl_samples
    times["flagship_pipeline"] = flagship_sec

    competing_end = competing_procs()
    steal1, total1 = _cpu_counters()
    steal_pct = round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 2)
    load_clean = not competing_start and not competing_end and steal_pct < 5.0

    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "flagship": {
            "n_pages": n_pages,
            "join_rows": join_rows,
            "tiles": n_tiles,
            "sec": flagship_sec,
            "rows_per_sec": round((n_pages + join_rows + n_tiles) / flagship_sec, 1),
        },
        "cores": CPUS,
        "refshapes": refshapes,
        "reps": REPS,
        "runs": runs,
        "load_clean": load_clean,
        "load": {
            "steal_pct": steal_pct,
            "competing_start": competing_start,
            "competing_end": competing_end,
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
