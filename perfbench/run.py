#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Starts one Spark session on local[<usable cores>], builds the workload's
inputs from --seed, warms up, measures for --seconds, checks every output,
and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones (E2E); with --trace 1 they are the per-layer ones
(PER_LAYER), taken with spans and Spark job-group counters around every
layer call, and the spans are written to .perfbench_out/. See README.md.

Everything it writes stays under the checkout: inputs and outputs in
.perfbench_work/ (removed at exit), Spark local dirs, JVM and Python temp
files included.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("ingest", "serve")

# name -> (unit, better). Pages per CPU second on ingest, requests per CPU
# second on serve; setup_s is the set-up's CPU seconds. CPU time of the
# benchmark's whole process tree, JIT compiler threads left out
# (harness.cpu_seconds): steal on a shared host moves wall time by up to
# 2x from run to run and CPU time much less (README.md has the figures).
# Wall figures are in the info line and, from the traced run, in
# PER_LAYER (wall.*).
E2E = {
    "items_per_cpu_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
}

PER_LAYER = {
    "wall.items_per_s": "1/s",
    "wall.p50_ms": "ms",
    "wall.setup_s": "s",
    "session.start_s": "s",
    "pages.synth_s": "s",
    "sjoin.geocode_s": "s",
    "sjoin.join_s": "s",
    "sjoin.candidates": "count",
    "sjoin.matches": "count",
    "sjoin.pip_hit_ratio": "ratio",
    "sjoin.cover_build_ms": "ms",
    "geo.pip.kernel_mpts_per_s": "Mpts/s",
    "tiles.pyramid_s": "s",
    "tiles.base_rows": "count",
    "tiles.rows": "count",
    "tiles.write_s": "s",
    "tiles.files": "count",
    "tiles.bytes_mb": "MB",
    "metrics.record_s": "s",
    "serve.pip_ms": "ms",
    "serve.knn_ms": "ms",
    "serve.tile_ms": "ms",
    "serve.bm25_ms": "ms",
    "serve.curate_ms": "ms",
    "knn.jobs_per_request": "count",
    "textops.quality_s": "s",
    "dedup.exact_s": "s",
    "dedup.dups_removed": "count",
    "dedup.minhash_s": "s",
    "sampling.resample_s": "s",
    "trace.overhead_frac": "ratio",
    "peak_rss_mb": "MB",
}
_ENGINE_UNITS = {"jobs": "count", "tasks": "count", "shuffle_write_mb": "MB",
                 "spill_mb": "MB", "cpu_s": "s", "busy_frac": "frac",
                 "failed_tasks": "count"}


def engine_metric_names() -> dict:
    from harness import ENGINE_COUNTERS, ENGINE_LAYERS

    return {f"{layer}.{c}": _ENGINE_UNITS[c]
            for layer in ENGINE_LAYERS for c in ENGINE_COUNTERS}


def _isolate(work: str) -> None:
    """Point every temp/scratch location of Python, Spark and the JVM at
    work/ (set before the JVM starts)."""
    import tempfile

    for d in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    # a fixed set of JIT compiler threads, so that harness.cpu_seconds can
    # leave all of their CPU time out (dynamic ones end between samples and
    # their time would land in the CPU-time metrics)
    java_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')} -XX:-UsePerfData"
                 " -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf {shlex.quote('spark.driver.extraJavaOptions=' + java_opts)} "
        "pyspark-shell")


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child has exited."""
    from pyspark import SparkContext

    import harness

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone; we wait below
            pass
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    me = os.getpid()
    while len(harness.process_tree(me)) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in harness.process_tree(me)[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def common_layers(b, result: dict, polys) -> dict:
    """Per-layer metrics every traced run reports: set-up phases, the
    driver-side cover build and PIP kernel, engine counters per layer."""
    import numpy as np

    import harness
    from lib_gdal_spark.geo.pip import point_in_polygon_np

    covers = []
    for _ in range(5):
        t = time.perf_counter()
        polys.cover_cells(7, with_bbox=True)
        covers.append(time.perf_counter() - t)
    rng = np.random.default_rng(b.seed % (1 << 31))
    px = rng.uniform(90.0, 170.0, 200_000)
    py = rng.uniform(-60.0, 20.0, 200_000)
    rings = polys.rings[polys.ids[-1]]
    kern = []
    for _ in range(5):
        t = time.perf_counter()
        point_in_polygon_np(px, py, rings)
        kern.append(time.perf_counter() - t)
    roots = set(result.get("roots", []))
    spans = [sp for r in roots for sp in b.tracer.children(r)]
    spans += [sp for sp in b.tracer.spans if sp["id"] in roots]
    out = {
        "session.start_s": (b.setup.get("session.start", 0.0), "s"),
        "pages.synth_s": (b.setup.get("pages.synth", 0.0), "s"),
        "sjoin.cover_build_ms": (1000.0 * harness.median(covers), "ms"),
        "geo.pip.kernel_mpts_per_s": (len(px) / harness.median(kern) / 1e6, "Mpts/s"),
        "trace.overhead_frac": (result.get("overhead", 0.0), "ratio"),
        "wall.items_per_s": (result["items_per_s"], "1/s"),
        "wall.p50_ms": (result["p50_ms"], "ms"),
        "wall.setup_s": (sum(b.setup.values()), "s"),
    }
    out.update(b.tracer.layer_metrics(spans, len(roots), b.cores))
    return out


def measure(spark, workload: str, *, seed: int, seconds: float, traced: bool,
            work: str, cores: int, start: tuple[float, float], **sizes):
    """Run one workload on a live session. start is the session start's
    (wall, CPU) seconds. Returns (bench, result, layer metrics); the layer
    metrics are None unless traced. sizes go to the workload's run() (the
    tests pass tiny ones)."""
    import importlib

    import harness

    b = harness.Bench(spark, seed=seed, seconds=seconds, traced=traced,
                      work=work, cores=cores)
    b.setup["session.start"], b.setup_cpu["session.start"] = start
    result = importlib.import_module(workload).run(b, **sizes)
    if not traced:
        return b, result, None
    import __spark_entry__ as em

    layers = common_layers(b, result, em._rect_polyset())
    layers.update(result.get("layers", {}))
    units = {**PER_LAYER, **engine_metric_names()}
    return b, result, {name: {"value": float(layers.get(name, (0.0,))[0]),
                              "unit": unit} for name, unit in units.items()}


def e2e_metrics(b, result: dict) -> dict:
    values = {"items_per_cpu_s": result["items_per_cpu_s"],
              "setup_s": sum(b.setup_cpu.values())}
    return {k: {"value": float(v), "unit": E2E[k][0]} for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    # fail fast (no session, no output) when the library is not here
    import bench  # noqa: F401  (load-guard probes live there)
    import lib_gdal_spark  # noqa: F401

    import harness

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    guard = harness.LoadGuard()
    # the sampler's own CPU time would land in the CPU-time metrics, so it
    # runs only in the traced run, which reports peak_rss_mb
    rss = harness.RssSampler()
    if args.trace:
        rss.start()
    spark = None
    try:
        from lib_gdal_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        t, c = time.perf_counter(), harness.cpu_seconds()
        spark = get_spark("perfbench", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        b, result, metrics = measure(
            spark, args.workload, seed=args.seed, seconds=args.seconds,
            traced=bool(args.trace), work=work, cores=cores,
            start=(time.perf_counter() - t, harness.cpu_seconds() - c))
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            b.tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"), t)
        guard_stamp = guard.stamp()
    finally:
        if spark is not None:
            _stop(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics["peak_rss_mb"]["value"] = rss.peak_mb
    else:
        metrics = e2e_metrics(b, result)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "samples": result.get("samples"),
            **({"peak_rss_mb": round(rss.peak_mb, 1)} if args.trace else {}),
            "failed_frac": result["failed"] / max(result["attempted"], 1),
            "wall": {"items_per_s": result["items_per_s"],
                     "p50_ms": result["p50_ms"]},
            "latency": result.get("latency"),
            "setup": {k: round(v, 4) for k, v in b.setup.items()},
            "setup_cpu": {k: round(v, 4) for k, v in b.setup_cpu.items()},
            "load": guard_stamp, "errors": result.get("errors", [])}
    print(json.dumps(info))
    if guard_stamp["contended"]:
        print("perfbench: host looks contended; do not compare this run",
              file=sys.stderr)
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
