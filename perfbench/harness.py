"""Measurement plumbing shared by the workloads.

- `Tracer`: in-memory spans (name, start, end, parent, request id) around
  calls into the library's layers, each tagged with its own Spark job
  group so the engine's own counters (jobs, tasks, shuffle bytes, spill,
  executor run time, failed tasks) can be read back per span from the
  status store. Disabled, a span only times the root operation.
- `cpu_seconds`: CPU time of this process and every process it started,
  JIT compiler threads left out; the end-to-end metrics are built on it.
- `RssSampler`: peak resident memory of this process and every process
  it started (JVM, Python workers), read from /proc.
- `LoadGuard`: CPU steal and foreign Spark/JVM/pytest processes, so runs
  on a contended host can be flagged and left out of comparisons.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager

ENGINE_LAYERS = ("sjoin", "tiles", "metrics", "knn", "relevance",
                 "textops", "dedup", "sampling")
ENGINE_COUNTERS = ("jobs", "tasks", "shuffle_write_mb", "spill_mb",
                   "cpu_s", "busy_frac", "failed_tasks")
_MB = 1024.0 * 1024.0
SETUP_REPS = 3


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    """Spans around layer calls plus per-span Spark engine counters.

    Spans nest per thread. Each span gets its own job group, so a parent's
    counters cover only the jobs it ran itself (its self work). With
    `enabled=False` the only spans kept are roots (`root=True`), which is
    what the timed run needs; nothing touches the job groups then.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def on(self) -> bool:
        """Whether spans other than roots are recorded on this thread."""
        return getattr(self._local, "on", self.enabled)

    @contextmanager
    def tracing(self, on: bool):
        """Turn tracing on or off for this thread (traced runs alternate
        traced and untraced operations to measure the overhead)."""
        prev = getattr(self._local, "on", None)
        self._local.on = self.enabled and on
        try:
            yield
        finally:
            if prev is None:
                del self._local.on
            else:
                self._local.on = prev

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, *, root: bool = False, request=None,
             phase: str = "window"):
        traced = self.on
        if not (traced or root):
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {"id": next(self._ids), "name": name,
              "parent": parent["id"] if parent else None,
              "request": request if request is not None else (
                  parent["request"] if parent else None),
              "phase": phase, "traced": traced,
              "thread": threading.get_ident(),
              "start": time.perf_counter(), "end": None, "ok": True}
        group = f"perfbench-{sp['id']}"
        if traced:
            self.sc.setJobGroup(group, name)
        stack.append(sp)
        try:
            yield sp
        except BaseException:
            sp["ok"] = False
            raise
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if traced:
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{parent['id']}",
                                        parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp["group"] = group
            with self._lock:
                self.spans.append(sp)

    def stage(self, df):
        """Materialize a layer's output at its boundary when tracing, so
        the enclosing span holds that layer's work and not its consumer's;
        the row count lands on the span. Untraced, the plan stays fused."""
        if not self.on:
            return df
        df = df.persist()
        n = df.count()
        stack = self._stack()
        if stack:
            stack[-1]["rows"] = n
        return df

    def children(self, root_id: int) -> list[dict]:
        """Every span below root_id (any depth)."""
        with self._lock:
            spans = list(self.spans)
        kids, frontier = [], {root_id}
        while frontier:
            nxt = [sp for sp in spans if sp["parent"] in frontier]
            kids += nxt
            frontier = {sp["id"] for sp in nxt}
        return kids

    def collect_engine(self, spans) -> None:
        """Attach Spark's own counters to each traced span. Waits until the
        status store has seen every job of the span finish (the listener
        bus is asynchronous), so the numbers are complete."""
        spans = [sp for sp in spans if "group" in sp and "engine" not in sp]
        if not spans:
            return
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for sp in spans:
            jobs = list(tracker.getJobIdsForGroup(sp["group"]))
            deadline = time.perf_counter() + 5.0
            infos = []
            while True:
                infos = [tracker.getJobInfo(j) for j in jobs]
                running = [i for i in infos
                           if i is None or i.status not in ("SUCCEEDED", "FAILED")]
                if not running or time.perf_counter() > deadline:
                    break
                time.sleep(0.01)
            agg = dict(jobs=len(jobs), tasks=0, failed_tasks=0, run_ms=0,
                       shuffle_write=0, spill=0)
            stage_ids = sorted({s for i in infos if i is not None
                                for s in i.stageIds})
            for sid in stage_ids:
                seq = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                      False, no_quantiles)
                it = seq.iterator()
                while it.hasNext():
                    d = it.next()
                    if str(d.status()) == "SKIPPED":
                        continue
                    agg["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                    agg["failed_tasks"] += d.numFailedTasks()
                    agg["run_ms"] += d.executorRunTime()
                    agg["shuffle_write"] += d.shuffleWriteBytes()
                    agg["spill"] += d.diskBytesSpilled()
            sp["engine"] = agg

    def self_seconds(self, spans) -> dict[int, float]:
        """span id -> duration minus the part of it covered by child spans
        (children of one span never overlap: a thread runs them in turn)."""
        child = {}
        for sp in spans:
            if sp["parent"] is not None:
                child[sp["parent"]] = child.get(sp["parent"], 0.0) + (
                    sp["end"] - sp["start"])
        return {sp["id"]: (sp["end"] - sp["start"]) - child.get(sp["id"], 0.0)
                for sp in spans}

    def layer_metrics(self, spans, n_roots: int, cores: int) -> dict:
        """Per-layer engine counters averaged per root operation (pass or
        request) over the given traced spans. Layers that ran nothing
        report zeros."""
        selfs = self.self_seconds(spans)
        out = {}
        for layer in ENGINE_LAYERS:
            mine = [sp for sp in spans if sp["name"].split(".")[0] == layer
                    and "engine" in sp]
            tot = dict(jobs=0, tasks=0, failed_tasks=0, run_ms=0,
                       shuffle_write=0, spill=0)
            for sp in mine:
                for k in tot:
                    tot[k] += sp["engine"][k]
            wall = sum(selfs[sp["id"]] for sp in mine)
            per = max(n_roots, 1)
            cpu_s = tot["run_ms"] / 1000.0
            out[f"{layer}.jobs"] = (tot["jobs"] / per, "count")
            out[f"{layer}.tasks"] = (tot["tasks"] / per, "count")
            out[f"{layer}.shuffle_write_mb"] = (tot["shuffle_write"] / _MB / per, "MB")
            out[f"{layer}.spill_mb"] = (tot["spill"] / _MB / per, "MB")
            out[f"{layer}.cpu_s"] = (cpu_s / per, "s")
            out[f"{layer}.busy_frac"] = (
                cpu_s / (wall * cores) if wall > 0 else 0.0, "frac")
            out[f"{layer}.failed_tasks"] = (tot["failed_tasks"] / per, "count")
        return out

    def dump(self, path: str, t0: float) -> None:
        """Write every span as one JSON line, times relative to t0."""
        import json

        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["start"]):
                rec = {k: v for k, v in sp.items() if k not in ("start", "end")}
                rec["start_s"] = round(sp["start"] - t0, 6)
                rec["end_s"] = round(sp["end"] - t0, 6)
                f.write(json.dumps(rec) + "\n")


def process_tree(root: int) -> list[int]:
    """root and all its descendants, from /proc/<pid>/stat parent ids."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(rest[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = [root], [root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        tree += nxt
        frontier = nxt
    return tree


# CPU ticks last seen per process and per JIT compiler thread, keyed with
# the start time so a reused id is a new entry. A process or thread that
# has ended keeps its last count: PySpark's daemon ignores SIGCHLD, so the
# time of a Python worker that exits is added to no parent.
_ticks_seen: dict[tuple, int] = {}
_jit_seen: dict[tuple, int] = {}


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc .../stat file."""
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants (JVM, Python workers), less the JVM's JIT compiler threads.
    Time stolen by the hypervisor is not in it, so a busy host moves it
    less than wall time. JIT compilation is left out because how much of it
    lands in a given pass varies from run to run by more than the pass's
    own work does; run.py starts the JVM with a fixed set of compiler
    threads so that none of them ends unseen."""
    for pid in process_tree(os.getpid()):
        try:
            name, f = _stat(f"/proc/{pid}/stat")
            # utime, stime, cutime, cstime; starttime
            _ticks_seen[pid, f[19]] = sum(int(v) for v in f[11:15])
            if name != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                tname, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
                if "CompilerThre" in tname:
                    _jit_seen[pid, tid, tf[19]] = int(tf[11]) + int(tf[12])
        except (OSError, ValueError):  # the process or thread ended
            continue
    ticks = sum(_ticks_seen.values()) - sum(_jit_seen.values())
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process tree every `interval` s on
    a daemon thread; `peak_mb` is the highest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in process_tree(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class LoadGuard:
    """Steal time and competing processes over a run. Uses the repo's own
    probes from bench.py; our own ancestors (whoever launched us) are not
    competition."""

    def __init__(self):
        import bench

        self._bench = bench
        self._mine = bench._ancestors(os.getpid())
        self._cpu0 = bench._cpu_counters()
        self._seen = {}
        self.sample()

    def sample(self) -> None:
        for p in self._bench.competing_procs():
            if p["pid"] not in self._mine:
                self._seen[p["pid"]] = p["cmd"]

    def stamp(self) -> dict:
        self.sample()
        steal1, tot1 = self._bench._cpu_counters()
        steal0, tot0 = self._cpu0
        steal_pct = 100.0 * (steal1 - steal0) / max(tot1 - tot0, 1)
        competing = [{"pid": p, "cmd": c} for p, c in sorted(self._seen.items())]
        return {"steal_pct": round(steal_pct, 3), "competing": competing,
                "contended": bool(competing) or steal_pct > 5.0}


class Bench:
    """What a workload gets: the session, its tracer, a private work
    directory inside the checkout, the seed and the measuring window.
    setup and setup_cpu hold each set-up phase's wall and CPU seconds."""

    def __init__(self, spark, *, seed: int, seconds: float, traced: bool,
                 work: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.cores = cores
        self.tracer = Tracer(spark, traced)
        self.setup: dict[str, float] = {}
        self.setup_cpu: dict[str, float] = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def _add(self, name: str, wall: float, cpu: float) -> None:
        self.setup[name] = self.setup.get(name, 0.0) + wall
        self.setup_cpu[name] = self.setup_cpu.get(name, 0.0) + cpu

    def timed(self, name: str, fn, *args, **kwargs):
        """Run fn under a set-up span and add its seconds to the set-up."""
        t, c = time.perf_counter(), cpu_seconds()
        with self.tracer.span(name, phase="setup"):
            out = fn(*args, **kwargs)
        self._add(name, time.perf_counter() - t, cpu_seconds() - c)
        return out

    def timed_median(self, name: str, fn, *args, reps: int = SETUP_REPS):
        """Run a repeatable set-up step reps times; the set-up gets the
        median seconds. Returns the last run's output."""
        walls, cpus = [], []
        for _ in range(reps):
            t, c = time.perf_counter(), cpu_seconds()
            with self.tracer.span(name, phase="setup"):
                out = fn(*args)
            walls.append(time.perf_counter() - t)
            cpus.append(cpu_seconds() - c)
        self._add(name, median(walls), median(cpus))
        return out


def batch_window(b: Bench, name: str, one_pass, check,
                 min_passes: int = 1) -> dict:
    """Run whole passes until the window closes and at least min_passes
    have run (in a traced run at least one untraced and one traced,
    alternating). one_pass()
    returns the pass's outputs; check(outputs) returns a list of errors
    and runs outside the pass's timing. Returns per-pass records."""
    passes = []
    deadline = time.perf_counter() + b.seconds
    i = 0
    while True:
        traced = b.traced and i % 2 == 1
        rec = {"traced": traced, "errors": []}
        with b.tracer.tracing(traced):
            t, c = time.perf_counter(), cpu_seconds()
            try:
                with b.tracer.span(name, root=True, request=i) as sp:
                    out = one_pass()
                rec["root"] = sp["id"]
            except Exception as exc:  # a failed pass counts, the run goes on
                out = None
                rec["errors"].append(f"{type(exc).__name__}: {exc}")
            rec["seconds"] = time.perf_counter() - t
            rec["cpu_s"] = cpu_seconds() - c
        if traced and "root" in rec:
            b.tracer.collect_engine([sp, *b.tracer.children(sp["id"])])
        b.spark.catalog.clearCache()
        if out is not None:
            rec["errors"] += check(out)
            rec["out"] = out
        passes.append(rec)
        i += 1
        kinds = {p["traced"] for p in passes}
        if time.perf_counter() >= deadline and len(passes) >= min_passes and (
                not b.traced or len(kinds) == 2):
            return passes


def batch_result(passes: list, items: int) -> dict:
    """Figures of a batch workload from its untraced passes: items per CPU
    second at the median pass CPU time (end-to-end), and items per wall
    second at the median pass latency."""
    plain = [p for p in passes if not p["traced"]]
    wall = median(p["seconds"] for p in plain)
    return {"items_per_cpu_s": items / median(p["cpu_s"] for p in plain),
            "items_per_s": items / wall,
            "p50_ms": 1000.0 * wall,
            "attempted": len(passes),
            "failed": sum(1 for p in passes if p["errors"]),
            "errors": [e for p in passes for e in p["errors"]][:5],
            "samples": len(plain),
            "latency": {"pass_s": [round(p["seconds"], 3) for p in plain],
                        "pass_cpu_s": [round(p["cpu_s"], 3) for p in plain]}}


def layer_seconds(tracer: Tracer, roots: list[int], names: dict) -> dict:
    """Per root operation, the summed self time of its spans with each
    name; median over the roots. names: span name -> metric name."""
    per = {m: [] for m in names.values()}
    for root in roots:
        kids = tracer.children(root)
        selfs = tracer.self_seconds(kids)
        for span_name, metric in names.items():
            per[metric].append(sum(selfs[sp["id"]] for sp in kids
                                   if sp["name"] == span_name))
    return {m: (median(v), "s") for m, v in per.items()}


def trace_overhead(passes: list) -> float:
    """Median traced pass over median untraced pass, minus one."""
    plain = [p["seconds"] for p in passes if not p["traced"]]
    traced = [p["seconds"] for p in passes if p["traced"]]
    if not plain or not traced:
        return 0.0
    return median(traced) / median(plain) - 1.0


def warm_up(b: Bench, one_pass, passes: int) -> None:
    """Untimed passes before the window (JIT, codegen, Python workers); a
    traced run alternates them like its window does, so both paths warm."""
    for i in range(passes):
        with b.tracer.tracing(i % 2 == 1):
            b.timed("warmup", one_pass)
        b.spark.catalog.clearCache()
