"""SparkSession factory tuned for this engine.

Local mode stands in for a multi-executor cluster; every config below is the
one we would ship to a 1000-executor cluster job, except shuffle-partition
count which scales with cores (on a real cluster: ~2-3x total cores).
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

_SHIPPED: set = set()
_BUILT: dict = {}
_BUILT_SC = None  # the SparkContext whose Columns _BUILT holds
_BUILT_LOCK = threading.RLock()  # re-entrant: a build may call built()


def built(key: tuple, build):
    """The Column (or tuple of Columns) ``build()`` makes, built once per
    active SparkContext.

    Every ``F.*`` call and Column method is one py4j round trip, and an
    operator's fixed expressions (a tile key, a ray-cast lambda, a score
    fold) are the same on every call, so they are built once and reused:
    a Column is an unresolved expression, valid in any plan of its
    session. ``key`` names the operator and what the expression depends
    on: column names and small ints (a zoom, a hash or term count), never
    a request's values, so the memo is bounded by the code's call shapes,
    not by the traffic. A new active SparkContext drops the whole memo,
    so a Column of a stopped context is never reused."""
    global _BUILT_SC
    with _BUILT_LOCK:
        sc = SparkContext._active_spark_context
        if sc is not _BUILT_SC:
            _BUILT.clear()
            _BUILT_SC = sc
        if key not in _BUILT:
            _BUILT[key] = build()
        return _BUILT[key]


def _local_frame(spark: SparkSession, rows: list, schema):
    """``rows`` (tuples in schema order, or dicts) as a local relation: a
    LocalTableScan of a size the planner knows, never the Python-RDD
    scan a list frame plans. An empty pandas frame plans an RDD scan
    too, so no rows is one all-NULL row under limit(0), which the
    optimizer folds into an empty local relation."""
    import pandas as pd
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    pdf = pd.DataFrame(rows or [[None] * len(schema)], columns=schema.names)
    df = spark.createDataFrame(pdf, schema)
    return df if rows else df.limit(0)


def ship_package(spark: SparkSession) -> None:
    """Make `lib_gdal_spark` importable on executors.

    Python workers are separate processes: driver-side sys.path edits don't
    reach them, so any pandas UDF / mapInPandas closure that references this
    package would fail to unpickle there. This zips the package and
    sc.addPyFile()s it — the programmatic twin of `spark-submit --py-files`
    (which production runs use; see scripts/bench_scaling.py). Idempotent
    per SparkContext."""
    sc = spark.sparkContext
    key = (id(sc), sc.applicationId)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"lib_gdal_spark_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, repo))
    try:
        sc.addPyFile(zpath)
    except Exception:
        pass  # already registered under this name
    _SHIPPED.add(key)


def get_spark(
    app_name: str = "lib_gdal_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    cores=None -> $SPARK_GRAFT_CPUS or all local cores. On a real cluster the
    master/deploy-mode comes from spark-submit and this builder only sets SQL
    confs (builder confs are ignored when a session already exists, which is
    exactly what we want under spark-submit).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 4)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # AQE: runtime coalesce + skew-join splitting (north_rule requires
        # explicit skew handling; the spatial join's broadcast cover join
        # has no skew exposure, and salting it lost, BENCH/SKEW.md)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow everywhere: all Python-side kernels are pandas/Arrow UDFs
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # duckdb oracle comparisons need UTC-naive timestamp semantics
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Register every testdata parquet table as a temp view; return dfs."""
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    dfs = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(n)
            dfs[n] = df
    return dfs
