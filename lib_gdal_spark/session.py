"""SparkSession factory tuned for this engine.

Local mode stands in for a multi-executor cluster; every config below is the
one we would ship to a 1000-executor cluster job, except shuffle-partition
count which scales with cores (on a real cluster: ~2-3x total cores).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set = set()


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
