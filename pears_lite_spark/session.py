"""SparkSession factory tuned for the engine.

All jobs run through here so local tests, the driver's verify, and the
two-parallelism-level bench share one config story. The settings are the
scale knobs called out in SURVEY.md §4: AQE (runtime re-plan + skew
join), Arrow everywhere (no per-row Python), bounded shuffle partitions,
and broadcast-join for the small dimension tables (term stats, vocab).

Local masters also get this package's worker daemon
(`worker_daemon.py`). pyspark's worker calls
`importlib.invalidate_caches()` at the start of every task; before
CPython 3.12 that re-reads the whole directory of every zip archive on
the worker's path (`pyspark.zip`, the spark-core jar), and a reused
worker also runs a full `gc.collect()` after every task. On a 4-core
host the two cost ~250 ms of worker CPU per no-op task, which dominated
small batch-search tasks; the daemon re-reads an archive only when it
changed and freezes its own objects out of the collector, leaving ~14
ms. It is started with `python -m`, so the directory (or `--py-files`
zip) holding `pears_lite_spark` is merged into the workers' PYTHONPATH;
without it the daemon cannot start for a caller whose cwd is elsewhere.
Non-local masters keep pyspark's default daemon: their executors may
not have the package on the path when the daemon launches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# directory or --py-files zip that holds the pears_lite_spark package
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "pears-lite-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "PEARS_SHUFFLE_PARTITIONS", cpus))
    b = (SparkSession.builder.appName(app_name).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         .config("spark.sql.session.timeZone", "UTC")
         # int64-micros timestamps: parquet footers carry min/max stats
         # for them (INT96, Spark's legacy default, has none and is
         # banned by the Iceberg spec) — the catalog's manifest bounds
         # and time-range file pruning depend on this
         .config("spark.sql.parquet.outputTimestampType",
                 "TIMESTAMP_MICROS")
         .config("spark.driver.memory",
                 os.environ.get("PEARS_DRIVER_MEM", "8g"))
         .config("spark.ui.enabled", "false"))
    if not master.startswith("local"):
        return b.getOrCreate()
    spark = b.config("spark.python.daemon.module",
                     "pears_lite_spark.worker_daemon").getOrCreate()
    # sc.environment is spark.executorEnv.* as shipped with every Python
    # function; merging here keeps any PYTHONPATH the conf already set
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PKG_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_PKG_ROOT])
    return spark
