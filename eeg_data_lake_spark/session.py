"""SparkSession factory.

Unlike the reference (hard-coded S3 buckets at delta_bronze.py:7 and
Spark-Connect ports at main/silver.py:24-26), the session here is
local-first and environment-driven. Every conf below is chosen for the
100 TB posture and merely *scaled down* for local[32] testing:

- AQE on (coalesce + skew-join): at cluster scale the optimizer
  re-plans shuffles from runtime statistics; locally it keeps tiny
  shuffles from fragmenting into 200 empty tasks.
- shuffle.partitions ≈ cores locally; on a real cluster this is set
  to 2-3× total executor cores (or left to AQE's coalescing).
- Session timezone pinned to UTC so timestamp semantics are identical
  to the DuckDB oracle (duckdb timestamps are UTC-naive).
- Arrow enabled for any toPandas / pandas-UDF boundary (reference
  enables it ad-hoc at test_train.py:77-78).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` (see get_spark)
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "eeg-data-lake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores);
    shuffle partitions default to the same so local shuffles are neither
    fragmented nor starved. On a real cluster pass ``master=None`` with
    spark-submit and these local defaults are harmless.
    """
    # Executor Python workers must be able to import this package to
    # unpickle pandas UDFs, even when the driver script lives elsewhere
    # and only did sys.path.insert (which workers don't inherit). Local
    # mode workers DO inherit the process env, so exporting PYTHONPATH
    # before the JVM starts is the local equivalent of --py-files; on a
    # real cluster ship the package with spark.submit.pyFiles instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # generated-class cache (static: it must be set before the
        # session exists). The default 100 thrashes: the 37 headline
        # queries need about 507 classes, so every warm pass recompiled
        # about 570. Sweep on perfbench lake_queries (seed 1, 2 runs
        # each, 4-core host): query_p50_s 0.248/0.274 s at the default,
        # 0.200/0.218 at 256, 0.166/0.157 at 1024, 0.169/0.164 at 4096;
        # peak_rss_mb 1842/1851, 1894/1894, 1866/1882, 1872/1870.
        # 1024 and 4096 tie there; 4096 also holds the 3,320 classes one
        # pass over the whole 233-query registry compiles at sf0.001, so
        # a session running all of it (the test suite) reuses them too.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource filter pushdown (sources/eegsynth.py):
        # required for pushFilters to be called at planning time; Spark
        # refuses a reader that overrides pushFilters while this is off
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/eeg_spark_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
