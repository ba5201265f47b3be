"""SparkSession factory with the engine's required configs.

Arrow transfer is mandatory (all kernels run on Arrow batches); AQE on
for runtime re-planning; shuffle partitions sized to the parallelism
(SURVEY.md §4).  On a real cluster the same configs ship via
``spark-submit --py-files``; nothing here is local-mode specific
except the default master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS = {
    # Arrow boundary: the engine's hot path crosses JVM→Python per batch.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Rows per Arrow batch.  Measured with the fused stage in 1 MB slices
    # (4 vCPUs, perfbench seeds 3-5, medians) at 2,000 / 10,000 rows:
    # pit_small_pages 35.1k / 32.0k pages/s at 137 / 147 MB worker RSS,
    # pit_large_mixed_pages 2,096 / 2,253 pages/s (within noise) at
    # 162 / 161 MB.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
    "spark.sql.execution.arrow.useLargeVarTypes": "true",    # >2 GiB binary cols
    # AQE: runtime coalescing + skew-join splitting for the built-in joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Don't let tiny local parquet files produce one giant partition.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.session.timeZone": "UTC",
    # Python DataSource connectors (sources/warc_ds.py): let predicates
    # reach pushFilters().  Planning-only; no effect on any other path.
    "spark.sql.python.filterPushdown.enabled": "true",
    # PySpark wraps every Column function in call-site capture: a conf
    # read plus an origin set/clear round trip to the JVM per call.  Off,
    # a flagship plan build (no action, 80k-page table, local[2], 20
    # alternating builds each, medians) made 578 py4j calls instead of
    # 1,398 and took 88 ms instead of 145 ms.  The trade-off: an
    # analysis error no longer names the Python line that built the
    # failing expression.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "ultraviolet_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cores`` only applies in local mode; on a cluster the master comes
    from spark-submit.  ``shuffle_partitions`` defaults to the
    parallelism (local) — at 100 TB scale set it so each shuffle
    partition lands ≤ ~200 MB (SURVEY.md §4).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # glibc arena reuse for the numpy kernels: without this every
    # MB-scale temporary is a fresh mmap → kernel page-zeroing storms
    # that serialize across Python workers (measured 2× single-core
    # and large multi-core penalty).  Set before the JVM forks so
    # pyspark workers inherit it; executorEnv covers real clusters.
    _MALLOC_ENV = {
        "MALLOC_MMAP_THRESHOLD_": "1073741824",
        "MALLOC_TRIM_THRESHOLD_": "1073741824",
    }
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    builder = SparkSession.builder.appName(app_name)
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    if not os.environ.get("SPARK_MASTER"):          # cluster sets its own
        builder = builder.master(f"local[{cores}]")
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cores)
    )
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
