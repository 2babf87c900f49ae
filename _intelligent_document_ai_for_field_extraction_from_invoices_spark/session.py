"""SparkSession factory tuned for the extraction workload.

Arrow everywhere (the hot path is Arrow-batched UDFs over binary columns);
shuffle partitions sized to cores, AQE on, UTC session TZ so DuckDB oracle
comparisons are stable (duckdb timestamps are UTC-naive)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# html rows are large; cap Arrow batch row count so a batch of 2 MB pages
# stays well under worker memory (ref batch-size capping, vlm_fallback.py:93).
ARROW_MAX_RECORDS = 256

# whole-stage codegen classes kept per JVM. A curate chain uses ~100
# distinct classes and run_extraction 40 (counted with CodegenMetrics on a
# cache too big to evict); with Spark's default of 100, LRU evicted each
# class before its next use and every repeated chain recompiled 96-97 of
# them (~2 s of Janino). 1000 holds both working sets with room for the
# other subcommands' plans in one session.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app: str = "webtext-extraction",
              cores: str | int | None = None) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    n = os.cpu_count() or 8 if cores in ("*", None) else int(cores)
    b = b.config("spark.sql.shuffle.partitions", str(max(8, int(n))))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
