"""Structured Streaming tumbling-window counts.

The reference has NO streaming operators (SURVEY §2.9 — its 'streaming' is a
file iterator), so this is an engine extension: the batch tumbling-window
aggregation expressed over readStream, verified against the batch result in
tests and by the q_stream_hourly_counts oracle (processAllAvailable drives a
bounded parquet source to completion synchronously)."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tmp_dir(prefix: str) -> str:
    """A fresh temporary directory, removed when the interpreter exits."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def hourly_event_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts over a streaming read of the events table,
    driven to completion; returns the completed result as a DataFrame.

    The sink is DISTRIBUTED: each complete-mode batch snapshot is
    overwritten to a temporary parquet directory via foreachBatch, and the
    result is read back from there — the driver never materializes the
    output (a memory sink would collect every row driver-side)."""
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(f"{sf_dir}")  # directory scan picks up events.parquet
    )
    # bounded batch source -> 'complete' aggregation, no watermark needed;
    # a live feed would add .withWatermark("ts", "1 hour")
    agg = (
        stream.filter(F.col("event_id").isNotNull())
        .groupBy(F.date_format("ts", "yyyy-MM-dd HH:00").alias("hour"))
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    )
    out = tmp_dir("sparkgraft_stream_")
    q = (
        agg.writeStream.outputMode("complete")
        .option("checkpointLocation", f"{out}/_checkpoint")
        .foreachBatch(lambda b, _i:
                      b.write.mode("overwrite").parquet(f"{out}/data"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if not os.path.isdir(f"{out}/data"):
        # a source with zero batches never ran foreachBatch: return the
        # empty result, don't crash the read
        return spark.createDataFrame([], agg.schema)
    return spark.read.parquet(f"{out}/data")
