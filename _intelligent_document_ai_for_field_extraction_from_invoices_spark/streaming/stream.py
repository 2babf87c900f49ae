"""Structured Streaming tumbling-window counts.

The reference has NO streaming operators (SURVEY §2.9 — its 'streaming' is a
file iterator), so this is an engine extension: the batch tumbling-window
aggregation expressed over readStream, verified against the batch result in
tests and by the q_stream_hourly_counts oracle (processAllAvailable drives a
bounded parquet source to completion synchronously)."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _tmp_out() -> str:
    import atexit  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    d = tempfile.mkdtemp(prefix="sparkgraft_stream_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def hourly_event_counts_stream(spark: SparkSession, sf_dir: str,
                               sink: str = "parquet",
                               out_dir: str | None = None) -> DataFrame:
    """Tumbling-window counts over a streaming read of the events table,
    driven to completion; returns the completed result as a DataFrame.

    The default sink is DISTRIBUTED: each complete-mode batch snapshot is
    overwritten to `out_dir` parquet via foreachBatch, and the result is
    read back from there — the driver never materializes the output.
    `sink="memory"` is an explicit opt-in for bounded tests/oracles only
    (a memory sink collects every row driver-side; round-3 verdict #2 —
    pointing the default at a real feed must not OOM the driver)."""
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
    if sink == "memory":
        name = f"hourly_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory").queryName(name).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.sql(f"SELECT * FROM {name}")
    out = out_dir or _tmp_out()
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
        # empty result (the memory sink's behavior), don't crash the read
        return spark.createDataFrame([], agg.schema)
    return spark.read.parquet(f"{out}/data")
