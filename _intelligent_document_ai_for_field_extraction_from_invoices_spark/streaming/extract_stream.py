"""Streaming main-content extraction into the catalog.

The batch `extract_pages` operator (salted shuffle -> Arrow-batched golden
extraction) works UNCHANGED on a streaming DataFrame: `repartition` is a
stateless shuffle and `mapInPandas` a stateless projection, both allowed in
streaming plans, so per-url byte identity holds micro-batch by micro-batch.
That composability — one operator definition, batch and stream — is the
Spark-first payoff the reference's thread-pool file loop cannot express.
`stream_to_catalog` is the one streaming sink: exactly-once catalog appends
under the batch pipeline's layout, always partitioned by crawl day."""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.extract import extract_pages


def _stream_reader(spark: SparkSession, data_dir: str,
                   files_per_trigger: int | None):
    schema = spark.read.parquet(data_dir).schema
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(data_dir)


def stream_to_catalog(spark: SparkSession, pages_dir: str, catalog,
                      table: str, checkpoint_dir: str,
                      files_per_trigger: int | None = None):
    """Streaming extraction into an Iceberg-style Catalog table, exactly
    once: each micro-batch is appended inside `foreachBatch` tagged with a
    deterministic txn id ('stream:<table>:<batch_id>'). Structured
    Streaming may RE-RUN a batch after a crash-restart (foreachBatch is
    at-least-once); the txn check makes the replay a no-op, upgrading the
    sink to exactly-once — the same marker discipline as the batch
    pipeline's checkpoint commit (plans/lineage.py). Pages without
    warc_ts raise ValueError before the query starts. Returns the query."""
    from ..plans.lineage import WARC_DAY_COL, with_warc_day  # noqa: PLC0415

    stream = _stream_reader(spark, pages_dir, files_per_trigger)
    # the batch pipeline's day-partitioned layout, from the ONE shared
    # warc_day derivation (plans/lineage.with_warc_day), so streamed
    # results prune identically under the report/read path
    results = extract_pages(
        with_warc_day(stream).select("url", "html", WARC_DAY_COL),
        passthrough=[(WARC_DAY_COL, "string")])

    def write_batch(df, batch_id: int):
        txn = f"stream:{table}:{batch_id}"
        if txn in catalog.txns(table):
            return  # replayed micro-batch: already durably committed
        catalog.append(table, df, txn=txn, partition_by=[WARC_DAY_COL])

    return (
        results.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
