"""Streaming main-content extraction into the catalog.

The batch `extract_pages` operator (salted shuffle -> Arrow-batched golden
extraction) works UNCHANGED on a streaming DataFrame: `repartition` is a
stateless shuffle and `mapInPandas` a stateless projection, both allowed in
streaming plans, so per-url byte identity holds micro-batch by micro-batch.
That composability — one operator definition, batch and stream — is the
Spark-first payoff the reference's thread-pool file loop cannot express.
`stream_to_catalog` is the one streaming sink: exactly-once catalog appends
under the batch pipeline's day-partitioned layout."""

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
    pipeline's checkpoint commit (plans/lineage.py). Returns the query."""
    from ..plans.lineage import WARC_DAY_COL, day_stamped  # noqa: PLC0415

    stream = _stream_reader(spark, pages_dir, files_per_trigger)
    # same day-partitioned layout and resume guard as the batch pipeline —
    # ONE shared decision (plans/lineage.day_stamped) so streamed results
    # prune identically under the report/read path
    dayed = day_stamped(stream, catalog, table)
    partitioned = dayed is not None
    passthrough = []
    if partitioned:
        stream = dayed.select("url", "html", WARC_DAY_COL)
        passthrough = [(WARC_DAY_COL, "string")]
    results = extract_pages(stream, passthrough=passthrough)

    def write_batch(df, batch_id: int):
        txn = f"stream:{table}:{batch_id}"
        if txn in catalog.txns(table):
            return  # replayed micro-batch: already durably committed
        catalog.append(table, df, txn=txn,
                       partition_by=[WARC_DAY_COL] if partitioned else None)

    return (
        results.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
