"""Streaming main-content extraction — the flagship operator over readStream.

The batch `extract_pages` operator (salted shuffle -> Arrow-batched golden
extraction) works UNCHANGED on a streaming DataFrame: `repartition` is a
stateless shuffle and `mapInPandas` a stateless projection, both allowed in
streaming plans, so per-url byte identity holds micro-batch by micro-batch.
That composability — one operator definition, batch and stream — is the
Spark-first payoff the reference's thread-pool file loop cannot express.

Streaming exact-dedup is `dropDuplicates` on the content digest; the
watermarked variant (`event_time_col=...`) bounds the digest state with
`dropDuplicatesWithinWatermark` for unbounded live feeds.

These builders return UNSTARTED streaming DataFrames — the library sinks are
`extraction_stream_query` (parquet + checkpoint) and `stream_to_catalog`
(exactly-once catalog appends). Tests drain bounded sources through a
memory sink helper that lives in tests/ (a memory sink materializes the
whole result in the driver, so it must never look like a library path)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages


def _stream_reader(spark: SparkSession, data_dir: str,
                   files_per_trigger: int | None):
    schema = spark.read.parquet(data_dir).schema
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(data_dir)


def extraction_stream_df(spark: SparkSession, pages_dir: str,
                         num_partitions: int = 8,
                         files_per_trigger: int | None = None) -> DataFrame:
    """readStream over a pages parquet directory -> extract_pages, as an
    unstarted streaming DataFrame (attach a sink to run it).
    `files_per_trigger` splits a bounded source into several micro-batches
    to exercise incremental progress."""
    stream = _stream_reader(spark, pages_dir, files_per_trigger)
    return extract_pages(stream, num_partitions=num_partitions)


def exact_dedup_stream_df(spark: SparkSession, docs_dir: str,
                          text_col: str = "text",
                          event_time_col: str | None = None,
                          watermark_horizon: str = "1 hour",
                          files_per_trigger: int | None = None) -> DataFrame:
    """Streaming exact dedup: first-seen row per content digest survives.

    With `event_time_col`, the digest state is BOUNDED: `withWatermark` +
    `dropDuplicatesWithinWatermark` evicts a digest once the watermark
    passes its event time + horizon, so an unbounded live feed holds
    O(docs-per-horizon) state instead of every digest ever seen. The
    tradeoff is that a duplicate arriving more than `watermark_horizon`
    after its first copy is re-emitted (state already evicted) — the
    standard streaming-dedup contract.

    Without `event_time_col`, plain `dropDuplicates` keeps every digest in
    state — correct for bounded backfills, unbounded state on live feeds."""
    stream = _stream_reader(spark, docs_dir, files_per_trigger)
    digested = stream.withColumn("digest", F.md5(F.col(text_col)))
    if event_time_col is None:
        return digested.dropDuplicates(["digest"])
    return (
        digested.withWatermark(event_time_col, watermark_horizon)
        .dropDuplicatesWithinWatermark(["digest"])
    )


def extraction_stream_query(spark: SparkSession, pages_dir: str,
                            out_dir: str, checkpoint_dir: str,
                            num_partitions: int = 8,
                            files_per_trigger: int | None = None):
    """Start (without draining) a streaming extraction that appends parquet
    with a checkpoint. Stopping the query and restarting with the SAME
    checkpoint resumes exactly-once from the last committed micro-batch —
    the streaming analogue of the batch pipeline's partition checkpoint
    (plans/lineage.py). Returns the live StreamingQuery."""
    stream = _stream_reader(spark, pages_dir, files_per_trigger)
    results = extract_pages(stream, num_partitions=num_partitions)
    return (
        results.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_to_catalog(spark: SparkSession, pages_dir: str, catalog,
                      table: str, checkpoint_dir: str,
                      num_partitions: int = 8,
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
    results = extract_pages(stream, num_partitions=num_partitions,
                            passthrough=passthrough)

    def write_batch(df, batch_id: int):
        txn = f"stream:{table}:{batch_id}"
        if catalog.exists(table) and txn in catalog.txns(table):
            return  # replayed micro-batch: already durably committed
        catalog.append(table, df, txn=txn,
                       partition_by=[WARC_DAY_COL] if partitioned else None)

    return (
        results.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
