"""Per-partition lineage + checkpointed, idempotent resume (north rule).

A row's partition id is a pure function of its url (salted xxhash64 — see
plans/skew.py), so "which partitions are done" is stable across runs. A run:

  1. stamps part_id = pmod(xxhash64(url, SALT), P) on every page
  2. LEFT ANTI joins against the checkpoint table's committed part_ids
     (the reference's resume analogue: skip already-processed documents)
  3. extracts only the remaining partitions
  4. appends results (always partitioned by crawl day, warc_day) + one
     lineage row per partition (with its measured wall_ms) + checkpoint
     rows, each an atomic snapshot commit (sources/tables.py), all tagged
     with one txn id; the checkpoint append is the transaction's commit
     marker, and torn transactions (crash before the marker) are rolled
     back on the next run by metadata-only file-list surgery
     (Catalog.remove_orphan_appends)

Re-running after a crash processes only missing partitions; re-running a
complete run is a no-op — idempotence is tested in tests/test_tables_resume.py.
Lineage rows mirror the reference's per-stage stats (executable.py:92-96,
ocr.py:624-639): rows, bytes in/out, blocks kept/dropped, parse failures.
"""

from __future__ import annotations

import json
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from ..operators.extract import extract_pages
from ..sources.tables import Catalog
from .skew import DEFAULT_SALT

RESULTS_TABLE = "extracted_text"
LINEAGE_TABLE = "lineage"
CHECKPOINT_TABLE = "checkpoint"
WARC_DAY_COL = "warc_day"


def with_warc_day(pages: DataFrame) -> DataFrame:
    """Derive the crawl-day partition column; pages without warc_ts raise
    ValueError. ONE definition shared by the batch pipeline and
    streaming.extract_stream — the whole point of the shared layout is
    that batch and streamed results prune identically, which two
    independent date_format copies would silently break."""
    if "warc_ts" not in pages.columns:
        raise ValueError(
            "pages need a warc_ts column: extraction results are "
            f"partitioned by the crawl day ({WARC_DAY_COL}) derived from it")
    return pages.withColumn(
        WARC_DAY_COL, F.date_format("warc_ts", "yyyy-MM-dd"))


def stamp_part_id(pages: DataFrame, num_partitions: int) -> DataFrame:
    return pages.withColumn(
        "part_id",
        F.pmod(F.xxhash64(F.col("url"), F.lit(DEFAULT_SALT)),
               F.lit(num_partitions)).cast("int"),
    )


def lineage_rows(results: DataFrame) -> DataFrame:
    # measured per-partition extraction wall time from the per-doc wall_ms
    # column (extract_pages(with_timings=True))
    return results.groupBy("part_id").agg(
        F.round(F.sum("wall_ms"), 3).alias("wall_ms"),
        F.count("*").alias("n_rows"),
        F.sum("n_html_bytes").alias("bytes_in"),
        F.sum(F.length(F.col("body_text"))).alias("bytes_out"),
        F.sum("n_blocks_kept").alias("blocks_kept"),
        F.sum("n_blocks_dropped").alias("blocks_dropped"),
        F.sum("parse_failures").alias("parse_failures"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("n_failed"),
    )


def committed_parts(spark: SparkSession, catalog: Catalog) -> DataFrame | None:
    if not catalog.exists(CHECKPOINT_TABLE):
        return None
    return catalog.read(spark, CHECKPOINT_TABLE).select("part_id").distinct()


def run_extraction(spark: SparkSession, pages: DataFrame, catalog: Catalog,
                   run_id: str, num_partitions: int = 16) -> dict:
    """One (possibly resumed) extraction run; `num_partitions` is the resume
    granularity P, not the task count (one Arrow task per core).

    All three appends carry one txn tag; the checkpoint append is the commit
    marker. On start, appends whose txn never reached the checkpoint are
    rolled back (metadata-only file-list surgery), so a torn run can never
    leave duplicate rows in the results table.

    Pages without warc_ts raise ValueError before anything is committed.

    Returns {parts_done, parts_skipped, rows_written, parts_total}, always."""
    # results land PARTITIONED by crawl day (the read users do daily: "give
    # me one day of one crawl" — a manifest-pruned scan instead of a full
    # table scan); warc_day rides through the extraction UDF as a
    # passthrough column so no join-back shuffle is needed
    stamped = stamp_part_id(with_warc_day(pages), num_partitions)
    # reconcile torn transactions from crashed runs before planning the work
    live = catalog.txns(CHECKPOINT_TABLE)
    for t in (RESULTS_TABLE, LINEAGE_TABLE):
        catalog.remove_orphan_appends(t, live)

    done = committed_parts(spark, catalog)
    if done is not None:
        remaining = stamped.join(done, "part_id", "left_anti")
        n_done = done.count()
    else:
        remaining = stamped
        n_done = 0

    part_ids = sorted(
        r.part_id for r in remaining.select("part_id").distinct().collect()
    )
    stats = {"parts_done": len(part_ids), "parts_skipped": n_done,
             "rows_written": 0, "parts_total": num_partitions}
    if not part_ids:
        return stats

    todo = remaining.filter(F.col("part_id").isin(part_ids))
    # group commit: extract all todo partitions in one distributed pass, the
    # stable checkpoint part_id rides through the UDF (no join-back shuffle)
    results = (
        extract_pages(
            todo.select("url", "html", F.col("part_id").alias("ckpt_part"),
                        WARC_DAY_COL),
            passthrough=[("ckpt_part", "int"), (WARC_DAY_COL, "string")],
            with_timings=True,  # A8: lineage carries measured wall_ms
        )
        .withColumn("run_id", F.lit(run_id))
        .drop("part_id")
        .withColumnRenamed("ckpt_part", "part_id")
    )
    results = results.cache()
    try:
        # one collect extracts (into the cache) and aggregates P lineage
        # rows, parsed back from one JSON literal in one JVM task: no Python
        # task (createDataFrame) and no per-value py4j call (F.lit). The
        # commit time rides inside that literal too: a string literal is
        # passed to generated code by reference, while current_timestamp()
        # folds into an inlined long, i.e. new code for every run
        per_part = lineage_rows(results)
        parts = per_part.collect()
        stats["rows_written"] = sum(r.n_rows for r in parts)
        committed_at = datetime.now(timezone.utc).isoformat()
        schema = StructType(per_part.schema.fields
                            + [StructField("committed_at", TimestampType())])
        lin = spark.range(1, numPartitions=1).select(F.inline(F.from_json(
            F.lit(json.dumps([{**r.asDict(), "committed_at": committed_at}
                              for r in parts])),
            f"array<{schema.simpleString()}>"))).select(
            "part_id", F.lit(run_id).alias("run_id"), *per_part.columns[1:],
            "committed_at")
        txn = f"{run_id}:{uuid.uuid4().hex[:12]}"
        catalog.append(RESULTS_TABLE, results, txn=txn,
                       partition_by=[WARC_DAY_COL])
        catalog.append(LINEAGE_TABLE, lin, txn=txn, partition_by=["run_id"])
        catalog.append(CHECKPOINT_TABLE,
                       lin.select("part_id", "run_id", "committed_at"), txn=txn)
    finally:
        results.unpersist()
    return stats
