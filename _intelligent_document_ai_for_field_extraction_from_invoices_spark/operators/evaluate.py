"""Run cost and throughput over committed lineage rows (SURVEY §3.3 retarget
of evaluate.py's A8/A9 metrics): per-partition cost and run-level
throughput from the measured per-partition wall time (lineage wall_ms), and
run-level throughput and cost on the deterministic estimate tier. All
native expressions."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CPU_RATE_PER_HOUR = 0.01  # ref cost model, executable.py:473-488
# run_performance_summary's estimate tier: ~2 MB/s/core of extracted text,
# measured on this pipeline's flagship
EST_BYTES_PER_SEC = 2_000_000.0


def cost_metrics(lineage_df: DataFrame) -> DataFrame:
    """A9/F17 + A8: cost model over lineage rows — cost = processing seconds
    x hourly rate (ref executable.py:473-488), over the MEASURED seconds
    run_extraction records per partition (lineage wall_ms)."""
    cost = F.round(F.col("wall_ms") / 1000.0 / 3600.0 * CPU_RATE_PER_HOUR, 8)
    return lineage_df.select(
        "part_id", "n_rows", "bytes_out", cost.alias("est_cost_usd")
    ).withColumn("cost_per_row_usd",
                 F.round(F.col("est_cost_usd")
                         / F.greatest(F.col("n_rows"), F.lit(1)), 10))


def run_performance_summary(lineage_df: DataFrame) -> DataFrame:
    """A8 throughput + A9 cost at RUN granularity over committed lineage
    rows, on the deterministic estimate tier: every float op happens on
    exact integer TOTALS (sum of n_rows / bytes_out / n_failed), so the
    result is identical for any partition split of the same corpus — which
    is what lets a DuckDB oracle reproduce it from the mirrored extraction
    arithmetic and hash-match (contract.py q_lineage_perf). The measured
    wall_ms tier keeps its per-partition formulas in performance_metrics /
    cost_metrics; wall-clock can't hash-match any oracle by construction,
    so it is pinned by pytest instead
    (test_lineage_carries_measured_wall_ms)."""
    sec = F.sum("bytes_out") / F.lit(EST_BYTES_PER_SEC)
    # an all-empty/all-failed run totals zero bytes; the throughput ratios
    # must come out as clean finite numbers, not NaN/Infinity — mirrored
    # EXACTLY in the DuckDB oracle (greatest on the same double)
    sec_g = F.greatest(sec, F.lit(1e-9))
    return lineage_df.agg(
        F.sum("n_rows").alias("n_docs"),
        F.sum("bytes_out").alias("bytes_out"),
        F.sum("n_failed").alias("n_failed"),
        F.round(sec, 3).alias("est_cpu_sec"),
        F.round(F.sum("n_rows") / sec_g, 2).alias("docs_per_cpu_sec"),
        F.round(F.sum("n_rows") / (sec_g / 3600.0), 0)
        .alias("docs_per_cpu_hour"),
        F.round(sec / 3600.0 * CPU_RATE_PER_HOUR, 8).alias("est_cost_usd"),
    )


def performance_metrics(lineage_df: DataFrame) -> DataFrame:
    """A8: measured throughput from lineage wall_ms — the ref's runtime
    formulas (docs/hour = n / (sum proc_time / 3600), evaluate.py:443-446;
    pages/sec = 1 / mean(page_time), ocr.py:638) over real per-partition UDF
    wall time rather than byte estimates."""
    sec = F.sum("wall_ms") / 1000.0
    return lineage_df.agg(
        F.sum("n_rows").alias("n_docs"),
        F.round(sec, 3).alias("cpu_sec"),
        F.round(F.sum("n_rows") / F.greatest(sec, F.lit(1e-9)), 2)
        .alias("docs_per_cpu_sec"),
        F.round(F.sum("n_rows") / (F.greatest(sec, F.lit(1e-9)) / 3600.0), 0)
        .alias("docs_per_cpu_hour"),
        F.round(F.sum("bytes_out") / F.greatest(sec, F.lit(1e-9)), 0)
        .alias("bytes_out_per_cpu_sec"),
        F.round((F.sum("wall_ms") / F.greatest(F.sum("n_rows"), F.lit(1))), 4)
        .alias("avg_ms_per_doc"),
    )

