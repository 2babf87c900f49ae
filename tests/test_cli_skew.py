"""CLI entry point smoke + salted-repartition skew defeat."""

import json
import subprocess
import sys

from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans.skew import (
    salted_repartition,
)
from tests.conftest import SF_DIR


def test_cli_end_to_end(tmp_path):
    out = subprocess.run(
        [sys.executable, "-m",
         "_intelligent_document_ai_for_field_extraction_from_invoices_spark",
         "extract", "--input", SF_DIR, "--output", str(tmp_path / "cat"),
         "--limit", "120", "--partitions", "4", "--cores", "2"],
        capture_output=True, text=True, timeout=420, check=True,
        cwd="/root/repo",
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    rep = json.loads(line)
    assert rep["documents"] == 120
    assert rep["success_rate"] > 0.9
    assert rep["extracted_bytes"] > 0
    assert rep["run"]["parts_done"] == 4


def test_salted_repartition_defeats_host_skew(spark, documents):
    """The host distribution is Zipf-ish (top host ~30%). Partitioning by
    hash(host) — what a naive groupBy-host layout gives you — puts ~30% of
    rows in one partition; the salted url hash spreads them uniformly."""
    pages = datagen.pages_from_documents(documents).select("url")
    n_parts = 8
    # AQE would coalesce this tiny test shuffle and hide the per-partition
    # layout we are asserting about; the skew property concerns the exchange
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    by_host = pages.repartition(
        n_parts, F.regexp_extract("url", r"https://([^/]+)/", 1))
    sizes_host = [r.n for r in by_host.groupBy(F.spark_partition_id().alias("p"))
                  .agg(F.count("*").alias("n")).collect()]

    salted = salted_repartition(pages, n_parts)
    sizes_salted = [r.n for r in salted.groupBy(F.spark_partition_id().alias("p"))
                    .agg(F.count("*").alias("n")).collect()]

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    total = sum(sizes_host)
    assert max(sizes_host) > 1.5 * total / n_parts  # skew really exists
    assert len(sizes_salted) == n_parts
    assert max(sizes_salted) < 1.25 * total / n_parts  # and salting kills it
