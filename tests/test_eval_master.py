"""Extraction results vs the corpus generator's ground truth.

`golden_table` recomputes every page's expected title, byline, date and
body from datagen's doc_id arithmetic, independently of golden.py, so these
checks catch a pipeline that drifts from what the pages actually contain
(test_pipeline.py pins the Spark plan to golden.py instead)."""

import pytest
from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (
    extract_pages,
)

FIELDS = ("title", "byline", "pub_date", "body_text")


@pytest.fixture(scope="module")
def results(spark, documents):
    pages = datagen.pages_from_documents(documents)
    return extract_pages(pages).cache()


@pytest.fixture(scope="module")
def golden_table(spark, documents):
    """Golden values recomputed from the mirrored doc_id arithmetic."""
    rows = documents.select("doc_id", "text").collect()
    out = []
    for r in rows:
        flavor = datagen.flavor_for(r.doc_id)
        if flavor == "empty":
            continue
        byline = (datagen.ml_author_for(r.doc_id) if flavor == "ml"
                  else datagen.author_for(r.doc_id))
        out.append((
            datagen.url_for(r.doc_id),
            datagen.title_for(r.doc_id, r.text.split()),
            byline,
            datagen.date_for(r.doc_id),
            datagen.expected_body(r.doc_id, r.text),
        ))
    return spark.createDataFrame(
        out, "url string, title string, byline string, pub_date string, "
             "body_text string")


def _mismatches(ok, golden_table) -> dict:
    """Per field, the golden urls whose extracted value differs
    (null-safe), plus the urls present on one side only."""
    g = golden_table.select("url", *[F.col(f).alias(f"g_{f}") for f in FIELDS])
    j = ok.select("url", *FIELDS).join(g, "url", "full_outer")
    row = j.agg(
        *[F.sum(F.when(~F.col(f).eqNullSafe(F.col(f"g_{f}")), 1)
                .otherwise(0)).alias(f) for f in FIELDS],
        F.sum(F.when(F.col("g_title").isNull()
                     & F.col("g_body_text").isNull(), 1).otherwise(0))
        .alias("extra"),
        F.count("*").alias("n"),
    ).first()
    return row.asDict()


def test_eval_pipeline_is_perfect_on_golden(spark, results, golden_table):
    ok = results.filter(F.col("status") == "success")
    assert ok.count() == golden_table.count() > 0
    got = _mismatches(ok, golden_table)
    # every field of every page, the body byte for byte
    assert {f: got[f] for f in FIELDS} == {f: 0 for f in FIELDS}
    assert got["extra"] == 0
    assert got["n"] == golden_table.count()


def test_eval_detects_corruption(spark, results, golden_table):
    """The comparison above is not vacuous: a wrong title on a tenth of the
    pages and a tampered body on all of them are both reported."""
    ok = results.filter(F.col("status") == "success")
    corrupted = ok.withColumn(
        "title", F.when(F.col("url").endswith("0"), F.lit("Wrong Title XYZ"))
        .otherwise(F.col("title"))
    ).withColumn(
        "body_text", F.concat(F.col("body_text"), F.lit("TAMPER"))
    )
    got = _mismatches(corrupted, golden_table)
    n_tampered = ok.filter(F.col("url").endswith("0")).count()
    assert got["title"] == n_tampered > 0
    assert got["body_text"] == golden_table.count()
    assert got["byline"] == got["pub_date"] == 0


def test_confidence_distribution_and_errors(spark, results):
    """Confidence is a spread of [0, 1] scores on successful pages and 0.0
    on failed ones (no field present to weigh); every failure is an empty
    payload carried as a row with its error, never an exception."""
    c = F.col("overall_confidence")
    ok = results.filter(F.col("status") == "success")
    dist = ok.agg(
        F.avg(c).alias("mean"), F.min(c).alias("min"), F.max(c).alias("max"),
        F.countDistinct(c).alias("n_distinct"),
        F.sum(F.when(F.col("error_message").isNotNull(), 1).otherwise(0))
        .alias("n_with_error"),
    ).first()
    assert 0.3 <= dist.mean <= 0.98
    assert 0.0 <= dist.min < dist.max <= 1.0
    assert dist.n_distinct > 1
    assert dist.n_with_error == 0
    errs = {r.error_message: r.n for r in results.filter(
        F.col("status") != "success").groupBy("error_message")
        .agg(F.count("*").alias("n")).collect()}
    assert set(errs) == {"empty"} and errs["empty"] > 0
    assert results.filter((F.col("status") != "success")
                          & ~c.eqNullSafe(0.0)).count() == 0
    assert ok.count() + errs["empty"] == results.count()
