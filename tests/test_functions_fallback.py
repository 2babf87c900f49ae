"""functions/text.py scalar ops + streaming parity."""

from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.functions import text as tf
from tests.conftest import SF_DIR


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first().v


def test_pii_redaction(spark):
    s = "mail a@b.com or call +1 555 123 4567, PAN ABCDE1234F, id 1234 5678 9012"
    got = _one(spark, tf.redact_pii(F.lit(s)))
    assert "[EMAIL]" in got and "[PHONE]" in got
    assert "[PAN]" in got and "[ID]" in got
    assert "a@b.com" not in got


def test_streaming_hourly_matches_batch(spark):
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.streaming.stream import (
        hourly_event_counts_stream,
    )

    got = {r.hour: (r.n, r.sum_value)
           for r in hourly_event_counts_stream(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exp = {r.hour: (r.n, r.sum_value) for r in (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd HH:00").alias("hour"))
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    ).collect()}
    assert got == exp


def test_canonical_url_tracking_params_are_anchored(spark):
    """Code-review regression: the tracking-param strip must only fire on a
    whole param name right after ?/& — never inside another param's name and
    never in a path segment (where no & terminator exists to stop it)."""
    from pyspark.sql import functions as F

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.functions.text import (
        canonical_url,
    )

    cases = {
        # param whose NAME merely contains a tracking name: kept intact
        "https://a.com/p?myfbclid=2&id=1": "https://a.com/p?myfbclid=2&id=1",
        # 'utm_source' inside a path segment: untouched
        "https://a.com/autm_source=x/page?id=1":
            "https://a.com/autm_source=x/page?id=1",
        # real tracking params still stripped, first/middle/last position
        "https://a.com/p?utm_a=1&id=2&utm_b=3": "https://a.com/p?id=2",
        "https://a.com/p?id=2&gclid=9": "https://a.com/p?id=2",
        "https://a.com/p?fbclid=9": "https://a.com/p",
    }
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {r.u: r.c for r in
           df.select("u", canonical_url(F.col("u")).alias("c")).collect()}
    for u, exp in cases.items():
        assert got[u] == exp, u
