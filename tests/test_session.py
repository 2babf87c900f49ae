"""get_spark: the session factory's derived settings."""

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.session import (
    get_spark,
)


def test_shuffle_partitions_follow_requested_cores(spark):
    """Shuffle partitions are max(8, cores) for the cores asked for, not
    for the host's CPU count. get_spark returns the shared test session,
    so the setting is restored afterwards."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        assert get_spark("tests", cores=32).conf.get(key) == "32"
        assert get_spark("tests", cores=2).conf.get(key) == "8"
    finally:
        spark.conf.set(key, before)
