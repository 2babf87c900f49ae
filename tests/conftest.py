import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.session import get_spark

    s = get_spark("tests", cores=4)
    yield s


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def first_parts(pages, n=3):
    """The pages of resume partitions 0..n-1 of 8: a run over them
    commits what a run that crashed after its first n partitions did."""
    from pyspark.sql import functions as F

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import lineage

    return (lineage.stamp_part_id(pages, 8)
            .filter(F.col("part_id") < n).drop("part_id"))


def crash_before_checkpoint(monkeypatch):
    """Make the checkpoint append raise: a run then commits its results
    and lineage but never its checkpoint marker (a torn transaction)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import lineage
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
        Catalog,
    )

    append = Catalog.append

    def torn_append(self, table, df, *args, **kwargs):
        if table == lineage.CHECKPOINT_TABLE:
            raise RuntimeError("simulated crash before checkpoint commit")
        return append(self, table, df, *args, **kwargs)

    monkeypatch.setattr(Catalog, "append", torn_append)
