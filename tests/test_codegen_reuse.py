"""Generated-code reuse: repeating identical work compiles no new classes.

Spark compiles each whole-stage codegen class with Janino and keeps it in
a per-JVM cache of `spark.sql.codegen.cache.maxEntries` classes. A curate
chain needs more classes than Spark's default of 100, so with the default
every chain evicted and recompiled about as many as it used; and a value
folded into the generated source (a `current_timestamp()`, say) makes each
run new code. Both show up as compiles on a second, identical pass."""

import json
import random

from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.__main__ import main
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import lineage
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
    Catalog,
)
from tests.conftest import SF_DIR


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_compile_counter_sees_new_code(spark):
    """The probe the tests below rely on: a long literal is inlined into
    the generated source, so an unseen value compiles a new class."""
    before = _compiles(spark)
    v = random.getrandbits(48)
    assert spark.range(3).select(F.col("id") + F.lit(v)).collect()
    assert _compiles(spark) > before


def test_second_curate_chain_compiles_nothing(spark, tmp_path, capsys):
    """The six curate stages (the `curate` subcommand), twice, each into
    a fresh catalog under its own run id: the second chain reuses every
    class the first one compiled."""
    compiles, finals = [], []
    for i in range(2):
        before = _compiles(spark)
        main(["curate", "--input", SF_DIR,
              "--output", str(tmp_path / f"cat{i}"), "--run-id", f"c{i}"])
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        compiles.append(_compiles(spark) - before)
        finals.append(out["final_rows"])
    assert compiles[1] == 0, compiles
    assert finals[0] == finals[1] > 0


def test_second_run_extraction_compiles_nothing(spark, documents, tmp_path):
    """run_extraction twice into fresh catalogs: the lineage and checkpoint
    writes carry their commit time as data, not as generated code."""
    # a filter, not a limit: Spark names a limit's counter afresh in each
    # query's generated code, so a limit compiles anew on every run
    pages = datagen.pages_from_documents(
        documents.filter(F.col("doc_id") % 8 == 0))
    compiles, stats = [], []
    for i in range(2):
        before = _compiles(spark)
        stats.append(lineage.run_extraction(
            spark, pages, Catalog(str(tmp_path / f"cat{i}")), f"r{i}"))
        compiles.append(_compiles(spark) - before)
    assert compiles[1] == 0, compiles
    assert stats[0] == stats[1] and stats[1]["rows_written"] > 0
    cat = Catalog(str(tmp_path / "cat1"))
    stamps = {r.committed_at for t in (lineage.LINEAGE_TABLE,
                                       lineage.CHECKPOINT_TABLE)
              for r in cat.read(spark, t).select("committed_at").collect()}
    assert len(stamps) == 1 and None not in stamps
