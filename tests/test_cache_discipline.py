"""Scoped-cache discipline: the dedup/similarity hot paths cache DataFrames
that feed multiple plan branches; `release_caches()` must free every one, so
a long-lived session running many queries holds no residual cached RDDs
(round-2 verdict prescription #7)."""

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import contract
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
    dedup,
    similarity,
)
from tests.conftest import SF_DIR


def _persistent_rdds(spark):
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


def test_dedup_and_similarity_caches_are_released(spark):
    baseline = set(_persistent_rdds(spark))
    for qname in ["q_ngram_jaccard_pairs", "q_minhash_lsh_pairs",
                  "q_simhash_near_dups", "q_embedding_near_dups"]:
        contract.QUERIES[qname](spark, SF_DIR).count()
    during = set(_persistent_rdds(spark))
    assert during - baseline, "expected the hot paths to register caches"

    released = dedup.release_caches()
    assert released >= 4  # one per capped pipeline + jaccard toks + tagged
    after = set(_persistent_rdds(spark))
    assert after - baseline == set(), "residual cached RDDs after release"
    # similarity re-exports the same registry
    assert similarity.release_caches() == 0


def test_release_caches_is_idempotent(spark):
    assert dedup.release_caches() == 0


def test_cli_emit_releases_its_cache_when_the_commit_raises(spark, tmp_path,
                                                            monkeypatch):
    """The CLI's `_emit` persists the frame it commits; a commit that
    raises must not leave that frame cached in the session."""
    import pytest

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.__main__ import (
        _emit,
    )
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
        Catalog,
    )

    cat = Catalog(str(tmp_path))

    def fail(*_a, **_k):
        raise OSError("commit failed")

    monkeypatch.setattr(cat, "overwrite", fail)
    baseline = set(_persistent_rdds(spark))
    with pytest.raises(OSError, match="commit failed"):
        _emit(cat, "t", spark.range(10), "r1", mode="overwrite")
    assert set(_persistent_rdds(spark)) - baseline == set()
