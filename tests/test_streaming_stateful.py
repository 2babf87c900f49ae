"""Streaming extraction into the catalog: exactly once, byte-identical
to batch extraction."""

import os


def test_streaming_extraction_byte_identity(spark, documents, tmp_path):
    """The flagship extraction operator runs UNCHANGED over readStream and
    reproduces the batch result byte-for-byte (multi-micro-batch, no
    restart)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (
        extract_pages,
    )
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
        Catalog,
    )
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.streaming import (
        extract_stream,
    )

    pages_dir = str(tmp_path / "pages")
    datagen.pages_from_documents(documents).repartition(6).write.parquet(pages_dir)
    cat = Catalog(str(tmp_path / "cat"))

    q = extract_stream.stream_to_catalog(
        spark, pages_dir, cat, "s", str(tmp_path / "ck"), files_per_trigger=2)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    assert len(cat.txns("s")) == 3  # 6 files, 2 per micro-batch
    batch = {r.url: (r.body_text, r.status)
             for r in extract_pages(spark.read.parquet(pages_dir)).collect()}
    streamed = {r.url: (r.body_text, r.status)
                for r in cat.read(spark, "s").collect()}
    assert streamed == batch
    assert len(streamed) == 500


def test_streaming_checkpoint_restart_exactly_once(spark, documents, tmp_path):
    """A restart that REPLAYS an already-committed micro-batch (its offsets
    are logged but its checkpoint commit marker is lost, as after a crash
    between the sink write and the marker) re-runs foreachBatch with the
    same batch id; the txn tag turns that into a no-op, so the table keeps
    every url exactly once and gains no snapshot."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
        Catalog,
    )
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.streaming import (
        extract_stream,
    )

    pages_dir = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ck")
    datagen.pages_from_documents(documents).repartition(2).write.parquet(pages_dir)
    cat = Catalog(str(tmp_path / "cat"))

    q = extract_stream.stream_to_catalog(spark, pages_dir, cat, "s", ckpt)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    assert cat.txns("s") == {"stream:s:0"}
    n_snaps = len(cat.snapshots("s"))
    before = sorted((r.url, r.body_text) for r in cat.read(spark, "s").collect())
    assert len(before) == 500

    # the marker and its checksum sidecar, as if never written
    commits = os.path.join(ckpt, "commits")
    assert sorted(os.listdir(commits)) == [".0.crc", "0"]
    for name in os.listdir(commits):
        os.remove(os.path.join(commits, name))

    q2 = extract_stream.stream_to_catalog(spark, pages_dir, cat, "s", ckpt)
    q2.processAllAvailable()
    replayed = [p for p in q2.recentProgress
                if p["batchId"] == 0 and p["numInputRows"] > 0]
    q2.stop()
    q2.awaitTermination(60)
    assert replayed  # batch 0 really ran again
    assert len(cat.snapshots("s")) == n_snaps
    after = sorted((r.url, r.body_text) for r in cat.read(spark, "s").collect())
    assert after == before


def test_stream_to_catalog_exactly_once(spark, documents, tmp_path):
    """Streaming extraction into the snapshot catalog: kill mid-run, restart
    with the same checkpoint — txn-tagged foreachBatch appends make any
    replayed micro-batch a no-op, so the table has every url exactly once,
    byte-identical to batch extraction of the same pages."""
    import time

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (
        extract_pages,
    )
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
        Catalog,
    )
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.streaming import (
        extract_stream,
    )

    pages_dir = str(tmp_path / "pages")
    datagen.pages_from_documents(documents).repartition(8).write.parquet(pages_dir)
    cat = Catalog(str(tmp_path / "cat"))

    q = extract_stream.stream_to_catalog(
        spark, pages_dir, cat, "stream_results", str(tmp_path / "ck"),
        files_per_trigger=1)
    deadline = time.time() + 120
    while time.time() < deadline:
        if cat.exists("stream_results") and len(cat.txns("stream_results")) >= 2:
            break
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(60)
    n_mid = cat.read(spark, "stream_results").count()
    assert 0 < n_mid < 500

    q2 = extract_stream.stream_to_catalog(
        spark, pages_dir, cat, "stream_results", str(tmp_path / "ck"),
        files_per_trigger=3)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)

    rows = cat.read(spark, "stream_results").collect()
    urls = [r.url for r in rows]
    assert len(urls) == len(set(urls)) == 500
    # the streamed operator is the batch operator: body text and status per
    # url are byte-identical to extract_pages over the same pages
    batch = {r.url: (r.body_text, r.status)
             for r in extract_pages(spark.read.parquet(pages_dir)).collect()}
    assert {r.url: (r.body_text, r.status) for r in rows} == batch
    # every committed snapshot carries a stream txn tag
    assert all(t.startswith("stream:stream_results:")
               for t in cat.txns("stream_results"))
    # round 4: streamed results share the batch pipeline's day-partitioned
    # layout, so the report/read path prunes them identically
    assert all(r.warc_day == "2025-01-01" for r in rows)
    pruned = cat.read(spark, "stream_results",
                      where={"warc_day": "2025-01-01"})
    assert pruned.count() == 500
    assert cat.read(spark, "stream_results",
                    where={"warc_day": "1999-01-01"}).count() == 0
