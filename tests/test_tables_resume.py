"""Iceberg-style table layer: atomic commits, snapshot history, and
idempotent checkpointed resume (SURVEY §5.2.5)."""

import pytest
from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import lineage
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import Catalog
from tests.conftest import crash_before_checkpoint, first_parts


def test_catalog_overwrite_append_read(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    v1 = cat.overwrite("t", df)
    assert cat.read(spark, "t").count() == 10
    v2 = cat.append("t", spark.range(5).withColumn("v", F.col("id")))
    assert v2 == v1 + 1
    assert cat.read(spark, "t").count() == 15
    # time travel to the first snapshot
    assert cat.read(spark, "t", version=v1).count() == 10
    ops = [s["operation"] for s in cat.snapshots("t")]
    assert ops == ["overwrite", "append"]


def test_snapshots_carry_one_layout(spark, tmp_path):
    """Every writer commits the one snapshot layout the reader accepts: a
    manifest list, a schema and the cumulative all_txns set, each entry
    with its manifest, file count, txns, op and partition summary. A
    snapshot of any other shape — the round-3 file-list layout, or one
    without all_txns — raises a ValueError naming its version."""
    import json
    import os

    cat = Catalog(str(tmp_path))
    for b in range(6):
        cat.append("t", spark.range(b * 10, b * 10 + 10).coalesce(1),
                   txn=f"s:{b}")
    cat.append("t", spark.range(100, 103), txn="dead")
    assert cat.remove_orphan_appends(
        "t", live_txns={f"s:{b}" for b in range(6)}) > 0
    assert cat.compact(spark, "t")["version"] is not None
    cat.overwrite("t", spark.range(5), txn="ow")
    snaps = cat.snapshots("t")
    assert [s["operation"] for s in snaps] == \
        ["append"] * 7 + ["rollback", "compact", "overwrite"]
    for s in snaps:
        assert {"manifests", "schema", "all_txns"} <= s.keys()
        assert s["schema"]
        for e in s["manifests"]:
            assert {"manifest", "n_files", "txns", "op", "summary"} <= e.keys()

    v = snaps[-1]["version"]
    path = os.path.join(str(tmp_path), "t", "_meta", f"v{v}.json")
    files = cat.scan_files("t")
    round3 = {"version": v, "parent": v - 1, "operation": "overwrite",
              "files": files, "added": files, "txn": "ow",
              "partitions": {}, "committed_at": 0.0}
    no_txns = {k: x for k, x in snaps[-1].items() if k != "all_txns"}
    for bad in (round3, no_txns):
        with open(path, "w") as f:
            json.dump(bad, f)
        for call in (lambda: cat.read(spark, "t"), lambda: cat.txns("t")):
            with pytest.raises(ValueError, match=f"version {v} of table 't'"):
                call()


def test_overwrite_replaces_idempotently(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.overwrite("t", spark.range(10))
    cat.overwrite("t", spark.range(3))
    assert cat.read(spark, "t").count() == 3


@pytest.fixture()
def pages(spark, documents):
    return datagen.pages_from_documents(documents)


def test_resume_after_partial_run(spark, pages, tmp_path):
    """Kill after a partition subset committed -> rerun -> identical final
    table, no duplicate rows (idempotence — north rule)."""
    run_full = Catalog(str(tmp_path / "full"))
    lineage.run_extraction(spark, pages, run_full, "run-a", num_partitions=8)
    full = {r.url: r.body_text for r in
            run_full.read(spark, lineage.RESULTS_TABLE).collect()}

    cat = Catalog(str(tmp_path / "resumed"))
    s1 = lineage.run_extraction(spark, first_parts(pages), cat, "run-1",
                                num_partitions=8)  # simulated crash
    assert s1["parts_done"] == 3
    s2 = lineage.run_extraction(spark, pages, cat, "run-2", num_partitions=8)
    assert s2["parts_skipped"] == 3
    assert s2["parts_done"] == 5
    got = {r.url: r.body_text for r in
           cat.read(spark, lineage.RESULTS_TABLE).collect()}
    assert got == full  # byte-identical, no dups, nothing missing

    # a third run is a no-op
    s3 = lineage.run_extraction(spark, pages, cat, "run-3", num_partitions=8)
    assert s3 == {"parts_done": 0, "parts_skipped": 8, "rows_written": 0,
                  "parts_total": 8}

    # lineage covers every partition exactly once
    lin = cat.read(spark, lineage.LINEAGE_TABLE)
    parts = [r.part_id for r in lin.select("part_id").collect()]
    assert sorted(parts) == sorted(set(parts))
    assert len(parts) == 8
    assert lin.agg(F.sum("n_rows")).first()[0] == len(full)


def test_pages_through_catalog_roundtrip(spark, pages, tmp_path):
    """The production shape: pages land in the Iceberg-style table first,
    extraction reads the committed snapshot (S1/S6)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (
        extract_pages,
    )

    cat = Catalog(str(tmp_path))
    cat.overwrite("pages", pages)
    stored = cat.read(spark, "pages")
    assert stored.count() == pages.count()
    res = extract_pages(stored, num_partitions=4)
    assert res.filter("status = 'success'").count() > 0


def test_lineage_metrics_shape(spark, pages, tmp_path):
    cat = Catalog(str(tmp_path))
    lineage.run_extraction(spark, pages, cat, "r", num_partitions=4)
    lin = cat.read(spark, lineage.LINEAGE_TABLE)
    assert set(lin.columns) >= {"run_id", "part_id", "n_rows", "bytes_in",
                                "bytes_out", "blocks_kept", "blocks_dropped",
                                "parse_failures", "n_failed", "committed_at"}
    assert lin.agg(F.sum("bytes_in")).first()[0] > 0
    agg = lin.agg(F.sum("blocks_kept"), F.sum("n_failed")).first()
    assert agg[0] > 0 and agg[1] > 0  # empty-flavor pages land as failed rows


def test_resume_after_torn_transaction(spark, pages, tmp_path, monkeypatch):
    """ADVICE regression: crash BETWEEN the results append and the checkpoint
    commit must not duplicate rows on resume — the orphaned results/lineage
    appends are rolled back (metadata-only) before the rerun re-extracts."""
    run_full = Catalog(str(tmp_path / "full"))
    lineage.run_extraction(spark, pages, run_full, "run-a", num_partitions=8)
    full = {r.url: r.body_text for r in
            run_full.read(spark, lineage.RESULTS_TABLE).collect()}

    cat = Catalog(str(tmp_path / "torn"))
    # first: 3 partitions commit cleanly
    lineage.run_extraction(spark, first_parts(pages), cat, "run-1",
                           num_partitions=8)
    # second: results+lineage appended for the remaining 5 parts, then crash
    with monkeypatch.context() as m:
        crash_before_checkpoint(m)
        with pytest.raises(RuntimeError, match="simulated crash"):
            lineage.run_extraction(spark, pages, cat, "run-2",
                                   num_partitions=8)
    # torn state: all 8 parts' rows present but only 3 parts checkpointed —
    # a naive resume would re-extract 5 parts and duplicate their rows
    assert cat.read(spark, lineage.RESULTS_TABLE).count() == len(full)

    # resume: must roll back the orphans, re-extract the 5 parts, no dups
    s3 = lineage.run_extraction(spark, pages, cat, "run-3", num_partitions=8)
    assert s3["parts_skipped"] == 3
    assert s3["parts_done"] == 5
    got = [r for r in cat.read(spark, lineage.RESULTS_TABLE).collect()]
    by_url = {}
    for r in got:
        assert r.url not in by_url, f"duplicate row for {r.url}"
        by_url[r.url] = r.body_text
    assert by_url == full
    # lineage has no orphan rows either: one row per (part, committed run)
    lin = cat.read(spark, lineage.LINEAGE_TABLE).collect()
    assert len(lin) == 8
    assert sorted({r.part_id for r in lin}) == list(range(8))


def test_failed_commit_releases_results_cache(spark, pages, tmp_path,
                                             monkeypatch):
    """A commit that raises part-way (here the lineage append) must still
    unpersist the cached results: a long-lived session would otherwise
    keep every failed run's extraction output cached."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    append = Catalog.append

    def failing_append(self, table, df, *args, **kwargs):
        if table == lineage.LINEAGE_TABLE:
            raise OSError("lineage append failed")
        return append(self, table, df, *args, **kwargs)

    monkeypatch.setattr(Catalog, "append", failing_append)
    with pytest.raises(OSError, match="lineage append failed"):
        lineage.run_extraction(spark, pages, Catalog(str(tmp_path)), "r",
                               num_partitions=4)
    assert cache.isEmpty()


def test_pages_without_warc_ts_are_rejected(spark, pages, tmp_path):
    """Results are always partitioned by crawl day, so pages without the
    warc_ts it is derived from raise ValueError naming the column — in
    the batch pipeline and in the streaming sink — and commit nothing."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.streaming import (
        extract_stream,
    )

    no_ts = pages.drop("warc_ts")
    cat = Catalog(str(tmp_path / "cat"))
    lineage.run_extraction(spark, first_parts(pages), cat, "run-a",
                           num_partitions=8)
    versions = {t: [s["version"] for s in cat.snapshots(t)]
                for t in (lineage.RESULTS_TABLE, lineage.LINEAGE_TABLE,
                          lineage.CHECKPOINT_TABLE)}
    with pytest.raises(ValueError, match="warc_ts"):
        lineage.run_extraction(spark, no_ts, cat, "run-b", num_partitions=8)
    assert {t: [s["version"] for s in cat.snapshots(t)]
            for t in versions} == versions

    pages_dir = str(tmp_path / "pages")
    no_ts.write.parquet(pages_dir)
    with pytest.raises(ValueError, match="warc_ts"):
        extract_stream.stream_to_catalog(
            spark, pages_dir, cat, "streamed", str(tmp_path / "ck"))
    assert not cat.exists("streamed")


def test_partitioned_append_onto_unpartitioned_table_is_rejected(
        spark, pages, tmp_path):
    """A table whose recorded schema has no warc_day holds files without
    it; appending day-partitioned files would make day-pruned reads drop
    the old rows. The append raises before staging anything: the
    snapshot and the data/ staging dirs are unchanged."""
    import os

    cat = Catalog(str(tmp_path))
    cat.append("t", pages.select("url"), txn="old")
    data = os.path.join(str(tmp_path), "t", "data")
    stages = sorted(os.listdir(data))
    snaps = cat.snapshots("t")
    dayed = lineage.with_warc_day(pages).select("url", lineage.WARC_DAY_COL)
    with pytest.raises(ValueError, match=lineage.WARC_DAY_COL):
        cat.append("t", dayed, txn="new",
                   partition_by=[lineage.WARC_DAY_COL])
    assert cat.snapshots("t") == snaps
    assert sorted(os.listdir(data)) == stages
    assert cat.txns("t") == {"old"}


def test_lineage_carries_measured_wall_ms(spark, pages, tmp_path):
    """A8: run_extraction records REAL per-partition extraction wall time
    (not byte estimates); cost + throughput metrics consume it."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        evaluate as ev,
    )

    cat = Catalog(str(tmp_path))
    lineage.run_extraction(spark, pages, cat, "run-t", num_partitions=4)
    lin = cat.read(spark, lineage.LINEAGE_TABLE)
    rows = lin.collect()
    assert all(r.wall_ms is not None and r.wall_ms > 0 for r in rows)
    perf = ev.performance_metrics(lin).first()
    assert perf.n_docs == sum(r.n_rows for r in rows)
    assert perf.docs_per_cpu_sec > 0
    assert 0 < perf.avg_ms_per_doc < 1000  # sub-second per synthetic page
    cost = {r.part_id: r for r in ev.cost_metrics(lin).collect()}
    for r in rows:  # measured path: cost == wall_sec * rate
        exp = round(r.wall_ms / 1000.0 / 3600.0 * ev.CPU_RATE_PER_HOUR, 8)
        assert abs(cost[r.part_id].est_cost_usd - exp) < 1e-9


def test_vacuum_reclaims_expired_and_orphaned_files(spark, tmp_path):
    """Iceberg expire-snapshots analogue: files only referenced by old
    snapshots (or left behind by rollbacks) are deleted; the current
    snapshot still reads identically."""
    import os

    cat = Catalog(str(tmp_path))
    cat.overwrite("t", spark.range(10))
    cat.overwrite("t", spark.range(7))       # v1's files now unreferenced
    cat.append("t", spark.range(7, 10), txn="tx-dead")
    cat.remove_orphan_appends("t", live_txns=set())  # roll the append back
    assert cat.read(spark, "t").count() == 7

    data_root = os.path.join(str(tmp_path), "t", "data")
    def n_parquet():
        return sum(len([f for f in fs if f.endswith(".parquet")])
                   for _, _, fs in os.walk(data_root))

    before = n_parquet()
    removed = cat.vacuum("t", min_age_secs=0)
    assert removed > 0
    assert n_parquet() == before - removed
    # current data intact after GC
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == list(range(7))
    # vacuum is idempotent
    assert cat.vacuum("t", min_age_secs=0) == 0


def test_staging_dirs_enter_and_leave_snapshots_whole(spark, tmp_path):
    """Vacuum reclaims only whole staging dirs, which is right because one
    `_stage` call's files share one txn and enter and leave snapshots
    together: after partitioned appends, a torn-run rollback, compact and
    overwrite, every staging dir under data/ is wholly referenced or wholly
    unreferenced by the current snapshot."""
    import os

    cat = Catalog(str(tmp_path))
    data_root = os.path.join(str(tmp_path), "t", "data")

    def assert_whole():
        cur = cat._read_current("t")
        keep = {os.path.realpath(r["path"]) for e in cur["manifests"]
                for r in cat._read_manifest(e)}
        for stage in os.listdir(data_root):
            files = [os.path.realpath(os.path.join(r, f))
                     for r, _, fs in os.walk(os.path.join(data_root, stage))
                     for f in fs if f.endswith(".parquet")]
            assert len({f in keep for f in files}) <= 1, stage

    def days(lo, hi):
        return spark.range(lo, hi).withColumn(
            "day", (F.col("id") % 3).cast("string"))

    cat.append("t", days(0, 30), txn="a1", partition_by=["day"])
    cat.append("t", days(30, 60), txn="a2", partition_by=["day"])
    cat.append("t", days(60, 90), txn="torn", partition_by=["day"])
    assert_whole()
    cat.remove_orphan_appends("t", live_txns={"a1", "a2"})
    assert_whole()
    assert cat.compact(spark, "t")["files_after"] == 3
    assert_whole()
    cat.overwrite("t", cat.read(spark, "t").filter("id < 45"))
    assert_whole()
    assert cat.vacuum("t", min_age_secs=0) > 0
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == \
        list(range(45))


def test_txn_check_metadata_opens_stay_flat(spark, tmp_path, monkeypatch):
    """The exactly-once replay check (txns()) runs per streaming micro-batch
    and per CLI run; its metadata cost must be O(1) file opens no matter how
    many commits the table has seen — NOT a walk of every version json, let
    alone every manifest (the round-4 regression class). 200 commits stand
    in for a stream's life; the committed txn set stays exact throughout.
    Opens are counted by a module-level `open` shim on the table layer."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables as T

    opened = []

    def counting_open(path, *args, **kwargs):
        opened.append(path)
        return open(path, *args, **kwargs)

    monkeypatch.setattr(T, "open", counting_open, raising=False)
    cat = Catalog(str(tmp_path))
    df = spark.range(2)
    costs = []
    for b in range(200):
        txn = f"stream:t:{b}"
        assert txn not in cat.txns("t")
        cat.append("t", df, txn=txn)
        opened.clear()
        got = cat.txns("t")
        costs.append(len(opened))
        assert got == {f"stream:t:{i}" for i in range(b + 1)}
    assert max(costs) == min(costs) == 2  # _current + current snapshot only


def test_txns_survive_version_expiry(spark, tmp_path):
    """vacuum expires old v<N>.json metadata, but the cumulative all_txns
    summary in the current snapshot keeps the replay check exact — a
    replayed batch whose version json was expired must still be a no-op."""
    import os

    cat = Catalog(str(tmp_path))
    for b in range(30):
        cat.append("t", spark.range(2), txn=f"b:{b}")
        cat.vacuum("t", min_age_secs=0)
    meta = os.path.join(str(tmp_path), "t", "_meta")
    n_versions = len([f for f in os.listdir(meta)
                      if f.startswith("v") and f.endswith(".json")])
    assert n_versions == 1  # the current snapshot, never the full history
    assert cat.txns("t") == {f"b:{i}" for i in range(30)}
    # history compaction: one line per expired version
    hist = os.path.join(meta, "_history.json")
    assert os.path.exists(hist)
    with open(hist) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    assert len(lines) >= 25
    # _meta total file count is bounded (manifest merge + version expiry)
    assert len(os.listdir(meta)) < 40
    # current data unaffected
    assert cat.read(spark, "t").count() == 60
    # an overwrite restarts the set at its own txn: the history it
    # replaced goes with the rows
    cat.overwrite("t", spark.range(3), txn="r1")
    cat.append("t", spark.range(2), txn="x")
    assert cat.txns("t") == {"r1", "x"}
    cat.overwrite("t", spark.range(1), txn="r2")
    assert cat.txns("t") == {"r2"}


def test_meta_dir_bounded_across_append_vacuum_cycles(spark, tmp_path):
    """100 append+vacuum cycles: the _meta file count must stay flat (the
    round-4 layout kept every v<N>.json forever); vacuum keeps the current
    snapshot, and time travel to an expired version fails loudly."""
    import os

    cat = Catalog(str(tmp_path))
    sizes = []
    meta = os.path.join(str(tmp_path), "t", "_meta")
    for b in range(100):
        cat.append("t", spark.range(1), txn=f"c:{b}")
        cat.vacuum("t", min_age_secs=0)
        sizes.append(len(os.listdir(meta)))
    # bounded: steady state (the manifest-merge tiers take ~30 cycles to
    # fill) never exceeds a flat ceiling, and shows no growth trend over
    # the back half — the round-4 layout would be >100 version jsons alone
    assert max(sizes) < 40
    assert max(sizes[80:]) <= max(sizes[30:80])
    # the current version is retained and reads; an expired one raises
    cur_v = cat._read_current("t")["version"]
    assert [s["version"] for s in cat.snapshots("t")] == [cur_v]
    assert cat.read(spark, "t", version=cur_v).count() == 100
    with pytest.raises(FileNotFoundError, match="not a committed snapshot"):
        cat.read(spark, "t", version=cur_v - 1)


def test_rollback_never_touches_overwrite_commits(spark, tmp_path):
    """ADVICE regression: remove_orphan_appends must only roll back
    APPEND-originated manifests. An overwrite's txn (replay detection for
    index rebuilds) outside the live set must not drop the live table."""
    cat = Catalog(str(tmp_path))
    cat.overwrite("idx", spark.range(10), txn="cli:idx:rebuild-1")
    cat.append("idx", spark.range(10, 12), txn="dead-append")
    # a caller reconciling against an unrelated marker table passes a live
    # set that contains NEITHER txn: only the append may be rolled back
    removed = cat.remove_orphan_appends("idx", live_txns=set())
    assert removed > 0
    assert sorted(r.id for r in cat.read(spark, "idx").collect()) == \
        list(range(10))


def test_schema_evolution_additive_append(spark):
    """Iceberg add-column semantics: an append may carry new columns; the
    recorded schema evolves, reads use IT (not a sampled footer), and
    pre-evolution files surface null for the new columns. Type changes on
    existing columns fail loudly."""
    import tempfile

    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as tmp:
        cat = Catalog(tmp)
        cat.append("t", spark.range(3))
        cat.append("t", spark.range(3, 6).withColumn("lang", F.lit("en")))
        df = cat.read(spark, "t")
        assert df.columns == ["id", "lang"]
        rows = {r.id: r.lang for r in df.collect()}
        assert rows == {0: None, 1: None, 2: None,
                        3: "en", 4: "en", 5: "en"}
        # time travel to the pre-evolution snapshot keeps the old schema
        assert cat.read(spark, "t", version=1).columns == ["id"]
        # an append missing the evolved column still works (nulls)
        cat.append("t", spark.range(6, 7))
        assert cat.read(spark, "t").filter("id = 6").first().lang is None
        # type conflict: fail loudly, never corrupt reads
        with pytest.raises(ValueError, match="type conflict"):
            cat.append("t", spark.range(7, 8).withColumn(
                "lang", F.lit(3).cast("int")))


def test_compact_merges_small_files_preserving_rows_and_txns(spark,
                                                             tmp_path):
    """Iceberg rewriteDataFiles analogue: 20 micro-batch-style appends ->
    compact -> far fewer files, identical rows, exactly-once txn history
    intact (a replayed batch is still a no-op), rollback surgery never
    touches the compacted manifest, vacuum reclaims the superseded files."""
    import os

    cat = Catalog(str(tmp_path))
    for b in range(20):
        cat.append("t", spark.range(b * 10, b * 10 + 10), txn=f"s:{b}")
    before_files = len(cat.scan_files("t"))
    assert before_files >= 20
    stats = cat.compact(spark, "t")
    assert stats["files_after"] < before_files
    assert len(cat.scan_files("t")) == stats["files_after"]
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == \
        list(range(200))
    # txn history survives compaction: replay checks stay exact
    assert cat.txns("t") == {f"s:{i}" for i in range(20)}
    # the compacted manifest is not an append: rollback surgery with a
    # foreign live set must not drop it
    assert cat.remove_orphan_appends("t", live_txns=set()) == 0
    assert cat.read(spark, "t").count() == 200
    # superseded files reclaimed; data still intact
    assert cat.vacuum("t", min_age_secs=0) > 0
    assert cat.read(spark, "t").count() == 200
    # idempotent-ish: a second compact at the same target is a no-op
    again = cat.compact(spark, "t")
    assert again["version"] is None
    data_root = os.path.join(str(tmp_path), "t", "data")
    n_parquet = sum(len([f for f in fs if f.endswith(".parquet")])
                    for _, _, fs in os.walk(data_root))
    assert n_parquet == stats["files_after"]


def test_compact_preserves_partition_layout_and_pruning(spark, tmp_path):
    """Compacting a day-partitioned table must keep the hive layout: the
    manifest-level prune opens only the matching day's files afterwards."""
    from pyspark.sql import functions as F

    cat = Catalog(str(tmp_path))
    for b in range(6):
        df = spark.range(b * 10, b * 10 + 10).withColumn(
            "day", F.when(F.col("id") % 2 == 0, "2025-01-01")
                    .otherwise("2025-01-02"))
        cat.append("t", df, txn=f"d:{b}", partition_by=["day"])
    stats = cat.compact(spark, "t", target_file_bytes=1 << 30)
    assert stats["files_after"] < stats["files_before"]
    got = cat.read(spark, "t", where={"day": "2025-01-01"})
    assert sorted(r.id for r in got.collect()) == list(range(0, 60, 2))
    st = cat.last_scan_stats
    assert st["files_selected"] < stats["files_after"]  # pruning pruned
    assert cat.read(spark, "t").count() == 60


def test_partitioned_compact_at_one_file_per_value_is_a_noop(spark, tmp_path):
    """A rewrite keeps one file per partition value, so once a two-day
    table is compacted to two files (more than its byte target of one),
    further compacts must commit nothing rather than rewrite it again."""
    cat = Catalog(str(tmp_path))
    for b in range(6):
        df = spark.range(b * 10, b * 10 + 10).withColumn(
            "day", F.when(F.col("id") % 2 == 0, "2025-01-01")
                    .otherwise("2025-01-02"))
        cat.append("t", df, txn=f"d:{b}", partition_by=["day"])
    stats = cat.compact(spark, "t")
    assert stats["version"] is not None and stats["files_after"] == 2
    n_snaps = len(cat.snapshots("t"))
    for _ in range(2):
        again = cat.compact(spark, "t")
        assert again["version"] is None
        assert again["files_before"] == again["files_after"] == 2
    assert len(cat.snapshots("t")) == n_snaps
    assert cat.read(spark, "t").count() == 60


def test_partitioned_compact_sizes_files_by_target(spark, tmp_path):
    """A partitioned compact sizes its files by target_file_bytes, not by
    the session's AQE advisory size: a one-day table bigger than a small
    advisory size compacts to one file, a second compact is a no-op, and
    the session's setting is left as it was."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        cat = Catalog(str(tmp_path))
        for b in range(4):
            df = spark.range(b * 5000, (b + 1) * 5000).select(
                "id", F.lit("2025-01-01").alias("day"),
                F.sha2(F.col("id").cast("string"), 256).alias("pad"))
            cat.append("t", df, txn=f"d:{b}", partition_by=["day"])
        stats = cat.compact(spark, "t")
        assert stats["version"] is not None and stats["files_after"] == 1
        assert len(cat.scan_files("t")) == 1
        assert cat.compact(spark, "t")["version"] is None
        assert cat.read(spark, "t").count() == 20000
        assert spark.conf.get(key) == "16k"
    finally:
        spark.conf.set(key, old)


def test_vacuum_removes_crc_sidecars_and_success_markers(spark, tmp_path):
    """When vacuum deletes a parquet file it must also delete its Hadoop
    .crc sidecar; a staging dir left with zero data files loses its _SUCCESS
    marker too (otherwise stale checksums/markers accumulate forever)."""
    import os

    cat = Catalog(str(tmp_path))
    cat.overwrite("t", spark.range(10))
    v1 = cat.scan_files("t")
    cat.append("t", spark.range(10, 13))  # second staging dir, still live
    cat.overwrite("t", spark.range(5))    # everything before now expired
    cat.vacuum("t", min_age_secs=0)

    data_root = os.path.join(str(tmp_path), "t", "data")
    leftovers = []
    for root, _, fs in os.walk(data_root):
        for f in fs:
            if f.endswith(".crc") and f != "._SUCCESS.crc":
                # a .crc may only exist next to its live data file
                data = os.path.join(root, f[1:-4])
                if not os.path.exists(data):
                    leftovers.append(os.path.join(root, f))
            if f == "_SUCCESS":
                has_parquet = any(x.endswith(".parquet")
                                  for x in os.listdir(root))
                if not has_parquet:
                    leftovers.append(os.path.join(root, f))
    assert leftovers == [], leftovers
    # expired v1 staging dirs are gone entirely (rmtree path)
    assert all(not os.path.exists(p) for p in v1)
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == list(range(5))


def test_catalog_model_random_op_sequences(spark, tmp_path):
    """Model-based check of the whole table layer: a seeded random sequence
    of append / tagged-append / overwrite / rollback / vacuum / compact /
    schema-evolving ops is mirrored against a plain in-memory reference
    model; after every mutation the committed rows and the txn history
    must match the model exactly. Catches cross-feature interactions no
    single-feature test sees (e.g. compact after rollback after
    evolution)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(0x5EED5)
    cat = Catalog(str(tmp_path / "m"))
    model_rows: dict[int, str | None] = {}   # id -> lang (None pre-evolution)
    model_txns: set[str] = set()
    next_id = 0
    evolved = False

    def _mkdf(ids, lang=None):
        df = spark.createDataFrame([(i,) for i in ids], "id long")
        if lang is not None:
            df = df.withColumn("lang", F.lit(lang))
        return df

    for step in range(28):
        op = rng.choice(["append", "append", "tagged", "tagged", "dead",
                         "overwrite", "vacuum", "compact"])
        ids = list(range(next_id, next_id + rng.randint(1, 4)))
        next_id = ids[-1] + 1
        if op == "append":
            lang = f"l{step}" if (evolved or rng.random() < 0.3) else None
            evolved = evolved or lang is not None
            cat.append("m", _mkdf(ids, lang))
            model_rows.update({i: lang for i in ids})
        elif op == "tagged":
            txn = f"t{step}"
            cat.append("m", _mkdf(ids, f"l{step}" if evolved else None),
                       txn=txn)
            model_txns.add(txn)
            model_rows.update({i: (f"l{step}" if evolved else None)
                               for i in ids})
        elif op == "dead":
            # torn transaction: tagged append then rollback against the
            # live set that excludes it
            txn = f"dead{step}"
            cat.append("m", _mkdf(ids, f"l{step}" if evolved else None),
                       txn=txn)
            model_txns.add(txn)  # txn history keeps rolled-back tags
            removed = cat.remove_orphan_appends(
                "m", live_txns=model_txns - {txn})
            assert removed >= 1
        elif op == "overwrite":
            txn = f"ow{step}"
            cat.overwrite("m", _mkdf(ids, f"l{step}" if evolved else None),
                          txn=txn)
            model_txns = {txn}  # the replaced history goes with the rows
            model_rows = {i: (f"l{step}" if evolved else None) for i in ids}
            evolved = evolved  # overwrite re-records ITS schema
        elif op == "vacuum":
            rng.choice([1, 2, 3])  # keeps the seeded op sequence unchanged
            cat.vacuum("m", min_age_secs=0)
        elif op == "compact":
            if cat.exists("m") and model_rows:
                st = cat.compact(spark, "m")
                assert st["files_after"] <= st["files_before"]
        if not cat.exists("m"):
            continue
        got = {(r.id, getattr(r, "lang", None))
               for r in cat.read(spark, "m").collect()}
        want = {(i, v) for i, v in model_rows.items()}
        # overwrite resets the recorded schema to the overwriting frame's:
        # pre-evolution ids then read without a lang column at all
        if got and "lang" not in cat.read(spark, "m").columns:
            want = {(i, None) for i, _ in want}
            got = {(i, None) for i, _ in got}
        assert got == want, f"step {step} op {op}"
        assert cat.txns("m") == model_txns, f"step {step} op {op}"


def test_concurrent_appends_lose_no_commits(spark, tmp_path):
    """Optimistic concurrency: parallel appends race for version files;
    losers rebase and retry, so EVERY writer's rows and txn land (the old
    last-flip-wins protocol silently dropped one of two racing commits)."""
    from concurrent.futures import ThreadPoolExecutor

    cat = Catalog(str(tmp_path))

    def one(i: int) -> int:
        return cat.append("t", spark.range(i * 10, i * 10 + 10),
                          txn=f"w:{i}")

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(one, range(8)))
    assert sorted(versions) == list(range(1, 9))  # serialized, none lost
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == \
        list(range(80))
    assert cat.txns("t") == {f"w:{i}" for i in range(8)}


def test_commit_survives_stale_or_missing_hint(spark, tmp_path):
    """The atomic v<N>.json link IS the commit point; _current is only an
    advisory hint. A writer that crashed between the link and the hint
    write (or a racing hint write that REGRESSED the pointer) must leave a
    fully visible commit: readers probe forward, the next append continues
    at v<N+1>, and no manual repair step exists — the round-5 liveness
    hole (a wedged claimed-but-unflipped version) is structurally gone."""
    import os

    cat = Catalog(str(tmp_path))
    cat.append("t", spark.range(5), txn="a")
    cat.append("t", spark.range(5, 8), txn="b")
    hint = os.path.join(str(tmp_path), "t", "_meta", "_current")
    # simulate the crash/regression: the hint says v1 while v2 is durable
    with open(hint, "w") as f:
        f.write("1")
    assert cat.read(spark, "t").count() == 8          # probe found v2
    assert [s["version"] for s in cat.snapshots("t")] == [1, 2]
    assert cat.read(spark, "t", version=2).count() == 8  # time travel too
    assert cat.txns("t") == {"a", "b"}
    cat.append("t", spark.range(8, 10), txn="c")      # continues at v3
    assert cat._read_current("t")["version"] == 3
    with open(hint) as f:
        assert f.read().strip() == "3"                 # hint self-healed
    # a MISSING hint recovers from the directory listing
    os.remove(hint)
    assert cat.read(spark, "t").count() == 10
    cat.append("t", spark.range(10, 11), txn="d")
    assert cat._read_current("t")["version"] == 4


def test_vacuum_age_gate_protects_inflight_commit(spark, tmp_path):
    """A commit in flight has staged data + a manifest on disk that no
    snapshot references YET (the snapshot link comes last). Vacuum must
    not reclaim such young unreferenced files (ADVICE round-5: deleting
    them let the subsequent link publish a snapshot over deleted files);
    past the age gate they are genuine orphans and go."""
    import os

    cat = Catalog(str(tmp_path))
    cat.append("t", spark.range(5))
    # simulate the in-flight writer: stage data + manifest, no snapshot yet
    rows = cat._stage("t", spark.range(100, 105), txn="inflight")
    entry = cat._write_manifest("t", rows, ["inflight"])
    stage_dir = os.path.dirname(rows[0]["path"])
    while os.path.basename(os.path.dirname(stage_dir)) != "data":
        stage_dir = os.path.dirname(stage_dir)
    assert cat.vacuum("t") == 0                        # age gate: untouched
    assert os.path.exists(entry["manifest"])
    assert all(os.path.exists(r["path"]) for r in rows)
    # ...so the in-flight writer can still land its commit afterwards
    cur = cat._read_current("t")
    cat._commit("t", cur["manifests"] + [entry], "append", 1, txn="inflight",
                schema=cur["schema"], all_txns=cur["all_txns"])
    assert cat.read(spark, "t").count() == 10
    # a genuinely dead orphan (same shape, past the gate) is reclaimed
    dead = cat._stage("t", spark.range(200, 203), txn="dead")
    dentry = cat._write_manifest("t", dead, ["dead"])
    old = 10_000
    ddir = os.path.dirname(dead[0]["path"])

    def _backdate(p):
        os.utime(p, (os.path.getmtime(p) - old, os.path.getmtime(p) - old))

    _backdate(dentry["manifest"])
    _backdate(ddir)
    for root, dirs, fs in os.walk(ddir):
        for name in dirs + fs:  # incl. _SUCCESS/.crc markers — the gate
            _backdate(os.path.join(root, name))  # takes the NEWEST mtime
    assert cat.vacuum("t") == len(dead)
    assert not os.path.exists(dentry["manifest"])
    assert cat.read(spark, "t").count() == 10


def test_compact_rebases_over_concurrent_append(spark, tmp_path):
    """Round-5 verdict #1: a compact that loses its version race to an
    append must REBASE (keep the racing append's manifest — disjoint new
    data — and replace only the manifests it rewrote), not abort. Zero
    rows lost on either side; txn history intact."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
        Catalog as Cat,
    )

    class RacyCatalog(Cat):
        """Injects one racing append between compact's snapshot read and
        its commit attempt — a deterministic replay of the streaming-sink
        race."""
        raced = False

        def _commit(self, table, manifests, operation, parent, **kw):
            if operation == "compact" and not self.raced:
                self.raced = True
                Cat(self.root).append(table, spark.range(900, 905),
                                      txn="racer")
            return super()._commit(table, manifests, operation, parent, **kw)

    cat = RacyCatalog(str(tmp_path))
    for i in range(6):
        cat.append("t", spark.range(i * 10, i * 10 + 10).coalesce(1),
                   txn=f"s:{i}")
    stats = cat.compact(spark, "t", target_file_bytes=1 << 30)
    assert cat.raced and stats["version"] is not None
    got = sorted(r.id for r in cat.read(spark, "t").collect())
    assert got == sorted(list(range(60)) + list(range(900, 905)))
    assert cat.txns("t") == {f"s:{i}" for i in range(6)} | {"racer"}
    ops = [s["operation"] for s in cat.snapshots("t")]
    assert ops[-1] == "compact" and "append" in ops[-3:]


def test_compact_rebase_handles_merge_mixed_manifest(spark, tmp_path):
    """Hardest rebase case: the racing append's small-manifest merge folds
    manifests compact REWROTE together with the racer's NEW rows into one
    manifest. The rebase must split that manifest — dropping the replaced
    rows (the compacted entry carries them) while keeping the racer's."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables as T

    class RacyCatalog(T.Catalog):
        raced = False

        def _commit(self, table, manifests, operation, parent, **kw):
            if operation == "compact" and not self.raced:
                self.raced = True
                # MERGE_MIN small manifests exist -> this append merges
                T.Catalog(self.root).append(
                    table, spark.range(900, 903).coalesce(1), txn="racer")
            return super()._commit(table, manifests, operation, parent, **kw)

    cat = RacyCatalog(str(tmp_path))
    for i in range(T.MERGE_MIN - 1):
        cat.append("t", spark.range(i * 3, i * 3 + 3).coalesce(1),
                   txn=f"s:{i}")
    assert len(cat._read_current("t")["manifests"]) == T.MERGE_MIN - 1
    stats = cat.compact(spark, "t", target_file_bytes=1 << 30)
    assert cat.raced and stats["version"] is not None
    got = sorted(r.id for r in cat.read(spark, "t").collect())
    want = sorted(list(range(3 * (T.MERGE_MIN - 1))) + [900, 901, 902])
    assert got == want
    # the racer's rows stayed ROLLBACK-REACHABLE (its manifest survived
    # with its txn; compact's own entry is untagged by design)
    removed = cat.remove_orphan_appends(
        "t", live_txns={f"s:{i}" for i in range(T.MERGE_MIN - 1)})
    assert removed >= 1
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == \
        sorted(range(3 * (T.MERGE_MIN - 1)))


def test_compact_aborts_when_concurrent_rollback_removed_rows(spark,
                                                              tmp_path):
    """A concurrent ROLLBACK removes rows compact already folded into its
    rewrite; rebasing would resurrect them — compact must abort loudly."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
        Catalog as Cat,
        ConcurrentCommitError,
    )

    class RacyCatalog(Cat):
        raced = False

        def _commit(self, table, manifests, operation, parent, **kw):
            if operation == "compact" and not self.raced:
                self.raced = True
                other = Cat(self.root)
                other.remove_orphan_appends(
                    table, live_txns={"keep-0", "keep-1"})
            return super()._commit(table, manifests, operation, parent, **kw)

    cat = RacyCatalog(str(tmp_path))
    cat.append("t", spark.range(10).coalesce(1), txn="keep-0")
    cat.append("t", spark.range(10, 20).coalesce(1), txn="keep-1")
    cat.append("t", spark.range(20, 30).coalesce(1), txn="torn")
    with pytest.raises(ConcurrentCommitError, match="stale"):
        cat.compact(spark, "t", target_file_bytes=1 << 30)
    # the rollback's result is intact; compact's staged output is orphaned
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == \
        list(range(20))


def test_compact_commits_under_sustained_appends(spark, tmp_path):
    """The round-5 'done' bar: a background writer appending continuously
    (a streaming sink stand-in) while compact runs — compact must commit
    within its retry budget and ZERO rows may be lost on either side."""
    import threading
    import time as _time

    cat = Catalog(str(tmp_path))
    for i in range(8):
        cat.append("t", spark.range(i * 10, i * 10 + 10).coalesce(1),
                   txn=f"pre:{i}")

    stop = threading.Event()
    appended: list[int] = []

    def appender():
        i = 0
        while not stop.is_set() and i < 40:
            lo = 1000 + i * 5
            Catalog(str(tmp_path)).append(
                "t", spark.range(lo, lo + 5).coalesce(1), txn=f"bg:{i}")
            appended.append(i)
            i += 1
            _time.sleep(0.05)

    th = threading.Thread(target=appender, daemon=True)
    th.start()
    try:
        _time.sleep(0.15)  # let a few appends land first
        stats = cat.compact(spark, "t", target_file_bytes=1 << 30)
    finally:
        stop.set()
        th.join(timeout=60)
    assert stats["version"] is not None  # committed despite contention
    want = set(range(80))
    for i in appended:
        want |= set(range(1000 + i * 5, 1000 + i * 5 + 5))
    got = sorted(r.id for r in cat.read(spark, "t").collect())
    assert got == sorted(want)
    assert {f"bg:{i}" for i in appended} <= cat.txns("t")


def test_commit_crash_injection_invariants(spark, tmp_path):
    """Prescription #6: randomized crash injection at every commit step.
    Invariants after ANY crash point: (1) the table stays readable with
    exactly the acked rows, (2) an unacked commit is either fully
    invisible or — iff the crash hit AFTER the atomic snapshot link —
    fully visible with its txn recorded, (3) the next writer always
    succeeds with no manual repair."""
    import os
    import random

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables as T

    class Boom(RuntimeError):
        pass

    class CrashyCatalog(T.Catalog):
        crash_at = None  # "pre_link" | "post_link" (pre hint) | None

        def _commit(self, table, manifests, operation, parent, **kw):
            if self.crash_at == "pre_link":
                raise Boom("crashed before the snapshot link")
            if self.crash_at == "post_link":
                real_replace = os.replace

                def no_hint(src, dst):
                    if dst.endswith("_current"):
                        os.remove(src)
                        raise Boom("crashed before the hint write")
                    return real_replace(src, dst)

                os.replace = no_hint
                try:
                    return super()._commit(table, manifests, operation,
                                            parent, **kw)
                finally:
                    os.replace = real_replace
            return super()._commit(table, manifests, operation, parent, **kw)

    rng = random.Random(77)
    cat = CrashyCatalog(str(tmp_path))
    model_rows: set[int] = set()
    model_txns: set[str] = set()
    nxt = 0
    for step in range(30):
        ids = list(range(nxt, nxt + 3))
        nxt += 3
        txn = f"t{step}"
        cat.crash_at = rng.choice([None, None, "pre_link", "post_link"])
        try:
            cat.append("t", spark.range(ids[0], ids[-1] + 1).coalesce(1),
                       txn=txn)
            landed = True
        except Boom:
            landed = False
        cat.crash_at = None
        if landed or cat.exists("t"):
            got_txns = cat.txns("t")
        if landed:
            model_rows.update(ids)
            model_txns.add(txn)
        elif cat.exists("t") and txn in got_txns:
            # crash AFTER the link: the commit is durable (and correctly
            # so — the link is the commit point); the writer's retry/replay
            # layer would detect it via the txn check, exactly once
            model_rows.update(ids)
            model_txns.add(txn)
        if not cat.exists("t"):
            continue
        assert {r.id for r in cat.read(spark, "t").collect()} == model_rows
        assert cat.txns("t") == model_txns
    assert model_txns  # the walk exercised real commits
    # and the table is never wedged: a clean writer always proceeds
    v = cat.append("t", spark.range(500, 502), txn="final")
    assert v == cat._read_current("t")["version"]
    assert {r.id for r in cat.read(spark, "t").collect()} == \
        model_rows | {500, 501}


# -- incremental (CDC-style) reads ------------------------------------------


def test_read_incremental_appends_tagged_by_commit(spark, tmp_path,
                                                  monkeypatch):
    """(since, until] append deltas come back exactly once, tagged with
    the committing version + txn; since=0 streams the full history;
    since==until (and polling an absent table) is an empty feed; a row
    whose file name matches no commit tag fails the read."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables as T

    cat = Catalog(str(tmp_path))
    assert cat.read_incremental(spark, "t", 0).count() == 0  # pre-creation
    v1 = cat.overwrite("t", spark.range(3).withColumn("v", F.col("id")))
    v2 = cat.append("t", spark.range(3, 7).withColumn("v", F.col("id")),
                    txn="run-a")
    v3 = cat.append("t", spark.range(7, 9).withColumn("v", F.col("id")),
                    txn="run-b")
    delta = cat.read_incremental(spark, "t", v1).orderBy("id").collect()
    assert [r.id for r in delta] == [3, 4, 5, 6, 7, 8]
    assert {r._commit_version for r in delta} == {v2, v3}
    assert {r._commit_txn for r in delta if r.id < 7} == {"run-a"}
    assert {r._commit_txn for r in delta if r.id >= 7} == {"run-b"}
    # full history: the creating overwrite is a pure insert
    assert cat.read_incremental(spark, "t", 0).count() == 9
    # bounded until + empty range
    assert cat.read_incremental(spark, "t", v1, v2).count() == 4
    assert cat.read_incremental(spark, "t", v3, v3).count() == 0
    with pytest.raises(ValueError):
        cat.read_incremental(spark, "t", v3 + 1)
    monkeypatch.setattr(T, "_uri_path", lambda p: p + "#")
    with pytest.raises(Exception, match="no commit tag"):
        cat.read_incremental(spark, "t", v1).collect()


def test_uri_path_matches_hadoop_spelling(spark):
    """read_incremental tags rows by matching input_file_name() against
    `_uri_path`, so it must spell every path exactly as Hadoop's
    Path.toUri().getRawPath() does: '+' kept, space/'%'/'#' escaped,
    non-ASCII raw except Unicode spaces and controls."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables as T

    odd = " +%#?[]{}^`|\\\"<>;,=&$@:!~*'()\t\x7fé\u00a0\x85\u2028中😀"
    hadoop = spark._jvm.org.apache.hadoop.fs.Path
    for c in odd:
        p = f"/cat/a{c}b/part-0.parquet"
        assert T._uri_path(p) == hadoop(p).toUri().getRawPath(), repr(c)


def test_read_incremental_skips_compact_rejects_removals(spark, tmp_path):
    """Compaction rewrites files without changing rows -> contributes
    nothing to the feed; overwrite/rollback in range raise (an added-rows
    feed cannot express removals)."""
    cat = Catalog(str(tmp_path))
    v1 = cat.overwrite("t", spark.range(4))
    cat.append("t", spark.range(4, 6), txn="keep")
    stats = cat.compact(spark, "t")
    vc = stats["version"]
    delta = cat.read_incremental(spark, "t", v1, vc).orderBy("id").collect()
    assert [r.id for r in delta] == [4, 5]  # compact contributed nothing
    # appends after the compact still flow
    v4 = cat.append("t", spark.range(6, 8))
    assert cat.read_incremental(spark, "t", vc, v4).count() == 2
    # overwrite mid-history is a removal -> refuse
    v5 = cat.overwrite("t", spark.range(2))
    with pytest.raises(ValueError, match="overwrite"):
        cat.read_incremental(spark, "t", v4, v5)


@pytest.mark.parametrize("root", ["plain", "x+y z%25"],
                         ids=["plain", "plus_space_pct"])
def test_read_incremental_random_histories_match_model(spark, tmp_path,
                                                       monkeypatch, root):
    """Model-based check: a random append/compact history long enough to
    merge manifests (MERGE_MIN + 2 appends in a row) -> every (since,
    until) window's incremental read equals the model's 'rows added by
    appends in range', each row once, tagged with its commit version and
    txn — also under a catalog root whose name Spark's file URIs spell
    differently ('+', space, '%').
    An append-only window opens only the manifests that are new in it or
    that its merges folded away, each once."""
    import random

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables as T

    rng = random.Random(20260817)
    cat = Catalog(str(tmp_path / root))
    # model: version -> (op, ids added, txn)
    history = {cat.overwrite("t", spark.range(0, 4).withColumn(
        "v", F.col("id"))): ("overwrite", list(range(4)), None)}
    next_id = 4
    plan = ([rng.choice(["append", "compact"]) for _ in range(3)]
            + ["append"] * (T.MERGE_MIN + 2) + ["compact"]
            + [rng.choice(["append", "append", "compact"]) for _ in range(3)])
    for step, op in enumerate(plan):
        if op == "append":
            ids = list(range(next_id, next_id + rng.randint(1, 5)))
            next_id += len(ids)
            df = spark.createDataFrame([(i, i) for i in ids],
                                       "id long, v long")
            v = cat.append("t", df, txn=f"s{step}")
            history[v] = ("append", ids, f"s{step}")
        else:
            cv = cat.compact(spark, "t")["version"]
            if cv is not None:  # no-op compact (already right-sized)
                history[cv] = ("compact", [], None)
    versions = [0] + sorted(history)
    manifests = {0: set()} | {
        x: {e["manifest"] for e in cat._snap("t", x)["manifests"]}
        for x in versions[1:]}
    merges = [x for x in versions[2:] if history[x][0] == "append"
              and len(manifests[x]) <= len(manifests[x - 1])]
    assert merges  # the history really folded manifests

    opened = []
    read_manifest = Catalog._read_manifest

    def counted_read_manifest(self, entry):
        opened.append(entry["manifest"])
        return read_manifest(self, entry)

    monkeypatch.setattr(Catalog, "_read_manifest", counted_read_manifest)
    m = merges[0]
    windows = [(0, versions[-1]), (m - 1, m), (m - 2, m + 1)] + [
        tuple(sorted(rng.sample(versions, 2))) for _ in range(12)]
    for a, b in windows:
        expect = sorted((i, x, history[x][2]) for x in versions
                        if a < x <= b and history[x][0] != "compact"
                        for i in history[x][1])
        opened.clear()
        delta = cat.read_incremental(spark, "t", a, b)
        if all(history[x][0] == "append" for x in versions if a < x <= b):
            touched = set().union(*(manifests[x] for x in versions
                                    if a <= x <= b))
            assert sorted(opened) == sorted(
                touched - (manifests[a] & manifests[b])), (a, b)
        got = sorted((r.id, r._commit_version, r._commit_txn)
                     for r in delta.collect())
        assert got == expect, (a, b)
