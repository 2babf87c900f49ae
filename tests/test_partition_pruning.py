"""Manifest-level partition pruning — the Iceberg move the snapshot layer
gained in round 3: a reader with a partition predicate never opens
non-matching files; row-level exactness comes from the residual filter."""

import os

import pytest

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
    Catalog,
)


@pytest.fixture()
def cat(spark, tmp_path):
    c = Catalog(str(tmp_path))
    df = spark.createDataFrame(
        [(i, ["en", "hi", "zh"][i % 3], f"text {i}") for i in range(90)],
        "doc_id long, lang string, text string")
    c.append("docs", df.repartition(4), partition_by=["lang"])
    return c


def test_pruned_read_matches_full_filter(spark, cat):
    full = {r.doc_id for r in cat.read(spark, "docs").collect()
            if r.lang == "en"}
    pruned = cat.read(spark, "docs", where={"lang": "en"})
    assert {r.doc_id for r in pruned.collect()} == full
    assert set(pruned.columns) == {"doc_id", "lang", "text"}  # no shadow cols


def test_manifest_prunes_file_set(spark, cat):
    all_files = cat.scan_files("docs")
    en_files = cat.scan_files("docs", where={"lang": "en"})
    assert 0 < len(en_files) < len(all_files)
    # every surviving file is recorded as an en-partition file
    snap = cat._read_current("docs")
    recorded = {r["path"]: r.get("partition")
                for e in snap["manifests"] for r in cat._read_manifest(e)}
    assert all(recorded[f] == {"lang": "en"} for f in en_files)


def test_mixed_partitioned_and_plain_appends(spark, cat):
    extra = spark.createDataFrame(
        [(1000, "en", "late unpartitioned row")],
        "doc_id long, lang string, text string")
    cat.append("docs", extra)  # no partition_by: file has no partition info
    # unpartitioned files are conservatively kept under any predicate...
    en = cat.read(spark, "docs", where={"lang": "en"}).collect()
    assert 1000 in {r.doc_id for r in en}
    # ...and the residual filter still drops non-matching rows from them
    hi = cat.read(spark, "docs", where={"lang": "hi"}).collect()
    assert 1000 not in {r.doc_id for r in hi}


def test_vacuum_keeps_live_partitioned_files(spark, cat, tmp_path):
    # supersede the partitioned snapshot with a tagged partitioned append
    # that is then rolled back, and vacuum: the rolled-back files go, and
    # the live (current) partitioned files survive the recursive GC walk
    sub = cat.read(spark, "docs", where={"lang": "zh"})
    cat.append("docs", sub, txn="torn", partition_by=["lang"])
    assert cat.remove_orphan_appends("docs", live_txns=set()) > 0
    removed = cat.vacuum("docs", min_age_secs=0)
    assert removed > 0
    got = cat.read(spark, "docs").collect()
    assert {r.lang for r in got} == {"en", "hi", "zh"}
    assert len(got) == 90


def test_escaped_partition_values_round_trip(spark, tmp_path):
    """Spark hive-escapes dir values (':' -> '%3A'); the manifest must
    record the UNESCAPED value or predicates silently prune matching
    files (review finding — silent row loss)."""
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00"), (2, "2024-01-02 08:30:00")],
        "doc_id long, day string")
    cat.append("t", df, partition_by=["day"])
    got = cat.read(spark, "t", where={"day": "2024-01-01 12:00:00"}).collect()
    assert [r.doc_id for r in got] == [1]
    assert len(cat.scan_files("t", where={"day": "2024-01-01 12:00:00"})) >= 1


def test_non_string_predicate_values_coerce(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame([(1, 2024), (2, 2025)],
                               "doc_id long, year int")
    cat.append("t", df, partition_by=["year"])
    got = cat.read(spark, "t", where={"year": 2024}).collect()
    assert [r.doc_id for r in got] == [1]


def test_fully_pruned_read_returns_empty_frame(spark, cat):
    got = cat.read(spark, "docs", where={"lang": "fr"})
    assert got.count() == 0
    assert set(got.columns) == {"doc_id", "lang", "text"}


def test_read_resolves_current_snapshot_once(spark, cat, monkeypatch):
    """A read takes its schema and its file list from ONE resolution of the
    current snapshot."""
    calls = []
    read_current = Catalog._read_current

    def counted(self, table):
        calls.append(table)
        return read_current(self, table)

    monkeypatch.setattr(Catalog, "_read_current", counted)
    for where in (None, {"lang": "en"}, {"lang": "fr"}):
        calls.clear()
        cat.read(spark, "docs", where=where)
        assert calls == ["docs"], where


def test_read_pairs_schema_and_files_of_one_version(spark, cat, monkeypatch):
    """A schema-evolving append that commits right after a read resolved
    the current snapshot must not leak its files into that read: the read
    keeps the resolved version's schema AND rows."""
    read_current = Catalog._read_current
    raced = []

    def racing(self, table):
        snap = read_current(self, table)
        if not raced:
            raced.append(True)
            self.append("docs", spark.createDataFrame(
                [(1000, "en", "late", 0.5)],
                "doc_id long, lang string, text string, score double"),
                partition_by=["lang"])
        return snap

    monkeypatch.setattr(Catalog, "_read_current", racing)
    got = cat.read(spark, "docs")
    assert raced
    assert got.columns == ["doc_id", "lang", "text"]
    assert sorted(r.doc_id for r in got.collect()) == list(range(90))
    monkeypatch.undo()
    after = cat.read(spark, "docs")
    assert after.columns == ["doc_id", "lang", "text", "score"]
    assert after.count() == 91


def test_zero_match_read_opens_no_manifest(spark, tmp_path, monkeypatch):
    """A predicate that matches nothing on a multi-manifest table returns
    the recorded schema with zero rows, deciding "empty table" vs "no
    match" from the manifest list alone: manifest pruning holds on exactly
    the query it prunes best (e.g. `report --day` for an absent day)."""
    import json

    from pyspark.sql.types import StructType

    cat = Catalog(str(tmp_path))
    for day in ("2025-01-01", "2025-01-02", "2025-01-03"):
        cat.append("t", spark.createDataFrame(
            [(i, day) for i in range(4)], "doc_id long, warc_day string"
        ).coalesce(1), partition_by=["warc_day"])
    snap = cat._read_current("t")
    assert len(snap["manifests"]) == 3
    schema = StructType.fromJson(json.loads(snap["schema"]))
    cat.append("e", spark.createDataFrame(
        [], "doc_id long, warc_day string"), partition_by=["warc_day"])
    opened = []
    read_manifest = Catalog._read_manifest

    def counted(self, entry):
        opened.append(entry.get("manifest"))
        return read_manifest(self, entry)

    monkeypatch.setattr(Catalog, "_read_manifest", counted)
    got = cat.read(spark, "t", where={"warc_day": "1999-01-01"})
    assert got.count() == 0
    assert got.schema == schema
    assert opened == []
    for where in (None, {"warc_day": "1999-01-01"}):
        with pytest.raises(ValueError, match="empty table: e"):
            cat.read(spark, "e", where=where)


def test_rollback_preserves_partition_metadata(spark, tmp_path):
    """remove_orphan_appends' rollback commit must carry forward the
    surviving files' partition values, or pruning silently dies."""
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame(
        [(i, ["en", "hi"][i % 2]) for i in range(20)],
        "doc_id long, lang string")
    cat.append("t", df, partition_by=["lang"], txn="good")
    cat.append("t", spark.createDataFrame([(99, "zz")],
               "doc_id long, lang string"), partition_by=["lang"], txn="dead")
    cat.remove_orphan_appends("t", live_txns={"good"})
    pruned = cat.scan_files("t", where={"lang": "en"})
    assert 0 < len(pruned) < len(cat.scan_files("t"))


def test_range_and_in_predicates(spark, tmp_path):
    """Round-4 predicate forms: range / IN / between prune at the manifest
    level and filter residually, string-ordered (zero-padded dates)."""
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"2025-01-{i % 9 + 1:02d}") for i in range(45)],
        "doc_id long, day string")
    cat.append("t", df.repartition(3), partition_by=["day"])

    def ids(where):
        return sorted(r.doc_id for r in
                      cat.read(spark, "t", where=where).collect())

    exp_ge = sorted(i for i in range(45) if i % 9 + 1 >= 7)
    assert ids({"day": (">=", "2025-01-07")}) == exp_ge
    exp_in = sorted(i for i in range(45) if i % 9 + 1 in (2, 5))
    assert ids({"day": ("in", ["2025-01-02", "2025-01-05"])}) == exp_in
    exp_bt = sorted(i for i in range(45) if 3 <= i % 9 + 1 <= 4)
    assert ids({"day": ("between", "2025-01-03", "2025-01-04")}) == exp_bt
    # a partition range combined with a predicate on an unpartitioned
    # column: files without recorded values stay, the residual is exact
    both = {"day": (">=", "2025-01-07"), "doc_id": ("in", [3, 6, 16, 40])}
    assert ids(both) == [6, 16]
    # range prune really shrinks the file set
    assert len(cat.scan_files("t", where={"day": ("<", "2025-01-02")})) \
        < len(cat.scan_files("t"))


def test_bool_predicate_coerces_to_spark_form(spark, tmp_path):
    """ADVICE regression: where={'flag': True} must match Spark's 'true'
    dir value, not Python's 'True' (silent empty result)."""
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame([(1, True), (2, False)],
                               "doc_id long, flag boolean")
    cat.append("t", df, partition_by=["flag"])
    assert [r.doc_id for r in
            cat.read(spark, "t", where={"flag": True}).collect()] == [1]
    with pytest.raises(TypeError, match="float"):
        cat.scan_files("t", where={"flag": 1.5})


def test_manifest_level_prune_skips_opening_manifests(spark, tmp_path):
    """The manifest-LIST value summary must rule out whole manifests
    WITHOUT opening them (the Iceberg two-stage scan)."""
    cat = Catalog(str(tmp_path))
    for lang in ("en", "hi", "zh"):
        df = spark.createDataFrame([(i, lang) for i in range(6)],
                                   "doc_id long, lang string")
        cat.append("t", df.coalesce(2), partition_by=["lang"])
    cat.scan_files("t", where={"lang": "en"})
    st = cat.last_scan_stats
    assert st["manifests_total"] == 3
    assert st["manifests_opened"] == 1  # hi/zh manifests never opened
    assert st["files_selected"] >= 1


def test_metadata_bytes_per_append_stay_flat(spark, tmp_path):
    """The round-4 point: append metadata cost is O(new files), NOT
    O(table files). 100 appends; the metadata bytes written by late
    appends must not exceed ~the early ones (small-manifest merging
    bounds the manifest list; merge commits themselves amortize)."""
    cat = Catalog(str(tmp_path))
    meta = os.path.join(str(tmp_path), "t", "_meta")

    def meta_bytes():
        return sum(os.path.getsize(os.path.join(meta, f))
                   for f in os.listdir(meta)) if os.path.isdir(meta) else 0

    df = spark.range(2).coalesce(1)
    costs = []
    before = meta_bytes()
    for _ in range(100):
        cat.append("t", df)
        after = meta_bytes()
        costs.append(after - before)
        before = after
    early = sorted(costs[2:20])[len(costs[2:20]) // 2]
    late = sorted(costs[80:])[len(costs[80:]) // 2]
    assert late <= 3 * early, (early, late, costs[-10:])
    # and the table still reads correctly
    assert cat.read(spark, "t").count() == 200
    # vacuum GCs the pre-merge manifest files the merged ones replaced
    cat.vacuum("t", min_age_secs=0)
    live = {os.path.basename(e["manifest"])
            for e in cat._read_current("t")["manifests"]}
    on_disk = {f for f in os.listdir(meta) if f.startswith("m-")}
    assert on_disk == live


def test_rollback_of_merged_mixed_txn_manifest(spark, tmp_path):
    """After small-manifest merging, one manifest can hold files from BOTH
    live and dead txns; remove_orphan_appends must rewrite it, dropping
    only the dead files."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables as T

    cat = Catalog(str(tmp_path))
    df = spark.range(3).coalesce(1)
    for i in range(T.MERGE_MIN - 1):
        cat.append("t", df, txn=f"live-{i}")
    cat.append("t", df, txn="dead-1")  # triggers the merge
    assert len(cat._read_current("t")["manifests"]) == 1  # merged
    removed = cat.remove_orphan_appends(
        "t", live_txns={f"live-{i}" for i in range(T.MERGE_MIN - 1)})
    assert removed == 1
    assert cat.read(spark, "t").count() == 3 * (T.MERGE_MIN - 1)


def test_partitioned_vacuum_cleans_crc_and_empty_dirs(spark, tmp_path):
    """ADVICE regression: vacuum over a PARTITIONED append whose files
    expire must leave no crc sidecars or emptied _p_* dirs behind."""
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame(
        [(i, ["en", "hi"][i % 2]) for i in range(20)],
        "doc_id long, lang string")
    cat.append("t", df, partition_by=["lang"])
    # drop the hi partition by overwriting with en only: every file of the
    # partitioned staging dir expires
    cat.overwrite("t", cat.read(spark, "t", where={"lang": "en"}))
    removed = cat.vacuum("t", min_age_secs=0)
    assert removed > 0
    data_root = os.path.join(str(tmp_path), "t", "data")
    for root, dirs, fs in os.walk(data_root):
        for f in fs:
            if f.endswith(".crc") and f != "._SUCCESS.crc":
                assert os.path.exists(os.path.join(root, f[1:-4])), \
                    f"orphan crc {os.path.join(root, f)}"
        if root != data_root and os.path.basename(root).startswith("_p_"):
            assert os.listdir(root), f"empty partition dir {root}"
    assert {r.lang for r in cat.read(spark, "t").collect()} == {"en"}


def _three_day_pages(spark):
    """144 pages spread over 3 crawl days (warc_ts = EPOCH + doc_id
    minutes)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen

    docs = spark.createDataFrame(
        [(i * 30, f"day spread doc {i} " + "word " * 40, "en")
         for i in range(144)],
        "doc_id long, text string, lang string")
    return datagen.pages_from_documents(docs)


def test_pipeline_writes_day_partitioned_results(spark, tmp_path):
    """Prescription: the extraction pipeline CONSUMES pruning — results land
    partitioned by warc_day and a day-slice read opens a strictly smaller
    file set while matching the full-scan filter row-for-row."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import lineage

    cat = Catalog(str(tmp_path))
    lineage.run_extraction(spark, _three_day_pages(spark), cat, "run-days",
                           num_partitions=8)

    all_files = cat.scan_files(lineage.RESULTS_TABLE)
    day1 = cat.scan_files(lineage.RESULTS_TABLE,
                          where={"warc_day": "2025-01-01"})
    assert 0 < len(day1) < len(all_files)

    full = cat.read(spark, lineage.RESULTS_TABLE)
    expect = {r.url for r in full.collect() if r.warc_day == "2025-01-01"}
    pruned = cat.read(spark, lineage.RESULTS_TABLE,
                      where={"warc_day": "2025-01-01"})
    assert {r.url for r in pruned.collect()} == expect
    # lineage is partitioned by run_id too
    assert cat.scan_files(
        lineage.LINEAGE_TABLE, where={"run_id": "run-days"})


def test_run_extraction_writes_one_results_file_per_day(spark, tmp_path):
    """The checkpoint granularity P is not the write fan-out: P=8 resume
    partitions over 3 crawl days commit 3 results files, not one per task
    per day, and the checkpoint still records all 8 part_ids."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import lineage

    cat = Catalog(str(tmp_path))
    stats = lineage.run_extraction(spark, _three_day_pages(spark), cat, "r",
                                   num_partitions=8)
    assert stats["parts_done"] == stats["parts_total"] == 8
    files = cat.scan_files(lineage.RESULTS_TABLE)
    assert len(files) == 3
    assert len({os.path.dirname(f) for f in files}) == 3  # one per day dir
    ckpt = cat.read(spark, lineage.CHECKPOINT_TABLE).collect()
    assert sorted(r.part_id for r in ckpt) == list(range(8))


def test_lineage_matches_committed_results(spark, tmp_path):
    """The lineage rows parsed back from the collected aggregate equal an
    aggregate over the committed results, and the checkpoint marks exactly
    the lineage's partitions."""
    from pyspark.sql import functions as F

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import lineage

    cat = Catalog(str(tmp_path))
    stats = lineage.run_extraction(spark, _three_day_pages(spark), cat, "r",
                                   num_partitions=8)
    cols = ["n_rows", "bytes_in", "bytes_out", "blocks_kept",
            "blocks_dropped", "parse_failures", "n_failed"]
    res = cat.read(spark, lineage.RESULTS_TABLE)
    want = {r.part_id: tuple(r[c] for c in cols) for r in
            res.groupBy("part_id").agg(
                F.count("*").alias("n_rows"),
                F.sum("n_html_bytes").alias("bytes_in"),
                F.sum(F.length("body_text")).alias("bytes_out"),
                F.sum("n_blocks_kept").alias("blocks_kept"),
                F.sum("n_blocks_dropped").alias("blocks_dropped"),
                F.sum("parse_failures").alias("parse_failures"),
                F.count_if(F.col("status") == "failed").alias("n_failed"),
            ).collect()}
    lin = cat.read(spark, lineage.LINEAGE_TABLE).collect()
    assert {r.part_id: tuple(r[c] for c in cols) for r in lin} == want
    assert len(lin) == len(want)
    assert all(r.run_id == "r" and r.committed_at is not None for r in lin)
    assert stats["rows_written"] == res.count()
    ckpt = cat.read(spark, lineage.CHECKPOINT_TABLE).collect()
    assert sorted(r.part_id for r in ckpt) == sorted(want)


def test_partitioned_append_clusters_by_value(spark, tmp_path):
    """A partitioned append writes about one file per partition value,
    however many partitions the appended frame has."""
    from pyspark.sql import functions as F

    cat = Catalog(str(tmp_path))
    df = spark.range(0, 320, numPartitions=16).withColumn(
        "day", F.when(F.col("id") % 2 == 0, "2025-01-01")
                .otherwise("2025-01-02"))
    cat.append("t", df, partition_by=["day"])
    assert len(cat.scan_files("t")) == 2
    assert cat.read(spark, "t").count() == 320


def test_empty_string_partition_values_not_lost(spark, tmp_path):
    """Review regression: rows with '' partition values land in the hive
    null-sentinel dir; equality/range predicates that '' satisfies must
    keep those files so the residual filter can match the rows."""
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame([(1, ""), (2, "en"), (3, None)],
                               "doc_id long, lang string")
    cat.append("t", df, partition_by=["lang"])
    got = cat.read(spark, "t", where={"lang": ""}).collect()
    assert {r.doc_id for r in got} == {1}  # exact: '' only, not null
    got_null = cat.read(spark, "t", where={"lang": None}).collect()
    assert {r.doc_id for r in got_null} == {3}  # exact: null only
    got_ge = cat.read(spark, "t", where={"lang": ("<=", "en")}).collect()
    assert {r.doc_id for r in got_ge} == {1, 2}  # '' <= 'en'; null drops
    got_in = cat.read(spark, "t", where={"lang": ("in", ["", "en"])})
    assert {r.doc_id for r in got_in.collect()} == {1, 2}


def test_rollback_keeps_untagged_rows_in_merged_manifest(spark, tmp_path):
    """Review regression: a merged manifest whose NAMED txns are all dead
    can still hold untagged (txn=None) rows — rollback must rewrite, not
    drop, the manifest."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables as T

    cat = Catalog(str(tmp_path))
    df = spark.range(2).coalesce(1)
    cat.append("t", df)  # untagged
    for i in range(T.MERGE_MIN - 1):
        cat.append("t", df, txn="dead")
    assert len(cat._read_current("t")["manifests"]) == 1  # merged
    removed = cat.remove_orphan_appends("t", live_txns=set())
    assert removed == T.MERGE_MIN - 1
    assert cat.read(spark, "t").count() == 2  # the untagged rows survive


def test_reads_ignore_retired_stats_keys(spark, tmp_path):
    """A table whose manifests still carry the per-file `stats` dicts and
    per-entry `stats_summary` of the retired column-stats tier reads,
    merges and feeds read_incremental with no migration: readers ignore
    keys they do not know."""
    import json

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables as T

    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame(
        [(i, ["en", "hi"][i % 2]) for i in range(10)],
        "doc_id long, lang string")
    cat.append("s", df.repartition(2), partition_by=["lang"])
    v1 = os.path.join(str(tmp_path), "s", "_meta", "v1.json")
    with open(v1) as f:
        snap = json.load(f)
    for e in snap["manifests"]:
        with open(e["manifest"]) as f:
            rows = json.load(f)["files"]
        for r in rows:
            r["stats"] = {"doc_id": {"nulls": 0, "min": 0, "max": 9}}
        with open(e["manifest"], "w") as f:
            json.dump({"files": rows}, f)
        e["stats_summary"] = {"doc_id": {"null": False, "min": 0, "max": 9}}
    with open(v1, "w") as f:
        json.dump(snap, f)

    def ids(rows):
        return sorted(r.doc_id for r in rows)

    full_en = ids(r for r in cat.read(spark, "s").collect() if r.lang == "en")
    assert ids(cat.read(spark, "s", where={"lang": "en"}).collect()) \
        == full_en == [0, 2, 4, 6, 8]
    for i in range(T.MERGE_MIN):
        cat.append("s", spark.createDataFrame([(100 + i, "hi")],
                                              "doc_id long, lang string"))
    merged = cat._read_current("s")["manifests"]
    assert len(merged) < T.MERGE_MIN
    assert any("stats" in r for e in merged for r in cat._read_manifest(e))
    whole = ids(cat.read(spark, "s").collect())
    assert len(whole) == 10 + T.MERGE_MIN
    assert ids(cat.read_incremental(spark, "s", 0).collect()) == whole


def test_predicate_semantics_property(spark, tmp_path):
    """Property check: for a table whose partition values include the nasty
    cases (None, '', hive-escaped chars, unicode, digits), EVERY predicate
    form must return exactly the rows the documented string-cast semantics
    predict — pruning can only change which files open, never the rows."""
    vals = [None, "", "en", "hi", "zh-Hant", "2024-01-01 12:00:00",
            "a:b", "0", "10", "9", "日本語", "x y"]
    rows = [(i, v) for i, v in enumerate(vals)] + \
           [(100 + i, v) for i, v in enumerate(vals)]
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    cat.append("t", df.repartition(3), partition_by=["lang"])

    def expect(pred_fn):
        return {i for i, v in rows if v is not None and pred_fn(v)}

    cases = [
        ({"lang": "en"}, expect(lambda v: v == "en")),
        ({"lang": ""}, expect(lambda v: v == "")),
        ({"lang": None}, {i for i, v in rows if v is None}),
        ({"lang": "a:b"}, expect(lambda v: v == "a:b")),
        ({"lang": "日本語"}, expect(lambda v: v == "日本語")),
        ({"lang": "x y"}, expect(lambda v: v == "x y")),
        ({"lang": ("in", ["en", None, "10"])},
         expect(lambda v: v in ("en", "10"))
         | {i for i, v in rows if v is None}),
        ({"lang": (">=", "en")}, expect(lambda v: v >= "en")),
        ({"lang": ("<", "en")}, expect(lambda v: v < "en")),
        ({"lang": ("<=", "")}, expect(lambda v: v <= "")),
        ({"lang": ("between", "0", "9")},
         expect(lambda v: "0" <= v <= "9")),  # lexicographic: '10' matches
        ({"lang": ("in", [""])}, expect(lambda v: v == "")),
        ({"lang": (">", "zh-Hant")}, expect(lambda v: v > "zh-Hant")),
    ]
    for where, want in cases:
        got = {r.doc_id for r in cat.read(spark, "t", where=where).collect()}
        assert got == want, (where, sorted(got), sorted(want))


def test_commits_record_no_column_stats(spark, tmp_path):
    """Manifest rows are {path, partition, txn} and manifest entries carry
    no `stats_summary` after append (64 files), overwrite and compact; no
    catalog entry point takes a stats knob; the data files keep their
    TIMESTAMP_MICROS encoding and the session's timestamp setting."""
    import inspect

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ts_key = "spark.sql.parquet.outputTimestampType"
    ts_before = spark.conf.get(ts_key)
    cat = Catalog(str(tmp_path))

    def check(n_files):
        entries = cat._read_current("t")["manifests"]
        assert not any("stats_summary" in e for e in entries)
        rows = [r for e in entries for r in cat._read_manifest(e)]
        assert all(set(r) == {"path", "partition", "txn"} for r in rows)
        assert len(rows) == n_files
        pf = pq.ParquetFile(rows[0]["path"])
        ts = pf.schema.column(pf.schema.names.index("ts"))
        assert ts.physical_type == "INT64"
        assert spark.conf.get(ts_key) == ts_before

    df = spark.range(0, 640).withColumn("ts", F.timestamp_seconds("id"))
    cat.append("t", df.repartition(64), txn="a")
    check(64)
    cat.overwrite("t", df.repartition(4), txn="o")
    check(4)
    for i in range(3):
        cat.append("t", df.limit(10).repartition(2), txn=f"a{i}")
    assert cat.compact(spark, "t")["version"] is not None
    check(1)
    assert cat.read(spark, "t").count() == 640 + 30

    for fn in (Catalog.read, Catalog.scan_files, Catalog.append,
               Catalog.overwrite):
        params = set(inspect.signature(fn).parameters)
        assert not {p for p in params if p.startswith("stats_")}, fn
        assert "collect_stats" not in params, fn
