"""CLI smoke tests for the LLM-pipeline subcommands (round-2 verdict #6):
each writes its result into the output catalog with an exactly-once txn tag,
so a replayed run id is a no-op."""

import json

import pytest

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.__main__ import main
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
    Catalog,
)
from tests.conftest import SF_DIR


def _run(capsys, *argv) -> dict:
    main(list(argv))
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("cmd,table", [
    ("dedup", "exact_dedup_groups"),
    ("jaccard", "jaccard_pairs"),
    ("cc", "neardup_components"),
    ("minhash", "minhash_pairs"),
    ("simhash", "simhash_pairs"),
    ("substrdup", "substring_dup_stats"),
])
def test_dedup_family_subcommands(spark, tmp_path, capsys, cmd, table):
    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, cmd, "--input", SF_DIR, "--output", cat_dir,
               "--run-id", "t1")
    assert out["cmd"] == cmd and out["table"] == table
    assert out["rows_written"] > 0
    cat = Catalog(cat_dir)
    n = cat.read(spark, table).count()
    assert n == out["rows_written"]

    # replayed run id: exactly-once no-op, table unchanged
    out2 = _run(capsys, cmd, "--input", SF_DIR, "--output", cat_dir,
                "--run-id", "t1")
    assert out2["rows_written"] is None
    assert cat.read(spark, table).count() == n


def test_ann_subcommand(spark, tmp_path, capsys):
    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, "ann", "--input", SF_DIR, "--output", cat_dir,
               "--query-vec", "1", "--k", "5")
    assert out["rows_written"] == 5
    rows = Catalog(cat_dir).read(spark, "ann_results").collect()
    assert len(rows) == 5
    assert all(r.vec_id != 1 for r in rows)


def test_ann_kmeans_subcommand(spark, tmp_path, capsys):
    out = _run(capsys, "ann", "--input", SF_DIR,
               "--output", str(tmp_path / "cat"),
               "--query-vec", "1", "--k", "3", "--kmeans", "--iters", "1")
    assert out["rows_written"] == 3


def test_legacy_flags_only_invocation_still_extracts(spark, tmp_path, capsys):
    out = _run(capsys, "--input", SF_DIR, "--output", str(tmp_path / "cat"),
               "--limit", "40")
    assert out["cmd"] == "extract"
    assert out["documents"] == 40


def test_cc_keep_one_writes_deduped_corpus(spark, tmp_path, capsys):
    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, "cc", "--input", SF_DIR, "--output", cat_dir,
               "--keep-one", "--run-id", "k1")
    assert out["rows_written"] > 0 and out["kept"]["rows_written"] > 0
    cat = Catalog(cat_dir)
    comps = {r.doc_id: r.component_id
             for r in cat.read(spark, "neardup_components").collect()}
    kept = {r.doc_id for r in cat.read(spark, "docs_deduped").collect()}
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    # kept = canonical per component + all unclustered docs
    losers = {d for d, c in comps.items() if d != c}
    assert kept.isdisjoint(losers)
    assert len(kept) == n_docs - len(losers)


@pytest.mark.parametrize("method", ["minhash", "simhash"])
def test_cc_alternative_pair_methods(spark, tmp_path, capsys, method):
    out = _run(capsys, "cc", "--input", SF_DIR,
               "--output", str(tmp_path / "cat"),
               "--method", method, "--run-id", f"m-{method}")
    assert out["rows_written"] > 0


def test_ann_persisted_index_build_once_probe_twice(spark, tmp_path, capsys,
                                                    monkeypatch):
    """Round-4 prescription: ann --build-index persists centroids + the
    full-corpus bucket assignment; --index probes reuse them — provably
    WITHOUT recomputing the assignment (ivf_assign is forbidden during the
    probes) — and match the recompute-path results exactly."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        similarity,
    )

    cat_dir = str(tmp_path / "cat")
    built = _run(capsys, "ann", "--input", SF_DIR, "--output", cat_dir,
                 "--build-index", "--run-id", "build-1")
    assert built["built"] is True
    cat = Catalog(cat_dir)
    assert cat.read(spark, "ann_index").count() > 0
    assert cat.read(spark, "ann_centroids").count() == 8

    # baseline: the recompute path for the same query
    baseline = _run(capsys, "ann", "--input", SF_DIR,
                    "--output", str(tmp_path / "base"),
                    "--query-vec", "1", "--k", "5", "--run-id", "b")
    base_rows = sorted(
        (r.vec_id, r.cos_sim)
        for r in Catalog(str(tmp_path / "base"))
        .read(spark, "ann_results").collect())

    def _no_assign(*a, **kw):  # the whole point of a persisted index
        raise AssertionError("ivf_assign must not run on the --index path")

    monkeypatch.setattr(similarity, "ivf_assign", _no_assign)
    probe1 = _run(capsys, "ann", "--input", SF_DIR, "--output", cat_dir,
                  "--index", "--query-vec", "1", "--k", "5",
                  "--run-id", "p1")
    assert probe1["rows_written"] == 5
    rows1 = sorted((r.vec_id, r.cos_sim) for r in
                   cat.read(spark, "ann_results").collect())
    assert rows1 == base_rows

    # second probe, distinct run id, same persisted index -> identical rows
    probe2 = _run(capsys, "ann", "--input", SF_DIR,
                  "--output", str(tmp_path / "cat2"),
                  "--index", cat_dir, "--query-vec", "1", "--k", "5",
                  "--run-id", "p2")
    assert probe2["rows_written"] == 5
    rows2 = sorted((r.vec_id, r.cos_sim) for r in
                   Catalog(str(tmp_path / "cat2"))
                   .read(spark, "ann_results").collect())
    assert rows2 == rows1
    assert baseline["rows_written"] == 5


def test_cc_embedding_reuses_persisted_index(spark, tmp_path, capsys,
                                             monkeypatch):
    """Round-5 prescription: cc --method embedding --index reuses the
    ann --build-index bucket assignment — the assignment is computed ZERO
    times during clustering (ivf_assign forbidden) and the components are
    identical to the recompute path."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        similarity,
    )

    cat_dir = str(tmp_path / "cat")
    built = _run(capsys, "ann", "--input", SF_DIR, "--output", cat_dir,
                 "--build-index", "--run-id", "build-1")
    assert built["built"] is True

    # baseline: the recompute path (default seed centroids, C=8 at this n)
    _run(capsys, "cc", "--input", SF_DIR,
         "--output", str(tmp_path / "base"), "--method", "embedding",
         "--min-cosine", "0.4", "--run-id", "cc-base")
    base = sorted((r.vec_id, r.component_id) for r in
                  Catalog(str(tmp_path / "base"))
                  .read(spark, "vec_neardup_components").collect())

    def _no_assign(*a, **kw):
        raise AssertionError("ivf_assign must not run on the --index path")

    monkeypatch.setattr(similarity, "ivf_assign", _no_assign)
    out1 = _run(capsys, "cc", "--input", SF_DIR, "--output", cat_dir,
                "--method", "embedding", "--min-cosine", "0.4",
                "--index", "--run-id", "cc-1")
    assert out1["rows_written"] == len(base) > 0
    got1 = sorted((r.vec_id, r.component_id) for r in
                  Catalog(cat_dir)
                  .read(spark, "vec_neardup_components").collect())
    assert got1 == base

    # second run, distinct output catalog, index passed by directory
    out2 = _run(capsys, "cc", "--input", SF_DIR,
                "--output", str(tmp_path / "cat2"), "--method", "embedding",
                "--min-cosine", "0.4", "--index", cat_dir,
                "--run-id", "cc-2")
    assert out2["rows_written"] == len(base)
    got2 = sorted((r.vec_id, r.component_id) for r in
                  Catalog(str(tmp_path / "cat2"))
                  .read(spark, "vec_neardup_components").collect())
    assert got2 == base


def test_cc_index_rejected_for_text_methods(tmp_path, capsys):
    import pytest

    with pytest.raises(SystemExit, match="--method embedding"):
        _run(capsys, "cc", "--input", SF_DIR,
             "--output", str(tmp_path / "c"), "--method", "shingle",
             "--index")


def test_report_subcommand_prunes_day_slice(spark, tmp_path, capsys):
    """`report --day/--since/--until` reads the committed results with a
    manifest-pruned scan and emits per-day stats + prune evidence."""
    from pyspark.sql import functions as F

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import lineage

    docs = spark.createDataFrame(
        [(i * 30, f"report doc {i} " + "word " * 30, "en")
         for i in range(144)],  # 3 crawl days at 30-min spacing
        "doc_id long, text string, lang string")
    pages = datagen.pages_from_documents(docs)
    cat_dir = str(tmp_path / "cat")
    lineage.run_extraction(spark, pages, Catalog(cat_dir), "run-r",
                           num_partitions=8)

    out = _run(capsys, "report", "--catalog", cat_dir,
               "--day", "2025-01-02")
    assert [d["warc_day"] for d in out["days"]] == ["2025-01-02"]
    assert out["scan"]["files_selected"] > 0
    assert out["days"][0]["documents"] == 48

    out2 = _run(capsys, "report", "--catalog", cat_dir,
                "--since", "2025-01-02")
    assert [d["warc_day"] for d in out2["days"]] == \
        ["2025-01-02", "2025-01-03"]
    full = _run(capsys, "report", "--catalog", cat_dir)
    assert sum(d["documents"] for d in full["days"]) == 144
    # the day slice really opened fewer files than the full read
    assert out["scan"]["files_selected"] < full["scan"]["files_selected"]


def test_ann_index_rebuild_replaces_not_appends(spark, tmp_path, capsys):
    """Review regression: a second --build-index with a new run id must
    REPLACE the persisted index — an append would double every assignment
    and fan out all later probe joins."""
    cat_dir = str(tmp_path / "cat")
    _run(capsys, "ann", "--input", SF_DIR, "--output", cat_dir,
         "--build-index", "--run-id", "b1")
    _run(capsys, "ann", "--input", SF_DIR, "--output", cat_dir,
         "--build-index", "--run-id", "b2")
    cat = Catalog(cat_dir)
    assert cat.read(spark, "ann_centroids").count() == 8
    idx = cat.read(spark, "ann_index")
    n = idx.count()
    assert n == idx.select("vec_id").distinct().count()  # one row per vec
    # replaying b2 is still a no-op
    out = _run(capsys, "ann", "--input", SF_DIR, "--output", cat_dir,
               "--build-index", "--run-id", "b2")
    assert out["index"]["rows_written"] is None


@pytest.mark.parametrize("method", ["embedding", "hyperplane"])
def test_cc_embedding_methods(spark, tmp_path, capsys, method):
    """cc --method embedding|hyperplane clusters the embeddings table on
    vec_id; --keep-one writes embeddings_deduped (canonical per cluster)."""
    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, "cc", "--input", SF_DIR, "--output", cat_dir,
               "--method", method, "--min-cosine", "0.4",
               "--keep-one", "--run-id", "e1")
    cat = Catalog(cat_dir)
    comps = cat.read(spark, "vec_neardup_components").collect()
    assert out["rows_written"] == len(comps) > 0
    assert {"vec_id", "component_id"} == set(
        cat.read(spark, "vec_neardup_components").columns)
    kept = cat.read(spark, "embeddings_deduped")
    n_emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    clustered = {r.vec_id for r in comps}
    losers = {r.vec_id for r in comps if r.vec_id != r.component_id}
    assert kept.count() == n_emb - len(losers)
    assert clustered  # the synthetic vectors do contain near-dups


def test_report_lineage_run_metrics(spark, tmp_path, capsys):
    """report --lineage surfaces measured run throughput/cost from the
    run_id-partitioned lineage table (pruned read for a single run)."""
    _run(capsys, "extract", "--input", SF_DIR,
         "--output", str(tmp_path / "cat"), "--run-id", "r1",
         "--partitions", "4")
    out = _run(capsys, "report", "--catalog", str(tmp_path / "cat"),
               "--lineage", "r1")
    lin = out["lineage"]
    assert lin["runs"] == ["r1"]
    assert lin["n_docs"] == 500
    assert lin["docs_per_cpu_sec"] > 0 and lin["est_cost_usd"] > 0
    assert out["scan"]["files_selected"] >= 1
    out_all = _run(capsys, "report", "--catalog", str(tmp_path / "cat"),
                   "--lineage", "all")
    assert out_all["lineage"]["n_docs"] == 500


def test_report_lineage_flag_guards(tmp_path, capsys):
    with pytest.raises(SystemExit, match="run-level"):
        _run(capsys, "report", "--catalog", str(tmp_path),
             "--lineage", "all", "--day", "2025-01-01")


def test_cc_embedding_oversized_limit_still_finds_pairs(spark, tmp_path,
                                                        capsys):
    """Review regression: --limit larger than the corpus must not inflate
    auto-C past n (which would make every vector its own centroid and
    silently report zero clusters)."""
    out = _run(capsys, "cc", "--input", SF_DIR,
               "--output", str(tmp_path / "cat"),
               "--method", "embedding", "--min-cosine", "0.4",
               "--limit", "1000000", "--run-id", "big")
    assert out["rows_written"] > 0


def test_compact_reconciles_torn_transactions_before_folding(spark, tmp_path,
                                                             capsys):
    """Review regression (the critical compact finding): a crash between
    the results append and the checkpoint marker leaves orphan rows whose
    txn rollback is the ONLY thing preventing duplicates on resume.
    Compacting folds rows into untagged manifests — beyond rollback's
    reach — so the CLI must reconcile torn transactions first; resume
    after compact must not duplicate a single row."""
    import pytest as _pytest

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import lineage

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    pages = datagen.pages_from_documents(docs)
    cat_dir = str(tmp_path / "cat")
    cat = Catalog(cat_dir)
    lineage.run_extraction(spark, pages, cat, "r1", num_partitions=8,
                           fail_after_parts=3)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        lineage.run_extraction(spark, pages, cat, "r2", num_partitions=8,
                               fail_before_checkpoint=True)
    # torn state committed; now compact the catalog via the CLI
    out = _run(capsys, "compact", "--catalog", cat_dir, "--vacuum")
    assert out["tables"]["extracted_text"]["orphans_removed"] > 0

    s3 = lineage.run_extraction(spark, pages, cat, "r3", num_partitions=8)
    assert s3["parts_skipped"] == 3 and s3["parts_done"] == 5
    rows = cat.read(spark, lineage.RESULTS_TABLE).select("url").collect()
    urls = [r.url for r in rows]
    assert len(urls) == len(set(urls)) == pages.count()  # zero duplicates


def test_curate_pipeline_stage_commits_and_replay(spark, tmp_path, capsys):
    """Round-5 verdict #5: the composed curation pipeline commits one
    exactly-once txn PER STAGE; a replayed run id is a per-stage no-op,
    and the final docs_curated equals the library composition."""
    from tests.conftest import SF_DIR as sf

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        curate as curate_ops,
        dedup as dedup_ops,
    )
    from pyspark.sql import functions as F

    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, "curate", "--input", sf, "--output", cat_dir,
               "--run-id", "c1")
    assert out["order"] == curate_ops.STAGE_ORDER
    assert all(not s["replayed"] for s in out["stages"].values())
    # monotone attrition through the chain
    counts = [out["stages"][s]["survivors"] for s in out["order"]]
    assert counts == sorted(counts, reverse=True)
    assert out["final_rows"] == counts[-1] > 0

    # replay: every stage is a no-op, same survivors
    out2 = _run(capsys, "curate", "--input", sf, "--output", cat_dir,
                "--run-id", "c1")
    assert all(s["replayed"] for s in out2["stages"].values())
    assert out2["final_rows"] == out["final_rows"]

    # the staged composition == the one-shot library composition
    cat = Catalog(cat_dir)
    got = {r.doc_id for r in cat.read(spark, "docs_curated").collect()}
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 37 == 1)
    want = {r.doc_id for r in
            curate_ops.curate_survivors(docs, bench).collect()}
    dedup_ops.release_caches()
    assert got == want


def test_curate_stage_subset_and_unknown_stage(spark, tmp_path, capsys):
    from tests.conftest import SF_DIR as sf

    out = _run(capsys, "curate", "--input", sf,
               "--output", str(tmp_path / "cat"), "--run-id", "c2",
               "--stages", "host_sample", "quality")
    assert out["order"] == ["host_sample", "quality"]
    assert set(out["stages"]) == {"host_sample", "quality"}
    with pytest.raises(SystemExit, match="unknown curate stages"):
        _run(capsys, "curate", "--input", sf,
             "--output", str(tmp_path / "cat2"), "--stages", "bogus")


def test_curate_resumes_at_failed_stage(spark, tmp_path, capsys,
                                        monkeypatch):
    """Crash mid-pipeline (during the neardup stage) -> rerun with the SAME
    run id: the committed early stages replay as no-ops and the pipeline
    completes from where it failed."""
    from tests.conftest import SF_DIR as sf

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        curate as curate_ops,
    )

    cat_dir = str(tmp_path / "cat")
    real = curate_ops.run_stage

    def boom(stage, *a, **kw):
        if stage == "neardup":
            raise RuntimeError("simulated crash")
        return real(stage, *a, **kw)

    monkeypatch.setattr(curate_ops, "run_stage", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _run(capsys, "curate", "--input", sf, "--output", cat_dir,
             "--run-id", "c3")
    monkeypatch.setattr(curate_ops, "run_stage", real)
    out = _run(capsys, "curate", "--input", sf, "--output", cat_dir,
               "--run-id", "c3")
    assert out["stages"]["host_sample"]["replayed"]
    assert out["stages"]["exact"]["replayed"]
    assert not out["stages"]["neardup"]["replayed"]
    assert out["final_rows"] > 0


def test_report_internals(spark, tmp_path, capsys):
    """Round-5 verdict #8: report --internals surfaces the catalog's scale
    claims (manifest prune stats, bounded _meta)."""
    cat_dir = str(tmp_path / "cat")
    _run(capsys, "dedup", "--input", SF_DIR, "--output", cat_dir,
         "--run-id", "t1")
    out = _run(capsys, "report", "--catalog", cat_dir, "--internals")
    t = out["internals"]["exact_dedup_groups"]
    assert t["versions_retained"] == t["current_version"] == 1
    assert t["scan"]["files_selected"] == t["data_files"] > 0
    assert t["txns_committed"] == 1


def test_cc_emits_contraction_stats(spark, tmp_path, capsys):
    """Round-5 verdict #8: the cc subcommand surfaces CC_LAST_STATS —
    rounds, per-round edge counts, fast-path hit — in its summary JSON."""
    out = _run(capsys, "cc", "--input", SF_DIR,
               "--output", str(tmp_path / "cat"), "--run-id", "t1")
    st = out["cc_stats"]
    # r7: a gate-scale edge set fits the EARLY driver union-find
    # (rounds=0, driver_uf_edges recorded, edge_counts [n, 0]); larger
    # graphs report contraction rounds with a shrinking edge count
    if st["rounds"] == 0:
        assert st.get("driver_uf_edges", 0) > 0
    else:
        # edge_counts covers the CONTRACTION rounds only (epilogue jump
        # rounds touch no edges); +1 for the initial count
        assert 2 <= len(st["edge_counts"]) <= st["rounds"] + 1
    assert st["edge_counts"][0] > 0 and st["edge_counts"][-1] == 0


def test_curate_resume_after_other_run_overwrote_stages(spark, tmp_path,
                                                        capsys,
                                                        monkeypatch):
    """Review regression: stage replay must check the CURRENT snapshot's
    txn, not txn history. r1 crashes mid-pipeline; r2 completes (its
    overwrites replace r1's stage tables); resuming r1 must RECOMPUTE its
    early stages (txn history alone would claim them replayed and silently
    consume r2's survivor sets)."""
    from tests.conftest import SF_DIR as sf

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        curate as curate_ops,
    )

    cat_dir = str(tmp_path / "cat")
    real = curate_ops.run_stage

    def boom(stage, *a, **kw):
        if stage == "neardup":
            raise RuntimeError("simulated crash")
        return real(stage, *a, **kw)

    monkeypatch.setattr(curate_ops, "run_stage", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _run(capsys, "curate", "--input", sf, "--output", cat_dir,
             "--run-id", "r1")
    monkeypatch.setattr(curate_ops, "run_stage", real)
    out_r2 = _run(capsys, "curate", "--input", sf, "--output", cat_dir,
                  "--run-id", "r2")
    # resume r1: r2's overwrites invalidated r1's committed stages
    out_r1 = _run(capsys, "curate", "--input", sf, "--output", cat_dir,
                  "--run-id", "r1")
    assert all(not s["replayed"] for s in out_r1["stages"].values())
    # same params -> deterministic -> identical survivor sets either way
    assert out_r1["final_rows"] == out_r2["final_rows"] > 0


def test_sample_subcommand(spark, tmp_path, capsys):
    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, "sample", "--input", SF_DIR, "--output", cat_dir,
               "--weights", "src0=1", "src1=2", "src2=3",
               "--splits", "train=8", "val=1", "--run-id", "s1")
    assert out["table"] == "docs_sampled"
    assert out["rows_written"] > 0
    rows = Catalog(cat_dir).read(spark, "docs_sampled").collect()
    assert {r.split for r in rows} <= {"train", "val"}
    assert {r.source for r in rows} <= {"src0", "src1", "src2"}
    # replay: exactly-once no-op
    out2 = _run(capsys, "sample", "--input", SF_DIR, "--output", cat_dir,
                "--weights", "src0=1", "src1=2", "src2=3",
                "--splits", "train=8", "val=1", "--run-id", "s1")
    assert out2["rows_written"] is None
    # replace semantics: a new run id with a DIFFERENT config must
    # REPLACE the sample, not union two incompatible samples
    out3 = _run(capsys, "sample", "--input", SF_DIR, "--output", cat_dir,
                "--splits", "alpha=1", "beta=1", "--run-id", "s2")
    rows3 = Catalog(cat_dir).read(spark, "docs_sampled").collect()
    assert len(rows3) == out3["rows_written"]
    assert {r.split for r in rows3} <= {"alpha", "beta"}


def test_sample_subcommand_rejects_bad_weights(tmp_path, capsys):
    with pytest.raises(SystemExit, match="positive integers"):
        _run(capsys, "sample", "--input", SF_DIR,
             "--output", str(tmp_path / "cat"), "--weights", "src0=0")
    # malformed KV pairs exit cleanly too (no '=' / non-int / double '=')
    for bad in ("src0", "src0=x", "src0=1=2"):
        with pytest.raises(SystemExit, match="sample: bad --weights"):
            _run(capsys, "sample", "--input", SF_DIR,
                 "--output", str(tmp_path / "cat"), "--weights", bad)


def test_pack_subcommand(spark, tmp_path, capsys):
    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, "pack", "--input", SF_DIR, "--output", cat_dir,
               "--budget", "256", "--run-id", "p1")
    assert out["table"] == "docs_packed" and out["rows_written"] > 0
    rows = Catalog(cat_dir).read(spark, "docs_packed").collect()
    # windows tile the corpus: total tokens == last doc's start + its
    # span. Key on start+span: a zero-token doc shares its (seq_id,
    # seq_offset) with the next doc's start, so the plain positional max
    # could tie-break onto the empty doc and understate the end
    total = sum(r.n_tokens for r in rows)
    last = max(rows, key=lambda r: r.seq_id * 256 + r.seq_offset
               + r.n_tokens)
    assert last.seq_id * 256 + last.seq_offset + last.n_tokens == total
    # replace semantics: a re-pack at a different budget must replace the
    # (seq_id, seq_offset) assignment — two assignments can't coexist
    out2 = _run(capsys, "pack", "--input", SF_DIR, "--output", cat_dir,
                "--budget", "128", "--run-id", "p2")
    rows2 = Catalog(cat_dir).read(spark, "docs_packed").collect()
    assert len(rows2) == out2["rows_written"] == len(rows)
    assert all(r.seq_offset < 128 for r in rows2)


def test_dsir_subcommand_overwrite_replay(spark, tmp_path, capsys):
    """dsir writes overwrite-semantics scores (a score depends on both
    corpora's histograms); a replayed run id is a no-op, a NEW run id
    REPLACES the table instead of appending a second copy."""
    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, "dsir", "--input", SF_DIR, "--output", cat_dir,
               "--buckets", "512", "--run-id", "t1")
    assert out["table"] == "dsir_scores" and out["rows_written"] == 500
    cat = Catalog(cat_dir)
    assert cat.read(spark, "dsir_scores").count() == 500
    out2 = _run(capsys, "dsir", "--input", SF_DIR, "--output", cat_dir,
                "--buckets", "512", "--run-id", "t1")
    assert out2["rows_written"] is None  # replay no-op
    out3 = _run(capsys, "dsir", "--input", SF_DIR, "--output", cat_dir,
                "--buckets", "256", "--run-id", "t2")
    assert out3["rows_written"] == 500
    assert cat.read(spark, "dsir_scores").count() == 500  # replaced


def test_dedup_against_subcommand(spark, tmp_path, capsys):
    """dedup --against: incremental novel/seen flags vs an exported
    digest parquet of 'previously ingested' docs."""
    from pyspark.sql import functions as F

    seen_pq = str(tmp_path / "seen")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_seen = (docs.filter(F.col("doc_id") % 3 == 0)
              .select(F.md5("text").alias("digest"))
              .distinct())
    n_seen.write.parquet(seen_pq)
    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, "dedup", "--input", SF_DIR, "--output", cat_dir,
               "--against", seen_pq, "--run-id", "t1")
    assert out["table"] == "novel_docs"
    rows = Catalog(cat_dir).read(spark, "novel_docs").collect()
    assert len(rows) == docs.count()
    flagged = sum(0 if r.is_novel else 1 for r in rows)
    assert flagged >= docs.filter(F.col("doc_id") % 3 == 0).count()


def test_blocklist_subcommand(spark, tmp_path, capsys):
    """blocklist over a committed extraction catalog's urls: the skewed
    h0 host (~30%% of docs) is blocked, the rest pass."""
    cat_dir = str(tmp_path / "cat")
    _run(capsys, "extract", "--input", SF_DIR, "--output", cat_dir,
         "--limit", "60")
    out = _run(capsys, "blocklist", "--catalog", cat_dir,
               "--domains", "h0.example.com", "example.net",
               "--run-id", "b1")
    assert out["table"] == "url_block_flags"
    rows = Catalog(cat_dir).read(spark, "url_block_flags").collect()
    assert len(rows) == out["rows_written"] > 0
    blocked = [r for r in rows if r.blocked]
    assert blocked and all(r.host == "h0.example.com" for r in blocked)
    assert all(r.blocked_domain == "h0.example.com" for r in blocked)
    assert any(not r.blocked for r in rows)


def test_pplbucket_subcommand(spark, tmp_path, capsys):
    """pplbucket: CCNet terciles over the corpus, overwrite semantics
    (cutoffs are corpus-global)."""
    cat_dir = str(tmp_path / "cat")
    out = _run(capsys, "pplbucket", "--input", SF_DIR, "--output", cat_dir,
               "--top-k", "64", "--run-id", "p1")
    assert out["table"] == "ppl_buckets" and out["rows_written"] == 500
    rows = Catalog(cat_dir).read(spark, "ppl_buckets").collect()
    buckets = {r.ppl_bucket for r in rows}
    assert {"head", "middle", "tail"} <= buckets
    out2 = _run(capsys, "pplbucket", "--input", SF_DIR, "--output", cat_dir,
                "--top-k", "64", "--run-id", "p1")
    assert out2["rows_written"] is None  # replay no-op


def test_changes_subcommand_reports_append_deltas(spark, tmp_path, capsys):
    """changes: read-only CDC summary — per-commit-version row counts for
    appends after --since; exits cleanly on a removed-rows range."""
    cat_dir = str(tmp_path / "cat")
    cat = Catalog(cat_dir)
    v1 = cat.overwrite("t", spark.range(4))
    cat.append("t", spark.range(4, 7), txn="a")
    cat.append("t", spark.range(7, 9), txn="b")
    out = _run(capsys, "changes", "--catalog", cat_dir, "--table", "t",
               "--since", str(v1))
    assert out["rows"] == 5
    assert sorted(out["by_version"].values()) == [2, 3]
    cat.overwrite("t", spark.range(2))
    with pytest.raises(SystemExit, match="overwrite"):
        _run(capsys, "changes", "--catalog", cat_dir, "--table", "t",
             "--since", str(v1))
