"""CLI entry point (SURVEY §3.1, mirroring the reference's
`python executable.py --input DIR [--workers N --limit K ...]`,
executable.py:723-833) — subcommands expose the extraction flagship AND the
LLM-data-pipeline operators, so the dedup suite runs without writing code:

    python -m _intelligent_document_ai_for_field_extraction_from_invoices_spark \
        extract --input /root/testdata/sf0.001 --output /tmp/cat \
        [--limit K] [--partitions P] [--cores N] [--run-id ID] [--vacuum]

    ... report  --catalog CAT [--day D | --since D [--until D]]
                                              # day-sliced stats, pruned read
    ... dedup   --input DIR --output CAT      # exact dedup groups
    ... jaccard --input DIR --output CAT      # n-gram shingle + Jaccard pairs
    ... cc      --input DIR --output CAT      # near-dup clustering (components)
                [--method shingle|minhash|simhash|embedding|hyperplane]
    ... minhash --input DIR --output CAT      # MinHash-LSH candidate pairs
    ... simhash --input DIR --output CAT      # SimHash near-dup pairs
    ... curate  --input DIR --output CAT      # composed curation pipeline
                [--stages ...]                # (one exactly-once txn/stage)
    ... ann     --input DIR --output CAT --query-vec 1 [--k 5] [--probes 1]
                [--kmeans]                    # IVF ANN over embeddings

Every subcommand writes its result to the output catalog (exactly-once txn tag
per run id) and prints one summary JSON line.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from . import datagen
from .operators import curate as curate_ops
from .operators import dedup as dedup_ops
from .operators import evaluate as evaluate_ops
from .operators import packing as packing_ops
from .operators import sampling as sampling_ops
from .operators import similarity
from .plans import lineage
from .session import get_spark
from .sources.tables import Catalog


def _add_common(ap: argparse.ArgumentParser) -> None:
    ap.add_argument("--input", required=True,
                    help="directory containing the parquet tables")
    ap.add_argument("--output", required=True, help="output catalog directory")
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument("--cores", default=None)
    ap.add_argument("--run-id", default="cli-run")


def _docs(spark, args):
    docs = spark.read.parquet(f"{args.input}/documents.parquet")
    if args.limit is not None:
        docs = docs.limit(args.limit)
    # single-file tables otherwise run the pre-shuffle pipeline in one task
    return docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def _emb(spark, args):
    emb = spark.read.parquet(f"{args.input}/embeddings.parquet")
    if args.limit is not None:
        emb = emb.limit(args.limit)
    return emb.repartition(spark.sparkContext.defaultParallelism, "vec_id")


def _emb_n(spark, args) -> int:
    """Row count of the embeddings input the CLI is about to process —
    from the RAW parquet (a footer-metadata count, no data scan; counting
    the repartitioned/limited frame instead would be the full pass n_hint
    exists to avoid), clamped by --limit. An unclamped --limit passed as
    n_hint would inflate auto-C past the corpus size and silently collapse
    near-dup recall to zero (every vector its own centroid)."""
    n = spark.read.parquet(f"{args.input}/embeddings.parquet").count()
    return min(n, args.limit) if args.limit is not None else n


def _emit(catalog: Catalog, table: str, df, run_id: str,
          release: bool = True, mode: str = "append") -> dict:
    """Write a result table exactly-once per run id and return its stats.
    `release=False` keeps the operators' registered caches alive for a
    follow-up emit that reuses the same upstream result (e.g. cc
    --keep-one would otherwise re-run the whole iterative clustering).
    `mode="overwrite"` is for replace-semantics tables (the ANN index:
    a rebuild with a new run id must REPLACE the old index, not append a
    second copy that fans out every later probe join). One replay check
    serves both modes: an overwrite restarts the table's txn set
    (Catalog.overwrite), so after run r2 overwrote the table a resumed r1
    is no longer in it and RECOMPUTES its state rather than silently
    consuming r2's."""
    txn = f"cli:{table}:{run_id}"
    if txn in catalog.txns(table):
        rows = None  # replayed run id: already durably committed
    else:
        df = df.persist()
        try:
            rows = df.count()  # persisted: the write below reuses the blocks
            if mode == "overwrite":
                catalog.overwrite(table, df, txn=txn)
            else:
                catalog.append(table, df, txn=txn)
        finally:
            df.unpersist()  # a raising commit must not leave it cached
    if release:
        dedup_ops.release_caches()
    return {"table": table, "rows_written": rows, "txn": txn}


def cmd_extract(spark, args) -> dict:
    docs = spark.read.parquet(f"{args.input}/documents.parquet")
    if args.limit is not None:
        docs = docs.limit(args.limit)
    pages = datagen.pages_from_documents(docs)
    catalog = Catalog(args.output)
    stats = lineage.run_extraction(
        spark, pages, catalog, args.run_id, num_partitions=args.partitions
    )

    n_vacuumed = 0
    if args.vacuum:
        for t in (lineage.RESULTS_TABLE, lineage.LINEAGE_TABLE,
                  lineage.CHECKPOINT_TABLE):
            # min_age_secs=0: the CLI run is the only writer of its own
            # catalog, so the in-flight-commit age gate can be waived to
            # reclaim this run's superseded files immediately
            n_vacuumed += catalog.vacuum(t, min_age_secs=0)

    results = catalog.read(spark, lineage.RESULTS_TABLE)
    summary = results.agg(
        F.count("*").alias("documents"),
        F.sum(F.when(F.col("status") == "success", 1).otherwise(0)).alias("ok"),
        F.round(F.avg("overall_confidence"), 4).alias("mean_confidence"),
        F.sum(F.length("body_text")).alias("extracted_bytes"),
    ).first()
    return {
        "run": stats,
        "documents": summary.documents,
        "success_rate": round(summary.ok / max(summary.documents, 1), 4),
        "mean_confidence": summary.mean_confidence,
        "extracted_bytes": summary.extracted_bytes,
        "tables": {t: len(catalog.snapshots(t)) for t in
                   (lineage.RESULTS_TABLE, lineage.LINEAGE_TABLE,
                    lineage.CHECKPOINT_TABLE)},
        "files_vacuumed": n_vacuumed,
    }


def cmd_report(spark, args) -> dict:
    """The daily read a real user runs against a committed extraction
    catalog: a day (or day-range) slice of the results table. The slice is
    MANIFEST-PRUNED — non-matching crawl days' files are never opened
    (tables.py scan_files; results are always partitioned by warc_day)
    — and the emitted `scan` stats show exactly how much the
    prune skipped."""
    cat = Catalog(args.catalog)
    if args.internals and (args.day or args.since or args.until
                           or args.lineage):
        raise SystemExit("report: --internals is a whole-catalog report; "
                         "day/lineage flags apply to the slice reports")
    if args.internals:
        # engine observability (round-5 verdict #8): the catalog's own
        # scale claims as user-visible numbers — per table, what the
        # manifest-level prune saw and how bounded _meta is
        import os as _os

        tables = {}
        for t in sorted(_os.listdir(cat.root)):
            if not cat.exists(t):
                continue
            txns = cat.txns(t)
            files = cat.scan_files(t)
            snaps = cat.snapshots(t)
            meta = cat._meta(t)
            tables[t] = {
                "versions_retained": len(snaps),
                "current_version": snaps[-1]["version"],
                "manifests": len(snaps[-1]["manifests"]),
                "data_files": len(files),
                "txns_committed": len(txns),
                "partition_by": snaps[-1]["partition_by"],
                "scan": dict(cat.last_scan_stats),
                "meta_dir_files": len(_os.listdir(meta)),
            }
        return {"internals": tables}
    if args.day and (args.since or args.until):
        raise SystemExit("report: --day is exclusive with --since/--until")
    if args.lineage and (args.day or args.since or args.until):
        raise SystemExit("report: --lineage is a run-level report; day "
                         "flags apply to the day-slice report only")
    where = None
    if args.day:
        where = {"warc_day": args.day}
    elif args.since and args.until:
        where = {"warc_day": ("between", args.since, args.until)}
    elif args.since:
        where = {"warc_day": (">=", args.since)}
    elif args.until:
        where = {"warc_day": ("<=", args.until)}
    if args.lineage:
        # run-level report: measured throughput + cost from the lineage
        # table (A8/A9 — real per-partition UDF wall time, not estimates)
        lin = cat.read(spark, lineage.LINEAGE_TABLE,
                       where={"run_id": args.lineage}
                       if args.lineage != "all" else None).cache()
        runs = sorted(r.run_id for r in
                      lin.select("run_id").distinct().collect())
        if not runs:
            lin.unpersist()
            raise SystemExit(f"report: no lineage for run {args.lineage!r}")
        perf = evaluate_ops.performance_metrics(lin).first()
        cost = evaluate_ops.cost_metrics(lin).agg(
            F.round(F.sum("est_cost_usd"), 8).alias("usd")).first()
        lin.unpersist()
        return {
            "lineage": {
                "runs": runs,
                "n_docs": perf.n_docs,
                "docs_per_cpu_sec": perf.docs_per_cpu_sec,
                "avg_ms_per_doc": perf.avg_ms_per_doc,
                "est_cost_usd": cost.usd,
            },
            "scan": dict(cat.last_scan_stats),
        }
    res = cat.read(spark, lineage.RESULTS_TABLE, where=where)
    scan = dict(cat.last_scan_stats)
    days = (
        res.groupBy("warc_day").agg(
            F.count("*").alias("documents"),
            F.sum(F.when(F.col("status") == "success", 1).otherwise(0))
             .alias("ok"),
            F.sum(F.length("body_text")).alias("extracted_bytes"),
        ).orderBy("warc_day").collect()
    )
    return {
        "days": [
            {"warc_day": r.warc_day, "documents": r.documents,
             "success_rate": round(r.ok / max(r.documents, 1), 4),
             "extracted_bytes": r.extracted_bytes}
            for r in days
        ],
        "scan": scan,
    }


def cmd_compact(spark, args) -> dict:
    """Small-file maintenance for a committed catalog: rewrite each table's
    current snapshot into right-sized files (streaming sinks append one
    file set per micro-batch — reads eventually pay a footer open per
    batch), optionally vacuuming the superseded files right away.
    Partition layout and exactly-once txn history are preserved
    (sources/tables.py Catalog.compact)."""
    cat = Catalog(args.catalog)
    if args.table:
        if not cat.exists(args.table):
            raise SystemExit(
                f"compact: table {args.table!r} not found in {args.catalog}")
        tables = [args.table]
    else:
        tables = [t for t in (lineage.RESULTS_TABLE, lineage.LINEAGE_TABLE,
                              lineage.CHECKPOINT_TABLE) if cat.exists(t)]
        if not tables:
            raise SystemExit(f"compact: no tables found in {args.catalog}")
    # reconcile torn transactions FIRST (same discipline as run_extraction's
    # start): compacting folds rows into untagged manifests, which would
    # otherwise freeze a crashed run's orphan appends beyond rollback's
    # reach and duplicate them on resume (review finding)
    live = cat.txns(lineage.CHECKPOINT_TABLE)
    out = {}
    for t in tables:
        stats = cat.compact(
            spark, t, target_file_bytes=args.target_mb * 1024 * 1024,
            live_txns=live if t in (lineage.RESULTS_TABLE,
                                    lineage.LINEAGE_TABLE) else None)
        if args.vacuum:
            # immediate reclaim is safe here only because --vacuum is
            # documented as a no-concurrent-writers maintenance flag
            stats["files_vacuumed"] = cat.vacuum(t, min_age_secs=0)
        out[t] = stats
    return {"tables": out}


def cmd_dedup(spark, args) -> dict:
    """Full dedup map: every content-digest group with its canonical doc and
    copy count (n_copies == 1 rows included — the map is what downstream
    keep-one filtering joins against). With --against PARQUET (a digest
    table from prior snapshots, e.g. an exact_dedup_groups export), runs
    INCREMENTAL dedup instead: per-doc novel/seen flags -> novel_docs."""
    docs = _docs(spark, args)
    if args.against:
        seen = spark.read.parquet(args.against)
        flags = dedup_ops.dedup_against(docs, seen,
                                        seen_digest_col=args.digest_col)
        return _emit(Catalog(args.output), "novel_docs", flags,
                     args.run_id)
    groups = dedup_ops.exact_dedup_groups(docs)
    return _emit(Catalog(args.output), "exact_dedup_groups", groups,
                 args.run_id)


def cmd_changes(spark, args) -> dict:
    """Read-only CDC summary: the rows added by append commits in
    (--since, --until] of a catalog table (Catalog.read_incremental),
    reported as per-commit-version row counts. The one aggregate job
    runs over only the delta's files."""
    cat = Catalog(args.catalog)
    try:
        delta = cat.read_incremental(spark, args.table, args.since,
                                     args.until)
    except (ValueError, FileNotFoundError) as e:
        raise SystemExit(f"changes: {e}") from None
    per = {str(r._commit_version): r.n for r in
           delta.groupBy("_commit_version")
           .agg(F.count("*").alias("n")).collect()}
    return {"table": args.table, "since": args.since,
            "rows": sum(per.values()), "by_version": per}


def cmd_blocklist(spark, args) -> dict:
    """Domain blocklist flags over a committed extraction catalog's urls
    (UT1/C4-style): host or any dot-suffix in --domains -> blocked, with
    the matching entry as provenance -> `url_block_flags`."""
    cat = Catalog(args.catalog)
    res = cat.read(spark, lineage.RESULTS_TABLE).select("url")
    flags = dedup_ops.url_blocklist_flags(res, args.domains, key="url")
    return _emit(cat, "url_block_flags", flags, args.run_id)


def cmd_jaccard(spark, args) -> dict:
    docs = _docs(spark, args)
    pairs = dedup_ops.jaccard_pairs(
        docs, dedup_ops.shingle_pairs(docs, n=args.ngram,
                                      min_shared=args.min_shared))
    return _emit(Catalog(args.output), "jaccard_pairs", pairs, args.run_id)


def cmd_cc(spark, args) -> dict:
    """Near-dup clustering: candidate pairs (any LSH family — text OR
    embedding) -> connected components -> catalog. With --keep-one, also
    write the deduplicated corpus (canonical member per cluster +
    unclustered rows). Text methods cluster the documents table on
    doc_id; embedding methods cluster the embeddings table on vec_id."""
    text_method = args.method in ("shingle", "minhash", "simhash")
    if args.index and args.method != "embedding":
        raise SystemExit("cc: --index applies to --method embedding only")
    if text_method:
        src = _docs(spark, args)
        ka, kb, out_key, dedup_table = "doc_a", "doc_b", "doc_id", \
            "docs_deduped"
        if args.method == "shingle":
            pairs = dedup_ops.shingle_pairs(src, n=args.ngram,
                                            min_shared=args.min_shared)
        elif args.method == "minhash":
            pairs = dedup_ops.minhash_lsh_pairs(
                src, min_est_jaccard=args.min_jaccard)
        else:
            pairs = dedup_ops.simhash_near_dups(
                src, max_hamming=args.max_hamming)
    else:
        src = _emb(spark, args)
        ka, kb, out_key, dedup_table = "vec_a", "vec_b", "vec_id", \
            "embeddings_deduped"
        # --min-cosine defaults to each family's library default (0.95
        # exact-cosine near-dup, 0.40 hyperplane — the threshold its
        # banded-recall math and DuckDB oracle are tuned for)
        thr = args.min_cosine
        if args.method == "embedding":
            assign = None
            if args.index:
                # persisted-index path: reuse the ann --build-index bucket
                # assignment instead of recomputing the full-corpus
                # centroid scan per clustering run
                idx_cat = Catalog(args.output) if args.index is True \
                    else Catalog(args.index)
                assign = idx_cat.read(spark, ANN_INDEX_TABLE)
            # n is known up front (footer-metadata count clamped by
            # --limit): auto-C sizing skips the post-repartition counting
            # pass (similarity.py n_hint); moot on the --index path
            pairs = similarity.cosine_near_dup_pairs(
                src, threshold=0.95 if thr is None else thr,
                n_hint=None if assign is not None else _emb_n(spark, args),
                assign=assign)
        else:  # hyperplane
            pairs = similarity.hyperplane_lsh_pairs(
                src, threshold=0.40 if thr is None else thr)
    # every pair family here emits DISTINCT key_a < key_b rows, so the
    # symmetrize-dedup shuffle inside connected_components is skippable
    comps = dedup_ops.connected_components(pairs, key_a=ka, key_b=kb,
                                           out_key=out_key,
                                           pairs_canonical=True)
    cat = Catalog(args.output)
    # embedding clusters land in their OWN table: appending a vec_id
    # schema into the text families' doc_id table would silently corrupt
    # a shared catalog (schema sampled per file on read)
    comp_table = ("neardup_components" if text_method
                  else "vec_neardup_components")
    out = _emit(cat, comp_table, comps, args.run_id,
                release=not args.keep_one)
    if dedup_ops.CC_LAST_STATS:
        # engine observability (round-5 verdict #8): how fast the graph
        # contracted — rounds, per-round edge counts, fast-path hit
        out["cc_stats"] = dict(dedup_ops.CC_LAST_STATS)
    if args.keep_one:
        # comps' label/edge caches are still registered, so this reuses the
        # clustering instead of re-running the iterative loop
        kept = dedup_ops.keep_canonical(src, comps, key=out_key)
        out["kept"] = _emit(cat, dedup_table, kept, args.run_id)
    return out


def cmd_paradedup(spark, args) -> dict:
    """Cross-corpus exact paragraph dedup over a committed extraction
    catalog's body_text (FineWeb/Gopher boilerplate removal): repeated
    paragraphs keep their first (url, position) occurrence corpus-wide;
    the per-url cleaned text lands in `paragraph_deduped`."""
    cat = Catalog(args.catalog)
    res = cat.read(spark, lineage.RESULTS_TABLE).select("url", "body_text")
    cleaned = dedup_ops.paragraph_dedup(res, key="url")
    return _emit(cat, "paragraph_deduped", cleaned, args.run_id)


def cmd_decontaminate(spark, args) -> dict:
    """Benchmark decontamination: flag corpus docs sharing any n-gram with
    the benchmark suite (--benchmark parquet with doc_id+text columns, or
    the synthetic doc_id % MOD == 1 subset), write the per-doc flag table."""
    docs = _docs(spark, args)
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
    else:
        bench = docs.filter(F.col("doc_id") % args.benchmark_mod == 1)
    flags = dedup_ops.contamination_flags(docs, bench, n=args.ngram)
    return _emit(Catalog(args.output), "contamination_flags", flags,
                 args.run_id)


def cmd_substrdup(spark, args) -> dict:
    """Windowed exact-substring duplication stats (Lee et al. ExactSubstr
    re-expressed as sliding char-window digest collisions): per-doc window
    counts, duplicated-window fraction, and the exact-integer dup_heavy
    drop flag -> `substring_dup_stats`."""
    docs = _docs(spark, args)
    stats = dedup_ops.substring_dup_stats(
        docs, window=args.window, stride=args.stride,
        heavy_frac=args.heavy_frac)
    return _emit(Catalog(args.output), "substring_dup_stats", stats,
                 args.run_id)


def cmd_dsir(spark, args) -> dict:
    """DSIR-style hashed n-gram importance scores (--target parquet of
    exemplar docs, or the synthetic doc_id %% MOD == 1 subset): per-doc
    target-likeness log-ratio -> `dsir_scores`. Overwrite semantics: the
    score depends on BOTH corpora's histograms, so two runs' scores must
    never coexist in one table."""
    docs = _docs(spark, args)
    if args.target:
        target = spark.read.parquet(args.target)
    else:
        target = docs.filter(F.col("doc_id") % args.target_mod == 1)
    scores = sampling_ops.hashed_ngram_importance(
        docs, target, num_buckets=args.buckets, hash_fn=args.hash_fn)
    return _emit(Catalog(args.output), "dsir_scores", scores, args.run_id,
                 mode="overwrite")


def cmd_c4(spark, args) -> dict:
    """C4-style line/page cleaning over the docs table: terminal-punct +
    min-words + javascript line filters, lorem-ipsum/brace page flags ->
    `c4_cleaned` (clean_text + page_kept; filter downstream)."""
    from .operators import textstats as textstats_ops  # noqa: PLC0415

    docs = _docs(spark, args)
    out = textstats_ops.c4_line_filter(
        docs, min_words=args.min_words, min_lines=args.min_lines,
        require_terminal_punct=not args.no_punct_rule)
    return _emit(Catalog(args.output), "c4_cleaned", out, args.run_id)


def cmd_pplbucket(spark, args) -> dict:
    """CCNet head/middle/tail perplexity bucketing: corpus bigram-LM
    scores + exact tercile cutoffs (optionally estimated on a
    deterministic --sample-rate subset at scale) -> `ppl_buckets`.
    Overwrite semantics: cutoffs depend on the whole corpus, so two
    runs' bucketings must never coexist in one table."""
    from .operators import textstats as textstats_ops  # noqa: PLC0415

    docs = _docs(spark, args)
    out = textstats_ops.perplexity_buckets(
        docs, top_k=args.top_k, sample_rate=args.sample_rate)
    return _emit(Catalog(args.output), "ppl_buckets", out, args.run_id,
                 mode="overwrite")


def cmd_curate(spark, args) -> dict:
    """The composed pretraining curation pipeline (operators/curate.py):
    host quota -> exact dedup -> near-dup keep-one -> substring
    heavy-dup drop -> decontaminate -> quality filter, in pinned order. EACH STAGE commits its survivor-key
    table (`curate_<stage>`) exactly-once per run id, and the next stage
    reads the committed keys back — so a crashed run resumes at the failed
    stage with leaf-plan inputs, and a replayed run id is a per-stage
    no-op. The final survivors (full rows) land in `docs_curated`."""
    docs = _docs(spark, args).persist()
    # a crashed stage must not leave the input cached in the session
    try:
        bench = (spark.read.parquet(args.benchmark) if args.benchmark
                 else docs.filter(F.col("doc_id") % args.benchmark_mod == 1))
        cat = Catalog(args.output)
        try:
            todo = curate_ops.resolve_stages(args.stages)
        except ValueError as e:
            raise SystemExit(f"curate: {e}") from None
        cur = docs
        stages_out = {}
        for stage in todo:
            table = f"curate_{stage}"
            txn = f"cli:{table}:{args.run_id}"
            # a DIFFERENT run's later overwrite of this stage table drops
            # this run's txn from its txn set (Catalog.overwrite) — resume
            # then recomputes the stage, never silently consuming the
            # other run's survivor set
            replayed = txn in cat.txns(table)
            n_keys = None
            if not replayed:
                survivors = curate_ops.run_stage(
                    stage, cur, benchmark=bench, quota=args.quota,
                    min_quality=args.min_quality,
                    max_dup_line_frac=args.max_dup_line_frac)
                # keys only: stage state is a survivor SET; overwrite keeps a
                # re-run with a new run id from unioning two runs' sets
                n_keys = _emit(cat, table, survivors.select("doc_id"),
                               args.run_id, release=True,
                               mode="overwrite")["rows_written"]
            # read the COMMITTED keys back: the next stage starts from a leaf
            # plan (no cross-stage plan growth) and a resumed run starts from
            # durable state rather than recomputation
            keys = cat.read(spark, table)
            cur = docs.join(keys, "doc_id", "left_semi")
            stages_out[stage] = {"table": table, "txn": txn,
                                 "replayed": replayed,
                                 "survivors": keys.count() if replayed
                                 else n_keys}
        final_rows = _emit(cat, "docs_curated", cur, args.run_id,
                           mode="overwrite")["rows_written"]
    finally:
        docs.unpersist()
    if final_rows is None:  # replayed: count what the earlier run committed
        final_rows = cat.read(spark, "docs_curated").count()
    return {"stages": stages_out, "order": todo,
            "final_table": "docs_curated", "final_rows": final_rows}


def cmd_sample(spark, args) -> dict:
    """Training-data assembly sampling (operators/sampling.py): source
    mixture re-weighting (--weights src=w pairs; post-sample token shares
    become proportional to the weights) and/or deterministic split
    assignment (--splits name=prop pairs, default 18/1/1 train/val/test).
    Both are exact-integer salted-hash decisions — replayable, engine- and
    partitioning-independent."""
    def _kv_ints(pairs: list[str], flag: str) -> dict:
        # the whole parse lives under one error path: a pair missing '='
        # (or with a second one) must exit "sample: ...", not traceback
        try:
            d = {}
            for kv in pairs:
                s, w = kv.split("=")
                d[s] = int(w)
            return d
        except ValueError as e:
            raise SystemExit(
                f"sample: bad {flag} entry (want NAME=INT): {e}") from None

    docs = _docs(spark, args)
    out = docs
    if args.weights:
        try:
            out = sampling_ops.mixture_sample(
                out, _kv_ints(args.weights, "--weights"))
        except ValueError as e:
            raise SystemExit(f"sample: {e}") from None
    if args.splits:
        try:
            out = sampling_ops.assign_splits(
                out, _kv_ints(args.splits, "--splits"))
        except ValueError as e:
            raise SystemExit(f"sample: {e}") from None
    # rows_written IS the sample size (assign_splits only adds a column);
    # a separate out.count() would run the whole pipeline twice and break
    # the cheap-replay contract on replayed run ids. Overwrite: the table
    # holds ONE run's sample — appending a second run's (possibly
    # different-config) sample would union incompatible decisions
    return _emit(Catalog(args.output), "docs_sampled", out, args.run_id,
                 mode="overwrite")


def cmd_pack(spark, args) -> dict:
    """Sequence packing (operators/packing.py): context-window assignment
    under concatenate-then-chop at --budget tokens per window; writes
    (doc_id, n_tokens, seq_id, seq_offset, n_seqs_spanned)."""
    docs = _docs(spark, args)
    packed = packing_ops.pack_sequences(docs, budget=args.budget,
                                        bucket_size=args.bucket_size)
    # overwrite: (seq_id, seq_offset) is a per-run ASSIGNMENT — two runs'
    # assignments for the same docs must never coexist in one table
    return _emit(Catalog(args.output), "docs_packed", packed, args.run_id,
                 mode="overwrite")


def cmd_minhash(spark, args) -> dict:
    pairs = dedup_ops.minhash_lsh_pairs(
        _docs(spark, args), min_est_jaccard=args.min_jaccard)
    return _emit(Catalog(args.output), "minhash_pairs", pairs, args.run_id)


def cmd_simhash(spark, args) -> dict:
    pairs = dedup_ops.simhash_near_dups(
        _docs(spark, args), max_hamming=args.max_hamming)
    return _emit(Catalog(args.output), "simhash_pairs", pairs, args.run_id)


ANN_CENTROIDS_TABLE = "ann_centroids"
ANN_INDEX_TABLE = "ann_index"


def cmd_ann(spark, args) -> dict:
    emb = _emb(spark, args)
    cat = Catalog(args.output)

    if args.build_index:
        # build-once: centroids + full-corpus bucket assignment land in the
        # catalog (exactly-once per run id); later probes reuse them with
        # --index and never rescan the corpus for assignment
        cents = (similarity.kmeans_centroids(
                     emb, num_centroids=args.centroids, iters=args.iters)
                 if args.kmeans
                 else similarity.seed_centroids(emb, args.centroids))
        assign = similarity.ivf_assign(
            emb, args.centroids, centroids=cents)
        r1 = _emit(cat, ANN_CENTROIDS_TABLE, cents, args.run_id,
                   release=False, mode="overwrite")
        r2 = _emit(cat, ANN_INDEX_TABLE, assign, args.run_id,
                   mode="overwrite")
        return {"built": True, "centroids": r1, "index": r2}

    if args.query_vec is None:
        raise SystemExit("ann: --query-vec is required unless --build-index")
    cents = assign = None
    if args.index:
        idx_cat = cat if args.index is True else Catalog(args.index)
        cents = idx_cat.read(spark, ANN_CENTROIDS_TABLE)
        assign = idx_cat.read(spark, ANN_INDEX_TABLE)
    elif args.kmeans:
        cents = similarity.kmeans_centroids(
            emb, num_centroids=args.centroids, iters=args.iters)
    topk = similarity.ivf_ann_query(
        emb, args.query_vec, k=args.k, num_centroids=args.centroids,
        centroids=cents, num_probes=args.probes, assign=assign)
    return _emit(cat, "ann_results", topk, args.run_id)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="webtext-extract")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("extract", help="flagship extraction -> catalog")
    _add_common(p)
    p.add_argument("--partitions", type=int, default=16,
                   help="checkpoint/resume granularity P: a crashed run "
                        "re-extracts only its uncommitted partitions of "
                        "the P url hashes (not the task count; extraction "
                        "runs one task per core)")
    p.add_argument("--vacuum", action="store_true",
                   help="after the run, delete data files not referenced by"
                        " current snapshots (expired/rolled-back commits);"
                        " assumes no concurrent writers on this catalog")

    p = sub.add_parser("report", help="day-sliced stats over a committed "
                                      "extraction catalog (pruned read)")
    p.add_argument("--catalog", required=True,
                   help="catalog directory a prior `extract` wrote")
    p.add_argument("--day", default=None, help="exact crawl day YYYY-MM-DD")
    p.add_argument("--since", default=None, help="first crawl day, inclusive")
    p.add_argument("--until", default=None, help="last crawl day, inclusive")
    p.add_argument("--lineage", default=None, metavar="RUN_ID",
                   help="report run-level throughput/cost from the lineage "
                        "table instead of day slices ('all' = every run; "
                        "a run id reads only that run's partition)")
    p.add_argument("--internals", action="store_true",
                   help="report the catalog's engine internals per table: "
                        "retained versions, manifest counts, committed "
                        "txns, scan prune stats, _meta boundedness")
    p.add_argument("--cores", default=None)

    p = sub.add_parser("compact", help="rewrite a catalog's small files "
                                       "into right-sized ones (preserves "
                                       "layout + txn history)")
    p.add_argument("--catalog", required=True)
    p.add_argument("--table", default=None,
                   help="one table (default: the extraction trio present)")
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument("--vacuum", action="store_true",
                   help="reclaim the superseded files immediately (assumes"
                        " no concurrent writers on this catalog)")
    p.add_argument("--cores", default=None)

    p = sub.add_parser("dedup", help="exact dedup groups -> catalog")
    _add_common(p)
    p.add_argument("--against", default=None,
                   help="parquet of previously-seen digests: run "
                        "incremental dedup (novel/seen flags) instead")
    p.add_argument("--digest-col", default="digest",
                   help="digest column name in the --against table")

    p = sub.add_parser("changes",
                       help="CDC summary: rows appended to a catalog "
                            "table in (--since, --until]")
    p.add_argument("--catalog", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--since", type=int, required=True)
    p.add_argument("--until", type=int, default=None)
    p.add_argument("--cores", default=None)

    p = sub.add_parser("blocklist",
                       help="domain blocklist flags over a committed "
                            "extraction catalog's urls -> url_block_flags")
    p.add_argument("--catalog", required=True)
    p.add_argument("--domains", nargs="+", required=True, metavar="DOMAIN",
                   help="blocked domains (a host is blocked if it or any "
                        "dot-suffix of it matches)")
    p.add_argument("--run-id", default="cli-run")
    p.add_argument("--cores", default=None)

    p = sub.add_parser("jaccard", help="n-gram Jaccard near-dup pairs")
    _add_common(p)
    p.add_argument("--ngram", type=int, default=3)
    p.add_argument("--min-shared", type=int, default=2)

    p = sub.add_parser("cc", help="near-dup clustering (connected components)")
    _add_common(p)
    p.add_argument("--method",
                   choices=["shingle", "minhash", "simhash",
                            "embedding", "hyperplane"],
                   default="shingle",
                   help="candidate-pair generator feeding the clustering "
                        "(text families cluster documents on doc_id; "
                        "embedding/hyperplane cluster embeddings on vec_id)")
    p.add_argument("--ngram", type=int, default=3)
    p.add_argument("--min-shared", type=int, default=2)
    p.add_argument("--min-jaccard", type=float, default=0.25)
    p.add_argument("--max-hamming", type=int, default=8)
    p.add_argument("--min-cosine", type=float, default=None,
                   help="cosine threshold for the embedding methods "
                        "(default: the family's library default — 0.95 "
                        "for embedding, 0.40 for hyperplane)")
    p.add_argument("--keep-one", action="store_true",
                   help="also write the deduplicated corpus (docs_deduped "
                        "for text methods, embeddings_deduped for the "
                        "embedding ones): one canonical row per cluster "
                        "plus all unclustered rows")
    p.add_argument("--index", nargs="?", const=True, default=None,
                   metavar="CATALOG_DIR",
                   help="(--method embedding) cluster using a persisted IVF "
                        "bucket assignment (the ann_index table a prior "
                        "`ann --build-index` wrote) instead of recomputing "
                        "it; reads the output catalog unless a directory "
                        "is given")

    p = sub.add_parser("minhash", help="MinHash-LSH candidate pairs")
    _add_common(p)
    p.add_argument("--min-jaccard", type=float, default=0.25)

    p = sub.add_parser("paradedup",
                       help="cross-corpus exact paragraph dedup over a "
                            "committed extraction catalog's body_text")
    p.add_argument("--catalog", required=True)
    p.add_argument("--run-id", default="cli-run")
    p.add_argument("--cores", default=None)

    p = sub.add_parser("decontaminate",
                       help="flag docs sharing n-grams with a benchmark "
                            "suite (GPT-3/Llama-style decontamination)")
    _add_common(p)
    p.add_argument("--ngram", type=int, default=8)
    p.add_argument("--benchmark", default=None,
                   help="parquet of benchmark docs (doc_id, text); default "
                        "is the synthetic doc_id %% MOD == 1 subset")
    p.add_argument("--benchmark-mod", type=int, default=37)

    p = sub.add_parser("simhash", help="SimHash near-dup pairs")
    _add_common(p)
    p.add_argument("--max-hamming", type=int, default=8)

    p = sub.add_parser("substrdup",
                       help="windowed exact-substring duplication stats "
                            "(ExactSubstr-style) -> substring_dup_stats")
    _add_common(p)
    p.add_argument("--window", type=int, default=64,
                   help="window width in characters")
    p.add_argument("--stride", type=int, default=16,
                   help="window stride in characters")
    p.add_argument("--heavy-frac", type=float, default=0.5,
                   help="dup_heavy threshold on the duplicated-window "
                        "fraction")

    p = sub.add_parser("c4",
                       help="C4-style line/page cleaning -> c4_cleaned")
    _add_common(p)
    p.add_argument("--min-words", type=int, default=5)
    p.add_argument("--min-lines", type=int, default=3)
    p.add_argument("--no-punct-rule", action="store_true",
                   help="drop the terminal-punctuation line requirement")

    p = sub.add_parser("pplbucket",
                       help="CCNet head/middle/tail perplexity buckets "
                            "-> ppl_buckets")
    _add_common(p)
    p.add_argument("--top-k", type=int, default=50_000,
                   help="bigram-LM prune size")
    p.add_argument("--sample-rate", type=float, default=1.0,
                   help="deterministic subset for the tercile cutoffs "
                        "(bound the exact-percentile buffer at scale)")

    p = sub.add_parser("dsir",
                       help="DSIR hashed n-gram importance scores vs a "
                            "target corpus -> dsir_scores")
    _add_common(p)
    p.add_argument("--target", default=None,
                   help="parquet of target/exemplar docs (doc_id, text); "
                        "default is the synthetic doc_id %% MOD == 1 "
                        "subset")
    p.add_argument("--target-mod", type=int, default=37)
    p.add_argument("--buckets", type=int, default=8192,
                   help="hashed n-gram bucket count")
    p.add_argument("--hash-fn", default="md5",
                   choices=["md5", "xxhash64"],
                   help="md5 = oracle-replayable tier; xxhash64 = native "
                        "scale tier (cheaper hashing, no DuckDB twin)")

    p = sub.add_parser("curate",
                       help="composed curation pipeline: host quota -> "
                            "exact dedup -> near-dup keep-one -> "
                            "substring heavy-dup drop -> decontaminate -> "
                            "quality filter; one "
                            "exactly-once commit PER STAGE (crash-resumable"
                            " at stage granularity)")
    _add_common(p)
    p.add_argument("--stages", nargs="+", default=None,
                   metavar="STAGE",
                   help="subset of stages to run (order stays pinned): "
                        "host_sample exact neardup substrdup "
                        "decontaminate quality")
    p.add_argument("--quota", type=int, default=10,
                   help="per-host document quota for host_sample")
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--max-dup-line-frac", type=float, default=0.3)
    p.add_argument("--benchmark", default=None,
                   help="parquet of benchmark docs (doc_id, text); default "
                        "is the synthetic doc_id %% MOD == 1 subset")
    p.add_argument("--benchmark-mod", type=int, default=37)

    p = sub.add_parser("sample",
                       help="mixture sampling (--weights) and/or split "
                            "assignment (--splits) -> docs_sampled")
    _add_common(p)
    p.add_argument("--weights", nargs="+", default=None, metavar="SRC=W",
                   help="integer mixture weights per source; post-sample "
                        "token shares become proportional to them")
    p.add_argument("--splits", nargs="+", default=None, metavar="NAME=P",
                   help="integer split proportions "
                        "(default test=1 train=18 val=1)")

    p = sub.add_parser("pack",
                       help="sequence packing: context-window ids under "
                            "concatenate-then-chop -> docs_packed")
    _add_common(p)
    p.add_argument("--budget", type=int, default=2048,
                   help="tokens per context window")
    p.add_argument("--bucket-size", type=int, default=4096,
                   help="prefix-sum bucket width (scale knob, result-"
                        "invariant)")

    p = sub.add_parser("ann", help="IVF ANN top-k over embeddings")
    _add_common(p)
    p.add_argument("--query-vec", type=int, default=None)
    p.add_argument("--k", type=int, default=5)
    p.add_argument("--probes", type=int, default=1)
    p.add_argument("--centroids", type=int, default=8)
    p.add_argument("--kmeans", action="store_true",
                   help="train IVF centroids with Lloyd k-means")
    p.add_argument("--iters", type=int, default=2)
    p.add_argument("--build-index", action="store_true",
                   help="build + persist IVF centroids and the full-corpus "
                        "bucket assignment to the output catalog, then exit")
    p.add_argument("--index", nargs="?", const=True, default=None,
                   metavar="CATALOG_DIR",
                   help="probe using a persisted index (ann_centroids + "
                        "ann_index tables) instead of recomputing the "
                        "assignment; reads the output catalog unless a "
                        "directory is given")

    args = ap.parse_args(argv)
    spark = get_spark(f"webtext-{args.cmd}-cli", cores=args.cores)
    out = {
        "extract": cmd_extract,
        "report": cmd_report,
        "compact": cmd_compact,
        "dedup": cmd_dedup,
        "blocklist": cmd_blocklist,
        "changes": cmd_changes,
        "jaccard": cmd_jaccard,
        "cc": cmd_cc,
        "minhash": cmd_minhash,
        "curate": cmd_curate,
        "decontaminate": cmd_decontaminate,
        "paradedup": cmd_paradedup,
        "simhash": cmd_simhash,
        "substrdup": cmd_substrdup,
        "dsir": cmd_dsir,
        "pplbucket": cmd_pplbucket,
        "c4": cmd_c4,
        "sample": cmd_sample,
        "pack": cmd_pack,
        "ann": cmd_ann,
    }[args.cmd](spark, args)
    print(json.dumps({"cmd": args.cmd, **out}))


if __name__ == "__main__":
    main()
