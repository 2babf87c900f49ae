"""The benchmark workloads, their reference outputs and their checks.

Each workload gets a `Ctx` holding the session, the tracer and the
run's directories, and fills in three things: end-to-end metrics (always
measured untraced), per-layer metrics (traced runs only) and correctness
checks, each of which counts as one attempted operation and, when it
fails, one failed operation.

Set-up (`setup_s`) is everything before the timed phase: session start,
input staging (repeated SETUP_REPEATS times, each from scratch; the median
repetition counts), the reference computation and the workload's warm-up
pass.
"""

from __future__ import annotations

import collections
import hashlib
import math
import os
import re
import statistics
import threading
import time

import duckdb
from pyspark.sql import functions as F

import env
import gen
from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (
    contract,
    golden,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (  # noqa: E501
    curate,
    dedup,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (  # noqa: E501
    extract_pages,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import (  # noqa: E501
    lineage,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans.skew import (  # noqa: E501
    salted_repartition,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (  # noqa: E501
    Catalog,
)

SETUP_REPEATS = 3
FIELDS = ["url", "title", "byline", "pub_date", "body_text"]

# input sizes per scale; "tiny" is the smoke-test scale. warm_docs sizes
# curate_corpus's warm-up corpus (a chain costs about the same at 100 and
# at 1000 documents).
SIZES = {
    "full": {"pages": 2400, "docs": 400, "warm_docs": 100, "batches": 20,
             "batch_pages": 16, "period_s": 1.5},
    "tiny": {"pages": 60, "docs": 120, "warm_docs": 60, "batches": 18,
             "batch_pages": 4, "period_s": 0.5},
}
# fewest timed iterations of an untraced run, however long they take (a
# curate chain takes ~10 s). Each further chain in a session takes longer
# than the one before, so over ten seeds the median of the first two
# chains spread less (0.10-0.14) than the median of three (0.11-0.17).
MIN_ITERS = 2
LINEAGE_PARTS = 16  # run_extraction's default partition count
# ingest: 16-page batches through 2 extraction partitions (stream_to_catalog's
# default of 8 takes ~2 s per batch on a 4-core host and falls behind)
STREAM_PARTS = 2
INGEST_TABLE = "extracted_text"
# spark.<name>.* layer metrics: the spans whose jobs (and their child spans'
# jobs) each one sums
SPARK_SPANS = {
    "extract": ["operators.extract"],
    "lineage": ["lineage.run_extraction"],
    "skew": ["plans.skew"],
    "append": ["tables.append"],
    "overwrite": ["tables.overwrite"],
    "read": ["tables.read"],
    "read_incremental": ["tables.read_incremental"],
    "curate": [f"curate.{s}" for s in curate.STAGE_ORDER],
    "shingle_pairs": ["dedup.shingle_pairs"],
    "cc": ["dedup.cc"],
    "suite": ["contract.q_curate_survivors"],
}


def digest(values) -> str:
    """Hash of one result row's (url, title, byline, pub_date, body_text)."""
    h = hashlib.sha1()
    for v in values:
        h.update(b"\x00" if v is None else v.encode("utf-8") + b"\x01")
    return h.hexdigest()


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); 0.0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


class Ctx:
    def __init__(self, *, seed: int, seconds: float, traced: bool,
                 scale: str, dirs: dict, spark, tracer, cores: int,
                 session_start_s: float):
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.sizes = SIZES[scale]
        self.dirs = dirs
        self.spark = spark
        self.tracer = tracer
        self.cores = cores
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.walls: dict[str, list[float]] = {}  # timed iterations
        self.cpus: dict[str, list[float]] = {}  # their process-tree CPU
        self.rss_parts: dict[str, int] = {}  # command -> KiB at peak RSS
        self.marks: dict[str, float] = {}  # phase -> perf_counter() at end
        self.session_start_s = session_start_s
        self.setup_median_s = 0.0
        self.warmup_s = 0.0
        self._lock = threading.Lock()  # producer and consumer both check

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def check(self, ok: bool, what: str) -> bool:
        """Resolve one attempted operation as passed or failed."""
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(what)
        return ok

    @staticmethod
    def guard(what: str, fn) -> tuple:
        """Run fn; returns (result, None) or (None, error text). The
        caller resolves the operation with `check`."""
        try:
            return fn(), None
        except Exception as e:  # noqa: BLE001 — a failed op is a metric
            return None, f"{what}: {type(e).__name__}: {e}"

    def warm_up(self, fn) -> None:
        """One untraced pass of the workload's own calls on its staged
        inputs, so the timed phase pays no first-call costs (Python worker
        start, JIT, code generation)."""
        enabled, self.tracer.enabled = self.tracer.enabled, False
        t0 = time.perf_counter()
        fn()
        self.warmup_s = time.perf_counter() - t0
        self.tracer.enabled = enabled
        self.layer("session.warmup_s", self.warmup_s, "s")

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def path(self, kind: str, name: str) -> str:
        return os.path.join(self.dirs[kind], name)

    def repeat_setup(self, stage, reference) -> tuple:
        """Stage inputs SETUP_REPEATS times, each from scratch, keeping the
        median time, then compute their reference once; returns (staged
        inputs, reference)."""
        stage_s, staged = [], None
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            with self.span("datagen.stage"):
                staged = stage()
            stage_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with self.span("golden.reference"):
            ref = reference(staged)
        self.setup_median_s = (statistics.median(stage_s)
                               + time.perf_counter() - t0)
        self.layer("datagen.stage_s", statistics.median(stage_s), "s")
        return staged, ref

    def timed_loop(self, once, min_iters: int) -> list[float]:
        """Call once(i) back to back for about `seconds`: after min_iters
        iterations, one starts only if the median iteration so far still
        fits. Records each iteration's process-tree CPU time; e2e cpu_s is
        their median (unlike wall time, it does not grow with CPU stolen
        by the hypervisor)."""
        walls: list[float] = []
        cpus = self.cpus.setdefault("untraced", [])
        t_end = time.perf_counter() + self.seconds
        i = 0
        while True:
            t0, c0 = time.perf_counter(), env.tree_cpu_s()
            once(i)
            walls.append(time.perf_counter() - t0)
            cpus.append(env.tree_cpu_s() - c0)
            i += 1
            left = t_end - time.perf_counter()
            if i >= min_iters and left < statistics.median(walls):
                self.e2e["cpu_s"] = (statistics.median(cpus), "s")
                return walls

    def measure(self, once, min_iters: int = MIN_ITERS) -> float:
        """The timed phase; returns the median untraced iteration wall.

        An untraced run times back-to-back untraced iterations, at least
        min_iters. A traced run, once the workload has warmed up, runs
        traced and untraced iterations in the order T U U T T U U T ...
        over the same time, at least 2 * min_iters (iterations drift: a
        curate chain takes longer than the one before it, and plain
        alternation would bias the difference); the tracing overhead is
        the median traced wall minus the median untraced wall."""
        self.e2e["setup_s"] = (self.session_start_s + self.setup_median_s
                               + self.warmup_s, "s")
        self.marks["setup"] = time.perf_counter()
        steal0, all0 = env.steal_ticks()
        try:
            return self._measure(once, min_iters)
        finally:
            self.marks["timed"] = time.perf_counter()
            steal1, all1 = env.steal_ticks()
            # CPU the hypervisor gave to other guests: explains slow runs
            self.e2e["steal_frac"] = ((steal1 - steal0)
                                      / max(1, all1 - all0), "ratio")

    def _measure(self, once, min_iters: int) -> float:
        if not self.traced:
            self.tracer.enabled = False
            plain = self.timed_loop(once, min_iters)
            self.walls["untraced"] = plain
            return statistics.median(plain)
        walls: dict[bool, list[float]] = {False: [], True: []}
        cpus: dict[bool, list[float]] = {False: [], True: []}
        t_end = time.perf_counter() + self.seconds
        i = 0
        while True:
            traced = i % 4 in (0, 3)
            self.tracer.enabled = traced
            t0, c0 = time.perf_counter(), env.tree_cpu_s()
            once(i)
            walls[traced].append(time.perf_counter() - t0)
            cpus[traced].append(env.tree_cpu_s() - c0)
            i += 1
            every = walls[False] + walls[True]
            left = t_end - time.perf_counter()
            if i >= 2 * min_iters and left < statistics.median(every):
                break
        self.tracer.enabled = True
        self.walls = {"untraced": walls[False], "traced": walls[True]}
        self.cpus = {"untraced": cpus[False], "traced": cpus[True]}
        self.e2e["cpu_s"] = (statistics.median(cpus[False]), "s")
        self.layer("trace.wall_s", statistics.median(walls[True]), "s")
        self.layer("trace.overhead_s", statistics.median(walls[True])
                   - statistics.median(walls[False]), "s")
        return statistics.median(walls[False])


# -- golden reference --------------------------------------------------------

def golden_reference(urls: list[str], htmls: list[bytes]) -> dict:
    """Sequential driver-side golden.extract_page over every page: the
    per-url digests and body lengths the catalog must reproduce, and the
    single-thread cost."""
    digests, body_chars, page_us, body_bytes = {}, {}, [], 0
    c0 = time.process_time()
    for u, h in zip(urls, htmls):
        t0 = time.perf_counter()
        r = golden.extract_page(u, h)
        page_us.append((time.perf_counter() - t0) * 1e6)
        body = r["body_text"] or ""
        digests[u] = digest(r[f] for f in FIELDS)
        body_chars[u] = len(body)
        body_bytes += len(body.encode("utf-8"))
    return {"digests": digests, "body_chars": body_chars,
            "page_us": page_us, "cpu_s": time.process_time() - c0,
            "body_bytes": body_bytes}


def report_golden(ctx: Ctx, ref: dict) -> None:
    ctx.layer("golden.cpu_s", ref["cpu_s"], "s")
    ctx.layer("golden.page_us_p50", pct(ref["page_us"], 50), "us")
    ctx.layer("golden.page_us_p99", pct(ref["page_us"], 99), "us")


def table_shape(ctx: Ctx, cat: Catalog, table: str,
                n_appends: int) -> None:
    """Catalog layer counts, from the catalog's public metadata calls."""
    files = cat.scan_files(table)
    ctx.layer("tables.manifests_current",
              cat.last_scan_stats["manifests_total"], "count")
    ctx.layer("tables.files_per_append", len(files) / max(1, n_appends),
              "count")
    snaps = cat.snapshots(table)
    merges = sum(
        1 for a, b in zip(snaps, snaps[1:])
        if b.get("operation") == "append"
        and len(b["manifests"]) <= len(a["manifests"]))
    ctx.layer("tables.merge_commits", merges, "count")


class TracedCatalog(Catalog):
    """Catalog whose appends open a span: how the benchmark times the
    commits run_extraction makes without touching the package."""

    def __init__(self, root: str, tracer):
        super().__init__(root)
        self.tracer = tracer

    def append(self, table, df, *args, **kwargs):
        with self.tracer.span("tables.append", table=table):
            return super().append(table, df, *args, **kwargs)


def span_p50(ctx: Ctx, name: str) -> float:
    return pct([s["end"] - s["start"] for s in ctx.tracer.by_name(name)], 50)


# -- extract_commit ----------------------------------------------------------

def extract_commit(ctx: Ctx) -> None:
    """Batch: run_extraction of the staged pages into a fresh catalog, back
    to back; wall_s is the median run."""
    spark, n = ctx.spark, ctx.sizes["pages"]
    path = ctx.path("inputs", "pages.parquet")
    _, ref = ctx.repeat_setup(
        lambda: gen.stage_pages(ctx.seed, n, path),
        lambda t: golden_reference(t["url"].to_pylist(),
                                   t["html"].to_pylist()))
    pages = spark.read.parquet(path)
    # on a smaller page set the first timed run was still ~35% slower
    ctx.warm_up(lambda: lineage.run_extraction(
        spark, pages, Catalog(ctx.path("catalogs", "warmup")),
        run_id="warmup", num_partitions=LINEAGE_PARTS))
    runs: list[tuple[str, str | None]] = []  # (catalog root, error)

    def once(i: int) -> None:
        root = ctx.path("catalogs", f"run{i}")
        cat = TracedCatalog(root, ctx.tracer)
        with ctx.span("lineage.run_extraction"):
            _, err = ctx.guard(f"run_extraction #{i}", lambda: (
                lineage.run_extraction(spark, pages, cat, run_id=f"r{i}",
                                       num_partitions=LINEAGE_PARTS)))
        runs.append((root, err))

    wall = ctx.measure(once)
    ctx.e2e["wall_s"] = (wall, "s")
    ctx.e2e["extracted_bytes_per_s"] = (ref["body_bytes"] / wall, "B/s")

    # verification (untimed): each run committed exactly the golden rows
    want = collections.Counter(ref["digests"].values())
    for i, (root, err) in enumerate(runs):
        got = None
        if err is None:
            got, err = ctx.guard(f"read back run #{i}", lambda root=root: (
                collections.Counter(digest(r) for r in Catalog(root).read(
                    spark, lineage.RESULTS_TABLE).select(*FIELDS).collect())))
        if err is not None:
            ctx.check(False, err)
        else:
            ctx.check(got == want, f"run #{i}: committed rows differ from "
                      f"golden ({sum((got - want).values())} extra, "
                      f"{sum((want - got).values())} missing)")

    if not ctx.traced:
        return
    report_golden(ctx, ref)
    run_s = span_p50(ctx, "lineage.run_extraction")
    walls = []
    for _ in range(2):
        with ctx.span("operators.extract") as sp:
            extract_pages(pages).agg(
                F.count("*"), F.sum(F.length("body_text"))).collect()
        walls.append(sp["end"] - sp["start"])
    ext = statistics.median(walls)
    ctx.layer("extract.wall_s", ext, "s")
    ctx.layer("extract.parallel_eff", ref["cpu_s"] / (ctx.cores * ext),
              "ratio")
    ctx.layer("extract.arrow_gap_s", ext - ref["cpu_s"] / ctx.cores, "s")
    ctx.layer("lineage.run_s", run_s, "s")
    ctx.layer("lineage.commit_s", run_s - ext, "s")
    with ctx.span("plans.skew"):
        parts = (salted_repartition(pages.select("url", "html"),
                                    LINEAGE_PARTS)
                 .groupBy(F.spark_partition_id())
                 .agg(F.count("*").alias("rows"),
                      F.sum(F.length("html")).alias("bytes"))
                 .collect())
    for what in ("rows", "bytes"):
        vals = [r[what] for r in parts]
        ctx.layer(f"skew.{what}_max_over_mean",
                  max(vals) / (sum(vals) / LINEAGE_PARTS), "ratio")
    ctx.layer("tables.append_s", span_p50(ctx, "tables.append"), "s")
    table_shape(ctx, Catalog(runs[-1][0]), lineage.RESULTS_TABLE, 1)


# -- curate_corpus -----------------------------------------------------------

BENCH_MOD = 37  # the curate subcommand's default --benchmark-mod
QUOTA = 10  # the contract's q_curate_survivors configuration
MIN_QUALITY = 0.5
MAX_DUP_LINE_FRAC = 0.3


def curate_oracle(docs_path: str) -> list[int]:
    """contract.ORACLES["q_curate_survivors"] in DuckDB over the staged
    documents, with every CTE materialized (DuckDB 1.0 otherwise re-runs a
    CTE at each reference, 15x slower here; the rows are the same)."""
    sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (",
                 contract.ORACLES["q_curate_survivors"])
    con = duckdb.connect()
    try:
        con.execute("SET threads=4")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}')")
        return sorted(r[0] for r in con.execute(sql).fetchall())
    finally:
        con.close()


def curate_chain(ctx: Ctx, docs, bench, root: str, run_id: str) -> list[int]:
    """The curate subcommand's per-stage loop: each stage's survivor keys
    are overwritten into `curate_<stage>` and read back before the next
    stage; the final rows land in docs_curated. Returns the final keys."""
    spark = ctx.spark
    cat = Catalog(root)
    cur = docs
    for stage in curate.resolve_stages(None):
        table = f"curate_{stage}"
        with ctx.span(f"curate.{stage}") as st:
            survivors = curate.run_stage(
                stage, cur, benchmark=bench, quota=QUOTA,
                min_quality=MIN_QUALITY,
                max_dup_line_frac=MAX_DUP_LINE_FRAC).select("doc_id")
            survivors = survivors.persist()
            survivors.count()
            with ctx.span("tables.overwrite"):
                cat.overwrite(table, survivors, txn=f"cli:{table}:{run_id}")
            survivors.unpersist()
            dedup.release_caches()
            with ctx.span("tables.read"):
                keys = cat.read(spark, table)
                n_keys = keys.count()
            cur = docs.join(keys, "doc_id", "left_semi")
        if st is not None:
            st["survivors"] = n_keys
    final = cur.persist()
    final.count()
    with ctx.span("tables.overwrite"):
        cat.overwrite("docs_curated", final, txn=f"cli:docs_curated:{run_id}")
    final.unpersist()
    return sorted(r[0] for r in
                  cat.read(spark, "docs_curated").select("doc_id").collect())


def curate_corpus(ctx: Ctx) -> None:
    """Batch: the six curate stages over the staged documents, each
    committed with Catalog.overwrite, back to back; wall_s is the median
    chain."""
    spark, n = ctx.spark, ctx.sizes["docs"]

    def load(path: str):
        # as the curate subcommand reads its input: spread over the cores
        docs = (spark.read.parquet(path)
                .repartition(spark.sparkContext.defaultParallelism, "doc_id")
                .persist())
        docs.count()
        return docs, docs.filter(F.col("doc_id") % BENCH_MOD == 1)

    docs_path = ctx.path("inputs", "documents.parquet")
    _, want = ctx.repeat_setup(
        lambda: gen.stage_documents(ctx.seed, n, docs_path),
        lambda _t: curate_oracle(docs_path))

    def warm_up() -> None:
        # pays the first-call costs on a smaller corpus
        warm_path = ctx.path("inputs", "warmup.parquet")
        gen.stage_documents(ctx.seed, ctx.sizes["warm_docs"], warm_path)
        wdocs, wbench = load(warm_path)
        curate_chain(ctx, wdocs, wbench, ctx.path("catalogs", "warmup"),
                     "warmup")
        wdocs.unpersist()

    ctx.warm_up(warm_up)
    docs, bench = load(docs_path)
    chains: list[tuple] = []  # (final keys, error)

    def once(i: int) -> None:
        chains.append(ctx.guard(f"curate chain #{i}", lambda: curate_chain(
            ctx, docs, bench, ctx.path("catalogs", f"run{i}"), f"r{i}")))

    if ctx.traced:
        # the composed chain as the contract suite runs it, warm
        contract_leaf(ctx, want)
    ctx.e2e["wall_s"] = (ctx.measure(once), "s")
    for i, (keys, err) in enumerate(chains):
        ctx.check(err is None and keys == want, err or (
            f"curate chain #{i}: {len(keys)} survivors, oracle has "
            f"{len(want)}"))

    if ctx.traced:
        curate_layers(ctx, docs, len(chains) - 1)
    docs.unpersist()


def contract_leaf(ctx: Ctx, want: list[int]) -> None:
    """contract.QUERIES["q_curate_survivors"] on the staged corpus: the
    composed chain as the contract suite runs it, checked against the same
    oracle."""
    with ctx.span("contract.q_curate_survivors") as sp:
        leaf, err = ctx.guard("q_curate_survivors", lambda: sorted(
            r[0] for r in contract.QUERIES["q_curate_survivors"](
                ctx.spark, ctx.dirs["inputs"]).select("doc_id").collect()))
    dedup.release_caches()
    ctx.layer("suite.q_curate_survivors_s", sp["end"] - sp["start"], "s")
    ctx.check(err is None and leaf == want,
              err or "q_curate_survivors differs from its oracle")


def curate_layers(ctx: Ctx, docs, last: int) -> None:
    spark = ctx.spark
    for stage in curate.STAGE_ORDER:
        spans = ctx.tracer.by_name(f"curate.{stage}")
        ctx.layer(f"curate.{stage}_s", span_p50(ctx, f"curate.{stage}"), "s")
        ctx.layer(f"curate.{stage}_survivors",
                  spans[-1]["survivors"] if spans else 0, "count")
    ctx.layer("tables.overwrite_s", span_p50(ctx, "tables.overwrite"), "s")
    ctx.layer("tables.read_s", span_p50(ctx, "tables.read"), "s")
    # the near-dup stage's two dedup calls, timed on that stage's input
    # (the exact-stage survivors the last chain committed)
    cat = Catalog(ctx.path("catalogs", f"run{last}"))
    nd_in = docs.join(cat.read(spark, "curate_exact"), "doc_id", "left_semi")
    with ctx.span("dedup.shingle_pairs") as sp:
        pairs = dedup.register_cache(
            dedup.shingle_pairs(nd_in, n=3, min_shared=2).cache())
        n_pairs = pairs.count()
    ctx.layer("dedup.shingle_pairs_s", sp["end"] - sp["start"], "s")
    ctx.layer("dedup.candidate_pairs", n_pairs, "count")
    with ctx.span("dedup.cc") as sp:
        dedup.connected_components(
            pairs, out_key="doc_id", pairs_canonical=True).count()
    ctx.layer("dedup.cc_s", sp["end"] - sp["start"], "s")
    ctx.layer("dedup.cc_rounds", dedup.CC_LAST_STATS.get("rounds", 0),
              "count")
    dedup.release_caches()


# -- ingest_incremental ------------------------------------------------------

def ingest_incremental(ctx: Ctx) -> None:
    """Open loop, one producer and one consumer: small page batches due
    every period_s (1.5 s keeps up on a 4-core host, where an append takes
    ~0.9 s), at least `batches` of them (past the catalog's manifest-merge
    threshold of 16 appends) and enough to fill --seconds; see
    ingest_run."""
    period, per = ctx.sizes["period_s"], ctx.sizes["batch_pages"]
    n_batches = max(ctx.sizes["batches"], int(ctx.seconds / period))

    def batch_path(b: int) -> str:
        return ctx.path("inputs", f"batch{b:03d}.parquet")

    def reference(batches):
        return golden_reference(
            [u for t in batches for u in t["url"].to_pylist()],
            [h for t in batches for h in t["html"].to_pylist()])

    batches, ref = ctx.repeat_setup(
        lambda: gen.stage_batches(ctx.seed, n_batches, per, batch_path),
        reference)
    batch_urls = [t["url"].to_pylist() for t in batches]
    ctx.warm_up(lambda: ingest_warm_up(ctx))
    runs: list[dict] = []

    # the schedule fills the timed phase: one run per pass (a traced run
    # makes one traced and one untraced pass; four would not fit in 180 s)
    ctx.e2e["wall_s"] = (ctx.measure(lambda i: runs.append(ingest_run(
        ctx, i, period, batch_path, batch_urls, ref)), min_iters=1), "s")
    # a traced run times a traced pass first, then an untraced one
    traced_run, plain = (runs[0], runs[1]) if ctx.traced else (None, runs[0])
    ctx.e2e["freshness_p50_s"] = (pct(plain["fresh"], 50), "s")
    ctx.e2e["freshness_p75_s"] = (pct(plain["fresh"], 75), "s")
    ctx.e2e["read_p50_s"] = (pct(plain["read_s"], 50), "s")
    ctx.e2e["producer_late_max_s"] = (max(plain["late"], default=0.0), "s")

    if not ctx.traced:
        return
    report_golden(ctx, ref)
    last = traced_run
    ctx.layer("tables.append_s", span_p50(ctx, "tables.append"), "s")
    ctx.layer("tables.read_s", span_p50(ctx, "tables.read"), "s")
    ctx.layer("tables.read_incremental_s",
              span_p50(ctx, "tables.read_incremental"), "s")
    ctx.layer("tables.manifests_opened_frac",
              pct(last["opened_frac"], 50), "ratio")
    ctx.layer("tables.incremental_rows_ratio",
              last["delivered"] / max(1, last["appended"]), "ratio")
    table_shape(ctx, Catalog(last["root"]), INGEST_TABLE, n_batches)


def ingest_warm_up(ctx: Ctx) -> None:
    spark = ctx.spark
    path = ctx.path("inputs", "warmup.parquet")
    gen.stage_batches(0, 1, 8, lambda _b: path)
    cat = Catalog(ctx.path("catalogs", "warmup"))
    pages = lineage.with_warc_day(spark.read.parquet(path))
    res = extract_pages(pages.select("url", "html", lineage.WARC_DAY_COL),
                        num_partitions=STREAM_PARTS,
                        passthrough=[(lineage.WARC_DAY_COL, "string")])
    cat.append(INGEST_TABLE, res, txn="warmup",
               partition_by=[lineage.WARC_DAY_COL])
    cat.read_incremental(spark, INGEST_TABLE, 0).select(*FIELDS).collect()
    cat.read(spark, INGEST_TABLE, where={
        lineage.WARC_DAY_COL: gen.batch_day(0)}).agg(
            F.sum(F.length("body_text"))).collect()


def ingest_run(ctx: Ctx, i: int, period: float, batch_path,
               batch_urls: list[list[str]], ref: dict) -> dict:
    """One open-loop run into a fresh catalog. The producer commits batch b
    at its due time t0 + b * period (late if it fell behind) the way
    stream_to_catalog's foreachBatch does: extract_pages, then a txn-checked
    Catalog.append partitioned by warc_day. The consumer tails the table
    with read_incremental(since=last version) and after each delivery runs
    a day-sliced report read pinned to the version it consumed. A batch's
    freshness is its delivery time minus its due time."""
    spark = ctx.spark
    root = ctx.path("catalogs", f"run{i}")
    n = len(batch_urls)
    url_batch = {u: b for b, us in enumerate(batch_urls) for u in us}
    out = {"root": root, "fresh": [], "read_s": [], "late": [],
           "opened_frac": [], "delivered": 0, "appended": 0}
    t0 = time.perf_counter() + 0.1
    due = [t0 + b * period for b in range(n)]
    deadline = due[-1] + max(30.0, 4 * ctx.seconds)
    producer_done = threading.Event()

    def produce() -> None:
        cat = Catalog(root)
        for b in range(n):
            time.sleep(max(0.0, due[b] - time.perf_counter()))
            out["late"].append(time.perf_counter() - due[b])
            txn = f"stream:{INGEST_TABLE}:{b}"

            def commit(b=b, txn=txn) -> None:
                pages = lineage.with_warc_day(
                    spark.read.parquet(batch_path(b)))
                res = extract_pages(
                    pages.select("url", "html", lineage.WARC_DAY_COL),
                    num_partitions=STREAM_PARTS,
                    passthrough=[(lineage.WARC_DAY_COL, "string")])
                if cat.exists(INGEST_TABLE) and txn in cat.txns(INGEST_TABLE):
                    return
                cat.append(INGEST_TABLE, res, txn=txn,
                           partition_by=[lineage.WARC_DAY_COL])

            with ctx.span("tables.append"):
                _, err = ctx.guard(f"append batch {b}", commit)
            ctx.check(err is None, err or "")
            if err is None:
                out["appended"] += len(batch_urls[b])
        producer_done.set()

    def consume() -> None:
        cat = Catalog(root)
        last_version, seen, pending = 0, set(), set(range(n))
        while pending and time.perf_counter() < deadline:
            done = producer_done.is_set()
            if not cat.exists(INGEST_TABLE):
                if done:
                    break
                time.sleep(0.02)
                continue
            with ctx.span("tables.read_incremental"):
                rows, err = ctx.guard("read_incremental", lambda: cat
                                      .read_incremental(spark, INGEST_TABLE,
                                                        last_version)
                                      .select(*FIELDS, "_commit_version")
                                      .collect())
            now = time.perf_counter()
            if err is not None:
                ctx.check(False, err)
                time.sleep(0.1)
                continue
            if not rows:
                if done:
                    break
                time.sleep(0.02)
                continue
            out["delivered"] += len(rows)
            new = sorted({url_batch[r["url"]] for r in rows} & pending)
            want = collections.Counter(
                ref["digests"][u] for b in new for u in batch_urls[b])
            got = collections.Counter(digest(r[:5]) for r in rows)
            ctx.check(got == want, f"read_incremental since v{last_version}"
                      f" returned {len(rows)} rows for {len(new)} new "
                      f"batch(es) of {sum(want.values())} rows")
            for b in new:
                pending.discard(b)
                out["fresh"].append(now - due[b])
                seen.update(batch_urls[b])
            last_version = max(r["_commit_version"] for r in rows)
            if new:
                day_read(cat, last_version, gen.batch_day(new[-1]), seen)
        for b in sorted(pending):
            ctx.check(False, f"batch {b} never delivered")
        out["end"] = time.perf_counter()

    def day_read(cat: Catalog, version: int, day: str, seen: set) -> None:
        r0 = time.perf_counter()
        with ctx.span("tables.read"):
            agg, err = ctx.guard("day read", lambda: cat.read(
                spark, INGEST_TABLE, version=version,
                where={lineage.WARC_DAY_COL: day}).agg(
                    F.count("*"), F.sum(F.length("body_text"))).first())
            stats = dict(cat.last_scan_stats)
        out["read_s"].append(time.perf_counter() - r0)
        if err is not None:
            ctx.check(False, err)
            return
        day_urls = [u for u in seen if gen.batch_day(url_batch[u]) == day]
        want = (len(day_urls), sum(ref["body_chars"][u] for u in day_urls))
        ctx.check((agg[0], agg[1] or 0) == want,
                  f"day read {day}@v{version}: {tuple(agg)} != {want}")
        out["opened_frac"].append(stats["manifests_opened"]
                                  / max(1, stats["manifests_total"]))

    threads = [threading.Thread(target=produce, name="producer"),
               threading.Thread(target=consume, name="consumer")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    out["wall"] = out["end"] - t0
    return out


# BENCHMARK.json lists the first two; ingest_incremental runs on demand
WORKLOADS = {
    "extract_commit": extract_commit,
    "curate_corpus": curate_corpus,
    "ingest_incremental": ingest_incremental,
}
