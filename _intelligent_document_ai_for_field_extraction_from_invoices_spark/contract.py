"""Driver-contract queries and their DuckDB oracles.

Every SQL-expressible operator from SURVEY.md §2 gets a `QUERIES[name]`
(Spark impl) + `ORACLES[name]` (ANSI SQL for DuckDB over the same parquet
views). Column names and rounding are aligned on both sides — the driver
compares row-count + schema + order-insensitive value-hash at sf=0.01.

Extraction queries run the real distributed pipeline over pages synthesised
from the `documents` table by pure doc_id arithmetic (datagen.py); their
oracles recompute the expected field values directly from `documents` using
the mirrored arithmetic — an independent end-to-end check on the extractor.

MinHash/SimHash hashes are md5-derived (operators/dedup.py), so even those
pipelines are reproduced end-to-end in ANSI SQL — their oracles are generated
programmatically below (`_minhash_oracle_sql` / `_simhash_oracle_sql`).
"""

from __future__ import annotations

import math
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import datagen
from .functions import text as textfn
from .operators import (
    curate,
    dedup,
    evaluate,
    packing,
    sampling,
    sessionize,
    similarity,
    textstats,
)
from .operators.extract import extract_pages
from .plans import lineage
from .sources.tables import Catalog
from .streaming.stream import hourly_event_counts_stream, tmp_dir

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

# per-(session, sf_dir) memos, keyed by the session object itself (not
# id(): a GC'd session's id can be reused, which would hand a stale cached
# plan to a new session); bounded so a long-lived driver can't accumulate
# pinned sessions/plans/catalogs across many (session, sf_dir) combinations
_MEMO_MAX = 2  # flagship + gate sf in one process is the usual peak
_RESULTS_CACHE: dict[tuple[SparkSession, str], DataFrame] = {}


def _memo(memo: dict, key, build, evict):
    """memo[key], built by `build()` on a miss. A miss first evicts the
    OLDEST insertions past _MEMO_MAX through `evict(value)` (dict.popitem()
    is LIFO and would evict the hottest entry while pinning the oldest
    forever)."""
    if key not in memo:
        while len(memo) >= _MEMO_MAX:
            evict(memo.pop(next(iter(memo))))
        memo[key] = build()
    return memo[key]


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — session may already be stopped
        pass


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # pin UTC so NTZ<->LTZ conversions are stable whatever the driver's TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, repartitioned for compute-heavy per-doc pipelines.

    The sandbox table is ONE parquet file -> a single scan task, which would
    run the entire pre-shuffle pipeline (shingle explode, md5 banks, bit
    votes) single-threaded. One cheap shuffle of the small text table
    (hash-partitioned on doc_id into defaultParallelism partitions)
    unlocks full-core parallelism. The shuffle always runs, even when the
    scan already has at least that many splits."""
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return docs.repartition(par, "doc_id")


def _emb_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, repartitioned for compute-heavy vector pipelines — same
    single-file-scan rationale as `_docs_wide`: without it the n x C
    centroid-scoring stage (broadcast join + cosine folds) runs in ONE task.
    Like `_docs_wide`, it always shuffles (hash on vec_id into
    defaultParallelism partitions), whatever the scan's split count."""
    emb = _t(spark, sf_dir, "embeddings")
    par = spark.sparkContext.defaultParallelism
    return emb.repartition(par, "vec_id")


def extraction_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run (and cache) the full extraction pipeline over pages derived from
    the documents table; exposes doc_id parsed back from the url."""
    def build() -> DataFrame:
        pages = datagen.pages_from_documents(_t(spark, sf_dir, "documents"))
        return extract_pages(pages).withColumn(
            "doc_id", F.regexp_extract("url", r"doc-(\d+)$", 1).cast("long")
        ).cache()

    return _memo(_RESULTS_CACHE, (spark, sf_dir), build, _unpersist)


_AUTHOR_SQL_CASE = "CASE doc_id % 8 " + " ".join(
    f"WHEN {i} THEN '{a}'" for i, a in enumerate(datagen.AUTHORS)
) + " END"

# multilingual flavor (datagen.flavor_for precedence: empty > pdf > soup > ml)
_ML = "(doc_id % 11 <> 7 AND doc_id % 13 <> 5 AND doc_id % 17 = 3)"
_ML_AUTHOR_SQL_CASE = (
    "CASE WHEN doc_id % 2 = 0 THEN (CASE doc_id % 4 "
    + " ".join(f"WHEN {i} THEN '{a}'"
               for i, a in enumerate(datagen.AUTHORS_HI))
    + " END) ELSE (CASE doc_id % 4 "
    + " ".join(f"WHEN {i} THEN '{a}'"
               for i, a in enumerate(datagen.AUTHORS_GU))
    + " END) END"
)

_EMPTY = "doc_id % 97 = 96"  # the failed-row flavor (datagen.flavor_for)
_WORDS = "string_split_regex(trim(text), '\\s+')"

# ---------------------------------------------------------------------------
# Extraction pipeline queries (end-to-end, oracle from mirrored arithmetic)
# ---------------------------------------------------------------------------


def q_canonical_urls(spark, sf_dir):
    """URL canonicalization (web-pipeline dedup primitive): noisy URLs are
    synthesised from doc_id arithmetic (mixed-case scheme/host, default
    ports, tracking params, fragments, bare root slashes) and normalised by
    functions.text.canonical_url; the oracle builds the identical noisy URL
    in SQL and applies the generated canonical_url_sql chain."""
    d = _docs_wide(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    host = F.concat(F.lit("HTTPS://H"), (F.col("doc_id") % 16).cast("string"),
                    F.lit(".Example.COM"))
    port = F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(
        F.concat(
            F.lit("/doc-"), did,
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit("?utm_source=x&id="), did))
            .when(F.col("doc_id") % 3 == 1,
                  F.concat(F.lit("?id="), did, F.lit("&utm_campaign=y#frag")))
            .otherwise(F.lit("")),
        ))
    noisy = F.concat(host, port, path)
    return d.select(
        "doc_id",
        textfn.canonical_url(noisy).alias("canon_url"),
    )


_NOISY_URL_SQL = """(
    'HTTPS://H' || (doc_id % 16) || '.Example.COM'
    || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN '/'
            ELSE '/doc-' || doc_id ||
                 CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&id=' || doc_id
                      WHEN doc_id % 3 = 1 THEN '?id=' || doc_id || '&utm_campaign=y#frag'
                      ELSE '' END
       END)"""


def q_extract_title(spark, sf_dir):
    return extraction_results(spark, sf_dir).select("doc_id", "title")


def q_extract_byline(spark, sf_dir):
    return extraction_results(spark, sf_dir).select("doc_id", "byline")


def q_extract_date(spark, sf_dir):
    return extraction_results(spark, sf_dir).select("doc_id", "pub_date")


def q_extract_body(spark, sf_dir):
    return extraction_results(spark, sf_dir).select("doc_id", "body_text")


def q_extract_status_summary(spark, sf_dir):
    return (
        extraction_results(spark, sf_dir)
        .groupBy("status")
        .agg(F.count("*").alias("n"))
    )


def q_extract_blocks_kept(spark, sf_dir):
    return extraction_results(spark, sf_dir).select(
        "doc_id", F.col("n_blocks_kept").cast("long").alias("n_blocks_kept")
    )


# one materialized pipeline catalog per (session, sf); evicting the oldest
# rmtrees its tmp dir, so a long-lived driver can't accumulate materialized
# catalogs on disk
_PIPELINE_CATS: dict[tuple[SparkSession, str], Catalog] = {}


def pipeline_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """Materialize the full extraction pipeline ONCE per (session, sf) into
    a committed, day-partitioned catalog table (plans/lineage.py), so
    contract queries can exercise the PRODUCTION read path — manifest-pruned
    scans over snapshot commits — not just in-memory DataFrames."""
    def build() -> Catalog:
        cat = Catalog(tmp_dir("sparkgraft_contract_cat_"))
        pages = datagen.pages_from_documents(_t(spark, sf_dir, "documents"))
        lineage.run_extraction(spark, pages, cat, "contract-run")
        return cat

    return _memo(_PIPELINE_CATS, (spark, sf_dir), build,
                 lambda cat: shutil.rmtree(cat.root, ignore_errors=True))


# page timestamps are EPOCH_TS + doc_id minutes (datagen.warc_ts_for). The
# driver's documents table is 500 rows at every sf, so the whole corpus is
# one crawl day and this range predicate hash-verifies without shrinking the
# file set here; the actual file-set shrink is pinned in
# tests/test_partition_pruning.py over a multi-day synthetic corpus
_DAY_LO, _DAY_HI = "2025-01-01", "2025-01-02"


def q_results_by_day_pruned(spark, sf_dir):
    """The daily-report read a real user runs: a day-range slice of the
    committed results table. The catalog prunes non-matching warc_day
    manifests/files before any footer is opened (tables.py:scan_files)."""
    res = pipeline_catalog(spark, sf_dir).read(
        spark, lineage.RESULTS_TABLE,
        where={"warc_day": ("between", _DAY_LO, _DAY_HI)})
    return res.groupBy("warc_day").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0))
         .cast("long").alias("n_failed"),
        F.sum(F.length("body_text")).cast("long").alias("body_bytes"),
    )


def q_paragraph_dedup(spark, sf_dir):
    """Cross-corpus exact paragraph dedup (dedup.paragraph_dedup) over the
    extraction pipeline's body_text: every duplicated paragraph keeps only
    its first (doc, position) occurrence corpus-wide; texts reassemble in
    order. The oracle replays the identical min-encoded-key fixpoint over
    the mirrored body arithmetic."""
    res = extraction_results(spark, sf_dir).select("doc_id", "body_text")
    return dedup.paragraph_dedup(res, key="doc_id", text_col="body_text")


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition quality signals (textstats.repetition_stats) over
    the extraction pipeline's body_text: per-doc duplicate-line fraction +
    top-bigram character fraction. The oracle replays the identical
    max-of-(count, gram) tie-break in SQL (QUALIFY row_number)."""
    res = extraction_results(spark, sf_dir).select("doc_id", "body_text")
    return textstats.repetition_stats(res, key="doc_id",
                                      text_col="body_text")


def q_substring_dedup(spark, sf_dir):
    """Windowed exact-substring duplication stats (dedup.
    substring_dup_stats, the Lee et al. ExactSubstr signal re-expressed as
    sliding char-window digest collisions): per-doc window counts, dup
    fraction, and the exact-integer dup_heavy flag. The oracle replays the
    1-based stride positions, the md5 window digests, and the integer
    threshold compare."""
    d = _docs_wide(spark, sf_dir)
    return dedup.substring_dup_stats(d, window=64, stride=16,
                                     heavy_frac=0.2)


def q_incremental_dedup(spark, sf_dir):
    """Cross-snapshot exact dedup (dedup.dedup_against): the doc_id % 3
    == 0 subset stands in for the previously-ingested corpus history; its
    digest set flags this dump's docs as novel vs already-seen. The
    oracle replays the md5 anti-membership."""
    d = _t(spark, sf_dir, "documents")
    seen = (d.filter(F.col("doc_id") % 3 == 0)
            .select(F.md5("text").alias("digest")))
    return dedup.dedup_against(d, seen)


# blocklist for q_url_blocklist: two of the 16 synthetic hosts plus one
# entry that never matches (sorted — min() provenance is order-pinned)
_BLOCKLIST = ["blocked.example.org", "h3.example.com", "h7.example.com"]


def q_url_blocklist(spark, sf_dir):
    """UT1/C4-style domain blocklist flags (dedup.url_blocklist_flags):
    synthetic URLs over 16 hosts, half behind a www. subdomain so the
    dot-suffix matching is exercised (blocking h3.example.com also blocks
    www.h3.example.com); the oracle replays the host extraction, suffix
    explode, and min-domain provenance."""
    d = _docs_wide(spark, sf_dir)
    www = (F.when(F.col("doc_id") % 2 == 0, F.lit("WWW."))
           .otherwise(F.lit("")))
    url = F.concat(F.lit("HTTPS://"), www, F.lit("H"),
                   (F.col("doc_id") % 16).cast("string"),
                   F.lit(".Example.COM/doc-"),
                   F.col("doc_id").cast("string"))
    return dedup.url_blocklist_flags(
        d.select("doc_id", url.alias("url")), _BLOCKLIST)


def q_host_quota_sample(spark, sf_dir):
    """Per-host quota downsampling (dedup.host_quota_sample): each source's
    docs are kept with probability quota/count via an exact-integer
    md5-uniform accept test — the oracle replays the identical arithmetic,
    so the SAMPLE ITSELF hash-matches, not just its size."""
    d = _t(spark, sf_dir, "documents")
    return dedup.host_quota_sample(d, host_col="source", quota=10) \
        .select("doc_id", "source")


_BENCH_MOD = 37  # docs with doc_id % 37 == 1 stand in for the eval suite

# the mixture config for q_mixture_sample: sources srcN weighted 1..5 by
# N % 5 + 1 — non-uniform on a uniform corpus, so every accept rate differs
_MIX_WEIGHTS = {f"src{i}": (i % 5) + 1 for i in range(20)}


def q_mixture_sample(spark, sf_dir):
    """Source mixture sampling (sampling.mixture_sample): each source's
    expected token share becomes proportional to its configured weight via
    an exact-integer md5-uniform accept test — the oracle replays the
    identical lcm/min-ratio arithmetic, so the SAMPLE hash-matches."""
    d = _docs_wide(spark, sf_dir)
    return sampling.mixture_sample(d, _MIX_WEIGHTS) \
        .select("doc_id", "source", "n_tokens")


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split (sampling.assign_splits,
    18/1/1): the shard is a pure function of a salted doc-key hash; the
    oracle replays the cumulative-threshold integer comparison."""
    d = _t(spark, sf_dir, "documents")
    return sampling.assign_splits(d).select("doc_id", "split")


def q_bigram_lm_score(spark, sf_dir):
    """CCNet-style corpus-LM quality score (textstats.bigram_logprob_score)
    with the LM pruned to the top 64 bigrams so the OOV path is exercised:
    per-doc average negative log-prob in integer micro-nats — the oracle
    replays the pruned LM, the add-one smoothing, and the micro-nat
    rounding, so cross-engine float transcendentals cannot drift the
    hash."""
    d = _docs_wide(spark, sf_dir)
    return textstats.bigram_logprob_score(d, top_k=64)


def q_dsir_importance(spark, sf_dir):
    """DSIR-style hashed n-gram importance score (sampling.
    hashed_ngram_importance): raw docs scored by target-likeness under
    hashed unigram+bigram bucket distributions (target = the doc_id % 37
    == 1 exemplar subset; 512 buckets so collisions are exercised at test
    scale). The oracle replays the salted-md5 bucketing, the add-one
    smoothing, and the micro-nat rounding."""
    d = _docs_wide(spark, sf_dir)
    tgt = d.filter(F.col("doc_id") % _BENCH_MOD == 1)
    return sampling.hashed_ngram_importance(d, tgt, num_buckets=512)


def q_ngram_repetition(spark, sf_dir):
    """The rest of the Gopher repetition family (textstats.
    ngram_repetition_fracs): per-doc top-2/3/4-gram character fractions
    with the (count, then lexicographically-largest-gram) argmax
    tie-break; the oracle replays it as QUALIFY row_number per n."""
    d = _docs_wide(spark, sf_dir)
    return textstats.ngram_repetition_fracs(d)


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (textstats.
    perplexity_buckets over the top-64 pruned bigram LM): corpus tercile
    cutoffs on avg_nll, every doc tagged. The oracle replays the score
    AND the exact interpolated percentiles (quantile_cont == Spark
    percentile)."""
    d = _docs_wide(spark, sf_dir)
    return textstats.perplexity_buckets(d, top_k=64)


def q_c4_line_filter(spark, sf_dir):
    """C4-style line/page cleaning (textstats.c4_line_filter) over
    synthetic multi-line pages built from doc_id arithmetic so every
    branch fires: a good long sentence, a too-short line, a javascript
    line, a no-terminal-punct line (doc_id % 7), and a tail that is
    lorem-ipsum (% 13), a code brace (% 11), or clean. The oracle
    replays every predicate."""
    d = _docs_wide(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    line1 = F.concat(F.lit("Sentence number "), did,
                     F.lit(" is long enough to keep."))
    line2 = F.lit("too short.")
    line3 = F.concat(
        F.lit("this line mentions javascript and has many words "), did)
    line4 = (F.when(F.col("doc_id") % 7 == 0,
                    F.lit("No terminal punctuation here at all"))
             .otherwise(F.lit("Another good sentence with enough "
                              "words right here!")))
    tail = (F.when(F.col("doc_id") % 13 == 0,
                   F.lit("lorem ipsum dolor sit amet and so forth."))
            .when(F.col("doc_id") % 11 == 0,
                  F.lit("code { blocks } do not belong in prose."))
            .otherwise(F.lit("Final sentence to close the page?")))
    txt = F.concat_ws("\n", line1, line2, line3, line4, tail)
    return textstats.c4_line_filter(d.select("doc_id", txt.alias("text")))


def q_pack_sequences(spark, sf_dir):
    """Deterministic sequence packing (packing.pack_sequences): context-
    window assignment under concatenate-then-chop at 512 tokens/window,
    computed with the two-level distributed prefix-sum (bucket_size=64
    forces many buckets at test scale); the oracle is ONE flat global
    window — pinning the distributed decomposition to the sequential
    semantics."""
    d = _t(spark, sf_dir, "documents")
    return packing.pack_sequences(d, budget=512, bucket_size=64)


def q_contamination(spark, sf_dir):
    """Benchmark decontamination (dedup.contamination_flags): corpus docs
    sharing any 8-gram with the synthetic 'benchmark suite' (doc_id % 37
    == 1) are flagged. The benchmark shingle set is broadcast; the oracle
    rebuilds the identical n-gram sets from raw strings (the md5 digests
    are injective over them)."""
    d = _docs_wide(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % _BENCH_MOD == 1)
    return dedup.contamination_flags(d, bench, n=8)


def q_curate_survivors(spark, sf_dir):
    """The COMPOSED curation pipeline (operators/curate.py): host quota ->
    exact dedup -> near-dup clustering keep-one -> ExactSubstr heavy-dup
    drop -> benchmark decontamination -> quality/repetition filters, in
    the pinned stage order. The oracle replays the whole chain as nested CTEs — each stage
    consuming the previous stage's survivor set — so the stage-ORDERING
    semantics (not just each operator) are hash-pinned."""
    d = _docs_wide(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % _BENCH_MOD == 1)
    return curate.curate_survivors(d, bench, quota=10, min_quality=0.5,
                                   max_dup_line_frac=0.3)


def q_lineage_perf(spark, sf_dir):
    """A8/A9 over the COMMITTED lineage table (production catalog read
    path): run-level throughput + cost on the deterministic estimate tier
    (evaluate.run_performance_summary — float math on exact integer totals
    only, so the result is partition-split-independent and the DuckDB
    oracle reproduces it from the mirrored extraction arithmetic). The
    measured-wall_ms tier of the same formulas is wall-clock and pinned by
    pytest (test_lineage_carries_measured_wall_ms) instead."""
    lin = pipeline_catalog(spark, sf_dir).read(spark, lineage.LINEAGE_TABLE)
    return evaluate.run_performance_summary(lin)


_EXTRACT_ORACLES = {
    "extract_title": f"""
        SELECT doc_id,
               CASE WHEN {_EMPTY} THEN NULL
                    ELSE 'Doc ' || doc_id || ': ' ||
                         array_to_string({_WORDS}[1:6], ' ')
               END AS title
        FROM documents""",
    "extract_byline": f"""
        SELECT doc_id,
               CASE WHEN {_EMPTY} THEN NULL
                    WHEN {_ML} THEN {_ML_AUTHOR_SQL_CASE}
                    ELSE {_AUTHOR_SQL_CASE} END AS byline
        FROM documents""",
    "extract_date": f"""
        SELECT doc_id,
               CASE WHEN {_EMPTY} THEN NULL
                    ELSE (DATE '2024-01-01' + ((doc_id % 365)::INT))::VARCHAR
               END AS pub_date
        FROM documents""",
    "extract_body": f"""
        WITH w AS (
          SELECT doc_id, {_WORDS} AS ws FROM documents
        ), c AS (
          SELECT doc_id, ws, greatest(1, len(ws) // 12) AS nc FROM w
        ), ch AS (
          SELECT doc_id, nc, ws, unnest(range(nc)) AS i FROM c
        ), chunks AS (
          SELECT doc_id, i,
                 array_to_string(
                   ws[(i*12+1):(CASE WHEN i = nc-1 THEN len(ws)
                                     ELSE (i+1)*12 END)], ' ') AS chunk
          FROM ch
        )
        SELECT doc_id,
               CASE WHEN {_EMPTY} THEN ''
                    ELSE string_agg(chunk, chr(10) ORDER BY i) END AS body_text
        FROM chunks GROUP BY doc_id""",
    "extract_status_summary": f"""
        SELECT CASE WHEN {_EMPTY} THEN 'failed' ELSE 'success' END AS status,
               count(*)::BIGINT AS n
        FROM documents GROUP BY 1""",
    "extract_blocks_kept": f"""
        SELECT doc_id,
               CASE WHEN {_EMPTY} THEN 0
                    ELSE greatest(1, len({_WORDS}) // 12)
               END::BIGINT AS n_blocks_kept
        FROM documents""",
}

# ---------------------------------------------------------------------------
# Relational operators over TPC-H-ish tables (SURVEY §2.3-2.6 analogues)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    """Hash aggregation with partial+final combine (SURVEY A4 family)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_top_orders(spark, sf_dir):
    """Join + agg + top-k (TakeOrderedAndProject, no full sort).

    r7: lineitem pre-aggregates by l_orderkey BEFORE the join (guide
    §2.3 "aggregate before you shuffle"): the join then matches 1:1 on
    the orders key instead of carrying every line row through it, and
    only the key column of orders is read at all. Same revenue per key —
    the o_orderkey group IS the l_orderkey group (orders.o_orderkey is
    unique), so group membership and the rounded sum are unchanged."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )
    return (
        rev.join(orders.select("o_orderkey"),
                 rev.l_orderkey == F.col("o_orderkey"))
        .select("o_orderkey", "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_region_customer_stats(spark, sf_dir):
    """Small dims broadcast (ref ground-truth/master joins J1-J3)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
        )
    )


def q_order_line_argmax(spark, sf_dir):
    """Best-candidate argmax with explicit tie-break (SURVEY A1 —
    ref extractor.py:310-312 first-wins semantics).

    r7: one max_by AGGREGATE instead of a row_number window — the window
    shuffled every line row and sorted each order's partition by
    (price desc, linenumber); the aggregate partial-combines map-side so
    the shuffle carries one row per order. max over the
    (price, -linenumber) struct picks exactly the rn=1 row: highest
    price, then lowest linenumber (the same tie-break, and linenumber is
    unique within an order, so the winner is total-ordered)."""
    li = _t(spark, sf_dir, "lineitem")
    best = F.max_by(
        F.struct("l_linenumber", "l_extendedprice"),
        F.struct(F.col("l_extendedprice").alias("p"),
                 (-F.col("l_linenumber")).alias("nl")),
    )
    return (
        li.groupBy("l_orderkey").agg(best.alias("b"))
        .select(
            "l_orderkey", F.col("b.l_linenumber").alias("l_linenumber"),
            F.round("b.l_extendedprice", 2).alias("best_price"),
        )
    )


def q_part_dedup_keep_max(spark, sf_dir):
    """Dedupe-by-value keep-max (SURVEY A2, ref extractor.py:481-487)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Events: aggregation / windows / sessionization (SURVEY A4-A10, W1)
# ---------------------------------------------------------------------------


def q_event_type_summary(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_hourly_event_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd HH:00").alias("hour"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q_session_counts(spark, sf_dir):
    return sessionize.session_counts(_t(spark, sf_dir, "events"))


def q_best_event_per_user(spark, sf_dir):
    return sessionize.best_event_per_user(_t(spark, sf_dir, "events"))


def q_event_error_buckets(spark, sf_dir):
    """Error categorization (SURVEY A10, ref evaluate.py:487-549)."""
    ev = _t(spark, sf_dir, "events")
    cat = (
        F.when(F.col("event_type") == "error", "error")
        .when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .otherwise("engagement")
    )
    return ev.groupBy(cat.alias("category")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


def q_props_json(spark, sf_dir):
    """F14 JSON parsing over the events props column: typed extraction +
    aggregation (get_json_object stays JVM-side)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count("*").alias("n"),
    )


def q_top_terms(spark, sf_dir):
    """Corpus term frequencies: explode tokens -> hash agg -> top 20
    (the TakeOrderedAndProject top-k path at explode scale)."""
    d = _docs_wide(spark, sf_dir)
    return (
        d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )


def q_distinct_users(spark, sf_dir):
    """Exact distinct aggregation (expand+two-phase agg under the hood)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def q_event_pivot(spark, sf_dir):
    """Pivot: one row per user bucket, one count column per event type
    (fixed column list so the shape is plan-time static)."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.withColumn("user_bucket", (F.col("user_id") % 10).cast("long"))
        .groupBy("user_bucket")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0, kinds)
    )


def q_conf_tier_counts(spark, sf_dir):
    """Confidence-tier bucketing (ref executable.py:170-172: >=.85 high,
    .65-.85 medium, <.65 low) over event values scaled to [0,1]."""
    ev = _t(spark, sf_dir, "events")
    c = F.col("value") / 200.0
    tier = (
        F.when(c >= 0.85, "high").when(c >= 0.65, "medium").otherwise("low")
    )
    return ev.groupBy(tier.alias("tier")).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Documents: text analysis + dedup (training-data ops)
# ---------------------------------------------------------------------------


def q_doc_stats_by_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def q_doc_cube(spark, sf_dir):
    """CUBE rollup over (lang, source) — SURVEY §2.4's optional grouping-sets
    extension; NULL marks the rolled-up dimension in both engines."""
    d = _t(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count("*").alias("n"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def q_token_stats(spark, sf_dir):
    d = textstats.with_token_stats(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        "avg_token_len",
    )


def q_bpe_token_stats(spark, sf_dir):
    """True-BPE tier (verdict #9): merge counting with the deterministic
    rank table, Arrow-batched; oracle replays the identical merge loop as
    chained replace() calls (contract._bpe_oracle_sql)."""
    return textstats.bpe_token_counts(_docs_wide(spark, sf_dir))


def _bpe_oracle_sql() -> str:
    """DuckDB twin of textstats.bpe_token_counts: per word, codepoints are
    space-joined and each merge rank applies as one replace() — DuckDB
    replace and Python str.replace share left-to-right non-overlapping
    semantics, so the chain below IS the UDF's loop, unrolled."""
    chain = "' ' || array_to_string(string_split(word, ''), ' ') || ' '"
    for a, b in textstats.BPE_MERGES:
        chain = f"replace({chain}, ' {a} {b} ', ' {a}{b} ')"
    return f"""
        WITH w AS (
          SELECT doc_id,
                 unnest(string_split_regex(text, '{textstats.WS_RUN}')) AS word
          FROM documents
        ), m AS (
          SELECT doc_id, {chain} AS merged FROM w WHERE word <> ''
        )
        SELECT doc_id, count(*)::BIGINT AS n_words,
               sum(len(string_split(trim(merged), ' ')))::BIGINT
                 AS n_bpe_tokens
        FROM m GROUP BY doc_id"""


def q_quality_scores(spark, sf_dir):
    d = textstats.with_quality_score(_docs_wide(spark, sf_dir))
    return d.select("doc_id", "stop_ratio", "punct_ratio", "quality_score")


def q_script_langid(spark, sf_dir):
    d = textstats.with_script_langid(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "script_lang")


def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def q_fingerprints(spark, sf_dir):
    d = textstats.normalized_fingerprint(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "fingerprint")


def q_ngram_jaccard_pairs(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    pairs = dedup.shingle_pairs(d, n=3, min_shared=2)
    return dedup.jaccard_pairs(d, pairs)


def q_neardup_components(spark, sf_dir):
    """Near-dup clustering: connected components over the shingle candidate
    pairs (min-label propagation to fixpoint; the fixpoint is engine-
    independent, so a DuckDB recursive CTE replicates it exactly)."""
    pairs = dedup.shingle_pairs(_docs_wide(spark, sf_dir), n=3, min_shared=2)
    # shingle_pairs emits distinct doc_a < doc_b rows by construction, so
    # the symmetrize-dedup shuffle can be skipped (round-5 verdict #2)
    return dedup.connected_components(pairs, pairs_canonical=True)


def q_minhash_lsh_pairs(spark, sf_dir):
    # md5 permutation hashes: oracle-reproducible
    return dedup.minhash_lsh_pairs(_docs_wide(spark, sf_dir),
                                   min_est_jaccard=0.25)


def q_simhash_near_dups(spark, sf_dir):
    return dedup.simhash_near_dups(_docs_wide(spark, sf_dir))


# ---------------------------------------------------------------------------
# Embeddings: similarity search
# ---------------------------------------------------------------------------


def q_pii_redaction(spark, sf_dir):
    """P2 PII-redaction chain (ref normalizer.py:117-127) — chained
    regexp_replace, fully native."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", textfn.redact_pii(F.col("text")).alias("redacted")
    )


def q_stream_hourly_counts(spark, sf_dir):
    """Structured Streaming variant of q_hourly_event_counts (engine
    extension; the reference has no streaming operators, SURVEY §2.9)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return hourly_event_counts_stream(spark, sf_dir)


def q_knn_cosine_vec0(spark, sf_dir):
    return similarity.cosine_knn(_t(spark, sf_dir, "embeddings"), 0, k=10)


def q_label_centroid_norms(spark, sf_dir):
    return similarity.label_centroid_norms(_t(spark, sf_dir, "embeddings"))


def q_ivf_ann_vec1(spark, sf_dir):
    return similarity.ivf_ann_query(_emb_wide(spark, sf_dir), 1, k=5)


def q_ivf_ann_multiprobe(spark, sf_dir):
    """Multi-probe IVF ANN: probe the query's 3 nearest buckets (the
    recall/cost dial between single-probe and brute force)."""
    return similarity.ivf_ann_query(_emb_wide(spark, sf_dir), 2, k=8,
                                    num_probes=3)


def q_ivf_kmeans_ann_vec1(spark, sf_dir):
    """ANN probe with TRAINED (Lloyd k-means) IVF centroids. Fully oracled
    since round 3: centroid means and assignment sims are rounded to 6 dp
    every iteration on BOTH engines, so cross-engine FP summation-order
    noise (~1e-10) cannot flip an argmax and `_kmeans_oracle_sql` replicates
    the entire training loop + probe in DuckDB."""
    emb = _emb_wide(spark, sf_dir)
    cents = similarity.kmeans_centroids(emb, num_centroids=8, iters=2)
    return similarity.ivf_ann_query(emb, 1, k=5, centroids=cents)


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs (IVF-bucketed self-join). Threshold
    0.40 so the synthetic clusters yield a non-trivial pair set (the oracle
    SQL uses the same value)."""
    return similarity.cosine_near_dup_pairs(
        _emb_wide(spark, sf_dir), threshold=0.40)


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect-safe ANSI; tables pre-registered as views)
# ---------------------------------------------------------------------------


def q_hyperplane_lsh_near_dups(spark, sf_dir):
    """Embedding near-dups via banded random-hyperplane LSH (the second
    bucketing family next to IVF). The plane matrix is md5-parity ±1
    constants shared with the oracle; signature dots are identically
    unrolled left-associative sums, so the sign test is bit-deterministic
    cross-engine."""
    return similarity.hyperplane_lsh_pairs(_emb_wide(spark, sf_dir),
                                           threshold=0.40, dim=64)


def _hyperplane_oracle_sql(
        threshold: float = 0.40, dim: int = 64,
        max_bucket: int = similarity.HYPERPLANE_MAX_BUCKET) -> str:
    planes, bands = similarity.HYPERPLANE_PLANES, similarity.HYPERPLANE_BANDS
    rpb = planes // bands
    sig = similarity.signature_sql(planes, dim,
                                   "CAST(embedding[{i}] AS DOUBLE)")
    return f"""
        WITH sig AS (
          SELECT vec_id, ({sig}) AS sig FROM embeddings
        ), b AS (
          SELECT vec_id, band,
                 (sig >> (band * {rpb})) & {(1 << rpb) - 1} AS bucket
          FROM sig, (SELECT unnest(range({bands})) AS band) t
        ), capped AS (
          SELECT * FROM b QUALIFY
            count(*) OVER (PARTITION BY band, bucket) <= {max_bucket}
        ), cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
          FROM capped a JOIN capped c
            ON a.band = c.band AND a.bucket = c.bucket
           AND a.vec_id < c.vec_id
        )
        SELECT vec_a, vec_b,
               round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                            eb.embedding::DOUBLE[]), 6)
                 AS cos_sim
        FROM cand
        JOIN embeddings ea ON ea.vec_id = cand.vec_a
        JOIN embeddings eb ON eb.vec_id = cand.vec_b
        WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                           eb.embedding::DOUBLE[]), 6)
              >= {threshold}"""


def _minhash_oracle_sql(num_perms: int = dedup.MINHASH_PERMS,
                        bands: int = dedup.LSH_BANDS,
                        max_bucket: int = dedup.MINHASH_MAX_BUCKET,
                        min_est_jaccard: float = 0.25) -> str:
    """ANSI-SQL twin of dedup.minhash_lsh_pairs: 3-word
    shingle md5 digests -> per-permutation min of the p%4-th 8-hex-char
    slice of md5(digest || ',' || p//4) -> banded buckets (md5 of the
    comma-joined band slice) -> capped self-join -> distinct pairs with
    est_jaccard = matching slots / num_perms."""
    rows = num_perms // bands
    mins = ",\n                 ".join(
        f"min(substr(md5(sh || ',{p // 4}'), {(p % 4) * 8 + 1}, 8)) AS mh{p}"
        for p in range(num_perms))
    band_rows = "\n          UNION ALL\n          ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bucket, [{sig}] AS sig FROM mh"
        .format(
            b=b,
            cat=" || ',' || ".join(f"mh{rows * b + r}" for r in range(rows)),
            sig=",".join(f"mh{p}" for p in range(num_perms)),
        )
        for b in range(bands))
    match = " + ".join(
        f"(CASE WHEN a.sig[{i}] = b.sig[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, num_perms + 1))
    return f"""
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
        ), s AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(range(len(ws) - 2),
                        i -> md5(array_to_string(ws[(i+1):(i+3)], ' '))))) AS sh
          FROM w WHERE len(ws) >= 3
        ), mh AS (
          SELECT doc_id, {mins}
          FROM s GROUP BY doc_id
        ), banded AS (
          {band_rows}
        ), cnt AS (
          SELECT band, bucket, count(*) AS c FROM banded GROUP BY 1, 2
        ), capped AS (
          SELECT b.* FROM banded b JOIN cnt USING (band, bucket)
          WHERE c <= {max_bucket}
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 round(({match}) / {num_perms}.0, 4) AS est_jaccard
          FROM capped a JOIN capped b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, est_jaccard FROM pairs
        WHERE est_jaccard >= {min_est_jaccard}"""


def _simhash_oracle_sql(max_hamming: int = 8,
                        max_bucket: int = dedup.SIMHASH_MAX_BUCKET) -> str:
    """ANSI-SQL twin of dedup.simhash_near_dups: token hash = first 16 hex
    chars of md5(token) big-endian; bit b of the doc simhash is the majority
    vote over distinct tokens; 4x16-bit banded self-join, hamming verify."""
    nibs = ",\n                 ".join(
        f"strpos('0123456789abcdef', substr(h,{k},1))-1 AS n{k}"
        for k in range(1, 17))
    sums = ",\n                 ".join(
        f"sum((n{(63 - b) // 4 + 1} >> {b % 4}) & 1) AS s{b}"
        for b in range(64))
    terms = "\n                  + ".join(
        f"(CASE WHEN 2*s{b}>cnt THEN (1::BIGINT<<{b}) ELSE 0 END)"
        for b in range(63))
    terms += ("\n                  + (CASE WHEN 2*s63>cnt"
              " THEN (-9223372036854775807 - 1) ELSE 0::BIGINT END)")
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
          FROM documents
        ), tk AS (
          SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''
        ), nib AS (
          SELECT doc_id, {nibs}
          FROM tk
        ), agg AS (
          SELECT doc_id, count(*) AS cnt,
                 {sums}
          FROM nib GROUP BY doc_id
        ), sig0 AS (
          SELECT doc_id, ({terms}) AS sh FROM agg
        ), sigs AS (
          SELECT d.doc_id, coalesce(s.sh, 0)::BIGINT AS sh
          FROM documents d LEFT JOIN sig0 s USING (doc_id)
        ), banded AS (
          SELECT doc_id, sh, band, (sh >> (16*band)) & 65535 AS bkey
          FROM sigs, (SELECT unnest(range(4)) AS band)
        ), cnt AS (
          SELECT band, bkey, count(*) AS c FROM banded GROUP BY 1, 2
        ), capped AS (
          SELECT b.* FROM banded b JOIN cnt USING (band, bkey)
          WHERE c <= {max_bucket}
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.sh, b.sh))::INT AS hamming
          FROM capped a JOIN capped b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


def _pii_oracle_sql() -> str:
    """Generated from the SAME textfn.PII_PATTERNS list the Spark side
    chains (can't-drift discipline, like canonical_url); the patterns spell
    \\s explicitly so Java and RE2 compile the identical classes."""
    expr = "text"
    for pat, token in textfn.PII_PATTERNS:
        expr = (f"regexp_replace({expr}, "
                f"'{pat.replace(chr(39), chr(39) * 2)}', '{token}', 'g')")
    return f"SELECT doc_id, {expr} AS redacted FROM documents"


def _kmeans_oracle_sql(num_centroids: int = 8, iters: int = 2,
                       query_vec_id: int = 1, k: int = 5) -> str:
    """ANSI-SQL twin of similarity.kmeans_centroids + the ivf_ann_query
    probe. Replicates the WHOLE fixed-iteration Lloyd training loop, not
    just the probe: it can, because both engines round centroid means and
    assignment sims to 6 dp every iteration, so FP summation-order
    differences (Spark partial-agg order vs DuckDB sequential) sit ~1e-10
    below the rounding grain and cannot flip an argmax. Loop structure
    mirrors similarity.py: init assign = key % C, then iters+1 rounds of
    (element-wise-mean centroids -> cosine argmax reassignment); the final
    centroids feed the same single-probe ANN arithmetic as q_ivf_ann_vec1."""
    mean_cte = """c{i} AS (
          SELECT cid AS centroid_id, list(m ORDER BY pos) AS cvec FROM (
            SELECT cid, pos, round(avg(val), 6) AS m
            FROM (SELECT cid, unnest(v) AS val,
                         generate_subscripts(v, 1) AS pos FROM a{i})
            GROUP BY cid, pos
          ) GROUP BY cid
        )"""
    assign_cte = """a{j} AS (
          SELECT centroid_id AS cid, v FROM (
            SELECT c.centroid_id, ex.v, ex.k,
                   row_number() OVER (
                     PARTITION BY ex.k
                     ORDER BY round(list_cosine_similarity(ex.v, c.cvec), 6)
                              DESC, c.centroid_id) AS rn
            FROM ex, c{i} c
          ) WHERE rn = 1
        )"""
    ctes = [f"""ex AS (
          SELECT vec_id AS k, embedding::DOUBLE[] AS v FROM embeddings
        ), a0 AS (
          SELECT CAST(k % {num_centroids} AS INT) AS cid, v FROM ex
        )"""]
    for i in range(iters + 1):
        ctes.append(mean_cte.format(i=i))
        if i < iters:  # the last reassignment is never consumed
            ctes.append(assign_cte.format(i=i, j=i + 1))
    cents = f"c{iters}"
    return f"""
        WITH {', '.join(ctes)}, assign AS (
          SELECT k AS vec_id, centroid_id FROM (
            SELECT ex.k, c.centroid_id,
                   row_number() OVER (
                     PARTITION BY ex.k
                     ORDER BY round(list_cosine_similarity(ex.v, c.cvec), 6)
                              DESC, c.centroid_id) AS rn
            FROM ex, {cents} c
          ) WHERE rn = 1
        ), q AS (
          SELECT v AS qvec FROM ex WHERE k = {query_vec_id}
        ), probed AS (
          SELECT c.centroid_id FROM {cents} c, q
          ORDER BY round(list_cosine_similarity(c.cvec, q.qvec), 6) DESC,
                   c.centroid_id
          LIMIT 1
        ), members AS (
          SELECT a.vec_id FROM assign a JOIN probed USING (centroid_id)
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[],
                                            q.qvec), 6) AS cos_sim
        FROM embeddings e JOIN members USING (vec_id), q
        WHERE e.vec_id <> {query_vec_id}
        ORDER BY cos_sim DESC, e.vec_id LIMIT {k}"""


# shared by q_bigram_lm_score (verbatim) and q_ccnet_buckets (as a
# derived table feeding the tercile cutoffs)
_BIGRAM_SCORE_SQL = """
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
        ), bg AS (
          SELECT doc_id, array_to_string(ws[(i+1):(i+2)], ' ') AS g
          FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
                FROM w WHERE len(ws) >= 2) s
        ), cnt AS (
          SELECT g, count(*) AS n FROM bg GROUP BY g
        ), tot AS (
          SELECT sum(n)::BIGINT AS nn, count(*)::BIGINT AS vv FROM cnt
        ), lm AS (
          SELECT g, n FROM cnt ORDER BY n DESC, g ASC LIMIT 64
        ), lp AS (
          SELECT g, round(ln((n + 1) / (nn + vv)) * 1000000)::BIGINT AS lpm
          FROM lm, tot
        ), oov AS (
          SELECT round(ln(1.0 / (nn + vv)) * 1000000)::BIGINT AS lp0
          FROM tot
        ), sc AS (
          SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams,
                 sum(coalesce(lpm, lp0))::BIGINT AS s,
                 sum(CASE WHEN lpm IS NULL THEN 1 ELSE 0 END)::BIGINT AS o
          FROM bg LEFT JOIN lp USING (g), oov GROUP BY bg.doc_id
        )
        SELECT d.doc_id,
               coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
               round(-s / (n_bigrams * 1000000.0), 4) AS avg_nll,
               round(o / n_bigrams, 4) AS oov_frac
        FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id"""

ORACLES: dict[str, str] = {
    **_EXTRACT_ORACLES,
    "q_bpe_token_stats": _bpe_oracle_sql(),
    "q_hyperplane_lsh_near_dups": _hyperplane_oracle_sql(),
    # day slice of committed results: warc_ts = EPOCH + doc_id minutes
    # (datagen.warc_ts_for), body/status from the mirrored extraction
    # arithmetic — the pruned catalog read must reproduce it exactly
    "q_results_by_day_pruned": f"""
        WITH body AS ({_EXTRACT_ORACLES["extract_body"]}),
        d AS (
          SELECT doc_id,
                 strftime(TIMESTAMP '2025-01-01 00:00:00'
                          + doc_id * INTERVAL 1 MINUTE, '%Y-%m-%d') AS warc_day
          FROM documents
        )
        SELECT d.warc_day,
               count(*)::BIGINT AS n_docs,
               sum(CASE WHEN d.doc_id % 97 = 96 THEN 1 ELSE 0 END)::BIGINT
                 AS n_failed,
               sum(length(b.body_text))::BIGINT AS body_bytes
        FROM d JOIN body b ON d.doc_id = b.doc_id
        WHERE d.warc_day BETWEEN '{_DAY_LO}' AND '{_DAY_HI}'
        GROUP BY 1""",
    "q_incremental_dedup": """
        WITH s AS (
          SELECT DISTINCT md5(text) AS digest
          FROM documents WHERE doc_id % 3 = 0
        )
        SELECT d.doc_id, md5(d.text) AS digest,
               (s.digest IS NULL) AS is_novel
        FROM documents d LEFT JOIN s ON md5(d.text) = s.digest""",
    # same host extraction / dot-suffix explode / min-domain provenance as
    # dedup.url_blocklist_flags over the q_url_blocklist synthetic URLs
    "q_url_blocklist": """
        WITH u AS (
          SELECT doc_id,
                 'HTTPS://'
                 || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
                 || 'H' || (doc_id % 16) || '.Example.COM/doc-' || doc_id
                   AS url
          FROM documents
        ), h AS (
          SELECT doc_id,
                 lower(regexp_extract(
                   url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#:]*)', 1))
                   AS host
          FROM u
        ), sx AS (
          SELECT doc_id,
                 array_to_string(parts[(i+1):len(parts)], '.') AS domain
          FROM (SELECT doc_id, string_split(host, '.') AS parts,
                       unnest(range(len(string_split(host, '.')))) AS i
                FROM h) t
        ), bl(domain) AS (VALUES ('blocked.example.org'),
                                 ('h3.example.com'), ('h7.example.com')),
        m AS (
          SELECT doc_id, min(domain) AS blocked_domain
          FROM sx JOIN bl USING (domain) GROUP BY doc_id
        )
        SELECT h.doc_id, h.host,
               (m.blocked_domain IS NOT NULL) AS blocked,
               m.blocked_domain
        FROM h LEFT JOIN m USING (doc_id)""",
    "q_host_quota_sample": """
        WITH c AS (
          SELECT source, count(*) AS cnt FROM documents GROUP BY source
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN c ON d.source = c.source
        WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
              * cnt < 10 * 4294967296""",
    # mixture sampling: the weight table, its lcm, and the exact-integer
    # accept test are generated from the SAME _MIX_WEIGHTS dict the Spark
    # side receives (lockstep by construction)
    "q_mixture_sample": f"""
        WITH wt(source, mult) AS (VALUES {", ".join(
            f"('{s}', {math.lcm(*_MIX_WEIGHTS.values()) // w})"
            for s, w in sorted(_MIX_WEIGHTS.items()))}),
        tk AS (
          SELECT doc_id, source,
                 len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tokens
          FROM documents
        ), ks AS (
          SELECT tk.source, sum(n_tokens)::HUGEINT * mult::HUGEINT AS k
          FROM tk JOIN wt ON tk.source = wt.source
          GROUP BY tk.source, mult
        ), km AS (SELECT min(k) AS kmin FROM ks WHERE k > 0)
        SELECT tk.doc_id, tk.source, tk.n_tokens
        FROM tk JOIN ks ON tk.source = ks.source, km
        WHERE ('0x' || substring(md5(tk.doc_id::VARCHAR || ':mix'),
                                 1, 8))::BIGINT::HUGEINT * k::HUGEINT
              < kmin::HUGEINT * 4294967296::HUGEINT""",
    "q_split_assign": """
        WITH u AS (
          SELECT doc_id,
                 ('0x' || substring(md5(doc_id::VARCHAR || ':split'),
                                    1, 8))::BIGINT AS u32
          FROM documents
        )
        SELECT doc_id,
               CASE WHEN u32 * 20 < 1  * 4294967296 THEN 'test'
                    WHEN u32 * 20 < 19 * 4294967296 THEN 'train'
                    ELSE 'val' END AS split
        FROM u""",
    "q_bigram_lm_score": _BIGRAM_SCORE_SQL,
    # same n-gram construction / argmax tie-break / char-frac rounding as
    # textstats.ngram_repetition_fracs(ns=(2,3,4))
    "q_ngram_repetition": """
        WITH w AS (
          SELECT doc_id, length(text) AS dl,
                 string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
        ), grams AS (
          SELECT doc_id, 2 AS n,
                 array_to_string(ws[(i+1):(i+2)], ' ') AS g
          FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
                FROM w WHERE len(ws) >= 2) s
          UNION ALL
          SELECT doc_id, 3 AS n,
                 array_to_string(ws[(i+1):(i+3)], ' ') AS g
          FROM (SELECT doc_id, ws, unnest(range(len(ws) - 2)) AS i
                FROM w WHERE len(ws) >= 3) s
          UNION ALL
          SELECT doc_id, 4 AS n,
                 array_to_string(ws[(i+1):(i+4)], ' ') AS g
          FROM (SELECT doc_id, ws, unnest(range(len(ws) - 3)) AS i
                FROM w WHERE len(ws) >= 4) s
        ), cnt AS (
          SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY ALL
        ), top AS (
          SELECT doc_id, n, c * length(g) AS chars FROM cnt
          QUALIFY row_number() OVER (PARTITION BY doc_id, n
                                     ORDER BY c DESC, g DESC) = 1
        )
        SELECT w.doc_id,
               round(coalesce(t2.chars, 0) / greatest(dl, 1), 4)
                 AS top_2gram_char_frac,
               round(coalesce(t3.chars, 0) / greatest(dl, 1), 4)
                 AS top_3gram_char_frac,
               round(coalesce(t4.chars, 0) / greatest(dl, 1), 4)
                 AS top_4gram_char_frac
        FROM w
        LEFT JOIN (SELECT doc_id, chars FROM top WHERE n = 2) t2
               ON w.doc_id = t2.doc_id
        LEFT JOIN (SELECT doc_id, chars FROM top WHERE n = 3) t3
               ON w.doc_id = t3.doc_id
        LEFT JOIN (SELECT doc_id, chars FROM top WHERE n = 4) t4
               ON w.doc_id = t4.doc_id""",
    # same pruned-LM score as a derived table; tercile cutoffs via
    # quantile_cont = Spark percentile (identical p*(N-1) linear
    # interpolation over the sorted multiset); 1/3 and 2/3 are the
    # same IEEE doubles in both engines
    "q_ccnet_buckets": f"""
        WITH sc2 AS ({_BIGRAM_SCORE_SQL}),
        thr AS (
          SELECT quantile_cont(avg_nll, [1.0/3, 2.0/3]) AS t
          FROM sc2 WHERE avg_nll IS NOT NULL
        )
        SELECT doc_id, n_bigrams, avg_nll,
               CASE WHEN avg_nll IS NULL THEN NULL
                    WHEN avg_nll <= t[1] THEN 'head'
                    WHEN avg_nll <= t[2] THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM sc2, thr""",
    # same synthetic page construction + every C4 predicate as
    # textstats.c4_line_filter / contract.q_c4_line_filter
    "q_c4_line_filter": """
        WITH pg AS (
          SELECT doc_id,
                 'Sentence number ' || doc_id || ' is long enough to keep.'
                 || chr(10) || 'too short.'
                 || chr(10) ||
                 'this line mentions javascript and has many words '
                 || doc_id
                 || chr(10) || CASE WHEN doc_id % 7 = 0
                      THEN 'No terminal punctuation here at all'
                      ELSE 'Another good sentence with enough words ' ||
                           'right here!' END
                 || chr(10) || CASE WHEN doc_id % 13 = 0
                      THEN 'lorem ipsum dolor sit amet and so forth.'
                      WHEN doc_id % 11 = 0
                      THEN 'code { blocks } do not belong in prose.'
                      ELSE 'Final sentence to close the page?' END AS text
          FROM documents
        ), f AS (
          SELECT doc_id, text, string_split(text, chr(10)) AS ls,
                 list_filter(string_split(text, chr(10)), x ->
                   length(trim(x)) > 0
                   AND regexp_matches(trim(x), '[.!?"]$')
                   AND len(string_split_regex(trim(x), '\\s+')) >= 5
                   AND NOT contains(lower(x), 'javascript')) AS ks
          FROM pg
        )
        SELECT doc_id,
               array_to_string(ks, chr(10)) AS clean_text,
               len(ks)::BIGINT AS n_lines_kept,
               (len(ls) - len(ks))::BIGINT AS n_lines_dropped,
               (len(ks) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')) AS page_kept
        FROM f""",
    # ONE flat sequential window — the two-level distributed prefix sum in
    # packing.pack_sequences must reproduce it exactly (integer math)
    # same salted-md5 bucketing / add-one smoothing / micro-nat rounding
    # as sampling.hashed_ngram_importance(num_buckets=512, salt=':dsir');
    # target = the doc_id % 37 == 1 exemplar subset
    "q_dsir_importance": """
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS ws
          FROM documents
        ), grams AS (
          SELECT doc_id, unnest(ws) AS g FROM w
          UNION ALL
          SELECT doc_id, array_to_string(ws[(i+1):(i+2)], ' ') AS g
          FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
                FROM w WHERE len(ws) >= 2) s
        ), gb AS (
          SELECT doc_id,
                 ('0x' || substring(md5(g || ':dsir'), 1, 8))::BIGINT
                   % 512 AS b
          FROM grams
        ), cr AS (
          SELECT b, count(*)::BIGINT AS nr FROM gb GROUP BY b
        ), ct AS (
          SELECT b, count(*)::BIGINT AS nt FROM gb
          WHERE doc_id % 37 = 1 GROUP BY b
        ), tr AS (SELECT sum(nr)::BIGINT AS tnr FROM cr),
        tt AS (SELECT coalesce(sum(nt), 0)::BIGINT AS tnt FROM ct),
        lr AS (
          SELECT cr.b,
                 (round(ln((coalesce(nt, 0) + 1) / (tnt + 512))
                        * 1000000)::BIGINT
                  - round(ln((nr + 1) / (tnr + 512))
                          * 1000000)::BIGINT) AS lrm
          FROM cr LEFT JOIN ct USING (b), tr, tt
        ), sc AS (
          SELECT gb.doc_id, count(*)::BIGINT AS n_grams,
                 sum(lrm)::BIGINT AS s
          FROM gb JOIN lr USING (b) GROUP BY gb.doc_id
        )
        SELECT d.doc_id,
               coalesce(n_grams, 0)::BIGINT AS n_grams,
               round(s / (n_grams * 1000000.0), 4) AS avg_log_ratio
        FROM documents d LEFT JOIN sc USING (doc_id)""",
    "q_pack_sequences": f"""
        WITH tk AS (
          SELECT doc_id,
                 len(regexp_extract_all(text,
                   '{textstats.BPE_PRETOKEN_PATTERN.replace("'", "''")}'
                 ))::BIGINT AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, n_tokens,
                 coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS prev
          FROM tk
        )
        SELECT doc_id, n_tokens,
               (prev // 512)::BIGINT AS seq_id,
               (prev % 512)::BIGINT AS seq_offset,
               (CASE WHEN n_tokens = 0 THEN 0
                     ELSE (prev + n_tokens - 1) // 512 - prev // 512 + 1
                END)::BIGINT AS n_seqs_spanned
        FROM c""",
    "q_repetition_stats": f"""
        WITH body AS ({_EXTRACT_ORACLES["extract_body"]}),
        l AS (
          SELECT doc_id, body_text,
                 string_split(body_text, chr(10)) AS ls
          FROM body
        ), base AS (
          SELECT doc_id,
                 round(1 - len(list_distinct(ls))
                       / greatest(len(ls), 1), 4) AS dup_line_frac,
                 length(body_text) AS n_chars
          FROM l
        ), w AS (
          SELECT doc_id,
                 string_split_regex(trim(body_text), '\\s+') AS ws
          FROM body
        ), bg AS (
          SELECT doc_id, array_to_string(ws[(i+1):(i+2)], ' ') AS g
          FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
                FROM w WHERE len(ws) >= 2) s
        ), cnt AS (
          SELECT doc_id, g, count(*) AS n FROM bg GROUP BY doc_id, g
        ), top AS (
          SELECT doc_id, n AS top_n, length(g) AS top_len FROM cnt
          QUALIFY row_number() OVER (PARTITION BY doc_id
                                     ORDER BY n DESC, g DESC) = 1
        )
        SELECT b.doc_id, b.dup_line_frac,
               round(coalesce(top_n * top_len, 0)
                     / greatest(b.n_chars, 1), 4) AS top_bigram_char_frac
        FROM base b LEFT JOIN top ON b.doc_id = top.doc_id""",
    # same 1-based char positions / md5 window digests / exact-integer
    # heavy threshold as dedup.substring_dup_stats(window=64, stride=16,
    # heavy_frac=0.2); 10^4-scaled threshold = 2000
    "q_substring_dedup": """
        WITH w AS (
          SELECT doc_id, text AS t FROM documents WHERE length(text) >= 64
        ), win AS (
          SELECT doc_id, md5(substring(t, pos, 64)) AS d
          FROM (SELECT doc_id, t,
                       unnest(generate_series(1, length(t) - 63, 16))
                         AS pos
                FROM w) s
        ), dup AS (
          SELECT d FROM win GROUP BY d HAVING count(*) >= 2
        ), pd AS (
          SELECT doc_id, count(*)::BIGINT AS nd
          FROM win JOIN dup USING (d) GROUP BY doc_id
        ), base AS (
          SELECT doc_id,
                 CASE WHEN length(text) >= 64
                      THEN (floor((length(text) - 64) / 16) + 1)::BIGINT
                      ELSE 0 END AS nw
          FROM documents
        )
        SELECT base.doc_id,
               nw AS n_windows,
               coalesce(nd, 0)::BIGINT AS n_dup_windows,
               round(coalesce(nd, 0) / greatest(nw, 1), 4)
                 AS dup_window_frac,
               (nw > 0 AND coalesce(nd, 0) * 10000 >= 2000 * nw)
                 AS dup_heavy
        FROM base LEFT JOIN pd USING (doc_id)""",
    "q_paragraph_dedup": f"""
        WITH body AS ({_EXTRACT_ORACLES["extract_body"]}),
        paras AS (
          SELECT doc_id,
                 unnest(string_split(body_text, chr(10))) AS p,
                 unnest(range(len(string_split(body_text, chr(10))))) AS pos
          FROM body
        ), ek AS (
          SELECT doc_id, pos, p, doc_id * 1000000 + pos AS ekey FROM paras
        ), winners AS (
          SELECT p, min(ekey) AS ekey FROM ek GROUP BY p
        ), kept AS (
          SELECT ek.doc_id, ek.pos, ek.p
          FROM ek JOIN winners ON ek.ekey = winners.ekey
        ), rebuilt AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(p, chr(10) ORDER BY pos) AS clean_text
          FROM kept GROUP BY doc_id
        )
        SELECT b.doc_id,
               coalesce(r.clean_text, '') AS clean_text,
               coalesce(r.n_kept, 0)::BIGINT AS n_kept,
               (len(string_split(b.body_text, chr(10)))
                - coalesce(r.n_kept, 0))::BIGINT AS n_dropped
        FROM body b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id""",
    "q_contamination": f"""
        WITH words AS (
          SELECT doc_id, {_WORDS} AS ws FROM documents
        ), sh AS (
          SELECT doc_id, ws, unnest(range(len(ws) - 8 + 1)) AS i
          FROM words WHERE len(ws) >= 8
        ), doc_sh AS (
          SELECT DISTINCT doc_id,
                 array_to_string(ws[(i+1):(i+8)], ' ') AS g
          FROM sh
        ), bench AS (
          SELECT DISTINCT g FROM doc_sh WHERE doc_id % {_BENCH_MOD} = 1
        ), hits AS (
          SELECT d.doc_id, count(*) AS n
          FROM doc_sh d JOIN bench USING (g) GROUP BY d.doc_id
        )
        SELECT documents.doc_id,
               coalesce(n, 0)::BIGINT AS n_contaminated,
               coalesce(n, 0) >= 1 AS contaminated
        FROM documents LEFT JOIN hits ON documents.doc_id = hits.doc_id""",
    # the COMPOSED curation chain: each stage consumes the previous
    # stage's survivors, so this oracle pins the stage ORDERING, not just
    # each operator (operators/curate.py STAGE_ORDER)
    "q_curate_survivors": f"""
        WITH RECURSIVE hc AS (
          SELECT source, count(*) AS cnt FROM documents GROUP BY source
        ), s1 AS (  -- stage 1: per-host quota sample (exact integer accept)
          SELECT d.* FROM documents d JOIN hc ON d.source = hc.source
          WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                * cnt < 10 * 4294967296
        ), xw AS (
          SELECT md5(text) AS dg, min(doc_id) AS k FROM s1 GROUP BY 1
        ), s2 AS (  -- stage 2: exact dedup, keep the min-id copy
          SELECT s1.* FROM s1
          JOIN xw ON md5(s1.text) = xw.dg AND s1.doc_id = xw.k
        ), nw AS (  -- stage 3: shingle pairs over s2 -> components -> keep-one
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM s2
        ), nsh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(range(len(ws) - 2),
                        i -> array_to_string(ws[(i+1):(i+3)], ' ')))) AS sh
          FROM nw WHERE len(ws) >= 3
        ), ncnt AS (
          SELECT sh, count(*) AS c FROM nsh GROUP BY sh
        ), nsc AS (
          SELECT nsh.doc_id, nsh.sh FROM nsh JOIN ncnt USING (sh)
          WHERE c <= 64
        ), np AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM nsc a JOIN nsc b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2
        ), ne AS (
          SELECT doc_a AS a, doc_b AS b FROM np
          UNION
          SELECT doc_b, doc_a FROM np
        ), reach(node, r) AS (
          SELECT DISTINCT a, a FROM ne
          UNION
          SELECT reach.node, ne.b FROM reach JOIN ne ON ne.a = reach.r
        ), comp AS (
          SELECT node AS doc_id, min(r) AS cid FROM reach GROUP BY node
        ), s3 AS (
          SELECT s2.* FROM s2 LEFT JOIN comp USING (doc_id)
          WHERE cid IS NULL OR cid = doc_id
        ), sw AS (  -- stage 4: ExactSubstr heavy-dup drop over s3
          SELECT doc_id, text AS t FROM s3 WHERE length(text) >= 64
        ), swin AS (
          SELECT doc_id, md5(substring(t, pos, 64)) AS sd
          FROM (SELECT doc_id, t,
                       unnest(generate_series(1, length(t) - 63, 16))
                         AS pos
                FROM sw) z
        ), sdup AS (
          SELECT sd FROM swin GROUP BY sd HAVING count(*) >= 2
        ), snd AS (
          SELECT doc_id, count(*)::BIGINT AS sndw
          FROM swin JOIN sdup USING (sd) GROUP BY doc_id
        ), s3b AS (
          SELECT s3.* FROM s3 LEFT JOIN snd USING (doc_id)
          WHERE NOT (
            (CASE WHEN length(s3.text) >= 64
                  THEN (floor((length(s3.text) - 64) / 16) + 1)::BIGINT
                  ELSE 0 END) > 0
            AND coalesce(sndw, 0) * 10000 >=
                5000 * (CASE WHEN length(s3.text) >= 64
                             THEN (floor((length(s3.text) - 64) / 16)
                                   + 1)::BIGINT
                             ELSE 0 END))
        ), cw AS (  -- stage 5: decontaminate vs the FULL corpus benchmark
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM s3b
        ), csh AS (
          SELECT DISTINCT doc_id, array_to_string(ws[(i+1):(i+8)], ' ') AS g
          FROM (SELECT doc_id, ws, unnest(range(len(ws) - 8 + 1)) AS i
                FROM cw WHERE len(ws) >= 8) t
        ), bw AS (
          SELECT string_split_regex(trim(text), '\\s+') AS ws
          FROM documents WHERE doc_id % {_BENCH_MOD} = 1
        ), bsh AS (
          SELECT DISTINCT array_to_string(ws[(i+1):(i+8)], ' ') AS g
          FROM (SELECT ws, unnest(range(len(ws) - 8 + 1)) AS i
                FROM bw WHERE len(ws) >= 8) t
        ), chit AS (
          SELECT DISTINCT csh.doc_id FROM csh JOIN bsh USING (g)
        ), s4 AS (
          SELECT s3b.* FROM s3b LEFT JOIN chit ON s3b.doc_id = chit.doc_id
          WHERE chit.doc_id IS NULL
        ), qb AS (  -- stage 6: quality + repetition gate
          SELECT doc_id, source,
                 greatest(len(regexp_extract_all(text, '\\S+')), 1) AS n_tok,
                 len(regexp_extract_all(lower(text),
                     '\\b(?:{"|".join(textstats.STOPWORDS)})\\b')) AS n_stop,
                 len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                 length(text) AS n_len,
                 string_split(text, chr(10)) AS ls
          FROM s4
        ), scored AS (
          SELECT doc_id, source,
                 round(0.5 * (CASE WHEN n_len < 50 THEN 0.2
                                   WHEN n_len < 200 THEN 0.6
                                   WHEN n_len < 2000 THEN 1.0
                                   ELSE 0.8 END)
                       + 0.35 * least(n_stop / n_tok * 4, 1.0)
                       + 0.15 * (1.0 - least(n_punct / greatest(n_len, 1)
                                             * 10, 1.0)),
                       4) AS quality_score,
                 round(1 - len(list_distinct(ls))
                       / greatest(len(ls), 1), 4) AS dup_line_frac
          FROM qb
        )
        SELECT doc_id, source, quality_score, dup_line_frac
        FROM scored
        WHERE quality_score >= 0.5 AND dup_line_frac <= 0.3""",
    # run-level A8/A9 from committed lineage: lineage totals (n_rows,
    # bytes_out, n_failed) are pure functions of the corpus, so the oracle
    # reaggregates the mirrored body arithmetic; the float formulas then
    # run on exact integer totals in the identical op order
    "q_lineage_perf": f"""
        WITH body AS ({_EXTRACT_ORACLES["extract_body"]}),
        t AS (
          SELECT count(*)::BIGINT AS n_docs,
                 sum(length(body_text))::BIGINT AS bytes_out,
                 sum(CASE WHEN doc_id % 97 = 96 THEN 1 ELSE 0 END)::BIGINT
                   AS n_failed
          FROM body
        )
        SELECT n_docs, bytes_out, n_failed,
               round(bytes_out / 2000000.0, 3) AS est_cpu_sec,
               round(n_docs / greatest(bytes_out / 2000000.0, 0.000000001),
                     2) AS docs_per_cpu_sec,
               round(n_docs / (greatest(bytes_out / 2000000.0, 0.000000001)
                               / 3600.0), 0) AS docs_per_cpu_hour,
               round(bytes_out / 2000000.0 / 3600.0 * 0.01, 8)
                 AS est_cost_usd
        FROM t""",
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 4) AS avg_disc,
               count(*)::BIGINT AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus""",
    "q3_top_orders": """
        SELECT o_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q_region_customer_stats": """
        SELECT r_name, count(*)::BIGINT AS n_customers,
               round(avg(c_acctbal), 2) AS avg_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name""",
    "q_order_line_argmax": """
        SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS best_price
        FROM (
          SELECT l_orderkey, l_linenumber, l_extendedprice,
                 row_number() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_extendedprice DESC, l_linenumber) AS rn
          FROM lineitem
        ) WHERE rn = 1""",
    "q_part_dedup_keep_max": """
        SELECT l_partkey, round(max(l_extendedprice), 2) AS max_price,
               count(*)::BIGINT AS n_lines
        FROM lineitem GROUP BY l_partkey""",
    "q_event_type_summary": """
        SELECT event_type, count(*)::BIGINT AS n,
               round(avg(value), 4) AS avg_value,
               round(min(value), 2) AS min_value,
               round(max(value), 2) AS max_value,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY event_type""",
    "q_hourly_event_counts": """
        SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour,
               count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1""",
    "q_session_counts": """
        WITH o AS (
          SELECT user_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, sum(ns)::BIGINT AS n_sessions,
               count(*)::BIGINT AS n_events
        FROM o GROUP BY user_id""",
    "q_best_event_per_user": """
        SELECT user_id, event_id, event_type, value
        FROM (
          SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, ts, event_id) AS rn
          FROM events
        ) WHERE rn = 1""",
    "q_event_error_buckets": """
        SELECT CASE WHEN event_type = 'error' THEN 'error'
                    WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                    ELSE 'engagement' END AS category,
               count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1""",
    "q_props_json": """
        SELECT event_type,
               round(avg(json_extract_string(props, '$.k')::BIGINT), 4) AS avg_k,
               max(json_extract_string(props, '$.k')::BIGINT) AS max_k,
               count(*)::BIGINT AS n
        FROM events GROUP BY event_type""",
    "q_top_terms": """
        SELECT term, count(*)::BIGINT AS n
        FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
              FROM documents)
        GROUP BY term ORDER BY n DESC, term LIMIT 20""",
    "q_distinct_users": """
        SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users,
               count(*)::BIGINT AS n_events
        FROM events GROUP BY event_type""",
    "q_event_pivot": """
        SELECT (user_id % 10)::BIGINT AS user_bucket,
               count(*) FILTER (event_type = 'click')::BIGINT AS click,
               count(*) FILTER (event_type = 'view')::BIGINT AS view,
               count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
               count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
               count(*) FILTER (event_type = 'error')::BIGINT AS error
        FROM events GROUP BY 1""",
    "q_conf_tier_counts": """
        SELECT CASE WHEN value / 200.0 >= 0.85 THEN 'high'
                    WHEN value / 200.0 >= 0.65 THEN 'medium'
                    ELSE 'low' END AS tier,
               count(*)::BIGINT AS n
        FROM events GROUP BY 1""",
    "q_doc_stats_by_lang": """
        SELECT lang, count(*)::BIGINT AS n,
               round(avg(n_chars), 4) AS avg_chars,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars
        FROM documents GROUP BY lang""",
    "q_doc_cube": """
        SELECT lang, source, count(*)::BIGINT AS n,
               round(avg(n_chars), 4) AS avg_chars
        FROM documents GROUP BY CUBE (lang, source)""",
    "q_token_stats": f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tokens,
               len(regexp_extract_all(text,
                   '{textstats.BPE_PRETOKEN_PATTERN.replace("'", "''")}'))::BIGINT
                 AS n_bpe_tokens,
               round(length(regexp_replace(text, '\\s+', '', 'g'))
                     / greatest(len(regexp_extract_all(text, '\\S+')), 1),
                     4) AS avg_token_len
        FROM documents""",
    "q_quality_scores": f"""
        WITH b AS (
          SELECT doc_id,
                 greatest(len(regexp_extract_all(text, '\\S+')), 1) AS n_tok,
                 len(regexp_extract_all(lower(text),
                     '\\b(?:{"|".join(textstats.STOPWORDS)})\\b')) AS n_stop,
                 len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                 length(text) AS n_len
          FROM documents
        )
        SELECT doc_id,
               round(n_stop / n_tok, 4) AS stop_ratio,
               round(n_punct / greatest(n_len, 1), 4) AS punct_ratio,
               round(0.5 * (CASE WHEN n_len < 50 THEN 0.2
                                 WHEN n_len < 200 THEN 0.6
                                 WHEN n_len < 2000 THEN 1.0
                                 ELSE 0.8 END)
                     + 0.35 * least(n_stop / n_tok * 4, 1.0)
                     + 0.15 * (1.0 - least(n_punct / greatest(n_len, 1) * 10, 1.0)),
                     4) AS quality_score
        FROM b""",
    "q_script_langid": f"""
        WITH s AS (
          SELECT doc_id, substr(text, 1, 200) AS smp,
                 greatest(length(substr(text, 1, 200)), 1) AS n
          FROM documents
        )
        SELECT doc_id,
               CASE
                 WHEN (length(smp) - length(regexp_replace(smp, '[{textstats.CJK_RANGE}]', '', 'g'))) / n > 0.3 THEN 'cjk'
                 WHEN (length(smp) - length(regexp_replace(smp, '[{textstats.DEVANAGARI_RANGE}]', '', 'g'))) / n > 0.3 THEN 'devanagari'
                 WHEN (length(smp) - length(regexp_replace(smp, '[{textstats.GUJARATI_RANGE}]', '', 'g'))) / n > 0.3 THEN 'gujarati'
                 WHEN (length(smp) - length(regexp_replace(smp, '[{textstats.LATIN_RANGE}]', '', 'g'))) / n > 0.3 THEN 'latin'
                 ELSE 'other'
               END AS script_lang
        FROM s""",
    "q_exact_dedup": """
        SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
               count(*)::BIGINT AS n_copies
        FROM documents GROUP BY 1""",
    "q_fingerprints": """
        SELECT doc_id,
               md5(trim(regexp_replace(
                     regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                     ' +', ' ', 'g'))) AS fingerprint
        FROM documents""",
    "q_ngram_jaccard_pairs": """
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
        ), s AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(range(len(ws) - 2),
                        i -> array_to_string(ws[(i+1):(i+3)], ' ')))) AS sh
          FROM w WHERE len(ws) >= 3
        ), cnt AS (
          SELECT sh, count(*) AS c FROM s GROUP BY sh
        ), sc AS (
          SELECT s.doc_id, s.sh FROM s JOIN cnt USING (sh) WHERE c <= 64
        ), p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*)::BIGINT AS n_shared
          FROM sc a JOIN sc b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2
        ), t AS (
          SELECT doc_id,
                 list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
          FROM documents
        )
        SELECT doc_a, doc_b, n_shared,
               round(len(list_intersect(ta.toks, tb.toks))
                     / greatest(len(ta.toks) + len(tb.toks)
                                - len(list_intersect(ta.toks, tb.toks)), 1),
                     4) AS jaccard
        FROM p
        JOIN t ta ON ta.doc_id = doc_a
        JOIN t tb ON tb.doc_id = doc_b""",
    "q_neardup_components": """
        WITH RECURSIVE w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
        ), s AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(range(len(ws) - 2),
                        i -> array_to_string(ws[(i+1):(i+3)], ' ')))) AS sh
          FROM w WHERE len(ws) >= 3
        ), cnt AS (
          SELECT sh, count(*) AS c FROM s GROUP BY sh
        ), sc AS (
          SELECT s.doc_id, s.sh FROM s JOIN cnt USING (sh) WHERE c <= 64
        ), p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sc a JOIN sc b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2
        ), e AS (
          SELECT doc_a AS a, doc_b AS b FROM p
          UNION
          SELECT doc_b, doc_a FROM p
        ), reach(node, r) AS (
          SELECT DISTINCT a, a FROM e
          UNION
          SELECT reach.node, e.b FROM reach JOIN e ON e.a = reach.r
        )
        SELECT node AS doc_id, min(r)::BIGINT AS component_id
        FROM reach GROUP BY node""",
    "q_canonical_urls": f"""
        SELECT doc_id, {textfn.canonical_url_sql(_NOISY_URL_SQL)} AS canon_url
        FROM documents""",
    "q_minhash_lsh_pairs": _minhash_oracle_sql(),
    "q_simhash_near_dups": _simhash_oracle_sql(),
    "q_ivf_kmeans_ann_vec1": _kmeans_oracle_sql(),
    "q_pii_redaction": _pii_oracle_sql(),
    "q_stream_hourly_counts": """
        SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour,
               count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1""",
    "q_knn_cosine_vec0": """
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[],
                                            q.embedding::DOUBLE[]), 6) AS cos_sim
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    "q_label_centroid_norms": """
        SELECT label, count(*)::BIGINT AS n_vectors,
               round(avg(sqrt(list_dot_product(embedding::DOUBLE[],
                                               embedding::DOUBLE[]))), 4) AS avg_norm
        FROM embeddings GROUP BY label""",
    "q_embedding_near_dups": """
        WITH cents AS (
          -- same adaptive sizing rule as similarity.cosine_near_dup_pairs:
          -- C = max(8, n // 250), seed centroids = lowest C vec_ids
          SELECT vec_id AS centroid_id, embedding AS cvec
          FROM embeddings
          WHERE vec_id < (SELECT greatest(8, count(*) // 250)
                          FROM embeddings)
        ), scored AS (
          SELECT e.vec_id, c.centroid_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              c.cvec::DOUBLE[]), 6) AS sim
          FROM embeddings e, cents c
        ), assign AS (
          SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM scored
          ) WHERE rn = 1
        ), tagged AS (
          SELECT e.vec_id, e.embedding, a.centroid_id
          FROM embeddings e JOIN assign a USING (vec_id)
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6) AS cos_sim
        FROM tagged a JOIN tagged b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 6) >= 0.40""",
    "q_ivf_ann_vec1": """
        WITH cents AS (
          SELECT vec_id AS centroid_id, embedding AS cvec
          FROM embeddings WHERE vec_id < 8
        ), scored AS (
          SELECT e.vec_id, c.centroid_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              c.cvec::DOUBLE[]), 6) AS sim
          FROM embeddings e, cents c
        ), assign AS (
          SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM scored
          ) WHERE rn = 1
        ), qb AS (
          SELECT centroid_id FROM assign WHERE vec_id = 1
        ), members AS (
          SELECT a.vec_id FROM assign a JOIN qb USING (centroid_id)
        ), q AS (
          SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[],
                                            q.qvec::DOUBLE[]), 6) AS cos_sim
        FROM embeddings e JOIN members USING (vec_id), q
        WHERE e.vec_id <> 1
        ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
    "q_ivf_ann_multiprobe": """
        WITH cents AS (
          SELECT vec_id AS centroid_id, embedding AS cvec
          FROM embeddings WHERE vec_id < 8
        ), scored AS (
          SELECT e.vec_id, c.centroid_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              c.cvec::DOUBLE[]), 6) AS sim
          FROM embeddings e, cents c
        ), assign AS (
          SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM scored
          ) WHERE rn = 1
        ), q AS (
          SELECT embedding AS qvec FROM embeddings WHERE vec_id = 2
        ), probed AS (
          SELECT c.centroid_id
          FROM cents c, q
          ORDER BY round(list_cosine_similarity(c.cvec::DOUBLE[],
                                                q.qvec::DOUBLE[]), 6) DESC,
                   c.centroid_id
          LIMIT 3
        ), members AS (
          SELECT a.vec_id FROM assign a JOIN probed USING (centroid_id)
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[],
                                            q.qvec::DOUBLE[]), 6) AS cos_sim
        FROM embeddings e JOIN members USING (vec_id), q
        WHERE e.vec_id <> 2
        ORDER BY cos_sim DESC, e.vec_id LIMIT 8""",
}

# VT-divergence pin (round-3 review finding): Java regex \s includes \x0B
# (vertical tab) but RE2 — DuckDB's engine — excludes it, so the bare
# \s/\S shorthand shared between Spark patterns and these oracles would
# compile to two different classes. The Spark-side tokenizers use
# textstats.WS_RUN / NON_WS_RUN; rewrite the same shorthand here so both
# engines split on the identical explicit class.
ORACLES = {
    k: v.replace(r"'\s+'", f"'{textstats.WS_RUN}'")
        .replace(r"'\S+'", f"'{textstats.NON_WS_RUN}'")
        .replace(r"'[^\w\s]'", rf"'[^\w{textstats.WS_CHARS}]'")
    for k, v in ORACLES.items()
}

QUERIES = {
    "extract_title": q_extract_title,
    "extract_byline": q_extract_byline,
    "extract_date": q_extract_date,
    "extract_body": q_extract_body,
    "extract_status_summary": q_extract_status_summary,
    "extract_blocks_kept": q_extract_blocks_kept,
    "q_results_by_day_pruned": q_results_by_day_pruned,
    "q_lineage_perf": q_lineage_perf,
    "q_contamination": q_contamination,
    "q_curate_survivors": q_curate_survivors,
    "q_paragraph_dedup": q_paragraph_dedup,
    "q_substring_dedup": q_substring_dedup,
    "q_repetition_stats": q_repetition_stats,
    "q_host_quota_sample": q_host_quota_sample,
    "q_incremental_dedup": q_incremental_dedup,
    "q_url_blocklist": q_url_blocklist,
    "q_mixture_sample": q_mixture_sample,
    "q_split_assign": q_split_assign,
    "q_bigram_lm_score": q_bigram_lm_score,
    "q_dsir_importance": q_dsir_importance,
    "q_ccnet_buckets": q_ccnet_buckets,
    "q_c4_line_filter": q_c4_line_filter,
    "q_ngram_repetition": q_ngram_repetition,
    "q_pack_sequences": q_pack_sequences,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_orders": q3_top_orders,
    "q_region_customer_stats": q_region_customer_stats,
    "q_order_line_argmax": q_order_line_argmax,
    "q_part_dedup_keep_max": q_part_dedup_keep_max,
    "q_event_type_summary": q_event_type_summary,
    "q_hourly_event_counts": q_hourly_event_counts,
    "q_session_counts": q_session_counts,
    "q_best_event_per_user": q_best_event_per_user,
    "q_event_error_buckets": q_event_error_buckets,
    "q_conf_tier_counts": q_conf_tier_counts,
    "q_distinct_users": q_distinct_users,
    "q_event_pivot": q_event_pivot,
    "q_props_json": q_props_json,
    "q_top_terms": q_top_terms,
    "q_doc_stats_by_lang": q_doc_stats_by_lang,
    "q_doc_cube": q_doc_cube,
    "q_token_stats": q_token_stats,
    "q_bpe_token_stats": q_bpe_token_stats,
    "q_quality_scores": q_quality_scores,
    "q_script_langid": q_script_langid,
    "q_exact_dedup": q_exact_dedup,
    "q_fingerprints": q_fingerprints,
    "q_ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "q_neardup_components": q_neardup_components,
    "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "q_simhash_near_dups": q_simhash_near_dups,
    "q_pii_redaction": q_pii_redaction,
    "q_stream_hourly_counts": q_stream_hourly_counts,
    "q_knn_cosine_vec0": q_knn_cosine_vec0,
    "q_label_centroid_norms": q_label_centroid_norms,
    "q_ivf_ann_vec1": q_ivf_ann_vec1,
    "q_ivf_ann_multiprobe": q_ivf_ann_multiprobe,
    "q_canonical_urls": q_canonical_urls,
    "q_ivf_kmeans_ann_vec1": q_ivf_kmeans_ann_vec1,
    "q_embedding_near_dups": q_embedding_near_dups,
    "q_hyperplane_lsh_near_dups": q_hyperplane_lsh_near_dups,
}
