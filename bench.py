"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship metric is the full extraction pipeline (pages synthesised from
the documents table -> salted shuffle -> Arrow-batched golden extraction ->
results), reported both as wall seconds and extracted-text bytes/sec
(the BASELINE.json north metric). Run bench/scaling.py for the N-vs-4N
throughput scaling evidence.

This host's CPUs are shared and noisy (2x swings between identical runs —
BENCH.md methodology), so the official artifact is not a single draw: the
whole query set runs $SPARK_GRAFT_BENCH_K (default 3) INTERLEAVED passes
and the JSON line carries the per-query MEDIAN in "queries" (the key the
driver compares round-over-round) plus every raw sample in "samples"."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (  # noqa: E402
    contract,
    datagen,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (  # noqa: E402
    extract_pages,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.session import (  # noqa: E402
    get_spark,
)

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q_order_line_argmax",
    "q_session_counts",
    "q_event_type_summary",
    "q_exact_dedup",
    "q_canonical_urls",
    "q_ngram_jaccard_pairs",
    "q_minhash_lsh_pairs",
    "q_simhash_near_dups",
    "q_quality_scores",
    "q_knn_cosine_vec0",
    "q_ivf_ann_vec1",
    "q_embedding_near_dups",
    "q_hyperplane_lsh_near_dups",
    "q_neardup_components",
    "q_top_terms",
    "q_distinct_users",
    "q_contamination",
    "q_paragraph_dedup",
    "q_repetition_stats",
    "q_host_quota_sample",
    "q_curate_survivors",
    "q_mixture_sample",
    "q_split_assign",
    "q_bigram_lm_score",
    "q_pack_sequences",
    "q_substring_dedup",
    "q_dsir_importance",
    "q_incremental_dedup",
    "q_url_blocklist",
    "q_ccnet_buckets",
    "q_c4_line_filter",
    "q_ngram_repetition",
]


def time_action(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else round((s[n // 2 - 1] + s[n // 2]) / 2, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    k = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_K", "3")))
    # one long-lived local-mode JVM runs 30+ queries x k passes with
    # repeated GB-scale cache/unpersist cycles; at the default 8g heap the
    # later passes pay full-GC tax (measured: q_ngram_jaccard 14 s pass 1
    # -> 44 s pass 3 at sf1). The bench host has 128 GiB — give the bench
    # session real headroom (tests keep the 8g default).
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark("bench", cores=cpus)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    samples: dict[str, list[float]] = {}

    # flagship corpus: materialized once, outside every timed window
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = datagen.pages_from_documents(docs).cache()
    n_pages = pages.count()

    stats = {}

    def flagship():
        res = extract_pages(pages)
        row = res.agg(
            F.count("*").alias("rows"),
            F.sum(F.length("body_text")).alias("bytes_out"),
        ).first()
        stats["rows"], stats["bytes_out"] = row[0], row[1]

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (  # noqa: PLC0415
        dedup,
        similarity,
    )

    def hyperplane_matmul_768():
        """Bench-only entry (round-5 verdict #3): the hyperplane LSH MATMUL
        form at real embedding dims — 768 x 64 planes = 49k terms, past
        HYPERPLANE_SQL_TERM_LIMIT, so hyperplane_banded_buckets computes
        the signs with one batched NumPy sign(V @ P.T) per Arrow batch.
        The corpus is the embeddings table tiled x12 (cosine is
        tiling-invariant, so the near-dup structure survives).
        Correctness for this form is pinned by the pure-NumPy reference
        parity test (tests/test_similarity_kmeans.py), not a DuckDB
        oracle — a matmul's pairwise summation order is not the
        oracle's left-associative sum."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
            spark.sparkContext.defaultParallelism, "vec_id")
        emb768 = emb.select(
            "vec_id",
            F.flatten(F.array_repeat("embedding", 12)).alias("embedding"))
        similarity.hyperplane_lsh_pairs(
            emb768, threshold=0.40, num_planes=64, bands=4
        ).write.format("noop").mode("overwrite").save()

    def dsir_xxhash64():
        """Bench-only entry: the DSIR importance scorer's xxhash64 SCALE
        tier (native 64-bit hashing instead of the oracle tier's
        md5-hex-decode chain) over the same corpus/config as
        q_dsir_importance. Semantics pinned by
        tests/test_sampling_packing.py (TestHashedNgramImportanceXxhash),
        not a DuckDB oracle — DuckDB has no xxhash64 twin, which is
        exactly why the md5 tier exists."""
        from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (  # noqa: PLC0415
            sampling,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
            spark.sparkContext.defaultParallelism, "doc_id")
        tgt = d.filter(F.col("doc_id") % 37 == 1)
        sampling.hashed_ngram_importance(
            d, tgt, num_buckets=512, hash_fn="xxhash64"
        ).write.format("noop").mode("overwrite").save()

    # k interleaved passes over the WHOLE set (not k back-to-back repeats of
    # each query): host-noise episodes then hit every query equally instead
    # of burying one query's samples inside one bad minute
    for _ in range(k):
        samples.setdefault("extract_flagship", []).append(
            time_action(flagship))
        for name in BENCH_QUERIES:
            q = contract.QUERIES[name]
            samples.setdefault(name, []).append(time_action(
                lambda q=q: q(spark, sf_dir)
                .write.format("noop").mode("overwrite").save()
            ))
            dedup.release_caches()  # no cross-query cache residue
        samples.setdefault("q_hyperplane_matmul_768", []).append(
            time_action(hyperplane_matmul_768))
        dedup.release_caches()
        samples.setdefault("q_dsir_xxhash64", []).append(
            time_action(dsir_xxhash64))
        dedup.release_caches()
    pages.unpersist()

    timings = {name: _median(s) for name, s in samples.items()}
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "samples": samples,
        "k": k,
        "sf": sf,
        "pages": n_pages,
        "extracted_bytes": stats.get("bytes_out", 0),
        "extract_bytes_per_sec": round(
            (stats.get("bytes_out") or 0)
            / max(timings["extract_flagship"], 1e-9)
        ),
        "cpus": cpus,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
