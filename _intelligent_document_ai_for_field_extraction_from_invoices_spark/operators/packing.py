"""Deterministic sequence packing — the last mile before a training run.

GPT-style pretraining concatenates the tokenized corpus in a fixed
document order and chops it into fixed-length context windows; the
dataloader then needs, per document, WHICH window its first token lands
in and at what offset. That assignment is a prefix sum of token counts —
trivially sequential, classically awkward on a shuffle engine.

`pack_sequences` computes it with the standard two-level distributed
prefix-sum: documents are grouped into deterministic key-range buckets
(`bucket = doc_id // bucket_size`), the cumulative sum WITHIN a bucket is
a bounded window (<= bucket_size rows per partition, no skew possible —
bucket occupancy is capped by construction), and the cross-bucket offsets
come from one aggregate over the tiny bucket-totals table. No global
sort, no corpus-wide window: the only single-partition step is the
running sum over n/bucket_size bucket rows (at 10^12 docs with the
default bucket_size=4096 that is ~2.4e8 rows — pick bucket_size ~1e6 at
that scale to keep it ~1e6 rows; the parameter trades window width
against bucket-table height).

All arithmetic is exact integers, so the result is independent of
partitioning and engine — the DuckDB oracle replays it as ONE flat
global window (`sum(...) over (order by doc_id)`), pinning the two-level
decomposition to the sequential semantics.

Reference analogue: none (the reference scores one invoice at a time);
this is a task-brief large-scale-training-pipeline operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import bpe_token_count_col


def pack_sequences(docs: DataFrame, budget: int = 2048,
                   bucket_size: int = 4096) -> DataFrame:
    """Assign each document its context-window id under
    concatenate-then-chop packing in ascending doc_id order with
    `budget` tokens per window (BPE-ish token counts,
    textstats.bpe_token_count_col).

    Output per doc: `n_tokens`, `seq_id` (window holding the doc's first
    token), `seq_offset` (token offset of the doc inside that window),
    `n_seqs_spanned` (how many windows the doc crosses — long docs span
    several; empty docs span 0)."""
    if budget <= 0 or bucket_size <= 0:
        raise ValueError("budget and bucket_size must be positive")
    t = docs.select(
        F.col("doc_id"),
        bpe_token_count_col(F.col("text")).alias("n_tokens"),
        (F.col("doc_id") - (((F.col("doc_id") % bucket_size) + bucket_size)
                       % bucket_size)).alias("_blo"),  # floor to bucket, neg-safe
    )
    in_bucket = Window.partitionBy("_blo").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, -1)
    t = t.withColumn(
        "_local_prev", F.coalesce(F.sum("n_tokens").over(in_bucket), F.lit(0)))
    totals = t.groupBy("_blo").agg(F.sum("n_tokens").alias("_btot"))
    across = Window.orderBy("_blo") \
        .rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_btot").over(across), F.lit(0))) \
        .select("_blo", "_off")
    # integer `div`, not `/`: Spark's `/` is DOUBLE division, which silently
    # loses exactness once the running token count passes 2^53 — a few
    # hundred TB of text. `div` stays integral end-to-end (oracle: `//`).
    return (
        t.join(offsets, "_blo")
        .withColumn("_prev", F.col("_off") + F.col("_local_prev"))
        .select(
            F.col("doc_id"),
            F.col("n_tokens"),
            F.expr(f"_prev div {budget}").alias("seq_id"),
            (F.col("_prev") % budget).alias("seq_offset"),
            F.when(F.col("n_tokens") == 0, F.lit(0).cast("long")).otherwise(
                F.expr(f"(_prev + n_tokens - 1) div {budget}"
                       f" - _prev div {budget} + 1")).alias("n_seqs_spanned"),
        )
    )
