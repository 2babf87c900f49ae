"""Composed pretraining-data curation pipeline.

A real LLM pretraining run chains the curation operators this package
provides between crawl and training — each stage feeding the next's
survivor set (order matters and is pinned by the DuckDB oracle,
contract.py q_curate_survivors):

  1. host_sample    per-host quota downsampling (C4/RefinedWeb move) —
                    run FIRST: it needs raw per-host counts, and it
                    shrinks everything downstream
  2. exact          exact-duplicate removal, keep the smallest doc id
  3. neardup        shingle-LSH candidate pairs -> connected components ->
                    keep each cluster's canonical member
  4. substrdup      ExactSubstr-style heavy-duplication drop (Lee et al.
                    2021): docs whose sliding-window digest-collision
                    fraction reaches one half are removed —
                    after near-dup keep-one, which already removed the
                    whole-document-level copies that would otherwise make
                    every window of a surviving doc look duplicated
  5. decontaminate  drop documents sharing any word n-gram with the
                    benchmark/eval suite (GPT-3 appendix C move) — after
                    dedup so the expensive shingle join runs on the
                    smaller corpus
  6. quality        Gopher-style filters: composite quality score plus
                    the duplicate-line repetition signal

Scale shape: every stage is one of the package's audited operators
(host quota: broadcast count join; exact: digest groupBy; neardup:
capped LSH + contracting components; decontaminate: broadcast benchmark
digests; quality: narrow projections + one bigram aggregate) — the
composition adds joins on the uniform doc key only, never a new shuffle
family. The CLI (`curate` subcommand) materializes each stage's survivor
keys to the catalog with one txn per (run id, stage), so a crashed run
resumes at the failed stage and a replayed run id is a no-op per stage.

The reference pipeline processes one document end-to-end (executable.py
main loop); this module is the corpus-level analogue the task brief asks
for (dedup/curation as first-class large-scale operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup, textstats

# stage names in pinned execution order
STAGE_ORDER = ["host_sample", "exact", "neardup", "substrdup",
               "decontaminate", "quality"]


def resolve_stages(stages: list[str] | None) -> list[str]:
    """Validate a stage subset and return it in pinned execution order
    (shared by the library composition and the CLI — review finding:
    duplicated filtering drifted between them)."""
    if stages is None:
        return list(STAGE_ORDER)
    unknown = set(stages) - set(STAGE_ORDER)
    if unknown:
        raise ValueError(f"unknown curate stages: {sorted(unknown)} "
                         f"(choose from {STAGE_ORDER})")
    return [s for s in STAGE_ORDER if s in stages]


def exact_keep_first(docs: DataFrame) -> DataFrame:
    """Exact-duplicate keep-one: every doc whose doc_id is the MIN of its
    content-digest group survives. The winner rule is exactly
    `dedup.exact_dedup_groups`' canonical_id (single source of truth with
    its DuckDB oracle); one digest groupBy + one semi join, no window."""
    winners = dedup.exact_dedup_groups(docs) \
        .select(F.col("canonical_id").alias("doc_id"))
    return docs.join(winners, "doc_id", "left_semi")


def neardup_keep_one(docs: DataFrame) -> DataFrame:
    """Near-duplicate keep-one: 3-word shingle candidate pairs sharing >= 2
    shingles -> connected components -> keep each cluster's canonical
    (smallest doc_id) member."""
    pairs = dedup.shingle_pairs(docs)
    comps = dedup.connected_components(pairs, out_key="doc_id",
                                       pairs_canonical=True)
    return dedup.keep_canonical(docs, comps)


def substrdup_drop(docs: DataFrame) -> DataFrame:
    """ExactSubstr heavy-duplication drop: remove docs whose
    `dedup.substring_dup_stats` dup_heavy flag fires (>= half of their
    64-char windows at stride 16 occur >= 2 times corpus-wide). The flag
    rule is the operator's own exact-integer threshold — single source of
    truth with its DuckDB oracle."""
    stats = dedup.substring_dup_stats(docs)
    keep = stats.filter(~F.col("dup_heavy")).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi")


def decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Drop documents flagged by `contamination_flags` (any shared word
    8-gram with the benchmark suite)."""
    flags = dedup.contamination_flags(docs, benchmark)
    clean = flags.filter(~F.col("contaminated")).select("doc_id")
    return docs.join(clean, "doc_id", "left_semi")


def quality_filter(docs: DataFrame, min_quality: float = 0.5,
                   max_dup_line_frac: float = 0.3) -> DataFrame:
    """Gopher-style quality gate: keep docs whose composite quality score
    clears `min_quality` AND whose duplicate-line fraction stays under
    `max_dup_line_frac`. Returns the survivors WITH their quality_score
    and dup_line_frac columns attached (downstream mixers weight by
    them).

    r7: dup_line_frac is a pure narrow projection
    (textstats.dup_line_frac_col), so the gate is ONE projection + ONE
    filter — the old shape ran the whole repetition_stats bigram
    pipeline (explode, two aggregates, a join) just to read this
    column."""
    scored = textstats.with_quality_score(docs)
    return (
        scored.withColumn("dup_line_frac",
                          textstats.dup_line_frac_col(F.col("text")))
        .filter((F.col("quality_score") >= min_quality)
                & (F.col("dup_line_frac") <= max_dup_line_frac))
    )


def run_stage(stage: str, docs: DataFrame, benchmark: DataFrame | None = None,
              quota: int = 10, min_quality: float = 0.5,
              max_dup_line_frac: float = 0.3) -> DataFrame:
    """One named curation stage over `docs` (the previous stage's
    survivors). The CLI drives stages individually so each one commits to
    the catalog exactly-once per run id and a crashed pipeline resumes at
    the failed stage."""
    if stage == "host_sample":
        return dedup.host_quota_sample(docs, quota=quota)
    if stage == "exact":
        return exact_keep_first(docs)
    if stage == "neardup":
        return neardup_keep_one(docs)
    if stage == "substrdup":
        return substrdup_drop(docs)
    if stage == "decontaminate":
        if benchmark is None:
            raise ValueError("the decontaminate stage needs a benchmark")
        return decontaminate(docs, benchmark)
    if stage == "quality":
        return quality_filter(docs, min_quality=min_quality,
                              max_dup_line_frac=max_dup_line_frac)
    raise ValueError(f"unknown curate stage {stage!r} "
                     f"(choose from {STAGE_ORDER})")


def curate_survivors(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Run the full curation chain in its pinned order, each stage at
    `run_stage`'s defaults (host quota 10, quality score >= 0.5,
    duplicate-line fraction <= 0.3), and return the surviving documents as
    (doc_id, source, quality_score, dup_line_frac).

    Deterministic end to end — every stage is (host quota: exact integer
    accept; exact/neardup: min-key winners; decontaminate: set
    membership; quality: fixed-weight score), so the composed survivor
    set is engine-independent and the DuckDB oracle replays it exactly."""
    cur = docs
    for stage in STAGE_ORDER:
        cur = run_stage(stage, cur, benchmark=benchmark)
        # cache EVERY stage's survivor set (r7 optimization): each stage
        # references its input several times (substrdup touches it 3x,
        # decontaminate/quality 2-3x, keep-one join-backs 2x) and the
        # near-dup stage runs EAGER clustering jobs over it — without a
        # cache each of those re-executes the whole upstream stage chain
        # against the full corpus, compounding per stage. Survivor sets
        # only shrink stage over stage; callers running at a scale where
        # even the stage-1 survivors don't fit block-manager memory use
        # the CLI path, which materializes each stage to the catalog
        # instead. All caches release via dedup.release_caches().
        cur = dedup.register_cache(cur.cache())
    return cur.select("doc_id", "source", "quality_score", "dup_line_frac")
