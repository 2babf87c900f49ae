"""Deduplication operators for large-scale training-data pipelines.

- exact:   hash-groupBy (one shuffle on the digest, partial agg map-side)
- n-gram:  shingle inverted index -> candidate pairs -> token Jaccard
- MinHash: k seeded md5-derived permutations -> banded LSH
- SimHash: 64-bit sign-aggregated token hashes — fully native exprs
  (explode tokens -> 64 conditional sums; no Python in the hot path)

Every bucket -> pairs step (shingle index, MinHash and SimHash bands, and
the two embedding families in similarity.py) is one primitive,
`_self_join_pairs`: an equi self-join on the bucket key that carries an
optional payload to the caller's verify expression. Hot buckets are capped
(the `*_MAX_BUCKET` constants) before that join, exactly like LSH
implementations cap them; at 100 TB the shingle index is the big shuffle,
and its md5-digest keys hash-partition evenly by construction.

The cap itself is skew-safe: over-cap keys are found with a map-side-combined
``groupBy().count()`` and removed via a broadcast anti-join — never with an
unordered Window, which would buffer every row of the hottest key in one task
(the exact straggler/OOM the cap exists to prevent)."""

from __future__ import annotations

import re
import threading
from hashlib import md5

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .textstats import SPARK_SQL_WS_RUN, WS_RUN, word_ngrams

MINHASH_PERMS = 16
LSH_BANDS = 4  # 4 bands x 4 rows

# Hot-bucket caps, one per pair family: a bucket (shingle digest, MinHash
# band, SimHash band) holding more rows than this is dropped before the
# self-join. Module-level so tests can pin them.
SHINGLE_MAX_BUCKET = 64
MINHASH_MAX_BUCKET = 256
SIMHASH_MAX_BUCKET = 1024

_WS_RE = re.compile(WS_RUN)

# observability: connected_components records its last run here —
# {"rounds": int, "fastpath": bool, "edge_counts": [symmetrized distinct
# edges entering each round]} — so tests and BENCH.md can pin how fast a
# graph shape converges without instrumenting Spark
CC_LAST_STATS: dict = {}

# connected_components' driver union-find bound, in (id, id) rows (a few
# MB to collect; the label TABLE never is): an input of at most this many
# pairs is closed on the driver straight off one bounded collect, and a
# larger graph is handed to the driver once contraction shrinks its
# quotient under this many edges. Module-level so tests can pin it (0
# sends every non-empty input through the distributed rounds).
UF_BREAK_MAX = 500_000

# connected_components' contraction-round budget: a graph still holding
# edges after this many rounds raises. Module-level so tests can pin it.
CC_MAX_ITERS = 25

# Cache registry: hot-path operators cache DataFrames that feed multiple
# plan branches (self-join sides, count+anti-join). The registry lets a
# long-lived session release them all once results are materialized
# instead of pinning block-manager memory until LRU eviction.
_CACHE_LOCK = threading.Lock()
_LIVE_CACHES: list = []


def register_cache(df: DataFrame) -> DataFrame:
    """Track a cached DataFrame for later `release_caches()`."""
    with _CACHE_LOCK:
        _LIVE_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every registered cache and return how many were
    released. Shared by dedup and similarity."""
    with _CACHE_LOCK:
        todo = list(_LIVE_CACHES)
        _LIVE_CACHES.clear()
    n = 0
    for df in todo:
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    return n


def _cap_hot_keys(df: DataFrame, key_cols: list[str],
                  max_bucket: int) -> DataFrame:
    """Drop all rows whose key appears more than `max_bucket` times.

    Scale-safe plan: `groupBy(keys).count()` combines map-side, so the
    shuffle carries one row per distinct key; the (tiny) over-cap key set is
    broadcast back as a LEFT ANTI join. Equivalent result to filtering on
    `count() OVER (PARTITION BY keys)`, but no single-task buffering of the
    hottest key.

    The input is cached: it feeds the count aggregate, the anti-join probe,
    and (in every caller) both sides of a downstream self-join — without the
    cache the whole upstream hash/explode pipeline would run 3-4x. Callers
    on a cluster too big to cache would swap this for a checkpoint/storage
    round-trip; the plan shape is unchanged. The cache is registered for
    `release_caches()` so sessions running many queries can free it."""
    df = register_cache(df.cache())
    hot = (
        df.groupBy(*key_cols).count()
        .filter(F.col("count") > max_bucket)
        .select(*key_cols)
    )
    return df.join(F.broadcast(hot), key_cols, "left_anti")


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact-duplicate groups: digest -> canonical (min doc_id) + copy
    count."""
    return (
        df.select("doc_id", F.md5(F.col("text")).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count("*").alias("n_copies"))
    )


def _shingles(n: int):
    """n-word shingles as md5 digests — native exprs built via the
    HOF-safe zip_with chain (textstats.word_ngrams): the old
    slice-inside-transform shape re-evaluated the split per ELEMENT
    (O(words^2) per doc — the documented Catalyst projection-collapse
    gotcha)."""
    words = F.split(F.trim(F.col("text")), WS_RUN)
    return F.transform(word_ngrams(words, n), F.md5)


def _py_shingle_digests(text: str | None, n: int) -> list[str]:
    """Distinct md5 hex digests of `text`'s n-word shingles in
    first-occurrence order: the Python replay of
    `array_distinct(_shingles(...))` that every Arrow-batched shingle
    tier calls. Byte-exact: trim strips 0x20 only, Java split limit=-1 ==
    re.split (WS_RUN's escapes mean the same bytes in Python re as in
    Java regex, so the pattern is shared verbatim), shingles join on
    single spaces, and NULL or fewer-than-n-words text yields nothing."""
    if text is None:
        return []
    parts = _WS_RE.split(text.strip(" "))
    seen: dict = {}
    for i in range(len(parts) - n + 1):
        seen.setdefault(md5(" ".join(parts[i:i + n]).encode()).hexdigest())
    return list(seen)


def _shingle_digest_stream_sql(df: DataFrame, n: int) -> DataFrame:
    """(k, sh) stream of per-doc DISTINCT n-gram md5 digests as native
    expressions: the short-shingle tier of `shingle_pairs`."""
    return (
        df.filter(F.size(F.split(F.trim(F.col("text")), WS_RUN)) >= n)
        .select(F.col("doc_id").alias("k"),
                F.explode(F.array_distinct(_shingles(n)))
                .alias("sh"))
    )


def _shingle_digest_stream_pandas(df: DataFrame, n: int,
                                  keyed: bool = True) -> DataFrame:
    """(k, sh) stream of per-doc DISTINCT n-gram md5 digests — the
    Arrow-batched twin of `_shingle_digest_stream_sql` (r7 optimization):
    hashlib's C md5 over `_py_shingle_digests` replaces the interpreted
    zip_with/transform/array_distinct chain. `keyed=False` emits the bare
    `sh` column. Pinned equal to the expression stream by
    tests/test_dedup.py."""
    import pandas as pd  # noqa: PLC0415

    kt = df.schema["doc_id"].dataType.simpleString() if keyed else None

    def run(batches):
        for pdf in batches:
            ks, shs = [], []
            for k_, text in zip(pdf["k"] if kt else pdf.index, pdf["t"]):
                for d in _py_shingle_digests(text, n):
                    ks.append(k_)
                    shs.append(d)
            out = {"sh": pd.Series(shs, dtype="object")}
            if kt:
                out = {"k": pd.Series(ks, dtype="object"), **out}
            yield pd.DataFrame(out)

    if not keyed:
        return df.select(F.col("text").alias("t")) \
            .mapInPandas(run, schema="sh string")
    return df.select(F.col("doc_id").alias("k"), F.col("text").alias("t")) \
        .mapInPandas(run, schema=f"k {kt}, sh string")


def _self_join_pairs(df: DataFrame, k: str, group_cols: list[str],
                     payload: str | None = None) -> DataFrame:
    """(a, b) for every two rows of `df` that share all `group_cols`, with
    a < b on column `k` — plus (pa, pb), each side's `payload` column,
    when one is given. One equi-join on the group columns: the pairs
    stream out of the join, and a payload rides along without buffering
    a group. Callers bound hot groups first (`_cap_hot_keys`) and own the
    verify expression, the threshold and any cross-band distinct."""
    def side(s: str, c: str):
        return F.col(f"{s}.{c}")

    cols = [side("l", k).alias("a"), side("r", k).alias("b")]
    if payload is not None:
        cols += [side("l", payload).alias("pa"),
                 side("r", payload).alias("pb")]
    # a < b as a filter, not a join condition: Spark then tests it
    # before the caller's verify expression, so the verify runs on each
    # unordered pair once instead of on every ordered one
    return (
        df.alias("l")
        .join(df.alias("r"), [side("l", g) == side("r", g)
                              for g in group_cols])
        .filter(side("l", k) < side("r", k))
        .select(*cols)
    )


def shingle_pairs(df: DataFrame, n: int = 3,
                  min_shared: int = 2) -> DataFrame:
    """Candidate near-dup pairs sharing >= min_shared distinct n-gram shingles.

    Inverted index as a self-join (`_self_join_pairs`) on the shingle
    digest, counted per pair: the hot-shingle cap (`_cap_hot_keys`)
    drops shingles shared by more than SHINGLE_MAX_BUCKET docs first, so
    no bucket contributes more than SHINGLE_MAX_BUCKET^2/2 pairs, and the
    cap's cache lets both join sides read the stream once.

    The digest stream's tier follows from `n`: the interpreted zip_with
    chain costs ~(n-1) array passes per doc, so long shingles (n >= 5)
    take the byte-exact Arrow stream (`_shingle_digest_stream_pandas`;
    measured at sf1: n=8 contamination 1.9 -> 1.5 s warm), while short
    ones keep the fully-native stream, which won at n=3 (BENCH.md tier
    census)."""
    stream = (_shingle_digest_stream_pandas if n >= 5
              else _shingle_digest_stream_sql)
    capped = _cap_hot_keys(stream(df, n), ["sh"], SHINGLE_MAX_BUCKET)
    return (
        _self_join_pairs(capped, "k", ["sh"])
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def host_quota_sample(docs: DataFrame, host_col: str = "source",
                      quota: int = 10) -> DataFrame:
    """Per-host quota downsampling (the C4/RefinedWeb host-balancing move:
    a handful of giant hosts dominate a raw crawl, so each host is
    downsampled toward `quota` docs while small hosts pass untouched).
    Each doc is kept with probability min(1, quota/count(host)) via a
    DETERMINISTIC md5-derived uniform — the same doc is kept or dropped
    identically on every run, engine, and partitioning.

    The accept test is EXACT integer math (u32 * host_count <
    quota * 2^32, no float thresholds to drift cross-engine), so the
    DuckDB oracle reproduces the sample bit-for-bit. Safe while
    host_count < 2^31 (u32 * count must fit a BIGINT) — beyond two
    billion docs on ONE host, pre-split the host key. Scale shape: one
    map-side-combined count per host (tiny output), one join of the
    corpus against it (AQE broadcasts the count table when it fits), one
    narrow filter; expected kept size is sum(min(quota, count)) without
    any sort, window, or per-host top-N buffering."""
    cnts = docs.groupBy(host_col).agg(F.count("*").alias("_cnt"))
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    return (
        docs.join(cnts, host_col)
        .filter(u * F.col("_cnt") < F.lit(quota) * F.lit(1 << 32))
        .drop("_cnt")
    )


def paragraph_dedup(docs: DataFrame, key: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Cross-corpus exact PARAGRAPH dedup (the FineWeb/Gopher boilerplate
    move: repeated nav/footer/legal paragraphs are dropped corpus-wide,
    keeping each distinct paragraph's FIRST occurrence): documents are
    split on newlines, every occurrence of a duplicated paragraph except the
    one with the smallest (doc, position) survives, and each document's
    text is reassembled in original order. Output: one row per input doc
    with `clean_text`, `n_kept`, `n_dropped`.

    Determinism: the winner per paragraph is a plain MIN aggregate
    (map-side combine, no window/row_number) — over an encoded BIGINT key
    (doc_id * 1e6 + position; positions are bounded by paragraph counts,
    far under 1e6) for integer doc keys, which is what the ANSI oracle
    replays; string keys (urls) take the equivalent min-over-(key, pos)
    struct path. Scale shape: one shuffle keyed on the paragraph digest
    (uniform), one join back on the winner key, one per-doc reassembly
    aggregate; paragraph order is restored with array_sort over
    (pos, text) structs, never a sort of the whole corpus."""
    from pyspark.sql.types import IntegralType  # noqa: PLC0415

    did = F.col(key)
    # a newline is the same single character as a Java regex and as the
    # array_join literal that reassembles the text
    paras = docs.select(
        did.alias("k"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "p"),
    )
    integral = isinstance(docs.schema[key].dataType, IntegralType)
    if integral:
        # the encoding is only injective while 0 <= pos < 1e6 and the doc
        # key is non-negative and far from BIGINT overflow — enforce at
        # runtime instead of silently attributing a paragraph to the
        # wrong (doc, pos) on adversarial inputs (review finding)
        bad = (F.col("pos") >= 1_000_000) | (F.col("k") < 0) \
            | (F.col("k") > (1 << 62) // 1_000_000)
        paras = paras.withColumn(
            "ekey",
            F.when(bad, F.raise_error(F.format_string(
                "paragraph_dedup encoded-key bounds exceeded "
                "(key=%s pos=%s): need 0 <= key < 2^62/1e6 and fewer than "
                "1e6 paragraphs per doc — use a string key for the "
                "struct-min path", F.col("k"), F.col("pos"))).cast("long"))
            .otherwise(F.col("k") * F.lit(1_000_000) + F.col("pos")))
        winners = (
            paras.groupBy(F.md5("p").alias("d"))
            .agg(F.min("ekey").alias("ekey"))
            .select("ekey")
        )
        kept = paras.join(winners, "ekey")
    else:
        winners = (
            paras.groupBy(F.md5("p").alias("d"))
            .agg(F.min(F.struct("k", "pos")).alias("w"))
            .select(F.col("w.k").alias("k"), F.col("w.pos").alias("pos"))
        )
        kept = paras.join(winners, ["k", "pos"])
    rebuilt = kept.groupBy("k").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "p"))),
                lambda s: s["p"],
            ), "\n").alias("clean_text"),
    )
    n_paras = docs.select(
        did.alias("k"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_paras"))
    return (
        n_paras.join(rebuilt, "k", "left")
        .select(
            F.col("k").alias(key),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_paras") - F.coalesce("n_kept", F.lit(0)))
            .cast("long").alias("n_dropped"),
        )
    )


def contamination_flags(docs: DataFrame, benchmark: DataFrame,
                        n: int = 8) -> DataFrame:
    """Benchmark decontamination — the standard pretraining-data step
    (GPT-3 appendix C / Llama-style n-gram overlap): flag corpus documents
    whose word n-grams intersect an evaluation suite's n-grams, so
    training data can be filtered before a model memorizes its own test
    set. One row per corpus doc: distinct contaminated-shingle count +
    the any-hit flag.

    Scale shape: the benchmark side is tiny by construction (eval suites
    are 10^3-10^5 items vs 10^12 docs), so its distinct shingle set is
    BROADCAST and the corpus shingle stream is filtered map-side — the
    only shuffle is the per-doc count aggregate (map-side partial combine
    on the doc key) and the left join back to the doc list. Shingles are
    md5 digests shared with the near-dup family (_shingles), so the
    broadcast carries fixed-width hashes, not raw n-gram strings."""
    # digest streams via the Arrow-batched twin (r7 — byte-exact, see
    # _shingle_digest_stream_pandas); the bench side carries no key and
    # dedups corpus-wide in Spark as before
    doc_sh = _shingle_digest_stream_pandas(docs, n)
    bench_sh = _shingle_digest_stream_pandas(benchmark, n,
                                             keyed=False).distinct()
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("k").agg(F.count("*").alias("n_contaminated"))
    )
    n_col = F.coalesce(F.col("n_contaminated"), F.lit(0))
    return (
        docs.select("doc_id")
        .join(hits.withColumnRenamed("k", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            n_col.cast("long").alias("n_contaminated"),
            (n_col >= 1).alias("contaminated"),
        )
    )


def substring_dup_stats(docs: DataFrame, window: int = 64, stride: int = 16,
                        heavy_frac: float = 0.5) -> DataFrame:
    """Exact-substring duplication signals (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    move, re-expressed for a shuffle-based engine): suffix arrays don't
    distribute, but sliding fixed-width character windows at a stride do —
    a substring duplicated across (or within) documents makes every window
    inside it collide, so "how much of this doc is verbatim-duplicated
    text" becomes "what fraction of its windows have a non-unique digest".
    Per doc: `n_windows`, `n_dup_windows` (window text occurs >= 2 times
    corpus-wide, including self-repetition), `dup_window_frac`, and a
    `dup_heavy` drop flag.

    Determinism: windows are char-offset slices (positions 1, 1+stride,
    ... <= len-window+1, 1-based — both engines' substring is 1-based and
    character-counted), digests are md5, and the `dup_heavy` threshold is
    EXACT integer math (n_dup * 10^4 >= round(heavy_frac * 10^4) *
    n_windows) — no float compare to drift cross-engine; the DuckDB
    oracle replays all of it (contract.py q_substring_dedup).

    Scale shape: `n_windows` is a pure LENGTH PROJECTION
    (floor((len-w)/stride)+1 — no shuffle at all), so only the dup side
    touches the window stream: one explode streams ~len/stride windows
    per doc (never a per-doc suffix structure), one md5-keyed groupBy
    counts occurrences (uniform digest keys, map-side partial combine),
    and — the load-bearing reduction — the join-back side is filtered to
    DUPLICATED digests only before the semi join, so in a mostly-unique
    corpus the join's build side is orders of magnitude smaller than a
    count-all-digests table (and AQE can keep broadcasting it far past
    the scale where the full table stopped fitting). The window stream is
    recomputed for the probe side rather than cached (narrow,
    deterministic projection — same discipline as bigram_logprob_score).
    Hot digests (boilerplate repeated millions of times) inflate no
    bucket: the dup set carries ONE row per digest regardless of its
    count."""
    if stride < 1 or window < 1:
        raise ValueError("substring_dup_stats: window/stride must be >= 1")
    did = F.col("doc_id")
    t = F.col("text")

    def _wins(df_: DataFrame) -> DataFrame:
        return (
            df_.filter(F.length(t) >= window)
            .select(did.alias("k"), t.alias("_t"),
                    F.explode(F.sequence(
                        F.lit(1), F.length(t) - window + 1,
                        F.lit(stride))).alias("pos"))
            .select("k", F.md5(F.expr(
                f"substring(_t, pos, {int(window)})")).alias("d"))
        )

    # ONE window-stream pass shared by both consumers: the per-(doc,
    # digest) count collapses the stream behind a single (k, d) exchange,
    # and the global dup set plus the per-doc dup count both read THAT
    # aggregate — Spark's ReusedExchange makes the explode+md5 pipeline
    # run once instead of twice (r7 optimization; result unchanged:
    # n_dup = sum of a doc's window counts whose digest occurs >= 2
    # times corpus-wide, exactly the old join-then-count semantics).
    wd = _wins(docs).groupBy("k", "d").agg(F.count("*").alias("_c"))
    dups = (wd.groupBy("d").agg(F.sum("_c").alias("_n"))
            .filter(F.col("_n") >= 2).select("d"))
    per_doc = (
        wd.join(dups, "d", "leftsemi")
        .groupBy("k").agg(F.sum("_c").alias("n_dup"))
    )
    thr = int(round(heavy_frac * 10_000))
    nw_proj = F.when(
        F.length(t) >= window,
        (F.floor((F.length(t) - window) / stride) + 1).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    nw = F.col("n_windows")
    nd = F.coalesce(F.col("n_dup"), F.lit(0)).cast("long")
    return (
        docs.select(did.alias("k"), nw_proj.alias("n_windows"))
        .join(per_doc, "k", "left")
        .select(
            F.col("k").alias("doc_id"),
            nw.alias("n_windows"),
            nd.alias("n_dup_windows"),
            F.round(nd / F.greatest(nw, F.lit(1)), 4)
             .alias("dup_window_frac"),
            ((nw > 0) & (nd * 10_000 >= F.lit(thr) * nw))
            .alias("dup_heavy"),
        )
    )


def jaccard_pairs(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Token-set Jaccard for candidate pairs (ref string-similarity fallback,
    evaluate.py:221-231: intersection/union of token sets)."""
    toks = register_cache(df.select(
        F.col("doc_id").alias("k"),
        F.array_distinct(F.split(F.trim(F.col("text")), WS_RUN)).alias("toks"),
    ).cache())  # joined twice (doc_a and doc_b sides); released via release_caches()
    j = (
        pairs.join(toks.withColumnRenamed("k", "doc_a")
                   .withColumnRenamed("toks", "toks_a"), "doc_a")
        .join(toks.withColumnRenamed("k", "doc_b")
              .withColumnRenamed("toks", "toks_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    return j.select(
        "doc_a", "doc_b", "n_shared",
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """MinHash signature per doc: min over its distinct 3-word shingles of
    perm_hash(shingle, seed_p) for each of MINHASH_PERMS seeded
    permutations. Shingles (not unigrams) are the hashed features: unigram
    sets over a small vocabulary are near-identical across documents,
    which would collapse every LSH bucket into one giant skew bucket.

    Each md5 of "<digest>,<seed_group>" yields FOUR independent 32-bit
    permutations (hex slices of the 128-bit digest), so 16 perms cost 4
    md5 calls per shingle, not 16; mins compare the 8-hex-char slices
    lexicographically (== numeric for fixed-width hex). Pure string ops,
    so the DuckDB oracle reproduces them.

    Plan shape: ONE Arrow-batched mapInPandas pass computes each doc's
    permutation mins in-row with hashlib's C md5 (r7: no explode shuffle,
    no interpreted HOF chain — measured ~2x the expression tier at sf1).
    Docs with fewer than 3 words emit no row. Pinned
    byte-identical to the native-expression reference
    `_minhash_signatures_sql` by
    tests/test_dedup.py::test_minhash_signature_engines_identical."""
    import pandas as pd  # noqa: PLC0415

    kt = df.schema["doc_id"].dataType.simpleString()
    groups = (MINHASH_PERMS + 3) // 4
    slots = [(p // 4, (p % 4) * 8) for p in range(MINHASH_PERMS)]

    def run(batches):
        for pdf in batches:
            ks, sigs = [], []
            for k_, text in zip(pdf["k"], pdf["t"]):
                digests = _py_shingle_digests(text, 3)
                if not digests:
                    continue
                mins = [None] * MINHASH_PERMS
                for d in digests:
                    hs = [md5(f"{d},{gi}".encode()).hexdigest()
                          for gi in range(groups)]
                    for p, (gi, off) in enumerate(slots):
                        s = hs[gi][off:off + 8]
                        if mins[p] is None or s < mins[p]:
                            mins[p] = s
                ks.append(k_)
                sigs.append(mins)
            # object dtype both columns: an all-dropped batch would
            # otherwise default to float64 Series, which Arrow cannot
            # cast to the declared long/array<string> schema
            yield pd.DataFrame({"k": pd.Series(ks, dtype="object"),
                                "signature": pd.Series(sigs,
                                                       dtype="object")})

    out = df.select(F.col("doc_id").alias("k"), F.col("text").alias("t")) \
        .mapInPandas(run, schema=f"k {kt}, signature array<string>")
    return out.withColumnRenamed("k", "doc_id")


def _minhash_signatures_sql(df: DataFrame) -> DataFrame:
    """Native-expression reference for `minhash_signatures`: explode
    distinct shingles -> one md5 per seed group -> one min-aggregate per
    permutation. Kept as the test reference because it splits words with
    Spark's own WS_RUN regex (the DuckDB oracle's whitespace split keeps
    "z\\x0bw" as one word)."""
    toks = df.filter(
        F.size(F.split(F.trim(F.col("text")), WS_RUN)) >= 3
    ).select(
        F.col("doc_id").alias("k"),
        F.explode(F.array_distinct(_shingles(3))).alias("tok"),
    )
    # per-permutation expressions are SQL strings parsed JVM-side:
    # building ~150 Column objects from Python costs ~1 s of py4j
    # round-trips per query (same lesson as simhash_signatures)
    toks = toks.selectExpr("k", *[
        f"md5(concat_ws(',', tok, '{g}')) AS h{g}"
        for g in range((MINHASH_PERMS + 3) // 4)
    ])
    mins = toks.groupBy("k").agg(*[
        F.expr(f"min(substring(h{p // 4}, {(p % 4) * 8 + 1}, 8)) AS mh{p}")
        for p in range(MINHASH_PERMS)
    ])
    return mins.selectExpr(
        "k AS doc_id",
        f"array({', '.join(f'mh{p}' for p in range(MINHASH_PERMS))}) "
        "AS signature",
    )


def minhash_lsh_pairs(df: DataFrame,
                      min_est_jaccard: float = 0.5) -> DataFrame:
    """Banded LSH over MinHash signatures: docs colliding in any band become
    candidate pairs; estimated Jaccard = fraction of matching signature slots.
    Buckets larger than MINHASH_MAX_BUCKET are dropped before the
    self-join — the skew guard that bounds worst-case pair blowup at scale
    (groupBy count + broadcast anti-join; see `_cap_hot_keys`)."""
    rows = MINHASH_PERMS // LSH_BANDS
    banded = minhash_signatures(df).selectExpr(
        "doc_id AS k",
        "signature",
        f"posexplode(transform(sequence(0, {LSH_BANDS - 1}), "
        f"b -> md5(concat_ws(',', transform(slice(signature, b * {rows} + 1, "
        f"{rows}), x -> cast(x AS string)))))) AS (band, bucket)",
    )
    # _cap_hot_keys caches its input, so both self-join sides reuse the
    # banded signature pipeline rather than recomputing it
    banded = _cap_hot_keys(banded, ["band", "bucket"], MINHASH_MAX_BUCKET)
    matches = F.size(F.filter(
        F.zip_with(F.col("pa"), F.col("pb"), lambda x, y: x == y),
        lambda v: v
    ))
    # est_jaccard is a pure function of the pair, so filtering BEFORE the
    # dropDuplicates shuffle is equivalent — and the dedup then only carries
    # surviving pairs instead of every band collision
    return (
        _self_join_pairs(banded, "k", ["band", "bucket"], "signature")
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                F.round(matches / F.lit(MINHASH_PERMS), 4)
                .alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc, fully native (whole-stage codegen end to end).

    Token hash = first 16 hex chars of md5(token) read big-endian (hex char
    1 = bits 63..60 ... char 16 = bits 3..0). Per doc, bit b of the simhash
    is 1 iff the majority of distinct tokens have bit b set (sign of the
    summed +/-1 votes; ties -> 0, matching the classic formulation).

    Plan: explode_outer distinct tokens (outer keeps token-less docs as one
    null row, so they get simhash 0 without a join-back stage) -> two conv()
    ints per token (hex chars 1-15 and 16) -> 64 conditional-sum aggregates
    + a non-null count per doc. The sums combine map-side, so the shuffle
    carries 65 longs per DOC, not per token. Oracle-reproducible: md5 +
    integer bit ops exist verbatim in ANSI-ish SQL (see contract.py).

    The 64-aggregate tree is built as SQL-expression STRINGS parsed JVM-side
    (`F.expr`/`selectExpr`), not Column-by-Column: composing ~800 Column
    objects from Python costs 2-3 s of py4j round-trips per query — measured
    to dominate the whole sf0.1 query (the round-2 bench regression)."""
    toks = df.selectExpr(
        "doc_id AS k",
        "explode_outer(filter(array_distinct("
        f"split(trim(text), '{SPARK_SQL_WS_RUN}')), x -> x != '')) AS tok",
    )
    # two conv() calls per token, not 16: hex chars 1-15 -> bits 63..4
    # ("hi", < 2^60 so the signed long conv is exact), char 16 -> bits 3..0
    nt = toks.selectExpr("k", "md5(tok) AS h").selectExpr(
        "k",
        "cast(conv(substring(h, 1, 15), 16, 10) AS bigint) AS hi",
        "cast(conv(substring(h, 16, 1), 16, 10) AS bigint) AS lo",
    )

    def bit(b: int) -> str:
        if b < 4:
            return f"shiftright(lo, {b}) & 1"
        return f"shiftright(hi, {b - 4}) & 1"

    agg = nt.groupBy("k").agg(
        F.expr("count(hi) AS cnt"),
        *[F.expr(f"sum({bit(b)}) AS s{b}") for b in range(64)],
    )
    # bit b set iff votes = 2*s_b - cnt > 0; bit 63 is the sign bit
    terms = " + ".join(
        f"(CASE WHEN 2*s{b} > cnt THEN {1 << b}L ELSE 0L END)"
        for b in range(63)
    ) + (" + (CASE WHEN 2*s63 > cnt"
         " THEN -9223372036854775807L - 1L ELSE 0L END)")
    return agg.selectExpr(
        "k AS doc_id",
        f"coalesce({terms}, 0L) AS simhash",
    )


def simhash_near_dups(df: DataFrame, max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit hash into 4×16-bit keys
    (pigeonhole: hamming<=3 guarantees a shared band; wider max_hamming is
    best-effort as in production SimHash dedup), then verify hamming.
    Buckets larger than SIMHASH_MAX_BUCKET are dropped before the
    self-join (`_cap_hot_keys` — e.g. the simhash-0 bucket of empty docs)."""
    sh = simhash_signatures(df).select(
        F.col("doc_id").alias("k"), F.col("simhash").alias("sh"))
    banded = sh.select(
        "k", "sh",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("sh"), 16 * i).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)
        ])).alias("band", "bkey"),
    )
    banded = _cap_hot_keys(banded, ["band", "bkey"], SIMHASH_MAX_BUCKET)
    ham = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("int")
    # hamming is a pure function of the pair: filter before the dedup
    # shuffle so it only carries pairs that survive the threshold
    return (
        _self_join_pairs(banded, "k", ["band", "bkey"], "sh")
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _driver_labels(spark, rows, dtype) -> DataFrame:
    """(node, comp) labels from a driver min-root union-find over (a, b)
    edge rows: each node's comp is its component's min id, the fixpoint
    connected_components' distributed rounds converge to. Both driver
    exits of connected_components label through this one function."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return spark.createDataFrame(
        [(x, find(x)) for x in list(parent)],
        StructType([StructField("node", dtype), StructField("comp", dtype)]))


def _no_convergence(*cached: DataFrame):
    """Raise connected_components' non-convergence error, registering
    `cached` first so release_caches() frees them after the raise."""
    for df in cached:
        register_cache(df)
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ITERS} rounds "
        "(pathological component diameter — raise CC_MAX_ITERS)")


def connected_components(pairs: DataFrame, key_a: str = "doc_a",
                         key_b: str = "doc_b", out_key: str = "doc_id",
                         pairs_canonical: bool = False) -> DataFrame:
    """Near-duplicate CLUSTERING: connected components over a candidate-pair
    edge list (the step after LSH at corpus scale — pairs say "these two are
    dups", components say "this is one document cluster, keep one copy").
    Every node is labelled with the min id of its component.

    Small graphs never reach Spark rounds: the projected (a, b) pairs are
    persisted once and at most UF_BREAK_MAX + 1 of them collected. When
    that collect is not cut short (the empty input included), a driver
    union-find over the raw pairs closes the components — no symmetrize,
    distinct or count job, canonical input or not. Otherwise the
    symmetrized edge set is built from the same persisted pairs
    (`pairs_canonical=True` declares every row distinct with a < b, so the
    two halves cannot collide and the distinct is skipped) and the
    distributed loop runs.

    Hash-min with pointer jumping over a CONTRACTING edge set: every node
    starts labelled with its own id; each round (1) a node's label becomes
    the min over itself and its neighbours, (2) labels are re-pointed
    through the label table itself (comp <- comp[comp], path compression),
    then (3) the edges are CONTRACTED through the fresh labels — each
    endpoint replaced by its component label, self-loops dropped,
    duplicates merged (the quotient-graph move of alternating
    large-star/small-star). Near-dup graphs are near-cliques, so round 1
    collapses almost every edge to a self-loop and later rounds join a
    residual edge set orders of magnitude smaller. Contracted endpoints
    are labels, which are themselves node ids, so the same step+jump loop
    keeps working on the quotient graph while contracted-away nodes chase
    their representatives through the jump. The per-round contracted-edge
    count is also the round's materialization barrier.

    The loop hands over to the driver after the first round that leaves
    at most UF_BREAK_MAX edges. If round 1 contracted every edge away,
    each original edge already had equal endpoint labels, so the labels
    are the fixpoint. Otherwise a driver union-find closes the residual
    quotient edges, if any, and folds its roots back over the label table
    with one broadcast join; contracted-away nodes may still point into a
    label chain, so jump-only rounds (comp <- comp[comp]) follow until
    every freshly jumped label is a root, read off the same job as the
    jump. Chains are at most as long as the rounds run and jumping
    doubles, so log2(rounds) + 2 jump rounds suffice; their budget is the
    larger of that and CC_MAX_ITERS, so a graph that contracts empty on
    the last allowed round still closes. Raises if either loop runs out
    of rounds rather than returning a silently-wrong partial labelling.

    Iterative-plan discipline: each round references the previous labels
    ~4-5x, so the logical plan would compound ~5^rounds without a lineage
    break — labels and edges get a leaf-plan reset every round (over
    caches the round's count has already materialized), exactly why
    GraphFrames requires a checkpoint dir for its CC. The reset is a
    driver round-trip while the table is small (`collect_break_max` rows
    of two longs; it leaves no checkpoint blocks behind, which keeps the
    loop viable in a 1 GB driver and lets release_caches() free every
    cache), else `localCheckpoint()` (blocks reclaimed by Spark's
    ContextCleaner once the result is dropped). Superseded caches are
    released at once; the final label table is registered for
    `release_caches()`. While the node set fits `collect_break_max`,
    every labels-side join is broadcast so the (dense) edge list is never
    shuffled; past it the joins hash-partition on uniform node-id keys.

    Deterministic and oracle-reproducible: the fixpoint (component-min
    labels) is engine-independent, so a DuckDB recursive CTE replicates it
    exactly (contract.py q_neardup_components). CC_LAST_STATS records the
    run: `rounds`, `fastpath`, `edge_counts` (symmetrized distinct edges
    entering each round, then 0) and, when a driver union-find closed
    edges, `driver_uf_edges`."""
    spark = pairs.sparkSession
    collect_break_max = 200_000

    def _leaf_reset(df: DataFrame, n_rows: int, *spent: DataFrame):
        """A persisted or checkpointed leaf holding df's rows; df and the
        `spent` caches it was computed from are released."""
        if n_rows <= collect_break_max:
            leaf = spark.createDataFrame(df.collect(), df.schema).persist()
        else:
            leaf = df.localCheckpoint(eager=True)
        for x in (df, *spent):
            x.unpersist()
        return leaf

    def _finish(labels: DataFrame, rounds: int, fastpath: bool,
                edge_counts: list, uf_edges=None) -> DataFrame:
        CC_LAST_STATS.clear()
        CC_LAST_STATS.update(rounds=rounds, fastpath=fastpath,
                             edge_counts=edge_counts)
        if uf_edges is not None:
            CC_LAST_STATS["driver_uf_edges"] = uf_edges
        register_cache(labels)
        return labels.select(F.col("node").alias(out_key),
                             F.col("comp").alias("component_id"))

    e = pairs.select(F.col(key_a).alias("a"), F.col(key_b).alias("b")) \
        .persist()
    qt = e.schema["a"].dataType
    head = e.limit(UF_BREAK_MAX + 1).collect()
    if len(head) <= UF_BREAK_MAX:
        # the union-find needs neither direction nor distinctness;
        # `driver_uf_edges` still counts the symmetrized distinct edges
        e.unpersist()
        uf_edges = len({(a, b) for a, b in head} | {(b, a) for a, b in head})
        return _finish(_driver_labels(spark, head, qt), 0, False,
                       [uf_edges, 0], uf_edges)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    edges0 = (sym if pairs_canonical else sym.distinct()).persist()
    n_edges = edges0.count()
    # leaf-reset BEFORE iterating: without it every round's logical plan
    # embeds the whole upstream pair pipeline (the cache shortcuts
    # execution but not plan analysis)
    edges = register_cache(_leaf_reset(edges0, n_edges, e))
    labels = (edges.select(F.col("a").alias("node")).distinct()
              .withColumn("comp", F.col("node")).persist())
    n_nodes = labels.count()  # the node set is loop-invariant
    small = n_nodes <= collect_break_max

    def bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df
    edge_counts = [n_edges]
    for it in range(1, CC_MAX_ITERS + 1):
        if it == 1:
            # round 1 labels are the identity (comp == node): read the
            # neighbour labels straight off the edge list and skip the
            # loop's biggest shuffle join on its biggest round
            neigh = edges.select(F.col("b").alias("node"),
                                 F.col("a").alias("comp"))
        else:
            neigh = edges.join(bcast(labels),
                               edges["a"] == labels["node"]).select(
                F.col("b").alias("node"), "comp")
        stepped = (
            labels.unionByName(neigh)
            .groupBy("node").agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp <- stepped[comp] (comp is always a node id, so
        # the self-join is total). Aliases are load-bearing: an unqualified
        # condition on a self-join of a derived frame can resolve both
        # sides to the SAME attribute (Spark self-join ambiguity) and
        # silently turn the jump into a no-op.
        st, jm = stepped.alias("st"), stepped.alias("jm")
        new_labels = st.join(
            bcast(jm), F.col("st.comp") == F.col("jm.node")
        ).select(
            F.col("st.node").alias("node"), F.col("jm.comp").alias("comp")
        ).persist()
        # contract: both endpoints -> their fresh labels; drop resolved
        # (same-label) edges; merge parallel edges. One count() job
        # materializes the contracted edges AND (via the shared cached
        # node) the new labels — the round's single action.
        la, lb = new_labels.alias("la"), new_labels.alias("lb")
        contracted = (
            edges.join(bcast(la), F.col("a") == F.col("la.node"))
            .join(bcast(lb), F.col("b") == F.col("lb.node"))
            .select(F.col("la.comp").alias("a"), F.col("lb.comp").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct().persist()
        )
        n_edges = contracted.count()
        edge_counts.append(n_edges)
        labels = _leaf_reset(new_labels, n_nodes, labels, edges)
        if n_edges <= UF_BREAK_MAX:
            break
        edges = _leaf_reset(contracted, n_edges)
    else:
        _no_convergence(labels, edges)
    residual = contracted.collect() if n_edges else []
    contracted.unpersist()
    if it == 1 and not residual:
        return _finish(labels, it, True, edge_counts)
    uf_edges = None
    if residual:
        uf_edges = n_edges
        edge_counts.append(0)
        lab = labels.alias("lab")
        uf = _driver_labels(spark, residual, qt).alias("uf")
        relabeled = lab.join(
            F.broadcast(uf), F.col("lab.comp") == F.col("uf.node"), "left"
        ).select(
            F.col("lab.node").alias("node"),
            F.coalesce(F.col("uf.comp"), F.col("lab.comp")).alias("comp"),
        )
        labels = _leaf_reset(relabeled, n_nodes, labels)

    # jump-only rounds. Three arms of ONE self-join: st (node -> old
    # comp), jm (the jump target), jm2 (the target's own comp).
    # `unstable` asks whether the NEW label is already a root — if every
    # node's new comp is a root, the next jump would be the identity, so
    # this round's labels are the fixpoint and no confirmation round runs.
    ep_budget = max(CC_MAX_ITERS, it.bit_length() + 2)
    for ep in range(1, ep_budget + 1):
        st, jm, jm2 = (labels.alias("st"), labels.alias("jm"),
                       labels.alias("jm2"))
        jumped = st.join(
            bcast(jm), F.col("st.comp") == F.col("jm.node")
        ).join(
            bcast(jm2), F.col("jm.comp") == F.col("jm2.node")
        ).select(
            F.col("st.node").alias("node"), F.col("jm.comp").alias("comp"),
            (F.col("jm2.comp") != F.col("jm.comp")).cast("long")
            .alias("unstable"),
        ).persist()
        n_unstable = jumped.agg(
            F.sum("unstable").alias("u")).first().u or 0
        labels = _leaf_reset(jumped.drop("unstable"), n_nodes, jumped, labels)
        if n_unstable == 0:
            return _finish(labels, it + ep, False, edge_counts, uf_edges)
    _no_convergence(labels)


def keep_canonical(df: DataFrame, components: DataFrame,
                   key: str = "doc_id") -> DataFrame:
    """Corpus keep-one filter: drop every clustered document except its
    component's canonical (smallest-id) member; documents in no component
    pass through untouched. `components` is connected_components output."""
    losers = components.filter(
        F.col(key) != F.col("component_id")).select(F.col(key))
    return df.join(losers, key, "left_anti")


def dedup_against(docs: DataFrame, seen: DataFrame,
                  seen_digest_col: str = "digest") -> DataFrame:
    """Incremental cross-snapshot exact dedup (the move every rolling
    crawl pipeline runs: dedupe THIS dump against every dump already
    ingested): flag each doc as novel iff its text md5 digest is absent
    from `seen`, the digest set of previously-ingested corpus snapshots
    (e.g. the `digest` column of a committed exact_dedup_groups table, or
    a prior run's dedup_against output). Returns (doc_id, digest,
    is_novel) — the digest column is the row to fold back into the seen
    set for the NEXT snapshot.

    Scale shape: the doc digest is a narrow projection (no corpus
    shuffle before the join); `seen` is distinct-ed on the digest (one
    uniform-key shuffle of the — much smaller — history digest table,
    which also makes the left join multiplicity-safe if a caller feeds
    an undeduplicated history) and joined on uniform md5 keys, so AQE
    broadcasts it while it fits and degrades to a co-partitioned
    shuffle join beyond that. No window, no sort, no driver state."""
    d = docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
    s = (seen.select(F.col(seen_digest_col).alias("digest"))
         .distinct().withColumn("_seen", F.lit(1)))
    return (
        d.join(s, "digest", "left")
        .select("doc_id", "digest",
                F.col("_seen").isNull().alias("is_novel"))
    )


def url_blocklist_flags(docs: DataFrame, blocked_domains,
                        key: str = "doc_id") -> DataFrame:
    """UT1/C4-style domain blocklist filter: a doc is blocked iff its URL
    host, or ANY dot-suffix of it, appears in the blocklist — registrable-
    domain semantics without a PSL dependency (blocking 'example.com'
    blocks 'a.b.example.com'; blocking 'b.example.com' does not block
    'example.com'). Returns (key, host, blocked, blocked_domain) where
    blocked_domain is the alphabetically-first matching entry — a
    deterministic, auditable provenance tag.

    `blocked_domains`: an iterable of domain strings (config-scale
    lists). Entries are lowercased.

    Scale shape: the host is a narrow regexp projection; each host
    explodes into at most its dot-label count of suffixes (bounded ~10,
    never corpus-scale fan-out); the blocklist joins broadcast (even a
    UT1-scale list of millions of domains is tens of MB); the only
    corpus shuffle is the per-doc min aggregate on uniform keys."""
    doms = sorted({str(x).lower() for x in blocked_domains})
    if not doms:
        raise ValueError("url_blocklist_flags: empty blocklist")
    bl = docs.sparkSession.createDataFrame([(x,) for x in doms],
                                           "domain string")
    host = F.lower(F.regexp_extract(
        F.col("url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#:]*)", 1))
    base = docs.select(F.col(key).alias("k"), host.alias("host"))
    parts = F.split(F.col("host"), r"\.")
    sufs = F.transform(
        F.sequence(F.lit(0), F.size(parts) - 1),
        lambda i: F.array_join(
            F.slice(parts, i + 1, F.size(parts) - i), "."))
    m = (
        base.select("k", F.explode(sufs).alias("domain"))
        .join(F.broadcast(bl), "domain")
        .groupBy("k").agg(F.min("domain").alias("blocked_domain"))
    )
    return (
        base.join(m, "k", "left")
        .select(F.col("k").alias(key), "host",
                F.col("blocked_domain").isNotNull().alias("blocked"),
                "blocked_domain")
    )
