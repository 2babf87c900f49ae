"""Text-analysis operators over a document table — all native expressions
(JVM-side, whole-stage codegen; no Python in the hot path).

Retargets of the reference's text ops: language detection by script ratio
(ocr.py:314-348, normalizer.py:364-405), keyword/quality flags
(normalizer.py:463-483), number/token parsing (normalizer.py:233-277)."""

from __future__ import annotations

import pandas as pd  # noqa: TC002 — pandas_udf type-hint resolution needs
# the name in MODULE globals (postponed annotations + a function-local
# import leave 'pd.Series' unresolvable to get_type_hints)

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for"]

# Tokenization whitespace, spelled EXPLICITLY: Java regex \s is
# [ \t\n\x0B\f\r] but RE2 — the DuckDB oracle engine — excludes \x0B
# (vertical tab) from \s, so a bare \s/\S shared between a Spark pattern
# and its oracle silently compiles to two different classes. Every
# tokenizer split on either side uses these constants (review finding,
# round 3). Python's \s is wider still — see golden.WS_NORM_PATTERN.
WS_CHARS = r" \t\n\f\r\x0B"
WS_RUN = rf"[{WS_CHARS}]+"          # == Java \s+ ; embed as-is in DuckDB '…'
NON_WS_RUN = rf"[^{WS_CHARS}]+"     # == Java \S+
# inside a SPARK SQL '…' literal backslash escapes are processed once, so
# the regex source needs its backslashes doubled (DuckDB literals don't
# process escapes — use WS_RUN there directly)
SPARK_SQL_WS_RUN = WS_RUN.replace("\\", "\\\\")

# Unicode script ranges shared with the DuckDB oracle (explicit code points —
# portable across Java regex and RE2 dialects).
CJK_RANGE = "一-鿿"
DEVANAGARI_RANGE = "ऀ-ॿ"
GUJARATI_RANGE = "઀-૿"
LATIN_RANGE = "A-Za-z"


def word_ngrams(words: Column, n: int) -> Column:
    """Space-joined word n-grams from a words array, built with chained
    zip_with over n aligned slices — the HOF-SAFE shape: slice/zip_with
    ARGUMENTS are evaluated once per ROW, whereas referencing the words
    expression inside a transform() lambda re-evaluates the whole
    split-chain per ELEMENT (the documented O(len^2) Catalyst
    projection-collapse gotcha; measured ~2x on this corpus's bigram
    streams, worse as docs grow). Arrays shorter than n yield []."""
    cnt = F.greatest(F.size(words) - n + 1, F.lit(0))
    out = F.slice(words, 1, cnt)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(words, j + 1, cnt),
                         lambda a, b: F.concat_ws(" ", a, b))
    return out


def token_count_col(text: Column) -> Column:
    """Whitespace token count — `regexp_count` stays in codegen."""
    return F.regexp_count(text, F.lit(NON_WS_RUN))


# GPT-2-style pretokenizer, restricted to syntax BOTH Java regex and RE2
# (the DuckDB oracle) support: no lookarounds (RE2 has none), Unicode
# classes via \p{L}/\p{N}, whitespace via the explicit WS_CHARS class
# (bare \s would diverge on vertical tab). Counts contraction suffixes,
# letter runs, digit runs, punctuation runs, and residual whitespace runs
# — the standard LLM-token-budget estimator shape (true BPE merges need
# the vocab; the PREtokenizer count is the budgeting proxy).
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    rf"| ?\p{{L}}+| ?\p{{N}}+| ?[^{WS_CHARS}\p{{L}}\p{{N}}]+|[{WS_CHARS}]+"
)


def bpe_token_count_col(text: Column) -> Column:
    """BPE-ish token count (task brief: 'token counting — whitespace + a
    BPE-ish regex'); ~the sub-word budget a GPT-style tokenizer would see."""
    return F.regexp_count(text, F.lit(BPE_PRETOKEN_PATTERN))


def with_token_stats(df: DataFrame) -> DataFrame:
    t = F.col("text")
    return df.withColumns(
        {
            "n_tokens": token_count_col(t),
            "n_bpe_tokens": bpe_token_count_col(t),
            "n_chars_actual": F.length(t),
            "avg_token_len": F.round(
                (F.length(F.regexp_replace(t, WS_RUN, "")))
                / F.greatest(token_count_col(t), F.lit(1)),
                4,
            ),
        }
    )


def _script_count(t: Column, rng: str) -> Column:
    return F.length(t) - F.length(F.regexp_replace(t, f"[{rng}]", ""))


def with_script_langid(df: DataFrame) -> DataFrame:
    """Script-ratio language ID (ref ocr.py:314-348: per-script char counting
    over a 200-char sample, >30% threshold ladder)."""
    threshold = 0.3
    sample = F.substring(F.col("text"), 1, 200)
    n = F.greatest(F.length(sample), F.lit(1))
    cjk = _script_count(sample, CJK_RANGE) / n
    deva = _script_count(sample, DEVANAGARI_RANGE) / n
    guj = _script_count(sample, GUJARATI_RANGE) / n
    lat = _script_count(sample, LATIN_RANGE) / n
    return df.withColumn(
        "script_lang",
        F.when(cjk > threshold, "cjk")
        .when(deva > threshold, "devanagari")
        .when(guj > threshold, "gujarati")
        .when(lat > threshold, "latin")
        .otherwise("other"),
    )


def with_quality_score(df: DataFrame) -> DataFrame:
    """Deterministic quality score: length band + stopword ratio + punctuation
    ratio (training-data quality filtering; weights fixed)."""
    t = F.col("text")
    n_tok = F.greatest(token_count_col(t), F.lit(1))
    stop_alt = "|".join(STOPWORDS)
    n_stop = F.regexp_count(F.lower(t), F.lit(rf"\b(?:{stop_alt})\b"))
    stop_ratio = n_stop / n_tok
    punct_ratio = (F.regexp_count(t, F.lit(rf"[^\w{WS_CHARS}]"))
                   / F.greatest(F.length(t), F.lit(1)))
    len_band = (
        F.when(F.length(t) < 50, 0.2)
        .when(F.length(t) < 200, 0.6)
        .when(F.length(t) < 2000, 1.0)
        .otherwise(0.8)
    )
    score = F.round(
        F.lit(0.5) * len_band
        + F.lit(0.35) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.15) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))),
        4,
    )
    return df.withColumns(
        {
            "stop_ratio": F.round(stop_ratio, 4),
            "punct_ratio": F.round(punct_ratio, 4),
            "quality_score": score,
        }
    )


def normalized_fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over case/punct/whitespace-normalized text
    (near-dup canonicalization; md5 is portable to the DuckDB oracle)."""
    t = F.col("text")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return df.withColumn("fingerprint", F.md5(norm))


# ---------------------------------------------------------------------------
# True BPE token counting (opt-in tier over the pretokenizer proxy above)
# ---------------------------------------------------------------------------

# Deterministic merge table, rank-ordered (the vocabulary a trained BPE
# would learn over English web text, fixed here so Spark and the DuckDB
# oracle replay the identical procedure). Later ranks cascade over earlier
# merges ('t'+'h' -> 'th', then 'th'+'e' -> 'the'), exactly like a real
# merges.txt. Small by design: it broadcasts with the UDF closure.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "u"), ("o", "r"),
    ("e", "n"), ("a", "t"), ("e", "s"), ("s", "t"), ("a", "r"),
    ("l", "l"), ("in", "g"), ("e", "d"), ("c", "h"), ("o", "m"),
    ("i", "s"), ("i", "t"), ("a", "l"), ("e", "l"),
]


def bpe_token_counts(df: DataFrame) -> DataFrame:
    """TRUE BPE token counts per document (round-3 verdict #9) — the opt-in
    tier above the `n_bpe_tokens` pretokenizer proxy, for when the actual
    sub-word budget matters more than scan speed.

    Procedure (identical, step for step, in the DuckDB oracle —
    contract._bpe_oracle_sql): split on the explicit WS class; per word,
    space-separate its codepoints and apply each merge rank in order as a
    left-to-right non-overlapping ` a b ` -> ` ab ` replacement (Python
    str.replace and SQL replace() share those semantics exactly); the
    word's token count is what remains. Runs as ONE Arrow-batched pandas
    UDF per doc row — the merge loop is per word inside the batch, there
    is no per-row Python UDF dispatch and no explode/shuffle (the proxy
    column stays the default precisely because this tier pays Python+Arrow
    transfer for the text column)."""
    import re  # noqa: PLC0415

    ws_re = re.compile(f"[{WS_CHARS}]+")

    # asNondeterministic (it IS deterministic): the filter on the struct
    # field below would otherwise be pushed beneath the projection and make
    # Catalyst evaluate the UDF TWICE — once for the filter, once for the
    # output columns (caught by tests/test_plans.py: two ArrowEvalPython
    # nodes, doubling the only Python cost this tier has)
    @F.pandas_udf("n_words long, n_bpe_tokens long")
    def _counts(texts: pd.Series) -> pd.DataFrame:
        out_w, out_t = [], []
        for text in texts:
            nw = nt = 0
            for w in ws_re.split(text or ""):
                if not w:
                    continue
                nw += 1
                t = " " + " ".join(w) + " "
                for a, b in BPE_MERGES:
                    t = t.replace(f" {a} {b} ", f" {a}{b} ")
                # split on the SINGLE space separator, exactly like the
                # oracle's string_split(trim(t), ' ') — bare str.split()
                # would also split on unicode whitespace INSIDE a token
                # (NBSP etc.) and silently diverge from DuckDB
                nt += sum(1 for seg in t.split(" ") if seg)
            out_w.append(nw)
            out_t.append(nt)
        return pd.DataFrame({"n_words": out_w, "n_bpe_tokens": out_t})

    counts = _counts.asNondeterministic()
    return (
        df.select("doc_id", counts(F.col("text")).alias("c"))
        .select("doc_id", "c.*")
        .filter(F.col("n_words") > 0)  # oracle scope: docs with words
    )


def dup_line_frac_col(text: Column) -> Column:
    """Duplicate-line fraction as ONE narrow projection (no explode, no
    shuffle) — the Gopher dup_line signal shared by repetition_stats and
    the curate quality gate (which needs ONLY this column and must not
    pay the top-bigram machinery for it)."""
    lines = F.split(text, "\n")
    return F.round(
        1 - F.size(F.array_distinct(lines))
        / F.greatest(F.size(lines), F.lit(1)), 4)


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1 —
    repetitious documents are low-quality training data) over an
    extraction's `body_text`: per document, the fraction of duplicate
    LINES and the fraction of characters claimed by the most frequent word
    2-gram. High values flag boilerplate/spam for the quality-filtering
    stage.

    Scale shape: dup_line_frac is a single narrow projection
    (array_distinct on the split — no explode, no shuffle) carried beside
    the text into `_with_top_gram_fracs`, the top-n-gram aggregate that
    `ngram_repetition_fracs` runs for n = 2, 3 and 4; the top-bigram
    fraction is its n = 2 column."""
    t = F.col("body_text")
    return _with_top_gram_fracs(
        df.select("doc_id", dup_line_frac_col(t).alias("dup_line_frac"), t),
        "body_text", (2,),
    ).withColumnRenamed("top_2gram_char_frac", "top_bigram_char_frac")


def bigram_logprob_score(df: DataFrame, top_k: int = 50_000) -> DataFrame:
    """CCNet-style statistical quality score (Wenzek et al. 2019 §4.3 —
    perplexity under a corpus LM separates fluent text from gibberish):
    per document, the average negative log-probability of its word
    bigrams under the corpus's own add-one-smoothed bigram distribution,
    with the LM pruned to the `top_k` most frequent bigrams (everything
    rarer scores as an unseen event). Low `avg_nll` = stereotypical
    fluent text; high = rare/garbled token sequences; `oov_frac` is the
    share of a doc's bigrams outside the pruned LM (its own
    novelty/garbage signal).

    Cross-engine determinism: every log is computed on the PRUNED LM
    table (top_k + 1 rows, never the corpus stream), immediately rounded
    to integer MICRO-NATS (round(ln(p) * 1e6) as BIGINT), and per-doc
    aggregation sums those integers — exact and order-independent, so the
    DuckDB oracle hash-matches despite float transcendentals (the ln of
    the same IEEE double differs across libms by <= 1 ulp, far inside the
    1e-6 rounding grain). Pruning ties are total-ordered (count DESC,
    gram ASC).

    Scale shape: train-then-score is inherently two passes — the corpus
    text is exploded into 2-grams once for the LM counts
    (map-side-combined groupBy) and AGAIN for the scoring stream, since
    scoring depends on the completed broadcast LM (caching the exploded
    stream to share it would cost corpus-scale memory for a narrow,
    cheap-to-recompute projection). The pruned LM + the 1-row (N, V)
    totals broadcast, so scoring is a map-side lookup followed by one
    per-doc integer-sum aggregate. The only unbounded shuffle keys are
    the uniform bigram/doc hashes; the orderBy feeding the prune is a
    TakeOrderedAndProject bounded by top_k."""
    t = F.col("text")
    words = F.split(F.trim(t), WS_RUN)
    occ = df.select(F.col("doc_id"),
                    F.explode(word_ngrams(words, 2)).alias("g"))
    cnt = occ.groupBy("g").agg(F.count("*").alias("n"))
    tot = cnt.agg(F.sum("n").alias("_N"), F.count("*").alias("_V"))
    lm = cnt.orderBy(F.col("n").desc(), F.col("g").asc()).limit(top_k)
    lp = (
        lm.crossJoin(F.broadcast(tot))
        .select(
            "g",
            F.round(F.log((F.col("n") + 1) / (F.col("_N") + F.col("_V")))
                    * 1e6).cast("long").alias("_lp_micro"))
    )
    oov = tot.select(
        F.round(F.log(F.lit(1) / (F.col("_N") + F.col("_V")))
                * 1e6).cast("long").alias("_lp0_micro"))
    scored = (
        occ.join(F.broadcast(lp), "g", "left")
        .crossJoin(F.broadcast(oov))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.coalesce("_lp_micro", "_lp0_micro")).alias("_s"),
            F.sum(F.when(F.col("_lp_micro").isNull(), 1).otherwise(0))
            .alias("_oov"),
        )
    )
    return (
        df.select(F.col("doc_id")).join(scored, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.round(-F.col("_s") / (F.col("n_bigrams") * 1e6), 4)
            .alias("avg_nll"),
            F.round(F.col("_oov") / F.col("n_bigrams"), 4).alias("oov_frac"),
        )
    )


def perplexity_buckets(df: DataFrame, top_k: int = 50_000,
                       sample_rate: float = 1.0) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2019 §4.3): score
    every doc with the corpus bigram LM (`bigram_logprob_score`), compute
    the corpus's avg_nll TERCILE cutoffs, and tag each doc `head`
    (most fluent third), `middle`, or `tail`. CCNet trains on head+middle
    and drops tail; downstream callers filter on the bucket column.
    Docs with no bigrams (empty/one-word) get a NULL bucket.

    Cross-engine determinism: avg_nll is already deterministic (integer
    micro-nat sums, rounded once); the tercile cutoffs use EXACT linear-
    interpolated percentiles (index p*(N-1) over the sorted multiset) —
    Spark `percentile` and DuckDB `quantile_cont` implement the identical
    formula, and 1/3, 2/3 are the same IEEE doubles in both engines, so
    the cutoffs and every <=-comparison replay bit-for-bit.

    Scale shape: scoring is bigram_logprob_score's (broadcast LM + one
    per-doc integer aggregate). The EXACT percentile is the one
    deliberately bounded buffer: it collects the sampled scores into a
    single aggregation buffer, so at corpus scale set `sample_rate` < 1
    — the threshold sample is drawn with the package's deterministic
    salted-u32 accept test (same doc set on every engine/run; CCNet
    itself computes cutoffs on a sample), keeping the buffer at
    rate * N doubles while every doc still gets bucketed by the
    broadcast cutoffs. At the default 1.0 the buffer is the whole score
    column — fine at test scale, documented unbounded beyond it."""
    if not (0.0 < sample_rate <= 1.0):
        raise ValueError("perplexity_buckets: sample_rate must be in "
                         f"(0, 1], got {sample_rate}")
    scored = bigram_logprob_score(df, top_k=top_k)
    # scored feeds BOTH the tercile-cutoff aggregate and the final
    # bucketed projection — uncached, the whole two-pass LM scoring
    # pipeline (gram explode, LM build, broadcast lookup) would run
    # twice (r7 optimization). One row per doc, released via
    # dedup.release_caches().
    from .dedup import register_cache  # noqa: PLC0415

    scored = register_cache(scored.cache())
    sample = scored.filter(F.col("avg_nll").isNotNull())
    if sample_rate < 1.0:
        from .sampling import _U32_SPAN, _u32  # noqa: PLC0415

        rate_scaled = int(round(sample_rate * _U32_SPAN))
        sample = sample.filter(
            _u32(F.col("doc_id"), ":ppl") < F.lit(rate_scaled))
    thr = sample.agg(F.percentile(
        "avg_nll",
        F.array(F.lit(1) / 3, F.lit(2) / 3)).alias("_t"))
    bucket = (
        F.when(F.col("avg_nll").isNull(), F.lit(None).cast("string"))
        .when(F.col("avg_nll") <= F.col("_t")[0], "head")
        .when(F.col("avg_nll") <= F.col("_t")[1], "middle")
        .otherwise("tail")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .select(F.col("doc_id"), "n_bigrams", "avg_nll",
                bucket.alias("ppl_bucket"))
    )


def c4_line_filter(df: DataFrame, min_words: int = 5,
                   min_lines: int = 3,
                   require_terminal_punct: bool = True) -> DataFrame:
    """C4-style line/page cleaning (Raffel et al. 2020 §2.2, the
    deterministic subset): keep only lines that end in a terminal
    punctuation mark (``. ! ? "``), carry at least `min_words` words, and
    do not mention ``javascript``; rebuild the page from the kept lines;
    flag the PAGE as dropped when fewer than `min_lines` lines survive or
    the raw page contains ``lorem ipsum`` or a ``{`` (C4's
    source-code/boilerplate tells). Returns (doc_id, clean_text,
    n_lines_kept, n_lines_dropped, page_kept) — filter on `page_kept`
    and write `clean_text` downstream.

    Everything is native array/string expressions: one split, one
    list-filter whose lambda touches ONLY its own line variable (no
    outer-expression capture — the HOF re-evaluation gotcha cannot
    trigger), one array_join. No shuffle at all: this is a pure
    projection, so it composes anywhere in a plan at any scale; the
    DuckDB oracle (contract.py q_c4_line_filter) replays every predicate
    verbatim."""
    t = F.col("text")
    lines = F.split(t, "\n")

    def _keep(line):
        ok = F.length(F.trim(line)) > 0
        if require_terminal_punct:
            ok = ok & F.trim(line).rlike('[.!?"]$')
        ok = ok & (F.size(F.split(F.trim(line), WS_RUN)) >= min_words)
        return ok & ~F.lower(line).contains("javascript")

    kept = F.filter(lines, _keep)
    page_ok = ((F.size(kept) >= min_lines)
               & ~F.lower(t).contains("lorem ipsum")
               & ~t.contains("{"))
    return df.select(
        F.col("doc_id"),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).cast("long")
        .alias("n_lines_dropped"),
        page_ok.alias("page_kept"),
    )


def _with_top_gram_fracs(df: DataFrame, text_col: str,
                         ns: tuple[int, ...]) -> DataFrame:
    """`df` without `text_col`, plus for each n in `ns` the fraction of
    the text's characters claimed by its MOST FREQUENT word n-gram
    (count * len(gram) / len(text)) as `top_{n}gram_char_frac`, 0.0 when
    the text has no n-grams. `df` is keyed by doc_id.

    Deterministic tie-break: highest count, then lexicographically
    LARGEST gram (a max-of-struct aggregate — no window over the corpus;
    the oracles replay it as QUALIFY row_number).

    Scale shape: one narrow explode pass per n, UNIONED into the single
    map-side-combined (doc, n, gram) count shuffle — the union re-scans
    the (narrow, projection-only) text once per n but keeps every
    per-element step in codegen; the earlier one-stream formulation
    tagged each gram with an interpreted struct-building transform that
    cost more than the extra scans (r7 measurement: 1.8 s vs 2.6 s at
    sf1). The per-doc argmax of every n is ONE second aggregate over one
    row per distinct gram, and the per-doc columns join back onto `df`'s
    narrow projection. All gram arrays come from the HOF-safe word_ngrams
    chain."""
    t = F.col(text_col)
    words = F.split(F.trim(t), WS_RUN)
    occ = None
    for n in ns:
        part = df.select(F.col("doc_id"), F.lit(n).alias("n"),
                         F.explode(word_ngrams(words, n)).alias("g"))
        occ = part if occ is None else occ.unionByName(part)
    top = (
        occ.groupBy("doc_id", "n", "g").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(*[F.max(F.when(F.col("n") == n, F.struct("c", "g")))
               .alias(f"_t{n}") for n in ns])
    )
    base = df.withColumn("_d", F.greatest(F.length(t), F.lit(1)))
    return base.join(top, "doc_id", "left").select(
        *[c for c in df.columns if c != text_col],
        *[F.round(F.coalesce(F.col(f"_t{n}.c") * F.length(f"_t{n}.g"),
                             F.lit(0)) / F.col("_d"), 4)
          .alias(f"top_{n}gram_char_frac") for n in ns],
    )


def ngram_repetition_fracs(df: DataFrame) -> DataFrame:
    """The rest of the Gopher repetition family (Rae et al. 2021 §A1.1):
    for each n in 2, 3 and 4, the fraction of the document's characters
    claimed by its most frequent word n-gram — `top_{n}gram_char_frac`
    columns from `_with_top_gram_fracs`. Gopher drops docs above
    ~0.20/0.18/0.16 for n=2/3/4; callers filter."""
    return _with_top_gram_fracs(df.select("doc_id", "text"), "text",
                                (2, 3, 4))
