"""Functional semantics of the dedup operators (the oracle-parity test covers
full-corpus value identity; these pin the edge cases and cap behavior)."""

import pytest
from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_empty_doc_is_zero(spark):
    d = _docs(spark, [(1, ""), (2, "   "), (3, "alpha beta gamma")])
    out = {r.doc_id: r.simhash for r in dedup.simhash_signatures(d).collect()}
    assert out[1] == 0
    assert out[2] == 0
    assert out[3] != 0


def test_simhash_identical_docs_pair_at_hamming_zero(spark):
    d = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different words entirely unrelated content here now"),
    ])
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in dedup.simhash_near_dups(d).collect()}
    assert pairs.get((1, 2)) == 0


def test_simhash_token_order_and_dup_invariant(spark):
    """SimHash is over the distinct token SET — order/multiplicity free."""
    d = _docs(spark, [
        (1, "alpha beta gamma delta"),
        (2, "delta gamma beta alpha alpha alpha"),
    ])
    out = {r.doc_id: r.simhash for r in dedup.simhash_signatures(d).collect()}
    assert out[1] == out[2]


def test_minhash_lsh_pairs_identical_docs(spark):
    """Banded LSH over the md5 permutations recovers the
    identical-document pair with est_jaccard 1.0 and nothing else."""
    base = "w%d " * 30
    rows = [
        (1, base % tuple(range(30))),
        (2, base % tuple(range(30))),
        (3, base % tuple(range(100, 130))),
    ]
    d = _docs(spark, rows)
    got = {(r.doc_a, r.doc_b): r.est_jaccard
           for r in dedup.minhash_lsh_pairs(d).collect()}
    assert got == {(1, 2): 1.0}


@pytest.mark.parametrize("pairs", [
    dedup.shingle_pairs, dedup.minhash_lsh_pairs, dedup.simhash_near_dups,
], ids=lambda f: f.__name__)
def test_hot_bucket_cap_drops_mega_buckets(spark, pairs):
    """Keys above max_bucket vanish entirely (broadcast anti-join), matching
    the groupBy-count oracle semantics — for each text family's own cap."""
    rows = [(i, "common shingle words repeated here") for i in range(10)]
    rows += [(100, "rare words only present once today")]
    d = _docs(spark, rows)
    # every shingle / band key of the common text appears 10x > cap 5
    assert pairs(d, max_bucket=5).count() == 0
    # with a generous cap the 10 identical docs pair up fully: C(10,2)
    assert pairs(d, max_bucket=64).count() == 45
    dedup.release_caches()


def test_exact_dedup_groups(spark):
    d = _docs(spark, [(1, "x"), (2, "x"), (3, "y")])
    got = {r.canonical_id: r.n_copies
           for r in dedup.exact_dedup_groups(d).collect()}
    assert got == {1: 2, 3: 1}


def test_sql_string_paths_handle_quotable_column_names(spark):
    """ADVICE regression: the JVM-parsed selectExpr formulations must
    backtick-quote interpolated identifiers, or column names with spaces/
    dots/hyphens fail or misparse."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 3 + str(i % 4))
         for i in range(12)],
        ["doc id", "the.text"])
    sigs = D.minhash_signatures(df, key="doc id", text_col="the.text")
    assert sigs.columns == ["doc id", "signature"]
    assert sigs.count() == 12
    sh = D.simhash_signatures(df, key="doc id", text_col="the.text")
    assert sh.count() == 12
    pairs = D.minhash_lsh_pairs(df, key="doc id", text_col="the.text")
    pairs.count()  # parses + runs
    D.release_caches()


def test_bpe_token_counts_engine_identity_adversarial(spark, tmp_path):
    """Engine-identity net for the true-BPE tier: adversarial whitespace
    (NBSP/NEL/thin-space INSIDE words — outside WS_CHARS, so they are word
    bytes, not separators), merge cascades, and multilingual codepoints
    must count identically in Spark and the DuckDB oracle."""
    import duckdb

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import contract
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        textstats,
    )

    rows = [
        (0, "the theatre is there"),          # cascading th/the merges
        (1, "a b c d e\x85f"),      # unicode WS inside words
        (2, "hello\x0bworld tab\there"),      # VT/tab are separators
        (3, "हिंदी में and ગુજરાતી pani"),      # multilingual codepoints
        (4, "  padded   runs   "),
        (5, "ing inging thethe"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "docs.parquet")
    df.coalesce(1).write.parquet(pq)

    got = {r.doc_id: (r.n_words, r.n_bpe_tokens)
           for r in textstats.bpe_token_counts(df).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT doc_id, text "
            f"FROM read_parquet('{pq}/*.parquet')")
    want = {r[0]: (r[1], r[2])
            for r in con.sql(contract._bpe_oracle_sql()).fetchall()}
    assert got == want


def test_contamination_flags_known_overlaps(spark):
    """Decontamination: docs embedding a benchmark n-gram are flagged; the
    count is the number of DISTINCT contaminated n-grams; short docs
    (< n words) and clean docs pass with zero."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string")
    w = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame([
        # contains benchmark 8-grams verbatim (prefix + shifted = 3 of them)
        (1, "the quick brown fox jumps over the lazy dog tonight extra"),
        (2, w),                              # clean
        (3, "too short"),                    # < 8 words: no shingles
        # one exact benchmark 8-gram inside other text
        (4, f"{w} quick brown fox jumps over the lazy dog {w}"),
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in
            dedup.contamination_flags(docs, bench, n=8).collect()}
    assert len(rows) == 4
    assert rows[1].contaminated and rows[1].n_contaminated == 3
    assert not rows[2].contaminated and rows[2].n_contaminated == 0
    assert not rows[3].contaminated and rows[3].n_contaminated == 0
    assert rows[4].contaminated and rows[4].n_contaminated == 1
    dedup.release_caches()


def test_paragraph_dedup_first_occurrence_wins(spark):
    """Cross-corpus paragraph dedup: duplicated paragraphs keep only their
    first (doc, position) occurrence; texts reassemble in order; the
    string-key (url) path picks identical winners to the integer path."""
    rows = [
        (1, "keep me\nSHARED FOOTER\nunique one"),
        (2, "SHARED FOOTER\nsecond doc text"),
        (3, "third doc\nSHARED FOOTER"),
        (4, "SHARED FOOTER"),          # everything dropped
        (5, "keep me too"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.paragraph_dedup(docs).collect()}
    assert got[1].clean_text == "keep me\nSHARED FOOTER\nunique one"
    assert got[2].clean_text == "second doc text"
    assert got[3].clean_text == "third doc"
    assert got[4].clean_text == "" and got[4].n_kept == 0 \
        and got[4].n_dropped == 1
    assert got[5].clean_text == "keep me too"
    assert got[1].n_dropped == 0 and got[2].n_dropped == 1

    # string-key path: urls ordered like the ids -> same winners
    sdocs = spark.createDataFrame(
        [(f"u{i}", t) for i, t in rows], "url string, text string")
    sgot = {r.url: r for r in
            dedup.paragraph_dedup(sdocs, key="url").collect()}
    for i, _ in rows:
        assert sgot[f"u{i}"].clean_text == got[i].clean_text
        assert sgot[f"u{i}"].n_dropped == got[i].n_dropped


def test_repetition_stats_gopher_signals(spark):
    """Gopher repetition signals: duplicate-line fraction and top-bigram
    character fraction with the deterministic (count, gram) tie-break."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import textstats

    docs = spark.createDataFrame([
        (1, "same line\nsame line\nsame line\nother line"),
        (2, "a b a b a b"),
        (3, "all words distinct here now"),
        (4, ""),
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.repetition_stats(docs).collect()}
    assert got[1].dup_line_frac == 0.5  # 2 distinct of 4 lines
    # "a b" occurs 3x (len 3) over 11 chars -> 9/11
    assert got[2].dup_line_frac == 0.0
    assert abs(got[2].top_bigram_char_frac - round(9 / 11, 4)) < 1e-9
    assert got[3].dup_line_frac == 0.0
    # every bigram occurs once -> tie-break picks the lexicographically
    # largest: "words distinct" (14 chars) over 27 chars of text
    assert abs(got[3].top_bigram_char_frac - round(14 / 27, 4)) < 1e-9
    assert got[4].dup_line_frac == 0.0
    assert got[4].top_bigram_char_frac == 0.0


def test_host_quota_sample_balances_hot_hosts(spark):
    """Host balancing: a giant host downsamples toward the quota, small
    hosts pass untouched, and the sample is deterministic across
    partitionings (exact-integer md5 accept test)."""
    rows = [(i, "big.example") for i in range(2000)] + \
           [(10_000 + i, "small.example") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    kept = dedup.host_quota_sample(docs, quota=50).collect()
    by_host = {}
    for r in kept:
        by_host.setdefault(r.source, set()).add(r.doc_id)
    assert len(by_host["small.example"]) == 5          # under quota: all kept
    n_big = len(by_host["big.example"])
    assert 25 <= n_big <= 90                           # ~quota, probabilistic
    # deterministic under redistribution
    kept2 = {r.doc_id for r in dedup.host_quota_sample(
        docs.repartition(13, "doc_id"), quota=50).collect()}
    assert kept2 == {r.doc_id for r in kept}


def test_paragraph_dedup_literal_separators(spark):
    """Review regressions: the separator is LITERAL — regex metachars and
    even a sep containing \\E must split/reassemble consistently
    (Pattern.quote semantics)."""
    for sep in (".", "||", "\\E."):
        text = sep.join(["alpha", "beta", "alpha"])
        docs = spark.createDataFrame(
            [(1, text), (2, "alpha")], "doc_id long, text string")
        got = {r.doc_id: r for r in
               dedup.paragraph_dedup(docs, sep=sep).collect()}
        assert got[1].clean_text == sep.join(["alpha", "beta"]), sep
        assert got[1].n_dropped == 1
        assert got[2].clean_text == ""  # duplicate of doc 1's winner


def test_paragraph_dedup_matches_python_reference_on_random_corpora(spark):
    """Property: on seeded random corpora (shared paragraph pool so
    collisions are dense), the distributed paragraph dedup equals a
    sequential first-occurrence reference."""
    import random

    rng = random.Random(0xA11CE)
    pool = [f"para {i} " + " ".join(
        rng.choices("aa bb cc dd ee".split(), k=3)) for i in range(12)]
    rows = []
    for d in range(40):
        n = rng.randint(0, 6)
        rows.append((d, "\n".join(rng.choice(pool) for _ in range(n))))

    seen: set[str] = set()
    expect = {}
    for d, text in rows:
        paras = text.split("\n")
        kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        expect[d] = ("\n".join(kept), len(kept), len(paras) - len(kept))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_kept, r.n_dropped)
           for r in dedup.paragraph_dedup(docs).collect()}
    assert got == expect


def test_host_quota_sample_matches_python_reference(spark):
    """Property: the md5-uniform accept test reproduces exactly in pure
    Python (the operator's determinism claim, independent of DuckDB)."""
    import hashlib
    import random

    rng = random.Random(0xB0B)
    rows = [(i, f"h{rng.randint(0, 4)}") for i in range(300)]
    counts: dict[str, int] = {}
    for _, h in rows:
        counts[h] = counts.get(h, 0) + 1
    quota = 20
    expect = {i for i, h in rows
              if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
              * counts[h] < quota * (1 << 32)}

    docs = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r.doc_id for r in
           dedup.host_quota_sample(docs, quota=quota).collect()}
    assert got == expect


def test_substring_dup_stats_windows_and_flags(spark):
    """ExactSubstr window stats: a doc sharing a long verbatim run with
    another doc gets dup windows; a doc shorter than the window gets
    (0, 0, 0.0, False); unique text stays clean; self-repetition inside
    one doc also counts (corpus-wide occurrence >= 2)."""
    shared = "S" * 100  # 100-char run shared verbatim by docs 1 and 2
    uniq1 = "".join(chr(ord("a") + (i % 26)) for i in range(80))
    docs = _docs(spark, [
        (1, shared + uniq1),
        (2, shared),
        (3, "short doc"),                       # < window chars
        (4, "z" + uniq1[:70] + "qqq"),          # unique-ish text
        (5, "R" * 40 * 4),                      # self-repeated char run
    ])
    out = {r.doc_id: r for r in
           dedup.substring_dup_stats(docs, window=64, stride=16).collect()}
    assert len(out) == 5
    # doc 3: below window size -> zero windows, not heavy
    assert out[3].n_windows == 0 and out[3].n_dup_windows == 0
    assert out[3].dup_window_frac == 0.0 and out[3].dup_heavy is False
    # doc 2 is entirely inside doc 1's prefix: every window duplicated
    assert out[2].n_windows == 3  # positions 1, 17, 33 (len 100, win 64)
    assert out[2].n_dup_windows == 3 and out[2].dup_heavy is True
    # doc 1: its all-'S' windows collide with doc 2's; mixed tail doesn't
    assert out[1].n_dup_windows >= 3
    assert 0 < out[1].n_dup_windows < out[1].n_windows
    # doc 4: no 64-char run occurs twice anywhere
    assert out[4].n_dup_windows == 0 and out[4].dup_heavy is False
    # doc 5: "RRR..." windows at every stride are identical to each other
    assert out[5].n_dup_windows == out[5].n_windows > 0
    assert out[5].dup_heavy is True


def test_substring_dup_stats_validates_params(spark):
    d = _docs(spark, [(1, "x" * 100)])
    with pytest.raises(ValueError):
        dedup.substring_dup_stats(d, window=0)
    with pytest.raises(ValueError):
        dedup.substring_dup_stats(d, stride=0)


def test_dedup_against_flags_seen_digests(spark):
    """Incremental dedup: docs whose TEXT matches any history digest are
    not novel — including docs that differ in id but share text with a
    seen doc; unmatched docs are novel."""
    seen_src = _docs(spark, [(100, "alpha beta"), (101, "gamma delta")])
    seen = seen_src.select(F.md5("text").alias("digest"))
    docs = _docs(spark, [
        (1, "alpha beta"),        # same text as history doc 100
        (2, "brand new text"),
        (3, "gamma delta"),       # same text as history doc 101
        (4, "alpha beta "),       # trailing space: different digest
    ])
    out = {r.doc_id: r.is_novel
           for r in dedup.dedup_against(docs, seen).collect()}
    assert out == {1: False, 2: True, 3: False, 4: True}
    # duplicated history digests must not fan out result rows
    dup_seen = seen.union(seen)
    assert dedup.dedup_against(docs, dup_seen).count() == 4


def test_url_blocklist_suffix_semantics(spark):
    """Blocklist: host OR any dot-suffix matches; deeper entries don't
    block shallower hosts; provenance = alphabetically-first match."""
    docs = spark.createDataFrame([
        (1, "https://a.b.Example.COM/x"),     # suffix example.com
        (2, "http://example.com:80/y"),       # exact (port stripped)
        (3, "https://example.org/"),          # NOT blocked (deeper entry)
        (4, "https://sub.blocked.example.org/z"),  # suffix match
        (5, "https://clean.net/ok"),
        (6, "https://news.example.com/a"),    # two entries match
    ], "doc_id long, url string")
    bl = ["example.com", "blocked.example.org", "news.example.com"]
    out = {r.doc_id: r for r in
           dedup.url_blocklist_flags(docs, bl).collect()}
    assert out[1].blocked and out[1].blocked_domain == "example.com"
    assert out[2].blocked and out[2].host == "example.com"
    assert not out[3].blocked and out[3].blocked_domain is None
    assert out[4].blocked and out[4].blocked_domain == "blocked.example.org"
    assert not out[5].blocked
    # both example.com and news.example.com match; min() is deterministic
    assert out[6].blocked and out[6].blocked_domain == "example.com"
    with pytest.raises(ValueError):
        dedup.url_blocklist_flags(docs, [])


def test_minhash_signature_engines_identical(spark):
    """r7 pin: the Arrow-batched minhash_signatures must emit
    byte-identical signatures to the native-expression reference
    _minhash_signatures_sql — including whitespace
    edges (tabs/newlines/vertical tab, leading separators, unicode
    words) and the fewer-than-n-words row-drop."""
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "\talpha  beta\ngamma\x0bdelta"),
        (3, "  one two  "),            # < 3 words after trim/split
        (4, ""),
        (5, None),
        (6, "अल्फा बीटा गामा अल्फा बीटा गामा"),
        (7, "a b c d e f g h i j k l m n o p"),
        (8, "a b c a b c a b c"),       # repeated shingles dedup
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sql_rows = sorted((r.doc_id, tuple(r.signature)) for r in
                      dedup._minhash_signatures_sql(d).collect())
    pd_rows = sorted((r.doc_id, tuple(r.signature)) for r in
                     dedup.minhash_signatures(d).collect())
    assert sql_rows == pd_rows
    assert {k for k, _ in sql_rows} == {1, 2, 6, 7, 8}


def test_shingle_stream_engines_identical(spark):
    """r7 pin: the Arrow-batched shingle digest stream must match the
    native-expression stream exactly — per-doc distinct digests, the
    fewer-than-n-words drop, and whitespace edges — for both the short
    (n=3) and long (n=8) chain regimes."""
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "\tx  y\nz\x0bw q r s t u"),
        (3, "one two"),
        (4, ""),
        (5, None),
        (6, "rep rep rep rep rep rep rep rep rep rep"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (3, 8):
        sql = sorted(tuple(r) for r in dedup._shingle_digest_stream_sql(
            d, "doc_id", "text", n).collect())
        arrow = sorted(tuple(r) for r in dedup._shingle_digest_stream_pandas(
            d, "doc_id", "text", n).collect())
        assert sql == arrow and sql, f"n={n}"


def test_operators_take_no_tier_dials():
    """Tiers are chosen from the input, never by the caller: no function
    in the dedup or similarity operator modules may grow an engine /
    pair_engine / hash_fn parameter again."""
    import inspect

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import similarity

    for mod in (dedup, similarity):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ != mod.__name__:
                continue
            params = set(inspect.signature(fn).parameters)
            assert not params & {"engine", "pair_engine", "hash_fn"}, \
                f"{mod.__name__}.{name}"
