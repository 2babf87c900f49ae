"""Round-6 training-data assembly operators: source mixture sampling,
deterministic splits, bigram-LM quality scoring, sequence packing.

Each operator's DuckDB oracle parity is covered by tests/test_oracle_parity
(q_mixture_sample / q_split_assign / q_bigram_lm_score / q_pack_sequences);
these tests pin the SEMANTICS against pure-Python references and the
operators' scale-shape invariants (partitioning independence, exactness)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
    packing,
    sampling,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.textstats import (
    bigram_logprob_score,
)


def _u32(key: int, salt: str) -> int:
    return int(hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:8], 16)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(3 + i % 9)),
         f"s{i % 4}")
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


class TestMixtureSample:
    def test_matches_python_reference(self, docs):
        weights = {"s0": 1, "s1": 2, "s2": 3, "s3": 4}
        got = {r.doc_id for r in
               sampling.mixture_sample(docs, weights).collect()}
        # pure-Python replay of the documented exact-integer semantics
        rows = [(r.doc_id, r.source, len(r.text.split())) for r in
                docs.collect()]
        lcm = math.lcm(*weights.values())
        tot = {}
        for _, s, n in rows:
            tot[s] = tot.get(s, 0) + n
        k = {s: tot[s] * (lcm // w) for s, w in weights.items()}
        kmin = min(k.values())
        want = {d for d, s, _ in rows
                if _u32(d, ":mix") * k[s] < kmin * (1 << 32)}
        assert got == want
        assert 0 < len(got) < docs.count()

    def test_token_shares_track_weights(self, docs):
        weights = {"s0": 1, "s1": 1, "s2": 4, "s3": 4}
        out = (
            sampling.mixture_sample(docs, weights)
            .groupBy("source").agg(F.sum("n_tokens").alias("t"))
            .collect()
        )
        t = {r.source: r.t for r in out}
        # post-sample token mass must be ~proportional to weights: the
        # weight-4 sources keep ~4x the weight-1 sources' tokens (exact
        # proportionality holds in expectation; 200 docs leaves sampling
        # noise, so assert a generous band around 4x)
        light = t["s0"] + t["s1"]
        heavy = t["s2"] + t["s3"]
        assert 2.0 < heavy / light < 8.0

    def test_unweighted_source_dropped_and_limiting_kept_whole(self, docs):
        weights = {"s0": 1, "s1": 1000}
        out = sampling.mixture_sample(docs, weights)
        srcs = {r.source for r in out.select("source").distinct().collect()}
        assert srcs <= {"s0", "s1"}
        # s1's enormous weight makes it the limiting source -> kept whole
        n_s1 = docs.filter(F.col("source") == "s1").count()
        assert out.filter(F.col("source") == "s1").count() == n_s1
        # while s0 is downsampled hard
        assert out.filter(F.col("source") == "s0").count() < n_s1 // 2

    def test_zero_token_source_cannot_empty_the_sample(self, spark):
        # a weighted source whose docs have no tokens must not set the
        # limiting ratio (k=0 would silently drop EVERYTHING); it keeps
        # its token-free docs and the others stay proportional
        df = spark.createDataFrame(
            [(i, "w x y z", "a") for i in range(50)]
            + [(100 + i, "", "b") for i in range(5)],
            "doc_id long, text string, source string")
        out = sampling.mixture_sample(df, {"a": 1, "b": 1})
        assert out.filter(F.col("source") == "a").count() == 50
        assert out.filter(F.col("source") == "b").count() == 5

    def test_rejects_bad_weights(self, docs):
        with pytest.raises(ValueError):
            sampling.mixture_sample(docs, {})
        with pytest.raises(ValueError):
            sampling.mixture_sample(docs, {"s0": 0})
        with pytest.raises(ValueError):
            sampling.mixture_sample(docs, {"s0": 1.5})

    def test_rejects_overflowing_multiplier(self, docs):
        # lcm/w beyond bigint must fail on the driver, not produce a
        # createDataFrame long-overflow deep in Spark
        with pytest.raises(ValueError, match="too coprime"):
            sampling.mixture_sample(docs, {"s0": 1, "s1": 2**63})

    def test_k_overflow_raises_not_drops(self, spark):
        # beyond the decimal(38,0) envelope the accept test must ERROR
        # (matching the oracle's HUGEINT overflow), never NULL-drop rows
        df = spark.createDataFrame([("s",)], "source string")
        over = F.lit(str(sampling._K_MAX + 1)).cast("decimal(38,0)")
        with pytest.raises(Exception, match="accept-test headroom"):
            df.select(sampling._guard_k(over)).collect()
        # a NULL k (an already-overflowed upstream multiply) raises too
        nul = F.lit(None).cast("decimal(38,0)")
        with pytest.raises(Exception, match="accept-test headroom"):
            df.select(sampling._guard_k(nul)).collect()
        # and the boundary value passes through untouched
        ok = F.lit(str(sampling._K_MAX)).cast("decimal(38,0)")
        got = df.select(sampling._guard_k(ok).alias("k")).first()
        assert int(got.k) == sampling._K_MAX


class TestAssignSplits:
    def test_matches_python_reference_and_partition_invariance(self, docs):
        out = {r.doc_id: r.split
               for r in sampling.assign_splits(docs).collect()}
        names = sorted(["test", "train", "val"])
        props = {"test": 1, "train": 18, "val": 1}
        for d in out:
            u = _u32(d, ":split") * 20
            cum = 0
            for nm in names:
                cum += props[nm]
                if u < cum * (1 << 32):
                    assert out[d] == nm
                    break
        out2 = {r.doc_id: r.split
                for r in sampling.assign_splits(
                    docs.repartition(7)).collect()}
        assert out == out2

    def test_proportions(self, spark):
        big = spark.range(5000).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("text"))
        out = sampling.assign_splits(big).groupBy("split").count().collect()
        frac = {r.split: r["count"] / 5000 for r in out}
        assert abs(frac["train"] - 0.9) < 0.03
        assert abs(frac["val"] - 0.05) < 0.02
        assert abs(frac["test"] - 0.05) < 0.02

    def test_split_stream_independent_of_mix_stream(self, docs):
        # the two samplers salt their hash streams differently; identical
        # streams would correlate held-out membership with mixture survival
        assert _u32(17, ":mix") != _u32(17, ":split")


class TestBigramLmScore:
    def test_matches_python_reference(self, spark):
        texts = ["the cat sat on the mat", "the cat sat", "xyzzy plugh",
                 "on the mat the cat", "single", ""]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        got = {r.doc_id: (r.n_bigrams, r.avg_nll, r.oov_frac)
               for r in bigram_logprob_score(df, top_k=3).collect()}
        # pure-Python replay
        bgs = {}
        for i, t in enumerate(texts):
            ws = t.split()
            bgs[i] = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        cnt = {}
        for gs in bgs.values():
            for g in gs:
                cnt[g] = cnt.get(g, 0) + 1
        n_tot, v = sum(cnt.values()), len(cnt)
        lm = dict(sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3])
        lp = {g: round(math.log((c + 1) / (n_tot + v)) * 1e6)
              for g, c in lm.items()}
        lp0 = round(math.log(1 / (n_tot + v)) * 1e6)
        for i, gs in bgs.items():
            if not gs:
                assert got[i] == (0, None, None)
                continue
            s = sum(lp.get(g, lp0) for g in gs)
            oov = sum(1 for g in gs if g not in lp)
            assert got[i][0] == len(gs)
            assert got[i][1] == pytest.approx(
                round(-s / (len(gs) * 1e6), 4), abs=1e-9)
            assert got[i][2] == pytest.approx(
                round(oov / len(gs), 4), abs=1e-9)

    def test_fluent_scores_below_garbled(self, spark):
        fluent = "the cat sat on the mat " * 10
        rare = " ".join(f"zq{i} xv{i}" for i in range(60))
        df = spark.createDataFrame(
            [(0, fluent), (1, rare)] + [(i, fluent) for i in range(2, 12)],
            "doc_id long, text string")
        out = {r.doc_id: r.avg_nll
               for r in bigram_logprob_score(df, top_k=10).collect()}
        assert out[0] < out[1]


class TestPackSequences:
    def _reference(self, rows, budget):
        # sequential concatenate-then-chop replay
        want, cum = {}, 0
        for d, n in sorted(rows):
            seq, off = divmod(cum, budget)
            spanned = 0 if n == 0 else (cum + n - 1) // budget - seq + 1
            want[d] = (n, seq, off, spanned)
            cum += n
        return want

    def test_matches_sequential_reference(self, spark):
        rows = [(i, f"{'tok ' * (i % 40)}") for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = packing.pack_sequences(df, budget=64, bucket_size=16)
        got = {r.doc_id: (r.n_tokens, r.seq_id, r.seq_offset,
                          r.n_seqs_spanned) for r in out.collect()}
        toks = {r.doc_id: r.n_tokens for r in out.collect()}
        assert got == self._reference(list(toks.items()), 64)

    def test_bucket_size_and_partitioning_invariance(self, spark):
        df = spark.createDataFrame(
            [(i, "w " * (1 + i % 13)) for i in range(500)],
            "doc_id long, text string")
        base = sorted(map(tuple, packing.pack_sequences(
            df, budget=100, bucket_size=7).collect()))
        for bs, parts in [(1, 3), (64, 11), (10_000, 2)]:
            other = sorted(map(tuple, packing.pack_sequences(
                df.repartition(parts), budget=100,
                bucket_size=bs).collect()))
            assert other == base

    def test_offsets_tile_the_token_stream(self, spark):
        # every window is filled exactly: doc k's (seq_id, seq_offset)
        # equals the position right after doc k-1's tokens
        df = spark.createDataFrame(
            [(i, "a b c d e f g"[: 2 * (1 + i % 7) - 1]) for i in range(64)],
            "doc_id long, text string")
        rows = sorted(map(tuple, packing.pack_sequences(
            df, budget=5, bucket_size=8).collect()))
        cum = 0
        for _, n, seq, off, _sp in rows:
            assert (seq, off) == divmod(cum, 5)
            cum += n

    def test_rejects_bad_params(self, spark):
        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            packing.pack_sequences(df, budget=0)
        with pytest.raises(ValueError):
            packing.pack_sequences(df, bucket_size=0)


class TestHashedNgramImportance:
    def test_target_like_docs_score_higher(self, spark):
        """DSIR semantics: docs sharing the target's n-gram profile get a
        higher avg log-ratio than off-distribution docs; empty docs get
        n_grams=0 and a NULL score."""
        tgt = spark.createDataFrame(
            [(100 + i, "clean prose about model training data quality")
             for i in range(4)],
            "doc_id long, text string")
        docs = spark.createDataFrame([
            (1, "clean prose about model training data quality"),
            (2, "zzqx vbnp qqwr kklm zzqx vbnp qqwr kklm"),
            (3, ""),
        ], "doc_id long, text string")
        out = {r.doc_id: r for r in sampling.hashed_ngram_importance(
            docs, tgt, num_buckets=4096).collect()}
        assert out[1].avg_log_ratio > out[2].avg_log_ratio
        assert out[1].avg_log_ratio > 0  # target-identical: looks on-dist
        assert out[3].n_grams == 0 and out[3].avg_log_ratio is None
        assert out[1].n_grams == 7 + 6  # unigrams + bigrams

    def test_matches_python_reference(self, spark):
        """Exact value check against a pure-Python replay of the bucketing,
        smoothing, and micro-nat arithmetic, at a bucket count small
        enough to force collisions."""
        texts = {i: f"w{i % 5} w{(i * 7) % 11} common token stream {i % 3}"
                 for i in range(30)}
        docs = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string")
        tgt_ids = [i for i in texts if i % 5 == 0]
        tgt = docs.filter(F.col("doc_id") % 5 == 0)
        B = 64

        def grams(t):
            ws = [w for w in t.strip().split() if w]
            return ws + [" ".join(ws[i:i + 2])
                         for i in range(len(ws) - 1)]

        def bucket(g):
            return _u32(g, ":dsir") % B

        raw = [bucket(g) for t in texts.values() for g in grams(t)]
        tg = [bucket(g) for i in tgt_ids for g in grams(texts[i])]
        cr = {b: raw.count(b) for b in set(raw)}
        ct = {b: tg.count(b) for b in set(tg)}
        NR, NT = len(raw), len(tg)
        lr = {b: (round(math.log((ct.get(b, 0) + 1) / (NT + B)) * 1e6)
                  - round(math.log((cr[b] + 1) / (NR + B)) * 1e6))
              for b in cr}
        expect = {}
        for i, t in texts.items():
            bs = [bucket(g) for g in grams(t)]
            s = sum(lr[b] for b in bs)
            expect[i] = (len(bs), round(s / (len(bs) * 1e6), 4))
        got = {r.doc_id: (r.n_grams, r.avg_log_ratio)
               for r in sampling.hashed_ngram_importance(
                   docs, tgt, num_buckets=B).collect()}
        assert got == expect

    def test_rejects_bad_bucket_count(self, spark):
        d = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            sampling.hashed_ngram_importance(d, d, num_buckets=0)


class TestWordNgrams:
    def test_matches_python_reference_various_n(self, spark):
        """word_ngrams == the obvious sequential n-gram list for n in
        1..4, including arrays shorter than n (-> []) and single-word
        docs."""
        from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.textstats import (
            WS_RUN,
            word_ngrams,
        )

        texts = ["a b c d e f", "one", "", "x y", "p q r s",
                 "  spaced   out   tokens  "]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        words_col = F.split(F.trim(F.col("text")), WS_RUN)
        for n in (1, 2, 3, 4):
            got = {r.doc_id: r.g for r in docs.select(
                "doc_id", word_ngrams(words_col, n).alias("g")).collect()}
            for i, t in enumerate(texts):
                ws = t.strip().split()
                if not t.strip():
                    ws = [""]  # split("") == [""], mirrored
                expect = [" ".join(ws[j:j + n])
                          for j in range(len(ws) - n + 1)]
                assert got[i] == expect, (n, t)


class TestHashedNgramImportanceXxhash:
    def test_scale_tier_preserves_semantics(self, spark):
        """The xxhash64 scale tier: buckets differ from md5, but the
        DSIR semantics hold — a target-identical doc scores positive and
        above an off-distribution doc; empty docs get NULL; results are
        partitioning-invariant."""
        tgt = spark.createDataFrame(
            [(100 + i, "clean prose about model training data quality")
             for i in range(4)],
            "doc_id long, text string")
        docs = spark.createDataFrame([
            (1, "clean prose about model training data quality"),
            (2, "zzqx vbnp qqwr kklm zzqx vbnp qqwr kklm"),
            (3, ""),
        ], "doc_id long, text string")
        out = {r.doc_id: r for r in sampling.hashed_ngram_importance(
            docs, tgt, num_buckets=4096, hash_fn="xxhash64").collect()}
        assert out[1].avg_log_ratio > 0 > out[2].avg_log_ratio
        assert out[3].n_grams == 0 and out[3].avg_log_ratio is None
        # same n_grams as the md5 tier (hash choice can't change counts)
        md5_out = {r.doc_id: r.n_grams
                   for r in sampling.hashed_ngram_importance(
                       docs, tgt, num_buckets=4096).collect()}
        assert {k: v.n_grams for k, v in out.items()} == md5_out
        rep = {r.doc_id: r.avg_log_ratio
               for r in sampling.hashed_ngram_importance(
                   docs.repartition(7), tgt, num_buckets=4096,
                   hash_fn="xxhash64").collect()}
        assert rep == {k: v.avg_log_ratio for k, v in out.items()}

    def test_rejects_unknown_hash_fn(self, spark):
        d = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="hash_fn"):
            sampling.hashed_ngram_importance(d, d, hash_fn="sha1")


class TestPerplexityBuckets:
    def test_terciles_and_null_bucket(self, spark):
        """Roughly a third of scoreable docs land in each bucket; docs
        with no bigrams get a NULL bucket; the sampled-threshold path
        still buckets EVERY doc."""
        from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.textstats import (
            perplexity_buckets,
        )

        # fluency gradient: more repeats of the corpus-dominant bigrams
        # -> lower avg_nll; the rare tail is OOV under the tiny LM
        rows = [(i, "the cat sat on the mat " * (1 + i % 5)
                 + f"rare{i} glyph{i * 7}")
                for i in range(30)]
        rows += [(100, ""), (101, "solo")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = perplexity_buckets(docs, top_k=8).collect()
        by, nll = {}, {}
        for r in out:
            by.setdefault(r.ppl_bucket, []).append(r.doc_id)
            nll[r.doc_id] = r.avg_nll
        assert set(by) == {"head", "middle", "tail", None}
        assert sorted(by[None]) == [100, 101]
        # bucket ordering: head is the most fluent (lowest nll) tier
        assert max(nll[d] for d in by["head"]) \
            <= min(nll[d] for d in by["middle"])
        assert max(nll[d] for d in by["middle"]) \
            <= min(nll[d] for d in by["tail"])
        # sampled thresholds: all docs still bucketed, same columns
        samp = perplexity_buckets(docs, top_k=64, sample_rate=0.5)
        assert samp.count() == 32
        with pytest.raises(ValueError):
            perplexity_buckets(docs, sample_rate=0.0)


class TestC4LineFilter:
    def test_every_predicate_fires(self, spark):
        from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.textstats import (
            c4_line_filter,
        )

        docs = spark.createDataFrame([
            (1, 'Good first sentence with plenty of words here.\n'
                'short one.\n'
                'This javascript line is long enough but still banned.\n'
                'A second proper sentence ends with a question mark?\n'
                'And a third proper sentence closes the page!'),
            (2, 'no punctuation so this line is dropped\n'
                'Tiny.\nAlso tiny.'),
            (3, 'One good sentence that would normally be kept here.\n'
                'Second good sentence also fine and long enough.\n'
                'Third good sentence mentions lorem ipsum sadly today.'),
            (4, 'Braces are a code smell { see } in prose pages.\n'
                'Second good sentence also fine and long enough.\n'
                'Third proper sentence closes the page for sure.'),
        ], "doc_id long, text string")
        out = {r.doc_id: r for r in c4_line_filter(docs).collect()}
        assert out[1].n_lines_kept == 3 and out[1].page_kept
        assert "javascript" not in out[1].clean_text
        assert "short one." not in out[1].clean_text
        assert out[2].n_lines_kept == 0 and not out[2].page_kept
        assert out[2].clean_text == ""
        # lorem ipsum: lines all keepable but the PAGE is dropped
        assert out[3].n_lines_kept == 3 and not out[3].page_kept
        # brace page: dropped even though enough lines survive
        assert not out[4].page_kept
        # relaxed punct mode keeps doc 2's first line
        relaxed = {r.doc_id: r for r in c4_line_filter(
            docs, require_terminal_punct=False).collect()}
        assert relaxed[2].n_lines_kept == 1


class TestNgramRepetitionFracs:
    def test_known_values_and_index_lambda_guard(self, spark):
        """Exact fracs on a hand-computed doc, plus the n-tag regression:
        the n column must be the GRAM SIZE, never the element index
        (F.transform feeds 2-arg lambdas the index)."""
        from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.textstats import (
            ngram_repetition_fracs,
        )

        d = spark.createDataFrame([
            (1, "spam spam spam spam spam"),   # len 24
            (2, ""),
        ], "doc_id long, text string")
        out = {r.doc_id: r for r in ngram_repetition_fracs(d).collect()}
        # top 2-gram "spam spam": c=4, len 9 -> 36/24
        assert out[1].top_2gram_char_frac == 1.5
        # top 3-gram: c=3, len 14 -> 42/24
        assert out[1].top_3gram_char_frac == 1.75
        # top 4-gram: c=2, len 19 -> 38/24
        assert out[1].top_4gram_char_frac == round(38 / 24, 4)
        assert out[2].top_2gram_char_frac == 0.0
