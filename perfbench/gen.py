"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed stages
byte-identical parquet files, a different seed stages different ones.
Sizes are drawn from fixed grids and only their ORDER and the text
content depend on the seed, so every seed asks for the same amount of
work — the run-to-run spread then measures the system, not the draw.

Documents follow the profile of the contract suite's sf0.1 documents
table (5000 rows), measured by `profile_docs.py` and held in PROFILE
below: a 31-word vocabulary used uniformly (the marker word "dup" only in
near copies), 10-99 words per document, uniform; 5% near copies (an
earlier document's text plus " dup"); 8 exact copies in 5000; its lang
shares. As bench/gen_sf1.py replicates that table, every block of
PROFILE["docs"] documents gets a fresh vocabulary (the measured words with
a block suffix), so near-duplicates stay inside a block and the
per-document near-duplicate density does not grow with the corpus.

Two mixes are not in the measured table and are this benchmark's own
design (the measured table has one document per page and 20 sources of
250 documents each):
  - pages (extract_commit): a heavy-tailed share of pages renders several
    consecutive documents into one page (DOCS_PER_PAGE), so per-byte parse
    cost and byte skew show, not only per-row overhead;
  - sources (curate_corpus): three big hosts hold BIG_SOURCES of the
    documents and the rest sit on hosts of 1-8 documents, so the curate
    quota of 10 thins only the big hosts and the later stages still see
    most of the corpus.

Inputs:
  - pages (extract_commit, ingest_incremental): datagen-rendered pages
    over a documents table whose doc ids are shifted by a seed-dependent
    multiple of datagen's flavor/host period, so the clean/soup/ml/pdf/empty
    mix and datagen's host skew are identical for every seed;
  - documents (curate_corpus): the documents table itself, with the
    heavy-tailed sources.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (
    datagen,
)

# lcm(97, 11, 13, 17, 100): datagen's flavor and host rules repeat with
# this doc-id period, so a shift by a multiple of it keeps both mixes
FLAVOR_PERIOD = 23_580_700
SHIFT_SLOTS = 64  # seed -> one of 64 doc-id shifts

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])

# measured from the contract suite's sf0.1 documents table by
# `python3 perfbench/profile_docs.py <documents.parquet>`
PROFILE = {
    "docs": 5000,
    "vocab": ["a", "agg", "batch", "big", "column", "customer", "data",
              "fast", "filter", "group", "hash", "join", "key", "line",
              "merge", "order", "part", "query", "row", "scan", "slow",
              "small", "sort", "spark", "stream", "table", "the", "value",
              "vector", "window"],
    "near_marker": "dup",
    "words": (10, 99),
    "near_share": 0.05,
    "exact_share": 0.0016,
    "langs": {"en": 0.4118, "zh": 0.1506, "es": 0.1488, "fr": 0.1484,
              "de": 0.1404},
}

# this benchmark's mixes (see the module docstring)
# documents rendered into one page: (share of pages, fewest, most)
DOCS_PER_PAGE = [(0.80, 1, 1), (0.12, 2, 3), (0.06, 4, 8), (0.02, 10, 24)]
BIG_SOURCES = [0.10, 0.07, 0.04]  # shares of the corpus; the rest is small
SMALL_SOURCE_DOCS = (1, 8)
PAGE_MINUTES = 3  # crawl-time step between consecutive pages


def rng_for(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    return np.random.default_rng([int(seed), int(stream)])


def doc_id_base(seed: int) -> int:
    return (int(seed) % SHIFT_SLOTS) * FLAVOR_PERIOD


def grid(n: int, bands: list[tuple[float, int, int]],
         rng: np.random.Generator) -> np.ndarray:
    """n integers where each band (share, lo, hi) holds a fixed count of
    values spread evenly over [lo, hi]; the seed only permutes them."""
    counts = [int(round(share * n)) for share, _, _ in bands]
    counts[-1] = n - sum(counts[:-1])
    vals = np.concatenate([
        np.rint(np.linspace(lo, hi, c)).astype(np.int64)
        for c, (_, lo, hi) in zip(counts, bands)
    ])
    return rng.permutation(vals)


def shares(n: int, table: dict[str, float],
           rng: np.random.Generator) -> list[str]:
    """n labels holding fixed counts in `table`'s shares; the seed only
    permutes them."""
    keys = list(table)
    counts = [int(round(table[k] * n)) for k in keys]
    counts[-1] = n - sum(counts[:-1])
    labels = [k for k, c in zip(keys, counts) for _ in range(c)]
    return [labels[i] for i in rng.permutation(n)]


def documents(seed: int, stream: int, n: int) -> tuple[list[str], list[str]]:
    """(texts, langs) of n documents with the measured PROFILE, in blocks
    of PROFILE["docs"]; block b > 0 uses the vocabulary suffixed "r<b>"."""
    rng = rng_for(seed, stream)
    block = PROFILE["docs"]
    near, exact = PROFILE["near_share"], PROFILE["exact_share"]
    texts: list[str] = []
    for blk in range(0, n, block):
        m = min(block, n - blk)
        b = blk // block
        vocab = [w + (f"r{b}" if b else "") for w in PROFILE["vocab"]]
        n_words = grid(m, [(1.0, *PROFILE["words"])], rng)
        kinds = grid(m, [(near, 1, 1), (exact, 2, 2),
                         (1.0 - near - exact, 0, 0)], rng)
        fresh: dict[int, list[int]] = {}  # word count -> fresh documents
        for i in range(m):
            want = int(n_words[i])
            if kinds[i] and fresh:
                # copy a fresh document, never a copy, so clusters stay
                # stars; of the length nearest this slot's, so the amount
                # of text does not depend on the seed
                near_len = min(fresh, key=lambda k: (abs(k - want), k))
                cands = fresh[near_len]
                src = texts[blk + cands[int(rng.integers(0, len(cands)))]]
                texts.append(src + " " + PROFILE["near_marker"]
                             if kinds[i] == 1 else src)
            else:
                fresh.setdefault(want, []).append(i)
                idx = rng.integers(0, len(vocab), size=want)
                texts.append(" ".join(vocab[j] for j in idx))
    return texts, shares(n, PROFILE["langs"], rng)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _page_columns(seed: int, texts: list[str], langs: list[str],
                  times: list[_dt.datetime]) -> dict[str, list]:
    """datagen pages for page i = doc id doc_id_base(seed) + i."""
    base = doc_id_base(seed)
    return {
        "url": [datagen.url_for(base + i) for i in range(len(texts))],
        "warc_ts": times,
        "html": [datagen.render_page(base + i, t, lg)
                 for i, (t, lg) in enumerate(zip(texts, langs))],
        "text": texts,
        "lang": langs,
    }


# -- extract_commit --------------------------------------------------------

def pages_table(seed: int, n_pages: int) -> pa.Table:
    """Page i renders the next DOCS_PER_PAGE[...] consecutive documents;
    its lang is its first document's."""
    rng = rng_for(seed, 1)
    per_page = grid(n_pages, DOCS_PER_PAGE, rng)
    texts, langs = documents(seed, 2, int(per_page.sum()))
    ends = np.cumsum(per_page).tolist()
    starts = [0] + ends[:-1]
    # crawl time from the page index, not the doc id: every seed spans the
    # same crawl days (three day partitions)
    times = [datagen.EPOCH_TS + _dt.timedelta(minutes=PAGE_MINUTES * i)
             for i in range(n_pages)]
    return pa.table(_page_columns(
        seed, [" ".join(texts[a:b]) for a, b in zip(starts, ends)],
        [langs[a] for a in starts], times), schema=PAGES_SCHEMA)


def stage_pages(seed: int, n_pages: int, path: str) -> pa.Table:
    t = pages_table(seed, n_pages)
    _write(t, path)
    return t


# -- ingest_incremental ----------------------------------------------------

BATCHES_PER_DAY = 4


def batch_day(batch: int) -> str:
    return (datagen.EPOCH_TS.date()
            + _dt.timedelta(days=batch // BATCHES_PER_DAY)).isoformat()


def page_batches(seed: int, n_batches: int,
                 pages_per_batch: int) -> list[pa.Table]:
    """Small batches of one-document pages; batch b's pages all carry crawl
    day `batch_day(b)`, so day partitions fill up over the run."""
    n = n_batches * pages_per_batch
    texts, langs = documents(seed, 3, n)
    times = [_dt.datetime.combine(
                 _dt.date.fromisoformat(batch_day(i // pages_per_batch)),
                 _dt.time()) + _dt.timedelta(minutes=i % 1440)
             for i in range(n)]
    cols = _page_columns(seed, texts, langs, times)
    table = pa.table(cols, schema=PAGES_SCHEMA)
    return [table.slice(b * pages_per_batch, pages_per_batch)
            for b in range(n_batches)]


def stage_batches(seed: int, n_batches: int, pages_per_batch: int,
                  path_for) -> list[pa.Table]:
    batches = page_batches(seed, n_batches, pages_per_batch)
    for b, t in enumerate(batches):
        _write(t, path_for(b))
    return batches


# -- curate_corpus ---------------------------------------------------------

def _sources(rng: np.random.Generator, n: int) -> list[str]:
    """Three big hosts holding BIG_SOURCES of the docs, the rest spread
    over many hosts of SMALL_SOURCE_DOCS docs; the seed permutes them."""
    names: list[str] = []
    for h, share in enumerate(BIG_SOURCES):
        names += [f"big{h}.example.org"] * int(round(share * n))
    lo, hi = SMALL_SOURCE_DOCS
    h = 0
    while len(names) < n:
        size = lo + h % (hi - lo + 1)
        names += [f"site{h}.example.net"] * min(size, n - len(names))
        h += 1
    return [names[i] for i in rng.permutation(n)]


def documents_table(seed: int, n_docs: int) -> pa.Table:
    texts, langs = documents(seed, 4, n_docs)
    base = doc_id_base(seed)
    return pa.table({
        "doc_id": [base + i for i in range(n_docs)],
        "text": texts,
        "lang": langs,
        "source": _sources(rng_for(seed, 5), n_docs),
        "n_chars": [len(t) for t in texts],
    }, schema=DOCS_SCHEMA)


def stage_documents(seed: int, n_docs: int, path: str) -> pa.Table:
    t = documents_table(seed, n_docs)
    _write(t, path)
    return t
