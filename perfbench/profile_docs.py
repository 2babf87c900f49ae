"""Measure the documents profile that gen.PROFILE holds.

    python3 perfbench/profile_docs.py <documents.parquet> [marker]

Reads a documents table (doc_id, text, lang, ...) such as the contract
suite's sf0.1 `documents.parquet` and prints, as JSON: its row count, its
vocabulary (without the near-copy marker word), the fewest and most words
of a document without the marker, the share of documents holding the
marker (near copies), the share of exact duplicate texts and the lang
shares.
"""

from __future__ import annotations

import collections
import json
import sys

import pyarrow.parquet as pq


def profile(path: str, marker: str = "dup") -> dict:
    t = pq.read_table(path, columns=["text", "lang"]).to_pydict()
    texts, n = t["text"], len(t["text"])
    toks = [s.split() for s in texts]
    plain = [len(w) for w in toks if marker not in w]
    langs = collections.Counter(t["lang"])
    return {
        "docs": n,
        "vocab": sorted({w for ws in toks for w in ws} - {marker}),
        "near_marker": marker,
        "words": (min(plain), max(plain)),
        "near_share": round(sum(marker in w for w in toks) / n, 4),
        "exact_share": round((n - len(set(texts))) / n, 4),
        "langs": {k: round(c / n, 4) for k, c in langs.most_common()},
    }


if __name__ == "__main__":
    print(json.dumps(profile(*sys.argv[1:3]), indent=1))
