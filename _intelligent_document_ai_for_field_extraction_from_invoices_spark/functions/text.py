"""Scalar text functions (SURVEY §2.7), native expressions only.

Reference parity:
  - PII redaction chains            (P2,  normalizer.py:117-127, 210-231)
  - URL canonicalization for exact-URL dedup, with its DuckDB oracle SQL
    generated from the same step table
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# P2 — PII redaction: chained regexp_replace, fully native
# ---------------------------------------------------------------------------

# \s spelled explicitly ([ \t\n\f\r\x0B]): the oracle engine (RE2) excludes
# vertical tab from \s while Java includes it — the same VT pin as the
# tokenizer splits (operators/textstats.WS_CHARS)
_WS = r" \t\n\f\r\x0B"
PII_PATTERNS = [  # specific before generic: the phone regex is greedy
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{2}[A-Z]{5}\d{4}[A-Z][A-Z\d]Z[A-Z\d]\b", "[GST]"),
    (r"\b[A-Z]{5}\d{4}[A-Z]\b", "[PAN]"),
    (rf"\b\d{{4}}[{_WS}]\d{{4}}[{_WS}]\d{{4}}\b", "[ID]"),
    (rf"\+?\d[\d{_WS}()-]{{8,}}\d", "[PHONE]"),
]


def redact_pii(col: Column) -> Column:
    out = col
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


# ---------------------------------------------------------------------------
# URL canonicalization — web-pipeline dedup primitive. One step table drives
# BOTH the Spark column chain and the DuckDB oracle SQL, so the two can never
# drift. Patterns are RE2-compatible (no lookaheads — DuckDB is RE2) and
# replacements carry groups as \N (rewritten to $N for Spark/Java).
# ---------------------------------------------------------------------------

_URL_PREFIX = r"(?i)^(https?://[^/?#]*)"

# (pattern, replacement-with-\N-groups) applied in order. The tracking-param
# pattern is anchored to a preceding ?/& (kept via \1) so it can never eat a
# param whose NAME merely contains a tracking name ('myfbclid=') or a path
# segment that happens to contain 'utm_...' (no & terminator there).
_CANON_STEPS = [
    (r"#.*$", ""),                                           # drop fragment
    (r"([?&])(?:utm_[a-z]+|fbclid|gclid|mc_cid|mc_eid)=[^&#]*", r"\1"),
    (r"&&+", "&"),                                           # tidy separators
    (r"\?&", "?"),
    (r"[?&]+$", ""),
    (r"^(http://[^/?#:]*):80([/?#].*)?$", r"\1\2"),          # default ports
    (r"^(https://[^/?#:]*):443([/?#].*)?$", r"\1\2"),
    (r"^(https?://[^/?#]*)/$", r"\1"),                       # bare root slash
]


def canonical_url(col: Column) -> Column:
    """Canonical form for exact-URL dedup: drop fragment, strip tracking
    params and tidy ?/&, lowercase scheme+host, drop default ports, drop a
    bare root trailing slash. Chained native regexp_replace; the ANSI oracle
    is generated from the same `_CANON_STEPS` (see canonical_url_sql)."""
    u = col
    for i, (pat, repl) in enumerate(_CANON_STEPS):
        if i == 5:  # lowercase scheme+host before the port/slash steps
            u = F.concat(F.lower(F.regexp_extract(u, _URL_PREFIX, 1)),
                         F.regexp_replace(u, _URL_PREFIX, ""))
        u = F.regexp_replace(u, pat, re.sub(r"\\(\d)", r"$\1", repl))
    return u


def canonical_url_sql(expr: str) -> str:
    """DuckDB expression equivalent to canonical_url(col), generated from
    the same step table ('g' flag: DuckDB replaces first match only by
    default, Spark replaces all)."""
    u = expr
    for i, (pat, repl) in enumerate(_CANON_STEPS):
        if i == 5:
            p = _URL_PREFIX.replace("'", "''")
            u = (f"lower(regexp_extract({u}, '{p}', 1)) || "
                 f"regexp_replace({u}, '{p}', '')")
        sp = pat.replace("'", "''")
        sr = repl.replace("'", "''")
        u = f"regexp_replace({u}, '{sp}', '{sr}', 'g')"
    return u
