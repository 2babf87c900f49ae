"""Property-based tests (hypothesis) for the golden extraction core —
the fuzzing the reference never had (SURVEY §5.1: no property tests there).

Key invariants: the tokenizer/extractor NEVER raises on arbitrary bytes
(failure containment, executable.py:383-407), node accounting is consistent,
rounding matches Spark semantics."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import golden


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_extract_page_never_raises(data):
    r = golden.extract_page("u", data)
    assert r["status"] in ("success", "failed")
    assert isinstance(r["body_text"], str)
    if r["body_text"]:
        assert r["n_blocks_kept"] > 0


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=string.printable + "é中ह", max_size=2048))
def test_tokenizer_invariants(doc):
    p = golden.tokenize_html(doc)
    offs = [n["char_off"] for n in p.nodes]
    assert offs == sorted(offs)
    for n in p.nodes:
        assert n["n_chars"] == len(n["text"]) > 0
        assert n["text"] == " ".join(n["text"].split())  # normalized
        assert 0 <= n["n_link_chars"]


@settings(max_examples=300, deadline=None)
@given(st.floats(min_value=0, max_value=1, allow_nan=False))
def test_round4_matches_spark_half_up(x):
    from decimal import ROUND_HALF_UP, Decimal

    got = golden.round4(x)
    exp = float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                          rounding=ROUND_HALF_UP))
    assert got == exp
    assert abs(got - x) <= 0.00005 + 1e-12


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from(["p", "div", "li", "nav", "footer"]),
                min_size=1, max_size=12),
       st.integers(min_value=0, max_value=6))
def test_body_assembly_separator_discipline(tags, seed):
    html = "".join(
        f"<{t}>chunk {i} with enough deterministic characters to keep</{t}>"
        for i, t in enumerate(tags)
    ).encode()
    r = golden.extract_page("u", html)
    body = r["body_text"]
    assert not body.startswith("\n") and not body.endswith("\n")
    assert "\n\n" not in body
    if body:
        assert r["body_span_len"] == len(body)


@given(st.text(alphabet=st.characters(
    codec="utf-8", categories=("L", "N", "P", "Z")), max_size=120))
@settings(max_examples=200, deadline=None)
def test_ml_pattern_banks_never_raise(s):
    """The multilingual byline/date banks must be total over arbitrary
    mixed-script text (fuzz incl. Devanagari/Gujarati codepoints)."""
    import re as _re

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import golden

    m = golden._BYLINE_ML_RE.match(s)
    if m:
        assert isinstance(golden._valid_byline(m.group(1)), bool)
    d = golden._parse_date_any(s)
    if d is not None:
        assert _re.fullmatch(r"\d{4}-\d{2}-\d{2}", d)
        y = int(d[:4])
        assert 1990 <= y <= 2030


def test_bpe_pretoken_pattern_is_engine_identical(spark):
    """The BPE-ish pretokenizer pattern must count identically under Java
    regex (Spark) and RE2 (DuckDB oracle) — adversarial inputs: contractions,
    Indic script, digit runs, punctuation runs, NBSP, empty-ish strings."""
    import duckdb

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        textstats,
    )

    samples = [
        "it's we're I'll they've don't y'all",
        "hello world  multiple   spaces",
        "टोकन गिनती हिंदी में 123 दिन",
        "abc123def!!! ??? [bracketed] (parens)",
        "real nbsp and\ttab",     # NBSP: non-space in BOTH engines
        "!\x0b!",                       # VT: Java \s has it, RE2 \s does NOT
        "a \x0b. b",                    # — the explicit class must agree
        "x",
        "   ",
        "2024-01-02 3.14159 1,000,000",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "doc_id long, text string")
    got = {r.doc_id: r.n
           for r in df.select("doc_id", textstats.bpe_token_count_col(
               df.text).alias("n")).collect()}
    con = duckdb.connect()
    pat = textstats.BPE_PRETOKEN_PATTERN.replace("'", "''")
    for i, s in enumerate(samples):
        n = con.execute(
            f"SELECT len(regexp_extract_all(?, '{pat}'))", [s]).fetchone()[0]
        assert got[i] == n, (i, s, got[i], n)
