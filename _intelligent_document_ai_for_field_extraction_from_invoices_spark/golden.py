"""Golden extraction core — the single source of truth for byte-identity.

Pure-Python, dependency-free (stdlib only). The Spark pipeline calls these
exact functions inside Arrow-batched UDFs; pytest asserts that the distributed
output is byte-identical to a sequential driver-side loop over the same
functions (BASELINE.json: "byte-identical extracted text per url").

Semantics re-expressed from the reference invoice pipeline, retargeted to
webtext (see SURVEY.md §2):
  - OCR token stream       -> DOM node stream      (ref: ocr.py:219-312)
  - block normalization    -> whitespace collapse   (ref: normalizer.py:153-208)
  - regex field extractors -> title/byline/date     (ref: extractor.py:72-119)
  - candidate argmax, first-wins ties               (ref: extractor.py:310-312)
  - validity predicates (len/digit-ratio/case)      (ref: extractor.py:331-352)
  - confidence clipping to [0.30, 0.98]             (ref: validator.py:418-422)
  - weighted overall confidence over present fields (ref: extractor.py:588-605)
  - per-doc failure containment -> status/error     (ref: executable.py:374-407)
  - PDF payload routed through a layout-parse branch (ref: ocr.py:420-487)

Everything here must stay deterministic: fixed tie-breaks, fixed rounding
(4 dp at candidate creation), no wall-clock, no randomness.
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal


def round4(x: float) -> float:
    """Round to 4 decimals half-away-from-zero on the shortest decimal
    representation —
    matches Spark's F.round (Java BigDecimal HALF_UP), NOT Python's banker's
    round(). Scores feed keep/argmax decisions, so golden and the native
    relational twin must round identically.

    Fast path: plain floor arithmetic, exact whenever the scaled value is
    not within 1e-6 of a .5 tie (float error here is ~1e-12 relative); only
    near-ties pay for the Decimal shortest-repr computation."""
    if 0.0 <= x < 1e9:
        f = x * 10000.0
        frac = f - int(f)
        if not (0.499999 < frac < 0.500001):
            return int(f + 0.5) / 10000.0
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                           rounding=ROUND_HALF_UP))

# ---------------------------------------------------------------------------
# Constants (all thresholds fixed; mirror reference semantics cited above)
# ---------------------------------------------------------------------------

MAX_HTML_BYTES = 2_000_000  # oversize guard -> status='failed' (skew defeat)

# Inline tags never open a text block (text attaches to block-level ancestor).
INLINE_TAGS = frozenset(
    "a abbr b bdi bdo br cite code data dfn em i kbd mark q rp rt ruby s samp "
    "small span strong sub sup time u var wbr img svg button input label "
    "select textarea picture source audio video font".split()
)
VOID_TAGS = frozenset(
    "br hr img input meta link source wbr area base col embed track param".split()
)
SKIP_TAGS = frozenset(["script", "style", "noscript", "template"])
# Opening one of these while the same tag is the innermost open block closes it
# (HTML5-ish recovery for tag soup; deterministic).
AUTOCLOSE_TAGS = frozenset(["p", "li"])

# Site-chrome containers: everything inside is boilerplate (ref detector-class
# thresholds retargeted to block classification, detector.py:239-244).
BOILER_TAGS = frozenset(["nav", "footer", "aside", "header"])
BOILER_RE = re.compile(
    r"(?:^|[\s_-])(?:nav|navbar|footer|sidebar|side-bar|comment|comments|menu|"
    r"share|social|related|breadcrumb|ads?|advert|banner|cookie|subscribe|"
    r"promo|widget|popup|masthead)(?:$|[\s_-])",
    re.IGNORECASE,
)
# Metadata blocks: excluded from body but scanned for byline/date candidates
# (analogue of section-window scoping, extractor.py:564-570).
META_BLOCK_RE = re.compile(
    r"(?:^|[\s_-])(?:byline|author|meta|dateline|date|posted|timestamp|"
    r"published)(?:$|[\s_-])",
    re.IGNORECASE,
)

# Body keep-rule thresholds (block classifier, SURVEY §2.8 M3).
BODY_TAGS = frozenset(
    "p pre blockquote li figcaption td th dd dt div section article main "
    "center body".split()
)
MIN_BODY_CHARS = 20
MIN_BODY_SCORE = 0.2
MAX_LINK_DENSITY_NUM = 1  # keep iff 3*n_link_chars <= n_chars  (link density <= 1/3)

_TAG_BASE_SCORE = {
    "p": 0.9,
    "pre": 0.85,
    "blockquote": 0.85,
    "figcaption": 0.6,
    "li": 0.6,
    "dd": 0.6,
    "dt": 0.55,
    "td": 0.55,
    "th": 0.55,
    "div": 0.7,
    "section": 0.7,
    "article": 0.7,
    "main": 0.7,
    "center": 0.7,
    "body": 0.7,
}

# Field weights for overall confidence (ref extractor.py:22-29 — dealer .20 /
# model .25 / hp .20 / cost .25 / sig .05 / stamp .05 — retargeted to 4 fields).
FIELD_WEIGHTS = {"title": 0.25, "byline": 0.15, "pub_date": 0.15, "body": 0.45}
CONF_MIN, CONF_MAX = 0.30, 0.98  # clipping (ref validator.py:418-422)

_MONTHS = {
    m: i + 1
    for i, m in enumerate(
        "january february march april may june july august september october "
        "november december".split()
    )
}

# Shared-pattern discipline: the extractor pattern STRINGS below are reused
# VERBATIM by the native relational twin (operators/nodes.py regexp_extract,
# Java regex) — so they are pinned to ASCII semantics. Python's \d/\s/\w/\b
# are Unicode-aware (\d matches Devanagari १५ and int() parses it!) while
# Java/RE2 default to ASCII: a shared '\d' silently compiles to two
# different character classes. [0-9], the explicit whitespace class, and
# ASCII lookarounds mean both engines compile the identical automaton.
_WS = r" \t\n\r\f\x0B"  # Java \s == this set; Python \s is a superset
_AW = "A-Za-z0-9_"      # Java \w == this set

# Byline patterns (ref dealer-name extractors F1, extractor.py:72-89; the
# Hindi/Gujarati bank mirrors the ref's multilingual labels, extractor.py:87
# 'डीलर|ડીલર|विक्रेता' — retargeted to byline labels 'द्वारा' / 'લેખક').
_BYLINE_TEXT_RE = re.compile(
    rf"^[Bb]y[:{_WS}][{_WS}]*([A-Z][{_AW}.'’-]*(?:[{_WS}]+[A-Z][{_AW}.'’-]*){{0,3}})"
)
_INDIC = "ऀ-ॿ઀-૿"  # Devanagari + Gujarati blocks
_BYLINE_ML_RE = re.compile(
    rf"^(?:द्वारा|લેખક)[:{_WS}][{_WS}]*([{_INDIC}][{_INDIC}.'’-]*"
    rf"(?:[{_WS}]+[{_INDIC}][{_INDIC}.'’-]*){{0,3}})"
)
_BYLINE_REJECT = frozenset(
    ["the", "our", "all", "more", "news", "staff", "admin", "editor team"]
)

# Date patterns (ref HP extractors F3 retargeted to dates, extractor.py:102-109;
# ML bank mirrors the ref's Hindi/Gujarati pattern row, extractor.py:106-107).
# \b replaced with ASCII lookarounds: Python \b is Unicode-word-aware, Java
# \b is ASCII — '12024-01-02' or 'क2024-…' would otherwise extract in one
# engine and not the other.
_DATE_ISO_RE = re.compile(
    rf"(?<![{_AW}])([0-9]{{4}})-([0-9]{{2}})-([0-9]{{2}})(?![{_AW}])"
)
_DATE_TEXT_RE = re.compile(
    rf"(?<![{_AW}])(January|February|March|April|May|June|July|August|"
    rf"September|October|"
    rf"November|December)[{_WS}]+([0-9]{{1,2}}),?[{_WS}]+([0-9]{{4}})(?![{_AW}])"
)
MONTHS_HI = ("जनवरी फरवरी मार्च अप्रैल मई जून जुलाई अगस्त सितंबर अक्टूबर "
             "नवंबर दिसंबर").split()
MONTHS_GU = ("જાન્યુઆરી ફેબ્રુઆરી માર્ચ એપ્રિલ મે જૂન જુલાઈ ઑગસ્ટ સપ્ટેમ્બર "
             "ઑક્ટોબર નવેમ્બર ડિસેમ્બર").split()
_MONTHS_ML = {m: i + 1 for i, m in enumerate(MONTHS_HI)}
_MONTHS_ML.update({m: i + 1 for i, m in enumerate(MONTHS_GU)})
_DATE_TEXT_ML_RE = re.compile(
    rf"([0-9]{{1,2}})[{_WS}]+(" + "|".join([*MONTHS_HI, *MONTHS_GU])
    + rf")[{_WS}]+([0-9]{{4}})"
)
_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)")

# Whitespace NORMALIZATION is deliberately Unicode (NBSP etc. collapse to
# one space — that's content cleanup, unlike the ASCII-pinned extractor
# patterns above). The twin shares this exact string: it is Python's \s set
# for str patterns spelled as an EXPLICIT class (enumerated from CPython),
# because no inline flag means the same thing in both engines — Java (?U)
# is a syntax error in Python re, and Java's bare \s is ASCII-only.
WS_NORM_PATTERN = (
    r"[ \t\n\x0B\f\r\x1c-\x1f\x85\xa0\u1680"
    r"\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]+"
)
_WS_RE = re.compile(WS_NORM_PATTERN)


def _norm_ws(s: str) -> str:
    """Whitespace collapse — the byte-identity hot spot (SURVEY W2).
    str.split is ~5x faster than a regex sub and equivalent on all
    practical whitespace (both are Unicode-aware)."""
    return " ".join(s.split())


# ---------------------------------------------------------------------------
# Charset decode (ref image-decode S2, executable.py:244-250 retarget)
# ---------------------------------------------------------------------------

def decode_html(data: bytes) -> str:
    """Deterministic charset rule: meta charset in first 2048 bytes if it is a
    codec Python knows and decodes cleanly; else UTF-8 with errors='replace'."""
    head = data[:2048]
    m = _CHARSET_RE.search(head)
    if m:
        enc = m.group(1).decode("ascii", "replace").lower()
        if enc in ("utf-8", "utf8", "ascii", "us-ascii", "latin-1", "latin1",
                   "iso-8859-1"):
            try:
                return data.decode(enc)
            except (UnicodeDecodeError, LookupError):
                pass
    return data.decode("utf-8", errors="replace")


# ---------------------------------------------------------------------------
# HTML tokenizer: bytes -> DOM node stream (ref OCR S4, ocr.py:219-312)
# ---------------------------------------------------------------------------

class _Block:
    __slots__ = ("uid", "tag", "depth", "class_id", "boiler", "meta_block",
                 "chunks", "n_link_chars", "char_off", "boiler_inc")

    def __init__(self, uid, tag, depth, class_id, boiler, meta_block, boiler_inc):
        self.uid = uid
        self.tag = tag
        self.depth = depth
        self.class_id = class_id
        self.boiler = boiler
        self.meta_block = meta_block
        self.boiler_inc = boiler_inc
        self.chunks: list[str] = []
        self.n_link_chars = 0
        self.char_off = -1


# start/end tag scanner: quoted attr values may contain '>' (regex below
# handles them); anything the pattern rejects is treated as literal text,
# matching lenient-recovery semantics
_TAG_RE = re.compile(
    r"<(?:/(?P<end>[a-zA-Z][a-zA-Z0-9:_-]*)[^>]*>"
    r"|(?P<start>[a-zA-Z][a-zA-Z0-9:_-]*)"
    r"(?P<attrs>(?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>)"
)
_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s/>]+))?"
)
_ATTR_TAGS = frozenset(["meta", "time", "html"])  # handlers read these attrs


def _parse_attrs(s: str) -> list[tuple[str, str]]:
    from html import unescape  # noqa: PLC0415 — lazy; hot path skips it

    out = []
    for m in _ATTR_RE.finditer(s):
        v = m.group(2)
        if v is None:
            v = ""
        elif v and v[0] in "\"'":
            v = v[1:-1]
        if "&" in v:
            v = unescape(v)
        out.append((m.group(1).lower(), v))
    return out


class _Tokenizer:
    """Tokenizer producing the node stream of FIXTURES.md §2.

    Replaces the reference's Tesseract call (ocr.py:259-268): block/line/word
    numbering -> node_idx/depth; bbox -> (char_off, n_chars).

    The driver is a C-speed regex scanner (scan()) feeding the same
    handle_starttag/endtag/data state machine html.parser would — measured
    ~3x faster than the stdlib parse loop, with identical semantics on
    well-formed and mildly malformed input (lenient recovery: unparseable
    '<' is literal text; unterminated comments/CDATA-tags run to EOF)."""

    def __init__(self, doc: str):
        self.nodes: list[dict] = []
        self.title_parts: list[str] = []
        self.metas: list[tuple[str, str]] = []
        self.time_attrs: list[str] = []
        self.html_lang: str | None = None
        self._stack: list[_Block] = []
        self._uid = 0
        self._skip = 0       # inside script/style/...
        self._head = 0       # inside <head>
        self._title = 0      # inside <title>
        self._anchor = 0     # inside <a>
        self._boiler = 0     # inside boilerplate container

    # -- scanner driver -----------------------------------------------------
    def scan(self, doc: str) -> None:
        from html import unescape  # noqa: PLC0415

        pos, n = 0, len(doc)
        find = doc.find
        lower = None  # doc.lower(), built lazily (only needed for CDATA tags)
        while True:
            lt = find("<", pos)
            if lt == -1:
                if pos < n:
                    self._emit_data(doc[pos:], pos, unescape)
                return
            if lt > pos:
                self._emit_data(doc[pos:lt], pos, unescape)
            head = doc[lt + 1:lt + 2]
            if head == "!":
                if doc.startswith("<!--", lt):
                    end = find("-->", lt + 4)
                    pos = n if end == -1 else end + 3
                else:  # doctype / CDATA-decl: to the next '>'
                    gt = find(">", lt)
                    pos = n if gt == -1 else gt + 1
                continue
            if head == "?":
                gt = find(">", lt)
                pos = n if gt == -1 else gt + 1
                continue
            m = _TAG_RE.match(doc, lt)
            if not m:
                self._emit_data("<", lt, unescape)
                pos = lt + 1
                continue
            pos = m.end()
            end_tag = m.group("end")
            if end_tag is not None:
                self.handle_endtag(end_tag.lower())
                continue
            tag = m.group("start").lower()
            attrs_str = m.group("attrs") or ""
            selfclose = attrs_str.endswith("/")
            # lazy attr parse: only tags whose attributes the handlers read
            # (meta/time/html always; block tags only for class/id signals —
            # substring probe may rarely over-trigger e.g. on 'width', which
            # just costs a parse, never changes semantics)
            if attrs_str and (
                tag in _ATTR_TAGS
                or (tag not in INLINE_TAGS and tag not in VOID_TAGS
                    and ("class" in attrs_str or "id" in attrs_str))
            ):
                attrs = _parse_attrs(attrs_str[:-1] if selfclose else attrs_str)
            else:
                attrs = []
            if tag in SKIP_TAGS and not selfclose:
                # CDATA-mode content: skip to the matching close tag
                if lower is None:
                    lower = doc.lower()
                close = lower.find("</" + tag, pos)
                if close == -1:
                    pos = n
                else:
                    gt = find(">", close)
                    pos = n if gt == -1 else gt + 1
                continue
            if tag == "title" and not selfclose:
                if lower is None:
                    lower = doc.lower()
                close = lower.find("</title", pos)
                content_end = n if close == -1 else close
                self.handle_starttag("title", attrs)
                self.handle_data(
                    unescape(doc[pos:content_end])
                    if "&" in doc[pos:content_end] else doc[pos:content_end],
                    pos,
                )
                self.handle_endtag("title")
                if close == -1:
                    pos = n
                else:
                    gt = find(">", close)
                    pos = n if gt == -1 else gt + 1
                continue
            if selfclose:
                self.handle_startendtag(tag, attrs)
            else:
                self.handle_starttag(tag, attrs)

    def _emit_data(self, chunk: str, off: int, unescape) -> None:
        if "&" in chunk:
            chunk = unescape(chunk)
        self.handle_data(chunk, off)

    # -- helpers ----------------------------------------------------------
    def _flush(self, blk: _Block) -> None:
        text = _norm_ws("".join(blk.chunks))
        if not text:
            return
        self.nodes.append(
            {
                "tag": blk.tag,
                "text": text,
                "depth": blk.depth,
                "char_off": blk.char_off,
                "n_chars": len(text),
                "n_link_chars": blk.n_link_chars,
                "class_id": blk.class_id,
                "boiler": blk.boiler,
                "meta_block": blk.meta_block,
                # computed once here; keep_for_body/assemble_body reuse it
                "score": block_score(blk.tag, len(text), blk.n_link_chars),
            }
        )

    # -- parser callbacks ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip += 1
            return
        if tag == "head":
            self._head += 1
            return
        ad = dict(attrs)
        if tag == "meta":
            key = ad.get("name") or ad.get("property") or ""
            content = ad.get("content")
            if key and content is not None:
                self.metas.append((key.lower(), content))
            return
        if tag == "html":
            if ad.get("lang"):
                self.html_lang = ad["lang"]
            return
        if tag == "title":
            self._title += 1
            return
        if tag == "time":
            if ad.get("datetime"):
                self.time_attrs.append(ad["datetime"])
            # falls through: <time> is inline, text still collected
        if tag == "a":
            self._anchor += 1
        if tag in VOID_TAGS or tag in INLINE_TAGS:
            return
        # block-level element
        class_id = _norm_ws(f"{ad.get('class', '')} {ad.get('id', '')}")
        if tag in AUTOCLOSE_TAGS and self._stack and self._stack[-1].tag == tag:
            self._pop_block()
        boiler_inc = tag in BOILER_TAGS or bool(class_id and BOILER_RE.search(class_id))
        if boiler_inc:
            self._boiler += 1
        meta_block = bool(class_id and META_BLOCK_RE.search(class_id)) or (
            self._stack and self._stack[-1].meta_block
        )
        self._uid += 1
        self._stack.append(
            _Block(
                self._uid,
                tag,
                len(self._stack) + 1,
                class_id,
                self._boiler > 0,
                bool(meta_block),
                boiler_inc,
            )
        )

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in VOID_TAGS and tag not in INLINE_TAGS and tag not in SKIP_TAGS \
                and tag not in ("head", "meta", "html", "title"):
            self._pop_block()
        elif tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag == "a":
            # mirror handle_endtag: a self-closed <a/> must not leave the
            # anchor counter raised, or every later chunk counts as link
            # chars and the density filter drops the whole remaining body
            self._anchor = max(0, self._anchor - 1)
        elif tag == "title":
            self._title = max(0, self._title - 1)
        elif tag == "head":
            self._head = max(0, self._head - 1)

    def _pop_block(self):
        blk = self._stack.pop()
        if blk.boiler_inc:
            self._boiler = max(0, self._boiler - 1)
        self._flush(blk)

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
            return
        if tag == "head":
            self._head = max(0, self._head - 1)
            return
        if tag == "title":
            self._title = max(0, self._title - 1)
            return
        if tag == "a":
            self._anchor = max(0, self._anchor - 1)
            return
        if tag in VOID_TAGS or tag in INLINE_TAGS:
            return
        # lenient recovery: pop up to the matching open block, if any
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i].tag == tag:
                while len(self._stack) > i:
                    self._pop_block()
                return
        # stray end tag: ignored (parse_failures counted at a higher level)

    def handle_data(self, data, off):
        if self._skip:
            return
        if self._title:
            self.title_parts.append(data)
            return
        if self._head:
            return
        if not data or not self._stack:
            return
        blk = self._stack[-1]
        if blk.char_off < 0 and data.strip():
            blk.char_off = off
        blk.chunks.append(data)
        if self._anchor:
            blk.n_link_chars += len(_norm_ws(data))

    def finish(self):
        while self._stack:
            self._pop_block()
        # document order by first-text offset; uid breaks ties deterministically
        self.nodes.sort(key=lambda n: (n["char_off"], n["tag"]))
        for i, n in enumerate(self.nodes):
            n["node_idx"] = i
        return self


def tokenize_html(doc: str) -> _Tokenizer:
    tok = _Tokenizer(doc)
    tok.scan(doc)
    return tok.finish()


# ---------------------------------------------------------------------------
# Block scoring (ref YOLO detector M3 -> density classifier, detector.py:178-268)
# ---------------------------------------------------------------------------

def block_score(tag: str, n_chars: int, n_link_chars: int) -> float:
    """Deterministic block quality score in [0,1], rounded to 4 dp at creation
    (replaces OCR confidence, ocr.py:291)."""
    base = _TAG_BASE_SCORE.get(tag, 0.5)
    link_density = n_link_chars / n_chars if n_chars > 0 else 1.0
    length_factor = min(1.0, n_chars / 80.0)
    return round4(base * (1.0 - link_density) * length_factor)


def keep_for_body(node: dict) -> bool:
    """Block keep/drop decision (ref class-threshold + area filters,
    detector.py:239-244; NMS best-per-class -> contiguous content run)."""
    if node["boiler"] or node["meta_block"]:
        return False
    if node["tag"] not in BODY_TAGS or node["tag"] in ("body",):
        # direct text under <body> is kept only via the div/section path;
        # bare body text is typically chrome leftovers — still allow if long
        if node["tag"] != "body":
            return False
    # NOTE: no heading check needed here — h1..h6 are not in BODY_TAGS, so
    # they already returned False above (the native twin nodes.py mirrors
    # exactly this shape; do not add a redundant check that could diverge)
    if node["n_chars"] < MIN_BODY_CHARS:
        return False
    if 3 * node["n_link_chars"] > MAX_LINK_DENSITY_NUM * node["n_chars"]:
        return False
    return node["score"] >= MIN_BODY_SCORE


# ---------------------------------------------------------------------------
# Field candidate extraction (ref F1-F3 regex banks, extractor.py:72-119)
# ---------------------------------------------------------------------------

def _meta_get(metas: list[tuple[str, str]], *keys: str) -> str | None:
    for k in keys:
        for name, content in metas:
            if name == k and content.strip():
                return content
    return None


def _valid_title(v: str) -> bool:
    return 3 <= len(v) <= 300


def _valid_byline(v: str) -> bool:
    """Validity predicate — ref dealer-name rules extractor.py:331-352:
    len>=3, not all-lower, reject-term list, digit ratio <= 0.3."""
    if not (3 <= len(v) <= 80):
        return False
    if v == v.lower() and v != v.upper():
        # all-lowercase is invalid only for caseable scripts; Devanagari/
        # Gujarati names are caseless (lower == upper) and must pass
        return False
    if v.strip().lower() in _BYLINE_REJECT:
        return False
    digits = sum(c.isdigit() for c in v)
    return digits <= 0.3 * len(v)


def _norm_date(y: int, mo: int, d: int) -> str | None:
    """Range validation (ref P7 value-range predicates, extractor.py:38-39)."""
    if not (1990 <= y <= 2030 and 1 <= mo <= 12 and 1 <= d <= 31):
        return None
    return f"{y:04d}-{mo:02d}-{d:02d}"


def _parse_date_any(s: str) -> str | None:
    m = _DATE_ISO_RE.search(s)
    if m:
        return _norm_date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
    m = _DATE_TEXT_RE.search(s)
    if m:
        return _norm_date(int(m.group(3)), _MONTHS[m.group(1).lower()], int(m.group(2)))
    m = _DATE_TEXT_ML_RE.search(s)
    if m:
        return _norm_date(int(m.group(3)), _MONTHS_ML[m.group(2)], int(m.group(1)))
    return None


def extract_candidates(parsed) -> dict[str, list[dict]]:
    """Per-field candidate lists {value, score, source, node_idx, cand_idx}.

    Mirrors the reference's strategy stack (extractor.py:143-185): multiple
    pattern sources per field, each tagged, scanned over a bounded top-of-
    document window (extractor.py:237,257,263)."""
    cands: dict[str, list[dict]] = {"title": [], "byline": [], "pub_date": []}

    def add(field, value, score, source, node_idx):
        cands[field].append(
            {
                "value": value,
                "score": round4(score),
                "source": source,
                "node_idx": node_idx,
                "cand_idx": len(cands[field]),
            }
        )

    metas = parsed.metas
    # ---- title (ref model-name extractors F2) ----
    v = _meta_get(metas, "og:title")
    if v and _valid_title(_norm_ws(v)):
        add("title", _norm_ws(v), 0.95, "meta_og", -1)
    v = _meta_get(metas, "twitter:title")
    if v and _valid_title(_norm_ws(v)):
        add("title", _norm_ws(v), 0.85, "meta_twitter", -1)
    for n in parsed.nodes:
        if n["tag"] == "h1" and not n["boiler"] and _valid_title(n["text"]):
            add("title", n["text"], 0.9, "h1", n["node_idx"])
            break
    t = _norm_ws("".join(parsed.title_parts))
    if t and _valid_title(t):
        add("title", t, 0.8, "title_tag", -1)

    # ---- byline (ref dealer extractors F1) ----
    v = _meta_get(metas, "author", "article:author", "parsely-author")
    if v and _valid_byline(_norm_ws(v)):
        add("byline", _norm_ws(v), 0.9, "meta_author", -1)
    for n in parsed.nodes:
        if n["node_idx"] >= 25:  # top-of-document window (extractor.py:237)
            break
        if n["boiler"]:
            continue
        # English bank first, then the Hindi/Gujarati bank (ref multilingual
        # rows, extractor.py:87); prefixes are disjoint so order is cosmetic
        m = _BYLINE_TEXT_RE.match(n["text"]) or _BYLINE_ML_RE.match(n["text"])
        if m and _valid_byline(m.group(1)):
            score = 0.7
            if n["node_idx"] < 5:  # position boost (extractor.py:315)
                score = round4(score * 1.12)
            add("byline", m.group(1), score, "by_pattern", n["node_idx"])

    # ---- pub_date (ref HP extractors F3 -> dates) ----
    for ts in parsed.time_attrs[:3]:
        d = _parse_date_any(ts)
        if d:
            add("pub_date", d, 0.95, "time_attr", -1)
    v = _meta_get(metas, "article:published_time", "date", "dc.date",
                  "datepublished", "pubdate")
    if v:
        d = _parse_date_any(v)
        if d:
            add("pub_date", d, 0.9, "meta_date", -1)
    for n in parsed.nodes:
        if n["node_idx"] >= 15:  # window (extractor.py:257)
            break
        if n["boiler"]:
            continue
        d = _parse_date_any(n["text"])
        if d:
            add("pub_date", d, 0.6, "text_date", n["node_idx"])
    return cands


def pick_best(cands: list[dict]) -> dict | None:
    """Argmax with first-wins ties (ref extractor.py:310-312: Python max keeps
    the first maximum) — deterministic via explicit cand_idx ordering."""
    if not cands:
        return None
    return min(cands, key=lambda c: (-c["score"], c["cand_idx"]))


def clip_conf(c: float) -> float:
    return round4(min(max(c, CONF_MIN), CONF_MAX))


def overall_confidence(fields: dict[str, float | None]) -> float:
    """Weighted confidence over PRESENT fields (ref extractor.py:588-605)."""
    num = 0.0
    den = 0.0
    for f, w in FIELD_WEIGHTS.items():
        c = fields.get(f)
        if c is not None:
            num += w * c
            den += w
    return round4(num / den) if den > 0 else 0.0


# ---------------------------------------------------------------------------
# Body assembly (ref text sequence assembly W2, normalizer.py:537-569)
# ---------------------------------------------------------------------------

FALLBACK_MIN_CHARS = 10
FALLBACK_BODY_CONF = 0.4  # discounted tier-2 confidence (ref J6 0.9x spirit)


def assemble_body(nodes: list[dict]) -> tuple[str, int, int, float, int, int]:
    """Returns (body_text, span_start, span_len, body_conf, kept, dropped).
    Separator discipline: kept block texts joined with a single '\\n', no
    trailing separator — this exact rule is the 100%-byte-match gate.

    Tier 2 (ref M4 VLM-fallback retarget, vlm_fallback.py:410-438 routing):
    when the density classifier keeps nothing, fall back to body-text-minus-
    boilerplate — every non-boiler, non-metadata, non-heading node of at
    least FALLBACK_MIN_CHARS — at a discounted fixed confidence."""
    kept = [n for n in nodes if keep_for_body(n)]
    conf = None
    if kept:
        conf = round4(sum(n["score"] for n in kept) / len(kept))
    else:
        kept = [
            n for n in nodes
            if not n["boiler"] and not n["meta_block"]
            and n["tag"] not in ("h1", "h2", "h3", "h4", "h5", "h6")
            and n["n_chars"] >= FALLBACK_MIN_CHARS
        ]
        if kept:
            conf = round4(FALLBACK_BODY_CONF)
    dropped = len(nodes) - len(kept)
    if not kept:
        return "", -1, 0, 0.0, 0, dropped
    body = "\n".join(n["text"] for n in kept)
    return body, kept[0]["char_off"], len(body), conf, len(kept), dropped


# ---------------------------------------------------------------------------
# PDF branch (ref PDF->pages S3 + per-page OCR, ocr.py:420-487)
# ---------------------------------------------------------------------------

_PDF_TJ_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)\s*Tj")


def pdf_escape(s: str) -> str:
    """Inverse of the Tj unescape — used by the synthetic-corpus generator."""
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def parse_pdf_lines(data: bytes) -> list[str]:
    """Extract text-showing operands from uncompressed content streams, in
    byte order. Only the synthetic uncompressed subset is supported; compressed
    streams fail upstream (documented boundary, SURVEY §7.3.4)."""
    lines = []
    for m in _PDF_TJ_RE.finditer(data):
        raw = m.group(1)
        raw = raw.replace(b"\\\\", b"\x00ESC\x00")
        raw = raw.replace(b"\\(", b"(").replace(b"\\)", b")")
        raw = raw.replace(b"\x00ESC\x00", b"\\")
        lines.append(raw.decode("utf-8", errors="replace"))
    return lines


def extract_pdf(url: str, data: bytes) -> dict:
    """PDF layout-parse branch. Header lines carry labeled fields; remaining
    lines are body paragraphs (mirrors per-page OCR -> extraction flow)."""
    lines = parse_pdf_lines(data)
    title = byline = pub_date = None
    t_conf = b_conf = d_conf = None
    body_lines = []
    for ln in lines:
        if ln.startswith("Title: ") and title is None:
            v = _norm_ws(ln[7:])
            if _valid_title(v):
                title, t_conf = v, 0.9
                continue
        if ln.startswith("By ") and byline is None:
            v = _norm_ws(ln[3:])
            if _valid_byline(v):
                byline, b_conf = v, 0.85
                continue
        if ln.startswith("Date: ") and pub_date is None:
            d = _parse_date_any(ln[6:])
            if d:
                pub_date, d_conf = d, 0.9
                continue
        if ln.strip():
            body_lines.append(_norm_ws(ln))
    body = "\n".join(body_lines)
    body_conf = 0.8 if body else None
    return _result(
        url,
        title=title,
        byline=byline,
        pub_date=pub_date,
        body=body,
        title_conf=t_conf,
        byline_conf=b_conf,
        date_conf=d_conf,
        body_conf=body_conf,
        n_nodes=len(lines),
        blocks_kept=len(body_lines),
        blocks_dropped=len(lines) - len(body_lines),
        span_start=0 if body else -1,
        span_len=len(body),
        status="success",
    )


# ---------------------------------------------------------------------------
# Result assembly (ref ProcessingResult, executable.py:56-137)
# ---------------------------------------------------------------------------

RESULT_FIELDS = [
    "url", "title", "byline", "pub_date", "body_text",
    "title_conf", "byline_conf", "date_conf", "body_conf",
    "overall_confidence", "status", "error_message",
    "n_nodes", "n_blocks_kept", "n_blocks_dropped", "parse_failures",
    "body_span_start", "body_span_len",
]


def _result(url, *, title=None, byline=None, pub_date=None, body="",
            title_conf=None, byline_conf=None, date_conf=None, body_conf=None,
            n_nodes=0, blocks_kept=0, blocks_dropped=0, parse_failures=0,
            span_start=-1, span_len=0, status="success", error=None) -> dict:
    confs = {
        "title": clip_conf(title_conf) if title_conf is not None else None,
        "byline": clip_conf(byline_conf) if byline_conf is not None else None,
        "pub_date": clip_conf(date_conf) if date_conf is not None else None,
        "body": clip_conf(body_conf) if body_conf is not None else None,
    }
    return {
        "url": url,
        "title": title,
        "byline": byline,
        "pub_date": pub_date,
        "body_text": body,
        "title_conf": confs["title"],
        "byline_conf": confs["byline"],
        "date_conf": confs["pub_date"],
        "body_conf": confs["body"],
        "overall_confidence": overall_confidence(confs),
        "status": status,
        "error_message": error,
        "n_nodes": n_nodes,
        "n_blocks_kept": blocks_kept,
        "n_blocks_dropped": blocks_dropped,
        "parse_failures": parse_failures,
        "body_span_start": span_start,
        "body_span_len": span_len,
    }


def extract_page(url: str, html: bytes | None) -> dict:
    """The flagship per-page extraction. Failures become rows, never exceptions
    (ref executable.py:383-407)."""
    if html is None or len(html) == 0:
        return _result(url, status="failed", error="empty")
    if len(html) > MAX_HTML_BYTES:
        return _result(url, status="failed", error="oversize")
    if html[:5] == b"%PDF-":
        try:
            return extract_pdf(url, html)
        except Exception as e:  # noqa: BLE001 — containment by design
            return _result(url, status="failed", error=f"pdf_parse: {e}",
                           parse_failures=1)
    try:
        doc = decode_html(html)
        parsed = tokenize_html(doc)
    except Exception as e:  # noqa: BLE001
        return _result(url, status="failed", error=f"parse: {e}", parse_failures=1)
    cands = extract_candidates(parsed)
    best = {f: pick_best(c) for f, c in cands.items()}
    body, span_start, span_len, body_conf, kept, dropped = assemble_body(parsed.nodes)
    return _result(
        url,
        title=best["title"]["value"] if best["title"] else None,
        byline=best["byline"]["value"] if best["byline"] else None,
        pub_date=best["pub_date"]["value"] if best["pub_date"] else None,
        body=body,
        title_conf=best["title"]["score"] if best["title"] else None,
        byline_conf=best["byline"]["score"] if best["byline"] else None,
        date_conf=best["pub_date"]["score"] if best["pub_date"] else None,
        body_conf=body_conf if body else None,
        n_nodes=len(parsed.nodes),
        blocks_kept=kept,
        blocks_dropped=dropped,
        span_start=span_start,
        span_len=span_len,
        status="success",
    )
