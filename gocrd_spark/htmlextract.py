"""HTML main-content extraction: boilerplate strip via DOM heuristics.

The north rule's general tier ("HTML boilerplate strip, PDF/layout
parse, DOM heuristics") applied to Common-Crawl-style payloads that are
plain HTML rather than PAGE-XML. Pure Python (stdlib ``html.parser`` —
tolerant of real-world malformed HTML), same shape as the PAGE-XML
kernel: ``extract_html(data) -> {text, spans, error}`` with byte/char
span offsets per kept block, so one output schema serves both document
kinds (routing in extract.extract_any_document).

Heuristics (classic text-density boilerplate stripping):
- pruned subtrees: script/style/noscript/template/head/nav/footer/
  header/aside/form/iframe/svg/button/select — never contribute text;
- block segmentation on block-level tags (p, div, h1-h6, li, td, ...);
- a block is CONTENT if its text is long enough (>= min_len chars after
  whitespace collapse) and its link density (chars inside <a> / total
  chars) is <= max_link_density; headings get a lower length bar;
- kept blocks joined by '\n' in document order; spans carry the block
  tag, offsets and link density (fixed-point e6).

Determinism: pure function of the bytes; no models, no randomness.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Any, Optional

from .spans import assemble, stable_error

PRUNE_TAGS = frozenset(
    "script style noscript template head nav footer header aside form "
    "iframe svg button select option".split()
)
BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li td th blockquote pre article section "
    "main figcaption dd dt table tr ul ol body".split()
)
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
VOID_BLOCK_TAGS = frozenset(("br", "hr"))

DEFAULT_MIN_LEN = 25
DEFAULT_HEADING_MIN_LEN = 8
DEFAULT_MAX_LINK_DENSITY = 0.4


class _Block:
    __slots__ = ("tag", "chars", "link_chars")

    def __init__(self, tag: str) -> None:
        self.tag = tag
        self.chars: list[str] = []
        self.link_chars = 0


class _MainContentParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[_Block] = []
        self._current: Optional[_Block] = None
        self._prune_stack: list[str] = []
        self._link_depth = 0

    # -- structure ----------------------------------------------------------

    def _open_block(self, tag: str) -> None:
        self._current = _Block(tag)
        self.blocks.append(self._current)

    def _close_block(self) -> None:
        self._current = None

    def _implied_head_close(self, tag: str) -> None:
        """HTML5 allows omitting </head> (and </body>): <body> or any
        block-level start implies the head is closed. Without this, a
        real-world page that never closes <head> (common: minifiers drop
        it) would keep the prune on and extract to empty text."""
        if "head" in self._prune_stack and (tag == "body" or tag in BLOCK_TAGS):
            self._prune_stack = [t for t in self._prune_stack if t != "head"]

    def handle_starttag(self, tag: str, attrs) -> None:
        self._implied_head_close(tag)
        if tag in PRUNE_TAGS:
            self._prune_stack.append(tag)
            return
        if self._prune_stack:
            return
        if tag == "a":
            self._link_depth += 1
        if tag in VOID_BLOCK_TAGS:
            self._close_block()
        elif tag in BLOCK_TAGS:
            self._open_block(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._prune_stack:
            return
        if tag in VOID_BLOCK_TAGS:
            self._close_block()

    def handle_endtag(self, tag: str) -> None:
        if tag in PRUNE_TAGS:
            if tag in self._prune_stack:
                # pop the most recent matching entry (tolerates interleaving)
                for i in range(len(self._prune_stack) - 1, -1, -1):
                    if self._prune_stack[i] == tag:
                        del self._prune_stack[i]
                        break
            return
        if self._prune_stack:
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in BLOCK_TAGS:
            self._close_block()

    def handle_data(self, data: str) -> None:
        if self._prune_stack or not data:
            return
        if self._current is None:
            self._open_block("div")  # top-level stray text
        self._current.chars.append(data)
        if self._link_depth:
            self._current.link_chars += len(data)


def _normalize(text: str) -> str:
    return " ".join(text.split())


def extract_html(
    data: bytes,
    min_len: int = DEFAULT_MIN_LEN,
    heading_min_len: int = DEFAULT_HEADING_MIN_LEN,
    max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
) -> dict[str, Any]:
    """bytes -> {'text', 'spans', 'error'} — same contract as
    extract_document; span region_id is 'b<i>' (document-order block
    ordinal of kept blocks' source position)."""
    try:
        # charset sniffing ladder (charset.py): BOM -> utf-8 validation
        # -> declaration/meta -> cp1252. Unlabeled valid UTF-8 (the old
        # fast path) behaves identically; BOMs are now stripped instead
        # of leaking U+FEFF into the text, and Latin-1/UTF-16 pages get
        # real text instead of utf-8-with-replacement mojibake.
        from .charset import decode_bytes

        raw, _enc, _src = decode_bytes(data)
        parser = _MainContentParser()
        parser.feed(raw)
        parser.close()

        def blocks():
            for i, block in enumerate(parser.blocks):
                total = sum(len(c) for c in block.chars)
                if total == 0:
                    continue
                text = _normalize("".join(block.chars))
                if not text:
                    continue
                bar = heading_min_len if block.tag in HEADING_TAGS else min_len
                if len(text) < bar:
                    continue
                if block.link_chars / total > max_link_density:
                    continue
                yield f"b{i}", i, text, None  # HTML has no layout geometry

        return assemble(blocks())
    except Exception as exc:
        return {"text": None, "spans": None, "error": stable_error(exc)}


# ---------------------------------------------------------------------------
# start-tag guards of the single-purpose collectors
# ---------------------------------------------------------------------------

def _start_tag_guard(*tags: str) -> "re.Pattern[str]":
    """Compiled search for what can make a collector's parser do
    anything: a start tag named one of ``tags``, or ``<![``.

    A collector that reacts only to ``tags`` gives its empty result on
    decoded text where this finds nothing, so it returns that result
    without running the tokenizer (PAGE-XML and METS payloads normally
    hold none of them). The guard is exact, not a heuristic:

    - ``html.parser`` reports a start tag only at ``<`` + ASCII letter,
      with the name running to whitespace, ``/``, ``>`` or NUL and then
      lowercased. So the tag needs ``<name`` literally in the text,
      matched here case-insensitively (``re.I`` folds what ``str.lower``
      folds, KELVIN SIGN included) and not continued by a name
      character (``<Metadata`` in PAGE-XML is not ``<meta``).
    - The one input on which ``html.parser`` raises is a marked section:
      ``_markupbase.parse_marked_section`` and its name scan, reached
      only through ``<![``. Such text still goes through the parser, so
      ``<![foo[`` keeps its ``AssertionError`` error row.
    """
    names = "|".join(tags)
    return re.compile(rf"<(?:!\[|(?:{names})(?![\w:.-]))", re.IGNORECASE)


_META_GUARD = _start_tag_guard("html", "title", "meta", "link")
_TABLE_GUARD = _start_tag_guard("table")
_JSONLD_GUARD = _start_tag_guard("script")


# ---------------------------------------------------------------------------
# page metadata (head extraction tier)
# ---------------------------------------------------------------------------

class _MetaParser(HTMLParser):
    """First-wins head-metadata collector: html@lang, <title> text,
    meta[name=description], meta[name=robots] (raw directive string),
    link[rel~=canonical]/@href, meta[property=og:title]. Tolerant of
    malformed HTML the same way _MainContentParser is; non-HTML payloads
    (PAGE-XML, METS, garbage) simply collect nothing."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.lang: Optional[str] = None
        self.title: Optional[str] = None
        self.description: Optional[str] = None
        self.robots: Optional[str] = None
        self.canonical: Optional[str] = None
        self.og_title: Optional[str] = None
        self._title_chars: Optional[list[str]] = None
        self._title_done = False
        self._html_seen = False

    @staticmethod
    def _first_attrs(attrs) -> dict[str, str]:
        out: dict[str, str] = {}
        for k, v in attrs:
            if k not in out and v is not None:
                out[k] = v
        return out

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "html" and not self._html_seen:
            self._html_seen = True
            lang = self._first_attrs(attrs).get("lang", "").strip()
            self.lang = lang or None
        elif tag == "title" and not self._title_done:
            self._title_chars = []
        elif tag == "meta":
            a = self._first_attrs(attrs)
            content = a.get("content")
            if content is None:
                return
            name = a.get("name", "").lower()
            prop = a.get("property", "").lower()
            if name == "description" and self.description is None:
                self.description = _normalize(content) or None
            elif name == "robots" and self.robots is None:
                self.robots = content
            elif prop == "og:title" and self.og_title is None:
                self.og_title = _normalize(content) or None
        elif tag == "link" and self.canonical is None:
            a = self._first_attrs(attrs)
            if "canonical" in a.get("rel", "").lower().split():
                href = a.get("href", "").strip()
                if href:
                    self.canonical = href

    def handle_data(self, data: str) -> None:
        if self._title_chars is not None and not self._title_done:
            self._title_chars.append(data)

    def handle_endtag(self, tag: str) -> None:
        if tag == "title" and self._title_chars is not None and not self._title_done:
            self._title_done = True  # first <title> element wins, even if empty
            self.title = _normalize("".join(self._title_chars)) or None
            self._title_chars = None


def robots_meta_flags(raw: Optional[str]) -> tuple[int, int]:
    """(noindex, nofollow) from a robots meta directive string: tokens
    are comma-separated, case-insensitive; ``none`` implies both
    (Google/Bing robots-meta semantics)."""
    toks = [t.strip().lower() for t in raw.split(",")] if raw else []
    noindex = int("noindex" in toks or "none" in toks)
    nofollow = int("nofollow" in toks or "none" in toks)
    return noindex, nofollow


_NULL_META: dict[str, Any] = {
    "title": None, "description": None, "canonical_url": None,
    "og_title": None, "lang_attr": None, "robots": None,
    "noindex": 0, "nofollow": 0, "error": None,
}


def page_meta(data: bytes) -> dict[str, Any]:
    """bytes -> head metadata dict: {title, description, canonical_url,
    og_title, lang_attr, robots, noindex 0/1, nofollow 0/1, error}.
    Non-HTML payloads yield all-null metadata with error=None — metadata
    absence is data, not failure.

    Text without an ``<html``, ``<title``, ``<meta`` or ``<link`` start
    tag (the only ones _MetaParser branches on) and without ``<![``
    returns the all-null row without tokenizing (_start_tag_guard).
    ``<![`` belongs in the guard because a marked section is the one
    input on which the tokenizer raises, and that gives the error row."""
    try:
        from .charset import decode_bytes

        raw, _enc, _src = decode_bytes(data)
        if not _META_GUARD.search(raw):
            return dict(_NULL_META)
        p = _MetaParser()
        p.feed(raw)
        p.close()
        noindex, nofollow = robots_meta_flags(p.robots)
        return {
            "title": p.title,
            "description": p.description,
            "canonical_url": p.canonical,
            "og_title": p.og_title,
            "lang_attr": p.lang,
            "robots": p.robots,
            "noindex": noindex,
            "nofollow": nofollow,
            "error": None,
        }
    except Exception as exc:
        return {**_NULL_META, "error": stable_error(exc)}


# ---------------------------------------------------------------------------
# table extraction (structured-data mining tier)
# ---------------------------------------------------------------------------

class _TableParser(HTMLParser):
    """From-scratch <table> walker with the tag-soup tolerance real
    crawl HTML needs. Semantics (the spec the oracle formula and the
    edge-case pytests pin):

    - ``table_idx`` counts <table> STARTS in document order; cells
      attach to the innermost open table (nested tables are emitted as
      their own tables, their cells never leak into the parent's).
    - <tr> implicitly closes any open cell/row; <td>/<th> implicitly
      close a prior open cell and implicitly OPEN a row if none is
      open (orphan cells are real-web HTML); col_idx is the cell's
      ordinal within its row; ``is_header`` = the cell tag is <th>.
    - text accumulates only inside an open cell (inline markup is
      transparent); cell text is whitespace-normalized; a cell that
      normalizes to '' is still a cell (empty string, not a drop).
    - </table> pops the innermost table; EOF closes everything.
    - colspan/rowspan are NOT expanded: col_idx is the source ordinal
      (documented contract — span expansion is a downstream concern).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.cells: list[dict] = []
        self._n_tables = 0
        # stack of [table_idx, rows_started, cells_in_row, row_open]
        self._stack: list[list] = []
        self._cell: Optional[dict] = None
        self._chars: list[str] = []

    def _flush_cell(self) -> None:
        if self._cell is not None:
            self._cell["cell"] = _normalize("".join(self._chars))
            self.cells.append(self._cell)
            self._cell = None
            self._chars = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "table":
            self._flush_cell()
            self._stack.append([self._n_tables, 0, 0, False])
            self._n_tables += 1
        elif tag == "tr" and self._stack:
            self._flush_cell()
            top = self._stack[-1]
            top[1] += 1
            top[2] = 0
            top[3] = True
        elif tag in ("td", "th") and self._stack:
            self._flush_cell()
            top = self._stack[-1]
            if not top[3]:  # orphan cell: implicitly open a row
                top[1] += 1
                top[2] = 0
                top[3] = True
            self._cell = {
                "table_idx": top[0],
                "row_idx": top[1] - 1,
                "col_idx": top[2],
                "is_header": 1 if tag == "th" else 0,
            }
            top[2] += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in ("td", "th"):
            self._flush_cell()
        elif tag == "tr" and self._stack:
            self._flush_cell()
            self._stack[-1][3] = False
        elif tag == "table" and self._stack:
            self._flush_cell()
            self._stack.pop()

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            self._chars.append(data)

    def close(self) -> None:
        super().close()
        self._flush_cell()
        self._stack.clear()


def extract_tables(data: bytes) -> dict[str, Any]:
    """bytes -> {'cells': [{table_idx,row_idx,col_idx,is_header,cell}],
    'error'}. A page with no <table> yields zero cells with error=None
    — table absence is data, not failure (most of the web).

    _TableParser emits cells only under an open ``<table``, so text
    without that start tag and without ``<![`` returns zero cells
    without tokenizing (_start_tag_guard); ``<![`` is in the guard
    because a marked section can make the tokenizer raise, and that
    gives the error row."""
    try:
        from .charset import decode_bytes

        raw, _enc, _src = decode_bytes(data)
        if not _TABLE_GUARD.search(raw):
            return {"cells": [], "error": None}
        p = _TableParser()
        p.feed(raw)
        p.close()
        return {"cells": p.cells, "error": None}
    except Exception as exc:
        return {"cells": [], "error": stable_error(exc)}


def synth_table_html(doc_id: int) -> bytes:
    """Deterministic table-bearing page for the driver query: the
    FORMULA below is the oracle's spec (replayed in pure SQL — the
    oracle never parses HTML). Per doc d:

    - d % 5 == 4: a page with no table at all (zero output rows);
    - else 1 + d%2 tables; table t has a header row iff (d+t)%2==0,
      1+((d+t)%3) data rows, 2+((d+t)%2) columns;
    - header cell text 'h{d}-{t}-{c}', data cell text 'v{d}-{t}-{r}-{c}'
      (r = data-row ordinal; emitted row_idx shifts by 1 when a header
      row precedes).

    Surface noise the parser must absorb WITHOUT changing the expected
    rows: odd docs omit </td> and </tr> (implied closes); d%3==0 wraps
    data-cell text in <b>; every cell carries leading/trailing
    whitespace and newlines that normalization strips.
    """
    d = doc_id
    if d % 5 == 4:
        return (
            f"<html><body><h1>No tables {d}</h1><p>plain prose only"
            f"</p></body></html>"
        ).encode()
    parts = [f"<html><body><h1>Tables {d}</h1>"]
    close = d % 2 == 0  # odd docs rely on implied closes
    bold = d % 3 == 0
    for t in range(1 + d % 2):
        has_header = (d + t) % 2 == 0
        n_rows = 1 + ((d + t) % 3)
        n_cols = 2 + ((d + t) % 2)
        parts.append("<table>")
        if has_header:
            parts.append("<tr>")
            for c in range(n_cols):
                parts.append(f"<th>\n h{d}-{t}-{c} ")
                if close:
                    parts.append("</th>")
            if close:
                parts.append("</tr>")
        for r in range(n_rows):
            parts.append("<tr>")
            for c in range(n_cols):
                val = f"v{d}-{t}-{r}-{c}"
                if bold:
                    val = f"<b>{val}</b>"
                parts.append(f"<td>  {val}\n")
                if close:
                    parts.append("</td>")
            if close:
                parts.append("</tr>")
        parts.append("</table>")
    parts.append("</body></html>")
    return "".join(parts).encode()


# ---------------------------------------------------------------------------
# JSON-LD extraction (schema.org structured-data tier)
# ---------------------------------------------------------------------------

class _JsonLdParser(HTMLParser):
    """Collects the raw text content of every
    <script type="application/ld+json"> block, in document order.
    The type match is case-insensitive and whitespace-tolerant (real
    pages ship 'application/ld+json; charset=utf-8' and mixed case);
    block content is NOT validated here — invalid JSON is data the
    field-extraction stage maps to NULLs, not a parse failure."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._in_ld = False
        self._chars: list[str] = []

    @staticmethod
    def _is_ld(attrs) -> bool:
        for k, v in attrs:
            if k == "type" and v is not None:
                mime = v.split(";", 1)[0].strip().lower()
                return mime == "application/ld+json"
        return False

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "script" and self._is_ld(attrs):
            self._in_ld = True
            self._chars = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "script" and self._in_ld:
            self._in_ld = False
            self.blocks.append("".join(self._chars).strip())

    def handle_data(self, data: str) -> None:
        if self._in_ld:
            self._chars.append(data)


def extract_jsonld(data: bytes) -> dict[str, Any]:
    """bytes -> {'blocks': [raw json text, ...], 'error'} — one entry
    per ld+json script block in document order; pages without any
    yield zero blocks with error=None.

    Only a ``<script`` start tag opens a block, so text without one and
    without ``<![`` returns zero blocks without tokenizing
    (_start_tag_guard); ``<![`` is in the guard because a marked
    section can make the tokenizer raise, and that gives the error
    row."""
    try:
        from .charset import decode_bytes

        raw, _enc, _src = decode_bytes(data)
        if not _JSONLD_GUARD.search(raw):
            return {"blocks": [], "error": None}
        p = _JsonLdParser()
        p.feed(raw)
        p.close()
        return {"blocks": p.blocks, "error": None}
    except Exception as exc:
        return {"blocks": [], "error": stable_error(exc)}


def synth_jsonld_html(doc_id: int) -> bytes:
    """Deterministic JSON-LD-bearing page for the driver query (the
    formula IS the oracle spec). Per doc d (url https://ld.test/{d}):

    - d%4==0: one Article block (headline 'Head {d}', name 'Art {d}');
    - d%4==1: TWO blocks — Product 'Prod {d}' then NewsArticle
      'News {d}' (block_idx 0 and 1);
    - d%4==2: one block of INVALID JSON (field extraction -> NULLs);
    - d%4==3: no ld+json at all (a plain <script> must not match).

    Surface noise the parser absorbs: mixed-case type attr with a
    charset parameter on even docs, whitespace padding in blocks.
    """
    d = doc_id
    ty = 'TYPE="Application/LD+JSON; charset=utf-8"' if d % 2 == 0 else 'type="application/ld+json"'
    m = d % 4
    body = [f"<html><head><title>ld {d}</title>"]
    if m == 0:
        body.append(
            f'<script {ty}>\n {{"@context":"https://schema.org",'
            f'"@type":"Article","headline":"Head {d}","name":"Art {d}"}} \n</script>'
        )
    elif m == 1:
        body.append(
            f'<script {ty}>{{"@type":"Product","name":"Prod {d}"}}</script>'
            f"<script>var x = {d};</script>"
            f'<script {ty}> {{"@type":"NewsArticle","name":"News {d}"}}</script>'
        )
    elif m == 2:
        body.append(f"<script {ty}>{{not json {d}</script>")
    else:
        body.append(f"<script>var plain = {d};</script>")
    body.append(f"</head><body><p>page {d}</p></body></html>")
    return "".join(body).encode()
