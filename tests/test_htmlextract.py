"""HTML boilerplate-strip extractor + document-kind routing + PDF stub."""

import re
from unittest import mock

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from gocrd_spark import datagen, htmlextract
from gocrd_spark.datagen import _fixture
from gocrd_spark.extract import extract_any_document, extract_document
from gocrd_spark.htmlextract import extract_html
from gocrd_spark.pdfextract import extract_pdf, parse_pdf_layout

ARTICLE = b"""<!DOCTYPE html>
<html><head><title>t</title>
<script>var hidden = "never extracted";</script>
<style>.x{color:red}</style>
</head><body>
<header><nav><a href="/a">home</a> <a href="/b">about</a> <a href="/c">contact us</a></nav></header>
<article>
<h1>The Actual Headline</h1>
<p>This is the first paragraph of the main article content, long enough to pass the length bar easily.</p>
<p>A second paragraph with more real content that a reader actually came to this page to read today.</p>
<p>short</p>
</article>
<aside>related links sidebar junk</aside>
<div><a href="/x">one link</a> <a href="/y">another link</a> <a href="/z">third link here padding</a></div>
<footer>copyright boilerplate footer text that is quite long but inside footer</footer>
</body></html>"""


class TestHtmlExtract:
    def test_boilerplate_stripped(self):
        result = extract_html(ARTICLE)
        assert result["error"] is None
        text = result["text"]
        assert "first paragraph of the main article" in text
        assert "second paragraph with more real content" in text
        assert "The Actual Headline" in text
        # pruned subtrees and heuristic rejections
        assert "never extracted" not in text
        assert "color:red" not in text
        assert "home" not in text  # nav
        assert "sidebar junk" not in text  # aside
        assert "copyright" not in text  # footer
        assert "another link" not in text  # link-dense div
        assert "short" not in text  # below length bar

    def test_span_offsets_reconstruct(self):
        result = extract_html(ARTICLE)
        text, raw = result["text"], result["text"].encode("utf-8")
        for s in result["spans"]:
            assert (
                raw[s["byte_start"] : s["byte_end"]].decode("utf-8")
                == text[s["char_start"] : s["char_end"]]
            )
        assert [s["region_id"] for s in result["spans"]] == sorted(
            [s["region_id"] for s in result["spans"]], key=lambda r: int(r[1:])
        )

    def test_malformed_html_tolerated(self):
        # unclosed tags, stray brackets — html.parser must not raise
        result = extract_html(
            b"<html><body><p>Broken but long enough paragraph text to keep here"
            b"<div>another block of sufficiently long content without closing"
        )
        assert result["error"] is None
        assert "Broken but long enough" in result["text"]

    def test_entities_and_unicode(self):
        result = extract_html(
            "<html><body><p>café &amp; résumé — a sentence long "
            "enough to be kept in output</p></body></html>".encode()
        )
        assert "café & résumé" in result["text"]

    def test_unclosed_head_implied_close(self):
        """HTML5 allows omitting </head>/</body>; an unclosed <head> must
        not swallow the document (code-review regression)."""
        result = extract_html(
            b"<!DOCTYPE html><html><head><title>t</title>"
            b"<body><p>long article content that must absolutely survive "
            b"the missing head close tag</p>"
        )
        assert "long article content" in result["text"]
        # block start (no <body> at all) also implies the close
        result2 = extract_html(
            b"<html><head><title>t</title>"
            b"<p>paragraph long enough to keep after an implied head close</p>"
        )
        assert "implied head close" in result2["text"]

    def test_whitespace_collapsed(self):
        result = extract_html(
            b"<html><body><p>many     spaces\n\tand newlines inside a paragraph "
            b"long enough to keep</p></body></html>"
        )
        assert "many spaces and newlines" in result["text"]


class TestHtmlFuzz:
    """Tolerance fuzzing: arbitrary tag soup must never raise, and spans
    must always slice the joined text exactly."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    TAGS = ["p", "div", "a", "nav", "head", "script", "em", "h1", "li",
            "table", "br", "foo", "article", "footer"]
    CHUNK = st.one_of(
        st.sampled_from(["<%s>" % t for t in TAGS]),
        st.sampled_from(["</%s>" % t for t in TAGS]),
        st.sampled_from(["<!-- c -->", "<![CDATA[x]]>", "&amp;", "&bogus;",
                          "<!DOCTYPE html>", "<?pi ?>", "<", ">", "=", '"']),
        st.text(
            alphabet=st.sampled_from(list("abc def ghij klmno pqrst 123 ſü中")),
            min_size=1, max_size=60,
        ),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(CHUNK, max_size=40).map("".join))
    def test_never_raises_offsets_consistent(self, soup):
        result = extract_html(soup.encode("utf-8"))
        assert result["error"] is None
        text, raw = result["text"], result["text"].encode("utf-8")
        for s in result["spans"]:
            assert (
                raw[s["byte_start"] : s["byte_end"]].decode("utf-8")
                == text[s["char_start"] : s["char_end"]]
            )
        if result["spans"]:
            assert result["spans"][-1]["byte_end"] == len(raw)

    @settings(max_examples=100, deadline=None)
    @given(st.binary(max_size=300))
    def test_arbitrary_bytes_never_raise(self, data):
        result = extract_html(data)
        assert (result["text"] is None) == (result["error"] is not None)


class TestRouting:
    def test_page_xml_routes_to_gocrd_kernel(self):
        data = _fixture("kant_aufklaerung_1784_0020.xml")
        assert extract_any_document(data) == extract_document(data)

    def test_html_routes_to_boilerplate_strip(self):
        assert extract_any_document(ARTICLE) == extract_html(ARTICLE)

    def test_mets_routes_to_error(self):
        result = extract_any_document(_fixture("mets.xml"))
        assert result["text"] is None and "METS manifest" in result["error"]

    def test_garbage_routes_to_error(self):
        result = extract_any_document(b"\x00\x01 garbage bytes")
        assert result["text"] is None and result["error"]

    def test_xhtml_without_doctype(self):
        data = (
            b'<?xml version="1.0"?><html xmlns="http://www.w3.org/1999/xhtml">'
            b"<body><p>an xhtml paragraph that is long enough to keep around here"
            b"</p></body></html>"
        )
        result = extract_any_document(data)
        assert result["error"] is None
        assert "xhtml paragraph" in result["text"]


class TestPdfStub:
    def test_real_parse_rejects_garbage(self):
        """The default path is the REAL parser now (pdfparse); a payload
        with a PDF header but no objects is an out-of-scope error."""
        import pytest

        with pytest.raises(ValueError):
            parse_pdf_layout(b"%PDF-1.4 ...")

    def test_fake_layout_deterministic(self):
        a = extract_pdf(b"%PDF-1.4 payload", fake=True)
        b = extract_pdf(b"%PDF-1.4 payload", fake=True)
        assert a == b and a["error"] is None
        assert a["spans"] and a["spans"][0]["bbox"] is not None
        # offsets reconstruct
        raw = a["text"].encode()
        for s in a["spans"]:
            assert raw[s["byte_start"] : s["byte_end"]].decode() == a["text"][
                s["char_start"] : s["char_end"]
            ]

    def test_error_row_on_unparseable(self):
        result = extract_pdf(b"%PDF", fake=False)
        assert result["text"] is None and "ValueError" in result["error"]


class TestDatagenHtmlRows:
    def test_html_rows_extracted(self):
        from gocrd_spark import datagen

        row = datagen.make_row(3)  # doc_id % 10 == 3 -> HTML
        assert row["html"].startswith(b"<!DOCTYPE html>")
        result = extract_any_document(row["html"])
        assert result["error"] is None
        assert len(result["text"]) > 100
        assert "never extracted" not in result["text"]


class TestPageMeta:
    """Head-metadata kernel edge cases beyond what datagen's template
    exercises (htmlextract.page_meta / _MetaParser)."""

    def test_full_head(self):
        from gocrd_spark.htmlextract import page_meta

        m = page_meta(
            b'<html lang="en-GB"><head><title>A &amp; B</title>'
            b'<meta name="description" content="  d1   d2 ">'
            b'<meta name="ROBOTS" content="NOINDEX, nofollow">'
            b'<link rel="Canonical alternate" href=" https://c.test/x ">'
            b'<meta property="og:title" content="OG"></head><body><p>t</p></body></html>'
        )
        assert m["error"] is None
        assert m["title"] == "A & B"          # charref decoded
        assert m["description"] == "d1 d2"    # whitespace collapsed
        assert m["canonical_url"] == "https://c.test/x"  # trimmed, multi-rel
        assert m["og_title"] == "OG"
        assert m["lang_attr"] == "en-GB"
        assert m["robots"] == "NOINDEX, nofollow"
        assert (m["noindex"], m["nofollow"]) == (1, 1)

    def test_meta_name_robots_case_insensitive_but_value_preserved(self):
        from gocrd_spark.htmlextract import page_meta, robots_meta_flags

        assert robots_meta_flags("none") == (1, 1)
        assert robots_meta_flags("noindex") == (1, 0)
        assert robots_meta_flags("index, follow") == (0, 0)
        assert robots_meta_flags(None) == (0, 0)

    def test_first_wins(self):
        from gocrd_spark.htmlextract import page_meta

        m = page_meta(
            b"<html><head><title>first</title><title>second</title>"
            b'<meta name="description" content="d1">'
            b'<meta name="description" content="d2">'
            b'<link rel="canonical" href="https://a/"><link rel="canonical" href="https://b/">'
            b"</head></html>"
        )
        assert m["title"] == "first"
        assert m["description"] == "d1"
        assert m["canonical_url"] == "https://a/"

    def test_non_html_payloads_all_null_no_error(self):
        from gocrd_spark import datagen
        from gocrd_spark.htmlextract import page_meta

        for doc_id in (0, 1, 7, 100):  # kant, mets fixture, mets, garbage
            m = page_meta(datagen.make_row(doc_id)["html"])
            assert m["error"] is None
            assert m["title"] is None and m["canonical_url"] is None
            assert (m["noindex"], m["nofollow"]) == (0, 0)
        m = page_meta(b"")
        assert m["error"] is None and m["title"] is None

    def test_meta_without_content_ignored(self):
        from gocrd_spark.htmlextract import page_meta

        m = page_meta(b'<html><head><meta name="description"></head></html>')
        assert m["description"] is None

    def test_matches_datagen_spec(self):
        from gocrd_spark import datagen
        from gocrd_spark.htmlextract import page_meta, robots_meta_flags

        checked = 0
        for doc_id in range(3, 500, 10):  # the html rows
            _row, kind, spec = datagen.make_row_with_spec(doc_id)
            if kind != "html":
                continue
            m = page_meta(_row["html"])
            s = spec["meta"]
            assert m["title"] == s["title"]
            assert m["description"] == s["description"]
            assert m["canonical_url"] == s["canonical"]
            assert m["og_title"] == s["og_title"]
            assert m["lang_attr"] == s["lang_attr"]
            assert m["robots"] == s["robots"]
            assert (m["noindex"], m["nofollow"]) == robots_meta_flags(s["robots"])
            checked += 1
        assert checked > 30


class TestExtractTables:
    @staticmethod
    def _cells(html: str):
        from gocrd_spark.htmlextract import extract_tables

        r = extract_tables(html.encode())
        assert r["error"] is None
        return [
            (c["table_idx"], c["row_idx"], c["col_idx"], c["is_header"], c["cell"])
            for c in r["cells"]
        ]

    def test_basic_with_header(self):
        got = self._cells(
            "<table><tr><th>A</th><th>B</th></tr>"
            "<tr><td>1</td><td>2</td></tr></table>"
        )
        assert got == [
            (0, 0, 0, 1, "A"), (0, 0, 1, 1, "B"),
            (0, 1, 0, 0, "1"), (0, 1, 1, 0, "2"),
        ]

    def test_implied_closes_match_explicit(self):
        explicit = self._cells(
            "<table><tr><td>x</td><td>y</td></tr><tr><td>z</td></tr></table>"
        )
        implied = self._cells("<table><tr><td>x<td>y<tr><td>z</table>")
        assert implied == explicit

    def test_nested_table_is_its_own_table_and_never_leaks(self):
        got = self._cells(
            "<table><tr><td>outer1"
            "<table><tr><td>inner</td></tr></table>"
            "</td><td>outer2</td></tr></table>"
        )
        # table_idx by START order: outer=0, inner=1; the inner cell
        # belongs to table 1; outer1's text is what accumulated before
        # the nested table start (cell flushed at the boundary)
        assert (1, 0, 0, 0, "inner") in got
        assert (0, 0, 0, 0, "outer1") in got
        # outer2 resumes the OUTER table's row at col 1
        assert (0, 0, 1, 0, "outer2") in got

    def test_orphan_cell_opens_row_and_entities_decode(self):
        got = self._cells("<table><td>a &amp; b</td></table>")
        assert got == [(0, 0, 0, 0, "a & b")]

    def test_inline_markup_transparent_and_whitespace_normalized(self):
        got = self._cells(
            "<table><tr><td>  <b>bold</b>\n  <i>text</i> </td></tr></table>"
        )
        assert got == [(0, 0, 0, 0, "bold text")]

    def test_empty_cell_is_a_cell_and_text_outside_cells_ignored(self):
        got = self._cells(
            "stray<table>noise<tr>gap<td></td><td>v</td></tr></table>tail"
        )
        assert got == [(0, 0, 0, 0, ""), (0, 0, 1, 0, "v")]

    def test_no_table_yields_zero_cells(self):
        assert self._cells("<html><body><p>prose</p></body></html>") == []

    def test_eof_flushes_open_cell(self):
        assert self._cells("<table><tr><td>dangling") == [(0, 0, 0, 0, "dangling")]

    def test_synth_formula_counts(self):
        # the generator/pytest side of the driver oracle: cell counts
        # follow the documented formula for every doc class
        from gocrd_spark.htmlextract import extract_tables, synth_table_html

        for d in range(30):
            got = len(extract_tables(synth_table_html(d))["cells"])
            want = 0
            if d % 5 != 4:
                for t in range(1 + d % 2):
                    hh = (d + t) % 2 == 0
                    n_rows = 1 + ((d + t) % 3)
                    n_cols = 2 + ((d + t) % 2)
                    want += n_cols * (n_rows + (1 if hh else 0))
            assert got == want, d

    def test_pipeline_plan_is_narrow(self, spark):
        from gocrd_spark.pipeline import html_tables

        df = spark.createDataFrame(
            [("u", bytearray(b"<table><tr><td>x</td></tr></table>"))],
            "url string, html binary",
        )
        out = html_tables(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "Exchange" not in plan  # zero-shuffle extraction tier
        assert [r.cell for r in out.collect()] == ["x"]


class TestExtractJsonLd:
    @staticmethod
    def _blocks(html: str):
        from gocrd_spark.htmlextract import extract_jsonld

        r = extract_jsonld(html.encode())
        assert r["error"] is None
        return r["blocks"]

    def test_type_match_case_and_params_tolerant(self):
        assert self._blocks(
            '<script TYPE="Application/LD+JSON; charset=utf-8">{"a":1}</script>'
        ) == ['{"a":1}']

    def test_plain_and_js_scripts_ignored(self):
        assert self._blocks(
            '<script>var x=1;</script><script type="text/javascript">y</script>'
        ) == []

    def test_multiple_blocks_document_order(self):
        assert self._blocks(
            '<script type="application/ld+json">{"i":0}</script>'
            "<p>gap</p>"
            '<script type="application/ld+json"> {"i":1} </script>'
        ) == ['{"i":0}', '{"i":1}']

    def test_invalid_json_still_captured_raw(self):
        assert self._blocks(
            '<script type="application/ld+json">{oops</script>'
        ) == ["{oops"]

    def test_pipeline_plan_is_narrow_and_fields_extract(self, spark):
        from pyspark.sql import functions as F
        from gocrd_spark.pipeline import jsonld_blocks

        df = spark.createDataFrame(
            [
                ("u0", bytearray(
                    b'<script type="application/ld+json">'
                    b'{"@type":"Article","name":"N"}</script>')),
                ("u1", bytearray(b'<script type="application/ld+json">{bad</script>')),
                ("u2", bytearray(b"<p>none</p>")),
            ],
            "url string, html binary",
        )
        out = jsonld_blocks(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "Exchange" not in plan
        fields = out.select(
            "url",
            F.get_json_object("json", "$['@type']").alias("jtype"),
            F.get_json_object("json", "$.name").alias("name"),
        ).collect()
        by = {r.url: (r.jtype, r.name) for r in fields}
        assert by["u0"] == ("Article", "N")
        assert by["u1"] == (None, None)  # invalid JSON -> NULLs, no failure
        assert "u2" not in by  # no structured data -> zero rows


# ---------------------------------------------------------------------------
# start-tag guards: a guarded collector equals its parser on every input
# ---------------------------------------------------------------------------

_ALWAYS = re.compile("")  # a guard that lets every text through


def _unguarded(collector: str, data: bytes) -> dict:
    """The collector with its guard patched to match everything, so the
    parser runs on every input: the definition the guard must keep."""
    guard = {
        "page_meta": "_META_GUARD",
        "extract_tables": "_TABLE_GUARD",
        "extract_jsonld": "_JSONLD_GUARD",
    }[collector]
    with mock.patch.object(htmlextract, guard, _ALWAYS):
        return getattr(htmlextract, collector)(data)


def _any_case(name: str):
    """``name`` with each letter in either case; ``k`` may also be the
    KELVIN SIGN, which str.lower folds to ``k``."""
    return st.tuples(*[
        st.sampled_from([c.lower(), c.upper()] + (["\u212a"] if c == "k" else []))
        for c in name
    ]).map("".join)


# each trigger in an element its collector reacts to
_TRIGGERS = st.one_of(
    _any_case("html").map(lambda t: f'<{t} lang="de-AT">'),
    _any_case("title").map(lambda t: f"<{t}> A &amp; b </title>"),
    _any_case("title").map(lambda t: f"<{t}/>"),
    st.tuples(
        _any_case("meta"),
        st.sampled_from([
            'name="description" content=" d  e "', "name=ROBOTS content=noindex",
            'property="og:title" content="og"', 'name="description"',
        ]),
    ).map(lambda p: f"<{p[0]} {p[1]}>"),
    _any_case("link").map(lambda t: f'<{t} rel="alternate Canonical" href=" https://c.test/ ">'),
    _any_case("table").map(lambda t: f"<{t}><tr><th>h<td> c </td></tr>"),
    _any_case("script").map(
        lambda t: f'<{t} type="application/ld+json">{{"@type":"T"}}</script>'),
)
_WRAPPERS = st.sampled_from([
    "{}", "{}", "<!-- {} -->", "<![CDATA[{}]]>", "<![if mso]>{}<![endif]>",
    "<script>{}</script>", "<style>{}</style>", "<textarea>{}</textarea>",
])
# near misses and the constructs the tokenizer treats specially
_OTHER = st.sampled_from([
    "<Metadata>", "<metas x=1>", "<titles>", "<mods:title>", "<link-x>",
    "<htmlx>", "<tablex>", "<scripts>", "< title>", "&lt;title&gt;",
    "</title>", "</table>", "</script>", "<tr>", "<td>x", "<th>",
    "<![foo[ x", "<![", "<![CDATA[x]]>", "<!-- c -->", "<!-- <title>c",
    "<!DOCTYPE html>", "<?xml version='1.0'?>", "<p>text</p>", "<", ">",
    "&amp;", "\x00", "\u212a",
])
_TEXT = st.text(alphabet=st.sampled_from(list("ab <>/=\"'!-[]")), max_size=12)
_PIECE = st.one_of(
    st.tuples(_WRAPPERS, _TRIGGERS).map(lambda p: p[0].format(p[1])), _OTHER, _TEXT,
)
_CODECS = ("utf-8", "utf-8-sig", "utf-16", "cp1252")
_DOCS = st.one_of(
    st.integers(0, 499).map(lambda i: datagen.make_row(i)["html"]),
    st.tuples(st.lists(_PIECE, max_size=6).map("".join), st.sampled_from(_CODECS)).map(
        lambda p: p[0].encode(p[1], errors="replace")),
    st.just(b""),
)


class TestStartTagGuards:
    """A collector that skips the tokenizer when its guard finds nothing
    gives what the tokenizer gives, on every input. The examples hold
    each trigger alone and ``<![`` alone, so dropping any of them from
    a guard fails here."""

    @pytest.mark.parametrize("collector", ["page_meta", "extract_tables", "extract_jsonld"])
    @settings(max_examples=150, deadline=None)
    @given(data=_DOCS)
    @example(data=b'<HTML lang="de">')
    @example(data=b"<tItLe>t</TITLE>")
    @example(data=b'<Meta name="description" content="d">')
    @example(data='<lin\u212a rel="canonical" href="https://k.test/">'.encode())
    @example(data=b"<TaBle><td>c")
    @example(data=b'<SCRIPT type="application/ld+json">{}</script>')
    @example(data=b"<![foo[ x")
    @example(data=b"<![CDATA[<title>t</title><table><td>c]]>")
    @example(data="<title>t</title><table><td>\xe9".encode("utf-16"))
    @example(data=b"")
    def test_guarded_equals_unguarded(self, collector, data):
        assert getattr(htmlextract, collector)(data) == _unguarded(collector, data)

    @pytest.mark.parametrize("collector", ["page_meta", "extract_tables", "extract_jsonld"])
    def test_marked_section_keeps_error_row(self, collector):
        result = getattr(htmlextract, collector)(b"<p>x</p><![foo[ y")
        assert result["error"].startswith("AssertionError: unknown status keyword")

    def test_page_meta_batch_sf001_equals_unguarded(self):
        """The kernel over the sf0.01 pages table (1 000 datagen rows)
        equals the unguarded kernel row for row, and the guard skips
        the tokenizer on most of them (the PAGE-XML and METS rows)."""
        import pandas as pd

        from gocrd_spark.charset import decode_bytes
        from gocrd_spark.kernel import page_meta_batch

        pdf = datagen.pages_pdf(1000)
        got = page_meta_batch(pdf)
        with mock.patch.object(htmlextract, "_META_GUARD", _ALWAYS):
            want = page_meta_batch(pdf)
        pd.testing.assert_frame_equal(got, want)
        skipped = sum(
            htmlextract._META_GUARD.search(decode_bytes(bytes(h))[0]) is None
            for h in pdf["html"]
        )
        assert skipped >= 800
