"""Golden byte-identity tests for the canonical extraction kernel
(FIXTURES.md §2-§3)."""

import hashlib

from gocrd_spark.datagen import _fixture
from gocrd_spark.extract import extract_document, mets_records, sniff_kind

GOLDEN_SHA = "7bac7349cf86baac9834073fbfd7e589efa9d716e28578d6940362a02c7ec065"


def _kant_bytes() -> bytes:
    return _fixture("kant_aufklaerung_1784_0020.xml")


def test_golden_text_byte_identity():
    result = extract_document(_kant_bytes())
    assert result["error"] is None
    text = result["text"]
    raw = text.encode("utf-8")
    assert len(text) == 1518
    assert len(raw) == 1591
    assert hashlib.sha256(raw).hexdigest() == GOLDEN_SHA


def test_golden_spans():
    result = extract_document(_kant_bytes())
    spans = result["spans"]
    got = [
        (s["region_id"], s["index"], s["byte_start"], s["byte_end"]) for s in spans
    ]
    assert got == [  # FIXTURES.md §3 span table
        ("r_1_1", 0, 0, 7),
        ("r_2_1", 1, 8, 626),
        ("r_2_2", 2, 627, 1585),
        ("r_2_3", 3, 1586, 1591),
    ]
    # char lengths
    assert [s["char_end"] - s["char_start"] for s in spans] == [7, 592, 911, 5]
    # region text == slice of joined text (offset consistency)
    text = result["text"]
    raw = text.encode("utf-8")
    for s in spans:
        assert (
            raw[s["byte_start"] : s["byte_end"]].decode("utf-8")
            == text[s["char_start"] : s["char_end"]]
        )
    # bbox of r_1_1 pinned by page/page_test.go:202
    assert spans[0]["bbox"] == {"x0": 846, "y0": 294, "x1": 1026, "y1": 337}


def test_region_text_preserves_internal_whitespace():
    """FIXTURES.md §3: region text == its line texts joined by
    literal '\\n\\t\\t\\t\\t' — byte identity requires verbatim text nodes."""
    from gocrd_spark.page import Page

    data = _kant_bytes()
    page = Page.from_bytes(data)
    text = extract_document(data)["text"]
    for span, region in zip(extract_document(data)["spans"], page.regions()):
        region_text = text[span["char_start"] : span["char_end"]]
        line_texts = [l.text_equiv_unicode_at(0)[0] for l in region.lines()]
        assert region_text == "\n\t\t\t\t".join(line_texts)


def test_malformed_document_yields_error_row():
    result = extract_document(b"<PcGts><Page>")
    assert result["text"] is None and result["spans"] is None
    assert result["error"]


def test_non_page_document():
    result = extract_document(_fixture("mets.xml"))
    assert result["text"] is None
    assert "not a PAGE-XML" in result["error"]


def test_sniff_kind():
    assert sniff_kind(_kant_bytes()) == "page"
    assert sniff_kind(_fixture("mets.xml")) == "mets"
    assert sniff_kind(b"<html/>") == "other"
    assert sniff_kind(b"\x00\x01 not xml") == "other"


def test_mets_records_flat_rows():
    data = _fixture("mets.xml")
    rows = mets_records(data)
    assert len(rows) == 3
    assert rows[1] == {
        "file_id": "PAGE_0020_ALTO",
        "mimetype": "application/alto+xml",
        "flocat_type": "URL",
        "flocat_url": (
            "https://github.com/OCR-D/assets/raw/master/data/"
            "kant_aufklaerung_1784/alto/kant_aufklaerung_1784_0020.xml"
        ),
    }
    assert mets_records(data, use="OCR-D-IMG") == []
    assert len(mets_records(data, mimetype="application/alto+xml")) == 2
    assert mets_records(b"not xml at all") == []
