"""1:1 port of the reference's PAGE-XML tests (page/page_test.go) against
the same vendored fixture, plus edge cases for the xmlpath-subset
semantics (SURVEY.md §1.3)."""

import pytest

from gocrd_spark.datagen import _fixture
from gocrd_spark.page import Line, Match, Page, Rect, Region, Word


@pytest.fixture(scope="module")
def page() -> Page:
    return Page.from_bytes(_fixture("kant_aufklaerung_1784_0020.xml"))


# page/page_test.go:9-36 — ReadingOrder membership defines visibility
@pytest.mark.parametrize(
    "region_id,find",
    [
        ("invalid-ref-id", False),
        ("r_1_1", True),
        ("r_2_1", True),
        ("r_2_2", True),
        ("r_2_3", True),
        ("r_1_2", False),
    ],
)
def test_find_region_by_ref_id(page, region_id, find):
    region = page.find_region_by_id(region_id)
    assert (region is not None) == find
    if find:
        assert region.id() == region_id


# page/page_test.go:38-63
def test_region_text_equiv_unicode(page):
    region = page.find_region_by_id("r_1_1")
    text, ok = region.text_equiv_unicode_at(0)
    assert ok and text == "( 484 )"
    _, ok = region.text_equiv_unicode_at(1)  # out of range -> not found
    assert not ok


# page/page_test.go:65-92 — line membership is per-region
@pytest.mark.parametrize(
    "ref_id,line_id,find",
    [
        ("r_1_1", "invalid-line-id", False),
        ("r_1_1", "tl_1", True),
        ("r_1_1", "tl_2", False),
        ("r_2_1", "tl_1", False),
        ("r_2_1", "tl_2", True),
    ],
)
def test_find_line_by_id(page, ref_id, line_id, find):
    region = page.find_region_by_id(ref_id)
    line = region.find_line_by_id(line_id)
    assert (line is not None) == find
    if find:
        assert line.id() == line_id


# page/page_test.go:94-115 — golden line texts incl. long-s ſ
@pytest.mark.parametrize(
    "region_id,line_id,want",
    [
        ("r_1_1", "tl_1", "( 484 )"),
        ("r_2_1", "tl_11", "urtheile werden, eben ſowohl als die alten, zum"),
        ("r_2_1", "tl_13", "dienen."),
    ],
)
def test_line_text_equiv_unicode(page, region_id, line_id, want):
    line = page.find_region_by_id(region_id).find_line_by_id(line_id)
    text, _ = line.text_equiv_unicode_at(0)
    assert text == want


# page/page_test.go:117-148
@pytest.mark.parametrize(
    "ref_id,line_id,word_id,word,find",
    [
        ("r_1_1", "tl_1", "invalid-word-id", "", False),
        ("r_1_1", "tl_1", "w_w1aab1b1b2b1b1ab1", "(", True),
        ("r_2_1", "tl_2", "w_w1aab1b3b2b1b1ab1", "gewiegelt", True),
    ],
)
def test_find_word_by_id(page, ref_id, line_id, word_id, word, find):
    line = page.find_region_by_id(ref_id).find_line_by_id(line_id)
    w = line.find_word_by_id(word_id)
    assert (w is not None) == find
    if find:
        assert w.id() == word_id
        text, _ = w.text_equiv_unicode_at(0)
        assert text == word


# page/page_test.go:150-191 — all Match wildcard combinations
@pytest.mark.parametrize(
    "match,result_id,find",
    [
        (Match(region_id="r_1_1"), "r_1_1", True),
        (Match(region_id="invalid-region-id"), "", False),
        (Match(line_id="tl_1"), "tl_1", True),
        (Match(line_id="invalid-line-id"), "", False),
        (Match(word_id="w_w1aab1b1b2b1b1ab1"), "w_w1aab1b1b2b1b1ab1", True),
        (Match(word_id="invalid-word-id"), "", False),
        (Match(region_id="r_1_1", line_id="tl_1"), "tl_1", True),
        (Match(region_id="r_2_1", line_id="tl_2"), "tl_2", True),
        (Match(region_id="r_1_1", line_id="tl_2"), "", False),
        (
            Match(region_id="r_1_1", line_id="tl_2", word_id="w_w1aab1b3b2b1b1ab1"),
            "",
            False,
        ),
        (
            Match(region_id="r_2_1", line_id="tl_2", word_id="w_w1aab1b3b2b1b1ab1"),
            "w_w1aab1b3b2b1b1ab1",
            True,
        ),
    ],
)
def test_find(page, match, result_id, find):
    r = page.find(match)
    assert (r is not None) == find
    if find:
        assert r.id() == result_id


def test_find_result_types(page):
    """Deepest-set ID decides the result type (page/page.go:112-124)."""
    assert isinstance(page.find(Match(region_id="r_1_1")), Region)
    assert isinstance(page.find(Match(line_id="tl_1")), Line)
    assert isinstance(page.find(Match(region_id="r_2_1", line_id="tl_2")), Line)
    assert isinstance(page.find(Match(word_id="w_w1aab1b1b2b1b1ab1")), Word)
    assert isinstance(
        page.find(Match(region_id="r_2_1", word_id="w_w1aab1b3b2b1b1ab1")), Word
    )
    assert page.find(Match()) is None  # empty match -> not found


# page/page_test.go:193-218 — golden bounding boxes
@pytest.mark.parametrize(
    "match,want",
    [
        (Match(region_id="r_1_1"), Rect(846, 294, 1026, 337)),
        (Match(line_id="tl_3"), Rect(528, 463, 1330, 506)),
        (Match(word_id="w_w1aab1b1b2b1b1ab1"), Rect(847, 295, 862, 335)),
    ],
)
def test_rectangle(page, match, want):
    r = page.find(match)
    assert r.polygon().rectangle() == want


def test_regions_sorted_by_index(page):
    assert [(r.id(), r.index) for r in page.regions()] == [
        ("r_1_1", 0),
        ("r_2_1", 1),
        ("r_2_2", 2),
        ("r_2_3", 3),
    ]


def test_line_words_document_order(page):
    line = page.find_region_by_id("r_1_1").find_line_by_id("tl_1")
    words = line.words()
    assert len(words) == 3
    assert [w.text_equiv_unicode_at(0)[0] for w in words] == ["(", "484", ")"]


def test_total_counts(page):
    """FIXTURES.md §3: 31 TextLine / 258 Word elements in reading order."""
    lines = [l for r in page.regions() for l in r.lines()]
    words = [w for l in lines for w in l.words()]
    assert len(lines) == 31
    assert len(words) == 258


# Edge cases of the xmlpath-subset semantics
MINI = b"""<?xml version="1.0"?>
<PcGts xmlns:pc="http://example/pc">
  <Page>
    <pc:ReadingOrder>
      <pc:OrderedGroup>
        <pc:RegionRefIndexed index="1" regionRef="b"/>
        <pc:RegionRefIndexed index="0" regionRef="a"/>
        <pc:RegionRefIndexed regionRef="missing-index"/>
        <pc:RegionRefIndexed index="x" regionRef="bad-index"/>
        <pc:RegionRefIndexed index="2.5" regionRef="float-index"/>
        <pc:RegionRefIndexed index="2"/>
        <pc:RegionRefIndexed index="3" regionRef="dangling"/>
      </pc:OrderedGroup>
    </pc:ReadingOrder>
    <TextRegion id="a">
      <Coords points="10,20 30,5"/>
      <TextEquiv><Unicode>first</Unicode></TextEquiv>
      <TextEquiv><Unicode>alt</Unicode></TextEquiv>
    </TextRegion>
    <TextRegion id="b">
      <TextEquiv><Unicode></Unicode></TextEquiv>
    </TextRegion>
  </Page>
</PcGts>
"""


def test_malformed_reading_order_entries_skipped():
    page = Page.from_bytes(MINI)
    assert [(r.id(), r.index) for r in page.regions()] == [
        ("a", 0),
        ("b", 1),
        ("dangling", 3),
    ]


FULLY_NAMESPACED = b"""<?xml version="1.0"?>
<pc:PcGts xmlns:pc="http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15">
  <pc:Page>
    <pc:ReadingOrder><pc:OrderedGroup>
      <pc:RegionRefIndexed index="0" regionRef="r1"/>
    </pc:OrderedGroup></pc:ReadingOrder>
    <pc:TextRegion id="r1">
      <pc:Coords points="1,1 9,9"/>
      <pc:TextLine id="l1"><pc:Word id="w1">
        <pc:TextEquiv><pc:Unicode>word</pc:Unicode></pc:TextEquiv></pc:Word>
        <pc:TextEquiv><pc:Unicode>line text</pc:Unicode></pc:TextEquiv>
      </pc:TextLine>
      <pc:TextEquiv><pc:Unicode>region text</pc:Unicode></pc:TextEquiv>
    </pc:TextRegion>
  </pc:Page>
</pc:PcGts>
"""


def test_fully_namespaced_document():
    """The kant fixture namespaces only the ReadingOrder; a document with
    EVERY element prefixed must behave identically (local-name matching
    is global, SURVEY.md §1.3)."""
    page = Page.from_bytes(FULLY_NAMESPACED)
    region = page.find_region_by_id("r1")
    assert region is not None
    assert region.text_equiv_unicode_at(0) == ("region text", True)
    assert region.polygon().rectangle() == Rect(1, 1, 9, 9)
    line = region.find_line_by_id("l1")
    assert line.text_equiv_unicode_at(0) == ("line text", True)
    word = line.find_word_by_id("w1")
    assert word.text_equiv_unicode_at(0) == ("word", True)
    assert isinstance(page.find(Match(region_id="r1", word_id="w1")), Word)
    # extraction + differential agree too
    from gocrd_spark.extract import extract_document
    from gocrd_spark.fastextract import extract_document_fast

    assert extract_document(FULLY_NAMESPACED)["text"] == "region text"
    assert extract_document_fast(FULLY_NAMESPACED) == extract_document(
        FULLY_NAMESPACED
    )


def test_out_of_range_index_skipped_like_atoi_errrange():
    """strconv.Atoi returns ErrRange beyond int64 -> the reference skips
    the entry (page/page.go:220-222,144-146); we must too."""
    doc = (
        b'<PcGts><Page><ReadingOrder><g>'
        b'<RegionRefIndexed index="99999999999999999999" regionRef="big"/>'
        b'<RegionRefIndexed index="0" regionRef="ok"/></g></ReadingOrder>'
        b'<TextRegion id="big"><TextEquiv><Unicode>NO</Unicode></TextEquiv></TextRegion>'
        b'<TextRegion id="ok"><TextEquiv><Unicode>yes</Unicode></TextEquiv></TextRegion>'
        b"</Page></PcGts>"
    )
    page = Page.from_bytes(doc)
    assert [(r.id(), r.index) for r in page.regions()] == [("ok", 0)]
    from gocrd_spark.extract import extract_document
    from gocrd_spark.fastextract import extract_document_fast

    assert extract_document(doc)["text"] == "yes"
    assert extract_document_fast(doc)["text"] == "yes"


def test_positional_text_equiv():
    page = Page.from_bytes(MINI)
    a = page.find_region_by_id("a")
    assert a.text_equiv_unicode_at(0) == ("first", True)
    assert a.text_equiv_unicode_at(1) == ("alt", True)
    assert a.text_equiv_unicode_at(2) == ("", False)
    # empty <Unicode/> matched -> ("", True) (SURVEY.md §2.1 P11)
    b = page.find_region_by_id("b")
    assert b.text_equiv_unicode_at(0) == ("", True)


def test_dangling_region_resolution():
    page = Page.from_bytes(MINI)
    d = page.find_region_by_id("dangling")
    assert d.text_equiv_unicode_at(0) == ("", False)
    assert d.lines() == []
    with pytest.raises(ValueError):
        d.polygon()


def test_polygon_errors():
    page = Page.from_bytes(MINI)
    with pytest.raises(ValueError):  # no Coords child
        page.find_region_by_id("b").polygon()
    assert page.find_region_by_id("a").polygon().rectangle() == Rect(10, 5, 30, 20)


@pytest.mark.parametrize(
    "points",
    ["10,20", "10,20 30", "10,20 30,40,50", "1.5,2 3,4", "a,b c,d", "10,20  30,40"],
)
def test_polygon_parse_failures(points):
    doc = (
        b'<PcGts><Page><pc:ReadingOrder xmlns:pc="u"><g>'
        b'<RegionRefIndexed index="0" regionRef="r"/></g></pc:ReadingOrder>'
        b'<TextRegion id="r"><Coords points="' + points.encode() + b'"/>'
        b"</TextRegion></Page></PcGts>"
    )
    region = Page.from_bytes(doc).find_region_by_id("r")
    with pytest.raises(ValueError):
        region.polygon()
