"""Differential tests: the streaming (expat) extractor must produce
byte-identical results to the DOM reference implementation on goldens,
synthetic corpus rows, and hypothesis-generated documents."""

import hashlib

from hypothesis import given, settings

from gocrd_spark import datagen
from gocrd_spark.extract import extract_document
from gocrd_spark.fastextract import extract_document_fast
from tests.test_properties import page_doc


def _assert_same(data: bytes) -> None:
    slow = extract_document(data)
    fast = extract_document_fast(data)
    if slow["error"] is not None:
        assert fast["error"] is not None and fast["text"] is None
        return
    assert fast["error"] is None
    assert fast["text"] == slow["text"]
    assert fast["spans"] == slow["spans"]


def test_golden_fixture():
    data = datagen._fixture("kant_aufklaerung_1784_0020.xml")
    fast = extract_document_fast(data)
    assert (
        hashlib.sha256(fast["text"].encode()).hexdigest()
        == "7bac7349cf86baac9834073fbfd7e589efa9d716e28578d6940362a02c7ec065"
    )
    _assert_same(data)


def test_synthetic_corpus_rows():
    for i in range(400):
        _assert_same(datagen.make_row(i)["html"])


@settings(max_examples=150, deadline=None)
@given(page_doc())
def test_differential_on_generated_docs(case):
    data, _, _ = case
    _assert_same(data)


def test_edge_documents():
    cases = [
        b"",
        b"not xml",
        b"<PcGts/>",
        b"<PcGts><Page/></PcGts>",
        b"<other><Page><ReadingOrder/></Page></other>",
        # duplicate region ids: first TextRegion wins
        (
            b'<PcGts><Page><ReadingOrder><g><RegionRefIndexed index="0" regionRef="r"/>'
            b"</g></ReadingOrder>"
            b'<TextRegion id="r"><TextEquiv><Unicode>first</Unicode></TextEquiv></TextRegion>'
            b'<TextRegion id="r"><TextEquiv><Unicode>second</Unicode></TextEquiv></TextRegion>'
            b"</Page></PcGts>"
        ),
        # duplicated reading-order ref -> region emitted twice
        (
            b'<PcGts><Page><ReadingOrder><g><RegionRefIndexed index="1" regionRef="r"/>'
            b'<RegionRefIndexed index="0" regionRef="r"/></g></ReadingOrder>'
            b'<TextRegion id="r"><TextEquiv><Unicode>x</Unicode></TextEquiv></TextRegion>'
            b"</Page></PcGts>"
        ),
        # first TextEquiv without Unicode shadows a second one that has it
        (
            b'<PcGts><Page><ReadingOrder><g><RegionRefIndexed index="0" regionRef="r"/>'
            b"</g></ReadingOrder>"
            b'<TextRegion id="r"><TextEquiv/><TextEquiv><Unicode>hidden</Unicode>'
            b"</TextEquiv></TextRegion></Page></PcGts>"
        ),
        # Coords without points followed by Coords with points
        (
            b'<PcGts><Page><ReadingOrder><g><RegionRefIndexed index="0" regionRef="r"/>'
            b"</g></ReadingOrder>"
            b'<TextRegion id="r"><Coords/><Coords points="1,2 3,4"/>'
            b"<TextEquiv><Unicode>t</Unicode></TextEquiv></TextRegion></Page></PcGts>"
        ),
        # nested TextRegion must not leak its text into the outer region
        (
            b'<PcGts><Page><ReadingOrder><g><RegionRefIndexed index="0" regionRef="o"/>'
            b'<RegionRefIndexed index="1" regionRef="n"/></g></ReadingOrder>'
            b'<TextRegion id="o"><TextRegion id="n"><TextEquiv><Unicode>inner'
            b"</Unicode></TextEquiv></TextRegion>"
            b"<TextEquiv><Unicode>outer</Unicode></TextEquiv></TextRegion>"
            b"</Page></PcGts>"
        ),
        # entity + CDATA + multibyte in Unicode
        (
            b'<PcGts><Page><ReadingOrder><g><RegionRefIndexed index="0" regionRef="r"/>'
            b"</g></ReadingOrder>"
            b'<TextRegion id="r"><TextEquiv><Unicode>a&amp;b<![CDATA[<c>]]>\xc5\xbf'
            b"</Unicode></TextEquiv></TextRegion></Page></PcGts>"
        ),
        # comment-wrapped region ref is invisible
        (
            b"<PcGts><Page><ReadingOrder><g>"
            b'<!-- <RegionRefIndexed index="0" regionRef="r"/> -->'
            b"</g></ReadingOrder>"
            b'<TextRegion id="r"><TextEquiv><Unicode>t</Unicode></TextEquiv>'
            b"</TextRegion></Page></PcGts>"
        ),
    ]
    for data in cases:
        _assert_same(data)


def test_nested_markup_inside_unicode_string_value():
    data = (
        b'<PcGts><Page><ReadingOrder><g><RegionRefIndexed index="0" regionRef="r"/>'
        b"</g></ReadingOrder>"
        b'<TextRegion id="r"><TextEquiv><Unicode>pre<em>mid</em>post</Unicode>'
        b"</TextEquiv></TextRegion></Page></PcGts>"
    )
    _assert_same(data)
    assert extract_document_fast(data)["text"] == "premidpost"
