"""1:1 port of the reference's METS tests (mets/mets_test.go) against the
same vendored fixture."""

import pytest

from gocrd_spark.datagen import _fixture
from gocrd_spark.mets import FLocat, File, Match, Mets


@pytest.fixture(scope="module")
def mets() -> Mets:
    return Mets.from_bytes(_fixture("mets.xml"))


# mets/mets_test.go:8-30
@pytest.mark.parametrize(
    "file_grp,n",
    [
        ("NOT-A-VALID-FILEGRP", 0),
        ("OCR-D-IMG", 0),  # only file is an XML comment -> invisible
        ("OCR-D-GT-PAGE", 1),
        ("OCR-D-GT-ALTO", 2),
    ],
)
def test_find_file_groups(mets, file_grp, n):
    assert len(mets.find_file_grp(file_grp)) == n


# mets/mets_test.go:32-59
@pytest.mark.parametrize(
    "match,n",
    [
        (Match(use="OCR-D-IMG"), 0),
        (Match(use="OCR-D-GT-PAGE"), 1),
        (Match(use="OCR-D-GT-ALTO"), 2),
        (Match(mimetype="application/alto+xml"), 2),
        (Match(mimetype="imge/tiff"), 0),
        (Match(mimetype="application/vnd.prima.page+xml"), 1),
        (Match(file_id="PAGE_0020_ALTO"), 1),
        (Match(file_id="PAGE_0020_PAGE"), 1),
        (Match(file_id="PAGE_0021_ALTO"), 1),
    ],
)
def test_find(mets, match, n):
    assert len(mets.find(match)) == n


# mets/mets_test.go:61-87 — full struct equality incl. xlink:href via @href
def test_files(mets):
    fs = mets.find_file_grp("OCR-D-GT-ALTO")
    assert fs[0] == File(
        mimetype="application/alto+xml",
        id="PAGE_0020_ALTO",
        flocat=FLocat(
            type="URL",
            url=(
                "https://github.com/OCR-D/assets/raw/master/data/"
                "kant_aufklaerung_1784/alto/kant_aufklaerung_1784_0020.xml"
            ),
        ),
    )


def test_conjunctive_match(mets):
    assert len(mets.find(Match(use="OCR-D-GT-ALTO", file_id="PAGE_0020_ALTO"))) == 1
    assert len(mets.find(Match(use="OCR-D-GT-PAGE", file_id="PAGE_0020_ALTO"))) == 0
    assert len(mets.find(Match())) == 3  # all wildcards -> every file


def test_non_mets_root_yields_nothing():
    assert Mets.from_bytes(b"<html><body/></html>").find(Match()) == []
