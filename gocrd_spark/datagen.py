"""Deterministic synthesis of the ``pages`` input table (FIXTURES.md §1).

The input contract (BASELINE.json ``input_hint``) is an Iceberg table of
Common-Crawl-style pages: ``(url string, warc_ts timestamp, html binary,
text string, lang string)``. No such table ships with the sandbox, so we
synthesize it deterministically (seed=42, keyed per ``doc_id`` so any
subset/ordering/partitioning yields identical rows — generation is an
embarrassingly-parallel narrow map, done *in Spark* for bench scale).

Row mix (per FIXTURES.md §1, extended):
- two reserved rows carry the reference fixtures verbatim
  (``.../kant-0020`` = kant PAGE-XML, ``.../mets-0001`` = METS manifest);
- ``doc_id % 10 == 7`` -> a synthetic METS manifest (METS query volume);
- ``doc_id % 101 == 100`` -> truncated/garbage bytes (error-row path);
- otherwise a synthetic PAGE-XML document: k regions under a
  shuffled-index ReadingOrder, one unreferenced SeparatorRegion (must
  stay invisible, page/page_test.go:23), an occasional malformed
  RegionRefIndexed missing @index (silent-skip path, page/page.go:144-146),
  namespaced pc: prefixes on the ReadingOrder (namespace-blindness),
  and text drawn from a seeded word list incl. ``ſ``/``aͤ``/``ü``.
"""

from __future__ import annotations

import datetime
import os
import random
import tempfile
from typing import Iterator, Optional

import pandas as pd

SEED = 42
EPOCH = datetime.datetime(2026, 1, 1)
# bump when row synthesis changes — cache directories embed this so stale
# tables generated by an older datagen are never reused
DATAGEN_VERSION = 3

WORDS = [
    "gewiegelt", "worden", "ſo", "ſchaͤdlich", "iſt", "Vorurtheile",
    "Aufklaͤrung", "Unmuͤndigkeit", "Verſtandes", "räſonnirt", "Freiheit",
    "öffentlichen", "Gebrauch", "Vernunft", "über", "büßen", "dieſer",
    "zuletzt", "raͤchen", "Menſchen", "ſelbſt", "und", "der", "die", "das",
    "zu", "von", "nicht", "aber", "wird", "erfordert", "als", "eben",
]

KANT_URL = "https://crawl.test/kant-0020"
METS_URL = "https://crawl.test/mets-0001"


def cache_dir(name: str) -> str:
    """Directory of one generated-input cache (pages, media, PDFs) under
    the system temp root, so ``TMPDIR`` moves every cache at once."""
    return os.path.join(tempfile.gettempdir(), name)


def _fixture(name: str) -> bytes:
    """Reference fixture bytes, shipped as package data under
    gocrd_spark/data/ — readable via importlib.resources even when the
    package is deployed as a --py-files zip (a plain open() relative to
    __file__ cannot read inside a zip)."""
    from importlib import resources

    return resources.files("gocrd_spark").joinpath("data", name).read_bytes()


def synth_page_xml(rng: random.Random) -> bytes:
    """One synthetic PAGE-XML document exercising every kernel path."""
    return synth_page_with_spec(rng)[0]


def synth_page_with_spec(rng: random.Random) -> tuple[bytes, dict]:
    """Bytes plus the TEMPLATE SPEC (which regions exist, their texts,
    which ReadingOrder refs are well-formed) — the spec lets the golden
    generator compute the expected extraction from the specification
    instead of running any extractor (tools/gen_goldens.py)."""
    n_regions = rng.randint(1, 6)
    indices = list(range(n_regions))
    rng.shuffle(indices)  # ReadingOrder must be sorted by the kernel
    refs = []
    ref_entries: list[tuple[int, str]] = []  # well-formed (index, regionRef)
    for i, idx in enumerate(indices):
        if rng.random() < 0.05:  # malformed: missing @index -> silently skipped
            refs.append(f'        <pc:RegionRefIndexed regionRef="r_{i}"/>')
        else:
            refs.append(f'        <pc:RegionRefIndexed index="{idx}" regionRef="r_{i}"/>')
            ref_entries.append((idx, f"r_{i}"))
    if rng.random() < 0.10:  # dangling ref: no TextRegion with this id
        refs.append(
            f'        <pc:RegionRefIndexed index="{n_regions}" regionRef="r_missing"/>'
        )
        ref_entries.append((n_regions, "r_missing"))
    region_texts: dict[str, str] = {}
    regions = []
    for i in range(n_regions):
        n_lines = rng.randint(1, 4)
        lines = []
        line_texts = []
        for j in range(n_lines):
            n_words = rng.randint(2, 8)
            words = [rng.choice(WORDS) for _ in range(n_words)]
            line_text = " ".join(words)
            line_texts.append(line_text)
            x0, y0 = rng.randint(0, 1200), rng.randint(0, 1800)
            word_xml = "".join(
                f'\n          <Word id="w_{i}_{j}_{k}">'
                f'<Coords points="{x0+k*40},{y0} {x0+k*40+35},{y0+30}"/>'
                f"<TextEquiv><Unicode>{w}</Unicode></TextEquiv></Word>"
                for k, w in enumerate(words)
            )
            lines.append(
                f'        <TextLine id="tl_{i}_{j}">'
                f'<Coords points="{x0},{y0} {x0+800},{y0+40}"/>'
                f"{word_xml}\n          <TextEquiv><Unicode>{line_text}</Unicode>"
                f"</TextEquiv></TextLine>"
            )
        region_text = "\n\t\t\t\t".join(line_texts)  # kant-style embedded whitespace
        region_texts[f"r_{i}"] = region_text
        x0, y0 = rng.randint(0, 1000), rng.randint(0, 1500)
        regions.append(
            f'      <TextRegion type="paragraph" id="r_{i}">\n'
            f'        <Coords points="{x0},{y0} {x0+850},{y0} {x0+850},{y0+500} {x0},{y0+500}"/>\n'
            + "\n".join(lines)
            + f"\n        <TextEquiv><Unicode>{region_text}</Unicode></TextEquiv>\n"
            f"      </TextRegion>"
        )
    # unreferenced SeparatorRegion: must not appear in output
    separator = (
        '      <SeparatorRegion id="sep_1">'
        '<Coords points="0,0 10,10"/></SeparatorRegion>'
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<PcGts xmlns:pc="http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15">\n'
        "  <Page>\n"
        "    <pc:ReadingOrder>\n"
        '      <pc:OrderedGroup id="ro_1">\n'
        + "\n".join(refs)
        + "\n      </pc:OrderedGroup>\n"
        "    </pc:ReadingOrder>\n"
        + "\n".join(regions)
        + "\n"
        + separator
        + "\n  </Page>\n</PcGts>\n"
    )
    return doc.encode("utf-8"), {
        "ref_entries": ref_entries,
        "region_texts": region_texts,
    }


def synth_html_doc(rng: random.Random) -> bytes:
    """Synthetic HTML page: nav/header/footer boilerplate around a main
    article — exercises the boilerplate-strip path (htmlextract)."""
    return synth_html_with_spec(rng)[0]


def synth_html_with_spec(
    rng: random.Random, canonical_url: Optional[str] = None
) -> tuple[bytes, dict]:
    """Bytes plus the template spec (title and paragraph texts, plus the
    HEAD METADATA the page_metadata tier extracts: ``meta`` carries the
    EXPECTED decoded values — title after entity decoding, description,
    raw robots directive string, canonical href (only when the template
    actually emits the <link>), og:title, html@lang).

    All metadata draws happen AFTER the body draws, so body text (and
    therefore the extraction goldens' content) is unchanged from
    DATAGEN_VERSION 2; metadata lives strictly inside <head> (plus the
    <html lang> attribute), so block ordinals in the boilerplate-strip
    spec arithmetic (tools/gen_goldens.py html branch) are unchanged
    too."""
    nav_links = " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.sample(WORDS, 6)
    )
    paras = []
    para_texts = []
    for _ in range(rng.randint(2, 6)):
        words = [rng.choice(WORDS) for _ in range(rng.randint(15, 40))]
        paras.append(f"<p>{' '.join(words)}</p>")
        para_texts.append(" ".join(words))
    title_words = " ".join(rng.choice(WORDS) for _ in range(4))
    # -- head metadata draws (strictly after all body draws) --------------
    lang_attr = rng.choice(("de", "en", "la", None))
    title = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 5)))
    amp_title = rng.random() < 0.2  # exercises the charref-decode path
    title_html = title.replace(" ", " &amp; ", 1) if amp_title else title
    title_text = title.replace(" ", " & ", 1) if amp_title else title
    desc = (
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(6, 14)))
        if rng.random() < 0.7
        else None
    )
    robots = rng.choice(
        (None, None, None, "noindex", "nofollow",
         "noindex, nofollow", "NOINDEX,NOFOLLOW", "none")
    )
    og = rng.random() < 0.4
    has_canon = canonical_url is not None and rng.random() < 0.6
    head = f"<title>{title_html}</title>"
    if desc is not None:
        head += f'<meta name="description" content="{desc}">'
    if robots is not None:
        head += f'<meta name="robots" content="{robots}">'
    if has_canon:
        head += f'<link rel="canonical" href="{canonical_url}">'
    if og:
        head += f'<meta property="og:title" content="{title}">'
    html_open = f'<html lang="{lang_attr}">' if lang_attr else "<html>"
    doc = (
        f"<!DOCTYPE html>\n{html_open}<head>{head}"
        "<script>var x = 'never extracted';</script>"
        "<style>.a{color:red}</style></head>\n<body>"
        f'<header><nav>{nav_links}</nav></header>'
        f"<article><h1>{title_words}</h1>\n" + "\n".join(paras) + "</article>"
        f'<aside>{" ".join(rng.sample(WORDS, 8))}</aside>'
        f"<footer>{nav_links}</footer>"
        "</body></html>\n"
    )
    meta = {
        "title": title_text,
        "description": desc,
        "robots": robots,
        "canonical": canonical_url if has_canon else None,
        "og_title": title if og else None,
        "lang_attr": lang_attr,
    }
    return doc.encode("utf-8"), {
        "title": title_words, "paras": para_texts, "meta": meta,
    }


def synth_mets_xml(rng: random.Random) -> bytes:
    """Synthetic METS manifest with namespaced elements + a commented file."""
    return synth_mets_with_spec(rng)[0]


def synth_mets_with_spec(rng: random.Random) -> tuple[bytes, dict]:
    """Bytes plus the template spec (fileGrp USE -> file count)."""
    groups = []
    group_files: list[tuple[str, int]] = []
    for use in ("OCR-D-IMG", "OCR-D-GT-PAGE", "OCR-D-GT-ALTO"):
        n_files = rng.randint(0, 3)
        group_files.append((use, n_files))
        files = "".join(
            f'\n      <mets:file ID="{use}_{i:04d}" MIMETYPE="application/alto+xml">'
            f'\n        <mets:FLocat LOCTYPE="URL" xlink:href="https://files.test/{use}/{i:04d}.xml"/>'
            f"\n      </mets:file>"
            for i in range(n_files)
        )
        comment = (
            '\n      <!-- <mets:file ID="GHOST" MIMETYPE="image/tiff"/> -->'
            if rng.random() < 0.3
            else ""
        )
        groups.append(f'    <mets:fileGrp USE="{use}">{comment}{files}\n    </mets:fileGrp>')
    doc = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<mets:mets xmlns:mets="http://www.loc.gov/METS/"'
        ' xmlns:xlink="http://www.w3.org/1999/xlink">\n  <mets:fileSec>\n'
        + "\n".join(groups)
        + "\n  </mets:fileSec>\n</mets:mets>\n"
    )
    return doc.encode("utf-8"), {"group_files": group_files}


def make_row(doc_id: int) -> dict:
    """Deterministic row for a doc_id — independent of generation order."""
    return make_row_with_spec(doc_id)[0]


def make_row_with_spec(doc_id: int) -> tuple[dict, str, Optional[dict]]:
    """(row, kind, template spec). kind classifies the payload template:
    'kant' / 'mets_fixture' (verbatim reference fixtures), 'garbage',
    'mets', 'html', 'page'. The spec (for mets/html/page) carries the
    sampled template parameters so expected outputs are computable from
    the SPECIFICATION (tools/gen_goldens.py) without running extractors."""
    rng = random.Random(SEED * 0x9E3779B9 + doc_id)  # per-doc seed: order-independent
    url = f"https://crawl.test/{doc_id:08d}"
    warc_ts = EPOCH + datetime.timedelta(days=doc_id % 30)
    if doc_id == 0:
        row = {
            "url": KANT_URL,
            "warc_ts": warc_ts,
            "html": _fixture("kant_aufklaerung_1784_0020.xml"),
            "text": "",
            "lang": "de",
        }
        return row, "kant", None
    if doc_id == 1:
        row = {
            "url": METS_URL,
            "warc_ts": warc_ts,
            "html": _fixture("mets.xml"),
            "text": "",
            "lang": "de",
        }
        return row, "mets_fixture", None
    if doc_id % 101 == 100:  # malformed payload -> error row
        html = b"<PcGts><Page><broken " + bytes([rng.randint(32, 126) for _ in range(64)])
        lang = "xx"
        kind, spec = "garbage", None
    elif doc_id % 10 == 7:  # METS manifest
        html, spec = synth_mets_with_spec(rng)
        lang = "la"
        kind = "mets"
    elif doc_id % 10 == 3:  # plain HTML page (boilerplate-strip path)
        # canonical-link target: the lowest html doc_id in this block of
        # 50 ((g*50)+3 is always ≡3 mod 10) — pages sharing a target form
        # the canonical-dedup groups; the target page itself is
        # self-canonical when its own rng draw emits the <link>
        canon = f"https://crawl.test/{(doc_id // 50) * 50 + 3:08d}"
        html, spec = synth_html_with_spec(rng, canonical_url=canon)
        lang = ("de", "en", "la")[doc_id % 3]
        kind = "html"
    else:
        html, spec = synth_page_with_spec(rng)
        lang = ("de", "en", "la")[doc_id % 3]
        kind = "page"
    row = {"url": url, "warc_ts": warc_ts, "html": html, "text": "", "lang": lang}
    return row, kind, spec


def pages_pdf(n_docs: int) -> pd.DataFrame:
    """Small-scale pandas synthesis (tests)."""
    return pd.DataFrame([make_row(i) for i in range(n_docs)])


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_df(spark, n_docs: int, num_partitions: Optional[int] = None):
    """Spark-parallel synthesis: a narrow map over spark.range — scales to
    bench sizes on all cores with no driver-side materialization."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame([make_row(int(i)) for i in batch["id"]])

    rng_df = spark.range(0, n_docs, 1, num_partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, PAGES_SCHEMA)


def write_pages(spark, n_docs: int, path: str, num_partitions: Optional[int] = None) -> str:
    """Materialize the synthetic table as parquet (bench cache)."""
    pages_df(spark, n_docs, num_partitions).write.mode("overwrite").parquet(path)
    return path


def write_pages_partitioned(
    spark, n_docs: int, path: str, num_partitions: Optional[int] = None
) -> str:
    """Materialize with day-level directory partitioning — the sandbox
    stand-in for Iceberg's hidden ``days(warc_ts)`` partitioning (no
    Iceberg runtime jar ships in this container; SURVEY.md §7 step 6
    'parquet fallback'). A ``warc_ts`` range scan prunes whole
    directories at planning time (PartitionFilters in .explain)."""
    from pyspark.sql import functions as F

    df = pages_df(spark, n_docs, num_partitions).withColumn(
        "warc_day", F.date_format("warc_ts", "yyyy-MM-dd")
    )
    df.write.mode("overwrite").partitionBy("warc_day").parquet(path)
    return path
