"""Contract of the (url, html) Arrow batch kernels, in pure pandas.

Every per-page kernel must emit, in input order, exactly the rows its
per-document function gives for each page: a null ``html`` reads as
empty bytes, ``url`` repeats on each output row, a page without rows
contributes none, and an empty batch still carries every output column.
"""

import datetime

import pandas as pd
import pytest

from gocrd_spark import datagen, kernel
from gocrd_spark.extract import extract_any_document, mets_records
from gocrd_spark.feed import parse_feed, parse_sitemap
from gocrd_spark.htmlextract import (
    extract_jsonld,
    extract_tables,
    page_meta,
    synth_table_html,
)

SF001_PAGES = 1000

FEED = (
    b'<?xml version="1.0"?><rss version="2.0"><channel><title>C</title>'
    b"<item><title>T0</title><link>https://f.test/0</link></item>"
    b"<item><title>T1</title><description>D1</description></item>"
    b"</channel></rss>"
)
SITEMAP = (
    b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
    b"<url><loc>https://s.test/a</loc><lastmod>2024-01-01</lastmod></url>"
    b"<url><loc>https://s.test/b</loc><priority>0.5</priority></url>"
    b"</urlset>"
)
JSONLD = (
    b'<html><head><script type="application/ld+json">{"@type":"A"}</script>'
    b'<script type="application/ld+json">{"i":1}</script></head></html>'
)


@pytest.fixture(scope="module")
def batch() -> pd.DataFrame:
    """The sf0.01 pages plus a null html, empty bytes, a feed, a
    sitemap, a page with tables and a JSON-LD page."""
    pages = datagen.pages_pdf(SF001_PAGES)
    extra = [
        ("https://k.test/null", None),
        ("https://k.test/empty", b""),
        ("https://k.test/feed", FEED),
        ("https://k.test/sitemap", SITEMAP),
        ("https://k.test/tables", synth_table_html(0)),
        ("https://k.test/jsonld", JSONLD),
    ]
    out = pd.concat(
        [
            pages[["url", "html"]],
            pd.DataFrame(extra, columns=["url", "html"]),
        ],
        ignore_index=True,
    )
    epoch = [int(ts.timestamp()) for ts in pages["warc_ts"]]
    # one page without a timestamp
    epoch[1] = None
    epoch += [int(datetime.datetime(2026, 1, 2).timestamp())] * len(extra)
    out.insert(1, "warc_ts_epoch", epoch)
    return out


def _extract_rows(data):
    r = extract_any_document(data)
    return [(r["text"], r["spans"], r["error"])]


_META = ("title", "description", "canonical_url", "og_title", "lang_attr",
         "robots", "noindex", "nofollow", "error")


def _mets_rows(data):
    return [
        (r["file_id"], r["mimetype"], r["flocat_type"], r["flocat_url"])
        for r in mets_records(data, use="", file_id="", mimetype="")
    ]


def _feed_rows(data):
    p = parse_feed(data)
    return [
        (p["feed_type"], p["feed_title"])
        + ((None,) * 5 if i is None else
           (i["idx"], i["title"], i["link"], i["published"], i["summary"]))
        + (p["error"],)
        for i in p["items"] or [None]
    ]


def _sitemap_rows(data):
    p = parse_sitemap(data)
    return [
        (p["kind"],)
        + ((None,) * 5 if e is None else
           (e["idx"], e["loc"], e["lastmod"], e["changefreq"], e["priority"]))
        + (p["error"],)
        for e in p["entries"] or [None]
    ]


def _table_rows(data):
    return [
        (c["table_idx"], c["row_idx"], c["col_idx"], c["is_header"], c["cell"])
        for c in extract_tables(data)["cells"]
    ]


def _jsonld_rows(data):
    return list(enumerate(extract_jsonld(data)["blocks"]))


# kernel, output schema, per-document rows (the columns after url), and
# whether some pages of the batch give no rows
KERNELS = {
    "extract": (kernel.extract_kernel(None), kernel.EXTRACTED_SCHEMA,
                _extract_rows, False),
    "page_meta": (kernel.page_meta_kernel, kernel.PAGE_META_SCHEMA,
                  lambda data: [tuple(page_meta(data)[k] for k in _META)], False),
    "mets": (kernel.mets_kernel_factory(), kernel.METS_FILES_SCHEMA,
             _mets_rows, True),
    "feed": (kernel.feed_items_kernel, kernel.FEED_ITEMS_SCHEMA,
             _feed_rows, False),
    "sitemap": (kernel.sitemap_urls_kernel, kernel.SITEMAP_URLS_SCHEMA,
                _sitemap_rows, False),
    "tables": (kernel.html_tables_kernel, kernel.HTML_TABLES_SCHEMA,
               _table_rows, True),
    "jsonld": (kernel.jsonld_blocks_kernel, kernel.JSONLD_BLOCKS_SCHEMA,
               _jsonld_rows, True),
}


def _norm(row) -> tuple:
    """A row as a tuple, a missing value (None or NaN) as None."""
    return tuple(None if not isinstance(v, list) and pd.isna(v) else v for v in row)


def _expected(batch: pd.DataFrame, name: str, rows_of) -> list[tuple]:
    want = []
    for rec in batch.itertuples(index=False):
        data = b"" if rec.html is None else bytes(rec.html)
        head = (rec.url, rec.warc_ts_epoch) if name == "page_meta" else (rec.url,)
        want += [_norm(head + tuple(row)) for row in rows_of(data)]
    return want


def _run(fn, pdf: pd.DataFrame) -> pd.DataFrame:
    frames = list(fn(iter([pdf])))
    assert len(frames) == 1
    return frames[0]


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_rows_equal_per_document_function(batch, name):
    fn, schema, rows_of, some_empty = KERNELS[name]
    got = _run(fn, batch)
    assert list(got.columns) == schema.fieldNames()
    want = _expected(batch, name, rows_of)
    assert [_norm(r) for r in got.itertuples(index=False)] == want
    urls = set(got["url"])
    if some_empty:
        # pages with no rows contribute none, and the batch has some
        assert urls < set(batch["url"])
    else:
        assert urls == set(batch["url"])
    # the null html reads as empty bytes
    null_rows = [r[1:] for r in want if r[0] == "https://k.test/null"]
    assert null_rows == [
        r[1:] for r in want if r[0] == "https://k.test/empty"
    ]


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_empty_batch_has_schema_columns(batch, name):
    fn, schema, _, _ = KERNELS[name]
    got = _run(fn, batch.iloc[:0])
    assert list(got.columns) == schema.fieldNames()
    assert len(got) == 0


def test_fan_out_pages_give_rows(batch):
    """The batch holds a page that gives each fan-out kernel rows."""
    def n_rows(name, url):
        return int((_run(KERNELS[name][0], batch)["url"] == url).sum())

    assert n_rows("feed", "https://k.test/feed") == 2
    assert n_rows("sitemap", "https://k.test/sitemap") == 2
    assert n_rows("jsonld", "https://k.test/jsonld") == 2
    assert n_rows("tables", "https://k.test/tables") > 0
    assert len(_run(KERNELS["mets"][0], batch)) > 0
