"""Arrow batch kernels — the only Python↔JVM surface of the engine.

Everything here is ``mapInPandas``-shaped (iterator of pandas DataFrames
in, iterator out): zero per-row Python UDFs (north rule). The kernels
call the pure-Python document model (gocrd_spark.extract), which is unit
tested without Spark; this module only adds batching and schema shaping.
Every (url, html) kernel is a per-document row function run by one
fan-out loop, ``_fan_out``.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Callable, Iterable, Iterator, Optional

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .extract import extract_any_document, mets_records

# long, not int: the reference parses @index and coordinates with
# strconv.Atoi (64-bit), so values beyond int32 are legal input that must
# not overflow the Arrow conversion
BBOX_TYPE = StructType(
    [
        StructField("x0", LongType()),
        StructField("y0", LongType()),
        StructField("x1", LongType()),
        StructField("y1", LongType()),
    ]
)

SPAN_TYPE = StructType(
    [
        StructField("region_id", StringType()),
        StructField("index", LongType()),
        StructField("byte_start", LongType()),
        StructField("byte_end", LongType()),
        StructField("char_start", LongType()),
        StructField("char_end", LongType()),
        StructField("bbox", BBOX_TYPE),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("error", StringType()),
    ]
)

METS_FILES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("file_id", StringType()),
        StructField("mimetype", StringType()),
        StructField("flocat_type", StringType()),
        StructField("flocat_url", StringType()),
    ]
)


def _fan_out(
    pdf: pd.DataFrame,
    columns: list[str],
    rows_of: Callable[[bytes], Iterable[tuple]],
) -> pd.DataFrame:
    """The one per-page loop of every (url, html) kernel: ``rows_of``
    maps a document's bytes (a null html reads as ``b""``) to its output
    rows, each a tuple of the values after ``url``, which repeats on
    every row. One Python list per column, so pandas infers each dtype
    from the values; an empty batch still has every column."""
    out: dict[str, list] = {c: [] for c in columns}
    urls, *values = out.values()
    for url, html in zip(pdf["url"], pdf["html"]):
        for row in rows_of(bytes(html) if html is not None else b""):
            urls.append(url)
            for col, value in zip(values, row):
                col.append(value)
    return pd.DataFrame(out)


_EXTRACTED = itemgetter("text", "spans", "error")


def extract_batch(pdf: pd.DataFrame, max_doc_bytes: Optional[int] = None) -> pd.DataFrame:
    """One Arrow batch of (url, html) -> (url, text, spans, error).

    Routes per document kind (PAGE-XML reading-order walk, HTML
    boilerplate strip, METS -> error row; extract.extract_any_document).
    ``max_doc_bytes`` guards executor memory at crawl scale: a
    pathological multi-GB document becomes an error row instead of an
    OOM-killed worker."""

    def rows(data: bytes):
        if max_doc_bytes is not None and len(data) > max_doc_bytes:
            error = f"document too large: {len(data)} > max_doc_bytes={max_doc_bytes}"
            return [(None, None, error)]
        return [_EXTRACTED(extract_any_document(data))]

    return _fan_out(pdf, EXTRACTED_SCHEMA.fieldNames(), rows)


def extract_kernel(max_doc_bytes: Optional[int] = None):
    """The extraction kernel over extract_batch; ``max_doc_bytes=None``
    runs without the size guard."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extract_batch(pdf, max_doc_bytes)

    return extract


_METS_FILE = itemgetter("file_id", "mimetype", "flocat_type", "flocat_url")


def mets_kernel_factory(use: str = "", file_id: str = "", mimetype: str = ""):
    """METS file-resolution kernel (Mets.Find, mets/mets.go:53-59) with
    the predicate pushed into the tree walk — rows that match nothing
    emit nothing (UDTF-shaped)."""

    def rows(data: bytes):
        found = mets_records(data, use=use, file_id=file_id, mimetype=mimetype)
        return map(_METS_FILE, found)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _fan_out(pdf, METS_FILES_SCHEMA.fieldNames(), rows)

    return kernel


PAGE_META_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts_epoch", LongType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("canonical_url", StringType()),
        StructField("og_title", StringType()),
        StructField("lang_attr", StringType()),
        StructField("robots", StringType()),
        StructField("noindex", LongType()),
        StructField("nofollow", LongType()),
        StructField("error", StringType()),
    ]
)

_PAGE_META_FIELDS = tuple(
    n for n in PAGE_META_SCHEMA.fieldNames() if n not in ("url", "warc_ts_epoch")
)
_PAGE_META = itemgetter(*_PAGE_META_FIELDS)


def page_meta_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """One batch of (url, html) -> head metadata columns
    (htmlextract.page_meta) — shared by the streaming query surface
    (page_meta_kernel) and the resumable job's metadata side table."""
    from .htmlextract import page_meta

    return _fan_out(
        pdf, ["url", *_PAGE_META_FIELDS], lambda data: [_PAGE_META(page_meta(data))]
    )


def page_meta_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(url, warc_ts_epoch, html) -> head metadata per page
    (htmlextract.page_meta). Narrow map, no shuffle: metadata extraction
    shares extraction's scan so at crawl scale it rides the same
    partitioning; payload bytes never leave the task."""
    for pdf in batches:
        out = page_meta_batch(pdf)
        out.insert(1, "warc_ts_epoch", pdf["warc_ts_epoch"].astype("Int64").array)
        yield out


def salted_partition_key(salt: int = 42):
    """Deterministic salted url-hash key (SURVEY.md §4.3): defeats
    host/domain-level input skew; keyed on (url, salt) so partition
    contents are stable across runs given the same snapshot + salt + N —
    the property the commit-log resume relies on (SURVEY.md §4.4)."""
    return F.xxhash64(F.col("url"), F.lit(salt))


def group_id(num_groups: int, salt: int = 42):
    """Logical commit-group id: pmod(xxhash64(url, salt), N)."""
    return F.pmod(salted_partition_key(salt), F.lit(num_groups)).cast("int")


FEED_ITEMS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("feed_type", StringType()),
        StructField("feed_title", StringType()),
        StructField("item_idx", LongType()),
        StructField("item_title", StringType()),
        StructField("item_link", StringType()),
        StructField("item_published", StringType()),
        StructField("item_summary", StringType()),
        StructField("error", StringType()),
    ]
)


_FEED_ITEM = itemgetter("idx", "title", "link", "published", "summary")


def feed_items_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(url, html) -> one row per feed ITEM (gocrd_spark.feed.parse_feed);
    non-feed / unparseable payloads emit one all-null row with the error
    string (absence is data, same contract as page_meta_kernel). Narrow
    map, no shuffle; item fan-out happens inside the task."""
    from .feed import parse_feed

    def rows(data: bytes):
        p = parse_feed(data)
        for item in p["items"] or [None]:
            values = (None,) * 5 if item is None else _FEED_ITEM(item)
            yield (p["feed_type"], p["feed_title"], *values, p["error"])

    for pdf in batches:
        yield _fan_out(pdf, FEED_ITEMS_SCHEMA.fieldNames(), rows)


SITEMAP_URLS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("kind", StringType()),
        StructField("entry_idx", LongType()),
        StructField("loc", StringType()),
        StructField("lastmod", StringType()),
        StructField("changefreq", StringType()),
        StructField("priority", StringType()),
        StructField("error", StringType()),
    ]
)


_SITEMAP_ENTRY = itemgetter("idx", "loc", "lastmod", "changefreq", "priority")


def sitemap_urls_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(url, html) -> one row per sitemap ENTRY (feed.parse_sitemap);
    non-sitemap payloads emit one all-null row with the error string.
    Narrow map, no shuffle — same contract as feed_items_kernel."""
    from .feed import parse_sitemap

    def rows(data: bytes):
        p = parse_sitemap(data)
        for entry in p["entries"] or [None]:
            values = (None,) * 5 if entry is None else _SITEMAP_ENTRY(entry)
            yield (p["kind"], *values, p["error"])

    for pdf in batches:
        yield _fan_out(pdf, SITEMAP_URLS_SCHEMA.fieldNames(), rows)


HTML_TABLES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("table_idx", LongType()),
        StructField("row_idx", LongType()),
        StructField("col_idx", LongType()),
        StructField("is_header", LongType()),
        StructField("cell", StringType()),
    ]
)


def html_tables_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(url, html) -> one row per table CELL (gocrd_spark.htmlextract.
    extract_tables): (url, table_idx, row_idx, col_idx, is_header,
    cell). Pages without tables contribute zero rows — absence is
    data. Narrow map, no shuffle; the cell fan-out happens inside the
    task, payload bytes never move."""
    from .htmlextract import extract_tables

    columns = HTML_TABLES_SCHEMA.fieldNames()
    cell = itemgetter(*columns[1:])
    for pdf in batches:
        yield _fan_out(pdf, columns, lambda data: map(cell, extract_tables(data)["cells"]))


JSONLD_BLOCKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("block_idx", LongType()),
        StructField("json", StringType()),
    ]
)


def jsonld_blocks_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(url, html) -> one row per <script type=application/ld+json>
    block (url, block_idx, json raw text). Pages without structured
    data contribute zero rows. Narrow map, no shuffle."""
    from .htmlextract import extract_jsonld

    for pdf in batches:
        yield _fan_out(
            pdf,
            JSONLD_BLOCKS_SCHEMA.fieldNames(),
            lambda data: enumerate(extract_jsonld(data)["blocks"]),
        )
