"""Arrow batch kernels — the only Python↔JVM surface of the engine.

Everything here is ``mapInPandas``-shaped (iterator of pandas DataFrames
in, iterator out): zero per-row Python UDFs (north rule). The kernels
call the pure-Python document model (gocrd_spark.extract), which is unit
tested without Spark; this module only adds batching, schema shaping and
per-partition counters.
"""

from __future__ import annotations

from typing import Iterator, Optional

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


def extract_batch(pdf: pd.DataFrame, max_doc_bytes: Optional[int] = None) -> pd.DataFrame:
    """One Arrow batch of (url, html) -> (url, text, spans, error).

    Routes per document kind (PAGE-XML reading-order walk, HTML
    boilerplate strip, METS -> error row; extract.extract_any_document).
    ``max_doc_bytes`` guards executor memory at crawl scale: a
    pathological multi-GB document becomes an error row instead of an
    OOM-killed worker."""
    out = {"url": [], "text": [], "spans": [], "error": []}
    for url, html in zip(pdf["url"], pdf["html"]):
        data = bytes(html) if html is not None else b""
        if max_doc_bytes is not None and len(data) > max_doc_bytes:
            out["url"].append(url)
            out["text"].append(None)
            out["spans"].append(None)
            out["error"].append(
                f"document too large: {len(data)} > max_doc_bytes={max_doc_bytes}"
            )
            continue
        result = extract_any_document(data)
        out["url"].append(url)
        out["text"].append(result["text"])
        out["spans"].append(result["spans"])
        out["error"].append(result["error"])
    return pd.DataFrame(out)


def extract_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield extract_batch(pdf)


def extract_kernel_factory(max_doc_bytes: Optional[int] = None):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extract_batch(pdf, max_doc_bytes=max_doc_bytes)

    return kernel


def mets_kernel_factory(use: str = "", file_id: str = "", mimetype: str = ""):
    """METS file-resolution kernel (Mets.Find, mets/mets.go:53-59) with
    the predicate pushed into the tree walk — rows that match nothing
    emit nothing (UDTF-shaped)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("url", "file_id", "mimetype", "flocat_type", "flocat_url")}
            for url, html in zip(pdf["url"], pdf["html"]):
                for rec in mets_records(
                    bytes(html) if html is not None else b"",
                    use=use,
                    file_id=file_id,
                    mimetype=mimetype,
                ):
                    out["url"].append(url)
                    out["file_id"].append(rec["file_id"])
                    out["mimetype"].append(rec["mimetype"])
                    out["flocat_type"].append(rec["flocat_type"])
                    out["flocat_url"].append(rec["flocat_url"])
            yield pd.DataFrame(out)

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

_PAGE_META_FIELDS = (
    "title", "description", "canonical_url", "og_title",
    "lang_attr", "robots", "noindex", "nofollow", "error",
)


def page_meta_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """One batch of (url, html) -> head metadata columns
    (htmlextract.page_meta) — shared by the streaming query surface
    (page_meta_kernel) and the resumable job's metadata side table."""
    from .htmlextract import page_meta

    out: dict[str, list] = {"url": []}
    out.update({k: [] for k in _PAGE_META_FIELDS})
    for url, html in zip(pdf["url"], pdf["html"]):
        meta = page_meta(bytes(html) if html is not None else b"")
        out["url"].append(url)
        for k in _PAGE_META_FIELDS:
            out[k].append(meta[k])
    return pd.DataFrame(out)


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


def feed_items_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(url, html) -> one row per feed ITEM (gocrd_spark.feed.parse_feed);
    non-feed / unparseable payloads emit one all-null row with the error
    string (absence is data, same contract as page_meta_kernel). Narrow
    map, no shuffle; item fan-out happens inside the task."""
    from .feed import parse_feed

    cols = list(FEED_ITEMS_SCHEMA.fieldNames())
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in cols}
        for url, html in zip(pdf["url"], pdf["html"]):
            parsed = parse_feed(bytes(html) if html is not None else b"")
            rows = parsed["items"] or [None]
            for item in rows:
                out["url"].append(url)
                out["feed_type"].append(parsed["feed_type"])
                out["feed_title"].append(parsed["feed_title"])
                out["item_idx"].append(None if item is None else item["idx"])
                out["item_title"].append(None if item is None else item["title"])
                out["item_link"].append(None if item is None else item["link"])
                out["item_published"].append(None if item is None else item["published"])
                out["item_summary"].append(None if item is None else item["summary"])
                out["error"].append(parsed["error"])
        yield pd.DataFrame(out)


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


def sitemap_urls_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(url, html) -> one row per sitemap ENTRY (feed.parse_sitemap);
    non-sitemap payloads emit one all-null row with the error string.
    Narrow map, no shuffle — same contract as feed_items_kernel."""
    from .feed import parse_sitemap

    cols = list(SITEMAP_URLS_SCHEMA.fieldNames())
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in cols}
        for url, html in zip(pdf["url"], pdf["html"]):
            parsed = parse_sitemap(bytes(html) if html is not None else b"")
            rows = parsed["entries"] or [None]
            for ent in rows:
                out["url"].append(url)
                out["kind"].append(parsed["kind"])
                out["entry_idx"].append(None if ent is None else ent["idx"])
                out["loc"].append(None if ent is None else ent["loc"])
                out["lastmod"].append(None if ent is None else ent["lastmod"])
                out["changefreq"].append(None if ent is None else ent["changefreq"])
                out["priority"].append(None if ent is None else ent["priority"])
                out["error"].append(parsed["error"])
        yield pd.DataFrame(out)


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

    cols = list(HTML_TABLES_SCHEMA.fieldNames())
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in cols}
        for url, html in zip(pdf["url"], pdf["html"]):
            parsed = extract_tables(bytes(html) if html is not None else b"")
            for cell in parsed["cells"]:
                out["url"].append(url)
                out["table_idx"].append(cell["table_idx"])
                out["row_idx"].append(cell["row_idx"])
                out["col_idx"].append(cell["col_idx"])
                out["is_header"].append(cell["is_header"])
                out["cell"].append(cell["cell"])
        yield pd.DataFrame(out)


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

    cols = list(JSONLD_BLOCKS_SCHEMA.fieldNames())
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in cols}
        for url, html in zip(pdf["url"], pdf["html"]):
            parsed = extract_jsonld(bytes(html) if html is not None else b"")
            for i, block in enumerate(parsed["blocks"]):
                out["url"].append(url)
                out["block_idx"].append(i)
                out["json"].append(block)
        yield pd.DataFrame(out)
