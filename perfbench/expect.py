"""What the program should output, computed apart from it.

- Extraction: every url's text, error presence and spans, from the
  datagen template spec by the offset arithmetic of
  ``tools/gen_goldens.build_tables`` (no extractor runs, except the
  independent expat walker for the kant fixture and the garbage rows,
  as in the goldens).
- Queries: each query's ``oracle_sql()`` DuckDB twin over the same
  input tables, compared by the order-insensitive value hash of
  ``tools/check_oracles.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.getcwd()
KANT_SHA256 = "7bac7349cf86baac9834073fbfd7e589efa9d716e28578d6940362a02c7ec065"


def _tools():
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    import check_oracles
    import gen_goldens

    return gen_goldens, check_oracles


def expected_extraction(rows: list[tuple]) -> dict[str, list]:
    """``datagen.make_row_with_spec`` triples -> {url: [text, has_error,
    spans]}; spans are [region_id, index, byte_start, byte_end,
    char_start, char_end]."""
    gg, _ = _tools()
    from gocrd_spark.fastextract import extract_document_fast

    out: dict[str, list] = {}
    for row, kind, spec in rows:
        url, html = row["url"], row["html"]
        if kind == "kant":
            text, spans = gg._expected_fixture_page(html)
        elif kind in ("mets_fixture", "mets"):
            text, spans = None, []
        elif kind == "garbage":
            if extract_document_fast(html)["error"] is None:
                raise ValueError(f"garbage row {url} parses")
            text, spans = None, []
        elif kind == "html":
            blocks = [("b3", 3, spec["title"])] + [
                (f"b{5 + 2 * j}", 5 + 2 * j, p) for j, p in enumerate(spec["paras"])
            ]
            text, spans = gg._spans_from_blocks(blocks)
        else:  # page
            entries = sorted(spec["ref_entries"], key=lambda e: e[0])
            blocks = [
                (rid, idx, spec["region_texts"][rid])
                for idx, rid in entries
                if rid in spec["region_texts"]
            ]
            text, spans = gg._spans_from_blocks(blocks)
        out[url] = [text, text is None, [list(s) for s in spans]]
    return out


def check_extract_output(output_dir: str, expected: dict[str, list]) -> set[str]:
    """Urls whose output is wrong, missing or repeated in one job pass.
    A broken commit log fails every url of the pass."""
    import pyarrow.parquet as pq

    bad: set[str] = set()
    seen: dict[str, int] = {}
    data_dir = os.path.join(output_dir, "data")
    for gdir in sorted(os.listdir(data_dir)):
        for name in sorted(os.listdir(os.path.join(data_dir, gdir))):
            if not name.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(data_dir, gdir, name),
                              columns=["url", "text", "spans", "error"])
            for url, text, spans, error in zip(*(t.column(c).to_pylist() for c in
                                                 ("url", "text", "spans", "error"))):
                seen[url] = seen.get(url, 0) + 1
                exp = expected.get(url)
                got_spans = [
                    [s["region_id"], s["index"], s["byte_start"], s["byte_end"],
                     s["char_start"], s["char_end"]]
                    for s in spans or []
                ]
                if exp is None or exp != [text, error is not None, got_spans]:
                    bad.add(url)
                elif text is not None and url.endswith("/kant-0020") and (
                    hashlib.sha256(text.encode()).hexdigest() != KANT_SHA256
                ):
                    bad.add(url)
    bad.update(u for u, n in seen.items() if n != 1)
    bad.update(u for u in expected if u not in seen)
    if not _commit_log_ok(output_dir, len(expected)):
        bad.update(expected)
    return bad


def _commit_log_ok(output_dir: str, n_docs: int) -> bool:
    """64 markers, sum of input_rows = input docs, ok + err = input per
    marker."""
    cdir = os.path.join(output_dir, "_commits")
    markers = []
    for name in os.listdir(cdir):
        if name.startswith("g=") and name.endswith(".json"):
            with open(os.path.join(cdir, name)) as fh:
                markers.append(json.load(fh))
    return (
        len(markers) == 64
        and sum(m["input_rows"] for m in markers) == n_docs
        and all(m["ok_rows"] + m["err_rows"] == m["input_rows"] for m in markers)
    )


class QueryOracle:
    """Each query's DuckDB twin, evaluated once, as a value hash."""

    def __init__(self, sf_dir: str, names: list[str]):
        import duckdb

        import __spark_entry__ as entry

        _, co = _tools()
        self._co = co
        con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, f)}')"
                )
        sql = entry.oracle_sql()
        self.expected = {}
        for n in names:
            odf = co.normalize(con.execute(sql[n]).fetchdf())
            self.expected[n] = (len(odf), sorted(odf.columns), co.value_hash(odf))
        con.close()

    def matches(self, name: str, pdf) -> bool:
        sdf = self._co.normalize(pdf)
        got = (len(sdf), sorted(sdf.columns))
        exp = self.expected[name]
        return got == exp[:2] and self._co.value_hash(sdf) == exp[2]
