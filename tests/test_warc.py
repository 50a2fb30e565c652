"""WARC container source: spec-derived byte fixture (independent of the
writer), writer/reader roundtrip in both layouts, hostile-input bounds,
and the full WARC -> pages -> extraction-kernel chain ending at the
pinned kant golden sha."""

import hashlib

import pytest

from gocrd_spark.datagen import _fixture

# hand-written per ISO 28500 — NOT produced by write_warc, so reader
# bugs cannot be masked by matching writer bugs
_SPEC_FIXTURE = (
    b"WARC/1.0\r\n"
    b"WARC-Type: warcinfo\r\n"
    b"WARC-Record-ID: <urn:uuid:0>\r\n"
    b"Content-Length: 9\r\n"
    b"\r\n"
    b"info body"
    b"\r\n\r\n"
    b"WARC/1.0\r\n"
    b"WARC-Type: response\r\n"
    b"WARC-Target-URI: http://example.com/a\r\n"
    b"WARC-Date: 2026-03-01T12:30:00Z\r\n"
    b"Content-Length: 72\r\n"
    b"\r\n"
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    b"<html><body>hi</body></html>"
    b"\r\n\r\n"
    b"WARC/1.0\r\n"
    b"WARC-Type: response\r\n"
    b"WARC-Target-URI: http://example.com/raw\r\n"
    b"WARC-Date: 2026-03-02T00:00:00Z\r\n"
    b"Content-Length: 11\r\n"
    b"\r\n"
    b"<raw bytes>"
    b"\r\n\r\n"
)


class TestWarcParser:
    def test_spec_fixture(self):
        from gocrd_spark.warc import http_body, parse_warc

        recs = parse_warc(_SPEC_FIXTURE)
        assert [r["headers"]["warc-type"] for r in recs] == [
            "warcinfo", "response", "response",
        ]
        assert recs[0]["payload"] == b"info body"
        # HTTP envelope stripped; payload may contain \r\n\r\n safely
        assert http_body(recs[1]["payload"]) == b"<html><body>hi</body></html>"
        # no-envelope payload passes through
        assert http_body(recs[2]["payload"]) == b"<raw bytes>"
        assert recs[1]["headers"]["warc-target-uri"] == "http://example.com/a"

    def test_payload_may_contain_fake_record_header(self):
        """Content-Length delimits the payload — a payload containing
        the bytes 'WARC/1.0' must NOT start a new record."""
        from gocrd_spark.warc import parse_warc, write_warc

        evil = b"xx\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\nyy"
        data = write_warc(
            [{"headers": {"WARC-Type": "response"}, "payload": evil}]
        )
        recs = parse_warc(data)
        assert len(recs) == 1 and recs[0]["payload"] == evil

    def test_roundtrip_plain_and_gzip(self):
        from gocrd_spark.warc import parse_warc, write_warc

        records = [
            {
                "headers": {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://h/{i}",
                    "WARC-Date": "2026-01-01T00:00:00Z",
                },
                "payload": bytes([i]) * (i * 13 % 257),
            }
            for i in range(1, 30)
        ]
        for gz in (False, True):
            back = parse_warc(write_warc(records, gzip_members=gz))
            assert [r["payload"] for r in back] == [r["payload"] for r in records]
            assert [r["headers"]["warc-target-uri"] for r in back] == [
                f"http://h/{i}" for i in range(1, 30)
            ]

    def test_hostile_inputs_raise(self):
        from gocrd_spark.warc import parse_warc

        with pytest.raises(ValueError, match="bad version"):
            parse_warc(b"NOTWARC\r\nContent-Length: 0\r\n\r\n")
        with pytest.raises(ValueError, match="truncated payload"):
            parse_warc(b"WARC/1.0\r\nContent-Length: 999\r\n\r\nshort")
        with pytest.raises(ValueError, match="missing/bad Content-Length"):
            parse_warc(b"WARC/1.0\r\nWARC-Type: x\r\n\r\n")
        with pytest.raises(ValueError, match="no header terminator"):
            parse_warc(b"WARC/1.0\r\nX: " + b"y" * 70_000)
        # corrupt gzip member must be the module's error class so a bad
        # shard becomes one error row, not a task failure (zlib.error
        # would escape warc_to_pages' except ValueError)
        with pytest.raises(ValueError, match="corrupt gzip"):
            parse_warc(b"\x1f\x8b\x08\x00" + b"\xff" * 32)

    def test_salvage_keeps_prefix_before_malformation(self):
        """A shard whose TRAILING record is truncated keeps every record
        parsed before it (ADVICE r03: one bad trailing record must not
        discard a ~1 GB shard). parse_warc stays strict; the salvage
        variant returns (good_prefix, diagnostic)."""
        from gocrd_spark.warc import parse_warc, parse_warc_salvage

        data = _SPEC_FIXTURE + (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"Content-Length: 9999\r\n"
            b"\r\n"
            b"way too short"
        )
        with pytest.raises(ValueError, match="truncated payload"):
            parse_warc(data)
        records, error = parse_warc_salvage(data)
        assert [r["headers"]["warc-type"] for r in records] == [
            "warcinfo", "response", "response",
        ]
        assert error is not None and "truncated payload" in error
        # clean input: full records, no error
        records, error = parse_warc_salvage(_SPEC_FIXTURE)
        assert len(records) == 3 and error is None
        # corrupt gzip: nothing salvageable, diagnostic preserved
        records, error = parse_warc_salvage(b"\x1f\x8b\x08\x00" + b"\xff" * 32)
        assert records == [] and "corrupt gzip" in error

    def test_revisit_spec_fixture(self):
        """Hand-written WARC 1.1 revisit record (§6.7: stored without
        content, keyed to the original capture) parses with its dedup
        headers intact."""
        from gocrd_spark.warc import parse_warc

        data = (
            b"WARC/1.1\r\n"
            b"WARC-Type: revisit\r\n"
            b"WARC-Target-URI: http://example.com/a\r\n"
            b"WARC-Date: 2026-03-05T00:00:00Z\r\n"
            b"WARC-Profile: http://netpreserve.org/warc/1.1/revisit/identical-payload-digest\r\n"
            b"WARC-Refers-To: <urn:uuid:orig-1>\r\n"
            b"WARC-Refers-To-Target-URI: http://example.com/a\r\n"
            b"WARC-Payload-Digest: sha1:IDENTICALDIGESTBASE32VALUE\r\n"
            b"Content-Length: 0\r\n"
            b"\r\n\r\n"
        )
        (rec,) = parse_warc(data)
        h = rec["headers"]
        assert h["warc-type"] == "revisit"
        assert h["warc-refers-to"] == "<urn:uuid:orig-1>"
        assert h["warc-payload-digest"] == "sha1:IDENTICALDIGESTBASE32VALUE"
        assert rec["payload"] == b""

    def test_negative_chunk_size_terminates(self):
        """int(b'-2', 16) parses — a negative chunked size must raise
        (tolerant fallback to raw bytes), never stall the cursor and
        spin the decode loop forever."""
        from gocrd_spark.warc import http_body

        bad = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"-2\r\nxx\r\n0\r\n\r\n"
        )
        assert http_body(bad) == b"-2\r\nxx\r\n0\r\n\r\n"


class TestWarcSparkSurface:
    def test_warc_to_pages_to_kernel_golden(self, spark, tmp_path):
        """The full source chain: synthesize a WARC shard holding the
        kant PAGE-XML fixture + an HTML page, parse it with
        warc_to_pages, run the extraction pipeline, and land on the
        pinned byte-identity golden (FIXTURES.md: sha 7bac7349...,
        1518 chars). A second, corrupt WARC row becomes ONE error row."""
        from gocrd_spark.pipeline import extract_pages
        from gocrd_spark.warc import write_warc

        kant = _fixture("kant_aufklaerung_1784_0020.xml")
        shard = write_warc(
            [
                {
                    "headers": {
                        "WARC-Type": "warcinfo",
                        "WARC-Record-ID": "<urn:uuid:1>",
                    },
                    "payload": b"isPartOf: test-crawl",
                },
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "http://crawl.test/kant",
                        "WARC-Date": "2026-02-01T00:00:00Z",
                    },
                    "payload": b"HTTP/1.1 200 OK\r\n\r\n" + kant,
                },
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "http://crawl.test/html",
                        "WARC-Date": "2026-02-01T01:00:00Z",
                    },
                    "payload": b"<html><body><p>"
                    + b"plain web text here " * 10
                    + b"</p></body></html>",
                },
            ],
            gzip_members=True,
        )
        from gocrd_spark.warc import warc_to_pages

        warcs = spark.createDataFrame(
            [(1, bytearray(shard)), (2, bytearray(b"garbage not warc"))],
            "warc_id long, warc binary",
        )
        pages = warc_to_pages(warcs)
        rows = {r.url: r for r in pages.collect()}
        assert rows["warc:2"].error and rows["warc:2"].html is None
        assert rows["http://crawl.test/kant"].error is None

        ok_pages = pages.filter("error IS NULL").select("url", "warc_ts", "html")
        out = {r.url: r for r in extract_pages(ok_pages).collect()}
        kant_text = out["http://crawl.test/kant"].text
        assert (
            hashlib.sha256(kant_text.encode()).hexdigest()
            == "7bac7349cf86baac9834073fbfd7e589efa9d716e28578d6940362a02c7ec065"
        )
        assert len(kant_text) == 1518
        assert "plain web text here" in out["http://crawl.test/html"].text


class TestWarcMixedShard:
    def test_response_revisit_truncated_mix(self, spark, tmp_path):
        """A realistic crawl shard mixing response / revisit /
        WARC-Truncated / a malformed trailing record (VERDICT r03 #4):
        warc_to_pages salvages the good pages, flags the truncated one
        (partial bytes KEPT), skips revisits, and appends exactly one
        error row; warc_revisits surfaces the dedup-hint row; the clean
        pages still reach the kernel golden."""
        from gocrd_spark.pipeline import extract_pages
        from gocrd_spark.warc import warc_revisits, warc_to_pages, write_warc

        kant = _fixture("kant_aufklaerung_1784_0020.xml")
        shard = write_warc(
            [
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "http://crawl.test/kant",
                        "WARC-Date": "2026-02-01T00:00:00Z",
                    },
                    "payload": b"HTTP/1.1 200 OK\r\n\r\n" + kant,
                },
                {
                    "headers": {
                        "WARC-Type": "revisit",
                        "WARC-Target-URI": "http://crawl.test/kant",
                        "WARC-Date": "2026-02-02T00:00:00Z",
                        "WARC-Profile": "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
                        "WARC-Refers-To": "<urn:uuid:kant-orig>",
                        "WARC-Refers-To-Target-URI": "http://crawl.test/kant",
                        "WARC-Payload-Digest": "sha1:KANTDIGEST",
                    },
                    "payload": b"",
                },
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "http://crawl.test/partial",
                        "WARC-Date": "2026-02-03T00:00:00Z",
                        "WARC-Truncated": "length",
                    },
                    "payload": b"HTTP/1.1 200 OK\r\n\r\n<html><body>cut off mid",
                },
            ],
            gzip_members=True,
        )
        # malformed trailing record as its OWN gzip member (the real
        # crawl failure mode: the crawler died mid-record, the tail
        # member decompresses but the record inside is short)
        import zlib as _zlib

        c = _zlib.compressobj(6, _zlib.DEFLATED, _zlib.MAX_WBITS | 16)
        shard += c.compress(b"WARC/1.0\r\nContent-Length: 9999\r\n\r\nshort")
        shard += c.flush()

        warcs = spark.createDataFrame(
            [(7, bytearray(shard))], "warc_id long, warc binary"
        )
        pages = {r.url: r for r in warc_to_pages(warcs).collect()}
        # 2 response pages + 1 salvage error row; the revisit emits none
        assert set(pages) == {
            "http://crawl.test/kant", "http://crawl.test/partial", "warc:7",
        }
        assert pages["http://crawl.test/kant"].error is None
        assert pages["http://crawl.test/partial"].error == "truncated: length"
        assert bytes(pages["http://crawl.test/partial"].html) == (
            b"<html><body>cut off mid"
        )
        assert "warc parse error" in pages["warc:7"].error

        revisits = warc_revisits(warcs).collect()
        (rv,) = [r for r in revisits if r.error is None]
        assert rv.url == "http://crawl.test/kant"
        assert rv.refers_to == "<urn:uuid:kant-orig>"
        assert rv.refers_to_uri == "http://crawl.test/kant"
        assert rv.payload_digest == "sha1:KANTDIGEST"
        assert "identical-payload-digest" in rv.profile

        clean = (
            warc_to_pages(warcs)
            .filter("error IS NULL")
            .select("url", "warc_ts", "html")
        )
        out = {r.url: r for r in extract_pages(clean).collect()}
        assert (
            hashlib.sha256(out["http://crawl.test/kant"].text.encode()).hexdigest()
            == "7bac7349cf86baac9834073fbfd7e589efa9d716e28578d6940362a02c7ec065"
        )

    def test_truncated_record_with_bad_date_keeps_both_diagnostics(self, spark):
        """ADVICE r04: a record that is BOTH WARC-Truncated and carries
        a malformed WARC-Date must report both diagnostics, not just
        the truncation flag."""
        from gocrd_spark.warc import warc_to_pages, write_warc

        shard = write_warc(
            [
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "http://crawl.test/both",
                        "WARC-Date": "not-a-date",
                        "WARC-Truncated": "time",
                    },
                    "payload": b"HTTP/1.1 200 OK\r\n\r\n<html>partial",
                }
            ]
        )
        warcs = spark.createDataFrame(
            [(1, bytearray(shard))], "warc_id long, warc binary"
        )
        (row,) = warc_to_pages(warcs).collect()
        assert row.error == "truncated: time; bad warc-date: 'not-a-date'"


class TestWarcBadDate:
    def test_malformed_warc_date_flags_row_not_task(self, spark):
        """A record with an unparseable WARC-Date must stay a page row
        (epoch ts, flagged) — review r04 found the salvage rewrite had
        dropped the guard, turning one bad date header into a task
        failure; both kernels share _warc_ts now."""
        from gocrd_spark.warc import warc_revisits, warc_to_pages, write_warc

        shard = write_warc(
            [
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "http://x.test/ok",
                        "WARC-Date": "2026-02-01T00:00:00Z",
                    },
                    "payload": b"<html>fine</html>",
                },
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "http://x.test/baddate",
                        "WARC-Date": "not a date at all",
                    },
                    "payload": b"<html>still here</html>",
                },
                {
                    "headers": {
                        "WARC-Type": "revisit",
                        "WARC-Target-URI": "http://x.test/rv",
                        "WARC-Date": "also garbage",
                        "WARC-Refers-To": "<urn:uuid:orig>",
                    },
                    "payload": b"",
                },
            ]
        )
        warcs = spark.createDataFrame(
            [(1, bytearray(shard))], "warc_id long, warc binary"
        )
        pages = {r.url: r for r in warc_to_pages(warcs).collect()}
        assert pages["http://x.test/ok"].error is None
        bad = pages["http://x.test/baddate"]
        assert bad.error and "bad warc-date" in bad.error
        assert bytes(bad.html) == b"<html>still here</html>"
        (rv,) = warc_revisits(warcs).collect()
        assert rv.refers_to == "<urn:uuid:orig>"
        assert rv.error and "bad warc-date" in rv.error


class TestWarcJobPath:
    def test_resumable_job_over_warc_shards(self, spark, tmp_path):
        """run_extract_job(input_format='warc'): raw shard dir in,
        committed extraction out — kant golden sha lands in the output
        and a rerun resumes (zero groups recomputed)."""
        from gocrd_spark.pipeline import run_extract_job
        from gocrd_spark.warc import write_warc

        kant = _fixture("kant_aufklaerung_1784_0020.xml")
        shard_dir = tmp_path / "shards"
        shard_dir.mkdir()
        for i in range(3):
            recs = [
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Target-URI": f"http://crawl.test/{i}/{j}",
                        "WARC-Date": "2026-02-01T00:00:00Z",
                    },
                    "payload": b"HTTP/1.1 200 OK\r\n\r\n"
                    + (kant if (i, j) == (0, 0) else b"<html><body>x"
                       + str(j).encode() * 30 + b"</body></html>"),
                }
                for j in range(4)
            ]
            (shard_dir / f"part-{i}.warc.gz").write_bytes(
                write_warc(recs, gzip_members=True)
            )

        out = str(tmp_path / "out")
        summary = run_extract_job(
            spark, str(shard_dir), out, n_groups=8, input_format="warc"
        )
        assert summary["input_rows"] == 12
        n_committed = summary["groups_committed_this_run"]
        assert 0 < n_committed <= 8  # only non-empty groups commit

        import duckdb
        import hashlib

        got = duckdb.sql(
            f"SELECT text FROM read_parquet('{out}/data/*/*.parquet') "
            "WHERE url = 'http://crawl.test/0/0'"
        ).fetchone()[0]
        assert (
            hashlib.sha256(got.encode()).hexdigest()
            == "7bac7349cf86baac9834073fbfd7e589efa9d716e28578d6940362a02c7ec065"
        )

        resumed = run_extract_job(
            spark, str(shard_dir), out, n_groups=8, input_format="warc"
        )
        assert resumed["groups_committed_this_run"] == 0
        assert resumed["groups_previously_done"] == n_committed


class TestWarcPlanShape:
    def test_shard_to_text_is_shuffle_free(self, spark, tmp_path):
        """Raw shard dir -> extracted text is Scan(binaryFile) ->
        MapInPandas(warc parse) -> MapInPandas(kernel) with ZERO
        exchanges — each shard flows through one task end to end, the
        plan you want when the shard listing IS the parallelism."""
        from gocrd_spark.pipeline import extract_pages, load_pages
        from gocrd_spark.warc import write_warc

        (tmp_path / "a.warc").write_bytes(
            write_warc(
                [
                    {
                        "headers": {
                            "WARC-Type": "response",
                            "WARC-Target-URI": "http://x/1",
                            "WARC-Date": "2026-01-01T00:00:00Z",
                        },
                        "payload": b"<html><body>hello world text</body></html>",
                    }
                ]
            )
        )
        df = extract_pages(load_pages(spark, str(tmp_path), "warc"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "binaryFile" in plan
        assert plan.count("MapInPandas") == 2
        assert "Exchange" not in plan


class TestWarcProperties:
    """Hypothesis roundtrip: ANY payload bytes (including CRLFs, fake
    'WARC/1.0' headers, gzip magic) and ANY header values survive
    write->parse in both layouts."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    _headers = st.dictionaries(
        st.sampled_from(
            ["WARC-Type", "WARC-Target-URI", "WARC-Record-ID", "X-Custom"]
        ),
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs", "Cc"), max_codepoint=0x2FF
            ),
            max_size=40,
        ).map(str.strip),
        min_size=1,
        max_size=4,
    )
    _records = st.lists(
        st.fixed_dictionaries(
            {"headers": _headers, "payload": st.binary(max_size=300)}
        ),
        min_size=1,
        max_size=6,
    )

    @given(records=_records, gz=st.booleans())
    @settings(max_examples=60, deadline=None)
    def test_roundtrip_identity(self, records, gz):
        from gocrd_spark.warc import parse_warc, write_warc

        back = parse_warc(write_warc(records, gzip_members=gz))
        assert len(back) == len(records)
        for orig, got in zip(records, back):
            assert got["payload"] == orig["payload"]
            for name, value in orig["headers"].items():
                assert got["headers"][name.lower()] == value

    from hypothesis import given as _given
    from hypothesis import settings as _settings
    from hypothesis import strategies as _st

    @_given(records=_records, cut=_st.integers(min_value=0, max_value=10_000))
    @_settings(max_examples=60, deadline=None)
    def test_salvage_prefix_property(self, records, cut):
        """For a PLAIN shard truncated at ANY byte offset, salvage
        returns a clean PREFIX of the full record list: every salvaged
        record equals its counterpart in the untruncated parse, and a
        mid-record cut reports an error instead of raising."""
        from gocrd_spark.warc import parse_warc, parse_warc_salvage, write_warc

        data = write_warc(records, gzip_members=False)
        cut = min(cut, len(data))
        full = parse_warc(data)
        got, error = parse_warc_salvage(data[:cut])
        assert len(got) <= len(full)
        for orig, g in zip(full, got):
            assert g["payload"] == orig["payload"]
            assert g["headers"] == orig["headers"]
        if cut == len(data):
            assert error is None and len(got) == len(full)


class TestHttpTransferEncodings:
    def test_chunked_and_gzip_bodies(self):
        """The two encodings real crawl responses carry: chunked bodies
        reassemble; gzip bodies (with and without chunking on top)
        decompress; malformed chunk streams fall back to raw bytes."""
        import zlib

        from gocrd_spark.warc import http_body

        doc = b"<html><body>chunked page content</body></html>"
        chunked = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            + b"a\r\n" + doc[:10] + b"\r\n"
            + hex(len(doc) - 10)[2:].encode() + b"\r\n" + doc[10:] + b"\r\n"
            + b"0\r\n\r\n"
        )
        assert http_body(chunked) == doc

        c = zlib.compressobj(6, zlib.DEFLATED, zlib.MAX_WBITS | 16)
        gz = c.compress(doc) + c.flush()
        gzipped = (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gz
        )
        assert http_body(gzipped) == doc

        both = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
            b"Content-Encoding: gzip\r\n\r\n"
            + hex(len(gz))[2:].encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
        )
        assert http_body(both) == doc

        # tolerant: junk chunk size -> raw bytes back, no exception
        bad = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nx"
        assert http_body(bad) == b"zz\r\nx"

        # chunk-extension after the size is legal
        ext = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"5;name=v\r\nhello\r\n0\r\n\r\n"
        )
        assert http_body(ext) == b"hello"
