"""End-to-end Spark pipeline tests: golden byte-identity through the
full mapInPandas path, Spark-vs-pure-Python parity, METS relational
surface, and commit-log resume (SURVEY.md §5.2 items 2-3)."""

import hashlib
import os

import pytest

from pyspark.sql.types import StructType

from gocrd_spark import datagen
from gocrd_spark.extract import extract_any_document, mets_records
from gocrd_spark.kernel import EXTRACTED_SCHEMA, PAGE_META_SCHEMA
from gocrd_spark.pipeline import (
    committed_groups,
    extract_pages,
    mets_files,
    read_extracted,
    run_extract_job,
)

GOLDEN_SHA = "7bac7349cf86baac9834073fbfd7e589efa9d716e28578d6940362a02c7ec065"
N_DOCS = 120


@pytest.fixture(scope="module")
def pages(spark):
    df = spark.createDataFrame(datagen.pages_pdf(N_DOCS), schema=datagen.PAGES_SCHEMA)
    df.cache().count()
    return df


def test_golden_end_to_end(spark, pages):
    row = (
        extract_pages(pages, num_partitions=8)
        .filter(f"url = '{datagen.KANT_URL}'")
        .collect()[0]
    )
    assert row.error is None
    assert hashlib.sha256(row.text.encode("utf-8")).hexdigest() == GOLDEN_SHA
    assert [(s.region_id, s.byte_start, s.byte_end) for s in row.spans] == [
        ("r_1_1", 0, 7),
        ("r_2_1", 8, 626),
        ("r_2_2", 627, 1585),
        ("r_2_3", 1586, 1591),
    ]
    assert row.spans[0].bbox.asDict() == {"x0": 846, "y0": 294, "x1": 1026, "y1": 337}


def test_spark_matches_pure_python_kernel(spark, pages):
    """Every row, not just the fixture: the distributed path must agree
    byte-for-byte with the unit-tested kernel."""
    got = {r.url: r for r in extract_pages(pages, num_partitions=8).collect()}
    assert len(got) == N_DOCS
    for i in range(N_DOCS):
        row = datagen.make_row(i)
        expected = extract_any_document(row["html"])
        actual = got[row["url"]]
        assert actual.text == expected["text"], row["url"]
        assert actual.error == expected["error"] or (
            expected["error"] is not None and actual.error is not None
        )
        if expected["spans"] is not None:
            assert len(actual.spans) == len(expected["spans"])
            for a, e in zip(actual.spans, expected["spans"]):
                assert (a.region_id, a["index"], a.byte_start, a.byte_end) == (
                    e["region_id"], e["index"], e["byte_start"], e["byte_end"],
                )


def test_no_separator_region_leaks(spark, pages):
    """Unreferenced SeparatorRegions must stay invisible (page/page_test.go:23)."""
    rows = extract_pages(pages).collect()
    for row in rows:
        if row.spans is None:
            continue
        assert all(s.region_id != "sep_1" for s in row.spans)


def test_mets_files_surface(spark, pages):
    got = mets_files(pages).filter(f"url = '{datagen.METS_URL}'").collect()
    assert {(r.file_id, r.mimetype) for r in got} == {
        ("PAGE_0020_PAGE", "application/vnd.prima.page+xml"),
        ("PAGE_0020_ALTO", "application/alto+xml"),
        ("PAGE_0021_ALTO", "application/alto+xml"),
    }
    # predicate pushdown into the walk
    alto = mets_files(pages, mimetype="application/alto+xml").collect()
    expected = sum(
        len(mets_records(datagen.make_row(i)["html"], mimetype="application/alto+xml"))
        for i in range(N_DOCS)
    )
    assert len(alto) == expected and expected > 2


def test_error_rows_never_fail_job(spark, pages):
    rows = extract_pages(pages).collect()
    errs = [r for r in rows if r.error is not None]
    # doc_id==100 is the injected garbage row; METS rows also error ("not a PAGE-XML")
    assert any("ParseError" in r.error for r in errs)
    assert all(r.text is None for r in errs)


def test_warc_ts_pruning(spark, pages, tmp_path):
    from gocrd_spark.pipeline import load_pages, prune_warc_ts

    path = str(tmp_path / "pages_parquet")
    pages.write.parquet(path)
    df = prune_warc_ts(load_pages(spark, path), start="2026-01-05", end="2026-01-07")
    got = {r.url for r in df.select("url").collect()}
    expected = {
        datagen.make_row(i)["url"] for i in range(N_DOCS) if i % 30 in (4, 5)
    }
    assert got == expected
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "warc_ts" in plan


def test_filter_unprocessed(spark, pages):
    from gocrd_spark.pipeline import filter_unprocessed

    extracted = extract_pages(pages.limit(0))  # nothing done yet
    assert filter_unprocessed(pages, extracted).count() == N_DOCS
    # half done -> only the other half remains
    done = extract_pages(pages.filter("lang = 'de'"))
    remaining = filter_unprocessed(pages, done)
    assert remaining.count() == pages.filter("lang != 'de'").count()
    assert remaining.filter("lang = 'de'").count() == 0


class TestBloomFilterUnprocessed:
    """Bloom-prefiltered incremental ingest must equal the plain
    anti-join for EVERY sizing — the bloom only routes work between the
    definite-new fast path and the exact backstop."""

    def _urls(self, spark, ids):
        return spark.createDataFrame(
            [(f"https://crawl.test/{i:06d}", i) for i in ids],
            "url string, payload long",
        )

    def test_exact_parity_with_anti_join(self, spark):
        from gocrd_spark.pipeline import (
            bloom_filter_unprocessed,
            filter_unprocessed,
        )

        pages = self._urls(spark, range(500))
        done = self._urls(spark, range(0, 500, 3)).select("url")
        want = {r.url for r in filter_unprocessed(pages, done).collect()}
        got = {
            r.url for r in bloom_filter_unprocessed(pages, done).collect()
        }
        assert got == want and len(got) == 500 - len(range(0, 500, 3))

    def test_undersized_filter_stays_exact(self, spark):
        """num_bits=64 saturates the bitmap (every probe a maybe): the
        fast path vanishes but the backstop keeps the output exact —
        graceful degradation to the plain anti-join, never wrong
        answers."""
        from gocrd_spark.pipeline import (
            bloom_filter_unprocessed,
            filter_unprocessed,
        )

        pages = self._urls(spark, range(200))
        done = self._urls(spark, range(100)).select("url")
        want = {r.url for r in filter_unprocessed(pages, done).collect()}
        got = {
            r.url
            for r in bloom_filter_unprocessed(
                pages, done, num_bits=64, num_hashes=2
            ).collect()
        }
        assert got == want == {f"https://crawl.test/{i:06d}" for i in range(100, 200)}

    def test_null_keys_kept_like_anti_join(self, spark):
        """NULL keys never equi-match the done set, so the plain
        anti-join KEEPS them — the bloom variant must too (they bypass
        hashing entirely)."""
        from gocrd_spark.pipeline import (
            bloom_filter_unprocessed,
            filter_unprocessed,
        )

        pages = spark.createDataFrame(
            [("https://a.test/1", 1), (None, 2), ("https://a.test/3", 3),
             (None, 4)],
            "url string, payload long",
        )
        done = spark.createDataFrame(
            [("https://a.test/1",)], "url string"
        )
        want = sorted(
            r.payload for r in filter_unprocessed(pages, done).collect()
        )
        got = sorted(
            r.payload
            for r in bloom_filter_unprocessed(pages, done).collect()
        )
        assert got == want == [2, 3, 4]

    def test_edges_and_plan_shape(self, spark):
        from gocrd_spark.pipeline import bloom_filter_unprocessed

        pages = self._urls(spark, range(50))
        # empty done set -> everything new
        empty = pages.filter("payload < 0").select("url")
        out = bloom_filter_unprocessed(pages, empty)
        assert out.count() == 50
        # all done -> nothing new
        assert (
            bloom_filter_unprocessed(pages, pages.select("url")).count() == 0
        )
        # the bitmap and the maybe-keys reach their joins as broadcasts
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


def _group_table(output_dir: str, g: int) -> list[dict]:
    """One commit group's rows of a resumable run, in file order."""
    import pyarrow.parquet as pq

    gdir = os.path.join(output_dir, "data", f"g={g}")
    (name,) = [n for n in os.listdir(gdir) if not n.startswith(".")]
    return pq.read_table(os.path.join(gdir, name)).to_pylist()


class TestResume:
    def _write_input(self, spark, pages, tmp_path) -> str:
        path = str(tmp_path / "pages_in")
        pages.write.parquet(path)
        return path

    def test_kill_and_resume(self, spark, pages, tmp_path):
        inp = self._write_input(spark, pages, tmp_path)
        out = str(tmp_path / "out")
        n_groups = 8

        # run 1: inject a failure in group 3 -> job dies mid-flight
        with pytest.raises(Exception):
            run_extract_job(spark, inp, out, n_groups=n_groups, fail_group=3)
        done_after_crash = committed_groups(out)
        assert 3 not in done_after_crash  # failed group not committed

        # run 2: resume completes the remaining groups only
        summary = run_extract_job(spark, inp, out, n_groups=n_groups)
        assert summary["groups_previously_done"] == len(done_after_crash)
        assert committed_groups(out) == set(range(n_groups)) & committed_groups(out)

        # output identical to a clean one-shot run
        clean = str(tmp_path / "clean")
        run_extract_job(spark, inp, clean, n_groups=n_groups)
        resumed_rows = {
            r.url: (r.text, r.error) for r in read_extracted(spark, out).collect()
        }
        clean_rows = {
            r.url: (r.text, r.error) for r in read_extracted(spark, clean).collect()
        }
        assert resumed_rows == clean_rows
        assert len(resumed_rows) == N_DOCS

    def test_resume_across_task_count(self, spark, pages, tmp_path, monkeypatch):
        """The commit unit is a group, not a task: a crash under one task
        count, resumed under another, gives the clean run's rows and the
        clean run's per-group tables, row for row."""
        import gocrd_spark.pipeline as pipeline

        inp = self._write_input(spark, pages, tmp_path)
        out = str(tmp_path / "out")
        n_groups = 8

        monkeypatch.setattr(pipeline, "_writer_tasks", lambda spark, n: 2)
        with pytest.raises(Exception):
            run_extract_job(spark, inp, out, n_groups=n_groups, fail_group=3)
        done_after_crash = committed_groups(out)
        assert 3 not in done_after_crash

        monkeypatch.setattr(pipeline, "_writer_tasks", lambda spark, n: 3)
        summary = run_extract_job(spark, inp, out, n_groups=n_groups)
        assert summary["groups_previously_done"] == len(done_after_crash)
        assert committed_groups(out) == set(range(n_groups))

        monkeypatch.undo()
        clean = str(tmp_path / "clean")
        run_extract_job(spark, inp, clean, n_groups=n_groups)
        resumed_rows = {
            r.url: (r.text, r.error) for r in read_extracted(spark, out).collect()
        }
        clean_rows = {
            r.url: (r.text, r.error) for r in read_extracted(spark, clean).collect()
        }
        assert resumed_rows == clean_rows
        assert len(resumed_rows) == N_DOCS
        for g in range(n_groups):
            assert _group_table(out, g) == _group_table(clean, g)

    def test_task_layout(self, spark, pages, tmp_path, monkeypatch):
        """The writer stage runs min(n_groups, defaultParallelism) tasks,
        not one per group, and each group is still one file whose row
        count is its marker's input_rows."""
        import json
        import re

        import pyarrow.parquet as pq

        inp = self._write_input(spark, pages, tmp_path)
        cores = spark.sparkContext.defaultParallelism
        mapped = []
        DataFrame = type(pages)
        map_in_pandas = DataFrame.mapInPandas

        def recording(self, *args, **kwargs):
            mapped.append(map_in_pandas(self, *args, **kwargs))
            return mapped[-1]

        monkeypatch.setattr(DataFrame, "mapInPandas", recording)
        for n_groups in (2, 8):
            mapped.clear()
            out = str(tmp_path / f"out_layout_{n_groups}")
            run_extract_job(spark, inp, out, n_groups=n_groups)
            (job,) = mapped
            plan = job._jdf.queryExecution().executedPlan().toString()
            # the final and the initial adaptive plan both list the Exchange
            below_map = plan[plan.index("MapInPandas"):]
            exchanges = re.findall(r"Exchange hashpartitioning\(g#\d+, (\d+)\)", below_map)
            assert set(exchanges) == {str(min(n_groups, cores))}, plan

            data = os.path.join(out, "data")
            assert sorted(os.listdir(data)) == [f"g={g}" for g in range(n_groups)]
            for g in range(n_groups):
                (name,) = os.listdir(os.path.join(data, f"g={g}"))
                with open(os.path.join(out, "_commits", f"g={g}.json")) as fh:
                    marker = json.load(fh)
                rows = pq.ParquetFile(os.path.join(data, f"g={g}", name)).metadata.num_rows
                assert rows == marker["input_rows"] > 0

    def test_no_recompute_of_committed_groups(self, spark, pages, tmp_path):
        inp = self._write_input(spark, pages, tmp_path)
        out = str(tmp_path / "out2")
        first = run_extract_job(spark, inp, out, n_groups=4)
        assert first["input_rows"] == N_DOCS
        second = run_extract_job(spark, inp, out, n_groups=4)
        assert second["groups_committed_this_run"] == 0
        assert second["input_rows"] == 0  # anti-filter pruned everything
        assert len(read_extracted(spark, out).collect()) == N_DOCS

    def test_resume_rejects_different_layout(self, spark, pages, tmp_path):
        """Committed group ids are meaningless under another
        (n_groups, salt); resume must refuse, not silently mix layouts."""
        inp = self._write_input(spark, pages, tmp_path)
        out = str(tmp_path / "out_layout")
        run_extract_job(spark, inp, out, n_groups=4, salt=42)
        with pytest.raises(ValueError, match="resume mismatch"):
            run_extract_job(spark, inp, out, n_groups=8, salt=42)
        with pytest.raises(ValueError, match="resume mismatch"):
            run_extract_job(spark, inp, out, n_groups=4, salt=7)

    @pytest.mark.parametrize("first", [False, True])
    def test_resume_rejects_different_metadata(self, spark, pages, tmp_path, first):
        """A resume that flips with_metadata would leave meta/ without
        the groups committed before it (or partial); it must refuse."""
        import json

        inp = self._write_input(spark, pages, tmp_path)
        out = str(tmp_path / "out_meta")
        with pytest.raises(Exception, match="injected failure"):
            run_extract_job(spark, inp, out, n_groups=4, fail_group=3,
                            with_metadata=first)
        assert committed_groups(out)  # some groups were committed
        with pytest.raises(ValueError, match="resume mismatch"):
            run_extract_job(spark, inp, out, n_groups=4, with_metadata=not first)
        if first:
            return
        # a manifest written before with_metadata was pinned reads as False
        manifest = os.path.join(out, "_commits", "manifest.json")
        with open(manifest) as fh:
            layout = json.load(fh)
        del layout["with_metadata"]
        with open(manifest, "w") as fh:
            json.dump(layout, fh)
        with pytest.raises(ValueError, match="resume mismatch"):
            run_extract_job(spark, inp, out, n_groups=4, with_metadata=True)
        run_extract_job(spark, inp, out, n_groups=4)
        assert committed_groups(out) == set(range(4))

    def test_counters(self, spark, pages, tmp_path):
        inp = self._write_input(spark, pages, tmp_path)
        out = str(tmp_path / "out3")
        summary = run_extract_job(spark, inp, out, n_groups=4)
        assert summary["input_rows"] == N_DOCS
        assert summary["ok_rows"] + summary["err_rows"] == N_DOCS
        assert summary["err_rows"] >= 1
        assert summary["bytes_in"] > summary["bytes_out"] > 0
        assert read_extracted(spark, out).drop("g").schema == EXTRACTED_SCHEMA

    def test_marker_bytes_equal_group_octet_lengths(self, spark, pages, tmp_path):
        """Each commit marker's bytes_in is its group's summed
        octet_length(html), and bytes_out the summed UTF-8 length of
        the text it wrote (0 for error rows)."""
        from pyspark.sql import functions as F

        from gocrd_spark.kernel import group_id
        from gocrd_spark.pipeline import read_commit_stats

        inp = self._write_input(spark, pages, tmp_path)
        out = str(tmp_path / "out_bytes")
        run_extract_job(spark, inp, out, n_groups=4)

        def summed(df, col):
            rows = df.groupBy("g").agg(
                F.sum(F.coalesce(F.octet_length(col), F.lit(0))).alias("n")
            ).collect()
            return {r.g: r.n for r in rows}

        want_in = summed(
            spark.read.parquet(inp).withColumn("g", group_id(4, 42)), "html")
        want_out = summed(read_extracted(spark, out), "text")
        markers = read_commit_stats(out)
        assert {m["g"]: m["bytes_in"] for m in markers} == want_in
        assert {m["g"]: m["bytes_out"] for m in markers} == want_out
        assert all(want_out[g] > 0 for g in want_out)


class TestJobMetadataSideTable:
    def test_meta_table_written_same_pass_and_resume_safe(self, spark, pages, tmp_path):
        """with_metadata=True writes meta/g=*/ alongside data/ under ONE
        commit marker per group; the table equals the page_metadata
        operator's output (minus the ts column the job does not carry),
        and a rerun adds nothing."""
        import os

        from gocrd_spark.pipeline import page_metadata, read_metadata, run_extract_job

        inp = str(tmp_path / "pages_in")
        pages.write.parquet(inp)
        out = str(tmp_path / "out")
        summary = run_extract_job(spark, inp, out, n_groups=4, with_metadata=True)
        assert summary["groups_committed_this_run"] == 4

        got = read_metadata(spark, out).drop("g").cache()
        want = page_metadata(pages).drop("warc_ts_epoch")
        assert got.schema == StructType(
            [f for f in PAGE_META_SCHEMA.fields if f.name != "warc_ts_epoch"]
        )
        assert got.count() == pages.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # one parquet per group in BOTH tables
        for sub in ("data", "meta"):
            gdirs = [d for d in os.listdir(os.path.join(out, sub)) if d.startswith("g=")]
            assert len(gdirs) == 4

        again = run_extract_job(spark, inp, out, n_groups=4, with_metadata=True)
        assert again["groups_committed_this_run"] == 0
        assert read_metadata(spark, out).count() == pages.count()


class TestExtractJobCli:
    def test_cli_runs_in_the_callers_session(self, spark, pages, tmp_path):
        """The spark-submit CLI prints the summary its group markers add
        up to, writes meta/ under --with-metadata, exits 2 on a bad
        --ts-start, and leaves the caller's session running as it was."""
        import contextlib
        import io
        import json

        from gocrd_spark.jobs import extract_job
        from gocrd_spark.pipeline import read_commit_stats, read_metadata

        inp = str(tmp_path / "pages_in")
        pages.write.parquet(inp)
        out = str(tmp_path / "out")
        shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert extract_job.main([
                "--input", inp, "--output", out,
                "--n-groups", "4", "--with-metadata",
            ]) == 0
        with pytest.raises(SystemExit) as bad:
            extract_job.main([
                "--input", inp, "--output", str(tmp_path / "bad"),
                "--ts-start", "not-a-timestamp",
            ])
        assert bad.value.code == 2
        # the job runs in the caller's session without changing its confs
        assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle

        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        markers = read_commit_stats(out)
        assert summary == {
            "groups_committed_this_run": len(markers),
            "groups_previously_done": 0,
            **{
                k: sum(m[k] for m in markers)
                for k in ("input_rows", "ok_rows", "err_rows", "bytes_in", "bytes_out")
            },
        }
        assert len(markers) == 4 and summary["input_rows"] == N_DOCS
        assert read_metadata(spark, out).count() == N_DOCS
        assert spark.range(3).count() == 3


def test_page_metadata_null_warc_ts(spark):
    """A page without a timestamp keeps a null warc_ts_epoch; the others
    carry their epoch seconds."""
    from gocrd_spark.pipeline import page_metadata

    rows = [datagen.make_row(i) for i in (3, 4, 13)]
    rows[1]["warc_ts"] = None
    df = spark.createDataFrame(rows, schema=datagen.PAGES_SCHEMA)
    got = {r.url: r.warc_ts_epoch for r in page_metadata(df).collect()}
    want = {
        r["url"]: None if r["warc_ts"] is None else int(r["warc_ts"].timestamp())
        for r in rows
    }
    assert got == want
    assert got[rows[1]["url"]] is None


class TestExtractionReport:
    def test_classes_counts_and_ppm(self, spark):
        from gocrd_spark.pipeline import extraction_report

        out = spark.createDataFrame(
            [("u0", None), ("u1", None), ("u2", "boom"), ("u3", None)],
            "url string, error string",
        )
        got = {r.error: (r.n_pages, r.share_ppm) for r in extraction_report(out).collect()}
        assert got == {None: (3, 750000), "boom": (1, 250000)}
