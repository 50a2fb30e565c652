"""End-to-end training_corpus composition invariants: the glue between
the individually-oracle-checked stages."""

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df.cache().count()
    return df


class TestTrainingCorpus:
    def test_chain_invariants(self, spark, docs):
        from gocrd_spark.operators.compose import training_corpus
        from gocrd_spark.operators.dedup import _norm_text

        out = training_corpus(
            docs,
            rates={"src0": 0.0},     # src0 dropped entirely
            default_rate=1.0,
            budget_tokens=512,
            min_quality=0.2,
        )
        out.cache()
        rows = out.collect()
        n_in = docs.count()
        assert 0 < len(rows) < n_in

        # survivors are input docs, with rewritten (non-empty) text
        in_ids = {r.doc_id for r in docs.select("doc_id").collect()}
        assert all(r.doc_id in in_ids for r in rows)
        assert all(r.text and r.n_tokens > 0 for r in rows)

        # dedup held: no two survivors share normalized ORIGINAL text
        surv = docs.join(out.select("doc_id"), "doc_id", "left_semi")
        n_surv = surv.count()
        n_distinct = (
            surv.select(_norm_text(F.col("text")).alias("t")).distinct().count()
        )
        assert n_surv == n_distinct

        # domain reweighting held: no src0 survivor
        assert all(r.source != "src0" for r in rows)

        # shard budgets: every shard except the last holds <= budget +
        # the max straddling doc (docs assigned where they START)
        max_doc = max(r.n_tokens for r in rows)
        per_shard = (
            out.groupBy("shard_id").agg(F.sum("n_tokens").alias("s")).collect()
        )
        assert all(p.s <= 512 + max_doc for p in per_shard)
        # shards are contiguous from 0
        sids = sorted(p.shard_id for p in per_shard)
        assert sids == list(range(len(sids)))

        # deterministic end to end
        again = training_corpus(
            docs,
            rates={"src0": 0.0},
            default_rate=1.0,
            budget_tokens=512,
            min_quality=0.2,
        ).collect()
        assert {(r.doc_id, r.shard_id, r.text) for r in rows} == {
            (r.doc_id, r.shard_id, r.text) for r in again
        }
        out.unpersist()


class TestTrainingCorpusStarValve:
    def test_star_bucket_output_identical_on_boilerplate_class(self, spark, docs):
        """A 40-member boilerplate page class planted into the fixture
        corpus: training_corpus with the star valve engaged (bucket cap
        8, well under the class size) must produce EXACTLY the corpus
        the exact-candidate run produces — the valve changes candidate
        pair volume, not cluster membership, and the chain consumes only
        clusters."""
        from gocrd_spark.operators.compose import training_corpus

        tmpl = " ".join(
            f"the quick brown fox jumps over lazy dog {i}" for i in range(12)
        )
        boiler = spark.createDataFrame(
            [
                (10_000 + i, tmpl + f" trailer {i}", "srcb")
                for i in range(40)
            ],
            "doc_id long, text string, source string",
        )
        corpus = docs.select("doc_id", "text", "source").unionByName(boiler)

        def run(**kw):
            return sorted(
                (r.doc_id, r.text, r.n_tokens, r.shard_id)
                for r in training_corpus(
                    corpus, budget_tokens=512, min_quality=0.2, **kw
                ).collect()
            )

        exact = run()
        starred = run(star_bucket=8)
        assert exact == starred
        # and the boilerplate class collapsed to at most one survivor
        n_boiler = sum(1 for d, *_ in exact if d >= 10_000)
        assert n_boiler <= 1


class TestCorpusJobCli:
    def test_job_writes_sharded_output(self, spark, tmp_path, docs):
        """The spark-submit CLI runs the chain, partitions output by
        shard_id, prints a summary, leaves the caller's session confs as
        they were, and refuses a finished output without --overwrite."""
        import json

        from gocrd_spark.jobs import corpus_job

        out = str(tmp_path / "corpus")
        args = [
            "--input", f"{SF_DIR}/documents.parquet",
            "--output", out,
            "--budget-tokens", "512",
            "--rate", "src0=0.0",
            "--min-quality", "0.2",
        ]
        import contextlib
        import io

        shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert corpus_job.main(args) == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        assert 0 < summary["kept_docs"] < summary["input_docs"]
        assert summary["shards"] > 1

        back = spark.read.parquet(out)
        assert back.count() == summary["kept_docs"]
        assert "shard_id" in back.columns
        assert {r.source for r in back.select("source").distinct().collect()}.isdisjoint({"src0"})

        with pytest.raises(SystemExit):
            corpus_job.main(args)  # refuses without --overwrite

    def test_jsonl_output_format(self, spark, tmp_path):
        """--out-format jsonl writes gzip JSONL shards (the
        training-data interchange) a loader can read back."""
        import glob
        import gzip
        import json

        from gocrd_spark.jobs import corpus_job

        out = str(tmp_path / "jsonl")
        assert corpus_job.main([
            "--input", f"{SF_DIR}/documents.parquet",
            "--output", out,
            "--budget-tokens", "512",
            "--out-format", "jsonl",
        ]) == 0
        files = glob.glob(f"{out}/shard_id=*/part-*.json.gz")
        assert files
        row = json.loads(gzip.open(files[0], "rt").readline())
        assert {"doc_id", "source", "text", "n_tokens"} <= set(row)


class TestCrawlPlan:
    def test_dispositions_partition_the_frontier(self, spark):
        """crawl_plan labels EVERY input row with exactly one
        disposition, and each stage's semantics survive the chain:
        duplicates lose to a fresher capture of the same canonical
        URL, blocked hosts (and subdomains) never reach a wave, and
        no host exceeds per_host slots in any wave."""
        from gocrd_spark.operators.compose import crawl_plan

        rows = [
            # three captures of one page identity (differing scheme
            # case / default port / query order); ts=3 wins
            (1, "HTTP://WWW.A.COM:80/p?b=2&a=1#f", 1),
            (2, "http://www.a.com/p?a=1&b=2", 3),
            (3, "http://www.a.com/p?a=1&b=2", 2),
            # blocked host and a subdomain of it
            (4, "http://evil.com/x", 1),
            (5, "http://ads.evil.com/y", 1),
            # a busy host: 5 urls at per_host=2 -> waves 0,0,1,1,2
            (6, "http://big.com/1", 1),
            (7, "http://big.com/2", 1),
            (8, "http://big.com/3", 1),
            (9, "http://big.com/4", 1),
            (10, "http://big.com/5", 1),
            # malformed
            (11, "not a url", 1),
        ]
        urls = spark.createDataFrame(rows, "doc_id long, url string, warc_ts long")
        out = crawl_plan(urls, ["evil.com"], per_host=2)
        got = {r.doc_id: (r.disposition, r.wave) for r in out.collect()}

        assert len(got) == len(rows)  # total relabeling, no loss/dup
        assert got[2] == ("fetch", 0)
        assert got[1][0] == "duplicate" and got[3][0] == "duplicate"
        assert got[4][0] == "blocked" and got[5][0] == "blocked"
        assert got[11] == ("malformed", None)
        big = sorted(got[d][1] for d in range(6, 11))
        assert big == [0, 0, 1, 1, 2]
        # non-fetch rows never carry a wave
        assert all(w is None for d, (disp, w) in got.items() if disp != "fetch")


class TestFetchPriority:
    def test_score_composition(self, spark):
        """rank x tier weight, +1 floor for unranked hosts, trap -> 0,
        unscheduled -> explore weight 3."""
        from gocrd_spark.operators.compose import fetch_priority

        frontier = spark.createDataFrame(
            [("https://a.test/p/1",), ("https://a.test/p/2",),
             ("https://b.test/q/9",), ("https://trap.test/cal/3",),
             ("junk",)],
            "url string",
        )
        ranks = spark.createDataFrame(
            [("a.test", 2_000_000_000)], "host string, rank_e12 long"
        )
        schedules = spark.createDataFrame(
            [("https://a.test/p/1", "fast"), ("https://b.test/q/9", "slow")],
            "url string, tier string",
        )
        traps = spark.createDataFrame(
            [("trap.test/cal/N", 1)], "template string, is_trap int"
        )
        got = {r.url: (r.score, r.is_trap) for r in
               fetch_priority(frontier, ranks, schedules, traps).collect()}
        assert got == {
            "https://a.test/p/1": ((1 + 2000) * 4, 0),   # ranked, fast
            "https://a.test/p/2": ((1 + 2000) * 3, 0),   # unscheduled explore
            "https://b.test/q/9": (1 * 1, 0),            # unranked floor, slow
            "https://trap.test/cal/3": (0, 1),           # trap template
        }  # malformed url dropped

    def test_trap_list_broadcasts(self, spark):
        from gocrd_spark.operators.compose import fetch_priority

        frontier = spark.createDataFrame(
            [(f"https://h.test/x/{i}",) for i in range(50)], "url string"
        )
        ranks = spark.createDataFrame(
            [("h.test", 10**9)], "host string, rank_e12 long"
        )
        traps = spark.createDataFrame(
            [("h.test/x/N", 1)], "template string, is_trap int"
        )
        q = fetch_priority(frontier, ranks, traps=traps)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert all(r.score == 0 and r.is_trap == 1 for r in q.collect())


class TestReviewQueue:
    def test_quota_per_tier_lang_cell(self, spark):
        from gocrd_spark.operators.compose import review_queue

        rows = []
        for i in range(6):  # good host: clean text
            rows.append((f"https://good.test/{i}", "clean plain words of text", "en"))
        for i in range(6):  # bad host: digit soup -> block tier
            rows.append((f"https://bad.test/{i}", "1234567890 999 111", "en"))
        pages = spark.createDataFrame(rows, "url string, text string, lang string")
        out = review_queue(pages, k=2).collect()
        cells = {}
        for r in out:
            cells.setdefault((r.tier, r.lang), []).append(r)
        assert set(cells) == {("allow", "en"), ("block", "en")}
        for members in cells.values():
            assert len(members) == 2
            assert sorted(m.pick_order for m in members) == [1, 2]

    def test_rerun_stable(self, spark):
        from gocrd_spark.operators.compose import review_queue

        pages = spark.createDataFrame(
            [(f"https://h.test/{i}", "clean words here", "en") for i in range(10)],
            "url string, text string, lang string",
        )
        a = sorted(r.url for r in review_queue(pages, k=3).collect())
        b = sorted(r.url for r in review_queue(pages, k=3).collect())
        assert a == b and len(a) == 3


class TestFilterAblation:
    def test_hand_counts_and_union_row(self, spark):
        from gocrd_spark.operators.compose import filter_ablation

        # doc 0: long clean prose (passes everything); doc 1: too short
        # (gopher word_count fails -> gopher:all + any); doc 2: long
        # prose containing the listed bad word (wordlist + any)
        # lines end in terminal punctuation so the C4 line gate passes
        line = ("the quick brown fox jumps over the lazy dog and keeps "
                "running through the field with steady pace today.\n")
        clean = line * 5
        docs = spark.createDataFrame(
            [
                (0, clean),
                (1, "too short"),  # gopher word_count + C4 (no period)
                (2, clean + "and here is a badword inside this line.\n"),
            ],
            "doc_id long, text string",
        )
        got = {r.rule: (r.n_fail, r.fail_ppm)
               for r in filter_ablation(docs, ["badword"]).collect()}
        assert got["gopher:word_count"] == (1, 333333)
        assert got["gopher:all"][0] >= 1
        assert got["wordlist"] == (1, 333333)
        assert got["c4:lines"][0] == 1  # only the period-less doc
        # union row covers the two failing docs exactly once each
        assert got["any"][0] == 2
        assert len(got) == 11
