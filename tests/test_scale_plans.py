"""Scale-path guarantees for the round-2 hardened operators: physical
plans stay bucketed/broadcast (no accidental cartesian), the SimHash
band combinatorics keep their pigeonhole recall guarantee, bucket caps
actually cap, and candidate-mode Jaccard equals exact mode."""

import random

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df.cache().count()
    return df


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPhysicalPlans:
    def test_embedding_lsh_never_cartesian(self, emb):
        """The flagship near-dup plan must be a bucketed equi-join — the
        O(N²) shapes (CartesianProduct / corpus-vs-corpus nested loop)
        belong only to the exact baseline. The corpus-vs-PLANES broadcast
        nested loop (n_tables rows, the same broadcast-dim shape as the
        IVF centroid join) is the accepted way the hyperplanes reach the
        fold without becoming plan literals."""
        from gocrd_spark.operators.similarity import (
            embedding_near_dups_exact,
            embedding_near_dups_lsh,
        )

        lsh_plan = _plan(embedding_near_dups_lsh(emb, threshold=0.42))
        assert "CartesianProduct" not in lsh_plan
        # the candidate PAIR join must be an equi-join on (table, bucket)
        assert any(
            j in lsh_plan
            for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        )
        # contrast: the baseline IS the all-pairs shape
        exact_plan = _plan(embedding_near_dups_exact(emb, threshold=0.42))
        assert (
            "CartesianProduct" in exact_plan
            or "BroadcastNestedLoopJoin" in exact_plan
        )

    def test_lsh_plan_size_independent_of_planes(self, emb):
        """The hyperplanes ship as broadcast DATA, not plan literals: an
        8x more-planes/tables config must not inflate the plan text the
        way literal float arrays did (dim x n_planes x n_tables values).
        Guards the round-3 fix mirroring the IVF broadcast quantizer."""
        from gocrd_spark.operators.similarity import topk_lsh

        small = len(_plan(topk_lsh(emb, query_ids=[0], k=5, n_planes=2, n_tables=2)))
        big = len(_plan(topk_lsh(emb, query_ids=[0], k=5, n_planes=8, n_tables=8)))
        # literal planes would grow the plan by ~dim*(64-4)=3840 doubles;
        # broadcast planes leave it within noise (column naming etc.)
        assert big < small * 1.2

    def test_ivf_probe_join_is_broadcast_hash(self, emb):
        """Candidate scoring must broadcast the (tiny) probed-query side
        and hash-join on cell; the only nested-loop joins allowed are the
        centroid-table broadcasts (n_cells rows). No plain cartesian."""
        from gocrd_spark.operators.similarity import topk_ivf

        plan = _plan(topk_ivf(emb, query_ids=[0, 1, 2], k=5, n_cells=8, n_probe=4))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_two_tier_small_side_is_shuffle_free(self, spark):
        """The 100 TB extraction default (num_partitions=None +
        oversize_bytes): the small tier — ~all of the bytes — must run
        as a narrow map on the scan's own splits; the ONLY Exchange in
        the plan is the oversize tail's. A blanket payload shuffle
        measured -23% throughput at 8 cores and 0.85-vs-0.94 scaling on
        the bench box (BENCH.md run F); at crawl scale it would push the
        whole corpus through the fabric for nothing."""
        from gocrd_spark.pipeline import extract_pages

        df = spark.range(0, 64, 1, 4).selectExpr(
            "cast(id as string) as url",
            "cast(repeat('x', 10 + cast(id % 7 as int) * 3) as binary) as html",
        )
        plan = _plan(extract_pages(df, oversize_bytes=25))
        assert plan.count("Exchange ") == 1  # big tier only
        salted = _plan(extract_pages(df, oversize_bytes=25, num_partitions=8))
        assert salted.count("Exchange ") == 2  # both tiers

    def test_simhash_band_join_is_equi(self, docs):
        from gocrd_spark.operators.dedup import simhash_near_dups

        plan = _plan(simhash_near_dups(docs, n=2, max_hamming=3))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_phash_band_join_is_equi(self, spark):
        """The perceptual image tier inherits the SimHash banding plan:
        equi-join on (band, key), never a pixel/hash cross join."""
        from gocrd_spark.operators.multimodal import (
            phash_near_dups,
            synth_ppm_media_pdf,
        )

        media = spark.createDataFrame(
            synth_ppm_media_pdf(20), schema="id long, kind string, payload binary"
        )
        plan = _plan(phash_near_dups(media, max_hamming=6))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestSimhashBanding:
    def test_pigeonhole_recall_guarantee(self):
        """Any two 64-bit signatures within hamming h must share at least
        one band key — exercised over random signatures and flip sets for
        every radius the default plan supports."""
        from gocrd_spark.operators.dedup import simhash_bands

        rng = random.Random(7)
        for h in (1, 2, 3, 4):
            widths, offsets, combos = simhash_bands(h)

            def keys(sig):
                out = []
                for combo in combos:
                    key = 0
                    for b in combo:
                        key = (key << widths[b]) | (
                            (sig >> offsets[b]) & ((1 << widths[b]) - 1)
                        )
                    out.append(key)
                return out

            for _ in range(200):
                sig = rng.getrandbits(64)
                flipped = sig
                for bit in rng.sample(range(64), h):
                    flipped ^= 1 << bit
                shared = any(
                    a == b for a, b in zip(keys(sig), keys(flipped))
                )
                assert shared, f"h={h}: no shared band for flips"

    def test_band_key_width(self):
        """Default radius keeps ~32-bit keys (the r01 16-bit chunks
        degenerated toward all-pairs at crawl cardinality). 64 bits over
        6 blocks makes the narrowest 3-block combo 10+10+11 = 31 bits —
        ~2^31 bucket cardinality vs 2^16 before."""
        from gocrd_spark.operators.dedup import simhash_bands

        widths, _, combos = simhash_bands(3)
        key_bits = min(sum(widths[b] for b in c) for c in combos)
        assert key_bits >= 31

    def test_bucket_cap_drops_degenerate_buckets(self, spark):
        from gocrd_spark.operators.dedup import simhash_near_dups

        same = "identical degenerate boilerplate text repeated" * 3
        df = spark.createDataFrame(
            [(i, same) for i in range(4)], "doc_id long, text string"
        )
        uncapped = simhash_near_dups(df, n=2, max_hamming=1, max_bucket=None)
        assert uncapped.count() == 6  # all 4-choose-2 pairs
        capped = simhash_near_dups(df, n=2, max_hamming=1, max_bucket=3)
        assert capped.count() == 0  # every bucket holds all 4 docs -> dropped


class TestCandidateJaccard:
    def test_candidate_mode_equals_exact_on_full_pairs(self, docs):
        """Verification over the complete pair set must reproduce exact
        mode row-for-row."""
        from gocrd_spark.operators.dedup import ngram_jaccard_pairs

        ids = docs.select("doc_id")
        all_pairs = (
            ids.withColumnRenamed("doc_id", "doc_a")
            .crossJoin(ids.withColumnRenamed("doc_id", "doc_b"))
            .filter(F.col("doc_a") < F.col("doc_b"))
        )
        exact = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(docs, n=3, threshold=0.12).collect()
        }
        via_candidates = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                docs, n=3, threshold=0.12, candidates=all_pairs
            ).collect()
        }
        assert exact == via_candidates and len(exact) > 0

    def test_exact_mode_equals_string_set_jaccard(self, docs):
        """Both modes count over xxhash64 shingle sets; this pins them to
        the string-set definition: a pure-Python Jaccard over the n-gram
        strings under the same normalization (lowercase, whitespace runs
        to one space, trim; a doc shorter than n is one gram of its
        whole text)."""
        import re

        from gocrd_spark.operators.dedup import ngram_jaccard_pairs

        n, threshold = 3, 0.12

        def shingles(text):
            norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")
            toks = [t for t in norm.split(" ") if t]
            if len(toks) < n:
                return {" ".join(toks)}
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

        sets = {r.doc_id: shingles(r.text) for r in docs.collect()}
        ids = sorted(sets)
        want = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if round(j, 6) >= threshold:
                    want[(a, b)] = j
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, n=n, threshold=threshold).collect()
        }
        assert set(got) == set(want) and got
        for pair, j in got.items():
            assert abs(j - want[pair]) <= 5e-7

    def test_minhash_candidates_recall_on_planted_dups(self, docs):
        """The driver wiring: exact Jaccard over minhash candidates must
        find every planted near-dup pair at the driver threshold."""
        from gocrd_spark.operators.dedup import (
            minhash_candidates,
            ngram_jaccard_pairs,
        )

        exact = {
            (r.doc_a, r.doc_b)
            for r in ngram_jaccard_pairs(docs, n=3, threshold=0.12).collect()
        }
        got = {
            (r.doc_a, r.doc_b)
            for r in ngram_jaccard_pairs(
                docs, n=3, threshold=0.12, candidates=minhash_candidates(docs, n=3)
            ).collect()
        }
        assert got == exact


class TestEmbeddingLshQuality:
    def test_precision_one_and_recall_floor(self, emb):
        """Every LSH-emitted pair must appear in the exact answer with the
        identical cos_e6 (precision 1.0 — pairs are exact-verified); the
        multi-table recall floor is probabilistic but stable here because
        the hashes are deterministic."""
        from gocrd_spark.operators.similarity import (
            embedding_near_dups_exact,
            embedding_near_dups_lsh,
        )

        exact = {
            (r.id_a, r.id_b): r.cos_e6
            for r in embedding_near_dups_exact(emb, threshold=0.42).collect()
        }
        lsh = {
            (r.id_a, r.id_b): r.cos_e6
            for r in embedding_near_dups_lsh(emb, threshold=0.42).collect()
        }
        assert set(lsh) <= set(exact)
        for pair, cos in lsh.items():
            assert exact[pair] == cos
        if exact:
            assert len(lsh) / len(exact) >= 0.5


class TestDecontamination:
    def test_contamination_flags_and_broadcast(self, spark):
        from gocrd_spark.operators.dedup import contamination_flags

        base = "one two three four five six seven eight nine ten eleven twelve thirteen extra words here"
        docs = spark.createDataFrame(
            [(1, base + " tail a"), (2, "totally different words " * 5), (3, base)],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame([(100, base + " other end")], "doc_id long, text string")
        flagged = contamination_flags(docs, bench, n=13)
        rows = {(r.doc_id, r.benchmark_id) for r in flagged.collect()}
        assert (1, 100) in rows and (3, 100) in rows
        assert all(d != 2 for d, _ in rows)
        plan = flagged._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # benchmark side broadcast

    def test_repetition_stats_values(self, spark):
        from gocrd_spark.operators.dedup import repetition_stats

        docs = spark.createDataFrame(
            [(1, "a b c a b c a b c"), (2, "w x y z")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in repetition_stats(docs, n=3).collect()}
        # doc 1: 7 trigrams, 3 unique -> dup ratio 4/7
        assert rows[1].n_grams == 7 and rows[1].n_unique_grams == 3
        assert rows[1].dup_ratio_e6 == 571429
        assert rows[2].dup_ratio_e6 == 0


class TestRound3PlanShapes:
    def test_paragraph_dedup_decision_exchange_is_longs_only(self, docs):
        """The keep/drop decision exchange hashes on the chunk HASH —
        chunk/text strings must never ride a hash exchange (the text
        joins back once by doc_id for reassembly)."""
        from gocrd_spark.operators.dedup import paragraph_dedup

        plan = _plan(paragraph_dedup(docs, chunk_words=8))
        # hash-partitioned exchanges exist (decision + kept-idx rollup) ...
        assert "hashpartitioning(h#" in plan
        # ... and none of them carries a string payload: every Exchange
        # Input list is free of the text/chunk columns
        for block in plan.split("\n\n"):
            if block.strip().startswith("(") and ") Exchange" in block.splitlines()[0]:
                if "hashpartitioning" in block:
                    assert "text#" not in block and "chunk#" not in block, block

    def test_duplicate_spans_window_partitioned_by_doc(self, docs):
        """The islands merge must be a doc_id-PARTITIONED window (fully
        parallel), never a global sort; the dup decision is a semi-join
        on the hash."""
        from gocrd_spark.operators.dedup import duplicate_spans

        plan = _plan(duplicate_spans(docs, n=13))
        assert "windowspecdefinition(doc_id#" in plan
        assert "LeftSemi" in plan

    def test_source_sample_rates_are_broadcast_not_literals(self, docs):
        """A thousand-domain mix must not inflate the plan: rates ride a
        broadcast join, and the plan size is independent of the rate
        count."""
        from gocrd_spark.operators.textstats import source_weighted_sample

        small = _plan(source_weighted_sample(docs, {"src0": 0.5}))
        big = _plan(
            source_weighted_sample(
                docs, {f"d{i}": (i % 100) / 100 for i in range(1000)}
            )
        )
        assert "BroadcastHashJoin" in big
        # same operator tree; only the broadcast DATA differs
        assert abs(len(big) - len(small)) < 400

    def test_pack_shards_intra_bucket_window_is_partitioned(self, docs):
        """Only the tiny bucket-offset window may be unpartitioned; the
        per-doc cumsum must be PARTITIONED by bucket."""
        from gocrd_spark.operators.textstats import pack_shards

        plan = _plan(pack_shards(docs, budget_tokens=2048, bucket_size=64))
        assert "windowspecdefinition(bucket#" in plan

    def test_host_pagerank_never_replays_extraction(self, spark):
        """The PageRank loop's final plan must source from the
        checkpointed edge tables (Scan ExistingRDD), NEVER re-running
        the upstream DOM-walk lineage — without the entry checkpoint
        the plan contained one MapInPandas per consumer per iteration
        (caught by the round-4 plan audit)."""
        from gocrd_spark.operators.linkgraph import (
            extract_outlinks,
            host_edges,
            host_pagerank,
            synth_linked_html,
        )

        rows = [(r["url"], bytearray(r["html"])) for r in synth_linked_html(40)]
        pages = spark.createDataFrame(rows, "url string, html binary")
        ranks = host_pagerank(host_edges(extract_outlinks(pages)), n_iters=5)
        plan = _plan(ranks)
        assert "MapInPandas" not in plan
        assert "ExistingRDD" in plan


class TestRound5PlanShapes:
    """Plan pins for the round-5 operators: the scale accounting their
    docstrings claim must be visible in the physical plan."""

    def test_dsir_llr_join_is_broadcast_no_corpus_join(self, docs):
        """The llr table (<= buckets rows) must reach the per-doc join
        as a broadcast; no SortMergeJoin anywhere (a corpus-sized
        shuffle join would mean the bucket stats table went wide)."""
        from gocrd_spark.operators.textstats import dsir_weights

        plan = _plan(dsir_weights(docs, target=F.col("lang") == "en"))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_dsir_select_is_takeordered(self, docs):
        from gocrd_spark.operators.textstats import dsir_select

        plan = _plan(dsir_select(docs, target=F.col("lang") == "en", k=10))
        assert "TakeOrderedAndProject" in plan

    def test_bloom_done_side_only_feeds_broadcast_joins(self, spark):
        """The done set reaches joins ONLY as broadcast shapes: every
        bitmap-probe join (on _word) is a BroadcastHashJoin, and the
        done-vs-maybe check is a broadcast LeftSemi (done streams
        map-side against the broadcast maybe keys). The plan's
        SortMergeJoins join INCREMENT-sized key sets (pages vs
        new_keys, maybe vs seen-maybe survivors) — never the full done
        table."""
        from gocrd_spark.pipeline import bloom_filter_unprocessed

        pages = spark.createDataFrame(
            [(f"u{i}", i) for i in range(300)], "url string, payload long"
        )
        done = pages.filter("payload % 2 = 0").select("url")
        plan = _plan(bloom_filter_unprocessed(pages, done))
        word_joins = [
            line for line in plan.splitlines()
            if "Join" in line and "_word" in line
        ]
        assert word_joins and all(
            "BroadcastHashJoin" in line for line in word_joins
        )
        assert any(
            "BroadcastHashJoin" in line and "LeftSemi" in line
            for line in plan.splitlines()
        )

    def test_pack_sequences_windows_are_bucket_partitioned(self, docs):
        """One unpartitioned window over BUCKET OFFSETS only (rows =
        n_docs/bucket_size); the per-doc cumsum window must be
        partitioned. The plan shows exactly one global (empty
        partition-spec) Window over the offsets aggregate."""
        from gocrd_spark.operators.textstats import pack_sequences

        plan = _plan(pack_sequences(docs, seq_len=128, bucket_size=50))
        # the per-doc window is partitioned by bucket
        assert "partitionBy=[bucket" in plan.replace(" ", "") or (
            "Window" in plan and "bucket" in plan
        )
        # and the doc-level data reaches its window via a bucket hash
        # partition, not a single global sort of the corpus
        assert plan.count("Sort [bucket") >= 1

    def test_mixture_plan_single_source_window_broadcast_budgets(self, docs):
        from gocrd_spark.operators.textstats import mixture_plan

        plan = _plan(mixture_plan(docs, {"src0": 100}, default_budget=10))
        assert "BroadcastHashJoin" in plan  # budgets as data
        assert "SortMergeJoin" not in plan
        # window partitioned by source — no global unpartitioned sort
        assert "Sort [source" in plan

    def test_cdx_plan_latest_only_is_partial_agg(self, spark):
        """The latest-only dedup must be a hash aggregate on urlkey
        (partial -> final), never a window sort over all captures."""
        from gocrd_spark.cdx import cdx_fetch_plan, format_cdx_line, parse_cdx

        rows = spark.createDataFrame(
            [(i, f"http://h{i % 7}.test/p{i}", 200) for i in range(50)],
            "doc_id long, url string, status int",
        )
        lines = rows.select(
            format_cdx_line(
                url=F.col("url"),
                ts=F.lit("2026-01-01 00:00:00").cast("timestamp"),
                status=F.col("status"),
                digest=F.lit("sha1:x"),
                length=F.lit(10),
                offset=F.col("doc_id"),
                filename=F.lit("f.warc.gz"),
            ).alias("value")
        )
        plan = _plan(cdx_fetch_plan(parse_cdx(lines)))
        # struct max is sort-aggregated, but the PARTIAL agg still runs
        # before the exchange (map-side combine) — and no window sort
        # over all captures anywhere
        assert "partial_max(struct" in plan
        assert "Window" not in plan


class TestRound5Plans:
    def test_page_metadata_is_shuffle_free_narrow_map(self, spark):
        """The metadata tier must ride the scan's own splits: scan ->
        project -> MapInPandas, ZERO Exchange — at 100 TB it shares
        extraction's partitioning and payload bytes never move."""
        from gocrd_spark import datagen
        from gocrd_spark.pipeline import page_metadata

        pages = datagen.pages_df(spark, 50)
        plan = _plan(page_metadata(pages))
        assert "Exchange" not in plan
        assert "MapInPandas" in plan

    def test_canonical_dedup_shuffles_keys_not_content(self, spark):
        """canonical_dedup's winner is a struct-min window over target
        and its shuffle carries only (url, target, ts) — no page/html
        column ever shuffles."""
        from gocrd_spark.operators.urls import canonical_dedup

        df = spark.createDataFrame(
            [("u1", None, 1), ("u2", "u1", 2)],
            "url string, canonical_url string, warc_ts_epoch long",
        ).withColumn("html", F.lit(b"payload-bytes-never-shuffle"))
        plan = _plan(canonical_dedup(df))
        assert "Window" in plan and "SortMergeJoin" not in plan
        for block in plan.split("+-"):
            if "Exchange" in block.splitlines()[0]:
                assert "html" not in block

    def test_perplexity_buckets_window_only_over_sample(self, docs):
        """The only window sort is over the SAMPLE (cutoff ranks); the
        full corpus is labeled via a BROADCAST join against the tiny
        cutoff table — no corpus-wide sort or window."""
        from gocrd_spark.operators.textstats import perplexity_buckets

        plan = _plan(perplexity_buckets(docs))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        # exactly one Window (sample ranking) — labeling adds none
        assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2

    def test_recrawl_schedule_groupby_reuses_window_shuffle(self, spark):
        """The post-window groupBy on the same key must NOT add a second
        Exchange — the window's hash partitioning on url is reused."""
        from gocrd_spark.operators.urls import recrawl_schedule

        obs = spark.createDataFrame(
            [("u", s, f"d{s//2}") for s in range(1, 5)],
            "url string, snap_id long, digest string",
        )
        plan = _plan(recrawl_schedule(obs))
        assert plan.count("Exchange") == 1


class TestHostBoilerplatePlan:
    def test_detection_exchanges_are_longs_only(self, docs):
        """The df-count exchanges hash on (host, xxhash64(line)) — the
        line STRING must never ride a detection exchange; document text
        moves at most once (the host join for the membership filter),
        and there is no cartesian and no Python."""
        from gocrd_spark.operators.textstats import host_boilerplate

        corpus = docs.select(
            "doc_id",
            (F.col("doc_id") % 5).cast("string").alias("host"),
            F.col("text"),
        )
        plan = _plan(host_boilerplate(corpus, min_df=3))
        assert "CartesianProduct" not in plan and "MapInPandas" not in plan
        for block in plan.split("\n\n"):
            head = block.splitlines()[0] if block.splitlines() else ""
            if ") Exchange" in head and "hashpartitioning" in block:
                if ", h#" in block.splitlines()[0] or "(h#" in block.splitlines()[0]:
                    assert "line#" not in block and "text#" not in block, block


class TestCrawlTrapsPlan:
    def test_distinct_exchanges_carry_hashes_not_payloads(self, docs):
        """The two distinct-counts ride xxhash64 longs under the template
        key — raw url/digest strings never reach an exchange; no
        cartesian, no Python."""
        from gocrd_spark.operators.urls import crawl_traps

        obs = docs.select(
            F.concat(F.lit("https://h.test/p/"), F.col("doc_id").cast("string")).alias("url"),
            (F.col("doc_id") % 5).cast("string").alias("digest"),
        )
        plan = _plan(crawl_traps(obs))
        assert "CartesianProduct" not in plan and "MapInPandas" not in plan
        for block in plan.split("\n\n"):
            head = block.splitlines()[0] if block.splitlines() else ""
            if ") Exchange" in head and "hashpartitioning" in block:
                assert "url#" not in block and "digest#" not in block, block


class TestRedirectResolvePlan:
    def test_doubling_rounds_are_checkpointed_longs(self, docs):
        """The iterative-loop audit (CLAUDE.md): the final plan reads
        ExistingRDD checkpoints — the upstream edge derivation must not
        replay per round; URL strings ride no doubling exchange (ids and
        hops are longs until the exit join-back)."""
        from gocrd_spark.operators.linkgraph import redirect_resolve

        edges = docs.select(
            F.concat(F.lit("n"), F.col("doc_id").cast("string")).alias("src"),
            F.concat(F.lit("n"), (F.col("doc_id") + 1).cast("string")).alias("dst"),
        )
        plan = _plan(redirect_resolve(edges, max_hops=32))
        assert "ExistingRDD" in plan
        assert "CartesianProduct" not in plan and "MapInPandas" not in plan
        for block in plan.split("\n\n"):
            head = block.splitlines()[0] if block.splitlines() else ""
            if ") Exchange" in head and "hashpartitioning(cur#" in block:
                assert "src#" not in block and "dst#" not in block, block


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture
def pinned_plans(monkeypatch):
    """Optimized plans of the tables pinned with ``localCheckpoint``
    while a test builds its query, in call order. The final plan shows
    a pinned table only as a LogicalRDD, so what runs inside a pin is
    visible here alone."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    local_checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(_optimized(self))
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    return plans


class TestGeneratorInputsEvaluatedOnce:
    def test_no_filter_reruns_a_lambda_chain(self, spark, docs, pinned_plans):
        """On the default session (InferFiltersFromGenerate active), no
        Filter may evaluate a higher-order-function chain, in the final
        plan or inside a pin: a filter the rule infers on a bound
        generator input is pushed below its projection and re-runs the
        tokenize/shingle/chunk chain."""
        from gocrd_spark.operators.bpe import bpe_vocab
        from gocrd_spark.operators.dedup import (
            containment_candidates,
            containment_pairs,
            contamination_flags,
            ngram_jaccard_pairs,
            paragraph_dedup,
        )
        from gocrd_spark.operators.textstats import chunk_documents, pack_sequences

        excluded = spark.conf.get("spark.sql.optimizer.excludedRules", "") or ""
        assert "InferFiltersFromGenerate" not in excluded
        bench = docs.filter(F.col("doc_id") % 50 == 0)
        for build in (
            lambda: contamination_flags(docs, bench, n=13),
            lambda: paragraph_dedup(docs, chunk_words=8),
            lambda: bpe_vocab(docs, [(0, "e", "r</w>")]),
            lambda: chunk_documents(docs, chunk_tokens=64, overlap=16),
            lambda: pack_sequences(docs, seq_len=512),
            lambda: pack_sequences(docs, seq_len=512, token_mode="bpe"),
            lambda: ngram_jaccard_pairs(docs, n=3),
            lambda: containment_pairs(docs, n=3, threshold=0.5),
            lambda: containment_pairs(
                docs, n=3, threshold=0.5,
                candidates=containment_candidates(docs, n=3, k=5),
            ),
        ):
            pinned_plans.clear()
            df = build()
            for plan in (*pinned_plans, _optimized(df)):
                filters = [
                    line for line in plan.splitlines()
                    if line.lstrip(" :+-|").startswith("Filter")
                ]
                assert not [f for f in filters if "lambdafunction" in f], plan


class TestSingleKernelPass:
    """The kernel output feeds one consumer: a second reader (a join
    back, a cross-joined total) would run the Python kernel twice. The
    pages come from the driver, so the only MapInPandas is the kernel."""

    @staticmethod
    def _pages(spark):
        from gocrd_spark import datagen

        return spark.createDataFrame(datagen.pages_pdf(50), schema=datagen.PAGES_SCHEMA)

    def test_canonical_dedup_runs_page_metadata_once(self, spark):
        from gocrd_spark.operators.urls import canonical_dedup
        from gocrd_spark.pipeline import page_metadata

        plan = _plan(canonical_dedup(page_metadata(self._pages(spark))))
        assert plan.count("MapInPandas") == 1, plan

    def test_extraction_report_runs_the_kernel_once(self, spark):
        from gocrd_spark.pipeline import extract_pages, extraction_report

        plan = _plan(extraction_report(extract_pages(self._pages(spark))))
        assert plan.count("MapInPandas") == 1, plan

    def test_phash_near_dups_runs_the_kernel_once(self, spark, pinned_plans):
        """The band table feeds both self-join sides and the bucket
        cap; pinned, the phash kernel runs once, inside the pin."""
        from gocrd_spark.operators.multimodal import (
            phash_near_dups,
            synth_ppm_media_pdf,
        )

        media = spark.createDataFrame(
            synth_ppm_media_pdf(20), schema="id long, kind string, payload binary"
        )
        final = _plan(phash_near_dups(media, max_hamming=6))
        plans = [*pinned_plans, final]
        assert sum(p.count("MapInPandas") for p in plans) == 1, plans


class TestDedupPins:
    def test_pins_are_local_checkpoints(self, spark):
        """The dedup operators pin their multiply-consumed tables with a
        lazy localCheckpoint (a Scan ExistingRDD in the plan), never with
        a session-cached persist (an InMemoryTableScan) that a later
        call of the same plan would be served from."""
        from gocrd_spark.operators.dedup import (
            containment_candidates,
            minhash_lsh,
            simhash_near_dups,
        )

        # an uncached read: the module's ``docs`` fixture is cached
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        for df in (
            simhash_near_dups(docs, n=2, max_hamming=3),
            minhash_lsh(docs, threshold=0.5),
            containment_candidates(docs, n=3, k=5),
        ):
            plan = _plan(df)
            assert "Scan ExistingRDD" in plan, plan
            assert "InMemoryTableScan" not in plan, plan
