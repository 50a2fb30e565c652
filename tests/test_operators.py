"""Operator-suite tests: dedup (exact/minhash/simhash/jaccard),
similarity search (brute vs LSH recall), text stats edge cases,
multimodal plumbing."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df.cache().count()
    return df


class TestExactDedup:
    def test_with_actual_duplicates(self, spark):
        from gocrd_spark.operators.dedup import exact_dedup

        df = spark.createDataFrame(
            [
                (1, "Hello  World"),
                (2, "hello world"),  # same after normalization
                (3, "different"),
                (4, " HELLO WORLD  "),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r.n_dups for r in exact_dedup(df).collect()}
        assert rows == {1: 3, 3: 1}

    def test_all_unique_passthrough(self, docs):
        from gocrd_spark.operators.dedup import exact_dedup

        assert exact_dedup(docs).count() == docs.count()


class TestMinHash:
    def test_lsh_recall_and_precision_vs_exact(self, docs):
        from gocrd_spark.operators.dedup import minhash_lsh, ngram_jaccard_pairs

        threshold = 0.12
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, n=3, threshold=threshold).collect()
        }
        lsh = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh(docs, n=3, threshold=threshold).collect()
        }
        # precision: every LSH-verified pair is an exact pair w/ equal jaccard
        for pair, jac in lsh.items():
            assert pair in exact
            assert abs(exact[pair] - jac) < 1e-9
        # recall on this deterministic dataset
        assert len(exact) > 0
        assert len(lsh) / len(exact) >= 0.7

    def test_signature_permutations_differ(self, spark):
        """Regression: the permutation seed must vary per hash (a defaulted
        lambda arg used to be silently rebound to the element index)."""
        from gocrd_spark.operators.dedup import minhash_signature

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
        sig = minhash_signature(df, n=2, num_hashes=8).collect()[0].signature
        assert len(set(sig)) > 4  # distinct permutations -> distinct minima

    def test_star_bucket_valve_linearizes_mega_bucket(self, spark):
        """VERDICT r04 #5: a boilerplate class (30 near-copies of one
        template) whose buckets exceed star_bucket emits hub-star
        candidates — O(|B|) pairs instead of |B|²/2 — while the
        resulting CLUSTER (what dedup_clusters consumes) is identical
        to the exact candidate set's. Small buckets keep exact pairs."""
        from gocrd_spark.operators.dedup import (
            connected_components,
            minhash_candidates,
            verify_jaccard_pairs,
        )

        tmpl = " ".join(f"boiler{i:03d}" for i in range(120))
        rows = [(i, tmpl + f" unique{i}") for i in range(30)]
        # plus an unrelated small near-dup pair
        rows += [(100, "alpha beta gamma delta epsilon zeta"),
                 (101, "alpha beta gamma delta epsilon eta")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        exact_cand = minhash_candidates(docs, n=3)
        star_cand = minhash_candidates(docs, n=3, star_bucket=10)
        n_exact, n_star = exact_cand.count(), star_cand.count()
        assert n_exact >= 29 * 30 / 2          # mega bucket went quadratic
        assert n_star < n_exact and n_star <= 29 + 10  # star is linear

        def comps(cand):
            verified = verify_jaccard_pairs(docs, cand, n=3, threshold=0.5)
            return {
                r.doc_id: r.canonical_id
                for r in connected_components(verified).collect()
            }

        star_comps = comps(star_cand)
        assert comps(exact_cand) == star_comps
        assert all(star_comps[i] == 0 for i in range(30))
        assert star_comps.get(100) == 100 and star_comps.get(101) == 100


class TestMinhashBorderlineRecall:
    """The sf0.01 corpus plants only j >= 0.9 near-dups, where ANY sane
    banding recalls — so banding regressions were invisible. This corpus
    plants BORDERLINE pairs (j ~= 0.206, just above the 0.12 driver
    threshold) where recall is decided entirely by the banding."""

    @pytest.fixture(scope="class")
    def borderline(self, spark):
        # pair p: two 40-token docs sharing their first 15 tokens ->
        # 13 shared 3-gram shingles of 38 each: j = 13/63 ~= 0.206
        rows = []
        for p in range(30):
            base = [f"w{p}t{i}" for i in range(40)]
            alt = base[:15] + [f"x{p}t{i}" for i in range(25)]
            rows.append((2 * p, " ".join(base)))
            rows.append((2 * p + 1, " ".join(alt)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.cache().count()
        return df

    def test_tuned_banding_recalls_borderline_pairs(self, borderline):
        """With banding chosen FOR the threshold (choose_bands), LSH
        output equals the exact answer on borderline pairs. Swapping in
        a coarse banding (e.g. bands=4 or the j>=0.9-tuned 8x4) makes
        this equality FAIL — the guard the round-2 verdict asked for."""
        from gocrd_spark.operators.dedup import (
            choose_bands,
            minhash_lsh,
            ngram_jaccard_pairs,
        )

        threshold = 0.12
        num_hashes = 64
        bands = choose_bands(num_hashes, threshold)
        # at j=0.206 the per-pair miss probability is (1-j)^64 ~= 4e-7
        assert bands == 64  # 1-row bands: the only divisor reaching 0.99

        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(borderline, n=3, threshold=threshold).collect()
        }
        assert len(exact) == 30  # every planted pair qualifies
        lsh = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh(
                borderline, n=3, num_hashes=num_hashes, bands=bands,
                threshold=threshold, allow_quadratic=True,
            ).collect()
        }
        assert lsh == exact

    def test_one_row_bands_refused_without_opt_in(self, borderline):
        """The raw operators refuse the near-quadratic 1-row-band regime
        (bands == num_hashes) unless allow_quadratic=True — lifting the
        compose.training_corpus refusal to minhash_candidates/
        minhash_lsh/minhash_signatures so the driver-corpus parameters
        can't silently be pasted into a crawl-scale run (VERDICT r03
        #3). The opt-in path must still work."""
        from gocrd_spark.operators.dedup import (
            minhash_candidates,
            minhash_lsh,
            minhash_signatures,
        )

        with pytest.raises(ValueError, match="1-row bands"):
            minhash_candidates(borderline, n=3, num_hashes=64, bands=64)
        with pytest.raises(ValueError, match="1-row bands"):
            minhash_lsh(borderline, n=3, num_hashes=64, bands=64, threshold=0.12)
        with pytest.raises(ValueError, match="1-row bands"):
            minhash_signatures(
                borderline, "/tmp/never-written", n=3, num_hashes=64, bands=64
            )
        # opt-in constructs a plan (laziness: no job run needed to prove it)
        df = minhash_candidates(
            borderline, n=3, num_hashes=64, bands=64, allow_quadratic=True
        )
        assert df.columns == ["doc_a", "doc_b"]

    def test_coarse_banding_underrecalls(self, borderline):
        """The default 8x4 banding (tuned for j>=0.9 dups) must MISS
        borderline pairs — per-pair recall 1-(1-0.206^4)^8 ~= 1.4e-2.
        If this ever starts passing borderline pairs, the banding/recall
        model is wrong and choose_bands needs re-derivation."""
        from gocrd_spark.operators.dedup import minhash_lsh

        lsh = minhash_lsh(
            borderline, n=3, num_hashes=32, bands=8, threshold=0.12
        ).count()
        assert lsh < 30  # strictly under-recalls (expected ~0)

    def test_choose_bands_matches_known_operating_points(self):
        from gocrd_spark.operators.dedup import choose_bands

        # near-identical dups: the driver's 8x4 banding is exactly the
        # cheapest 0.99-recall banding at j=0.9
        assert choose_bands(32, 0.9) == 8
        # borderline threshold needs 1-row bands even at 64 hashes
        assert choose_bands(64, 0.2) == 64
        # recall floor unreachable -> max banding (callers raise hashes)
        assert choose_bands(32, 0.12) == 32


class TestDedupClusters:
    def test_planted_components(self, spark):
        """Chain 1-2-3-4, star 10<-{11,12,13}, isolated pair (20,21):
        every member resolves to its component's min doc_id, even where
        no direct pair links it to the canonical (transitivity)."""
        from gocrd_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
            "doc_a long, doc_b long",
        )
        got = {
            r.doc_id: r.canonical_id for r in connected_components(pairs).collect()
        }
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1,
            10: 10, 11: 10, 12: 10, 13: 10,
            20: 20, 21: 20,
        }

    def test_keep_decisions_cover_whole_corpus(self, spark):
        from gocrd_spark.operators.dedup import dedup_clusters

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(0, 3), (3, 5), (1, 2)], "doc_a long, doc_b long"
        )
        rows = {r.doc_id: (r.canonical_id, r.keep)
                for r in dedup_clusters(docs, pairs).collect()}
        assert rows == {
            0: (0, 1), 3: (0, 0), 5: (0, 0),          # component {0,3,5}
            1: (1, 1), 2: (1, 0),                     # component {1,2}
            4: (4, 1), 6: (6, 1), 7: (7, 1),          # singletons keep
        }

    def test_long_chain_converges(self, spark):
        """A 12-hop chain: pointer jumping resolves it in O(log
        diameter) rounds; an under-provisioned max_iters raises instead
        of silently returning partial labels."""
        from gocrd_spark.operators.dedup import connected_components

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(100, 112)], "doc_a long, doc_b long"
        )
        stats: dict = {}
        got = {
            r.doc_id: r.canonical_id
            for r in connected_components(chain, stats=stats).collect()
        }
        assert set(got.values()) == {100} and len(got) == 13
        assert stats["rounds"] <= 6  # ~log2(12)+slack, not 12
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iters=1)

    def test_planted_skew_chain_and_mega_star(self, spark):
        """VERDICT r04 #5 planted-skew shapes, in one pair table:
        - a 2000-hop snapshot-drift CHAIN (diameter 2000 — the shape
          that blows a plain O(diameter) propagation's 25-round cap);
        - a 5000-member boilerplate mega-cluster (star around doc 0 —
          one vertex of degree 5000, the hot-key shape);
        - a normal small ring, to prove coexistence.
        Pointer jumping must converge the LOT within the default cap in
        O(log diameter) rounds with every label correct."""
        from gocrd_spark.operators.dedup import connected_components

        chain = [(100_000 + i, 100_000 + i + 1) for i in range(2000)]
        star = [(0, i) for i in range(1, 5000)]
        ring = [(90_000, 90_001), (90_001, 90_002), (90_002, 90_000)]
        pairs = spark.createDataFrame(
            chain + star + ring, "doc_a long, doc_b long"
        )
        stats: dict = {}
        got = {
            r.doc_id: r.canonical_id
            for r in connected_components(pairs, stats=stats).collect()
        }
        assert stats["rounds"] <= 15  # ~log2(2000)+slack, vs 2000 plain
        assert all(got[100_000 + i] == 100_000 for i in range(2001))
        assert all(got[i] == 0 for i in range(5000))
        assert got[90_000] == got[90_001] == got[90_002] == 90_000
        assert len(got) == 2001 + 5000 + 3


class TestMinhashSignatureTable:
    def test_durable_resume_and_incremental_parity(self, spark, docs, tmp_path):
        """MinHash mirror of the SimHash durable path: write-once resume,
        param-mismatch refusal, and increments that equal the full-batch
        answer restricted to new-involving pairs (old-old never
        re-emitted, old signatures never recomputed)."""
        import time

        from gocrd_spark.operators.dedup import (
            minhash_incremental,
            minhash_lsh,
            minhash_signatures,
        )

        old = docs.filter(F.col("doc_id") % 5 != 0)
        new = docs.filter(F.col("doc_id") % 5 == 0)
        path = str(tmp_path / "mh_sigs")
        minhash_signatures(
            old, path, n=3, num_hashes=32, bands=32, allow_quadratic=True
        )

        t0 = time.time()
        assert (
            minhash_signatures(
                old, path, n=3, num_hashes=32, bands=32, allow_quadratic=True
            )
            == path
        )
        assert time.time() - t0 < 1.0
        with pytest.raises(ValueError, match="was built with"):
            minhash_signatures(old, path, n=3, num_hashes=32, bands=8)

        inc = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_incremental(new, docs, path, threshold=0.12).collect()
        }
        full = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh(
                docs, n=3, threshold=0.12, num_hashes=32, bands=32,
                allow_quadratic=True,
            ).collect()
        }
        new_ids = {r.doc_id for r in new.select("doc_id").collect()}
        expected = {
            p: j for p, j in full.items() if p[0] in new_ids or p[1] in new_ids
        }
        assert inc == expected and len(inc) > 0


class TestDuplicateSpans:
    def test_planted_spans(self, spark):
        """Cross-doc repeat -> one maximal span per doc; overlapping
        duplicated windows merge (consecutive positions chain); intra-doc
        repetition counts as duplication; short docs emit nothing."""
        from gocrd_spark.operators.dedup import duplicate_spans

        shared = "a b c d e f"  # 6 tokens
        docs = spark.createDataFrame(
            [
                (0, f"{shared} x y z"),        # shared at pos 0
                (1, f"p q {shared} r"),        # shared at pos 2
                (2, "w " * 10),                 # intra-doc: all 4-grams equal
                (3, "too short"),               # < n tokens -> no windows
                (4, "totally unrelated words here now"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r.doc_id, r.span_start, r.span_end, r.n_windows)
            for r in duplicate_spans(docs, n=4).collect()
        }
        # docs 0/1 share three 4-gram windows (abcd, bcde, cdef) ->
        # one merged span of 6 tokens each; doc 2's identical windows
        # chain into one whole-doc span (7 windows over 10 tokens)
        assert got == {
            (0, 0, 5, 3),
            (1, 2, 7, 3),
            (2, 0, 9, 7),
        }

    def test_overlapping_coverage_merges(self, spark):
        """Duplicated windows whose n-token coverages overlap merge into
        ONE span even when the positions are not consecutive (doc 0 has
        dup windows at pos 0 and 2 with pos 1 unique — the pre-fix rule
        emitted the overlapping spans [0,3] and [2,5])."""
        from gocrd_spark.operators.dedup import duplicate_spans

        docs = spark.createDataFrame(
            [
                (0, "a b c d e f"),   # w0 'a b c d' dup w/ doc1; w2 'c d e f' dup w/ doc2
                (1, "x a b c d"),
                (2, "c d e f y"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r.doc_id, r.span_start, r.span_end, r.n_windows)
            for r in duplicate_spans(docs, n=4).collect()
        }
        assert got == {
            (0, 0, 5, 2),   # one merged non-overlapping span
            (1, 1, 4, 1),
            (2, 0, 3, 1),
        }


class TestRemoveDuplicateSpans:
    def test_cut_and_passthrough(self, spark):
        """All copies of a duplicated run are cut (the ExactSubstr tool
        behavior); clean docs pass through normalized; empty docs and
        docs reduced to nothing both emit empty text."""
        from gocrd_spark.operators.dedup import (
            duplicate_spans,
            remove_duplicate_spans,
        )

        docs = spark.createDataFrame(
            [
                (0, "a b c d e f x y z"),
                (1, "p q a b c d e f r"),
                (2, "Clean  Doc stays WHOLE"),
                (3, ""),
                (4, "a b c d e f"),  # nothing but the dup -> empty
            ],
            "doc_id long, text string",
        )
        out = remove_duplicate_spans(docs, duplicate_spans(docs, n=4))
        got = {r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
               for r in out.collect()}
        assert got == {
            0: ("x y z", 9, 6),
            1: ("p q r", 9, 6),
            2: ("clean doc stays whole", 4, 0),
            3: ("", 0, 0),
            4: ("", 6, 6),
        }

    def test_caller_filtered_spans_keep_first_copy(self, spark):
        """The span table is caller-filterable: dropping one doc's spans
        from it keeps that copy — the keep-first policy composes without
        operator changes."""
        from gocrd_spark.operators.dedup import (
            duplicate_spans,
            remove_duplicate_spans,
        )

        docs = spark.createDataFrame(
            [(0, "a b c d e f x y z"), (1, "p q a b c d e f r")],
            "doc_id long, text string",
        )
        later_copies = duplicate_spans(docs, n=4).filter(F.col("doc_id") != 0)
        got = {r.doc_id: r.text_clean
               for r in remove_duplicate_spans(docs, later_copies).collect()}
        assert got[0] == "a b c d e f x y z" and got[1] == "p q r"


class TestContainment:
    def test_subset_case_jaccard_misses(self, spark):
        """A short doc embedded verbatim in a long doc: containment
        A→B = 1.0 while Jaccard is tiny — the exact case this operator
        exists for."""
        from gocrd_spark.operators.dedup import (
            containment_pairs,
            ngram_jaccard_pairs,
        )

        small = "alpha beta gamma delta epsilon"
        big = small + " " + " ".join(f"filler{i} pad{i} text{i}" for i in range(40))
        docs = spark.createDataFrame(
            [(0, small), (1, big), (2, "totally different words here")],
            "doc_id long, text string",
        )
        got = {
            (r.doc_id, r.other_id): r.containment
            for r in containment_pairs(docs, n=3, threshold=0.9).collect()
        }
        assert got == {(0, 1): 1.0}  # directed: only A→B, not B→A
        # and Jaccard at the same bar sees nothing
        assert ngram_jaccard_pairs(docs, n=3, threshold=0.9).count() == 0

    def test_candidate_mode_equals_exact_on_candidates(self, docs):
        """Candidate mode must equal exact mode restricted to the given
        pairs (the verify-only contract)."""
        from gocrd_spark.operators.dedup import containment_pairs

        exact = {
            (r.doc_id, r.other_id): r.containment
            for r in containment_pairs(docs, n=3, threshold=0.3).collect()
        }
        assert exact  # corpus plants qualifying pairs
        cand_pairs = sorted(
            {(min(a, b), max(a, b)) for a, b in exact}
        )
        cands = docs.sparkSession.createDataFrame(
            cand_pairs, "doc_a long, doc_b long"
        )
        from_cands = {
            (r.doc_id, r.other_id): r.containment
            for r in containment_pairs(
                docs, n=3, threshold=0.3, candidates=cands
            ).collect()
        }
        assert from_cands == exact

    def test_rare_shingle_candidates_full_recall_on_corpus(self, docs):
        """The crawl-scale path (VERDICT r04 #3): rare-shingle
        candidates + verify must reproduce the exact co-occurrence
        answer on the test corpus — measured recall 100% here, pinned
        per-round by the containment_candidates_recall driver row."""
        from gocrd_spark.operators.dedup import (
            containment_candidates,
            containment_pairs,
        )

        exact = {
            (r.doc_id, r.other_id): r.containment
            for r in containment_pairs(docs, n=3, threshold=0.3).collect()
        }
        assert exact
        approx = {
            (r.doc_id, r.other_id): r.containment
            for r in containment_pairs(
                docs, n=3, threshold=0.3,
                candidates=containment_candidates(docs, n=3, k=5),
            ).collect()
        }
        assert approx == exact

    def test_rare_shingle_candidates_recall_asymmetric_pair(self, spark):
        """The tiny-doc-inside-huge-doc pair (containment 1.0, Jaccard
        ~0.04 — invisible to Jaccard banding) must be a rare-shingle
        candidate: the small doc's rarest shingles are exactly the ones
        the big doc shares."""
        from gocrd_spark.operators.dedup import containment_candidates

        small = "alpha beta gamma delta epsilon"
        big = small + " " + " ".join(f"filler{i} pad{i} text{i}" for i in range(40))
        docs = spark.createDataFrame(
            [(0, small), (1, big), (2, "totally different words here")],
            "doc_id long, text string",
        )
        got = {
            (r.doc_a, r.doc_b)
            for r in containment_candidates(docs, n=3, k=5).collect()
        }
        assert (0, 1) in got

    def test_rare_shingle_max_df_skew_valve(self, spark):
        """max_df drops boilerplate shingles from SELECTION: a corpus
        where every doc shares one frequent template shingle plus a
        unique tail must not pair everyone with everyone once the
        template's df exceeds the cap."""
        from gocrd_spark.operators.dedup import containment_candidates

        tmpl = "shared template words"
        rows = [(i, f"{tmpl} unique{i} tail{i} body{i}") for i in range(20)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # each doc: 3 df=1 shingles + the df=20 template shingle; k=4
        # reaches the template, so uncapped pairs everyone (20*19/2)
        uncapped = containment_candidates(docs, n=3, k=4)
        assert uncapped.count() == 190
        # the cap removes the template from SELECTION -> no common
        # shingle survives, zero candidates
        capped = containment_candidates(docs, n=3, k=4, max_df=5)
        assert capped.count() == 0


class TestSnapshotDiff:
    def test_all_four_statuses_and_null_payload(self, spark):
        from gocrd_spark.operators.urls import snapshot_diff

        old = spark.createDataFrame(
            [
                ("a", b"same"),
                ("b", b"v1"),
                ("c", b"bye"),
                ("d", None),
            ],
            "url string, html binary",
        )
        new = spark.createDataFrame(
            [
                ("a", b"same"),
                ("b", b"v2"),
                ("e", b"hello"),
                ("d", None),
            ],
            "url string, html binary",
        )
        got = {r.url: r.status for r in snapshot_diff(old, new).collect()}
        assert got == {
            "a": "unchanged",
            "b": "changed",
            "c": "gone",
            "e": "new",
            # NULL payload present in both -> sentinel digest -> unchanged,
            # NOT misclassified as new/gone
            "d": "unchanged",
        }


class TestGopherRules:
    def test_planted_rules(self, spark):
        from gocrd_spark.operators.textstats import gopher_rules

        good = " ".join(
            ["the", "be", "to", "of"] + [f"word{i:02d}" for i in range(56)]
        )  # 60 words, stopwords present, mean len ~5.5, no symbols
        short = "only three words"
        bullets = "\n".join(f"- item {i} here" for i in range(10))
        symbols = " ".join(["woo###"] * 60)
        docs = spark.createDataFrame(
            [(0, good), (1, short), (2, bullets), (3, symbols)],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in gopher_rules(docs).collect()}
        assert got[0].keep == 1 and all(
            getattr(got[0], f) == 1
            for f in (
                "flag_word_count", "flag_mean_word_len", "flag_symbol_ratio",
                "flag_bullet_lines", "flag_ellipsis_lines",
                "flag_alpha_words", "flag_stopwords",
            )
        )
        assert got[1].flag_word_count == 0 and got[1].keep == 0
        assert got[2].flag_bullet_lines == 0  # 10/10 bullet lines > 90%
        assert got[3].flag_symbol_ratio == 0  # 3 '#' per word

    def test_integer_boundaries(self, spark):
        """Thresholds are EXACT: mean word length exactly 3.0 passes
        (3n == chars), exactly 10.0 passes, one char outside fails."""
        from gocrd_spark.operators.textstats import gopher_rules

        exactly3 = " ".join(["the"] * 50)  # 50 words x 3 chars: 3n == chars
        docs = spark.createDataFrame(
            [(0, exactly3)], "doc_id long, text string"
        )
        r = gopher_rules(docs).collect()[0]
        assert r.flag_mean_word_len == 1 and r.n_words == 50


class TestC4LineFilter:
    def test_planted_lines(self, spark):
        from gocrd_spark.operators.textstats import c4_line_filter

        text = "\n".join(
            [
                "This line has exactly five words.",   # kept
                "Four words no good.",                  # < 5 words
                "this line has five words no punct",   # no terminal punct
                'Please enable javascript to view this.',  # javascript
                "Another proper sentence with enough words!",  # kept
                'A third proper sentence with plenty of words?',  # kept
            ]
        )
        docs = spark.createDataFrame(
            [
                (0, text),
                (1, text + "\nlorem ipsum dolor"),
                (2, text + "\nif (x) { return; }"),
                (3, "too short.\nno."),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in c4_line_filter(docs).collect()}
        assert got[0].n_lines == 6 and got[0].n_kept_lines == 3
        assert got[0].keep == 1
        assert got[0].text_clean.split("\n") == [
            "This line has exactly five words.",
            "Another proper sentence with enough words!",
            "A third proper sentence with plenty of words?",
        ]
        assert got[1].has_lorem == 1 and got[1].keep == 0
        assert got[2].has_brace == 1 and got[2].keep == 0
        assert got[3].n_kept_lines == 0 and got[3].text_clean == ""


class TestUrlBlocklist:
    def test_suffix_semantics(self, spark):
        """Blocked: exact host AND any subdomain of a listed domain;
        NOT blocked: sibling domains, partial-label overlaps
        ('notevil.com' vs 'evil.com'), malformed URLs (NULL host)."""
        from gocrd_spark.operators.urls import url_blocklist_filter

        rows = [
            (0, "https://evil.com/x"),             # exact -> blocked
            (1, "https://a.b.evil.com/x"),         # subdomain -> blocked
            (2, "https://EVIL.com:8080/x"),        # case/port -> blocked
            (3, "https://notevil.com/x"),          # label boundary -> kept
            (4, "https://evil.com.safe.org/x"),    # suffix ends .org -> kept
            (5, "not a url"),                      # malformed -> kept
            (6, "https://fine.example.net/x"),     # unrelated -> kept
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = {
            r.doc_id: (r.blocked, r.host)
            for r in url_blocklist_filter(df, ["evil.com"]).collect()
        }
        assert {k: v[0] for k, v in got.items()} == {
            0: 1, 1: 1, 2: 1, 3: 0, 4: 0, 5: 0, 6: 0,
        }
        assert got[5][1] is None and got[1][1] == "a.b.evil.com"

    def test_host_suffixes(self, spark):
        from gocrd_spark.operators.urls import host_suffixes

        df = spark.createDataFrame(
            [("a.b.c.com",), (None,)], "h string"
        ).select(host_suffixes(F.col("h")).alias("s"))
        got = [r.s for r in df.collect()]
        assert got[0] == ["a.b.c.com", "b.c.com", "c.com", "com"]
        assert got[1] == []

    def test_blocklist_rides_as_data(self, spark):
        """A 5000-domain blocklist must not blow up the plan (broadcast
        DATA, not literals) — same rule as the sampling rate table."""
        from gocrd_spark.operators.urls import url_blocklist_filter

        df = spark.createDataFrame(
            [(0, "https://x.com/")], "doc_id long, url string"
        )
        small = url_blocklist_filter(df, ["a.com"])
        big = url_blocklist_filter(df, [f"d{i}.com" for i in range(5000)])
        p_small = small._jdf.queryExecution().executedPlan().toString()
        p_big = big._jdf.queryExecution().executedPlan().toString()
        assert abs(len(p_big) - len(p_small)) < 400


class TestUrlDedup:
    def test_canonicalization_rules(self, spark):
        """Scheme/host case, default ports, empty path, query order,
        fragments; nonstandard ports survive; malformed -> NULL."""
        from gocrd_spark.operators.urls import canonical_url

        cases = [
            (0, "HTTP://WWW.Example.COM:80/a/b?b=2&a=1#frag"),
            (1, "http://www.example.com/a/b?a=1&b=2"),
            (2, "https://www.example.com:443/a/b?a=1&b=2"),
            (3, "http://www.example.com:8080/a/b"),
            (4, "http://www.example.com"),
            (5, "not a url"),
        ]
        df = spark.createDataFrame(cases, "doc_id long, url string")
        got = {
            r.doc_id: r.c
            for r in df.select("doc_id", canonical_url(F.col("url")).alias("c")).collect()
        }
        assert got[0] == got[1] == "http://www.example.com/a/b?a=1&b=2"
        assert got[2] == "https://www.example.com/a/b?a=1&b=2"  # scheme kept distinct
        assert got[3] == "http://www.example.com:8080/a/b"      # real port kept
        assert got[4] == "http://www.example.com/"              # empty path -> /
        assert got[5] is None                                    # malformed -> NULL

    def test_canonicalization_is_idempotent(self, spark):
        """canonical(canonical(u)) == canonical(u) — a canonical URL is
        its own canonical form (ports already stripped, query already
        sorted, path already non-empty), so re-ingesting cleaned URLs
        never re-groups them."""
        from gocrd_spark.operators.urls import canonical_url

        urls = [
            "HTTP://WWW.Example.COM:80/a/b?b=2&a=1#frag",
            "https://www.example.com:443/a/b?a=1&b=2",
            "http://www.example.com:8080/x",
            "http://www.example.com",
            "http://host.com/p?z=1&y=2&x=3",
        ]
        df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                                   "doc_id long, url string")
        once = df.select("doc_id", canonical_url(F.col("url")).alias("c1"))
        twice = once.select("doc_id", "c1", canonical_url(F.col("c1")).alias("c2"))
        for r in twice.collect():
            assert r.c1 == r.c2, (r.c1, r.c2)

    def test_dedup_keeps_latest_capture(self, spark):
        from gocrd_spark.operators.urls import url_dedup

        df = spark.createDataFrame(
            [
                (0, "HTTP://WWW.Example.COM:80/a/b?b=2&a=1#frag", 10),
                (1, "http://www.example.com/a/b?a=1&b=2", 20),  # latest wins
                (2, "https://www.example.com/a/b?a=1&b=2", 5),
                (3, "bogus", 5),                                 # NULL canon keeps
                (4, "http://www.example.com/a/b?a=1&b=2", 20),  # ts tie: min id wins
            ],
            "doc_id long, url string, warc_ts long",
        )
        got = {r.doc_id: r.keep for r in url_dedup(df).collect()}
        assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 0}


class TestParagraphDedup:
    def test_planted_cases(self, spark):
        """First occurrence wins in (doc_id, chunk_idx) order; later
        exact chunks drop — across docs, within a doc, and for the
        short tail chunk; empty docs survive with zero chunks."""
        from gocrd_spark.operators.dedup import paragraph_dedup

        docs = spark.createDataFrame(
            [
                (0, "a b c d e f g h i j"),
                (1, "a b c d e f g h i j"),     # full duplicate -> empty
                (2, "A b C d e x y z w v"),     # chunk0 dup after norm
                (3, ""),                         # no chunks
                (4, "p q r s t p q r s t"),     # intra-doc dup
                (5, "f g h i j k"),             # chunk0 dup of doc0 chunk1
            ],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: (r.n_chunks, r.n_kept, r.text_dedup)
            for r in paragraph_dedup(docs, chunk_words=5).collect()
        }
        assert rows == {
            0: (2, 2, "a b c d e f g h i j"),
            1: (2, 0, ""),
            2: (2, 1, "x y z w v"),
            3: (0, 0, ""),
            4: (2, 1, "p q r s t"),
            5: (2, 1, "k"),
        }

    def test_chunk_conservation(self, docs):
        """Every distinct chunk of the corpus survives in exactly one
        document's output (kept counts sum to the distinct-chunk count),
        and no document gains chunks."""
        from gocrd_spark.operators.dedup import _chunks_of_tokens, _tokens_col, paragraph_dedup

        k = 8
        chunked = docs.select(
            "doc_id", _tokens_col(F.col("text")).alias("_toks")
        ).select("doc_id", _chunks_of_tokens(F.col("_toks"), k).alias("chunks"))
        n_distinct = (
            chunked.select(F.explode("chunks").alias("c")).distinct().count()
        )
        out = paragraph_dedup(docs, chunk_words=k)
        agg = out.agg(
            F.sum("n_kept").alias("kept"), F.sum("n_chunks").alias("total")
        ).collect()[0]
        assert agg.kept == n_distinct
        assert agg.total >= agg.kept
        assert out.count() == docs.count()


class TestSimHash:
    def test_identical_docs_same_hash(self, spark):
        from gocrd_spark.operators.dedup import simhash64

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "a completely different document about spark engines")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.simhash for r in simhash64(df).collect()}
        assert got[1] == got[2]
        assert got[1] != got[3]

    def test_near_dup_detection(self, spark):
        from gocrd_spark.operators.dedup import simhash_near_dups

        base = "the quick brown fox jumps over the lazy dog again and again " * 5
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "totally unrelated words here")],
            "doc_id long, text string",
        )
        pairs = {(r.doc_a, r.doc_b) for r in simhash_near_dups(df, n=2, max_hamming=8).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs


class TestSimhashSignatureTable:
    def test_write_once_resume_and_parity(self, spark, docs, tmp_path):
        """The durable signature table: (1) a second invocation reuses
        the finished table (no rewrite — _SUCCESS mtime unchanged), like
        the extraction commit log; (2) pairs computed FROM the table
        equal the session-path operator; (3) a radius mismatch refuses
        instead of joining wrong bands."""
        import os
        import pytest as _pytest

        from gocrd_spark.operators.dedup import (
            simhash_near_dups,
            simhash_near_dups_from,
            simhash_signatures,
        )

        path = str(tmp_path / "sig_table")
        simhash_signatures(docs, path, n=2, max_hamming=3)
        marker = os.path.join(path, "_SUCCESS")
        mtime = os.path.getmtime(marker)

        # resume: second run skips the write entirely
        simhash_signatures(docs, path, n=2, max_hamming=3)
        assert os.path.getmtime(marker) == mtime

        direct = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups(docs, n=2, max_hamming=3).collect()
        }
        from_table = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups_from(spark, path, max_hamming=3).collect()
        }
        assert from_table == direct

        with _pytest.raises(ValueError, match="banded for max_hamming"):
            simhash_near_dups_from(spark, path, max_hamming=2)
        with _pytest.raises(ValueError, match="was built with"):
            simhash_signatures(docs, path, n=3, max_hamming=3)

    def test_incremental_equals_full_minus_old_pairs(self, spark, docs, tmp_path):
        """Daily-increment contract: build the table on the OLD half,
        run the NEW half incrementally — pairs must be exactly the full
        corpus's pairs that touch at least one new doc (old signatures
        never recomputed, old-old pairs never re-emitted)."""
        from gocrd_spark.operators.dedup import (
            simhash_incremental,
            simhash_near_dups,
            simhash_signatures,
        )

        ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
        cut = ids[len(ids) // 2]
        old = docs.filter(F.col("doc_id") < cut)
        new = docs.filter(F.col("doc_id") >= cut)

        path = str(tmp_path / "old_sigs")
        simhash_signatures(old, path, n=2, max_hamming=3)

        inc = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_incremental(new, path, max_hamming=3).collect()
        }
        full = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups(docs, n=2, max_hamming=3).collect()
        }
        want = {p for p in full if p[0] >= cut or p[1] >= cut}
        assert inc == want
        assert inc  # the corpus must actually exercise the join
        # no old-old pair leaked
        assert all(a >= cut or b >= cut for a, b, _ in inc)

    def test_append_folds_batch_into_next_increment(self, spark, docs, tmp_path):
        """VERDICT r03 #5: chain two increments — after
        simhash_append(batch1), the batch2 increment must see batch1's
        docs WITHOUT recomputing them (B–C pairs appear), the fold-in
        must be idempotent (same batch_id re-appends as a no-op), and
        the durable reader must serve base+batches."""
        import os as _os

        from gocrd_spark.operators.dedup import (
            simhash_append,
            simhash_incremental,
            simhash_near_dups,
            simhash_near_dups_from,
            simhash_signatures,
        )

        ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
        cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
        a = docs.filter(F.col("doc_id") < cut1)
        b = docs.filter((F.col("doc_id") >= cut1) & (F.col("doc_id") < cut2))
        c = docs.filter(F.col("doc_id") >= cut2)

        path = str(tmp_path / "sigs")
        simhash_signatures(a, path, n=2, max_hamming=3)
        simhash_append(b, path, "day1")

        # idempotent: same batch_id re-appends without rewriting
        marker = _os.path.join(path, "_batch_day1.json")
        mtime = _os.path.getmtime(marker)
        bdir_mtime = _os.path.getmtime(_os.path.join(path, "_batches", "day1"))
        simhash_append(b, path, "day1")
        assert _os.path.getmtime(marker) == mtime
        assert _os.path.getmtime(_os.path.join(path, "_batches", "day1")) == bdir_mtime

        full = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups(docs, n=2, max_hamming=3).collect()
        }
        # the folded table now covers A∪B: reading pairs from it must
        # equal the direct computation over A∪B
        ab_direct = {p for p in full if p[0] < cut2 and p[1] < cut2}
        ab_table = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups_from(spark, path, max_hamming=3).collect()
        }
        assert ab_table == ab_direct

        # increment C sees BOTH A and B without recompute: pairs = full
        # pairs touching C — including C-B pairs, which only exist if
        # day1's append is visible
        inc = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_incremental(c, path, max_hamming=3).collect()
        }
        want = {p for p in full if p[0] >= cut2 or p[1] >= cut2}
        assert inc == want
        cb = {p for p in want if cut1 <= p[0] < cut2}
        assert cb  # the corpus must actually plant C-B pairs
        with pytest.raises(ValueError, match="filesystem-safe"):
            simhash_append(b, path, "../evil")

    def test_minhash_append_folds_batch(self, spark, docs, tmp_path):
        """MinHash twin of the fold-in chain: append batch B, then the
        C increment reports exactly the full-corpus verified pairs that
        touch C."""
        from gocrd_spark.operators.dedup import (
            minhash_append,
            minhash_incremental,
            minhash_lsh,
            minhash_signatures,
        )

        ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
        cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
        a = docs.filter(F.col("doc_id") < cut1)
        b = docs.filter((F.col("doc_id") >= cut1) & (F.col("doc_id") < cut2))
        c = docs.filter(F.col("doc_id") >= cut2)

        path = str(tmp_path / "mh_sigs")
        minhash_signatures(
            a, path, n=3, num_hashes=32, bands=32, allow_quadratic=True
        )
        minhash_append(b, path, "day1")
        minhash_append(b, path, "day1")  # idempotent no-op

        inc = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_incremental(c, docs, path, threshold=0.12).collect()
        }
        full = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh(
                docs, n=3, threshold=0.12, num_hashes=32, bands=32,
                allow_quadratic=True,
            ).collect()
        }
        want = {p: j for p, j in full.items() if p[0] >= cut2 or p[1] >= cut2}
        assert inc == want
        assert any(cut1 <= p[0] < cut2 for p in want)  # C-B pairs planted


DURABLE_BUILDERS = [
    "simhash_signatures",
    "minhash_signatures",
    "ivf_index",
    "ivfpq_index",
    "search_index",
    "profile_build",
]


def _durable_builder(name, spark, docs, emb):
    """(build, changed, read, append) for one durable builder:
    ``build(path, **kw)`` builds over half the corpus, ``changed`` is a
    parameter change the pin must refuse, ``read(path)`` is what the
    table's readers serve, and ``append(path, batch_id)`` folds in the
    other half (None for the builders without appends)."""
    from gocrd_spark import fsio
    from gocrd_spark.operators import dedup, search, similarity, sketch

    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    if name in ("simhash_signatures", "minhash_signatures"):
        return (
            lambda path, **kw: getattr(dedup, name)(old, path, **kw),
            {"n": 4},
            lambda path: sorted(fsio.read_batches(spark, path).collect()),
            lambda path, b: getattr(dedup, name.split("_")[0] + "_append")(
                new, path, b
            ),
        )
    if name == "profile_build":
        return (
            lambda path, **kw: sketch.profile_build(old, path, **kw),
            {"group_col": "lang"},
            lambda path: sorted(sketch.profile_distinct(spark, path).collect())
            + sorted(sketch.profile_length_quantiles(spark, path).collect()),
            lambda path, b: sketch.profile_append(new, path, b),
        )
    if name == "search_index":
        queries = search.corpus_queries(docs, n_terms=4)
        return (
            lambda path, **kw: search.search_index(old, path, **{"buckets": 8, **kw}),
            {"buckets": 16},
            lambda path: sorted(search.bm25_topk_from(spark, path, queries, k=5).collect()),
            None,
        )
    if name == "ivf_index":
        return (
            lambda path, **kw: similarity.ivf_index(emb, path, **{"n_cells": 8, **kw}),
            {"n_iters": 3},
            lambda path: sorted(
                similarity.topk_ivf_from(spark, path, [0, 1, 2], k=5, n_probe=3)
                .collect()
            ),
            None,
        )
    kw0 = dict(n_cells=8, coarse_iters=2, m=8, n_codes=8, pq_iters=2)
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return (
        lambda path, **kw: similarity.ivfpq_index(emb, path, **{**kw0, **kw}),
        {"pq_iters": 3},
        lambda path: sorted(
            similarity.ivfpq_topk_from(spark, path, queries, k=5, n_probe=3).collect()
        ),
        None,
    )


class TestFsio:
    """Scheme-agnostic sidecar IO (VERDICT r04 #2): every probe goes
    through the Hadoop FileSystem API, exercised here with an explicit
    ``file://`` URI — the same scheme-resolution path an ``s3a://``
    deployment takes once its connector jar is present."""

    def test_roundtrip_and_glob(self, spark, tmp_path):
        from gocrd_spark import fsio

        uri = "file://" + str(tmp_path / "ctl" / "_PARAMS.json")
        assert not fsio.exists(spark, uri)
        fsio.write_text(spark, uri, '{"n": 2}')
        assert fsio.exists(spark, uri)
        assert fsio.read_text(spark, uri) == '{"n": 2}'
        # overwrite, not append
        fsio.write_text(spark, uri, '{"n": 3}')
        assert fsio.read_text(spark, uri) == '{"n": 3}'
        fsio.write_text(spark, "file://" + str(tmp_path / "ctl" / "_batch_a.json"), "a")
        got = fsio.glob(spark, "file://" + str(tmp_path / "ctl" / "_batch_*.json"))
        assert len(got) == 1 and got[0].endswith("_batch_a.json")
        assert fsio.glob(spark, "file://" + str(tmp_path / "missing" / "*")) == []

    @pytest.mark.parametrize("name", DURABLE_BUILDERS)
    def test_durable_output_contract(
        self, spark, docs, emb, tmp_path, monkeypatch, name
    ):
        """The commit protocol every durable builder shares, with the
        table addressed by a ``file://`` URI: a same-params re-run
        rewrites nothing, changed params refuse, a table whose sidecar
        was lost after the data commit is rebuilt and pinned again, and
        a batch directory without its marker is invisible to reads
        (re-running that append overwrites it)."""
        import os

        from gocrd_spark import fsio

        build, changed, read, append = _durable_builder(name, spark, docs, emb)
        local = str(tmp_path / name)
        path = "file://" + local
        sidecar = os.path.join(local, "_PARAMS.json")

        def files():
            return {
                os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
                for d, _, names in os.walk(local)
                for f in names
            }

        build(path)
        base, built = read(path), files()

        build(path)
        assert files() == built

        with pytest.raises(ValueError, match="was built with"):
            build(path, **changed)

        os.remove(sidecar)
        build(path)
        assert os.path.exists(sidecar)
        rebuilt = files()
        assert all(rebuilt.get(f) != m for f, m in built.items() if f != sidecar)
        assert read(path) == base

        if append is None:
            docs.write.parquet(os.path.join(local, "_batches", "ghost"))
            assert read(path) == base
            return

        def crash_before_marker(spark_, p, text):
            if "/_batch_" in p:
                raise OSError("crash before the batch marker")
            write_text(spark_, p, text)

        write_text = fsio.write_text
        with monkeypatch.context() as m:
            m.setattr(fsio, "write_text", crash_before_marker)
            with pytest.raises(OSError, match="crash before"):
                append(path, "day1")
        stale = {f: t for f, t in files().items() if "/_batches/day1/" in f}
        assert stale
        assert read(path) == base

        append(path, "day1")
        appended = files()
        assert all(appended.get(f) != t for f, t in stale.items())
        assert read(path) != base
        append(path, "day1")
        assert files() == appended

    def test_batches_follow_a_moved_table(self, spark, docs, tmp_path):
        """A batch's data directory is derived from its marker's name
        under the table's current root: a copy of a table with a
        committed batch reads the same after the original is deleted."""
        import shutil

        from gocrd_spark.operators.dedup import (
            simhash_append,
            simhash_near_dups_from,
            simhash_signatures,
        )

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        simhash_signatures(docs.filter(F.col("doc_id") % 2 == 0), src)
        simhash_append(docs.filter(F.col("doc_id") % 2 == 1), src, "day1")
        want = sorted(simhash_near_dups_from(spark, src).collect())
        assert want
        shutil.copytree(src, dst)
        shutil.rmtree(src)
        assert sorted(simhash_near_dups_from(spark, dst).collect()) == want

    def test_durable_simhash_table_via_file_uri(self, spark, docs, tmp_path):
        """Build / resume / param-refuse / append / increment of the
        durable SimHash table addressed by a ``file://`` URI end to
        end — the contract the r04 verdict said broke exactly where
        the operators matter most (object storage)."""
        from gocrd_spark import fsio
        from gocrd_spark.operators.dedup import (
            simhash_append,
            simhash_incremental,
            simhash_near_dups,
            simhash_near_dups_from,
            simhash_signatures,
        )

        ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
        cut = ids[len(ids) // 2]
        old = docs.filter(F.col("doc_id") < cut)
        new = docs.filter(F.col("doc_id") >= cut)

        path = "file://" + str(tmp_path / "sig_uri")
        simhash_signatures(old, path, n=2, max_hamming=3)
        assert fsio.exists(spark, path + "/_PARAMS.json")
        # resume: no-op; mismatch: refuse — both through the URI scheme
        simhash_signatures(old, path, n=2, max_hamming=3)
        with pytest.raises(ValueError, match="was built with"):
            simhash_signatures(old, path, n=3, max_hamming=3)
        with pytest.raises(ValueError, match="banded for max_hamming"):
            simhash_near_dups_from(spark, path, max_hamming=2)

        simhash_append(new, path, "day1")
        simhash_append(new, path, "day1")  # idempotent through URI
        full = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups(docs, n=2, max_hamming=3).collect()
        }
        table = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups_from(spark, path, max_hamming=3).collect()
        }
        assert table == full
        inc = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_incremental(new, path, max_hamming=3).collect()
        }
        assert inc == {p for p in full if p[0] >= cut or p[1] >= cut}


class TestSimilarity:
    def test_bruteforce_matches_numpy(self, emb):
        import numpy as np
        from gocrd_spark.operators.similarity import topk_bruteforce

        pdf = emb.toPandas()
        vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64) for r in pdf.itertuples()}
        got = topk_bruteforce(emb, query_ids=[0], k=5).collect()
        q = vecs[0]
        sims = {
            vid: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            for vid, v in vecs.items()
            if vid != 0
        }
        expected = [
            vid for vid, _ in sorted(sims.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:5]
        ]
        assert [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)] == expected

    def test_lsh_recall(self, emb):
        from gocrd_spark.operators.similarity import topk_bruteforce, topk_lsh

        qids = [0, 1, 2, 3, 4]
        brute = topk_bruteforce(emb, qids, k=10).collect()
        lsh = topk_lsh(emb, qids, k=10, n_planes=4, n_tables=8).collect()
        brute_sets = {}
        for r in brute:
            brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        lsh_sets = {}
        for r in lsh:
            lsh_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls = [
            len(brute_sets[q] & lsh_sets.get(q, set())) / len(brute_sets[q])
            for q in brute_sets
        ]
        # 8 tables x 4 planes: candidate pool ~ 8/16 of corpus on random data
        assert sum(recalls) / len(recalls) >= 0.5

    def test_ivf_recall(self, emb):
        from gocrd_spark.operators.similarity import topk_bruteforce, topk_ivf

        qids = [0, 1, 2, 3, 4]
        brute = topk_bruteforce(emb, qids, k=10).collect()
        ivf = topk_ivf(emb, qids, k=10, n_cells=8, n_probe=4).collect()
        brute_sets, ivf_sets = {}, {}
        for r in brute:
            brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in ivf:
            ivf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls = [
            len(brute_sets[q] & ivf_sets.get(q, set())) / len(brute_sets[q])
            for q in brute_sets
        ]
        # probing half the cells on weakly-clustered random data
        assert sum(recalls) / len(recalls) >= 0.4

    def test_centroids_match_numpy(self, emb):
        import numpy as np
        from gocrd_spark.operators.similarity import label_centroids

        got = {r.label: (list(r.centroid), r.n) for r in label_centroids(emb).collect()}
        pdf = emb.toPandas()
        for label, grp in pdf.groupby("label"):
            mat = np.array([list(e) for e in grp.embedding], dtype=np.float64)
            expected = [round(float(x), 6) for x in mat.mean(axis=0)]
            centroid, n = got[label]
            assert n == len(grp)
            assert centroid == pytest.approx(expected, abs=1e-6)


@pytest.mark.parametrize(
    "fn,carry",
    [
        ("assign_cells", ("embedding", "cell")),
        ("assign_cells", ("cands",)),
        ("assign_cells", ("vec_id",)),
        ("_assign_codes", ("subvec", "code")),
        ("_assign_codes", ("cands",)),
        ("_assign_codes", ("sub",)),
        ("_assign_codes", ("vec_id",)),
    ],
)
def test_carry_collision_fails_at_entry(fn, carry):
    """A carried column named like a generated one raises before any
    DataFrame is touched (None stands in for both inputs)."""
    from gocrd_spark.operators import similarity

    with pytest.raises(ValueError, match="collide"):
        getattr(similarity, fn)(None, None, carry=carry)


class TestIvfIndex:
    def test_build_probe_parity_resume(self, spark, emb, tmp_path):
        """Durable-index results == per-call topk_ivf at the same params;
        the probe join dynamic-partition-prunes the cell-partitioned
        corpus; a second build resumes (marker) and a param mismatch
        refuses instead of probing a mismatched quantizer."""
        import time

        from gocrd_spark.operators.similarity import (
            ivf_index,
            topk_ivf,
            topk_ivf_from,
        )

        path = str(tmp_path / "ivf")
        ivf_index(emb, path, n_cells=8, n_iters=2)
        fresh = {
            (r.query_id, r.rank): r.neighbor_id
            for r in topk_ivf(
                emb, [0, 1, 2], k=5, n_cells=8, n_probe=3, n_iters=2
            ).collect()
        }
        served_df = topk_ivf_from(spark, path, [0, 1, 2], k=5, n_probe=3)
        served = {
            (r.query_id, r.rank): r.neighbor_id for r in served_df.collect()
        }
        assert served == fresh and len(served) == 15

        # probing IS partition pruning: DPP subquery on the cell column
        plan = served_df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()

        # resume: second build skips (no recompute — sub-second)
        t0 = time.time()
        assert ivf_index(emb, path, n_cells=8, n_iters=2) == path
        assert time.time() - t0 < 1.0

        with pytest.raises(ValueError, match="was built with"):
            ivf_index(emb, path, n_cells=16, n_iters=2)


class TestTextStats:
    def test_edge_cases(self, spark):
        from gocrd_spark.operators.textstats import lang_id, quality_score, token_stats

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "one"), (4, "der und die ist nicht hier"),
             (5, "the of and is not 123 !!")],
            "doc_id long, text string",
        )
        ts = {r.doc_id: r for r in token_stats(df).collect()}
        assert ts[1].n_tokens == 0 and ts[1].avg_token_len == 0.0
        assert ts[2].n_tokens == 0
        assert ts[3].n_tokens == 1 and ts[3].avg_token_len == 3.0
        li = {r.doc_id: r.lang_guess for r in lang_id(df).collect()}
        assert li[4] == "de" and li[5] == "en" and li[1] == "und"
        qs = {r.doc_id: r for r in quality_score(df).collect()}
        assert qs[1].quality == 1.0  # empty: no penalties
        assert qs[5].quality < 1.0  # digits + punct penalized

    def test_nfc_fingerprint_unifies_combining_forms(self, spark):
        from gocrd_spark.operators.textstats import nfc_fingerprint

        df = spark.createDataFrame(
            [(1, "caf\u00e9"), (2, "cafe\u0301"), (3, "cafes")],  # precomposed vs combining
            "doc_id long, text string",
        )
        fps = {r.doc_id: r.nfc_fingerprint for r in nfc_fingerprint(df).collect()}
        assert fps[1] == fps[2] != fps[3]

    def test_doclen_and_vocab(self, spark):
        from gocrd_spark.operators.textstats import doclen_histogram, vocab_top_terms

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b"), (3, "a " * 120)],
            "doc_id long, text string",
        )
        vocab = {r.term: r.doc_freq for r in vocab_top_terms(df, k=10).collect()}
        assert vocab == {"a": 3, "b": 2, "c": 1}
        hist = {r.len_bucket: r.n_docs for r in doclen_histogram(df).collect()}
        assert hist[0] == 2 and hist[2] == 1  # 240-char doc in bucket 2

    def test_max_doc_bytes_guard(self, spark):
        from gocrd_spark import datagen
        from gocrd_spark.pipeline import extract_pages

        pages = spark.createDataFrame(
            datagen.pages_pdf(10), schema=datagen.PAGES_SCHEMA
        )
        rows = {r.url: r for r in extract_pages(pages, max_doc_bytes=50_000).collect()}
        kant = rows[datagen.KANT_URL]  # 115KB > guard
        assert kant.text is None and "document too large" in kant.error
        assert sum(1 for r in rows.values() if r.error is None) > 0

    def test_training_set_filter_composition(self, spark):
        from gocrd_spark.operators.textstats import training_set_filter

        long_en = "the and of is not " * 20  # quality en text
        df = spark.createDataFrame(
            [
                (1, long_en),
                (2, long_en),  # exact dup of 1 -> dropped (min doc_id kept)
                (3, "short"),  # under min_chars
                (4, "el los que es y " * 20),  # wrong language
                (5, "1234!? " * 30),  # digits+punct tank quality
            ],
            "doc_id long, text string",
        )
        kept = {r.doc_id for r in training_set_filter(df).collect()}
        assert kept == {1}

    def test_bpe_tokenizer(self, spark):
        from gocrd_spark.operators.textstats import token_stats_bpe

        df = spark.createDataFrame(
            [(1, "Hello, world! v2.0"), (2, ""), (3, "abc abc abc")],
            "doc_id long, text string",
        )
        got = {r.doc_id: (r.n_bpe_tokens, r.n_unique_bpe_tokens)
               for r in token_stats_bpe(df).collect()}
        # Hello , world ! v 2 . 0  -> 8 tokens
        assert got[1] == (8, 8)
        assert got[2] == (0, 0)
        assert got[3] == (3, 1)

    def test_winnowing_containment(self, spark):
        from gocrd_spark.operators.textstats import winnowing_fingerprints

        base = "the quick brown fox jumps over the lazy dog"
        df = spark.createDataFrame(
            [(1, base), (2, "xx " + base + " yy"), (3, "completely different stuff")],
            "doc_id long, text string",
        )
        fps = {r.doc_id: set(r.fingerprints)
               for r in winnowing_fingerprints(df).collect()}
        assert len(fps[1] & fps[2]) >= len(fps[1]) // 2  # shared substring
        assert not (fps[1] & fps[3])

    def test_fingerprint_normalization(self, spark):
        from gocrd_spark.operators.textstats import fingerprint

        df = spark.createDataFrame(
            [(1, "Hello   World"), (2, "  hello\tworld "), (3, "hello worlds")],
            "doc_id long, text string",
        )
        fps = {r.doc_id: r.fingerprint for r in fingerprint(df).collect()}
        assert fps[1] == fps[2] != fps[3]


class TestSourceWeightedSample:
    def test_rates_determinism_and_extremes(self, docs):
        """rate 0 keeps nothing, rate >= 1 keeps everything, fractional
        rates land near their target, unknown sources get the default,
        and two invocations pick the exact same docs (id-keyed, no RNG)."""
        from gocrd_spark.operators.textstats import source_weighted_sample

        rates = {"src0": 0.0, "src1": 1.0, "src2": 0.5}
        out = source_weighted_sample(docs, rates, default_rate=0.75, seed="t")
        agg = {
            r.source: (r.kept, r.total)
            for r in out.groupBy("source")
            .agg(F.sum("keep").alias("kept"), F.count(F.lit(1)).alias("total"))
            .collect()
        }
        assert agg["src0"][0] == 0
        assert agg["src1"][0] == agg["src1"][1]
        k2, n2 = agg["src2"]
        assert 0 < k2 < n2  # fractional rate: strict subset
        # deterministic: same (rates, seed) -> identical keep set
        a = {r.doc_id for r in out.filter("keep = 1").collect()}
        b = {
            r.doc_id
            for r in source_weighted_sample(docs, rates, default_rate=0.75, seed="t")
            .filter("keep = 1")
            .collect()
        }
        assert a == b
        # a different seed draws a different (same-rate) sample of src2
        a_src2 = {
            r.doc_id
            for r in out.filter("keep = 1 and source = 'src2'").collect()
        }
        c = {
            r.doc_id
            for r in source_weighted_sample(docs, rates, default_rate=0.75, seed="u")
            .filter("keep = 1 and source = 'src2'")
            .collect()
        }
        assert c != a_src2

    def test_threshold_edges(self):
        from gocrd_spark.operators.textstats import _sample_threshold

        assert _sample_threshold(0.0) == "00000000"
        assert _sample_threshold(0.25) == "40000000"
        assert _sample_threshold(1.0) == "g"
        assert _sample_threshold(2.0) == "g"
        with pytest.raises(ValueError):
            _sample_threshold(-0.1)


class TestUnigramLogprob:
    def test_rare_tokens_score_lower(self, spark):
        """Docs of corpus-common tokens get a higher mean logprob than
        docs of corpus-rare tokens; counts include repetition; docs
        with no tokens emit no row."""
        from gocrd_spark.operators.textstats import unigram_logprob

        docs = spark.createDataFrame(
            [
                (0, "the the the the the the the the"),
                (1, "the the the the the the the the"),
                (2, "zyxwv qqqqq"),  # two singleton terms
                (3, ""),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in unigram_logprob(docs).collect()}
        assert set(rows) == {0, 1, 2}
        mean = {
            d: rows[d].sum_logprob_e6 / rows[d].n_tokens for d in rows
        }
        assert rows[0].n_tokens == 8 and rows[2].n_tokens == 2
        assert mean[0] == mean[1]           # identical docs, same LM score
        assert mean[2] < mean[0]            # rare tokens -> lower logprob
        # LM is corpus-derived: p(the) = 16/18, p(rare) = 1/18
        import math

        exp_the = round(round(math.log(16 / 18), 6) * 1e6)
        assert rows[0].sum_logprob_e6 == 8 * exp_the


class TestDsirWeights:
    def test_target_vocabulary_scores_higher(self, spark):
        """DSIR log-likelihood ratios must tilt toward the target: a doc
        written in the target domain's vocabulary outscores (per-ngram)
        a doc of raw-only vocabulary; n_ngrams counts unigrams+bigrams;
        empty docs emit no row."""
        from pyspark.sql import functions as F

        from gocrd_spark.operators.textstats import dsir_weights

        rows = (
            # target domain (lang en): "solar power grid" vocabulary
            [(i, "solar power grid solar power", "en") for i in range(6)]
            # raw-only (lang de): disjoint vocabulary
            + [(10 + i, "kohle dampf maschine kohle dampf", "de") for i in range(6)]
            + [(99, "", "en")]
        )
        docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = {
            r.doc_id: r
            for r in dsir_weights(
                docs, target=F.col("lang") == "en", buckets=4096
            ).collect()
        }
        assert 99 not in got and len(got) == 12
        # 5 unigrams + 4 bigrams per doc
        assert all(got[d].n_ngrams == 9 for d in got)
        en_score = got[0].dsir_score_e6
        de_score = got[10].dsir_score_e6
        assert en_score > de_score  # target vocab favored
        assert got[1].dsir_score_e6 == en_score  # deterministic per text
        # target ngrams appear in BOTH distributions at equal frequency
        # (target is a subset of raw), so their llr is positive only via
        # the smoothing/total terms; raw-only ngrams are absent from the
        # target counts and must score strictly negative
        assert de_score < 0 < en_score

    def test_select_topk_and_plan(self, spark):
        """dsir_select returns exactly the k best per-ngram scores (the
        target-vocab docs before any raw-only doc) and executes as
        per-partition top-k + merge (TakeOrderedAndProject), not a full
        sort shuffle."""
        from pyspark.sql import functions as F

        from gocrd_spark.operators.textstats import dsir_select

        rows = [(i, "solar power grid", "en") for i in range(4)] + [
            (10 + i, "kohle dampf maschine", "de") for i in range(4)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        sel = dsir_select(docs, target=F.col("lang") == "en", k=4)
        assert sorted(r.doc_id for r in sel.collect()) == [0, 1, 2, 3]
        plan = sel._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestChunkDocuments:
    def test_windows_overlap_and_tail(self, spark):
        """L=5, overlap=2 (stride 3): 11 tokens -> chunks at 0,3,6 —
        [t0..t4], [t3..t7], [t6..t10]; a short doc yields one whole-doc
        chunk; empty docs vanish; overlap >= L raises."""
        import pytest as _pytest

        from gocrd_spark.operators.textstats import chunk_documents

        words = " ".join(f"t{i}" for i in range(11))
        docs = spark.createDataFrame(
            [(0, words), (1, "a b c"), (2, "")],
            "doc_id long, text string",
        )
        rows = sorted(
            (r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_text)
            for r in chunk_documents(docs, chunk_tokens=5, overlap=2).collect()
        )
        assert rows == [
            (0, 0, 5, "t0 t1 t2 t3 t4"),
            (0, 1, 5, "t3 t4 t5 t6 t7"),
            (0, 2, 5, "t6 t7 t8 t9 t10"),
            (1, 0, 3, "a b c"),
        ]
        with _pytest.raises(ValueError, match="overlap"):
            chunk_documents(docs, chunk_tokens=5, overlap=5)

    def test_exact_boundary_no_phantom_chunk(self, spark):
        """n == L + k*stride exactly: the last window ends at token n
        with no extra empty chunk (8 tokens, L=5, stride=3 -> 2 chunks)."""
        from gocrd_spark.operators.textstats import chunk_documents

        docs = spark.createDataFrame(
            [(0, " ".join(f"w{i}" for i in range(8)))],
            "doc_id long, text string",
        )
        rows = chunk_documents(docs, chunk_tokens=5, overlap=2).collect()
        assert len(rows) == 2
        assert sorted(r.n_tokens for r in rows) == [5, 5]


class TestMixturePlan:
    def test_budgets_floors_and_default(self, spark):
        """src A budget 6: docs of 4,3,5 tokens -> cum 0,4,7: doc1
        straddles (taken), doc2 past budget (dropped). src B default 0
        -> all dropped. src C budget covers everything."""
        from gocrd_spark.operators.textstats import mixture_plan

        docs = spark.createDataFrame(
            [
                (0, "a b c d", "A"),
                (1, "e f g", "A"),
                (2, "h i j k l", "A"),
                (3, "m n", "B"),
                (4, "o p q", "C"),
            ],
            "doc_id long, text string, source string",
        )
        got = {
            r.doc_id: (r.cum_before, r.keep)
            for r in mixture_plan(docs, {"A": 6, "C": 100}).collect()
        }
        assert got == {
            0: (0, 1),
            1: (4, 1),   # crosses the floor -> still taken
            2: (7, 0),
            3: (0, 0),   # default budget 0 -> source dropped
            4: (0, 1),
        }
        # default_budget rescues unlisted sources
        got2 = {
            r.doc_id: r.keep
            for r in mixture_plan(docs, {"A": 6}, default_budget=2).collect()
        }
        assert got2[3] == 1 and got2[4] == 1

    def test_empty_budgets_and_empty_string_source(self, spark):
        """budgets={} must give EVERY source default_budget — including
        a source literally named '' (a sentinel row once pinned it to
        budget 0)."""
        from gocrd_spark.operators.textstats import mixture_plan

        docs = spark.createDataFrame(
            [(0, "a b", ""), (1, "c d", "x")],
            "doc_id long, text string, source string",
        )
        got = {
            r.doc_id: r.keep
            for r in mixture_plan(docs, {}, default_budget=300).collect()
        }
        assert got == {0: 1, 1: 1}


class TestPackSequences:
    def test_hand_layout_and_invariants(self, spark):
        """seq_len=10; docs of 4, 5, 3, 12, 2 tokens -> stream offsets
        0,4,9,12,24. Doc 2 (3 tok at offset 9) straddles the first
        boundary: 1 token in seq 0, 2 in seq 1. Doc 3 (12 tok at 12)
        spans seqs 1-2. Every non-final sequence holds exactly 10
        tokens; concatenation order is preserved; zero-token docs
        vanish."""
        from gocrd_spark.operators.textstats import pack_sequences

        docs = spark.createDataFrame(
            [
                (0, "a b c d"),
                (1, "e f g h i"),
                (2, "j k l"),
                (3, " ".join("tok%d" % i for i in range(12))),
                (4, "y z"),
                (5, ""),  # zero tokens -> no rows
            ],
            "doc_id long, text string",
        )
        rows = sorted(
            (r.doc_id, r.seq_id, r.doc_offset, r.seq_offset, r.n_tokens)
            for r in pack_sequences(docs, seq_len=10, bucket_size=2).collect()
        )
        assert rows == [
            (0, 0, 0, 0, 4),
            (1, 0, 0, 4, 5),
            (2, 0, 0, 9, 1),
            (2, 1, 1, 0, 2),
            (3, 1, 0, 2, 8),
            (3, 2, 8, 0, 4),
            (4, 2, 0, 4, 2),
        ]
        # invariant: every sequence except the last is exactly full
        per_seq = {}
        for _, sid, _, _, n in rows:
            per_seq[sid] = per_seq.get(sid, 0) + n
        last = max(per_seq)
        assert all(v == 10 for s, v in per_seq.items() if s != last)
        # invariant: within a sequence the placed spans tile it exactly
        spans = sorted((sid, so, so + n) for _, sid, _, so, n in rows)
        for sid in per_seq:
            tile = [s for s in spans if s[0] == sid]
            pos = 0
            for _, a, b in tile:
                assert a == pos
                pos = b


class TestPackShards:
    def test_planted_layout(self, spark):
        """Hand-computed layout at budget 10: cumulative-before // 10.
        Docs: 4, 5, 3, 9, 2 tokens -> cum_before 0,4,9,12,21 ->
        shards 0,0,0,1,2. Bucket boundary (size 2) must not matter."""
        from gocrd_spark.operators.textstats import pack_shards

        docs = spark.createDataFrame(
            [
                (0, "a b c d"),
                (1, "a b c d e"),
                (2, "a b c"),
                (3, "a b c d e f g h i"),
                (4, "a b"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.n_tokens, r.shard_id)
            for r in pack_shards(docs, budget_tokens=10, bucket_size=2).collect()
        }
        assert got == {0: (4, 0), 1: (5, 0), 2: (3, 0), 3: (9, 1), 4: (2, 2)}

    def test_two_phase_equals_single_window(self, docs):
        """The distributed prefix sum must equal a naive single global
        window cumsum — differential check at several bucket sizes
        (including one bucket per doc and one bucket for everything)."""
        from pyspark.sql import Window

        from gocrd_spark.operators.textstats import _tokens, pack_shards

        w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
        naive = {
            r.doc_id: r.shard_id
            for r in docs.select(
                "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n")
            )
            .withColumn("cb", F.coalesce(F.sum("n").over(w), F.lit(0)))
            .select(
                "doc_id",
                F.floor(F.col("cb") / 2048.0).cast("long").alias("shard_id"),
            )
            .collect()
        }
        for bucket_size in (1, 7, 1000000):
            got = {
                r.doc_id: r.shard_id
                for r in pack_shards(
                    docs, budget_tokens=2048, bucket_size=bucket_size
                ).collect()
            }
            assert got == naive, f"bucket_size={bucket_size}"

    def test_bpe_mode_planted(self, spark):
        """token_mode='bpe' budgets pre-tokenizer units: 'ab12, cd!'
        tokenizes to [ab][12][,][cd][!] = 5 BPE tokens vs 2 whitespace
        tokens. Budget 6: cum_before 0,5,10 -> shards 0,0,1."""
        from gocrd_spark.operators.textstats import pack_shards

        docs = spark.createDataFrame(
            [(0, "ab12, cd!"), (1, "ab12, cd!"), (2, "ab12, cd!")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.n_tokens, r.shard_id)
            for r in pack_shards(
                docs, budget_tokens=6, bucket_size=2, token_mode="bpe"
            ).collect()
        }
        assert got == {0: (5, 0), 1: (5, 0), 2: (5, 1)}

    def test_materialize_planted(self, spark):
        """materialize_shards concatenates the pack_shards layout in
        doc_id order with the separator: budget 10 over the planted
        docs puts 0,1,2 in shard 0, 3 in shard 1, 4 in shard 2."""
        from gocrd_spark.operators.textstats import materialize_shards

        docs = spark.createDataFrame(
            [
                (0, "a b c d"),
                (1, "a b c d e"),
                (2, "a b c"),
                (3, "a b c d e f g h i"),
                (4, "a b"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.shard_id: (r.n_docs, r.n_tokens, r.shard_text)
            for r in materialize_shards(
                docs, budget_tokens=10, bucket_size=2
            ).collect()
        }
        assert got == {
            0: (3, 12, "a b c d\n\na b c d e\n\na b c"),
            1: (1, 9, "a b c d e f g h i"),
            2: (1, 2, "a b"),
        }

    def test_shuffled_order_matches_naive_hash_window(self, docs):
        """order='shuffled' (3-hex-prefix buckets + intra-bucket hash
        order) must equal a naive single global window ordered by the
        FULL hash — the prefix-bucket decomposition is exact because a
        string prefix ordering is a coarsening of the full-string
        ordering."""
        from pyspark.sql import Window

        from gocrd_spark.operators.textstats import _tokens, pack_shards

        h = F.md5(
            F.encode(
                F.concat(F.lit("shuf1:"), F.col("doc_id").cast("string")),
                "utf-8",
            )
        )
        w = Window.orderBy("h", "doc_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        naive = {
            r.doc_id: r.shard_id
            for r in docs.select(
                "doc_id",
                h.alias("h"),
                F.size(_tokens(F.col("text"))).cast("long").alias("n"),
            )
            .withColumn("cb", F.coalesce(F.sum("n").over(w), F.lit(0)))
            .select(
                "doc_id",
                F.floor(F.col("cb") / 2048.0).cast("long").alias("shard_id"),
            )
            .collect()
        }
        got = {
            r.doc_id: r.shard_id
            for r in pack_shards(docs, order="shuffled", seed="shuf1").collect()
        }
        assert got == naive
        # and the layout genuinely differs from id order
        id_order = {
            r.doc_id: r.shard_id for r in pack_shards(docs).collect()
        }
        assert got != id_order
        with pytest.raises(ValueError, match="order must be"):
            pack_shards(docs, order="random")


class TestCompressionGolden:
    def test_compression_golden_pins_zlib_runtime(self):
        """ADVICE r04: the compression_stats goldens store exact
        compressed byte counts, which are an artifact of the zlib BUILD
        (zlib-ng at the same level emits different bytes). The golden
        pins the generator's zlib runtime in its parquet metadata; this
        asserts the CHECKING runtime matches, so a runtime swap fails
        here loudly instead of as a silent value-hash divergence."""
        import zlib

        import pyarrow.parquet as pq

        from tools.gen_goldens import ops_golden_path

        for sf in (0.01, 0.1):
            meta = pq.read_schema(ops_golden_path("compression_stats", sf)).metadata
            pinned = (meta or {}).get(b"zlib_runtime")
            assert pinned is not None, "golden missing zlib_runtime pin"
            assert pinned.decode() == zlib.ZLIB_RUNTIME_VERSION

    def test_compression_stats_signal(self, spark):
        """Repetitive text compresses far smaller than high-entropy
        text of the same length — the signal the operator exists for;
        sizes match a direct zlib call exactly."""
        import zlib

        from gocrd_spark.operators.textstats import compression_stats

        rep = "spam " * 200
        import random as _r

        rng = _r.Random(7)
        noise = " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(4))
            for _ in range(200)
        )
        docs = spark.createDataFrame(
            [(0, rep), (1, noise), (2, "")], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in compression_stats(docs).collect()}
        for i, t in ((0, rep), (1, noise), (2, "")):
            assert got[i].n_bytes == len(t.encode())
            assert got[i].n_bytes_zlib == len(zlib.compress(t.encode(), 6))
        # the signal: repetition compresses much harder
        assert got[0].n_bytes_zlib * 10 < got[1].n_bytes_zlib

    def test_pii_scrub_planted(self, spark):
        """All three pattern families redact; sequencing means an IP
        inside an email's domain counts as EMAIL; near-misses (bare
        digits, no-TLD at-signs) survive."""
        from gocrd_spark.operators.textstats import pii_scrub

        docs = spark.createDataFrame(
            [
                (0, "mail me at bob.smith+x@corp-mail.co.uk thanks"),
                (1, "server 192.168.1.254 and backup 10.0.0.1"),
                (2, "call +4930123456 or 555-123-4567 today"),
                (3, "weird user@1.2.3.4 embedded ip-in-email"),
                (4, "no pii: 1234 plain @ words 1.2 here"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in pii_scrub(docs).collect()}
        assert got[0].n_emails == 1
        assert got[0].text_scrubbed == "mail me at <EMAIL> thanks"
        assert (got[1].n_ips, got[1].text_scrubbed) == (
            2, "server <IP> and backup <IP>"
        )
        assert got[2].n_phones == 2
        assert got[2].text_scrubbed == "call <PHONE> or <PHONE> today"
        # email pattern eats user@1.2.3.4? no TLD letters -> NOT an
        # email; the IP inside then scrubs as IP
        assert got[3].n_emails == 0 and got[3].n_ips == 1
        assert got[4].n_emails == got[4].n_ips == got[4].n_phones == 0
        assert got[4].text_scrubbed == "no pii: 1234 plain @ words 1.2 here"

    def test_wordlist_token_boundaries(self, spark):
        from gocrd_spark.operators.textstats import wordlist_flags

        docs = spark.createDataFrame(
            [
                (0, "the quick brown fox"),
                (1, "attending CLASS today"),   # 'class' contains 'ass'
                (2, "what an ass he was"),
                (3, "Ass at line start"),       # case-folded token hit
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.flagged
            for r in wordlist_flags(docs, ["ass"]).collect()
        }
        assert got == {0: 0, 1: 0, 2: 1, 3: 1}

    def test_materialize_conserves_every_document(self, docs):
        """Every document's text appears in exactly one shard, and
        per-shard doc/token counts agree with pack_shards."""
        from gocrd_spark.operators.textstats import (
            materialize_shards,
            pack_shards,
        )

        shards = materialize_shards(docs, budget_tokens=2048, bucket_size=64)
        rows = shards.collect()
        packed = pack_shards(docs, budget_tokens=2048, bucket_size=64).collect()
        by_shard: dict[int, list] = {}
        for r in packed:
            by_shard.setdefault(r.shard_id, []).append(r)
        assert {r.shard_id for r in rows} == set(by_shard)
        for r in rows:
            assert r.n_docs == len(by_shard[r.shard_id])
            assert r.n_tokens == sum(p.n_tokens for p in by_shard[r.shard_id])
        total_docs = sum(r.n_docs for r in rows)
        assert total_docs == docs.count()

    def test_bpe_mode_matches_token_stats_bpe_counts(self, docs):
        """The bpe budget unit must be EXACTLY token_stats_bpe's count
        (the wiring the verdict asked for), and unknown modes raise."""
        import pytest as _pytest

        from gocrd_spark.operators.textstats import pack_shards, token_stats_bpe

        counts = {
            r.doc_id: r.n_bpe_tokens for r in token_stats_bpe(docs).collect()
        }
        packed = {
            r.doc_id: r.n_tokens
            for r in pack_shards(docs, token_mode="bpe").collect()
        }
        assert packed == counts
        with _pytest.raises(ValueError):
            pack_shards(docs, token_mode="wordpiece")


class TestMediaDedup:
    def test_byte_identity_groups(self, spark):
        """Same BYTES -> one keeper (lowest id), regardless of any other
        column; distinct bytes (even one bit off) stay separate."""
        from gocrd_spark.operators.multimodal import media_dedup

        rows = [
            (0, "img", b"\x89PNG\x0d\x0a\x1a\x0a payload"),
            (1, "img", b"\x89PNG\x0d\x0a\x1a\x0a payload"),   # dup of 0
            (2, "aud", b"\x89PNG\x0d\x0a\x1a\x0a payload"),   # dup of 0, other kind
            (3, "img", b"\x89PNG\x0d\x0a\x1a\x0a payloaX"),   # one byte off
            (4, "vid", b""),                                   # empty payload
            (5, "vid", b""),                                   # dup empty
            (6, "img", None),                                  # failed fetch
            (7, "img", None),                                  # NULLs never group
        ]
        df = spark.createDataFrame(rows, "id long, kind string, payload binary")
        got = {r.id: (r.keep, r.n_copies) for r in media_dedup(df).collect()}
        assert got == {
            0: (1, 3), 1: (0, 3), 2: (0, 3),
            3: (1, 1),
            4: (1, 2), 5: (0, 2),
            6: (1, 1), 7: (1, 1),   # each NULL its own group, kept
        }


class TestMultimodal:
    def test_decode_stub_raises_without_fake(self):
        from gocrd_spark.operators.multimodal import decode_image

        with pytest.raises(NotImplementedError):
            decode_image(b"payload")

    def test_feature_extraction_plumbing(self, spark):
        from gocrd_spark.operators.multimodal import extract_features, synth_media_pdf

        media = spark.createDataFrame(
            synth_media_pdf(30), schema="id long, kind string, payload binary"
        )
        rows = extract_features(media, fake=True).collect()
        assert len(rows) == 30
        ok = [r for r in rows if r.error is None]
        assert len(ok) == 30
        assert all(len(r.feature) == 16 for r in ok)
        # determinism: same payload -> same feature across runs
        again = extract_features(media, fake=True).collect()
        assert {r.id: tuple(r.feature) for r in rows} == {
            r.id: tuple(r.feature) for r in again
        }

    def test_resize_and_frame_sample(self, spark):
        import numpy as np

        from gocrd_spark.operators.multimodal import (
            resize_image,
            resize_images,
            sample_frames,
            synth_media_pdf,
        )

        img = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
        small = resize_image(img, 4, 4)
        assert small.shape == (4, 4, 3)

        media = spark.createDataFrame(
            synth_media_pdf(12), schema="id long, kind string, payload binary"
        )
        resized = resize_images(media, width=4, height=4).collect()
        assert len(resized) == 12 and all(r.error is None for r in resized)
        assert all(r.width == 4 and r.height == 4 for r in resized)

        frames = sample_frames(media.filter("kind = 'video'"), every_n=3).collect()
        assert frames and all(f.error is None for f in frames)
        # deterministic: same payload -> same frame hashes
        again = sample_frames(media.filter("kind = 'video'"), every_n=3).collect()
        assert {(f.id, f.frame_idx, f.frame_hash) for f in frames} == {
            (f.id, f.frame_idx, f.frame_hash) for f in again
        }

    def test_inline_oracle_cte_matches_synth_media(self):
        """The driver-oracle media CTE (__spark_entry__._media_inline_sql)
        must stay byte-identical to synth_media_pdf: the r03 driver gate
        dropped the three multimodal rows because the oracle read a /tmp
        parquet; the fix regenerates the table inline in SQL, so the SQL
        and the Python generator are now two independent implementations
        of the same contract — pin them to each other."""
        import duckdb

        import __spark_entry__ as entry
        from gocrd_spark.operators.multimodal import synth_media_pdf

        n = 37  # off the cached-parquet sizes on purpose
        got = duckdb.connect().execute(
            "SELECT id, kind, p FROM (" + entry._media_inline_sql(n) + ") ORDER BY id"
        ).fetchall()
        pdf = synth_media_pdf(n)
        want = [
            (int(r.id), r.kind, bytes(r.payload).decode("ascii"))
            for r in pdf.itertuples()
        ]
        assert got == want

    def test_multimodal_oracles_are_self_contained(self):
        """Regression guard for the r03 driver-gate gap: the multimodal
        oracle SQL must not touch the filesystem (no read_parquet, no
        absolute paths) so it runs in a DuckDB with external access
        disabled."""
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        for name in ("multimodal_features", "multimodal_resize", "video_frame_sample"):
            sql = oracles[name]
            assert "read_parquet" not in sql, name
            assert "/tmp" not in sql, name

    def test_error_rows_for_null_payload(self, spark):
        from gocrd_spark.operators.multimodal import extract_features

        media = spark.createDataFrame(
            pd.DataFrame({"id": [1], "kind": ["image"], "payload": [None]}),
            schema="id long, kind string, payload binary",
        )
        rows = extract_features(media, fake=True).collect()
        # null payload -> decoded as empty bytes deterministically (no crash)
        assert len(rows) == 1


class TestSourceOverlap:
    def test_hand_computed_matrix(self, spark):
        """Three sources with known vocab overlap, including a
        zero-overlap pair (emitted with jaccard 0)."""
        from gocrd_spark.operators.textstats import source_overlap

        docs = spark.createDataFrame(
            [
                (1, "a b c", "s1"),
                (2, "b c d", "s1"),   # s1 vocab {a,b,c,d}
                (3, "c d e", "s2"),   # s2 vocab {c,d,e}
                (4, "x y", "s3"),     # s3 vocab {x,y} — disjoint
            ],
            "doc_id long, text string, source string",
        )
        got = {
            (r.source_a, r.source_b): (r.n_a, r.n_b, r.n_shared, r.jaccard_e6)
            for r in source_overlap(docs).collect()
        }
        assert got[("s1", "s2")] == (4, 3, 2, 400_000)  # {c,d}/{a..e}
        assert got[("s1", "s3")] == (4, 2, 0, 0)
        assert got[("s2", "s3")] == (3, 2, 0, 0)
        assert len(got) == 3


class TestBigramLogprob:
    def test_matches_independent_python_lm(self, spark):
        """Tiny corpus, LM re-derived in plain Python (math.log +
        HALF_UP rounding): counts, contexts, vocab, add-1 smoothing,
        per-doc occurrence-weighted sums. One-token doc excluded."""
        import math
        from decimal import Decimal, ROUND_HALF_UP

        from gocrd_spark.operators.textstats import bigram_logprob

        corpus = {1: "a b a b c", 2: "a b", 3: "c a a", 4: "x"}
        docs = spark.createDataFrame(
            list(corpus.items()), "doc_id long, text string"
        )

        def r6e6(x: float) -> int:
            d = Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            return int(
                (d * 1_000_000).to_integral_value(rounding=ROUND_HALF_UP)
            )

        cnt: dict = {}
        docbg: dict = {}
        vocab = set()
        for did, text in corpus.items():
            t = text.split()
            vocab.update(t)
            for a, b in zip(t, t[1:]):
                bg = f"{a} {b}"
                cnt[bg] = cnt.get(bg, 0) + 1
                docbg.setdefault(did, []).append(bg)
        ctx: dict = {}
        for bg, c in cnt.items():
            ctx[bg.split()[0]] = ctx.get(bg.split()[0], 0) + c
        lnp = {
            bg: r6e6(math.log((c + 1) / (ctx[bg.split()[0]] + len(vocab))))
            for bg, c in cnt.items()
        }
        expected = {
            did: (len(bgs), sum(lnp[b] for b in bgs))
            for did, bgs in docbg.items()
        }
        got = {
            r.doc_id: (r.n_bigrams, r.sum_logprob_e6)
            for r in bigram_logprob(docs, k=1).collect()
        }
        assert got == expected
        assert 4 not in got

    def test_rare_bigrams_score_lower(self, spark):
        """A doc of corpus-frequent bigrams outscores a doc of one-off
        bigrams (per-bigram mean)."""
        from gocrd_spark.operators.textstats import bigram_logprob

        common = "the cat sat"
        docs = spark.createDataFrame(
            [(i, common) for i in range(9)]
            + [(100, "zyx wvu tsr qpo nml")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.sum_logprob_e6 / r.n_bigrams
            for r in bigram_logprob(docs).collect()
        }
        assert got[0] > got[100]


class TestFuzzyContamination:
    def test_planted_leak_found_clean_docs_not(self, spark):
        """Doc 7 is a lightly-reworded copy of benchmark 100 (high
        shingle overlap); doc 8 shares nothing. Identity rows excluded
        even when the benchmark doc itself is in the corpus."""
        from gocrd_spark.operators.dedup import fuzzy_contamination

        bench_text = "the quick brown fox jumps over the lazy dog again and again"
        leaked = "the quick brown fox jumps over the lazy dog again and again extra"
        docs = spark.createDataFrame(
            [(7, leaked), (8, "completely unrelated words about spark engines"),
             (100, bench_text)],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, bench_text)], "doc_id long, text string"
        )
        rows = fuzzy_contamination(
            docs, bench, n=3, num_hashes=32, bands=32, threshold=0.5,
            allow_quadratic=True,
        ).collect()
        assert [(r.doc_id, r.benchmark_id) for r in rows] == [(7, 100)]
        assert rows[0].jaccard_e6 >= 500_000

    def test_verbatim_leak_under_new_id(self, spark):
        """The same benchmark text re-ingested under a different doc_id
        is flagged at jaccard_e6 = 1000000."""
        from gocrd_spark.operators.dedup import fuzzy_contamination

        t = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame([(1, t)], "doc_id long, text string")
        bench = spark.createDataFrame([(2, t)], "doc_id long, text string")
        rows = fuzzy_contamination(
            docs, bench, num_hashes=32, bands=32, threshold=0.5,
            allow_quadratic=True,
        ).collect()
        assert [(r.doc_id, r.benchmark_id, r.jaccard_e6) for r in rows] == [
            (1, 2, 1_000_000)
        ]

    def test_corpus_never_shuffles_text(self, spark):
        """Both benchmark tables and the candidate set broadcast; the
        only Exchange in the plan is the candidate distinct on (long,
        long) — no corpus-side text/shingle shuffle, no sort-merge
        join."""
        from gocrd_spark.operators.dedup import fuzzy_contamination

        docs = spark.createDataFrame(
            [(i, f"doc number {i} words words words") for i in range(20)],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "doc number 3 words words words")],
            "doc_id long, text string",
        )
        plan = (
            fuzzy_contamination(
                docs, bench, num_hashes=32, bands=32, allow_quadratic=True
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 3


class TestQualitySurvivors:
    def test_highest_quality_wins_ties_to_min_doc(self, spark):
        """Cluster {1,2,3}: doc 2 has the best quality -> sole keeper.
        Cluster {10,11} ties -> min doc_id (10) keeps. Singleton 20
        keeps itself."""
        from gocrd_spark.operators.dedup import quality_survivors

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)],
            "doc_id long, canonical_id long",
        )
        quality = spark.createDataFrame(
            [(1, 50), (2, 90), (3, 90 - 1), (10, 70), (11, 70), (20, 5)],
            "doc_id long, quality_e6 long",
        )
        got = {
            r.doc_id: r.keep
            for r in quality_survivors(clusters, quality).collect()
        }
        assert got == {1: 0, 2: 1, 3: 0, 10: 1, 11: 0, 20: 1}

    def test_one_survivor_per_cluster_always(self, spark):
        """Invariant on a generated membership: exactly one keep=1 row
        per canonical_id regardless of quality distribution."""
        from gocrd_spark.operators.dedup import quality_survivors

        rows = [(i, i % 17) for i in range(200)]
        clusters = spark.createDataFrame(rows, "doc_id long, canonical_id long")
        quality = spark.createDataFrame(
            [(i, (i * 37) % 11) for i in range(200)],
            "doc_id long, quality_e6 long",
        )
        out = quality_survivors(clusters, quality)
        per = (
            out.groupBy("canonical_id")
            .agg(F.sum("keep").alias("s"))
            .collect()
        )
        assert all(r.s == 1 for r in per)
        assert out.count() == 200

    def test_plan_partial_agg_no_window(self, spark):
        """Scale shape: struct-max arg-max partial-aggregates before
        the Exchange (map-side combine) and no Window over cluster
        members appears anywhere."""
        from gocrd_spark.operators.dedup import quality_survivors

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1)], "doc_id long, canonical_id long"
        )
        quality = spark.createDataFrame(
            [(1, 5), (2, 9)], "doc_id long, quality_e6 long"
        )
        plan = (
            quality_survivors(clusters, quality)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "partial_max(struct" in plan
        assert "Window" not in plan


class TestClassifierScore:
    def test_hand_computed_inference(self, spark):
        """Tiny corpus with an explicit weight table: 'a b' yields
        features {a, b, 'a b'}; weights chosen so signs and sums are
        checkable by hand; empty doc scores the bare bias; a feature
        absent from the weight table contributes 0."""
        import hashlib

        from gocrd_spark.operators.textstats import classifier_score

        D = 1 << 20

        def fid(tok):
            return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % D

        docs = spark.createDataFrame(
            [(1, "a b"), (2, ""), (3, "c c")], "doc_id long, text string"
        )
        # weight 'a'=+5, 'b'=-2, bigram 'a b'=+1; 'c' and 'c c' NOT in table
        weights = spark.createDataFrame(
            [(fid("a"), 5), (fid("b"), -2), (fid("a b"), 1)],
            "feature_id long, weight_e6 long",
        )
        got = {
            r.doc_id: (r.n_features, r.score_e6, r.keep)
            for r in classifier_score(docs, weights, bias_e6=-1).collect()
        }
        assert got[1] == (3, 5 - 2 + 1 - 1, 1)  # 3 occurrences, score 3
        assert got[2] == (0, -1, 0)  # empty doc: bias only
        assert got[3] == (3, -1, 0)  # c, c, 'c c' all unweighted

    def test_occurrence_multiplicity(self, spark):
        """Bag-of-words WITH multiplicity: 'x x x' counts 'x' three
        times and 'x x' twice."""
        import hashlib

        from gocrd_spark.operators.textstats import classifier_score

        D = 1 << 20
        fid = lambda t: int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % D
        docs = spark.createDataFrame([(1, "x x x")], "doc_id long, text string")
        weights = spark.createDataFrame(
            [(fid("x"), 10), (fid("x x"), 100)], "feature_id long, weight_e6 long"
        )
        r = classifier_score(docs, weights).collect()[0]
        assert (r.n_features, r.score_e6) == (5, 3 * 10 + 2 * 100)

    def test_weights_join_is_broadcast(self, spark):
        from gocrd_spark.operators.textstats import classifier_score

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        weights = spark.createDataFrame([(0, 1)], "feature_id long, weight_e6 long")
        plan = classifier_score(docs, weights)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestPerceptualHash:
    def test_ppm_decode_roundtrip_and_errors(self):
        import numpy as np

        from gocrd_spark.operators.multimodal import (
            decode_image,
            decode_ppm,
            encode_ppm,
        )

        img = np.arange(11 * 7 * 3, dtype=np.uint8).reshape(7, 11, 3)
        assert (decode_ppm(encode_ppm(img)) == img).all()
        # header comments + multi-whitespace are legal P6
        wonky = b"P6\n# a comment\n 11\t7\n# again\n255\n" + img.tobytes()
        assert (decode_ppm(wonky) == img).all()
        # decode_image routes P6 to the REAL decoder (no fake needed)
        assert (decode_image(encode_ppm(img)) == img).all()
        with pytest.raises(ValueError, match="truncated"):
            decode_ppm(encode_ppm(img)[:-5])
        with pytest.raises(ValueError, match="P6"):
            decode_ppm(b"P5\n1 1\n255\n\x00")
        with pytest.raises(ValueError, match="maxval"):
            decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")

    def test_phash_gradient_invariance(self):
        import numpy as np

        from gocrd_spark.operators.multimodal import phash64, synth_ppm_media_pdf, decode_ppm

        pdf = synth_ppm_media_pdf(8)
        img = decode_ppm(bytes(pdf.payload[0]))
        # identical image -> identical hash
        assert phash64(img) == phash64(img.copy())
        # uniform brightness shift -> hamming 0 (dHash compares adjacent
        # means, so a constant offset cancels; keep pixels off the 255
        # clamp so the shift IS uniform post-luma)
        dim = (img // 2).astype(np.uint8)
        bright = dim + 20
        a, b = phash64(dim), phash64(bright)
        assert bin((a ^ b) & ((1 << 64) - 1)).count("1") == 0

    def test_phash_twin_parity_on_odd_sizes(self):
        """Kernel (numpy) vs golden twin (pure loops) on dimensions NOT
        divisible by 8 — the block-boundary arithmetic must agree."""
        import sys as _sys

        import numpy as np

        _sys.path.insert(0, "tools")
        import oracle_twins as tw

        from gocrd_spark.operators.multimodal import (
            _sha_stream,
            encode_ppm,
            decode_ppm,
            phash64,
        )

        for w, h in [(8, 8), (11, 7), (16, 16), (13, 29), (9, 64)]:
            raw = _sha_stream(f"odd:{w}x{h}", w * h * 3)
            img = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
            payload = encode_ppm(img)
            assert phash64(decode_ppm(payload)) == tw.ppm_phash64(payload), (w, h)

    def test_phash_near_dups_matches_bruteforce(self, spark):
        """Banded operator == twin's exact all-pairs answer (recall by
        pigeonhole, precision by the bit_count filter), error rows carry
        NULL phash with exact int64 values elsewhere — the batch HAS a
        None (id 36), so this also pins the nullable-Int64 regression:
        a float64-coerced column would zero the low ~11 bits of every
        hash and shift hammings by +-1."""
        import sys as _sys

        _sys.path.insert(0, "tools")
        import oracle_twins as tw

        from gocrd_spark.operators.multimodal import (
            phash_images,
            phash_near_dups,
            synth_ppm_media_pdf,
        )

        pdf = synth_ppm_media_pdf(60)
        media = spark.createDataFrame(
            pdf, schema="id long, kind string, payload binary"
        )
        rows_ = [(int(r.id), bytes(r.payload)) for r in pdf.itertuples(index=False)]

        got_h = {r.id: r.phash for r in phash_images(media).collect()}
        want_h = dict(tw.image_phashes(rows_))
        assert got_h == want_h  # exact, including None for id 36
        assert got_h[36] is None

        got = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in phash_near_dups(media, max_hamming=6).collect()
        )
        assert got == tw.phash_near_dups_exact(rows_, max_hamming=6)
        assert got, "planted near-dups must be found"
        # negative control: the fresh image in group 0 (id 3) pairs with nobody
        assert not any(3 in (a, b) for a, b, _ in got)

    def test_phash_near_dups_bucket_valve(self, spark):
        """max_bucket drops degenerate buckets before the self-join:
        with N identical flat images and max_bucket < N every band
        bucket overflows, so no pairs survive; with the valve off the
        clique comes back."""
        import numpy as np

        from gocrd_spark.operators.multimodal import encode_ppm, phash_near_dups

        flat = encode_ppm(np.full((16, 16, 3), 128, dtype=np.uint8))
        media = spark.createDataFrame(
            [(i, "image", bytearray(flat)) for i in range(12)],
            schema="id long, kind string, payload binary",
        )
        assert phash_near_dups(media, max_hamming=3, max_bucket=5).count() == 0
        assert phash_near_dups(media, max_hamming=3, max_bucket=None).count() == 66


class TestFrontierWaves:
    def test_per_host_cap_and_malformed(self, spark):
        """9 urls on one host at per_host=4 -> waves 0,0,0,0,1,1,1,1,2;
        a second host schedules independently; malformed urls get wave
        NULL."""
        from pyspark.sql import functions as F

        from gocrd_spark.operators.urls import frontier_waves

        rows = [(i, f"https://big.test/p/{i}") for i in range(9)]
        rows += [(100, "https://small.test/x"), (101, "https://small.test/y")]
        rows += [(200, ":::bad:::")]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = {r.doc_id: (r.host, r.wave) for r in frontier_waves(df, per_host=4).collect()}
        assert [got[i][1] for i in range(9)] == [0, 0, 0, 0, 1, 1, 1, 1, 2]
        assert got[100] == ("small.test", 0) and got[101] == ("small.test", 0)
        assert got[200][1] is None
        # invariant: no host exceeds per_host per wave
        from collections import Counter

        c = Counter((h, w) for h, w in got.values() if w is not None)
        assert max(c.values()) <= 4


class TestSemDedup:
    def test_duplicates_collapse_distinct_survive(self, spark):
        """Three exact copies of one vector plus far-away distinct
        vectors: copies land in one cell (identical -> identical
        nearest centroid), form one component, keep only min id."""
        from gocrd_spark.operators.similarity import semdedup

        dup = [1.0, 0.0, 0.0, 0.0]
        others = [[0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
        rows = [(0, dup), (1, dup), (2, dup)] + [
            (10 + i, v) for i, v in enumerate(others)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        out = {
            r.vec_id: (r.canonical_id, r.keep)
            for r in semdedup(emb, n_cells=4, n_iters=1, threshold=0.99).collect()
        }
        assert out[0] == (0, 1) and out[1] == (0, 0) and out[2] == (0, 0)
        for i in range(3):
            assert out[10 + i] == (10 + i, 1)

    def test_cluster_invariants_on_fixture(self, emb):
        """Every vector labeled once; exactly one keep per canonical;
        canonical sits in the SAME cell as every member (pairs are
        within-cell by construction)."""
        from gocrd_spark.operators.similarity import semdedup

        rows = semdedup(emb, n_cells=8, n_iters=2, threshold=0.42).collect()
        assert len(rows) == emb.count()
        cell_of = {r.vec_id: r.cell for r in rows}
        per_canon: dict = {}
        for r in rows:
            per_canon.setdefault(r.canonical_id, []).append(r)
            assert cell_of[r.canonical_id] == r.cell
        for canon, members in per_canon.items():
            assert sum(m.keep for m in members) == 1
            assert min(m.vec_id for m in members) == canon

    def test_mega_cell_valve_matches_exact_on_boilerplate(self, spark):
        """Planted mega-cell (a boilerplate class of near-identical
        vectors that k-means cannot split): with the ``max_cell``
        hub-star valve the pair volume is linear in the class, and for
        a mutually-near-identical class the resulting CLUSTERS equal
        the exact within-cell answer — every copy links to the hub."""
        from gocrd_spark.operators.similarity import semdedup

        boiler = [[1.0, 0.0, 0.0, 0.0]] * 30  # one degenerate cell
        others = [[0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
        rows = [(i, v) for i, v in enumerate(boiler)] + [
            (100 + i, v) for i, v in enumerate(others)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        exact = {
            r.vec_id: (r.canonical_id, r.keep)
            for r in semdedup(emb, n_cells=4, n_iters=1, threshold=0.99).collect()
        }
        valved = {
            r.vec_id: (r.canonical_id, r.keep)
            for r in semdedup(
                emb, n_cells=4, n_iters=1, threshold=0.99, max_cell=5
            ).collect()
        }
        assert valved == exact
        # and the valve really engaged: the boilerplate class is far
        # above max_cell, so the star path produced its links
        assert all(valved[i] == (0, 1 if i == 0 else 0) for i in range(30))

    def test_no_corpus_cartesian(self, spark):
        """The only cross product is the broadcast centroid assignment;
        the pair join is keyed on cell — no non-broadcast cartesian."""
        from gocrd_spark.operators.similarity import semdedup

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        plan = (
            semdedup(emb, n_cells=2, n_iters=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan


class TestQuantizeEmbeddings:
    def test_roundtrip_error_and_plan(self, spark):
        """Dequantization error bounded by scale/2 per element; q in
        [0,255]; constant vectors quantize to zeros; the plan carries
        NO Exchange (pure narrow map)."""
        from gocrd_spark.operators.similarity import quantize_embeddings

        rows = [
            (0, [0.0, 1.0, 0.5, -1.0]),
            (1, [3.25, 3.25, 3.25]),  # constant -> scale 0 -> all zeros
            (2, [100.0, -50.0, 0.25, 7.5]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = quantize_embeddings(emb)
        got = out.collect()
        by_vec = {}
        for r in got:
            by_vec.setdefault(r.vec_id, []).append(r)
        assert all(0 <= r.q <= 255 for r in got)
        assert [r.q for r in sorted(by_vec[1], key=lambda r: r.dim_idx)] == [0, 0, 0]
        # dequant error <= scale/2 (+ the e6 rounding of lo/scale)
        orig = {v: e for v, e in rows}
        for v, rs in by_vec.items():
            for r in rs:
                lo, scale = r.lo_e6 / 1e6, r.scale_e6 / 1e6
                x = orig[v][r.dim_idx]
                assert abs((lo + r.q * scale) - x) <= scale / 2 + 2e-6
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_nan_vector_degrades_to_null_codes(self, spark):
        """One corrupt vector (NaN element) must not kill the pass:
        ANSI cast(NaN as long) would throw — the guard emits NULL codes
        for the non-finite arithmetic while clean vectors are
        unaffected."""
        from gocrd_spark.operators.similarity import quantize_embeddings

        rows = [
            (0, [0.0, float("nan"), 1.0]),
            (1, [float("inf"), 0.0, 1.0]),
            (2, [0.0, 1.0, 2.0]),  # clean
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = quantize_embeddings(emb).collect()  # must not raise
        clean = [r for r in got if r.vec_id == 2]
        assert sorted(r.q for r in clean) == [0, 128, 255]
        dirty = [r for r in got if r.vec_id in (0, 1)]
        assert any(r.q is None for r in dirty)


class TestMojibakeScore:
    def test_planted_damage_counts(self, spark):
        from gocrd_spark.operators.textstats import mojibake_score

        docs = spark.createDataFrame(
            [
                (0, "clean text entirely"),
                (1, "double cafÃ© decode isnâ€™t right cafÃ©"),
                (2, "lost byte her� and her�"),
                (3, "Ã© alone"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in mojibake_score(docs).collect()}
        assert (got[0].n_mojibake, got[0].n_replacement, got[0].flag_mojibake) == (0, 0, 0)
        assert got[1].n_mojibake == 3 and got[1].flag_mojibake == 1
        assert got[2].n_replacement == 2 and got[2].flag_mojibake == 1
        assert got[3].n_mojibake == 1


class TestPerplexityBuckets:
    def test_tiers_partition_and_tie_policy(self, spark):
        """Head/middle/tail cover every tokenized doc per language;
        value-based tie policy (equal costs share a tier) and the
        monotone invariant head-cost <= middle-cost <= tail-cost."""
        from gocrd_spark.operators.textstats import perplexity_buckets

        rows = [
            (i, ("common words here " * 5) if i % 3 else "zzz rare qqq xxy", ["en", "de"][i % 2], "s", 1)
            for i in range(40)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        out = perplexity_buckets(docs, sample_permille=1000).cache()
        got = {r.doc_id: r for r in out.collect()}
        assert len(got) == 40  # every tokenized doc labeled
        for lang in ("en", "de"):
            tiers = [r.tier for r in got.values() if r.lang == lang]
            assert set(tiers) <= {"head", "middle", "tail"}
            # monotone: max head cost <= min tail cost
            costs = {t: [r.cost_e9 for r in got.values() if r.lang == lang and r.tier == t] for t in set(tiers)}
            if "head" in costs and "tail" in costs:
                assert max(costs["head"]) <= min(costs["tail"])
        # equal-cost docs land in the same tier (value ties, not ntile)
        by_cost = {}
        for r in got.values():
            by_cost.setdefault((r.lang, r.cost_e9), set()).add(r.tier)
        assert all(len(ts) == 1 for ts in by_cost.values())

    def test_unsampled_language(self, spark):
        """A language the sample misses entirely labels 'unsampled',
        never silently head/tail."""
        from gocrd_spark.operators.textstats import perplexity_buckets

        # permille=0 -> empty sample -> every language unsampled
        docs = spark.createDataFrame(
            [(1, "a b c", "en", "s", 1)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = perplexity_buckets(docs, sample_permille=0).collect()
        assert [r.tier for r in out] == ["unsampled"]


class TestRecrawlSchedule:
    def test_tiers_and_rates(self, spark):
        from gocrd_spark.operators.urls import recrawl_schedule

        rows = (
            # u_static: 4 obs, never changes -> rate 0 -> slow
            [("u_static", s, "same") for s in range(1, 5)]
            # u_flappy: changes every snapshot -> rate 1000 -> fast
            + [("u_flappy", s, f"d{s}") for s in range(1, 5)]
            # u_mid: 1 change over 5 revisits -> 200 permille -> medium
            + [("u_mid", s, "a" if s < 6 else "b") for s in range(1, 7)]
            # u_once: single observation
            + [("u_once", 1, "x")]
        )
        obs = spark.createDataFrame(rows, "url string, snap_id long, digest string")
        got = {r.url: r for r in recrawl_schedule(obs).collect()}
        assert got["u_static"].tier == "slow" and got["u_static"].rate_permille == 0
        assert got["u_flappy"].tier == "fast" and got["u_flappy"].rate_permille == 1000
        assert got["u_mid"].tier == "medium" and got["u_mid"].rate_permille == 200
        assert got["u_once"].tier == "once" and got["u_once"].rate_permille is None
        assert got["u_mid"].n_obs == 6 and got["u_mid"].n_changes == 1


class TestHostBoilerplate:
    def test_planted_cases(self, spark):
        """Lines at/above the df+ratio floor vanish host-wide; repeated
        lines below either floor survive; empty lines are structural and
        always kept; scoping is per-host (same line on another host with
        low df survives there)."""
        from gocrd_spark.operators.textstats import host_boilerplate

        docs = spark.createDataFrame(
            [
                # host a: 4 docs. "nav a" in 4/4 (boiler), "copy a" in
                # 3/4 (>=0.4 ratio + df 3 -> boiler), "rare a" in 2/4
                # (df 2 < min_df 3 -> kept).
                (1, "a", "nav a\nbody one\ncopy a"),
                (2, "a", "nav a\nbody two\n\ncopy a"),
                (3, "a", "nav a\nbody three\ncopy a\nrare a"),
                (4, "a", "nav a\nbody four\nrare a"),
                # host b: 1 doc carrying host a's template — different
                # host, df 1 there -> untouched.
                (5, "b", "nav a\ncopy a\nbody five"),
            ],
            "doc_id long, host string, text string",
        )
        got = {
            r.doc_id: (r.clean_text, r.n_lines, r.n_removed)
            for r in host_boilerplate(docs, min_df=3, min_ratio_e6=400_000).collect()
        }
        assert got == {
            1: ("body one", 3, 2),
            2: ("body two\n", 4, 2),       # empty line kept
            3: ("body three\nrare a", 4, 2),
            4: ("body four\nrare a", 3, 1),
            5: ("nav a\ncopy a\nbody five", 3, 0),
        }

    def test_intra_doc_repeat_counts_once(self, spark):
        """df is DISTINCT docs: a line repeated 3x inside one doc has
        df 1 and survives; the repeat across 3 docs has df 3 and dies."""
        from gocrd_spark.operators.textstats import host_boilerplate

        docs = spark.createDataFrame(
            [
                (1, "a", "x\nx\nx\nu1"),
                (2, "a", "y\nu2"),
                (3, "a", "y\nu3"),
                (4, "a", "y\nu4"),
            ],
            "doc_id long, host string, text string",
        )
        got = {r.doc_id: r.clean_text for r in
               host_boilerplate(docs, min_df=3, min_ratio_e6=400_000).collect()}
        assert got == {1: "x\nx\nx\nu1", 2: "u2", 3: "u3", 4: "u4"}

    def test_all_lines_removed_yields_empty(self, spark):
        from gocrd_spark.operators.textstats import host_boilerplate

        docs = spark.createDataFrame(
            [(i, "a", "tpl") for i in range(1, 5)],
            "doc_id long, host string, text string",
        )
        got = {r.doc_id: (r.clean_text, r.n_removed) for r in
               host_boilerplate(docs, min_df=3, min_ratio_e6=400_000).collect()}
        assert got == {i: ("", 1) for i in range(1, 5)}


class TestCrawlTraps:
    def test_planted_traps(self, spark):
        """Calendar + faceted templates flag as traps; a healthy /post/N
        archive with the same fanout but distinct content does not;
        sub-min_urls templates are excluded; malformed urls ignored."""
        from gocrd_spark.operators.urls import crawl_traps

        rows = []
        for d in range(200):
            rows.append((f"https://cal.test/c/{2000 + d % 50}/{d % 12}", f"cd{d % 3}"))
            rows.append((f"https://blog.test/post/{d}", f"pd{d}"))
            rows.append(
                (f"https://shop.test/list?page={d % 25}&sort={'a' if d % 2 else 'd'}",
                 f"sd{d % 4}")
            )
            rows.append(("not a url", "x"))
        obs = spark.createDataFrame(rows, "url string, digest string")
        got = {r.template: r for r in crawl_traps(obs, min_urls=10).collect()}
        assert set(got) == {
            "cal.test/c/N/N", "blog.test/post/N", "shop.test/list?page&sort",
        }
        assert got["cal.test/c/N/N"].is_trap == 1
        assert got["cal.test/c/N/N"].n_urls == 200 and got["cal.test/c/N/N"].n_digests == 3
        assert got["shop.test/list?page&sort"].is_trap == 1
        assert got["blog.test/post/N"].is_trap == 0
        assert got["blog.test/post/N"].n_digests == 200

    def test_query_key_order_and_values_collapse(self, spark):
        """?b=1&a=2 and ?a=9&b=9 share one template (sorted KEY set,
        values dropped); a url with no query gets no '?' suffix."""
        from gocrd_spark.operators.urls import crawl_traps

        obs = spark.createDataFrame(
            [(f"https://s.test/p?b={i}&a={i}", f"d{i}") for i in range(5)]
            + [(f"https://s.test/p?a=9&b={i}", f"e{i}") for i in range(5)]
            + [(f"https://s.test/p{i}", f"f{i}") for i in range(3)],
            "url string, digest string",
        )
        got = {r.template: (r.n_urls, r.n_digests) for r in
               crawl_traps(obs, min_urls=2).collect()}
        assert got == {"s.test/p?a&b": (10, 10), "s.test/pN": (3, 3)}


class TestHardNegatives:
    def test_label_filter_and_ranking(self, spark):
        """Neighbors carry a different label only; ranking follows cosine
        with the id tie-break; same-label near-duplicates never appear."""
        from gocrd_spark.operators.similarity import hard_negatives

        rows = [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.01], 0),   # same label as query 0: excluded
            (2, [0.9, 0.1], 1),    # closest different-label
            (3, [0.0, 1.0], 1),    # orthogonal different-label
            (4, [-1.0, 0.0], 2),   # opposite
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        got = [(r.neighbor_id, r.neighbor_label, r.rank) for r in
               hard_negatives(emb, query_ids=[0], k=3)
               .orderBy("rank").collect()]
        assert got == [(2, 1, 1), (3, 1, 2), (4, 2, 3)]

    def test_queries_broadcast_no_corpus_self_join(self, spark):
        from gocrd_spark.operators.similarity import hard_negatives

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0], i % 3) for i in range(50)],
            "vec_id long, embedding array<float>, label int",
        )
        plan = (
            hard_negatives(emb, query_ids=[0, 1], k=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" in plan  # bounded query side only
        assert plan.count("Scan ExistingRDD") <= 2


class TestMirrorHosts:
    def test_full_and_partial_mirrors(self, spark):
        from gocrd_spark.operators.urls import mirror_hosts

        rows = []
        for i in range(20):
            rows.append((f"https://m0.test/a/{i}", f"sh{i}"))
            rows.append((f"https://m1.test/b/{i}", f"sh{i}"))
            rows.append((f"https://m2.test/c/{i}", f"sh{i}" if i < 10 else f"x{i}"))
            rows.append((f"https://m3.test/d/{i}", f"y{i}"))
        df = spark.createDataFrame(rows, "url string, digest string")
        got = {(r.host_a, r.host_b): (r.n_shared, r.overlap_e6, r.is_mirror)
               for r in mirror_hosts(df, min_shared=5).collect()}
        assert got == {
            ("m0.test", "m1.test"): (20, 1_000_000, 1),
            ("m0.test", "m2.test"): (10, 500_000, 0),
            ("m1.test", "m2.test"): (10, 500_000, 0),
        }

    def test_small_full_mirror_of_big_site(self, spark):
        """Containment-of-the-smaller: a 6-page mirror of a 100-page
        site scores 1e6 even though Jaccard would be tiny."""
        from gocrd_spark.operators.urls import mirror_hosts

        rows = [(f"https://big.test/{i}", f"d{i}") for i in range(100)]
        rows += [(f"https://small.test/{i}", f"d{i}") for i in range(6)]
        df = spark.createDataFrame(rows, "url string, digest string")
        [r] = mirror_hosts(df, min_shared=5).collect()
        assert (r.host_a, r.host_b) == ("big.test", "small.test")
        assert r.overlap_e6 == 1_000_000 and r.is_mirror == 1

    def test_universal_digest_valve(self, spark):
        """A digest on more hosts than the cap (error template) asserts
        nothing: with it excluded the hosts share too little."""
        from gocrd_spark.operators.urls import mirror_hosts

        rows = []
        for h in range(8):
            for i in range(6):
                rows.append((f"https://h{h}.test/{i}", "errorpage"))
                rows.append((f"https://h{h}.test/u/{i}", f"h{h}-{i}"))
        df = spark.createDataFrame(rows, "url string, digest string")
        assert mirror_hosts(df, min_shared=1, max_hosts_per_digest=4).count() == 0
        # raise the cap: the universal digest now links every host pair
        assert mirror_hosts(df, min_shared=1, max_hosts_per_digest=64).count() == 28


class TestGroupedSplit:
    def test_group_disjoint_and_deterministic(self, spark):
        """Every group maps to exactly one split; assignment is stable
        under corpus growth (adding docs never moves a group)."""
        from gocrd_spark.operators.textstats import grouped_split

        docs = spark.createDataFrame(
            [(i, f"host{i % 7}", "x") for i in range(70)],
            "doc_id long, source string, text string",
        )
        rows = grouped_split(docs, group_col="source").collect()
        by_group: dict = {}
        for r in rows:
            by_group.setdefault(r.group, set()).add(r.split)
        assert all(len(s) == 1 for s in by_group.values())
        # growth stability: the 7 groups keep their splits in a 10x corpus
        big = spark.createDataFrame(
            [(i, f"host{i % 7}", "x") for i in range(700)],
            "doc_id long, source string, text string",
        )
        big_map = {r.group: r.split
                   for r in grouped_split(big, group_col="source").collect()}
        small_map = {g: next(iter(s)) for g, s in by_group.items()}
        assert big_map == small_map

    def test_no_shuffle(self, docs):
        from gocrd_spark.operators.textstats import grouped_split

        plan = (
            grouped_split(docs, group_col="source")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestHostQuality:
    def test_tiers_and_majority_lang(self, spark):
        from gocrd_spark.operators.urls import host_quality

        rows = []
        # good.test: 4 clean pages, 3 en / 1 de
        for i, lang in enumerate(["en", "en", "en", "de"]):
            rows.append((f"https://good.test/{i}", "clean plain words of text", lang))
        # bad.test: 3 digit-soup pages
        for i in range(3):
            rows.append((f"https://bad.test/{i}", "1234567890 999 111 000", "en"))
        # thin.test: below min_pages -> review even if clean
        rows.append(("https://thin.test/0", "clean plain words", "en"))
        rows.append(("notaurl", "dropped row", "en"))  # NULL host dropped
        df = spark.createDataFrame(rows, "url string, text string, lang string")
        out = {r.host: r for r in host_quality(df).collect()}
        assert set(out) == {"good.test", "bad.test", "thin.test"}
        assert out["good.test"].tier == "allow"
        assert out["good.test"].top_lang == "en"
        assert out["good.test"].n_pages == 4
        assert out["bad.test"].tier == "block"
        assert out["thin.test"].tier == "review"

    def test_top_lang_tie_breaks_lexicographically(self, spark):
        from gocrd_spark.operators.urls import host_quality

        df = spark.createDataFrame(
            [
                ("https://h.test/1", "words here", "fr"),
                ("https://h.test/2", "words here", "de"),
            ],
            "url string, text string, lang string",
        )
        assert host_quality(df).collect()[0].top_lang == "de"

    def test_empty_text_is_floor_not_error(self, spark):
        from gocrd_spark.operators.urls import host_quality

        df = spark.createDataFrame(
            [("https://e.test/1", "", "en")] * 3, "url string, text string, lang string"
        )
        r = host_quality(df).collect()[0]
        # all ratios 0 -> composite = 1e6 per page
        assert r.sum_quality_e6 == 3_000_000 and r.tier == "allow"


class TestUrlFeatures:
    def test_feature_values(self, spark):
        from gocrd_spark.operators.urls import url_features

        df = spark.createDataFrame(
            [
                ("https://h123.test/a/b/c?x=1&y=2",),
                ("https://deep.x.y.z.test/a/b/c/d/e",),
                ("not a url",),
            ],
            "url string",
        )
        rows = {r.url: r for r in url_features(df).collect()}
        r = rows["https://h123.test/a/b/c?x=1&y=2"]
        assert (r.host, r.n_host_labels, r.path_depth, r.n_params) == (
            "h123.test", 2, 3, 2,
        )
        assert r.host_digit_e6 == (1_000_000 * 3) // len("h123.test")
        deep = rows["https://deep.x.y.z.test/a/b/c/d/e"]
        assert deep.n_host_labels == 5 and deep.path_depth == 5
        bad = rows["not a url"]
        assert bad.host is None and bad.n_host_labels == 0 and bad.n_params == 0


class TestStratifiedSample:
    def test_quota_and_small_strata(self, spark):
        from gocrd_spark.operators.textstats import stratified_sample

        rows = [(i, "big", "en") for i in range(50)] + [
            (100, "tiny", "de"), (101, "tiny", "de")
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, lang string")
        out = stratified_sample(df, k=5).collect()
        by = {}
        for r in out:
            by.setdefault((r.source, r.lang), []).append(r)
        assert len(by[("big", "en")]) == 5      # exact quota
        assert len(by[("tiny", "de")]) == 2     # under-filled stratum: all rows
        assert sorted(r.pick_order for r in by[("big", "en")]) == [1, 2, 3, 4, 5]

    def test_deterministic_and_seed_switchable(self, spark):
        from gocrd_spark.operators.textstats import stratified_sample

        df = spark.createDataFrame(
            [(i, "s", "en") for i in range(200)],
            "doc_id long, source string, lang string",
        )
        a = sorted(r.doc_id for r in stratified_sample(df, k=10).collect())
        b = sorted(r.doc_id for r in stratified_sample(df, k=10).collect())
        c = sorted(r.doc_id for r in stratified_sample(df, k=10, seed="other").collect())
        assert a == b        # rerun-stable
        assert a != c        # seed moves the pick set


class TestScriptProfile:
    def test_counts_and_main_script(self, spark):
        from gocrd_spark.operators.textstats import script_profile

        docs = spark.createDataFrame(
            [
                (0, "hello world 42"),
                (1, "漢字 only 漢"),
                (2, "текст y"),          # 5 cyrillic vs 1 latin
                (3, ""),
                (4, "ab 漢字"),           # tie 2-2: priority -> latin
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in script_profile(docs).collect()}
        assert rows[0].n_latin == 10 and rows[0].n_digit == 2
        assert rows[0].main_script == "latin" and rows[0].n_other == 0
        # "漢字 only 漢": 4 latin chars vs 3 cjk -> latin wins on count
        assert rows[1].n_cjk == 3 and rows[1].n_latin == 4
        assert rows[1].main_script == "latin"
        assert rows[2].n_cyrillic == 5 and rows[2].main_script == "cyrillic"
        assert rows[3].main_script == "none"
        assert rows[4].n_latin == 2 and rows[4].n_cjk == 2
        assert rows[4].main_script == "latin"  # tie -> priority order


class TestVocabDrift:
    def test_planted_burst_tops_the_movers(self, spark):
        from gocrd_spark.operators.textstats import vocab_drift

        old = spark.createDataFrame(
            [(i, "stable words here") for i in range(20)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(i, "stable words here" + (" spamword" * 3 if i < 10 else ""))
             for i in range(20)],
            "doc_id long, text string",
        )
        rows = vocab_drift(old, new, min_ppm=100, top=10).collect()
        assert rows[0].term == "spamword"
        assert rows[0].old_ppm == 0 and rows[0].direction == "up"
        # stable terms dilute (denominator grew): direction down
        by = {r.term: r for r in rows}
        assert by["stable"].direction == "down"

    def test_gone_term_direction_down(self, spark):
        from gocrd_spark.operators.textstats import vocab_drift

        old = spark.createDataFrame(
            [(0, "aaa bbb"), (1, "aaa bbb")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(0, "aaa aaa"), (1, "aaa aaa")], "doc_id long, text string"
        )
        by = {r.term: r for r in vocab_drift(old, new, min_ppm=100).collect()}
        assert by["bbb"].new_ppm == 0 and by["bbb"].direction == "down"
        assert by["aaa"].direction == "up"


class TestPerceptronTrain:
    @staticmethod
    def _twin(docs, n_rounds=3, clip=1 << 40, n_features=1 << 20):
        """Independent single-node perceptron: dict arithmetic over the
        same spec (md5-bucket features, y*margin<=0 wrong rule, clamp
        after every round) — never calls the operator under test."""
        import hashlib
        import re

        cl: dict = {}
        ys: dict = {}
        for doc_id, text, y in docs:
            ys[doc_id] = y
            t = [
                x
                for x in re.sub(r"\s+", " ", text.lower(), flags=re.ASCII)
                .strip()
                .split(" ")
                if x
            ]
            fs = t + [f"{a} {b}" for a, b in zip(t, t[1:])]
            for f_ in fs:
                fid = int(hashlib.md5(f_.encode()).hexdigest()[:8], 16) % n_features
                cl[(doc_id, fid)] = cl.get((doc_id, fid), 0) + 1

        def clamp(v):
            return max(-clip, min(clip, v))

        w: dict = {}
        b = 0

        def margins():
            m = {d: b for d in ys}
            for (d, fid), c in cl.items():
                m[d] += w.get(fid, 0) * c
            return m

        for _ in range(n_rounds):
            m = margins()
            wrong = {d for d in ys if ys[d] * m[d] <= 0}
            for (d, fid), c in cl.items():
                if d in wrong:
                    w[fid] = w.get(fid, 0) + ys[d] * c
            w = {fid: clamp(v) for fid, v in w.items()}
            b = clamp(b + sum(ys[d] for d in wrong))
        m = margins()
        return {d: (ys[d], m[d], 1 if m[d] > 0 else 0) for d in ys}

    def test_twin_parity_mixed_corpus(self, spark):
        from gocrd_spark.operators.textstats import perceptron_quality

        rows = [
            (0, "good clean prose with many useful words", 1),
            (1, "buy cheap pills buy cheap pills buy", -1),
            (2, "useful words and clean prose again", 1),
            (3, "cheap cheap pills discount", -1),
            (4, "prose words pills", 1),  # mixed vocab
            (5, "", -1),  # empty doc: scores bare bias
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, y long")
        got = {
            r.doc_id: (r.y, r.margin, r.pred_pos)
            for r in perceptron_quality(docs, n_rounds=3).collect()
        }
        assert got == self._twin(rows, n_rounds=3)

    def test_separable_data_converges(self, spark):
        from gocrd_spark.operators.textstats import perceptron_quality

        rows = [
            (i, "alpha beta gamma delta", 1) if i % 2 == 0
            else (i, "zork quux blort frobnicate", -1)
            for i in range(20)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, y long")
        out = perceptron_quality(docs, n_rounds=3).collect()
        assert len(out) == 20
        for r in out:
            assert (r.margin > 0) == (r.y == 1), (r.doc_id, r.margin, r.y)
            assert r.pred_pos == (1 if r.y == 1 else 0)

    def test_clip_bounds_weights(self, spark):
        from gocrd_spark.operators.textstats import perceptron_train

        rows = [(i, "hot " * 50, 1) for i in range(10)]
        docs = spark.createDataFrame(rows, "doc_id long, text string, y long")
        w, bias = perceptron_train(docs, n_rounds=3, clip=7)
        for r in w.collect():
            assert -7 <= r.w <= 7
        assert all(-7 <= r.b <= 7 for r in bias.collect())

    def test_loop_plan_reads_checkpoint_not_source(self, spark):
        # the final margin plan must consume the localCheckpoint'ed
        # feature table (ExistingRDD), never replay the token explode
        from gocrd_spark.operators.textstats import perceptron_quality

        rows = [(i, f"w{i % 3} common text", 1 if i % 2 else -1) for i in range(12)]
        docs = spark.createDataFrame(rows, "doc_id long, text string, y long")
        out = perceptron_quality(docs, n_rounds=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        assert "Generate" not in plan  # explode only ran before the checkpoint
        assert "BroadcastHashJoin" in plan  # model table broadcasts


class TestProductQuantization:
    @staticmethod
    def _twins():
        import sys

        if "tools" not in sys.path:
            sys.path.insert(0, "tools")
        import oracle_twins as tw

        return tw

    @staticmethod
    def _emb_rows(n=40, dim=16):
        import numpy as np

        rows = {}
        for i in range(n):
            rows[i] = [
                float(np.float32(((i * 31 + d * 7) % 97 - 48) / 16.0))
                for d in range(dim)
            ]
        # planted exact duplicate of vec 0
        rows[n] = list(rows[0])
        return rows

    def _df(self, spark, rows):
        return spark.createDataFrame(
            [(i, v) for i, v in rows.items()], "vec_id long, embedding array<float>"
        )

    def test_codes_match_twin(self, spark):
        tw = self._twins()
        from gocrd_spark.operators.similarity import pq_codebooks, pq_encode

        rows = self._emb_rows()
        df = self._df(spark, rows)
        cb = pq_codebooks(df, m=4, n_codes=4, n_iters=2)
        got = [
            (r.vec_id, r.sub, r.code)
            for r in pq_encode(df, cb, m=4).orderBy("vec_id", "sub").collect()
        ]
        assert got == tw.pq_codes(rows, m=4, n_codes=4, n_iters=2)

    def test_topk_matches_twin_and_duplicate_is_rank1_at_adc0(self, spark):
        tw = self._twins()
        from gocrd_spark.operators.similarity import pq_topk

        rows = self._emb_rows()
        df = self._df(spark, rows)
        got = [
            (r.query_id, r.neighbor_id, r.adc_e6, r.rank)
            for r in pq_topk(df, [0, 7], k=5, m=4, n_codes=4, n_iters=2)
            .orderBy("query_id", "rank")
            .collect()
        ]
        assert got == tw.pq_topk(rows, [0, 7], k=5, m=4, n_codes=4, n_iters=2)
        # the planted duplicate of vec 0 shares all of vec 0's codes, so
        # its ADC is the per-subspace minimum LUT sum — the smallest
        # achievable distance -> rank 1 (ADC is query-to-CENTROID
        # distance, so it is NOT zero even for an exact duplicate)
        q0 = [g for g in got if g[0] == 0]
        assert q0[0][1] == 40 and q0[0][3] == 1
        assert q0[0][2] == min(g[2] for g in q0)

    def test_search_plan_broadcasts_and_never_cartesians(self, spark):
        from gocrd_spark.operators.similarity import pq_topk

        df = self._df(spark, self._emb_rows())
        plan = (
            pq_topk(df, [0], k=3, m=4, n_codes=4, n_iters=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestIvfPq:
    def test_matches_twin_and_duplicate_rank1(self, spark):
        tw = TestProductQuantization._twins()
        rows = TestProductQuantization._emb_rows(n=60, dim=16)
        df = spark.createDataFrame(
            [(i, v) for i, v in rows.items()], "vec_id long, embedding array<float>"
        )
        from gocrd_spark.operators.similarity import ivfpq_topk

        kw = dict(k=5, n_cells=4, n_probe=2, coarse_iters=2, m=4, n_codes=4, pq_iters=2)
        got = [
            (r.query_id, r.neighbor_id, r.adc_e6, r.rank)
            for r in ivfpq_topk(df, [0, 9], **kw).orderBy("query_id", "rank").collect()
        ]
        assert got == tw.topk_ivfpq(rows, [0, 9], **kw)
        # the exact duplicate of vec 0 (vec 60) shares vec 0's cell —
        # always probe #1 — and all its residual codes, so its ADC is
        # the minimum WITHIN that cell and it must be retrieved (across
        # cells the LUTs differ, so rank 1 is not guaranteed in general)
        q0 = [g for g in got if g[0] == 0]
        assert 60 in [g[1] for g in q0]

    def test_plan_has_no_plain_cartesian(self, spark):
        from gocrd_spark.operators.similarity import ivfpq_topk

        rows = TestProductQuantization._emb_rows(n=30, dim=16)
        df = spark.createDataFrame(
            [(i, v) for i, v in rows.items()], "vec_id long, embedding array<float>"
        )
        plan = (
            ivfpq_topk(df, [0], k=3, n_cells=4, n_probe=2, coarse_iters=1, m=4,
                       n_codes=4, pq_iters=1)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        # trained quantizers are checkpointed: the serving plan reads
        # ExistingRDD, not a replay of the Lloyd loops
        assert "ExistingRDD" in plan


class TestCrawlBudgets:
    def test_hand_case_and_exact_sum(self, spark):
        from gocrd_spark.operators.urls import crawl_budgets

        scores = spark.createDataFrame(
            [("a", 5), ("b", 3), ("c", 3), ("d", 1), ("e", 0)],
            "host string, score long",
        )
        # budget 10, T=12: floors 4,2,2,0,0 (sum 8); rems 2,6,6,10,0;
        # R=2 -> d (rem 10) then the rem-6 tie broken to b over c
        out = {r.host: r.quota for r in crawl_budgets(scores, 10).collect()}
        assert out == {"a": 4, "b": 3, "c": 2, "d": 1, "e": 0}
        assert sum(out.values()) == 10

    def test_exact_split_r_zero_sentinel(self, spark):
        from gocrd_spark.operators.urls import crawl_budgets

        scores = spark.createDataFrame(
            [("a", 5), ("b", 3), ("c", 3), ("d", 1)], "host string, score long"
        )
        out = {r.host: r.quota for r in crawl_budgets(scores, 12).collect()}
        assert out == {"a": 5, "b": 3, "c": 3, "d": 1}  # floors already exact

    def test_sum_invariant_random_budgets(self, spark):
        from gocrd_spark.operators.urls import crawl_budgets

        scores = spark.createDataFrame(
            [(f"h{i}", (i * 37) % 11 + 1) for i in range(40)],
            "host string, score long",
        )
        for b in (1, 7, 100, 999):
            got = crawl_budgets(scores, b).agg({"quota": "sum"}).collect()[0][0]
            assert got == b, (b, got)


    def test_zero_score_total_degenerate_apportionment(self, spark):
        # ANSI division guard: all-zero scores must not throw; the
        # defined extension hands 1 unit to the first min(budget, n)
        # hosts by name
        from gocrd_spark.operators.urls import crawl_budgets

        scores = spark.createDataFrame(
            [("b", 0), ("a", 0), ("c", 0)], "host string, score long"
        )
        out = {r.host: r.quota for r in crawl_budgets(scores, 2).collect()}
        assert out == {"a": 1, "b": 1, "c": 0}

    def test_no_global_window_over_hosts(self, spark):
        from gocrd_spark.operators.urls import crawl_budgets

        scores = spark.createDataFrame(
            [(f"h{i}", i + 1) for i in range(20)], "host string, score long"
        )
        plan = (
            crawl_budgets(scores, 100)
            ._jdf.queryExecution().executedPlan().toString()
        )
        wins = [ln for ln in plan.splitlines() if "Window [" in ln]
        assert wins, plan
        for ln in wins:
            if "host" in ln:
                # the host-table window is PARTITIONED by rem (tie
                # groups only) — never a global sort of the host table
                assert "], [rem#" in ln, ln
            else:
                # the only unpartitioned window is the cumsum over the
                # remainder HISTOGRAM (sum of the groupBy counts)
                assert "sum(c#" in ln, ln


class TestDedupReport:
    def test_histogram_hand_case(self, spark):
        from gocrd_spark.operators.dedup import dedup_report

        clusters = spark.createDataFrame(
            [
                (0, 0, 1), (1, 0, 0), (2, 0, 0),   # size-3 cluster
                (3, 3, 1), (4, 3, 0),              # size-2 cluster
                (5, 5, 1), (6, 6, 1),              # two singletons
            ],
            "doc_id long, canonical_id long, keep long",
        )
        got = {
            r.cluster_size: (r.n_clusters, r.n_docs)
            for r in dedup_report(clusters).collect()
        }
        assert got == {3: (1, 3), 2: (1, 2), 1: (2, 2)}
        # invariant: n_docs sums to the corpus size
        assert sum(v[1] for v in got.values()) == 7


class TestIvfPqIndex:
    def test_build_probe_parity_resume_refusal(self, spark, emb, tmp_path):
        import time

        from gocrd_spark.operators.similarity import (
            ivfpq_index,
            ivfpq_topk,
            ivfpq_topk_from,
        )

        kw = dict(n_cells=8, coarse_iters=2, m=8, n_codes=8, pq_iters=2)
        path = str(tmp_path / "ivfpq")
        ivfpq_index(emb, path, **kw)
        fresh = {
            (r.query_id, r.rank): (r.neighbor_id, r.adc_e6)
            for r in ivfpq_topk(emb, [0, 1, 2], k=5, n_probe=3, **kw).collect()
        }
        queries = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        served_df = ivfpq_topk_from(spark, path, queries, k=5, n_probe=3)
        served = {
            (r.query_id, r.rank): (r.neighbor_id, r.adc_e6)
            for r in served_df.collect()
        }
        assert served == fresh and len(served) == 15

        # the ADC join prunes the cell-partitioned codes table
        plan = served_df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()

        # resume: second build skips via the marker+sidecar
        t0 = time.time()
        assert ivfpq_index(emb, path, **kw) == path
        assert time.time() - t0 < 1.0

        with pytest.raises(ValueError, match="was built with"):
            ivfpq_index(emb, path, n_cells=16, coarse_iters=2, m=8,
                        n_codes=8, pq_iters=2)


class TestIvfPqRecall:
    def test_small_corpus_denominator_is_achievable_k(self, spark):
        from gocrd_spark.operators.similarity import ivfpq_recall

        rows = TestProductQuantization._emb_rows(n=7, dim=16)  # 8 vectors
        df = spark.createDataFrame(
            [(i, v) for i, v in rows.items()], "vec_id long, embedding array<float>"
        )
        out = ivfpq_recall(
            df, [0], k=10, n_cells=2, n_probe=2, coarse_iters=1, m=4,
            n_codes=2, pq_iters=1,
        ).collect()[0]
        # only 7 non-self neighbors exist: k reports 7, and probing ALL
        # cells means every neighbor is found
        assert out.k == 7 and out.n_found == 7


class TestHashedEmbeddings:
    def test_components_match_hand_hash_and_grid_dense(self, spark):
        import hashlib

        from gocrd_spark.operators.textstats import embed_documents

        docs = spark.createDataFrame(
            [(0, "alpha beta alpha"), (1, "")], "doc_id long, text string"
        )
        got = {(r.doc_id, r.dim_idx): r.v
               for r in embed_documents(docs, dim=8).collect()}
        want = {(d, j): 0 for d in (0, 1) for j in range(8)}
        for t, mult in (("alpha", 2), ("beta", 1)):
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            want[(0, (h >> 1) % 8)] += (1 if h & 1 else -1) * mult
        assert got == want  # dense grid: empty doc emits 8 zero rows

    def test_vectors_face_chains_into_similarity(self, spark):
        from gocrd_spark.operators.similarity import semdedup
        from gocrd_spark.operators.textstats import (
            embed_documents,
            embedding_vectors,
        )

        docs = spark.createDataFrame(
            [(i, f"common words w{i % 4} here") for i in range(12)]
            + [(100, "common words w0 here")],  # exact text dup of doc 0
            "doc_id long, text string",
        )
        vecs = embedding_vectors(embed_documents(docs, dim=16))
        assert len(vecs.first().embedding) == 16
        out = {r.vec_id: r for r in semdedup(
            vecs, n_cells=2, n_iters=1, threshold=0.99).collect()}
        # identical text -> identical vector -> same cell, dup dropped
        assert out[100].canonical_id == 0 and out[100].keep == 0
        assert out[0].keep == 1


class TestShardManifest:
    def test_digest_is_md5_of_exact_shard_text(self, spark):
        import hashlib

        from gocrd_spark.operators.textstats import (
            materialize_shards,
            shard_manifest,
        )

        docs = spark.createDataFrame(
            [(i, f"w{i} " * 5) for i in range(6)], "doc_id long, text string"
        )
        shards = materialize_shards(docs, budget_tokens=10, bucket_size=4)
        want = {
            r.shard_id: (
                r.n_docs,
                len(r.shard_text.encode()),
                hashlib.md5(r.shard_text.encode()).hexdigest(),
            )
            for r in shards.collect()
        }
        got = {
            r.shard_id: (r.n_docs, r.n_bytes, r.digest)
            for r in shard_manifest(shards).collect()
        }
        assert got == want and len(got) >= 2
