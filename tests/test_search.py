"""Corpus search operators: inverted index, integer-exact BM25,
positional phrase search (gocrd_spark/operators/search.py).

The BM25 expectation is computed by an INDEPENDENT pure-Python
implementation of the same integer spec inside the test (oracle-parity
rule: never by the operator under test).
"""

from __future__ import annotations

import math

import pytest

from gocrd_spark.operators.search import (
    bm25_topk,
    corpus_phrases,
    corpus_queries,
    phrase_search,
    posting_lists,
    postings_flat,
)

DOCS = [
    (0, "spark query engine runs the query plan"),
    (1, "the engine shuffles query keys"),
    (2, "plan pruning keeps the scan narrow"),
    (3, "spark spark spark"),
    (4, "one-off hapax document text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_tokens(text: str) -> list[str]:
    import re

    return [t for t in re.split(r"\s+", text.lower(), flags=re.ASCII) if t]


def test_postings_flat(docs):
    rows = {
        (r.term, r.doc_id): (r.tf, r.df)
        for r in postings_flat(docs).collect()
    }
    assert rows[("query", 0)] == (2, 2)
    assert rows[("query", 1)] == (1, 2)
    assert rows[("spark", 3)] == (3, 2)
    assert rows[("the", 0)] == (1, 3)
    # hapax present with df 1
    assert rows[("hapax", 4)] == (1, 1)


def test_posting_lists_sorted(docs):
    r = {row.term: row for row in posting_lists(docs).collect()}
    q = r["query"]
    assert q.df == 2 and q.total_tf == 3
    assert [p.doc_id for p in q.postings] == [0, 1]  # doc_id-sorted
    assert [p.tf for p in q.postings] == [2, 1]


def test_corpus_queries_band(docs):
    qs = corpus_queries(docs, n_terms=4).collect()
    terms = {r.term for r in qs}
    # hapaxes excluded; 'the' is in 3/5 docs = 60% <= 90% so allowed
    assert "hapax" not in terms and "one-off" not in terms
    assert len(qs) == 4
    assert {r.query_id for r in qs} == {0, 1}


def _py_bm25(doc_tokens: dict[int, list[str]], queries: dict[int, list[str]], k: int):
    """Independent integer-spec BM25 (math.log, pure Python)."""
    n = len(doc_tokens)
    t = sum(len(v) for v in doc_tokens.values())
    avgdl = t // n
    dfs: dict[str, int] = {}
    for toks in doc_tokens.values():
        for term in set(toks):
            dfs[term] = dfs.get(term, 0) + 1
    out = []
    for qid, qterms in queries.items():
        scores: dict[int, int] = {}
        for d, toks in doc_tokens.items():
            dl = len(toks)
            norm = 250 + (750 * dl) // avgdl
            s = 0
            hit = False
            for term in qterms:
                tf = sum(1 for x in toks if x == term)
                if tf == 0:
                    continue
                hit = True
                df = dfs[term]
                idf_e6 = round(
                    round(math.log((n - df + 0.5) / (df + 0.5) + 1.0), 6) * 1_000_000
                )
                s += (idf_e6 * 22000 * tf) // (10000 * tf + 12 * norm)
            if hit:
                scores[d] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for rank, (d, s) in enumerate(ranked, 1):
            out.append((qid, rank, d, s))
    return sorted(out)


def test_bm25_matches_independent_twin(spark, docs):
    queries = spark.createDataFrame(
        [(0, "spark"), (0, "plan"), (1, "query")], "query_id long, term string"
    )
    got = sorted(
        (r.query_id, r.rank, r.doc_id, r.score_e6)
        for r in bm25_topk(docs, queries, k=3).collect()
    )
    want = _py_bm25(
        {d: _py_tokens(t) for d, t in DOCS},
        {0: ["spark", "plan"], 1: ["query"]},
        k=3,
    )
    assert got == want


def test_bm25_rank_ties_break_by_doc_id(spark):
    # two identical docs -> identical scores; rank order = doc_id order
    docs = spark.createDataFrame(
        [(7, "x y"), (3, "x y"), (9, "z only")], "doc_id long, text string"
    )
    queries = spark.createDataFrame([(0, "x")], "query_id long, term string")
    got = [(r.rank, r.doc_id) for r in
           bm25_topk(docs, queries, k=5).orderBy("rank").collect()]
    assert got == [(1, 3), (2, 7)]


def test_phrase_search_consecutive_only(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a b c"),   # "a b" twice, "b c" once
            (1, "a x b"),       # a..b not consecutive
            (2, "b a"),         # reversed: no
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [(0, "a", "b"), (1, "b", "c")], "phrase_id long, w1 string, w2 string"
    )
    got = {
        (r.phrase_id, r.doc_id): r.n_occurrences
        for r in phrase_search(docs, phrases).collect()
    }
    assert got == {(0, 0): 2, (1, 0): 1}


def test_corpus_phrases_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, "p q r s") for i in range(5)] + [(9, "u v")],
        "doc_id long, text string",
    )
    ph = sorted(
        (r.phrase_id, r.w1, r.w2) for r in corpus_phrases(docs, n_phrases=4).collect()
    )
    # df=5 for each of (p,q),(q,r),(r,s); (u,v) df=1 < 3 excluded;
    # ties break lexicographically
    assert ph == [(0, "p", "q"), (1, "q", "r"), (2, "r", "s")]


def test_bm25_plan_shapes(spark, docs):
    queries = spark.createDataFrame([(0, "spark")], "query_id long, term string")
    plan = bm25_topk(docs, queries)._jdf.queryExecution().executedPlan().toString()
    # query-term filter is a broadcast join; no cartesian product; the
    # only nested-loop is the 1-row scalar broadcast
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_phrase_plan_no_cartesian(spark, docs):
    phrases = corpus_phrases(docs, n_phrases=2)
    plan = phrase_search(docs, phrases)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# --- durable search index ----------------------------------------------


def test_search_index_parity_and_pruning(spark, docs, tmp_path):
    from gocrd_spark.operators.search import (
        bm25_topk, bm25_topk_from, corpus_queries, search_index,
    )

    path = str(tmp_path / "idx")
    search_index(docs, path, buckets=16)
    search_index(docs, path, buckets=16)  # write-once resume
    queries = spark.createDataFrame(
        [(0, "spark"), (0, "plan"), (1, "query")], "query_id long, term string"
    )
    inline = sorted(
        (r.query_id, r.rank, r.doc_id, r.score_e6)
        for r in bm25_topk(docs, queries, k=5).collect()
    )
    from_table = sorted(
        (r.query_id, r.rank, r.doc_id, r.score_e6)
        for r in bm25_topk_from(spark, path, queries, k=5).collect()
    )
    assert inline == from_table  # score-identical, corpus never re-scanned

    plan = (
        bm25_topk_from(spark, path, queries, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "tbucket" in plan


def test_search_index_refuses_param_mismatch(spark, docs, tmp_path):
    import pytest as _pytest

    from gocrd_spark.operators.search import search_index

    path = str(tmp_path / "idx2")
    search_index(docs, path, buckets=16)
    with _pytest.raises(ValueError, match="built with"):
        search_index(docs, path, buckets=32)


def test_search_index_pins_text_col(spark, docs, tmp_path):
    """The index is built from ``text_col``, so a rebuild from another
    column refuses instead of serving the old postings. An index pinned
    without ``text_col`` (older sidecar, root ``_SUCCESS``) reads as
    built from ``"text"``: it still resumes and serves."""
    import json
    import os

    from gocrd_spark import fsio
    from gocrd_spark.operators.search import bm25_topk_from, search_index

    titled = docs.withColumn("title", docs["text"].substr(1, 9))
    path = str(tmp_path / "idx3")
    search_index(titled, path, buckets=16)
    with pytest.raises(ValueError, match="was built with"):
        search_index(titled, path, buckets=16, text_col="title")

    # rewrite the index into the older on-disk format
    sidecar = os.path.join(path, "_PARAMS.json")
    pinned = json.loads(fsio.read_text(spark, sidecar))
    del pinned["text_col"]
    fsio.write_text(spark, sidecar, json.dumps(pinned))
    fsio.write_text(spark, os.path.join(path, "_SUCCESS"), "")
    mtime = os.stat(sidecar).st_mtime_ns
    assert search_index(titled, path, buckets=16) == path
    assert os.stat(sidecar).st_mtime_ns == mtime
    with pytest.raises(ValueError, match="was built with"):
        search_index(titled, path, buckets=16, text_col="title")

    queries = spark.createDataFrame(
        [(0, "spark"), (1, "query")], "query_id long, term string"
    )
    assert sorted(bm25_topk_from(spark, path, queries, k=5).collect()) == sorted(
        bm25_topk(docs, queries, k=5).collect()
    )


def test_boolean_search_requires_all_terms(spark, docs):
    from gocrd_spark.operators.search import boolean_search

    queries = spark.createDataFrame(
        [(0, "spark"), (0, "plan"), (1, "engine")], "query_id long, term string"
    )
    got = sorted((r.query_id, r.doc_id) for r in boolean_search(docs, queries).collect())
    # q0 = spark AND plan: only doc 0 has both; q1 = engine: docs 0, 1
    assert got == [(0, 0), (1, 0), (1, 1)]


def test_boolean_search_duplicate_terms_in_doc_count_once(spark):
    from gocrd_spark.operators.search import boolean_search

    docs = spark.createDataFrame([(5, "x x x y")], "doc_id long, text string")
    queries = spark.createDataFrame(
        [(0, "x"), (0, "y"), (1, "x"), (1, "z")], "query_id long, term string"
    )
    got = [(r.query_id, r.doc_id) for r in boolean_search(docs, queries).collect()]
    assert got == [(0, 5)]  # q1 misses z entirely


class TestSearchSnippets:
    def test_densest_window_hand_case(self, spark):
        from gocrd_spark.operators.search import search_snippets

        # doc 1: hits at pos 1 ("q") and 2 ("w"), clustered; a lone
        # late hit at pos 9 -> best window starts at pos 1 with 2 hits
        docs = spark.createDataFrame(
            [
                (1, "a q w b c d e f g q"),
                (2, "q only here"),
            ],
            "doc_id long, text string",
        )
        queries = spark.createDataFrame(
            [(0, "q"), (0, "w")], "query_id long, term string"
        )
        rows = {
            r.doc_id: r
            for r in search_snippets(docs, queries, k=10, window=4).collect()
        }
        assert rows[1].start_pos == 1 and rows[1].n_hits == 2
        assert rows[1].snippet == "q w b c"
        # doc 2: single hit at pos 0; window clamps at the doc tail
        assert rows[2].start_pos == 0 and rows[2].n_hits == 1
        assert rows[2].snippet == "q only here"

    def test_tie_breaks_to_smallest_start(self, spark):
        from gocrd_spark.operators.search import search_snippets

        # hits at 0 and 6: both windows hold exactly one hit -> pos 0 wins
        docs = spark.createDataFrame(
            [(1, "q a b c d e q h")], "doc_id long, text string"
        )
        queries = spark.createDataFrame([(0, "q")], "query_id long, term string")
        r = search_snippets(docs, queries, k=5, window=3).collect()[0]
        assert r.start_pos == 0 and r.n_hits == 1 and r.snippet == "q a b"

    def test_rank_carries_bm25_order_and_plan_shape(self, spark):
        from gocrd_spark.operators.search import (
            bm25_topk,
            corpus_queries,
            search_snippets,
        )

        docs = spark.createDataFrame(
            [(i, f"common w{i % 5} filler text common") for i in range(30)],
            "doc_id long, text string",
        )
        q = corpus_queries(docs, n_terms=4)
        snips = search_snippets(docs, q, k=5, window=6)
        got = {(r.query_id, r.doc_id): r.rank for r in snips.collect()}
        want = {
            (r.query_id, r.doc_id): r.rank
            for r in bm25_topk(docs, q, k=5).collect()
        }
        assert got == want  # one snippet per ranked hit, same rank
        plan = snips._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
