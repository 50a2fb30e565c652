"""Regenerate PLANS.md: `.explain("formatted")` of the headline queries
with the properties a reviewer should check (pruning, broadcasts, no
cartesian on scale paths, codegen coverage).

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# PLANS — physical plans of the headline queries

Generated by `python tools/dump_plans.py` at sf0.001 (plan SHAPE is
scale-independent; sizes/AQE splits change, operators don't). What to
check per plan is noted above each dump; the same properties are
pinned by tests (tests/test_scale_plans.py,
tests/test_partitioned_and_streaming.py).
"""

# query name -> what the plan must show
NOTES = {
    "extract_text": (
        "Flagship extraction: Scan(url,html only — column pruning reaches "
        "the scan) -> one salted Exchange -> MapInPandas (Arrow kernel). "
        "No other shuffle, no per-row Python."
    ),
    "embedding_near_dups": (
        "Scale near-dup path: bucketed equi-join on (table, bucket) — no "
        "CartesianProduct / BroadcastNestedLoopJoin anywhere (contrast "
        "embedding_near_dups_exact_baseline below)."
    ),
    "embedding_near_dups_exact_baseline": (
        "The O(N²) verification baseline — the cartesian shape lives ONLY "
        "here, under a name that says so."
    ),
    "ann_topk_ivf": (
        "IVF: centroids are a broadcast DataFrame (BroadcastNestedLoopJoin "
        "against the tiny centroid table is the assignment crossJoin; the "
        "candidate scoring join on `cell` is a BroadcastHashJoin). No "
        "centroid literals in the plan — plan size independent of n_cells."
    ),
    "simhash_near_dups": (
        "SimHash: banded equi-join on ~31-bit block-combination keys with "
        "a Scan ExistingRDD of the checkpointed signature table feeding "
        "both join sides and the bucket cap."
    ),
    "ngram_jaccard_pairs": (
        "Exact Jaccard over MinHash candidates: the per-shingle df² "
        "self-join is gone — joins are candidate-pair joins on doc ids."
    ),
    "revenue_by_nation": (
        "Star joins: every dimension join is a BroadcastHashJoin; only "
        "the fact-side aggregation shuffles."
    ),
    "pricing_summary": (
        "TPC-H Q1 shape: scan filter pushed down (PushedFilters on "
        "l_shipdate), partial HashAggregate before the exchange, whole-"
        "stage codegen end to end."
    ),
    "tfidf_top_terms": (
        "Corpus TF-IDF: explode -> partial HashAggregate per term, corpus "
        "size joined as a broadcast singleton (no driver count, no literal "
        "N in the plan), TakeOrderedAndProject for the top-k."
    ),
    "pdf_extract_text": (
        "PDF extraction: Scan(doc_id, pdf) -> repartition -> MapInPandas "
        "(the from-scratch parser inside the Arrow kernel) — same one-"
        "exchange narrow-map shape as the XML flagship."
    ),
    "paragraph_dedup": (
        "Paragraph-level dedup: the keep/drop exchange carries ONLY "
        "(xxhash64, doc_id, chunk_idx) longs (partial min before it); "
        "chunk text is recomputed map-side after the doc_id join-back, "
        "never shuffled."
    ),
    "url_dedup": (
        "URL dedup: one exchange on the canonical-URL key with a partial "
        "max(struct(ts, -id)) before it — no window sort, no text "
        "payload beyond the key itself."
    ),
    "duplicate_spans": (
        "Repeated-substring spans: the dup decision is a partial-count "
        "groupBy + LeftSemi on the window hash (longs only); the span "
        "merge is a doc_id-PARTITIONED window — no global sort anywhere."
    ),
    "source_weighted_sample": (
        "Domain reweighting: narrow md5-band projection + one "
        "BroadcastHashJoin against the rate table (data, not literals) — "
        "zero shuffles at any corpus size."
    ),
    "pack_shards": (
        "Shard packing: distributed prefix sum — per-bucket partial sums, "
        "one tiny unpartitioned window over bucket offsets (n/bucket_size "
        "rows), broadcast back, bucket-PARTITIONED intra-bucket cumsum."
    ),
    "materialize_shards": (
        "Shard materialization: pack_shards' prefix sum + ONE extra "
        "exchange on shard_id for the per-shard concat; the collect_list "
        "group is bounded by budget_tokens, never corpus size."
    ),
    "outlinks": (
        "Outlink extraction: Scan -> MapInPandas (DOM walker) — the same "
        "narrow one-pass shape as the extraction flagship; zero joins, "
        "zero aggregations."
    ),
    "host_pagerank": (
        "Integer PageRank: per iteration one hash join (ranks x edges on "
        "src_host) + one partial-agg groupBy(dst_host) — shuffles carry "
        "(host, long) only; N rides a broadcast singleton (no driver "
        "count); lineage localCheckpoint-truncated every 4 rounds."
    ),
    "dsir_weights": (
        "DSIR importance weights: ngram explode is a narrow map; bucket "
        "stats shuffle <= `buckets` groups after partial agg; the llr "
        "table reaches the per-doc join as a BroadcastHashJoin (data, "
        "not literals); per-doc score is a partial-agg groupBy(doc_id). "
        "No corpus-sized join."
    ),
    "dsir_select": (
        "DSIR selection: the global top-k is TakeOrderedAndProject "
        "(per-partition top-k + driver merge), never a full sort "
        "exchange."
    ),
    "bloom_unprocessed": (
        "Bloom-prefiltered incremental ingest: the done set appears only "
        "under partial-agg scans (bitmap bit_or build, broadcast-semi "
        "maybe-check) — every join against it is a BroadcastHashJoin; "
        "no SortMergeJoin re-shuffles the done side."
    ),
    "pack_sequences": (
        "Fixed-length sequence layout: two-phase prefix sum (per-bucket "
        "partials -> one tiny offsets window -> broadcast back, "
        "bucket-PARTITIONED cumsum) + a bounded sequence() explode for "
        "boundary straddles. No global sort of the corpus."
    ),
    "mixture_plan": (
        "Token-budget mixture: ONE window partitioned by source "
        "(parallel per source), budgets reach the plan as a broadcast "
        "data table, never literals; text columns don't shuffle."
    ),
    "chunk_documents": (
        "Sliding-window chunking: Scan -> narrow projections + bounded "
        "explode — ZERO Exchange anywhere (pure map)."
    ),
    "frontier_waves": (
        "Politeness waves: one host-partitioned window; malformed urls "
        "bypass the window entirely (no NULL-host straggler partition)."
    ),
    "quantize_embeddings": (
        "Int8 quantization: array_min/max + posexplode — ZERO Exchange "
        "(pure narrow map)."
    ),
    "dataset_card": (
        "Corpus datasheet: one partial-agg groupBy; totals ride a "
        "broadcast singleton (no driver count, no second corpus pass)."
    ),
    "cdx_fetch_plan": (
        "CDX fetch planning: pushed-down prefix/time filters; "
        "latest-only is a partial struct-max SortAggregate (map-side "
        "combine), never a window over all captures."
    ),
    "page_metadata": (
        "Head-metadata tier: Scan(url, warc_ts, html only) -> project -> "
        "MapInPandas. ZERO Exchange — rides the scan's own splits, "
        "payload bytes never move."
    ),
    "canonical_dedup": (
        "rel=canonical dedup: ONE aggregate on target with map-side "
        "partial_min of the winner struct (self-canonical, latest, "
        "lowest url), then a key join back. Shuffles carry "
        "(target, struct) — never html."
    ),
    "perplexity_buckets": (
        "CCNet tiers: the only Window sorts the multiplicative-hash "
        "SAMPLE (cutoff ranks); full-corpus labeling is a "
        "BroadcastHashJoin against the per-lang cutoff table — no "
        "corpus-wide sort."
    ),
    "crawl_plan": (
        "Crawl-plan chain: url_dedup's struct-max agg + broadcast "
        "blocklist semi-join + host-partitioned wave window, unioned "
        "disposition branches — no new shuffle classes beyond the "
        "three audited stages."
    ),
    "recrawl_schedule": (
        "Recrawl tiers: one url-partitioned window (group size = "
        "snapshot count) whose shuffle the following groupBy REUSES "
        "(no second Exchange on the same key); digests only, no "
        "payloads."
    ),
    "mirror_hosts": (
        "Mirror pairs: distinct (host, xxhash64(digest)) -> fanout "
        "valve drops universal digests BEFORE the pair self-join; "
        "shuffles carry (long, host) only; integer containment of the "
        "smaller host."
    ),
    "fetch_priority": (
        "Frontier scoring: map-side host/template derivation, rank "
        "hash-join on host, schedule join on url, trap list "
        "BROADCASTS; all-integer score, no window, no sort."
    ),
    "sitemap_urls": (
        "Sitemap tier: column-pruned scan -> narrow MapInPandas "
        "(xmlwalk urlset/sitemapindex parser); per-entry fan-out inside "
        "the task — ZERO Exchange."
    ),
    "feed_items": (
        "Syndication tier: column-pruned scan -> narrow MapInPandas "
        "(xmlwalk feed parser); per-item fan-out happens inside the "
        "task — ZERO Exchange, payload bytes never move."
    ),
    "redirect_resolve": (
        "Redirect chains: pointer DOUBLING — ceil(log2(max_hops)) "
        "self-joins of (id, id, hops) longs, each round "
        "localCheckpoint'd (ExistingRDD, upstream never replays); URL "
        "strings ride only the entry id-map and exit join-back."
    ),
    "crawl_traps": (
        "Trap templates: map-side try_parse_url + digit-run collapse + "
        "sorted query keys; the two distinct counts aggregate "
        "xxhash64(url)/xxhash64(digest) longs under the template key — "
        "raw urls/digests never ride an exchange."
    ),
    "host_boilerplate": (
        "Host template-line removal: detection aggregates shuffle "
        "(host, xxhash64(line), doc_id) longs with map-side partial "
        "distinct; removal is a per-host boilerplate-hash SET join + "
        "map-side HOF membership filter over the doc's own line array "
        "— line text never rides a detection exchange and there is no "
        "reassembly aggregate."
    ),
    "bm25_search": (
        "Integer-exact BM25: the query table BROADCASTS into the token "
        "explode so non-query tokens die before any exchange; the "
        "shuffles carry (query_id, doc_id, long) aggregation rows; "
        "corpus scalars are a 1-row broadcast; the only window "
        "partitions by query_id over candidate rows already bounded by "
        "the query terms' document frequency."
    ),
    "inverted_postings": (
        "Inverted-index build: one (doc_id, term) exchange whose "
        "partial_count collapses repeats map-side, then the df window "
        "on term — parallelism equals the distinct-term count. The "
        "df-groupBy-join alternative re-runs the tf stage (measured 2x "
        "at 100k docs), so the window is the plan of record."
    ),
    "hll_distinct_terms": (
        "HyperLogLog registers: the (group, bucket) partial max "
        "collapses each partition to <= groups x 1024 rows before the "
        "exchange — shuffle size is INDEPENDENT of corpus size; the "
        "estimator fold is one row per group. The exact-distinct audit "
        "column is the only vocabulary-sized branch (production drops "
        "it)."
    ),
    "hdr_doclen_quantiles": (
        "HDR quantile sketch: integer bucketing map-side, (group, idx) "
        "partial-sum exchange bounded at ~1.9k rows per group, then "
        "cumsum/probe windows over the BUCKET table — the data itself "
        "is never sorted."
    ),
    "frontier_expand": (
        "Shortest-hop BFS: each round joins only the CURRENT frontier "
        "(hop == k-1) against the checkpointed edge table and folds by "
        "min-hop; per-round localCheckpoint keeps the final plan an "
        "ExistingRDD fold, no replayed scans."
    ),
    "host_quality": (
        "Per-host quality tiers: one narrow map emits (host, lang, "
        "q_e6) — content never shuffles; two key-only aggregations "
        "(host+lang, then host) with map-side partials; tier decision "
        "is integer compares, no division."
    ),
    "review_queue": (
        "Curation queue compose: host tiers join back as a "
        "host-cardinality broadcast; the pick window partitions by "
        "(tier, lang) over (url, digest) keys only."
    ),
    "perceptron_quality": (
        "Classifier training loop: the checkpointed feature-count table "
        "(ExistingRDD — the md5 explode never replays) broadcast-joins "
        "the per-round model table; margins/updates are partial-agg "
        "BIGINT sums, zero collects in the loop."
    ),
    "pq_codes": (
        "PQ encode: one bounded sequence explode to subvectors, then a "
        "broadcast candidate-ARRAY join + per-row argmin fold — narrow, "
        "no per-candidate row duplication, zero Exchange after the scan."
    ),
    "pq_topk": (
        "ADC search: the checkpointed codebook (ExistingRDD) feeds both "
        "the codes build and the per-query broadcast LUT; candidate "
        "distances are map-side-combinable BIGINT sums; the only "
        "corpus-keyed shuffle carries (query_id, vec_id, long)."
    ),
    "ann_topk_ivfpq": (
        "IVF-PQ: coarse assignment pinned as an ids-only ExistingRDD "
        "(the corpus argmin fold runs once); residuals rebuild per "
        "consumer as scan + broadcast join + narrow map; ADC joins the "
        "broadcast per-(query, cell) LUT on (cell, sub, code)."
    ),
    "html_tables": (
        "Table extraction tier: column-pruned scan -> MapInPandas, zero "
        "Exchange — the cell fan-out happens inside the task; payload "
        "bytes never move."
    ),
    "search_snippets": (
        "Snippets: the BM25 chain materializes once (checkpointed hits/"
        "tokens, k*|Q|-bounded ExistingRDDs); the window count is a "
        "per-(query, doc) self-join over that doc's few hit positions; "
        "the final slice joins the restricted token table, not the corpus."
    ),
    "crawl_budgets": (
        "Hamilton apportionment over PageRank scores: totals broadcast "
        "as 1-row scalars; the single-partition window runs over the "
        "distinct-remainder HISTOGRAM; the host-table window partitions "
        "by remainder (tie groups only)."
    ),
    "dedup_report": (
        "Duplication histogram: two key-only groupBys over the cluster "
        "labeling; nothing besides (canonical_id) and (cluster_size) "
        "longs ever shuffles."
    ),
}


def main() -> int:
    import __spark_entry__ as entry
    from gocrd_spark.session import get_spark

    spark = get_spark(master="local[4]", app_name="dump-plans",
                      shuffle_partitions=8)
    sf_dir = "/root/testdata/sf0.001"
    qs = entry.queries()
    out = [HEADER]
    for name, note in NOTES.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n{note}\n\n```\n{buf.getvalue().rstrip()}\n```\n")
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as fh:
        fh.write("".join(out))
    print(f"{path}: {len(NOTES)} plans")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
