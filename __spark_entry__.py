"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``   — flagship extraction over a deterministic synthetic
  ``pages`` table (BASELINE.json input_hint shape) at sf0.001 scale.
- ``queries()``      — one entry per implemented operator (SURVEY.md §2 +
  the training-data operator suite). EVERY entry has an ``oracle_sql()``
  twin: directly-expressed DuckDB SQL where the semantics are
  SQL-expressible, otherwise a read of golden parquet computed by
  INDEPENDENT implementations (template-spec arithmetic, expat walkers,
  pure-Python twins — tools/gen_goldens.py; never the operator under
  test). Zero rows-only entries since round 2.
- ``oracle_sql()``   — ANSI-SQL twins. Engine-parity rule: oracle-checked
  outputs carry only BIGINT/VARCHAR columns (ratios as fixed-point
  ``*_e6`` scaled integers, timestamps as epoch seconds) so value hashes
  cannot diverge on float formatting.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PAGES_CACHE: dict[str, str] = {}


def _sf_of(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.01


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized pages table for this scale factor (cached parquet).
    n_docs = sf * 100_000 (sf0.001 -> 100, sf0.01 -> 1_000, sf0.1 -> 10_000)."""
    from gocrd_spark import datagen

    n_docs = max(int(_sf_of(sf_dir) * 100_000), 10)
    key = f"v{datagen.DATAGEN_VERSION}_sf_{n_docs}"
    if key not in _PAGES_CACHE:
        path = os.path.join(datagen.cache_dir("gocrd_pages_cache"), key)
        marker = os.path.join(path, "_SUCCESS")
        if not os.path.exists(marker):
            datagen.write_pages(spark, n_docs, path)
        _PAGES_CACHE[key] = path
    return spark.read.parquet(_PAGES_CACHE[key])


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _reshape(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The driver testdata ships as ONE row group per table, so every
    scan yields a single input partition and compute-heavy operators
    (hash folds, bit votes, cosine folds) run one-threaded. Reshape to
    cluster width — the one cheap shuffle (sub-MB) that restores
    parallelism. At real scale the scan's own splits make this a no-op
    decision; results are partitioning-independent (per-row computations
    and exact/int-sum aggregations only)."""
    return df.repartition(spark.sparkContext.defaultParallelism * 2)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _reshape(spark, _table(spark, sf_dir, "documents"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _reshape(spark, _table(spark, sf_dir, "embeddings"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table(spark, sf_dir, "events")


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table, materialized as parquet so the DuckDB
    oracles can recompute expected outputs from the same payload bytes."""
    from gocrd_spark.operators.multimodal import ensure_media_parquet

    n = max(int(_sf_of(sf_dir) * 10_000), 10)
    return spark.read.parquet(ensure_media_parquet(n))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline at sf0.001 — salted repartition
    + Arrow batch kernel -> (url, text, n_spans, error)."""
    from gocrd_spark.pipeline import extract_pages

    pages = _pages(spark, "/root/testdata/sf0.001")
    # oversize routing + OOM guard are part of the production plan shape
    # (SURVEY.md §4.3): thresholds chosen so no sf0.001 row is affected —
    # output is row-identical to the unrouted plan, but the driver
    # exercises the two-tier union and the max-bytes guard end to end.
    out = extract_pages(
        pages,
        num_partitions=8,
        oversize_bytes=64 * 1024,
        max_doc_bytes=64 * 1024 * 1024,
    )
    return out.select(
        "url", "text", F.size(F.coalesce(F.col("spans"), F.array())).alias("n_spans"),
        "error",
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.pipeline import extract_pages

    return extract_pages(_pages(spark, sf_dir)).select("url", "text", "error")


def _q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.pipeline import extract_pages

    out = extract_pages(_pages(spark, sf_dir))
    return out.select("url", F.explode("spans").alias("s")).select(
        "url",
        F.col("s.region_id").alias("region_id"),
        F.col("s.index").alias("ro_index"),
        F.col("s.byte_start").alias("byte_start"),
        F.col("s.byte_end").alias("byte_end"),
        F.col("s.char_start").alias("char_start"),
        F.col("s.char_end").alias("char_end"),
    )


def _q_mets_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.pipeline import mets_files

    return mets_files(_pages(spark, sf_dir), mimetype="application/alto+xml")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import token_stats

    ts = token_stats(_docs(spark, sf_dir))
    return ts.select(
        "doc_id",
        "n_tokens",
        "n_chars_actual",
        F.round(F.col("avg_token_len") * 1_000_000).cast("long").alias("avg_token_len_e6"),
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import quality_score

    qs = quality_score(_docs(spark, sf_dir))
    return qs.select(
        "doc_id",
        F.round(F.col("punct_ratio") * 1_000_000).cast("long").alias("punct_ratio_e6"),
        F.round(F.col("digit_ratio") * 1_000_000).cast("long").alias("digit_ratio_e6"),
        F.round(F.col("stop_ratio") * 1_000_000).cast("long").alias("stop_ratio_e6"),
        F.round(F.col("quality") * 1_000_000).cast("long").alias("quality_e6"),
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir)).select(
        "doc_id", "lang_guess", F.col("marker_hits").cast("long").alias("marker_hits")
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _q_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import token_stats_bpe

    return token_stats_bpe(_docs(spark, sf_dir))


def _q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import winnowing_fingerprints

    fps = winnowing_fingerprints(_docs(spark, sf_dir))
    return fps.select(
        "doc_id",
        F.size("fingerprints").cast("long").alias("n_fingerprints"),
        F.element_at("fingerprints", 1).cast("long").alias("min_fingerprint"),
    )


def _q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.multimodal import resize_images

    out = resize_images(_media(spark, sf_dir), width=4, height=4, fake=True)
    return out.select(
        "id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "mean_r", "mean_g", "mean_b", "error",
    )


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.multimodal import sample_frames

    media = _media(spark, sf_dir)
    out = sample_frames(media.filter("kind = 'video'"), every_n=3, fake=True)
    return out.select(
        "id", F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_hash", "error",
    )


def _q_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import training_set_filter

    return training_set_filter(_docs(spark, sf_dir))


def _q_nfc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import nfc_fingerprint

    return nfc_fingerprint(_docs(spark, sf_dir))


def _q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import source_stats

    return source_stats(_docs(spark, sf_dir))


def _q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PDF text extraction (from-scratch parser, gocrd_spark.pdfparse)
    over a deterministic synthetic PDF corpus; the oracle is golden
    parquet derived from the GENERATOR's template spec."""
    from gocrd_spark.pdfextract import extract_pdfs
    from gocrd_spark.pdfgen import ensure_pdf_parquet

    n = max(int(_sf_of(sf_dir) * 10_000), 10)
    pdfs = spark.read.parquet(ensure_pdf_parquet(n))
    return extract_pdfs(_reshape(spark, pdfs))


def _q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import corpus_split

    return corpus_split(_docs(spark, sf_dir))


def _q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import length_quantiles

    return length_quantiles(_docs(spark, sf_dir))


def _q_extracted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composition: the XML/HTML extraction kernel feeding the
    JVM-side quality scorer — the oracle recomputes the same score over
    the INDEPENDENTLY-generated golden extraction text, so a green row
    checks the whole chain (kernel output -> analytics input)."""
    from gocrd_spark.operators.textstats import quality_score
    from gocrd_spark.pipeline import extract_pages

    extracted = extract_pages(_pages(spark, sf_dir)).filter(
        F.col("error").isNull() & F.col("text").isNotNull()
    )
    q = quality_score(extracted.select(F.col("url").alias("doc_id"), "text"))
    return q.select(
        F.col("doc_id").alias("url"),
        F.round(F.col("quality") * 1_000_000).cast("long").alias("quality_e6"),
    )


def _q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import vocab_top_terms

    return vocab_top_terms(_docs(spark, sf_dir), k=100)


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=100)


def _q_doclen_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import doclen_histogram

    return doclen_histogram(_docs(spark, sf_dir))


# MinHash banding for the driver's 0.12 threshold, derived (not guessed)
# from the recall model: choose_bands(64, 0.12) -> 64 one-row bands,
# per-pair miss probability (1-j)^64 (4e-4 at the threshold itself,
# ~2e-4 at the lowest real corpus pair, j=0.125). The r02 banding
# (32 hashes, 8x4) was tuned for j>=0.9 dups and silently missed the two
# borderline sf0.1 pairs at j=0.125/0.136 — caught by the sf0.1 sweep.
# One-row bands cost candidate volume (~500k candidate pairs on the
# 5k-doc sf0.1 corpus, all exact-verified): that is the fundamental LSH
# price of a threshold this low; production near-dup thresholds
# (0.7-0.9) keep r>=4 and candidates tight (see choose_bands).
_MH_NUM_HASHES = 64


def _mh_bands() -> int:
    from gocrd_spark.operators.dedup import choose_bands

    return choose_bands(_MH_NUM_HASHES, 0.12)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over MinHash-LSH candidates — the crawl-scale wiring
    (candidate verification is O(|candidates|), not per-shingle df²).
    The oracle is the FULL exact all-pairs answer, so the green row also
    certifies the candidate generation recalled every qualifying pair."""
    from gocrd_spark.operators.dedup import minhash_candidates, ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.12,
        candidates=minhash_candidates(
            docs, n=3, num_hashes=_MH_NUM_HASHES, bands=_mh_bands(),
            # 1-row bands: explicit opt-in — fine HERE because the exact
            # all-pairs oracle bounds the corpus and certifies recall
            allow_quadratic=True,
        ),
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(F.col("jaccard") * 1_000_000).cast("long").alias("jaccard_e6"),
    )


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every doc_id % 50 == 0 document plays
    the role of an eval/benchmark doc; the corpus is scrubbed against
    them with the 13-gram containment rule (benchmark side broadcast)."""
    from gocrd_spark.operators.dedup import contamination_flags

    docs = _docs(spark, sf_dir)
    benchmarks = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_flags(docs, benchmarks, n=13)


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.dedup import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), n=3)


def _q_minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.dedup import minhash_lsh

    pairs = minhash_lsh(
        _docs(spark, sf_dir), n=3, threshold=0.12,
        num_hashes=_MH_NUM_HASHES, bands=_mh_bands(),
        allow_quadratic=True,  # oracle corpus: recall-certified 1-row bands
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(F.col("jaccard") * 1_000_000).cast("long").alias("jaccard_e6"),
    )


def _q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.dedup import simhash_near_dups

    # h=3 picked for key width / bucket cardinality (simhash_bands gives
    # ~31-bit keys at h=3) and to keep the r01->r02 semantics change
    # explicit — the banding plan guarantees recall for ANY h (pigeonhole,
    # pinned by test_scale_plans for h=1..4), so larger radii cost key
    # width, never recall.
    out = simhash_near_dups(_docs(spark, sf_dir), n=2, max_hamming=3)
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> keep/drop decisions: MinHash-LSH near-dup pairs resolved
    to connected components, one canonical doc per cluster, every corpus
    doc labeled. The oracle recomputes the components with a DuckDB
    recursive CTE over the EXACT all-pairs Jaccard answer — independent
    both in pair generation (exact vs LSH) and in closure algorithm
    (recursive transitive closure vs iterative min-propagation)."""
    from gocrd_spark.operators.dedup import dedup_clusters, minhash_lsh

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh(
        docs, n=3, threshold=0.12, num_hashes=_MH_NUM_HASHES, bands=_mh_bands(),
        allow_quadratic=True,  # oracle corpus: recall-certified 1-row bands
    )
    return dedup_clusters(docs, pairs)


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (Lee et al. 2022 shape): every
    13-token window, duplicated-anywhere hashes, per-doc maximal
    coverage-merged spans (positions chain while gap <= n, so spans
    never overlap in token space). Spark: xxhash64 keys + lag/cumsum
    islands; oracle: window STRING keys + NOT-EXISTS island starts
    with start-counting — independent keys AND an independent islands
    algorithm."""
    from gocrd_spark.operators.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), n=13)


def _q_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_spans -> cut: remove every duplicated-substring
    occurrence (all copies — the released ExactSubstr tool's behavior)
    and reassemble. Oracle recomputes the full chain with string-keyed
    windows, row_number-difference islands, and a NOT EXISTS coverage
    anti-join vs Spark's per-token array `exists`."""
    from gocrd_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs = _docs(spark, sf_dir)
    return remove_duplicate_spans(docs, duplicate_spans(docs, n=13))


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style duplicated-passage removal: 8-token chunks, keep only
    the first corpus-order occurrence of each distinct chunk, reassemble
    per doc. The oracle recomputes it in DuckDB grouping by the chunk
    STRING (the spec) where Spark groups by xxhash64 (the scale
    optimization) — a green row certifies the hash grouping too."""
    from gocrd_spark.operators.dedup import paragraph_dedup

    return paragraph_dedup(_docs(spark, sf_dir), chunk_words=8)


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.textstats import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights tilting the corpus toward lang='en'
    (hashed unigram+bigram log-likelihood ratios, exact-integer
    fixed-point — operators/textstats.py::dsir_weights)."""
    from pyspark.sql import functions as F

    from gocrd_spark.operators.textstats import dsir_weights

    return dsir_weights(_docs(spark, sf_dir), target=F.col("lang") == "en")


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR top-k selection (k=100) toward lang='en' — ordering by one
    IEEE divide of exact ints (cross-engine-stable), doc_id tiebreak."""
    from pyspark.sql import functions as F

    from gocrd_spark.operators.textstats import dsir_select

    return dsir_select(_docs(spark, sf_dir), target=F.col("lang") == "en", k=100)


def _q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from per-host robots bodies (robots.py::
    robots_sitemaps): host k carries k%3 Sitemap lines in mixed
    case/spacing; the oracle derives the rows from the formula — the
    Spark side really regexp-parses the bytes."""
    from pyspark.sql import functions as F

    from gocrd_spark.operators.robots import robots_sitemaps

    rows = []
    for k in range(10):
        body = "User-agent: *\nDisallow: /blocked/\n"
        for j in range(k % 3):
            key = "Sitemap" if j % 2 == 0 else "sitemap"
            body += f"{key}: https://host{k}.example.com/sitemap-{j}.xml\n"
        rows.append((f"host{k}.example.com", body.encode()))
    robots = spark.createDataFrame(rows, "host string, robots binary")
    return robots_sitemaps(robots)


def _q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard integrity manifest over the materialized shards
    (textstats.py::shard_manifest): per-shard counts + byte length +
    md5 digest of the exact trainer input text. The oracle recomputes
    the digests over ITS OWN independently reconstructed shard text
    (single-node cumsum + ordered string_agg), so a one-byte drift in
    packing or concatenation flips the hash."""
    from gocrd_spark.operators.textstats import materialize_shards, shard_manifest

    return shard_manifest(materialize_shards(_docs(spark, sf_dir)))


def _q_hashed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document embeddings (textstats.py::embed_documents)
    — the text->vector bridge: md5-bucket feature hashing with a sign
    bit, exact BIGINT components, dense (doc_id, dim_idx, v) face. The
    oracle replays the hashing spec in SQL."""
    from gocrd_spark.operators.textstats import embed_documents

    return embed_documents(_docs(spark, sf_dir), dim=64)


def _q_text_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text -> vector -> SEMANTIC dedup chain: hashed
    document embeddings feed semdedup's k-means cells + within-cell
    exact cosine (threshold 0.9) — the SemDeDup pipeline with the
    sandbox's deterministic embedder. Golden = the independent twin
    (twin embeddings -> twin rounded-mean Lloyd -> brute cosines ->
    union-find), bit-exact."""
    from gocrd_spark.operators.similarity import semdedup
    from gocrd_spark.operators.textstats import embed_document_vectors

    # fused bridge: identical vectors to embedding_vectors(
    # embed_documents(...)) without the dense-grid explode+join (the
    # zero-filled face exists for the hashed_embeddings oracle, not for
    # vector consumers)
    vecs = embed_document_vectors(_docs(spark, sf_dir), dim=64)
    return semdedup(vecs, n_cells=16, n_iters=2, threshold=0.9)


def _q_robots_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-delay politeness table (robots.py::
    robots_crawl_delays): host k's formula body plants k%4 cases —
    no delay / a '*'-group delay of (k%5).5 s / a delay scoped to a
    DIFFERENT agent (NULL for '*') / a malformed value (NULL). The
    Spark side genuinely parses group scoping; the oracle replays the
    formula."""
    from gocrd_spark.operators.robots import robots_crawl_delays

    n = max(int(_sf_of(sf_dir) * 10_000), 10)
    rows = []
    for k in range(n):
        body = "User-agent: googlebot\nDisallow: /private/\n"
        m = k % 4
        if m == 1:
            body += f"\nUser-agent: *\nCrawl-delay: {k % 5}.5\nDisallow: /x\n"
        elif m == 2:
            body += "Crawl-delay: 9\n\nUser-agent: *\nDisallow: /y\n"
        elif m == 3:
            body += "\nUser-agent: *\nCrawl-delay: fast\nDisallow: /z\n"
        else:
            body += "\nUser-agent: *\nDisallow: /w\n"
        rows.append((f"host{k}.example.com", body.encode()))
    robots = spark.createDataFrame(rows, "host string, robots binary")
    return robots_crawl_delays(_reshape(spark, robots))


def _q_mojibake_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage audit (textstats.py::mojibake_score) over
    documents with planted damage: doc_id%5==1 gets two classic
    double-decode artifacts appended, %5==2 gets a replacement char —
    the oracle recomputes the marker counts independently."""
    from pyspark.sql import functions as F

    from gocrd_spark.operators.textstats import mojibake_score

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 1, F.lit(" cafÃ© isnâ€™t")).when(
                F.col("doc_id") % 5 == 2, F.lit(" bad�byte")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return mojibake_score(docs)


def _q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet (textstats.py::dataset_card): per (source,
    lang) counts + exact integer ppm shares."""
    from gocrd_spark.operators.textstats import dataset_card

    return dataset_card(_docs(spark, sf_dir))


def _q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (similarity.py::quantize_embeddings)
    — one exploded row per (vector, dim), every q bit-exact vs the
    DuckDB twin."""
    from gocrd_spark.operators.similarity import quantize_embeddings

    return quantize_embeddings(_emb(spark, sf_dir))


def _q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (similarity.py::pq_encode over
    pq_codebooks): m=8 subspaces x 16 codes, rounded-mean Lloyd —
    each vector compresses to 8 small ints. Golden = the independent
    pure-Python twin (tools/oracle_twins.py::pq_codes), bit-exact."""
    from gocrd_spark.operators.similarity import pq_codebooks, pq_encode

    emb = _emb(spark, sf_dir)
    return pq_encode(emb, pq_codebooks(emb, m=8, n_codes=16, n_iters=2), m=8)


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 over PQ codes for queries 0-4 (similarity.py::
    pq_topk): per-candidate distance = exact BIGINT sum of 6dp
    fixed-point LUT entries, so ranking hash-compares with the twin."""
    from gocrd_spark.operators.similarity import pq_topk

    return pq_topk(_emb(spark, sf_dir), [0, 1, 2, 3, 4], k=10)


def _q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (similarity.py::ivfpq_topk): coarse cells + residual
    product quantization + per-probe ADC — the billion-scale index
    layout. Golden = the independent twin (oracle_twins.topk_ivfpq),
    bit-exact integer distances."""
    from gocrd_spark.operators.similarity import ivfpq_topk

    return ivfpq_topk(_emb(spark, sf_dir), [0, 1, 2, 3, 4], k=10)


def _q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall certification for the compressed index: |exact L2 top-10
    ∩ IVF-PQ top-10| per query (similarity.py::ivfpq_recall). The
    golden pins the MEASURED recall — a quantizer regression becomes a
    hash mismatch, completing the MinHash/SimHash/containment cert
    family for the ANN tier."""
    from gocrd_spark.operators.similarity import ivfpq_recall

    return ivfpq_recall(_emb(spark, sf_dir), [0, 1, 2, 3, 4], k=10)


def _q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-data mining: one row per <table> cell via the
    tag-soup-tolerant _TableParser kernel (htmlextract.py). Input pages
    come from synth_table_html's deterministic formula — odd docs omit
    </td>/</tr> (implied closes), every third doc wraps cells in <b>,
    every fifth doc has no table — and the oracle replays the FORMULA
    in pure SQL, never parsing HTML, so the kernel's implied-close and
    normalization semantics are genuinely under test."""
    from gocrd_spark.htmlextract import synth_table_html
    from gocrd_spark.pipeline import html_tables

    n = max(int(_sf_of(sf_dir) * 10_000), 10)
    rows = [
        (f"https://tables.test/{d}", bytearray(synth_table_html(d)))
        for d in range(n)
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    return html_tables(_reshape(spark, pages))


def _q_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ablation table (compose.py::filter_ablation):
    per-rule drop counts for every Gopher flag, the C4 line gate, the
    word-list flag, and the union 'any' row. The oracle is COMPOSED
    from the three filters' own oracle SQL strings (derived tables), so
    it cannot drift from what those queries already certify."""
    from gocrd_spark.operators.compose import filter_ablation

    return filter_ablation(
        _docs(spark, sf_dir), ["vector", "slow", "nonexistentword"]
    )


def _q_extraction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction health table (pipeline.py::extraction_report) over
    the real extraction run: per error class (NULL = OK), page counts
    + integer ppm shares. Oracle recomputes the same grouping over the
    INDEPENDENT extraction golden (the kernel under test never runs on
    the oracle side)."""
    from gocrd_spark.pipeline import extract_pages, extraction_report

    return extraction_report(extract_pages(_pages(spark, sf_dir)))


def _q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication summary (dedup.py::dedup_report) over the same
    MinHash-LSH cluster labeling as dedup_clusters: one row per
    cluster SIZE (n_clusters, n_docs). The oracle wraps the exact-
    pairs + recursive-components oracle as a derived table and
    re-groups — independent pairs, closure, and histogram."""
    from gocrd_spark.operators.dedup import dedup_report

    return dedup_report(_q_dedup_clusters(spark, sf_dir))


def _q_crawl_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder crawl-budget apportionment over the
    PageRank host scores (urls.py::crawl_budgets composing
    linkgraph.host_pagerank): integer quotas summing to exactly 10^6.
    The oracle wraps the pagerank recurrence oracle as a derived table
    and replays the apportionment with the equivalent global
    (rem DESC, host ASC) ranking."""
    from gocrd_spark.operators.linkgraph import (
        extract_outlinks,
        host_edges,
        host_pagerank,
    )
    from gocrd_spark.operators.urls import crawl_budgets

    edges = host_edges(extract_outlinks(_linked_pages(spark, sf_dir)))
    scores = host_pagerank(edges, n_iters=5).select(
        "host", F.col("rank_e12").alias("score")
    )
    return crawl_budgets(scores, budget=1_000_000)


def _q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERP/RAG passage extraction for the BM25 top-10: densest
    8-token window per (query, hit) with the hit-anchored max-hits/
    min-start spec (search.py::search_snippets). Oracle replays the
    whole chain — BM25 ranking, filtered-token positions, window
    self-join, arg-max, slice — in pure SQL."""
    from gocrd_spark.operators.search import corpus_queries, search_snippets

    docs = _docs(spark, sf_dir)
    return search_snippets(docs, corpus_queries(docs), k=10, window=8)


def _q_jsonld_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema.org structured data end-to-end: the _JsonLdParser kernel
    lifts raw ld+json blocks out of formula-synthesized pages (mixed-
    case type attr + charset params on even docs, an invalid-JSON
    block class, multi-block pages, a decoy plain <script>), then
    JVM-side get_json_object extracts @type/name — invalid JSON maps
    to NULL fields, not failures. The oracle replays the generating
    formula in pure SQL (it knows which doc class is invalid by
    construction — no JSON parsing oracle-side)."""
    from gocrd_spark.htmlextract import synth_jsonld_html
    from gocrd_spark.pipeline import jsonld_blocks

    n = max(int(_sf_of(sf_dir) * 10_000), 10)
    rows = [
        (f"https://ld.test/{d}", bytearray(synth_jsonld_html(d))) for d in range(n)
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    blocks = jsonld_blocks(_reshape(spark, pages))
    return blocks.select(
        "url",
        "block_idx",
        F.get_json_object("json", "$['@type']").alias("jtype"),
        F.get_json_object("json", "$.name").alias("name"),
    )


def _q_frontier_waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling (urls.py::frontier_waves): synthesized
    frontier over 7 hosts with a malformed sliver; per_host=4 — no host
    appears more than 4 times per wave."""
    from pyspark.sql import functions as F

    from gocrd_spark.operators.urls import frontier_waves

    frontier = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 5, F.lit("not a url")).otherwise(
            F.concat(
                F.lit("https://site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".test/p/"),
                F.col("doc_id").cast("string"),
            )
        ).alias("url"),
    )
    return frontier_waves(frontier, per_host=4)


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for embedding/RAG prep (chunk 64,
    overlap 16 — small enough that the sf corpus produces multi-chunk
    docs); emits the chunk text itself, hash-compared."""
    from gocrd_spark.operators.textstats import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, overlap=16)


def _q_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certify the SimHash banding's pigeonhole recall GUARANTEE
    empirically (completes the certification triple beside
    ngram_jaccard_pairs/MinHash and containment_candidates_recall):
    exact ALL-PAIRS hamming over the operator's signatures (crossJoin —
    the clearly-named cert path, never the scale path) left-joined
    against the banded operator's pairs; found must be 1 on every
    row. The golden is the twin's brute-force all-pairs answer with
    found=1 asserted — a banding miss OR a signature drift breaks the
    hash."""
    from pyspark.sql import functions as F

    from gocrd_spark.operators.dedup import (
        _pairs_from_banded,
        band_hash64,
        simhash64,
    )

    docs = _docs(spark, sf_dir)
    sigs = simhash64(docs, n=2).localCheckpoint(eager=False)
    exact = (
        sigs.alias("a")
        .crossJoin(sigs.alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    # banded pairs DERIVED from the same pinned signature table
    # (band_hash64 + _pairs_from_banded IS simhash_near_dups' pipeline
    # after simhash64): byte-identical pairs, but the expensive
    # shingle+bit-vote signature stage runs ONCE for both the exact and
    # the banded side instead of once each.
    banded = _pairs_from_banded(band_hash64(sigs, 3), 3, 10_000).select(
        "doc_a", "doc_b", F.lit(1).alias("_hit")
    )
    return exact.join(banded, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "hamming",
        F.coalesce(F.col("_hit"), F.lit(0)).cast("long").alias("found"),
    )


def _q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixture (textstats.py::mixture_plan): 500
    tokens of src0, 200 of src1, src2 dropped, 300 for everything
    else — the corpus-recipe audit view."""
    from gocrd_spark.operators.textstats import mixture_plan

    return mixture_plan(
        _docs(spark, sf_dir),
        budgets={"src0": 500, "src1": 200, "src2": 0},
        default_budget=300,
    )


def _q_charset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniff + decode over synthesized crawl payloads
    (gocrd_spark/charset.py): four deterministic encodings of the
    documents table — plain UTF-8, UTF-8 with BOM, UTF-16LE with BOM,
    and an ISO-8859-1 page carrying a meta charset tag. The Spark side
    genuinely sniffs and decodes the BYTES; the oracle knows the
    expected verdict and round-tripped text directly."""
    from pyspark.sql import functions as F

    from gocrd_spark.charset import decode_pages

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    latin = F.concat(
        F.lit('<meta charset="iso-8859-1"><p>café résumé '),
        F.col("doc_id").cast("string"),
        F.lit("</p>"),
    )
    payload = (
        F.when(F.col("doc_id") % 4 == 0, F.encode(F.col("text"), "UTF-8"))
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(b"\xef\xbb\xbf"), F.encode(F.col("text"), "UTF-8")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit(b"\xff\xfe"), F.encode(F.col("text"), "UTF-16LE")),
        )
        .otherwise(F.encode(latin, "ISO-8859-1"))
    )
    decoded = decode_pages(docs.select("doc_id", payload.alias("html")))
    return decoded.select(
        "doc_id",
        "charset",
        "charset_source",
        "n_chars",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("text_md5"),
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style fixed-length sequence layout (seq_len=512): one row
    per (document, sequence) overlap with doc/seq offsets — the
    dataloader boundary table (textstats.py::pack_sequences)."""
    from gocrd_spark.operators.textstats import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=512)


def _q_cdx_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index round trip (gocrd_spark/cdx.py): build a deterministic
    synthetic cc-index from the documents table (two snapshots for
    doc_id%4==0, a 404 capture for doc_id%10==7), FORMAT it to real CDX
    lines, PARSE those lines back (split + from_json + SURT-keyed), and
    emit the latest-only 200-status byte-range fetch plan. The oracle
    derives the same plan directly from the base table — any parser or
    SURT drift breaks the hash."""
    from pyspark.sql import functions as F

    from gocrd_spark import cdx as C

    docs = _docs(spark, sf_dir).select("doc_id")
    base = 1767225600  # 2026-01-01 00:00:00 UTC

    def capture(ts_shift: int, offset_shift: int, second: bool):
        d = docs.filter(F.col("doc_id") % 4 == 0) if second else docs
        status = (
            F.lit(200)
            if second
            else F.when(F.col("doc_id") % 10 == 7, 404).otherwise(200)
        )
        return d.select(
            C.format_cdx_line(
                url=F.concat(
                    F.lit("https://WWW.Site"),
                    (F.col("doc_id") % 20).cast("string"),
                    F.lit(".test/P/"),
                    F.col("doc_id").cast("string"),
                ),
                ts=F.timestamp_seconds(
                    F.lit(base) + F.col("doc_id") + F.lit(ts_shift)
                ),
                status=status,
                digest=F.concat(F.lit("sha1:"), F.col("doc_id").cast("string")),
                length=F.lit(900),
                offset=F.col("doc_id") * 1000 + F.lit(offset_shift),
                filename=F.concat(
                    F.lit("warc/seg-"),
                    (F.col("doc_id") % 8).cast("string"),
                    F.lit(".warc.gz"),
                ),
            ).alias("value")
        )

    lines = capture(0, 0, False).unionByName(capture(86400, 500, True))
    plan = C.cdx_fetch_plan(C.parse_cdx(lines))
    return plan.select(
        "urlkey",
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
        "url",
        "filename",
        F.col("offset").cast("long").alias("offset"),
        F.col("length").cast("long").alias("length"),
    )


def _q_events_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming run under the oracle gate: the events
    table streamed through a file source -> watermark -> tumbling
    5-minute window -> complete-mode availableNow drain, hash-compared
    to the batch SQL answer. Uses the order-independent per-event
    fixed-point emission (streaming/windowed.py::windowed_counts_stream
    fixed_per_event=True) so micro-batch state-merge order cannot
    perturb the doubles."""
    import os
    import shutil
    import tempfile
    import uuid

    from gocrd_spark.streaming.windowed import (
        run_available_now,
        windowed_counts_stream,
    )

    tmp = tempfile.mkdtemp(prefix="gocrd_evstream_")
    in_dir = os.path.join(tmp, "in")
    os.makedirs(in_dir)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, os.path.join(in_dir, "events"))
    else:
        shutil.copy(src, os.path.join(in_dir, "events.parquet"))
    sdf = windowed_counts_stream(spark, in_dir, fixed_per_event=True)
    name = f"evwin_stream_{uuid.uuid4().hex[:8]}"
    run_available_now(sdf, os.path.join(tmp, "ckpt"), name)
    return spark.table(name)


def _q_bloom_unprocessed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental ingest (pipeline.py::
    bloom_filter_unprocessed): a prior snapshot 'done' set carved from
    the documents table; output must be EXACTLY the plain anti-join
    (the bloom only routes work — no false negatives, maybes
    exact-checked), which is what the SQL oracle asserts."""
    from pyspark.sql import functions as F

    from gocrd_spark.pipeline import bloom_filter_unprocessed

    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("https://crawl.test/"), F.col("doc_id")).alias("url"),
    )
    done = pages.filter(
        (F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 7 == 2)
    ).select("url")
    return bloom_filter_unprocessed(pages, done)


def _q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard layout. Spark computes the running total with
    a distributed two-phase prefix sum (bucket offsets + partitioned
    windows); the oracle uses a single-node window cumsum — independent
    algorithms for the same spec."""
    from gocrd_spark.operators.textstats import pack_shards

    return pack_shards(_docs(spark, sf_dir), budget_tokens=2048, bucket_size=64)


def _linked_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic linked-HTML pages (linkgraph.synth_linked_html);
    n matches the media-table convention (sf * 10_000)."""
    from gocrd_spark.operators.linkgraph import synth_linked_html

    n = max(int(_sf_of(sf_dir) * 10_000), 10)
    rows = [(r["url"], bytearray(r["html"])) for r in synth_linked_html(n)]
    return _reshape(
        spark, spark.createDataFrame(rows, "url string, html binary")
    )


def _q_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page outlink extraction: the DOM walker (stdlib html.parser,
    script-CDATA-blind, urljoin-resolved relative hrefs) against an
    oracle that regenerates the expected link set from the generating
    formula — pure arithmetic, no HTML in the oracle at all."""
    from gocrd_spark.operators.linkgraph import extract_outlinks

    return extract_outlinks(_linked_pages(spark, sf_dir)).select(
        "src_url", "dst_url", "href"
    )


def _q_inlink_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text consolidation over the DOM-walked link
    rows (linkgraph.py::inlink_summary); the oracle derives inlink
    counts, distinct source hosts, and the anchor text ('doc ' || dst
    in the generator) from the linking formula — the Spark side really
    walks the HTML for both the links AND the anchor text."""
    from gocrd_spark.operators.linkgraph import extract_outlinks, inlink_summary

    return inlink_summary(extract_outlinks(_linked_pages(spark, sf_dir)))


def _q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank in exact BIGINT arithmetic (5 iterations,
    damping 0.85 as integer ops on rank*1e12): partitioning- and
    engine-independent by construction, so the DuckDB oracle replays
    the identical recurrence over the formula-derived edge list and
    hash-matches."""
    from gocrd_spark.operators.linkgraph import (
        extract_outlinks,
        host_edges,
        host_pagerank,
    )

    edges = host_edges(extract_outlinks(_linked_pages(spark, sf_dir)))
    return host_pagerank(edges, n_iters=5).select("host", "rank_e12")


def _q_host_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the same formula-derived host graph: teleport
    mass restricted to the 4 seed hosts (host{0,5,10,15}), exact BIGINT
    recurrence — hosts linked only from outside the trust neighborhood
    decay toward 0. Oracle unrolls the identical integer recurrence
    with the seed-conditional base term."""
    from gocrd_spark.operators.linkgraph import (
        extract_outlinks,
        host_edges,
        host_trustrank,
    )

    edges = host_edges(extract_outlinks(_linked_pages(spark, sf_dir)))
    seeds = spark.createDataFrame(
        [(f"host{k}.example.com",) for k in (0, 5, 10, 15)], "host string"
    )
    return host_trustrank(edges, seeds, n_iters=5)


def _q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot vocabulary drift with a deterministic
    planted spam burst: the new snapshot appends spam terms to every
    doc_id%5==0 page — those terms must surface as the top movers."""
    from gocrd_spark.operators.textstats import vocab_drift

    old = _docs(spark, sf_dir)
    d = F.col("doc_id")
    new = old.select(
        "doc_id",
        F.when(
            d % 5 == 0, F.concat(F.col("text"), F.lit(" casino casino pills"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return vocab_drift(old, new)


_SCRIPT_SNIPPETS = {
    0: "漢字文本測試",        # cjk
    1: "текст на русском",   # cyrillic (+ ASCII spaces)
    2: "نص عربي",            # arabic
    3: "κείμενο ελληνικό",   # greek
}


def _q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script distribution over a deterministically
    multilingual corpus: doc_id%5 in 0..3 replaces the text with a
    repeated non-Latin snippet (repeat count doc_id%7+1), %5==4 keeps
    the original Latin text — so main_script varies across all five
    classes."""
    from gocrd_spark.operators.textstats import script_profile

    d = F.col("doc_id")
    text = F.col("text")
    for k, snip in _SCRIPT_SNIPPETS.items():
        text = F.when(d % 5 == k, F.repeat(F.lit(snip), (d % 7 + 1).cast("int"))).otherwise(text)
    return script_profile(_docs(spark, sf_dir).select("doc_id", text.alias("text")))


def _q_frontier_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop frontier expansion from the trustrank seed hosts
    over the same formula-derived host graph (3 hops)."""
    from gocrd_spark.operators.linkgraph import (
        extract_outlinks,
        frontier_expand,
        host_edges,
    )

    edges = host_edges(extract_outlinks(_linked_pages(spark, sf_dir)))
    seeds = spark.createDataFrame(
        [(f"host{k}.example.com",) for k in (0, 5, 10, 15)], "host string"
    )
    return frontier_expand(edges, seeds, max_hops=3)


_BPE_MERGES_CACHE: dict[str, list] = {}
# single source of truth for BOTH bpe queries — drift between the
# fresh-train path and the memo path would make bpe_encode's output
# depend on query execution order
_BPE_PARAMS = {"n_merges": 24, "min_pair_count": 2}


def _bpe_merges_for(
    spark: SparkSession, sf_dir: str, force_retrain: bool = False
) -> list:
    """Train-once cache per sf_dir: bpe_merges and bpe_encode share the
    same deterministic training run (training is the expensive half;
    the result is a tiny pure-Python list, safe to memoize).
    ``force_retrain`` re-runs training and refreshes the memo — the
    bpe_merges query uses it so the benched operation is training, not
    retrieval."""
    from gocrd_spark.operators.bpe import bpe_train

    m = None if force_retrain else _BPE_MERGES_CACHE.get(sf_dir)
    if m is None:
        m = bpe_train(_docs(spark, sf_dir), **_BPE_PARAMS)
        _BPE_MERGES_CACHE[sf_dir] = m
    return m


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING: 24 merges learned from the
    corpus word table (explode-pairs -> global top -> sequential-fold
    apply per iteration). Golden: an independent single-node dict-
    counter trainer (tools/oracle_twins.bpe_train) — same spec, fully
    separate implementation. Always trains fresh (training IS the
    measured operation — a memoized repeat would bench as retrieval);
    the result refreshes the cache bpe_encode reads."""
    from gocrd_spark.operators.bpe import merges_df

    return merges_df(spark, _bpe_merges_for(spark, sf_dir, force_retrain=True))


def _q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned vocab table (alphabet + merged tokens with
    deterministic ids). Golden: the twin derivation."""
    from gocrd_spark.operators.bpe import bpe_vocab

    return bpe_vocab(_docs(spark, sf_dir), _bpe_merges_for(spark, sf_dir))


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-BPE encoding of every document (GPT-2 lowest-rank-first
    apply in an Arrow kernel with a per-batch word cache). Golden: the
    twin encoder over the twin trainer's merges."""
    from gocrd_spark.operators.bpe import bpe_encode

    return bpe_encode(
        _docs(spark, sf_dir), _bpe_merges_for(spark, sf_dir)
    )


def _q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots.txt evaluation over formula-derived URLs + per-
    host robots files (wildcards, $ anchors, longest-match, allow-tie
    all exercised). Oracle: the decision table replayed as pure CASE
    arithmetic — no parsing, independent of the parser/matcher."""
    from gocrd_spark.operators.robots import robots_filter

    d = F.col("doc_id")
    k = (d % 10).cast("string")
    i = d.cast("string")
    urls = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://host"), k, F.lit(".example.com"),
            F.when(d % 4 == 0, F.concat(F.lit("/page/"), i))
            .when(d % 4 == 1, F.concat(F.lit("/blocked/x"), i))
            .when(d % 4 == 2, F.concat(F.lit("/blocked/except/y"), i))
            .otherwise(F.concat(F.lit("/doc"), i, F.lit(".pdf"))),
        ).alias("url"),
    )
    # review r04: .pdf URLs (doc_id%4==3, always ODD ids) land only on
    # odd hosts — the wildcard/$ rule must live on ODD hosts or its
    # oracle branch is dead. /page/ vs /page* is an exact 6-octet
    # LENGTH TIE on every %4==0 URL, exercising the Allow-wins rule.
    rows = []
    for kk in range(10):
        text = (
            "User-agent: *\nDisallow: /blocked/\nAllow: /blocked/except/\n"
            "Disallow: /page/\nAllow: /page*\n"
        )
        if kk % 2 == 1:
            text += "Disallow: /*.pdf$\n"
        rows.append((f"host{kk}.example.com", bytearray(text.encode())))
    robots = spark.createDataFrame(rows, "host string, robots binary")
    return robots_filter(urls, robots).select(
        F.col("id").alias("doc_id"), "url", "allowed", "matched_rule"
    )


def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-set containment (|A∩B|/|A|) — the near-subset
    duplication Jaccard misses. Exact co-occurrence mode (the
    certification path; the crawl-scale candidate mode's LSH-recall
    caveat is documented on the operator)."""
    from gocrd_spark.operators.dedup import containment_pairs

    out = containment_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)
    return out.select(
        "doc_id",
        "other_id",
        F.round(F.col("containment") * 1_000_000).cast("long").alias(
            "containment_e6"
        ),
    )


def _q_containment_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certify the crawl-scale containment path (VERDICT r04 #3): run
    containment_pairs in CANDIDATE mode over the rare-shingle candidate
    generator and compare per-pair against the exact co-occurrence
    answer — the same recall-certification pattern ngram_jaccard_pairs
    applies to MinHash. One row per EXACT pair at the driver threshold;
    ``found`` = 1 iff candidate mode produced that pair with the
    identical containment value. The DuckDB oracle recomputes BOTH
    sides independently (exact containment + the deterministic
    (df, shingle)-ordered rare-k selection), so a hash-match pins the
    candidate scheme's measured recall on this corpus."""
    from gocrd_spark.operators.dedup import (
        containment_candidates,
        containment_pairs,
    )

    docs = _docs(spark, sf_dir)
    exact = containment_pairs(docs, n=3, threshold=0.5)
    approx = containment_pairs(
        docs, n=3, threshold=0.5,
        candidates=containment_candidates(docs, n=3, k=5),
    ).withColumnRenamed("containment", "c_approx")
    return (
        exact.join(approx, ["doc_id", "other_id"], "left")
        .select(
            "doc_id",
            "other_id",
            F.round(F.col("containment") * 1_000_000).cast("long").alias(
                "containment_e6"
            ),
            F.when(
                F.col("c_approx").isNotNull()
                & (F.col("c_approx") == F.col("containment")),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("long").alias("found"),
        )
    )


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot diff over two formula-derived snapshots of the
    documents table (every 10th doc gone, every 10th new, every 3rd
    changed). Oracle classifies from the generating formula via text
    equality — independent of the digest comparison under test."""
    from gocrd_spark.operators.urls import snapshot_diff

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    old = docs.filter(d % 10 != 9).select(
        d.cast("string").alias("url"), F.col("text").alias("html")
    )
    new = docs.filter(d % 10 != 0).select(
        d.cast("string").alias("url"),
        F.when(d % 3 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("html"),
    )
    return snapshot_diff(old, new).select(
        "url", "status", "old_digest", "new_digest"
    )


def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published Gopher quality rules, exact-integer thresholds (3n <=
    chars <= 10n etc. — no float in any keep decision)."""
    from gocrd_spark.operators.textstats import gopher_rules

    return gopher_rules(_docs(spark, sf_dir))


def _q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning: terminal-punctuation + >=5-word lines
    kept, lorem-ipsum/brace documents flagged, rewritten text
    compared verbatim."""
    from gocrd_spark.operators.textstats import c4_line_filter

    return c4_line_filter(_docs(spark, sf_dir))


def _q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist cut over formula-derived URLs (deep subdomains
    exercise the parent-domain suffix match; every 5th URL is malformed
    and must never be blocked). Oracle: the same formula in pure SQL
    arithmetic — no URL parsing, independent of try_parse_url and the
    suffix-explode join."""
    from gocrd_spark.operators.urls import url_blocklist_filter

    d = F.col("doc_id")
    mod10 = (d % 10).cast("string")
    urls = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(d % 5 == 4, F.concat(F.lit("not a url "), d.cast("string")))
        .when(
            d % 5 == 0,
            F.concat(
                F.lit("https://sub.host"), mod10, F.lit(".example.com/p/"),
                d.cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://host"), mod10, F.lit(".example.com/p/"),
                d.cast("string"),
            )
        )
        .alias("url"),
    )
    # host5 rows only ever appear as sub.host5.example.com (doc_id%10==5
    # implies doc_id%5==0 -> the deep-subdomain branch), so blocking
    # host5.example.com is matched EXCLUSIVELY via the parent-domain
    # suffix path — a suffix-match regression now breaks this oracle row
    return url_blocklist_filter(
        urls,
        ["host3.example.com", "host5.example.com", "host7.example.com",
         "unused.org"],
    )


def _q_pack_shards_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated shard layout: global order = md5(seed:doc_id) —
    the packing order training actually wants. Spark buckets by the
    hash's 3-hex prefix for the distributed prefix sum; the oracle is
    one single-node window cumsum ORDER BY the full hash — independent
    algorithms, identical order."""
    from gocrd_spark.operators.textstats import pack_shards

    return pack_shards(
        _docs(spark, sf_dir), budget_tokens=2048, order="shuffled", seed="shuf1"
    )


def _q_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-size quality signal; exact integer outputs
    (twin-golden: same zlib, independent plumbing)."""
    from gocrd_spark.operators.textstats import compression_stats

    return compression_stats(_docs(spark, sf_dir))


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents carrying formula-planted PII (every
    4th doc gets an email / IP / US-phone appended, so all three
    pattern families and the untouched path are exercised). Oracle runs
    the identical shared-subset regexes in DuckDB's RE2."""
    from gocrd_spark.operators.textstats import pii_scrub

    d = F.col("doc_id")
    i = d.cast("string")
    planted = (
        F.when(d % 4 == 1, F.concat(F.lit(" contact user"), i, F.lit("@example-mail.com now")))
        .when(d % 4 == 2, F.concat(F.lit(" from 10.0."), (d % 200).cast("string"), F.lit(".7 today")))
        .when(d % 4 == 3, F.concat(F.lit(" call 555-01"), F.lpad(d % 10, 1, "0"), F.lit("-"), F.lpad(d % 10000, 4, "0"), F.lit(" now")))
        .otherwise(F.lit(""))
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), planted).alias("text")
    )
    return pii_scrub(docs)


def _q_wordlist_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style bad-word page flagging (token-level, broadcast list)."""
    from gocrd_spark.operators.textstats import wordlist_flags

    return wordlist_flags(
        _docs(spark, sf_dir), ["vector", "slow", "nonexistentword"]
    )


def _q_materialize_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed shards materialized to trainer input text: per-shard
    doc_id-ordered concatenation. Oracle: DuckDB single-node cumsum +
    string_agg ORDER BY — independent of the distributed prefix sum and
    the array_sort/collect_list assembly."""
    from gocrd_spark.operators.textstats import materialize_shards

    return materialize_shards(_docs(spark, sf_dir), budget_tokens=2048, bucket_size=64)


def _q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training_corpus chain (VERDICT r03 #6): exact dedup ->
    MinHash-LSH near-dup clusters -> paragraph rewrite -> quality gate
    (6dp fixed-point) -> domain reweighting -> shard packing. The DuckDB
    oracle composes the already-independent stage oracles in one WITH
    chain — exact all-pairs Jaccard + recursive-CTE components vs LSH +
    iterative min-propagation, single-node window cumsum vs distributed
    prefix sum."""
    from gocrd_spark.operators.compose import training_corpus

    out = training_corpus(
        _docs(spark, sf_dir),
        jaccard_threshold=0.5,
        chunk_words=8,
        rates={"src0": 0.25, "src1": 0.5, "src2": 0.0, "src3": 1.0},
        default_rate=0.75,
        seed="mix1",
        budget_tokens=2048,
        min_quality=0.3,
    )
    return out.select(
        "doc_id",
        "source",
        "text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("shard_id").cast("long").alias("shard_id"),
    )


def _q_pack_shards_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-budgeted shard layout (VERDICT r03 #2): the budget unit is
    the GPT-2-shaped pre-tokenizer count, not whitespace tokens — real
    training shards are cut in tokenizer units. Same distributed
    two-phase prefix sum; same single-node-window DuckDB twin."""
    from gocrd_spark.operators.textstats import pack_shards

    return pack_shards(
        _docs(spark, sf_dir), budget_tokens=2048, bucket_size=64, token_mode="bpe"
    )


def _q_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain reweighting: per-source deterministic sampling rates
    (src0 25%, src1 50%, src2 dropped, src3 kept whole, others 75%).
    Both engines decide keep by one lexicographic compare of an 8-char
    md5 band against the rate threshold — no hex parsing anywhere."""
    from gocrd_spark.operators.textstats import source_weighted_sample

    rates = {"src0": 0.25, "src1": 0.5, "src2": 0.0, "src3": 1.0}
    return source_weighted_sample(
        _docs(spark, sf_dir), rates, default_rate=0.75, seed="mix1"
    )


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup over a deterministic messy-URL corpus derived
    from doc_id (the documents table carries no URL column): groups of
    4 docs share a page identity; variants exercise scheme/host case,
    explicit default ports, fragments, and query-param order. Spark
    canonicalizes with JVM try_parse_url; the oracle re-derives the
    canonical form with an INDEPENDENT regexp decomposition in DuckDB."""
    from gocrd_spark.operators.urls import url_dedup

    g = F.floor(F.col("doc_id") / 4)
    host = F.concat(
        F.lit("www.example-"), (g % 7).cast("string"), F.lit(".com")
    )
    gs = g.cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("HTTP://"), F.upper(host), F.lit(":80/d/"),
                                gs, F.lit("/page?b=2&a=1#frag")))
        .when(v == 1, F.concat(F.lit("https://"), host, F.lit(":443/d/"),
                               gs, F.lit("/page?a=1&b=2")))
        .when(v == 2, F.concat(F.lit("http://"), host, F.lit("/d/"),
                               gs, F.lit("/page?a=1&b=2")))
        .otherwise(F.concat(F.lit("http://"), host, F.lit("/d/"), gs, F.lit("/other")))
    )
    rows = _docs(spark, sf_dir).select(
        "doc_id", url.alias("url"), F.col("doc_id").alias("warc_ts")
    )
    return url_dedup(rows, ts_col="warc_ts")


def _q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.similarity import topk_bruteforce

    return topk_bruteforce(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=10)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.similarity import topk_lsh

    return topk_lsh(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=10)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_cells=64: realistic cell count, possible because the quantizer is
    # a broadcast DataFrame (plan size independent of n_cells)
    from gocrd_spark.operators.similarity import topk_ivf

    return topk_ivf(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=10,
                    n_cells=64, n_probe=16)


def _q_emb_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(N²) crossJoin — the VERIFICATION BASELINE, kept driver-visible
    under the *_exact_baseline name; the flagship near-dup entry is the
    LSH path (embedding_near_dups)."""
    from gocrd_spark.operators.similarity import embedding_near_dups_exact

    return embedding_near_dups_exact(_emb(spark, sf_dir), threshold=0.42)


def _q_emb_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.similarity import embedding_near_dups_lsh

    return embedding_near_dups_lsh(_emb(spark, sf_dir), threshold=0.42)


def _q_emb_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs resolved to keep/drop decisions: the same
    connected-components resolution dedup_clusters applies to MinHash
    pairs, composed over the flagship embedding-LSH pair table. The
    oracle runs a DuckDB recursive transitive closure over the
    INDEPENDENT twin-golden pair parquet (tools/oracle_twins.py) —
    independent pair generation AND independent closure algorithm."""
    from gocrd_spark.operators.dedup import dedup_clusters
    from gocrd_spark.operators.similarity import embedding_near_dups_lsh

    emb = _emb(spark, sf_dir)
    pairs = embedding_near_dups_lsh(emb, threshold=0.42).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    ids = emb.select(F.col("vec_id").alias("doc_id"))
    return dedup_clusters(ids, pairs).select(
        F.col("doc_id").alias("vec_id"), "canonical_id", "keep"
    )


def _q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded to one BIGINT row per (label, dimension) — the oracle
    canonicalizer can't sort/hash array columns (CLAUDE.md parity rule:
    oracle-checked outputs carry only BIGINT/VARCHAR)."""
    from gocrd_spark.operators.similarity import label_centroids

    c = label_centroids(_emb(spark, sf_dir))
    return c.select(
        "label", F.posexplode("centroid").alias("pos", "v"), "n"
    ).select(
        "label",
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("v") * 1_000_000).cast("long").alias("centroid_e6"),
        "n",
    )


def _q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window counts per event_type (streaming-shaped
    aggregation expressed as batch — the same plan a Structured Streaming
    job would produce for this window)."""
    ev = _events(spark, sf_dir)
    # floor (not cast-truncation) so negative-epoch timestamps window the
    # same as the oracle's floor()
    win = F.floor(F.unix_timestamp("ts") / 300) * 300
    return (
        ev.groupBy(win.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 1_000_000).cast("long").alias("sum_value_e6"),
        )
    )


def _q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30-min gap per user;
    window functions (lag + cumulative sum)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sessions = ev.withColumn("is_new", new_session).withColumn(
        "session_idx", F.sum("is_new").over(w)
    )
    return sessions.groupBy("user_id").agg(
        F.max("session_idx").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _q_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    totals = ev.groupBy("user_id").agg(
        F.round(F.sum("value") * 1_000_000).cast("long").alias("total_value_e6"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return totals.orderBy(
        F.col("total_value_e6").desc(), F.col("user_id").asc()
    ).limit(10)


def _q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions: parse events.props (a JSON object) and
    aggregate the extracted field per event_type."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def _q_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions: per-day event stats (day as epoch seconds)."""
    ev = _events(spark, sf_dir)
    day = F.unix_timestamp(F.date_trunc("day", F.col("ts")))
    return ev.groupBy(day.alias("day_epoch")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.avg("value") * 1_000_000).cast("long").alias("avg_value_e6"),
    )


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate over lineitem (partial-agg/codegen showcase)."""
    li = _table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity") * 1_000_000).cast("long").alias("sum_qty_e6"),
            F.round(F.sum("l_extendedprice") * 100).cast("long").alias("sum_base_price_c"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.relational import revenue_by_nation

    return revenue_by_nation(
        _table(spark, sf_dir, "lineitem"), _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "customer"), _table(spark, sf_dir, "nation"),
    )


def _q_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.relational import segment_order_stats

    return segment_order_stats(
        _table(spark, sf_dir, "orders"), _table(spark, sf_dir, "customer")
    )


def _q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.relational import priority_lineitem_counts

    return priority_lineitem_counts(
        _table(spark, sf_dir, "lineitem"), _table(spark, sf_dir, "orders")
    )


def _q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level media dedup over a deterministic dup-planted payload
    corpus (the driver media table has no duplicate payloads, so the
    query constructs groups of ~2.5 docs sharing bytes). Spark groups
    by md5 of the BINARY payload; the oracle groups by the payload
    value itself — independent keys, same decision."""
    from gocrd_spark.operators.multimodal import media_dedup

    payload = F.encode(
        F.concat(F.lit("payload-"), (F.col("doc_id") % 200).cast("string")),
        "utf-8",
    )
    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"), payload.alias("payload")
    )
    return media_dedup(media)


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gocrd_spark.operators.multimodal import extract_features

    feats = extract_features(_media(spark, sf_dir), fake=True)
    # cast the float32 element to double BEFORE the *1e6 scale so the
    # arithmetic is double on both engines (float32*int stays float32 in
    # Spark, which would diverge from the oracle's double product)
    return feats.select(
        "id",
        "kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round(F.element_at("feature", 1).cast("double") * 1_000_000)
        .cast("long").alias("f0_e6"),
        "error",
    )


def _ppm_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPM media table (planted perceptual near-dups),
    materialized once per scale — same sizing rule as _media."""
    from gocrd_spark.operators.multimodal import ensure_ppm_parquet

    n = max(int(_sf_of(sf_dir) * 10_000), 10)
    return spark.read.parquet(ensure_ppm_parquet(n))


def _q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash-64 perceptual hash per image — REAL decode (binary PPM,
    no codec libraries needed), exact integer pipeline; golden is the
    zero-numpy loop twin (oracle_twins.ppm_phash64). Truncated payloads
    carry a NULL phash (the error rows)."""
    from gocrd_spark.operators.multimodal import phash_images

    return phash_images(_ppm_media(spark, sf_dir)).select("id", "phash")


def _q_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs: banded hamming join over dHash-64
    (same block-combination banding + bit_count verify as the SimHash
    text tier — one recall proof, two modalities). Golden is the twin's
    brute-force all-pairs answer: recall AND precision certified."""
    from gocrd_spark.operators.multimodal import phash_near_dups

    return phash_near_dups(_ppm_media(spark, sf_dir), max_hamming=6)


def _q_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: linear classifier inference with
    md5-hashing-trick features (unigrams + bigrams). The synthetic
    'trained model' is a weight table derived from the corpus's own
    distinct feature ids by a fixed formula (weight_e6 = fid % 2001 -
    1000) — in production the same classifier_score call takes a real
    pretrained table; the formula just makes the model reproducible in
    ANSI SQL so the oracle recomputes inference end-to-end."""
    from gocrd_spark.operators.textstats import classifier_score, hashed_features

    docs = _docs(spark, sf_dir)
    weights = (
        hashed_features(docs)
        .select("feature_id")
        .distinct()
        .select(
            "feature_id",
            ((F.col("feature_id") % 2001) - 1000).cast("long").alias("weight_e6"),
        )
    )
    return classifier_score(docs, weights)


def _q_perceptron_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed classifier TRAINING (the stage classifier_quality's
    pretrained table comes from): 3 full-batch perceptron rounds over
    md5-hashed unigram+bigram features, labels y=+1 for lang='en' docs
    else -1, everything in exact BIGINT arithmetic (order-independent
    sums + per-round clamp) so the learned margins hash-compare with
    the DuckDB oracle's unrolled chained-CTE replay of the same
    recurrence — the host_pagerank regime applied to model training.
    Returns (doc_id, y, margin, pred_pos)."""
    from gocrd_spark.operators.textstats import perceptron_quality

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).alias("y"),
    )
    return perceptron_quality(docs, n_rounds=3)


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention: the same MinHash-LSH clusters as
    dedup_clusters, but the survivor is the HIGHEST-quality member
    (ties -> min doc_id) instead of the min doc_id. The oracle is
    independent end-to-end: exact all-pairs Jaccard -> recursive-CTE
    components -> SQL-recomputed quality -> max/min arg-max, vs the
    engine's LSH pairs -> min-propagation loop -> Spark quality ->
    struct-max aggregation."""
    from gocrd_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh,
        quality_survivors,
    )
    from gocrd_spark.operators.textstats import quality_score

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh(
        docs, n=3, threshold=0.12, num_hashes=_MH_NUM_HASHES, bands=_mh_bands(),
        allow_quadratic=True,  # oracle corpus: recall-certified 1-row bands
    )
    clusters = dedup_clusters(docs, pairs)
    quality = quality_score(docs).select(
        "doc_id",
        F.round(F.col("quality") * 1_000_000).cast("long").alias("quality_e6"),
    )
    return quality_survivors(clusters, quality)


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means cells + exact within-cell cosine dedup. The
    golden is an independent twin (rounded-mean Lloyd + brute-force
    within-cell cosines + union-find vs the engine's broadcast-join
    assignment + self-join pairs + min-label propagation)."""
    from gocrd_spark.operators.similarity import semdedup

    return semdedup(_emb(spark, sf_dir), n_cells=16, n_iters=2, threshold=0.42)


def _q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-banded) benchmark decontamination: same benchmark
    subset as contamination_flags (doc_id % 50 == 0), same certified
    banding as the corpus near-dup queries (recall at j >= 0.12 is
    pinned by ngram_jaccard_pairs), so the oracle is simply the EXACT
    corpus-vs-benchmark Jaccard answer."""
    from gocrd_spark.operators.dedup import fuzzy_contamination

    docs = _docs(spark, sf_dir)
    benchmarks = docs.filter(F.col("doc_id") % 50 == 0)
    return fuzzy_contamination(
        docs, benchmarks, n=3, num_hashes=_MH_NUM_HASHES, bands=_mh_bands(),
        threshold=0.12,
        allow_quadratic=True,  # oracle corpus: recall-certified 1-row bands
    )


def _q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 LM scoring under the corpus's own add-1-smoothed bigram
    model — the conditioning tier of the CCNet perplexity filter. The
    oracle re-derives the full LM (bigram counts, context counts,
    vocab) and the once-rounded fixed-point ln in SQL."""
    from gocrd_spark.operators.textstats import bigram_logprob

    return bigram_logprob(_docs(spark, sf_dir), k=1)


def _q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary Jaccard matrix, all unordered pairs."""
    from gocrd_spark.operators.textstats import source_overlap

    return source_overlap(_docs(spark, sf_dir))


def _q_crawl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl planning over a messy formula-derived frontier
    (the url_dedup variant corpus plus a malformed sliver): canonical
    dedup -> blocklist cut -> politeness waves, every input row
    labeled with its disposition. Oracle replays the whole chain in
    SQL: regexp canonicalization + window dedup, suffix-arithmetic
    blocklist, host-window wave assignment."""
    from gocrd_spark.operators.compose import crawl_plan

    d = F.col("doc_id")
    g = F.floor(d / 4)
    v = d % 4
    host = F.concat(F.lit("www.example-"), (g % 7).cast("string"), F.lit(".com"))
    gs = g.cast("string")
    url = (
        F.when(d % 13 == 5, F.concat(F.lit("not a url "), d.cast("string")))
        .when(v == 0, F.concat(F.lit("HTTP://"), F.upper(host), F.lit(":80/d/"), gs, F.lit("/page?b=2&a=1#frag")))
        .when(v == 1, F.concat(F.lit("https://"), host, F.lit(":443/d/"), gs, F.lit("/page?a=1&b=2")))
        .when(v == 2, F.concat(F.lit("http://"), host, F.lit("/d/"), gs, F.lit("/page?a=1&b=2")))
        .otherwise(F.concat(F.lit("http://"), host, F.lit("/d/"), gs, F.lit("/other")))
    )
    urls = _docs(spark, sf_dir).select(
        "doc_id", url.alias("url"), d.alias("warc_ts")
    )
    return crawl_plan(
        urls, ["example-2.com", "example-5.com"], per_host=4
    )


def _q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate recrawl tiers over a formula-derived multi-snapshot
    observation history (1 + doc_id%4 snapshots per url; digest flips
    whenever (snap * doc_id%5) div 3 changes). Oracle replays lag() +
    the integer rate/tier rule on the same formula."""
    from gocrd_spark.operators.urls import recrawl_schedule

    d = F.col("doc_id")
    obs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .select(d, F.explode(F.sequence(F.lit(1), (d % 4 + 1).cast("int"))).alias("snap_id"))
        .select(
            F.concat(F.lit("https://ex.test/"), d.cast("string")).alias("url"),
            "snap_id",
            F.concat(
                F.lit("d"), F.expr("(snap_id * (doc_id % 5)) div 3").cast("string")
            ).alias("digest"),
        )
    )
    return recrawl_schedule(obs)


def _q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail tiers per language: sample-derived cost
    cutoffs (deterministic multiplicative hash), broadcast compare —
    the full corpus never sorts. Oracle replays the unigram LM, the
    fixed-point cost, the sample, and the cutoff rule in SQL."""
    from gocrd_spark.operators.textstats import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir))


def _q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction tier over the pages table: title /
    description / rel=canonical / robots meta / og:title / html@lang via
    the page_meta Arrow batch kernel. Oracle: spec-derived golden
    parquet (datagen template metadata, tools/gen_goldens.py emit_meta —
    the kernel never runs on the golden side)."""
    from gocrd_spark.pipeline import page_metadata

    return page_metadata(_pages(spark, sf_dir))


def _q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical dedup chained on the metadata tier: every page
    labeled (url, target, keep) where target is its declared canonical
    page (or itself) and the winner is the self-canonical capture, else
    latest. Oracle replays the window rule over the spec-derived
    metadata golden."""
    from gocrd_spark.operators.urls import canonical_dedup
    from gocrd_spark.pipeline import page_metadata

    return canonical_dedup(page_metadata(_pages(spark, sf_dir)))


def _q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped boilerplate-line removal over a formula-derived
    multi-host corpus: every doc carries its host's nav line (100% of
    host docs -> boilerplate), a unique content line (never removed), a
    'subscribe' line on doc_id%3==0 (~33% of host docs -> BELOW the 0.4
    ratio floor, kept), an empty line on doc_id%10==4 (excluded from
    detection, always kept) and a 'copyright' line on doc_id%2==0 (~50%
    -> boilerplate). Oracle replays the formula corpus and the
    df/ratio rule in SQL, grouping by the line STRING (certifying the
    operator's xxhash64 grouping)."""
    from gocrd_spark.operators.textstats import host_boilerplate

    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 7).cast("string"))
    arr = F.array(
        F.concat(F.lit("nav home about contact "), host),
        F.concat(F.lit("doc "), d.cast("string"), F.lit(" unique content alpha beta")),
        F.when(d % 3 == 0, F.concat(F.lit("subscribe newsletter "), host)),
        F.when(d % 10 == 4, F.lit("")),
        F.when(d % 2 == 0, F.concat(F.lit("copyright "), host, F.lit(" all rights reserved"))),
    )
    corpus = _docs(spark, sf_dir).select(
        "doc_id",
        host.alias("host"),
        F.array_join(F.filter(arr, lambda x: x.isNotNull()), "\n").alias("text"),
    )
    return host_boilerplate(corpus, min_df=3, min_ratio_e6=400_000)


def _q_crawl_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trap detection over a formula-derived fetch log: a calendar trap
    (125+ urls under cal/N/N, 3 digests), a faceted-listing trap (75
    urls under list?page&sort, 5 digests), a healthy /post/N archive
    (every page distinct — high fanout, ratio 1.0, NOT a trap) and a
    3-url template below the min_urls floor (excluded). Oracle replays
    template derivation (host/path/query regexps, digit-run collapse,
    sorted query keys) and the distinct counts on STRINGS in SQL."""
    from gocrd_spark.operators.urls import crawl_traps

    d = F.col("doc_id")
    b = d % 4
    s = d.cast("string")
    url = (
        F.when(b == 0, F.concat(
            F.lit("https://trap-cal.test/cal/"), (d % 200 + 2000).cast("string"),
            F.lit("/"), (d % 12 + 1).cast("string")))
        .when(b == 1, F.concat(
            F.lit("https://shop.test/list?page="), ((d / 4).cast("long") % 25).cast("string"),
            F.lit("&sort=s"), (d % 3).cast("string")))
        .when(b == 2, F.concat(F.lit("https://blog.test/post/"), s))
        .otherwise(F.concat(F.lit("https://tiny.test/about-"), (d % 3).cast("string")))
    )
    digest = (
        F.when(b == 0, F.concat(F.lit("cal"), (d % 3).cast("string")))
        .when(b == 1, F.concat(F.lit("shop"), (d % 5).cast("string")))
        .when(b == 2, F.concat(F.lit("post"), s))
        .otherwise(F.concat(F.lit("tiny"), (d % 3).cast("string")))
    )
    obs = _docs(spark, sf_dir).select(url.alias("url"), digest.alias("digest"))
    return crawl_traps(obs, min_urls=20, max_digest_ratio_e6=200_000)


def _q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution over a formula-derived 3xx graph:
    docs group into 8-node chains (n{8g}..n{8g+7}); every 5th group
    closes into a CYCLE (n{8g+7} -> n{8g}) and must come back
    resolved=0/NULL, the rest resolve to their chain tail with exact
    hop counts. Oracle walks the STRING graph with a recursive CTE
    (certifying the operator's xxhash64 id mapping + pointer
    doubling)."""
    from gocrd_spark.operators.linkgraph import redirect_resolve

    d = F.col("doc_id")
    p = d % 8
    g = F.expr("doc_id div 8")
    edges = (
        _docs(spark, sf_dir)
        .where((p < 7) | ((p == 7) & (g % 5 == 0)))
        .select(
            F.concat(F.lit("n"), d.cast("string")).alias("src"),
            F.concat(
                F.lit("n"),
                F.when(p < 7, d + 1).otherwise(d - 7).cast("string"),
            ).alias("dst"),
        )
    )
    return redirect_resolve(edges, max_hops=32)


def _q_feed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syndication tier over formula-synthesized feed payloads: RSS 2.0
    (entity-bearing channel title, first item missing <description>),
    namespaced Atom (published falling back to <updated> on odd items),
    valid-XML-but-not-a-feed and unparseable-bytes error rows. The
    Spark side genuinely parses the BYTES through the xmlwalk kernel;
    the oracle emits the expected per-item rows from the same formula
    — no XML on the oracle side."""
    from gocrd_spark.pipeline import feed_items

    d = F.col("doc_id")
    m = d % 3
    ds = d.cast("string")
    i_seq = F.sequence(F.lit(0), (d % 4).cast("int"))

    def _rss_item(i):
        istr = i.cast("string")
        return F.concat(
            F.lit("<item><title>Item "), ds, F.lit("-"), istr,
            F.lit("</title><link>https://feed.test/"), ds, F.lit("/"), istr,
            F.lit("</link><pubDate>Mon, 0"), (i + 1).cast("string"),
            F.lit(" Jan 2024 00:00:00 GMT</pubDate>"),
            F.when(i > 0, F.concat(
                F.lit("<description>Sum "), ds, F.lit(" "), istr,
                F.lit("</description>"))).otherwise(F.lit("")),
            F.lit("</item>"),
        )

    def _atom_entry(i):
        istr = i.cast("string")
        return F.concat(
            F.lit("<entry><title>E "), ds, F.lit("-"), istr,
            F.lit('</title><link href="https://a.test/'), ds, F.lit("/"), istr,
            F.lit('"/>'),
            F.when(i % 2 == 0, F.concat(
                F.lit("<published>2024-01-0"), (i + 1).cast("string"),
                F.lit("T00:00:00Z</published>"))
            ).otherwise(F.concat(
                F.lit("<updated>2024-02-0"), (i + 1).cast("string"),
                F.lit("T00:00:00Z</updated>"))),
            F.lit("<summary>S "), ds, F.lit(" "), istr,
            F.lit("</summary></entry>"),
        )

    rss = F.concat(
        F.lit('<?xml version="1.0"?><rss version="2.0"><channel>'
              "<title>Feed &amp; Chan "), ds, F.lit("</title>"),
        F.concat_ws("", F.transform(i_seq, _rss_item)),
        F.lit("</channel></rss>"),
    )
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><title>Atom '),
        ds, F.lit("</title>"),
        F.concat_ws("", F.transform(i_seq, _atom_entry)),
        F.lit("</feed>"),
    )
    payload = (
        F.when(m == 0, rss)
        .when(m == 1, atom)
        .otherwise(
            F.when(d % 6 == 2, F.lit("<html><body>x</body></html>"))
            .otherwise(F.concat(F.lit("no feed here "), ds))
        )
    )
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://crawl.test/feed/"), ds).alias("url"),
        F.encode(payload, "UTF-8").alias("html"),
    )
    return feed_items(pages)


def _q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-protocol tier over formula-synthesized payloads:
    namespaced <urlset> (lastmod on even entries, changefreq
    daily/weekly by i%3, priority absent on entry 0), <sitemapindex>,
    valid-XML-but-not-a-sitemap and unparseable-bytes error rows. Spark
    parses the BYTES through the xmlwalk kernel; the oracle emits the
    expected per-entry rows from the same formula."""
    from gocrd_spark.pipeline import sitemap_urls

    d = F.col("doc_id")
    m = d % 3
    ds = d.cast("string")
    i_seq = F.sequence(F.lit(0), (d % 4).cast("int"))

    def _url_entry(i):
        istr = i.cast("string")
        return F.concat(
            F.lit("<url><loc>https://site.test/"), ds, F.lit("/p"), istr,
            F.lit("</loc>"),
            F.when(i % 2 == 0, F.concat(
                F.lit("<lastmod>2024-03-0"), (i + 1).cast("string"),
                F.lit("</lastmod>"))).otherwise(F.lit("")),
            F.lit("<changefreq>"),
            F.when(i % 3 == 0, F.lit("daily")).otherwise(F.lit("weekly")),
            F.lit("</changefreq>"),
            F.when(i > 0, F.concat(
                F.lit("<priority>0."), istr, F.lit("</priority>"))
            ).otherwise(F.lit("")),
            F.lit("</url>"),
        )

    def _index_entry(i):
        istr = i.cast("string")
        return F.concat(
            F.lit("<sitemap><loc>https://site.test/"), ds, F.lit("/s"), istr,
            F.lit(".xml</loc><lastmod>2024-04-0"), (i + 1).cast("string"),
            F.lit("</lastmod></sitemap>"),
        )

    urlset = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        F.concat_ws("", F.transform(i_seq, _url_entry)),
        F.lit("</urlset>"),
    )
    index = F.concat(
        F.lit('<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        F.concat_ws("", F.transform(i_seq, _index_entry)),
        F.lit("</sitemapindex>"),
    )
    payload = (
        F.when(m == 0, urlset)
        .when(m == 1, index)
        .otherwise(
            F.when(d % 6 == 2, F.lit('<rss version="2.0"></rss>'))
            .otherwise(F.concat(F.lit("not xml "), ds))
        )
    )
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://site.test/"), ds, F.lit("/sitemap.xml")).alias("url"),
        F.encode(payload, "UTF-8").alias("html"),
    )
    return sitemap_urls(pages)


def _q_fetch_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier prioritization over formula-derived signals: urls on 5
    hosts (h0..h4), ranks (k+1)*1e9 per host with h4 UNRANKED (NULL ->
    +1 floor keeps it fetchable), recrawl tiers by doc_id%4 (3 ->
    unscheduled), and the h3 template flagged as a trap (score 0).
    Oracle replays the integer score rule over the same formulas."""
    from gocrd_spark.operators.compose import fetch_priority

    d = F.col("doc_id")
    k = d % 5
    ks = k.cast("string")
    frontier = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://h"), ks, F.lit(".test/x/"), d.cast("string")).alias("url"),
        d.alias("doc_id"),
    )
    ranks = (
        _docs(spark, sf_dir)
        .select((d % 4).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("k").cast("string"), F.lit(".test")).alias("host"),
            ((F.col("k") + 1) * F.lit(1_000_000_000)).alias("rank_e12"),
        )
    )
    schedules = frontier.where(d % 4 < 3).select(
        "url",
        F.when(d % 4 == 0, F.lit("fast"))
        .when(d % 4 == 1, F.lit("slow"))
        .otherwise(F.lit("medium"))
        .alias("tier"),
    )
    traps = spark.createDataFrame(
        [("h3.test/x/N", 1), ("h0.test/other/N", 1)], "template string, is_trap int"
    )
    return fetch_priority(frontier.select("url"), ranks, schedules, traps)


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives for 5 query vectors: top-10 cosine
    neighbors restricted to a DIFFERENT label. Oracle replays the
    scoring with list_dot_product at the shared 9dp rounding + id
    tie-break (the module-wide engine-portability convention)."""
    from gocrd_spark.operators.similarity import hard_negatives

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return hard_negatives(emb, query_ids=[0, 1, 2, 3, 4], k=10)


def _q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror detection over a formula-derived fetch log: m1 fully
    mirrors m0 (identical digest sets -> overlap 1e6, mirror), m2
    shares every EVEN digest (~50% -> below the 0.8 floor, reported but
    not a mirror), m3 is all-unique (no pair rows). Oracle co-occurs
    the digest STRINGS (certifying the xxhash64 pair join)."""
    from gocrd_spark.operators.urls import mirror_hosts

    d = F.col("doc_id")
    k = d % 4
    g = F.expr("doc_id div 4")
    digest = (
        F.when(k < 2, F.concat(F.lit("sh"), g.cast("string")))
        .when((k == 2) & (g % 2 == 0), F.concat(F.lit("sh"), g.cast("string")))
        .when(k == 2, F.concat(F.lit("only2-"), d.cast("string")))
        .otherwise(F.concat(F.lit("only3-"), d.cast("string")))
    )
    obs = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://m"), k.cast("string"), F.lit(".test/p/"), d.cast("string")
        ).alias("url"),
        digest.alias("digest"),
    )
    return mirror_hosts(obs, min_shared=5, min_overlap_e6=800_000)


def _q_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-disjoint split over the documents table keyed on source —
    every doc of a source shares its split. Oracle replays the
    md5-first-byte band rule on the group string."""
    from gocrd_spark.operators.textstats import grouped_split

    return grouped_split(_docs(spark, sf_dir), group_col="source")


def _q_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the documents table, exploded (term, doc_id,
    tf, df) form — the oracle-checked face of posting_lists."""
    from gocrd_spark.operators.search import postings_flat

    return postings_flat(_docs(spark, sf_dir))


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact BM25 top-10 for the deterministic corpus-derived
    two-term query workload (search.corpus_queries)."""
    from gocrd_spark.operators.search import bm25_topk, corpus_queries

    d = _docs(spark, sf_dir)
    return bm25_topk(d, corpus_queries(d), k=10)


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index consecutive-bigram search for the top corpus
    bigrams (search.corpus_phrases)."""
    from gocrd_spark.operators.search import corpus_phrases, phrase_search

    d = _docs(spark, sf_dir)
    return phrase_search(d, corpus_phrases(d))


def _q_review_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation review queue over the deterministic host layout: 2
    pages per (host-tier, lang) cell, md5 pick order."""
    from gocrd_spark.operators.compose import review_queue

    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".test/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
        "lang",
    )
    return review_queue(pages, k=2)


def _q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND retrieval for the corpus-derived query workload —
    the exact-filter half of the search tier."""
    from gocrd_spark.operators.search import boolean_search, corpus_queries

    d = _docs(spark, sf_dir)
    return boolean_search(d, corpus_queries(d))


def _q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HyperLogLog distinct-token estimate (bounded-state
    mergeable sketch) next to the exact count; integer-exact estimator
    so the pure-Python twin golden hash-matches."""
    from gocrd_spark.operators.sketch import hll_distinct_terms

    return hll_distinct_terms(_docs(spark, sf_dir)).withColumnRenamed(
        "group", "source"
    )


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min top-8 corpus terms (4x1024 mergeable counters) with
    exact counts as the audit column."""
    from gocrd_spark.operators.sketch import cms_heavy_hitters

    return cms_heavy_hitters(_docs(spark, sf_dir))


# mojibake corruption plant: UTF-8 bytes of the clean snippet read back
# through latin-1, once and twice (precomputed — bijective, so the
# oracle's expected text is just the clean construction)
_MOJI_CLEAN = "café à la ümlaut"
_MOJI_ONCE = _MOJI_CLEAN.encode("utf-8").decode("latin-1")
_MOJI_TWICE = _MOJI_ONCE.encode("utf-8").decode("latin-1")


def _q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style encoding repair over deterministically corrupted
    documents: doc_id%3==0 carries single latin-1 mojibake, %3==1
    double, %3==2 stays clean; the kernel must invert the corruption
    byte-exactly (charset.fix_mojibake), so the oracle's expected text
    is the clean construction itself."""
    from gocrd_spark.charset import mojibake_repair

    d = F.col("doc_id")
    snip = (
        F.when(d % 3 == 0, F.lit(_MOJI_ONCE))
        .when(d % 3 == 1, F.lit(_MOJI_TWICE))
        .otherwise(F.lit(_MOJI_CLEAN))
    )
    corrupted = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), F.lit(" "), snip).alias("text")
    )
    return mojibake_repair(corrupted)


def _q_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host quality tiers over a deterministic host layout
    (doc_id%40 -> ~12 pages/host at sf0.01): the crawl-allowlist
    curation table, integer-exact so the oracle hash-matches."""
    from gocrd_spark.operators.urls import host_quality

    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".test/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
        "lang",
    )
    return host_quality(pages)


def _q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical URL spam features over a deterministic URL mix (8
    templates by doc_id%8 covering subdomain depth, host digits, deep
    paths, query params, and one malformed row class)."""
    from gocrd_spark.operators.urls import url_features

    d = F.col("doc_id")
    ds = d.cast("string")
    tpl = (
        F.when(d % 8 == 0, F.concat(F.lit("https://plain.test/p/"), ds))
        .when(d % 8 == 1, F.concat(F.lit("https://sub.a1.test/"), ds))
        .when(d % 8 == 2, F.concat(F.lit("https://h"), ds, F.lit(".test/a/b/c?x=1&y=2")))
        .when(d % 8 == 3, F.lit("https://deep.x.y.z.test/a/b/c/d/e"))
        .when(d % 8 == 4, F.concat(F.lit("https://99x7.test/p?q="), ds))
        .when(d % 8 == 5, F.lit("https://t.test"))
        .when(d % 8 == 6, F.concat(F.lit("not a url "), ds))
        .otherwise(F.concat(F.lit("https://mixed1.sub2.test/a?one=1&two="), ds))
    )
    urls = _docs(spark, sf_dir).select(tpl.alias("url"))
    return url_features(urls)


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota per-(source, lang) sample, content-stable order."""
    from gocrd_spark.operators.textstats import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), k=3)


def _q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90/p99 doc-length bounds from the mergeable
    HDR-histogram sketch (integer bucketing, <= 1/32 relative width)."""
    from gocrd_spark.operators.sketch import hdr_quantiles

    items = _docs(spark, sf_dir).select(
        F.col("source").alias("group"), F.col("n_chars").alias("v")
    )
    return hdr_quantiles(items).withColumnRenamed("group", "source")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT (VERDICT r04 #1): the driver's CORRECTNESS gate
    # records only the FIRST 50 entries. The front of this dict therefore
    # carries (a) queries never/least-recently driver-verified and (b)
    # queries whose implementation churned this round; the long-stable
    # extraction/text suite (50/50 green in r04) rotates to the back.
    # The dict literal below groups by THEME; _DRIVER_WINDOW (end of
    # this function) imposes the priority order on the first 50 slots.
    q = {
        # --- never driver-green in ANY round: multimodal trio first ---
        "multimodal_features": _q_multimodal,
        "multimodal_resize": _q_multimodal_resize,
        "video_frame_sample": _q_frame_sample,
        # --- new this round: perceptual (pixel-tier) image dedup ---
        "image_phash": _q_image_phash,
        "phash_near_dups": _q_phash_near_dups,
        "classifier_quality": _q_classifier_quality,
        "perceptron_quality": _q_perceptron_quality,
        "dedup_survivors": _q_dedup_survivors,
        "semdedup": _q_semdedup,
        "fuzzy_contamination": _q_fuzzy_contamination,
        "bigram_logprob": _q_bigram_logprob,
        "source_overlap": _q_source_overlap,
        "crawl_plan": _q_crawl_plan,
        "page_metadata": _q_page_metadata,
        "canonical_dedup": _q_canonical_dedup,
        "perplexity_buckets": _q_perplexity_buckets,
        "recrawl_schedule": _q_recrawl_schedule,
        "host_boilerplate": _q_host_boilerplate,
        "crawl_traps": _q_crawl_traps,
        "redirect_resolve": _q_redirect_resolve,
        "feed_items": _q_feed_items,
        "sitemap_urls": _q_sitemap_urls,
        "fetch_priority": _q_fetch_priority,
        "hard_negatives": _q_hard_negatives,
        "mirror_hosts": _q_mirror_hosts,
        "host_trustrank": _q_host_trustrank,
        "frontier_expand": _q_frontier_expand,
        "script_profile": _q_script_profile,
        "vocab_drift": _q_vocab_drift,
        "grouped_split": _q_grouped_split,
        # --- corpus search (round-5 session 2: inverted index + BM25) ---
        "inverted_postings": _q_inverted_postings,
        "bm25_search": _q_bm25_search,
        "phrase_search": _q_phrase_search,
        "boolean_search": _q_boolean_search,
        "review_queue": _q_review_queue,
        "hll_distinct_terms": _q_hll_distinct,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "mojibake_repair": _q_mojibake_repair,
        "host_quality": _q_host_quality,
        "url_features": _q_url_features,
        "stratified_sample": _q_stratified_sample,
        "hdr_doclen_quantiles": _q_hdr_quantiles,
        # --- r03-green but absent from the r04 window (code churned) ---
        "media_dedup": _q_media_dedup,
        "training_set_filter": _q_training_set,
        # similarity search (embeddings) — the flagship near-dup entry is
        # the bucketed LSH path; the crossJoin survives only as the
        # clearly-named exact baseline
        "ann_topk_brute": _q_ann_brute,
        "ann_topk_lsh": _q_ann_lsh,
        "ann_topk_ivf": _q_ann_ivf,
        "embedding_near_dups": _q_emb_dups_lsh,
        "embedding_near_dups_exact_baseline": _q_emb_dups_exact,
        "embedding_dedup_clusters": _q_emb_dedup_clusters,
        "label_centroids": _q_centroids,
        # events analytics (streaming-shaped batch)
        "events_window": _q_events_window,
        "user_sessions": _q_user_sessions,
        "top_users": _q_top_users,
        "props_json_stats": _q_props_json,
        "daily_event_stats": _q_daily_stats,
        # relational showcase (broadcast-dim + fact-fact + semi joins)
        "pricing_summary": _q_pricing_summary,
        "revenue_by_nation": _q_revenue_by_nation,
        "segment_order_stats": _q_segment_stats,
        "order_priority": _q_order_priority,
        # --- round-5 touched code: re-verify this round ---
        "containment_pairs": _q_containment,
        "containment_candidates_recall": _q_containment_recall,
        "bpe_merges": _q_bpe_merges,
        "bpe_vocab": _q_bpe_vocab,
        "bpe_encode": _q_bpe_encode,
        "token_stats_bpe": _q_token_stats_bpe,
        "host_pagerank": _q_host_pagerank,
        "outlinks": _q_outlinks,
        "dedup_clusters": _q_dedup_clusters,
        "minhash_near_dups": _q_minhash_dups,
        "simhash_near_dups": _q_simhash_dups,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "compression_stats": _q_compression_stats,
        "url_dedup": _q_url_dedup,
        "training_corpus": _q_training_corpus,
        # --- new this round ---
        "dsir_weights": _q_dsir_weights,
        "dsir_select": _q_dsir_select,
        "bloom_unprocessed": _q_bloom_unprocessed,
        "events_window_stream": _q_events_window_stream,
        "cdx_fetch_plan": _q_cdx_fetch_plan,
        "pack_sequences": _q_pack_sequences,
        "charset_decode": _q_charset_decode,
        "mixture_plan": _q_mixture_plan,
        "simhash_recall": _q_simhash_recall,
        "chunk_documents": _q_chunk_documents,
        "frontier_waves": _q_frontier_waves,
        "quantize_embeddings": _q_quantize_embeddings,
        "pq_codes": _q_pq_codes,
        "pq_topk": _q_pq_topk,
        "ann_topk_ivfpq": _q_ann_topk_ivfpq,
        "ivfpq_recall": _q_ivfpq_recall,
        "html_tables": _q_html_tables,
        "jsonld_fields": _q_jsonld_fields,
        "search_snippets": _q_search_snippets,
        "crawl_budgets": _q_crawl_budgets,
        "dedup_report": _q_dedup_report,
        "extraction_report": _q_extraction_report,
        "filter_ablation": _q_filter_ablation,
        "robots_crawl_delay": _q_robots_crawl_delay,
        "hashed_embeddings": _q_hashed_embeddings,
        "text_semdedup": _q_text_semdedup,
        "shard_manifest": _q_shard_manifest,
        "dataset_card": _q_dataset_card,
        "inlink_summary": _q_inlink_summary,
        "mojibake_score": _q_mojibake_score,
        "robots_sitemaps": _q_robots_sitemaps,
        # --- extraction surface (golden-parquet oracles; also pytest-gated
        # byte identity, FIXTURES.md §3) ---
        "extract_text": _q_extract_text,
        "extract_spans": _q_extract_spans,
        "mets_files_alto": _q_mets_files,
        "pdf_extract_text": _q_pdf_extract,
        "extracted_quality": _q_extracted_quality,
        # --- remaining dedup suite ---
        "dedup_exact": _q_dedup_exact,
        "paragraph_dedup": _q_paragraph_dedup,
        "duplicate_spans": _q_duplicate_spans,
        "remove_duplicate_spans": _q_remove_spans,
        "contamination_flags": _q_contamination,
        "repetition_stats": _q_repetition,
        "winnowing_fingerprints": _q_winnowing,
        "snapshot_diff": _q_snapshot_diff,
        # === driver 50-row window boundary is ~here; everything below was
        # === 50/50 green in r04 and is stable code
        "token_stats": _q_token_stats,
        "quality_score": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "nfc_fingerprint": _q_nfc_fingerprint,
        "vocab_top_terms": _q_vocab,
        "tfidf_top_terms": _q_tfidf,
        "doclen_histogram": _q_doclen_hist,
        "source_stats": _q_source_stats,
        "corpus_split": _q_corpus_split,
        "source_weighted_sample": _q_source_sample,
        "pack_shards": _q_pack_shards,
        "pack_shards_bpe": _q_pack_shards_bpe,
        "pack_shards_shuffled": _q_pack_shards_shuffled,
        "wordlist_flags": _q_wordlist_flags,
        "pii_scrub": _q_pii_scrub,
        "materialize_shards": _q_materialize_shards,
        "url_blocklist": _q_url_blocklist,
        "gopher_rules": _q_gopher_rules,
        "c4_line_filter": _q_c4_line_filter,
        "robots_filter": _q_robots_filter,
        "unigram_logprob": _q_unigram_logprob,
        "length_quantiles": _q_length_quantiles,
    }
    # Priority order for the driver's 50-row window (round 6): the 24
    # queries that have never received a driver-recorded green row (they
    # sat at slots 51+ of the r05 window — VERDICT r05 "What's missing"
    # #1) go FIRST, so after this round every one of the 142 queries has
    # a driver-recorded green somewhere. The r05-verified queries follow
    # in their previous order; everything else keeps its thematic
    # literal order behind them.
    window = [
        # never driver-verified (r05 slots 51-74) — drain the backlog
        "feed_items", "sitemap_urls", "fetch_priority",
        "containment_candidates_recall", "dsir_weights", "dsir_select",
        "bloom_unprocessed", "events_window_stream", "cdx_fetch_plan",
        "pack_sequences", "charset_decode", "mixture_plan",
        "simhash_recall", "chunk_documents", "frontier_waves",
        "quantize_embeddings", "dataset_card", "inlink_summary",
        "mojibake_score", "robots_sitemaps", "hard_negatives",
        "mirror_hosts", "host_trustrank", "grouped_split",
        # r05 driver-green, previous window order
        "perceptron_quality", "pq_codes", "pq_topk", "ann_topk_ivfpq",
        "ivfpq_recall",
        "html_tables", "jsonld_fields", "search_snippets", "crawl_budgets",
        "dedup_report", "extraction_report", "filter_ablation",
        "robots_crawl_delay", "hashed_embeddings", "text_semdedup",
        "shard_manifest",
        "inverted_postings", "bm25_search", "phrase_search",
        "boolean_search", "review_queue",
        "hll_distinct_terms", "cms_heavy_hitters", "mojibake_repair",
        "host_quality", "url_features", "stratified_sample",
        "hdr_doclen_quantiles", "frontier_expand", "script_profile",
        "vocab_drift",
        "multimodal_features", "multimodal_resize", "video_frame_sample",
        "image_phash", "phash_near_dups", "classifier_quality",
        "dedup_survivors", "semdedup", "fuzzy_contamination",
        "bigram_logprob", "source_overlap", "crawl_plan", "page_metadata",
        "canonical_dedup", "perplexity_buckets", "recrawl_schedule",
        "host_boilerplate", "crawl_traps", "redirect_resolve",
        # churned r04-greens
        "bpe_merges", "bpe_vocab", "bpe_encode", "token_stats_bpe",
        "containment_pairs", "dedup_clusters", "minhash_near_dups",
        "host_pagerank", "outlinks",
        # r03-green rotations
        "media_dedup", "training_set_filter",
    ]
    assert set(window) <= set(q), sorted(set(window) - set(q))
    return {**{k: q[k] for k in window}, **{k: v for k, v in q.items() if k not in window}}


# Exact all-pairs shingle Jaccard at the driver threshold — the oracle
# for BOTH ngram_jaccard_pairs (same algorithm, second engine) and
# minhash_near_dups (LSH output must equal the exact answer: recall gate).
_EXACT_JACCARD_SQL = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                         x -> x <> '') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE [array_to_string(t, ' ')] END) AS shingles
      FROM toks),
    ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
             count(*) AS n_inter
      FROM ex a JOIN ex b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b,
           CAST(round(round(n_inter::DOUBLE / (na + nb - n_inter), 6) * 1000000) AS BIGINT) AS jaccard_e6
    FROM inter
    WHERE round(n_inter::DOUBLE / (na + nb - n_inter), 6) >= 0.12
"""

def _dedup_clusters_oracle() -> str:
    """Exact-pairs + recursive-CTE components labeling — the
    dedup_clusters oracle, also wrapped as a derived table by the
    dedup_report histogram oracle."""
    return f"""
            WITH RECURSIVE pr AS (SELECT doc_a, doc_b FROM ({_EXACT_JACCARD_SQL})),
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pr
              UNION
              SELECT doc_b AS u, doc_a AS v FROM pr),
            walk(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u),
            canon AS (
              SELECT u AS doc_id, least(min(v), u) AS canonical_id
              FROM walk GROUP BY u)
            SELECT d.doc_id,
                   coalesce(c.canonical_id, d.doc_id) AS canonical_id,
                   CAST(coalesce(c.canonical_id, d.doc_id) = d.doc_id AS BIGINT) AS keep
            FROM documents d LEFT JOIN canon c USING (doc_id)
    """



def _tools_import():
    """Single authority for golden paths/scales: tools/gen_goldens."""
    import sys

    tools_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
    if tools_dir not in sys.path:
        sys.path.insert(0, tools_dir)
    import gen_goldens

    return gen_goldens


def _extracted_quality_oracle() -> str:
    """Quality formula recomputed over the INDEPENDENT golden extraction
    text (spec-derived parquet) — checks the kernel->analytics chain."""
    path = _tools_import().golden_path("extract_text")
    punct = " + ".join(
        f"(length(text) - length(replace(text, '{c}', '')))"
        for c in [".", ",", "!", "?", ";", ":"]
    )
    digit = " + ".join(
        f"(length(text) - length(replace(text, '{d}', '')))" for d in range(10)
    )
    return f"""
        WITH t AS (
          SELECT url, length(text)::DOUBLE AS n_chars,
                 ({punct})::DOUBLE AS n_punct,
                 ({digit})::DOUBLE AS n_digit,
                 list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
          FROM read_parquet('{path}')
          WHERE error IS NULL AND text IS NOT NULL),
        r AS (
          SELECT url,
                 CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
                 CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio,
                 CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, x -> x IN ('the','a','and','of','to','in')))::DOUBLE / len(toks)
                      ELSE 0.0 END AS stop_ratio
          FROM t)
        SELECT url,
               CAST(round(round(greatest(0.0, least(1.0,
                    1.0 - punct_ratio*2 - digit_ratio*2 + least(stop_ratio, 0.2))), 6)
                    * 1000000) AS BIGINT) AS quality_e6
        FROM r
    """


def _contamination_oracle() -> str:
    """13-gram containment twin: benchmark set = doc_id % 50 == 0 (must
    match _q_contamination)."""
    gram13 = " || ' ' || ".join(f"t[i+{j}]" for j in range(13))
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                             x -> x <> '') AS t
          FROM documents),
        sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(t) >= 13
                   THEN list_transform(range(1, len(t) - 11), i -> {gram13})
                   ELSE [array_to_string(t, ' ')] END) AS shingles
          FROM toks),
        ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        bench AS (SELECT doc_id AS benchmark_id, shingle FROM ex WHERE doc_id % 50 = 0)
        SELECT e.doc_id, b.benchmark_id, count(*) AS n_shared_grams
        FROM ex e JOIN bench b USING (shingle)
        WHERE e.doc_id <> b.benchmark_id
        GROUP BY 1, 2
    """


def _ops_golden(name: str, cols: str) -> str:
    """Operator goldens: parquet computed by the pure-Python twins
    (tools/oracle_twins.py on the from-scratch xxHash64) — an
    independent implementation, not the Spark operator. Valid at the
    oracle scale (driver default sf0.01; SPARK_GRAFT_ORACLE_SF selects
    the sf0.1 sweep's goldens); freshness gated by
    tests/test_entry_contract.py. Path and version come from
    tools/gen_goldens (single authority — no drift between the writer's
    version and the reader's)."""
    return f"SELECT {cols} FROM read_parquet('{_tools_import().ops_golden_path(name)}')"


def oracle_sql() -> dict[str, str]:
    stop_list = "('the','a','and','of','to','in')"
    punct_expr = " + ".join(
        f"(length(text) - length(replace(text, '{c}', '')))"
        for c in [".", ",", "!", "?", ";", ":"]
    )
    digit_expr = " + ".join(
        f"(length(text) - length(replace(text, '{d}', '')))" for d in range(10)
    )
    lang_score = {
        lang: " + ".join(
            f"(CASE WHEN list_contains(toks, '{m}') THEN 1 ELSE 0 END)"
            for m in markers
        )
        for lang, markers in {
            "de": ["der", "die", "und", "nicht", "ist"],
            "en": ["the", "and", "of", "is", "not"],
            "es": ["el", "los", "que", "es", "y"],
            "fr": ["le", "les", "et", "est", "ne"],
        }.items()
    }
    # Golden-file oracles: parquet produced WITHOUT running the kernel
    # under test (tools/gen_goldens.py): synthetic rows' expectations are
    # computed from the datagen template SPEC by offset arithmetic; the
    # reference-fixture rows come from the independent expat walkers and
    # are asserted against the FIXTURES.md §3-§4 pins. Valid at the
    # oracle scale (driver default sf0.01; SPARK_GRAFT_ORACLE_SF selects
    # the sf0.1 sweep); staleness gated by
    # tests/test_entry_contract.py::test_goldens_fresh.
    def _golden(name: str, cols: str) -> str:
        return f"SELECT {cols} FROM read_parquet('{_tools_import().golden_path(name)}')"

    meta_golden = _tools_import().golden_path("page_metadata")
    d = {
        "extract_text": _golden("extract_text", "url, text, error"),
        "extraction_report": (
            "WITH g AS ("
            + _golden("extract_text", "url, error")
            + """),
            tot AS (SELECT count(*)::BIGINT AS t FROM g)
            SELECT error, count(*)::BIGINT AS n_pages,
                   (1000000 * count(*)) // t AS share_ppm
            FROM g, tot GROUP BY error, t
        """
        ),
        "page_metadata": _golden(
            "page_metadata",
            "url, warc_ts_epoch, title, description, canonical_url, "
            "og_title, lang_attr, robots, noindex, nofollow, error",
        ),
        # window replay of canonical_dedup's struct-min winner rule over
        # the spec-derived metadata golden (self-canonical first, then
        # latest capture, lowest url) — deterministic total order, so
        # row_number == the operator's map-side-combinable struct min
        "canonical_dedup": f"""
            WITH t AS (
              SELECT url, coalesce(canonical_url, url) AS target, warc_ts_epoch
              FROM read_parquet('{meta_golden}')),
            r AS (
              SELECT url, target,
                     row_number() OVER (
                       PARTITION BY target
                       ORDER BY CASE WHEN url = target THEN 0 ELSE 1 END,
                                warc_ts_epoch DESC, url) AS rn
              FROM t)
            SELECT url, target,
                   (CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS keep
            FROM r
        """,
        # formula-corpus replay of host_boilerplate: same line templates,
        # df/ratio rule grouped by the line STRING (the operator groups
        # by xxhash64 — a green row certifies the hash grouping)
        "host_boilerplate": """
            WITH corpus AS (
              SELECT doc_id,
                     'h' || (doc_id % 7)::VARCHAR AS host,
                     list_filter([
                       'nav home about contact h' || (doc_id % 7)::VARCHAR,
                       'doc ' || doc_id::VARCHAR || ' unique content alpha beta',
                       CASE WHEN doc_id % 3 = 0
                            THEN 'subscribe newsletter h' || (doc_id % 7)::VARCHAR END,
                       CASE WHEN doc_id % 10 = 4 THEN '' END,
                       CASE WHEN doc_id % 2 = 0
                            THEN 'copyright h' || (doc_id % 7)::VARCHAR
                                 || ' all rights reserved' END
                     ], x -> x IS NOT NULL) AS ln
              FROM documents),
            lines AS (
              SELECT doc_id, host, unnest(ln) AS line FROM corpus),
            hsize AS (
              SELECT host, count(DISTINCT doc_id) AS n_docs
              FROM corpus GROUP BY host),
            dfc AS (
              SELECT host, line, count(DISTINCT doc_id) AS df_docs
              FROM lines WHERE line <> '' GROUP BY host, line),
            boiler AS (
              SELECT dfc.host, dfc.line
              FROM dfc JOIN hsize USING (host)
              WHERE df_docs >= 3 AND df_docs * 1000000 >= 400000 * n_docs),
            bset AS (
              SELECT host, list(line) AS bl FROM boiler GROUP BY host)
            SELECT c.doc_id, c.host,
                   coalesce(array_to_string(
                     list_filter(c.ln, l -> NOT list_contains(coalesce(b.bl, []), l)),
                     chr(10)), '') AS clean_text,
                   len(c.ln)::BIGINT AS n_lines,
                   (len(c.ln) - len(list_filter(
                     c.ln, l -> NOT list_contains(coalesce(b.bl, []), l))))::BIGINT
                     AS n_removed
            FROM corpus c LEFT JOIN bset b USING (host)
        """,
        # independent template derivation (regexp host/path/query parse,
        # digit-run collapse, sorted query keys) + string-distinct counts
        # — certifies the operator's try_parse_url + xxhash64-distinct
        "crawl_traps": """
            WITH obs AS (
              SELECT
                CASE doc_id % 4
                  WHEN 0 THEN 'https://trap-cal.test/cal/' || (doc_id % 200 + 2000)::VARCHAR
                              || '/' || (doc_id % 12 + 1)::VARCHAR
                  WHEN 1 THEN 'https://shop.test/list?page=' || ((doc_id // 4) % 25)::VARCHAR
                              || '&sort=s' || (doc_id % 3)::VARCHAR
                  WHEN 2 THEN 'https://blog.test/post/' || doc_id::VARCHAR
                  ELSE 'https://tiny.test/about-' || (doc_id % 3)::VARCHAR
                END AS url,
                CASE doc_id % 4
                  WHEN 0 THEN 'cal' || (doc_id % 3)::VARCHAR
                  WHEN 1 THEN 'shop' || (doc_id % 5)::VARCHAR
                  WHEN 2 THEN 'post' || doc_id::VARCHAR
                  ELSE 'tiny' || (doc_id % 3)::VARCHAR
                END AS digest
              FROM documents),
            parsed AS (
              SELECT url, digest,
                lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
                regexp_replace(
                  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                  '[0-9]+', 'N', 'g') AS path_norm,
                regexp_extract(url, '\\?([^#]*)', 1) AS q
              FROM obs),
            t AS (
              SELECT url, digest,
                host || path_norm || (CASE WHEN q = '' THEN '' ELSE '?' ||
                  array_to_string(list_sort(list_transform(
                    string_split(q, '&'), kv -> string_split(kv, '=')[1])), '&')
                END) AS template
              FROM parsed),
            g AS (
              SELECT template,
                     count(DISTINCT url) AS n_urls,
                     count(DISTINCT digest) AS n_digests
              FROM t GROUP BY template HAVING count(DISTINCT url) >= 20)
            SELECT template, n_urls::BIGINT AS n_urls, n_digests::BIGINT AS n_digests,
                   (n_digests * 1000000 <= 200000 * n_urls)::BIGINT AS is_trap
            FROM g
        """,
        # recursive-CTE walk of the STRING redirect graph vs the
        # operator's xxhash64 pointer doubling; cycles exhaust the hop
        # guard and surface as resolved=0/NULL via the left join
        "redirect_resolve": """
            WITH RECURSIVE raw AS (
              SELECT 'n' || doc_id::VARCHAR AS src,
                     CASE WHEN doc_id % 8 < 7 THEN 'n' || (doc_id + 1)::VARCHAR
                          ELSE 'n' || (doc_id - 7)::VARCHAR END AS dst
              FROM documents
              WHERE doc_id % 8 < 7 OR (doc_id // 8) % 5 = 0),
            e AS (SELECT src, min(dst) AS dst FROM raw GROUP BY src),
            walk AS (
              SELECT src, dst AS cur, 1 AS hops FROM e
              UNION ALL
              SELECT w.src, e2.dst, w.hops + 1
              FROM walk w JOIN e e2 ON e2.src = w.cur
              WHERE w.hops < 32),
            term AS (
              SELECT w.src, w.cur, w.hops
              FROM walk w
              WHERE w.hops <= 32
                AND NOT EXISTS (SELECT 1 FROM e x WHERE x.src = w.cur))
            SELECT e.src, t.cur AS final_url, t.hops::BIGINT AS hops,
                   (t.src IS NOT NULL)::BIGINT AS resolved
            FROM e LEFT JOIN term t USING (src)
        """,
        # expected per-item rows straight from the synthesis formula —
        # the Spark side parses real XML bytes, the oracle never does
        "feed_items": """
            WITH base AS (
              SELECT doc_id,
                     'https://crawl.test/feed/' || doc_id::VARCHAR AS url,
                     doc_id % 3 AS m, doc_id % 4 + 1 AS n
              FROM documents),
            fan AS (
              SELECT doc_id, url, m, unnest(range(0, n)) AS i
              FROM base WHERE m IN (0, 1)),
            rows_feed AS (
              SELECT url,
                CASE WHEN m = 0 THEN 'rss' ELSE 'atom' END AS feed_type,
                CASE WHEN m = 0 THEN 'Feed & Chan ' || doc_id::VARCHAR
                     ELSE 'Atom ' || doc_id::VARCHAR END AS feed_title,
                i::BIGINT AS item_idx,
                CASE WHEN m = 0 THEN 'Item ' || doc_id::VARCHAR || '-' || i::VARCHAR
                     ELSE 'E ' || doc_id::VARCHAR || '-' || i::VARCHAR END AS item_title,
                CASE WHEN m = 0 THEN 'https://feed.test/' || doc_id::VARCHAR || '/' || i::VARCHAR
                     ELSE 'https://a.test/' || doc_id::VARCHAR || '/' || i::VARCHAR END AS item_link,
                CASE WHEN m = 0 THEN 'Mon, 0' || (i + 1)::VARCHAR || ' Jan 2024 00:00:00 GMT'
                     WHEN i % 2 = 0 THEN '2024-01-0' || (i + 1)::VARCHAR || 'T00:00:00Z'
                     ELSE '2024-02-0' || (i + 1)::VARCHAR || 'T00:00:00Z' END AS item_published,
                CASE WHEN m = 0 THEN
                       (CASE WHEN i > 0 THEN 'Sum ' || doc_id::VARCHAR || ' ' || i::VARCHAR END)
                     ELSE 'S ' || doc_id::VARCHAR || ' ' || i::VARCHAR END AS item_summary,
                NULL::VARCHAR AS error
              FROM fan),
            rows_err AS (
              SELECT url, NULL::VARCHAR AS feed_type, NULL::VARCHAR AS feed_title,
                     NULL::BIGINT AS item_idx, NULL::VARCHAR AS item_title,
                     NULL::VARCHAR AS item_link, NULL::VARCHAR AS item_published,
                     NULL::VARCHAR AS item_summary,
                     CASE WHEN doc_id % 6 = 2 THEN 'not a feed (root ''html'')'
                          ELSE 'feed parse: ParseError' END AS error
              FROM base WHERE m = 2)
            SELECT * FROM rows_feed UNION ALL SELECT * FROM rows_err
        """,
        # expected sitemap entries straight from the synthesis formula
        "sitemap_urls": """
            WITH base AS (
              SELECT doc_id,
                     'https://site.test/' || doc_id::VARCHAR || '/sitemap.xml' AS url,
                     doc_id % 3 AS m, doc_id % 4 + 1 AS n
              FROM documents),
            fan AS (
              SELECT doc_id, url, m, unnest(range(0, n)) AS i
              FROM base WHERE m IN (0, 1)),
            rows_ok AS (
              SELECT url,
                CASE WHEN m = 0 THEN 'urlset' ELSE 'sitemapindex' END AS kind,
                i::BIGINT AS entry_idx,
                CASE WHEN m = 0
                     THEN 'https://site.test/' || doc_id::VARCHAR || '/p' || i::VARCHAR
                     ELSE 'https://site.test/' || doc_id::VARCHAR || '/s' || i::VARCHAR || '.xml'
                END AS loc,
                CASE WHEN m = 1 THEN '2024-04-0' || (i + 1)::VARCHAR
                     WHEN i % 2 = 0 THEN '2024-03-0' || (i + 1)::VARCHAR
                END AS lastmod,
                CASE WHEN m = 0 THEN
                       (CASE WHEN i % 3 = 0 THEN 'daily' ELSE 'weekly' END)
                END AS changefreq,
                CASE WHEN m = 0 AND i > 0 THEN '0.' || i::VARCHAR
                END AS priority,
                NULL::VARCHAR AS error
              FROM fan),
            rows_err AS (
              SELECT url, NULL::VARCHAR AS kind, NULL::BIGINT AS entry_idx,
                     NULL::VARCHAR AS loc, NULL::VARCHAR AS lastmod,
                     NULL::VARCHAR AS changefreq, NULL::VARCHAR AS priority,
                     CASE WHEN doc_id % 6 = 2 THEN 'not a sitemap (root ''rss'')'
                          ELSE 'sitemap parse: ParseError' END AS error
              FROM base WHERE m = 2)
            SELECT * FROM rows_ok UNION ALL SELECT * FROM rows_err
        """,
        # integer score-rule replay over the same formula signals
        "fetch_priority": """
            WITH f AS (
              SELECT doc_id, doc_id % 5 AS k,
                     'https://h' || (doc_id % 5)::VARCHAR || '.test/x/'
                       || doc_id::VARCHAR AS url,
                     'h' || (doc_id % 5)::VARCHAR || '.test' AS host
              FROM documents),
            scored AS (
              SELECT url, host,
                CASE
                  WHEN k = 3 THEN 0  -- h3.test/x/N is the trap template
                  ELSE (1 + (CASE WHEN k <= 3 THEN (k + 1) * 1000 ELSE 0 END))
                       * (CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 1
                                          WHEN 2 THEN 2 ELSE 3 END)
                END AS score,
                (k = 3)::BIGINT AS is_trap
              FROM f)
            SELECT url, host, score::BIGINT AS score, is_trap FROM scored
        """,
        # exact replay at the shared 9dp + id tie-break convention,
        # label-mismatch filter before ranking
        "hard_negatives": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
              FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
                     round(list_dot_product(q.q_emb::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[]))
                        * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 9) AS cos
              FROM q CROSS JOIN embeddings e WHERE e.label <> q.q_label),
            ranked AS (
              SELECT query_id, neighbor_id, neighbor_label,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, neighbor_label::BIGINT AS neighbor_label, rank
            FROM ranked WHERE rank <= 10
        """,
        # digest-STRING co-occurrence replay of mirror_hosts (operator
        # joins on xxhash64(digest)); same fanout valve, pair rule,
        # integer containment-of-the-smaller overlap
        "mirror_hosts": """
            WITH obs AS (
              SELECT 'm' || (doc_id % 4)::VARCHAR || '.test' AS host,
                     CASE
                       WHEN doc_id % 4 < 2 THEN 'sh' || (doc_id // 4)::VARCHAR
                       WHEN doc_id % 4 = 2 AND (doc_id // 4) % 2 = 0
                            THEN 'sh' || (doc_id // 4)::VARCHAR
                       WHEN doc_id % 4 = 2 THEN 'only2-' || doc_id::VARCHAR
                       ELSE 'only3-' || doc_id::VARCHAR
                     END AS digest
              FROM documents),
            hd AS (SELECT DISTINCT host, digest FROM obs),
            kept AS (
              SELECT host, digest FROM hd
              QUALIFY count(*) OVER (PARTITION BY digest) <= 64),
            sizes AS (SELECT host, count(*) AS n_docs FROM kept GROUP BY host),
            pairs AS (
              SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_shared
              FROM kept a JOIN kept b
                ON a.digest = b.digest AND a.host < b.host
              GROUP BY 1, 2 HAVING count(*) >= 5)
            SELECT p.host_a, p.host_b, p.n_shared::BIGINT AS n_shared,
                   sa.n_docs::BIGINT AS n_a, sb.n_docs::BIGINT AS n_b,
                   ((1000000 * p.n_shared) // least(sa.n_docs, sb.n_docs))::BIGINT
                     AS overlap_e6,
                   ((1000000 * p.n_shared) // least(sa.n_docs, sb.n_docs)
                     >= 800000)::BIGINT AS is_mirror
            FROM pairs p
            JOIN sizes sa ON sa.host = p.host_a
            JOIN sizes sb ON sb.host = p.host_b
        """,
        # md5-first-byte band rule on the GROUP string (source)
        "grouped_split": """
            WITH b AS (
              SELECT doc_id, source AS "group",
                     (strpos('0123456789abcdef', substr(md5(source), 1, 1))-1)*16
                     + (strpos('0123456789abcdef', substr(md5(source), 2, 1))-1)
                       AS bucket
              FROM documents)
            SELECT doc_id, "group",
                   CASE WHEN bucket < 25 THEN 'test'
                        WHEN bucket < 50 THEN 'valid'
                        ELSE 'train' END AS split
            FROM b
        """,
        # inverted index, exploded form: tf per (doc, term), df per term
        "inverted_postings": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x <> '')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM toks GROUP BY 1, 2)
            SELECT term, doc_id, tf,
                   (count(*) OVER (PARTITION BY term))::BIGINT AS df
            FROM tf
        """,
        # integer-exact BM25 (search.py spec): idf is the one 6dp
        # fixed-pointed transcendental; norm/contrib are BIGINT
        # multiply + floor-divide, so scores hash-match across engines.
        # Query workload: top-8 df-banded terms paired i <-> i+4.
        "bm25_search": """
            WITH t0 AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents),
            tok AS (SELECT doc_id, unnest(t) AS term FROM t0),
            dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM t0),
            scal AS (SELECT count(*)::BIGINT AS n_docs,
                            sum(len(t))::BIGINT AS t_tokens FROM t0),
            dfs AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
                    FROM tok GROUP BY term),
            qterms AS (
              SELECT term,
                     row_number() OVER (ORDER BY df DESC, term ASC) - 1 AS rn
              FROM dfs, scal
              WHERE df >= 2 AND df * 10 <= n_docs * 9
              ORDER BY df DESC, term ASC LIMIT 8),
            queries AS (SELECT rn % 4 AS query_id, term FROM qterms),
            tf AS (SELECT query_id, q.term AS term, doc_id,
                          count(*)::BIGINT AS tf
                   FROM tok t JOIN queries q ON t.term = q.term
                   GROUP BY 1, 2, 3),
            contrib AS (
              SELECT query_id, tf.doc_id AS doc_id,
                     (CAST(round(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0),
                                       6) * 1000000) AS BIGINT)
                      * 22000 * tf)
                     // (10000 * tf
                         + 12 * (250 + (750 * dl) // (t_tokens // n_docs))) AS c
              FROM tf
              JOIN dfs USING (term)
              JOIN dl ON dl.doc_id = tf.doc_id, scal),
            score AS (SELECT query_id, doc_id, sum(c)::BIGINT AS score_e6
                      FROM contrib GROUP BY 1, 2),
            ranked AS (
              SELECT query_id::BIGINT AS query_id,
                     (row_number() OVER (PARTITION BY query_id
                        ORDER BY score_e6 DESC, doc_id ASC))::BIGINT AS rank,
                     doc_id, score_e6
              FROM score)
            SELECT query_id, rank, doc_id, score_e6 FROM ranked WHERE rank <= 10
        """,
        # snippets: the bm25_search chain + filtered-token positions,
        # hit-anchored window self-join, (n_hits DESC, pos ASC) arg-max,
        # and a 1-based inclusive list slice mirroring F.slice
        "search_snippets": """
            WITH t0 AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents),
            tok AS (SELECT doc_id, unnest(t) AS term FROM t0),
            dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM t0),
            scal AS (SELECT count(*)::BIGINT AS n_docs,
                            sum(len(t))::BIGINT AS t_tokens FROM t0),
            dfs AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
                    FROM tok GROUP BY term),
            qterms AS (
              SELECT term,
                     row_number() OVER (ORDER BY df DESC, term ASC) - 1 AS rn
              FROM dfs, scal
              WHERE df >= 2 AND df * 10 <= n_docs * 9
              ORDER BY df DESC, term ASC LIMIT 8),
            queries AS (SELECT rn % 4 AS query_id, term FROM qterms),
            tf AS (SELECT query_id, q.term AS term, doc_id,
                          count(*)::BIGINT AS tf
                   FROM tok t JOIN queries q ON t.term = q.term
                   GROUP BY 1, 2, 3),
            contrib AS (
              SELECT query_id, tf.doc_id AS doc_id,
                     (CAST(round(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0),
                                       6) * 1000000) AS BIGINT)
                      * 22000 * tf)
                     // (10000 * tf
                         + 12 * (250 + (750 * dl) // (t_tokens // n_docs))) AS c
              FROM tf
              JOIN dfs USING (term)
              JOIN dl ON dl.doc_id = tf.doc_id, scal),
            score AS (SELECT query_id, doc_id, sum(c)::BIGINT AS score_e6
                      FROM contrib GROUP BY 1, 2),
            ranked AS (
              SELECT query_id::BIGINT AS query_id,
                     (row_number() OVER (PARTITION BY query_id
                        ORDER BY score_e6 DESC, doc_id ASC))::BIGINT AS rank,
                     doc_id
              FROM score),
            hits AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 10),
            tpos AS (
              SELECT t0.doc_id, t0.t[i]::VARCHAR AS term, (i - 1)::BIGINT AS pos
              FROM t0, unnest(range(1, len(t0.t) + 1)) AS s(i)
              WHERE t0.doc_id IN (SELECT doc_id FROM hits)),
            qpos AS (
              SELECT h.query_id, h.doc_id, h.rank, tp.pos
              FROM tpos tp
              JOIN queries q ON q.term = tp.term
              JOIN hits h ON h.query_id = q.query_id AND h.doc_id = tp.doc_id),
            wins AS (
              SELECT a.query_id, a.doc_id, a.rank, a.pos,
                     count(*)::BIGINT AS n_hits
              FROM qpos a JOIN qpos b
                ON b.query_id = a.query_id AND b.doc_id = a.doc_id
               AND b.pos >= a.pos AND b.pos < a.pos + 8
              GROUP BY 1, 2, 3, 4),
            best AS (
              SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
                          ORDER BY n_hits DESC, pos ASC) AS rn
              FROM wins)
            SELECT w.query_id, w.doc_id, w.rank,
                   w.pos AS start_pos, w.n_hits,
                   array_to_string(t0.t[w.pos + 1 : w.pos + 8], ' ') AS snippet
            FROM best w JOIN t0 USING (doc_id) WHERE w.rn = 1
        """,
        # AND retrieval: same query workload, doc qualifies when its
        # distinct matched terms equal the query's term count
        "boolean_search": """
            WITH t0 AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents),
            tok AS (SELECT doc_id, unnest(t) AS term FROM t0),
            dfs AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
                    FROM tok GROUP BY term),
            scal AS (SELECT count(*)::BIGINT AS n_docs FROM t0),
            qterms AS (
              SELECT term,
                     row_number() OVER (ORDER BY df DESC, term ASC) - 1 AS rn
              FROM dfs, scal
              WHERE df >= 2 AND df * 10 <= n_docs * 9
              ORDER BY df DESC, term ASC LIMIT 8),
            queries AS (SELECT rn % 4 AS query_id, term FROM qterms),
            qsizes AS (SELECT query_id, count(DISTINCT term) AS n_terms
                       FROM queries GROUP BY query_id),
            hits AS (SELECT DISTINCT query_id, doc_id, q.term AS term
                     FROM tok t JOIN queries q ON t.term = q.term)
            SELECT h.query_id::BIGINT AS query_id, doc_id
            FROM (SELECT query_id, doc_id, count(*) AS m
                  FROM hits GROUP BY 1, 2) h
            JOIN qsizes s ON s.query_id = h.query_id
            WHERE h.m = s.n_terms
        """,
        # consecutive-bigram phrase search; workload = top-4 bigrams by
        # distinct-doc df (>=3), (df DESC, w1, w2) order
        "phrase_search": """
            WITH t0 AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents),
            allg AS (
              SELECT doc_id, unnest(list_transform(range(1, len(t)),
                       i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS g
              FROM t0 WHERE len(t) >= 2),
            dfb AS (SELECT g.w1 AS w1, g.w2 AS w2,
                           count(DISTINCT doc_id) AS df
                    FROM allg GROUP BY 1, 2),
            ph AS (SELECT w1, w2,
                          (row_number() OVER (ORDER BY df DESC, w1 ASC, w2 ASC)
                           - 1)::BIGINT AS phrase_id
                   FROM dfb WHERE df >= 3
                   ORDER BY df DESC, w1 ASC, w2 ASC LIMIT 4)
            SELECT phrase_id, doc_id, count(*)::BIGINT AS n_occurrences
            FROM allg JOIN ph ON g.w1 = ph.w1 AND g.w2 = ph.w2
            GROUP BY 1, 2
        """,
        "extract_spans": _golden(
            "extract_spans",
            "url, region_id, ro_index, byte_start, byte_end, char_start, char_end",
        ),
        "mets_files_alto": _golden(
            "mets_files_alto", "url, file_id, mimetype, flocat_type, flocat_url"
        ),
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
                   count(*) AS n_dups
            FROM documents GROUP BY 2
        """,
        "token_stats": """
            WITH t AS (
              SELECT doc_id, length(text) AS n_chars_actual,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
              FROM documents)
            SELECT doc_id,
                   len(toks)::BIGINT AS n_tokens,
                   n_chars_actual::BIGINT AS n_chars_actual,
                   CAST(round(CASE WHEN len(toks) > 0
                        THEN round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 6)
                        ELSE 0.0 END * 1000000) AS BIGINT) AS avg_token_len_e6
            FROM t
        """,
        "quality_score": f"""
            WITH t AS (
              SELECT doc_id, length(text)::DOUBLE AS n_chars,
                     ({punct_expr})::DOUBLE AS n_punct,
                     ({digit_expr})::DOUBLE AS n_digit,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
              FROM documents),
            r AS (
              SELECT doc_id,
                     CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio,
                     CASE WHEN len(toks) > 0
                          THEN len(list_filter(toks, x -> x IN {stop_list}))::DOUBLE / len(toks)
                          ELSE 0.0 END AS stop_ratio
              FROM t)
            SELECT doc_id,
                   CAST(round(round(punct_ratio, 6) * 1000000) AS BIGINT) AS punct_ratio_e6,
                   CAST(round(round(digit_ratio, 6) * 1000000) AS BIGINT) AS digit_ratio_e6,
                   CAST(round(round(stop_ratio, 6) * 1000000) AS BIGINT) AS stop_ratio_e6,
                   CAST(round(round(greatest(0.0, least(1.0,
                        1.0 - punct_ratio*2 - digit_ratio*2 + least(stop_ratio, 0.2))), 6)
                        * 1000000) AS BIGINT) AS quality_e6
            FROM r
        """,
        "lang_id": f"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
              FROM documents),
            s AS (
              SELECT doc_id,
                     ({lang_score['de']}) AS s_de, ({lang_score['en']}) AS s_en,
                     ({lang_score['es']}) AS s_es, ({lang_score['fr']}) AS s_fr
              FROM t)
            SELECT doc_id,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                        WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                        ELSE 'fr' END AS lang_guess,
                   greatest(s_de, s_en, s_es, s_fr)::BIGINT AS marker_hits
            FROM s
        """,
        "fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
                   length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))::BIGINT AS norm_len
            FROM documents
        """,
        "training_set_filter": f"""
            WITH t AS (
              SELECT doc_id, length(text)::DOUBLE AS n_chars,
                     ({" + ".join(f"(length(text) - length(replace(text, '{c}', '')))" for c in [".", ",", "!", "?", ";", ":"])})::DOUBLE AS n_punct,
                     ({" + ".join(f"(length(text) - length(replace(text, '{d}', '')))" for d in range(10))})::DOUBLE AS n_digit,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
                     list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ltoks,
                     text
              FROM documents WHERE length(text) >= 100),
            q AS (
              SELECT doc_id, text, ltoks,
                     CAST(round(round(greatest(0.0, least(1.0,
                          1.0 - (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)*2
                              - (CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END)*2
                              + least(CASE WHEN len(toks) > 0
                                      THEN len(list_filter(toks, x -> x IN ('the','a','and','of','to','in')))::DOUBLE / len(toks)
                                      ELSE 0.0 END, 0.2))), 6) * 1000000) AS BIGINT) AS quality_e6
              FROM t),
            s AS (
              SELECT doc_id, text, quality_e6,
                     ({" + ".join(f"(CASE WHEN list_contains(ltoks, '{m}') THEN 1 ELSE 0 END)" for m in ["der", "die", "und", "nicht", "ist"])}) AS s_de,
                     ({" + ".join(f"(CASE WHEN list_contains(ltoks, '{m}') THEN 1 ELSE 0 END)" for m in ["the", "and", "of", "is", "not"])}) AS s_en,
                     ({" + ".join(f"(CASE WHEN list_contains(ltoks, '{m}') THEN 1 ELSE 0 END)" for m in ["el", "los", "que", "es", "y"])}) AS s_es,
                     ({" + ".join(f"(CASE WHEN list_contains(ltoks, '{m}') THEN 1 ELSE 0 END)" for m in ["le", "les", "et", "est", "ne"])}) AS s_fr
              FROM q WHERE quality_e6 >= 800000),
            kept AS (
              SELECT doc_id, text, quality_e6,
                     CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                          WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                          WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                          WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                          ELSE 'fr' END AS lang_guess
              FROM s),
            flt AS (SELECT * FROM kept WHERE lang_guess IN ('en', 'de')),
            canon AS (
              SELECT min(doc_id) AS doc_id
              FROM flt GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
            SELECT f.doc_id, f.lang_guess, f.quality_e6
            FROM flt f JOIN canon c ON f.doc_id = c.doc_id
        """,
        "token_stats_bpe": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT
                     AS n_bpe_tokens,
                   len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT
                     AS n_unique_bpe_tokens
            FROM documents
        """,
        "nfc_fingerprint": """
            WITH t AS (
              SELECT doc_id,
                     nfc_normalize(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm
              FROM documents)
            SELECT doc_id, md5(norm) AS nfc_fingerprint,
                   length(norm)::BIGINT AS nfc_len
            FROM t
        """,
        "vocab_top_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_distinct(list_filter(
                       string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS term
              FROM documents)
            SELECT term, count(*) AS doc_freq
            FROM toks GROUP BY term
            ORDER BY doc_freq DESC, term ASC LIMIT 100
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS term
              FROM documents),
            stats AS (
              SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
              FROM toks GROUP BY term),
            total AS (SELECT count(*) AS n FROM documents)
            SELECT term, tf, df,
                   CAST(round(tf * round(ln(n::DOUBLE / df), 6) * 1000000) AS BIGINT) AS tfidf_e6
            FROM stats, total
            ORDER BY tfidf_e6 DESC, term ASC LIMIT 100
        """,
        "doclen_histogram": """
            SELECT CAST(floor(length(text) / 100) AS BIGINT) AS len_bucket,
                   count(*) AS n_docs,
                   min(length(text))::BIGINT AS min_len,
                   max(length(text))::BIGINT AS max_len
            FROM documents GROUP BY 1
        """,
        "source_stats": """
            SELECT source,
                   count(*) AS n_docs,
                   count(DISTINCT lang) AS n_langs,
                   sum(length(text))::BIGINT AS total_chars,
                   CAST(round(avg(length(text)) * 1000000) AS BIGINT) AS avg_chars_e6,
                   count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
                     AS n_unique_texts
            FROM documents GROUP BY source
        """,
        "contamination_flags": _contamination_oracle(),
        "repetition_stats": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3
                       THEN list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                       ELSE [array_to_string(t, ' ')] END AS grams
              FROM toks)
            SELECT doc_id,
                   len(grams)::BIGINT AS n_grams,
                   len(list_distinct(grams))::BIGINT AS n_unique_grams,
                   CAST(round(round(CASE WHEN len(grams) > 0
                        THEN (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams)
                        ELSE 0.0 END, 6) * 1000000) AS BIGINT) AS dup_ratio_e6
            FROM g
        """,
        # bands must match corpus_split defaults: test < 25, valid < 50 (256*10%)
        "corpus_split": """
            WITH t AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
              FROM documents),
            b AS (
              SELECT doc_id,
                     (strpos('0123456789abcdef', substr(h, 1, 1))-1)*16
                     + (strpos('0123456789abcdef', substr(h, 2, 1))-1) AS bucket
              FROM t)
            SELECT doc_id,
                   CASE WHEN bucket < 25 THEN 'test'
                        WHEN bucket < 50 THEN 'valid'
                        ELSE 'train' END AS split
            FROM b
        """,
        # thresholds are the same (rate * 16^8) 8-hex-char strings the
        # operator derives; lowercase fixed-width hex sorts numerically,
        # so keep is one string compare in both engines
        "source_weighted_sample": """
            WITH b AS (
              SELECT doc_id, source,
                     substr(md5('mix1:' || doc_id), 1, 8) AS band
              FROM documents)
            SELECT doc_id, source,
                   CAST(band < CASE source
                     WHEN 'src0' THEN '40000000'
                     WHEN 'src1' THEN '80000000'
                     WHEN 'src2' THEN '00000000'
                     WHEN 'src3' THEN 'g'
                     ELSE 'c0000000' END AS BIGINT) AS keep
            FROM b
        """,
        # ln rounded 6dp + fixed-pointed BEFORE the per-doc sum: after
        # the one rounded transcendental, both engines do exact BIGINT
        # arithmetic (no mean division -> no .5e-6 round ties)
        "unigram_logprob": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
              FROM documents),
            tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
            tot AS (SELECT sum(tf)::DOUBLE AS t FROM tf),
            lm AS (SELECT term,
                          CAST(round(round(ln(tf / (SELECT t FROM tot)), 6) * 1000000) AS BIGINT) AS lnp_e6
                   FROM tf),
            dc AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY doc_id, term)
            SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                   sum(c * lnp_e6)::BIGINT AS sum_logprob_e6
            FROM dc JOIN lm USING (term) GROUP BY doc_id
        """,
        # recrawl twin: same observation formula, lag() change detection,
        # integer permille rate, threshold tiers (fast>=300, slow<=50)
        "recrawl_schedule": """
            WITH obs AS (
              SELECT doc_id, unnest(range(1, 2 + doc_id % 4)) AS snap_id
              FROM documents),
            o AS (
              SELECT 'https://ex.test/' || doc_id AS url, snap_id,
                     'd' || ((snap_id * (doc_id % 5)) // 3) AS digest
              FROM obs),
            lagd AS (
              SELECT url, digest,
                     lag(digest) OVER (PARTITION BY url ORDER BY snap_id) AS pd
              FROM o),
            agg AS (
              SELECT url, count(*) AS n_obs,
                     sum(CASE WHEN pd IS NOT NULL AND digest <> pd THEN 1 ELSE 0 END) AS n_changes
              FROM lagd GROUP BY url)
            SELECT url, n_obs::BIGINT AS n_obs, n_changes::BIGINT AS n_changes,
                   (CASE WHEN n_obs > 1 THEN (1000 * n_changes) // (n_obs - 1) END)::BIGINT AS rate_permille,
                   CASE WHEN n_obs = 1 THEN 'once'
                        WHEN (1000 * n_changes) // (n_obs - 1) >= 300 THEN 'fast'
                        WHEN (1000 * n_changes) // (n_obs - 1) <= 50 THEN 'slow'
                        ELSE 'medium' END AS tier
            FROM agg
        """,
        # CCNet bucket twin: unigram-LM cost (same fixed-point ladder as
        # unigram_logprob), multiplicative-hash sample, per-lang cutoff
        # ranks ceil(j*m/3) over the sample, value-threshold labeling —
        # all-integer after the one rounded ln(), so the compare is exact
        "perplexity_buckets": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
              FROM documents),
            tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
            tot AS (SELECT sum(tf)::DOUBLE AS t FROM tf),
            lm AS (SELECT term,
                          CAST(round(round(ln(tf / (SELECT t FROM tot)), 6) * 1000000) AS BIGINT) AS lnp_e6
                   FROM tf),
            dc AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY doc_id, term),
            sc AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                          sum(c * lnp_e6)::BIGINT AS s_e6
                   FROM dc JOIN lm USING (term) GROUP BY doc_id),
            base AS (
              SELECT sc.doc_id, d.lang, n_tokens,
                     ((-s_e6) * 1000) // n_tokens AS cost_e9
              FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
            samp AS (
              SELECT * FROM base
              WHERE (doc_id * 2654435761) % 4294967296 < 2147483648),
            ranked AS (
              SELECT lang, cost_e9,
                     row_number() OVER (PARTITION BY lang ORDER BY cost_e9, doc_id) AS r
              FROM samp),
            sizes AS (SELECT lang, count(*) AS m FROM samp GROUP BY lang),
            cuts AS (
              SELECT rk.lang,
                     max(CASE WHEN rk.r = (1*s.m + 2) // 3 THEN rk.cost_e9 END) AS c1,
                     max(CASE WHEN rk.r = (2*s.m + 2) // 3 THEN rk.cost_e9 END) AS c2
              FROM ranked rk JOIN sizes s ON rk.lang = s.lang
              GROUP BY rk.lang)
            SELECT b.doc_id, b.lang, b.n_tokens, b.cost_e9,
                   CASE WHEN c.c1 IS NULL THEN 'unsampled'
                        WHEN b.cost_e9 <= c.c1 THEN 'head'
                        WHEN b.cost_e9 <= c.c2 THEN 'middle'
                        ELSE 'tail' END AS tier
            FROM base b LEFT JOIN cuts c ON b.lang = c.lang
        """,
        # crawl-plan chain replayed end-to-end in SQL: regexp
        # canonicalization + window dedup (url_dedup oracle), parent-
        # domain arithmetic blocklist (g%7 in {2,5}), host-window wave
        # assignment; malformed sliver gated by the generating formula
        "crawl_plan": """
            WITH base AS (
              SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v,
                     'www.example-' || ((doc_id // 4) % 7) || '.com' AS host
              FROM documents),
            urls AS (
              SELECT doc_id, g, doc_id AS warc_ts,
                     doc_id % 13 = 5 AS malformed,
                     CASE WHEN doc_id % 13 = 5 THEN 'not a url ' || doc_id
                          ELSE CASE v
                            WHEN 0 THEN 'HTTP://' || upper(host) || ':80/d/' || g || '/page?b=2&a=1#frag'
                            WHEN 1 THEN 'https://' || host || ':443/d/' || g || '/page?a=1&b=2'
                            WHEN 2 THEN 'http://' || host || '/d/' || g || '/page?a=1&b=2'
                            ELSE 'http://' || host || '/d/' || g || '/other'
                          END
                     END AS url
              FROM base),
            parts AS (
              SELECT doc_id, g, warc_ts, url, malformed,
                     lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS scheme,
                     regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1) AS auth,
                     regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
                     regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM urls),
            parts2 AS (
              SELECT doc_id, g, warc_ts, url, malformed, scheme, path, query,
                     lower(regexp_replace(auth, ':[0-9]+$', '')) AS host_l,
                     regexp_extract(auth, ':([0-9]+)$', 1) AS port
              FROM parts),
            canon AS (
              SELECT doc_id, g, warc_ts, url, malformed, host_l,
                     CASE WHEN malformed THEN NULL ELSE
                       scheme || '://' || host_l
                       || CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                                AND NOT (scheme = 'https' AND port = '443')
                               THEN ':' || port ELSE '' END
                       || CASE WHEN path = '' THEN '/' ELSE path END
                       || CASE WHEN query <> ''
                               THEN '?' || array_to_string(list_sort(string_split(query, '&')), '&')
                               ELSE '' END
                     END AS canonical_url
              FROM parts2),
            ranked AS (
              SELECT *,
                     CASE WHEN malformed THEN 1 ELSE
                       row_number() OVER (PARTITION BY canonical_url
                                          ORDER BY warc_ts DESC, doc_id ASC)
                     END AS rn
              FROM canon),
            labeled AS (
              SELECT doc_id, g, url, malformed, host_l,
                     rn = 1 AS keep,
                     (NOT malformed) AND rn = 1 AND (g % 7) IN (2, 5) AS blocked
              FROM ranked),
            fetchable AS (
              SELECT doc_id, url, host_l,
                     row_number() OVER (PARTITION BY host_l ORDER BY doc_id) AS hr
              FROM labeled
              WHERE keep AND NOT malformed AND NOT blocked)
            SELECT l.doc_id, l.url,
                   CASE WHEN l.malformed THEN 'malformed'
                        WHEN NOT l.keep THEN 'duplicate'
                        WHEN l.blocked THEN 'blocked'
                        ELSE 'fetch' END AS disposition,
                   CASE WHEN f.hr IS NOT NULL THEN ((f.hr - 1) // 4) END::BIGINT AS wave
            FROM labeled l LEFT JOIN fetchable f USING (doc_id)
        """,
        "source_overlap": """
            WITH vocab AS (
              SELECT DISTINCT source,
                     unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
              FROM documents),
            sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
            shared AS (
              SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
              FROM vocab a JOIN vocab b USING (term)
              WHERE a.source < b.source
              GROUP BY 1, 2)
            SELECT sa.source AS source_a, sb.source AS source_b,
                   sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
                   coalesce(sh.n_shared, 0)::BIGINT AS n_shared,
                   CAST(round(round(coalesce(sh.n_shared, 0)::DOUBLE /
                        (sa.n + sb.n - coalesce(sh.n_shared, 0)), 6) * 1000000) AS BIGINT) AS jaccard_e6
            FROM sizes sa JOIN sizes sb ON sa.source < sb.source
            LEFT JOIN shared sh ON sh.source_a = sa.source AND sh.source_b = sb.source
        """,
        # full bigram LM re-derived in SQL: counts, context counts,
        # vocab, add-1 smoothing, one rounded ln per distinct bigram
        "bigram_logprob": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
              FROM documents),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
              FROM toks WHERE len(t) >= 2),
            cnt AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram),
            ctx AS (SELECT string_split(bigram, ' ')[1] AS lft, sum(c_ab) AS c_a
                    FROM cnt GROUP BY 1),
            v AS (SELECT count(DISTINCT u)::DOUBLE AS vocab
                  FROM (SELECT unnest(t) AS u FROM toks)),
            lm AS (SELECT bigram,
                          CAST(round(round(ln((c_ab + 1)::DOUBLE /
                               (c_a + (SELECT vocab FROM v))), 6) * 1000000) AS BIGINT) AS lnp_e6
                   FROM cnt JOIN ctx ON string_split(cnt.bigram, ' ')[1] = ctx.lft),
            dc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
            SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
                   sum(c * lnp_e6)::BIGINT AS sum_logprob_e6
            FROM dc JOIN lm USING (bigram) GROUP BY doc_id
        """,
        # formula-derived sitemap rows — the Spark side regexp-parses
        # the actual robots bytes
        "robots_sitemaps": """
            SELECT 'host' || k || '.example.com' AS host,
                   j::BIGINT AS sitemap_idx,
                   'https://host' || k || '.example.com/sitemap-' || j || '.xml' AS sitemap_url
            FROM (SELECT k, unnest(range(0, k % 3)) AS j
                  FROM range(0, 10) t(k)
                  WHERE k % 3 > 0)
        """,
        # independent recount of the shared marker list (the list is
        # the spec; the counting is this engine's own replace-diffs)
        "mojibake_score": _mojibake_oracle(),
        # integer-exact ppm shares (n * 1e6 div total)
        "dataset_card": """
            WITH per AS (
              SELECT source, lang, count(*)::BIGINT AS n_docs,
                     sum(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))::BIGINT AS n_tokens,
                     sum(length(text))::BIGINT AS n_chars
              FROM documents GROUP BY source, lang),
            tot AS (SELECT sum(n_docs) AS t_docs, sum(n_tokens) AS t_tokens FROM per)
            SELECT source, lang, n_docs, n_tokens, n_chars,
                   (n_docs * 1000000 // t_docs)::BIGINT AS docs_ppm,
                   (n_tokens * 1000000 // nullif(t_tokens, 0))::BIGINT AS tokens_ppm
            FROM per, tot
        """,
        # float32 inputs are exact in double; lo/scale/q are single IEEE
        # ops + pinned HALF_UP round — bit-exact across engines. DuckDB
        # list_transform's (x, i) lambda gives the 1-based index.
        "quantize_embeddings": """
            WITH b AS (
              SELECT vec_id,
                     list_min(embedding)::DOUBLE AS lo,
                     (list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE) / 255.0 AS scale,
                     unnest(list_transform(embedding, (x, i) -> struct_pack(i := i, x := x))) AS u
              FROM embeddings)
            SELECT vec_id,
                   (u.i - 1)::BIGINT AS dim_idx,
                   (CASE WHEN scale = 0.0 THEN 0
                         ELSE round((u.x::DOUBLE - lo) / scale) END)::BIGINT AS q,
                   CAST(round(lo * 1000000) AS BIGINT) AS lo_e6,
                   CAST(round(scale * 1000000) AS BIGINT) AS scale_e6
            FROM b
        """,
        # per-host window rank // per_host, malformed urls wave NULL
        "frontier_waves": """
            WITH f AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 5 THEN 'not a url'
                          ELSE 'https://site' || (doc_id % 7)::VARCHAR
                               || '.test/p/' || doc_id::VARCHAR END AS url,
                     CASE WHEN doc_id % 13 = 5 THEN NULL
                          ELSE 'site' || (doc_id % 7)::VARCHAR || '.test' END AS host
              FROM documents)
            SELECT doc_id, url, host,
                   CASE WHEN host IS NOT NULL THEN
                     ((row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1) // 4)::BIGINT
                   END AS wave
            FROM f
        """,
        # list_slice windows vs Spark slice() — same exact integer
        # window arithmetic (L=64, stride=48), chunk TEXT hash-compared
        "chunk_documents": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
              FROM documents),
            nz AS (SELECT doc_id, ts, len(ts)::BIGINT AS n FROM t WHERE len(ts) > 0),
            x AS (
              SELECT doc_id, ts, n,
                     unnest(range(0, CASE WHEN n <= 64 THEN 1
                                          ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_idx
              FROM nz)
            SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
                   least(n - chunk_idx * 48, 64)::BIGINT AS n_tokens,
                   array_to_string(ts[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)], ' ') AS chunk_text
            FROM x
        """,
        # per-source window cumsum, budgets as a CASE table — floors
        # with the straddling doc taken, exact BIGINT throughout
        "mixture_plan": """
            WITH t AS (
              SELECT doc_id, source,
                     len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, source, n_tokens,
                     coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
              FROM t)
            SELECT doc_id, source, n_tokens, cum_before,
                   (CASE WHEN cum_before <
                      CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 200
                                  WHEN 'src2' THEN 0 ELSE 300 END
                    THEN 1 ELSE 0 END)::BIGINT AS keep
            FROM c
        """,
        # the Spark side sniffs/decodes real BYTES; the oracle knows the
        # expected verdict + round-tripped text per synthesis rule (any
        # sniff or decode drift breaks charset/source/md5)
        "charset_decode": """
            SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 2 THEN 'utf-16-le'
                     WHEN 3 THEN 'iso8859-1'
                     ELSE 'utf-8' END AS charset,
                   CASE doc_id % 4
                     WHEN 0 THEN 'utf8-valid'
                     WHEN 3 THEN 'meta'
                     ELSE 'bom' END AS charset_source,
                   CASE WHEN doc_id % 4 = 3
                     THEN length('<meta charset="iso-8859-1"><p>café résumé '
                                  || doc_id::VARCHAR || '</p>')
                     ELSE length(text) END::BIGINT AS n_chars,
                   md5(CASE WHEN doc_id % 4 = 3
                     THEN '<meta charset="iso-8859-1"><p>café résumé '
                          || doc_id::VARCHAR || '</p>'
                     ELSE text END) AS text_md5
            FROM documents
        """,
        # single-node window cumsum + range() expansion vs Spark's
        # two-phase prefix sum + sequence() explode — independent
        # algorithms, exact BIGINT arithmetic throughout
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n
              FROM documents),
            nz AS (SELECT * FROM t WHERE n > 0),
            c AS (
              SELECT doc_id, n,
                     coalesce(sum(n) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
              FROM nz),
            x AS (
              SELECT doc_id, n, cum,
                     unnest(range(cum // 512, (cum + n - 1) // 512 + 1)) AS seq_id
              FROM c)
            SELECT doc_id, seq_id::BIGINT AS seq_id,
                   (greatest(seq_id * 512, cum) - cum)::BIGINT AS doc_offset,
                   (greatest(seq_id * 512, cum) - seq_id * 512)::BIGINT AS seq_offset,
                   (least((seq_id + 1) * 512, cum + n) - greatest(seq_id * 512, cum))::BIGINT AS n_tokens
            FROM x
        """,
        # the Spark side round-trips REAL CDX lines (format -> split ->
        # from_json -> SURT); the oracle derives the identical plan
        # directly from the base table, so any parse/SURT drift breaks
        # the hash. Epochs are integer arithmetic end to end.
        "cdx_fetch_plan": """
            WITH d AS (SELECT doc_id FROM documents),
            caps AS (
              SELECT doc_id, 1767225600 + doc_id AS ts_epoch,
                     CASE WHEN doc_id % 10 = 7 THEN 404 ELSE 200 END AS status,
                     doc_id * 1000 AS off
              FROM d
              UNION ALL
              SELECT doc_id, 1767225600 + doc_id + 86400, 200, doc_id * 1000 + 500
              FROM d WHERE doc_id % 4 = 0),
            ok AS (SELECT * FROM caps WHERE status = 200),
            latest AS (
              SELECT doc_id, max(ts_epoch) AS ts_epoch FROM ok GROUP BY doc_id)
            SELECT 'test,site' || (doc_id % 20)::VARCHAR || ')/p/' || doc_id::VARCHAR AS urlkey,
                   ts_epoch::BIGINT AS ts_epoch,
                   'https://WWW.Site' || (doc_id % 20)::VARCHAR || '.test/P/' || doc_id::VARCHAR AS url,
                   'warc/seg-' || (doc_id % 8)::VARCHAR || '.warc.gz' AS filename,
                   off::BIGINT AS offset,
                   900::BIGINT AS length
            FROM ok JOIN latest USING (doc_id, ts_epoch)
        """,
        # the STREAMING windowed agg drained complete-mode must equal
        # the batch answer; per-event fixed-pointing makes the sum an
        # exact BIGINT in both engines regardless of merge order
        "events_window_stream": """
            SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   sum(CAST(round(value * 1000000) AS BIGINT))::BIGINT AS sum_value_e6
            FROM events
            GROUP BY 1, 2
        """,
        # top-k by ONE IEEE divide of exact ints (identical double in
        # both engines; both operands < 2^53), doc_id tiebreak
        "dsir_select": """
            WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts
              FROM documents),
            grams AS (
              SELECT doc_id, lang, unnest(ts) AS g FROM toks
              UNION ALL
              SELECT doc_id, lang,
                     unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS g
              FROM toks WHERE len(ts) >= 2),
            b AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS bucket
              FROM grams),
            stats AS (
              SELECT bucket, count(*) AS rc,
                     sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc
              FROM b GROUP BY bucket),
            tot AS (SELECT sum(rc)::DOUBLE AS r_tot, sum(tc)::DOUBLE AS t_tot FROM stats),
            llr AS (
              SELECT bucket,
                     CAST(round(round(ln((tc + 1) / ((SELECT t_tot FROM tot) + 4096)), 6) * 1000000) AS BIGINT)
                   - CAST(round(round(ln((rc + 1) / ((SELECT r_tot FROM tot) + 4096)), 6) * 1000000) AS BIGINT) AS llr_e6
              FROM stats),
            dc AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket),
            w AS (
              SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
                     sum(c * llr_e6)::BIGINT AS dsir_score_e6
              FROM dc JOIN llr USING (bucket) GROUP BY doc_id)
            SELECT doc_id, n_ngrams, dsir_score_e6
            FROM w
            ORDER BY (dsir_score_e6::DOUBLE / n_ngrams::DOUBLE) DESC, doc_id ASC
            LIMIT 100
        """,
        # the bloom is an internal routing structure; the CONTRACT is
        # plain anti-join output, which the oracle states directly
        "bloom_unprocessed": """
            WITH pages AS (
              SELECT doc_id, 'https://crawl.test/' || doc_id::VARCHAR AS url
              FROM documents),
            done AS (
              SELECT url FROM pages WHERE doc_id % 3 = 0 OR doc_id % 7 = 2)
            SELECT p.doc_id, p.url
            FROM pages p ANTI JOIN done d ON p.url = d.url
        """,
        # DSIR importance weights: the bucket hash is the first 15 hex
        # chars of md5 (DuckDB parses via the 0x-prefix cast; Spark via
        # conv(_,16,10) — same 60-bit integer), each ln is 6dp-rounded
        # and fixed-pointed SEPARATELY, then the llr and the per-doc
        # score are exact BIGINT arithmetic in both engines
        "dsir_weights": """
            WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts
              FROM documents),
            grams AS (
              SELECT doc_id, lang, unnest(ts) AS g FROM toks
              UNION ALL
              SELECT doc_id, lang,
                     unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS g
              FROM toks WHERE len(ts) >= 2),
            b AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS bucket
              FROM grams),
            stats AS (
              SELECT bucket, count(*) AS rc,
                     sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc
              FROM b GROUP BY bucket),
            tot AS (SELECT sum(rc)::DOUBLE AS r_tot, sum(tc)::DOUBLE AS t_tot FROM stats),
            llr AS (
              SELECT bucket,
                     CAST(round(round(ln((tc + 1) / ((SELECT t_tot FROM tot) + 4096)), 6) * 1000000) AS BIGINT)
                   - CAST(round(round(ln((rc + 1) / ((SELECT r_tot FROM tot) + 4096)), 6) * 1000000) AS BIGINT) AS llr_e6
              FROM stats),
            dc AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket)
            SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
                   sum(c * llr_e6)::BIGINT AS dsir_score_e6
            FROM dc JOIN llr USING (bucket) GROUP BY doc_id
        """,
        # single-node window cumsum vs Spark's distributed two-phase
        # prefix sum — independent algorithms, same shard layout
        "pack_shards": """
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              FROM t)
            SELECT doc_id, n_tokens,
                   CAST(floor(cum_before / 2048.0) AS BIGINT) AS shard_id
            FROM c
        """,
        "training_corpus": _training_corpus_oracle(),
        "materialize_shards": """
            WITH t AS (
              SELECT doc_id, text,
                     len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, text, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              FROM t),
            s AS (
              SELECT doc_id, text, n_tokens,
                     CAST(floor(cum_before / 2048.0) AS BIGINT) AS shard_id
              FROM c)
            SELECT shard_id, count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS n_tokens,
                   string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS shard_text
            FROM s GROUP BY shard_id
        """,
        "shard_manifest": """
            WITH t AS (
              SELECT doc_id, text,
                     len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, text, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              FROM t),
            s AS (
              SELECT doc_id, text, n_tokens,
                     CAST(floor(cum_before / 2048.0) AS BIGINT) AS shard_id
              FROM c),
            sh AS (
              SELECT shard_id, count(*)::BIGINT AS n_docs,
                     sum(n_tokens)::BIGINT AS n_tokens,
                     string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS shard_text
              FROM s GROUP BY shard_id)
            SELECT shard_id, n_docs, n_tokens,
                   strlen(shard_text)::BIGINT AS n_bytes,
                   md5(shard_text) AS digest
            FROM sh
        """,
        "pii_scrub": r"""
            WITH t AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 4 = 1 THEN ' contact user' || doc_id || '@example-mail.com now'
                       WHEN doc_id % 4 = 2 THEN ' from 10.0.' || (doc_id % 200) || '.7 today'
                       WHEN doc_id % 4 = 3 THEN ' call 555-01' || lpad((doc_id % 10)::VARCHAR, 1, '0')
                            || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' now'
                       ELSE '' END AS text
              FROM documents),
            s1 AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
                     regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
              FROM t),
            s2 AS (
              SELECT doc_id, n_emails,
                     len(regexp_extract_all(t1, '\b(\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ips,
                     regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
              FROM s1)
            SELECT doc_id, n_emails, n_ips,
                   len(regexp_extract_all(t2, '\+\d{7,15}\b|\b\d{3}[- ]\d{3}[- ]\d{4}\b'))::BIGINT AS n_phones,
                   regexp_replace(t2, '\+\d{7,15}\b|\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS text_scrubbed
            FROM s2
        """,
        "pack_shards_shuffled": """
            WITH t AS (
              SELECT doc_id,
                     md5('shuf1:' || doc_id) AS h,
                     len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              FROM t)
            SELECT doc_id, n_tokens,
                   CAST(floor(cum_before / 2048.0) AS BIGINT) AS shard_id
            FROM c
        """,
        "wordlist_flags": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_distinct(list_filter(
                       string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS w
              FROM documents),
            hits AS (
              SELECT DISTINCT doc_id FROM toks
              WHERE w IN ('vector', 'slow', 'nonexistentword'))
            SELECT d.doc_id,
                   CAST(h.doc_id IS NOT NULL AS BIGINT) AS flagged
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "pack_shards_bpe": """
            WITH t AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              FROM t)
            SELECT doc_id, n_tokens,
                   CAST(floor(cum_before / 2048.0) AS BIGINT) AS shard_id
            FROM c
        """,
        "length_quantiles": """
            SELECT lang, count(*) AS n_docs,
                   CAST(round(quantile_cont(length(text)::DOUBLE, 0.5) * 1000000) AS BIGINT) AS p50_chars_e6,
                   CAST(round(quantile_cont(length(text)::DOUBLE, 0.9) * 1000000) AS BIGINT) AS p90_chars_e6,
                   CAST(round(quantile_cont(length(text)::DOUBLE, 0.99) * 1000000) AS BIGINT) AS p99_chars_e6
            FROM documents GROUP BY lang
        """,
        "extracted_quality": _extracted_quality_oracle(),
        "ngram_jaccard_pairs": _EXACT_JACCARD_SQL,
        # MinHash-LSH emits its exact-Jaccard-verified candidate pairs; at
        # the driver scale the planted near-dup pairs all sit at
        # jaccard >= 0.9, where the 8x4 banding's per-pair miss probability
        # is <= 8e-4 — and since the hashes are deterministic, equality
        # with the EXACT all-pairs oracle both verifies the values and
        # certifies 100% LSH recall on this corpus.
        "minhash_near_dups": _EXACT_JACCARD_SQL,
        "simhash_near_dups": _ops_golden(
            "simhash_near_dups", "doc_a, doc_b, hamming"
        ),
        # twin's brute-force all-pairs hamming with found=1 asserted —
        # certifies the banding's pigeonhole recall guarantee AND
        # signature parity in one hash
        "simhash_recall": _ops_golden(
            "simhash_recall", "doc_a, doc_b, hamming, found"
        ),
        # connected components via recursive transitive closure over the
        # EXACT pair answer (LSH recall to that answer is certified by the
        # minhash_near_dups row) — independent pairs AND independent
        # closure algorithm vs the Spark min-propagation loop
        "dedup_clusters": _dedup_clusters_oracle(),
        # duplication summary: the clusters oracle as a derived table +
        # the same two-level grouping
        "dedup_report": f"""
            WITH c AS ({_dedup_clusters_oracle()}),
            sizes AS (
              SELECT canonical_id, count(*)::BIGINT AS cluster_size
              FROM c GROUP BY canonical_id)
            SELECT cluster_size, count(*)::BIGINT AS n_clusters,
                   (count(*) * cluster_size)::BIGINT AS n_docs
            FROM sizes GROUP BY cluster_size
        """,
        # fuzzy decontamination: EXACT corpus-vs-benchmark Jaccard over
        # the same shingle definition — the banded path must find every
        # pair at j >= 0.12 (banding recall certified by
        # ngram_jaccard_pairs on this corpus)
        "fuzzy_contamination": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(t) >= 3
                       THEN list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                       ELSE [array_to_string(t, ' ')] END) AS shingles
              FROM toks),
            ex AS (
              SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
            bex AS (
              SELECT doc_id AS benchmark_id, n_sh AS nb, shingle
              FROM ex WHERE doc_id % 50 = 0),
            inter AS (
              SELECT a.doc_id, b.benchmark_id, a.n_sh AS na, b.nb AS nb,
                     count(*) AS n_inter
              FROM ex a JOIN bex b USING (shingle)
              WHERE a.doc_id <> b.benchmark_id
              GROUP BY 1, 2, 3, 4)
            SELECT doc_id, benchmark_id,
                   CAST(round(round(n_inter::DOUBLE / (na + nb - n_inter), 6) * 1000000) AS BIGINT) AS jaccard_e6
            FROM inter
            WHERE round(n_inter::DOUBLE / (na + nb - n_inter), 6) >= 0.12
        """,
        # quality-aware survivor selection: exact pairs + recursive-CTE
        # components + SQL-recomputed quality + two-step arg-max (max
        # quality, then min doc_id among the maxima) — independent of
        # the engine's LSH + min-propagation + struct-max path
        "dedup_survivors": f"""
            WITH RECURSIVE pr AS (SELECT doc_a, doc_b FROM ({_EXACT_JACCARD_SQL})),
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pr
              UNION
              SELECT doc_b AS u, doc_a AS v FROM pr),
            walk(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u),
            canon AS (
              SELECT u AS doc_id, least(min(v), u) AS canonical_id
              FROM walk GROUP BY u),
            qt AS (
              SELECT doc_id, length(text)::DOUBLE AS n_chars,
                     ({punct_expr})::DOUBLE AS n_punct,
                     ({digit_expr})::DOUBLE AS n_digit,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
              FROM documents),
            qr AS (
              SELECT doc_id,
                     CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio,
                     CASE WHEN len(toks) > 0
                          THEN len(list_filter(toks, x -> x IN {stop_list}))::DOUBLE / len(toks)
                          ELSE 0.0 END AS stop_ratio
              FROM qt),
            q AS (
              SELECT doc_id,
                     CAST(round(round(greatest(0.0, least(1.0,
                          1.0 - punct_ratio*2 - digit_ratio*2 + least(stop_ratio, 0.2))), 6)
                          * 1000000) AS BIGINT) AS quality_e6
              FROM qr),
            m AS (
              SELECT d.doc_id,
                     coalesce(c.canonical_id, d.doc_id) AS canonical_id,
                     q.quality_e6
              FROM documents d
              LEFT JOIN canon c USING (doc_id)
              JOIN q USING (doc_id)),
            mq AS (
              SELECT canonical_id, max(quality_e6) AS mx
              FROM m GROUP BY canonical_id),
            sv AS (
              SELECT m.canonical_id, min(m.doc_id) AS survivor_id
              FROM m JOIN mq ON m.canonical_id = mq.canonical_id
                            AND m.quality_e6 = mq.mx
              GROUP BY m.canonical_id)
            SELECT m.doc_id, m.canonical_id, m.quality_e6,
                   CAST(m.doc_id = sv.survivor_id AS BIGINT) AS keep
            FROM m JOIN sv USING (canonical_id)
        """,
        # repeated-substring spans: window-STRING keys (vs xxhash64) and
        # set-based NOT-EXISTS island starts + start-counting (vs
        # lag+cumsum) — both sides of the algorithm independent.
        # Coverage-based merge: positions chain while gap <= n (=13)
        "duplicate_spans": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            idx AS (
              SELECT doc_id, t, unnest(range(len(t) - 12)) AS pos
              FROM toks WHERE len(t) >= 13),
            w AS (
              SELECT doc_id, pos,
                     array_to_string(t[pos + 1 : pos + 13], ' ') AS win
              FROM idx),
            dups AS (
              SELECT doc_id, pos
              FROM (SELECT doc_id, pos,
                           count(*) OVER (PARTITION BY win) AS c FROM w)
              WHERE c > 1),
            starts AS (
              SELECT doc_id, pos FROM dups d
              WHERE NOT EXISTS (SELECT 1 FROM dups e
                                WHERE e.doc_id = d.doc_id
                                  AND e.pos BETWEEN d.pos - 13 AND d.pos - 1)),
            isl AS (
              SELECT d.doc_id, d.pos,
                     (SELECT count(*) FROM starts s
                      WHERE s.doc_id = d.doc_id AND s.pos <= d.pos) AS grp
              FROM dups d)
            SELECT doc_id,
                   min(pos)::BIGINT AS span_start,
                   (max(pos) + 12)::BIGINT AS span_end,
                   count(*)::BIGINT AS n_windows
            FROM isl GROUP BY doc_id, grp
        """,
        # span-cut rewrite: the duplicate_spans chain (string keys,
        # row_number islands) + NOT EXISTS coverage anti-join (vs
        # Spark's per-token array exists)
        "remove_duplicate_spans": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            idx AS (
              SELECT doc_id, t, unnest(range(len(t) - 12)) AS pos
              FROM toks WHERE len(t) >= 13),
            w AS (
              SELECT doc_id, pos,
                     array_to_string(t[pos + 1 : pos + 13], ' ') AS win
              FROM idx),
            dups AS (
              SELECT doc_id, pos
              FROM (SELECT doc_id, pos,
                           count(*) OVER (PARTITION BY win) AS c FROM w)
              WHERE c > 1),
            isl AS (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM dups),
            spans AS (
              SELECT doc_id, min(pos) AS s, max(pos) + 12 AS e
              FROM isl GROUP BY doc_id, grp),
            tokpos AS (
              SELECT doc_id, t, unnest(range(len(t))) AS p
              FROM toks WHERE len(t) > 0),
            tok AS (SELECT doc_id, p, t[p + 1] AS tok FROM tokpos),
            keep AS (
              SELECT k.doc_id, k.p, k.tok FROM tok k
              WHERE NOT EXISTS (SELECT 1 FROM spans s
                                WHERE s.doc_id = k.doc_id
                                  AND k.p BETWEEN s.s AND s.e)),
            agg AS (
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY p) AS text_clean,
                     count(*) AS n_kept
              FROM keep GROUP BY doc_id),
            nt AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
            SELECT n.doc_id,
                   coalesce(a.text_clean, '') AS text_clean,
                   n.n_tokens::BIGINT AS n_tokens,
                   (n.n_tokens - coalesce(a.n_kept, 0))::BIGINT AS n_removed
            FROM nt n LEFT JOIN agg a USING (doc_id)
        """,
        # URL dedup: same messy-URL construction, then an INDEPENDENT
        # canonicalizer — regexp decomposition in DuckDB vs JVM
        # try_parse_url in Spark — and keep = latest warc_ts per canon
        "url_dedup": """
            WITH base AS (
              SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v,
                     'www.example-' || ((doc_id // 4) % 7) || '.com' AS host
              FROM documents),
            urls AS (
              SELECT doc_id, doc_id AS warc_ts,
                     CASE v
                       WHEN 0 THEN 'HTTP://' || upper(host) || ':80/d/' || g || '/page?b=2&a=1#frag'
                       WHEN 1 THEN 'https://' || host || ':443/d/' || g || '/page?a=1&b=2'
                       WHEN 2 THEN 'http://' || host || '/d/' || g || '/page?a=1&b=2'
                       ELSE 'http://' || host || '/d/' || g || '/other'
                     END AS url
              FROM base),
            parts AS (
              SELECT doc_id, warc_ts, url,
                     lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS scheme,
                     regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1) AS auth,
                     regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
                     regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM urls),
            parts2 AS (
              SELECT doc_id, warc_ts, url, scheme, path, query,
                     lower(regexp_replace(auth, ':[0-9]+$', '')) AS host_l,
                     regexp_extract(auth, ':([0-9]+)$', 1) AS port
              FROM parts),
            canon AS (
              SELECT doc_id, warc_ts, url,
                     scheme || '://' || host_l
                     || CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                              AND NOT (scheme = 'https' AND port = '443')
                             THEN ':' || port ELSE '' END
                     || CASE WHEN path = '' THEN '/' ELSE path END
                     || CASE WHEN query <> ''
                             THEN '?' || array_to_string(list_sort(string_split(query, '&')), '&')
                             ELSE '' END AS canonical_url
              FROM parts2),
            ranked AS (
              SELECT doc_id, url, canonical_url,
                     row_number() OVER (PARTITION BY canonical_url
                                        ORDER BY warc_ts DESC, doc_id ASC) AS rn
              FROM canon)
            SELECT doc_id, url, canonical_url, CAST(rn = 1 AS BIGINT) AS keep
            FROM ranked
        """,
        # paragraph-level dedup: the oracle groups by the chunk STRING
        # (the spec); Spark groups by xxhash64(chunk) (the scale
        # optimization) — equality certifies the hash grouping as well
        "paragraph_dedup": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            idx AS (
              SELECT doc_id, t,
                     unnest(range(CAST(ceil(len(t) / 8.0) AS BIGINT))) AS chunk_idx
              FROM toks WHERE len(t) > 0),
            chunks AS (
              SELECT doc_id, chunk_idx,
                     array_to_string(t[(chunk_idx*8 + 1):(chunk_idx*8 + 8)], ' ') AS chunk
              FROM idx),
            ranked AS (
              SELECT doc_id, chunk_idx, chunk,
                     row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
              FROM chunks),
            kept AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_dedup
              FROM ranked WHERE rn = 1 GROUP BY doc_id),
            tot AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(t.n_chunks, 0)::BIGINT AS n_chunks,
                   coalesce(k.n_kept, 0)::BIGINT AS n_kept,
                   coalesce(k.text_dedup, '') AS text_dedup
            FROM documents d
            LEFT JOIN tot t USING (doc_id)
            LEFT JOIN kept k USING (doc_id)
        """,
        "pdf_extract_text": _ops_golden(
            "pdf_extract_text", "doc_id, text, n_blocks, error"
        ),
        # same URL-template mix as the Spark wrapper; host/path/query
        # re-derived with regexes mirroring Java parse_url's component
        # grammar (host = authority, path up to ?/#, query after ?)
        "url_features": """
            WITH u AS (
              SELECT CASE doc_id % 8
                WHEN 0 THEN 'https://plain.test/p/' || doc_id
                WHEN 1 THEN 'https://sub.a1.test/' || doc_id
                WHEN 2 THEN 'https://h' || doc_id || '.test/a/b/c?x=1&y=2'
                WHEN 3 THEN 'https://deep.x.y.z.test/a/b/c/d/e'
                WHEN 4 THEN 'https://99x7.test/p?q=' || doc_id
                WHEN 5 THEN 'https://t.test'
                WHEN 6 THEN 'not a url ' || doc_id
                ELSE 'https://mixed1.sub2.test/a?one=1&two=' || doc_id
                END AS url
              FROM documents),
            parts AS (
              SELECT url,
                CASE WHEN regexp_matches(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
                  THEN lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
                END AS host,
                regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
                CASE WHEN url LIKE '%?%'
                  THEN regexp_extract(url, '\\?([^#]*)', 1) END AS query
              FROM u)
            SELECT url, host,
              (CASE WHEN host IS NULL THEN 0
                    ELSE len(string_split(host, '.')) END)::BIGINT
                AS n_host_labels,
              (CASE WHEN host IS NULL OR length(host) = 0 THEN 0
                    ELSE (1000000 * (length(host)
                          - length(regexp_replace(host, '[0-9]', '', 'g'))))
                         // length(host) END)::BIGINT AS host_digit_e6,
              (CASE WHEN host IS NULL THEN 0
                    ELSE len(list_filter(string_split(path, '/'),
                             x -> x <> '')) END)::BIGINT AS path_depth,
              (CASE WHEN host IS NULL OR query IS NULL OR query = '' THEN 0
                    ELSE len(string_split(query, '&')) END)::BIGINT
                AS n_params,
              length(url)::BIGINT AS url_len
            FROM parts
        """,
        # planted spam burst replayed; integer ppm, (|delta| DESC,
        # term ASC) top-50
        "vocab_drift": """
            WITH newdocs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                       THEN text || ' casino casino pills' ELSE text END AS text
              FROM documents),
            ot AS (SELECT unnest(list_filter(string_split_regex(lower(text),
                     '\\s+'), x -> x <> '')) AS term FROM documents),
            nt AS (SELECT unnest(list_filter(string_split_regex(lower(text),
                     '\\s+'), x -> x <> '')) AS term FROM newdocs),
            osum AS (SELECT count(*)::BIGINT AS t FROM ot),
            nsum AS (SELECT count(*)::BIGINT AS t FROM nt),
            of AS (SELECT term, (1000000 * count(*)) // (SELECT t FROM osum)
                     AS old_ppm FROM ot GROUP BY term),
            nf AS (SELECT term, (1000000 * count(*)) // (SELECT t FROM nsum)
                     AS new_ppm FROM nt GROUP BY term),
            j AS (SELECT coalesce(of.term, nf.term) AS term,
                         coalesce(old_ppm, 0)::BIGINT AS old_ppm,
                         coalesce(new_ppm, 0)::BIGINT AS new_ppm
                  FROM of FULL OUTER JOIN nf ON of.term = nf.term
                  WHERE coalesce(old_ppm, 0) >= 100
                     OR coalesce(new_ppm, 0) >= 100)
            SELECT term, old_ppm, new_ppm,
                   (new_ppm - old_ppm)::BIGINT AS delta_ppm,
                   CASE WHEN new_ppm > old_ppm THEN 'up'
                        WHEN new_ppm < old_ppm THEN 'down'
                        ELSE 'flat' END AS direction
            FROM j
            ORDER BY abs(new_ppm - old_ppm) DESC, term ASC LIMIT 50
        """,
        # same snippet plant as the Spark wrapper; counts by
        # strip-and-diff with RE2 \x{...} classes (Java \uXXXX on the
        # Spark side — same BMP ranges)
        "script_profile": """
            WITH t AS (
              SELECT doc_id,
                CASE doc_id % 5
                  WHEN 0 THEN repeat('漢字文本測試', (doc_id % 7 + 1)::INT)
                  WHEN 1 THEN repeat('текст на русском', (doc_id % 7 + 1)::INT)
                  WHEN 2 THEN repeat('نص عربي', (doc_id % 7 + 1)::INT)
                  WHEN 3 THEN repeat('κείμενο ελληνικό', (doc_id % 7 + 1)::INT)
                  ELSE text END AS text
              FROM documents),
            c AS (
              SELECT doc_id,
                (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::BIGINT AS n_latin,
                (length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')))::BIGINT AS n_cjk,
                (length(text) - length(regexp_replace(text, '[\\x{0400}-\\x{04ff}]', '', 'g')))::BIGINT AS n_cyrillic,
                (length(text) - length(regexp_replace(text, '[\\x{0600}-\\x{06ff}]', '', 'g')))::BIGINT AS n_arabic,
                (length(text) - length(regexp_replace(text, '[\\x{0370}-\\x{03ff}]', '', 'g')))::BIGINT AS n_greek,
                (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS n_digit,
                (length(text) - length(regexp_replace(text, '[\\s]', '', 'g')))::BIGINT AS n_space,
                length(text)::BIGINT AS n_all
              FROM t)
            SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_arabic, n_greek,
                   n_digit,
                   (n_all - n_latin - n_cjk - n_cyrillic - n_arabic
                    - n_greek - n_digit - n_space)::BIGINT AS n_other,
                   CASE WHEN greatest(n_latin, n_cjk, n_cyrillic,
                                      n_arabic, n_greek) = 0 THEN 'none'
                        WHEN n_latin = greatest(n_latin, n_cjk, n_cyrillic,
                                                n_arabic, n_greek) THEN 'latin'
                        WHEN n_cjk = greatest(n_latin, n_cjk, n_cyrillic,
                                              n_arabic, n_greek) THEN 'cjk'
                        WHEN n_cyrillic = greatest(n_latin, n_cjk, n_cyrillic,
                                                   n_arabic, n_greek) THEN 'cyrillic'
                        WHEN n_arabic = greatest(n_latin, n_cjk, n_cyrillic,
                                                 n_arabic, n_greek) THEN 'arabic'
                        ELSE 'greek' END AS main_script
            FROM c
        """,
        # HDR integer bucketing replayed: bit_length via bin-string
        # length, shift arithmetic, rank = ceil(q*n/1000) smallest
        # cum >= r — pure BIGINT in both engines
        "hdr_doclen_quantiles": """
            WITH it AS (SELECT source, n_chars::BIGINT AS v FROM documents),
            b AS (SELECT source,
                    CASE WHEN v < 32 THEN v
                         ELSE 32 + 32*(length(bin(v)) - 6)
                              + ((v >> (length(bin(v)) - 6)) - 32)
                    END AS idx
                  FROM it),
            h AS (SELECT source, idx, count(*)::BIGINT AS cnt
                  FROM b GROUP BY 1, 2),
            c AS (SELECT source, idx, cnt,
                    sum(cnt) OVER (PARTITION BY source ORDER BY idx) AS cum,
                    sum(cnt) OVER (PARTITION BY source) AS n
                  FROM h),
            q AS (SELECT c.*, q_permille,
                         greatest((q_permille * n + 999) // 1000, 1) AS r
                  FROM c CROSS JOIN (VALUES (500), (900), (990))
                       AS qs(q_permille)),
            p AS (SELECT source, q_permille, min(idx) AS idx
                  FROM q WHERE cum >= r GROUP BY 1, 2)
            SELECT source, q_permille::BIGINT AS q_permille,
              (CASE WHEN idx < 32 THEN idx
                    ELSE (32 + ((idx-32)%32)) << ((idx-32)//32)
               END)::BIGINT AS value_lo,
              (CASE WHEN idx < 32 THEN idx
                    ELSE ((32 + ((idx-32)%32)) << ((idx-32)//32))
                         + (1 << ((idx-32)//32)) - 1
               END)::BIGINT AS value_hi
            FROM p
        """,
        # same strata + md5(seed:doc_id) pick order as the operator
        "stratified_sample": """
            WITH r AS (
              SELECT doc_id, source, lang,
                     row_number() OVER (
                       PARTITION BY source, lang
                       ORDER BY md5('strat1:' || doc_id), doc_id
                     ) AS pick_order
              FROM documents)
            SELECT doc_id, source, lang, pick_order::BIGINT AS pick_order
            FROM r WHERE pick_order <= 3
        """,
        # host_quality tier chain replayed, then the md5('review1:'||url)
        # pick window per (tier, lang) cell, k=2
        "review_queue": f"""
            WITH base AS (
              SELECT doc_id, lang,
                     'h' || (doc_id % 40) || '.test' AS host,
                     'https://h' || (doc_id % 40) || '.test/p/' || doc_id AS url,
                     length(text)::BIGINT AS n_chars,
                     ({punct_expr})::BIGINT AS n_punct,
                     ({digit_expr})::BIGINT AS n_digit,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
            q AS (
              SELECT host, lang, url,
                greatest(0, least(1000000,
                  1000000
                  - 2 * (CASE WHEN n_chars > 0
                         THEN (1000000 * n_punct) // n_chars ELSE 0 END)
                  - 2 * (CASE WHEN n_chars > 0
                         THEN (1000000 * n_digit) // n_chars ELSE 0 END)
                  + least(CASE WHEN len(toks) > 0
                          THEN (1000000 * len(list_filter(toks,
                                x -> x IN {stop_list}))) // len(toks)
                          ELSE 0 END, 200000)
                ))::BIGINT AS q_e6
              FROM base),
            agg AS (SELECT host, count(*)::BIGINT AS n_pages,
                           sum(q_e6)::BIGINT AS sq
                    FROM q GROUP BY host),
            tiers AS (
              SELECT host,
                CASE WHEN n_pages >= 3 AND sq >= 550000 * n_pages THEN 'allow'
                     WHEN sq < 350000 * n_pages THEN 'block'
                     ELSE 'review' END AS tier
              FROM agg),
            r AS (
              SELECT url, q.host AS host, tier, lang,
                     row_number() OVER (
                       PARTITION BY tier, lang
                       ORDER BY md5('review1:' || url), url) AS pick_order
              FROM q JOIN tiers ON tiers.host = q.host)
            SELECT url, host, tier, lang, pick_order::BIGINT AS pick_order
            FROM r WHERE pick_order <= 2
        """,
        # same host layout as the Spark wrapper; per-page quality is
        # the integer floor-div composite, summed as BIGINTs
        "host_quality": f"""
            WITH base AS (
              SELECT 'h' || (doc_id % 40) || '.test' AS host, lang,
                     length(text)::BIGINT AS n_chars,
                     ({punct_expr})::BIGINT AS n_punct,
                     ({digit_expr})::BIGINT AS n_digit,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
            q AS (
              SELECT host, lang,
                greatest(0, least(1000000,
                  1000000
                  - 2 * (CASE WHEN n_chars > 0
                         THEN (1000000 * n_punct) // n_chars ELSE 0 END)
                  - 2 * (CASE WHEN n_chars > 0
                         THEN (1000000 * n_digit) // n_chars ELSE 0 END)
                  + least(CASE WHEN len(toks) > 0
                          THEN (1000000 * len(list_filter(toks,
                                x -> x IN {stop_list}))) // len(toks)
                          ELSE 0 END, 200000)
                ))::BIGINT AS q_e6
              FROM base),
            bl AS (SELECT host, lang, count(*)::BIGINT AS n,
                          sum(q_e6)::BIGINT AS sq
                   FROM q GROUP BY 1, 2),
            r AS (SELECT *, row_number() OVER (PARTITION BY host
                        ORDER BY n DESC, lang ASC) AS rn FROM bl),
            agg AS (SELECT host, sum(n)::BIGINT AS n_pages,
                           sum(sq)::BIGINT AS sum_quality_e6,
                           max(CASE WHEN rn = 1 THEN lang END) AS top_lang
                    FROM r GROUP BY host)
            SELECT host, n_pages, sum_quality_e6, top_lang,
              CASE WHEN n_pages >= 3
                    AND sum_quality_e6 >= 550000 * n_pages THEN 'allow'
                   WHEN sum_quality_e6 < 350000 * n_pages THEN 'block'
                   ELSE 'review' END AS tier
            FROM agg
        """,
        # expected = the clean construction (latin-1 round trip is
        # bijective, so repair must reproduce it byte-exactly); flags
        # follow the doc_id%3 plant rule
        "mojibake_repair": """
            SELECT doc_id,
                   text || ' café à la ümlaut' AS text,
                   (CASE WHEN doc_id % 3 IN (0, 1) THEN 1 ELSE 0 END)::BIGINT
                     AS changed,
                   (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2
                     ELSE 0 END)::BIGINT AS n_rounds
            FROM documents
        """,
        "hll_distinct_terms": _ops_golden(
            "hll_distinct_terms",
            "\"group\" AS source, est_distinct, n_zero, exact_distinct, err_permille",
        ),
        "cms_heavy_hitters": _ops_golden(
            "cms_heavy_hitters", "term, est_count, exact_count, rank"
        ),
        "winnowing_fingerprints": _ops_golden(
            "winnowing_fingerprints", "doc_id, n_fingerprints, min_fingerprint"
        ),
        "semdedup": _ops_golden("semdedup", "vec_id, cell, canonical_id, keep"),
        "pq_codes": _ops_golden("pq_codes", "vec_id, sub, code"),
        "pq_topk": _ops_golden("pq_topk", "query_id, neighbor_id, adc_e6, rank"),
        "ann_topk_ivfpq": _ops_golden(
            "ann_topk_ivfpq", "query_id, neighbor_id, adc_e6, rank"
        ),
        "ivfpq_recall": _ops_golden("ivfpq_recall", "query_id, k, n_found"),
        "text_semdedup": _ops_golden(
            "text_semdedup", "vec_id, cell, canonical_id, keep"
        ),
        # hashing-trick embedding spec replayed in SQL: bucket =
        # (md5_32 >> 1) mod 64, sign = low bit, dense grid via range()
        "hashed_embeddings": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
            hh AS (SELECT doc_id, ('0x' || substring(md5(tk), 1, 8))::BIGINT AS h
                   FROM tok),
            contrib AS (
              SELECT doc_id, (h // 2) % 64 AS dim_idx,
                     sum(CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END)::BIGINT AS v
              FROM hh GROUP BY 1, 2),
            grid AS (SELECT doc_id, unnest(range(64))::BIGINT AS dim_idx
                     FROM documents)
            SELECT g.doc_id, g.dim_idx, coalesce(c.v, 0)::BIGINT AS v
            FROM grid g LEFT JOIN contrib c USING (doc_id, dim_idx)
        """,
        "image_phash": _ops_golden("image_phash", "id, phash"),
        "phash_near_dups": _ops_golden("phash_near_dups", "id_a, id_b, hamming"),
        # classifier inference re-derived end-to-end in SQL: same md5
        # hashing trick (first 8 hex chars -> int mod 2^20), same
        # fixed-point weight formula, bag-of-words WITH multiplicity
        "classifier_quality": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            feats AS (
              SELECT doc_id,
                     unnest(list_concat(t,
                       CASE WHEN len(t) >= 2
                         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                         ELSE [] END)) AS f
              FROM toks),
            ids AS (
              SELECT doc_id,
                     (('0x' || substring(md5(f), 1, 8))::BIGINT % 1048576) AS fid
              FROM feats),
            sc AS (
              SELECT doc_id, count(*)::BIGINT AS n_features,
                     sum(fid % 2001 - 1000)::BIGINT AS score_e6
              FROM ids GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(sc.n_features, 0)::BIGINT AS n_features,
                   coalesce(sc.score_e6, 0)::BIGINT AS score_e6,
                   (coalesce(sc.score_e6, 0) >= 0)::BIGINT AS keep
            FROM documents d LEFT JOIN sc USING (doc_id)
        """,
        # perceptron training replayed as unrolled chained CTEs (the
        # host_pagerank pattern): round 1 updates on ALL docs (w=0 ->
        # y*0 <= 0), rounds 2-3 on y*margin <= 0, clamp ±2^40 after
        # every round; final margins scored with w3/b3.
        "perceptron_quality": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            feats AS (
              SELECT doc_id,
                     unnest(list_concat(t,
                       CASE WHEN len(t) >= 2
                         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                         ELSE [] END)) AS f
              FROM toks),
            ids AS (
              SELECT doc_id, (('0x' || substring(md5(f), 1, 8))::BIGINT % 1048576) AS fid
              FROM feats),
            lab AS (
              SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE -1 END)::BIGINT AS y
              FROM documents),
            cl AS (
              SELECT i.doc_id, i.fid, count(*)::BIGINT AS c, any_value(l.y) AS y
              FROM ids i JOIN lab l USING (doc_id) GROUP BY i.doc_id, i.fid),
            w1 AS (
              SELECT fid, greatest(least(sum(y * c), 1099511627776), -1099511627776)::BIGINT AS w
              FROM cl GROUP BY fid),
            b1 AS (SELECT greatest(least(sum(y), 1099511627776), -1099511627776)::BIGINT AS b FROM lab),
            m2 AS (
              SELECT l.doc_id, l.y, (coalesce(s.m, 0) + b.b)::BIGINT AS margin
              FROM lab l
              LEFT JOIN (SELECT cl.doc_id, sum(w1.w * cl.c) AS m
                         FROM cl JOIN w1 USING (fid) GROUP BY cl.doc_id) s USING (doc_id)
              CROSS JOIN b1 b),
            wr2 AS (SELECT doc_id, y FROM m2 WHERE y * margin <= 0),
            u2 AS (SELECT fid, sum(cl.y * cl.c) AS u FROM cl JOIN wr2 USING (doc_id) GROUP BY fid),
            w2 AS (
              SELECT coalesce(w1.fid, u2.fid) AS fid,
                     greatest(least(coalesce(w1.w, 0) + coalesce(u2.u, 0),
                              1099511627776), -1099511627776)::BIGINT AS w
              FROM w1 FULL JOIN u2 ON w1.fid = u2.fid),
            b2 AS (
              SELECT greatest(least(b1.b + coalesce((SELECT sum(y) FROM wr2), 0),
                              1099511627776), -1099511627776)::BIGINT AS b
              FROM b1),
            m3 AS (
              SELECT l.doc_id, l.y, (coalesce(s.m, 0) + b.b)::BIGINT AS margin
              FROM lab l
              LEFT JOIN (SELECT cl.doc_id, sum(w2.w * cl.c) AS m
                         FROM cl JOIN w2 USING (fid) GROUP BY cl.doc_id) s USING (doc_id)
              CROSS JOIN b2 b),
            wr3 AS (SELECT doc_id, y FROM m3 WHERE y * margin <= 0),
            u3 AS (SELECT fid, sum(cl.y * cl.c) AS u FROM cl JOIN wr3 USING (doc_id) GROUP BY fid),
            w3 AS (
              SELECT coalesce(w2.fid, u3.fid) AS fid,
                     greatest(least(coalesce(w2.w, 0) + coalesce(u3.u, 0),
                              1099511627776), -1099511627776)::BIGINT AS w
              FROM w2 FULL JOIN u3 ON w2.fid = u3.fid),
            b3 AS (
              SELECT greatest(least(b2.b + coalesce((SELECT sum(y) FROM wr3), 0),
                              1099511627776), -1099511627776)::BIGINT AS b
              FROM b2),
            mf AS (
              SELECT l.doc_id, l.y, (coalesce(s.m, 0) + b.b)::BIGINT AS margin
              FROM lab l
              LEFT JOIN (SELECT cl.doc_id, sum(w3.w * cl.c) AS m
                         FROM cl JOIN w3 USING (fid) GROUP BY cl.doc_id) s USING (doc_id)
              CROSS JOIN b3 b)
            SELECT doc_id, y, margin, (margin > 0)::BIGINT AS pred_pos
            FROM mf
        """,
        "bpe_merges": _ops_golden("bpe_merges", "rank, left_sym, right_sym"),
        "bpe_vocab": _ops_golden("bpe_vocab", "token_id, token"),
        "compression_stats": _ops_golden(
            "compression_stats", "doc_id, n_bytes, n_bytes_zlib"
        ),
        "bpe_encode": _ops_golden(
            "bpe_encode", "doc_id, n_tokens, n_unique_tokens"
        ),
        "ann_topk_brute": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_dot_product(q.q_emb::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[]))
                        * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 9) AS cos
              FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
        """,
        "embedding_near_dups_exact_baseline": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(round(round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
                     * 1000000) AS BIGINT) AS cos_e6
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE CAST(round(round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
                     * 1000000) AS BIGINT) >= 420000
        """,
        # LSH/IVF goldens: pure-Python twins replicating Spark's sequential
        # vector folds bit-for-bit (tools/oracle_twins.py); recall vs the
        # exact baseline is separately pytest-gated
        "embedding_near_dups": _ops_golden(
            "embedding_near_dups", "id_a, id_b, cos_e6"
        ),
        # components over the INDEPENDENT twin-golden pair parquet
        # (independent pairs) via recursive transitive closure
        # (independent closure vs the Spark min-propagation loop)
        "embedding_dedup_clusters": f"""
            WITH RECURSIVE pr AS (
              SELECT id_a AS doc_a, id_b AS doc_b
              FROM read_parquet('{_tools_import().ops_golden_path("embedding_near_dups")}')),
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pr
              UNION
              SELECT doc_b AS u, doc_a AS v FROM pr),
            walk(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u),
            canon AS (
              SELECT u AS vid, least(min(v), u) AS canonical_id
              FROM walk GROUP BY u)
            SELECT e.vec_id,
                   coalesce(c.canonical_id, e.vec_id) AS canonical_id,
                   CAST(coalesce(c.canonical_id, e.vec_id) = e.vec_id AS BIGINT) AS keep
            FROM embeddings e LEFT JOIN canon c ON c.vid = e.vec_id
        """,
        "ann_topk_lsh": _ops_golden("ann_topk_lsh", "query_id, neighbor_id, rank"),
        "ann_topk_ivf": _ops_golden("ann_topk_ivf", "query_id, neighbor_id, rank"),
        "label_centroids": """
            WITH ex AS (
              SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
              FROM embeddings),
            per_dim AS (
              SELECT label, pos, avg(val::DOUBLE) AS avg_val, count(*) AS n
              FROM ex GROUP BY label, pos)
            SELECT label,
                   CAST(pos - 1 AS BIGINT) AS pos,
                   CAST(round(round(avg_val, 6) * 1000000) AS BIGINT) AS centroid_e6,
                   n::BIGINT AS n
            FROM per_dim
        """,
        "events_window": """
            SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   CAST(round(sum(value) * 1000000) AS BIGINT) AS sum_value_e6
            FROM events GROUP BY 1, 2
        """,
        "user_sessions": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id,
                     sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_idx
              FROM g)
            SELECT user_id, max(session_idx)::BIGINT AS n_sessions, count(*) AS n_events
            FROM s GROUP BY user_id
        """,
        "top_users": """
            SELECT user_id,
                   CAST(round(sum(value) * 1000000) AS BIGINT) AS total_value_e6,
                   count(*) AS n_events
            FROM events GROUP BY user_id
            ORDER BY total_value_e6 DESC, user_id ASC LIMIT 10
        """,
        "props_json_stats": """
            WITH t AS (
              SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
            SELECT event_type,
                   count(k) AS n_with_k,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k,
                   max(k) AS max_k
            FROM t GROUP BY event_type
        """,
        "daily_event_stats": """
            SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(round(avg(value) * 1000000) AS BIGINT) AS avg_value_e6
            FROM events GROUP BY 1
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(l_quantity) * 1000000) AS BIGINT) AS sum_qty_e6,
                   CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_base_price_c,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_c,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "segment_order_stats": """
            SELECT c_mktsegment,
                   count(*) AS n_orders,
                   CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS total_price_c,
                   count(DISTINCT o_custkey) AS n_customers
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        **_multimodal_oracles(),
        **_linkgraph_oracles(),
    }
    # composed diagnostics: built FROM the per-filter oracle strings
    # above, so the ablation oracle can never drift from the filters'
    gflags = [
        "flag_word_count", "flag_mean_word_len", "flag_symbol_ratio",
        "flag_bullet_lines", "flag_ellipsis_lines", "flag_alpha_words",
        "flag_stopwords",
    ]
    fails = ",\n".join(
        f"sum(1 - {f})::BIGINT AS {f}" for f in gflags
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT 'gopher:{f.removeprefix('flag_')}' AS rule, {f} AS n_fail, n FROM a"
        for f in gflags
    )
    d["filter_ablation"] = f"""
        WITH g AS ({d["gopher_rules"]}),
        c AS ({d["c4_line_filter"]}),
        w AS ({d["wordlist_flags"]}),
        j AS (
          SELECT g.doc_id, {", ".join("g." + f for f in gflags)},
                 g.keep AS gk, c.keep AS ck, w.flagged AS wf
          FROM g JOIN c USING (doc_id) JOIN w USING (doc_id)),
        a AS (
          SELECT count(*)::BIGINT AS n,
                 {fails},
                 sum(1 - gk)::BIGINT AS gall,
                 sum(1 - ck)::BIGINT AS cfail,
                 sum(wf)::BIGINT AS wfail,
                 sum(CASE WHEN gk = 0 OR ck = 0 OR wf = 1 THEN 1 ELSE 0 END)::BIGINT AS anyf
          FROM j)
        SELECT rule, n_fail, (1000000 * n_fail) // n AS fail_ppm FROM (
          {unions}
          UNION ALL SELECT 'gopher:all', gall, n FROM a
          UNION ALL SELECT 'c4:lines', cfail, n FROM a
          UNION ALL SELECT 'wordlist', wfail, n FROM a
          UNION ALL SELECT 'any', anyf, n FROM a
        )
    """
    return d


def _html_tables_oracle(n: int) -> str:
    """Formula replay of synth_table_html's spec (htmlextract.py) in
    pure SQL — no HTML on the oracle side, so the _TableParser kernel's
    implied-close/normalization semantics are independently checked.
    d%5==4 pages contribute nothing; table t of doc d has a header row
    iff (d+t)%2==0, 1+((d+t)%3) data rows, 2+((d+t)%2) columns."""
    return f"""
        WITH docs AS (SELECT range::BIGINT AS d FROM range({n}) WHERE range % 5 <> 4),
        tabs AS (SELECT d, unnest(range(1 + d % 2))::BIGINT AS t FROM docs),
        dims AS (
          SELECT d, t, ((d + t) % 2 = 0) AS hh,
                 1 + ((d + t) % 3) AS n_rows, 2 + ((d + t) % 2) AS n_cols
          FROM tabs),
        hdr AS (
          SELECT 'https://tables.test/' || d AS url, t AS table_idx,
                 0::BIGINT AS row_idx, c::BIGINT AS col_idx,
                 1::BIGINT AS is_header,
                 'h' || d || '-' || t || '-' || c AS cell
          FROM dims, unnest(range(dims.n_cols)) AS cc(c) WHERE hh),
        dat AS (
          SELECT 'https://tables.test/' || d AS url, t AS table_idx,
                 (r + CASE WHEN hh THEN 1 ELSE 0 END)::BIGINT AS row_idx,
                 c::BIGINT AS col_idx, 0::BIGINT AS is_header,
                 'v' || d || '-' || t || '-' || r || '-' || c AS cell
          FROM dims, unnest(range(dims.n_rows)) AS rr(r),
               unnest(range(dims.n_cols)) AS cc(c))
        SELECT * FROM hdr UNION ALL SELECT * FROM dat
    """


def _jsonld_oracle(n: int) -> str:
    """Formula replay of synth_jsonld_html's spec: d%4==0 -> Article
    block; d%4==1 -> Product + NewsArticle blocks; d%4==2 -> invalid
    JSON (NULL fields by construction); d%4==3 -> nothing. The oracle
    never parses HTML or JSON."""
    return f"""
        WITH docs AS (SELECT range::BIGINT AS d FROM range({n})),
        rows_ld AS (
          SELECT 'https://ld.test/' || d AS url, 0::BIGINT AS block_idx,
                 'Article' AS jtype, 'Art ' || d AS name
          FROM docs WHERE d % 4 = 0
          UNION ALL
          SELECT 'https://ld.test/' || d, 0::BIGINT, 'Product', 'Prod ' || d
          FROM docs WHERE d % 4 = 1
          UNION ALL
          SELECT 'https://ld.test/' || d, 1::BIGINT, 'NewsArticle', 'News ' || d
          FROM docs WHERE d % 4 = 1
          UNION ALL
          SELECT 'https://ld.test/' || d, 0::BIGINT, NULL, NULL
          FROM docs WHERE d % 4 = 2)
        SELECT url, block_idx, jtype, name FROM rows_ld
    """


def _linkgraph_oracles() -> dict[str, str]:
    """Formula-derived oracles for the linked-pages corpus (see
    _linked_pages_links_sql) — self-contained SQL, no filesystem
    reads, n matching _linked_pages (sf * 10_000)."""
    n = max(int(_tools_import().oracle_sf() * 10_000), 10)
    return {
        "outlinks": (
            "SELECT src_url, dst_url, href FROM ("
            + _linked_pages_links_sql(n)
            + ")"
        ),
        # formula-derived inlink consolidation: counts + distinct src
        # hosts per dst; every generated anchor is 'doc ' || dst, so
        # the top anchor is that constant wherever the dst has inlinks
        "inlink_summary": (
            """
            SELECT dst_url, count(*)::BIGINT AS n_inlinks,
                   count(DISTINCT 'host' || (i % 20) || '.example.com')::BIGINT AS n_src_hosts,
                   'doc ' || dst AS top_anchor
            FROM ("""
            + _linked_pages_links_sql(n)
            + """)
            GROUP BY dst_url, dst
            """
        ),
        "host_pagerank": _host_pagerank_oracle(n, n_iters=5),
        "host_trustrank": _host_trustrank_oracle(n, n_iters=5),
        "frontier_expand": _frontier_expand_oracle(n, max_hops=3),
        "html_tables": _html_tables_oracle(n),
        "jsonld_fields": _jsonld_oracle(n),
        # crawl-delay formula replay: only the m==1 hosts carry a
        # '*'-group delay ((k%5).5 s -> ms); other-agent-scoped and
        # malformed values are NULL by construction
        "robots_crawl_delay": f"""
            SELECT 'host' || k || '.example.com' AS host,
                   CASE WHEN k % 4 = 1 THEN (k % 5) * 1000 + 500 END::BIGINT
                     AS crawl_delay_ms
            FROM (SELECT range::BIGINT AS k FROM range({n}))
        """,
        # apportionment over the pagerank oracle as a derived table;
        # global (rem DESC, host ASC) ranking is result-equivalent to
        # the operator's histogram-cutoff construction
        "crawl_budgets": f"""
            WITH sc AS (
              SELECT host, rank_e12 AS score
              FROM ({_host_pagerank_oracle(n, n_iters=5)})),
            tot AS (SELECT sum(score)::BIGINT AS t FROM sc),
            base AS (
              SELECT host, score,
                     (1000000 * score) // t AS fl,
                     (1000000 * score) % t AS rem
              FROM sc, tot),
            rr AS (SELECT (1000000 - sum(fl))::BIGINT AS r FROM base),
            rk AS (
              SELECT *, row_number() OVER (ORDER BY rem DESC, host ASC) AS rn
              FROM base)
            SELECT host, score,
                   (fl + CASE WHEN rn <= rr.r THEN 1 ELSE 0 END)::BIGINT AS quota
            FROM rk, rr
        """,
        "robots_filter": """
            SELECT doc_id,
                   'https://host' || (doc_id % 10) || '.example.com' ||
                   CASE doc_id % 4
                     WHEN 0 THEN '/page/' || doc_id
                     WHEN 1 THEN '/blocked/x' || doc_id
                     WHEN 2 THEN '/blocked/except/y' || doc_id
                     ELSE '/doc' || doc_id || '.pdf' END AS url,
                   CASE
                     WHEN doc_id % 4 = 1 THEN 0
                     WHEN doc_id % 4 = 3 AND doc_id % 10 % 2 = 1 THEN 0
                     ELSE 1 END::BIGINT AS allowed,
                   CASE
                     WHEN doc_id % 4 = 0 THEN '/page*'
                     WHEN doc_id % 4 = 1 THEN '/blocked/'
                     WHEN doc_id % 4 = 2 THEN '/blocked/except/'
                     WHEN doc_id % 4 = 3 AND doc_id % 10 % 2 = 1 THEN '/*.pdf$'
                     ELSE NULL END AS matched_rule
            FROM documents
        """,
        "containment_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(t) >= 3
                       THEN list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                       ELSE [array_to_string(t, ' ')] END) AS shingles
              FROM toks),
            ex AS (
              SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
                     count(*) AS n_inter
              FROM ex a JOIN ex b USING (shingle)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4),
            d AS (
              SELECT doc_a AS doc_id, doc_b AS other_id,
                     round(n_inter::DOUBLE / na, 6) AS c
              FROM inter
              UNION ALL
              SELECT doc_b, doc_a, round(n_inter::DOUBLE / nb, 6) FROM inter)
            SELECT doc_id, other_id,
                   CAST(round(c * 1000000) AS BIGINT) AS containment_e6
            FROM d WHERE c >= 0.5
        """,
        # independent recomputation of BOTH the exact answer and the
        # rare-shingle candidate selection ((df, shingle)-ordered top-k
        # is deterministic and engine-independent); `found` certifies
        # the candidate path's recall — see _q_containment_recall
        "containment_candidates_recall": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(t) >= 3
                       THEN list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                       ELSE [array_to_string(t, ' ')] END) AS shingles
              FROM toks),
            ex AS (
              SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
            dfreq AS (
              SELECT shingle, count(*) AS df FROM ex GROUP BY 1),
            rare AS (
              SELECT doc_id, shingle FROM (
                SELECT e.doc_id, e.shingle,
                       row_number() OVER (PARTITION BY e.doc_id
                                          ORDER BY d.df, e.shingle) AS rn
                FROM ex e JOIN dfreq d USING (shingle))
              WHERE rn <= 5),
            cand AS (
              SELECT DISTINCT least(r.doc_id, e.doc_id) AS ca,
                              greatest(r.doc_id, e.doc_id) AS cb
              FROM rare r JOIN ex e USING (shingle)
              WHERE r.doc_id <> e.doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
                     count(*) AS n_inter
              FROM ex a JOIN ex b USING (shingle)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4),
            d AS (
              SELECT doc_a AS doc_id, doc_b AS other_id,
                     round(n_inter::DOUBLE / na, 6) AS c
              FROM inter
              UNION ALL
              SELECT doc_b, doc_a, round(n_inter::DOUBLE / nb, 6) FROM inter)
            SELECT d.doc_id, d.other_id,
                   CAST(round(c * 1000000) AS BIGINT) AS containment_e6,
                   CAST(CASE WHEN cand.ca IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS found
            FROM d LEFT JOIN cand
              ON cand.ca = least(d.doc_id, d.other_id)
             AND cand.cb = greatest(d.doc_id, d.other_id)
            WHERE c >= 0.5
        """,
        "snapshot_diff": """
            WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 9),
            n AS (SELECT doc_id,
                         CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
                  FROM documents WHERE doc_id % 10 <> 0)
            SELECT CAST(coalesce(o.doc_id, n.doc_id) AS VARCHAR) AS url,
                   CASE WHEN o.doc_id IS NULL THEN 'new'
                        WHEN n.doc_id IS NULL THEN 'gone'
                        WHEN o.text = n.text THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   md5(o.text) AS old_digest,
                   md5(n.text) AS new_digest
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        """,
        "gopher_rules": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w,
                     list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                                 l -> l <> '') AS ln
              FROM documents),
            m AS (
              SELECT doc_id,
                     len(w)::BIGINT AS n_words,
                     len(ln)::BIGINT AS n_lines,
                     coalesce(list_sum(list_transform(w, x -> length(x))), 0)::BIGINT AS chars,
                     ((length(text) - length(replace(text, '#', '')))
                      + (length(text) - length(replace(text, '...', ''))) / 3
                      + (length(text) - length(replace(text, '…', ''))))::BIGINT AS symbols,
                     len(list_filter(ln, l -> regexp_matches(l, '^[-*•]')))::BIGINT AS bullets,
                     len(list_filter(ln, l -> regexp_matches(l, '(\\.\\.\\.|…)$')))::BIGINT AS ellipsis,
                     len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS alpha,
                     len(list_filter(w, x -> lower(x) IN
                       ('the','be','to','of','and','that','have','with')))::BIGINT AS stops
              FROM t)
            SELECT doc_id, n_words, n_lines,
                   (n_words >= 50 AND n_words <= 100000)::BIGINT AS flag_word_count,
                   (3*n_words <= chars AND chars <= 10*n_words)::BIGINT AS flag_mean_word_len,
                   (10*symbols <= n_words)::BIGINT AS flag_symbol_ratio,
                   (10*bullets <= 9*n_lines)::BIGINT AS flag_bullet_lines,
                   (10*ellipsis <= 3*n_lines)::BIGINT AS flag_ellipsis_lines,
                   (5*alpha >= 4*n_words)::BIGINT AS flag_alpha_words,
                   (stops >= 2)::BIGINT AS flag_stopwords,
                   (n_words >= 50 AND n_words <= 100000
                    AND 3*n_words <= chars AND chars <= 10*n_words
                    AND 10*symbols <= n_words
                    AND 10*bullets <= 9*n_lines
                    AND 10*ellipsis <= 3*n_lines
                    AND 5*alpha >= 4*n_words
                    AND stops >= 2)::BIGINT AS keep
            FROM m
        """,
        "c4_line_filter": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                                 l -> l <> '') AS ln
              FROM documents),
            k AS (
              SELECT doc_id, ln,
                     list_filter(ln, l -> regexp_matches(l, '[.!?"]$')
                       AND len(list_filter(string_split_regex(l, '\\s+'), x -> x <> '')) >= 5
                       AND NOT contains(lower(l), 'javascript')) AS kept,
                     contains(lower(text), 'lorem ipsum') AS lorem,
                     contains(text, '{') AS brace
              FROM t)
            SELECT doc_id, len(ln)::BIGINT AS n_lines,
                   len(kept)::BIGINT AS n_kept_lines,
                   lorem::BIGINT AS has_lorem, brace::BIGINT AS has_brace,
                   (len(kept) >= 3 AND NOT lorem AND NOT brace)::BIGINT AS keep,
                   -- array_to_string([]) is NULL in DuckDB, '' in Spark
                   coalesce(array_to_string(kept, chr(10)), '') AS text_clean
            FROM k
        """,
        "url_blocklist": """
            WITH u AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 4 THEN 'not a url ' || doc_id
                          WHEN doc_id % 5 = 0 THEN 'https://sub.host' || (doc_id % 10) || '.example.com/p/' || doc_id
                          ELSE 'https://host' || (doc_id % 10) || '.example.com/p/' || doc_id
                     END AS url
              FROM documents)
            SELECT doc_id, url,
                   CASE WHEN doc_id % 5 = 4 THEN NULL
                        WHEN doc_id % 5 = 0 THEN 'sub.host' || (doc_id % 10) || '.example.com'
                        ELSE 'host' || (doc_id % 10) || '.example.com'
                   END AS host,
                   CASE WHEN doc_id % 5 <> 4 AND (doc_id % 10) IN (3, 5, 7)
                        THEN 1 ELSE 0 END::BIGINT AS blocked
            FROM u
        """,
    }


def _multimodal_oracles() -> dict[str, str]:
    """DuckDB twins for the multimodal queries, recomputed from the RAW
    payload bytes (not by calling the fake decoders): the fake decode
    contract is pixels = sha256(payload) tiled to 8x8x3, so the expected
    features/means/frame hashes are sha256 + hex-pair arithmetic. The
    media table itself is regenerated INLINE in the SQL from the
    deterministic contract (multimodal.synth_media_pdf: payload =
    hexdigest(sha256('seed:i')) repeated 1 + i%5 times, kind cycling
    image/audio/video) — fully self-contained, no filesystem reads and
    no side effects, so the oracle runs in any DuckDB, including one
    with external file access disabled (r03's read_parquet('/tmp/...')
    version produced no driver rows). tests/test_multimodal.py pins the
    inline CTE byte-identical to synth_media_pdf. Valid at the oracle
    scale (driver default sf0.01; SPARK_GRAFT_ORACLE_SF selects the
    sf0.1 sweep)."""
    n = max(int(_tools_import().oracle_sf() * 10_000), 10)  # matches _media
    media_cte = _media_inline_sql(n)

    def byte_at(pos_expr: str) -> str:
        # 0-based byte of the sha256 hex digest h
        return (
            f"((strpos('0123456789abcdef', substr(h, ({pos_expr})*2+1, 1))-1)*16"
            f" + (strpos('0123456789abcdef', substr(h, ({pos_expr})*2+2, 1))-1))"
        )

    # full-image per-channel-0 mean over 64 pixels: tiled[3p] = digest[(3p)%32]
    f0_sum = (
        "list_sum(list_transform(range(0, 64), p -> " + byte_at("(3*p)%32") + "))"
    )
    # nearest-neighbor 8x8 -> 4x4 keeps pixels (y,x) in {0,2,4,6}^2
    resize_positions = [y * 8 + x for y in (0, 2, 4, 6) for x in (0, 2, 4, 6)]
    pos_list = "[" + ", ".join(str(p) for p in resize_positions) + "]"
    chan_means = []
    for c, name in ((0, "mean_r"), (1, "mean_g"), (2, "mean_b")):
        s = f"list_sum(list_transform({pos_list}, p -> {byte_at(f'(3*p+{c})%32')}))"
        chan_means.append(
            f"CAST(floor(CAST({s} AS DOUBLE)/16.0) AS BIGINT) AS {name}"
        )
    return {
        # byte-tier media dedup: oracle groups by the payload VALUE,
        # Spark by md5 of the binary — independent keys, same decision
        "media_dedup": """
            WITH m AS (
              SELECT doc_id AS id, 'payload-' || (doc_id % 200) AS p
              FROM documents),
            w AS (SELECT p, min(id) AS win, count(*) AS n_copies
                  FROM m GROUP BY p)
            SELECT m.id, CAST(m.id = w.win AS BIGINT) AS keep, w.n_copies
            FROM m JOIN w USING (p)
        """,
        "multimodal_features": f"""
            WITH media AS ({media_cte}),
            m AS (SELECT id, kind, sha256(p) AS h FROM media)
            SELECT id, kind, 8::BIGINT AS width, 8::BIGINT AS height,
                   CAST(round(CAST(CAST({f0_sum} AS DOUBLE)/64.0/255.0 AS FLOAT)::DOUBLE
                        * 1000000) AS BIGINT) AS f0_e6,
                   CAST(NULL AS VARCHAR) AS error
            FROM m
        """,
        "multimodal_resize": f"""
            WITH media AS ({media_cte}),
            m AS (SELECT id, sha256(p) AS h FROM media)
            SELECT id, 4::BIGINT AS width, 4::BIGINT AS height,
                   {", ".join(chan_means)},
                   CAST(NULL AS VARCHAR) AS error
            FROM m
        """,
        "video_frame_sample": f"""
            WITH media AS ({media_cte}),
            v AS (SELECT id, p, length(p)::INT AS len
                  FROM media WHERE kind = 'video'),
            f AS (SELECT id, p,
                         unnest(list_slice(range(0, 1 + len % 20, 3), 1, 5)) AS frame_idx
                  FROM v)
            SELECT id, frame_idx::BIGINT AS frame_idx,
                   substr(sha256(p || ':' || frame_idx::VARCHAR), 1, 16) AS frame_hash,
                   CAST(NULL AS VARCHAR) AS error
            FROM f
        """,
    }


def _training_corpus_oracle() -> str:
    """DuckDB twin for the end-to-end training_corpus chain: the stage
    oracles composed in one WITH RECURSIVE chain, each stage reading
    the previous stage's CTE instead of `documents`. Independence is
    inherited from the stages: exact all-pairs Jaccard (vs LSH
    candidates), recursive-CTE transitive closure (vs iterative
    min-propagation), single-node window cumsum (vs two-phase prefix
    sum). Parameters mirror _q_training_corpus exactly: threshold 0.5,
    chunk_words 8, the source_weighted_sample rate table, quality gate
    round(q,6) >= 0.3, budget 2048."""
    punct = " + ".join(
        f"(length(text) - length(replace(text, '{c}', '')))"
        for c in [".", ",", "!", "?", ";", ":"]
    )
    digit = " + ".join(
        f"(length(text) - length(replace(text, '{d}', '')))" for d in range(10)
    )
    return f"""
        WITH RECURSIVE s1 AS (
          SELECT d.doc_id, d.source, d.text FROM documents d
          JOIN (SELECT min(doc_id) AS doc_id FROM documents
                GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) k
          USING (doc_id)),
        toks1 AS (
          SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                             x -> x <> '') AS t
          FROM s1),
        sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(t) >= 3
                   THEN list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                   ELSE [array_to_string(t, ' ')] END) AS shingles
          FROM toks1),
        ex AS (
          SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
                 count(*) AS n_inter
          FROM ex a JOIN ex b USING (shingle)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
        pr AS (
          SELECT doc_a, doc_b FROM inter
          WHERE round(n_inter::DOUBLE / (na + nb - n_inter), 6) >= 0.5),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM pr
          UNION
          SELECT doc_b AS u, doc_a AS v FROM pr),
        walk(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u),
        canon AS (
          SELECT u AS doc_id, least(min(v), u) AS canonical_id
          FROM walk GROUP BY u),
        s2 AS (
          SELECT s1.doc_id, s1.source, s1.text
          FROM s1 LEFT JOIN canon c USING (doc_id)
          WHERE coalesce(c.canonical_id, s1.doc_id) = s1.doc_id),
        toks2 AS (
          SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                             x -> x <> '') AS t
          FROM s2),
        idx AS (
          SELECT doc_id, t,
                 unnest(range(CAST(ceil(len(t) / 8.0) AS BIGINT))) AS chunk_idx
          FROM toks2 WHERE len(t) > 0),
        chunks AS (
          SELECT doc_id, chunk_idx,
                 array_to_string(t[(chunk_idx*8 + 1):(chunk_idx*8 + 8)], ' ') AS chunk
          FROM idx),
        ranked AS (
          SELECT doc_id, chunk_idx, chunk,
                 row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
          FROM chunks),
        kept AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_dedup
          FROM ranked WHERE rn = 1 GROUP BY doc_id),
        s3 AS (
          SELECT s2.doc_id, s2.source, k.text_dedup AS text
          FROM s2 JOIN kept k USING (doc_id)
          WHERE k.n_kept > 0),
        qin AS (
          SELECT doc_id, length(text)::DOUBLE AS n_chars,
                 ({punct})::DOUBLE AS n_punct,
                 ({digit})::DOUBLE AS n_digit,
                 list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
          FROM s3),
        qr AS (
          SELECT doc_id,
                 CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
                 CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio,
                 CASE WHEN len(tk) > 0
                      THEN len(list_filter(tk, x -> x IN ('the','a','and','of','to','in')))::DOUBLE / len(tk)
                      ELSE 0.0 END AS stop_ratio
          FROM qin),
        s4 AS (
          SELECT s3.doc_id, s3.source, s3.text
          FROM s3 JOIN qr USING (doc_id)
          WHERE round(greatest(0.0, least(1.0,
                1.0 - qr.punct_ratio*2 - qr.digit_ratio*2
                + least(qr.stop_ratio, 0.2))), 6) >= 0.3),
        s5 AS (
          SELECT doc_id, source, text FROM s4
          WHERE substr(md5('mix1:' || doc_id), 1, 8) < CASE source
                  WHEN 'src0' THEN '40000000'
                  WHEN 'src1' THEN '80000000'
                  WHEN 'src2' THEN '00000000'
                  WHEN 'src3' THEN 'g'
                  ELSE 'c0000000' END),
        pt AS (
          SELECT doc_id, source, text,
                 len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
          FROM s5),
        c6 AS (
          SELECT doc_id, source, text, n_tokens,
                 coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          FROM pt)
        SELECT doc_id, source, text, n_tokens,
               CAST(floor(cum_before / 2048.0) AS BIGINT) AS shard_id
        FROM c6
    """


def _mojibake_oracle() -> str:
    """Marker-count recount in DuckDB over the same planted-damage
    synthesis; MOJIBAKE_MARKERS is the shared spec, the counting is
    independent replace-diff arithmetic."""
    from gocrd_spark.operators.textstats import MOJIBAKE_MARKERS

    def cnt(m: str) -> str:
        esc = m.replace("'", "''")
        return (
            f"((length(text) - length(replace(text, '{esc}', ''))) // {len(m)})"
        )

    moji = " + ".join(cnt(m) for m in MOJIBAKE_MARKERS if m != "�")
    repl = cnt("�")
    return f"""
        WITH t AS (
          SELECT doc_id,
                 coalesce(text, '') || CASE WHEN doc_id % 5 = 1 THEN ' cafÃ© isnâ€™t'
                              WHEN doc_id % 5 = 2 THEN ' bad�byte'
                              ELSE '' END AS text
          FROM documents)
        SELECT doc_id,
               ({moji})::BIGINT AS n_mojibake,
               ({repl})::BIGINT AS n_replacement,
               (CASE WHEN ({moji}) + ({repl}) > 0 THEN 1 ELSE 0 END)::BIGINT AS flag_mojibake
        FROM t
    """


def _linked_pages_links_sql(n: int) -> str:
    """Expected outlink rows of the synth_linked_html(n) corpus,
    derived from the GENERATING FORMULA (page i links to
    (i*7 + j + 1) % n for j in range(i % 4); host = i % 20) — pure
    arithmetic, no HTML parsing, so it is independent of the DOM
    walker under test. Columns (i, dst, src_url, dst_url, href)."""
    return f"""
        SELECT i, dst,
               'https://host' || (i % 20) || '.example.com/page/' || i AS src_url,
               'https://host' || (dst % 20) || '.example.com/page/' || dst AS dst_url,
               CASE WHEN dst % 20 = i % 20 THEN '/page/' || dst
                    ELSE 'https://host' || (dst % 20) || '.example.com/page/' || dst
               END AS href
        FROM (
          SELECT i, (i*7 + j + 1) % {n} AS dst
          FROM (SELECT i, unnest(range(0, i % 4)) AS j
                FROM range(0, {n}) t(i)
                WHERE i % 4 > 0))
    """


def _host_pagerank_oracle(n: int, n_iters: int = 5) -> str:
    """DuckDB twin of host_pagerank over the formula-derived edges:
    the IDENTICAL integer recurrence (rank*1e12 BIGINT, integer
    division everywhere), unrolled as chained CTEs (standard SQL
    forbids aggregation in a recursive term). Exact integer arithmetic
    makes the comparison bit-deterministic — no float tolerance."""
    scale = 10**12
    ctes = [
        f"links AS ({_linked_pages_links_sql(n)})",
        """e AS (
          SELECT 'host' || (i % 20) || '.example.com' AS src_host,
                 'host' || (dst % 20) || '.example.com' AS dst_host,
                 count(*)::BIGINT AS n_links
          FROM links GROUP BY 1, 2)""",
        """hosts AS (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM e
            UNION ALL SELECT dst_host FROM e))""",
        "nn AS (SELECT count(*)::BIGINT AS n FROM hosts)",
        """deg AS (
          SELECT src_host, sum(n_links)::BIGINT AS out_total
          FROM e GROUP BY 1)""",
        f"""r0 AS (
          SELECT host, ({scale} // n)::BIGINT AS rank_e12
          FROM hosts, nn)""",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(f"""r{k} AS (
          SELECT h.host,
                 (({15 * scale} // (100 * nn.n))
                  + (85 * coalesce(x.inc, 0)) // 100)::BIGINT AS rank_e12
          FROM hosts h CROSS JOIN nn
          LEFT JOIN (
            -- widened split identity, SAME form as the operator
            -- ((q*n + (r mod d)*n div d) == (q*d + r mod d)*n div d):
            -- the naive (rank*n)//d product overflows int64 once
            -- rank*n > 9.2e18, i.e. far before the operator does
            -- (ADVICE r04)
            SELECT e.dst_host AS host,
                   sum((r.rank_e12 // d.out_total) * e.n_links
                       + ((r.rank_e12 % d.out_total) * e.n_links)
                         // d.out_total)::BIGINT AS inc
            FROM r{k - 1} r
            JOIN deg d ON r.host = d.src_host
            JOIN e ON e.src_host = d.src_host
            GROUP BY 1) x ON x.host = h.host)""")
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT host, rank_e12 FROM r{n_iters}"
    )


def _host_trustrank_oracle(n: int, n_iters: int = 5) -> str:
    """DuckDB twin of host_trustrank: the host_pagerank unroll with the
    teleport term restricted to the seed hosts (host{0,5,10,15} — must
    match _q_host_trustrank) and the seed-only initial vector."""
    scale = 10**12
    seed_pred = "host IN ('host0.example.com','host5.example.com'," \
        "'host10.example.com','host15.example.com')"
    ctes = [
        f"links AS ({_linked_pages_links_sql(n)})",
        """e AS (
          SELECT 'host' || (i % 20) || '.example.com' AS src_host,
                 'host' || (dst % 20) || '.example.com' AS dst_host,
                 count(*)::BIGINT AS n_links
          FROM links GROUP BY 1, 2)""",
        """hosts AS (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM e
            UNION ALL SELECT dst_host FROM e))""",
        f"ns AS (SELECT count(*)::BIGINT AS n FROM hosts WHERE {seed_pred})",
        """deg AS (
          SELECT src_host, sum(n_links)::BIGINT AS out_total
          FROM e GROUP BY 1)""",
        f"""r0 AS (
          SELECT host,
                 (CASE WHEN {seed_pred} THEN {scale} // n ELSE 0 END)::BIGINT
                   AS trust_e12
          FROM hosts, ns)""",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(f"""r{k} AS (
          SELECT h.host,
                 ((CASE WHEN h.{seed_pred}
                        THEN {15 * scale} // (100 * ns.n) ELSE 0 END)
                  + (85 * coalesce(x.inc, 0)) // 100)::BIGINT AS trust_e12
          FROM hosts h CROSS JOIN ns
          LEFT JOIN (
            -- widened split identity, same form as the operator
            SELECT e.dst_host AS host,
                   sum((r.trust_e12 // d.out_total) * e.n_links
                       + ((r.trust_e12 % d.out_total) * e.n_links)
                         // d.out_total)::BIGINT AS inc
            FROM r{k - 1} r
            JOIN deg d ON r.host = d.src_host
            JOIN e ON e.src_host = d.src_host
            GROUP BY 1) x ON x.host = h.host)""")
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT host, trust_e12 FROM r{n_iters}"
    )


def _frontier_expand_oracle(n: int, max_hops: int = 3) -> str:
    """DuckDB twin of frontier_expand over the formula-derived host
    graph: unrolled BFS (aggregates are legal in CHAINED CTEs, unlike
    recursive terms — the host_pagerank discipline), seeds matching
    _q_frontier_expand. Shortest hop distance is iteration-order-free,
    so the unroll matches the operator's loop exactly."""
    seed_pred = "host IN ('host0.example.com','host5.example.com'," \
        "'host10.example.com','host15.example.com')"
    ctes = [
        f"links AS ({_linked_pages_links_sql(n)})",
        """e AS (
          SELECT DISTINCT 'host' || (i % 20) || '.example.com' AS src,
                 'host' || (dst % 20) || '.example.com' AS dst
          FROM links)""",
        # seeds are a fixed list, not derived from the graph
        """d0 AS (
          SELECT host, 0 AS hop FROM (VALUES
            ('host0.example.com'), ('host5.example.com'),
            ('host10.example.com'), ('host15.example.com')) s(host))""",
    ]
    for k in range(1, max_hops + 1):
        ctes.append(f"""d{k} AS (
          SELECT host, min(hop)::BIGINT AS hop FROM (
            SELECT host, hop FROM d{k - 1}
            UNION ALL
            SELECT e.dst AS host, {k} AS hop
            FROM d{k - 1} f JOIN e ON e.src = f.host
            WHERE f.hop = {k - 1}) GROUP BY host)""")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT host, hop FROM d{max_hops}"


def _media_inline_sql(n: int, seed: int = 42) -> str:
    """The deterministic media table as a pure-SQL CTE body: mirrors
    multimodal.synth_media_pdf row for row — payload bytes are the
    printable-ASCII hexdigest of sha256('seed:i') repeated 1 + i%5
    times (here as VARCHAR p; the parquet stores the same bytes as
    BLOB), kind cycles image/audio/video by i%3. Pinned equal to
    synth_media_pdf by tests/test_multimodal.py."""
    return (
        f"SELECT i AS id, ['image','audio','video'][(i % 3) + 1] AS kind, "
        f"repeat(sha256('{seed}:' || i::VARCHAR), 1 + i % 5) AS p "
        f"FROM range(0, {n}) t(i)"
    )
