"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure built-in ``pyspark.sql.functions`` expressions —
JVM-side, whole-stage-codegen'd, zero Python in the hot path. Each has a
DuckDB-oracle-compatible SQL twin in ``__spark_entry__.oracle_sql``.

Operators:
- ``token_stats``    — whitespace tokenization counts + length stats
- ``quality_score``  — boilerplate/quality heuristics (punct/digit/short-line ratios)
- ``lang_id``        — stopword-hit language guess (de/en/es/fr heuristic)
- ``fingerprint``    — md5 document fingerprint over whitespace-normalized text

At 100 TB these are narrow maps over the scan (no shuffle, no UDF):
the plan is Scan -> Project with WholeStageCodegen covering everything.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _norm_ws(col: Column) -> Column:
    """Lowercase + whitespace-collapse + trim — the shared pre-hash
    normalization (same form as dedup._norm_text)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _tokens(col: Column) -> Column:
    """Non-empty whitespace-delimited tokens."""
    return F.filter(F.split(col, r"\s+"), lambda x: x != F.lit(""))


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics (doc_id, n_tokens, n_chars_actual,
    avg_token_len)."""
    tokens = _tokens(F.col("text"))
    n_tokens = F.size(tokens)
    total_token_chars = F.aggregate(
        tokens, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return docs.select(
        F.col("doc_id"),
        n_tokens.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.round(
            F.when(n_tokens > 0, total_token_chars.cast("double") / n_tokens).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("avg_token_len"),
    )


def _count_char(col: Column, ch: str) -> Column:
    return F.length(col) - F.length(F.replace(col, F.lit(ch), F.lit("")))


def quality_score(docs: DataFrame) -> DataFrame:
    """Quality heuristics per document: punctuation density, digit density,
    stop-token ratio, and a composite score in [0,1]. Fixed character
    classes (not locale regex classes) so the SQL oracle is bit-identical."""
    text = F.col("text")
    n_chars = F.length(text).cast("double")
    n_punct = sum(_count_char(text, c) for c in [".", ",", "!", "?", ";", ":"])
    n_digit = sum(_count_char(text, str(d)) for d in range(10))
    tokens = _tokens(text)
    n_tokens = F.size(tokens)
    n_stop = F.size(
        F.filter(tokens, lambda x: x.isin("the", "a", "and", "of", "to", "in"))
    )
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(
        F.lit(0.0)
    )
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(1.0) - punct_ratio * 2 - digit_ratio * 2
            + F.least(stop_ratio, F.lit(0.2)),
        ),
    )
    return docs.select(
        "doc_id",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


# stopword markers per language — chosen to be unambiguous LIKE patterns
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "nicht", "ist"],
    "en": ["the", "and", "of", "is", "not"],
    "es": ["el", "los", "que", "es", "y"],
    "fr": ["le", "les", "et", "est", "ne"],
}


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram-free stopword-hit language guess. Each language scores the
    count of its marker words present (as whole tokens); highest score
    wins, ties broken by language code order; zero hits -> 'und'
    (undetermined). Deterministic and SQL-expressible."""
    tokens = _tokens(F.lower(F.col("text")))
    scores = {
        lang: sum(
            F.when(F.array_contains(tokens, m), 1).otherwise(0) for m in markers
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best_score = F.greatest(*scores.values())
    guess = F.lit("und")
    # reversed so earlier language codes win ties via later .when override
    for lang in sorted(scores, reverse=True):
        guess = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(guess)
    guess = F.when(best_score == 0, F.lit("und")).otherwise(guess)
    return docs.select(
        "doc_id",
        guess.alias("lang_guess"),
        best_score.cast("int").alias("marker_hits"),
    )


def nfc_fingerprint(docs: DataFrame) -> DataFrame:
    """Unicode-normalized (NFC) fingerprint: combining sequences like
    'aͤ' and their precomposed forms hash identically — required for
    dedup over historic-text corpora (the gocrd fixtures carry combining
    diacritics). Spark has no built-in NFC, so this is a vectorized
    pandas_udf (unicodedata); the DuckDB twin uses nfc_normalize."""
    import unicodedata

    @pandas_udf("string")
    def nfc(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    norm = nfc(_norm_ws(F.col("text")))
    return docs.select(
        "doc_id",
        F.md5(F.encode(norm, "utf-8")).alias("nfc_fingerprint"),
        F.length(norm).cast("long").alias("nfc_len"),
    )


def vocab_top_terms(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k terms by document frequency (explode ->
    distinct per doc -> count), ties broken by term. The classic
    shuffle-on-term aggregation with map-side partial counts."""
    tokens = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.lower(F.col("text"))))).alias("term")
    )
    counts = tokens.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    return counts.orderBy(F.col("doc_freq").desc(), F.col("term").asc()).limit(k)


def tfidf_top_terms(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus-level TF-IDF: per term, total frequency × ln(N/df) — the
    classic two-aggregation shape (explode -> term stats with map-side
    partials) with the corpus size joined in as a broadcast singleton
    (no driver-side count, no literal compiled into the plan).
    Returns top-k (term, tf, df, tfidf_e6), ties broken by term."""
    tokens = docs.select(
        "doc_id", F.explode(_tokens(F.lower(F.col("text")))).alias("term")
    )
    stats = tokens.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # ln() is the one transcendental feeding an oracle-compared value:
    # round it to 6dp FIRST so a last-ULP libm divergence between engines
    # cannot flip the final BIGINT at a .5 boundary (both sides then
    # multiply identical doubles)
    idf6 = F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
    scored = stats.crossJoin(F.broadcast(total)).select(
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * idf6 * 1_000_000).cast("long").alias("tfidf_e6"),
    )
    return scored.orderBy(F.col("tfidf_e6").desc(), F.col("term").asc()).limit(k)


def doclen_histogram(docs: DataFrame, bucket_chars: int = 100) -> DataFrame:
    """Document-length histogram: floor(n_chars / bucket) buckets."""
    bucket = F.floor(F.length("text") / bucket_chars).cast("long")
    return docs.groupBy(bucket.alias("len_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.length("text")).cast("long").alias("min_len"),
        F.max(F.length("text")).cast("long").alias("max_len"),
    )


BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _token_count(token_mode: str) -> tuple[Column, str]:
    """``(count, pattern)`` for a packing tokenizer: the token count of
    ``text``, and a regex that ``text`` matches iff the count is > 0."""
    if token_mode == "whitespace":
        return F.size(_tokens(F.col("text"))), r"\S"
    if token_mode == "bpe":
        toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_PATTERN), 0)
        return F.size(toks), BPE_TOKEN_PATTERN
    raise ValueError(f"token_mode must be 'whitespace' or 'bpe', got {token_mode!r}")


def token_stats_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish tokenization (letters-runs | digit-runs | single symbol —
    the GPT-2 pre-tokenizer's shape without the byte-level merges):
    pure regexp_extract_all, no UDF. Complements the whitespace
    tokenizer in token_stats."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_bpe_tokens"),
    )


def winnowing_fingerprints(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.): hash every
    k-char gram of the normalized text, then keep the minimum hash of
    each w-window — the classic rolling-hash fingerprint selection for
    plagiarism/near-dup detection. Pure built-ins: substring grams +
    xxhash64 + per-window array_min; output is the distinct selected
    hash set per document."""
    import numpy as np

    # the normalized text must be a BOUND column, not an inline
    # regexp_replace chain: the gram lambda below references it per
    # element, and HOF lambda bodies get no common-subexpression
    # elimination — inlined, the full normalization re-ran per gram,
    # O(n²) regexp work (measured 10x on ~1.5 KB docs; the same trap
    # _shingles_of_tokens documents for the shingle path)
    norm = F.col("_norm")
    n = F.length(norm)
    # k-gram hashes JVM-side (substr with dynamic start: Column.substr).
    # NB: the window-minimum step must NOT be a nested transform over
    # slice(grams, ...) — lambda bodies are re-evaluated per element with
    # no common-subexpression elimination, turning it O(n^2). The minima
    # fold runs vectorized in an Arrow pandas_udf instead (numpy sliding
    # window), same hybrid as dedup.simhash64.
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.xxhash64(norm.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array(F.xxhash64(norm)))

    @pandas_udf("array<long>")
    def window_minima(gram_arrays: pd.Series) -> pd.Series:
        out = []
        for gs in gram_arrays:
            arr = np.asarray(gs, dtype=np.int64)
            if len(arr) >= w:
                view = np.lib.stride_tricks.sliding_window_view(arr, w)
                minima = view.min(axis=1)
            else:
                minima = arr.min(keepdims=True)
            out.append(sorted(set(int(x) for x in minima)))
        return pd.Series(out)

    return (
        docs.select("doc_id", _norm_ws(F.col("text")).alias("_norm"))
        .select("doc_id", grams.alias("grams"))
        .select("doc_id", window_minima("grams").alias("fingerprints"))
    )


def training_set_filter(
    docs: DataFrame,
    min_chars: int = 100,
    min_quality_e6: int = 800_000,
    langs: tuple[str, ...] = ("en", "de"),
) -> DataFrame:
    """End-to-end training-data selection: the operators composed the way
    a corpus pipeline uses them — quality gate, language gate, length
    gate, then exact dedup keeping the lowest doc_id per normalized-text
    hash. Returns the surviving (doc_id, lang_guess, quality_e6)."""
    q = quality_score(docs).select(
        "doc_id", (F.round(F.col("quality") * 1_000_000)).cast("long").alias("quality_e6")
    )
    lang = lang_id(docs).select("doc_id", "lang_guess")
    # two consumers (the canonical groupBy and the final label-back
    # join) — pinned so the quality_score + lang_id chains run once
    kept = (
        docs.select("doc_id", "text")
        .filter(F.length("text") >= min_chars)
        .join(q, "doc_id")
        .filter(F.col("quality_e6") >= min_quality_e6)
        .join(lang, "doc_id")
        .filter(F.col("lang_guess").isin(*langs))
        .localCheckpoint(eager=False)
    )
    canonical = kept.groupBy(
        F.md5(F.encode(_norm_ws(F.col("text")), "utf-8")).alias("h")
    ).agg(F.min("doc_id").alias("doc_id"))
    return (
        canonical.join(kept, "doc_id")
        .select("doc_id", "lang_guess", "quality_e6")
    )


def source_stats(docs: DataFrame) -> DataFrame:
    """Per-source corpus accounting — the first query any training-data
    pipeline runs after ingestion: volume, language spread, size, and
    exact-dup rate per source. One shuffle on the (low-cardinality)
    source key with map-side partial aggregation; the md5 for the
    distinct-text count is computed in the map stage so the exchange
    carries 16-byte hashes, not text."""
    h = F.md5(F.encode(_norm_ws(F.col("text")), "utf-8"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.round(F.avg(F.length("text")) * 1_000_000).cast("long").alias("avg_chars_e6"),
        F.countDistinct(h).alias("n_unique_texts"),
    )


def corpus_split(
    docs: DataFrame,
    valid_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Deterministic content-stable train/valid/test assignment: bucket =
    first byte of md5(normalized text) -> split by percentage bands.
    Content-keyed (not row-keyed) so exact duplicates always land in the
    same split — the leakage guard a training pipeline actually needs.
    Narrow map + no shuffle; returns (doc_id, split)."""
    bucket = F.conv(F.substring(F.md5(F.encode(_norm_ws(F.col("text")), "utf-8")), 1, 2), 16, 10).cast("int")
    # bucket in [0, 255]; bands: test | valid | train
    test_hi = int(256 * test_pct / 100)
    valid_hi = test_hi + int(256 * valid_pct / 100)
    split = (
        F.when(bucket < test_hi, F.lit("test"))
        .when(bucket < valid_hi, F.lit("valid"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", split.alias("split"))


def length_quantiles(docs: DataFrame) -> DataFrame:
    """Exact per-language length quantiles (p50/p90/p99, linear
    interpolation) — corpus shape diagnostics; one shuffle on lang with
    the classic sort-based exact percentile."""
    ln = F.length("text").cast("double")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.round(F.percentile(ln, F.lit(p)) * 1_000_000)
            .cast("long")
            .alias(f"p{int(p * 100)}_chars_e6")
            for p in (0.5, 0.9, 0.99)
        ],
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over lowercased, whitespace-collapsed,
    trimmed text — the canonical pre-dedup normalization."""
    norm = _norm_ws(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(F.encode(norm, "utf-8")).alias("fingerprint"),
        F.length(norm).cast("long").alias("norm_len"),
    )


def _sample_threshold(rate: float) -> str:
    """8-hex-char keep threshold for a sampling rate in [0, 1]: a doc is
    kept iff the first 8 chars of its md5 band compare lexicographically
    below it. Lowercase fixed-width hex orders exactly like the number
    it spells (0-9 < a-f in ASCII), so neither engine ever parses hex —
    the Spark plan and the DuckDB oracle both do one string compare.
    rate >= 1 maps to 'g', which every hex digit sorts below (keep-all);
    rate 0 maps to '00000000' (keep-none)."""
    if rate < 0:
        raise ValueError(f"sampling rate must be >= 0, got {rate}")
    if rate >= 1.0:
        return "g"
    return format(int(rate * 16**8), "08x")


def source_weighted_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    seed: str = "mix1",
    strata_col: str = "source",
) -> DataFrame:
    """Deterministic per-source downsampling — the domain-reweighting
    step of a training-data mix (keep 100% of books, 10% of generic
    crawl, ...). keep iff md5(seed:doc_id) band < the source's
    threshold: id-keyed (every run and every engine picks the same
    docs), seed-parameterized (a new mix draws an independent sample),
    and exactly reproducible from (rates, seed) alone — no RNG state.

    The rate table rides a broadcast DataFrame join, not plan literals,
    so a production mix over thousands of domains leaves the plan size
    constant (same pattern as the IVF quantizer and the LSH planes).
    Narrow map + broadcast join: zero shuffles at any corpus size.

    Returns every input row labeled: (doc_id, <strata_col>, keep 0/1).
    """
    spark = docs.sparkSession
    rows = [(s, _sample_threshold(r)) for s, r in sorted(rates.items())]
    rates_df = spark.createDataFrame(rows, f"{strata_col} string, _thr string")
    band = F.substring(
        F.md5(
            F.encode(
                F.concat(F.lit(seed), F.lit(":"), F.col("doc_id").cast("string")),
                "utf-8",
            )
        ),
        1,
        8,
    )
    return (
        docs.select("doc_id", strata_col, band.alias("_band"))
        .join(F.broadcast(rates_df), strata_col, "left")
        .select(
            "doc_id",
            strata_col,
            (
                F.col("_band")
                < F.coalesce(F.col("_thr"), F.lit(_sample_threshold(default_rate)))
            )
            .cast("long")
            .alias("keep"),
        )
    )


def pack_shards(
    docs: DataFrame,
    budget_tokens: int = 2048,
    bucket_size: int = 1000,
    token_mode: str = "whitespace",
    order: str = "id",
    seed: str = "shuf1",
) -> DataFrame:
    """Token-budget shard assignment: lay the corpus out in a global
    order and cut it into training shards of ~``budget_tokens`` tokens
    each (shard_id = cumulative-tokens-before // budget) — the step
    that turns a filtered corpus into fixed-size training inputs.

    ``order`` selects the layout: ``'id'`` (doc_id order — stable,
    debuggable) or ``'shuffled'`` (md5(seed:doc_id) order — the
    DECORRELATED layout training actually wants: id-ordered packing
    puts same-source/same-crawl neighbors in the same shard, and a
    data loader reading shards sequentially then sees correlated
    batches). The shuffle is deterministic and seed-parameterized, no
    RNG state — same trick as corpus_split/source_weighted_sample.
    NOTE: ``bucket_size`` applies to the ``'id'`` layout only; the
    shuffled layout buckets by the hash's 3-hex prefix (4096 fixed,
    uniformly loaded buckets — per-bucket rows = n_docs/4096, and the
    offsets window sorts at most 4096 rows at any corpus size).

    ``token_mode`` selects the budget unit: ``'whitespace'`` (cheap
    proxy) or ``'bpe'`` (the GPT-2-shaped pre-tokenizer of
    ``token_stats_bpe`` — letters-runs | digit-runs | single symbol).
    Training budgets are tokenizer-unit budgets, so ``'bpe'`` is what a
    real shard cut wants; both are pure JVM regexp counts, identical
    plan shape.

    The global running sum is a DISTRIBUTED two-phase prefix sum, not a
    single giant window: doc_ids bucket into ranges of ``bucket_size``;
    per-bucket token sums roll up to bucket offsets (one tiny
    n_docs/bucket_size-row window — the only unpartitioned sort, over
    thousands of rows at trillions of docs with a large bucket_size),
    broadcast back, and each bucket computes its intra-bucket cumsum in
    parallel (window PARTITIONED by bucket). The DuckDB oracle uses a
    plain single-node window cumsum — an independent algorithm for the
    same spec.

    Returns (doc_id, n_tokens, shard_id), every doc assigned.
    """
    from pyspark.sql import Window

    tok_count, _ = _token_count(token_mode)
    toks = docs.select("doc_id", tok_count.cast("long").alias("n_tokens"))
    if order == "id":
        b = toks.withColumn("bucket", F.floor(F.col("doc_id") / bucket_size))
        intra_order = [F.col("doc_id")]
    elif order == "shuffled":
        # global order = md5(seed:doc_id) asc, doc_id tiebreak. The
        # prefix-sum bucket is the hash's first 3 hex chars (4096
        # buckets) — a string PREFIX, so bucket asc + hash asc inside
        # equals global hash order, and the two-phase sum stays exact.
        h = F.md5(
            F.encode(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col("doc_id").cast("string")
                ),
                "utf-8",
            )
        )
        toks = toks.withColumn("_h", h)
        b = toks.withColumn("bucket", F.substring("_h", 1, 3))
        intra_order = [F.col("_h"), F.col("doc_id")]
    else:
        raise ValueError(f"order must be 'id' or 'shuffled', got {order!r}")
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        b.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bsum"))
        .withColumn("boffset", F.coalesce(F.sum("bsum").over(wb), F.lit(0)))
        .select("bucket", "boffset")
    )
    wi = (
        Window.partitionBy("bucket")
        .orderBy(*intra_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "cum_before",
            F.col("boffset") + F.coalesce(F.sum("n_tokens").over(wi), F.lit(0)),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.col("cum_before") / F.lit(float(budget_tokens)))
            .cast("long")
            .alias("shard_id"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    bucket_size: int = 1000,
    token_mode: str = "whitespace",
) -> DataFrame:
    """Fixed-length training-SEQUENCE layout: concatenate the corpus's
    token stream in doc_id order and cut it every ``seq_len`` tokens —
    the GPT-style dataloader layout where a document may straddle
    sequence boundaries and a sequence holds pieces of several
    documents (attention masks and loss spans need exactly these
    boundaries). One output row per (document, sequence) overlap:

    - ``doc_offset``: first token of the doc that lands in this seq;
    - ``seq_offset``: position inside the sequence where it lands;
    - ``n_tokens``: length of the placed span.

    Every sequence except the last covers exactly ``seq_len`` tokens
    (pytest invariant); a doc spanning k boundaries emits k+1 rows.
    The global running offset is the same distributed two-phase prefix
    sum as :func:`pack_shards` (per-bucket sums -> tiny offsets window
    -> broadcast back); the boundary expansion is a per-row
    ``sequence()`` explode whose length is 1 + n_tokens/seq_len —
    bounded by the doc/seq ratio, never corpus size. All arithmetic is
    exact BIGINT (integer div), so the DuckDB window-cumsum oracle
    hash-matches.

    Returns (doc_id, seq_id, doc_offset, seq_offset, n_tokens); docs
    with zero tokens occupy no stream positions and emit no rows.
    """
    from pyspark.sql import Window

    # the keep filter reads ``text`` alone: a filter on the projected
    # count is pushed below the projection and re-runs the tokenizer
    tok_count, token_re = _token_count(token_mode)
    L = int(seq_len)
    toks = (
        docs.filter(F.col("text").rlike(token_re))
        .select("doc_id", tok_count.cast("long").alias("n"))
        .withColumn("bucket", F.floor(F.col("doc_id") / bucket_size))
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        toks.groupBy("bucket")
        .agg(F.sum("n").alias("bsum"))
        .withColumn("boffset", F.coalesce(F.sum("bsum").over(wb), F.lit(0)))
        .select("bucket", "boffset")
    )
    wi = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = (
        toks.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "cum",
            F.col("boffset") + F.coalesce(F.sum("n").over(wi), F.lit(0)),
        )
        .select("doc_id", "n", "cum")
    )
    x = c.select(
        "doc_id",
        "n",
        "cum",
        F.explode(
            F.sequence(
                F.expr(f"cum div {L}"), F.expr(f"(cum + n - 1) div {L}")
            )
        ).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * L
    place_start = F.greatest(seq_start, F.col("cum"))
    place_end = F.least(seq_start + L, F.col("cum") + F.col("n"))
    return x.select(
        "doc_id",
        F.col("seq_id").cast("long").alias("seq_id"),
        (place_start - F.col("cum")).cast("long").alias("doc_offset"),
        (place_start - seq_start).cast("long").alias("seq_offset"),
        (place_end - place_start).cast("long").alias("n_tokens"),
    )


MOJIBAKE_MARKERS = (
    # UTF-8 bytes decoded as cp1252/latin-1: 'Ã' + continuation-byte
    # shapes ('Ã©'=é, 'Ã¤'=ä, ...), the 'â€' family (’ “ ” – —), Â
    # before NBSP-ish punctuation, and the replacement char itself
    "Ã©", "Ã¤", "Ã¶", "Ã¼", "Ã¨", "Ã ", "Ã±", "Ã³", "Ã­",
    "â€™", "â€œ", "â€", "â€“", "â€”", "â€¦",
    "Â·", "Â°", "Â»", "Â«", "�",
)


def mojibake_score(docs: DataFrame) -> DataFrame:
    """Encoding-damage audit — the health check behind the charset
    ladder (charset.py): count the classic double-decoding artifacts
    (UTF-8 read as cp1252: 'Ã©' for é, 'â€™' for ’, …) plus U+FFFD
    replacement chars per document. A corpus decoded correctly scores
    ~0; rising counts localize which source/snapshot was ingested with
    a broken decode path. Pure JVM: one fixed marker list folded as a
    chain of length-difference counts — narrow map, zero shuffles.

    Returns (doc_id, n_mojibake, n_replacement, flag_mojibake 0/1 —
    flag = any marker present). NULL text counts as empty (scores 0) —
    the convention the oracle shares."""
    text = F.coalesce(F.col("text"), F.lit(""))
    counts = [
        (
            F.length(text)
            - F.length(F.replace(text, F.lit(m), F.lit("")))
        ) / len(m)
        for m in MOJIBAKE_MARKERS
        if m != "�"
    ]
    n_moji = sum(counts[1:], counts[0]).cast("long")
    n_repl = (
        F.length(text) - F.length(F.replace(text, F.lit("�"), F.lit("")))
    ).cast("long")
    return docs.select(
        "doc_id",
        n_moji.alias("n_mojibake"),
        n_repl.alias("n_replacement"),
        ((n_moji + n_repl) > 0).cast("long").alias("flag_mojibake"),
    )


def dataset_card(docs: DataFrame) -> DataFrame:
    """The datasheet every released corpus ships: per (source, lang)
    document/token/char counts plus their share of the corpus in exact
    parts-per-million — one partial-agg groupBy + one broadcast totals
    row (the corpus never shuffles twice, no driver count). Shares are
    integer-exact: ppm = n * 1_000_000 div total.

    Returns (source, lang, n_docs, n_tokens, n_chars, docs_ppm,
    tokens_ppm) — one row per observed (source, lang)."""
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens(F.col("text"))).cast("long")).alias("n_tokens"),
        F.sum(F.length("text").cast("long")).alias("n_chars"),
    ).localCheckpoint(eager=True)  # tiny table; totals must not replay the corpus scan
    tot = per.agg(
        F.sum("n_docs").alias("t_docs"), F.sum("n_tokens").alias("t_tokens")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        # nullif: an all-empty-text corpus has t_tokens = 0 and ANSI
        # integer div would THROW; ppm NULL is the honest answer
        F.expr("n_docs * 1000000 div t_docs").alias("docs_ppm"),
        F.expr("n_tokens * 1000000 div nullif(t_tokens, 0)").alias("tokens_ppm"),
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 256, overlap: int = 32
) -> DataFrame:
    """Sliding-window document chunking — the embedding/RAG prep step:
    cut each document into windows of ``chunk_tokens`` whitespace
    tokens advancing by ``chunk_tokens - overlap`` (consecutive chunks
    share ``overlap`` tokens so no semantic unit is split without a
    copy that contains it whole). Window count per doc:
    1 if n <= L else ceil((n-L)/stride)+1 — the final window is the
    ragged tail (never empty, always ends at token n).

    Pure JVM: tokens array once per doc, then a bounded
    ``sequence()`` explode + per-chunk ``slice`` + ``array_join`` — a
    narrow map, zero shuffles, output rows = total chunks. Exact
    integer window arithmetic, so the DuckDB list_slice oracle
    hash-matches.

    Returns (doc_id, chunk_idx, n_tokens, chunk_text); empty docs emit
    no rows.
    """
    L = int(chunk_tokens)
    stride = L - int(overlap)
    if stride <= 0:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_tokens ({chunk_tokens})"
        )
    toks = F.col("_toks")
    n = F.col("_n")
    n_chunks = F.when(n <= L, F.lit(1)).otherwise(
        F.expr(f"(_n - {L} + {stride} - 1) div {stride}") + 1
    )
    start = F.col("chunk_idx") * stride
    # empty docs are dropped on ``text`` (a non-space char <=> a token):
    # a filter on ``_n`` is pushed below the projection and re-runs the
    # tokenizer
    return (
        docs.filter(F.col("text").rlike(r"\S"))
        .select("doc_id", _tokens(F.col("text")).alias("_toks"))
        .withColumn("_n", F.size(toks).cast("long"))
        .select(
            "doc_id",
            "_toks",
            "_n",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.least(n - start, F.lit(L)).cast("long").alias("n_tokens"),
            F.array_join(
                F.slice(toks, (start + 1).cast("int"), L), " "
            ).alias("chunk_text"),
        )
    )


def mixture_plan(
    docs: DataFrame,
    budgets: dict[str, int],
    default_budget: int = 0,
) -> DataFrame:
    """Token-budget data mixture — the recipe step of corpus assembly:
    "take N_A tokens of source A, N_B of source B, ...". Within each
    source documents are taken in doc_id order (deterministic,
    resumable) until the source's budget is covered; the first doc to
    CROSS the budget is still taken (budgets are floors, same
    straddling convention as pack_shards), later docs are dropped.
    Sources absent from ``budgets`` get ``default_budget`` (0 = drop
    the source entirely).

    Scale shape: ONE window partitioned by source (each source's cumsum
    runs in parallel; no global sort) over (source, doc_id, n_tokens)
    longs — the text never shuffles; the budget table rides as data in
    a broadcast join, not as plan literals. For a source so large its
    partition skews, pre-split by doc_id range and sum the per-range
    offsets (the pack_shards two-phase shape) — at the budgets end of
    a pipeline the surviving corpus is the SMALL side, so the single
    window is the right default.

    Returns (doc_id, source, n_tokens, cum_before, keep 0/1) for every
    doc — the audit view; filter keep=1 for the mixture.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    budget_rows = [(s, int(b)) for s, b in sorted(budgets.items())]
    # NO sentinel row for the empty dict — ('', 0) would pin an
    # empty-string source to budget 0 instead of default_budget
    bdf = spark.createDataFrame(budget_rows, "source string, budget long")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = toks.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        c.join(F.broadcast(bdf), "source", "left")
        .withColumn("_b", F.coalesce(F.col("budget"), F.lit(int(default_budget))))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "cum_before",
            F.when(F.col("cum_before") < F.col("_b"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, Table A1 shape): the
    published doc-level heuristics a production web corpus applies
    before model-based filtering. Every threshold compares EXACT
    integers (cross-multiplied ratios — ``mean word length in [3,10]``
    is ``3n <= total_chars <= 10n`` — never a float), so keep/drop is
    bit-deterministic across engines and partitionings.

    Rules (each its own flag; ``keep`` = all pass):
    - 50 <= word count <= 100_000
    - mean word length in [3, 10]            (3n <= chars <= 10n)
    - symbol-to-word ratio <= 0.1            (10 * symbols <= words;
      symbols = '#' chars + '...' + '…' occurrences)
    - lines starting with a bullet <= 90%    (10 * bullets <= 9 * lines)
    - lines ending with an ellipsis <= 30%   (10 * ellipsis <= 3 * lines)
    - words containing an alphabetic char >= 80%  (5 * alpha >= 4 * n)
    - >= 2 stopwords of a fixed 8-word list

    All JVM expressions (splits + HOF filters + replace-count), one
    narrow map — no shuffle, no UDF. Returns (doc_id, n_words,
    n_lines, flag_* 0/1 each, keep 0/1).
    """
    toks = _tokens(F.col("text"))
    t = F.col("_t")
    lines = F.filter(
        F.transform(F.split(F.col("text"), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    ln = F.col("_lines")
    base = docs.select(
        "doc_id",
        "text",
        toks.alias("_t"),
        lines.alias("_lines"),
    ).select(
        "doc_id",
        F.size(t).cast("long").alias("n_words"),
        F.size(ln).cast("long").alias("n_lines"),
        F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("_chars"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", r"#", "")))
            + (
                F.length("text")
                - F.length(F.regexp_replace("text", r"\.\.\.", ""))
            )
            / 3
            + (
                F.length("text")
                - F.length(F.regexp_replace("text", "…", ""))
            )
        )
        .cast("long")
        .alias("_symbols"),
        F.size(
            F.filter(ln, lambda l: l.rlike(r"^[-*•]"))
        )
        .cast("long")
        .alias("_bullets"),
        F.size(
            F.filter(ln, lambda l: l.rlike(r"(\.\.\.|…)$"))
        )
        .cast("long")
        .alias("_ellipsis"),
        F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]")))
        .cast("long")
        .alias("_alpha"),
        F.size(
            F.filter(
                t, lambda w: F.lower(w).isin(*GOPHER_STOPWORDS)
            )
        )
        .cast("long")
        .alias("_stops"),
    )
    flags = {
        "flag_word_count": (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000),
        "flag_mean_word_len": (3 * F.col("n_words") <= F.col("_chars"))
        & (F.col("_chars") <= 10 * F.col("n_words")),
        "flag_symbol_ratio": 10 * F.col("_symbols") <= F.col("n_words"),
        "flag_bullet_lines": 10 * F.col("_bullets") <= 9 * F.col("n_lines"),
        "flag_ellipsis_lines": 10 * F.col("_ellipsis") <= 3 * F.col("n_lines"),
        "flag_alpha_words": 5 * F.col("_alpha") >= 4 * F.col("n_words"),
        "flag_stopwords": F.col("_stops") >= 2,
    }
    out = base
    for name, cond in flags.items():
        out = out.withColumn(name, cond.cast("long"))
    keep_cond = None
    for name in flags:
        c = F.col(name) == 1
        keep_cond = c if keep_cond is None else keep_cond & c
    return out.select(
        "doc_id",
        "n_words",
        "n_lines",
        *[F.col(n) for n in flags],
        keep_cond.cast("long").alias("keep"),
    )


def c4_line_filter(docs: DataFrame) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines that end in a terminal punctuation mark (.!?") and contain
    >= 5 words; flag documents carrying boilerplate markers ('lorem
    ipsum', '{' — code leakage, 'javascript' warnings in a dropped
    line is C4's rule, here the doc flag counts any line mentioning
    it); a document survives when >= 3 lines remain and no marker
    fired. Rewritten text = kept lines joined by newline.

    Exact string/integer ops only — both engines agree bit-for-bit.
    Returns (doc_id, n_lines, n_kept_lines, has_lorem, has_brace,
    keep, text_clean).
    """
    lines = F.filter(
        F.transform(F.split(F.col("text"), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    kept = F.filter(
        F.col("_lines"),
        lambda l: l.rlike(r'[.!?"]$')
        & (
            F.size(F.filter(F.split(l, r"\s+"), lambda w: w != ""))
            >= 5
        )
        & ~F.lower(l).contains("javascript"),
    )
    return (
        docs.select("doc_id", "text", lines.alias("_lines"))
        .select(
            "doc_id",
            F.size("_lines").cast("long").alias("n_lines"),
            kept.alias("_kept"),
            F.lower(F.col("text")).contains("lorem ipsum").alias("_lorem"),
            F.col("text").contains("{").alias("_brace"),
        )
        .select(
            "doc_id",
            "n_lines",
            F.size("_kept").cast("long").alias("n_kept_lines"),
            F.col("_lorem").cast("long").alias("has_lorem"),
            F.col("_brace").cast("long").alias("has_brace"),
            (
                (F.size("_kept") >= 3) & ~F.col("_lorem") & ~F.col("_brace")
            )
            .cast("long")
            .alias("keep"),
            F.array_join("_kept", "\n").alias("text_clean"),
        )
    )


def compression_stats(
    docs: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """zlib compression-size quality signal (the RefinedWeb/MassiveText
    class: highly templated or repetitive text compresses far better
    than natural prose, so the ratio flags boilerplate/spam tails).

    Emits EXACT integers only — (doc_id, n_bytes, n_bytes_zlib) — and
    lets callers derive the ratio, per the suite's no-rounded-quotients
    rule. Deterministic for a fixed zlib level (the kernel and the
    pure-Python twin run the same zlib); vectorized pandas_udf, Arrow
    batches, no per-row Python UDF."""
    import pandas as pd
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _zsize(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: len(zlib.compress((t or "").encode("utf-8"), level))
        )

    return docs.select(
        "doc_id",
        F.length(F.encode(F.col(text_col), "utf-8")).cast("long").alias(
            "n_bytes"
        ),
        _zsize(F.col(text_col)).alias("n_bytes_zlib"),
    )


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}"
PII_IP = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+\d{7,15}\b|\b\d{3}[- ]\d{3}[- ]\d{4}\b"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the privacy pass public training pipelines run
    (Dolma/C4 class): emails, IPv4 addresses and phone numbers replaced
    by ``<EMAIL>`` / ``<IP>`` / ``<PHONE>`` placeholder tokens, with
    per-type counts for audit.

    Patterns are the shared Java-regex/RE2 subset (no lookaround, no
    backrefs) so the DuckDB oracle runs the IDENTICAL expressions;
    scrubbing is SEQUENTIAL — emails first, then IPs on the
    email-scrubbed text, then phones — and each count is taken on the
    text the pattern actually sees (an IP inside an email's domain
    counts as email, not IP). Phone scope, documented: international
    ``+digits`` and US ``ddd-ddd-dddd`` shapes only — a full phone
    grammar is locale policy, not an engine feature.

    Pure JVM regexp_count/regexp_replace — one narrow map, no UDF, no
    shuffle. Returns (doc_id, n_emails, n_ips, n_phones, text_scrubbed).
    """
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IP, "<IP>")
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(t0, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(t1, F.lit(PII_IP)).cast("long").alias("n_ips"),
        F.regexp_count(t2, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        t3.alias("text_scrubbed"),
    )


def wordlist_flags(
    docs: DataFrame, words: list[str], text_col: str = "text"
) -> DataFrame:
    """Word-list page flagging — the C4 'bad words' page drop (Raffel
    et al. §2.2 removed pages containing any word from a public
    blocklist). Matching is TOKEN-level on lowercased whitespace
    tokens, not substring (so listing 'ass' does not flag 'class'),
    which is also what the public C4 implementation does.

    Scale shape: per-doc DISTINCT tokens explode (bounded by vocab per
    doc) and left-semi join the BROADCAST word list; the candidate path
    shuffles doc_ids only, and the list rides as data — a 10^5-word
    list leaves the plan constant (same rule as the domain blocklist).

    Returns every doc labeled: (doc_id, flagged 0/1).
    """
    spark = docs.sparkSession
    wl = spark.createDataFrame(
        [(w.lower(),) for w in sorted(set(words))], "w string"
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(_tokens(F.lower(F.col(text_col))))
        ).alias("w"),
    )
    hits = toks.join(F.broadcast(wl), "w", "left_semi").select("doc_id").distinct()
    return (
        docs.select("doc_id")
        .join(hits.withColumn("_hit", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_hit"), F.lit(0)).cast("long").alias("flagged"),
        )
    )


def materialize_shards(
    docs: DataFrame,
    budget_tokens: int = 2048,
    bucket_size: int = 1000,
    token_mode: str = "whitespace",
    sep: str = "\n\n",
) -> DataFrame:
    """Materialized training shards: the :func:`pack_shards` layout
    turned into the actual trainer input — one row per shard with the
    member documents concatenated in doc_id order (``sep`` between
    docs, the doc-boundary marker a tokenizer maps to EOS/BOS).

    Scale shape: the per-shard group is bounded by construction — a
    shard holds ~``budget_tokens`` tokens no matter how large the
    corpus, so the collect_list inside each group is O(budget), never
    O(corpus); the only shuffle beyond pack_shards' own is the
    (shard_id, doc_id, text) exchange that any shard writer pays.
    array_sort on (doc_id, text) structs gives deterministic in-shard
    order without a window.

    Returns (shard_id, n_docs, n_tokens, shard_text).
    """
    packed = pack_shards(docs, budget_tokens, bucket_size, token_mode)
    joined = docs.select("doc_id", "text").join(packed, "doc_id")
    return joined.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
            sep,
        ).alias("shard_text"),
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Perplexity-proxy quality score: each document's mean unigram
    log-probability under the corpus's OWN unigram LM — the cheap,
    self-contained stand-in for the KenLM-perplexity filter of
    CCNet/C4-style pipelines (low mean logprob = rare-token-heavy =
    boilerplate/garbage candidates at the tails).

    Two aggregations, both map-side-combinable: corpus term frequencies
    (term-keyed), then per-(doc, term) counts joined against the LM and
    summed per doc. The corpus token total rides a broadcast singleton
    (same pattern as tfidf_top_terms — no driver count, no literal in
    the plan). ln() is rounded to 6dp and fixed-pointed to BIGINT
    BEFORE the per-doc sum, so everything after the one rounded
    transcendental is EXACT integer arithmetic in both engines — no
    mean division whose double could land on a .5e-6 tie (observed: 2
    of 500 docs flipped ±1 when this emitted a rounded average).
    Callers derive the mean as sum_logprob_e6 / n_tokens.

    Returns (doc_id, n_tokens, sum_logprob_e6) for every document with
    at least one token.
    """
    # tf feeds the total AND the LM — pinned so the term aggregation
    # runs once
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint(
        eager=False
    )
    total = tf.agg(F.sum("tf").cast("double").alias("t"))
    lm = tf.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(F.round(F.log(F.col("tf") / F.col("t")), 6) * 1_000_000)
        .cast("long")
        .alias("lnp_e6"),
    )
    dc = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    agg = dc.join(lm, "term").groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.col("lnp_e6")).alias("s_e6"),
    )
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("s_e6").cast("long").alias("sum_logprob_e6"),
    )


def source_overlap(docs: DataFrame) -> DataFrame:
    """Cross-source vocabulary overlap matrix — the corpus-curation
    diagnostic for "are two sources the same crawl in disguise?"
    (mixture design and contamination triage both start here). Jaccard
    over each source's DISTINCT lowercase token vocabulary, one row
    per unordered source pair including zero-overlap pairs.

    Scale shape: the (source, term) distinct table is vocabulary-sized,
    not corpus-sized (the distinct's partial agg absorbs repeats
    map-side before the one term shuffle); the self-join key is the
    term, and a term matches at most n_sources rows per side, so pair
    rows are bounded by vocab × n_sources², never corpus size. The
    per-source size table is n_sources rows — broadcast everywhere,
    and the all-pairs frame it seeds is n_sources²/2 rows.

    Returns (source_a, source_b, n_a, n_b, n_shared, jaccard_e6),
    source_a < source_b.
    """
    # three consumers (sizes + both self-join sides) — pinned so the
    # tokenize + distinct runs once (vocabulary-sized rows, no text)
    vocab = docs.select(
        "source", F.explode(_tokens(F.lower(F.col("text")))).alias("term")
    ).distinct().localCheckpoint(eager=False)
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        vocab.select(F.col("source").alias("source_a"), "term")
        .join(vocab.select(F.col("source").alias("source_b"), "term"), "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    all_pairs = (
        F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a")))
        .crossJoin(
            F.broadcast(
                sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
            )
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    j = F.round(
        F.col("n_shared").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        6,
    )
    return (
        all_pairs.join(shared, ["source_a", "source_b"], "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0)))
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(j * 1_000_000).cast("long").alias("jaccard_e6"),
        )
    )


def bigram_logprob(docs: DataFrame, k: int = 1) -> DataFrame:
    """Order-2 LM perplexity proxy — the conditioning tier above
    :func:`unigram_logprob`, one step toward the KenLM 5-gram filter
    CCNet runs: each document's summed log P(w_i | w_{i-1}) under the
    corpus's own add-``k``-smoothed bigram LM, P(b|a) = (c(ab) + k) /
    (c(a·) + k·V) with c(a·) the bigram-context count and V the
    unigram vocabulary size.

    Same exactness regime as the unigram operator: ln() is rounded to
    6dp and fixed-pointed to BIGINT ONCE per distinct bigram, so the
    per-doc sums are exact integer arithmetic in every engine; callers
    derive the mean as sum_logprob_e6 / n_bigrams. All aggregations
    are map-side-combinable (bigram-, context-, and doc-keyed); V
    rides a broadcast singleton, never a driver collect.

    Returns (doc_id, n_bigrams, sum_logprob_e6) for every document
    with at least one bigram (>= 2 tokens).
    """
    # token arrays pinned: the bigram explode AND the vocabulary count
    # both consume them (vocab previously re-tokenized docs a 2nd time)
    toks = docs.select(
        "doc_id", _tokens(F.lower(F.col("text"))).alias("_t")
    ).localCheckpoint(eager=False)
    t = F.col("_t")
    bigr = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # bg feeds the LM counts AND the per-doc counts; cnt feeds the
    # context sums AND the LM join — pinned so the tokenize + bigram
    # explode runs once (the multiply-consumed-intermediate rule)
    bg = toks.select("doc_id", F.explode(bigr).alias("bigram")).localCheckpoint(
        eager=False
    )
    cnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab")).localCheckpoint(
        eager=False
    )
    left = F.split(F.col("bigram"), " ", 2).getItem(0)
    ctx = cnt.groupBy(left.alias("_lft")).agg(F.sum("c_ab").alias("c_a"))
    vocab = (
        toks.select(F.explode("_t").alias("term"))
        .agg(F.countDistinct("term").cast("double").alias("v"))
    )
    lm = (
        cnt.withColumn("_lft", left)
        .join(ctx, "_lft")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.round(
                F.round(
                    F.log(
                        (F.col("c_ab") + F.lit(k))
                        / (F.col("c_a") + F.lit(k) * F.col("v"))
                    ),
                    6,
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lnp_e6"),
        )
    )
    dc = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    return (
        dc.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("lnp_e6")).cast("long").alias("sum_logprob_e6"),
        )
    )


def _hashed_ngram_buckets(col: Column, buckets: int) -> Column:
    """Hashed bag-of-ngrams features (DSIR, Xie et al. 2023): lowercase
    whitespace unigrams + space-joined bigrams, each hashed into
    ``buckets`` via the first 15 hex chars of md5 (60 bits — exactly
    reproducible in DuckDB as CAST('0x'||substr(md5(g),1,15) AS
    BIGINT), unlike xxhash64 which DuckDB lacks)."""
    toks = _tokens(F.lower(col))
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        F.concat(toks, bigrams),
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
            F.lit(buckets),
        ),
    )


def dsir_weights(
    docs: DataFrame, target: Column, buckets: int = 4096
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every document by the
    log-likelihood ratio of its hashed bag-of-ngrams under the TARGET
    distribution vs the RAW corpus distribution — the published recipe
    for tilting a crawl toward a target domain (here ``target`` is a
    boolean Column over the docs table, e.g. lang == 'en'; DSIR proper
    uses a curated target corpus — same estimator, the target rows just
    come from a second table union'd in with a flag).

    Both distributions are add-one-smoothed over ``buckets`` hashed
    unigram+bigram features and estimated in ONE pass (conditional sum
    beside the raw count — the target is a subset of the corpus).
    Fixed-point convention (CLAUDE.md): each ln is rounded to 6dp and
    fixed-pointed to BIGINT separately, the ratio is an exact integer
    SUBTRACTION, and the per-doc score is an exact integer dot product
    — no double whose last bit an independent engine could disagree on.
    Callers resample by (dsir_score_e6 / n_ngrams) or top-k on the raw
    sum.

    Scale shape: the ngram explode is a narrow map (~2x token count);
    bucket stats shuffle at most ``buckets`` groups after map-side
    combine; the llr table (``buckets`` rows) broadcasts; the per-doc
    sum is one (doc_id, bucket)-keyed partial agg + one doc_id agg —
    no corpus-sized join, no skew key (buckets are md5-uniform).

    Returns (doc_id, n_ngrams, dsir_score_e6) for docs with >= 1 token.
    """
    # NOTE: b feeds the bucket stats AND the per-doc sum, but pinning
    # it measured slightly NEGATIVE at sf0.1 (materializing ~2x-token
    # (doc_id, flag, bucket) rows costs as much as the saved md5
    # explode) — left unpinned, the one fan-out where the A/B said no
    b = docs.select(
        "doc_id",
        target.alias("_is_target"),
        F.explode(_hashed_ngram_buckets(F.col("text"), buckets)).alias("bucket"),
    )
    stats = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("tc"),
    )
    tot = stats.agg(
        F.sum("rc").cast("double").alias("r_tot"),
        F.sum("tc").cast("double").alias("t_tot"),
    )

    def _ln_e6(x: Column) -> Column:
        return F.round(F.round(F.log(x), 6) * 1_000_000).cast("long")

    llr = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            _ln_e6((F.col("tc") + 1) / (F.col("t_tot") + F.lit(buckets)))
            - _ln_e6((F.col("rc") + 1) / (F.col("r_tot") + F.lit(buckets)))
        ).alias("llr_e6"),
    )
    dc = b.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    return (
        dc.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_ngrams"),
            F.sum(F.col("c") * F.col("llr_e6")).cast("long").alias("dsir_score_e6"),
        )
    )


def dsir_select(
    docs: DataFrame, target: Column, k: int, buckets: int = 4096
) -> DataFrame:
    """The selection step of DSIR: keep the ``k`` documents whose
    per-ngram importance (dsir_score_e6 / n_ngrams) is highest — the
    deterministic top-k variant of the paper's resampling. The ordering
    key is ONE IEEE divide of two exact integers (both < 2^53, so the
    conversion is exact and the quotient is the correctly-rounded
    double in every engine — cross-engine-stable, unlike a chain of
    double ops); exact ties break on doc_id. Spark executes the global
    sort-limit as per-partition top-k + merge (TakeOrderedAndProject),
    not a full sort shuffle. Returns the dsir_weights columns for the
    selected docs."""
    w = dsir_weights(docs, target, buckets)
    return (
        w.orderBy(
            (F.col("dsir_score_e6") / F.col("n_ngrams")).desc(),
            F.col("doc_id").asc(),
        )
        .limit(k)
        .select("doc_id", "n_ngrams", "dsir_score_e6")
    )


# ---------------------------------------------------------------------------
# hashed linear classifier inference (fastText/DCLM-style quality filter)
# ---------------------------------------------------------------------------

def hashed_features(
    docs: DataFrame, n_features: int = 1 << 20, bigrams: bool = True
) -> DataFrame:
    """Hashed bag-of-words features, one row per token occurrence:
    (doc_id, feature_id) with feature_id = first-8-hex-chars of
    md5(token) mod ``n_features`` — the hashing-trick feature map every
    linear text classifier at corpus scale uses (weights fit a fixed
    table regardless of vocabulary). md5 rather than xxhash64 so ANY
    engine reproduces the ids from the spec alone. Features are
    lowercase whitespace unigrams plus adjacent bigrams (standard
    fastText feature set). Narrow map + explode — no shuffle here."""
    toks = _tokens(_norm_ws(F.col("text")))
    docs_t = docs.select("doc_id", toks.alias("_toks"))
    t = F.col("_toks")
    feats = t
    if bigrams:
        big = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats = F.concat(t, big)
    fid = F.pmod(
        F.conv(F.substring(F.md5(F.col("_f")), 1, 8), 16, 10).cast("long"),
        F.lit(n_features),
    )
    return docs_t.select("doc_id", F.explode(feats).alias("_f")).select(
        "doc_id", fid.alias("feature_id")
    )


def classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    n_features: int = 1 << 20,
    bigrams: bool = True,
    bias_e6: int = 0,
) -> DataFrame:
    """Linear text-classifier INFERENCE over the corpus — the
    model-based quality-filter stage (fastText/DCLM shape): the trained
    model arrives as DATA (``weights``: feature_id long, weight_e6
    long — fixed-point so the decision is exact integer arithmetic) and
    broadcasts to every executor; the corpus never shuffles.

    score_e6 = sum of weight_e6 over feature OCCURRENCES (bag-of-words
    with multiplicity) + bias_e6; keep = score_e6 >= 0. Docs with no
    tokens score the bare bias. Plan shape at 100 TB: explode +
    broadcast-hash-join + partial aggregation all fuse into the scan
    stage — the only Exchange carries one partial (doc_id, sum) row
    per doc per partition, never token rows.

    Returns (doc_id, n_features, score_e6, keep).
    """
    feats = hashed_features(docs, n_features, bigrams)
    scored = (
        feats.join(F.broadcast(weights), "feature_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.coalesce("weight_e6", F.lit(0))).alias("_s"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_features"),
            (F.coalesce("_s", F.lit(0)) + F.lit(bias_e6))
            .cast("long")
            .alias("score_e6"),
        )
        .withColumn("keep", (F.col("score_e6") >= 0).cast("long"))
    )


def perplexity_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    sample_permille: int = 500,
) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning (Wenzek et al.
    2020): rank documents by per-token LM cost under the corpus's own
    unigram LM (unigram_logprob) and split each language into
    ``n_buckets`` tiers — ``head`` (most fluent) feeds training first,
    ``tail`` is the boilerplate/garbage candidate pool.

    Scale shape — the CCNet trick, not a corpus-wide sort: bucket
    CUTOFFS come from a deterministic multiplicative-hash sample
    (``(doc_id * 2654435761) % 2^32 < permille-threshold`` — engine-
    reproducible, no RNG), ranked per language (a window over the
    SAMPLE only); every document is then labeled by a broadcast
    compare against its language's cutoffs. The full corpus never
    sorts and never windows — at 100 TB the only per-language sort
    touches the sample sliver, and label assignment is a narrow map
    behind a broadcast join.

    Exactness: per-token cost is fixed-point BIGINT —
    ``((-sum_logprob_e6) * 1000) div n_tokens`` with every operand
    positive (floor == truncate in both engines). Tie policy is
    value-based: all documents sharing a boundary cost land in the
    same tier (no positional ntile nondeterminism). Cutoff j is the
    ceil(j*m/n_buckets)-th smallest sampled cost. A language absent
    from the sample labels as ``unsampled``.

    Returns (doc_id, lang, n_tokens, cost_e9, tier VARCHAR) for every
    document with at least one token.
    """
    from pyspark.sql import Window

    scored = unigram_logprob(docs)
    # three consumers (the sample -> ranked + sizes, and the final
    # labeling join) — pinned so the unigram-LM chain (tokenize +
    # vocab logprobs + per-doc sums) runs once, not per consumer (the
    # multiply-consumed-intermediate rule)
    base = docs.select("doc_id", "lang").join(scored, "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr("((-sum_logprob_e6) * 1000) div n_tokens").alias("cost_e9"),
    ).localCheckpoint(eager=False)
    thr = (4294967296 * sample_permille) // 1000
    samp = base.filter((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) < F.lit(thr))
    w = Window.partitionBy("lang").orderBy("cost_e9", "doc_id")
    ranked = samp.select("lang", "cost_e9", F.row_number().over(w).alias("r"))
    sizes = samp.groupBy("lang").agg(F.count(F.lit(1)).alias("m"))
    # cutoff ranks k_j = ceil(j*m/n_buckets), j = 1..n_buckets-1
    ks = sizes.select(
        "lang",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.expr(f"({j} * m + {n_buckets - 1}) div {n_buckets}").alias("k"),
                )
                for j in range(1, n_buckets)
            ])
        ).alias("jk"),
    ).select("lang", F.col("jk.j").alias("j"), F.col("jk.k").alias("k"))
    # both sides descend from `samp`, so join on renamed columns — a
    # column-object equality here resolves to the SAME attribute and
    # Spark silently drops it as trivially true (self-join ambiguity)
    ks_r = ks.select(
        F.col("lang").alias("k_lang"), "j", F.col("k").alias("r")
    )
    cuts = (
        ranked.join(ks_r, ["r"])
        .filter(F.col("lang") == F.col("k_lang"))
        .select("lang", "j", "cost_e9")
        .groupBy("lang")
        .pivot("j", list(range(1, n_buckets)))
        .agg(F.first("cost_e9"))
    )
    cut_cols = [F.col(str(j)).alias(f"c{j}") for j in range(1, n_buckets)]
    cuts = cuts.select("lang", *cut_cols)
    tier = F.when(F.col("c1").isNull(), F.lit("unsampled"))
    names = (
        ["head", "middle", "tail"]
        if n_buckets == 3
        else [f"b{i}" for i in range(n_buckets)]
    )
    for j in range(1, n_buckets):
        tier = tier.when(F.col("cost_e9") <= F.col(f"c{j}"), F.lit(names[j - 1]))
    tier = tier.otherwise(F.lit(names[n_buckets - 1]))
    return base.join(F.broadcast(cuts), "lang", "left").select(
        "doc_id", "lang", "n_tokens", "cost_e9", tier.alias("tier")
    )


def host_boilerplate(
    docs: DataFrame, min_df: int = 3, min_ratio_e6: int = 300_000
) -> DataFrame:
    """Host-scoped boilerplate-line removal — the CCNet/RefinedWeb
    line-wise template filter: a non-empty line is boilerplate WITHIN a
    host when it occurs in >= ``min_df`` distinct documents of that host
    AND in at least ``min_ratio_e6``/1e6 of the host's documents. Unlike
    :func:`gocrd_spark.operators.dedup.paragraph_dedup` (global
    keep-first), boilerplate lines survive NOWHERE — nav bars, cookie
    banners and footer templates are noise in every copy, so the rule is
    remove-everywhere, scoped to the host that repeats them (the same
    line appearing on two unrelated hosts is counted independently).

    Input: (doc_id, host, text) with newline-separated lines. Returns
    one row per input document: (doc_id, host, clean_text, n_lines,
    n_removed) — all BIGINT/VARCHAR.

    Shuffle accounting at crawl scale: the detection aggregate shuffles
    ONLY (host, xxhash64(line), doc_id) with a map-side partial distinct
    — line text never leaves the scan stage. Removal joins each doc
    against its host's boilerplate-hash SET (collect_set per host,
    bounded by the ratio floor: a line must recur across >=30% of the
    host's docs, so the set holds template lines, not content) and
    filters the doc's own line array map-side via a hash-membership HOF
    — documents shuffle once by host, no per-line text exchange and no
    reassembly aggregate. Empty lines are excluded from detection and
    therefore always kept (paragraph structure is data). Line identity
    is xxhash64 (suite-wide convention); the DuckDB oracle groups by the
    line STRING itself, so a green driver row also certifies the
    hash-grouping.
    """
    # three consumers (occurrence explode, host sizes, the final
    # removal join) — pinned so the full-text line split runs once
    t = docs.select(
        "doc_id", "host", F.split(F.col("text"), "\n").alias("ln")
    ).localCheckpoint(eager=False)
    occ = (
        t.select("doc_id", "host", F.explode("ln").alias("line"))
        .where(F.col("line") != "")
        .select("host", F.xxhash64("line").alias("h"), "doc_id")
        .distinct()
    )
    df_counts = occ.groupBy("host", "h").agg(F.count("*").alias("df_docs"))
    host_sizes = (
        t.select("host", "doc_id")
        .distinct()
        .groupBy("host")
        .agg(F.count("*").alias("n_docs"))
    )
    boiler = (
        df_counts.join(host_sizes, "host")
        .where(
            (F.col("df_docs") >= F.lit(min_df))
            & (F.col("df_docs") * F.lit(1_000_000) >= F.lit(min_ratio_e6) * F.col("n_docs"))
        )
        .select("host", "h")
    )
    bset = boiler.groupBy("host").agg(F.collect_set("h").alias("bl"))
    kept = F.when(F.col("bl").isNull(), F.col("ln")).otherwise(
        F.filter("ln", lambda l: ~F.array_contains("bl", F.xxhash64(l)))
    )
    return (
        t.join(bset, "host", "left")
        .select(
            "doc_id",
            "host",
            F.array_join(kept, "\n").alias("clean_text"),
            F.size("ln").cast("long").alias("n_lines"),
            (F.size("ln") - F.size(kept)).cast("long").alias("n_removed"),
        )
    )


def grouped_split(
    docs: DataFrame,
    group_col: str = "source",
    valid_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """GROUP-disjoint train/valid/test assignment — the domain-leakage
    guard :func:`corpus_split` (content-keyed) cannot give: every doc of
    a group (host, source, site) lands in the SAME split, so near-dups,
    templated siblings and topical twins within a domain can never
    straddle the train/eval boundary (Soldaini et al. Dolma §4, the
    URL-level split practice). The bucket is the first byte of
    md5(group key): deterministic, engine-independent, stable under
    corpus growth — adding documents to a group never moves the group.

    Narrow map, no shuffle, no group table: the hash computes per-row
    from the group column itself. Returns (doc_id, group, split) — the
    realized per-split fractions converge to the requested percentages
    only in expectation over many groups (20 sources at sf scale is
    deliberately lumpy; that lumpiness is the honest cost of the
    leakage guard).
    """
    g = F.col(group_col).cast("string")
    bucket = F.conv(F.substring(F.md5(F.encode(g, "utf-8")), 1, 2), 16, 10).cast("int")
    test_hi = int(256 * test_pct / 100)
    valid_hi = test_hi + int(256 * valid_pct / 100)
    split = (
        F.when(bucket < test_hi, F.lit("test"))
        .when(bucket < valid_hi, F.lit("valid"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", g.alias("group"), split.alias("split"))


def stratified_sample(
    docs: DataFrame,
    strata: tuple[str, ...] = ("source", "lang"),
    k: int = 5,
    seed: str = "strat1",
) -> DataFrame:
    """Exact-quota stratified sampling: k documents from EVERY stratum
    (eval-set construction, human-review queues, per-slice debugging —
    places where rate-based sampling under-covers small strata). The
    within-stratum order is (md5(seed:doc_id), doc_id): content-stable,
    seed-switchable, engine-independent — rerunning tomorrow or on a
    second engine picks the same documents. Strata with fewer than k
    docs return all of them (quota, not guarantee).

    Returns kept rows only: (doc_id, *strata, pick_order 1..k).

    Scale shape: the shuffle carries (strata keys, 32-char digest,
    doc_id) — never text. The per-stratum window sorts each stratum's
    rows; with heavily skewed strata sizes, pre-filter on a digest
    prefix to cap the sort input (the quota stays exact as long as the
    prefix band keeps >= k rows — check with the stratum counts table).
    """
    from pyspark.sql import Window

    cols = [F.col(c) for c in strata]
    key = F.md5(F.concat(F.lit(seed), F.lit(":"), F.col("doc_id").cast("string")))
    w = Window.partitionBy(*cols).orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", *strata)
        .withColumn("pick_order", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_order") <= k)
    )


# Unicode script ranges (BMP-only: Java strings are UTF-16, so
# supplementary-plane classes would count surrogate units differently
# than a codepoint engine — the profile stays in the BMP where both
# engines agree)
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z",
    "cjk": "\\u4e00-\\u9fff",
    "cyrillic": "\\u0400-\\u04ff",
    "arabic": "\\u0600-\\u06ff",
    "greek": "\\u0370-\\u03ff",
}
# fixed argmax priority: the FIRST script in this order whose count
# equals the max wins ties — deterministic across engines
SCRIPT_PRIORITY = ("latin", "cjk", "cyrillic", "arabic", "greek")


def script_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode script distribution — the multilingual
    curation signal lang_id can't give you (stopword lists only cover
    languages you enumerated; script counts classify EVERY page):
    (doc_id, n_latin, n_cjk, n_cyrillic, n_arabic, n_greek, n_digit,
    n_other, main_script). ``n_other`` = everything outside the five
    scripts, digits, and ASCII whitespace. ``main_script`` = argmax
    with the SCRIPT_PRIORITY tie order, ``'none'`` when no script
    char occurs. All counts via character-class strip-and-diff (JVM
    regexp, narrow map, zero shuffles, exact integers).
    """
    text = F.col(text_col)

    def n_class(cls: str) -> Column:
        return (
            F.length(text) - F.length(F.regexp_replace(text, f"[{cls}]", ""))
        ).cast("long")

    counts = {name: n_class(rng) for name, rng in SCRIPT_RANGES.items()}
    n_digit = n_class("0-9")
    n_space = n_class("\\s")  # Java \\s: ASCII whitespace
    n_other = (
        F.length(text).cast("long")
        - sum(counts.values())
        - n_digit
        - n_space
    )
    mx = F.greatest(*counts.values())
    main = F.lit("none")
    for name in reversed(SCRIPT_PRIORITY):
        main = F.when(counts[name] == mx, F.lit(name)).otherwise(main)
    main = F.when(mx == 0, F.lit("none")).otherwise(main)
    return docs.select(
        "doc_id",
        *[counts[n].alias(f"n_{n}") for n in SCRIPT_PRIORITY],
        n_digit.alias("n_digit"),
        n_other.alias("n_other"),
        main.alias("main_script"),
    )


def vocab_drift(
    old_docs: DataFrame, new_docs: DataFrame, min_ppm: int = 100, top: int = 50
) -> DataFrame:
    """Cross-snapshot vocabulary drift — the crawl-monitoring table
    that catches template rollouts, spam bursts, and extraction
    regressions before they poison a training mix: per-term frequency
    (parts-per-million of each snapshot's token count, integer floor
    div) in the OLD and NEW snapshots, with the absolute ppm delta,
    top movers first.

    Returns the ``top`` terms by (|delta_ppm| DESC, term ASC) among
    terms reaching ``min_ppm`` in either snapshot: (term, old_ppm,
    new_ppm, delta_ppm, direction 'up'/'down'/'flat').

    Scale shape: each side is the standard vocabulary-sized term
    count (map-side partial sums); the join is vocab x vocab on the
    term key; snapshot totals are 1-row broadcast scalars. Exact
    integer ppm, so the ordering — and the oracle — is deterministic.
    """

    def freqs(docs: DataFrame, alias: str) -> DataFrame:
        toks = docs.select(F.explode(_tokens(F.lower(F.col("text")))).alias("term"))
        tf = toks.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ).localCheckpoint(eager=False)
        # snapshot total = sum of the per-term counts — derived from tf
        # instead of a second pass over toks, so tokenize runs ONCE per
        # snapshot (identical value: sum of counts == token count)
        total = tf.agg(F.sum("c").cast("long").alias("t"))
        return tf.crossJoin(F.broadcast(total)).select(
            "term", F.expr("(1000000 * c) div t").alias(alias)
        )

    joined = (
        freqs(old_docs, "old_ppm")
        .join(freqs(new_docs, "new_ppm"), "term", "full_outer")
        .select(
            "term",
            F.coalesce("old_ppm", F.lit(0)).alias("old_ppm"),
            F.coalesce("new_ppm", F.lit(0)).alias("new_ppm"),
        )
        .filter((F.col("old_ppm") >= min_ppm) | (F.col("new_ppm") >= min_ppm))
        .withColumn("delta_ppm", F.col("new_ppm") - F.col("old_ppm"))
    )
    ranked = joined.orderBy(F.abs(F.col("delta_ppm")).desc(), F.asc("term")).limit(top)
    return ranked.select(
        "term",
        "old_ppm",
        "new_ppm",
        "delta_ppm",
        F.when(F.col("delta_ppm") > 0, F.lit("up"))
        .when(F.col("delta_ppm") < 0, F.lit("down"))
        .otherwise(F.lit("flat"))
        .alias("direction"),
    )


def _perceptron_margins(
    labels: DataFrame, cl: DataFrame, w: DataFrame, bias: DataFrame
) -> DataFrame:
    """margin(doc) = sum_b w[b]*c[doc,b] + bias — the model table
    broadcasts (<= n_features small rows), the per-doc sums partial-
    aggregate map-side, docs with no features score the bare bias."""
    s = (
        cl.join(F.broadcast(w), "feature_id")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("c")).alias("_s"))
    )
    return (
        labels.join(s, "doc_id", "left")
        .crossJoin(F.broadcast(bias))
        .select(
            "doc_id",
            "y",
            (F.coalesce("_s", F.lit(0)) + F.col("b")).cast("long").alias("margin"),
        )
    )


def perceptron_train(
    docs: DataFrame,
    n_features: int = 1 << 20,
    bigrams: bool = True,
    n_rounds: int = 3,
    clip: int = 1 << 40,
) -> tuple[DataFrame, DataFrame]:
    """Distributed TRAINING of the linear quality/language classifier —
    the stage ``classifier_score`` assumes already happened: full-batch
    perceptron over the same hashed unigram+bigram feature map
    (``hashed_features``), entirely in EXACT BIGINT arithmetic so the
    learned model hash-compares across engines (the host_pagerank
    regime: every per-round quantity is an order-independent integer
    SUM, never a float fold, and the recurrence unrolls as chained
    CTEs in the oracle).

    ``docs`` carries (doc_id, text, y) with y in {+1, -1}. Each round:
    margin(doc) = sum_b w[b]*c[doc,b] + bias over the per-doc feature
    COUNTS c; every doc with y*margin <= 0 (round 1: all docs, w=0) is
    wrong; w[b] += sum_{wrong} y*c[doc,b], bias += sum_{wrong} y, both
    clamped to ±``clip`` (so at any corpus size |margin| <=
    clip * 2L_doc — a PER-DOC bound, the integer-spec rule).

    Scale shape: the (doc_id, feature_id, c, y) table is computed ONCE
    and localCheckpoint'ed (loop-invariant input — the explode never
    replays); each round is one broadcast join + two partial aggs; w
    (<= n_features rows of two longs) broadcasts and is checkpointed
    per round so the loop plan stays flat. No collect in the loop.

    Returns (weights (feature_id, w), bias 1-row (b)).
    """
    cl, labels = _perceptron_inputs(docs, n_features, bigrams)
    return _perceptron_loop(cl, labels, n_rounds, clip)


def _perceptron_inputs(
    docs: DataFrame, n_features: int, bigrams: bool
) -> tuple[DataFrame, DataFrame]:
    """The loop-invariant inputs, localCheckpoint'ed ONCE so no round —
    and no later scoring pass — ever replays the feature explode."""
    feats = hashed_features(docs.select("doc_id", "text"), n_features, bigrams)
    labels = docs.select(
        "doc_id", F.col("y").cast("long").alias("y")
    ).localCheckpoint(eager=True)
    cl = (
        feats.groupBy("doc_id", "feature_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .join(labels, "doc_id")
        .localCheckpoint(eager=True)
    )
    return cl, labels


def _perceptron_loop(
    cl: DataFrame, labels: DataFrame, n_rounds: int, clip: int
) -> tuple[DataFrame, DataFrame]:
    def clamp(c: Column) -> Column:
        return F.greatest(F.least(c, F.lit(clip)), F.lit(-clip))

    w: DataFrame | None = None
    bias: DataFrame | None = None
    for _ in range(n_rounds):
        if w is None:
            wrong = labels  # w=0, bias=0: y*0 <= 0 for every doc
        else:
            m = _perceptron_margins(labels, cl, w, bias)
            wrong = m.filter(F.col("y") * F.col("margin") <= 0).select("doc_id", "y")
        upd = (
            cl.join(wrong.select("doc_id"), "doc_id")
            .groupBy("feature_id")
            .agg(F.sum(F.col("y") * F.col("c")).alias("u"))
        )
        b_upd = wrong.agg(F.coalesce(F.sum("y"), F.lit(0)).alias("bu"))
        if w is None:
            w = upd.select("feature_id", clamp(F.col("u")).cast("long").alias("w"))
            bias = b_upd.select(clamp(F.col("bu")).cast("long").alias("b"))
        else:
            w = (
                w.join(upd, "feature_id", "full_outer")
                .select(
                    "feature_id",
                    clamp(F.coalesce("w", F.lit(0)) + F.coalesce("u", F.lit(0)))
                    .cast("long")
                    .alias("w"),
                )
            )
            bias = (
                bias.crossJoin(b_upd)
                .select(clamp(F.col("b") + F.col("bu")).cast("long").alias("b"))
            )
        # LAZY checkpoints: still truncate the per-round lineage (each
        # round's plan references only the previous round's RDD), but
        # the materialization folds into the NEXT job that consumes the
        # model instead of two eager barrier jobs per round — the
        # round-floor S of the driver-bound small-corpus regime drops
        # with the job count (VERDICT r05 #6), and each checkpoint is
        # still computed exactly once on first use.
        w = w.localCheckpoint(eager=False)
        bias = bias.localCheckpoint(eager=False)
    return w, bias


def perceptron_quality(
    docs: DataFrame,
    n_features: int = 1 << 20,
    bigrams: bool = True,
    n_rounds: int = 3,
    clip: int = 1 << 40,
) -> DataFrame:
    """Train the perceptron on ``docs`` (doc_id, text, y) and score the
    same corpus with the learned model: (doc_id, y, margin, pred_pos)
    with pred_pos = (margin > 0). The train/score composition a
    model-based quality filter bootstraps from heuristic labels."""
    cl, labels = _perceptron_inputs(docs, n_features, bigrams)
    w, bias = _perceptron_loop(cl, labels, n_rounds, clip)
    m = _perceptron_margins(labels, cl, w, bias)
    return m.select(
        "doc_id", "y", "margin", (F.col("margin") > 0).cast("long").alias("pred_pos")
    )


def embed_documents(docs: DataFrame, dim: int = 64) -> DataFrame:
    """Deterministic hashing-trick document embeddings — the bridge
    from the text tier to the vector tier without a model in the
    sandbox: token t contributes sign(bit0(md5(t))) to dimension
    (md5(t) >> 1) mod dim, summed over OCCURRENCES (the classic
    feature-hashing embedding, Weinberger et al. 2009). Everything is
    exact integer arithmetic reproducible from the spec in ANY engine.

    Returns the oracle face: one row per (doc_id, dim_idx) with the
    BIGINT component v (zero components included, so the shape is
    dense and hash-stable). Use :func:`embedding_vectors` to fold into
    the array<float> face the similarity operators consume.

    Scale shape: explode + one (doc_id, dim_idx) partial-agg shuffle of
    long triples; the dense grid is a bounded sequence() explode joined
    by (doc_id, dim_idx) — no corpus text moves past the first map.
    """
    h = F.conv(F.substring(F.md5(F.col("_t")), 1, 8), 16, 10).cast("long")
    contrib = (
        docs.select("doc_id", F.explode(_tokens(_norm_ws(F.col("text")))).alias("_t"))
        .select(
            "doc_id",
            F.pmod(F.shiftright(h, 1), F.lit(dim)).alias("dim_idx"),
            F.when(h.bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("_s"),
        )
        .groupBy("doc_id", "dim_idx")
        .agg(F.sum("_s").cast("long").alias("v"))
    )
    grid = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("dim_idx")
    )
    return grid.join(contrib, ["doc_id", "dim_idx"], "left").select(
        "doc_id",
        F.col("dim_idx").cast("long").alias("dim_idx"),
        F.coalesce("v", F.lit(0)).cast("long").alias("v"),
    )


def embedding_vectors(components: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fold the exploded (id, dim_idx, v) face into (vec_id,
    embedding array<float>) — the shape every similarity operator
    consumes, so hashed document embeddings chain straight into
    PQ/IVF/semdedup. One groupBy; dims assemble by index."""
    return (
        components.groupBy(F.col(id_col).alias("vec_id"))
        .agg(F.array_sort(F.collect_list(F.struct("dim_idx", "v"))).alias("_p"))
        .select(
            "vec_id",
            F.transform("_p", lambda p: p["v"].cast("float")).alias("embedding"),
        )
    )


def embed_document_vectors(docs: DataFrame, dim: int = 64) -> DataFrame:
    """Fused text -> vector bridge: exactly
    ``embedding_vectors(embed_documents(docs, dim))`` but without
    materializing the dense (doc_id, dim_idx) grid — the zero-filled
    dense face exists only for the oracle gate; a vector consumer wants
    the array. One tokenize pass, one (doc_id, dim_idx) partial-agg
    shuffle, one per-doc fold into the array via a map lookup (absent
    dims = 0) — the grid explode and its corpus-sized join are gone.
    Component values are the identical exact-integer sums, cast float
    in the identical dim order, so downstream cosines are bit-equal.
    Returns (vec_id, embedding array<float>)."""
    h = F.conv(F.substring(F.md5(F.col("_t")), 1, 8), 16, 10).cast("long")
    contrib = (
        docs.select("doc_id", F.explode(_tokens(_norm_ws(F.col("text")))).alias("_t"))
        .select(
            "doc_id",
            F.pmod(F.shiftright(h, 1), F.lit(dim)).alias("dim_idx"),
            F.when(h.bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("_s"),
        )
        .groupBy("doc_id", "dim_idx")
        .agg(F.sum("_s").cast("long").alias("v"))
    )
    per_doc = contrib.groupBy(F.col("doc_id").alias("vec_id")).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("dim_idx", "v")))
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("long")), F.lit(0)
        ).cast("float"),
    )
    # docs with ZERO tokens have no contrib rows at all — restore them
    # as all-zero vectors (the grid join emitted them; vector identity
    # with the unfused chain requires them here too)
    empty = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)), lambda i: F.lit(0.0).cast("float")
    )
    return (
        docs.select(F.col("doc_id").alias("vec_id"))
        .join(per_doc, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("_m").isNotNull(), dense).otherwise(empty).alias(
                "embedding"
            ),
        )
    )


def shard_manifest(shards: DataFrame) -> DataFrame:
    """Shard integrity manifest — the checksum table a training job
    verifies BEFORE reading shards (and a transfer re-verifies after):
    per shard, the doc/token counts plus byte length and md5 of the
    exact shard text. Pure narrow map over the materialized shards
    (md5 computed where the text already lives — nothing shuffles).
    Returns (shard_id, n_docs, n_tokens, n_bytes, digest)."""
    return shards.select(
        "shard_id",
        "n_docs",
        "n_tokens",
        F.octet_length("shard_text").cast("long").alias("n_bytes"),
        F.md5(F.col("shard_text").cast("binary")).alias("digest"),
    )
