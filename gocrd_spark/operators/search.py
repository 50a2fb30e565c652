"""Corpus search: inverted index, integer-exact BM25 ranking, and
positional phrase search.

The capability class the rest of the engine feeds: after extraction,
dedup, and quality filtering, the surviving corpus is *searched* — for
curation spot-checks ("show me the top documents about X"), for
targeted decontamination ("which training docs score highest against
this benchmark query?"), and for serving a retrieval tier over the
training set. All three operators here are expressed as DataFrame
plans over the standard ``documents(doc_id, text, ...)`` shape.

Determinism contract (the oracle-parity rule from CLAUDE.md): BM25 is
specified in EXACT INTEGER arithmetic — the one transcendental (idf's
``ln``) is rounded to 6dp and fixed-pointed to an ``_e6`` BIGINT once,
and everything after it is integer multiply/floor-divide, so a second
engine (DuckDB) reproduces scores hash-identically. The spec (our BM25
variant, k1 = 1.2, b = 0.75, Lucene-style always-positive idf):

    dl            = token count of the document
    avgdl         = T div N            (corpus tokens / corpus docs, floor)
    norm_permille = 250 + (750 * dl) div avgdl      # 1000*(1-b+b*dl/avgdl)
    idf_e6        = round6_e6( ln((N - df + 0.5)/(df + 0.5) + 1) )
    contrib_e6    = (idf_e6 * 22000 * tf) div (10000 * tf + 12 * norm_permille)
    score_e6      = sum over query terms of contrib_e6

Every intermediate is bounded by PER-DOCUMENT length, never corpus
size: ``22000 * tf`` and ``750 * dl`` fit BIGINT for any document under
~10^14 tokens, and ``idf_e6 * 22000 * tf`` under ~10^7-token documents
(any sane web page), independent of N and T — the spec survives a
100 TB corpus without widening tricks.

Scale shape: only postings for the QUERY terms ever shuffle (the query
set broadcasts; the corpus scan computes dl map-side and drops
non-query tokens before the exchange); df is computed per-term after
that filter, which is exact because the filter keeps every posting of a
query term. The full inverted index (:func:`postings_flat` /
:func:`posting_lists`) shuffles once on (doc_id, term) with map-side
partial counts — vocabulary-sized per doc, not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _tokens(col: Column) -> Column:
    """Lowercased non-empty whitespace tokens (Java ``\\s`` is
    ASCII-only — the DuckDB twin must split with the same class)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != F.lit(""))


def postings_flat(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Inverted index, exploded form: (term, doc_id, tf, df).

    ``tf`` = occurrences of term in doc, ``df`` = number of docs
    containing the term. One shuffle on (doc_id, term) for the tf
    groupBy (partial_count absorbs repeats map-side), one on term for
    the df window — the tf stage is computed ONCE (a df-groupBy joined
    back would re-run the explode+groupBy for the second consumer, the
    multiply-consumed-stage trap: measured 2x slower at 100k docs).
    Window parallelism equals the distinct-term count, far above core
    counts for any real vocabulary. The oracle-checked face of the
    index; serving code wants :func:`posting_lists`.
    """
    tf = (
        docs.select(F.col("doc_id"), F.explode(_tokens(F.col(text_col))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.select(
        "term",
        "doc_id",
        F.col("tf").cast("long").alias("tf"),
        F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long").alias("df"),
    )


def posting_lists(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Inverted index, serving form: one row per term with
    (term, df, total_tf, postings) where postings is the doc_id-sorted
    array of (doc_id, tf) structs — the layout a retrieval shard wants
    on disk (write partitioned/bucketed by term hash). Arrays never
    enter the oracle gate; :func:`postings_flat` is the checked twin.
    """
    flat = postings_flat(docs, text_col)
    return flat.groupBy("term").agg(
        F.first("df").alias("df"),
        F.sum("tf").alias("total_tf"),
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("postings"),
    )


def corpus_queries(docs: DataFrame, n_terms: int = 8, text_col: str = "text") -> DataFrame:
    """Deterministic query workload derived from the corpus itself (the
    sandbox has no query log): the ``n_terms`` highest-df terms with
    df >= 2 and df <= 90% of docs (drop hapaxes and terms present in
    virtually every doc), ordered (df DESC, term ASC), paired into
    two-term queries — term i joins term i + n_terms/2. Returns
    (query_id, term), two rows per query.

    The limit/sort runs on the vocabulary-sized df table; n_terms rows
    reach the driver. At serving scale queries come from the user; this
    generator exists so benchmarks and the oracle gate have a fixed,
    content-derived workload.
    """
    half = n_terms // 2
    scalars = docs.select(F.count(F.lit(1)).cast("long").alias("n_docs"))
    df_tbl = (
        docs.select(F.col("doc_id"), F.explode(_tokens(F.col(text_col))).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(scalars))
        .filter((F.col("df") >= 2) & (F.col("df") * 10 <= F.col("n_docs") * 9))
    )
    # limit BEFORE the global row_number window: the sort/limit is a
    # distributed TakeOrdered; the single-partition window then ranks
    # only n_terms rows, never the vocabulary.
    top = df_tbl.orderBy(F.desc("df"), F.asc("term")).limit(n_terms)
    ranked = top.select(
        "term",
        (
            F.row_number().over(Window.orderBy(F.desc("df"), F.asc("term"))) - 1
        ).alias("rn"),
    )
    # n_terms tiny rows behind a FULL corpus tokenize+distinct chain,
    # and every consumer (bm25 ranking + the snippet position join, or
    # either side of a broadcast) re-executes that chain — pin the
    # result so the corpus pass runs once per query, not per consumer.
    return ranked.select(
        (F.col("rn") % half).cast("long").alias("query_id"), "term"
    ).localCheckpoint(eager=True)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Integer-exact BM25 top-k: rank documents for each query in
    ``queries(query_id, term)`` (multi-term = one row per term).
    Returns (query_id, rank, doc_id, score_e6), rank 1-based, ties
    broken by doc_id ascending — fully deterministic.

    Plan: the corpus scan computes dl map-side (``size(tokens)``
    travels with each exploded token — no per-doc shuffle), the
    broadcast queries join drops every non-query token BEFORE the
    exchange, so the only corpus-sized work is the narrow scan; the
    shuffles carry (query_id, doc_id, long) rows for query-term
    postings only. N and T are one-row broadcast scalars. The final
    top-k window partitions by query_id — rows per query bounded by
    that query's df sum, and only k survive.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.size(_tokens(F.col(text_col))).cast("long").alias("dl"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    )
    scalars = docs.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(_tokens(F.col(text_col)))).cast("long").alias("t_tokens"),
    )
    hits = toks.join(F.broadcast(queries), "term")
    tf = hits.groupBy("query_id", "doc_id", "term", "dl").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # df after the query filter is exact: the filter keeps every
    # posting of a query term. Count DISTINCT docs per term (a term
    # can appear in two queries; count each doc once per term). The
    # df table is one row per query term — broadcast back.
    dfs = (
        hits.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    with_df = tf.join(F.broadcast(dfs), "term")
    scored = (
        with_df.crossJoin(F.broadcast(scalars))
        .withColumn("avgdl", F.expr("t_tokens div n_docs"))
        .withColumn("norm_pm", F.expr("250 + (750 * dl) div avgdl"))
        .withColumn(
            "idf_e6",
            F.expr(
                "cast(round(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)"
                " * 1000000) as bigint)"
            ),
        )
        .withColumn(
            "contrib_e6",
            F.expr("(idf_e6 * 22000 * tf) div (10000 * tf + 12 * norm_pm)"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib_e6").cast("long").alias("score_e6"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_e6"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_e6")
    )


def corpus_phrases(docs: DataFrame, n_phrases: int = 4, text_col: str = "text") -> DataFrame:
    """Deterministic phrase workload: the ``n_phrases`` most widespread
    bigrams (distinct-doc count, df >= 3), ordered (df DESC, w1 ASC,
    w2 ASC). Returns (phrase_id, w1, w2). Bigram df is computed on the
    per-doc DISTINCT bigram set; the shuffle is bigram-vocabulary-sized.
    """
    toks = _tokens(F.col(text_col))
    bigrams = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
    )
    df_tbl = (
        docs.select(F.explode(bigrams).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 3)
    )
    top = (
        df_tbl.select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"), "df")
        .orderBy(F.desc("df"), F.asc("w1"), F.asc("w2"))
        .limit(n_phrases)
    )
    return top.select(
        "w1",
        "w2",
        (
            F.row_number().over(Window.orderBy(F.desc("df"), F.asc("w1"), F.asc("w2")))
            - 1
        ).cast("long").alias("phrase_id"),
    ).select("phrase_id", "w1", "w2")


def phrase_search(
    docs: DataFrame, phrases: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Positional-index phrase search: for each phrase in
    ``phrases(phrase_id, w1, w2)`` find every document containing the
    two tokens CONSECUTIVELY, with the occurrence count. Returns
    (phrase_id, doc_id, n_occurrences).

    This is the inverted-index algorithm, not a string scan: positions
    are posexploded once, each side is filtered to its phrase word via
    the broadcast phrase table, and consecutive occurrences are an
    equi-join on (phrase_id, doc_id, position+1) — the shuffle carries
    (long, long, long) keys only, sized by the phrase words' postings,
    never the corpus. Longer phrases chain the same join once per
    additional word.
    """
    pos = docs.select(
        F.col("doc_id"), F.posexplode(_tokens(F.col(text_col))).alias("pos", "term")
    )
    a = pos.join(
        F.broadcast(phrases), pos["term"] == phrases["w1"]
    ).select("phrase_id", "doc_id", F.col("pos").alias("pos_a"))
    b = pos.join(
        F.broadcast(phrases), pos["term"] == phrases["w2"]
    ).select(
        F.col("phrase_id").alias("phrase_id_b"),
        F.col("doc_id").alias("doc_id_b"),
        F.col("pos").alias("pos_b"),
    )
    return (
        a.join(
            b,
            (F.col("phrase_id") == F.col("phrase_id_b"))
            & (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("pos_a") + 1 == F.col("pos_b")),
        )
        .groupBy("phrase_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )


SEARCH_INDEX_BUCKETS = 64


def search_index(
    docs: DataFrame, path: str, buckets: int = SEARCH_INDEX_BUCKETS,
    text_col: str = "text",
) -> str:
    """Materialize the inverted index ONCE at ``path`` for serving-
    scale retrieval — the search-tier counterpart of similarity.py's
    ``ivf_index``: postings land in parquet PARTITIONED by
    ``tbucket = pmod(xxhash64(term), buckets)``, so a query's scan
    reads only its terms' buckets via storage-level partition pruning
    (a 2-term query on a 64-bucket index touches <= 2/64 of the
    postings bytes). Corpus scalars (n_docs, t_tokens) are computed at
    build time and pinned EXACTLY in ``_PARAMS.json`` alongside the
    bucket count — same write-once/resume/refuse-on-mismatch contract
    as the signature tables, scheme-agnostic via the Hadoop FS API.

    Layout: ``path/postings/tbucket=*/`` (term, doc_id, tf, df),
    ``path/dl/`` (doc_id, dl). Returns ``path``.
    """
    import json

    from gocrd_spark import fsio

    spark = docs.sparkSession
    marker = f"{path.rstrip('/')}/_SUCCESS"
    sidecar = f"{path.rstrip('/')}/_PARAMS.json"
    if fsio.exists(spark, marker) and fsio.exists(spark, sidecar):
        existing = json.loads(fsio.read_text(spark, sidecar))
        if existing.get("buckets") != buckets or existing.get("version") != 1:
            raise ValueError(
                f"existing search index at {path} was built with {existing}, "
                f"requested buckets={buckets}"
            )
        return path
    scal = docs.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(_tokens(F.col(text_col)))).cast("long").alias("t_tokens"),
    ).collect()[0]
    (
        postings_flat(docs, text_col)
        .withColumn("tbucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int"))
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(f"{path.rstrip('/')}/postings")
    )
    docs.select(
        F.col("doc_id"), F.size(_tokens(F.col(text_col))).cast("long").alias("dl")
    ).write.mode("overwrite").parquet(f"{path.rstrip('/')}/dl")
    fsio.write_text(spark, marker, "")
    fsio.write_text(
        spark,
        sidecar,
        json.dumps(
            {
                "buckets": buckets,
                "n_docs": int(scal["n_docs"]),
                "t_tokens": int(scal["t_tokens"]),
                "version": 1,
            }
        ),
    )
    return path


def bm25_topk_from(
    spark, path: str, queries: DataFrame, k: int = 10
) -> DataFrame:
    """BM25 top-k against a durable :func:`search_index` — score-
    identical to :func:`bm25_topk` on the same corpus (same integer
    spec; df comes from the index, n/t from the exact sidecar pin),
    but the corpus is never re-scanned: the postings read is pruned to
    the query terms' tbucket partitions, then filtered to the terms
    themselves (both predicates reach the parquet scan). The dl join
    touches only matched postings.
    """
    import json

    from gocrd_spark import fsio

    params = json.loads(fsio.read_text(spark, f"{path.rstrip('/')}/_PARAMS.json"))
    buckets, n_docs, t_tokens = params["buckets"], params["n_docs"], params["t_tokens"]
    q = queries.select(
        "query_id",
        "term",
        F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int").alias("tbucket"),
    )
    qlocal = q.collect()  # query workload is tiny by definition
    want_buckets = sorted({r["tbucket"] for r in qlocal})
    postings = (
        spark.read.parquet(f"{path.rstrip('/')}/postings")
        .filter(F.col("tbucket").isin(want_buckets))  # partition pruning
        .join(
            F.broadcast(spark.createDataFrame(qlocal, q.schema)),
            ["tbucket", "term"],
        )
    )
    dl = spark.read.parquet(f"{path.rstrip('/')}/dl")
    avgdl = t_tokens // n_docs
    scored = (
        postings.join(dl, "doc_id")
        .withColumn("norm_pm", F.expr(f"250 + (750 * dl) div {avgdl}"))
        .withColumn(
            "idf_e6",
            F.expr(
                f"cast(round(round(ln(({n_docs} - df + 0.5) / (df + 0.5) + 1.0), 6)"
                " * 1000000) as bigint)"
            ),
        )
        .withColumn(
            "contrib_e6",
            F.expr("(idf_e6 * 22000 * tf) div (10000 * tf + 12 * norm_pm)"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib_e6").cast("long").alias("score_e6"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_e6"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_e6")
    )


def boolean_search(docs: DataFrame, queries: DataFrame, text_col: str = "text") -> DataFrame:
    """Boolean AND retrieval: documents containing EVERY term of each
    query in ``queries(query_id, term)`` — the unranked other half of
    the search tier (BM25 ranks an OR match; this is the exact filter
    a curation rule wants: "all of these words present"). Returns
    (query_id, doc_id), one row per qualifying document.

    Plan: same broadcast-queries-before-the-exchange shape as
    bm25_topk — only query-term postings shuffle; the AND is a
    distinct-(query,term,doc) count compared against the query's term
    count (broadcast, one row per query). No window, no sort.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    qsizes = queries.groupBy("query_id").agg(
        F.countDistinct("term").cast("long").alias("n_terms")
    )
    hits = (
        toks.join(F.broadcast(queries), "term")
        .select("query_id", "doc_id", "term")
        .distinct()
    )
    return (
        hits.groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
        .join(F.broadcast(qsizes), "query_id")
        .filter(F.col("n_matched") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )


def search_snippets(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    window: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Result snippets for the BM25 top-k: for each (query, hit doc),
    the ``window``-token passage containing the most query-term
    occurrences — the passage a SERP or RAG context builder shows.
    Window starts are anchored at hit positions (an optimal window
    always exists starting at a hit; the pinned spec is max hits, then
    smallest start among hit-anchored windows).

    Scale shape: ranking reuses bm25_topk (broadcast-query postings
    only); token positions are materialized ONLY for the k*|Q| hit
    docs (semi-join first), so the position explode never touches the
    corpus; the window count is a per-(query,doc) self-join whose
    group size is that doc's query-term hit count (tiny); the best
    window picks via max(struct) over those few rows (SortAggregate on
    a k*|Q|-bounded table — not the corpus). Integer counts only.

    Returns (query_id, doc_id, rank, start_pos, n_hits, snippet) —
    start_pos 0-based in the doc's token array.
    """
    # both tables are k*|Q|-bounded and multiply consumed (hits: semi-join
    # + rank join; toks: position explode + snippet slice) — pinned so the
    # corpus-sized BM25 chain and tokenization never replay per consumer
    hits = bm25_topk(docs, queries, k, text_col).localCheckpoint(eager=True)
    toks = (
        docs.select("doc_id", _tokens(F.col(text_col)).alias("t"))
        .join(hits.select("doc_id").distinct(), "doc_id")
        .localCheckpoint(eager=True)
    )
    pos = toks.select("doc_id", F.posexplode("t").alias("pos", "term"))
    qpos = (
        pos.join(F.broadcast(queries), "term")
        .join(hits.select("query_id", "doc_id", "rank"), ["query_id", "doc_id"])
        .select("query_id", "doc_id", "rank", "pos")
    )
    a = qpos.alias("a")
    b = qpos.select("query_id", "doc_id", F.col("pos").alias("bpos")).alias("b")
    wins = (
        a.join(
            b,
            on=(
                (F.col("a.query_id") == F.col("b.query_id"))
                & (F.col("a.doc_id") == F.col("b.doc_id"))
                & (F.col("b.bpos") >= F.col("a.pos"))
                & (F.col("b.bpos") < F.col("a.pos") + window)
            ),
        )
        .groupBy("a.query_id", "a.doc_id", "a.rank", "a.pos")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    best = wins.groupBy("query_id", "doc_id", "rank").agg(
        F.max(F.struct(F.col("n_hits"), (-F.col("pos")).alias("neg"))).alias("_b")
    )
    return (
        best.join(toks, "doc_id")  # the hit-doc-restricted token table, not the corpus
        .select(
            "query_id",
            "doc_id",
            "rank",
            (-F.col("_b.neg")).cast("long").alias("start_pos"),
            F.col("_b.n_hits").alias("n_hits"),
            F.concat_ws(
                " ", F.slice("t", (-F.col("_b.neg")) + 1, window)
            ).alias("snippet"),
        )
    )
