"""End-to-end training-corpus composition — the chain a real pipeline
runs, wired from the individually-oracle-checked operators:

1. exact dedup            (keep one doc per normalized-text hash)
2. MinHash near-dup       (LSH candidates -> exact verify -> connected
   cluster resolution      components -> keep one doc per cluster)
3. paragraph-level dedup  (rewrite survivors without corpus-duplicated
                           passages; drop docs left empty)
4. quality gate           (composite score over the REWRITTEN text)
5. domain reweighting     (deterministic per-source sampling)
6. shard packing          (token-budget layout of what remains)

Every stage is the operator the driver checks in isolation; this module
only composes them, so its correctness surface is the glue — pinned by
tests/test_compose.py invariants (survivor uniqueness, budget bounds,
determinism, monotone filtering), not by a new oracle.

Scale shape: the chain inherits each stage's documented shuffle
accounting; nothing here adds a shuffle beyond the stages' own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def crawl_plan(
    urls: DataFrame,
    blocked_hosts: list[str],
    per_host: int = 4,
    id_col: str = "doc_id",
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """The crawl-side counterpart of :func:`training_corpus`: turn a
    raw, messy fetch frontier into an executable crawl plan by chaining
    the individually-oracle-checked URL operators —

    1. canonical-URL dedup   (urls.url_dedup: one fetch per page
                              identity, latest capture wins)
    2. domain blocklist cut  (urls.url_blocklist_filter: spam/adult
                              domains and their subdomains)
    3. politeness scheduling (urls.frontier_waves: bounded per-host
                              concurrency per wave)

    Every input row gets a disposition: ``malformed`` (unparseable URL
    — route to error handling), ``duplicate`` (a fresher capture of
    the same canonical URL exists), ``blocked`` (host on the list), or
    ``fetch`` with its politeness ``wave``. Scale shape is inherited
    stage-wise (struct-max dedup, broadcast blocklist, per-host
    window); the chain adds only narrow filters and a final union.

    Returns (id, url, disposition VARCHAR, wave BIGINT — NULL unless
    disposition = 'fetch').
    """
    from gocrd_spark.operators.urls import (
        frontier_waves,
        url_blocklist_filter,
        url_dedup,
    )

    none_wave = F.lit(None).cast("long").alias("wave")
    # three consumers (malformed/dups/survivors) — pinned so the
    # regex-canonicalize + struct-max dedup chain runs once, not 3x
    # (the multiply-consumed-intermediate rule)
    deduped = url_dedup(
        urls, id_col=id_col, url_col=url_col, ts_col=ts_col
    ).localCheckpoint(eager=False)
    malformed = deduped.filter(F.col("canonical_url").isNull()).select(
        id_col, url_col, F.lit("malformed").alias("disposition"), none_wave
    )
    dups = deduped.filter(
        F.col("canonical_url").isNotNull() & (F.col("keep") == 0)
    ).select(id_col, url_col, F.lit("duplicate").alias("disposition"), none_wave)
    survivors = deduped.filter(
        F.col("canonical_url").isNotNull() & (F.col("keep") == 1)
    ).select(id_col, url_col)
    # two consumers (blocked/fetch) — pinned for the same reason
    labeled = url_blocklist_filter(
        survivors, blocked_hosts, id_col=id_col, url_col=url_col
    ).localCheckpoint(eager=False)
    blocked = labeled.filter(F.col("blocked") == 1).select(
        id_col, url_col, F.lit("blocked").alias("disposition"), none_wave
    )
    fetch = frontier_waves(
        labeled.filter(F.col("blocked") == 0).select(id_col, url_col),
        per_host=per_host,
        id_col=id_col,
        url_col=url_col,
    ).select(id_col, url_col, F.lit("fetch").alias("disposition"), "wave")
    return (
        malformed.unionByName(dups).unionByName(blocked).unionByName(fetch)
    )


def training_corpus(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    chunk_words: int = 8,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    seed: str = "mix1",
    budget_tokens: int = 2048,
    min_quality: float = 0.3,
    star_bucket: int | None = None,
) -> DataFrame:
    """Run the full cleaning chain over ``docs`` (doc_id, text, source).
    Returns the training-ready corpus:
    (doc_id, source, text, n_tokens, shard_id).

    Every survivor set consumed by multiple later stages (stages 1-5)
    is pinned with a lazy localCheckpoint: without the cut, every
    consumer of stage2 re-executes the ENTIRE upstream chain —
    MinHash LSH, exact verify, connected components — once more
    (measured 4x the whole-chain wall at sf0.1: 47-52 s -> 11.5-12.5 s,
    identical output), and un-cut stages 3-5 compound the replay of
    paragraph_dedup/quality_score through the tail of the chain (the
    static plan carried 138 Exchanges before stages 3-5 were cut).
    Cost: executor storage for the (id, text, source) survivor tables —
    the same corpus-sized materialization a production pipeline pays
    anyway by writing stage outputs to durable storage between stages.

    ``star_bucket`` forwards the mega-bucket star valve to the MinHash
    candidate stage (see minhash_candidates): at crawl scale a
    boilerplate page class (10k+ near-copies of one template) would
    otherwise emit |B|²/2 candidate pairs per band bucket; with the
    valve the bucket emits linear hub-star edges, and since THIS
    consumer only resolves clusters (connected components needs a
    spanning set, not every pair), the surviving corpus is unchanged
    for true boilerplate classes. Default None keeps the exact
    candidate set (the driver oracle's configuration)."""
    from gocrd_spark.operators.dedup import (
        choose_bands,
        dedup_clusters,
        exact_dedup,
        minhash_lsh,
        paragraph_dedup,
    )
    from gocrd_spark.operators.textstats import (
        pack_shards,
        quality_score,
        source_weighted_sample,
    )

    # 1. exact dedup: canonical doc per normalized-text hash
    exact_keep = exact_dedup(docs).select("doc_id")
    stage1 = docs.join(exact_keep, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )

    # 2. near-dup clusters -> keep the canonical of each cluster.
    # Banding DERIVED from the threshold (choose_bands) — the default
    # 8x4 banding recalls only ~40% of pairs at j=0.5, the exact
    # silent-miss class the borderline-recall gate exists for. 64
    # hashes so the threshold can be met with multi-row bands: at 32,
    # choose_bands(0.5) falls back to 1-row bands (any shared MinHash
    # value = candidate, ~all pairs at corpus scale); at 64 it returns
    # 32 two-row bands (recall 0.9999 at j=0.5, candidate probability
    # 1-(1-j²)^32 — e.g. 27% at j=0.1, not 97%).
    num_hashes = 64
    bands = choose_bands(num_hashes, jaccard_threshold)
    if bands == num_hashes:
        raise ValueError(
            f"threshold {jaccard_threshold} needs 1-row bands even at "
            f"{num_hashes} hashes (near-quadratic candidates at scale); "
            "raise the threshold or extend num_hashes here"
        )
    pairs = minhash_lsh(
        stage1,
        threshold=jaccard_threshold,
        num_hashes=num_hashes,
        bands=bands,
        star_bucket=star_bucket,
    )
    keep2 = dedup_clusters(stage1, pairs).filter(F.col("keep") == 1).select("doc_id")
    stage2 = stage1.join(keep2, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )

    # 3. paragraph-level dedup: rewrite text, drop docs left empty
    rewritten = paragraph_dedup(stage2, chunk_words=chunk_words).filter(
        F.col("n_kept") > 0
    )
    # consumed by quality_score AND the stage4 semi-join: un-cut,
    # paragraph_dedup (a full chunk-shingle pass over the corpus)
    # replays once per consumer, and the replay count COMPOUNDS
    # through stages 4-6 (each later stage is itself consumed
    # twice) — the static plan showed 138 Exchanges for a 6-stage
    # chain before stages 3-5 were cut (plans/r06).
    stage3 = stage2.select("doc_id", "source").join(
        rewritten.select("doc_id", F.col("text_dedup").alias("text")), "doc_id"
    ).localCheckpoint(eager=False)

    # 4. quality gate over the REWRITTEN text. The gate compares at 6dp
    # (the suite's fixed-point convention): quality is a chain of double
    # ops whose last bits an independent engine may not reproduce, so
    # the keep/drop contract is defined on round(quality, 6) — both the
    # DuckDB oracle and any reimplementation can hit it exactly.
    q_keep = quality_score(stage3).filter(
        F.round(F.col("quality"), 6) >= min_quality
    ).select("doc_id")
    # consumed by source_weighted_sample AND the stage5 semi-join
    stage4 = stage3.join(q_keep, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )

    # 5. domain reweighting
    sampled = source_weighted_sample(
        stage4, rates or {}, default_rate=default_rate, seed=seed
    )
    # consumed by pack_shards AND the final join
    stage5 = stage4.join(
        sampled.filter(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint(eager=False)

    # 6. shard layout of what remains
    shards = pack_shards(stage5, budget_tokens=budget_tokens)
    return stage5.join(shards.select("doc_id", "n_tokens", "shard_id"), "doc_id")


def fetch_priority(
    frontier: DataFrame,
    host_ranks: DataFrame,
    schedules: DataFrame | None = None,
    traps: DataFrame | None = None,
    url_col: str = "url",
) -> DataFrame:
    """Frontier prioritization — the score a fetch scheduler sorts by,
    composed from the individually-oracle-checked signals:

        weight(url)  = 4 fast / 2 medium / 1 slow (recrawl_schedule
                       tier), 3 when unscheduled or 'once' (explore)
        score(url)   = (1 + rank_e12 div 1e6) * weight   [BIGINT]
        trap urls    -> score 0 (crawl_traps template match)

    The +1 floor keeps unranked hosts (rank NULL -> 0) fetchable —
    discovery must not starve. All-integer arithmetic, so the score is
    engine- and order-independent. Returns (url, host, score, is_trap).

    Scale shape: host/template derive map-side (url_template); the rank
    join shuffles on host (dims of 1e8 hosts still hash-join fine), the
    schedule join on url, and the trap list — templates, bounded by the
    min_urls floor upstream — BROADCASTS. Malformed URLs (no host) are
    dropped, same contract as crawl_traps.
    """
    from .urls import url_template

    url = F.col(url_col)
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    base = frontier.where(host.isNotNull()).select(
        url.alias("url"), host.alias("host"), url_template(url).alias("template")
    )
    j = base.join(host_ranks.select("host", "rank_e12"), "host", "left")
    if schedules is not None:
        j = j.join(schedules.select("url", "tier"), "url", "left")
    else:
        j = j.withColumn("tier", F.lit(None).cast("string"))
    if traps is not None:
        trap_list = (
            traps.where(F.col("is_trap") == 1).select("template").distinct()
            .withColumn("_trap", F.lit(1))
        )
        j = j.join(F.broadcast(trap_list), "template", "left")
    else:
        j = j.withColumn("_trap", F.lit(None).cast("int"))
    weight = (
        F.when(F.col("tier") == "fast", 4)
        .when(F.col("tier") == "medium", 2)
        .when(F.col("tier") == "slow", 1)
        .otherwise(3)
    )
    is_trap = F.coalesce(F.col("_trap"), F.lit(0))
    score = F.when(is_trap == 1, F.lit(0)).otherwise(
        (F.lit(1) + F.expr("coalesce(rank_e12, 0L) div 1000000")) * weight
    )
    return j.select(
        "url",
        "host",
        score.cast("long").alias("score"),
        is_trap.cast("long").alias("is_trap"),
    )


def review_queue(
    pages: DataFrame, k: int = 2, seed: str = "review1"
) -> DataFrame:
    """Human-audit sampling queue: k pages from every
    (host-quality-tier, language) cell — the weekly curation review
    every corpus team runs ("show me two blocked-German pages, two
    allowed-English ones, ..."), composing host_quality (which domains
    are allow/review/block) with stratified_sample's content-stable
    md5 pick order. Input (url, text, lang); returns
    (url, host, tier, lang, pick_order), pick_order 1..k per cell.

    Scale shape: host tiers are a host-cardinality table (broadcast-
    joinable); the per-cell window sorts only (tier x lang) strata of
    (url, digest) keys — page text never shuffles.
    """
    from pyspark.sql import Window

    from gocrd_spark.operators.urls import host_quality

    tiers = host_quality(pages).select("host", "tier")
    keyed = pages.select(
        "url",
        F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))).alias("host"),
        "lang",
    ).filter(F.col("host").isNotNull())
    joined = keyed.join(tiers, "host")
    key = F.md5(F.concat(F.lit(seed), F.lit(":"), F.col("url")))
    w = Window.partitionBy("tier", "lang").orderBy(key.asc(), F.col("url").asc())
    return (
        joined.withColumn("pick_order", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_order") <= k)
        .select("url", "host", "tier", "lang", "pick_order")
    )


def filter_ablation(docs: DataFrame, words: list[str]) -> DataFrame:
    """Quality-filter ablation — the per-rule drop table a curation run
    publishes before anyone trusts a pipeline's keep rate: for every
    Gopher rule, the C4 line gate, and the word-list page flag, how
    many docs fail it (and the combined 'any' row — the union drop).

    One corpus-keyed 3-way join of (doc_id, flags) tables (ids + 0/1
    longs only — text never joins), then a SINGLE-ROW aggregate
    (map-side partial sums) unpivoted via stack. Exact integer ppm.
    Returns (rule, n_fail, fail_ppm).
    """
    from .textstats import c4_line_filter, gopher_rules, wordlist_flags

    gflags = [
        "flag_word_count", "flag_mean_word_len", "flag_symbol_ratio",
        "flag_bullet_lines", "flag_ellipsis_lines", "flag_alpha_words",
        "flag_stopwords",
    ]
    g = gopher_rules(docs).select("doc_id", *gflags, F.col("keep").alias("_gk"))
    c = c4_line_filter(docs).select("doc_id", F.col("keep").alias("_ck"))
    w = wordlist_flags(docs, words)
    j = g.join(c, "doc_id").join(w, "doc_id")
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    aggs += [F.sum(1 - F.col(f)).cast("long").alias(f) for f in gflags]
    aggs += [
        F.sum(1 - F.col("_gk")).cast("long").alias("_gall"),
        F.sum(1 - F.col("_ck")).cast("long").alias("_cfail"),
        F.sum("flagged").cast("long").alias("_wfail"),
        F.sum(
            (
                (F.col("_gk") == 0) | (F.col("_ck") == 0) | (F.col("flagged") == 1)
            ).cast("long")
        )
        .cast("long")
        .alias("_anyf"),
    ]
    a = j.agg(*aggs)
    pairs = ", ".join(
        [f"'gopher:{f.removeprefix('flag_')}', {f}" for f in gflags]
        + ["'gopher:all', _gall", "'c4:lines', _cfail",
           "'wordlist', _wfail", "'any', _anyf"]
    )
    n_rules = len(gflags) + 4
    return a.selectExpr(
        f"stack({n_rules}, {pairs}) as (rule, n_fail)", "_n"
    ).select(
        "rule",
        F.col("n_fail").cast("long").alias("n_fail"),
        F.expr("(1000000 * n_fail) div _n").alias("fail_ppm"),
    )
