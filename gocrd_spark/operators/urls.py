"""URL canonicalization and URL-level deduplication.

The first dedup a crawl pipeline runs is not on content but on the URL:
the same page is fetched many times under trivially different spellings
(scheme/host case, explicit default ports, fragment anchors, query-param
order). ``canonical_url`` normalizes those away; ``url_dedup`` keeps one
fetch per canonical URL (latest ``warc_ts`` wins — the freshest capture
— with the lowest id as the deterministic tiebreak).

Canonicalization rules (deliberately conservative — nothing lossy like
query-param stripping or www-folding, which change page identity):

1. scheme and host lowercased;
2. explicit default port dropped (``http:80``, ``https:443``) — other
   ports kept;
3. empty path becomes ``/``;
4. query parameters sorted bytewise (``b=2&a=1`` == ``a=1&b=2``); an
   absent/empty query keeps no ``?``;
5. fragment dropped (never sent to the server).

All JVM expressions (``parse_url`` + array ops) — no Python in the row
path. Scale shape of ``url_dedup``: one shuffle on the canonical-URL
string key (the decision needs only (canonical_url, warc_ts, id) —
payload columns join back by id afterwards if the caller carries any).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def canonical_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL (rules in the module
    docstring). Malformed URLs (no ``scheme://host``) come back NULL —
    callers route those to error handling rather than silently grouping
    them under one empty key."""
    scheme = F.lower(F.try_parse_url(url, F.lit("PROTOCOL")))
    # HOST excludes the port; AUTHORITY carries host[:port]. try_ variant:
    # malformed URLs yield NULL instead of failing the task (Spark 4)
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    authority = F.try_parse_url(url, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    path = F.try_parse_url(url, F.lit("PATH"))
    path = F.when((path.isNull()) | (path == ""), F.lit("/")).otherwise(path)
    query = F.try_parse_url(url, F.lit("QUERY"))
    sorted_query = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.when(
        scheme.isNotNull() & host.isNotNull() & (host != ""),
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
            path,
            F.when(
                query.isNotNull() & (query != ""),
                F.concat(F.lit("?"), sorted_query),
            ).otherwise(F.lit("")),
        ),
    )


def url_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Keep one row per canonical URL: the latest ``ts_col`` capture,
    lowest ``id_col`` on ties. Returns every input row labeled —
    (id, url, canonical_url, keep BIGINT 0/1) — the same
    whole-corpus-labeled shape as dedup_clusters, so downstream filters
    compose identically. Rows with NULL canonical_url (malformed URLs)
    are each their own group (keep=1): never silently dropped.

    The groupBy shuffles only (canonical_url, ts, id) — the winner is a
    map-side-combinable max of a (ts, -id) struct, not a window sort.
    """
    ids = F.col(id_col)
    keyed = df.select(
        ids.alias("_id"),
        F.col(url_col).alias("_url"),
        F.col(ts_col).alias("_ts"),
        canonical_url(F.col(url_col)).alias("canonical_url"),
    )
    winners = (
        keyed.filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.max(
                F.struct(F.col("_ts").alias("ts"), (-F.col("_id")).alias("neg_id"))
            ).alias("w")
        )
        .select("canonical_url", (-F.col("w.neg_id")).alias("_win_id"))
    )
    return (
        keyed.join(winners, "canonical_url", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_url").alias(url_col),
            "canonical_url",
            F.when(
                F.col("canonical_url").isNull() | (F.col("_id") == F.col("_win_id")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    payload_col: str = "html",
) -> DataFrame:
    """Crawl-snapshot diff: classify every key across two snapshots as
    ``new`` (only in the new snapshot), ``gone`` (only in the old),
    ``changed`` (both, payload digest differs) or ``unchanged`` — the
    incremental-processing frontier a recurring crawl pipeline feeds to
    downstream stages (reprocess new+changed, skip unchanged, retire
    gone).

    One full-outer equi-join on the key, comparing md5 digests computed
    map-side — payload bytes never shuffle, only (key, 16-byte digest).
    Duplicate captures of a key WITHIN one snapshot collapse to the
    lexicographically smallest digest before the join (map-side
    combinable min) — without the collapse, k_old x k_new contradictory
    status rows would come out per duplicated key.
    Returns (``key_col``, status, old_digest, new_digest), one row per
    distinct key.
    """
    def dig(df: DataFrame, alias: str) -> DataFrame:
        # NULL payload gets a sentinel digest: presence in a snapshot
        # must read as presence, or a failed-fetch row would classify
        # its key as new/gone instead of changed/unchanged
        d = F.coalesce(
            F.md5(F.col(payload_col).cast("binary")), F.lit("__null__")
        )
        return (
            df.select(F.col(key_col).alias("_k"), d.alias(alias))
            .groupBy("_k")
            .agg(F.min(alias).alias(alias))
        )

    joined = dig(old, "old_digest").join(
        dig(new, "new_digest"), "_k", "full_outer"
    )
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("new"))
        .when(F.col("new_digest").isNull(), F.lit("gone"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("_k").alias(key_col),
        status.alias("status"),
        "old_digest",
        "new_digest",
    )


def host_suffixes(host: Column) -> Column:
    """Array of registrable suffixes of a lowercased host, most-specific
    first: ``a.b.c.com`` -> [a.b.c.com, b.c.com, c.com, com]. Pure
    built-ins (split + transform over the label array); a NULL host
    yields an empty array."""
    labels = F.split(F.lower(host), r"\.")
    n = F.size(labels)
    return F.when(host.isNull(), F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(F.slice(labels, i + 1, n), "."),
        )
    )


def url_blocklist_filter(
    df: DataFrame,
    blocked_hosts: list[str],
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Domain blocklist filtering — the spam/adult/SEO-farm domain cut
    every crawl-curation pipeline runs before content-level quality
    scoring. A row is blocked when its URL's host OR ANY parent domain
    of it is on the list (``blocked_hosts`` entries are exact
    registrable domains: listing ``evil.com`` blocks ``a.evil.com``).

    Scale shape: the host explodes into its <=|labels| suffixes (a
    bounded explode — hosts have a handful of labels) and left-semi
    joins the BROADCAST blocklist, so the candidate path shuffles ids
    only (the distinct on hit ids); the final label-back join carries
    (id, url, host) — the URL table, never document content — and is
    AQE-broadcastable when hits are rare (the typical blocklist case).
    The blocklist itself rides as broadcast DATA, not plan literals
    (same plan-size rule as the sampling rate table and the LSH
    planes), so a million-domain list leaves the plan constant.
    Malformed URLs (NULL host) are never blocked — they flow to the
    malformed handling of downstream operators instead of being
    silently eaten here.

    Returns every input row labeled: (id, url, host, blocked 0/1).
    """
    spark = df.sparkSession
    bl = spark.createDataFrame(
        [(b.lower(),) for b in sorted(set(blocked_hosts))], "suffix string"
    )
    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(url_col).alias("_url"),
        host.alias("host"),
    )
    hits = (
        keyed.select("_id", F.explode(host_suffixes(F.col("host"))).alias("suffix"))
        .join(F.broadcast(bl), "suffix", "left_semi")
        .select("_id")
        .distinct()
    )
    return (
        keyed.join(hits.withColumn("_hit", F.lit(1)), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_url").alias(url_col),
            "host",
            F.coalesce(F.col("_hit"), F.lit(0)).cast("long").alias("blocked"),
        )
    )


def frontier_waves(
    df: DataFrame,
    per_host: int = 4,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Politeness scheduling for a fetch frontier: assign every URL a
    WAVE such that no host appears more than ``per_host`` times per
    wave — the fetch scheduler runs wave 0, then wave 1, ... and host
    concurrency stays bounded no matter how skewed the frontier is
    toward a few mega-hosts (the frontier's canonical skew shape).
    Within a host, order is deterministic (id asc): wave =
    (rank_within_host - 1) div per_host.

    Scale shape: ONE window partitioned by host (each host ranks in
    parallel, no global sort). The schedule's length is bounded by the
    biggest host — max(wave) + 1, one tiny aggregate over the output
    if the caller wants the long pole before fetching. Malformed URLs
    (NULL host) get wave NULL — route them to error handling, not the
    fetch queue.

    Returns (id, url, host, wave).
    """
    from pyspark.sql import Window

    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(url_col).alias("_url"),
        F.when(host == "", None).otherwise(host).alias("host"),
    )
    # malformed urls NEVER enter the window: at crawl scale they would
    # all land in the single host=NULL window partition (one straggler
    # task sorting every junk url) — they bypass with wave NULL instead
    good = keyed.filter(F.col("host").isNotNull())
    bad = keyed.filter(F.col("host").isNull()).select(
        "_id", "_url", "host", F.lit(None).cast("long").alias("wave")
    )
    w = Window.partitionBy("host").orderBy("_id")
    waved = good.select(
        "_id",
        "_url",
        "host",
        ((F.row_number().over(w) - 1) / per_host).cast("long").alias("wave"),
    )
    return waved.unionByName(bad).select(
        F.col("_id").alias(id_col), F.col("_url").alias(url_col), "host", "wave"
    )


def canonical_dedup(
    df: DataFrame,
    url_col: str = "url",
    canonical_col: str = "canonical_url",
    ts_col: str = "warc_ts_epoch",
) -> DataFrame:
    """Dedup by the page's OWN rel=canonical declaration (the
    page_metadata tier's output) — the crawl-dedup tier that catches
    what URL-string canonicalization cannot: mobile/AMP/print variants
    and tracking-parameter mirrors that declare their canonical page
    in-document. Target = coalesce(canonical, url); the winner per
    target is the SELF-CANONICAL capture if one was crawled (url ==
    target), else the latest capture, lowest url on ties.

    Scale shape: ONE window over target whose winner is the min of a
    (not_self, -ts, url) struct — the shuffle carries (url, target, ts),
    never page content, and the input (typically the page_metadata
    kernel's output) is read once; a groupBy plus a join back would
    read it twice. At crawl scale the canonical graph is shallow (pages
    point at one canonical target, depth 1 by construction), so no
    iteration is needed — unlike dedup_clusters there is no transitive
    closure to chase.

    Returns every input row labeled: (url, target, keep BIGINT 0/1).
    """
    target = F.coalesce(F.col(canonical_col), F.col(url_col))
    keyed = df.select(
        F.col(url_col).alias("_url"),
        target.alias("target"),
        F.col(ts_col).alias("_ts"),
    )
    winner = F.min(
        F.struct(
            F.when(F.col("_url") == F.col("target"), 0).otherwise(1).alias("not_self"),
            (-F.coalesce(F.col("_ts"), F.lit(0))).alias("neg_ts"),
            F.col("_url").alias("url"),
        )
    ).over(Window.partitionBy("target"))
    return keyed.select(
        F.col("_url").alias(url_col),
        "target",
        F.when(F.col("_url") == winner["url"], F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("keep"),
    )


def recrawl_schedule(
    obs: DataFrame,
    fast_permille: int = 300,
    slow_permille: int = 50,
    url_col: str = "url",
    snap_col: str = "snap_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Freshness-aware recrawl scheduling from multi-snapshot change
    history — the policy stage after :func:`snapshot_diff`: a recurring
    crawl revisits fast-changing pages often and parks static ones, the
    standard change-rate heuristic (Cho & Garcia-Molina's incremental
    crawler). Per URL, count content CHANGES across consecutive
    snapshot observations (digest != previous digest) and tier:

    - ``fast``   — change rate >= fast_permille/1000 of revisits
    - ``slow``   — change rate <= slow_permille/1000
    - ``medium`` — between
    - ``once``   — observed in a single snapshot (no rate yet)

    rate_permille = (1000 * n_changes) div (n_obs - 1): all-integer,
    engine-exact. Scale shape: ONE url-partitioned window ordered by
    snap_id — group size is the snapshot count (a small constant at
    crawl scale, ~monthly snapshots), so no straggler risk — followed
    by a map-side-combinable groupBy on the same key (the window's
    shuffle partitioning is reused; digests are small hashes, payloads
    never enter this operator).

    Returns (url, n_obs, n_changes, rate_permille BIGINT — NULL for
    'once', tier VARCHAR).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(snap_col)
    lagged = obs.select(
        F.col(url_col).alias("url"),
        F.col(digest_col).alias("_d"),
        F.lag(F.col(digest_col)).over(w).alias("_pd"),
    )
    agg = lagged.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(
            F.when(
                F.col("_pd").isNotNull() & (F.col("_d") != F.col("_pd")), 1
            ).otherwise(0)
        ).alias("n_changes"),
    )
    rate = F.when(
        F.col("n_obs") > 1,
        F.expr("(1000 * n_changes) div (n_obs - 1)"),
    ).cast("long")
    return agg.select(
        "url",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("n_changes").cast("long").alias("n_changes"),
        rate.alias("rate_permille"),
        F.when(F.col("n_obs") == 1, F.lit("once"))
        .when(rate >= fast_permille, F.lit("fast"))
        .when(rate <= slow_permille, F.lit("slow"))
        .otherwise(F.lit("medium"))
        .alias("tier"),
    )


def url_template(url: Column) -> Column:
    """URL -> path TEMPLATE: lowercased host + path with each
    decimal-digit run collapsed to ``N`` + (when a query string exists)
    the sorted set of query KEYS, values dropped. The grouping key of
    :func:`crawl_traps` and the trap-lookup key of
    :func:`gocrd_spark.operators.compose.fetch_priority` — computed
    map-side from JVM ``try_parse_url`` + regexp, no Python."""
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))
    query = F.try_parse_url(url, F.lit("QUERY"))
    path_norm = F.regexp_replace(path, "[0-9]+", "N")
    key_set = F.array_join(
        F.array_sort(
            F.transform(
                F.split(query, "&"),
                lambda kv: F.element_at(F.split(kv, "="), 1),
            )
        ),
        "&",
    )
    return F.concat(
        host,
        path_norm,
        F.when(query.isNull(), F.lit("")).otherwise(F.concat(F.lit("?"), key_set)),
    )


def crawl_traps(
    obs: DataFrame,
    min_urls: int = 20,
    max_digest_ratio_e6: int = 200_000,
    url_col: str = "url",
    digest_col: str = "digest",
) -> DataFrame:
    """Crawler-trap detection by path-template fanout: collapse every
    URL to its TEMPLATE — lowercased host + path with each decimal-digit
    run replaced by ``N`` + (when a query string exists) the sorted set
    of query KEYS (values dropped) — and flag templates where many
    distinct URLs serve few distinct content digests. Calendar pages,
    faceted listings and session-ID mints all explode the URL space
    under one template while the content barely changes; a frontier
    should stop minting fetches for a flagged template.

    Input: (url, digest) fetch observations (digest = content hash from
    the fetch log). Returns one row per template with
    ``n_urls >= min_urls``: (template, n_urls, n_digests, is_trap) —
    is_trap = 1 when n_digests/n_urls <= max_digest_ratio_e6/1e6.
    A high-fanout template whose every page is DISTINCT (a healthy
    /post/N archive) keeps ratio ~1.0 and is not a trap. Malformed URLs
    (no parseable host) are ignored.

    Shuffle accounting at crawl scale: templates are computed map-side
    (JVM ``try_parse_url`` + regexp — no Python); the two distinct
    counts aggregate xxhash64(url)/xxhash64(digest) LONGS under the
    template key with map-side partial distinct — raw urls and digests
    never ride the exchange. The DuckDB oracle counts distinct STRINGS,
    so a green driver row also certifies the hash-distinct at this
    scale.
    """
    url, dig = F.col(url_col), F.col(digest_col)
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    template = url_template(url)
    t = (
        obs.where(host.isNotNull())
        .select(
            template.alias("template"),
            F.xxhash64(url).alias("uh"),
            F.xxhash64(dig).alias("dh"),
        )
    )
    g = t.groupBy("template").agg(
        F.countDistinct("uh").alias("n_urls"),
        F.countDistinct("dh").alias("n_digests"),
    )
    return g.where(F.col("n_urls") >= F.lit(min_urls)).select(
        "template",
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_digests").cast("long").alias("n_digests"),
        (
            F.col("n_digests") * F.lit(1_000_000)
            <= F.lit(max_digest_ratio_e6) * F.col("n_urls")
        )
        .cast("long")
        .alias("is_trap"),
    )


def mirror_hosts(
    obs: DataFrame,
    min_shared: int = 5,
    min_overlap_e6: int = 800_000,
    max_hosts_per_digest: int = 64,
    url_col: str = "url",
    digest_col: str = "digest",
) -> DataFrame:
    """Mirror-site detection: host PAIRS whose content-digest sets
    overlap — the containment rule lifted from documents to hosts. A
    crawl that discovers ``cdn.example`` mirroring ``www.example`` should
    fetch one of them; URL-level dedup never sees this because every
    mirrored URL is distinct.

    overlap_e6 = (1e6 * |A∩B|) div min(|A|,|B|)  — integer arithmetic
    (containment of the smaller host, so a small full mirror of a big
    site still scores 1e6). is_mirror = overlap_e6 >= min_overlap_e6 AND
    |A∩B| >= min_shared. Returns
    (host_a, host_b, n_shared, n_a, n_b, overlap_e6, is_mirror) for
    every co-occurring pair with n_shared >= min_shared, host_a < host_b.

    Skew valve: a digest served by more than ``max_hosts_per_digest``
    hosts (empty pages, error templates, cookie walls — the universal
    boilerplate payloads) is DROPPED before the pair join, the same
    degenerate-bucket discipline as SimHash's max_bucket: such digests
    assert nothing about mirroring and would otherwise mint |H|²/2
    pairs. Shuffle accounting: the pair join carries (xxhash64(digest),
    host) — the DuckDB oracle co-occurs the digest STRINGS, certifying
    the hash grouping.
    """
    url = F.col(url_col)
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    # hd feeds the fanout valve AND the kept join; kept feeds sizes AND
    # both pair-join sides — un-pinned, the URL-parse + distinct chain
    # replays once per consumer (the multiply-consumed-intermediate
    # rule; same fix as crawl_plan's deduped/labeled)
    hd = (
        obs.where(host.isNotNull())
        .select(host.alias("host"), F.xxhash64(F.col(digest_col)).alias("dh"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    fanout = hd.groupBy("dh").agg(F.count("*").alias("n_hosts"))
    kept = hd.join(
        fanout.where(F.col("n_hosts") <= F.lit(max_hosts_per_digest)).select("dh"),
        "dh",
    ).localCheckpoint(eager=False)
    sizes = kept.groupBy("host").agg(F.count("*").alias("n_docs"))
    left = kept.select("dh", F.col("host").alias("host_a"))
    right = kept.select("dh", F.col("host").alias("host_b"))
    pairs = (
        left.join(right, "dh")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(min_shared))
    )
    sa = sizes.select(F.col("host").alias("host_a"), F.col("n_docs").alias("n_a"))
    sb = sizes.select(F.col("host").alias("host_b"), F.col("n_docs").alias("n_b"))
    out = pairs.join(sa, "host_a").join(sb, "host_b")
    overlap = F.expr("(1000000 * n_shared) div least(n_a, n_b)")
    return out.select(
        "host_a",
        "host_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        overlap.cast("long").alias("overlap_e6"),
        (overlap >= F.lit(min_overlap_e6)).cast("long").alias("is_mirror"),
    )


def host_quality(
    pages: DataFrame,
    min_pages: int = 3,
    allow_q_e6: int = 550_000,
    block_q_e6: int = 350_000,
) -> DataFrame:
    """Per-host quality aggregation -> crawl allowlist tiers: the
    domain-curation table every crawl planner maintains ("this host
    reliably yields training-grade text; that one is digit soup").
    Input (url, text, lang); output one row per host:
    (host, n_pages, sum_quality_e6, top_lang, tier).

    The per-page quality is the textstats.quality_score composite
    re-specified in EXACT INTEGER arithmetic (ratios as
    ``(10^6 * count) div n_chars`` floor divisions, clamped composite
    in _e6 units) and summed as BIGINTs, so host aggregates are
    aggregation-order-independent and the DuckDB oracle hash-matches.
    Tier thresholds compare ``sum_quality_e6`` against
    ``threshold * n_pages`` — no division anywhere:

        allow : n_pages >= min_pages and sum >= allow_q_e6 * n
        block : sum < block_q_e6 * n
        review: everything else

    top_lang is the majority page language, ties broken (count DESC,
    lang ASC). Scale shape: one narrow map computes (host, q_e6, lang)
    per page (URL parse + fixed character classes, all JVM); the
    shuffles carry (host, lang, long) aggregation rows only — content
    never leaves the scan stage.
    """
    text = F.col("text")
    n_chars = F.length(text).cast("long")
    n_punct = sum(
        F.length(text) - F.length(F.replace(text, F.lit(c), F.lit("")))
        for c in [".", ",", "!", "?", ";", ":"]
    )
    n_digit = sum(
        F.length(text) - F.length(F.replace(text, F.lit(str(d)), F.lit("")))
        for d in range(10)
    )
    toks = F.filter(F.split(text, r"\s+"), lambda x: x != F.lit(""))
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "and", "of", "to", "in"))
    ).cast("long")
    counts = pages.select(
        F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))).alias("host"),
        F.col("lang"),
        n_chars.alias("n_chars"),
        n_punct.cast("long").alias("n_punct"),
        n_digit.cast("long").alias("n_digit"),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
    )
    punct_e6 = F.when(
        F.col("n_chars") > 0, F.expr("(1000000 * n_punct) div n_chars")
    ).otherwise(F.lit(0))
    digit_e6 = F.when(
        F.col("n_chars") > 0, F.expr("(1000000 * n_digit) div n_chars")
    ).otherwise(F.lit(0))
    stop_e6 = F.when(
        F.col("n_tokens") > 0, F.expr("(1000000 * n_stop) div n_tokens")
    ).otherwise(F.lit(0))
    per_page = counts.select(
        "host",
        "lang",
        F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.lit(1_000_000).cast("long"),
                F.lit(1_000_000)
                - 2 * punct_e6
                - 2 * digit_e6
                + F.least(stop_e6, F.lit(200_000)),
            ),
        ).alias("q_e6"),
    ).filter(F.col("host").isNotNull())
    by_lang = per_page.groupBy("host", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q_e6").cast("long").alias("sq"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("lang"))
    agg = (
        by_lang.withColumn("rn", F.row_number().over(w))
        .groupBy("host")
        .agg(
            F.sum("n").cast("long").alias("n_pages"),
            F.sum("sq").cast("long").alias("sum_quality_e6"),
            F.max(F.when(F.col("rn") == 1, F.col("lang"))).alias("top_lang"),
        )
    )
    return agg.select(
        "host",
        "n_pages",
        "sum_quality_e6",
        "top_lang",
        F.when(
            (F.col("n_pages") >= min_pages)
            & (F.col("sum_quality_e6") >= F.lit(allow_q_e6) * F.col("n_pages")),
            F.lit("allow"),
        )
        .when(F.col("sum_quality_e6") < F.lit(block_q_e6) * F.col("n_pages"), F.lit("block"))
        .otherwise(F.lit("review"))
        .alias("tier"),
    )


def url_features(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Lexical URL features for spam/quality classifiers — the
    zero-content signal tier (rankable before a single byte of the
    page is fetched): subdomain depth, digit density in the hostname,
    path depth, query-parameter count, total length. All JVM
    expressions over ``try_parse_url``; integer-exact (digit density
    is a ``(10^6 * digits) div len`` floor division) so the oracle
    hash-matches. Malformed URLs yield NULL host and zeroed features.

    Returns (url, host, n_host_labels, host_digit_e6, path_depth,
    n_params, url_len). Narrow map, no shuffle: compose with
    classifier_score / fetch_priority downstream.
    """
    u = F.col(url_col)
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    path = F.try_parse_url(u, F.lit("PATH"))
    query = F.try_parse_url(u, F.lit("QUERY"))
    digit_sum = " + ".join(
        f"(length(host) - length(replace(host, '{d}', '')))" for d in range(10)
    )
    return urls.select(
        u.alias("url"),
        host.alias("host"),
        path.alias("_path"),
        query.alias("_query"),
        F.length(u).cast("long").alias("url_len"),
    ).select(
        "url",
        "host",
        F.coalesce(F.size(F.split(F.col("host"), r"\.")), F.lit(0))
        .cast("long")
        .alias("n_host_labels"),
        F.when(
            F.col("host").isNotNull() & (F.length("host") > 0),
            F.expr(f"(1000000 * ({digit_sum})) div length(host)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("host_digit_e6"),
        F.coalesce(
            F.size(F.filter(F.split(F.col("_path"), "/"), lambda x: x != F.lit(""))),
            F.lit(0),
        )
        .cast("long")
        .alias("path_depth"),
        F.coalesce(
            F.when(
                F.col("_query").isNotNull() & (F.col("_query") != ""),
                F.size(F.split(F.col("_query"), "&")),
            ).otherwise(F.lit(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_params"),
        "url_len",
    )


def crawl_budgets(scores: DataFrame, budget: int) -> DataFrame:
    """Crawl-budget apportionment: split an integer fetch/token budget
    across hosts proportionally to a non-negative integer score
    (PageRank rank_e12, the host_quality composite, ...) with the
    Hamilton largest-remainder method — quotas sum to EXACTLY
    ``budget``, the property naive rounding loses.

    Exact integer spec: quota_floor = (budget*score) div T,
    rem = (budget*score) mod T (T = score total); the R = budget -
    sum(floor) leftover units go to the largest remainders, ties to
    the lexicographically smallest host. Requires budget * max_score
    < 2^63 (caller contract — rank_e12 scores with ~10^6 budgets hold
    comfortably).

    Scale shape: NO global window over the host table. The winner set
    comes from a CUTOFF: a cumulative count over the DISTINCT-
    remainder histogram (single-partition window over (rem, count)
    pairs — the remainder distribution, not the hosts) finds the
    threshold remainder r* and the tie take; hosts with rem > r* win
    outright and only the r*-tie group (bounded by the collision count
    at one remainder) ranks by host name. Totals are 1-row broadcast
    scalars. R == 0 degenerates to bare floors via a +inf sentinel
    cutoff.

    Returns (host, score, quota) with sum(quota) == budget.
    """
    b = int(budget)
    tot = scores.agg(F.sum("score").cast("long").alias("t"))
    # t == 0 (every host scored zero) would THROW under ANSI integer
    # division; define the degenerate apportionment instead: floors 0,
    # remainders 0, so the cutoff path hands the R=budget leftovers to
    # the first min(budget, n_hosts) hosts by name — deterministic, and
    # exact-sum whenever budget <= n_hosts (documented contract)
    base = scores.crossJoin(F.broadcast(tot)).select(
        "host",
        F.col("score").cast("long").alias("score"),
        F.when(F.col("t") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr(f"({b} * score) div t"))
        .alias("fl"),
        F.when(F.col("t") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr(f"({b} * score) % t"))
        .alias("rem"),
    ).localCheckpoint(eager=True)  # host-sized; three consumers below
    rtot = base.agg((F.lit(b) - F.sum("fl")).cast("long").alias("r"))
    hist = base.groupBy("rem").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy(F.desc("rem"))  # distinct-remainder histogram only
    cut = (
        hist.withColumn("cum", F.sum("c").over(w))
        .crossJoin(F.broadcast(rtot))
        .filter((F.col("cum") - F.col("c") < F.col("r")) & (F.col("r") > 0))
        .orderBy(F.asc("rem"))
        .limit(1)
        .select(
            F.col("rem").alias("cut_rem"),
            (F.col("r") - (F.col("cum") - F.col("c"))).cast("long").alias("take_ties"),
        )
    )
    # guarantee exactly one cutoff row: when R == 0 the filter leaves
    # `cut` empty, and a bare crossJoin would wipe the output — the
    # sentinel (+inf remainder, zero ties) awards no bonuses; when a
    # real cutoff exists the bigger take_ties row wins the limit(1)
    sentinel = rtot.select(
        F.lit(1 << 62).cast("long").alias("cut_rem"),
        F.lit(0).cast("long").alias("take_ties"),
    )
    cut1 = cut.unionByName(sentinel).orderBy(F.desc("take_ties")).limit(1)
    wt = Window.partitionBy("rem").orderBy(F.asc("host"))
    return (
        base.crossJoin(F.broadcast(cut1))
        .withColumn(
            "_bonus",
            F.when(F.col("rem") > F.col("cut_rem"), F.lit(1))
            .when(
                (F.col("rem") == F.col("cut_rem"))
                & (F.row_number().over(wt) <= F.col("take_ties")),
                F.lit(1),
            )
            .otherwise(F.lit(0)),
        )
        .select(
            "host",
            "score",
            (F.col("fl") + F.col("_bonus")).cast("long").alias("quota"),
        )
    )
