"""Mergeable sketches: HyperLogLog distinct counting and count-min
heavy hitters, in exact integer arithmetic.

Corpus-profile statistics a 100 TB pipeline cannot compute exactly
without a vocabulary-sized shuffle: "how many distinct tokens per
source?" and "what are the most frequent terms?" become BOUNDED-STATE
aggregations here — every executor emits at most (groups x 1024)
register rows / 4096 counter rows regardless of input size, the
partial max/sum combine happens map-side, and sketches from different
days/shards MERGE by the same max/sum. That mergeability is the whole
point: daily-crawl sketches fold into the running corpus profile
without re-reading history (same durable-batch shape as
dedup.minhash_append).

Determinism contract: both sketches are specified in BIGINT arithmetic
on the engine's xxhash64 (Flajolet et al. 2007's estimator re-derived
over integer divmod; Cormode-Muthukrishnan count-min unchanged — its
counters are plain sums). The HLL estimator's two constants are
fixed-pointed once (alpha_e6; the small-range ln), after which every
step is integer multiply/floor-divide — the pure-Python twin
(tools/oracle_twins.py on pyxxh's from-scratch xxHash64) reproduces
estimates hash-identically, which is what lets an APPROXIMATE sketch
pass an EXACT oracle gate.

HLL spec (p=10, m=1024 registers):

    h      = xxhash64(item)                      # Spark seed 42, signed
    bucket = (h >> 54) & 1023                    # top 10 bits
    w      = h & (2^54 - 1)                      # low 54 bits
    rho    = min(55 - bit_length(w), 32)         # w=0 -> 55 -> capped 32
    M[b]   = max rho seen in bucket (absent = 0)
    S      = sum over the 1024 buckets of 2^(32 - M[b])   # <= 2^42
    Q, R   = divmod(2^52, S)                     # m^2 * 2^32 = 2^52
    E      = (ALPHA_E6*Q + (ALPHA_E6*R) div S) div 10^6
    if E <= 5*m/2 and V > 0:                     # V = zero registers
        E  = (m * round6_e6(ln(m / V))) div 10^6 # linear counting
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gocrd_spark import fsio

HLL_P = 10
HLL_M = 1 << HLL_P  # 1024 registers
HLL_RHO_CAP = 32
HLL_ALPHA_E6 = 720_541  # round6_e6(0.7213 / (1 + 1.079/1024))
_W_MASK = (1 << (64 - HLL_P)) - 1  # low 54 bits

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _tokens(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != F.lit(""))


def hll_registers(
    items: DataFrame, group_col: str = "source", item_col: str = "item"
) -> DataFrame:
    """HLL register table (group, bucket, m) — the DURABLE/mergeable
    face: registers from two runs merge by max(m) per (group, bucket).
    At most groups x 1024 rows survive the map-side partial max; the
    shuffle never scales with item count.
    """
    h = F.xxhash64(F.col(item_col))
    bucket = F.shiftright(h, 64 - HLL_P).bitwiseAND(F.lit(HLL_M - 1))
    w = h.bitwiseAND(F.lit(_W_MASK))
    # bit_length via bin(): Spark's bin(bigint) has no leading zeros,
    # so length(bin(w)) IS bit_length(w); w = 0 -> rho 55 (all-zero
    # 54-bit suffix), then capped.
    rho = F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - F.length(F.bin(w)))
    rho = F.least(rho, F.lit(HLL_RHO_CAP))
    return (
        items.select(F.col(group_col).alias("group"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("group", "bucket")
        .agg(F.max("rho").cast("long").alias("m"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Fold a register table into (group, est_distinct, n_zero) — the
    integer-exact estimator from the module spec. One row per group.
    """
    # absent buckets carry m=0 and contribute 2^32 each to S
    per = registers.groupBy("group").agg(
        F.sum(F.expr(f"shiftleft(1L, cast(({HLL_RHO_CAP} - m) & 63 as int))")).alias(
            "s_present"
        ),
        F.count(F.lit(1)).cast("long").alias("n_present"),
    )
    s = F.col("s_present") + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1 << HLL_RHO_CAP)
    v = (F.lit(HLL_M) - F.col("n_present")).cast("long")
    # m^2 * 2^rho_cap = 2^52; alpha applied via divmod split so no
    # intermediate exceeds alpha_e6 * 2^42
    est_raw = F.expr(
        f"({HLL_ALPHA_E6} * (cast({1 << 52} as bigint) div s)"
        f" + ({HLL_ALPHA_E6} * (cast({1 << 52} as bigint) % s)) div s) div 1000000"
    )
    lc = F.expr(
        f"({HLL_M} * cast(round(round(ln({HLL_M}.0 / v), 6) * 1000000) as bigint))"
        " div 1000000"
    )
    return (
        per.withColumn("s", s.cast("long"))
        .withColumn("v", v)
        .withColumn("est_raw", est_raw)
        .select(
            "group",
            F.when((F.col("est_raw") <= F.lit(5 * HLL_M // 2)) & (F.col("v") > 0), lc)
            .otherwise(F.col("est_raw"))
            .cast("long")
            .alias("est_distinct"),
            F.col("v").alias("n_zero"),
        )
    )


def hll_distinct_terms(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-source distinct-token estimate next to the exact answer:
    (group, est_distinct, n_zero, exact_distinct, err_permille). The
    exact side is the audit column (it IS vocabulary-shuffle-sized);
    production profiles drop it and keep the bounded sketch path.
    err_permille = |est - exact| * 1000 div exact.
    """
    items = docs.select(
        F.col(group_col).alias("g"), F.explode(_tokens(F.col("text"))).alias("item")
    )
    est = hll_estimate(hll_registers(items, group_col="g"))
    exact = (
        items.distinct()
        .groupBy(F.col("g").alias("group"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
    )
    return (
        est.join(exact, "group")
        .withColumn(
            "err_permille",
            F.expr("abs(est_distinct - exact_distinct) * 1000 div exact_distinct"),
        )
        .select("group", "est_distinct", "n_zero", "exact_distinct", "err_permille")
    )


def cms_counters(items: DataFrame, item_col: str = "item") -> DataFrame:
    """Count-min counter table (row, bucket, c): CMS_DEPTH x CMS_WIDTH
    = 4096 counters regardless of corpus size. Row i's hash chains the
    row index through xxhash64 (xxhash64(i, item), Spark's multi-column
    fold); bucket = pmod(h, width). Counters from two runs merge by
    SUM — the mergeable face.
    """
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(F.xxhash64(F.lit(i), F.col(item_col)), F.lit(CMS_WIDTH))
                .cast("long")
                .alias("bucket"),
            )
            for i in range(CMS_DEPTH)
        ]
    )
    return (
        items.select(F.explode(rows).alias("rb"))
        .select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def cms_heavy_hitters(docs: DataFrame, k: int = 8) -> DataFrame:
    """Top-k corpus terms by count-min estimate, with the exact count
    as the audit column: (term, est_count, exact_count, rank). The
    4096-counter table broadcasts; candidate terms come from the
    distinct-term table (vocabulary-sized, the same table every
    vocab/df operator shuffles). CMS guarantees est >= exact; ordering
    (est DESC, term ASC) is deterministic.
    """
    items = docs.select(F.explode(_tokens(F.col("text"))).alias("item"))
    counters = cms_counters(items)
    exact = items.groupBy(F.col("item").alias("term")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    probes = exact.select(
        "term",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(F.xxhash64(F.lit(i), F.col("term")), F.lit(CMS_WIDTH))
                        .cast("long")
                        .alias("bucket"),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select(
        "term", "exact_count", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    )
    est = (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("term", "exact_count")
        .agg(F.min("c").alias("est_count"))
    )
    top = est.orderBy(F.desc("est_count"), F.asc("term")).limit(k)
    return top.select(
        "term",
        "est_count",
        "exact_count",
        F.row_number()
        .over(Window.orderBy(F.desc("est_count"), F.asc("term")))
        .cast("long")
        .alias("rank"),
    )



# --- HDR-histogram quantile sketch ------------------------------------

HDR_SUB = 32  # sub-buckets per power of two: <= 1/32 relative error


def hdr_histogram(
    items: DataFrame, value_col: str = "v", group_col: str = "group"
) -> DataFrame:
    """HdrHistogram bucket table (group, idx, cnt) — the mergeable
    quantile sketch completing the family (HLL: distinct, CMS:
    frequency, HDR: distribution). Pure integer bucketing of
    non-negative BIGINTs, so both engines agree bit-exactly:

        v < 32  : idx = v                      (unit buckets, exact)
        v >= 32 : k   = bit_length(v) - 6      (v >> k lands in [32,64))
                  idx = 32 + 32*k + ((v >> k) - 32)

    Bucket idx >= 32 covers [(32+sub) << k, ((32+sub) << k) + 2^k - 1]
    with sub = (idx-32) % 32 — relative width 1/32. The table is
    bounded at ~32 + 32*58 rows per group for any BIGINT input; counts
    merge across runs/days by SUM (map-side partial agg does the same
    within a job, so the shuffle never scales with item count).
    """
    v = F.col(value_col).cast("long")
    blen = F.length(F.bin(v)).cast("long")  # bit_length for v >= 1
    k = blen - 6
    idx = F.when(v < 32, v).otherwise(
        F.lit(32)
        + F.lit(32) * k
        + (F.expr(f"shiftright(cast({value_col} as bigint), "
                  f"cast((length(bin(cast({value_col} as bigint))) - 6) as int))")
           - F.lit(32))
    )
    return (
        items.select(F.col(group_col).alias("group"), idx.cast("long").alias("idx"))
        .groupBy("group", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def hdr_bounds(idx: Column) -> tuple[Column, Column]:
    """(lo, hi) value bounds of an HDR bucket index — inverse of the
    hdr_histogram indexing, same integer arithmetic."""
    lo_hi = F.expr(
        "shiftleft(32 + ((idx - 32) % 32), cast((idx - 32) div 32 as int))"
    )
    width = F.expr("shiftleft(1L, cast((idx - 32) div 32 as int))")
    lo = F.when(F.col("idx") < 32, F.col("idx")).otherwise(lo_hi)
    hi = F.when(F.col("idx") < 32, F.col("idx")).otherwise(lo_hi + width - 1)
    return lo.cast("long"), hi.cast("long")


def hdr_quantiles(
    items: DataFrame,
    qs_permille: tuple[int, ...] = (500, 900, 990),
    value_col: str = "v",
    group_col: str = "group",
) -> DataFrame:
    """Quantile bounds from the HDR sketch: for each group and each
    q (permille), the bucket holding rank ceil(q*n/1000) — returns
    (group, q_permille, value_lo, value_hi) with the true quantile
    value guaranteed inside [value_lo, value_hi] (width <= 1/32
    relative). Rank rule: smallest 1-based rank r with cumulative
    count >= r, r = (q*n + 999) div 1000 clamped to >= 1.

    Plan: the window/cumsum runs over the BOUNDED bucket table (at
    most ~1.9k rows per group), never the data; the quantile probe is
    a bucket-table self-aggregation. Everything integer.
    """
    hist = hdr_histogram(items, value_col=value_col, group_col=group_col)
    w = Window.partitionBy("group").orderBy("idx")
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("group"))
    )
    qdf = cum.crossJoin(
        F.broadcast(
            cum.sparkSession.createDataFrame(
                [(q,) for q in qs_permille], "q_permille long"
            )
        )
    ).withColumn("r", F.greatest(F.expr("(q_permille * n + 999) div 1000"), F.lit(1)))
    picked = (
        qdf.filter(F.col("cum") >= F.col("r"))
        .groupBy("group", "q_permille")
        .agg(F.min("idx").alias("idx"))
    )
    lo, hi = hdr_bounds(F.col("idx"))
    return picked.select(
        "group", "q_permille", lo.alias("value_lo"), hi.alias("value_hi")
    )


# --- durable corpus profile (daily-crawl maintenance) ------------------

PROFILE_PARAMS = {
    "hll_p": HLL_P,
    "hll_rho_cap": HLL_RHO_CAP,
    "hll_alpha_e6": HLL_ALPHA_E6,
    "cms_depth": CMS_DEPTH,
    "cms_width": CMS_WIDTH,
    "hdr_sub": HDR_SUB,
    "version": 1,
}


def _profile_tables(docs: DataFrame, group_col: str) -> dict[str, DataFrame]:
    items = docs.select(
        F.col(group_col).alias("group"), F.explode(_tokens(F.col("text"))).alias("item")
    )
    vals = docs.select(
        F.col(group_col).alias("group"), F.col("n_chars").cast("long").alias("v")
    )
    return {
        "hll": hll_registers(items, group_col="group"),
        "cms": cms_counters(items.select("item")),
        "hdr": hdr_histogram(vals),
    }


def _profile_params(group_col: str) -> dict:
    return {**PROFILE_PARAMS, "group_col": group_col}


# a profile pinned without group_col was grouped by the default column
_PROFILE_LEGACY = {"group_col": "source"}


def profile_build(docs: DataFrame, path: str, group_col: str = "source") -> str:
    """Materialize the corpus profile ONCE at ``path``: the three
    bounded sketch tables (``hll`` registers, ``cms`` counters, ``hdr``
    doc-length buckets) under one root, write-once under the
    :mod:`gocrd_spark.fsio` protocol with ``PROFILE_PARAMS`` and
    ``group_col`` pinned. Returns ``path``.

    This is what replaces "re-scan 100 TB to answer corpus questions":
    distinct-vocabulary, term-frequency, and length-distribution
    queries all run against kilobytes of sketch state, and daily
    crawls fold in via :func:`profile_append` without re-reading
    history.
    """

    def build() -> None:
        for name, df in _profile_tables(docs, group_col).items():
            df.write.mode("overwrite").parquet(f"{path.rstrip('/')}/{name}")

    fsio.build_once(
        docs.sparkSession, path, _profile_params(group_col), build, _PROFILE_LEGACY
    )
    return path


def profile_append(
    new_docs: DataFrame, path: str, batch_id: str, group_col: str = "source"
) -> str:
    """Idempotently fold a new batch into the durable profile: one
    :func:`fsio.append_batch` per sub-table, so re-running a batch_id
    is a no-op. The pin must match this build's ``PROFILE_PARAMS`` and
    ``group_col``. The merge law is the sketch's own: readers take max
    over HLL register rows and sum over CMS/HDR count rows, so
    appending commutes and never rewrites the base tables."""
    fsio.read_params(
        new_docs.sparkSession, path, _profile_params(group_col), _PROFILE_LEGACY
    )
    for name, df in _profile_tables(new_docs, group_col).items():
        fsio.append_batch(df, f"{path.rstrip('/')}/{name}", batch_id)
    return path


def _profile_read(spark, path: str, name: str) -> DataFrame:
    return fsio.read_batches(spark, f"{path.rstrip('/')}/{name}")


def profile_distinct(spark, path: str) -> DataFrame:
    """(group, est_distinct, n_zero) from the merged register table —
    base plus every committed batch, folded by per-bucket max."""
    regs = (
        _profile_read(spark, path, "hll")
        .groupBy("group", "bucket")
        .agg(F.max("m").cast("long").alias("m"))
    )
    return hll_estimate(regs)


def profile_term_counts(spark, path: str, terms: list[str]) -> DataFrame:
    """Point-query the merged CMS: estimated corpus count for each
    given term (est >= true count). No corpus scan — the probe joins a
    |terms|-row literal table against 4096 merged counters."""
    counters = (
        _profile_read(spark, path, "cms")
        .groupBy("row", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    probes = spark.createDataFrame([(t,) for t in terms], "term string").select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(F.xxhash64(F.lit(i), F.col("term")), F.lit(CMS_WIDTH))
                        .cast("long")
                        .alias("bucket"),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select("term", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(counters), ["row", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est_count"))
    )


def profile_length_quantiles(
    spark, path: str, qs_permille: tuple[int, ...] = (500, 900, 990)
) -> DataFrame:
    """(group, q_permille, value_lo, value_hi) from the merged HDR
    buckets — the length-distribution face of the profile."""
    hist = (
        _profile_read(spark, path, "hdr")
        .groupBy("group", "idx")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("group").orderBy("idx")
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("group"))
    )
    qdf = cum.crossJoin(
        F.broadcast(
            spark.createDataFrame([(q,) for q in qs_permille], "q_permille long")
        )
    ).withColumn("r", F.greatest(F.expr("(q_permille * n + 999) div 1000"), F.lit(1)))
    picked = (
        qdf.filter(F.col("cum") >= F.col("r"))
        .groupBy("group", "q_permille")
        .agg(F.min("idx").alias("idx"))
    )
    lo, hi = hdr_bounds(F.col("idx"))
    return picked.select(
        "group", "q_permille", lo.alias("value_lo"), hi.alias("value_hi")
    )
