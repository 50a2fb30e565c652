"""Similarity search over embedding columns (``array<float>``).

- ``topk_bruteforce`` — exact cosine top-k: broadcast the (small) query
  set against all vectors; dot products via built-in ``zip_with`` +
  ``aggregate`` in double precision (JVM-side, no Python); top-k via a
  per-query window. The correctness baseline.
- ``lsh_buckets`` / ``topk_lsh`` — random-hyperplane LSH: H deterministic
  hyperplanes (seeded numpy) shipped as a BROADCAST DataFrame — one row
  per hash table carrying its planes as ``array<array<double>>`` — and
  folded into sign-bit buckets with nested higher-order functions, so
  the PLAN carries zero per-plane literals and its size is independent
  of dim × n_planes × n_tables (the same cure applied to the IVF
  quantizer; at production dims of 1k-4k a literal-array plan was the
  driver bottleneck). Candidates share a bucket in >=1 table; at 10^12
  vectors the bucket join shuffles only (bucket, id) pairs and the exact
  rerank touches ~N/2^bits of the corpus per query.

100 TB notes: queries are broadcast (small side), corpus is scanned once
per table; no N×Q cross shuffle ever materializes for the LSH path.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gocrd_spark import fsio


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def topk_bruteforce(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact cosine top-k for each query vector (excluding self).

    Returns (query_id, neighbor_id, rank) — integer columns only, with a
    deterministic neighbor_id tie-break so results are engine-portable.
    """
    queries = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), 9).alias("cos"),
        )
    )
    return _rank_topk(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _planes_table_df(
    spark, dim: int, n_planes: int, n_tables: int, seed: int
) -> DataFrame:
    """One row per hash table: (table, planes array<array<double>>).
    Tiny (n_tables rows) — always the broadcast side. Shipping the
    planes as DATA instead of plan literals keeps the physical plan
    O(1) in dim × n_planes × n_tables (mirror of the IVF quantizer's
    broadcast-centroid fix at kmeans_centroids_df)."""
    rows = [
        (
            t,
            [
                [float(x) for x in row]
                for row in _hyperplanes(dim, n_planes, seed + 1000 * t)
            ],
        )
        for t in range(n_tables)
    ]
    return spark.createDataFrame(rows, "table int, planes array<array<double>>")


def _bucket_expr() -> Column:
    """bucket = sum over i of (dot(embedding, planes[i]) > 0) * 2^i,
    folded over the broadcast ``planes`` ARRAY column. The inner dot is
    the same sequential left fold in IEEE double as everywhere else in
    this module, so buckets are bit-identical to the literal-plane plan
    this replaces (and to the pure-Python oracle twin). 2^i via pow is
    exact in double for i < 53; n_planes beyond ~60 would overflow the
    64-bit bucket anyway."""
    bits = F.transform(
        F.col("planes"),
        lambda p, i: F.when(
            _dot(F.col("embedding"), p) > 0, F.pow(F.lit(2.0), i).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def lsh_buckets(
    embeddings: DataFrame, dim: int = 64, n_planes: int = 8, seed: int = 42
) -> DataFrame:
    """Random-hyperplane signature: bucket = sum over planes of
    (dot(v, plane_i) > 0) << i. Planes arrive via a one-row broadcast
    DataFrame (no plan literals); buckets are deterministic, so every
    executor computes identical values with zero coordination."""
    planes = _planes_table_df(
        embeddings.sparkSession, dim, n_planes, 1, seed
    ).select("planes")
    return (
        embeddings.select("vec_id", "embedding")
        .crossJoin(F.broadcast(planes))
        .select("vec_id", "embedding", _bucket_expr().alias("bucket"))
    )


def _union_lsh_tables(
    embeddings: DataFrame, dim: int, n_planes: int, n_tables: int, seed: int
) -> DataFrame:
    """Multi-table LSH bucketing: one broadcast join against the
    n_tables-row planes table (distinct plane seeds per table) replaces
    the former union of n_tables per-table plans — same output rows
    (vec_id, embedding, table, bucket), identical bucket values."""
    tables = _planes_table_df(
        embeddings.sparkSession, dim, n_planes, n_tables, seed
    )
    return (
        embeddings.select("vec_id", "embedding")
        .crossJoin(F.broadcast(tables))
        .select("vec_id", "embedding", "table", _bucket_expr().alias("bucket"))
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k with a deterministic neighbor_id tie-break."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def topk_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    ``n_tables`` independent hash tables (different plane seeds); a
    corpus vector is a candidate if it shares the query's bucket in ANY
    table; candidates are exact-cosine reranked. Recall grows as
    1-(1-p^n_planes)^n_tables; candidate volume ~ n_tables * N / 2^n_planes
    per query. Measured against topk_bruteforce in tests.
    """
    # The bucket table is pinned (lazily): the query filter and the
    # corpus side both consume it, and un-pinned the sign fold — the
    # expensive stage — replays per consumer. Per-vector norms ride
    # along so the rerank's cosine does one dot per pair instead of
    # dot + two norm folds (dot/(qn*cn) is the identical IEEE
    # expression cosine() evaluates — bit-equal).
    bucketed = (
        _union_lsh_tables(embeddings, dim, n_planes, n_tables, seed)
        .withColumn("nrm", _norm(F.col("embedding")))
        .localCheckpoint(eager=False)
    )
    queries = bucketed.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("qn"),
        F.col("table"),
        F.col("bucket"),
    )
    cand = (
        F.broadcast(queries)
        .join(
            bucketed.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("c_emb"),
                F.col("nrm").alias("cn"),
                "table",
                "bucket",
            ),
            ["table", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_emb", "qn", "neighbor_id", "c_emb", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("qn") * F.col("cn")),
            9,
        ).alias("cos"),
    )
    return _rank_topk(scored, k)


def embedding_near_dups_exact(
    embeddings: DataFrame, threshold: float = 0.42
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (a < b) with
    cosine >= threshold. O(N²) — the verification baseline; at corpus
    scale use :func:`embedding_near_dups_lsh`. Returns
    (id_a, id_b, cos_e6 fixed-point)."""
    a = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return (
        pairs.select(
            "id_a", "id_b", F.round(cos * 1_000_000).cast("long").alias("cos_e6")
        )
        .filter(F.col("cos_e6") >= int(threshold * 1_000_000))
    )


def embedding_near_dups_lsh(
    embeddings: DataFrame,
    threshold: float = 0.42,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup at scale: multi-table hyperplane LSH
    candidate pairs (same bucket in any table), exact-cosine verified.
    Shuffles only (table, bucket, id, vector) tuples — never N² pairs."""
    # The bucket table is pinned (lazily): both self-join sides consume
    # it, and un-pinned the sign fold — the expensive stage — replays
    # per side. Per-vector norms ride along so each verified pair does
    # one dot fold instead of dot + two norm folds (dot/(na*nb) is the
    # identical IEEE expression cosine() evaluates — bit-equal).
    bucketed = (
        _union_lsh_tables(embeddings, dim, n_planes, n_tables, seed)
        .withColumn("nrm", _norm(F.col("embedding")))
        .localCheckpoint(eager=False)
    )
    x = bucketed.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        F.col("nrm").alias("na"), "table", "bucket",
    )
    y = bucketed.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"), "table", "bucket",
    )
    cand = (
        x.join(y, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return cand.select(
        "id_a", "id_b", F.round(cos * 1_000_000).cast("long").alias("cos_e6")
    ).filter(F.col("cos_e6") >= int(threshold * 1_000_000))


def _dist2(a: Column, b: Column) -> Column:
    """Squared L2 distance between two vector columns (double fold)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _check_carry(carry: tuple[str, ...], generated: set[str]) -> None:
    """Raise at the call site, not in the analyzer, on a name clash."""
    if generated.intersection(carry):
        raise ValueError(f"carry {carry} collides with generated {sorted(generated)}")


def assign_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment: the centroid table rides along as
    ONE broadcast candidate array and the argmin is a narrow fold per
    vector (no per-centroid row duplication, no Exchange — the
    join+min_by formulation this replaces allocated every vector
    n_cells times). (distance, cell) tie-break preserved by the
    sorted-candidates strict-< fold. Plan size stays independent of
    n_cells. Returns (vec_id, cell, *carry).

    ``carry`` columns (e.g. the embedding itself) ride through the
    fold UNCHANGED: consumers that need the vector next to its cell
    (Lloyd's mean recompute, the IVF corpus table, residual builds)
    previously dropped it here and paid a corpus-sized ``vec_id``
    shuffle join to re-attach it — carrying it is free in the narrow
    plan and removes that join outright (one Exchange per consumer,
    two per Lloyd round)."""
    _check_carry(carry, {"cell", "cands", "vec_id"})
    cands = centroids.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cell").alias("code"), "centroid"))
        ).alias("cands")
    )
    cols = ["vec_id", "embedding"]
    cols += [c for c in carry if c not in cols]
    return (
        embeddings.select(*cols)
        .crossJoin(F.broadcast(cands))
        .select(
            "vec_id",
            _argmin_fold(
                F.transform("embedding", lambda v: v.cast("double")),
                F.col("cands"),
            ).cast("int").alias("cell"),
            *[F.col(c) for c in carry],
        )
    )


def kmeans_centroids_df(
    embeddings: DataFrame, n_cells: int = 16, n_iters: int = 2
) -> DataFrame:
    """Coarse k-means quantizer for IVF, entirely as DataFrame ops:
    seeds are the n_cells lowest vec_ids; each Lloyd iteration assigns
    via the broadcast join and recomputes per-cell means with one
    groupBy over posexploded dims. The driver never materializes the
    centroids and the plan carries no per-cell literals (contrast the
    collect-per-iteration + literal-array quantizer this replaces).

    Centroid dims are rounded to 6 decimals each iteration so the
    assignment is stable across engines/aggregation orders (the oracle
    twin recomputes the same rounded values).
    Returns (cell int, centroid array<double>).

    Callers should pass an already-materialized (localCheckpoint'ed)
    ``embeddings`` table: each Lloyd round consumes it twice (assign +
    mean recompute) and the seed scan once more — un-pinned, an
    expensive upstream chain (e.g. text -> hashed embeddings) replays
    per consumer (the pinned iterative-loop rule; pq_codebooks pins its
    subvector table the same way). Per-round centroids are pinned HERE:
    every round's cent feeds the next assign AND (last round) the
    caller, and its lineage otherwise nests the whole Lloyd history.
    """
    # unpartitioned window BY CONSTRUCTION on <= n_cells rows: it runs
    # after the limit, so the "single partition" WindowExec warns about
    # holds the seed table (<= 4096 rows), never the corpus
    w = Window.orderBy("vec_id")
    cent = (
        embeddings.orderBy("vec_id")
        .limit(n_cells)
        .select(
            (F.row_number().over(w) - 1).alias("cell"),
            F.transform(
                "embedding", lambda v: F.round(v.cast("double"), 6)
            ).alias("centroid"),
        )
    )
    for _ in range(n_iters):
        # embedding carried through the fold: the mean recompute needs
        # (cell, embedding) and the former ids-only assign paid a
        # corpus-sized vec_id join per round to re-attach the vector
        assigned = assign_cells(embeddings, cent, carry=("embedding",))
        exploded = assigned.select(
            "cell", F.posexplode("embedding").alias("pos", "val")
        )
        per_dim = exploded.groupBy("cell", "pos").agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("m")
        )
        cent = (
            per_dim.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pairs"))
            .select(
                "cell", F.transform("pairs", lambda p: p["m"]).alias("centroid")
            )
        ).localCheckpoint(eager=False)  # <= n_cells tiny rows
    return cent


def topk_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: assign the corpus to coarse cells, probe
    each query's n_probe nearest cells, exact-cosine rerank inside them.

    At 10^12 vectors: the corpus scan touches ~n_probe/n_cells of the
    data per query batch; cell assignment is computed once and is
    naturally persisted as a partition column of the vector table. The
    quantizer is kmeans_centroids_df — centroids live in a broadcast
    DataFrame, so n_cells can grow to real IVF sizes without inflating
    the plan or the driver.
    """
    # corpus pinned once: kmeans (seed + 2x per Lloyd round), the cell
    # assignment, the corpus join and the query filter otherwise each
    # replay the upstream chain (pinned iterative-loop rule)
    embeddings = embeddings.select("vec_id", "embedding").localCheckpoint(
        eager=False
    )
    cent = kmeans_centroids_df(embeddings, n_cells, n_iters)
    # per-vector norms are pair-invariant — hoisted out of the rerank
    # cosine (the semdedup/topk_lsh convention; dot/(qn*cn) is the
    # identical IEEE expression — bit-equal, 3x less fold work per pair)
    corpus = assign_cells(embeddings, cent, carry=("embedding",)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "cell",
        _norm(F.col("embedding")).alias("cn"),
    )
    queries = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("qn"),
    )
    # per-query probe list: broadcast-join the centroid table, keep the
    # n_probe nearest cells (deterministic (d2, cell) tie-break)
    wq = Window.partitionBy("query_id").orderBy("d2", "cell")
    q_probed = (
        queries.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "q_emb",
            "qn",
            "cell",
            _dist2(F.col("q_emb"), F.col("centroid")).alias("d2"),
        )
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "q_emb", "qn", "cell")
    )
    scored = (
        F.broadcast(q_probed)
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("qn") * F.col("cn")),
                9,
            ).alias("cos"),
        )
    )
    return _rank_topk(scored, k)


def semdedup(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iters: int = 2,
    threshold: float = 0.42,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication at O(N²/k) instead of O(N²) — the k-means quantizer
    partitions the corpus into ``n_cells`` cells, EXACT cosine pairs
    are computed only WITHIN a cell, and each within-cell duplicate
    group keeps one member (min vec_id, the same canonical rule the
    text dedup family uses; pair quality info can be layered on with
    :func:`gocrd_spark.operators.dedup.quality_survivors`).

    Contrast with :func:`embedding_near_dups_lsh` + clusters: LSH is
    recall-probabilistic across the whole corpus; SemDeDup is EXACT
    within a cell and misses only cross-cell pairs — the trade the
    paper makes deliberately (semantic dups land in the same cell
    because the cells ARE semantic).

    Plan shape at 100 TB: centroids are data (broadcast, plan size
    O(1) in k); the within-cell self-join shuffles vectors by cell
    once — that is the algorithm's N²/k regime, and per-cell work is
    held constant by scaling n_cells with N (the paper runs k≈0.1%·N).
    Components run on (long, long) pairs only. Cosines are rounded to
    6dp fixed-point so keep decisions are engine-exact.

    ``max_cell`` is the MEGA-CELL valve (the LSH tier's star_bucket,
    VERDICT r05 #2): a degenerate cell — a boilerplate/zero-vector
    cluster that k-means cannot split — re-quadratics the within-cell
    join no matter how n_cells scales. With the valve, a cell larger
    than ``max_cell`` emits HUB-STAR pairs instead: (cell-min member,
    other member), cosine-verified at the same threshold — |B| pairs
    instead of |B|²/2, connecting the same vertices for the
    cluster-resolution consumer whenever members are mutually
    near-identical (the only way a semantic cell gets that big).
    Recall trade, documented: two members similar to each other but NOT
    to the hub lose their direct link. Default None = exact within-cell
    pairs (the driver oracle's configuration — output unchanged).

    Returns (vec_id, cell, canonical_id, keep BIGINT 0/1).
    """
    from gocrd_spark.operators.dedup import connected_components

    # Loop-invariant corpus pinned ONCE (the iterative-loop rule):
    # un-pinned, every consumer — kmeans seeds, 2 Lloyd rounds x 2
    # scans, the cell assignment, both self-join sides, the final label
    # join — replays the entire upstream embedding chain; for
    # text_semdedup that chain is tokenize+hash+groupBy (~20 replays at
    # sf0.1, the whole query wall).
    emb = embeddings.select("vec_id", "embedding").localCheckpoint(eager=False)
    cent = kmeans_centroids_df(emb, n_cells, n_iters)
    # Per-vector norms are pair-invariant: computing them here instead
    # of inside every pair's cosine() removes 2/3 of the within-cell
    # fold work; dot/(na*nb) is the identical IEEE expression cosine()
    # evaluates (same fold, same product, same divide — bit-equal).
    # ``e`` feeds both self-join sides and the final labeling — pinned.
    # The embedding rides through the assignment fold, so no join back
    # to ``emb`` (one corpus Exchange removed).
    e = (
        assign_cells(emb, cent, carry=("embedding",))
        .select(
            "vec_id",
            "embedding",
            "cell",
            _norm(F.col("embedding")).alias("nrm"),
        )
        .localCheckpoint(eager=False)
    )
    # SALTED within-cell self-join: the join key has only n_cells
    # distinct values, so an unsalted join concentrates each cell's
    # |cell|² cosine folds in ONE task — and AQE's skew split cannot
    # fire because the skew is in join OUTPUT, not shuffle input
    # (measured: one 25%-of-corpus cell made the fold stage 4x slower
    # than the salted plan at sf0.1). The a-side carries a
    # deterministic salt from its own id; the b-side replicates
    # n_salt ways (|corpus| * n_salt small rows); every (id_a, id_b)
    # pair appears exactly once, under salt pmod(id_a, n_salt) —
    # output rows identical, parallelism n_cells * n_salt.
    n_salt = max(embeddings.sparkSession.sparkContext.defaultParallelism, 1) * 2
    pair_side = e
    star = None
    if max_cell is not None:
        sizes = e.groupBy("cell").agg(
            F.count(F.lit(1)).alias("_sz"), F.min("vec_id").alias("_hub")
        )
        big = sizes.filter(F.col("_sz") > max_cell).select("cell", "_hub")
        members = e.join(F.broadcast(big), "cell").filter(
            F.col("vec_id") != F.col("_hub")
        )
        hub_vecs = e.join(
            F.broadcast(big.select(F.col("_hub").alias("vec_id"))), "vec_id"
        ).select(
            F.col("vec_id").alias("_hub"),
            F.col("embedding").alias("vh"),
            F.col("nrm").alias("nh"),
        )
        star_cos = F.round(
            _dot(F.col("vh"), F.col("embedding")) / (F.col("nh") * F.col("nrm")),
            6,
        )
        star = (
            members.join(F.broadcast(hub_vecs), "_hub")
            .select(
                F.col("_hub").alias("doc_a"),  # hub = cell min -> doc_a < doc_b
                F.col("vec_id").alias("doc_b"),
                F.round(star_cos * 1_000_000).cast("long").alias("cos_e6"),
            )
            .filter(F.col("cos_e6") >= int(round(threshold * 1_000_000)))
        )
        pair_side = e.join(big.select("cell"), "cell", "left_anti")
    a = pair_side.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        F.col("nrm").alias("na"), "cell",
        F.pmod(F.col("vec_id"), F.lit(n_salt)).cast("int").alias("_s"),
    )
    b = pair_side.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"), "cell",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("_s"),
    )
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    pairs = (
        a.join(b, ["cell", "_s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round(cos * 1_000_000).cast("long").alias("cos_e6"),
        )
        .filter(F.col("cos_e6") >= int(round(threshold * 1_000_000)))
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    # semantic duplicate groups chain (a~b~c through a drifting
    # template), unlike the shallow rings of the text tier — jumping
    # from round 1 measured ~1s faster here at identical labels
    comp = connected_components(pairs.select("doc_a", "doc_b"), jump_after=1)
    return (
        e.select("vec_id", "cell")
        .join(comp.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("canonical_id", F.col("vec_id")).alias("canonical_id"),
        )
        .withColumn(
            "keep", (F.col("vec_id") == F.col("canonical_id")).cast("long")
        )
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid of embeddings — a grouped array aggregation
    (posexplode + groupBy position), demonstrating vector aggregation
    without UDFs. Returns (label, centroid array<double>, n)."""
    exploded = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    per_dim = exploded.groupBy("label", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("avg_val"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "avg_val"))
            ).alias("pairs"),
            F.first("n").alias("n"),
        )
        .select(
            "label",
            F.transform(F.col("pairs"), lambda p: F.round(p["avg_val"], 6)).alias(
                "centroid"
            ),
            "n",
        )
    )

def ivf_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    n_iters: int = 2,
) -> str:
    """Materialize the IVF index ONCE at ``path`` — the durable,
    serving-scale counterpart of :func:`topk_ivf` (which re-trains the
    quantizer per call):

    - ``centroids/``  (cell, centroid) parquet — the coarse quantizer;
    - ``corpus/``     (vec_id, embedding) parquet PARTITIONED BY cell —
      the inverted lists ARE parquet partitions, so probing n_probe of
      n_cells cells is literal partition pruning: a query batch reads
      ~n_probe/n_cells of the corpus bytes off storage, which is the
      entire point of IVF at 10^12 vectors.

    Write-once under the :mod:`gocrd_spark.fsio` protocol, pinning
    (n_cells, n_iters): a re-run skips the build, and a different
    request refuses rather than probe a mismatched quantizer. Returns
    path.
    """
    spark = embeddings.sparkSession
    base = path.rstrip("/")

    def build() -> None:
        cent = kmeans_centroids_df(embeddings, n_cells, n_iters)
        cent.write.mode("overwrite").parquet(f"{base}/centroids")
        cent_back = spark.read.parquet(f"{base}/centroids")
        (
            assign_cells(embeddings, cent_back, carry=("embedding",))
            .select("vec_id", "embedding", "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{base}/corpus")
        )

    fsio.build_once(
        spark, path, {"n_cells": n_cells, "n_iters": n_iters, "version": 1}, build
    )
    return path


def topk_ivf_from(
    spark,
    path: str,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k against a durable :func:`ivf_index` — quantizer
    training and corpus assignment already paid. Query vectors are
    looked up in the index corpus by id; each query probes its n_probe
    nearest cells and exact-cosine reranks inside them.

    The probe join hits the corpus ON ITS PARTITION COLUMN with a
    broadcast build side, so Spark's dynamic partition pruning turns
    the probe list into a storage-level partition filter — the
    unprobed inverted lists are never read. Results are identical to
    :func:`topk_ivf` at the same params (parity is pytest-gated).
    """
    base = path.rstrip("/")
    cent = spark.read.parquet(f"{base}/centroids")
    corpus = spark.read.parquet(f"{base}/corpus")
    # pair-invariant norms hoisted out of the rerank cosine (bit-equal
    # dot/(qn*cn), same as the inline topk_ivf)
    queries = corpus.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("qn"),
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "cell")
    q_probed = (
        queries.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "q_emb",
            "qn",
            "cell",
            _dist2(F.col("q_emb"), F.col("centroid")).alias("d2"),
        )
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "q_emb", "qn", "cell")
    )
    scored = (
        F.broadcast(q_probed)
        .join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("c_emb"),
                "cell",
                _norm(F.col("embedding")).alias("cn"),
            ),
            "cell",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("qn") * F.col("cn")),
                9,
            ).alias("cos"),
        )
    )
    return _rank_topk(scored, k)


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Per-vector int8 (asymmetric min/max) quantization — the storage
    tier a 100 TB embedding corpus actually keeps: 4x smaller than
    float32 with a per-vector (lo, scale) pair for dequantization
    (x ~ lo + q * scale, q in 0..255).

    Entirely narrow (array_min/array_max + one posexplode — zero
    shuffles, zero UDFs) and cross-engine EXACT: every input is a
    float32 value (exact in double), lo/scale/quantization are single
    IEEE ops each, and round() is the pinned HALF_UP convention — so
    the DuckDB twin reproduces every q bit-for-bit. Constant vectors
    (scale 0) quantize to all-zeros rather than dividing by zero; a
    vector carrying NaN/Inf elements emits NULL codes for the
    non-finite arithmetic instead of the ANSI cast-of-NaN error that
    would otherwise kill the whole pass on one corrupt row.

    Returns one row per (vec_id, dim_idx): (vec_id, dim_idx, q,
    lo_e6, scale_e6) — exploded rather than an int8 array column so
    the driver oracle can hash it (arrays are outside the oracle type
    contract); a writer would re-assemble with collect_list over
    dim_idx order or keep the exploded layout for columnar scans.
    """
    lo = F.array_min("embedding").cast("double")
    hi = F.array_max("embedding").cast("double")
    scale = (hi - lo) / F.lit(255.0)
    base = emb.select(
        "vec_id",
        lo.alias("_lo"),
        scale.alias("_scale"),
        F.posexplode("embedding").alias("dim_idx", "_x"),
    )
    inf = float("inf")

    def _fin(c):
        # NaN comparisons are false, so NaN/Inf fall to NULL — ANSI
        # cast(NaN as long) would otherwise throw and fail the job
        return F.when(~F.isnan(c) & (c < inf) & (c > -inf), c)

    v = (F.col("_x").cast("double") - F.col("_lo")) / F.col("_scale")
    q = F.when(F.col("_scale") == 0.0, F.lit(0.0)).otherwise(
        F.round(_fin(v))
    )
    return base.select(
        "vec_id",
        F.col("dim_idx").cast("long").alias("dim_idx"),
        q.cast("long").alias("q"),
        F.round(_fin(F.col("_lo")) * 1_000_000).cast("long").alias("lo_e6"),
        F.round(_fin(F.col("_scale")) * 1_000_000).cast("long").alias("scale_e6"),
    )


def _subvectors(
    emb: DataFrame,
    m: int,
    id_col: str = "vec_id",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *extra, sub, subvec): the vector split into ``m`` contiguous
    subspaces of dim/m dims each (dim must be divisible by m — the
    standard PQ layout). Narrow: one bounded sequence() explode.
    ``extra`` columns (e.g. the probed cell id) ride along unchanged."""
    width = (F.size("embedding") / m).cast("int")
    carried = [id_col, *extra]
    return emb.select(
        *[F.col(c) for c in carried],
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col("embedding"),
    ).select(
        *carried,
        "sub",
        F.slice(
            F.transform("embedding", lambda v: v.cast("double")),
            F.col("sub") * width + 1,
            width,
        ).alias("subvec"),
    )


def _rank_adc(scored: DataFrame, k: int) -> DataFrame:
    """Per-query ADC top-k: (adc_e6 ASC, neighbor_id ASC) — the
    integer-distance twin of _rank_topk, shared by pq_topk and the
    IVF-PQ serving path."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_e6").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_e6", "rank")
    )


def _argmin_fold(vec: Column, cands: Column) -> Column:
    """argmin over a (code, centroid) candidate ARRAY by squared L2 to
    ``vec`` — a single higher-order fold per row instead of a join that
    would duplicate the vector once per candidate (measured: the
    join+min_by formulation allocated every subvector k times and spent
    a full Exchange on the re-aggregation; this is narrow and
    allocation-linear). Candidates must be sorted by code ascending:
    the strict < keeps the FIRST minimum, i.e. the (d2, code) min —
    the module's engine-portable tie-break."""
    init = F.struct(
        F.lit(float("inf")).alias("d2"), F.lit(-1).cast("int").alias("code")
    )

    def step(acc, c):
        d2 = _dist2(vec, c["centroid"])
        return F.when(
            d2 < acc["d2"],
            F.struct(d2.alias("d2"), c["code"].cast("int").alias("code")),
        ).otherwise(acc)

    return F.aggregate(cands, init, step)["code"]


def _codebook_rows(codebooks: DataFrame, key: str = "sub") -> DataFrame:
    """(key, cands): the per-subspace candidate array, sorted by code
    ascending (the fold's tie-break contract)."""
    return codebooks.groupBy(key).agg(
        F.array_sort(F.collect_list(F.struct("code", "centroid"))).alias("cands")
    )


def _assign_codes(
    subv: DataFrame, codebooks: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest-code assignment per (vec_id, sub): the codebook rides
    along as a broadcast per-subspace candidate ARRAY and the argmin
    is one narrow fold per subvector — zero Exchange, zero row
    duplication. Returns (vec_id, sub, code, *carry); ``carry`` columns
    of ``subv`` (the subvector itself, a riding cell id) pass through
    unchanged so consumers don't re-join them on (vec_id, sub)."""
    _check_carry(carry, {"code", "cands", "sub", "vec_id"})
    return subv.join(F.broadcast(_codebook_rows(codebooks)), "sub").select(
        "vec_id",
        "sub",
        _argmin_fold(F.col("subvec"), F.col("cands")).cast("int").alias("code"),
        *[F.col(c) for c in carry],
    )


def pq_codebooks(
    embeddings: DataFrame, m: int = 8, n_codes: int = 16, n_iters: int = 2
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al., TPAMI 2011): an
    independent k-means per contiguous subspace — all m subspaces
    trained in ONE DataFrame job (the subspace id is just another
    grouping key, so Lloyd's assign/recompute steps cost the same
    shuffle count as a single k-means).

    Seeds are the n_codes lowest vec_ids' subvectors (the module's
    deterministic seeding convention); centroid dims round to 6dp per
    iteration so assignment is stable across engines/aggregation
    orders (the kmeans_centroids_df regime — the oracle twin recomputes
    the identical rounded values). A code whose cell empties drops out
    of the codebook, exactly as in the coarse quantizer.

    Returns (sub int, code int, centroid array<double> of dim/m).
    """
    # loop-invariant input + per-round centroids are checkpointed (the
    # pinned iterative-loop rule): each Lloyd round consumes subv twice
    # (assign + mean recompute) and cent twice — un-pinned, the corpus
    # subvector explode and the previous rounds replay per consumer
    subv = _subvectors(embeddings, m).localCheckpoint(eager=False)
    # seed table: n_codes * m rows — the windows below run on this
    # bounded table only, never the corpus
    w = Window.partitionBy("sub").orderBy("vec_id")
    seeds = _subvectors(embeddings.orderBy("vec_id").limit(n_codes), m)
    cent = seeds.select(
        "sub",
        (F.row_number().over(w) - 1).alias("code"),
        F.transform("subvec", lambda v: F.round(v, 6)).alias("centroid"),
    )
    for _ in range(n_iters):
        # subvec carried through the fold: the mean recompute previously
        # re-joined assigned to subv on (vec_id, sub) every round
        assigned = _assign_codes(subv, cent, carry=("subvec",))
        exploded = assigned.select(
            "sub", "code", F.posexplode("subvec").alias("pos", "val")
        )
        per_dim = exploded.groupBy("sub", "code", "pos").agg(
            F.round(F.avg("val"), 6).alias("m")
        )
        cent = (
            per_dim.groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pairs"))
            .select(
                "sub", "code", F.transform("pairs", lambda p: p["m"]).alias("centroid")
            )
        ).localCheckpoint(eager=False)  # m*k tiny rows; two consumers next round
    return cent


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """PQ codes: each vector compresses to m small ints — at m=8,
    k=256 that is 8 bytes against 256+ for the float32 vector, the
    storage tier that makes 10^12-vector search affordable. One
    bounded explode + one broadcast join + one (vec_id, sub) partial
    agg; raw vectors are read once and never shuffle.

    Returns (vec_id, sub, code, *extra), the exploded layout the oracle
    can hash (and a columnar store would keep for code scans). ``extra``
    columns of ``embeddings`` (e.g. the coarse cell id) ride through so
    callers don't pay a corpus-sized vec_id join to re-attach them."""
    return _assign_codes(
        _subvectors(embeddings, m, extra=extra), codebooks, carry=extra
    )


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    n_iters: int = 2,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    a lookup table of exact subvector-to-centroid squared distances —
    |Q| * m * n_codes tiny rows, broadcast — and a candidate's distance
    is the SUM of m table entries selected by its codes. The corpus
    contribution is the codes table (m ints per vector): raw vectors
    are touched only at encode time, never at query time — the property
    that lets a 10^12-vector index serve from RAM.

    Engine-exactness: each LUT entry is one double fold fixed-pointed
    to 6dp (d2p_e6 BIGINT); the per-candidate ADC distance is then a
    SUM of m BIGINTs — order-independent — so ranking (adc_e6 ASC,
    neighbor_id ASC) hash-compares with the pure-Python twin.

    Returns (query_id, neighbor_id, adc_e6, rank), integer columns only.
    """
    # tiny trained table with two consumers (codes + LUT): checkpoint so
    # the Lloyd loop's plan doesn't replay per consumer
    cent = pq_codebooks(embeddings, m, n_codes, n_iters)
    codes = pq_encode(embeddings, cent, m).select(
        F.col("vec_id").alias("neighbor_id"), "sub", "code"
    )
    q_sub = _subvectors(
        embeddings.filter(F.col("vec_id").isin(query_ids)), m
    ).select(F.col("vec_id").alias("query_id"), "sub", "subvec")
    lut = q_sub.join(F.broadcast(cent), "sub").select(
        "query_id",
        "sub",
        "code",
        F.round(_dist2(F.col("subvec"), F.col("centroid")) * 1_000_000)
        .cast("long")
        .alias("d2p_e6"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2p_e6").alias("adc_e6"))
    )
    return _rank_adc(scored, k)


def ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    coarse_iters: int = 2,
    m: int = 8,
    n_codes: int = 16,
    pq_iters: int = 2,
) -> DataFrame:
    """IVF-PQ — the standard billion-scale ANN index (coarse inverted
    lists + product-quantized RESIDUALS, Jégou et al. 2011): vectors
    assign to their nearest coarse cell, the PQ codebooks train on the
    residual (vector − cell centroid), and a query scans only its
    n_probe nearest cells, scoring candidates by ADC over the residual
    codes. At 10^12 vectors the serving state is (cell, 8 codes) per
    vector — the raw corpus is touched once at build time; per query,
    work is ~n_probe/n_cells of the code table and the LUT is
    |Q|·n_probe·m·n_codes tiny broadcast rows.

    Exactness regime: residuals are single IEEE subtractions of exact
    doubles; both quantizers use the module's rounded-mean Lloyd; LUT
    entries are 6dp fixed-point BIGINTs and candidate distances are
    order-independent integer sums — bit-for-bit twin-reproducible.

    Returns (query_id, neighbor_id, adc_e6, rank), integers only.
    """
    # the trained quantizers are TINY tables consumed by many stages
    # (residual build, PQ training, codes, per-query LUTs) — checkpoint
    # them so the Lloyd loops' plans never replay per consumer (the
    # multiply-consumed-iterative-stage trap, CLAUDE.md round-5 note)
    cent = kmeans_centroids_df(embeddings, n_cells, coarse_iters)
    # (vec_id, cell, residual) pinned ONCE: the embedding rides through
    # the coarse argmin fold and the residual is one broadcast-cent join
    # + narrow zip_with away — the former ids-only pin paid a
    # corpus-sized vec_id join to re-attach the vector AND a second one
    # to re-attach the cell to the codes; both joins are gone. Consumers:
    # PQ training (pins its own subv) + the codes encode.
    residuals = (
        assign_cells(embeddings, cent, carry=("embedding",))
        .join(F.broadcast(cent), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with(
                F.transform("embedding", lambda v: v.cast("double")),
                "centroid",
                lambda x, y: x - y,
            ).alias("embedding"),
        )
        .localCheckpoint(eager=False)
    )
    cb = pq_codebooks(
        residuals.select("vec_id", "embedding"), m, n_codes, pq_iters
    ).localCheckpoint(eager=False)
    # cell rides through the encode — (vec_id, sub, code, cell), no join
    codes = pq_encode(residuals, cb, m, extra=("cell",))

    queries = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return _ivfpq_score(queries, cent, cb, codes, k, m, n_probe)


def _ivfpq_score(
    queries: DataFrame,
    cent: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    k: int,
    m: int,
    n_probe: int,
) -> DataFrame:
    """The IVF-PQ SERVING math, shared by the inline ivfpq_topk and the
    durable-index ivfpq_topk_from: probe-list selection, per-(query,
    cell) residual LUTs, exact-BIGINT ADC over the codes table, ranked
    top-k. ``codes`` is (vec_id, sub, code, cell)."""
    wq = Window.partitionBy("query_id").orderBy("d2", "cell")
    q_probed = (
        queries.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "cell",
            "centroid",
            _dist2(F.col("q_emb"), F.col("centroid")).alias("d2"),
            "q_emb",
        )
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
    )
    q_res = q_probed.select(
        "query_id",
        "cell",
        F.zip_with(
            F.transform("q_emb", lambda v: v.cast("double")),
            "centroid",
            lambda x, y: x - y,
        ).alias("embedding"),
    )
    q_sub = _subvectors(q_res, m, id_col="query_id", extra=("cell",))
    lut = q_sub.join(F.broadcast(cb), "sub").select(
        "query_id",
        "cell",
        "sub",
        "code",
        F.round(_dist2(F.col("subvec"), F.col("centroid")) * 1_000_000)
        .cast("long")
        .alias("d2p_e6"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["cell", "sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2p_e6").alias("adc_e6"))
    )
    return _rank_adc(scored, k)


def ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    coarse_iters: int = 2,
    m: int = 8,
    n_codes: int = 16,
    pq_iters: int = 2,
) -> str:
    """Materialize the IVF-PQ index ONCE at ``path`` — the durable
    counterpart of :func:`ivfpq_topk`, write-once under the
    :mod:`gocrd_spark.fsio` protocol with all five parameters pinned:

    - ``centroids/``  (cell, centroid) — the coarse quantizer;
    - ``codebooks/``  (sub, code, centroid) — residual PQ codebooks;
    - ``codes/``      (vec_id, sub, code) PARTITIONED BY cell — the
      serving state: m small ints per vector; probing n_probe cells is
      literal partition pruning, and at 10^12 vectors this table is
      the ONLY per-vector state a query ever reads.

    Returns path.
    """
    spark = embeddings.sparkSession
    params = {
        "n_cells": n_cells,
        "coarse_iters": coarse_iters,
        "m": m,
        "n_codes": n_codes,
        "pq_iters": pq_iters,
        "version": 1,
    }
    base = path.rstrip("/")

    def build() -> None:
        cent = kmeans_centroids_df(embeddings, n_cells, coarse_iters)
        cent.write.mode("overwrite").parquet(f"{base}/centroids")
        cent_back = spark.read.parquet(f"{base}/centroids")
        # pinned for the same multi-consumer reason as in ivfpq_topk; the
        # embedding rides through the fold and the cell through the encode,
        # so neither corpus-sized vec_id re-join exists
        residuals = (
            assign_cells(embeddings, cent_back, carry=("embedding",))
            .join(F.broadcast(cent_back), "cell")
            .select(
                "vec_id",
                "cell",
                F.zip_with(
                    F.transform("embedding", lambda v: v.cast("double")),
                    "centroid",
                    lambda x, y: x - y,
                ).alias("embedding"),
            )
            .localCheckpoint(eager=False)
        )
        cb = pq_codebooks(
            residuals.select("vec_id", "embedding"), m, n_codes, pq_iters
        ).localCheckpoint(eager=False)
        cb.write.mode("overwrite").parquet(f"{base}/codebooks")
        cb_back = spark.read.parquet(f"{base}/codebooks")
        (
            pq_encode(residuals, cb_back, m, extra=("cell",))
            .select("vec_id", "sub", "code", "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{base}/codes")
        )

    fsio.build_once(spark, path, params, build)
    return path


def ivfpq_topk_from(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ top-k against a durable :func:`ivfpq_index` — quantizer
    training and corpus encoding already paid. ``queries`` is
    (query_id, q_emb): the serving state keeps NO raw vectors, so query
    vectors arrive from the caller (the honest serving API — a query
    batch is user input, not index content).

    The ADC join hits the codes table ON ITS PARTITION COLUMN with a
    broadcast LUT build side, so dynamic partition pruning turns the
    probe list into a storage-level partition filter — unprobed
    inverted lists are never read. Results are identical to
    :func:`ivfpq_topk` at the same params (parity pytest-gated)."""
    base = path.rstrip("/")
    params = fsio.read_params(spark, path)
    cent = spark.read.parquet(f"{base}/centroids")
    cb = spark.read.parquet(f"{base}/codebooks")
    codes = spark.read.parquet(f"{base}/codes")
    return _ivfpq_score(queries, cent, cb, codes, k, int(params["m"]), n_probe)


def hard_negatives(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the k
    most-cosine-similar vectors whose LABEL differs — the near-misses a
    contrastive or reranker training set wants as negatives (easy
    negatives are useless; same-label neighbors are positives, not
    negatives).

    Exact scoring over the corpus, same regime as
    :func:`topk_bruteforce`: the bounded query set broadcasts, the
    corpus scans ONCE — O(|Q| * N) work with no corpus self-join, the
    honest shape when |Q| is a training batch. For corpus-x-corpus
    mining at crawl scale, bucket first (``lsh_buckets``/``ivf_index``)
    and apply the label filter inside the bucket join — same
    composition as embedding_near_dups.

    Returns (query_id, neighbor_id, neighbor_label, rank) — integer
    columns only; cosine is rounded to 9dp before ranking with a
    neighbor_id tie-break, the module-wide engine-portability
    convention.
    """
    # per-vector norms are pair-invariant — hoisted out of the pair
    # cosine (the semdedup/topk_lsh convention): dot/(qn*cn) is the
    # identical IEEE expression cosine() evaluates (same folds, same
    # product, same divide — bit-equal), 3x less fold work per pair
    queries = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        _norm(F.col("embedding")).alias("qn"),
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("neighbor_label"),
        _norm(F.col("embedding")).alias("cn"),
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("q_label") != F.col("neighbor_label"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("qn") * F.col("cn")),
                9,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("neighbor_label").cast("long").alias("neighbor_label"),
            "rank",
        )
    )


def l2_topk_exact(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact squared-L2 top-k — the certification baseline for the PQ
    family (ADC approximates THIS metric, not cosine). Same clearly-
    named O(N·|Q|) regime as topk_bruteforce: queries broadcast, corpus
    scans once. Distances fixed-pointed to 6dp BIGINTs with the
    module's (distance, neighbor_id) tie-break, so ranking is
    engine-portable. Returns (query_id, neighbor_id, d2_e6, rank)."""
    queries = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dist2(F.col("q_emb"), F.col("c_emb")) * 1_000_000)
            .cast("long")
            .alias("adc_e6"),
        )
    )
    return _rank_adc(scored, k).withColumnRenamed("adc_e6", "d2_e6")


def ivfpq_recall(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    coarse_iters: int = 2,
    m: int = 8,
    n_codes: int = 16,
    pq_iters: int = 2,
) -> DataFrame:
    """Recall certification for IVF-PQ — the honesty row the MinHash/
    SimHash/containment certs already publish for their approximations:
    how many of the exact L2 top-k does the compressed index actually
    return? (query_id, k, n_found) per query; the driver golden pins
    the MEASURED recall so a quantizer regression shows up as a hash
    mismatch, not a silent quality drift."""
    exact = l2_topk_exact(embeddings, query_ids, k).select(
        "query_id", "neighbor_id"
    )
    approx = ivfpq_topk(
        embeddings, query_ids, k, n_cells, n_probe, coarse_iters, m,
        n_codes, pq_iters,
    ).select("query_id", "neighbor_id")
    found = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    )
    # the recall denominator is the ACHIEVABLE k: on a corpus smaller
    # than k+1 the exact side has < k rows and emitting the requested k
    # would systematically understate a perfect index
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("_ne")
    )
    qdf = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id")
    )
    return (
        qdf.join(n_exact, "query_id", "left")
        .join(found, "query_id", "left")
        .select(
            "query_id",
            F.least(F.lit(int(k)), F.coalesce("_ne", F.lit(0)))
            .cast("long")
            .alias("k"),
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
        )
    )
