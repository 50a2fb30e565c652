"""Mergeable sketches (gocrd_spark/operators/sketch.py): HyperLogLog
distinct estimation and count-min heavy hitters.

The synthetic documents vocabulary is tiny (exact-regime for both
sketches), so these tests stress the ESTIMATOR regimes with generated
item tables: 50k distinct items exercises the raw HLL path (the
goldens only reach linear counting), and 5k distinct terms in 1024 CMS
buckets forces collisions so est > exact actually occurs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gocrd_spark.operators.sketch import (
    HLL_M,
    cms_counters,
    cms_heavy_hitters,
    hll_distinct_terms,
    hll_estimate,
    hll_registers,
)


def _items(spark, n: int, group: str = "g", prefix: str = "item"):
    return spark.range(n).select(
        F.lit(group).alias("source"),
        F.concat(F.lit(prefix), F.col("id")).alias("item"),
    )


def test_hll_raw_regime_within_3_sigma(spark):
    # 50_000 distinct >> 2.5*m: raw estimator path. Standard error is
    # 1.04/sqrt(1024) ~ 3.25%; allow 3 sigma.
    est = hll_estimate(hll_registers(_items(spark, 50_000))).collect()[0]
    assert est.n_zero == 0
    assert abs(est.est_distinct - 50_000) <= int(50_000 * 0.0975)


def test_hll_linear_counting_small_range(spark):
    est = hll_estimate(hll_registers(_items(spark, 200))).collect()[0]
    assert abs(est.est_distinct - 200) <= 10  # LC is near-exact here


def test_hll_registers_merge_by_max(spark):
    # sketch(A union B) == merge(sketch(A), sketch(B)) by per-bucket max
    a = hll_registers(_items(spark, 3_000))
    b = hll_registers(
        _items(spark, 6_000).filter(F.col("item") >= "item3000")  # overlap-free-ish
    )
    merged = (
        a.unionAll(b).groupBy("group", "bucket").agg(F.max("m").alias("m"))
    )
    full = hll_registers(
        _items(spark, 3_000).unionAll(
            _items(spark, 6_000).filter(F.col("item") >= "item3000")
        )
    )
    got = hll_estimate(merged).collect()[0]
    want = hll_estimate(full).collect()[0]
    assert (got.est_distinct, got.n_zero) == (want.est_distinct, want.n_zero)


def test_hll_duplicates_do_not_move_estimate(spark):
    once = hll_estimate(hll_registers(_items(spark, 1_000))).collect()[0]
    tripled = hll_estimate(
        hll_registers(
            _items(spark, 1_000)
            .unionAll(_items(spark, 1_000))
            .unionAll(_items(spark, 1_000))
        )
    ).collect()[0]
    assert once.est_distinct == tripled.est_distinct


def test_hll_distinct_terms_shape(spark):
    docs = spark.createDataFrame(
        [(0, "a b c", "s1"), (1, "a b", "s1"), (2, "x y", "s2")],
        "doc_id long, text string, source string",
    )
    rows = {r.group: r for r in hll_distinct_terms(docs).collect()}
    assert rows["s1"].exact_distinct == 3 and rows["s2"].exact_distinct == 2
    # tiny cardinality: linear counting is exact
    assert rows["s1"].est_distinct == 3 and rows["s2"].est_distinct == 2
    assert rows["s1"].err_permille == 0


def test_cms_overestimates_never_under(spark):
    # 5_000 distinct terms in 4x1024 buckets: collisions guaranteed;
    # count-min may only overestimate.
    docs = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    rows = cms_heavy_hitters(docs, k=5_000).collect()
    assert all(r.est_count >= r.exact_count for r in rows)
    assert any(r.est_count > r.exact_count for r in rows)  # collisions exist


def test_cms_heavy_hitter_found(spark):
    # plant one dominant term: it must rank first with est >= exact
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 300, F.lit("whale"))
        .otherwise(F.concat(F.lit("rare"), F.col("id")))
        .alias("text"),
    )
    top = cms_heavy_hitters(docs, k=2).orderBy("rank").collect()
    assert top[0].term == "whale"
    assert top[0].exact_count == 300
    assert top[0].est_count >= 300


def test_cms_counters_merge_by_sum(spark):
    half1 = _items(spark, 500).select("item")
    half2 = _items(spark, 1_000).select("item").subtract(half1)
    merged = (
        cms_counters(half1)
        .unionAll(cms_counters(half2))
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    full = cms_counters(half1.unionAll(half2))
    assert (
        merged.exceptAll(full).count() == 0 and full.exceptAll(merged).count() == 0
    )


def test_hll_registers_bounded(spark):
    # register table never exceeds groups x m rows no matter the input
    n = hll_registers(_items(spark, 50_000)).count()
    assert n <= HLL_M


# --- HDR-histogram quantile sketch ------------------------------------


def test_hdr_bucket_width_bound(spark):
    # every bucket's relative width is <= 1/32 for v >= 32; unit-exact below
    from gocrd_spark.operators.sketch import hdr_histogram, hdr_bounds

    items = spark.range(1, 100_000, 37).select(
        F.lit("g").alias("group"), F.col("id").alias("v")
    )
    lo, hi = hdr_bounds(F.col("idx"))
    rows = (
        hdr_histogram(items)
        .select("idx", lo.alias("lo"), hi.alias("hi"))
        .collect()
    )
    for r in rows:
        assert r.lo <= r.hi
        if r.lo >= 32:
            assert (r.hi - r.lo + 1) <= max(r.lo // 32, 1)


def test_hdr_values_land_in_their_bucket(spark):
    from gocrd_spark.operators.sketch import hdr_histogram, hdr_bounds

    # distinct probe values, one per row: count per bucket must equal
    # the number of probes inside [lo, hi]
    probes = [0, 1, 31, 32, 33, 63, 64, 100, 357, 1_000, 65_535, 10**9]
    items = spark.createDataFrame(
        [("g", v) for v in probes], "group string, v long"
    )
    lo, hi = hdr_bounds(F.col("idx"))
    rows = hdr_histogram(items).select("idx", "cnt", lo.alias("lo"), hi.alias("hi")).collect()
    assert sum(r.cnt for r in rows) == len(probes)
    for r in rows:
        inside = [v for v in probes if r.lo <= v <= r.hi]
        assert len(inside) == r.cnt


def test_hdr_quantile_bounds_contain_exact_quantile(spark):
    from gocrd_spark.operators.sketch import hdr_quantiles

    import random

    rng = random.Random(7)
    vals = sorted(rng.randrange(1, 1_000_000) for _ in range(5_000))
    items = spark.createDataFrame([("g", v) for v in vals], "group string, v long")
    rows = {r.q_permille: r for r in hdr_quantiles(items).collect()}
    for q in (500, 900, 990):
        r_rank = max((q * len(vals) + 999) // 1000, 1)
        exact = vals[r_rank - 1]
        assert rows[q].value_lo <= exact <= rows[q].value_hi


def test_hdr_histogram_merges_by_sum(spark):
    from gocrd_spark.operators.sketch import hdr_histogram

    a = spark.range(0, 3_000).select(F.lit("g").alias("group"), F.col("id").alias("v"))
    b = spark.range(3_000, 9_000).select(
        F.lit("g").alias("group"), F.col("id").alias("v")
    )
    merged = (
        hdr_histogram(a)
        .unionAll(hdr_histogram(b))
        .groupBy("group", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = hdr_histogram(a.unionAll(b))
    assert merged.exceptAll(full).count() == 0 and full.exceptAll(merged).count() == 0


# --- durable corpus profile ---------------------------------------------


def _docs_df(spark, lo, hi, source="s1"):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 500).cast("string"),
                 F.lit(" common word")).alias("text"),
        F.lit(source).alias("source"),
        (F.col("id") % 997 + 1).cast("long").alias("n_chars"),
    )


def test_profile_build_append_merge(spark, tmp_path):
    from gocrd_spark.operators import sketch

    path = str(tmp_path / "profile")
    base = _docs_df(spark, 0, 2_000)
    day2 = _docs_df(spark, 2_000, 5_000)
    sketch.profile_build(base, path)
    # build is write-once: second call resumes without error
    sketch.profile_build(base, path)
    sketch.profile_append(day2, path, "day2")
    sketch.profile_append(day2, path, "day2")  # idempotent no-op

    # merged estimates must equal the sketches computed over the UNION
    merged_d = {r.group: r.est_distinct
                for r in sketch.profile_distinct(spark, path).collect()}
    want_d = {r.group: r.est_distinct
              for r in sketch.hll_distinct_terms(
                  base.unionAll(day2)).selectExpr(
                      "group", "est_distinct").collect()}
    assert merged_d == want_d

    tc = {r.term: r.est_count
          for r in sketch.profile_term_counts(
              spark, path, ["common", "tok0", "nosuchterm"]).collect()}
    assert tc["common"] >= 5_000         # every doc
    assert tc["tok0"] >= 10              # id % 500 == 0 docs
    assert tc["nosuchterm"] >= 0         # CMS may only overestimate

    q = {(r.group, r.q_permille): (r.value_lo, r.value_hi)
         for r in sketch.profile_length_quantiles(spark, path).collect()}
    lo, hi = q[("s1", 500)]
    assert lo <= 499 + 1 <= hi or lo <= 500 <= hi  # median of 1..997 cycle


def test_profile_param_pin_refuses_mismatch(spark, tmp_path, monkeypatch):
    from gocrd_spark.operators import sketch

    path = str(tmp_path / "p2")
    sketch.profile_build(_docs_df(spark, 0, 100), path)
    monkeypatch.setitem(sketch.PROFILE_PARAMS, "hll_p", 11)
    with pytest.raises(ValueError, match="built with"):
        sketch.profile_build(_docs_df(spark, 0, 100), path)
    with pytest.raises(ValueError, match="built with"):
        sketch.profile_append(_docs_df(spark, 100, 200), path, "b1")


def test_profile_pins_group_col(spark, tmp_path):
    """The HLL/HDR ``group`` column is keyed on ``group_col``, so a
    build or append with another column refuses instead of mixing
    groupings. A profile in the older format (sidecar without
    ``group_col``, root ``_SUCCESS``, batch markers carrying ``dir``)
    reads as grouped by ``"source"``: it resumes, appends and serves."""
    import json
    import os

    from gocrd_spark import fsio
    from gocrd_spark.operators import sketch

    path = str(tmp_path / "p3")
    base = _docs_df(spark, 0, 300).withColumn("lane", F.lit("x"))
    sketch.profile_build(base, path)
    sketch.profile_append(_docs_df(spark, 300, 400), path, "b1")
    with pytest.raises(ValueError, match="was built with"):
        sketch.profile_build(base, path, group_col="lane")
    with pytest.raises(ValueError, match="was built with"):
        sketch.profile_append(base, path, "b2", group_col="lane")
    assert not os.path.exists(os.path.join(path, "hll", "_batch_b2.json"))
    want = sorted(sketch.profile_distinct(spark, path).collect())

    # rewrite the profile into the older on-disk format
    sidecar = os.path.join(path, "_PARAMS.json")
    pinned = json.loads(fsio.read_text(spark, sidecar))
    del pinned["group_col"]
    fsio.write_text(spark, sidecar, json.dumps(pinned))
    fsio.write_text(spark, os.path.join(path, "_SUCCESS"), "")
    for name in ("hll", "cms", "hdr"):
        bdir = os.path.join(path, name, "_batches", "b1")
        fsio.write_text(spark, os.path.join(path, name, "_batch_b1.json"),
                        json.dumps({"batch_id": "b1", "dir": bdir}))
    mtime = os.stat(sidecar).st_mtime_ns
    sketch.profile_build(base, path)
    assert os.stat(sidecar).st_mtime_ns == mtime
    assert sorted(sketch.profile_distinct(spark, path).collect()) == want
    with pytest.raises(ValueError, match="was built with"):
        sketch.profile_append(base, path, "b2", group_col="lane")
    sketch.profile_append(_docs_df(spark, 400, 500), path, "b2")
    merged = {r.group: r.est_distinct
              for r in sketch.profile_distinct(spark, path).collect()}
    assert merged == {r.group: r.est_distinct
                      for r in sketch.hll_distinct_terms(
                          _docs_df(spark, 0, 500)).collect()}
