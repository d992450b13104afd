"""Round-8 additions: KMV bottom-k sketch, bloom-filter pruning, DBSCAN."""

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- KMV

def _kmv(spark, values, k=8):
    from datum_spark.operators.sketches import kmv_build

    df = spark.createDataFrame([("g", v) for v in values], "g string, v string")
    return kmv_build(df, "v", ["g"], k=k).collect()[0]


def test_kmv_exact_below_k(spark):
    from datum_spark.operators.sketches import kmv_distinct_est

    row = _kmv(spark, [f"v{i}" for i in range(5)] * 3, k=8)
    assert row["kmv_n"] == 5
    assert row["kmv"] == sorted(row["kmv"])
    df = spark.createDataFrame([(row["kmv"],)], "kmv array<bigint>")
    est = df.select(kmv_distinct_est(F.col("kmv"), 8).alias("e")).first()["e"]
    assert est == 5.0  # sketch holds the whole set -> exact


def test_kmv_estimate_within_error_bound(spark):
    from datum_spark.operators.sketches import kmv_distinct_est

    n, k = 5000, 256
    row = _kmv(spark, [f"item-{i}" for i in range(n)], k=k)
    assert row["kmv_n"] == k
    df = spark.createDataFrame([(row["kmv"],)], "kmv array<bigint>")
    est = df.select(kmv_distinct_est(F.col("kmv"), k).alias("e")).first()["e"]
    # standard error ~ 1/sqrt(k-2); allow 5 sigma
    assert abs(est - n) / n < 5 / math.sqrt(k - 2)


def test_kmv_merge_equals_union_sketch(spark):
    from datum_spark.operators.sketches import kmv_build, kmv_merge

    a_vals = [f"a{i}" for i in range(300)]
    b_vals = [f"b{i}" for i in range(300)] + a_vals[:100]
    k = 64
    df = spark.createDataFrame(
        [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
        + [("u", v) for v in set(a_vals) | set(b_vals)],
        "g string, v string")
    sk = {r["g"]: r["kmv"]
          for r in kmv_build(df, "v", ["g"], k=k).collect()}
    merged = (spark.createDataFrame([(sk["a"], sk["b"])],
                                    "a array<bigint>, b array<bigint>")
              .select(kmv_merge(F.col("a"), F.col("b"), k).alias("m"))
              .first()["m"])
    assert merged == sk["u"]  # bottom-k of union from sketches alone


def test_kmv_set_estimates_track_truth(spark):
    from datum_spark.operators.sketches import kmv_build, kmv_set_estimates

    a_vals = {f"x{i}" for i in range(1000)}
    b_vals = {f"x{i}" for i in range(500, 1500)}
    k = 128
    df = spark.createDataFrame(
        [("a", v) for v in a_vals] + [("b", v) for v in b_vals],
        "g string, v string")
    sk = {r["g"]: r["kmv"] for r in kmv_build(df, "v", ["g"], k=k).collect()}
    e = (spark.createDataFrame([(sk["a"], sk["b"])],
                               "a array<bigint>, b array<bigint>")
         .select(kmv_set_estimates(F.col("a"), F.col("b"), k).alias("e"))
         .select("e.*").first())
    assert abs(e["union_est"] - 1500) / 1500 < 0.35
    assert abs(e["jaccard_est"] - 500 / 1500) < 0.15
    assert abs(e["intersect_est"] - 500) / 500 < 0.6


# -------------------------------------------------------------- bloom

def test_bloom_no_false_negatives_and_low_fp(spark):
    from datum_spark.operators.sketches import (bloom_build,
                                                bloom_might_contain)

    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    words = bloom_build(keys, "k", n_bits=8192, n_hashes=3)
    assert len(words) == 256
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    got = (probe.withColumn("pass",
                            bloom_might_contain(F.col("k"), words,
                                                n_bits=8192, n_hashes=3))
                .groupBy()
                .agg(F.sum(F.when((F.col("k") < 500) & ~F.col("pass"), 1)
                            .otherwise(0)).alias("fn"),
                     F.sum(F.when((F.col("k") >= 500) & F.col("pass"), 1)
                            .otherwise(0)).alias("fp"))
                .first())
    assert got["fn"] == 0                       # bloom guarantee
    # theoretical fpp ~ (1-exp(-3*500/8192))^3 ~ 0.47% — allow 4x
    assert got["fp"] / 4500 < 0.02


def test_bloom_build_words_match_manual(spark):
    """The dense word table is a pure function of the keys."""
    import hashlib

    from datum_spark.operators.sketches import bloom_build

    keys = ["10", "20", "30"]
    expect = [0] * 32
    for key in keys:
        for j in range(2):
            h = hashlib.md5(f"bf-{j}-{key}".encode()).hexdigest()
            p = int(h[:8], 16) % 1024
            expect[p // 32] |= 1 << (p % 32)
    df = spark.createDataFrame([(int(v),) for v in keys], "k bigint")
    assert bloom_build(df, "k", n_bits=1024, n_hashes=2) == expect


# ------------------------------------------------------------- dbscan

def _brute_dbscan(pts, eps, min_pts):
    """Reference DBSCAN with the deterministic min-label border rule."""
    ids = sorted(pts)
    nbr = {i: [j for j in ids
               if (pts[i][0] - pts[j][0]) ** 2
               + (pts[i][1] - pts[j][1]) ** 2 <= eps * eps]
           for i in ids}
    core = {i for i in ids if len(nbr[i]) >= min_pts}
    label = {}
    for seed in sorted(core):
        if seed in label:
            continue
        comp, stack = set(), [seed]
        while stack:
            u = stack.pop()
            if u in comp:
                continue
            comp.add(u)
            stack.extend(v for v in nbr[u] if v in core and v not in comp)
        lab = min(comp)
        for u in comp:
            label[u] = lab
    out = {}
    for i in ids:
        if i in core:
            out[i] = (label[i], True)
        else:
            cands = [label[j] for j in nbr[i] if j in core]
            out[i] = (min(cands) if cands else None, False)
    return out


def test_dbscan_matches_bruteforce(spark):
    from datum_spark.operators.spatial import dbscan

    # two dense blobs, a border point, a bridge-free gap, and noise
    pts = {1: (0.0, 0.0), 2: (0.5, 0.0), 3: (0.0, 0.5), 4: (0.4, 0.4),
           5: (1.3, 0.0),                       # border of blob A
           10: (10.0, 10.0), 11: (10.5, 10.0), 12: (10.0, 10.5),
           13: (10.4, 10.4),
           20: (5.0, 5.0), 21: (20.0, 3.0)}     # noise
    expect = _brute_dbscan(pts, eps=1.0, min_pts=4)
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in pts.items()],
        "id bigint, x double, y double")
    got = {r["id"]: (r["cluster"], r["is_core"])
           for r in dbscan(df, "id", "x", "y",
                           eps=1.0, min_pts=4).collect()}
    assert got == expect


def test_dbscan_border_takes_min_cluster(spark):
    from datum_spark.operators.spatial import dbscan

    # point 50 is within eps of ONE core in each cluster (and nothing
    # else, so it stays non-core) -> deterministically takes min label
    pts = ([(i, -0.9 + (i - 1) * 0.3, 0.0) for i in range(1, 5)]  # ...0.0
           + [(i, 1.9 + (i - 10) * 0.3, 0.0) for i in range(10, 14)]
           + [(50, 0.95, 0.0)])
    df = spark.createDataFrame(pts, "id bigint, x double, y double")
    out = {r["id"]: r for r in dbscan(df, "id", "x", "y",
                                      eps=1.0, min_pts=4).collect()}
    assert out[50]["is_core"] is False
    assert out[50]["cluster"] == 1


def test_dbscan_all_noise(spark):
    from datum_spark.operators.spatial import dbscan

    df = spark.createDataFrame([(1, 0.0, 0.0), (2, 100.0, 0.0)],
                               "id bigint, x double, y double")
    rows = dbscan(df, "id", "x", "y", eps=1.0, min_pts=3).collect()
    assert all(r["cluster"] is None and not r["is_core"] for r in rows)


# --------------------------------------------------------------- DSIR

def test_dsir_weights_favor_target_like_docs(spark):
    from datum_spark.operators.sampling import dsir_log_weights

    pool = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "delta epsilon zeta"),
         (3, "alpha alpha beta beta"), (4, "eta theta iota")],
        "doc_id bigint, text string")
    target = pool.filter("doc_id IN (1, 3)")   # alpha/beta vocabulary
    w = {r["doc_id"]: r["logw"]
         for r in dsir_log_weights(pool, target, "doc_id",
                                   "text").collect()}
    assert min(w[1], w[3]) > max(w[2], w[4])


def test_gumbel_topk_deterministic_and_weight_respecting(spark):
    from pyspark.sql import functions as F
    from datum_spark.operators.sampling import gumbel_topk

    # log-weight separation >> Gumbel scale: the heavy ids must win
    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") < 10, F.lit(50.0)).otherwise(F.lit(0.0))
         .alias("logw"))
    a = sorted(r["id"] for r in gumbel_topk(df, "id", "logw", 10).collect())
    b = sorted(r["id"] for r in gumbel_topk(df, "id", "logw", 10).collect())
    assert a == b == list(range(10))
