"""k-means invariants: argmin assignment, non-increasing inertia,
well-separated blobs recovered."""

import numpy as np

from datum_spark.operators.clustering import (
    kmeans_assign,
    kmeans_fit,
    kmeans_inertia,
)


def _blobs(spark, seed=7, n_per=40, k=3, dim=8, spread=0.05):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, dim)) * 5
    rows = []
    for i in range(k * n_per):
        c = i % k
        rows.append((i, (centers[c] + rng.normal(size=dim) * spread).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_assignment_is_argmin_of_final_centers(spark):
    df = _blobs(spark)
    centers = kmeans_fit(df, k=3, iters=4)
    got = kmeans_assign(df, k=3, centers=centers).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"])
            for r in df.collect()}
    for r in got:
        d2 = ((vecs[r["vec_id"]][None, :] - centers) ** 2).sum(axis=1)
        assert r["cluster"] == int(np.argmin(d2))
        assert abs(r["dist"] - d2.min()) < 1e-4


def test_inertia_non_increasing_with_iterations(spark):
    df = _blobs(spark, spread=1.0)
    inertias = [kmeans_inertia(kmeans_assign(df, k=3, iters=i))
                for i in (0, 2, 5)]
    assert inertias[0] >= inertias[1] - 1e-6
    assert inertias[1] >= inertias[2] - 1e-6


def test_separated_blobs_land_in_pure_clusters(spark):
    df = _blobs(spark)
    got = kmeans_assign(df, k=3, iters=5).collect()
    by_truth = {}
    for r in got:
        by_truth.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
    # every ground-truth blob maps to exactly one k-means cluster and the
    # three clusters are distinct
    assert all(len(s) == 1 for s in by_truth.values())
    assert len(set.union(*by_truth.values())) == 3


def test_semantic_dedup_matches_brute_force(spark):
    from datum_spark.operators.clustering import semantic_dedup_pairs

    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, 8)) * 3
    rows = [(i, base[i].tolist()) for i in range(60)]
    # plant near-duplicates: tiny perturbations of existing vectors
    for j, src in enumerate((3, 17, 42, 55)):
        rows.append((100 + j, (base[src] + rng.normal(size=8) * 1e-3).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {(r["id_a"], r["id_b"])
           for r in semantic_dedup_pairs(df, k=4, iters=3,
                                         threshold=0.999).collect()}

    m = np.vstack([np.array(v) for _, v in rows])
    ids = np.array([i for i, _ in rows])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    ia, ib = np.where(np.triu(sims >= 0.999, 1))
    want = {(min(ids[a], ids[b]), max(ids[a], ids[b]))
            for a, b in zip(ia, ib)}
    assert want, "fixture must contain planted near-dups"
    # probes=2 blocking must recover every planted pair on this fixture
    assert got == want


def test_coreset_picks_nearest_per_cluster(spark):
    from datum_spark.operators.clustering import cluster_coreset, kmeans_assign

    df = _blobs(spark, spread=1.0)
    core = cluster_coreset(df, per_cluster=5, k=3, iters=3).collect()
    full = kmeans_assign(df, k=3, iters=3).collect()
    by_cluster = {}
    for r in full:
        by_cluster.setdefault(r["cluster"], []).append((r["dist"], r["vec_id"]))
    for c, members in by_cluster.items():
        want = {vid for _, vid in sorted(members)[:5]}
        got = {r["vec_id"] for r in core if r["cluster"] == c}
        assert got == want
    assert all(r["rnk"] <= 5 for r in core)


def test_kmeans_verifiable_separated_and_deterministic(spark):
    """Well-separated blobs cluster together; assignment is identical
    under repartitioning (pure function of the data, no RNG)."""
    from datum_spark.operators.clustering import kmeans_verifiable
    rows = []   # ids interleave the blobs so first-k init seeds each one
    for g, base in enumerate([0.0, 100.0, 200.0, 300.0]):
        for i in range(12):
            rows.append((i * 4 + g, [base + (i % 3) * 0.1, base - 0.05]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["cluster"] for r in
           kmeans_verifiable(df, k=4, iters=3).collect()}
    for g in range(4):
        labels = {out[i * 4 + g] for i in range(12)}
        assert len(labels) == 1            # each blob is one cluster
    assert len({out[g] for g in range(4)}) == 4        # blobs separated
    out2 = {r["vec_id"]: r["cluster"] for r in
            kmeans_verifiable(df.repartition(7), k=4, iters=3).collect()}
    assert out == out2


def test_verifiable_coreset_and_semantic_dedup(spark):
    """Round-8 verifiable twins: coreset ranks are the argmin-of-
    quantized-distance ranks (cross-checked against a NumPy replay of
    the deterministic trajectory), and the semantic-dedup pair set
    equals brute-force cosine pairs restricted to shared blocking
    cells."""
    import numpy as np
    from pyspark.sql import functions as F

    from datum_spark.operators.clustering import (
        cluster_coreset_verifiable, kmeans_verifiable,
        semantic_dedup_pairs_verifiable)

    rng = np.random.RandomState(11)
    blobs = np.vstack([rng.randn(30, 8) + c
                       for c in (0.0, 6.0, 12.0)])
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(blobs)],
        "vec_id long, embedding array<double>")
    core = cluster_coreset_verifiable(df, per_cluster=5, k=3, iters=2)
    rows = core.collect()
    # 5 per cluster, ranks 1..5, distances non-decreasing within cluster
    by_c = {}
    for r in rows:
        by_c.setdefault(r["cluster"], []).append((r["rnk"], r["d2"]))
    assert all(len(v) == 5 for v in by_c.values())
    for v in by_c.values():
        v.sort()
        assert [t[0] for t in v] == [1, 2, 3, 4, 5]
        assert all(v[i][1] <= v[i + 1][1] for i in range(4))
    # coreset members agree with kmeans_verifiable assignments
    assign = {r["vec_id"]: r["cluster"]
              for r in kmeans_verifiable(df, k=3, iters=2).collect()}
    got_members = {(r["vec_id"], r["cluster"]) for r in rows}
    assert all(assign[v] == c for v, c in got_members)

    # semantic dedup: pairs equal brute force within shared cells
    pairs = semantic_dedup_pairs_verifiable(
        df, k=3, iters=2, threshold=0.9, probes=2).collect()
    norm = blobs / np.linalg.norm(blobs, axis=1, keepdims=True)
    sims = norm @ norm.T
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # every reported pair really is >= threshold (quantized)
    for a, b in got:
        assert round(float(sims[a, b]), 6) >= 0.9
    # recall against brute force for SAME-blob pairs (which share a
    # top cell by construction): no same-blob pair above threshold
    # may be missing
    for blob in range(3):
        ids = range(blob * 30, blob * 30 + 30)
        for a in ids:
            for b in ids:
                if a < b and round(float(sims[a, b]), 6) >= 0.9:
                    assert (a, b) in got, (a, b)


def test_semdedup_action_keep_rule_and_prune(spark):
    """r13 SemDeDup action: duplicate groups are the transitive closure
    of the verifiable pair stage; exactly one survivor per group; the
    survivor is the member FARTHEST from its cluster centroid (Abbas
    2023's keep rule, ties by id); prune applies the verdict."""
    import random

    from datum_spark.operators.clustering import (
        semantic_dedup_pairs_verifiable, semdedup, semdedup_prune)
    from datum_spark.operators.components import dup_clusters

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(6)]
    rows = []
    vid = 0
    for b in base:
        # a tight clique of 3 near-identical vectors per base + noise
        for j in range(3):
            rows.append((vid, [x + j * 1e-4 for x in b]))
            vid += 1
    for _ in range(20):                      # singleton background
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(16)]))
        vid += 1
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    kw = dict(k=4, iters=2, threshold=0.999, probes=2)
    lab = semdedup(df, "vec_id", "embedding", **kw).cache()
    rows_l = lab.collect()
    by_group = {}
    for r in rows_l:
        by_group.setdefault(r["group_id"], []).append(r)
    # exactly one keep per group, and it is the max-(d2, -id) member
    for g, members in by_group.items():
        kept = [m for m in members if m["keep"]]
        assert len(kept) == 1, g
        want = sorted(members,
                      key=lambda m: (-m["d2"], m["vec_id"]))[0]
        assert kept[0]["vec_id"] == want["vec_id"], g
    # groups equal the closure of the pair stage
    pairs = semantic_dedup_pairs_verifiable(df, "vec_id", "embedding",
                                            quantize=6, **kw)
    comp = {r["node"]: r["component"]
            for r in dup_clusters(pairs.select("id_a", "id_b"))
            .collect()}
    for r in rows_l:
        assert r["group_id"] == comp.get(r["vec_id"], r["vec_id"])
    # the cliques actually grouped (18 clique members -> 6 groups)
    n_multi = sum(1 for g, ms in by_group.items() if len(ms) > 1)
    assert n_multi == 6
    # prune returns exactly the keep rows, columns untouched
    pruned = semdedup_prune(df, "vec_id", "embedding", **kw)
    assert pruned.columns == df.columns
    assert ({r["vec_id"] for r in pruned.collect()}
            == {r["vec_id"] for r in rows_l if r["keep"]})


def test_driver_lloyd_matches_distributed(spark, monkeypatch):
    """The size-gated driver Lloyd finish must reproduce the
    distributed deterministic-trajectory fit value-for-value."""
    import datum_spark.operators.clustering as cl
    from datum_spark.operators.clustering import _verifiable_fit

    rows = [(i, [float((i * 7 + j * 3) % 11) / 3.0 + (0.0 if i % 2
                 else 5.0) for j in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, c_drv, _ = _verifiable_fit(df, "vec_id", "embedding", 4, 3, 6)
    monkeypatch.setattr(cl, "_DRIVER_LLOYD_BYTES", -1)
    _, c_dist, _ = _verifiable_fit(df, "vec_id", "embedding", 4, 3, 6)
    assert c_drv == c_dist


def test_driver_vectors_null_vector_falls_back(spark, monkeypatch):
    """A null vector, first or later in the collected frame, sends the
    Lloyd finish back to the distributed loop instead of raising on the
    driver (the same fallback ragged widths take)."""
    import datum_spark.operators.clustering as cl
    from datum_spark.operators.clustering import _driver_vectors

    # a Python-built frame has no size estimate: open the gate so the
    # collected vectors reach the null / width check
    monkeypatch.setattr(cl, "_DRIVER_LLOYD_BYTES", float("inf"))
    schema = "__e array<double>"
    for rows in ([([1.0, 2.0],), (None,), ([3.0, 4.0],)],
                 [(None,), ([3.0, 4.0],)],
                 [([1.0, 2.0],), ([3.0],)]):
        assert _driver_vectors(spark.createDataFrame(rows, schema)) is None
    x = _driver_vectors(spark.createDataFrame(
        [([1.0, 2.0],), ([3.0, 4.0],)], schema))
    assert x.tolist() == [[1.0, 2.0], [3.0, 4.0]]


def test_driver_pq_lloyd_matches_distributed(spark, monkeypatch):
    import datum_spark.operators.clustering as cl
    from datum_spark.operators.similarity import pq_train_encode

    rows = [(i, [float((i * 5 + j) % 13) / 7.0 for j in range(16)])
            for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes_a, books_a = pq_train_encode(df, m=4, ksub=8, iters=3)
    rows_a = sorted(map(tuple, codes_a.collect()))
    monkeypatch.setattr(cl, "_DRIVER_LLOYD_BYTES", -1)
    codes_b, books_b = pq_train_encode(df, m=4, ksub=8, iters=3)
    assert books_a == books_b
    assert rows_a == sorted(map(tuple, codes_b.collect()))
