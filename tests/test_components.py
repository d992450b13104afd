"""Connected-components correctness vs. a driver-side union-find oracle."""

import random

from datum_spark.operators.components import connected_components, dup_clusters


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _spark_components(spark, edges):
    df = spark.createDataFrame(edges, "u long, v long")
    out = connected_components(df)
    got = {r["node"]: r["component"] for r in out.collect()}
    # add roots (they only appear as components)
    for c in set(got.values()):
        got.setdefault(c, c)
    return got


def test_cc_chain_and_star(spark):
    # a long chain (worst case for label propagation) + a star + a pair
    chain = [(i, i + 1) for i in range(1, 40)]
    star = [(100, v) for v in range(101, 110)]
    edges = chain + star + [(200, 201)]
    assert _spark_components(spark, edges) == _union_find_components(edges)


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        nodes = list(range(trial * 1000, trial * 1000 + 120))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
        edges = [(u, v) for u, v in edges if u != v]
        assert _spark_components(spark, edges) == _union_find_components(edges)


def test_dup_clusters_includes_canonical(spark):
    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (20, 21)], "id_a long, id_b long")
    got = {(r["node"], r["component"]) for r in dup_clusters(pairs).collect()}
    assert got == {(2, 2), (5, 2), (9, 2), (20, 20), (21, 20)}


def test_cc_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The size-gated driver union-find must emit row-for-row what the
    distributed star-contraction loop converges to."""
    from datum_spark.operators import components as comp_mod

    rng = random.Random(7)
    nodes = list(range(500))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(400)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "u long, v long")

    fast = {(r["node"], r["component"])
            for r in connected_components(df).collect()}
    monkeypatch.setattr(comp_mod, "_DRIVER_CC_EDGES", -1)
    slow = {(r["node"], r["component"])
            for r in connected_components(df).collect()}
    assert fast == slow
    assert fast == {(n, c) for n, c in
                    _union_find_components(edges).items() if n != c}


def test_dup_clusters_distributed_include_roots(spark, monkeypatch):
    """The DISTRIBUTED include_roots branch (union + distinct after the
    star-contraction loop) must honor dup_clusters' root-row contract —
    every component minimum self-mapped, exactly once (ADVICE r13: all
    other tests stayed under the driver gate, so the branch was only
    equivalent by inspection)."""
    from datum_spark.operators import components as comp_mod

    rng = random.Random(11)
    nodes = list(range(300))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(250)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    fast = [(r["node"], r["component"])
            for r in dup_clusters(df).collect()]
    monkeypatch.setattr(comp_mod, "_DRIVER_CC_EDGES", -1)
    slow = [(r["node"], r["component"])
            for r in dup_clusters(df).collect()]
    assert sorted(fast) == sorted(slow)
    # no duplicate rows from the union+distinct, roots self-mapped
    assert len(slow) == len(set(slow))
    roots = {c for _, c in slow}
    assert all((c, c) in set(slow) for c in roots)


def test_cc_gate_self_loops_nulls_duplicates(spark, monkeypatch):
    """Self-loops, null endpoints, duplicate and reversed edges: the
    driver pre-gate and the forced distributed path give identical rows
    for both entry points, and both equal union-find over the edges
    with two distinct non-null endpoints."""
    from datum_spark.operators import components as comp_mod

    rng = random.Random(23)
    nodes = list(range(60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    edges += [(v, u) for u, v in edges[:20]] + edges[:15]
    edges += [(500, 500), (501, 501), (3, 3)]
    edges += [(None, 3), (7, None), (None, None), (600, None)]
    clean = [(u, v) for u, v in edges
             if u is not None and v is not None and u != v]
    uf = _union_find_components(clean)
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    def run():
        cc = sorted((r["node"], r["component"])
                    for r in connected_components(df).collect())
        dc = sorted((r["node"], r["component"])
                    for r in dup_clusters(df).collect())
        return cc, dc

    fast = run()
    monkeypatch.setattr(comp_mod, "_DRIVER_CC_EDGES", -1)
    assert run() == fast
    assert fast[0] == sorted((n, c) for n, c in uf.items() if n != c)
    assert fast[1] == sorted(uf.items())
