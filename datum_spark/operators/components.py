"""Distributed connected components over a pair list — the step that turns
near-duplicate PAIRS (MinHash/SimHash/Jaccard/cosine output) into duplicate
CLUSTERS with one canonical document each.

Not in the reference (CityOfPhiladelphia/datum has no graph ops anywhere in
its 15 files); this is a north-star training-pipeline extension alongside
the dedup family it completes.

Algorithm: alternating *large-star* / *small-star* (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14).  Each round is a
groupBy over the (symmetrized) edge list; the edge set converges to stars
rooted at each component's minimum node id in O(log n) rounds — unlike
naive min-label propagation, which needs O(diameter) rounds and dies on
long chains at scale.

Scale posture (100 TB corpus → billions of pair edges):
- every round is one shuffle on the node key (partial aggregation applies:
  ``min`` combines map-side);
- lineage is truncated every round with ``localCheckpoint`` — iterative
  plans otherwise grow unboundedly and re-execute the whole history;
- convergence is detected from the round's edge checksum (count + XOR-ish
  sum of hashed edges), one lightweight job per round — no ``collect`` of
  edge data to the driver;
- skew note: the root of a giant component becomes a hot key in the final
  star.  large-star handles it (only larger-neighbor edges are regrouped);
  the per-round combine keeps the hot key's map-side traffic bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import local_frame


def _symmetrize(edges: DataFrame) -> DataFrame:
    a, b = edges.columns[0], edges.columns[1]
    # ONE scan: each edge explodes into both directions map-side — the
    # historical union-of-swapped-selves spelling scanned the upstream
    # pair-generation subtree TWICE per round (it is rarely cached and
    # often expensive: an LSH band join, a cosine threshold filter)
    # NO distinct here: the only consumer is _large_star, whose
    # collect_set/min aggregation absorbs duplicate edges — an explicit
    # dedup would add a full exchange of the doubled edge list for
    # nothing (each round's OUTPUT stays distinct via _small_star)
    return (edges.select(F.explode(F.array(
                F.struct(F.col(a).alias("u"), F.col(b).alias("v")),
                F.struct(F.col(b).alias("u"), F.col(a).alias("v"))))
                .alias("__uv"))
            .select("__uv.u", "__uv.v")
            .filter(F.col("u") != F.col("v")))


def _large_star(sym: DataFrame) -> DataFrame:
    """For each node u: link every STRICTLY LARGER neighbor to
    min(N(u) ∪ {u}).  Emitted directed (child > parent) unless equal-min."""
    grouped = (sym.groupBy("u")
               .agg(F.min("v").alias("mn"), F.collect_set("v").alias("nbrs")))
    m = F.least(F.col("u"), F.col("mn"))
    # NO distinct: collect_set already dedups within u, so (child,
    # parent) rows repeat only across different u groups; _small_star's
    # collect_set absorbs those — its closing distinct keeps each
    # ROUND's output canonical for the convergence checksum
    return (grouped.select(
                F.explode(F.filter("nbrs", lambda v: v > F.col("u")))
                 .alias("child"),
                m.alias("parent"))
            .filter(F.col("child") != F.col("parent")))


def _small_star(directed: DataFrame) -> DataFrame:
    """Edges arrive directed child→parent (child > parent).  For each
    child u: link all its parents AND u itself to the minimum parent."""
    grouped = (directed.groupBy("child")
               .agg(F.min("parent").alias("mn"),
                    F.collect_set("parent").alias("ps")))
    bigger = F.filter("ps", lambda p: p != F.col("mn"))
    pairs = F.array_union(bigger, F.array(F.col("child")))
    return (grouped.select(F.explode(pairs).alias("child"),
                           F.col("mn").alias("parent"))
            .filter(F.col("child") != F.col("parent"))
            .distinct())


def _checksum(directed: DataFrame) -> tuple[int, int]:
    row = (directed
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("child", "parent").cast("decimal(38,0)"))
                 .alias("s"))
           .first())
    return int(row["n"]), int(row["s"] or 0)


# Directed-edge count under which the remaining star-contraction rounds
# run as ONE collect + driver union-find instead of O(log n) rounds of
# 3 shuffles + 2 jobs each.  This is a size-gated PHYSICAL choice, not a
# local-mode tune: on any cluster, finishing a <=100k-edge forest on the
# driver strictly dominates scheduling more distributed rounds, and the
# gate reads the edge count the convergence checksum already computes
# every round (no extra job, no extra pass at scale).
_DRIVER_CC_EDGES = 100_000


def _driver_components(rows, include_roots: bool = False) -> list:
    """Union-find (min-id roots) over collected directed edges; returns
    the exact row set the converged distributed star would hold: one
    ``(node, component_min)`` row per non-root node (plus one
    self-mapped row per root with ``include_roots``)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = find(r[0]), find(r[1])
        if a != b:
            # union by min so the root is always the component minimum
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    nodes = set()
    for r in rows:
        nodes.add(r[0])
        nodes.add(r[1])
    return [(n, find(n)) for n in sorted(nodes)
            if include_roots or find(n) != n]


def connected_components(edges: DataFrame, max_iter: int = 20,
                         include_roots: bool = False) -> DataFrame:
    """Return ``(node, component)`` where ``component`` is the minimum node
    id in the node's connected component.  ``edges`` is any two-column
    DataFrame of undirected pairs (both ids of one orderable type);
    isolated nodes don't appear (callers union singletons if needed).
    With ``include_roots`` each component minimum also appears, mapped
    to itself (the :func:`dup_clusters` contract) — on the driver
    finish that costs nothing, vs. a union + distinct round after.

    One distributed star-contraction round always runs (it is also the
    only full pass over the raw pair list); if the surviving directed
    edge set is small (its count rides the existing convergence
    checksum), the remaining O(log n) rounds collapse into a driver
    union-find over the SAME edge set — row-for-row the converged
    star's output, since both compute (node → component minimum) over
    the round-1 forest, which star contraction proves connectivity-
    equivalent to the input.
    """
    spark = edges.sparkSession
    cur = _small_star(_large_star(_symmetrize(edges))).localCheckpoint()
    prev_sum = _checksum(cur)
    if prev_sum[0] <= _DRIVER_CC_EDGES:
        out = _driver_components(cur.collect(), include_roots)
        return local_frame(spark, out, T.StructType([
            T.StructField("node", cur.schema["child"].dataType),
            T.StructField("component", cur.schema["parent"].dataType)]))
    for _ in range(max_iter):
        nxt = _small_star(_large_star(_symmetrize(cur))).localCheckpoint()
        new_sum = _checksum(nxt)
        converged = new_sum == prev_sum
        cur, prev_sum = nxt, new_sum
        if converged:
            break
    comp = cur.select(F.col("child").alias("node"),
                      F.col("parent").alias("component"))
    if not include_roots:
        return comp
    roots = comp.select(F.col("component").alias("node"),
                        F.col("component")).distinct()
    return comp.union(roots).distinct()


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iter: int = 20) -> DataFrame:
    """Duplicate clusters from a near-dup pair list: ``(node, cluster_id)``
    with ``cluster_id`` = the minimum member id (the canonical document).
    Every node that appears in a pair is present, including the canonical
    one (mapped to itself)."""
    return connected_components(pairs.select(id_a, id_b),
                                max_iter=max_iter, include_roots=True)
