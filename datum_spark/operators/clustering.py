"""Distributed k-means (Lloyd's algorithm) over an embedding column —
semantic clustering for corpus curation (cluster-then-dedup, diversity
sampling, topic bucketing) and the trainable half of an IVF ANN index.

Not in the reference (CityOfPhiladelphia/datum has no ML/vector ops in its
15 files); north-star extension beside ``operators/similarity.py``, whose
IVF coarse quantizer uses the same assign/refine pattern inline.

Scale posture (10⁹ vectors × hundreds of dims):
- the center matrix (k × dim) lives in the assignment UDF's closure —
  broadcast with the plan, never shuffled;
- assignment is one NumPy GEMM per Arrow batch (vectorized, JVM↔Python via
  Arrow), not a per-row loop;
- each Lloyd iteration is ONE map-only pass: ``mapInPandas`` emits partial
  ``(cell, sum, count)`` per Arrow batch — k rows per batch, combined on
  the driver.  Full vectors are never shuffled; the per-iteration driver
  traffic is k × num_batches small rows (vs. the naive
  ``groupBy(cell)`` of whole vectors, which shuffles the entire corpus
  every iteration);
- floating-point caveat: partial sums combine in arrival order, so
  centers can differ in the last ulp across runs — assignments are stable
  away from cell boundaries, and the unit tests assert invariants
  (argmin property, non-increasing inertia), not bit-equal centers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _center_sample(vecs: DataFrame, id_col: str, vec_col: str, k: int,
                   seed: int):
    """Deterministic init: hash-order a ~8k-candidate uniform sample
    (smallest ``xxhash64(id, seed)`` — partitioning-independent, same
    trick as similarity.ivf_cosine_top_k), then greedy farthest-point
    selection on the driver.  Farthest-point spreads the seeds across
    blobs, which plain uniform sampling misses (two seeds in one blob →
    Lloyd merges true clusters)."""
    import numpy as np

    m = 8 * k
    hashed = vecs.withColumn("__h", F.xxhash64(F.col(id_col), F.lit(seed)))
    # orderBy+limit compiles to TakeOrderedAndProject: per-partition top-m
    # heaps + driver merge, no shuffle, no full sort — cheap at any scale
    sample = hashed.orderBy("__h").limit(m).select(vec_col).collect()
    cand = np.vstack([np.asarray(r[vec_col], dtype=np.float64)
                      for r in sample])
    if len(cand) <= k:
        return cand
    chosen = [0]  # smallest hash
    d2 = ((cand - cand[0]) ** 2).sum(axis=1)
    while len(chosen) < k:
        nxt = int(np.argmax(d2))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((cand - cand[nxt]) ** 2).sum(axis=1))
    return cand[chosen]


def _assign_udf(centers, with_dist: bool):
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    c = np.ascontiguousarray(centers)
    c_sq = (c * c).sum(axis=1)

    def assign(vecs):
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
        d2 = c_sq[None, :] - 2.0 * (m @ c.T)
        cell = np.argmin(d2, axis=1)
        if not with_dist:
            return pd.Series(cell.astype(np.int64))
        best = d2[np.arange(len(cell)), cell] + (m * m).sum(axis=1)
        out = np.stack([cell.astype(np.float64),
                        np.maximum(best, 0.0)], axis=1)
        return pd.Series(list(out))

    rtype = "array<double>" if with_dist else "long"
    return pandas_udf(assign, rtype, PandasUDFType.SCALAR)


def _lloyd_step(vecs: DataFrame, vec_col: str, centers):
    """One iteration: map-only partial (cell, sum, count) per Arrow batch,
    tiny driver combine.  Empty cells keep their previous center."""
    import numpy as np

    k, dim = centers.shape
    a = _assign_udf(centers, with_dist=False)
    assigned = vecs.select(a(F.col(vec_col)).alias("__cell"),
                           F.col(vec_col).alias("__v"))

    def partials(batches):
        import pandas as pd
        for pdf in batches:
            m = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            cells = pdf["__cell"].to_numpy()
            present = np.unique(cells)
            sums = [m[cells == c].sum(axis=0) for c in present]
            yield pd.DataFrame({"cell": present.astype(np.int64),
                                "vsum": sums,
                                "n": [int((cells == c).sum())
                                      for c in present]})

    rows = (assigned.mapInPandas(partials,
                                 "cell long, vsum array<double>, n long")
                    .collect())
    sums = np.zeros((k, dim)); counts = np.zeros(k)
    for r in sorted(rows, key=lambda r: r["cell"]):
        sums[r["cell"]] += np.asarray(r["vsum"])
        counts[r["cell"]] += r["n"]
    out = centers.copy()
    nonempty = counts > 0
    out[nonempty] = sums[nonempty] / counts[nonempty, None]
    return out


def kmeans_fit(df: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding", k: int = 8, iters: int = 5,
               seed: int = 42):
    """Fit k-means and return the final ``k × dim`` center matrix
    (NumPy, driver-side — it is closure/broadcast-sized by design)."""
    vecs = df.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("__v"))
    # iterative ML reads its input once per pass — persist across passes
    # (MEMORY_AND_DISK: spills instead of failing when it doesn't fit)
    cache = max(0, iters) > 0
    if cache:
        vecs = vecs.persist()
    try:
        centers = _center_sample(vecs, id_col, "__v", k, seed)
        for _ in range(max(0, iters)):
            centers = _lloyd_step(vecs, "__v", centers)
    finally:
        if cache:
            vecs.unpersist()
    return centers


def kmeans_assign(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding", k: int = 8, iters: int = 5,
                  seed: int = 42, centers=None) -> DataFrame:
    """Cluster an embedding column with k-means; return
    ``(id_col, cluster, dist)`` where ``dist`` is the squared Euclidean
    distance to the final center (rounded to 6 places).  Pass a
    pre-fitted ``centers`` matrix to skip training (e.g. fit on a sample,
    assign the full corpus)."""
    vecs = df.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("__v"))
    if centers is None:
        centers = kmeans_fit(df, id_col, vec_col, k, iters, seed)
    a = _assign_udf(centers, with_dist=True)
    pair = a(F.col("__v"))
    return vecs.select(
        id_col,
        F.element_at(pair, 1).cast("long").alias("cluster"),
        F.round(F.element_at(pair, 2), 6).alias("dist"))


def kmeans_inertia(assigned: DataFrame) -> float:
    """Total within-cluster sum of squares of a `kmeans_assign` result."""
    row = assigned.agg(F.sum("dist").alias("s")).first()
    return float(row["s"] or 0.0)


def _topn_cells_udf(centers, n: int):
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    c = np.ascontiguousarray(centers)
    c_sq = (c * c).sum(axis=1)

    def cells(vecs):
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        d2 = c_sq[None, :] - 2.0 * (m @ c.T)
        out = np.argsort(d2, axis=1)[:, :n]
        return pd.Series(list(out.astype(np.int64)))

    return pandas_udf(cells, "array<long>", PandasUDFType.SCALAR)


def semantic_dedup_pairs(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", k: int = 16,
                         iters: int = 2, threshold: float = 0.95,
                         probes: int = 2, seed: int = 42) -> DataFrame:
    """Near-duplicate pairs (cosine ≥ ``threshold``) via k-means blocking —
    the clustered-data complement to sign-LSH: fit k centers, assign each
    vector to its ``probes`` nearest cells, and compare all pairs WITHIN a
    cell with one normalized GEMM per cell (``applyInPandas`` group).

    Scale posture: candidate volume drops from N² to Σ|cell|²; ``probes``
    > 1 catches boundary pairs (a near-identical pair shares its top cell
    unless it straddles a Voronoi face — each extra probe halves the miss
    surface).  The grouped GEMM sees whole cells, so Arrow moves each
    vector ``probes`` times total — never once per candidate pair (the
    measured anti-pattern of scoring pairs in a UDF after a join).
    Duplicate hits from shared probe cells collapse in a final
    (id_a, id_b) aggregation.
    """
    import numpy as np

    centers = kmeans_fit(df, id_col, vec_col, k, iters, seed)
    vecs = df.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("__v"))
    topn = _topn_cells_udf(centers, max(1, probes))
    cells = vecs.select(id_col, "__v",
                        F.explode(topn(F.col("__v"))).alias("__cell"))

    def cell_pairs(pdf):
        import pandas as pd
        ids = pdf[id_col].to_numpy()
        m = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (m / norms) @ (m / norms).T
        ia, ib = np.where(np.triu(sims >= threshold, 1))
        lo, hi = np.minimum(ids[ia], ids[ib]), np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi,
                             "cosine": sims[ia, ib]})

    # pair schema mirrors the caller's id type (string doc_ids are common
    # in corpora) instead of hardcoding bigint
    id_t = df.schema[id_col].dataType.simpleString()
    out = (cells.groupBy("__cell")
                .applyInPandas(cell_pairs,
                               f"id_a {id_t}, id_b {id_t}, cosine double"))
    return (out.groupBy("id_a", "id_b")
               .agg(F.round(F.max("cosine"), 6).alias("cosine")))


def cluster_coreset(df: DataFrame, per_cluster: int, id_col: str = "vec_id",
                    vec_col: str = "embedding", k: int = 8, iters: int = 2,
                    seed: int = 42) -> DataFrame:
    """Diversity (coreset) sampling: the ``per_cluster`` vectors nearest
    to each k-means center — a spread-out representative subset for
    curriculum seeding, eval-set construction, or annotation budgets.

    Composes :func:`kmeans_assign` with the standard window top-k
    (rank over ``dist`` within each cluster, deterministic tie-break on
    id); the only exchange beyond the fit is the per-cluster window
    partition.  Returns ``(id_col, cluster, dist, rnk)``.
    """
    from pyspark.sql import Window

    assigned = kmeans_assign(df, id_col, vec_col, k=k, iters=iters,
                             seed=seed)
    w = (Window.partitionBy("cluster")
               .orderBy(F.col("dist").asc(), F.col(id_col).asc()))
    return (assigned.withColumn("rnk", F.row_number().over(w))
                    .filter(F.col("rnk") <= per_cluster))


def _centers_sql(cs) -> str:
    """SQL array-of-arrays literal for a center list — double-suffixed
    (``D``) so every element is a DOUBLE, never a decimal."""
    return "array(" + ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
        for c in cs) + ")"


def _d2s_sql(cs, quantize: int, vec: str = "__e"):
    """Rounded per-center squared distances as ONE array column.

    Built as a SQL STRING, not nested Column calls: a k×dim literal
    tree through the Python Column API costs ~0.7 s to BUILD per
    expression (k=8, dim=64) and bloats analysis; one parsed string is
    ~0.01 s and the analyzer sees the identical expression.  Evaluate
    it ONCE per row (``withColumn``) and index into it — re-inlining it
    would double the per-row fold work at corpus scale."""
    from pyspark.sql import functions as F

    return F.expr(
        f"transform({_centers_sql(cs)}, c -> round(aggregate("
        f"zip_with({vec}, c, (a, b) -> (a - b) * (a - b)), "
        f"cast(0.0 as double), (acc, x) -> acc + x), {int(quantize)}))")


# argmin over a materialized __d2s array: array_position returns the
# FIRST occurrence of the min = lowest center index on ties
_ARGMIN_SQL = "cast(array_position(__d2s, array_min(__d2s)) - 1 as int)"

# (d2, center) pairs ordered by rounded distance then center index —
# the struct sort replays the same tie-break as the argmin
_RANKED_SQL = "array_sort(transform(__d2s, (d, i) -> struct(d as d, i as c)))"


# Catalyst size estimate of the cached vector frame under which the
# Lloyd iterations run driver-side on the collected vectors instead of
# one Spark job per iteration — the components._DRIVER_CC_EDGES /
# classifier._DRIVER_GD_ENTRIES size-gated physical choice applied to
# the deterministic k-means trajectory.  The gate reads the plan
# statistic (no extra job); above it the distributed loop is unchanged.
_DRIVER_LLOYD_BYTES = 32 << 20


def _driver_vectors(v, expansion: int = 6):
    """The collected vector matrix when the frame's own size estimate
    is under the driver gate, else None.

    ``expansion`` scales the Catalyst estimate to a DRIVER-memory
    footprint before gating (ADVICE r13): the estimate is
    compressed-file-size based, and the collected Row objects plus the
    float64 matrix are several times larger on the driver (measured:
    parquet-encoded doubles ≈ 2× smaller than raw; Row boxing ≈ 3×
    over the raw array) — the same pattern as util.gated_broadcast."""
    from ..util import estimated_bytes

    if estimated_bytes(v) * max(1, int(expansion)) > _DRIVER_LLOYD_BYTES:
        return None
    import numpy as np

    rows = v.select("__e").collect()
    if not rows:
        return None
    # null or ragged vectors (a corrupt fixture / mixed-width corpus)
    # must fall back to the distributed loop — np.array would raise an
    # inhomogeneous-shape ValueError (or build an object array) where
    # the zip_with path degrades via null propagation (ADVICE r13/r14)
    widths = {None if r["__e"] is None else len(r["__e"]) for r in rows}
    if len(widths) != 1 or None in widths:
        return None
    return np.array([r["__e"] for r in rows], dtype=np.float64)


def _rounded_d2_matrix(x, centers, quantize: int):
    """Rounded squared distances (n × k), value-identical to the SQL
    ``_d2s_sql`` expression: the per-vector fold over dimensions runs
    left-to-right (vectorized across rows, sequential across dims —
    the same float64 op sequence), then SQL ROUND decimal semantics."""
    import numpy as np

    from .classifier import _sql_round_vec

    cm = np.asarray(centers, dtype=np.float64)
    n, d = x.shape
    acc = np.zeros((n, cm.shape[0]), dtype=np.float64)
    for j in range(d):
        diff = x[:, j, None] - cm[None, :, j]
        acc = acc + diff * diff
    return _sql_round_vec(acc.ravel(), quantize).reshape(n, cm.shape[0])


def _driver_lloyd(x, centers, iters: int, quantize: int):
    """The Lloyd iterations of :func:`_verifiable_fit` over collected
    vectors — value-identical trajectory: rounded distances as above,
    first-min (lowest center index) argmin, per-(cell, dim) means
    finished with the same Python ``round`` the distributed loop
    applies to its collected averages.  Mean sums combine in a
    different order than Spark's partial aggregation, exactly as Spark
    already differs from the DuckDB oracle — the 1e-quantize rounding
    absorbs it (the x108 determinism contract)."""
    import numpy as np

    for _ in range(iters):
        d2 = _rounded_d2_matrix(x, centers, quantize)
        cell = np.argmin(d2, axis=1)  # first occurrence = lowest cid
        nxt = [list(c) for c in centers]
        for ci in range(len(centers)):
            members = x[cell == ci]
            if len(members):
                cnt = float(len(members))
                nxt[ci] = [round(float(members[:, j].sum()) / cnt,
                                 quantize)
                           for j in range(x.shape[1])]
        centers = nxt
    return centers


def _verifiable_fit(df: DataFrame, id_col: str, vec_col: str, k: int,
                    iters: int, quantize: int):
    """Shared deterministic-trajectory Lloyd fit (see
    :func:`kmeans_verifiable`): returns ``(v, centers, d2s_expr)``
    where ``v`` is the cached ``(__id, __e)`` frame, ``centers`` the
    final quantized centers, and ``d2s_expr(cs)`` the rounded
    per-center squared-distance ARRAY column (combine with
    ``_ARGMIN_SQL`` / ``_RANKED_SQL`` over a ``__d2s`` withColumn)."""
    from pyspark.sql import functions as F

    from ..util import retain_cache

    v = retain_cache(
        df.select(F.col(id_col).alias("__id"),
                  F.col(vec_col).cast("array<double>").alias("__e"))
          .filter(F.col("__e").isNotNull()))
    init = v.orderBy("__id").limit(k).collect()
    centers = [list(r["__e"]) for r in init]

    def d2s_expr(cs):
        return _d2s_sql(cs, quantize)

    x = _driver_vectors(v) if iters > 0 and centers else None
    if x is not None:
        return v, _driver_lloyd(x, centers, iters, quantize), d2s_expr

    for _ in range(iters):
        upd = (v.withColumn("__d2s", d2s_expr(centers))
                .withColumn("__c", F.expr(_ARGMIN_SQL))
                .select("__c", F.posexplode("__e").alias("__p", "__x"))
                .groupBy("__c", "__p").agg(F.avg("__x").alias("__m"))
                .collect())
        nxt = [list(c) for c in centers]
        for r in upd:
            nxt[r["__c"]][r["__p"]] = round(r["__m"], quantize)
        centers = nxt
    return v, centers, d2s_expr


def cluster_coreset_verifiable(df: DataFrame, per_cluster: int,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               k: int = 8, iters: int = 2,
                               quantize: int = 6) -> DataFrame:
    """:func:`cluster_coreset` on the deterministic-trajectory fit: the
    ``per_cluster`` vectors nearest each final center, distance and
    ranking fully replayable by an external engine (rounded dist²,
    ties by id) — promotes coreset sampling from rows-only to
    hash-verified (the x108 discipline).  Returns
    ``(id_col, cluster, d2, rnk)``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    v, centers, d2s_expr = _verifiable_fit(df, id_col, vec_col, k,
                                           iters, quantize)
    best = F.expr(_RANKED_SQL + "[0]")
    w = (Window.partitionBy("cluster")
               .orderBy(F.col("d2").asc(), F.col(id_col).asc()))
    return (v.withColumn("__d2s", d2s_expr(centers))
             .withColumn("__best", best)
             .select(F.col("__id").alias(id_col),
                     F.col("__best.c").alias("cluster"),
                     F.col("__best.d").alias("d2"))
             .withColumn("rnk", F.row_number().over(w))
             .filter(F.col("rnk") <= per_cluster))


def semantic_dedup_pairs_verifiable(df: DataFrame,
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding",
                                    k: int = 8, iters: int = 2,
                                    threshold: float = 0.45,
                                    probes: int = 2,
                                    quantize: int = 6) -> DataFrame:
    """:func:`semantic_dedup_pairs` on the deterministic-trajectory
    fit, all-Catalyst: each vector lands in its ``probes`` nearest
    cells (rounded dist², center-index tie-break), candidate pairs
    share a cell, and the cosine is the exact sequential-fold
    expression an external engine reproduces bit-for-bit (zip-multiply,
    left-to-right sum, sqrt norms, ROUND 6) — so even the threshold
    comparison replays identically.  The GEMM variant
    (:func:`semantic_dedup_pairs`) stays as the throughput twin.
    Returns ``(id_a, id_b, cosine)``."""
    v, centers, d2s_expr = _verifiable_fit(df, id_col, vec_col, k,
                                           iters, quantize)
    return _verifiable_pairs(v, centers, d2s_expr, threshold, probes,
                             quantize)


def _verifiable_pairs(v, centers, d2s_expr, threshold: float,
                      probes: int, quantize: int) -> DataFrame:
    """Candidate-pair + cosine stage of
    :func:`semantic_dedup_pairs_verifiable` over an already-computed
    fit — shared with :func:`semdedup` so the action operator pays for
    ONE deterministic Lloyd trajectory, not two."""
    from pyspark.sql import functions as F

    v = v.withColumn("__d2s", d2s_expr(centers))
    topn = F.expr(f"slice({_RANKED_SQL}, 1, {max(1, probes)})")
    # the norm is a per-VECTOR quantity — fold it once here (2 rows per
    # vector after the probe explode) instead of twice per candidate
    # pair; the arithmetic an external replayer sees is unchanged
    # (sqrt of the same left-to-right e*e fold)
    norm = F.sqrt(F.aggregate(F.zip_with("__e", "__e",
                                         lambda x, y: x * y),
                              F.lit(0.0), lambda acc, x: acc + x))
    cells = (v.select("__id", "__e",
                      F.explode(topn).alias("__pc"))
              .select("__id", "__e", norm.alias("__n"),
                      F.col("__pc.c").alias("__cell")))
    a = cells.select(F.col("__cell"), F.col("__id").alias("id_a"),
                     F.col("__e").alias("__ea"), F.col("__n").alias("__na"))
    b = cells.select(F.col("__cell"), F.col("__id").alias("id_b"),
                     F.col("__e").alias("__eb"), F.col("__n").alias("__nb"))
    cand = (a.join(b, "__cell")
             .filter(F.col("id_a") < F.col("id_b")))
    dot = F.aggregate(F.zip_with("__ea", "__eb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = F.round(dot / (F.col("__na") * F.col("__nb")), quantize)
    # cosine is deterministic, so dup pairs (sharing BOTH probe cells)
    # carry equal values — compute first, then dedup the NARROW
    # (id, id, cosine) rows so the exchange never carries the vectors
    return (cand.select("id_a", "id_b", cos.alias("cosine"))
                .filter(F.col("cosine") >= threshold)
                .dropDuplicates(["id_a", "id_b"]))


def semdedup(df: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", k: int = 8, iters: int = 2,
             threshold: float = 0.45, probes: int = 2,
             quantize: int = 6) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as a verifiable ACTION: cluster
    the embeddings, form semantic-duplicate GROUPS from the
    within-cell cosine-threshold pairs, and in every group KEEP
    exactly one member — the paper's rule: the vector FARTHEST from
    its cluster centroid survives (it anchors the group's diversity;
    ties break by id ascending).  Everything is the deterministic
    trajectory of :func:`kmeans_verifiable`, so the grouping, the
    keep choice and every distance replay bit-for-bit in an external
    engine.

    Returns one row per vector: ``(id_col, cluster, d2, group_id,
    keep)`` — ``cluster`` / ``d2`` the rank-1 assignment and its
    rounded squared distance, ``group_id`` the duplicate group
    (minimum member id; singletons group with themselves, always
    kept).  :func:`semdedup_prune` applies the verdict.

    Scale posture: ONE Lloyd fit feeds both the pair stage and the
    keep rule (shared ``_verifiable_fit``); candidate volume is
    Σ|cell|² via the ``probes``-cell blocking, never N²; components
    run log-diameter rounds over dup edges only; the keep window
    partitions by GROUP (dup-group-sized, bounded by the threshold's
    selectivity — never a corpus-wide window)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .components import dup_clusters

    v, centers, d2s_expr = _verifiable_fit(df, id_col, vec_col, k,
                                           iters, quantize)
    pairs = _verifiable_pairs(v, centers, d2s_expr, threshold, probes,
                              quantize)
    comp = dup_clusters(pairs.select("id_a", "id_b"))
    best = F.expr(_RANKED_SQL + "[0]")
    assigned = (v.withColumn("__d2s", d2s_expr(centers))
                 .withColumn("__best", best)
                 .select(F.col("__id").alias(id_col),
                         F.col("__best.c").alias("cluster"),
                         F.col("__best.d").alias("d2")))
    lab = (assigned.join(comp.withColumnRenamed("node", id_col),
                         id_col, "left")
                   .withColumn("group_id",
                               F.coalesce("component", F.col(id_col)))
                   .drop("component"))
    w = (Window.partitionBy("group_id")
               .orderBy(F.col("d2").desc(), F.col(id_col).asc()))
    return (lab.withColumn("keep", F.row_number().over(w) == 1)
               .select(id_col, "cluster", "d2", "group_id", "keep"))


def semdedup_prune(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 8,
                   iters: int = 2, threshold: float = 0.45,
                   probes: int = 2, quantize: int = 6) -> DataFrame:
    """Apply :func:`semdedup`'s verdict: the input rows whose vector
    survives semantic dedup (semi join on the keep set — every input
    column rides through untouched)."""
    keep = (semdedup(df, id_col, vec_col, k, iters, threshold, probes,
                     quantize)
            .filter(F.col("keep")).select(id_col))
    return df.join(keep, id_col, "semi")


def kmeans_verifiable(df: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      k: int = 4, iters: int = 3,
                      quantize: int = 6) -> DataFrame:
    """Lloyd's k-means spelled so the ENTIRE trajectory is a pure
    function of the data — every step reproducible bit-for-bit in any
    engine, which makes even an iterative clustering hash-verifiable
    (the x83 PageRank discipline applied to k-means):

    - init = the first ``k`` vectors by ``id_col`` (no sampling, no RNG);
    - squared distances are ROUNDED to ``quantize`` decimals before the
      argmin, ties broken by lowest center index — float noise between a
      GEMM, an elementwise fold, or another engine's evaluation order
      (≪ the rounding step) can never flip an assignment;
    - each Lloyd update rounds the new centers to ``quantize`` decimals,
      so summation-order noise cannot COMPOUND across iterations.

    Plan: assignment is a map-side expression over ``k`` broadcast
    center literals (no shuffle, no UDF); the update is the
    posexplode → groupBy(center, dim) partial-sum used by
    ``centroid_cosines`` (k × dim rows shuffle per task); the driver
    holds only k × dim center floats per iteration.  For raw
    throughput the Arrow/NumPy path (:func:`kmeans_fit`) is the fast
    twin; this one is the auditable twin.

    Returns ``(id_col, cluster)``.  An empty cluster keeps its previous
    center (no members → no update rows for it).
    """
    from pyspark.sql import functions as F

    v, centers, d2s_expr = _verifiable_fit(df, id_col, vec_col, k,
                                           iters, quantize)
    return (v.withColumn("__d2s", d2s_expr(centers))
             .select(F.col("__id").alias(id_col),
                     F.expr(_ARGMIN_SQL).alias("cluster")))
