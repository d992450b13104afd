"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_top_k` — exact brute force: broadcast the (small) query set
  against the corpus, cosine via JVM-side array expressions
  (``zip_with`` + ``aggregate``), per-query top-k via a ranking window.
  At 100 TB corpus / small query set this is a single broadcast-nested-loop
  map stage + one shuffle on query_id for the top-k — the right baseline.
- :func:`lsh_cosine_top_k` — sign-LSH (random hyperplane) bucketing: corpus
  and queries hash to buckets map-side; the join happens per (bucket) with
  multi-probe on query side; approximate recall, sub-linear scanned volume.

Hyperplanes are deterministic (seeded) driver-side constants embedded as
array literals — tiny (planes × dim doubles) and broadcast with the plan.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _dot_expr(a, b):
    """Dot product of two array<double> columns, JVM-side."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _normalize_col(v):
    """Unit-normalize an array<double> column (map-side, once per vector).

    An all-zero vector has no direction: dividing by its zero norm would
    produce NaN, and NaN sorts ABOVE every number in Spark's descending
    orderings — a zero vector would rank as everyone's top neighbor and
    pass `cosine >= threshold` filters.  Return NULL instead: downstream
    dot products go NULL, NULLS LAST in rankings, and threshold filters
    drop them — same net behavior as the NumPy paths, which guard zero
    norms explicitly.

    The guard predicate is `exists(x != 0)` — an O(dim) comparison scan —
    NOT `norm > 0`: guarding on the norm would embed the multiply-add
    aggregate a second time and double the per-vector cost (measured ~2×
    on the IVF/LSH paths).
    """
    # The norm must NOT sit inside the per-element lambda: higher-order
    # lambdas are interpreted (no codegen), so an embedded aggregate is
    # re-evaluated per element — O(dim²) multiply-adds per vector
    # (measured 2× on the corpus branch at dim=64).  array_repeat
    # evaluates its argument ONCE, so zip_with against the repeated
    # norm is O(dim) with bit-identical per-element divisions.
    norm = F.sqrt(_dot_expr(v, v))
    return F.when(_nonzero_vec(v),
                  F.zip_with(v, F.array_repeat(norm, F.size(v)),
                             lambda x, n: x / n))


def _nonzero_vec(v):
    """Cheap predicate: vector is non-NULL with at least one non-zero
    element (i.e. it has a direction and a finite unit-normalization).
    Used to pre-filter RAW vectors before the normalize projection so the
    expensive normalize expression is never evaluated twice per row (once
    in a null-check filter, once in the projection)."""
    return F.exists(v, lambda x: x != 0)


def block_allpairs_cosine(sel: DataFrame, threshold: float,
                          blocks: int = 8) -> DataFrame:
    """All-pairs cosine ≥ threshold via block-partitioned matrix multiply.

    Input ``sel`` has columns ``(__id, __v array<double>)`` — ``__id`` may
    be any orderable type (bigint, string doc ids, ...); the output schema
    ``(id_a, id_b, cosine)`` with ``id_a < id_b`` mirrors it.

    This is the scale-correct brute force: vectors are hashed into
    ``blocks`` buckets, every unordered bucket pair becomes ONE group, and
    each group scores its pair with a single BLAS GEMM inside
    ``applyInPandas`` — N²·dim flops at matrix-multiply speed instead of
    per-element interpreted array lambdas (measured ~5× faster at 2k×64) or
    a pandas UDF over an exploded pair join (Arrow would serialize every
    PAIR; here each vector ships only ``blocks`` times).  ``blocks`` sets
    the shuffle blow-up (input × blocks) and the group memory footprint
    (two buckets of vectors) — at 100 TB pick blocks so a bucket fits an
    executor, and prefer the LSH path when the threshold is high.
    """
    import numpy as np
    import pandas as pd

    B = int(blocks)
    rep = (sel.withColumn("__blk", F.pmod(F.hash("__id"), F.lit(B)))
              .withColumn("__j", F.explode(F.array(*[F.lit(j)
                                                     for j in range(B)])))
              .withColumn("__grp",
                          F.least("__blk", "__j") * B
                          + F.greatest("__blk", "__j"))
              .select("__id", "__v", "__blk", "__grp"))

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = int(pdf["__grp"].iloc[0])
        i, j = divmod(grp, B)
        ids = pdf["__id"].to_numpy()
        m = np.vstack(pdf["__v"].to_numpy())
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        if i == j:
            s = m @ m.T
            r, c = np.nonzero(s >= threshold)
            keep = ids[r] < ids[c]
            return pd.DataFrame({"id_a": ids[r][keep], "id_b": ids[c][keep],
                                 "cosine": s[r, c][keep]})
        am = pdf["__blk"].to_numpy() == i
        ia, ib = ids[am], ids[~am]
        s = m[am] @ m[~am].T
        r, c = np.nonzero(s >= threshold)
        lo = np.minimum(ia[r], ib[c])
        hi = np.maximum(ia[r], ib[c])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": s[r, c]})

    # pair schema mirrors the caller's id type (string doc_ids are common
    # in corpora) instead of hardcoding bigint
    id_t = sel.schema["__id"].dataType.simpleString()
    return rep.groupBy("__grp").applyInPandas(
        score, f"id_a {id_t}, id_b {id_t}, cosine double")


def _planes(dim: int, planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def _signature_col(vec_col: str, dim: int, planes: int, seed: int):
    """Sign-LSH bucket id (bigint) for a vector column: bit i = sign of the
    dot product with deterministic random hyperplane i."""
    plane_lits = [F.array(*[F.lit(w) for w in p])
                  for p in _planes(dim, planes, seed)]
    bits = [
        F.when(
            F.aggregate(F.zip_with(F.col(vec_col), p, lambda x, y: x * y),
                        F.lit(0.0), lambda acc, v: acc + v) >= 0,
            F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        for i, p in enumerate(plane_lits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def _all_signatures_udf(dim: int, planes: int, tables: int, seed: int):
    """Pandas UDF: vector → array of ``tables`` bucket ids, all tables in ONE
    NumPy matmul per Arrow batch.

    Spark's higher-order array lambdas (``aggregate``/``zip_with``) are
    interpreted per element, so tables×planes JVM-side dot products cost
    ~100× more than one (batch × dim) @ (dim × tables·planes) BLAS call.
    Hyperplanes are identical to :func:`_signature_col` (same seed schedule:
    table t uses ``seed + 7919·t``), so the two paths give identical buckets.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.functions import PandasUDFType

    mats = [np.array(_planes(dim, planes, seed + 7919 * t)).T  # dim×planes
            for t in range(tables)]
    w = np.concatenate(mats, axis=1)  # dim × (tables·planes)
    powers = (1 << np.arange(planes)).astype(np.int64)

    def sig(vecs):
        m = np.vstack(vecs.to_numpy())          # batch × dim
        proj = m @ w                            # batch × tables·planes
        bits = (proj >= 0).reshape(len(m), tables, planes)
        buckets = (bits * powers).sum(axis=2)   # batch × tables
        return pd.Series(list(buckets))

    # explicit SCALAR type: `from __future__ import annotations` makes type
    # hints strings, which pandas_udf's hint inference can't resolve
    return pandas_udf(sig, "array<long>", PandasUDFType.SCALAR)


def cosine_top_k(queries: DataFrame, corpus: DataFrame, k: int,
                 query_id: str = "vec_id", query_vec: str = "embedding",
                 corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                 round_to: int | None = None) -> DataFrame:
    """Exact top-k corpus neighbors per query by cosine similarity.

    Returns ``(query_id, neighbor_id, cosine, rnk)``.  ``round_to`` rounds
    the similarity BEFORE ranking (cross-engine determinism: float sums in
    different orders differ at ~1e-16, so rank on the rounded value with the
    neighbor id as tiebreak).
    """
    # unit-normalize ONCE per vector map-side; the quadratic stage is then a
    # single dot product per pair instead of three aggregates
    q = (queries.filter(_nonzero_vec(F.col(query_vec)))
         .select(F.col(query_id).alias("query_id"),
                 _normalize_col(F.col(query_vec).cast("array<double>"))
                 .alias("__qv")))
    c = (corpus.filter(_nonzero_vec(F.col(corpus_vec)))
         .select(F.col(corpus_id).alias("neighbor_id"),
                 _normalize_col(F.col(corpus_vec).cast("array<double>"))
                 .alias("__cv")))
    cos = _dot_expr(F.col("__qv"), F.col("__cv"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (F.broadcast(q).crossJoin(c)
              .select("query_id", "neighbor_id", cos.alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k))


def ivf_cosine_top_k(queries: DataFrame, corpus: DataFrame, k: int,
                     query_id: str = "vec_id", query_vec: str = "embedding",
                     corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                     centroids: int = 32, nprobe: int = 4,
                     refine_iters: int = 1, seed: int = 42) -> DataFrame:
    """Approximate top-k via an IVF-style coarse quantizer.

    Corpus vectors are assigned to their nearest of ``centroids`` coarse
    centers; each query scores only the vectors in its ``nprobe`` nearest
    cells (~nprobe/centroids of the corpus).  Centers start as a
    deterministic hash-ordered sample of the corpus (so results are
    partition-count independent) and are optionally refined with
    ``refine_iters`` Lloyd steps (assign → mean per cell), each one
    map-reduce pass.

    Scale posture: the centroid matrix (centroids × dim) lives in the UDF
    closure — broadcast with the plan, never shuffled; assignment is one
    batched matmul per Arrow batch; the probe join shuffles only
    (id, cell) pairs plus the final candidate scoring.  Complements
    :func:`lsh_cosine_top_k` — IVF adapts to clustered data, sign-LSH is
    data-independent.
    """
    c_vec = (corpus.filter(_nonzero_vec(F.col(corpus_vec)))
             .select(F.col(corpus_id).alias("neighbor_id"),
                     _normalize_col(F.col(corpus_vec).cast("array<double>"))
                     .alias("__cv")))
    centers = _fit_ivf_centers(c_vec, centroids, refine_iters, seed)
    a1 = _ivf_assign_udf(centers, 1)
    c_cells = c_vec.select("neighbor_id",
                           F.element_at(a1("__cv"), 1).alias("__cell"))
    q_vec = (queries.filter(_nonzero_vec(F.col(query_vec)))
             .select(F.col(query_id).alias("query_id"),
                     _normalize_col(F.col(query_vec).cast("array<double>"))
                     .alias("__qv")))
    return _ivf_probe_and_score(q_vec, c_cells, c_vec, centers, k, nprobe)


def _fit_ivf_centers(c_vec: DataFrame, centroids: int, refine_iters: int,
                     seed: int):
    """Fit the IVF coarse quantizer over ``(neighbor_id, __cv)`` rows.

    Deterministic seeding: the ``centroids`` corpus vectors with the
    smallest ``xxhash64(id)`` — a uniform pseudo-random sample
    independent of partitioning.  A hash-residue pre-filter (~1/64 of
    the corpus) keeps the sort tiny; if the corpus is too small for the
    filter to yield enough rows, fall back to sorting everything.  Then
    ``refine_iters`` Lloyd steps (assign → mean per cell), each ONE
    map-reduce pass shuffling one row per corpus vector.
    """
    import numpy as np
    import pandas as pd

    hashed = c_vec.withColumn("__h", F.xxhash64(F.col("neighbor_id"),
                                                F.lit(seed)))
    sample = (hashed.filter(F.pmod(F.col("__h"), F.lit(64)) == 0)
                    .orderBy("__h").limit(centroids)
                    .select("__cv").collect())
    if len(sample) < centroids:
        sample = (hashed.orderBy("__h").limit(centroids)
                        .select("__cv").collect())
    centers = np.vstack([np.array(r["__cv"]) for r in sample])
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def cell_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.vstack(pdf["__cv"].to_numpy())
        return pd.DataFrame({"__cell": [int(pdf["__cell"].iloc[0])],
                             "mean": [m.mean(axis=0)]})

    for _ in range(max(0, refine_iters)):
        a1 = _ivf_assign_udf(centers, 1)
        means = (c_vec
                 .select(F.element_at(a1("__cv"), 1).alias("__cell"), "__cv")
                 .groupBy("__cell")
                 .applyInPandas(cell_mean, "__cell long, mean array<double>")
                 .collect())
        for r in means:
            centers[int(r["__cell"])] = np.array(r["mean"])
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    return centers


def _ivf_assign_udf(cents, top: int):
    """Pandas UDF: normalized vector → its ``top`` nearest centroid ids
    (one batched matmul per Arrow batch; centers live in the closure —
    broadcast with the plan, never shuffled)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def assign(vecs):
        m = np.vstack(vecs.to_numpy())
        sims = m @ cents.T
        if top == 1:
            out = np.argmax(sims, axis=1)[:, None]
        else:
            out = np.argsort(-sims, axis=1)[:, :top]
        return pd.Series(list(out.astype(np.int64)))
    return pandas_udf(assign, "array<long>", PandasUDFType.SCALAR)


def _ivf_probe_and_score(q_vec: DataFrame, c_cells: DataFrame,
                         c_vec: DataFrame, centers, k: int,
                         nprobe: int) -> DataFrame:
    """Shared IVF query stage: probe each query's ``nprobe`` nearest
    cells, exact-score the candidates, rank.  Used by the refit-per-call
    path (:func:`ivf_cosine_top_k`) and the persistent-index path
    (:func:`ivf_index_query`) so the two are plan-identical."""
    ap = _ivf_assign_udf(centers, max(1, nprobe))
    q_cells = q_vec.select("query_id", F.explode(ap("__qv")).alias("__cell"))

    cand = (F.broadcast(q_cells).join(c_cells, "__cell")
            .select("query_id", "neighbor_id").distinct())
    cos = _dot_expr(F.col("__qv"), F.col("__cv"))
    scored = (cand.join(F.broadcast(q_vec), "query_id")
                  .join(c_vec, "neighbor_id")
                  .select("query_id", "neighbor_id",
                          F.round(cos, 6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k))


# ---------------------------------------------------------------------------
# persistent IVF index: fit once, serve forever, append daily deltas

def ivf_index_build(corpus: DataFrame, index_path: str,
                    corpus_id: str = "vec_id",
                    corpus_vec: str = "embedding",
                    centroids: int = 32, refine_iters: int = 1,
                    seed: int = 42) -> dict:
    """Fit the IVF quantizer ONCE and persist it as two parquet tables
    under ``index_path``: ``centroids/`` (cell, center) and
    ``vectors/`` (neighbor_id, cell, vec — normalized, i.e. IVF-Flat
    with stored vectors, so serving never rereads the raw corpus).

    :func:`ivf_cosine_top_k` refits the quantizer on every call — fine
    for one-shot analytics, wasteful for a serving corpus queried daily.
    This split gives the index the same daily-ingest posture as
    incremental dedup (x109): build once, ``ivf_index_add`` appends new
    vectors assign-only (no refit, centers stay frozen so existing
    assignments stay valid), ``ivf_index_query`` serves refit-free.

    Returns ``{"vectors": n, "centroids": n}``.
    """
    spark = corpus.sparkSession
    c_vec = (corpus.filter(_nonzero_vec(F.col(corpus_vec)))
             .select(F.col(corpus_id).alias("neighbor_id"),
                     _normalize_col(F.col(corpus_vec).cast("array<double>"))
                     .alias("__cv")))
    centers = _fit_ivf_centers(c_vec, centroids, refine_iters, seed)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(len(centers))],
        "cell long, center array<double>")
    cdf.coalesce(1).write.mode("overwrite").parquet(
        f"{index_path}/centroids")
    a1 = _ivf_assign_udf(centers, 1)
    vecs = c_vec.select("neighbor_id",
                        F.element_at(a1("__cv"), 1).alias("cell"),
                        F.col("__cv").alias("vec"))
    vecs.write.mode("overwrite").parquet(f"{index_path}/vectors")
    n = spark.read.parquet(f"{index_path}/vectors").count()
    return {"vectors": int(n), "centroids": int(len(centers))}


def _ivf_load_centers(spark, index_path: str):
    import numpy as np

    rows = (spark.read.parquet(f"{index_path}/centroids")
            .orderBy("cell").collect())
    return np.vstack([np.array(r["center"]) for r in rows])


def ivf_index_add(delta: DataFrame, index_path: str,
                  corpus_id: str = "vec_id",
                  corpus_vec: str = "embedding") -> int:
    """Append new vectors to a built index, ASSIGN-ONLY: each delta
    vector is quantized against the FROZEN saved centers and appended to
    ``vectors/`` — one map-only pass over the delta, the existing corpus
    is never touched (the x109 delta discipline).  Centers drifting from
    the data over many adds degrades recall gracefully; rebuild on the
    corpus-refresh cadence.  Returns the number of vectors appended.
    """
    spark = delta.sparkSession
    centers = _ivf_load_centers(spark, index_path)
    d_vec = (delta.filter(_nonzero_vec(F.col(corpus_vec)))
             .select(F.col(corpus_id).alias("neighbor_id"),
                     _normalize_col(F.col(corpus_vec).cast("array<double>"))
                     .alias("__cv")))
    a1 = _ivf_assign_udf(centers, 1)
    out = d_vec.select("neighbor_id",
                       F.element_at(a1("__cv"), 1).alias("cell"),
                       F.col("__cv").alias("vec"))
    n = out.count()
    out.write.mode("append").parquet(f"{index_path}/vectors")
    return int(n)


def ivf_index_query(queries: DataFrame, index_path: str, k: int,
                    query_id: str = "vec_id",
                    query_vec: str = "embedding",
                    nprobe: int = 4) -> DataFrame:
    """Serve top-k from a persisted index — NO quantizer refit, no raw
    corpus scan: centers load from ``centroids/`` (a driver-side
    centroids × dim matrix, broadcast in the assign UDF closure) and
    candidates come from the ``vectors/`` parquet, cell-pruned by the
    probe join.  Plan-identical to :func:`ivf_cosine_top_k`'s query
    stage (shared :func:`_ivf_probe_and_score`), so a freshly built
    index answers exactly what the refit path answers."""
    spark = queries.sparkSession
    centers = _ivf_load_centers(spark, index_path)
    stored = spark.read.parquet(f"{index_path}/vectors")
    c_cells = stored.select("neighbor_id", F.col("cell").alias("__cell"))
    c_vec = stored.select("neighbor_id", F.col("vec").alias("__cv"))
    q_vec = (queries.filter(_nonzero_vec(F.col(query_vec)))
             .select(F.col(query_id).alias("query_id"),
                     _normalize_col(F.col(query_vec).cast("array<double>"))
                     .alias("__qv")))
    return _ivf_probe_and_score(q_vec, c_cells, c_vec, centers, k, nprobe)


def lsh_cosine_top_k(queries: DataFrame, corpus: DataFrame, k: int,
                     query_id: str = "vec_id", query_vec: str = "embedding",
                     corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                     planes: int = 4, tables: int = 8, seed: int = 42,
                     multiprobe: int = 0) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH (random hyperplanes).

    ``tables`` independent hash tables of ``planes`` bits each; a corpus
    vector is a candidate for a query iff they share a bucket in ANY table
    (recall ≈ 1-(1-p^planes)^tables for per-bit agreement probability p).
    ``multiprobe`` > 0 additionally probes, per table, the buckets at hamming
    distance 1 on the first ``multiprobe`` bits (query side only).

    Scale posture: the corpus is bucketed map-side (tables × (id, bucket)
    rows after the explode — vectors are joined back by id AFTER candidate
    dedup, so the L-fold blow-up carries only 16-byte keys, not embeddings);
    each query scores ~tables·(1+multiprobe)/2^planes of the corpus instead
    of all of it.  The scoring join broadcasts the (small) query set.
    """
    dim_row = corpus.select(F.size(F.col(corpus_vec)).alias("d")).first()
    dim = int(dim_row["d"])
    sig = _all_signatures_udf(dim, planes, tables, seed)

    c_vec = (corpus.filter(_nonzero_vec(F.col(corpus_vec)))
             .select(F.col(corpus_id).alias("neighbor_id"),
                     _normalize_col(F.col(corpus_vec).cast("array<double>"))
                     .alias("__cv")))
    c_buckets = c_vec.select(
        "neighbor_id", F.posexplode(sig("__cv")).alias("__t", "__b"))

    q_vec = (queries.filter(_nonzero_vec(F.col(query_vec)))
             .select(F.col(query_id).alias("query_id"),
                     _normalize_col(F.col(query_vec).cast("array<double>"))
                     .alias("__qv")))
    probes = [F.col("__b")] + [
        F.col("__b").bitwiseXOR(F.lit(1 << i).cast("long"))
        for i in range(max(0, multiprobe))
    ]
    q_buckets = (q_vec
                 .select("query_id", F.posexplode(sig("__qv"))
                         .alias("__t", "__b"))
                 .select("query_id", "__t",
                         F.explode(F.array(*probes)).alias("__b")))

    # candidate pairs: bucket-join on (table, bucket), dedup, then join the
    # vectors back by id so heavy arrays never ride through the explode
    cand = (F.broadcast(q_buckets).join(c_buckets, ["__t", "__b"])
            .select("query_id", "neighbor_id")
            .dropDuplicates(["query_id", "neighbor_id"]))
    cos = _dot_expr(F.col("__qv"), F.col("__cv"))
    scored = (cand.join(F.broadcast(q_vec), "query_id")
                  .join(c_vec, "neighbor_id")
                  .select("query_id", "neighbor_id",
                          F.round(cos, 6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k))


def centroid_cosines(df: DataFrame, id_col: str, vec_col: str,
                     group_col: str,
                     round_centroid: int | None = 6) -> DataFrame:
    """Cosine of every vector to its GROUP centroid — the per-cluster
    coherence / outlier signal (a mislabeled or off-topic embedding sits
    far from its label's mean direction).  Complements the pairwise
    near-dup family: one score per row, no pair generation at all.

    Plan: vectors are unit-normalized map-side, then the centroid is an
    elementwise mean via ``posexplode`` → ``groupBy(group, position)``
    (partial-aggregated; the shuffle carries ``groups × dim`` partial
    sums per task, never vectors), reassembled into ``groups`` rows and
    broadcast back for a single deterministic per-row dot product.
    ``round_centroid`` quantizes the centroid components (default 1e-6)
    so the cross-row float-summation order — which neither Spark nor any
    other engine pins — cannot leak into downstream comparisons: the
    score becomes a pure function of the data, reproducible anywhere.
    Rows with zero/NULL vectors are dropped (no direction → no cosine).
    """
    from ..util import retain_cache

    # materialize the normalized vectors ONCE: without the cache boundary
    # codegen inlines the whole normalize (an O(dim) aggregate) into the
    # generator below and re-evaluates it per exploded ELEMENT — O(dim²)
    # per row (measured 2 s → 0.2 s on the 2k×64 fixture); both the
    # centroid branch and the final join read nv
    nv = retain_cache(
        df.filter(_nonzero_vec(F.col(vec_col)))
          .select(F.col(id_col).alias("__id"),
                  F.col(group_col).alias("__g"),
                  _normalize_col(F.col(vec_col).cast("array<double>"))
                  .alias("__u")))
    pos = nv.select("__g", F.posexplode("__u").alias("__p", "__x"))
    comp = pos.groupBy("__g", "__p").agg(F.avg("__x").alias("__c"))
    if round_centroid is not None:
        comp = comp.withColumn("__c", F.round("__c", round_centroid))
    cent = (comp.groupBy("__g")
                .agg(F.array_sort(F.collect_list(F.struct("__p", "__c")))
                      .alias("__pc"))
                .select("__g", F.transform("__pc", lambda s: s["__c"])
                               .alias("__cv")))
    dot = F.aggregate(F.zip_with("__u", "__cv", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    cn = F.sqrt(F.aggregate(F.transform("__cv", lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return (nv.join(F.broadcast(cent), "__g")
              .select(F.col("__id").alias(id_col),
                      F.col("__g").alias(group_col),
                      (dot / cn).alias("cos_centroid")))


# ---------------------------------------------------------------------------
# covariance structure of an embedding column

def embedding_covariance(df: DataFrame, vec_col: str = "embedding",
                         round_to: int | None = 6) -> DataFrame:
    """Population covariance matrix of an embedding column, as
    ``(i, j, cov)`` rows for the upper triangle (1-based dims, i ≤ j) —
    the decorrelation / anisotropy audit run before PCA-whitening,
    dimension pruning, or product quantization of a vector corpus.

    Scale shape: each Arrow batch reduces to ONE partial ``(n, Σx, Σxxᵀ)``
    Gram row inside `mapInPandas` (a d×d float matrix — NumPy BLAS, no
    per-element lambdas), so the full fact contributes #batches rows
    total; the partials collect to the driver (partition-count-bounded,
    the k-means-centers discipline) and the d² combine is trivial local
    arithmetic.  Vectors are never shuffled, nothing is quadratic in
    rows.  ``cov = Σxxᵀ/n − μμᵀ`` matches SQL ``covar_pop`` exactly, so
    the result is externally re-derivable (x154's oracle).

    Dirty input (null vectors, null elements, ragged lengths) is
    DROPPED, not fatal: partials accumulate per distinct length and the
    driver combine keeps the dominant dimensionality by row count, so
    one corrupt row can't crash a corpus-wide audit and the choice is
    deterministic across partitionings (round-7 advice fix).
    """
    import numpy as np
    import pandas as pd

    def partials(it):
        for pdf in it:
            if not len(pdf):
                continue
            # drop null / element-null vectors; group the rest by length
            # (np.array over mixed lengths builds an object array that
            # fails in m.T @ m) — one partial per distinct length, the
            # dominant one wins deterministically at combine time
            by_len: dict[int, list] = {}
            for v in pdf[vec_col]:
                if v is None:
                    continue
                try:        # null elements arrive as None or NaN
                    arr = np.asarray(list(v), dtype="float64")
                except (TypeError, ValueError):
                    continue
                if np.isnan(arr).any():
                    continue
                by_len.setdefault(arr.shape[0], []).append(arr)
            for vecs in by_len.values():
                m = np.array(vecs, dtype="float64")
                yield pd.DataFrame({
                    "n": [int(m.shape[0])],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).reshape(-1).tolist()],
                })

    rows = (df.filter(F.col(vec_col).isNotNull())
              .select(F.col(vec_col).cast("array<double>").alias(vec_col))
              .mapInPandas(partials,
                           schema="n long, s array<double>, g array<double>")
              .collect())
    spark = df.sparkSession
    if not rows:
        return spark.createDataFrame([], "i int, j int, cov double")
    # dominant dimensionality by total row count (ties → larger dim)
    counts: dict[int, int] = {}
    for r in rows:
        counts[len(r["s"])] = counts.get(len(r["s"]), 0) + r["n"]
    dim = max(counts, key=lambda k: (counts[k], k))
    rows = [r for r in rows if len(r["s"]) == dim]
    n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    g = np.sum([np.array(r["g"]) for r in rows], axis=0)
    d = s.shape[0]
    mu = s / n
    cov = g.reshape(d, d) / n - np.outer(mu, mu)
    out = [(i + 1, j + 1,
            round(float(cov[i, j]), round_to) if round_to is not None
            else float(cov[i, j]))
           for i in range(d) for j in range(i, d)]
    return spark.createDataFrame(out, "i int, j int, cov double")


def _cov_matrix(cells) -> tuple[list, int, float]:
    """Collected covariance cells (upper triangle, rounded) → sparse
    row adjacency ``row_cells[i] = [(j, cov)]``, dimension, trace."""
    d = max(r["j"] for r in cells)
    row_cells: list[list[tuple[int, float]]] = [[] for _ in range(d)]
    tr = 0.0
    for r in cells:
        i, j, c = r["i"], r["j"], r["cov"]
        row_cells[i - 1].append((j - 1, c))
        if i < j:
            row_cells[j - 1].append((i - 1, c))
        else:
            tr += c
    return row_cells, d, tr


def _power_vec(row_cells, d: int, iters: int,
               quantize: int) -> list[float]:
    """The x185 power iteration on the rounded covariance: exact
    uniform unit start, matvec and normalized vector quantized every
    round — the trajectory any engine replays as chained CTEs."""
    rnd = _round_half_away
    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(iters):
        w = [rnd(sum(c * v[j] for j, c in row_cells[i]), quantize)
             for i in range(d)]
        n = math.sqrt(sum(x * x for x in w))
        v = [rnd(x / n, quantize) for x in w]
    return v


def pca_top_component(df: DataFrame, vec_col: str = "embedding",
                      iters: int = 8, quantize: int = 9) -> DataFrame:
    """Dominant principal component of an embedding column by POWER
    ITERATION on the covariance matrix: ``(i, loading, eigenvalue,
    var_share)`` — one row per dimension (1-based), with the Rayleigh
    eigenvalue and its share of total variance repeated per row.  The
    pre-whitening / anisotropy readout that follows the x154 covariance
    audit: a large ``var_share`` means the corpus collapses onto one
    axis (a rogue feature, a normalization bug).

    Determinism is the x108 trajectory discipline applied to linear
    algebra: the iteration runs on the ROUNDED (1e-6) covariance cells,
    starts from the exact uniform unit vector, and quantizes the
    matrix-vector product and the normalized vector to ``quantize`` dp
    every round — so the whole trajectory is replayable as chained SQL
    CTEs (x185's oracle) despite sum-order nondeterminism.

    Scale shape: the corpus-sized work is the covariance itself
    (:func:`embedding_covariance` — one Gram partial per Arrow batch);
    the iteration runs on the collected d² cells (KBs) driver-side —
    d is the embedding width, never the row count, so the driver holds
    a d×d matrix regardless of corpus size.
    """
    # ONE corpus-scale pass (the Gram partials); everything after runs
    # on d² cells — KBs for any real embedding width — so the power
    # iteration itself executes DRIVER-SIDE on the collected cells
    # instead of as 8 rounds of tiny Spark joins (same rounded
    # arithmetic: HALF_UP rounds at the same points, and the
    # 1e-quantize rounding absorbs summation-order noise exactly as it
    # does between Spark's partial aggregation and the SQL replay)
    cells = embedding_covariance(df, vec_col, round_to=6).collect()
    row_cells, d, tr = _cov_matrix(cells)
    rnd = _round_half_away
    v = _power_vec(row_cells, d, iters, quantize)
    # Rayleigh quotient on the final vector (||v|| == 1 up to rounding)
    cv = [rnd(sum(c * v[j] for j, c in row_cells[i]), quantize)
          for i in range(d)]
    lam = sum(a * b for a, b in zip(cv, v))
    spark = df.sparkSession
    return spark.createDataFrame(
        [(i + 1, rnd(v[i], 6), rnd(lam, 4), rnd(lam / tr, 4))
         for i in range(d)],
        "i int, loading double, eigenvalue double, var_share double")


# ---------------------------------------------------------------------------
# Product quantization (auditable twin)
# ---------------------------------------------------------------------------

def _books_sql(books) -> str:
    """3-level SQL literal (m × ksub × dsub) for ALL sub-codebooks —
    one parsed expression instead of m separate center literals."""
    from .clustering import _centers_sql

    return "array(" + ",".join(_centers_sql(b) for b in books) + ")"


def _code_array_sql(books, quantize: int, vec_sql: str) -> str:
    """All m per-subspace argmin codes as ONE array expression.

    Per subspace the arithmetic is identical to the historical
    per-column spelling (slice → zip_with squared-diff → left-to-right
    aggregate fold → round → first-min array_position tie-break); the
    only change is that the m chains ride a single higher-order
    ``transform`` over the combined codebook literal, so each encode
    layer is ONE parsed/optimized/compiled expression instead of 2m —
    plan build and codegen were costing more than the data work at
    every Lloyd step (guide §1.2: per-task work AND driver overhead)."""
    m = len(books)
    dsub = len(books[0][0])
    assert all(len(b[0]) == dsub for b in books)
    # ``vec_sql`` is bound ONCE per row through a 1-element transform
    # lambda: callers pass computed vectors (rotated residuals, casts),
    # and if the raw expression sat inside the per-subspace lambda the
    # optimizer's project collapsing would re-evaluate it m times per
    # row (measured: the OPQ rotated encode at 25× the cached-input
    # cost).  A lambda variable is evaluated exactly once regardless.
    codes = (f"transform(transform({_books_sql(books)}, (book, s) -> "
             f"transform(book, c -> round(aggregate(zip_with("
             f"slice(__pqv, s * {dsub} + 1, {dsub}), c, "
             f"(a, b) -> (a-b)*(a-b)), "
             f"cast(0.0 as double), (acc, x) -> acc + x), "
             f"{int(quantize)}))), "
             f"a -> cast(array_position(a, array_min(a)) - 1 as int))")
    return f"transform(array({vec_sql}), __pqv -> {codes})[0]"


def pq_train_encode(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding", m: int = 8,
                    ksub: int = 16, iters: int = 3,
                    quantize: int = 6):
    """Product-quantize an embedding corpus (Jégou et al. 2011): split
    each vector into ``m`` subspaces, k-means each subspace to ``ksub``
    centroids, encode every vector as its per-subspace nearest-centroid
    ids — ``m·log2(ksub)`` bits instead of ``d`` floats (64 dims → 8
    codes of 4 bits = 4 bytes/vector at the defaults).

    Returns ``(codes, codebooks)``: ``codes`` = (id_col, ``code_0`` ..
    ``code_{m-1}``) int columns; ``codebooks[s][c]`` = the subspace-s
    centroid lists.

    This is the AUDITABLE twin (the x108 deterministic-trajectory Lloyd
    per subspace: first-k init, 1e-``quantize`` rounding, cid
    tie-breaks — x186's oracle replays training, encoding and search);
    a throughput deployment would fuse the ``m`` fits into one Arrow
    pass over :func:`kmeans_fit`'s NumPy path.  Assignment itself is
    map-side over broadcast centroid literals — the corpus shuffles
    only the k×dim Lloyd partials.
    """
    from pyspark.sql import functions as F

    from ..util import retain_cache

    # FUSED training: the m subspace trajectories are independent, but
    # each Lloyd step is the same corpus pass — so run all m argmins in
    # one expression and fold all m×ksub×dsub center means in ONE
    # aggregation per iteration (posexplode position p ↦ subspace
    # p/dsub, dim p%dsub).  3 driver jobs total instead of ~4m (the
    # dimension probe rides the init collect); every per-subspace
    # trajectory is bit-identical to fitting it alone (same rounded
    # distances, same lowest-cid tie-break, same rounded means —
    # summation-order noise ≪ the 1e-quantize rounding).
    v = retain_cache(
        df.select(F.col(id_col).alias("__id"),
                  F.col(vec_col).cast("array<double>").alias("__e"))
          .filter(F.col("__e").isNotNull()))
    init = v.orderBy("__id").limit(ksub).collect()
    if not init:
        raise ValueError("pq_train_encode: no non-null vectors")
    d = len(init[0]["__e"])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    codebooks = [[list(r["__e"])[s * dsub:(s + 1) * dsub] for r in init]
                 for s in range(m)]

    def with_codes(frame, vec_sql="__e"):
        # ONE parsed expression per Lloyd step (see _code_array_sql):
        # plan build + optimize + codegen of 2m stacked literal chains
        # cost more than the step's data work at m=8/ksub=16
        return frame.select("*", F.expr(
            _code_array_sql(codebooks, quantize, vec_sql)).alias("__cs"))

    from .clustering import _driver_vectors

    x = _driver_vectors(v) if iters > 0 else None
    if x is not None:
        # size-gated driver finish (clustering._DRIVER_LLOYD_BYTES):
        # the m per-subspace trajectories replay value-identically on
        # the collected matrix instead of `iters` scheduled jobs
        codebooks = _driver_pq_lloyd(x, codebooks, iters, quantize)
    else:
        for _ in range(iters):
            upd = (with_codes(v)
                   .select("__cs",
                           F.posexplode("__e").alias("__p", "__x"))
                   .select((F.col("__p") / dsub).cast("int").alias("__s"),
                           F.expr("__cs[cast(__p / "
                                  f"{dsub} as int)]").alias("__c"),
                           (F.col("__p") % dsub).alias("__q"), "__x")
                   .groupBy("__s", "__c", "__q")
                   .agg(F.avg("__x").alias("__m"))
                   .collect())
            nxt = [[list(c) for c in book] for book in codebooks]
            for r in upd:
                nxt[r["__s"]][r["__c"]][r["__q"]] = round(r["__m"],
                                                          quantize)
            codebooks = nxt

    # ENCODING is one map-only projection over the corpus — every
    # subspace's argmin evaluates against the combined codebook literal
    # in the same single expression; the code array lands as one
    # intermediate column so it evaluates once per row (the extraction
    # Project references it m times, which blocks CollapseProject from
    # inlining the chain m-fold).  It reads the TRAINING frame ``v``
    # (same null-filtered rows, already cached for the Lloyd passes),
    # so the final encode re-reads neither the scan nor any computed
    # vector expression the caller fed in (e.g. the OPQ rotation).
    base = v.select(
        F.col("__id").alias(id_col),
        F.expr(_code_array_sql(codebooks, quantize, "__e")).alias("__cs"))
    out = base.select(
        F.col(id_col),
        *[F.col("__cs")[s].alias(f"code_{s}") for s in range(m)])
    return out, codebooks


def _driver_pq_lloyd(x, codebooks, iters: int, quantize: int):
    """The fused per-subspace Lloyd steps of :func:`pq_train_encode`
    over the collected vector matrix — value-identical trajectory per
    subspace: rounded subspace distances via the same left-to-right
    fold (clustering._rounded_d2_matrix over the slice), first-min
    argmin, per-(subspace, cell, dim) means finished with the same
    Python ``round`` the distributed loop applies to its collected
    averages (sum-order noise absorbed by the rounding, the documented
    contract)."""
    import numpy as np

    from .clustering import _rounded_d2_matrix

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    for _ in range(iters):
        nxt = [[list(c) for c in book] for book in codebooks]
        for s in range(m):
            xs = x[:, s * dsub:(s + 1) * dsub]
            d2 = _rounded_d2_matrix(xs, codebooks[s], quantize)
            cell = np.argmin(d2, axis=1)
            for ci in range(len(codebooks[s])):
                members = xs[cell == ci]
                if len(members):
                    cnt = float(len(members))
                    nxt[s][ci] = [
                        round(float(members[:, q].sum()) / cnt, quantize)
                        for q in range(dsub)]
        codebooks = nxt
    return codebooks


def _round_half_away(x: float, nd: int) -> float:
    """Half-away-from-zero rounding (SQL ROUND semantics — Python's
    built-in ``round`` is banker's and would disagree with both
    engines on exact halves)."""
    import math as _m

    scale = 10.0 ** nd
    return _m.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def pq_adc_topk(queries: DataFrame, codes: DataFrame, codebooks,
                k: int = 10, qid_col: str = "vec_id",
                qvec_col: str = "embedding",
                quantize: int = 6) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, the distance
    to every corpus vector is the SUM of per-subspace lookup-table
    entries (query subvector → each centroid, computed once per query)
    — the scan touches 4-byte codes, never raw vectors.

    Returns ``(query_id, <codes id col>, adc, rnk)`` with ``rnk``
    1-based by (rounded adc asc, id asc) — the query id column is
    always named ``query_id`` so self-retrieval (queries drawn from the
    corpus, same id column) cannot collide.  ``queries`` collect to the driver — a
    query batch is small by definition; the m·ksub·|Q| table rows
    broadcast into one equi-join against the exploded codes, then a
    per-query ranking window.  Table entries and the final sums round
    to ``quantize`` dp (half-away, SQL semantics) so ranks replay
    across engines.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = codes.sparkSession
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    rows = []
    for q in (queries.filter(F.col(qvec_col).isNotNull())
                     .select(qid_col, qvec_col).collect()):
        vec = list(q[qvec_col])
        for s in range(m):
            sub = vec[s * dsub:(s + 1) * dsub]
            for ci, cent in enumerate(codebooks[s]):
                acc = 0.0
                for a, b in zip(sub, cent):
                    acc += (a - b) * (a - b)
                rows.append((q[qid_col], s, ci,
                             _round_half_away(acc, quantize)))
    # the lookup-table id column inherits the queries' id type (string /
    # UUID ids work the same as bigint — hardcoding bigint would fail or
    # miscast them at createDataFrame)
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)

    tables = spark.createDataFrame(rows, StructType([
        StructField("query_id", queries.schema[qid_col].dataType),
        StructField("__s", IntegerType()),
        StructField("__c", IntegerType()),
        StructField("__d", DoubleType()),
    ]))
    id_col = codes.columns[0]
    expl = codes.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"code_{s}") for s in range(m)]))
         .alias("__s", "__c"))
    scored = (expl.join(F.broadcast(tables), ["__s", "__c"])
              .groupBy("query_id", id_col)
              .agg(F.round(F.sum("__d"), quantize).alias("adc")))
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(),
                                               F.col(id_col).asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k))


# ---------------------------------------------------------------------------
# Persistent PQ index (build-once / serve-many, the ivf_index_* posture)
# ---------------------------------------------------------------------------

def pq_index_build(corpus: DataFrame, index_path: str,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   m: int = 8, ksub: int = 16, iters: int = 3,
                   quantize: int = 6) -> dict:
    """Train PQ codebooks ONCE and persist the index as two parquet
    tables under ``index_path``: ``codebooks/`` (s, c, center) and
    ``codes/`` (id + ``code_0..code_{m-1}`` — 4 bytes/vector at the
    defaults, the memory-compressed serving tier).  Serving never
    touches raw vectors; :func:`pq_adc_topk` refits nothing.

    Same daily-ingest posture as :func:`ivf_index_build`: build on the
    corpus-refresh cadence, :func:`pq_index_add` assigns deltas against
    the FROZEN codebooks, :func:`pq_index_query` serves any number of
    query batches from the codes alone."""
    import os as _os

    codes, books = pq_train_encode(corpus, id_col, vec_col,
                                   m=m, ksub=ksub, iters=iters,
                                   quantize=quantize)
    spark = corpus.sparkSession
    rows = [(s, c, list(cent)) for s, book in enumerate(books)
            for c, cent in enumerate(book)]
    spark.createDataFrame(rows, "s int, c int, center array<double>") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(_os.path.join(index_path, "codebooks"))
    codes.write.mode("overwrite") \
        .parquet(_os.path.join(index_path, "codes"))
    return {"m": m, "ksub": ksub,
            "n_vectors": spark.read.parquet(
                _os.path.join(index_path, "codes")).count()}


def _pq_load_books(spark, index_path: str):
    import os as _os

    rows = spark.read.parquet(
        _os.path.join(index_path, "codebooks")).collect()
    m = max(r["s"] for r in rows) + 1
    ksub = max(r["c"] for r in rows) + 1
    books = [[None] * ksub for _ in range(m)]
    for r in rows:
        books[r["s"]][r["c"]] = list(r["center"])
    return books


def pq_index_add(delta: DataFrame, index_path: str,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 quantize: int = 6) -> int:
    """Encode new vectors against the FROZEN codebooks and append their
    codes — one map-only pass over the delta (the x109 discipline);
    codebooks drifting from the data degrade ADC accuracy gracefully,
    rebuild on the refresh cadence.  Returns rows appended."""
    import os as _os

    spark = delta.sparkSession
    books = _pq_load_books(spark, index_path)
    m = len(books)
    base = delta.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.expr(_code_array_sql(
            books, quantize,
            f"cast({vec_col} as array<double>)")).alias("__cs"))
    out = base.select(
        F.col(id_col),
        *[F.col("__cs")[s].alias(f"code_{s}") for s in range(m)])
    out.write.mode("append").parquet(_os.path.join(index_path, "codes"))
    return out.count()


def pq_index_query(queries: DataFrame, index_path: str, k: int = 10,
                   qid_col: str = "vec_id", qvec_col: str = "embedding",
                   quantize: int = 6) -> DataFrame:
    """Serve ADC top-k from a persisted PQ index — no training, no raw
    corpus: codebooks load driver-side (m·ksub·dsub floats), codes scan
    from parquet.  Plan-identical to :func:`pq_adc_topk` over the same
    codes, so a fresh index answers exactly what the train-then-search
    path answers."""
    import os as _os

    spark = queries.sparkSession
    books = _pq_load_books(spark, index_path)
    codes = spark.read.parquet(_os.path.join(index_path, "codes"))
    return pq_adc_topk(queries, codes, books, k=k,
                       qid_col=qid_col, qvec_col=qvec_col,
                       quantize=quantize)


# ---------------------------------------------------------------------------
# OPQ: optimized product quantization (Ge et al. 2013) — rotate the space
# before PQ so the code budget aligns with the data's geometry.  This is the
# DETERMINISTIC PARAMETRIC variant on the x185 substrate: instead of the
# paper's full eigendecomposition + alternating optimization (not replayable
# under the trajectory discipline), the rotation is (a) ONE Householder
# reflection mapping the replayable power-iteration top component onto the
# first axis — the dominant direction the natural dimension order smears
# across subspaces — and (b) a variance-BALANCED dimension permutation
# (serpentine deal over the rotated per-dimension variances, the
# deterministic integer-arithmetic stand-in for Ge §4.1's eigenvalue
# allocation, which needs float products a second engine could order
# differently).  Distances are preserved up to the 1e-quantize rounding, so
# exact ADC semantics are unchanged — only the subspace geometry improves.
# ---------------------------------------------------------------------------


def opq_rotation(df: DataFrame, vec_col: str = "embedding",
                 m: int = 8, iters: int = 8, quantize: int = 9
                 ) -> tuple[list[float], list[int], list[float]]:
    """Train the deterministic OPQ rotation: ``(u, perm, var)``.

    ``u`` — the (quantized) Householder unit vector; the rotation is
    ``R·x = x − 2(u·x)u``.  ``u = normalize(v₁ − e₁)`` maps the x185
    power-iteration top component ``v₁`` onto axis 1; when ``v₁`` is
    already axis-aligned (‖v₁ − e₁‖ < 1e-9) ``u`` is the ZERO vector
    and the same formula degrades to the identity — one code path,
    one oracle formula, no branch to replay.

    ``perm`` — ``perm[i]`` = the 0-based position of old dimension
    ``i`` in the rotated-reordered vector: dimensions rank by rotated
    variance (DESC, dim ASC) and deal serpentine across the ``m``
    subspaces, so each subspace receives one dimension per "round"
    alternating pick order — balanced subspace variance from pure
    integer arithmetic on the rank.  The rotated per-dimension
    variance is closed-form from the rounded covariance:
    ``(RCRᵀ)_ii = C_ii − 4·u_i·(Cu)_i + 4·u_i²·(uᵀCu)``.

    ``var`` — those rotated variances (diagnostics + the oracle's
    ranking input).  One corpus pass (the covariance Gram partials);
    everything else is driver-side d² arithmetic."""
    cells = embedding_covariance(df, vec_col, round_to=6).collect()
    row_cells, d, _tr = _cov_matrix(cells)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    rnd = _round_half_away
    v1 = _power_vec(row_cells, d, iters, quantize)
    u0 = [a - (1.0 if i == 0 else 0.0) for i, a in enumerate(v1)]
    nu = math.sqrt(sum(x * x for x in u0))
    if nu < 1e-9:
        u = [0.0] * d
    else:
        u = [rnd(x / nu, quantize) for x in u0]
    diag = {}
    for i in range(d):
        for j, c in row_cells[i]:
            if j == i:
                diag[i] = c
    cu = [rnd(sum(c * u[j] for j, c in row_cells[i]), quantize)
          for i in range(d)]
    s = rnd(sum(a * b for a, b in zip(u, cu)), quantize)
    var = [rnd(diag.get(i, 0.0) - 4.0 * u[i] * cu[i]
               + 4.0 * u[i] * u[i] * s, 6) for i in range(d)]
    dsub = d // m
    order = sorted(range(d), key=lambda i: (-var[i], i))
    perm = [0] * d
    for r, i in enumerate(order):
        block, pos = divmod(r, m)
        sub = pos if block % 2 == 0 else m - 1 - pos
        perm[i] = sub * dsub + block
    return u, perm, var


def opq_rotate(df: DataFrame, vec_col: str, u: list[float],
               perm: list[int], out_col: str,
               quantize: int = 6) -> DataFrame:
    """Apply the trained rotation+permutation as ONE map-only Catalyst
    expression: ``y[perm[i]] = round(x_i − 2·(u·x)·u_i, quantize)``
    (the dot product quantized to 9 dp, the x185 discipline).  The
    zero-``u`` case evaluates to ``round(x_i, quantize)`` through the
    same formula.  No UDF, no shuffle — linear in corpus bytes."""
    d = len(u)
    inv = [0] * d
    for i, p in enumerate(perm):
        inv[p] = i
    x = f"cast({vec_col} as array<double>)"
    u_sql = "array(" + ",".join(f"{float(a)!r}D" for a in u) + ")"
    inv_sql = "array(" + ",".join(str(i + 1) for i in inv) + ")"
    dot = (f"round(aggregate(zip_with({x}, {u_sql}, (a, b) -> a * b), "
           f"cast(0.0 as double), (acc, t) -> acc + t), 9)")
    out = df.withColumn("__opq_dot", F.expr(dot))
    y = (f"transform({inv_sql}, i -> round(element_at({x}, i) "
         f"- 2.0D * __opq_dot * element_at({u_sql}, i), "
         f"{int(quantize)}))")
    return out.withColumn(out_col, F.expr(y)).drop("__opq_dot")


def opq_train_encode(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding", m: int = 8,
                     ksub: int = 16, iters: int = 3,
                     rot_iters: int = 8, balance: bool = False,
                     align: bool = True,
                     quantize: int = 6):
    """Rotated PQ: train the rotation on the corpus covariance, rotate
    (map-only), then the standard fused PQ training/encoding on the
    rotated vectors.  Returns ``(codes, codebooks, u, perm)`` —
    ``codes`` has the same ``(id, code_0..code_{m-1})`` shape as
    :func:`pq_train_encode`, so every downstream consumer (ADC, the
    persistent index layout) works unchanged; queries must rotate
    through the SAME ``(u, perm)`` (see :func:`opq_adc_topk`).

    ``balance`` opts into the serpentine variance-balancing
    permutation.  It is what rescues PQ when per-dimension variances
    are SKEWED — natural order then stacks all the energy into one
    subspace and the other ``m−1`` quantize noise (the unit test
    constructs exactly that and measures the gain) — but on a
    near-isotropic corpus it can split residually correlated pairs
    across subspaces: on the embeddings fixture, alignment-only
    measured recall@10 0.395 vs 0.375 plain PQ vs 0.360 with the
    permutation, so alignment-only is the default and the
    permutation is the documented skew remedy.  The r13 2×2 sweep
    (SCALE.md §30) measures all four (align, balance) corners on both
    fixture shapes and pins the regimes: alignment-only is best on
    the embeddings fixture (0.395 vs 0.375 plain; the permutation
    costs recall there, 0.360–0.375), and on skewed variance
    balance-ONLY is best (0.89 vs 0.205 plain) — the combination is
    slightly WORSE than balance alone on skew (0.855: the reflection
    perturbs the axis-aligned energy the serpentine deal exploits),
    so the remedies should be chosen per corpus shape, not stacked.

    ``align=False`` disables the Householder alignment (``u`` forced
    to the zero vector — the formula's own identity), giving the
    permutation-only and plain-identity corners of the sweep."""
    u, perm, _var = opq_rotation(df, vec_col, m, iters=rot_iters)
    if not align:
        u = [0.0] * len(u)
    if not balance:
        perm = list(range(len(u)))
    rot = opq_rotate(df.filter(F.col(vec_col).isNotNull()),
                     vec_col, u, perm, "__re", quantize=quantize)
    codes, books = pq_train_encode(rot, id_col=id_col, vec_col="__re",
                                   m=m, ksub=ksub, iters=iters,
                                   quantize=quantize)
    return codes, books, u, perm


def _rotate_vec(vec: list[float], u: list[float], perm: list[int],
                quantize: int) -> list[float]:
    """Driver-side twin of :func:`opq_rotate`'s Catalyst expression —
    same dot-product 9-dp round, same per-coordinate round, same
    permutation — for the per-query residual loops that already run
    on collected rows (the IVF-PQ ADC tables)."""
    dot = _round_half_away(sum(a * b for a, b in zip(vec, u)), 9)
    y = [0.0] * len(vec)
    for i, (a, b) in enumerate(zip(vec, u)):
        y[perm[i]] = _round_half_away(a - 2.0 * dot * b, quantize)
    return y


def opq_adc_topk(queries: DataFrame, codes: DataFrame, codebooks,
                 u: list[float], perm: list[int], k: int = 10,
                 qid_col: str = "vec_id", qvec_col: str = "embedding",
                 quantize: int = 6) -> DataFrame:
    """ADC top-k over OPQ codes: rotate the query batch through the
    index's ``(u, perm)`` (rotations preserve L2 up to the rounding),
    then the standard :func:`pq_adc_topk` lookup-table scan — the
    rotated space is invisible to the serve path."""
    rq = opq_rotate(queries.filter(F.col(qvec_col).isNotNull()),
                    qvec_col, u, perm, "__re", quantize=quantize)
    return pq_adc_topk(rq, codes, codebooks, k=k, qid_col=qid_col,
                       qvec_col="__re", quantize=quantize)


# ---------------------------------------------------------------------------
# IVF-PQ: cell-pruned asymmetric distance over PQ codes — the billion-scale
# composition of the coarse quantizer (ivf_index_*) with the code-compressed
# scan (pq_*).  IVF-Flat ships full vectors per cell; PQ alone scans every
# code; IVFADC (Jégou, Douze, Schmid 2011, §IV) prunes to nprobe cells AND
# scans 4-byte codes — the standard serving layout at 10⁹+ vectors.
# ---------------------------------------------------------------------------


def _ivfpq_cells(v: DataFrame, coarse, quantize: int) -> DataFrame:
    """``(__id, __e)`` → ``(__id, __cell, __r)``: nearest coarse cell
    (rounded d², lowest-cid tie-break — the x108 discipline) and the
    per-dim ROUNDED residual the PQ stage trains/encodes on.  Pure
    Catalyst over broadcast center literals — no UDF, no shuffle."""
    from .clustering import _ARGMIN_SQL, _centers_sql, _d2s_sql

    cs = _centers_sql(coarse)
    return (v.withColumn("__d2s", _d2s_sql(coarse, quantize))
             .withColumn("__cell", F.expr(_ARGMIN_SQL))
             .select("__id", "__cell", F.expr(
                 f"transform(zip_with(__e, element_at({cs}, __cell + 1), "
                 f"(a, b) -> a - b), x -> round(x, {int(quantize)}))")
                 .alias("__r")))


def _ivfpq_code_cols(frame: DataFrame, books, quantize: int,
                     vec_sql: str = "__r") -> DataFrame:
    """Append ``code_0..code_{m-1}`` argmin columns over the residual —
    the same one-projection encoding as :func:`pq_train_encode`, kept
    here so the delta path (:func:`ivfpq_index_add`) and the build path
    encode through identical expressions."""
    m = len(books)
    keep = list(frame.columns)
    frame = frame.select("*", F.expr(
        _code_array_sql(books, quantize, vec_sql)).alias("__pcs"))
    return frame.select(
        *keep,
        *[F.col("__pcs")[s].alias(f"code_{s}") for s in range(m)])


def ivfpq_train_encode(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", ncells: int = 8,
                       m: int = 4, ksub: int = 8, coarse_iters: int = 2,
                       pq_iters: int = 2, quantize: int = 6):
    """Train the two quantizer tiers and encode the corpus:

    1. coarse k-means (``ncells`` cells) on the FULL vectors via the
       deterministic-trajectory Lloyd fit (first-k init, 1e-``quantize``
       rounding, cid tie-breaks — x108);
    2. per-vector residual ``round(vec - cell_center, quantize)``;
    3. product quantization of the RESIDUALS (:func:`pq_train_encode`'s
       fused per-subspace Lloyd — x186) — residual PQ spends the code
       budget on the within-cell geometry the coarse tier can't see,
       the choice that makes IVFADC beat PQ-alone at equal bits.

    Returns ``(codes, coarse_centers, codebooks)`` with ``codes`` =
    ``(id_col, cell, code_0..code_{m-1})``.  Every step is rounded at
    the same reduction points as the DuckDB oracle (x189), so the whole
    trajectory — centers, cells, residuals, codebooks, codes — replays
    value-for-value in a second engine.

    Scale: training shuffles only k×dim Lloyd partials (never vectors);
    assignment/encoding are one map-only projection over broadcast
    center literals; the driver holds ncells×dim + m×ksub×dsub floats.
    """
    from .clustering import _verifiable_fit

    v, coarse, _ = _verifiable_fit(df, id_col, vec_col, ncells,
                                   coarse_iters, quantize)
    resid = _ivfpq_cells(v, coarse, quantize)
    # train the sub-codebooks on the residuals; the codes frame it
    # returns is lazy and unused — encoding below keeps the cell column
    _, books = pq_train_encode(resid, id_col="__id", vec_col="__r",
                               m=m, ksub=ksub, iters=pq_iters,
                               quantize=quantize)
    codes = (_ivfpq_code_cols(resid, books, quantize)
             .select(F.col("__id").alias(id_col),
                     F.col("__cell").alias("cell"),
                     *[f"code_{s}" for s in range(m)]))
    return codes, coarse, books


def ivfpq_train_encode_rotated(df: DataFrame, id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               ncells: int = 8, m: int = 4,
                               ksub: int = 8, coarse_iters: int = 2,
                               pq_iters: int = 2, rot_iters: int = 8,
                               balance: bool = False,
                               quantize: int = 6):
    """OPQ-rotated IVF-PQ (r12): same coarse tier as
    :func:`ivfpq_train_encode`, but the RESIDUALS rotate through the
    deterministic OPQ Householder (+ optional balanced permutation)
    trained on the residual covariance before the sub-codebooks see
    them — residual PQ already spends the code budget inside the
    cell; the rotation aligns that budget with the residual geometry
    (Ge 2013 applied at the IVFADC layer).  The rotation fuses into
    the same map-only encode projection; cells, probe order and the
    serve join are untouched.  Returns ``(codes, coarse, books,
    (u, perm))`` — queries rotate their per-cell residual through the
    same ``(u, perm)`` (:func:`ivfpq_adc_topk` ``rotation=``)."""
    from .clustering import _verifiable_fit

    v, coarse, _ = _verifiable_fit(df, id_col, vec_col, ncells,
                                   coarse_iters, quantize)
    resid = _ivfpq_cells(v, coarse, quantize)
    u, perm, _var = opq_rotation(resid, "__r", m, iters=rot_iters)
    if not balance:
        perm = list(range(len(u)))
    rr = (opq_rotate(resid, "__r", u, perm, "__rr", quantize=quantize)
          .drop("__r").withColumnRenamed("__rr", "__r"))
    _, books = pq_train_encode(rr, id_col="__id", vec_col="__r",
                               m=m, ksub=ksub, iters=pq_iters,
                               quantize=quantize)
    codes = (_ivfpq_code_cols(rr, books, quantize)
             .select(F.col("__id").alias(id_col),
                     F.col("__cell").alias("cell"),
                     *[f"code_{s}" for s in range(len(books))]))
    return codes, coarse, books, (u, perm)


def _rank_cells(vec, coarse, quantize: int):
    """(rounded d², cell) pairs ascending — the coarse probe order, the
    same rounding/tie rule the oracle replays."""
    return sorted(
        (_round_half_away(
            sum((a - b) * (a - b) for a, b in zip(vec, cent)),
            quantize), ci)
        for ci, cent in enumerate(coarse))


def _probed_cells(query_rows, coarse, nprobe: int,
                  qvec_col: str, quantize: int) -> list[int]:
    """The union of every query's ``nprobe`` nearest cells — the scan
    pruning set, computed from ALREADY-collected query rows (callers
    collect once and share the rows with the ADC stage)."""
    probed: set[int] = set()
    for q in query_rows:
        vec = [float(x) for x in q[qvec_col]]
        for _, cell in _rank_cells(vec, coarse, quantize)[:max(1, nprobe)]:
            probed.add(cell)
    return sorted(probed)


def ivfpq_adc_topk(queries: DataFrame, codes: DataFrame, coarse, books,
                   k: int = 10, nprobe: int = 2,
                   qid_col: str = "vec_id", qvec_col: str = "embedding",
                   quantize: int = 6, query_rows=None,
                   rotation=None) -> DataFrame:
    """Cell-pruned ADC top-k: each query ranks the coarse cells by
    rounded d² (ties by cell id), probes the ``nprobe`` nearest, and
    scores ONLY vectors assigned to those cells — by summing
    per-subspace lookup-table entries computed against the QUERY
    RESIDUAL of each probed cell (IVFADC: the table depends on the
    (query, cell) pair because the residual does).

    The query batch collects to the driver (it is small by definition);
    the |Q|·nprobe·m·ksub table rows broadcast into one equi-join
    against the codes, pre-filtered to the probed cells — on a
    cell-partitioned persistent index (:func:`ivfpq_index_build`) that
    filter is partition pruning, so serve IO rides on nprobe/ncells of
    the corpus, not its size.  Returns ``(query_id, <codes id col>,
    adc, rnk)``, rounded (half-away, SQL semantics) so ranks replay
    across engines.  ``rotation=(u, perm)`` serves an OPQ-rotated
    index (:func:`ivfpq_train_encode_rotated`): query residuals
    rotate through the index's transform before the table build."""
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)

    spark = codes.sparkSession
    m = len(books)
    dsub = len(books[0][0])
    rows = []
    probed: set[int] = set()
    if query_rows is None:       # callers that already collected pass it
        # NULL vectors cannot be ranked against cells — drop them here
        # exactly as every oracle builds its query set from the
        # null-filtered corpus (a NULL would TypeError in float())
        query_rows = (queries.filter(F.col(qvec_col).isNotNull())
                             .select(qid_col, qvec_col).collect())
    for q in query_rows:
        vec = [float(x) for x in q[qvec_col]]
        ranked = _rank_cells(vec, coarse, quantize)
        for _, cell in ranked[:max(1, nprobe)]:
            probed.add(cell)
            res = [_round_half_away(a - b, quantize)
                   for a, b in zip(vec, coarse[cell])]
            if rotation is not None:
                # OPQ-rotated index (r12): the stored codes quantize
                # ROTATED residuals, so the query residual rotates
                # through the same (u, perm) — cell ranking above
                # stays in the original space (the coarse tier is
                # unrotated by construction)
                res = _rotate_vec(res, rotation[0], rotation[1],
                                  quantize)
            for s in range(m):
                sub = res[s * dsub:(s + 1) * dsub]
                for ci, cent in enumerate(books[s]):
                    acc = 0.0
                    for a, b in zip(sub, cent):
                        acc += (a - b) * (a - b)
                    rows.append((q[qid_col], cell, s, ci,
                                 _round_half_away(acc, quantize)))
    tables = spark.createDataFrame(rows, StructType([
        StructField("query_id", queries.schema[qid_col].dataType),
        StructField("__cell", IntegerType()),
        StructField("__ts", IntegerType()),
        StructField("__tc", IntegerType()),
        StructField("__d", DoubleType()),
    ]))
    id_col = codes.columns[0]
    # probed-cell pre-filter: pushes to the parquet scan (partition
    # pruning on a cell-partitioned index) — the join would drop the
    # rows anyway, but only AFTER reading them.  An empty query batch
    # probes nothing: prune everything (isin() with no args throws).
    pruned = (codes.filter(F.col("cell").isin(*sorted(probed)))
              if probed else codes.filter(F.lit(False)))
    expl = pruned.select(
        id_col, "cell",
        F.posexplode(F.array(*[F.col(f"code_{s}") for s in range(m)]))
         .alias("__s", "__c"))
    scored = (expl.join(F.broadcast(tables),
                        (F.col("cell") == F.col("__cell"))
                        & (F.col("__s") == F.col("__ts"))
                        & (F.col("__c") == F.col("__tc")))
              .groupBy("query_id", id_col)
              .agg(F.round(F.sum("__d"), quantize).alias("adc")))
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(),
                                               F.col(id_col).asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k))


# ---------------------------------------------------------------------------
# Persistent IVF-PQ index (build-once / serve-many)
# ---------------------------------------------------------------------------


def ivfpq_index_build(corpus: DataFrame, index_path: str,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding", ncells: int = 8,
                      m: int = 4, ksub: int = 8, coarse_iters: int = 2,
                      pq_iters: int = 2, quantize: int = 6,
                      transactional: bool = False,
                      rotate: bool = False,
                      balance: bool = False) -> dict:
    """Train both tiers ONCE and persist the index under ``index_path``
    as three parquet tables: ``coarse/`` (cell, center), ``codebooks/``
    (s, c, center), and ``codes/`` (id + code_0..code_{m-1}),
    PARTITIONED BY cell — so :func:`ivfpq_index_query`'s probed-cell
    filter is directory-level partition pruning and serve IO is
    ~nprobe/ncells of the code volume regardless of corpus size.

    ``transactional=True`` stores the codes as a
    :class:`~datum_spark.sources.snapshots.SnapshotTable` instead
    (range-clustered by cell, so the manifest's per-file cell min/max
    prune the probed-cell read just like directories do): delta ingest
    gains optimistic-commit safety and ``append_once`` idempotence for
    at-least-once producers, serving gains snapshot isolation against
    concurrent adds — the index becomes a lake table.

    Same daily-ingest posture as ``ivf_index_*`` / ``pq_index_*``:
    rebuild on the corpus-refresh cadence, :func:`ivfpq_index_add`
    assigns+encodes deltas against the FROZEN quantizers,
    :func:`ivfpq_index_query` serves refit-free.

    ``rotate=True`` (r12) builds the OPQ-rotated variant
    (:func:`ivfpq_train_encode_rotated`): the residual rotation is
    part of the frozen quantizer state, persisted as
    ``rotation.json`` and applied transparently by
    :func:`ivfpq_index_add`, :func:`ivfpq_index_query` and
    :func:`ivfpq_rebalance` — the index format is otherwise
    identical, so occupancy/refine/serve tooling works unchanged."""
    import json as _json
    import os as _os

    spark = corpus.sparkSession
    rpath = _os.path.join(index_path, "rotation.json")
    rot = None
    if rotate:
        codes, coarse, books, rot = ivfpq_train_encode_rotated(
            corpus, id_col, vec_col, ncells=ncells, m=m, ksub=ksub,
            coarse_iters=coarse_iters, pq_iters=pq_iters,
            balance=balance, quantize=quantize)
    else:
        codes, coarse, books = ivfpq_train_encode(
            corpus, id_col, vec_col, ncells=ncells, m=m, ksub=ksub,
            coarse_iters=coarse_iters, pq_iters=pq_iters,
            quantize=quantize)
        # Rebuilding a previously rotated index in place must clear the
        # rotation marker, else add/query/rebalance would rotate
        # residuals against codebooks trained on UNROTATED residuals.
        try:
            _os.unlink(rpath)
        except FileNotFoundError:
            pass
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(coarse)],
        "cell int, center array<double>").coalesce(1) \
        .write.mode("overwrite").parquet(_os.path.join(index_path,
                                                       "coarse"))
    spark.createDataFrame(
        [(s, c, list(cent)) for s, book in enumerate(books)
         for c, cent in enumerate(book)],
        "s int, c int, center array<double>").coalesce(1) \
        .write.mode("overwrite").parquet(_os.path.join(index_path,
                                                       "codebooks"))
    codes_path = _os.path.join(index_path, "codes")
    if transactional:
        from ..sources.snapshots import SnapshotTable

        t = SnapshotTable.create(spark, codes_path)
        t.append(codes.repartitionByRange(ncells, "cell"))
        n = t.read().count()
    else:
        codes.write.mode("overwrite").partitionBy("cell") \
            .parquet(codes_path)
        n = spark.read.parquet(codes_path).count()
    if rotate:
        # rotation.json is published LAST, after coarse/codebooks/codes
        # all land: a mid-build crash over an existing plain index can
        # never pair a fresh rotation marker with stale unrotated
        # quantizers (the marker's absence IS the plain-index contract).
        with open(rpath + ".tmp", "w") as fh:
            _json.dump({"u": [float(x) for x in rot[0]],
                        "perm": [int(p) for p in rot[1]]}, fh)
        _os.replace(rpath + ".tmp", rpath)
    return {"n_vectors": int(n), "ncells": ncells, "m": m, "ksub": ksub,
            "transactional": bool(transactional),
            "rotate": bool(rotate)}


def _ivfpq_load(spark, index_path: str):
    import os as _os

    crows = (spark.read.parquet(_os.path.join(index_path, "coarse"))
             .orderBy("cell").collect())
    coarse = [list(r["center"]) for r in crows]
    books = _pq_load_books(spark, index_path)
    return coarse, books


def _ivfpq_load_rotation(index_path: str):
    """``(u, perm)`` of an OPQ-rotated index, or None on a plain one
    (the absence of ``rotation.json`` IS the plain-index marker —
    pre-r12 indexes load unchanged)."""
    import json as _json
    import os as _os

    rpath = _os.path.join(index_path, "rotation.json")
    if not _os.path.exists(rpath):
        return None
    with open(rpath) as fh:
        doc = _json.load(fh)
    return [float(x) for x in doc["u"]], [int(p) for p in doc["perm"]]


def _maybe_rotate_resid(resid: DataFrame, rotation,
                        quantize: int) -> DataFrame:
    """Rotate the ``__r`` residual column through an index's
    ``(u, perm)`` when present — the shared encode step for
    index_add and rebalance on a rotated index."""
    if rotation is None:
        return resid
    return (opq_rotate(resid, "__r", rotation[0], rotation[1],
                       "__rr", quantize=quantize)
            .drop("__r").withColumnRenamed("__rr", "__r"))


def ivfpq_index_add(delta: DataFrame, index_path: str,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    quantize: int = 6,
                    txn_id: str | None = None,
                    txn_version: int = 0) -> int:
    """Assign + encode new vectors against the FROZEN quantizers and
    append their codes — one map-only pass over the delta (the x109
    discipline), partition-appended per cell; the existing codes are
    never read.  Quantizer drift degrades recall gracefully; rebuild on
    the refresh cadence.  Returns rows appended.

    On a ``transactional=True`` index the append is an optimistic
    snapshot-table commit; pass ``txn_id``/``txn_version`` and a
    replayed micro-batch (an at-least-once producer, e.g. a
    ``ChangeFeedCursor`` consumer) commits ZERO rows twice
    (``append_once`` — returns 0 on the replay)."""
    import os as _os

    spark = delta.sparkSession
    coarse, books = _ivfpq_load(spark, index_path)
    m = len(books)
    v = (delta.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).cast("array<double>").alias("__e"))
              .filter(F.col("__e").isNotNull()))
    resid = _maybe_rotate_resid(_ivfpq_cells(v, coarse, quantize),
                                _ivfpq_load_rotation(index_path),
                                quantize)
    out = (_ivfpq_code_cols(resid, books, quantize)
           .select(F.col("__id").alias(id_col),
                   F.col("__cell").alias("cell"),
                   *[f"code_{s}" for s in range(m)]))
    codes_path = _os.path.join(index_path, "codes")
    if _os.path.isdir(_os.path.join(codes_path, "_manifests")):
        from ..sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, codes_path)
        if txn_id is not None and \
                t._last_txn_version(txn_id) >= int(txn_version):
            return 0             # replayed batch: never encode at all
        clustered = out.repartitionByRange(
            max(1, min(len(coarse), 32)), "cell").persist()
        try:
            n = clustered.count()    # ONE encode pass (cached)
            if txn_id is not None:
                v_new = t.append_once(clustered, txn_id=txn_id,
                                      txn_version=int(txn_version))
                return 0 if v_new is None else int(n)
            t.append(clustered)
            return int(n)
        finally:
            clustered.unpersist()
    out = out.persist()
    try:
        n = out.count()              # ONE encode pass (cached)
        out.write.mode("append").partitionBy("cell").parquet(codes_path)
    finally:
        out.unpersist()
    return int(n)


def ivfpq_index_query(queries: DataFrame, index_path: str, k: int = 10,
                      nprobe: int = 2, qid_col: str = "vec_id",
                      qvec_col: str = "embedding",
                      quantize: int = 6) -> DataFrame:
    """Serve cell-pruned ADC top-k from a persisted index — no
    training, no raw corpus: both quantizers load driver-side (ncells×d
    + m×ksub×dsub floats), codes scan from the cell-partitioned parquet
    with the probed-cell filter pruning directories (or, on a
    ``transactional`` index, from the codes snapshot table with the
    probed cells pruned by the manifest's per-file cell stats — a
    snapshot-isolated read against concurrent adds).  Plan-identical to
    :func:`ivfpq_adc_topk` over the same codes, so a fresh index
    answers exactly what the train-then-search path answers."""
    import os as _os

    spark = queries.sparkSession
    coarse, books = _ivfpq_load(spark, index_path)
    codes_path = _os.path.join(index_path, "codes")
    query_rows = (queries.filter(F.col(qvec_col).isNotNull())
                         .select(qid_col, qvec_col).collect())
    if _os.path.isdir(_os.path.join(codes_path, "_manifests")):
        from ..sources.snapshots import SnapshotTable

        cells = _probed_cells(query_rows, coarse, nprobe,
                              qvec_col, quantize)
        t = SnapshotTable(spark, codes_path)
        codes = (t.read(where=f"cell IN ({','.join(map(str, cells))})")
                 if cells else t.read())
    else:
        codes = spark.read.parquet(codes_path)
    m = len(books)
    # partitioned reads append the partition column last; put the id
    # first so ivfpq_adc_topk's columns[0] convention holds
    id_col = [c for c in codes.columns
              if c != "cell" and not c.startswith("code_")][0]
    codes = codes.select(id_col, "cell", *[f"code_{s}" for s in range(m)])
    return ivfpq_adc_topk(queries, codes, coarse, books, k=k,
                          nprobe=nprobe, qid_col=qid_col,
                          qvec_col=qvec_col, quantize=quantize,
                          query_rows=query_rows,
                          rotation=_ivfpq_load_rotation(index_path))


def ivfpq_refine_topk(queries: DataFrame, codes: DataFrame,
                      corpus: DataFrame, coarse, books, k: int = 10,
                      shortlist: int = 50, nprobe: int = 2,
                      qid_col: str = "vec_id",
                      qvec_col: str = "embedding",
                      corpus_id: str = "vec_id",
                      corpus_vec: str = "embedding",
                      quantize: int = 6) -> DataFrame:
    """Two-stage IVFADC serving (the Faiss ``IndexRefine`` pattern):
    stage 1 takes a ``shortlist`` (≥ k) of candidates per query by
    cell-pruned ADC over the codes; stage 2 re-ranks ONLY those
    candidates by exact rounded L2 against their raw vectors, fetched
    by an id equi-join.  Quantization error moves candidates around
    inside the shortlist but can no longer cost recall@k unless the
    true neighbor fell outside the shortlist entirely — the standard
    way PQ-compressed serving recovers exact-tier quality.

    Scale shape: stage 1 reads nprobe cells of 4-byte codes; stage 2
    gathers ``|Q|·shortlist`` raw vectors through one id-keyed hash
    join against the corpus (at 10⁹ vectors that is the only touch of
    the full-width table, and it is k-bounded, not corpus-bounded).
    Returns ``(query_id, <corpus id col>, d2, rnk)`` with the exact
    rounded distance — fully replayable (x190).
    """
    adc = ivfpq_adc_topk(queries, codes, coarse, books, k=shortlist,
                         nprobe=nprobe, qid_col=qid_col,
                         qvec_col=qvec_col, quantize=quantize)
    cand_id = codes.columns[0]
    qv = queries.select(F.col(qid_col).alias("query_id"),
                        F.col(qvec_col).cast("array<double>")
                         .alias("__qe"))
    cv = corpus.select(F.col(corpus_id).alias(cand_id),
                       F.col(corpus_vec).cast("array<double>")
                        .alias("__ce"))
    d2 = F.round(F.aggregate(
        F.zip_with("__qe", "__ce", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x), quantize)
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(),
                                               F.col(cand_id).asc())
    return (adc.select("query_id", cand_id)
               .join(F.broadcast(qv), "query_id")
               .join(cv, cand_id)
               .select("query_id", cand_id, d2.alias("d2"))
               .withColumn("rnk", F.row_number().over(w))
               .filter(F.col("rnk") <= k))


def matryoshka_recall(df: DataFrame, prefixes: list[int],
                      n_queries: int = 10, k: int = 10,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      quantize: int = 6) -> DataFrame:
    """Serving-dimension audit for prefix-truncatable (MRL-style)
    embeddings: for each prefix length, rank the corpus by exact
    rounded L2 over the TRUNCATED vectors and report recall@k against
    the full-dimension ranking — the measurement behind the "can we
    store 16 of the 64 dims?" storage decision (at 10⁹ vectors a 4×
    prefix cut is 4× less scan IO for every downstream ANN tier).

    Queries are the ``n_queries`` smallest ids, scored against the
    whole corpus (brute force — this is an AUDIT, run at sample scale;
    the serving path is the IVF-PQ family).  Returns
    ``(prefix_dim, query_id, hits, recall)``.
    """
    from functools import reduce

    corpus = (df.filter(F.col(vec_col).isNotNull())
                .select(F.col(id_col).alias("__nid"),
                        F.col(vec_col).cast("array<double>")
                         .alias("__e")))
    # the n_queries SMALLEST ids, whatever the id type/range —
    # TakeOrderedAndProject, no shuffle (a `< n_queries` filter would
    # silently return nothing for non-dense or non-integer ids)
    qs = (corpus.orderBy("__nid").limit(n_queries)
                .select(F.col("__nid").alias("__qid"),
                        F.col("__e").alias("__q")))

    def topk(dim: int | None) -> DataFrame:
        qe = F.slice("__q", 1, dim) if dim else F.col("__q")
        ce = F.slice("__e", 1, dim) if dim else F.col("__e")
        d2 = F.round(F.aggregate(
            F.zip_with(qe, ce, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x), quantize)
        w = Window.partitionBy("__qid").orderBy(F.col("__d2").asc(),
                                                F.col("__nid").asc())
        return (F.broadcast(qs).crossJoin(corpus)
                .select("__qid", "__nid", d2.alias("__d2"))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k)
                .select("__qid", "__nid"))

    full = topk(None)
    outs = []
    for p in prefixes:
        hits = (topk(p).join(full, ["__qid", "__nid"])
                .groupBy("__qid")
                .agg(F.count(F.lit(1)).alias("hits")))
        outs.append(
            full.select("__qid").distinct()
                .join(hits, "__qid", "left")
                .select(F.lit(p).alias("prefix_dim"),
                        F.col("__qid").alias("query_id"),
                        F.coalesce("hits", F.lit(0)).alias("hits"),
                        F.round(F.coalesce("hits", F.lit(0)) / float(k),
                                2).alias("recall")))
    return reduce(lambda a, b: a.unionByName(b), outs)


def semantic_contamination(eval_df: DataFrame, corpus: DataFrame,
                           threshold: float = 0.8,
                           eval_id: str = "vec_id",
                           eval_vec: str = "embedding",
                           corpus_id: str = "vec_id",
                           corpus_vec: str = "embedding",
                           round_to: int = 4) -> DataFrame:
    """Embedding-space decontamination screen — the semantic complement
    of the n-gram screen (``dedup.benchmark_contamination``): an eval
    item is contaminated when SOME corpus vector's cosine reaches
    ``threshold`` (paraphrases and near-copies that shared n-grams
    miss).  Returns one row per eval item:
    ``(eval_id, n_hits, max_cos, contaminated)`` — items with no
    corpus match above 0 still report (max_cos of the best match).

    This is the brute-force AUDIT spelling (one broadcast of the eval
    batch against the corpus — eval sets are small by definition, the
    corpus is never self-joined); at 10⁹ corpus vectors route the same
    screen through the LSH/IVF candidate tiers and exact-score only
    candidates."""
    e = (eval_df.filter(_nonzero_vec(F.col(eval_vec)))
         .select(F.col(eval_id).alias("__eid"),
                 _normalize_col(F.col(eval_vec).cast("array<double>"))
                 .alias("__ev")))
    c = (corpus.filter(_nonzero_vec(F.col(corpus_vec)))
         .select(F.col(corpus_id).alias("__cid"),
                 _normalize_col(F.col(corpus_vec).cast("array<double>"))
                 .alias("__cv")))
    cos = F.round(_dot_expr(F.col("__ev"), F.col("__cv")), round_to)
    return (F.broadcast(e).crossJoin(c)
            .select("__eid", cos.alias("__cos"))
            .groupBy(F.col("__eid").alias(eval_id))
            .agg(F.sum(F.when(F.col("__cos") >= threshold, 1)
                       .otherwise(0)).cast("long").alias("n_hits"),
                 F.max("__cos").alias("max_cos"))
            .withColumn("contaminated", F.col("n_hits") > 0))


# ---------------------------------------------------------------------------
# IVF-PQ index maintenance: occupancy audit + hot-cell split rebalance
# ---------------------------------------------------------------------------


def _ivfpq_read_codes(spark: SparkSession, codes_path: str) -> DataFrame:
    """The index's codes table, whichever substrate holds it: the
    snapshot table when ``codes/_manifests`` exists (snapshot-isolated
    read), plain cell-partitioned parquet otherwise.  The ONE place
    that decides — ivfpq_index_add/query/occupancy/rebalance all route
    through it."""
    import os as _os

    if _os.path.isdir(_os.path.join(codes_path, "_manifests")):
        from ..sources.snapshots import SnapshotTable

        return SnapshotTable(spark, codes_path).read()
    return spark.read.parquet(codes_path)


def ivfpq_cell_occupancy(codes: DataFrame, ncells: int) -> DataFrame:
    """Per-cell serve-scan audit: ``(cell, n_codes, share,
    ratio_to_mean)`` for every cell INCLUDING empty ones.  ADC serving
    reads nprobe whole cells, so the hottest cell bounds worst-case
    scan IO — after skewed ingest (``ivfpq_index_add`` assigns against
    FROZEN centers) ``ratio_to_mean`` ≫ 1 is the signal to
    :func:`ivfpq_rebalance`.  One map-combined count shuffle over the
    codes (the skew_report shape keyed on ``cell``)."""
    spark = codes.sparkSession
    counts = codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n_codes"))
    cells = spark.createDataFrame([(i,) for i in range(ncells)],
                                  "cell int")
    occ = (cells.join(counts, "cell", "left")
                .select("cell", F.coalesce("n_codes", F.lit(0))
                        .alias("n_codes")))
    tot = occ.agg(F.sum("n_codes").alias("__t"))
    # greatest(total, 1): an EMPTY codes table must report share /
    # ratio_to_mean 0.0 per cell, not NULL rows from a 0/0 division
    den = F.greatest(F.col("__t"), F.lit(1))
    return (occ.crossJoin(F.broadcast(tot))
               .select("cell", F.col("n_codes").cast("long")
                       .alias("n_codes"),
                       F.round(F.col("n_codes") / den, 6)
                       .alias("share"),
                       F.round(F.col("n_codes") * ncells / den,
                               4).alias("ratio_to_mean"))
               .orderBy("cell"))


def ivfpq_index_occupancy(spark: SparkSession, index_path: str
                          ) -> DataFrame:
    """:func:`ivfpq_cell_occupancy` over a persisted index (parquet or
    transactional codes, cell count from the coarse table)."""
    import os as _os

    coarse, _books = _ivfpq_load(spark, index_path)
    codes = _ivfpq_read_codes(spark, _os.path.join(index_path, "codes"))
    return ivfpq_cell_occupancy(codes, len(coarse))


def ivfpq_rebalance(corpus: DataFrame, index_path: str,
                    hot_factor: float = 2.0, id_col: str = "vec_id",
                    vec_col: str = "embedding", quantize: int = 6,
                    max_rounds: int = 4) -> dict:
    """Split hot cells (``n_codes > hot_factor × mean``) in up to
    ``max_rounds`` split rounds until none remain — a 2-means split of
    a multi-blob hot cell may peel one blob per round (first-k Lloyd
    init starts both centers in the id-smallest blob), so bounding the
    per-cell scan is a short fixpoint loop, each round rewriting ONLY
    that round's split partitions."""
    out: dict = {"split": [], "n_reencoded": 0}
    _ivfpq_rebalance_recover(corpus.sparkSession, index_path)
    for _ in range(max(1, max_rounds)):
        r = _ivfpq_rebalance_once(corpus, index_path, hot_factor,
                                  id_col, vec_col, quantize)
        out["split"] += r["split"]
        out["n_reencoded"] += r["n_reencoded"]
        if not r["split"]:
            break
    return out


def _ivfpq_rebalance_once(corpus: DataFrame, index_path: str,
                          hot_factor: float = 2.0,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          quantize: int = 6) -> dict:
    """Split every hot cell (``n_codes > hot_factor × mean``) into two
    and rewrite ONLY those cells' partitions.

    Skewed ingest concentrates codes in few cells (deltas assign
    against frozen centers) and serve degrades toward scanning one
    giant cell.  The fix that actually bounds the per-cell scan is
    SPLITTING the cell — more coarse centers where the mass is; the
    r9-VERDICT sketch of per-cell codebook retraining would improve
    quantization inside the hot cell but not shrink it, so this
    implements the split (global residual books unchanged — the ADC
    serve path and index format stay identical).

    Per hot cell: a deterministic 2-means (the x108 Lloyd, first-2
    init) on the cell's RAW vectors — its membership read from the
    STORED codes rows and joined to ``corpus`` by id (never a fresh
    re-assignment, which disagrees with storage near cell boundaries
    and would drop/duplicate rows across the rewrite), so the caller
    passes the corpus INCLUDING any ``ivfpq_index_add`` deltas
    (ValueError if any indexed id is missing) — replaces the center
    with sub-center 0 and appends sub-center 1 as a NEW cell id; the
    cell's vectors re-encode their residuals against their new center
    through the UNCHANGED global books.  IO: one id-join pass over the
    corpus, a 2-center Lloyd per hot cell (k×dim partials, never
    vectors), and a rewrite of exactly the split partitions (dynamic
    partition overwrite; ONE keyed merge commit on a transactional
    index).

    Crash window (r12: CODES commit first, coarse after): a crash in
    between leaves the split cells' codes encoded against sub-centers
    the coarse table doesn't know — the new sub-blob is invisible to
    routing and the old cell's distances are degraded until repaired.
    Codes-first is the order that keeps CONCURRENT INGEST safe: an
    ``ivfpq_index_add`` assigns against whatever coarse is on disk,
    so the pre-r12 coarse-first order meant an aborted attempt's
    transient split geometry could strand concurrent rows in cells
    that no longer exist (and every failed retry leaked a phantom
    empty sub-cell).  True atomicity over both tables needs one
    metadata root — the graduate-to-Iceberg point.  The window is
    OBSERVABLE and SELF-HEALING: a ``_rebalance_pending.json`` marker
    (split plan + the center PATCHES + timestamp) is written
    atomically before the codes commit and removed after the coarse
    lands; serving/ops poll :func:`ivfpq_rebalance_pending`, and the
    next rebalance run's :func:`_ivfpq_rebalance_recover` completes
    the coarse write from the marker's patches (or drops a stale
    marker whose codes never landed).  On the transactional index the
    codes rewrite itself is a single atomic merge commit.

    Concurrent ingest (r11): on a transactional index the re-encode is
    derived from a PINNED snapshot of the codes table, and the merge
    commit carries a precondition ``parent == pinned`` — an
    ``ivfpq_index_add`` landing between the membership read and the
    commit would otherwise have its rows REPLACED AWAY by the cell-
    keyed upsert (the lost update the generic rebase-retry cannot see,
    because the staleness is in the replacement ROWS, not the file
    list).  r12: the head is re-checked immediately before the coarse
    overwrite (a stale pin bails with NOTHING written), and a merge
    abort RESTORES the pre-attempt coarse table — failed retries
    leave no orphan sub-centers, and a final CommitConflict leaves
    the coarse geometry exactly what the stored codes measure
    against.  A failed precondition aborts the attempt and the whole
    round recomputes from the new head (membership re-read includes
    the concurrent rows); up to 5 attempts, then
    :class:`~datum_spark.sources.snapshots.CommitConflict`.

    Returns ``{"split": [(old_cell, new_cell), ...],
    "n_reencoded": int}`` (no-op → empty list)."""
    from ..sources.snapshots import CommitConflict

    for _ in range(5):
        r = _ivfpq_rebalance_attempt(corpus, index_path, hot_factor,
                                     id_col, vec_col, quantize)
        if r is not None:
            return r
    raise CommitConflict(
        "ivfpq_rebalance lost the ingest race 5 times — the codes "
        "table is being appended faster than a round recomputes")


def _ivfpq_rebalance_recover(spark, index_path: str) -> bool:
    """Close a crashed rebalance's half-applied window (r12).

    The commit order is codes-first (see
    :func:`_ivfpq_rebalance_attempt`), so the only half-applied state
    a crash can leave is CODES COMMITTED, COARSE NOT — rows encoded
    against sub-centers the coarse table doesn't know.  The pending
    marker carries the center PATCHES; if the codes head actually
    contains the marker's new cell ids, apply the patches (replace
    the split cell's center, append the new ones) and close the
    window; if the codes never landed, the marker is stale — drop it
    (nothing was written).  Legacy markers without patches (pre-r12
    coarse-first format) are dropped too: their re-run path converges
    by recomputing from the stored codes.  Returns True when a
    repair was applied."""
    import json as _json
    import os as _os

    marker = _os.path.join(index_path, "_rebalance_pending.json")
    if not _os.path.exists(marker):
        return False
    try:
        with open(marker) as fh:
            doc = _json.load(fh)
    except (OSError, ValueError):
        return False
    patches = doc.get("patches")
    repaired = False
    if patches:
        coarse, _books = _ivfpq_load(spark, index_path)
        new_ids = [p["cell"] for p in patches
                   if p["cell"] >= len(coarse)]
        if new_ids:
            codes_path = _os.path.join(index_path, "codes")
            if _os.path.isdir(_os.path.join(codes_path, "_manifests")):
                from ..sources.snapshots import SnapshotTable

                head = SnapshotTable(spark, codes_path).read()
            else:
                head = _ivfpq_read_codes(spark, codes_path)
            landed = head.filter(F.col("cell").isin(
                [int(c) for c in new_ids])).limit(1).count() > 0
            if landed:
                cells = [list(c) for c in coarse]
                for p in sorted(patches, key=lambda p: p["cell"]):
                    c = int(p["cell"])
                    center = [float(x) for x in p["center"]]
                    if c < len(cells):
                        cells[c] = center
                    elif c == len(cells):
                        cells.append(center)
                spark.createDataFrame(
                    [(i, cc) for i, cc in enumerate(cells)],
                    "cell int, center array<double>").coalesce(1) \
                    .write.mode("overwrite") \
                    .parquet(_os.path.join(index_path, "coarse"))
                repaired = True
    try:
        _os.unlink(marker)
    except OSError:
        pass
    return repaired


def _ivfpq_rebalance_attempt(corpus: DataFrame, index_path: str,
                             hot_factor: float, id_col: str,
                             vec_col: str, quantize: int
                             ) -> dict | None:
    """One rebalance attempt against a pinned codes snapshot; returns
    None when a concurrent commit invalidated the re-encode (the merge
    precondition failed) — the caller recomputes from the new head."""
    import json as _json
    import os as _os
    import time as _time

    from .clustering import _verifiable_fit

    spark = corpus.sparkSession
    coarse, books = _ivfpq_load(spark, index_path)
    rotation = _ivfpq_load_rotation(index_path)
    ncells = len(coarse)
    codes_path = _os.path.join(index_path, "codes")
    txn = _os.path.isdir(_os.path.join(codes_path, "_manifests"))
    base_version = None
    if txn:
        from ..sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, codes_path)
        base_version = t.current_version()
        occ_src = t.read(version=base_version)
    else:
        occ_src = _ivfpq_read_codes(spark, codes_path)
    occ = {r["cell"]: r["n_codes"]
           for r in ivfpq_cell_occupancy(occ_src, ncells).collect()}
    total = sum(occ.values())
    mean = total / max(1, ncells)
    hot = sorted(c for c, n in occ.items() if n > hot_factor * mean)
    if not hot:
        return {"split": [], "n_reencoded": 0}

    v = (corpus.select(F.col(id_col).alias("__id"),
                       F.col(vec_col).cast("array<double>").alias("__e"))
               .filter(F.col("__e").isNotNull()))
    # membership = the STORED codes rows of the hot cells, joined back
    # to the corpus by id — NOT a fresh global re-assignment, which
    # would disagree with storage for vectors near a cell boundary
    # (and after a prior split round) and silently drop or duplicate
    # them across the delete/rewrite pair
    id_out = occ_src.columns[0] if occ_src.columns[0] != "cell" \
        else [c for c in occ_src.columns
              if c != "cell" and not c.startswith("code_")][0]
    members = (occ_src.filter(F.col("cell").isin(
                   [int(c) for c in hot]))
               .select(F.col(id_out).alias("__id"),
                       F.col("cell").alias("__cell")))
    n_members = members.count()
    assigned = members.join(v, "__id").persist()
    agg = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("__id").alias("nd")).first()
    if int(agg["nd"]) < n_members:
        assigned.unpersist()
        raise ValueError(
            "corpus does not cover every indexed vector of the hot "
            "cells — rebalance re-encodes from raw vectors, so pass "
            "the corpus INCLUDING all ivfpq_index_add deltas")
    if int(agg["n"]) > int(agg["nd"]):
        assigned.unpersist()
        raise ValueError(
            "corpus has duplicate rows for indexed ids — a duplicated "
            "id would be re-encoded twice (and could mask a missing "
            "one); deduplicate the corpus by id first")
    new_coarse = [list(c) for c in coarse]
    split: list[tuple[int, int]] = []
    pieces = []
    try:
        for c in hot:
            cell_v = assigned.filter(F.col("__cell") == int(c)) \
                             .select("__id", "__e")
            _cv, two, _ = _verifiable_fit(cell_v, "__id", "__e", 2, 2,
                                          quantize)
            if len(two) < 2 or list(two[0]) == list(two[1]):
                continue     # degenerate (all-identical vectors): a
                             # duplicate center would never drain the
                             # cell — leave it; the fixpoint loop stops
                             # on the empty-split round
            new_id = len(new_coarse)
            new_coarse[c] = [float(x) for x in two[0]]
            new_coarse.append([float(x) for x in two[1]])
            split.append((int(c), new_id))
            sub = [list(two[0]), list(two[1])]
            enc = (_ivfpq_code_cols(
                _maybe_rotate_resid(_ivfpq_cells(cell_v, sub, quantize),
                                    rotation, quantize),
                books, quantize)
                .select("__id",
                        F.when(F.col("__cell") == 0, F.lit(int(c)))
                         .otherwise(F.lit(new_id)).cast("int")
                         .alias("cell"),
                        *[f"code_{s}" for s in range(len(books))]))
            pieces.append(enc)
        if not split:
            return {"split": [], "n_reencoded": 0}
        from functools import reduce

        new_codes = reduce(lambda a, b: a.unionByName(b), pieces)
        new_codes = new_codes.withColumnRenamed("__id", id_out) \
            .select(id_out, "cell",
                    *[f"code_{s}" for s in range(len(books))])
        # Narrow the race BEFORE any write lands: if a concurrent
        # commit already moved the codes head past the pinned
        # snapshot, this attempt's merge precondition is guaranteed
        # to fail — bail out now with nothing written (r12).
        if txn and t.current_version() != base_version:
            return None

        # marker FIRST (atomic rename): between here and the marker
        # removal the index may be half-applied (codes committed,
        # coarse not) — ops detect it via ivfpq_rebalance_pending
        # instead of silently degraded recall, and the marker carries
        # the CENTER PATCHES so recovery can complete the coarse
        # write after a crash (see _ivfpq_rebalance_recover)
        marker = _os.path.join(index_path, "_rebalance_pending.json")
        mtmp = marker + ".tmp"
        patches = []
        for old, new in split:
            patches.append({"cell": int(old),
                            "center": new_coarse[old]})
            patches.append({"cell": int(new),
                            "center": new_coarse[new]})
        with open(mtmp, "w") as fh:
            _json.dump({"split": [[int(a), int(b)] for a, b in split],
                        "patches": patches,
                        "written_at": _time.time()}, fh)
            fh.flush()
            _os.fsync(fh.fileno())
        _os.replace(mtmp, marker)
        # CODES FIRST, coarse only after a successful commit (r12):
        # the old coarse-first order leaked a phantom empty sub-cell
        # on every failed-precondition retry, and — worse — a
        # concurrent ivfpq_index_add assigns its vectors against
        # whatever coarse table is on disk, so a transient split
        # geometry that later rolls back would strand those rows in
        # cells that no longer exist.  With codes-first, an aborted
        # attempt has written NOTHING: concurrent adds always
        # assigned against the stable pre-split geometry.
        n = new_codes.persist().count()
        try:
            if txn:
                # ONE merge commit keyed on CELL: new_codes carries the
                # COMPLETE re-encode of every split cell, so replacing
                # by cell reproduces delete+append atomically — never a
                # gap where the split cells are missing from the head —
                # and the codes files are range-clustered by cell, so
                # the per-file cell stats prune the rewrite to exactly
                # the split cells' files (an id-keyed merge would span
                # the whole interleaved id range and rewrite O(table)).
                # The precondition pins the commit to the snapshot the
                # membership was read from: a concurrent index_add into
                # a split cell would otherwise be replaced away.
                v = t.merge(new_codes.repartitionByRange(
                    max(1, min(len(new_coarse), 32)), "cell"),
                    keys=["cell"],
                    precondition=lambda parent: parent == base_version)
                if v is None:
                    # concurrent commit won the race: NOTHING was
                    # written (codes unchanged, coarse untouched) —
                    # drop the marker and recompute from the new head
                    try:
                        _os.unlink(marker)
                    except OSError:
                        pass
                    return None
            else:
                with_dyn = spark.conf.get(
                    "spark.sql.sources.partitionOverwriteMode", "static")
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", "dynamic")
                try:
                    new_codes.write.mode("overwrite") \
                        .partitionBy("cell").parquet(codes_path)
                finally:
                    spark.conf.set(
                        "spark.sql.sources.partitionOverwriteMode",
                        with_dyn)
        finally:
            new_codes.unpersist()
        spark.createDataFrame(
            [(i, [float(x) for x in cc])
             for i, cc in enumerate(new_coarse)],
            "cell int, center array<double>").coalesce(1) \
            .write.mode("overwrite") \
            .parquet(_os.path.join(index_path, "coarse"))
        try:
            _os.unlink(marker)       # both tables committed: window closed
        except OSError:
            pass
        return {"split": split, "n_reencoded": int(n)}
    finally:
        assigned.unpersist()


def ivfpq_rebalance_pending(index_path: str) -> dict | None:
    """The half-applied-rebalance probe: returns the pending marker's
    ``{"split": [[old, new], ...], "written_at": ts}`` when a
    rebalance crashed between its coarse commit and its codes commit
    (see :func:`_ivfpq_rebalance_once`'s crash-window note), else
    None.  Re-running :func:`ivfpq_rebalance` clears it."""
    import json as _json2
    import os as _os2

    try:
        with open(_os2.path.join(index_path,
                                 "_rebalance_pending.json")) as fh:
            return _json2.load(fh)
    except (OSError, ValueError):
        return None


def hard_negatives(queries: DataFrame, corpus: DataFrame, k: int = 5,
                   sim_lo: float = 0.3, sim_hi: float = 0.9,
                   query_id: str = "vec_id",
                   query_vec: str = "embedding",
                   corpus_id: str = "vec_id",
                   corpus_vec: str = "embedding",
                   round_to: int = 6) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    retrieval-training recipe): for every query, the ``k`` MOST
    similar corpus vectors inside the band ``sim_lo ≤ cosine <
    sim_hi`` — similar enough to be confusable (hard), below the
    near-duplicate ceiling (so positives/duplicates never leak into
    the negative set; the band top is the same threshold a dedup pass
    would use).  Self-pairs (same id) are excluded.

    Returns ``(query_id, neighbor_id, cosine, rnk)``, rank 1 = hardest
    (cosine DESC, id ASC — deterministic, replayable).  The band
    filter runs BEFORE ranking, so the window ranks only in-band
    candidates.

    Scale shape: :func:`cosine_top_k`'s orientation — query side
    broadcast, corpus streams, map-side normalization; at corpus
    scale swap the scoring stage for the IVF/LSH paths and keep the
    same band + rank (the band is a filter on any scorer's output)."""
    q = (queries.filter(_nonzero_vec(F.col(query_vec)))
         .select(F.col(query_id).alias("query_id"),
                 _normalize_col(F.col(query_vec).cast("array<double>"))
                 .alias("__qv")))
    c = (corpus.filter(_nonzero_vec(F.col(corpus_vec)))
         .select(F.col(corpus_id).alias("neighbor_id"),
                 _normalize_col(F.col(corpus_vec).cast("array<double>"))
                 .alias("__cv")))
    cos = F.round(_dot_expr(F.col("__qv"), F.col("__cv")), round_to)
    scored = (F.broadcast(q).crossJoin(c)
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", cos.alias("cosine"))
              .filter((F.col("cosine") >= float(sim_lo))
                      & (F.col("cosine") < float(sim_hi))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k))


def feature_hash_embedding(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", dim: int = 64,
                           salt: str = "fh",
                           normalize: bool = True) -> DataFrame:
    """Feature-hashing document embeddings (Weinberger et al. 2009):
    every word hashes to a dimension (md5 % dim) with an md5-derived
    ±1 sign, counts accumulate per dimension, optionally L2-normalize
    — a model-free, deterministic, engine-portable text embedding
    that bridges the text tables into the similarity family
    (:func:`cosine_top_k`, :func:`semdedup`, the LSH/IVF paths) when
    no learned embedding column exists.

    Returns ``(id_col, embedding array<double>)``; zero-word
    documents emit no row (nothing to hash).  With
    ``normalize=False`` the components are exact INTEGERS (signed
    count sums), so downstream dot products are order-immune exact
    arithmetic — the spelling an external engine replays bit-for-bit.

    Scale shape: one (id, dimension) count aggregation (map-side
    combined; at most ``dim`` rows per doc), then a per-doc
    map-assembly into the dense vector — no UDF, no vocabulary state,
    O(corpus tokens) total."""
    from ..operators.sampling import md5_bucket

    words = (df.select(F.col(id_col).alias("__id"),
                       F.explode(F.filter(
                           F.split(F.lower(F.col(text_col)), r"\s+"),
                           lambda t: t != "")).alias("__w")))
    idx = (md5_bucket(F.col("__w"), salt) % dim).cast("int")
    sign = F.when(md5_bucket(F.col("__w"), salt + "-s") % 2 == 0,
                  F.lit(1)).otherwise(F.lit(-1))
    comp = (words.select("__id", idx.alias("__i"), sign.alias("__s"))
                 .groupBy("__id", "__i")
                 .agg(F.sum("__s").alias("__v")))
    m = (comp.groupBy("__id")
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("__i", "__v"))).alias("__m")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("__m", i), F.lit(0))
                   .cast("double"))
    out = m.select(F.col("__id").alias(id_col), dense.alias("embedding"))
    if not normalize:
        return out
    norm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x))
    # hoist the norm out of the per-element lambda via array_repeat —
    # interpreted HOF lambdas re-evaluate embedded aggregates per
    # element (the _normalize_col O(dim²) lesson); identical divisions
    unit = F.when(norm > 0, F.zip_with(
        "embedding", F.array_repeat(norm, F.size("embedding")),
        lambda x, n: F.round(x / n, 6)))
    return out.select(id_col, unit.alias("embedding"))


def _jl_sign(salt: str, i: int, j: int) -> int:
    """±1 from the md5 of 'jl-<salt>-<i>-<j>' (first hex digit even →
    +1) — the portable convention any engine re-derives."""
    import hashlib
    h = hashlib.md5(f"jl-{salt}-{i}-{j}".encode()).hexdigest()
    return 1 if h[0] in "02468ace" else -1


def jl_project(df: DataFrame, vec_col: str = "embedding",
               out_dim: int = 16, salt: str = "jl",
               in_dim: int | None = None,
               quantize: int = 6) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a DETERMINISTIC
    ±1 sign matrix (Achlioptas 2003's database-friendly variant):
    ``y_j = Σ_i x_i · s_ij / √k`` with ``s_ij`` derived from md5 — no
    RNG, no stored matrix, any engine re-derives every sign.  The JL
    lemma bounds pairwise-distance distortion at k = O(log n / ε²);
    use as the cheap pre-reduction in front of the exact/LSH/IVF
    paths when the raw dimension is the cost driver.

    Returns ``df`` with ``vec_col`` REPLACED by the k-dim projection
    (each component rounded to ``quantize`` dp).  The sign matrix is
    built driver-side (d × k ints) and embedded as plan literals —
    one map-side expression, no shuffle, no UDF."""
    import math

    if in_dim is None:
        row = df.select(F.size(vec_col).alias("d")).first()
        in_dim = int(row["d"])
    rk = math.sqrt(out_dim)
    cols = []
    for j in range(out_dim):
        signs = "array(" + ",".join(
            f"{_jl_sign(salt, i, j)}D" for i in range(in_dim)) + ")"
        cols.append(
            f"round(aggregate(zip_with({vec_col}, {signs}, "
            f"(a, b) -> a * b), cast(0.0 as double), "
            f"(acc, x) -> acc + x) / {rk!r}D, {int(quantize)})")
    proj = F.expr("array(" + ",".join(cols) + ")")
    return df.withColumn(vec_col, proj)
