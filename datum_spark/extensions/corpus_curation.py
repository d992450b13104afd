"""Round-6 corpus-curation entries: contamination, bulk BM25, exact-collapse clustering, covariance, source overlap/retention."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ..operators import asof as asof_mod  # noqa: F401
from ..operators import dedup as dedup_mod  # noqa: F401
from ..operators import similarity as sim_mod  # noqa: F401
from ..operators import text as text_mod  # noqa: F401
from ..tierb import load  # noqa: F401
from ..util import ensure_parallelism  # noqa: F401

from ._shared import load_docs, load_emb, load_par, x  # noqa: F401


@x("x151_contamination", """
WITH w0 AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(ws) - 4),
           i -> array_to_string(ws[i:i+4], ' '))) AS gs
  FROM w0
), ev AS (
  SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id < 100
), cg AS (
  SELECT doc_id, unnest(gs) AS gram, len(gs) AS n_grams
  FROM g WHERE doc_id >= 100
), hits AS (
  SELECT doc_id, ANY_VALUE(n_grams) AS n_grams,
         COUNT(DISTINCT cg.gram) AS n_hits
  FROM cg JOIN ev ON cg.gram = ev.gram
  GROUP BY doc_id
), evdocs AS (
  SELECT cg.doc_id, COUNT(DISTINCT e2.doc_id) AS n_eval_docs
  FROM cg JOIN (SELECT doc_id, unnest(gs) AS gram FROM g
                WHERE doc_id < 100) e2
       ON cg.gram = e2.gram
  GROUP BY cg.doc_id
)
SELECT h.doc_id, CAST(n_grams AS INTEGER) AS n_grams,
       CAST(n_hits AS BIGINT) AS n_hits,
       ROUND(n_hits / n_grams, 4) AS contamination,
       CAST(n_eval_docs AS BIGINT) AS n_eval_docs
FROM hits h JOIN evdocs USING (doc_id)
ORDER BY doc_id""")
def x151(spark, sf):
    """Benchmark decontamination screen: corpus docs (doc_id ≥ 100)
    sharing any word 5-gram with the held-out eval slice (doc_id < 100)
    — the standard pre-training hygiene pass (13-gram collision in
    production; 5 here so the ~54-word fixture docs carry a useful gram
    count).  The eval side broadcasts (benchmarks are small by
    construction), making the gram match a map-side join over the corpus
    inverted index; the only corpus exchange is the per-doc hit
    aggregation."""
    docs = load_docs(spark, sf)
    corpus = docs.filter(F.col("doc_id") >= 100)
    eval_df = docs.filter(F.col("doc_id") < 100)
    return (dedup_mod.benchmark_contamination(corpus, eval_df, "doc_id",
                                              "text", n=5, min_hits=1)
            .withColumn("n_grams", F.col("n_grams").cast("int"))
            .orderBy("doc_id"))


@x("x152_bm25_retrieval", """
WITH q(query_id, query_text) AS (
  VALUES (1, 'join hash table'), (2, 'scan filter column'),
         (3, 'window agg batch'), (4, 'stream merge spark')
), qt AS (
  SELECT DISTINCT query_id, unnest(list_distinct(list_filter(
           string_split_regex(lower(query_text), '[^a-z0-9]+'),
           x -> x <> ''))) AS term
  FROM q
), d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents WHERE doc_id < 300
), stats AS (
  SELECT COUNT(*) AS n, AVG(len(ws)) AS avgdl FROM d
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
    SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM d
  ) WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT qt.query_id, tf.doc_id,
         ROUND(SUM( LN((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75
                                     + 0.75 * tf.dl / stats.avgdl))),
               4) AS score
  FROM tf JOIN dfq USING (term) JOIN qt USING (term) CROSS JOIN stats
  GROUP BY qt.query_id, tf.doc_id
), rk AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rnk
  FROM scored
)
SELECT query_id, doc_id, score, CAST(rnk AS INTEGER) AS rnk
FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""")
def x152(spark, sf):
    """Bulk BM25 retrieval: top-5 documents for each of 4 queries in one
    job — the batch search-evaluation / hard-negative-mining shape.  The
    query vocabulary broadcasts, so corpus postings are filtered
    map-side and the only corpus exchange is the (doc, term) partial
    count; ranking is per-query (rounded score before rank — the x140
    cross-engine order discipline)."""
    from ..operators.keywords import bm25_topk

    docs = load_docs(spark, sf).filter(F.col("doc_id") < 300)
    qdf = spark.createDataFrame(
        [(1, "join hash table"), (2, "scan filter column"),
         (3, "window agg batch"), (4, "stream merge spark")],
        "query_id int, query_text string")
    return (bm25_topk(docs, qdf, k=5)
            .withColumn("rnk", F.col("rnk").cast("int"))
            .orderBy("query_id", "rnk"))


@x("x153_near_dup_clusters", """
WITH RECURSIVE d AS (
  SELECT doc_id, text, lower(text) AS t FROM documents WHERE doc_id < 300
), grp AS (
  SELECT doc_id, md5(text) AS th FROM d
), reps AS (
  SELECT th, MIN(doc_id) AS rep FROM grp GROUP BY th
), m AS (
  SELECT g.doc_id, r.rep FROM grp g JOIN reps r USING (th)
), rd AS (
  SELECT d.doc_id, d.t FROM d JOIN reps r ON d.doc_id = r.rep
), hs AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                          i -> substring(t, i, 5)),
           s -> CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT)) AS hv
  FROM rd
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 16), i -> list_min(
           list_transform(hv,
             h -> (h * (2*i + 1) + 7919*i) % 2305843009213693951))) AS sg
  FROM hs
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE (list_slice(a.sg, 1, 4) = list_slice(b.sg, 1, 4)
      OR list_slice(a.sg, 5, 8) = list_slice(b.sg, 5, 8)
      OR list_slice(a.sg, 9, 12) = list_slice(b.sg, 9, 12)
      OR list_slice(a.sg, 13, 16) = list_slice(b.sg, 13, 16))
    AND list_sum(list_transform(range(1, 17),
          i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION SELECT id_b, id_a FROM p
), reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
), comp AS (
  SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u
)
SELECT m.doc_id, COALESCE(c.component, m.rep) AS cluster_id
FROM m LEFT JOIN comp c ON m.rep = c.node
ORDER BY m.doc_id""")
def x153(spark, sf):
    """End-to-end near-dup clustering with exact-duplicate collapse —
    the production dedup composition the 100× stress motivated
    (SCALE.md §8): identical texts collapse by md5 BEFORE LSH, MinHash
    runs over distinct texts only (replica floods can't blow up band
    buckets or pair volume), clusters form at representative level, and
    every doc maps back through its text-hash group.  Fully portable
    (md5 hash family end to end), so the oracle re-derives exact groups,
    signatures, banded pairs, AND the transitive closure in pure SQL."""
    docs = load_docs(spark, sf).filter(F.col("doc_id") < 300)
    return (dedup_mod.near_dup_clusters(docs, "doc_id", "text",
                                        num_hashes=16, bands=4,
                                        threshold=0.5)
            .orderBy("doc_id"))


@x("x154_embedding_covariance", """
WITH a AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
)
SELECT ai.i AS i, aj.i AS j, ROUND(covar_pop(ai.x, aj.x), 6) AS cov
FROM a ai JOIN a aj ON ai.vec_id = aj.vec_id AND ai.i <= aj.i
GROUP BY 1, 2 ORDER BY 1, 2""")
def x154(spark, sf):
    """Embedding covariance matrix (upper triangle, 1-based dims) — the
    decorrelation/anisotropy audit before PCA-whitening or product
    quantization.  One Gram partial per Arrow batch (NumPy BLAS inside
    mapInPandas), partition-count-bounded driver combine; the oracle's
    covar_pop over a zipped double-unnest self-join re-derives every
    cell (the Spark side computes the identical Σxxᵀ/n − μμᵀ)."""
    from ..operators.similarity import embedding_covariance

    emb = load_emb(spark, sf)
    return (embedding_covariance(emb, "embedding", round_to=6)
            .orderBy("i", "j"))


@x("x155_source_overlap", """
WITH d AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 300
), hs AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                          i -> substring(t, i, 5)),
           s -> CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT)) AS hv
  FROM d
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 16), i -> list_min(
           list_transform(hv,
             h -> (h * (2*i + 1) + 7919*i) % 2305843009213693951))) AS sg
  FROM hs
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE (list_slice(a.sg, 1, 4) = list_slice(b.sg, 1, 4)
      OR list_slice(a.sg, 5, 8) = list_slice(b.sg, 5, 8)
      OR list_slice(a.sg, 9, 12) = list_slice(b.sg, 9, 12)
      OR list_slice(a.sg, 13, 16) = list_slice(b.sg, 13, 16))
    AND list_sum(list_transform(range(1, 17),
          i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5
), sp AS (
  SELECT least(da.source, db.source) AS source_lo,
         greatest(da.source, db.source) AS source_hi
  FROM p JOIN documents da ON p.id_a = da.doc_id
         JOIN documents db ON p.id_b = db.doc_id
)
SELECT source_lo, source_hi, COUNT(*) AS n_pairs,
       ROUND(COUNT(*) / (SELECT COUNT(*) FROM sp), 4) AS share
FROM sp GROUP BY 1, 2 ORDER BY source_lo, source_hi""")
def x155(spark, sf):
    """Cross-source duplication matrix: near-dup pair counts between
    every (source, source) combination — the corpus-curation readout
    that says WHICH crawls/dumps mirror each other (high off-diagonal
    share → drop or downweight one side before training).  Composes the
    portable md5 MinHash pairs (x62's subset) with two source lookups;
    the pair side is tiny relative to the corpus, so both joins hash on
    doc id and the matrix aggregation is |sources|²-bounded."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 300)
    pairs = dedup_mod.minhash_near_dups_md5(docs, "doc_id", "text",
                                            num_hashes=16, bands=4,
                                            threshold=0.5)
    src = docs.select("doc_id", "source")
    sp = (pairs
          .join(src.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("source", "__sa"), "id_a")
          .join(src.withColumnRenamed("doc_id", "id_b")
                   .withColumnRenamed("source", "__sb"), "id_b")
          .select(F.least("__sa", "__sb").alias("source_lo"),
                  F.greatest("__sa", "__sb").alias("source_hi")))
    agg = sp.groupBy("source_lo", "source_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"))
    # share over the |sources|²-bounded aggregate — an unpartitioned
    # window here is fine (and avoids recomputing the pair generation
    # for a separate total-count job)
    w = Window.partitionBy()
    return (agg.withColumn("share", F.round(F.col("n_pairs")
                                            / F.sum("n_pairs").over(w), 4))
               .orderBy("source_lo", "source_hi"))


@x("x156_lsh_calibration", """
WITH d AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 300
), ss AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(length(t) - 4, 1) + 1),
           i -> substring(t, i, 5))) AS sh
  FROM d
), hs AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                          i -> substring(t, i, 5)),
           s -> CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT)) AS hv
  FROM d
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 16), i -> list_min(
           list_transform(hv,
             h -> (h * (2*i + 1) + 7919*i) % 2305843009213693951))) AS sg
  FROM hs
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         list_sum(list_transform(range(1, 17),
           i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0
           AS est
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE (list_slice(a.sg, 1, 4) = list_slice(b.sg, 1, 4)
      OR list_slice(a.sg, 5, 8) = list_slice(b.sg, 5, 8)
      OR list_slice(a.sg, 9, 12) = list_slice(b.sg, 9, 12)
      OR list_slice(a.sg, 13, 16) = list_slice(b.sg, 13, 16))
    AND list_sum(list_transform(range(1, 17),
          i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5
), e AS (
  SELECT p.est,
         len(list_intersect(sa.sh, sb.sh))
         / (len(sa.sh) + len(sb.sh)
            - len(list_intersect(sa.sh, sb.sh))) AS exact
  FROM p JOIN ss sa ON p.id_a = sa.doc_id
         JOIN ss sb ON p.id_b = sb.doc_id
)
SELECT CAST(FLOOR(ABS(est - exact) * 10) AS INTEGER) AS err_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(est), 4) AS avg_est,
       ROUND(AVG(exact), 4) AS avg_exact
FROM e GROUP BY 1 ORDER BY err_decile""")
def x156(spark, sf):
    """MinHash estimator calibration: every reported near-dup pair's
    estimated Jaccard joined with its EXACT shingle Jaccard, bucketed by
    absolute-error decile — the audit that says whether the LSH
    signature width (16 hashes here) is adequate before trusting the
    dedup at scale.  The exact side joins the (cached) shingle arrays
    back by pair id — only surviving pairs pay for exact verification,
    never the corpus²."""
    from ..operators.dedup import _char_shingles

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 300)
    pairs = dedup_mod.minhash_near_dups_md5(docs, "doc_id", "text",
                                            num_hashes=16, bands=4,
                                            threshold=0.5)
    sh = docs.select(F.col("doc_id"),
                     _char_shingles(F.col("text"), 5).alias("sh"))
    joined = (pairs
              .join(sh.select(F.col("doc_id").alias("id_a"),
                              F.col("sh").alias("__sa")), "id_a")
              .join(sh.select(F.col("doc_id").alias("id_b"),
                              F.col("sh").alias("__sb")), "id_b"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    exact = inter / (F.size("__sa") + F.size("__sb") - inter)
    return (joined
            .select(F.col("est_jaccard").alias("est"),
                    exact.alias("exact"))
            .groupBy(F.floor(F.abs(F.col("est") - F.col("exact")) * 10)
                      .cast("int").alias("err_decile"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.avg("est"), 4).alias("avg_est"),
                 F.round(F.avg("exact"), 4).alias("avg_exact"))
            .orderBy("err_decile"))


@x("x157_dedup_retention", """
WITH RECURSIVE d AS (
  SELECT doc_id, text, lower(text) AS t FROM documents WHERE doc_id < 300
), grp AS (
  SELECT doc_id, md5(text) AS th FROM d
), reps AS (
  SELECT th, MIN(doc_id) AS rep FROM grp GROUP BY th
), m AS (
  SELECT g.doc_id, r.rep FROM grp g JOIN reps r USING (th)
), rd AS (
  SELECT d.doc_id, d.t FROM d JOIN reps r ON d.doc_id = r.rep
), hs AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                          i -> substring(t, i, 5)),
           s -> CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT)) AS hv
  FROM rd
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 16), i -> list_min(
           list_transform(hv,
             h -> (h * (2*i + 1) + 7919*i) % 2305843009213693951))) AS sg
  FROM hs
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE (list_slice(a.sg, 1, 4) = list_slice(b.sg, 1, 4)
      OR list_slice(a.sg, 5, 8) = list_slice(b.sg, 5, 8)
      OR list_slice(a.sg, 9, 12) = list_slice(b.sg, 9, 12)
      OR list_slice(a.sg, 13, 16) = list_slice(b.sg, 13, 16))
    AND list_sum(list_transform(range(1, 17),
          i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION SELECT id_b, id_a FROM p
), reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
), comp AS (
  SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u
), cl AS (
  SELECT m.doc_id, COALESCE(c.component, m.rep) AS cluster_id
  FROM m LEFT JOIN comp c ON m.rep = c.node
), tok AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS nt
  FROM documents WHERE doc_id < 300
)
SELECT t.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN cl.doc_id = cl.cluster_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(t.nt) AS BIGINT) AS tokens,
       CAST(SUM(CASE WHEN cl.doc_id = cl.cluster_id THEN t.nt ELSE 0 END)
            AS BIGINT) AS tokens_kept,
       ROUND(SUM(CASE WHEN cl.doc_id = cl.cluster_id THEN t.nt ELSE 0 END)
             / SUM(t.nt), 4) AS token_retention
FROM tok t JOIN cl ON t.doc_id = cl.doc_id
GROUP BY t.source ORDER BY t.source""")
def x157(spark, sf):
    """Per-source dedup retention report: how many documents and tokens
    each source keeps after exact-collapse near-dup clustering (keeper =
    the cluster's minimum-id member) — the curation readout that shows
    WHICH sources are mostly duplicates of the rest of the corpus before
    any mixing weights are chosen.  Composes x153's portable clustering
    with the x10 token count; one doc-keyed join and one source-keyed
    aggregate on top of the clustering cost."""
    from ..operators.dedup import near_dup_clusters

    docs = load_docs(spark, sf).filter(F.col("doc_id") < 300)
    clusters = near_dup_clusters(docs, "doc_id", "text",
                                 num_hashes=16, bands=4, threshold=0.5)
    tok = docs.select("doc_id", "source",
                      text_mod.token_count(F.col("text")).cast("long")
                              .alias("nt"))
    kept = F.when(F.col("doc_id") == F.col("cluster_id"), 1).otherwise(0)
    return (tok.join(clusters, "doc_id")
               .groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(kept).cast("long").alias("n_kept"),
                    F.sum("nt").alias("tokens"),
                    F.sum(F.col("nt") * kept).alias("tokens_kept"))
               .withColumn("token_retention",
                           F.round(F.col("tokens_kept") / F.col("tokens"),
                                   4))
               .orderBy("source"))




# round-8 additions: KMV bottom-k distinct sketches — the re-aggregable
# cardinality + set-algebra summary a 100 TB curation pipeline keeps per
# source/shard instead of re-scanning raw text (x85 holds the native
# HLL rollup; these are its AUDITABLE twin, bit-exact in the oracle,
# plus the union/intersection estimates HLL cannot give).

_SHINGLE_SQL = """
w AS (
  SELECT source, doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
), g AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(0, greatest(len(ws) - 3, 0) + 1),
                i -> array_to_string(list_slice(ws, i + 1, i + 3), ' ')))
           AS sh
  FROM w
), h AS (
  SELECT DISTINCT source,
         CAST(('0x' || substring(md5('kmv-' || sh), 1, 12)) AS BIGINT)
           AS hv
  FROM g
)"""


def _shingles3(spark, sf):
    """(source, sh): distinct 3-word shingles per source — the KMV
    element domain for x178/x179."""
    docs = load_docs(spark, sf)
    words = F.filter(F.split(F.lower("text"), r"\s+"),
                     lambda t: t != "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - 3, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(
        " ", F.slice(words, i + 1, 3)))
    return (docs.select("source", F.explode(sh).alias("sh"))
                .distinct())


@x("x178_kmv_distinct", f"""
WITH {_SHINGLE_SQL}, rk AS (
  SELECT source, hv,
         row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
  FROM h
), sk AS (
  SELECT source, MAX(hv) AS hk, CAST(COUNT(*) AS INT) AS kmv_n
  FROM rk WHERE rn <= 128 GROUP BY source
), ex AS (
  SELECT source, CAST(COUNT(DISTINCT sh) AS BIGINT) AS vocab_exact
  FROM g GROUP BY source
)
SELECT sk.source, ex.vocab_exact, sk.kmv_n,
       ROUND(CASE WHEN kmv_n < 128 THEN CAST(kmv_n AS DOUBLE)
                  ELSE CAST(127 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / hk END, 4) AS kmv_est,
       ROUND(CASE WHEN kmv_n < 128 THEN CAST(kmv_n AS DOUBLE)
                  ELSE CAST(127 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / hk END
             / ex.vocab_exact, 3) AS est_ratio
FROM sk JOIN ex USING (source) ORDER BY source""")
def x178(spark, sf):
    """Per-source distinct-shingle cardinality via the KMV bottom-k
    sketch (k=128), audited against the exact count — the per-shard
    vocabulary summary a curation pipeline stores at KB size and merges
    across shards instead of re-scanning text.  The 48-bit md5 hash
    makes the estimate itself a pure function of the data: the oracle
    re-derives the identical order statistic, not just a tolerance."""
    from ..operators.sketches import kmv_build, kmv_distinct_est
    from ..util import retain_cache

    sh = retain_cache(_shingles3(spark, sf))
    sk = kmv_build(sh, "sh", ["source"], k=128)
    ex = sh.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab_exact"))
    est = kmv_distinct_est(F.col("kmv"), 128)
    return (sk.join(ex, "source")
              .select("source", "vocab_exact", "kmv_n",
                      F.round(est, 4).alias("kmv_est"),
                      F.round(est / F.col("vocab_exact"), 3)
                       .alias("est_ratio"))
              .orderBy("source"))


@x("x179_kmv_setops", f"""
WITH {_SHINGLE_SQL}, rk AS (
  SELECT source, hv,
         row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
  FROM h WHERE source IN ('src0', 'src1', 'src2', 'src3')
), s AS (SELECT source, hv FROM rk WHERE rn <= 128),
srcs AS (SELECT DISTINCT source FROM s),
p AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
), u AS (
  SELECT p.sa, p.sb, s.hv,
         BOOL_OR(s.source = p.sa) AS ina,
         BOOL_OR(s.source = p.sb) AS inb
  FROM p JOIN s ON s.source IN (p.sa, p.sb)
  GROUP BY p.sa, p.sb, s.hv
), ku AS (
  SELECT sa, sb, hv, ina, inb,
         row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn
  FROM u
), m AS (
  SELECT sa, sb, MAX(hv) AS hk, COUNT(*) AS kn,
         SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS n_both
  FROM ku WHERE rn <= 128 GROUP BY sa, sb
), est AS (
  SELECT sa, sb,
         CASE WHEN kn < 128 THEN CAST(kn AS DOUBLE)
              ELSE CAST(127 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / hk END AS u_est,
         CAST(n_both AS DOUBLE) / kn AS j_est
  FROM m
), exact AS (
  SELECT a.source AS sa, b.source AS sb,
         CAST(COUNT(*) AS BIGINT) AS exact_intersect
  FROM g a JOIN g b ON a.sh = b.sh AND a.source < b.source
  WHERE a.source IN ('src0', 'src1', 'src2', 'src3')
    AND b.source IN ('src0', 'src1', 'src2', 'src3')
  GROUP BY 1, 2
), vocab AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM g
  WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY source
)
SELECT est.sa AS source_a, est.sb AS source_b,
       ROUND(u_est, 4) AS union_est,
       ROUND(j_est * u_est, 4) AS intersect_est,
       ROUND(j_est, 4) AS jaccard_est,
       va.v + vb.v - exact.exact_intersect AS exact_union,
       exact.exact_intersect
FROM est JOIN exact ON est.sa = exact.sa AND est.sb = exact.sb
JOIN vocab va ON va.source = est.sa
JOIN vocab vb ON vb.source = est.sb
ORDER BY source_a, source_b""")
def x179(spark, sf):
    """KMV set algebra between sources: union / intersection / Jaccard
    estimates for every pair among four sources, from the 128-hash
    sketches ALONE (Beyer et al. 2007), next to the exact values — the
    cross-shard overlap triage that answers "which dumps mirror each
    other" without an all-pairs shingle join.  Bit-exact oracle: DuckDB
    replays the merged bottom-k sample and the same order-statistic
    arithmetic."""
    from ..operators.sketches import kmv_build, kmv_set_estimates
    from ..util import retain_cache

    four = ["src0", "src1", "src2", "src3"]
    sh = retain_cache(_shingles3(spark, sf)
                      .filter(F.col("source").isin(four)))
    sk = kmv_build(sh, "sh", ["source"], k=128)
    a = sk.select(F.col("source").alias("source_a"),
                  F.col("kmv").alias("kmv_a"))
    b = sk.select(F.col("source").alias("source_b"),
                  F.col("kmv").alias("kmv_b"))
    pairs = a.join(b, F.col("source_a") < F.col("source_b"))
    est = kmv_set_estimates(F.col("kmv_a"), F.col("kmv_b"), 128)
    # exact union/intersection for the audit columns
    xa = sh.select(F.col("source").alias("source_a"), "sh")
    xb = sh.select(F.col("source").alias("source_b"), "sh")
    inter = (xa.join(xb, "sh")
               .filter(F.col("source_a") < F.col("source_b"))
               .groupBy("source_a", "source_b")
               .agg(F.count(F.lit(1)).alias("exact_intersect")))
    vocab = sh.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    va = vocab.select(F.col("source").alias("source_a"),
                      F.col("v").alias("va"))
    vb = vocab.select(F.col("source").alias("source_b"),
                      F.col("v").alias("vb"))
    return (pairs.withColumn("e", est)
                 .join(inter, ["source_a", "source_b"])
                 .join(va, "source_a").join(vb, "source_b")
                 .select("source_a", "source_b",
                         F.round(F.col("e.union_est"), 4)
                          .alias("union_est"),
                         F.round(F.col("e.intersect_est"), 4)
                          .alias("intersect_est"),
                         F.round(F.col("e.jaccard_est"), 4)
                          .alias("jaccard_est"),
                         (F.col("va") + F.col("vb")
                          - F.col("exact_intersect"))
                          .alias("exact_union"),
                         "exact_intersect")
                 .orderBy("source_a", "source_b"))


@x("x184_retrieval_metrics", """
WITH qd AS (
  SELECT doc_id AS query_id, text AS query_text, source AS qsrc
  FROM documents WHERE doc_id < 8
), qt AS (
  SELECT DISTINCT query_id, unnest(list_distinct(list_filter(
           string_split_regex(lower(query_text), '[^a-z0-9]+'),
           x -> x <> ''))) AS term
  FROM qd
), d AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents WHERE doc_id >= 100
), stats AS (
  SELECT COUNT(*) AS n, AVG(len(ws)) AS avgdl FROM d
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
    SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM d
  ) WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT qt.query_id, tf.doc_id,
         ROUND(SUM( LN((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75
                                     + 0.75 * tf.dl / stats.avgdl))),
               4) AS score
  FROM tf JOIN dfq USING (term) JOIN qt USING (term) CROSS JOIN stats
  GROUP BY qt.query_id, tf.doc_id
), rk AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rnk
  FROM scored
), top AS (
  SELECT rk.query_id, rk.doc_id, rk.rnk,
         CASE WHEN d.source = qd.qsrc THEN 1 ELSE 0 END AS rel
  FROM rk JOIN d ON rk.doc_id = d.doc_id
          JOIN qd ON rk.query_id = qd.query_id
  WHERE rk.rnk <= 10
), nrel AS (
  SELECT qd.query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
  FROM qd JOIN d ON d.source = qd.qsrc GROUP BY qd.query_id
), agg AS (
  SELECT query_id,
         SUM(rel * ln(2) / ln(rnk + 1.0)) AS dcg,
         MAX(rel / rnk) AS mrr,
         SUM(rel) AS hits
  FROM top GROUP BY query_id
), ideal AS (
  SELECT query_id, n_rel,
         list_sum(list_transform(range(1, least(n_rel, 10) + 1),
                                 i -> ln(2) / ln(i + 1.0))) AS idcg
  FROM nrel
)
SELECT q.query_id,
       COALESCE(ideal.n_rel, 0) AS n_rel,
       ROUND(CASE WHEN COALESCE(ideal.n_rel, 0) > 0
                  THEN COALESCE(agg.dcg, 0) / ideal.idcg
                  ELSE 0 END, 4) AS ndcg,
       ROUND(COALESCE(agg.mrr, 0), 4) AS mrr,
       ROUND(CASE WHEN COALESCE(ideal.n_rel, 0) > 0
                  THEN COALESCE(agg.hits, 0) / ideal.n_rel
                  ELSE 0 END, 4) AS recall
FROM (SELECT DISTINCT query_id FROM rk) q
LEFT JOIN agg ON q.query_id = agg.query_id
LEFT JOIN ideal ON q.query_id = ideal.query_id
ORDER BY q.query_id""")
def x184(spark, sf):
    """Retrieval evaluation over the BM25 ranker: NDCG@10 / MRR@10 /
    recall@10 per query, with same-source membership as the relevance
    labels (the mine-then-measure loop of retrieval training data:
    x152 builds the rankings, this grades them).  Evaluation cost
    rides on the top-k table, never the corpus; the oracle re-derives
    BM25, the ranks and every metric term closed-form."""
    from ..operators.keywords import bm25_topk, ranking_metrics

    docs = load_docs(spark, sf)
    qd = (docs.filter(F.col("doc_id") < 8)
              .select(F.col("doc_id").alias("query_id"),
                      F.col("text").alias("query_text"),
                      F.col("source").alias("qsrc")))
    corpus = docs.filter(F.col("doc_id") >= 100)
    ranked = bm25_topk(corpus, qd.select("query_id", "query_text"),
                       k=10)
    relevant = (qd.select("query_id", "qsrc")
                  .join(corpus.select("doc_id", "source"),
                        F.col("source") == F.col("qsrc"))
                  .select("query_id", "doc_id"))
    return (ranking_metrics(ranked, relevant, k=10)
            .orderBy("query_id"))


def _pca_oracle_sql(iters: int = 8) -> str:
    parts = ["""a AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), cu AS MATERIALIZED (
  SELECT ai.i AS i, aj.i AS j, ROUND(covar_pop(ai.x, aj.x), 6) AS cov
  FROM a ai JOIN a aj ON ai.vec_id = aj.vec_id AND ai.i <= aj.i
  GROUP BY 1, 2
), sym AS MATERIALIZED (
  SELECT i, j, cov FROM cu
  UNION ALL
  SELECT j AS i, i AS j, cov FROM cu WHERE i < j
), v0 AS (
  SELECT CAST(i AS INT) AS j, CAST(0.125 AS DOUBLE) AS v
  FROM range(1, 65) t(i)
)"""]
    for t in range(1, iters + 1):
        parts.append(f"""w{t} AS MATERIALIZED (
  SELECT s.i, ROUND(SUM(s.cov * p.v), 9) AS w
  FROM sym s JOIN v{t-1} p ON s.j = p.j GROUP BY s.i
), v{t} AS MATERIALIZED (
  SELECT i AS j,
         ROUND(w / (SELECT sqrt(SUM(w * w)) FROM w{t}), 9) AS v
  FROM w{t}
)""")
    parts.append(f"""cv AS (
  SELECT s.i, ROUND(SUM(s.cov * p.v), 9) AS cv
  FROM sym s JOIN v{iters} p ON s.j = p.j GROUP BY s.i
), lam AS (
  SELECT SUM(cv.cv * p.v) AS lam FROM cv JOIN v{iters} p ON cv.i = p.j
), tr AS (
  SELECT SUM(cov) AS tr FROM cu WHERE i = j
)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT p.j AS i, ROUND(p.v, 6) AS loading,
       ROUND(lam.lam, 4) AS eigenvalue,
       ROUND(lam.lam / tr.tr, 4) AS var_share
FROM v{iters} p CROSS JOIN lam CROSS JOIN tr ORDER BY i""")


@x("x185_pca_power", _pca_oracle_sql(8))
def x185(spark, sf):
    """Dominant principal component of the embedding corpus by power
    iteration (8 rounds) on the rounded covariance — the anisotropy
    readout after x154's audit: per-dimension loadings plus the
    Rayleigh eigenvalue and its share of total variance.  The x108
    trajectory discipline on linear algebra: iteration state quantized
    to 9 dp every round, so the oracle replays the identical chain of
    matrix-vector CTEs; corpus-scale work is only the covariance's
    one-Gram-partial-per-Arrow-batch pass."""
    from ..operators.similarity import pca_top_component

    emb = load_emb(spark, sf)
    return pca_top_component(emb, "embedding", iters=8).orderBy("i")


def _pq_oracle_sql(m: int = 8, ksub: int = 16, iters: int = 2,
                   dim: int = 64, n_queries: int = 20,
                   k: int = 10) -> str:
    """DuckDB replay of pq_train_encode + pq_adc_topk + the exact-top-k
    recall audit — per-subspace deterministic Lloyd chains (the
    kmeans_cte_parts shape, sliced + MATERIALIZED), ADC tables, ranked
    search, and the hit count against the exact ranking."""
    dsub = dim // m
    d2 = ("ROUND(list_sum(list_transform(list_zip(v.e, c.c), "
          "x -> (x[1]-x[2])*(x[1]-x[2]))), 6)")
    parts = []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(f"""v{s} AS MATERIALIZED (
  SELECT vec_id, list_slice(embedding, {lo}, {hi})::DOUBLE[] AS e
  FROM embeddings WHERE embedding IS NOT NULL
)""")
        parts.append(f"""c{s}_0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         e AS c
  FROM (SELECT vec_id, e FROM v{s} ORDER BY vec_id LIMIT {ksub})
)""")
        for t in range(1, iters + 1):
            parts.append(f"""a{s}_{t} AS MATERIALIZED (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM v{s} v CROSS JOIN c{s}_{t-1} c) WHERE rn = 1
)""")
            parts.append(f"""c{s}_{t} AS MATERIALIZED (
  SELECT p.cid, COALESCE(n.c, p.c) AS c
  FROM c{s}_{t-1} p LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS c FROM (
      SELECT cid, i, ROUND(avg(e[i]), 6) AS m
      FROM a{s}_{t}, generate_series(1, {dsub}) AS t(i)
      GROUP BY cid, i)
    GROUP BY cid) n ON p.cid = n.cid
)""")
        parts.append(f"""code{s} AS MATERIALIZED (
  SELECT vec_id, cid AS code FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM v{s} v CROSS JOIN c{s}_{iters} c) WHERE rn = 1
)""")
    codes_union = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {s} AS s, code FROM code{s}" for s in range(m))
    tabs_union = "\n  UNION ALL\n  ".join(
        f"""SELECT q.qid, {s} AS s, c.cid AS code,
         ROUND(list_sum(list_transform(
           list_zip(list_slice(q.qe, {s*dsub+1}, {(s+1)*dsub})::DOUBLE[],
                    c.c),
           x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS d
  FROM q CROSS JOIN c{s}_{iters} c""" for s in range(m))
    parts.append(f"""codesl AS (
  {codes_union}
)""")
    parts.append(f"""q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
  WHERE vec_id < {n_queries} AND embedding IS NOT NULL
)""")
    parts.append(f"""tabs AS (
  {tabs_union}
)""")
    parts.append(f"""adcr AS (
  SELECT qid, vec_id, rn FROM (
    SELECT t.qid, cl.vec_id, ROUND(SUM(t.d), 6) AS adc,
           row_number() OVER (PARTITION BY t.qid
                              ORDER BY ROUND(SUM(t.d), 6), cl.vec_id)
             AS rn
    FROM codesl cl JOIN tabs t ON cl.s = t.s AND cl.code = t.code
    GROUP BY t.qid, cl.vec_id) WHERE rn <= {k}
)""")
    parts.append(f"""full_v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE embedding IS NOT NULL
), exr AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, v.vec_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             ROUND(list_sum(list_transform(list_zip(q.qe, v.e),
               x -> (x[1]-x[2])*(x[1]-x[2]))), 6), v.vec_id) AS rn
    FROM q CROSS JOIN full_v v) WHERE rn <= {k}
)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT a.qid AS query_id,
       CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS hits,
       ROUND(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             / {k}.0, 2) AS recall
FROM adcr a LEFT JOIN exr e ON a.qid = e.qid AND a.vec_id = e.vec_id
GROUP BY a.qid ORDER BY query_id""")


def _exact_ranking(qs: DataFrame, emb: DataFrame) -> DataFrame:
    """The ground truth the ANN recall entries grade against: each
    ``qs`` query's exact top-10 over the non-null ``emb`` vectors by
    squared L2 rounded to 6 dp, ties by ``vec_id`` — ``(qid, vec_id)``
    rows."""
    qv = qs.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").cast("array<double>").alias("qe"))
    corpus = (emb.filter(F.col("embedding").isNotNull())
              .select("vec_id",
                      F.col("embedding").cast("array<double>")
                       .alias("e")))
    d2 = F.round(F.aggregate(
        F.zip_with("qe", "e", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    w = Window.partitionBy("qid").orderBy(d2.asc(), F.col("vec_id").asc())
    # query-side broadcast (the k-row side), corpus streams — the
    # same orientation as similarity.py::exact_topk (ADVICE/VERDICT
    # r12: the corpus side must never be the broadcast build side)
    return (F.broadcast(qv).crossJoin(corpus)
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 10)
              .select(F.col("qid"), F.col("vec_id")))


def _grade_recall(approx: DataFrame, exact: DataFrame,
                  hits: str = "hits", recall: str = "recall") -> DataFrame:
    """Grade an approximate ``(query_id, vec_id, ...)`` top-10 against
    :func:`_exact_ranking`: per query, the ``hits`` (a long) and
    ``recall`` (hits / 10, 2 dp) columns."""
    graded = (approx.join(exact,
                          (approx["query_id"] == exact["qid"])
                          & (approx["vec_id"] == exact["vec_id"]), "left")
              .groupBy("query_id")
              .agg(F.sum(F.when(F.col("qid").isNotNull(), 1)
                          .otherwise(0)).alias(hits)))
    return graded.select("query_id", hits,
                         F.round(F.col(hits) / 10.0, 2).alias(recall))


@x("x186_pq_recall", _pq_oracle_sql())
def x186(spark, sf):
    """Product-quantization ANN, end to end and value-checked: train
    8×16 sub-codebooks (deterministic-trajectory Lloyd per subspace),
    encode the corpus to 4-byte codes, serve 20 queries by asymmetric
    distance over the codes alone, and grade recall@10 against the
    exact full-vector ranking — the memory-compressed tier of the ANN
    family (exact x08 / sign-LSH x09 / IVF x27), with the compression
    loss MEASURED, not asserted.  The oracle replays training, codes,
    ADC tables and both rankings."""
    from ..operators.similarity import pq_adc_topk, pq_train_encode
    from ..util import retain_cache

    # ONE materialization of the scan + fan-out: the entry reads the
    # corpus four ways (train, ADC queries, exact-ranking corpus and
    # queries), and the derived frames only share the physical scan
    # when they derive from one persisted frame — otherwise each
    # branch re-runs the scan and its round-robin Exchange inside the
    # same job (guide §2.4/§5; measured r14)
    emb = retain_cache(load_emb(spark, sf))
    codes, books = pq_train_encode(emb, m=8, ksub=16, iters=2)
    qs = emb.filter(F.col("vec_id") < 20)
    adc = pq_adc_topk(qs, codes, books, k=10)

    return _grade_recall(adc, _exact_ranking(qs, emb)).orderBy("query_id")


def _qclf_oracle_sql(nb: int = 256, steps: int = 12, lr: float = 4.0,
                     hi: float = 0.09, lo: float = 0.03) -> str:
    """DuckDB replay of the full x188 classifier trajectory: hashed
    features, seed labels, every GD step's z/p/gradient/weights (all
    rounded to 9 dp at the same reduction points as the engine), final
    scoring of the whole corpus, band summary."""
    parts = [f"""tok AS MATERIALIZED (
  SELECT doc_id,
         CAST(('0x' || substring(md5('qclf-' || w), 1, 8)) AS BIGINT)
           % {nb} AS b
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents)
)""", """feat AS MATERIALIZED (
  SELECT doc_id, b, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2
)""", """ntok AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n FROM tok GROUP BY 1
)""", f"""sh AS MATERIALIZED (
  SELECT doc_id,
         len(list_filter(ws, x -> x IN ('the', 'a')))
           / CAST(len(ws) AS DOUBLE) AS sh
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS ws
        FROM documents)
)""", f"""seed AS MATERIALIZED (
  SELECT sh.doc_id, CASE WHEN sh >= {hi} THEN 1.0 ELSE 0.0 END AS y
  FROM sh JOIN ntok USING (doc_id)
  WHERE sh >= {hi} OR sh <= {lo}
)""", """nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM seed
)""", f"""w0 AS (
  SELECT unnest(generate_series(-1, {nb - 1})) AS b, 0.0 AS wt
)"""]
    for t in range(steps):
        parts.append(f"""z{t} AS MATERIALIZED (
  SELECT f.doc_id,
         ROUND(SUM(f.c * w.wt) * {nb}.0 / MAX(n.n)
               + (SELECT wt FROM w{t} WHERE b = -1), 9) AS z
  FROM feat f JOIN w{t} w ON f.b = w.b
       JOIN ntok n ON n.doc_id = f.doc_id
       JOIN seed s ON s.doc_id = f.doc_id
  GROUP BY f.doc_id
)""")
        parts.append(f"""p{t} AS MATERIALIZED (
  SELECT z.doc_id, ROUND(1.0 / (1.0 + exp(-z.z)), 9) AS p, s.y
  FROM z{t} z JOIN seed s USING (doc_id)
)""")
        parts.append(f"""g{t} AS MATERIALIZED (
  SELECT f.b,
         ROUND(SUM((p.p - p.y) * f.c * {nb}.0 / n.n)
               / (SELECT nd FROM nn), 9) AS g
  FROM feat f JOIN p{t} p USING (doc_id) JOIN ntok n USING (doc_id)
  GROUP BY f.b
  UNION ALL
  SELECT -1, ROUND(SUM(p.p - p.y) / (SELECT nd FROM nn), 9) FROM p{t} p
)""")
        parts.append(f"""w{t + 1} AS MATERIALIZED (
  SELECT w.b, ROUND(w.wt - {lr} * COALESCE(g.g, 0.0), 9) AS wt
  FROM w{t} w LEFT JOIN g{t} g USING (b)
)""")
    parts.append(f"""zf AS (
  SELECT f.doc_id,
         ROUND(SUM(f.c * w.wt) * {nb}.0 / MAX(n.n)
               + (SELECT wt FROM w{steps} WHERE b = -1), 9) AS z
  FROM feat f JOIN w{steps} w ON f.b = w.b
       JOIN ntok n ON n.doc_id = f.doc_id
  GROUP BY f.doc_id
)""")
    parts.append("""pf AS (
  SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 9) AS p FROM zf
)""")
    return "WITH " + ",\n".join(parts) + f"""
SELECT CASE WHEN sh.sh >= {hi} THEN 'hi'
            WHEN sh.sh <= {lo} THEN 'lo' ELSE 'mid' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pf.p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pred,
       ROUND(AVG(pf.p), 6) AS mean_p
FROM pf JOIN sh ON pf.doc_id = sh.doc_id
GROUP BY 1 ORDER BY band"""


@x("x188_quality_classifier", _qclf_oracle_sql())
def x188(spark, sf):
    """Train a quality classifier IN-ENGINE and score the corpus — the
    learned-filter step of a modern curation stack (CCNet/fastText-style
    data selection), with the TRAINING ITSELF hash-verified: label a
    high-confidence seed set by a cheap rule (stopword share ≥ 0.09
    positive, ≤ 0.03 negative — the weak-supervision pattern), run 12
    deterministic full-batch GD steps over 256 hashed-unigram features
    (every z / sigmoid / gradient / weight quantized to 9 dp, so the
    whole trajectory replays engine-for-engine), then score ALL
    documents.  Output: per band (hi/lo/mid) doc count, positives at
    the 0.5 threshold, mean calibrated score — the seed bands separate
    (mean_p hi ≫ lo) while the unlabeled middle lands between.

    Plans: one tokenize pass into a cached per-doc feature frame; each
    GD step is a map-only scoring expression (weights ride the plan as
    an array literal) plus ONE map-combined shuffle of 257 gradient
    rows; scoring is map-only.  See operators/classifier.py for the
    100 TB posture."""
    from ..operators.classifier import (quality_classifier_fit,
                                        quality_classifier_score)

    docs = load_docs(spark, sf)
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda t: t != "")
    share = (F.size(F.filter(words, lambda w: w.isin("the", "a")))
             / F.size(words))
    d = docs.withColumn("__sh", share)
    seed = (d.filter((F.col("__sh") >= 0.09) | (F.col("__sh") <= 0.03))
             .withColumn("__y", (F.col("__sh") >= 0.09).cast("int")))
    w, b = quality_classifier_fit(seed, "doc_id", "text", "__y",
                                  n_buckets=256, steps=12, lr=4.0)
    scored = quality_classifier_score(docs, w, b, "doc_id", "text",
                                      n_buckets=256)
    band = (F.when(F.col("__sh") >= 0.09, "hi")
             .when(F.col("__sh") <= 0.03, "lo").otherwise("mid"))
    return (scored.join(d.select("doc_id", "__sh"), "doc_id")
                  .groupBy(band.alias("band"))
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum(F.col("pred").cast("long")).alias("n_pred"),
                       F.round(F.avg("score"), 6).alias("mean_p"))
                  .orderBy("band"))


def _ivfpq_cte_parts(ncells: int = 8, nprobe: int = 2, m: int = 4,
                     ksub: int = 8, coarse_iters: int = 2,
                     pq_iters: int = 2, dim: int = 64,
                     n_queries: int = 12, k: int = 10,
                     adc_k: int | None = None) -> list[str]:
    """Shared DuckDB CTE chain replaying ivfpq_train_encode + the
    cell-pruned ADC ranking (``adcr``, top-``k``) + the exact top-k
    (``exr``): the coarse Lloyd chain (x108 shape on full vectors),
    rounded residuals, per-subspace residual Lloyd chains (x186
    shape), ADC over the query residual of each probed cell.  x189
    consumes it for the recall audit, x190 for the refine stage."""
    dsub = dim // m
    d2full = ("ROUND(list_sum(list_transform(list_zip(v.e, c.c), "
              "x -> (x[1]-x[2])*(x[1]-x[2]))), 6)")
    parts = ["""v AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE embedding IS NOT NULL
)""", f"""cc0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         e AS c
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {ncells})
)"""]
    for t in range(1, coarse_iters + 1):
        parts.append(f"""ca{t} AS MATERIALIZED (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2full}, c.cid) AS rn
    FROM v CROSS JOIN cc{t-1} c) WHERE rn = 1
)""")
        parts.append(f"""cc{t} AS MATERIALIZED (
  SELECT p.cid, COALESCE(n.c, p.c) AS c
  FROM cc{t-1} p LEFT JOIN (
    SELECT cid, list(mm ORDER BY i) AS c FROM (
      SELECT cid, i, ROUND(avg(e[i]), 6) AS mm
      FROM ca{t}, generate_series(1, {dim}) AS t(i)
      GROUP BY cid, i)
    GROUP BY cid) n ON p.cid = n.cid
)""")
    parts.append(f"""acell AS MATERIALIZED (
  SELECT vec_id, cell,
         list_transform(list_zip(e, c), x -> ROUND(x[1] - x[2], 6)) AS r
  FROM (
    SELECT v.vec_id, v.e, c.cid AS cell, c.c,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2full}, c.cid) AS rn
    FROM v CROSS JOIN cc{coarse_iters} c) WHERE rn = 1
)""")
    d2 = ("ROUND(list_sum(list_transform(list_zip(v.e, c.c), "
          "x -> (x[1]-x[2])*(x[1]-x[2]))), 6)")
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(f"""v{s} AS MATERIALIZED (
  SELECT vec_id, list_slice(r, {lo}, {hi})::DOUBLE[] AS e FROM acell
)""")
        parts.append(f"""c{s}_0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         e AS c
  FROM (SELECT vec_id, e FROM v{s} ORDER BY vec_id LIMIT {ksub})
)""")
        for t in range(1, pq_iters + 1):
            parts.append(f"""a{s}_{t} AS MATERIALIZED (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM v{s} v CROSS JOIN c{s}_{t-1} c) WHERE rn = 1
)""")
            parts.append(f"""c{s}_{t} AS MATERIALIZED (
  SELECT p.cid, COALESCE(n.c, p.c) AS c
  FROM c{s}_{t-1} p LEFT JOIN (
    SELECT cid, list(mm ORDER BY i) AS c FROM (
      SELECT cid, i, ROUND(avg(e[i]), 6) AS mm
      FROM a{s}_{t}, generate_series(1, {dsub}) AS t(i)
      GROUP BY cid, i)
    GROUP BY cid) n ON p.cid = n.cid
)""")
        parts.append(f"""code{s} AS MATERIALIZED (
  SELECT vec_id, cid AS code FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM v{s} v CROSS JOIN c{s}_{pq_iters} c) WHERE rn = 1
)""")
    codes_union = "\n  UNION ALL\n  ".join(
        f"SELECT c.vec_id, a.cell, {s} AS s, c.code "
        f"FROM code{s} c JOIN acell a USING (vec_id)" for s in range(m))
    parts.append(f"""codesl AS MATERIALIZED (
  {codes_union}
)""")
    parts.append(f"""q AS (
  SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {n_queries}
)""")
    parts.append(f"""qprobe AS MATERIALIZED (
  SELECT qid, cell,
         list_transform(list_zip(qe, c), x -> ROUND(x[1] - x[2], 6)) AS r
  FROM (
    SELECT q.qid, q.qe, c.cid AS cell, c.c,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             ROUND(list_sum(list_transform(list_zip(q.qe, c.c),
               x -> (x[1]-x[2])*(x[1]-x[2]))), 6), c.cid) AS rn
    FROM q CROSS JOIN cc{coarse_iters} c) WHERE rn <= {nprobe}
)""")
    tabs_union = "\n  UNION ALL\n  ".join(
        f"""SELECT p.qid, p.cell, {s} AS s, c.cid AS code,
         ROUND(list_sum(list_transform(
           list_zip(list_slice(p.r, {s*dsub+1}, {(s+1)*dsub})::DOUBLE[],
                    c.c),
           x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS d
  FROM qprobe p CROSS JOIN c{s}_{pq_iters} c""" for s in range(m))
    parts.append(f"""tabs AS MATERIALIZED (
  {tabs_union}
)""")
    parts.append(f"""adcr AS (
  SELECT qid, vec_id, rn FROM (
    SELECT t.qid, cl.vec_id, ROUND(SUM(t.d), 6) AS adc,
           row_number() OVER (PARTITION BY t.qid
                              ORDER BY ROUND(SUM(t.d), 6), cl.vec_id)
             AS rn
    FROM codesl cl JOIN tabs t
      ON cl.cell = t.cell AND cl.s = t.s AND cl.code = t.code
    GROUP BY t.qid, cl.vec_id) WHERE rn <= {adc_k or k}
)""")
    parts.append(f"""exr AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, v.vec_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             ROUND(list_sum(list_transform(list_zip(q.qe, v.e),
               x -> (x[1]-x[2])*(x[1]-x[2]))), 6), v.vec_id) AS rn
    FROM q CROSS JOIN v) WHERE rn <= {k}
)""")
    return parts


def _ivfpq_oracle_sql(k: int = 10) -> str:
    parts = _ivfpq_cte_parts(k=k)
    return ("WITH " + ",\n".join(parts) + f"""
SELECT a.qid AS query_id,
       CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS hits,
       ROUND(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             / {k}.0, 2) AS recall
FROM adcr a LEFT JOIN exr e ON a.qid = e.qid AND a.vec_id = e.vec_id
GROUP BY a.qid ORDER BY query_id""")


@x("x189_ivfpq_recall", _ivfpq_oracle_sql())
def x189(spark, sf):
    """IVF-PQ (IVFADC) ANN, end to end and value-checked: coarse-
    quantize the corpus into 8 cells (deterministic-trajectory Lloyd),
    product-quantize the ROUNDED RESIDUALS to 4×8 sub-codebooks, serve
    12 queries by asymmetric distance over the codes of their 2 nearest
    cells only, and grade recall@10 against the exact full-vector
    ranking — the billion-scale composition the IVF-Flat (x27) and
    PQ-alone (x186) tiers were each half of.  The oracle replays both
    quantizer trainings, the residuals, the cell-pruned ADC tables and
    both rankings value-for-value."""
    from ..operators.similarity import ivfpq_adc_topk, ivfpq_train_encode
    from ..util import retain_cache

    # one materialized scan shared by train / ADC queries / exact
    # ranking (the x186 pattern, r14)
    emb = retain_cache(load_emb(spark, sf))
    codes, coarse, books = ivfpq_train_encode(
        emb, ncells=8, m=4, ksub=8, coarse_iters=2, pq_iters=2)
    qs = emb.filter((F.col("vec_id") < 12)
                    & F.col("embedding").isNotNull())
    adc = ivfpq_adc_topk(qs, codes, coarse, books, k=10, nprobe=2)

    return _grade_recall(adc, _exact_ranking(qs, emb)).orderBy("query_id")


def _ivfpq_refine_oracle_sql(shortlist: int = 50, k: int = 10) -> str:
    """x190: the shared IVF-PQ chain with ``adcr`` widened to the
    shortlist, then the exact re-rank of the shortlist (rounded L2
    against raw vectors) — per query, the stage-1 (ADC top-k) and
    stage-2 (refined top-k) hit counts against the exact ranking."""
    parts = _ivfpq_cte_parts(k=k, adc_k=shortlist)
    parts.append(f"""refined AS (
  SELECT qid, vec_id FROM (
    SELECT a.qid, a.vec_id,
           row_number() OVER (PARTITION BY a.qid ORDER BY
             ROUND(list_sum(list_transform(list_zip(q.qe, v.e),
               x -> (x[1]-x[2])*(x[1]-x[2]))), 6), a.vec_id) AS rn
    FROM adcr a JOIN q ON a.qid = q.qid
                JOIN v ON a.vec_id = v.vec_id) WHERE rn <= {k}
)""")
    parts.append(f"""adc10 AS (
  SELECT qid, vec_id FROM adcr WHERE rn <= {k}
)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT e.qid AS query_id,
       CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS hits_adc,
       CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS hits_refined,
       ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             / {k}.0, 2) AS recall_adc,
       ROUND(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             / {k}.0, 2) AS recall_refined
FROM exr e
LEFT JOIN adc10 a ON e.qid = a.qid AND e.vec_id = a.vec_id
LEFT JOIN refined r ON e.qid = r.qid AND e.vec_id = r.vec_id
GROUP BY e.qid ORDER BY query_id""")


@x("x190_ivfpq_refine", _ivfpq_refine_oracle_sql())
def x190(spark, sf):
    """Two-stage IVF-PQ serving, value-checked: cell-pruned ADC takes a
    50-candidate shortlist per query, exact L2 re-ranks only those
    against raw vectors gathered by id (the Faiss IndexRefine pattern —
    quantization error can no longer cost recall@10 unless the true
    neighbor missed the shortlist).  The output grades BOTH stages
    against the exact ranking, so the refine stage's recall lift over
    raw ADC (x189) is measured in-entry; the oracle replays the full
    chain — trainings, residuals, ADC shortlist, exact re-rank — and
    both hit counts."""
    from ..operators.similarity import (ivfpq_adc_topk,
                                        ivfpq_refine_topk,
                                        ivfpq_train_encode)
    from ..util import retain_cache

    # one materialized scan shared by train / ADC / refine gather /
    # exact ranking (the x186 pattern, r14)
    emb = retain_cache(load_emb(spark, sf))
    codes, coarse, books = ivfpq_train_encode(
        emb, ncells=8, m=4, ksub=8, coarse_iters=2, pq_iters=2)
    qs = emb.filter((F.col("vec_id") < 12)
                    & F.col("embedding").isNotNull())
    corpus = emb.filter(F.col("embedding").isNotNull())
    adc = ivfpq_adc_topk(qs, codes, coarse, books, k=10, nprobe=2)
    ref = ivfpq_refine_topk(qs, codes, corpus, coarse, books, k=10,
                            shortlist=50, nprobe=2)

    exact = _exact_ranking(qs, corpus).withColumnRenamed("vec_id", "__ev")
    # per-query hit counts for both stages via two left joins
    adc_t = adc.select(F.col("query_id").alias("qid"),
                       F.col("vec_id").alias("__av"))
    ref_t = ref.select(F.col("query_id").alias("qid"),
                       F.col("vec_id").alias("__rv"))
    out = (exact
           .join(adc_t, (exact["qid"] == adc_t["qid"])
                 & (exact["__ev"] == adc_t["__av"]), "left")
           .drop(adc_t["qid"])
           .join(ref_t, (exact["qid"] == ref_t["qid"])
                 & (exact["__ev"] == ref_t["__rv"]), "left")
           .drop(ref_t["qid"])
           .groupBy(exact["qid"].alias("query_id"))
           .agg(F.sum(F.when(F.col("__av").isNotNull(), 1).otherwise(0))
                 .alias("hits_adc"),
                F.sum(F.when(F.col("__rv").isNotNull(), 1).otherwise(0))
                 .alias("hits_refined")))
    return (out.select("query_id", "hits_adc", "hits_refined",
                       F.round(F.col("hits_adc") / 10.0, 2)
                        .alias("recall_adc"),
                       F.round(F.col("hits_refined") / 10.0, 2)
                        .alias("recall_refined"))
               .orderBy("query_id"))


@x("x191_negative_samples", """
WITH a AS (
  SELECT doc_id AS anchor_id, source AS ag FROM documents
  WHERE doc_id < 10
), c AS (
  SELECT doc_id AS neg_id, source AS ng FROM documents
  WHERE doc_id >= 100
), p AS (
  SELECT anchor_id, neg_id,
         CAST(('0x' || substring(md5('neg-' || CAST(anchor_id AS VARCHAR)
                                  || '-' || CAST(neg_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) AS h
  FROM a JOIN c ON ag <> ng
), r AS (
  SELECT anchor_id, neg_id, h,
         ROW_NUMBER() OVER (PARTITION BY anchor_id
                            ORDER BY h, neg_id) AS rnk
  FROM p
)
SELECT anchor_id, neg_id, h, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= 4 ORDER BY anchor_id, rnk""")
def x191(spark, sf):
    """Contrastive negative sampling: 4 deterministic random negatives
    per anchor from a DIFFERENT source (the false-negative guard),
    membership a pure function of the (anchor, candidate) md5 pair
    hash — the x59 split discipline applied to training-pair mining,
    so any engine re-derives the exact sample.  The random-easy
    counterpart of x192's ranker-mined hard negatives."""
    from ..operators.sampling import negative_samples

    docs = load_docs(spark, sf)
    return (negative_samples(docs.filter(F.col("doc_id") < 10),
                             docs.filter(F.col("doc_id") >= 100),
                             k=4)
            .orderBy("anchor_id", "rnk"))


@x("x192_hard_negatives", """
WITH qd AS (
  SELECT doc_id AS query_id, text AS query_text, source AS qsrc
  FROM documents WHERE doc_id < 8
), qt AS (
  SELECT DISTINCT query_id, unnest(list_distinct(list_filter(
           string_split_regex(lower(query_text), '[^a-z0-9]+'),
           x -> x <> ''))) AS term
  FROM qd
), d AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents WHERE doc_id >= 100
), stats AS (
  SELECT COUNT(*) AS n, AVG(len(ws)) AS avgdl FROM d
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
    SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM d
  ) WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT qt.query_id, tf.doc_id,
         ROUND(SUM( LN((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75
                                     + 0.75 * tf.dl / stats.avgdl))),
               4) AS score
  FROM tf JOIN dfq USING (term) JOIN qt USING (term) CROSS JOIN stats
  GROUP BY qt.query_id, tf.doc_id
), rk AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rnk
  FROM scored
), neg AS (
  SELECT rk.query_id, rk.doc_id, rk.score
  FROM rk JOIN d ON rk.doc_id = d.doc_id
          JOIN qd ON rk.query_id = qd.query_id
  WHERE rk.rnk <= 15 AND d.source <> qd.qsrc
), rr AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rnk
  FROM neg
)
SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rnk
FROM rr WHERE rnk <= 5 ORDER BY query_id, rnk""")
def x192(spark, sf):
    """Hard-negative mining with the engine's own ranker: per query
    (doc texts as queries, same-source membership as the relevance
    proxy — the x184 labels), the top-5 BM25-scored docs that are NOT
    relevant, from a 15-candidate shortlist.  The DPR-style
    mine-with-the-current-ranker loop: x152 retrieves, x184 grades,
    this builds the training negatives.  The oracle replays BM25, the
    shortlist, the anti-membership and the re-rank."""
    from ..operators.keywords import hard_negatives

    docs = load_docs(spark, sf)
    qd = (docs.filter(F.col("doc_id") < 8)
              .select(F.col("doc_id").alias("query_id"),
                      F.col("text").alias("query_text"),
                      F.col("source").alias("qsrc")))
    corpus = docs.filter(F.col("doc_id") >= 100)
    relevant = (qd.select("query_id", "qsrc")
                  .join(corpus.select("doc_id", "source"),
                        F.col("source") == F.col("qsrc"))
                  .select("query_id", "doc_id"))
    return (hard_negatives(corpus,
                           qd.select("query_id", "query_text"),
                           relevant, k=5, candidates=15)
            .orderBy("query_id", "rnk"))


@x("x194_calibration", """
WITH w AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
), s AS (
  SELECT doc_id, CAST(lang = 'en' AS INT) AS label,
         LEAST(len(list_filter(ws, x -> x IN ('the', 'a')))
               * 8.0 / len(ws), 1.0) AS score
  FROM w WHERE len(ws) > 0
), b AS (
  SELECT CAST(GREATEST(LEAST(FLOOR(score * 10), 9), 0) AS INT) AS bin, score, label
  FROM s
), bins AS (
  SELECT bin, COUNT(*) AS n, ROUND(AVG(score), 6) AS mean_score,
         ROUND(AVG(CAST(label AS DOUBLE)), 6) AS frac_pos
  FROM b GROUP BY bin
)
SELECT bin, n, mean_score, frac_pos,
       ROUND(ABS(mean_score - frac_pos), 6) AS gap,
       ROUND(SUM(n * ABS(mean_score - frac_pos)) OVER ()
             / SUM(n) OVER (), 6) AS ece
FROM bins ORDER BY bin""")
def x194(spark, sf):
    """Score calibration audit: how well does the scaled English-
    stopword share predict ``lang = 'en'``?  Reliability-diagram bins
    (mean score vs observed positive fraction per bin) plus the
    expected calibration error as a constant column — the evaluation
    every learned quality gate (x188) needs before its threshold is
    trusted.  One map-combined shuffle of ≤10 rows; the oracle replays
    the binning, both bin means and the ECE fold."""
    from ..operators.classifier import calibration_bins

    docs = load_docs(spark, sf)
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda t: t != "")
    d = (docs.withColumn("__ws", words)
             .filter(F.size("__ws") > 0)
             .select("doc_id",
                     (F.col("lang") == "en").cast("int").alias("label"),
                     F.least(
                         F.size(F.filter(F.col("__ws"),
                                         lambda w: w.isin("the", "a")))
                         * 8.0 / F.size("__ws"),
                         F.lit(1.0)).alias("score")))
    bins = calibration_bins(d, "score", "label", bins=10)
    w = Window.partitionBy()
    return (bins.withColumn(
                "ece", F.round(F.sum(F.col("n") * F.col("gap")).over(w)
                               / F.sum("n").over(w), 6))
                .orderBy("bin"))


@x("x195_signal_spearman", """
WITH sigs AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS DOUBLE) AS n_tokens,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x IN ('the', 'a')))
           * 1.0 / len(list_filter(string_split_regex(lower(text),
                                                      '\\s+'),
                       x -> x <> '')) AS stop_share,
         len(list_distinct(list_filter(string_split_regex(lower(text),
                                                          '\\s+'),
                           x -> x <> '')))
           * 1.0 / len(list_filter(string_split_regex(lower(text),
                                                      '\\s+'),
                       x -> x <> '')) AS distinct_ratio
  FROM documents
  WHERE len(list_filter(string_split_regex(lower(text), '\\s+'),
                        x -> x <> '')) > 0
), long AS (
  SELECT doc_id, 'n_chars' AS sig, n_chars AS v FROM sigs
  UNION ALL SELECT doc_id, 'n_tokens', n_tokens FROM sigs
  UNION ALL SELECT doc_id, 'stop_share', stop_share FROM sigs
  UNION ALL SELECT doc_id, 'distinct_ratio', distinct_ratio FROM sigs
), ranked AS (
  SELECT doc_id, sig,
         ROW_NUMBER() OVER (PARTITION BY sig
                            ORDER BY v, doc_id) AS r
  FROM long WHERE v IS NOT NULL
)
SELECT a.sig AS sig_a, b.sig AS sig_b,
       ROUND(corr(a.r, b.r), 4) AS spearman,
       COUNT(*) AS n
FROM ranked a JOIN ranked b
  ON a.doc_id = b.doc_id AND a.sig < b.sig
GROUP BY a.sig, b.sig ORDER BY sig_a, sig_b""")
def x195(spark, sf):
    """Spearman rank-correlation matrix of four quality signals
    (chars, tokens, stopword share, distinct-word ratio) — the
    redundancy audit a multi-signal filter stack needs: near-1 pairs
    gate the same docs twice, near-0 pairs carry independent
    information.  Deterministic (value, id) rank ties, so the oracle
    replays the exact ranks; corr is rounded to absorb summation
    order."""
    from ..operators.signals import spearman_matrix

    docs = load_docs(spark, sf)
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda t: t != "")
    d = (docs.withColumn("__ws", words)
             .filter(F.size("__ws") > 0)
             .select("doc_id",
                     F.length("text").cast("double").alias("n_chars"),
                     F.size("__ws").cast("double").alias("n_tokens"),
                     (F.size(F.filter(F.col("__ws"),
                                      lambda w: w.isin("the", "a")))
                      / F.size("__ws")).alias("stop_share"),
                     (F.size(F.array_distinct("__ws"))
                      / F.size("__ws")).alias("distinct_ratio")))
    return spearman_matrix(d, "doc_id",
                           ["n_chars", "n_tokens", "stop_share",
                            "distinct_ratio"])


def _x196_sql(prefixes=(8, 16, 32), n_queries: int = 10,
              k: int = 10) -> str:
    d2 = ("ROUND(list_sum(list_transform(list_zip({qe}, {ce}), "
          "x -> (x[1]-x[2])*(x[1]-x[2]))), 6)")
    parts = ["""v AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE embedding IS NOT NULL
)""", f"""q AS (
  SELECT vec_id AS qid, e AS qe FROM v
  ORDER BY vec_id LIMIT {n_queries}
)""", f"""full_r AS MATERIALIZED (
  SELECT qid, vec_id FROM (
    SELECT q.qid, v.vec_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             {d2.format(qe="q.qe", ce="v.e")}, v.vec_id) AS rn
    FROM q CROSS JOIN v) WHERE rn <= {k}
)"""]
    sel = []
    for p in prefixes:
        qe = f"list_slice(q.qe, 1, {p})::DOUBLE[]"
        ce = f"list_slice(v.e, 1, {p})::DOUBLE[]"
        parts.append(f"""p{p} AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, v.vec_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             {d2.format(qe=qe, ce=ce)}, v.vec_id) AS rn
    FROM q CROSS JOIN v) WHERE rn <= {k}
)""")
        sel.append(f"""SELECT {p} AS prefix_dim, f.qid AS query_id,
       CAST(COUNT(p.vec_id) AS BIGINT) AS hits,
       ROUND(COUNT(p.vec_id) / {k}.0, 2) AS recall
FROM full_r f LEFT JOIN p{p} p
  ON f.qid = p.qid AND f.vec_id = p.vec_id
GROUP BY f.qid""")
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(sel)
            + "\nORDER BY prefix_dim, query_id")


@x("x196_matryoshka_recall", _x196_sql())
def x196(spark, sf):
    """Prefix-truncation (matryoshka) serving audit: recall@10 of the
    exact ranking over the first 8/16/32 dims against the full-64-dim
    ranking — the measurement behind choosing a cheaper storage/serve
    dimension (a 4× prefix cut is 4× less scan IO at ANN scale).  The
    oracle replays every truncated and full ranking."""
    from ..operators.similarity import matryoshka_recall

    emb = load_emb(spark, sf)
    return (matryoshka_recall(emb, [8, 16, 32], n_queries=10, k=10)
            .orderBy("prefix_dim", "query_id"))


@x("x197_semantic_contamination", """
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id >= 100 AND embedding IS NOT NULL
), ev AS (
  SELECT vec_id AS eid, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id < 10 AND embedding IS NOT NULL
  UNION ALL
  SELECT vec_id + 5000 AS eid,
         list_transform(embedding::DOUBLE[], x -> x * 1.1) AS e
  FROM embeddings WHERE vec_id >= 100 AND vec_id < 110
), scored AS (
  SELECT ev.eid,
         ROUND(list_dot_product(ev.e, c.e)
               / (sqrt(list_dot_product(ev.e, ev.e))
                  * sqrt(list_dot_product(c.e, c.e))), 4) AS cos
  FROM ev CROSS JOIN c
)
SELECT eid AS vec_id,
       CAST(SUM(CASE WHEN cos >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       MAX(cos) AS max_cos,
       SUM(CASE WHEN cos >= 0.8 THEN 1 ELSE 0 END) > 0 AS contaminated
FROM scored GROUP BY eid ORDER BY vec_id""")
def x197(spark, sf):
    """Semantic (embedding-space) benchmark decontamination — the
    paraphrase-robust complement of the n-gram screen (x151): per eval
    item, corpus vectors with cosine ≥ 0.8.  The eval set PLANTS 10
    scaled near-copies of corpus vectors (ids +5000, cosine 1.0 by
    scale invariance) so contamination is the EXPECTED state for them
    and a screen regression is driver-visible; the 10 organic eval
    items stay clean.  The oracle replays every cosine."""
    from ..operators.similarity import semantic_contamination

    emb = load_emb(spark, sf)
    corpus = emb.filter(F.col("vec_id") >= 100)
    planted = (corpus.filter(F.col("vec_id") < 110)
               .select((F.col("vec_id") + 5000).alias("vec_id"),
                       F.expr("transform(cast(embedding as "
                              "array<double>), x -> x * 1.1D)")
                        .alias("embedding")))
    ev = (emb.filter(F.col("vec_id") < 10)
             .select("vec_id",
                     F.col("embedding").cast("array<double>")
                      .alias("embedding"))
             .unionByName(planted))
    return (semantic_contamination(ev, corpus, threshold=0.8)
            .orderBy("vec_id"))


def _unigram_cte_parts(iters: int = 2, maxw: int = 16,
                       seed_multi: int = 40) -> list[str]:
    """Unrolled unigram-LM hard-EM training as DuckDB CTEs (the
    _bpe_cte_parts discipline): word freqs → substring seed counts →
    top-(chars + seed_multi) vocabulary → per-EM-iteration Viterbi DP
    (one CTE per character position, packed sortable state strings,
    operators/unigram.py documents the encoding) → usage counts →
    M-step re-normalization.  ``p{iters}`` is the final piece table;
    ``d0`` the shared DP init."""
    parts = [f"""w AS (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
        FROM documents)
  WHERE word <> '' AND length(word) <= {maxw} GROUP BY word
)""", f"""sub AS (
  SELECT piece, SUM(cnt) AS c FROM (
    SELECT w.cnt, substr(w.word, i.i, l.l) AS piece
    FROM w, generate_series(1, {maxw}) i(i), generate_series(1, 4) l(l)
    WHERE i.i + l.l - 1 <= length(w.word)
  ) GROUP BY piece
)""", f"""p0k AS (
  SELECT piece, c FROM sub WHERE length(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c FROM sub WHERE length(piece) > 1
    ORDER BY c DESC, piece LIMIT {seed_multi})
)""", """p0 AS (
  SELECT piece, c AS cnt, ROUND(-LN(c / t.total), 6) AS cost
  FROM p0k, (SELECT SUM(c) AS total FROM p0k) t
)""", """d0 AS (
  SELECT word, cnt,
         [printf('%013.6f', 0.0) || printf('%03d', 0) || ''] AS sc
  FROM w
)"""]
    for it in range(1, iters + 1):
        parts.extend(_unigram_dp_parts(f"d{it}", "d0", f"p{it - 1}",
                                       maxw))
        parts.append(f"""u{it} AS (
  SELECT piece, SUM(cnt) AS c FROM (
    SELECT cnt, unnest(list_filter(
      string_split(substr(sc[length(word) + 1], 17), chr(30)),
      x -> x <> '')) AS piece
    FROM d{it}_{maxw}
  ) GROUP BY piece
)""")
        parts.append(f"""k{it} AS (
  SELECT piece, cnt FROM (
    SELECT p.piece,
           COALESCE(u.c, CASE WHEN length(p.piece) = 1
                         THEN 1 ELSE 0 END) AS cnt
    FROM p{it - 1} p LEFT JOIN u{it} u ON p.piece = u.piece
  ) WHERE cnt > 0
)""")
        parts.append(f"""p{it} AS (
  SELECT piece, cnt, ROUND(-LN(cnt / t.total), 6) AS cost
  FROM k{it}, (SELECT SUM(cnt) AS total FROM k{it}) t
)""")
    return parts


def _unigram_dp_parts(name: str, init: str, pieces: str,
                      maxw: int) -> list[str]:
    """One Viterbi forward DP, unrolled: ``{name}_{m}`` extends the
    packed-state array by prefix length m (string-MIN transition over
    the matching pieces — min score, then fewest tokens, then
    \\x1e-least segmentation)."""
    parts = [f"{name}_0 AS MATERIALIZED (SELECT word, cnt, sc FROM {init})"]
    for m in range(1, maxw + 1):
        parts.append(f"""{name}_{m} AS MATERIALIZED (
  SELECT word, cnt,
    CASE WHEN length(word) >= {m} THEN list_append(sc, (
      SELECT MIN(printf('%013.6f',
                   ROUND(CAST(substr(q.prev, 1, 13) AS DOUBLE)
                         + q.cost, 6))
              || printf('%03d',
                   CAST(substr(q.prev, 14, 3) AS INTEGER) + 1)
              || substr(q.prev, 17) || chr(30) || q.piece)
      FROM (SELECT p.piece, p.cost,
                   sc[{m} - length(p.piece) + 1] AS prev
            FROM {pieces} p
            WHERE length(p.piece) <= {m}
              AND substr(word, {m} - length(p.piece) + 1,
                         length(p.piece)) = p.piece) q
    )) ELSE sc END AS sc
  FROM {name}_{m - 1})""")
    return parts


def _unigram_pruned_cte_parts(maxw: int = 16, seed_multi: int = 96,
                              target_multi: int = 24,
                              shrink: float = 0.75,
                              final_iters: int = 1, prefix: str = "",
                              skip_base: bool = False
                              ) -> tuple[list[str], int]:
    """Unrolled vocabulary-size-targeted unigram training (Kudo 2018
    §4, hard-EM spelling — ``unigram_train_pruned``): seed a LARGE
    candidate set, then per prune round one EM iteration + keep only
    the top-``Kᵣ`` multis by ``ROUND(cnt·cost, 6)`` DESC, piece ASC,
    with ``Kᵣ`` from the PARAMETER-ONLY schedule (never the surviving
    count — that is what makes the unroll length deterministic), then
    ``final_iters`` plain EM iterations.  ``prefix`` namespaces every
    CTE so a pruned chain can ride next to the x200 chain in one query
    (x205); ``skip_base`` reuses an already-defined ``w``/``sub``/
    ``d0``.  Returns ``(parts, last_round)`` — ``{prefix}p{last}`` is
    the final piece table."""
    from ..operators.unigram import prune_schedule

    P = prefix
    parts: list[str] = []
    base = _unigram_cte_parts(iters=0, maxw=maxw,
                              seed_multi=seed_multi)
    if not skip_base:
        parts.extend([base[0], base[1], base[4]])     # w, sub, d0
    # seed piece table under the prefix (seed_multi differs from any
    # coexisting x200 chain, so it cannot share p0k/p0)
    # every piece-table CTE is MATERIALIZED: DuckDB inlines plain
    # CTEs at every reference, and each DP round references its piece
    # table from all 16 position CTEs — un-materialized, the chain of
    # prior rounds re-expands (and re-opens the parquet) per
    # reference, blowing the fd limit at ~6 rounds
    parts.append(base[2].replace("p0k AS (",
                                 f"{P}p0k AS MATERIALIZED (", 1))
    parts.append(base[3].replace("p0 AS (",
                                 f"{P}p0 AS MATERIALIZED (", 1)
                        .replace("FROM p0k", f"FROM {P}p0k"))

    def _usage(i: int) -> str:
        return f"""{P}u{i} AS MATERIALIZED (
  SELECT piece, SUM(cnt) AS c FROM (
    SELECT cnt, unnest(list_filter(
      string_split(substr(sc[length(word) + 1], 17), chr(30)),
      x -> x <> '')) AS piece
    FROM {P}d{i}_{maxw}
  ) GROUP BY piece
)"""

    def _keep(i: int) -> str:
        return f"""{P}k{i} AS MATERIALIZED (
  SELECT piece, cnt FROM (
    SELECT p.piece,
           COALESCE(u.c, CASE WHEN length(p.piece) = 1
                         THEN 1 ELSE 0 END) AS cnt
    FROM {P}p{i - 1} p LEFT JOIN {P}u{i} u ON p.piece = u.piece
  ) WHERE cnt > 0
)"""

    def _costs(name: str, src: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT piece, cnt, ROUND(-LN(cnt / t.total), 6) AS cost
  FROM {src}, (SELECT SUM(cnt) AS total FROM {src}) t
)"""

    r = 0
    for r, k in enumerate(prune_schedule(seed_multi, target_multi,
                                         shrink), start=1):
        parts.extend(_unigram_dp_parts(f"{P}d{r}", "d0",
                                       f"{P}p{r - 1}", maxw))
        parts.append(_usage(r))
        parts.append(_keep(r))
        parts.append(_costs(f"{P}c{r}", f"{P}k{r}"))
        parts.append(f"""{P}t{r} AS MATERIALIZED (
  SELECT piece, cnt FROM {P}c{r} WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM {P}c{r} WHERE length(piece) > 1
    ORDER BY ROUND(cnt * cost, 6) DESC, piece LIMIT {k})
)""")
        parts.append(_costs(f"{P}p{r}", f"{P}t{r}"))
    for _ in range(max(0, final_iters)):
        r += 1
        parts.extend(_unigram_dp_parts(f"{P}d{r}", "d0",
                                       f"{P}p{r - 1}", maxw))
        parts.append(_usage(r))
        parts.append(_keep(r))
        parts.append(_costs(f"{P}p{r}", f"{P}k{r}"))
    return parts, r


def _x206_sql(maxw: int = 16, seed_multi: int = 96,
              target_multi: int = 24, shrink: float = 0.75,
              final_iters: int = 1) -> str:
    parts, last = _unigram_pruned_cte_parts(
        maxw=maxw, seed_multi=seed_multi, target_multi=target_multi,
        shrink=shrink, final_iters=final_iters)
    return ("WITH " + ",\n".join(parts) + f"""
SELECT piece, CAST(cnt AS BIGINT) AS cnt, cost
FROM p{last} ORDER BY piece""")


def _x200_sql(iters: int = 2) -> str:
    parts = _unigram_cte_parts(iters=iters)
    return ("WITH " + ",\n".join(parts) + f"""
SELECT piece, CAST(cnt AS BIGINT) AS cnt, cost
FROM p{iters} ORDER BY piece""")


def _x201_sql(iters: int = 2, maxw: int = 16, top: int = 30) -> str:
    parts = _unigram_cte_parts(iters=iters, maxw=maxw)
    parts.extend(_unigram_dp_parts("e", "d0", f"p{iters}", maxw))
    return ("WITH " + ",\n".join(parts) + f"""
SELECT word, CAST(cnt AS BIGINT) AS cnt,
       CAST(substr(v, 14, 3) AS INTEGER) AS n_tokens,
       CAST(substr(v, 1, 13) AS DOUBLE) AS score,
       array_to_string(list_filter(
         string_split(substr(v, 17), chr(30)), x -> x <> ''), '|')
         AS seg
FROM (SELECT word, cnt, sc[length(word) + 1] AS v FROM e_{maxw})
ORDER BY cnt DESC, word LIMIT {top}""")


@x("x200_unigram_train", _x200_sql())
def x200(spark, sf):
    """Unigram-LM (SentencePiece-style) tokenizer training, hard-EM
    variant: substring seed vocabulary (all chars + top-40 multis),
    two EM iterations of Viterbi segmentation + usage-count
    re-normalization.  ONE corpus pass (word frequencies); EM runs
    driver-side over the vocabulary-sized table (the
    learn_bpe_merges_local posture).  The oracle replays seed counts,
    every DP state string and every M-step cost value-for-value.
    operators/unigram.py::unigram_train_local."""
    from ..operators.unigram import unigram_vocab_table

    docs = load_docs(spark, sf)
    return unigram_vocab_table(spark, docs).orderBy("piece")


@x("x201_unigram_encode", _x201_sql())
def x201(spark, sf):
    """Distributed unigram Viterbi encoding of the 30 most frequent
    words under the x200-trained vocabulary: score, token count and
    the chosen segmentation per word.  The DP is ONE Catalyst
    `aggregate` expression over character positions with the piece
    costs broadcast as a runtime map (no plan-tree growth, no UDF,
    map-only); the oracle replays training AND the encode DP.
    operators/unigram.py::unigram_encode."""
    from ..operators.unigram import unigram_encode, unigram_trained_vocab

    docs = load_docs(spark, sf)
    words, vocab = unigram_trained_vocab(docs)
    return (unigram_encode(words, vocab)
            .select("word", "cnt", "n_tokens", "score", "seg")
            .orderBy(F.desc("cnt"), "word").limit(30))


@x("x202_sgd_audit", None)   # rows-only: per-shard SGD has no closed
def x202(spark, sf):         # SQL form (classifier.py:146 documents it)
    """Trajectory audit for the SGD throughput twin (the r9 VERDICT
    mandate): the ONE closed-form stage of parallel mini-batch SGD —
    doc-weighted shard averaging — is logged per epoch and REPLAYED by
    an independent reduction (Spark SQL weighted mean over the logged
    shard checksums vs the driver's NumPy vector fold; linearity makes
    the weight-sum checksum commute with averaging), so a
    shard-weighting bug flips ``w_match``/``b_match`` to false even
    though the inner SGD is not cross-engine replayable.  The
    ``agreement`` column grades the final SGD model against the
    auditable full-batch trajectory (x188's path, 8 steps) on every
    document — a silent quality collapse is driver-visible.  Output:
    one row per epoch."""
    from ..operators.classifier import (_features, _score_expr,
                                        quality_classifier_fit,
                                        quality_classifier_fit_sgd)

    docs = load_docs(spark, sf)
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda t: t != "")
    share = (F.size(F.filter(words, lambda w: w.isin("the", "a")))
             / F.size(words))
    d = docs.withColumn("__sh", share)
    seed = (d.filter((F.col("__sh") >= 0.09) | (F.col("__sh") <= 0.03))
             .withColumn("__y", (F.col("__sh") >= 0.09).cast("int")))
    audit: list = []
    w_s, b_s = quality_classifier_fit_sgd(
        seed, "doc_id", "text", "__y", n_buckets=256, epochs=2,
        batch_size=64, audit_sink=audit)
    w_f, b_f = quality_classifier_fit(seed, "doc_id", "text", "__y",
                                      n_buckets=256, steps=8, lr=4.0)
    # r12: BOTH models' predictions ride one projection over the
    # shared cached feature pass — same per-doc arithmetic as two
    # quality_classifier_score calls joined on doc_id (identical row
    # set: docs with no tokens are absent from both), one corpus scan
    # and no join instead of two scans + an equi-join
    feat = _features(docs, "doc_id", "text", 256, "qclf")
    p_sgd = _score_expr(list(w_s), float(b_s), 9) >= 0.5
    p_full = _score_expr(list(w_f), float(b_f), 9) >= 0.5
    agree = (feat.agg(F.avg((p_sgd == p_full).cast("double")))
                 .collect()[0][0])
    shards = spark.createDataFrame(
        [(r["epoch"], r["shard"], r["n"], r["w_sum"], r["b"])
         for r in audit if r["shard"] >= 0],
        "epoch int, shard int, n long, w_sum double, b double")
    driver = spark.createDataFrame(
        [(r["epoch"], r["n"], r["w_sum"], r["b"])
         for r in audit if r["shard"] == -1],
        "epoch int, n_total long, w_avg double, b_avg double")
    replay = (shards.groupBy("epoch")
              .agg(F.count(F.lit(1)).alias("n_shards"),
                   F.sum("n").alias("n_docs"),
                   (F.sum(F.col("w_sum") * F.col("n")) / F.sum("n"))
                   .alias("w_replay"),
                   (F.sum(F.col("b") * F.col("n")) / F.sum("n"))
                   .alias("b_replay")))
    # the match columns compare with a tolerance, NOT equality of
    # 6-dp-rounded values: Spark's aggregated float sum and the
    # driver's NumPy fold can order additions differently, and a value
    # landing ~1e-16 from a .5 rounding boundary would flip the
    # rounded comparison — a flaky-false audit (ADVICE r10)
    return (replay.join(driver, "epoch")
            .select("epoch", "n_shards", "n_docs",
                    F.round("w_avg", 6).alias("w_avg"),
                    F.round("w_replay", 6).alias("w_replay"),
                    (F.abs(F.col("w_avg") - F.col("w_replay"))
                     < F.lit(1e-9)).alias("w_match"),
                    F.round("b_avg", 6).alias("b_avg"),
                    F.round("b_replay", 6).alias("b_replay"),
                    (F.abs(F.col("b_avg") - F.col("b_replay"))
                     < F.lit(1e-9)).alias("b_match"),
                    F.round(F.lit(float(agree)), 4).alias("agreement"))
            .orderBy("epoch"))


def _x203_sql(ncells: int = 8, coarse_iters: int = 2) -> str:
    """Occupancy oracle: the shared coarse-Lloyd + assignment chain
    (v .. acell from _ivfpq_cte_parts — the PQ stages are not needed
    to count cells), then per-cell counts with empty cells zero-filled
    and ratios against the ncells mean."""
    parts = _ivfpq_cte_parts(ncells=ncells,
                             coarse_iters=coarse_iters)[:3 + 2 * coarse_iters]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT c.cid AS cell,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_codes,
       ROUND(COALESCE(a.n, 0) / t.total, 6) AS share,
       ROUND(COALESCE(a.n, 0) * {ncells} / t.total, 4) AS ratio_to_mean
FROM cc{coarse_iters} c
LEFT JOIN (SELECT cell, COUNT(*) AS n FROM acell GROUP BY cell) a
  ON c.cid = a.cell,
     (SELECT COUNT(*) AS total FROM acell) t
ORDER BY cell""")


@x("x203_ivfpq_occupancy", _x203_sql())
def x203(spark, sf):
    """Per-cell occupancy audit of the IVF-PQ index (the serve-scan
    skew report): ADC reads nprobe whole cells, so ratio_to_mean ≫ 1
    on a cell is the maintenance signal for ivfpq_rebalance's hot-cell
    split.  Empty cells report 0 (they are free to probe).  One
    map-combined count shuffle over the codes; the oracle replays the
    coarse training, every assignment and the counts.
    operators/similarity.py::ivfpq_cell_occupancy."""
    from ..operators.similarity import (ivfpq_cell_occupancy,
                                        ivfpq_train_encode)

    emb = load_emb(spark, sf)
    codes, coarse, _books = ivfpq_train_encode(
        emb, ncells=8, m=4, ksub=8, coarse_iters=2, pq_iters=2)
    return ivfpq_cell_occupancy(codes, len(coarse))


def _x204_sql(iters: int = 2, maxw: int = 16) -> str:
    """Per-doc unigram-LM cost oracle: the x200 training chain + the
    x201 encode DP over the distinct-word table, reassembled per
    document by an equi-join on the word."""
    parts = _unigram_cte_parts(iters=iters, maxw=maxw)
    parts.extend(_unigram_dp_parts("e", "d0", f"p{iters}", maxw))
    parts.append(f"""docw AS (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
    FROM documents)
  WHERE word <> '' AND length(word) <= {maxw}
)""")
    parts.append(f"""ws AS (
  SELECT word, CAST(substr(v, 1, 13) AS DOUBLE) AS score,
         CAST(substr(v, 14, 3) AS INTEGER) AS ntok
  FROM (SELECT word, sc[length(word) + 1] AS v FROM e_{maxw})
)""")
    return ("WITH " + ",\n".join(parts) + """
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
       ROUND(SUM(score), 6) AS total_cost,
       ROUND(SUM(score) / SUM(ntok), 6) AS nats_per_token
FROM docw d JOIN ws USING (word)
GROUP BY d.doc_id ORDER BY doc_id""")


def _x208_sql(iters: int = 2, maxw: int = 16) -> str:
    """CCNet bucket oracle: the x204 per-doc score chain, tercile cuts
    via quantile_cont (rounded to 6 dp — the same value Spark's exact
    `percentile` produces), map-only CASE bucketing, per-(source,
    bucket) counts."""
    parts = _unigram_cte_parts(iters=iters, maxw=maxw)
    parts.extend(_unigram_dp_parts("e", "d0", f"p{iters}", maxw))
    parts.append(f"""docw AS (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
    FROM documents)
  WHERE word <> '' AND length(word) <= {maxw}
)""")
    parts.append(f"""ws AS (
  SELECT word, CAST(substr(v, 1, 13) AS DOUBLE) AS score,
         CAST(substr(v, 14, 3) AS INTEGER) AS ntok
  FROM (SELECT word, sc[length(word) + 1] AS v FROM e_{maxw})
)""")
    parts.append("""docscore AS MATERIALIZED (
  SELECT d.doc_id, ROUND(SUM(score) / SUM(ntok), 6) AS nats
  FROM docw d JOIN ws USING (word) GROUP BY d.doc_id
)""")
    parts.append("""cuts AS (
  SELECT ROUND(quantile_cont(nats, 1.0/3), 6) AS c1,
         ROUND(quantile_cont(nats, 2.0/3), 6) AS c2
  FROM docscore
)""")
    return ("WITH " + ",\n".join(parts) + """
SELECT doc.source,
       CASE WHEN s.nats <= cuts.c1 THEN 'head'
            WHEN s.nats <= cuts.c2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(ROUND(SUM(s.nats), 6) / COUNT(*), 6) AS mean_nats
FROM docscore s JOIN documents doc USING (doc_id), cuts
GROUP BY 1, 2 ORDER BY source, bucket""")


def _x210_sql(iters: int = 2, maxw: int = 16) -> str:
    """Per-language CCNet bucket oracle: the x204 score chain, grouped
    quantile_cont cuts per lang, CASE bucketing, per-(lang, bucket)
    counts with the cut points in the output."""
    parts = _unigram_cte_parts(iters=iters, maxw=maxw)
    parts.extend(_unigram_dp_parts("e", "d0", f"p{iters}", maxw))
    parts.append(f"""docw AS (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
    FROM documents)
  WHERE word <> '' AND length(word) <= {maxw}
)""")
    parts.append(f"""ws AS (
  SELECT word, CAST(substr(v, 1, 13) AS DOUBLE) AS score,
         CAST(substr(v, 14, 3) AS INTEGER) AS ntok
  FROM (SELECT word, sc[length(word) + 1] AS v FROM e_{maxw})
)""")
    parts.append("""docscore AS MATERIALIZED (
  SELECT d.doc_id, doc.lang, ROUND(SUM(score) / SUM(ntok), 6) AS nats
  FROM docw d JOIN ws USING (word)
       JOIN documents doc ON doc.doc_id = d.doc_id
  GROUP BY d.doc_id, doc.lang
)""")
    parts.append("""cuts AS (
  SELECT lang, ROUND(quantile_cont(nats, 1.0/3), 6) AS c1,
         ROUND(quantile_cont(nats, 2.0/3), 6) AS c2
  FROM docscore GROUP BY lang
)""")
    return ("WITH " + ",\n".join(parts) + """
SELECT s.lang,
       CASE WHEN s.nats <= c.c1 THEN 'head'
            WHEN s.nats <= c.c2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(ROUND(SUM(s.nats), 6) / COUNT(*), 6) AS mean_nats,
       c.c1, c.c2
FROM docscore s JOIN cuts c USING (lang)
GROUP BY 1, 2, c.c1, c.c2 ORDER BY lang, bucket""")


@x("x210_ccnet_by_language", _x210_sql())
def x210(spark, sf):
    """CCNet bucketing AS PUBLISHED — per LANGUAGE (Wenzek 2020 §4.3
    buckets within language because perplexity scales differ across
    languages; a global cut would mark whole languages "tail"):
    head/middle/tail terciles of nats/token within each lang, the cut
    points in the output (the thresholds a serving filter pins).
    Grouped exact-percentile cuts (groups × 2 doubles, broadcast
    back) — still no global sort.  The oracle replays training, every
    doc score, every per-language cut and every bucket count.
    operators/unigram.py::ccnet_buckets_by_group."""
    from ..operators.unigram import (ccnet_buckets_by_group,
                                     unigram_trained_vocab)

    docs = load_docs(spark, sf)
    _words, vocab = unigram_trained_vocab(docs)
    return ccnet_buckets_by_group(docs, vocab)


@x("x208_ccnet_buckets", _x208_sql())
def x208(spark, sf):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3) per source: documents tercile-split on the x200-trained
    unigram LM's nats/token — the standard triage before deciding what
    a crawl source contributes to training.  NO global sort: the cuts
    are one exact-percentile aggregation (two rounded doubles), the
    bucket a map-only CASE, the output a ≤ sources×3-row shuffle; the
    per-doc scores reuse the x204 chain (DP once per distinct word).
    The oracle replays training, every doc score, both cuts and every
    bucket count.  operators/unigram.py::ccnet_buckets."""
    from ..operators.unigram import ccnet_buckets, unigram_trained_vocab

    docs = load_docs(spark, sf)
    _words, vocab = unigram_trained_vocab(docs)
    return ccnet_buckets(docs, vocab)


@x("x204_unigram_perplexity", _x204_sql())
def x204(spark, sf):
    """Per-document unigram-LM cost — the CCNet-style learned quality
    signal (documents the LM finds cheap look like the training
    distribution; expensive ones are the filter candidates), computed
    with the x200-trained vocabulary.  The Viterbi DP runs once per
    DISTINCT word and broadcast-joins onto the exploded corpus, so the
    corpus never meets the DP — only the vocabulary does.  The oracle
    replays training, every word's DP state and every per-doc sum.
    operators/unigram.py::unigram_doc_scores."""
    from ..operators.unigram import (unigram_doc_scores,
                                     unigram_trained_vocab)

    docs = load_docs(spark, sf)
    _words, vocab = unigram_trained_vocab(docs)
    return unigram_doc_scores(docs, vocab).orderBy("doc_id")


def _x205_sql(bpe_iters: int = 5, iters: int = 2,
              maxw: int = 16, top: int = 30) -> str:
    """Fertility comparison oracle: the unigram chain (which defines
    the length-capped word table ``w``) + the BPE merge chain sharing
    that same ``w`` (skip_w) + the PRUNED unigram chain (prefix ``q``,
    sharing ``w``/``sub``/``d0``), then tokens-per-word for all three
    tokenizers joined per word."""
    from .analytics import _bpe_cte_parts

    parts = _unigram_cte_parts(iters=iters, maxw=maxw)
    parts.extend(_unigram_dp_parts("e", "d0", f"p{iters}", maxw))
    parts.extend(_bpe_cte_parts(bpe_iters, skip_w=True))
    pparts, plast = _unigram_pruned_cte_parts(maxw=maxw, prefix="q",
                                              skip_base=True)
    parts.extend(pparts)
    parts.extend(_unigram_dp_parts("qe", "d0", f"qp{plast}", maxw))
    return ("WITH " + ",\n".join(parts) + f"""
SELECT b.word, CAST(b.cnt AS BIGINT) AS cnt,
       CAST(b.bpe_tokens AS INTEGER) AS bpe_tokens,
       u.uni_tokens, q.pruned_tokens,
       ROUND(b.bpe_tokens * 1.0 / u.uni_tokens, 4) AS fertility_ratio
FROM (SELECT word, cnt,
             len(list_filter(string_split(s, chr(30)), x -> x <> ''))
               AS bpe_tokens
      FROM s{bpe_iters}) b
JOIN (SELECT word, CAST(substr(sc[length(word) + 1], 14, 3) AS INTEGER)
               AS uni_tokens
      FROM e_{maxw}) u USING (word)
JOIN (SELECT word, CAST(substr(sc[length(word) + 1], 14, 3) AS INTEGER)
               AS pruned_tokens
      FROM qe_{maxw}) q USING (word)
ORDER BY cnt DESC, word LIMIT {top}""")


@x("x205_tokenizer_fertility", _x205_sql())
def x205(spark, sf):
    """Tokenizer-family fertility audit: tokens-per-word of the BPE
    vocabulary (5 merges, x114's trajectory) vs the unigram-LM
    vocabulary (x200's trajectory) over the SAME length-capped word
    table — the measurement behind choosing a tokenizer family (lower
    fertility = fewer tokens for the same text = cheaper training).
    All trainings are vocabulary-sized driver loops; all encodes are
    map-only vocab passes.  The r11 extension adds the PRUNED unigram
    vocabulary (x206's schedule) as a third column, so the audit now
    also measures what vocabulary-size targeting costs in fertility.
    The oracle replays all THREE trajectories and every per-word token
    count."""
    from ..operators.bpe import bpe_encode_vocab, learn_bpe_merges_local
    from ..operators.unigram import (unigram_encode,
                                     unigram_trained_vocab,
                                     unigram_train_pruned)

    docs = load_docs(spark, sf)
    # words rides the bounded operator cache ring: it feeds BOTH
    # training collects AND the encode branches the driver evaluates
    # later (an eager unpersist here would recompute the corpus
    # word-frequency pass per branch at hash time)
    words, vocab = unigram_trained_vocab(docs)
    rows = [(r["word"], int(r["cnt"])) for r in words.collect()]
    pruned = unigram_train_pruned(rows)
    merges = learn_bpe_merges_local(words, iters=5)
    bpe = (bpe_encode_vocab(words, merges)
           .select("word", "cnt",
                   F.col("n_tokens").cast("int").alias("bpe_tokens")))
    uni = (unigram_encode(words.select("word"), vocab)
           .select("word", F.col("n_tokens").alias("uni_tokens")))
    pru = (unigram_encode(words.select("word"), pruned)
           .select("word", F.col("n_tokens").alias("pruned_tokens")))
    return (bpe.join(uni, "word").join(pru, "word")
            .select("word", "cnt", "bpe_tokens", "uni_tokens",
                    "pruned_tokens",
                    F.round(F.col("bpe_tokens") / F.col("uni_tokens"),
                            4).alias("fertility_ratio"))
            .orderBy(F.desc("cnt"), "word").limit(30))


def _langid_oracle_sql(nb: int = 64, steps: int = 4, lr: float = 2.0,
                       langs: tuple = ("de", "en", "es", "fr", "zh")
                       ) -> str:
    """DuckDB replay of the FULL multiclass language-ID trajectory
    (x207): hashed char-trigram features, then per language the x188
    GD chain (z/p/gradient/weights per step, all rounded to 9 dp at
    the same reduction points), per-doc argmax with the (p DESC, lang
    DESC) tie-break mirroring the engine's struct max, confusion
    matrix.  The language list is static (the fixture's labels) — the
    weight chains must unroll per class."""
    parts = [f"""tok AS MATERIALIZED (
  SELECT doc_id,
         CAST(('0x' || substring(md5('langid-' || g), 1, 8)) AS BIGINT)
           % {nb} AS b
  FROM (SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, GREATEST(length(t) - 2, 0)),
                 i -> substr(t, i, 3))) AS g
        FROM (SELECT doc_id, lower(text) AS t FROM documents))
)""", """feat AS MATERIALIZED (
  SELECT doc_id, b, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2
)""", """ntok AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n FROM tok GROUP BY 1
)""", """lbl AS MATERIALIZED (
  SELECT d.doc_id, d.lang FROM documents d JOIN ntok USING (doc_id)
)""", """nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM lbl
)"""]
    for lg in langs:
        parts.append(f"""w{lg}0 AS (
  SELECT unnest(generate_series(-1, {nb - 1})) AS b, 0.0 AS wt
)""")
        for t in range(steps):
            parts.append(f"""z{lg}{t} AS MATERIALIZED (
  SELECT f.doc_id,
         ROUND(SUM(f.c * w.wt) * {nb}.0 / MAX(n.n)
               + (SELECT wt FROM w{lg}{t} WHERE b = -1), 9) AS z
  FROM feat f JOIN w{lg}{t} w ON f.b = w.b
       JOIN ntok n ON n.doc_id = f.doc_id
  GROUP BY f.doc_id
)""")
            parts.append(f"""p{lg}{t} AS MATERIALIZED (
  SELECT z.doc_id, ROUND(1.0 / (1.0 + exp(-z.z)), 9) AS p,
         CASE WHEN s.lang = '{lg}' THEN 1.0 ELSE 0.0 END AS y
  FROM z{lg}{t} z JOIN lbl s USING (doc_id)
)""")
            parts.append(f"""g{lg}{t} AS MATERIALIZED (
  SELECT f.b,
         ROUND(SUM((p.p - p.y) * f.c * {nb}.0 / n.n)
               / (SELECT nd FROM nn), 9) AS g
  FROM feat f JOIN p{lg}{t} p USING (doc_id)
       JOIN ntok n USING (doc_id)
  GROUP BY f.b
  UNION ALL
  SELECT -1, ROUND(SUM(p.p - p.y) / (SELECT nd FROM nn), 9)
  FROM p{lg}{t} p
)""")
            parts.append(f"""w{lg}{t + 1} AS MATERIALIZED (
  SELECT w.b, ROUND(w.wt - {lr} * COALESCE(g.g, 0.0), 9) AS wt
  FROM w{lg}{t} w LEFT JOIN g{lg}{t} g USING (b)
)""")
        parts.append(f"""pf{lg} AS MATERIALIZED (
  SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 9) AS p FROM (
    SELECT f.doc_id,
           ROUND(SUM(f.c * w.wt) * {nb}.0 / MAX(n.n)
                 + (SELECT wt FROM w{lg}{steps} WHERE b = -1), 9) AS z
    FROM feat f JOIN w{lg}{steps} w ON f.b = w.b
         JOIN ntok n ON n.doc_id = f.doc_id
    GROUP BY f.doc_id)
)""")
    union = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, '{lg}' AS lang, p FROM pf{lg}" for lg in langs)
    parts.append(f"""pred AS (
  SELECT doc_id, lang AS pred_lang FROM (
    SELECT doc_id, lang, p,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY p DESC, lang DESC) AS rn
    FROM ({union}))
  WHERE rn = 1
)""")
    return "WITH " + ",\n".join(parts) + """
SELECT l.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred p JOIN lbl l USING (doc_id)
GROUP BY 1, 2 ORDER BY lang, pred_lang"""


@x("x207_language_id", _langid_oracle_sql())
def x207(spark, sf):
    """Language identification — the first pass of every multilingual
    corpus build (the r10 VERDICT's #3 missing operator): multiclass
    one-vs-rest logistic regression on 64 hashed character TRIGRAMS
    (the Cavnar-&-Trenkle / langid.py feature family), trained on the
    ``documents.lang`` labels with the x188 deterministic-GD
    discipline — 4 quantized full-batch steps per language over ONE
    shared cached feature pass — then every document scored in one
    map-only projection and argmax'd by (score, lang) struct max.
    Output: the (lang, pred_lang, n_docs) confusion matrix; the oracle
    replays ALL FIVE weight chains and the argmax value-for-value.
    (On this fixture the labels are random w.r.t. the text, so the
    matrix shows base-rate behavior — the separable-script unit test
    in tests/test_langid.py shows 98% accuracy where signal exists.)
    operators/langid.py."""
    from ..operators.langid import (language_classifier_fit,
                                    language_classifier_score,
                                    language_confusion)

    docs = load_docs(spark, sf)
    models = language_classifier_fit(docs, "doc_id", "text", "lang",
                                     n_buckets=64, steps=4, lr=2.0)
    scored = language_classifier_score(docs, models, "doc_id", "text")
    return language_confusion(docs, scored, "doc_id", "lang")


@x("x206_unigram_pruned", _x206_sql())
def x206(spark, sf):
    """Vocabulary-size-targeted unigram training (the r10 VERDICT's
    missing piece: Kudo 2018 §4 EM pruning toward a production vocab):
    seed 96 multi-char candidates, per round one hard-EM iteration
    then keep the top-Kᵣ multis by likelihood contribution
    (round(cnt·cost, 6) DESC, piece ASC) with Kᵣ = max(24, ceil(0.75
    Kᵣ₋₁)), then one settle iteration — chars never pruned.  Same ONE
    corpus pass + driver-side EM posture as x200; the oracle replays
    the seed, every round's DP sweep, usage counts, contribution
    ranking and re-normalization.  SCALE.md §25 measures a 10×-larger
    seed.  operators/unigram.py::unigram_train_pruned."""
    from ..operators.unigram import unigram_pruned_vocab

    docs = load_docs(spark, sf)
    _words, vocab = unigram_pruned_vocab(docs)
    return (spark.createDataFrame(
        vocab, "piece string, cnt bigint, cost double")
        .orderBy("piece"))


def _x211_sql() -> str:
    """Gopher-rule oracle: every measured column and every rule
    verdict of operators/text.py::gopher_rules replayed in DuckDB —
    word/line splits, symbol counts, per-language stop lists, the
    published thresholds."""
    from ..operators.text import _GOPHER_STOPWORDS

    def lst(lg):
        return "[" + ",".join(f"'{w}'" for w in _GOPHER_STOPWORDS[lg]) \
            + "]"

    stop_case = ("CASE lang "
                 + " ".join(
                     f"WHEN '{lg}' THEN len(list_filter(words, "
                     f"w -> list_contains({lst(lg)}, w)))"
                     for lg in sorted(_GOPHER_STOPWORDS)
                     if lg != "en")
                 + f" ELSE len(list_filter(words, "
                   f"w -> list_contains({lst('en')}, w))) END")
    return f"""WITH base AS (
  SELECT doc_id, text, lang,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     w -> w <> '') AS words,
         regexp_split_to_array(text, '\\n') AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    GREATEST(len(words), 1) AS dw,
    GREATEST(len(lines), 1) AS dl,
    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
      AS n_wchars,
    CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
      + CAST(len(regexp_extract_all(text, '\\.{{3}}|…')) AS DOUBLE)
      AS n_sym,
    CAST(len(list_filter(lines,
         l -> regexp_matches(l, '^\\s*[-*•‣▪]'))) AS DOUBLE)
      AS n_bullet,
    CAST(len(list_filter(lines,
         l -> regexp_matches(l, '(\\.{{3}}|…)\\s*$'))) AS DOUBLE)
      AS n_ell_lines,
    CAST(len(list_filter(words,
         w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) AS n_alpha,
    CAST({stop_case} AS BIGINT) AS stop_hits
  FROM base
), r AS (
  SELECT doc_id, n_words,
    ROUND(n_wchars / dw, 6) AS mean_word_len,
    ROUND(n_sym / dw, 6) AS symbol_ratio,
    ROUND(n_bullet / dl, 6) AS bullet_frac,
    ROUND(n_ell_lines / dl, 6) AS ellipsis_frac,
    ROUND(n_alpha / dw, 6) AS alpha_frac,
    stop_hits
  FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_frac, stop_hits,
       n_words BETWEEN 50 AND 100000 AS pass_word_count,
       mean_word_len BETWEEN 3.0 AND 10.0 AS pass_mean_word_len,
       symbol_ratio <= 0.1 AS pass_symbol_ratio,
       bullet_frac <= 0.9 AS pass_bullet,
       ellipsis_frac <= 0.3 AS pass_ellipsis,
       alpha_frac >= 0.8 AS pass_alpha,
       stop_hits >= 2 AS pass_stop,
       (n_words BETWEEN 50 AND 100000)
         AND (mean_word_len BETWEEN 3.0 AND 10.0)
         AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
         AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
         AND stop_hits >= 2 AS gopher_pass
FROM r ORDER BY doc_id"""


@x("x211_gopher_rules", _x211_sql())
def x211(spark, sf):
    """The published Gopher/MassiveWeb quality rule set (Rae et al.
    2021 §A1.1) as individually audited per-document columns — the
    r11-VERDICT gap #2: the composite ``quality_score`` heuristic
    can't tell WHICH rule dropped a document; this emits every
    measured signal (word count, mean word length, symbol ratio,
    bullet/ellipsis line fractions, alpha-word fraction, stop-word
    hits keyed on the document's language) and every per-rule verdict
    plus the conjunction.  All map-side Catalyst expressions — no
    shuffle, no UDF; the oracle replays every column and threshold.
    operators/text.py::gopher_rules."""
    from ..operators.text import gopher_rules

    docs = load_docs(spark, sf)
    cols = ["n_words", "mean_word_len", "symbol_ratio", "bullet_frac",
            "ellipsis_frac", "alpha_frac", "stop_hits",
            "pass_word_count", "pass_mean_word_len",
            "pass_symbol_ratio", "pass_bullet", "pass_ellipsis",
            "pass_alpha", "pass_stop", "gopher_pass"]
    return (gopher_rules(docs, "text", lang_col="lang")
            .select("doc_id", *cols).orderBy("doc_id"))


def _pq_chain_parts(pfx: str, src: str, qsrc: str, m: int, ksub: int,
                    iters: int, dim: int, k: int) -> list[str]:
    """The x186 PQ replay (per-subspace deterministic Lloyd, codes,
    ADC tables, ranked search) parameterized by CTE prefix and source
    — ``src``/``qsrc`` are CTEs of ``(vec_id, e DOUBLE[])`` for the
    corpus and the query batch, so the same generator replays plain
    PQ (over the embeddings) and OPQ (over the rotated frame) in ONE
    oracle (x212)."""
    dsub = dim // m
    d2 = ("ROUND(list_sum(list_transform(list_zip(v.e, c.c), "
          "x -> (x[1]-x[2])*(x[1]-x[2]))), 6)")
    parts = []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(f"""{pfx}v{s} AS MATERIALIZED (
  SELECT vec_id, list_slice(e, {lo}, {hi})::DOUBLE[] AS e FROM {src}
)""")
        parts.append(f"""{pfx}c{s}_0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         e AS c
  FROM (SELECT vec_id, e FROM {pfx}v{s} ORDER BY vec_id LIMIT {ksub})
)""")
        for t in range(1, iters + 1):
            parts.append(f"""{pfx}a{s}_{t} AS MATERIALIZED (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM {pfx}v{s} v CROSS JOIN {pfx}c{s}_{t-1} c) WHERE rn = 1
)""")
            parts.append(f"""{pfx}c{s}_{t} AS MATERIALIZED (
  SELECT p.cid, COALESCE(n.c, p.c) AS c
  FROM {pfx}c{s}_{t-1} p LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS c FROM (
      SELECT cid, i, ROUND(avg(e[i]), 6) AS m
      FROM {pfx}a{s}_{t}, generate_series(1, {dsub}) AS t(i)
      GROUP BY cid, i)
    GROUP BY cid) n ON p.cid = n.cid
)""")
        parts.append(f"""{pfx}code{s} AS MATERIALIZED (
  SELECT vec_id, cid AS code FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM {pfx}v{s} v CROSS JOIN {pfx}c{s}_{iters} c) WHERE rn = 1
)""")
    codes_union = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {s} AS s, code FROM {pfx}code{s}"
        for s in range(m))
    tabs_union = "\n  UNION ALL\n  ".join(
        f"""SELECT q.vec_id AS qid, {s} AS s, c.cid AS code,
         ROUND(list_sum(list_transform(
           list_zip(list_slice(q.e, {s*dsub+1}, {(s+1)*dsub})::DOUBLE[],
                    c.c),
           x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS d
  FROM {qsrc} q CROSS JOIN {pfx}c{s}_{iters} c""" for s in range(m))
    parts.append(f"""{pfx}codesl AS (
  {codes_union}
)""")
    parts.append(f"""{pfx}tabs AS (
  {tabs_union}
)""")
    parts.append(f"""{pfx}adcr AS (
  SELECT qid, vec_id, rn FROM (
    SELECT t.qid, cl.vec_id, ROUND(SUM(t.d), 6) AS adc,
           row_number() OVER (PARTITION BY t.qid
                              ORDER BY ROUND(SUM(t.d), 6), cl.vec_id)
             AS rn
    FROM {pfx}codesl cl JOIN {pfx}tabs t
         ON cl.s = t.s AND cl.code = t.code
    GROUP BY t.qid, cl.vec_id) WHERE rn <= {k}
)""")
    return parts


def _x212_sql(m: int = 8, ksub: int = 16, iters: int = 2,
              dim: int = 64, pca_iters: int = 8, n_queries: int = 20,
              k: int = 10) -> str:
    """OPQ oracle: the x185 power-iteration chain, the Householder
    vector (zero on an axis-aligned component — same formula the
    engine uses, no branch), the rotated corpus, then TWO full PQ
    replays (plain prefix ``p``, rotated prefix ``o``) graded against
    the shared exact ranking."""
    parts = [f"""a AS MATERIALIZED (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), cu AS MATERIALIZED (
  SELECT ai.i AS i, aj.i AS j, ROUND(covar_pop(ai.x, aj.x), 6) AS cov
  FROM a ai JOIN a aj ON ai.vec_id = aj.vec_id AND ai.i <= aj.i
  GROUP BY 1, 2
), sym AS MATERIALIZED (
  SELECT i, j, cov FROM cu
  UNION ALL
  SELECT j AS i, i AS j, cov FROM cu WHERE i < j
), v0 AS (
  SELECT CAST(i AS INT) AS j,
         CAST({1.0 / dim ** 0.5!r} AS DOUBLE) AS v
  FROM range(1, {dim + 1}) t(i)
)"""]
    for t in range(1, pca_iters + 1):
        parts.append(f"""w{t} AS MATERIALIZED (
  SELECT s.i, ROUND(SUM(s.cov * p.v), 9) AS w
  FROM sym s JOIN v{t-1} p ON s.j = p.j GROUP BY s.i
), v{t} AS MATERIALIZED (
  SELECT i AS j,
         ROUND(w / (SELECT sqrt(SUM(w * w)) FROM w{t}), 9) AS v
  FROM w{t}
)""")
    parts.append(f"""u0 AS (
  SELECT j, v - CASE WHEN j = 1 THEN 1.0 ELSE 0.0 END AS u0
  FROM v{pca_iters}
), nu AS (
  SELECT sqrt(SUM(u0 * u0)) AS nu FROM u0
), hh AS MATERIALIZED (
  SELECT j, CASE WHEN nu.nu < 1e-9 THEN 0.0
                 ELSE ROUND(u0 / nu.nu, 9) END AS u
  FROM u0 CROSS JOIN nu
), qdot AS MATERIALIZED (
  SELECT a.vec_id, ROUND(SUM(a.x * hh.u), 9) AS dot
  FROM a JOIN hh ON a.i = hh.j GROUP BY a.vec_id
), rot AS MATERIALIZED (
  SELECT vec_id, list(rx ORDER BY i) AS e FROM (
    SELECT a.vec_id, a.i, ROUND(a.x - 2 * q.dot * hh.u, 6) AS rx
    FROM a JOIN hh ON a.i = hh.j JOIN qdot q USING (vec_id))
  GROUP BY vec_id
), pv AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE embedding IS NOT NULL
), pq_q AS (
  SELECT vec_id, e FROM pv WHERE vec_id < {n_queries}
), oq_q AS (
  SELECT vec_id, e FROM rot WHERE vec_id < {n_queries}
)""")
    parts += _pq_chain_parts("p", "pv", "pq_q", m, ksub, iters, dim, k)
    parts += _pq_chain_parts("o", "rot", "oq_q", m, ksub, iters, dim, k)
    parts.append(f"""exr AS (
  SELECT qid, vec_id FROM (
    SELECT q.vec_id AS qid, v.vec_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             ROUND(list_sum(list_transform(list_zip(q.e, v.e),
               x -> (x[1]-x[2])*(x[1]-x[2]))), 6), v.vec_id) AS rn
    FROM pq_q q CROSS JOIN pv v) WHERE rn <= {k}
)""")
    parts.append("""phits AS (
  SELECT p.qid, CAST(COUNT(e.vec_id) AS BIGINT) AS hits
  FROM padcr p LEFT JOIN exr e
       ON p.qid = e.qid AND p.vec_id = e.vec_id
  GROUP BY p.qid
), ohits AS (
  SELECT o.qid, CAST(COUNT(e.vec_id) AS BIGINT) AS hits
  FROM oadcr o LEFT JOIN exr e
       ON o.qid = e.qid AND o.vec_id = e.vec_id
  GROUP BY o.qid
)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT p.qid AS query_id,
       p.hits AS hits_pq, ROUND(p.hits / {k}.0, 2) AS recall_pq,
       o.hits AS hits_opq, ROUND(o.hits / {k}.0, 2) AS recall_opq
FROM phits p JOIN ohits o USING (qid) ORDER BY query_id""")


@x("x212_opq_recall", _x212_sql())
def x212(spark, sf):
    """Optimized product quantization (Ge et al. 2013), the
    deterministic parametric variant on the x185 substrate: ONE
    Householder reflection aligns the replayable power-iteration top
    component with axis 1 before the x186 PQ training — measured
    against plain PQ IN THE ENTRY: per query ``(hits_pq, recall_pq,
    hits_opq, recall_opq)`` against the shared exact ranking (fixture:
    OPQ 0.395 mean recall vs plain 0.375).  The rotation is map-only
    Catalyst (one dot product + a transform); the oracle replays the
    PCA chain, the Householder vector, every rotated coordinate, BOTH
    full PQ trainings, both ADC rankings and both recall grades.
    The serpentine variance-balancing permutation (Ge §4.1's
    eigenvalue-allocation analogue) is opt-in and unit-tested on a
    skewed-variance fixture where it is the remedy.
    operators/similarity.py::opq_train_encode."""
    from ..operators.similarity import (opq_adc_topk, opq_train_encode,
                                        pq_adc_topk, pq_train_encode)
    from ..util import retain_cache

    # one materialized scan shared by BOTH trainings, both ADC query
    # collects and the exact ranking (the x186 pattern, r14)
    emb = retain_cache(load_emb(spark, sf))
    codes_p, books_p = pq_train_encode(emb, m=8, ksub=16, iters=2)
    codes_o, books_o, u, perm = opq_train_encode(emb, m=8, ksub=16,
                                                 iters=2)
    qs = emb.filter(F.col("vec_id") < 20)
    adc_p = pq_adc_topk(qs, codes_p, books_p, k=10)
    adc_o = opq_adc_topk(qs, codes_o, books_o, u, perm, k=10)

    exact = _exact_ranking(qs, emb)
    return (_grade_recall(adc_p, exact, hits="hits_pq", recall="recall_pq")
            .join(_grade_recall(adc_o, exact, hits="hits_opq",
                                recall="recall_opq"), "query_id")
            .orderBy("query_id"))


def _x213_sql() -> str:
    """C4-rule oracle: every measured column and page verdict of
    operators/text.py::c4_rules replayed in DuckDB."""
    from ..operators.text import _C4_BADWORDS_STUB

    bw = "[" + ",".join(f"'{w}'" for w in _C4_BADWORDS_STUB) + "]"
    return f"""WITH base AS (
  SELECT doc_id, text, lower(text) AS low,
         regexp_split_to_array(text, '\\n') AS lines,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     w -> w <> '') AS words
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(lines) AS BIGINT) AS n_lines,
    GREATEST(len(lines), 1) AS dl,
    CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)
      AS n_sentences,
    CAST(len(list_filter(lines,
         l -> regexp_matches(l, '[.!?"]\\s*$'))) AS DOUBLE)
      AS n_terminal,
    CAST(len(list_filter(lines,
         l -> len(list_filter(regexp_split_to_array(l, '\\s+'),
                              w -> w <> '')) < 3)) AS DOUBLE)
      AS n_short,
    contains(low, 'lorem ipsum') AS has_lorem_ipsum,
    contains(text, '{{') AS has_brace,
    len(list_filter(lines,
        l -> contains(lower(l), 'javascript'))) > 0
      AS has_javascript_line,
    len(list_intersect(list_distinct(words), {bw})) > 0
      AS has_bad_word
  FROM base
)
SELECT doc_id, n_lines, n_sentences,
       ROUND(n_terminal / dl, 6) AS frac_terminal_lines,
       ROUND(n_short / dl, 6) AS frac_short_lines,
       has_lorem_ipsum, has_brace, has_javascript_line, has_bad_word,
       n_sentences >= 5 AS pass_sentences,
       NOT has_lorem_ipsum AS pass_lorem,
       NOT has_brace AS pass_brace,
       NOT has_bad_word AS pass_badwords,
       n_sentences >= 5 AND NOT has_lorem_ipsum AND NOT has_brace
         AND NOT has_bad_word AS c4_pass
FROM m ORDER BY doc_id"""


@x("x213_c4_rules", _x213_sql())
def x213(spark, sf):
    """The published C4 cleaning rules (Raffel et al. 2020 §2.2) as
    individually audited per-document columns — the second canonical
    web-corpus rule set next to x211's Gopher rules: sentence count,
    terminal-punctuation and short-line retention fractions (C4's
    line-level filters, reported as audit fractions), lorem-ipsum /
    curly-brace / javascript / blocklist markers, and the page-level
    verdicts with their conjunction.  All map-side Catalyst
    expressions; the oracle replays every column and threshold.
    operators/text.py::c4_rules."""
    from ..operators.text import c4_rules

    docs = load_docs(spark, sf)
    cols = ["n_lines", "n_sentences", "frac_terminal_lines",
            "frac_short_lines", "has_lorem_ipsum", "has_brace",
            "has_javascript_line", "has_bad_word", "pass_sentences",
            "pass_lorem", "pass_brace", "pass_badwords", "c4_pass"]
    return (c4_rules(docs, "text")
            .select("doc_id", *cols).orderBy("doc_id"))


def _x214_sql() -> str:
    """Gopher-repetition oracle: every measured fraction, every
    published threshold verdict and the conjunction of
    operators/text.py::gopher_repetition replayed in DuckDB —
    line/paragraph dup fractions, the deterministic top-gram choice
    (count DESC, len DESC, gram DESC) and the capped dup-gram
    coverage."""
    from ..operators.text import _GOPHER_REP_THRESHOLDS

    top_cols = ",\n       ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN f END), 0.0) "
        f"AS top_{n}gram_char_frac" for n in (2, 3, 4))
    dup_cols = ",\n       ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN f END), 0.0) "
        f"AS dup_{n}gram_char_frac" for n in range(5, 11))
    passes = ",\n       ".join(
        f"{name} <= {thr} AS pass_{name}"
        for name, thr in _GOPHER_REP_THRESHOLDS.items())
    conj = " AND ".join(f"{name} <= {thr}"
                        for name, thr in _GOPHER_REP_THRESHOLDS.items())
    return f"""WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ws,
         regexp_split_to_array(text, '\\n') AS lines,
         list_filter(regexp_split_to_array(text, '\\n\\n'),
                     p -> p <> '') AS paras
  FROM documents
), base AS (
  SELECT doc_id,
    CAST(len(lines) AS DOUBLE) AS nl,
    CAST(len(list_distinct(lines)) AS DOUBLE) AS nld,
    CAST(COALESCE(list_sum(list_transform(lines,
         x -> length(x))), 0) AS DOUBLE) AS lc,
    CAST(COALESCE(list_sum(list_transform(list_distinct(lines),
         x -> length(x))), 0) AS DOUBLE) AS lcd,
    CAST(len(paras) AS DOUBLE) AS np,
    CAST(len(list_distinct(paras)) AS DOUBLE) AS npd,
    CAST(COALESCE(list_sum(list_transform(paras,
         x -> length(x))), 0) AS DOUBLE) AS pc,
    CAST(COALESCE(list_sum(list_transform(list_distinct(paras),
         x -> length(x))), 0) AS DOUBLE) AS pcd,
    CAST(length(array_to_string(ws, ' ')) AS DOUBLE) AS total
  FROM w
), g AS (
  SELECT doc_id, n,
         array_to_string(list_slice(ws, i, i + n - 1), ' ') AS gram
  FROM (SELECT doc_id, ws, ns.n,
               unnest(generate_series(1, len(ws) - ns.n + 1)) AS i
        FROM w, (SELECT unnest(range(2, 11)) AS n) ns
        WHERE len(ws) >= ns.n)
), gc AS MATERIALIZED (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3
), pern AS (
  SELECT t.doc_id, t.n,
         CASE WHEN b.total > 0 AND t.c >= 2 AND t.n <= 4
              THEN ROUND(LEAST(t.c * t.l / b.total, 1.0), 6)
              WHEN b.total > 0 AND t.n >= 5
              THEN ROUND(LEAST(d.dc / b.total, 1.0), 6)
              ELSE 0.0 END AS f
  FROM (SELECT doc_id, n, c, length(gram) AS l FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id, n
            ORDER BY c DESC, length(gram) DESC, gram DESC) AS rn
          FROM gc) WHERE rn = 1) t
  JOIN (SELECT doc_id, n,
               SUM(CASE WHEN c >= 2 THEN c * length(gram)
                        ELSE 0 END) AS dc
        FROM gc GROUP BY 1, 2) d USING (doc_id, n)
  JOIN base b USING (doc_id)
), fr AS (
  SELECT b.doc_id,
    ROUND(CASE WHEN nl > 0 THEN (nl - nld) / nl ELSE 0 END, 6)
      AS dup_line_frac,
    ROUND(CASE WHEN lc > 0 THEN (lc - lcd) / lc ELSE 0 END, 6)
      AS dup_line_char_frac,
    ROUND(CASE WHEN np > 0 THEN (np - npd) / np ELSE 0 END, 6)
      AS dup_para_frac,
    ROUND(CASE WHEN pc > 0 THEN (pc - pcd) / pc ELSE 0 END, 6)
      AS dup_para_char_frac,
    {top_cols},
    {dup_cols}
  FROM base b LEFT JOIN pern p ON b.doc_id = p.doc_id
  GROUP BY b.doc_id, nl, nld, lc, lcd, np, npd, pc, pcd
)
SELECT *,
       {passes},
       {conj} AS repetition_pass
FROM fr ORDER BY doc_id"""


@x("x214_gopher_repetition", _x214_sql())
def x214(spark, sf):
    """The published Gopher REPETITION rules (Rae et al. 2021 §A1.2)
    as individually audited per-document columns — the within-document
    sibling of x211's page-shape rules: duplicate line/paragraph
    fractions (count and character), the top-{2,3,4}-gram character
    coverage (deterministic top choice), the duplicated-{5..10}-gram
    coverage (capped overlap-agnostic bound, disclosed in the
    operator docstring), each with its published threshold verdict
    plus the conjunction.  One explode carries all nine gram sizes;
    two bounded shuffles total — never O(lines²) per document.  The
    oracle replays every fraction, every threshold and the top-gram
    tie-break.  operators/text.py::gopher_repetition."""
    from ..operators.text import gopher_repetition

    docs = load_docs(spark, sf)
    return gopher_repetition(docs).orderBy("doc_id")


_X215_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'),
                     x -> x <> '') AS ws
  FROM documents
), nz AS (
  SELECT * FROM w WHERE len(ws) > 0
), pos AS (
  SELECT doc_id, s - 1 AS p,
         md5(lower(array_to_string(ws[s:s+7], ' '))) AS h
  FROM nz, UNNEST(generate_series(1, greatest(len(ws) - 7, 1))) AS t(s)
), dup AS (
  SELECT h FROM pos GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
), ranked AS (
  SELECT doc_id, p,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
  FROM pos JOIN dup USING (h)
), rstarts AS (
  SELECT doc_id, COUNT(*) AS nrs, list(p) AS ps
  FROM ranked WHERE rn > 1 GROUP BY doc_id
), words AS (
  SELECT nz.doc_id, i - 1 AS wp, ws[i] AS wd,
         len(list_filter(coalesce(r.ps, []),
                         s -> s <= i - 1 AND i - 1 <= s + 7)) = 0 AS keep
  FROM nz LEFT JOIN rstarts r USING (doc_id),
       UNNEST(generate_series(1, len(ws))) AS g(i)
), agg AS (
  SELECT doc_id,
         COUNT(*) AS n_words,
         COUNT(*) FILTER (WHERE NOT keep) AS n_words_removed,
         coalesce(string_agg(wd, ' ' ORDER BY wp) FILTER (WHERE keep),
                  '') AS new_text,
         string_agg(wd, ' ' ORDER BY wp) AS norm_text
  FROM words GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(a.n_words_removed, 0) AS BIGINT)
         AS n_words_removed,
       CAST(coalesce(r.nrs, 0) AS BIGINT) AS n_spans_removed,
       ROUND(CASE WHEN coalesce(len(a.norm_text), 0) > 0
                  THEN (len(a.norm_text) - len(a.new_text))
                       / CAST(len(a.norm_text) AS DOUBLE)
                  ELSE 0.0 END, 6) AS removed_char_frac,
       md5(coalesce(a.new_text, '')) AS text_md5
FROM documents d
LEFT JOIN agg a USING (doc_id)
LEFT JOIN rstarts r USING (doc_id)
ORDER BY d.doc_id"""


@x("x215_span_removal", _X215_SQL)
def x215(spark, sf):
    """Span-level dedup ACTION (r13): the ExactSubstr remediation of
    Lee et al. 2022 — rewrite every document dropping the word
    positions covered by cross-document duplicated rolling 8-gram
    spans, keep-first deterministic (the (min doc id, min position)
    occurrence survives), with per-document removed-word /
    removed-char audit columns.  The measurement half is x92
    (duplicated_span_stats); this is the action half the paper's
    headline result uses (span removal, not doc removal).  Spans
    travel as md5 prefixes, posting lists never materialize, and the
    oracle replays the keep-first choice, the rewrite, and every
    audit column value-for-value (the rewritten text compares as its
    md5).  operators/dedup.py::remove_duplicated_spans."""
    from ..operators.dedup import remove_duplicated_spans

    docs = load_docs(spark, sf)
    out = remove_duplicated_spans(docs, "doc_id", "text", n=8)
    return (out.select("doc_id", "n_words", "n_words_removed",
                       "n_spans_removed", "removed_char_frac",
                       F.md5("text").alias("text_md5"))
               .orderBy("doc_id"))


_X216_SQL = r"""
WITH t AS (
  SELECT doc_id,
         replace(replace(text, ' data ', '.' || chr(10)),
                 ' window ', ' javascript ') AS text
  FROM documents
), ln AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines FROM t
), per AS (
  SELECT doc_id, i, lines[i] AS l,
         regexp_matches(lines[i], '[.!?"]\s*$')
           AND len(list_filter(string_split_regex(lines[i], '\s+'),
                               x -> x <> '')) >= 3
           AND NOT contains(lower(lines[i]), 'javascript') AS keep
  FROM ln, UNNEST(generate_series(1, len(lines))) AS g(i)
), agg AS (
  SELECT doc_id,
         COUNT(*) AS n_lines,
         COUNT(*) FILTER (WHERE keep) AS n_lines_kept,
         coalesce(string_agg(l, chr(10) ORDER BY i)
                    FILTER (WHERE keep), '') AS new_text
  FROM per GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_lines_kept AS BIGINT) AS n_lines_kept,
       ROUND(CASE WHEN n_lines > 0
                  THEN (n_lines - n_lines_kept)
                       / CAST(n_lines AS DOUBLE)
                  ELSE 0.0 END, 6) AS removed_line_frac,
       md5(new_text) AS text_md5
FROM agg ORDER BY doc_id"""


@x("x216_c4_line_filter", _X216_SQL)
def x216(spark, sf):
    """The C4 LINE-level retention rules as an ACTION (r13): keep only
    lines ending in terminal punctuation, with ≥ 3 words, and free of
    "javascript" (Raffel 2020 §2.2's line filters — x213 reports them
    as audit fractions; this entry applies the rewrite).  The fixture
    text is single-line, so both engines first derive a multi-line
    variant with the same two literal replaces (word→'.\\n' creates
    terminally-punctuated lines; word→'javascript' seeds rule-c
    violations).  Map-side array expression per document, no shuffle;
    the oracle replays line splitting, all three predicates, the
    join-back and every audit column (text compared as md5).
    operators/text.py::c4_clean_lines."""
    from ..operators.text import c4_clean_lines

    docs = (load_docs(spark, sf)
            .withColumn("text", F.replace(
                F.replace(F.col("text"), F.lit(" data "),
                          F.lit(".\n")),
                F.lit(" window "), F.lit(" javascript "))))
    out = c4_clean_lines(docs, "text")
    return (out.select("doc_id", "n_lines", "n_lines_kept",
                       "removed_line_frac",
                       F.md5("text").alias("text_md5"))
               .orderBy("doc_id"))


_X218_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_prepend('<s>', list_filter(
           string_split_regex(lower(text), '[^a-z]+'),
           x -> x <> '' AND length(x) <= 16)) AS ws
  FROM documents
), pr AS (
  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS g(i)
), bi AS (
  SELECT w1, w2, COUNT(*) AS c FROM pr GROUP BY 1, 2
), uni AS (
  SELECT w2 AS word, COUNT(*) AS c FROM pr GROUP BY 1
  UNION ALL
  SELECT '<s>', COUNT(*) FROM pr WHERE w1 = '<s>'
), tot AS (
  SELECT SUM(c) AS n, COUNT(*) AS v FROM uni WHERE word <> '<s>'
), sc AS (
  SELECT p.w1, p.w2,
         CAST(ROUND(-ln(0.7 * CASE WHEN c1.c > 0
                              THEN coalesce(b.c, 0) / CAST(c1.c AS DOUBLE)
                              ELSE 0.0 END
                   + (1 - 0.7) * (coalesce(c2.c, 0) + 1)
                     / CAST(t.n + t.v AS DOUBLE)) * 1000000, 0)
              AS BIGINT) AS cm
  FROM (SELECT DISTINCT w1, w2 FROM pr) p
  LEFT JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
  LEFT JOIN uni c1 ON c1.word = p.w1
  LEFT JOIN (SELECT word, c FROM uni WHERE word <> '<s>') c2
         ON c2.word = p.w2
  CROSS JOIN tot t
), agg AS (
  SELECT doc_id, COUNT(*) AS nb, SUM(cm) AS cms
  FROM pr JOIN sc ON pr.w1 = sc.w1 AND pr.w2 = sc.w2
  GROUP BY doc_id
)
SELECT doc_id,
       CAST(nb AS BIGINT) AS n_bigrams,
       cms / 1000000.0 AS total_cost,
       (cms // nb) / 1000000.0 AS nats_per_token
FROM agg ORDER BY doc_id"""


@x("x218_bigram_lm", _X218_SQL)
def x218(spark, sf):
    """Interpolated word-BIGRAM LM perplexity (r13) — the CCNet n-gram
    family one order above the x204 unigram signal: train the
    (BOS-prefixed) adjacent-pair and word counts on the corpus, score
    every document's mean ``-ln p(w2|w1)`` under
    ``lam*bigram + (1-lam)*add-one-unigram`` (lam = 0.7).  Exact
    integer counts end to end; the single float step per distinct
    bigram is the 6-dp rounded log the unigram chain already replays
    hash-stable.  Two count shuffles to train; scoring touches the
    cost arithmetic once per DISTINCT pair and joins back size-gated.
    x132 is the inline add-one twin (trained-on-self, avg logprob);
    this one is the TRAINABLE model — fit on corpus A, score corpus B
    (unseen pairs degrade to the unigram floor) — with the BOS context
    and the interpolation CCNet's n-gram filter uses.
    operators/ngram_lm.py::bigram_lm_train / bigram_doc_scores."""
    from ..operators.ngram_lm import bigram_doc_scores, bigram_lm_train

    docs = load_docs(spark, sf)
    model = bigram_lm_train(docs)
    return (bigram_doc_scores(docs, model).orderBy("doc_id"))


_X220_SQL = r"""
WITH t AS (
  SELECT doc_id, replace(text, ' data ', '. ') AS text FROM documents
), w AS (
  SELECT doc_id,
         list_filter(list_transform(
           string_split_regex(text, '[.!?]+'), s -> trim(s)),
           x -> x <> '') AS ws
  FROM t
), nz AS (
  SELECT * FROM w WHERE len(ws) > 0
), pos AS (
  SELECT doc_id, s - 1 AS p,
         md5(lower(array_to_string(ws[s:s+2], ' '))) AS h
  FROM nz, UNNEST(generate_series(1, greatest(len(ws) - 2, 1))) AS g(s)
), dup AS (
  SELECT h FROM pos GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
), ranked AS (
  SELECT doc_id, p,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
  FROM pos JOIN dup USING (h)
), rstarts AS (
  SELECT doc_id, COUNT(*) AS nrs, list(p) AS ps
  FROM ranked WHERE rn > 1 GROUP BY doc_id
), sents AS (
  SELECT nz.doc_id, i - 1 AS wp, ws[i] AS wd,
         len(list_filter(coalesce(r.ps, []),
                         s -> s <= i - 1 AND i - 1 <= s + 2)) = 0 AS keep
  FROM nz LEFT JOIN rstarts r USING (doc_id),
       UNNEST(generate_series(1, len(ws))) AS g(i)
), agg AS (
  SELECT doc_id,
         COUNT(*) AS n_words,
         COUNT(*) FILTER (WHERE NOT keep) AS n_words_removed,
         coalesce(string_agg(wd, '. ' ORDER BY wp) FILTER (WHERE keep),
                  '') AS new_text,
         string_agg(wd, '. ' ORDER BY wp) AS norm_text
  FROM sents GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(a.n_words_removed, 0) AS BIGINT)
         AS n_words_removed,
       CAST(coalesce(r.nrs, 0) AS BIGINT) AS n_spans_removed,
       ROUND(CASE WHEN coalesce(len(a.norm_text), 0) > 0
                  THEN (len(a.norm_text) - len(a.new_text))
                       / CAST(len(a.norm_text) AS DOUBLE)
                  ELSE 0.0 END, 6) AS removed_char_frac,
       md5(coalesce(a.new_text, '')) AS text_md5
FROM documents d
LEFT JOIN agg a USING (doc_id)
LEFT JOIN rstarts r USING (doc_id)
ORDER BY d.doc_id"""


@x("x220_c4_span_dedup", _X220_SQL)
def x220(spark, sf):
    """C4 §2.2's published DEDUP step as an action (r13): "remove all
    but one of any three-sentence span occurring more than once" —
    remove_duplicated_spans with unit="sentence", n=3, keep-first
    deterministic, completing the C4 trifecta (x213 page rules, x216
    line rules, this span dedup).  The fixture text is unpunctuated,
    so both engines first derive sentences with the same literal
    replace; the oracle replays the sentence split, the keep-first
    choice, the rewrite (md5-compared) and every audit column.
    operators/dedup.py::remove_duplicated_spans(unit='sentence')."""
    from ..operators.dedup import remove_duplicated_spans

    docs = (load_docs(spark, sf)
            .withColumn("text", F.replace(F.col("text"),
                                          F.lit(" data "),
                                          F.lit(". "))))
    out = remove_duplicated_spans(docs, "doc_id", "text", n=3,
                                  unit="sentence")
    return (out.select("doc_id", "n_words", "n_words_removed",
                       "n_spans_removed", "removed_char_frac",
                       F.md5("text").alias("text_md5"))
               .orderBy("doc_id"))


_X222_SQL = r"""
WITH w AS (
  SELECT source AS g,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
), c AS (
  SELECT g, word, COUNT(*) AS c FROM w GROUP BY 1, 2
), t AS (
  SELECT g, SUM(c) AS t FROM c GROUP BY 1
), j AS (
  SELECT a.g AS group_a, b.g AS group_b,
         a.c AS ca, ta.t AS ta, b.c AS cb, tb.t AS tb
  FROM c a JOIN c b ON a.word = b.word AND a.g < b.g
  JOIN t ta ON ta.g = a.g
  JOIN t tb ON tb.g = b.g
), terms AS (
  SELECT group_a, group_b, ca, ta, cb, tb,
         CAST(ROUND(0.5 * (
           (ca / CAST(ta AS DOUBLE))
             * ln(2.0 * (ca / CAST(ta AS DOUBLE))
                  / ((ca / CAST(ta AS DOUBLE))
                     + (cb / CAST(tb AS DOUBLE))))
           + (cb / CAST(tb AS DOUBLE))
             * ln(2.0 * (cb / CAST(tb AS DOUBLE))
                  / ((ca / CAST(ta AS DOUBLE))
                     + (cb / CAST(tb AS DOUBLE))))) * 1e12, 0)
           AS BIGINT) AS pico
  FROM j
)
, agg AS (
  SELECT group_a, group_b,
         COUNT(*) AS n_shared_words,
         SUM(pico) AS tp, SUM(ca) AS sa, SUM(cb) AS sb
  FROM terms GROUP BY 1, 2
), pairs AS (
  SELECT ta.g AS group_a, tb.g AS group_b, ta.t AS ta, tb.t AS tb
  FROM t ta JOIN t tb ON ta.g < tb.g
)
SELECT p.group_a, p.group_b,
       CAST(coalesce(a.n_shared_words, 0) AS BIGINT) AS n_shared_words,
       ROUND(coalesce(a.tp, 0) / 1e12
             + 0.5 * ln(2.0)
               * (1.0 - coalesce(a.sa, 0) / CAST(p.ta AS DOUBLE))
             + 0.5 * ln(2.0)
               * (1.0 - coalesce(a.sb, 0) / CAST(p.tb AS DOUBLE)), 6)
         AS jsd
FROM pairs p
LEFT JOIN agg a ON a.group_a = p.group_a AND a.group_b = p.group_b
ORDER BY p.group_a, p.group_b"""


@x("x222_source_divergence", _X222_SQL)
def x222(spark, sf):
    """Pairwise Jensen–Shannon divergence between per-source word
    distributions (r13) — the mixture-design diagnostic: near-zero
    pairs are redundant under source weighting, high pairs carry
    distinct signal.  Per-shared-word terms accumulate as integer
    pico-nats (the x218 float-order discipline) and each side's
    missing mass closes the formula from exact count ratios; the
    oracle replays counts, terms and the closure.  Complements the
    numeric-drift PSI entry: that screens a FEATURE distribution,
    this screens the token distribution itself.
    operators/text.py::source_divergence."""
    from ..operators.text import source_divergence

    docs = load_docs(spark, sf)
    return (source_divergence(docs, "source", "text")
            .orderBy("group_a", "group_b"))


_X223_SQL = r"""
WITH w AS (
  SELECT source AS g,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
), c AS (
  SELECT g, word, COUNT(*) AS c FROM w GROUP BY 1, 2
), base AS (
  SELECT g, SUM(c) AS n_words, COUNT(*) AS n_distinct_words,
         SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS h
  FROM c GROUP BY g
), top AS (
  SELECT g, c, rnk FROM (
    SELECT g, c,
           ROW_NUMBER() OVER (PARTITION BY g
                              ORDER BY c DESC, word ASC) AS rnk
    FROM c) WHERE rnk <= 500
), reg AS (
  SELECT g, COUNT(*) AS n,
         SUM(CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1e12, 0) AS BIGINT))
           AS sx,
         SUM(CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1e12, 0) AS BIGINT))
           AS sy,
         SUM(CAST(ROUND(ln(CAST(rnk AS DOUBLE))
                        * ln(CAST(c AS DOUBLE)) * 1e12, 0) AS BIGINT))
           AS sxy,
         SUM(CAST(ROUND(ln(CAST(rnk AS DOUBLE))
                        * ln(CAST(rnk AS DOUBLE)) * 1e12, 0) AS BIGINT))
           AS sxx
  FROM top GROUP BY g
)
SELECT b.g AS source,
       CAST(b.n_words AS BIGINT) AS n_words,
       CAST(b.n_distinct_words AS BIGINT) AS n_distinct_words,
       ROUND(b.h / CAST(b.n_distinct_words AS DOUBLE), 6)
         AS hapax_frac,
       ROUND((CAST(r.n AS DOUBLE) * (r.sxy / 1e12)
              - (r.sx / 1e12) * (r.sy / 1e12))
             / (CAST(r.n AS DOUBLE) * (r.sxx / 1e12)
                - (r.sx / 1e12) * (r.sx / 1e12)), 4) AS zipf_slope
FROM base b JOIN reg r ON b.g = r.g
ORDER BY source"""


@x("x223_zipf_diagnostics", _X223_SQL)
def x223(spark, sf):
    """Per-source Zipf-law diagnostics (r13): hapax fraction and the
    least-squares log-rank/log-frequency slope of each source's
    top-500 words — the corpus-health screen that flags synthetic or
    templated slices (natural text sits near slope −1).  Regression
    terms accumulate as integer pico-units (float-order-immune) and
    the slope assembles from exact integers; the oracle replays the
    counts, the deterministic rank, every term and the closed form.
    operators/text.py::zipf_diagnostics."""
    from ..operators.text import zipf_diagnostics

    docs = load_docs(spark, sf)
    return (zipf_diagnostics(docs, "source", "text", top_k=500)
            .orderBy("source"))


_X224_SQL = r"""
WITH hourly AS (
  SELECT event_type AS t, CAST(date_trunc('hour', ts) AS TIMESTAMP)
           AS h, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), base AS (
  SELECT t, EXTRACT(hour FROM h) AS hod,
         COUNT(*) AS m, SUM(n) AS s1, SUM(n * n) AS s2
  FROM hourly GROUP BY 1, 2
), j AS (
  SELECT hourly.t, hourly.h, hourly.n, base.m, base.s1, base.s2
  FROM hourly JOIN base
    ON hourly.t = base.t AND EXTRACT(hour FROM hourly.h) = base.hod
)
SELECT t AS event_type, h, n,
       ROUND(s1 / CAST(m AS DOUBLE), 6) AS mu,
       ROUND(sqrt(greatest(s2 / CAST(m AS DOUBLE)
                           - (s1 / CAST(m AS DOUBLE))
                             * (s1 / CAST(m AS DOUBLE)), 0.0)), 6)
         AS sigma,
       CASE WHEN m > 1 AND sqrt(greatest(s2 / CAST(m AS DOUBLE)
                 - (s1 / CAST(m AS DOUBLE))
                   * (s1 / CAST(m AS DOUBLE)), 0.0)) > 0
            THEN ROUND((n - s1 / CAST(m AS DOUBLE))
                       / sqrt(greatest(s2 / CAST(m AS DOUBLE)
                              - (s1 / CAST(m AS DOUBLE))
                                * (s1 / CAST(m AS DOUBLE)), 0.0)), 4)
       END AS z,
       CASE WHEN m > 1 AND sqrt(greatest(s2 / CAST(m AS DOUBLE)
                 - (s1 / CAST(m AS DOUBLE))
                   * (s1 / CAST(m AS DOUBLE)), 0.0)) > 0
            THEN abs(ROUND((n - s1 / CAST(m AS DOUBLE))
                       / sqrt(greatest(s2 / CAST(m AS DOUBLE)
                              - (s1 / CAST(m AS DOUBLE))
                                * (s1 / CAST(m AS DOUBLE)), 0.0)), 4))
                 > 3.0
       END AS is_anomaly
FROM j ORDER BY event_type, h"""


@x("x224_event_anomalies", _X224_SQL)
def x224(spark, sf):
    """Hour-of-day seasonal-baseline anomaly screen over the event
    stream (r13): per-type hourly counts z-scored against that wall
    hour's own observed mean/std — the ops-analytics screen for
    traffic spikes/outages.  Every statistic derives from exact
    integer count sums (Σn, Σn² per baseline cell), so mean, std, z
    and the flag replay bit-for-bit.
    operators/events.py::hourly_anomalies."""
    from ..operators.events import hourly_anomalies

    ev = load(spark, sf, "events")
    return (hourly_anomalies(ev, "event_type", "ts", z_thresh=3.0)
            .orderBy("event_type", "h"))


@x("x225_mg_heavy_hitters", None)  # partition-order-sensitive estimates
def x225(spark, sf):
    """Misra–Gries heavy hitters over the event-type stream (r13) —
    the deterministic-GUARANTEE member of the sketch family next to
    CMS (x178-band) and KMV: k counters per partition, driver merge,
    error ≤ N/(k+1).  Estimates are partition-order-sensitive
    (rows-only by design, like x04/x37); the GUARANTEES are not and
    SELF-GRADE here against exact counts: ``within_bound`` pins
    ``0 ≤ true − est ≤ N/(k+1)`` per emitted item, and every type
    with true frequency above the bound must appear (missed heavy
    terms surface as rows with ``est`` NULL and ``covered`` false).
    operators/sketches.py::mg_heavy_hitters."""
    from ..operators.sketches import mg_heavy_hitters

    ev = load(spark, sf, "events")
    items, n = mg_heavy_hitters(ev, "event_type", k=4)
    bound = n / 5.0
    sk = spark.createDataFrame(
        [(t, int(c)) for t, c in items] or [(None, None)],
        "term string, est long")
    exact = (ev.filter(F.col("event_type").isNotNull())
               .groupBy(F.col("event_type").alias("term"))
               .agg(F.count(F.lit(1)).alias("true_count")))
    joined = (exact.join(sk, "term", "full_outer")
              .withColumn("bound", F.round(F.lit(bound), 4))
              .withColumn("heavy", F.col("true_count") > bound)
              .withColumn(
                  "within_bound",
                  F.when(F.col("est").isNotNull(),
                         (F.col("est") <= F.col("true_count"))
                         & (F.col("true_count") - F.col("est")
                            <= bound)))
              .withColumn("covered",
                          ~F.col("heavy") | F.col("est").isNotNull()))
    return (joined.filter(F.col("est").isNotNull() | F.col("heavy"))
            .select("term", "est", "true_count", "bound", "heavy",
                    "within_bound", "covered")
            .orderBy("term"))


_X226_SQL = r"""
WITH pu AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS e,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id
), v AS (
  SELECT CAST(('0x' || substring(md5('ab-' || CAST(user_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 2 AS vr, c
  FROM pu WHERE e = 1
), agg AS (
  SELECT SUM(CASE WHEN vr = 0 THEN 1 END) AS n_a,
         SUM(CASE WHEN vr = 0 THEN c END) AS conv_a,
         SUM(CASE WHEN vr = 1 THEN 1 END) AS n_b,
         SUM(CASE WHEN vr = 1 THEN c END) AS conv_b
  FROM v
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       ROUND(conv_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       ROUND(conv_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
       CASE WHEN n_a > 0 AND n_b > 0 AND
                 sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 - (conv_a + conv_b)
                               / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 / CAST(n_a AS DOUBLE)
                         + 1.0 / CAST(n_b AS DOUBLE))) > 0
            THEN ROUND((conv_a / CAST(n_a AS DOUBLE)
                        - conv_b / CAST(n_b AS DOUBLE))
                 / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 - (conv_a + conv_b)
                                 / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / CAST(n_a AS DOUBLE)
                           + 1.0 / CAST(n_b AS DOUBLE))), 4)
       END AS z_stat,
       CASE WHEN n_a > 0 AND n_b > 0 AND
                 sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 - (conv_a + conv_b)
                               / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 / CAST(n_a AS DOUBLE)
                         + 1.0 / CAST(n_b AS DOUBLE))) > 0
            THEN abs(ROUND((conv_a / CAST(n_a AS DOUBLE)
                        - conv_b / CAST(n_b AS DOUBLE))
                 / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 - (conv_a + conv_b)
                                 / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / CAST(n_a AS DOUBLE)
                           + 1.0 / CAST(n_b AS DOUBLE))), 4)) > 1.96
       END AS significant
FROM agg"""


@x("x226_ab_test", _X226_SQL)
def x226(spark, sf):
    """Deterministic A/B experiment readout (r13): exposed users split
    by portable md5 bucket, per-variant view→purchase conversion
    rates, pooled two-proportion z statistic and the 5% two-sided
    verdict — every formula input an exact integer count, the whole
    readout replayed in DuckDB.  x139 is the sibling readout (an
    UNCONDITIONED heavy-purchaser split, z only); this one conditions
    on exposure, adds the significance verdict, and ships as a
    reusable operator.  operators/events.py::ab_test_summary."""
    from ..operators.events import ab_test_summary

    ev = load(spark, sf, "events")
    return ab_test_summary(ev, "user_id", "event_type",
                           exposure="view", conversion="purchase")


_X227_SQL = r"""
WITH ref AS (
  SELECT MAX(ts) AS r FROM events
), kept AS (
  SELECT e.event_type, e.ts
  FROM events e CROSS JOIN ref
  WHERE CAST(('0x' || substring(md5('recency-' ||
               CAST(e.user_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0
        < pow(2.0, -((epoch(ref.r) - epoch(e.ts)) / 86400.0) / 7.0)
)
SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) AS n
FROM kept GROUP BY 1, 2 ORDER BY event_type, day"""


@x("x227_recency_sample", _X227_SQL)
def x227(spark, sf):
    """Deterministic recency-weighted thinning (r13): every event
    survives with probability 2^(-age/half-life) against the corpus
    max timestamp, decided by the portable md5 coin — the freshness
    bias a web-corpus mix applies, reproducible from the data alone
    (per-(type, day) survivor counts compared).  x111 SCORES rows by
    the same decay; this one SAMPLES by it (keep/drop membership).
    operators/sampling.py::recency_weighted_sample."""
    from ..operators.sampling import recency_weighted_sample

    ev = load(spark, sf, "events")
    kept = recency_weighted_sample(ev, "user_id", "ts",
                                   half_life_days=7.0)
    return (kept.groupBy("event_type",
                         F.to_date(F.date_trunc("day", "ts"))
                          .alias("day"))
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy("event_type", "day"))


_X228_SQL = r"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> x / sqrt(list_sum(list_transform(embedding,
                                                 y -> y * y)))) AS e
  FROM embeddings
  WHERE list_sum(list_transform(embedding, y -> y * y)) > 0
), q AS (
  SELECT vec_id, e FROM v WHERE vec_id < 20
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(list_zip(q.e, c.e),
                                       p -> p[1] * p[2])), 6) AS cosine
  FROM q JOIN v c ON q.vec_id <> c.vec_id
), band AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC)
           AS INT) AS rnk
  FROM scored WHERE cosine >= 0.3 AND cosine < 0.9
)
SELECT query_id, neighbor_id, cosine, rnk
FROM band WHERE rnk <= 5 ORDER BY query_id, rnk"""


@x("x228_hard_negatives", _X228_SQL)
def x228(spark, sf):
    """Hard-negative mining for contrastive training (r13): per query
    the 5 most similar corpus vectors INSIDE the band 0.3 ≤ cos < 0.9
    — confusable but below the near-dup ceiling (the DPR recipe);
    self-pairs excluded, rank deterministic.  The oracle replays
    normalization, the exact fold, the band and the window.
    operators/similarity.py::hard_negatives."""
    from ..operators.similarity import hard_negatives

    emb = load_emb(spark, sf)
    return (hard_negatives(emb.filter(F.col("vec_id") < 20), emb,
                           k=5, sim_lo=0.3, sim_hi=0.9)
            .orderBy("query_id", "rnk"))


_X229_SQL = r"""
WITH b AS (
  SELECT c_custkey, c_nationkey, c_mktsegment, c_name FROM customer
), p AS (
  SELECT a.c_nationkey, a.c_mktsegment,
         a.c_custkey AS id_a, bb.c_custkey AS id_b,
         levenshtein(a.c_name, bb.c_name) AS dist
  FROM b a JOIN b bb
    ON a.c_nationkey = bb.c_nationkey
   AND a.c_mktsegment = bb.c_mktsegment
   AND a.c_custkey < bb.c_custkey
)
SELECT c_nationkey, c_mktsegment, id_a, id_b, CAST(dist AS INT)
         AS dist
FROM p WHERE dist <= 1
ORDER BY c_nationkey, c_mktsegment, id_a, id_b"""


@x("x229_record_linkage", _X229_SQL)
def x229(spark, sf):
    """Relational record linkage (r13): the Fellegi–Sunter blocking
    recipe over STRUCTURED rows — candidate pairs form only within
    (nation, segment) blocks, survive on phone edit distance ≤ 2 —
    the entity-resolution sibling of the text dedup family.  Exact
    Levenshtein both engines; blocking bounds the pair volume and an
    over-full-block cap keeps the skew observable.
    operators/dedup.py::blocked_record_pairs."""
    from ..operators.dedup import blocked_record_pairs
    from ..util import retain_cache

    cust = load(spark, sf, "customer")
    pairs = blocked_record_pairs(cust, "c_custkey",
                                 ["c_nationkey", "c_mktsegment"],
                                 "c_name", max_dist=1)
    # materialize before the global sort: a range exchange SAMPLES its
    # child to pick bounds, so an uncached pair subtree (broadcast joins
    # + edit distances, no shuffle of its own) would execute twice —
    # once for sampling, once for the shuffle (guide §2.4/§5)
    return (retain_cache(pairs)
            .withColumn("dist", F.col("dist").cast("int"))
            .orderBy("c_nationkey", "c_mktsegment", "id_a", "id_b"))


_X230_SQL = r"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
), comp AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5('fh-' || word), 1, 8)) AS BIGINT)
           % 64 AS i,
         SUM(CASE WHEN CAST(('0x' || substring(md5('fh-s-' || word),
                                               1, 8)) AS BIGINT)
                       % 2 = 0
                  THEN 1 ELSE -1 END) AS v
  FROM w GROUP BY 1, 2
), nrm AS (
  SELECT doc_id, sqrt(SUM(v * v)) AS n FROM comp GROUP BY doc_id
), q AS (
  SELECT doc_id, i, v FROM comp WHERE doc_id < 10
), dots AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         SUM(q.v * c.v) AS dot
  FROM q JOIN comp c ON q.i = c.i AND q.doc_id <> c.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND(d.dot / (na.n * nb.n), 6) AS cosine
  FROM dots d
  JOIN nrm na ON na.doc_id = d.query_id
  JOIN nrm nb ON nb.doc_id = d.neighbor_id
  WHERE na.n > 0 AND nb.n > 0
)
SELECT query_id, neighbor_id, cosine,
       CAST(rnk AS INT) AS rnk
FROM (SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC,
                                         neighbor_id ASC) AS rnk
      FROM scored)
WHERE rnk <= 3 ORDER BY query_id, rnk"""


@x("x230_hashed_embedding_knn", _X230_SQL)
def x230(spark, sf):
    """Feature-hashing embeddings bridging text into the similarity
    family (r13): md5-signed 64-dim hashed word-count vectors
    (Weinberger 2009 — model-free, deterministic), then exact top-3
    cosine neighbors per query doc.  INTEGER components make every
    dot product order-immune exact arithmetic; the oracle re-derives
    the hashes, signs, components, norms, cosines and ranks.
    operators/similarity.py::feature_hash_embedding."""
    from ..operators.similarity import (cosine_top_k,
                                        feature_hash_embedding)

    docs = load_docs(spark, sf)
    emb = feature_hash_embedding(docs, "doc_id", "text", dim=64,
                                 normalize=False)
    q = emb.filter(F.col("doc_id") < 10)
    out = cosine_top_k(q, emb, k=4, query_id="doc_id",
                       query_vec="embedding", corpus_id="doc_id",
                       corpus_vec="embedding", round_to=6)
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("cosine").desc(),
                        F.col("neighbor_id").asc()))
    return (out.filter(F.col("query_id") != F.col("neighbor_id"))
               .withColumn("rnk", F.row_number().over(w))
               .filter(F.col("rnk") <= 3)
               .select("query_id", "neighbor_id", "cosine", "rnk")
               .orderBy("query_id", "rnk"))


_X231_SQL = r"""
WITH net AS (
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 6 <> 0
)
SELECT o_orderpriority,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS sum_o_totalprice
FROM net GROUP BY 1 ORDER BY o_orderpriority"""


@x("x231_incremental_rollup", _X231_SQL)
def x231(spark, sf):
    """Incremental rollup maintenance (r13): three change batches —
    insert keys ≡0 (mod 3), insert keys ≡1, then DELETE the ≡0 (mod 6)
    half of the first batch — folded through
    :func:`operators.cdc.rollup_fold`; the maintained per-priority
    count/sum rollup must equal a direct GROUP BY over the net row
    set (the abelian-fold contract: additive aggregates never need
    the fact table re-scanned).  Sums fold at 2-dp-rounded output
    only; the internal folds carry full doubles on both paths.
    operators/cdc.py::rollup_fold."""
    from ..operators.cdc import rollup_fold

    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    b1 = (o.filter(F.col("o_orderkey") % 3 == 0)
           .withColumn("op", F.lit("I")))
    b2 = (o.filter(F.col("o_orderkey") % 3 == 1)
           .withColumn("op", F.lit("I")))
    b3 = (o.filter(F.col("o_orderkey") % 6 == 0)
           .withColumn("op", F.lit("D")))
    r = None
    for b in (b1, b2, b3):
        r = rollup_fold(r, b, ["o_orderpriority"], ["o_totalprice"])
    return (r.select("o_orderpriority", "n",
                     F.round("sum_o_totalprice", 2)
                      .alias("sum_o_totalprice"))
             .orderBy("o_orderpriority"))


_X232_SQL = r"""
WITH lab AS (
  SELECT CASE WHEN len(list_filter(string_split_regex(lower(text),
                                                      '\s+'),
                                   x -> x <> '')) >= 50
              THEN 1 ELSE 0 END AS a,
         CASE WHEN length(text) >= 500 THEN 1 ELSE 0 END AS b
  FROM documents
), c AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n_tt,
         SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n_tf,
         SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n_ft,
         SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n_ff
  FROM lab
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_tt AS BIGINT) AS n_tt,
       CAST(n_tf AS BIGINT) AS n_tf, CAST(n_ft AS BIGINT) AS n_ft,
       CAST(n_ff AS BIGINT) AS n_ff,
       ROUND((n_tt + n_ff) / CAST(n AS DOUBLE), 6) AS p_o,
       ROUND(((n_tt + n_tf) / CAST(n AS DOUBLE))
             * ((n_tt + n_ft) / CAST(n AS DOUBLE))
             + (1.0 - (n_tt + n_tf) / CAST(n AS DOUBLE))
               * (1.0 - (n_tt + n_ft) / CAST(n AS DOUBLE)), 6) AS p_e,
       CASE WHEN ((n_tt + n_tf) / CAST(n AS DOUBLE))
                 * ((n_tt + n_ft) / CAST(n AS DOUBLE))
                 + (1.0 - (n_tt + n_tf) / CAST(n AS DOUBLE))
                   * (1.0 - (n_tt + n_ft) / CAST(n AS DOUBLE)) < 1.0
            THEN ROUND(((n_tt + n_ff) / CAST(n AS DOUBLE)
                        - (((n_tt + n_tf) / CAST(n AS DOUBLE))
                           * ((n_tt + n_ft) / CAST(n AS DOUBLE))
                           + (1.0 - (n_tt + n_tf) / CAST(n AS DOUBLE))
                             * (1.0 - (n_tt + n_ft)
                                / CAST(n AS DOUBLE))))
                 / (1.0 - (((n_tt + n_tf) / CAST(n AS DOUBLE))
                           * ((n_tt + n_ft) / CAST(n AS DOUBLE))
                           + (1.0 - (n_tt + n_tf) / CAST(n AS DOUBLE))
                             * (1.0 - (n_tt + n_ft)
                                / CAST(n AS DOUBLE)))), 4)
       END AS kappa
FROM c"""


@x("x232_gate_agreement", _X232_SQL)
def x232(spark, sf):
    """Cohen's kappa between two quality screens (r13) — the
    redundancy readout a curation stack runs before stacking gates
    (does the second gate add signal or re-label the first?): here
    Gopher's ≥ 50-words rule vs the ≥ 500-chars length floor, 2×2
    confusion + observed/chance agreement + kappa from exact integer
    counts.  operators/classifier.py::gate_agreement."""
    from ..operators.classifier import gate_agreement

    docs = load_docs(spark, sf)
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda t: t != "")
    return gate_agreement(docs, F.size(words) >= 50,
                          F.length("text") >= 500)


_X233_SQL = r"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id < 10
), comp AS (
  SELECT vec_id, j,
         ROUND(list_sum(list_transform(range(1, 65),
           i -> CASE WHEN substring(md5('jl-jl-'
                        || CAST(i - 1 AS VARCHAR) || '-'
                        || CAST(j AS VARCHAR)), 1, 1)
                     IN ('0','2','4','6','8','a','c','e')
                     THEN e[i] ELSE -e[i] END)) / sqrt(16.0), 6) AS y
  FROM v, generate_series(0, 15) AS g(j)
), proj AS (
  SELECT vec_id, list(y ORDER BY j) AS p FROM comp GROUP BY vec_id
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(sqrt(list_sum(list_transform(list_zip(va.e, vb.e),
               x -> (x[1] - x[2]) * (x[1] - x[2])))), 4) AS d_orig,
         ROUND(sqrt(list_sum(list_transform(list_zip(pa.p, pb.p),
               x -> (x[1] - x[2]) * (x[1] - x[2])))), 4) AS d_proj
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
  JOIN proj pa ON pa.vec_id = a.vec_id
  JOIN proj pb ON pb.vec_id = b.vec_id
)
SELECT id_a, id_b, d_orig, d_proj,
       ROUND(d_proj / d_orig, 4) AS ratio
FROM pairs WHERE d_orig > 0
ORDER BY id_a, id_b"""


@x("x233_jl_projection", _X233_SQL)
def x233(spark, sf):
    """Johnson–Lindenstrauss projection audit (r13): 64 → 16 dims via
    the deterministic md5 ±1 sign matrix (Achlioptas 2003 — no RNG,
    no stored matrix; any engine re-derives every sign), with the
    per-pair distance-distortion ratios the JL lemma bounds — the
    cheap pre-reduction in front of the exact/LSH/IVF scorers.  The
    oracle re-derives signs, projections, both distances and the
    ratios.  operators/similarity.py::jl_project."""
    from ..operators.similarity import jl_project

    emb = (load_emb(spark, sf).filter(F.col("vec_id") < 10)
           .select("vec_id",
                   F.col("embedding").cast("array<double>")
                    .alias("embedding")))
    proj = jl_project(emb, "embedding", out_dim=16).withColumnRenamed(
        "embedding", "p")
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("__ea"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("__eb"))
    pa = proj.select(F.col("vec_id").alias("id_a"),
                     F.col("p").alias("__pa"))
    pb = proj.select(F.col("vec_id").alias("id_b"),
                     F.col("p").alias("__pb"))
    def dist(x, y):
        return F.round(F.sqrt(F.aggregate(
            F.zip_with(x, y, lambda u, v: (u - v) * (u - v)),
            F.lit(0.0), lambda acc, t: acc + t)), 4)
    pairs = (F.broadcast(a).crossJoin(b)
             .filter(F.col("id_a") < F.col("id_b"))
             .join(pa, "id_a").join(pb, "id_b")
             .select("id_a", "id_b",
                     dist(F.col("__ea"), F.col("__eb")).alias("d_orig"),
                     dist(F.col("__pa"), F.col("__pb")).alias("d_proj")))
    return (pairs.filter(F.col("d_orig") > 0)
            .withColumn("ratio", F.round(F.col("d_proj")
                                         / F.col("d_orig"), 4))
            .orderBy("id_a", "id_b"))


_X234_SQL = r"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(*) AS sz,
         COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
           AS n_sensitive
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(COUNT(*) FILTER (WHERE n_sensitive < 3) AS BIGINT)
         AS classes_lt_l,
       CAST(COALESCE(SUM(sz) FILTER (WHERE n_sensitive < 3), 0)
            AS BIGINT) AS rows_at_risk,
       CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity
FROM g"""


@x("x234_l_diversity", _X234_SQL)
def x234(spark, sf):
    """l-diversity audit (l=3) — the k-anonymity follow-up (x134):
    a class can be large yet still leak when everyone in it shares
    the SENSITIVE value, so each (nation, segment) class must carry
    ≥ l distinct sensitive buckets (account-balance thousands here).
    One keyed aggregate with a distinct-count, then the 1-row risk
    summary — class-table-bounded, never row-bounded."""
    c = load(spark, sf, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000).cast("long")
    g = (c.groupBy("c_nationkey", "c_mktsegment")
          .agg(F.count(F.lit(1)).alias("sz"),
               F.count_distinct(bucket).alias("n_sensitive")))
    lt = F.col("n_sensitive") < 3
    return g.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.count_if(lt).alias("classes_lt_l"),
        F.coalesce(F.sum(F.when(lt, F.col("sz"))), F.lit(0))
         .cast("long").alias("rows_at_risk"),
        F.min("n_sensitive").cast("long").alias("min_diversity"))


@x("x235_bfd_packing", None)  # pack ids are partition-order-sensitive
def x235(spark, sf):
    """Best-Fit-Decreasing sequence packing (r13; Ding et al. 2024's
    fewer-truncations recipe) — SELF-GRADED rows-only summary: pack
    ids depend on partitioning, the INVARIANTS do not.  Grades:
    ``budget_ok`` (no bin exceeds the budget — naive contiguous
    packing overflows 50% of its packs on this fixture, i.e. would
    truncate), ``waste_frac`` (1 − tokens/(bins·budget)), and
    ``bins_over_min`` vs the ceil(total/budget) lower bound.
    operators/packing.py::pack_documents_bfd."""
    from ..operators.packing import pack_documents_bfd
    from ..operators.text import with_token_count

    # NO ensure_parallelism fan-out here: per-partition BFD waste is
    # a function of docs-per-partition, and the fixture is tiny — at
    # 32 splits each partition holds ~16 docs and under-fills its
    # bins (measured waste 14% vs 0.9% single-split).  Real corpora
    # hold millions of docs per partition, where per-partition BFD
    # approaches the global optimum; the fixture entry grades the
    # algorithm, not the split count.
    docs = with_token_count(load(spark, sf, "documents"), "text",
                            "n_tokens")
    docs = docs.withColumn("n_tokens", F.col("n_tokens").cast("long"))
    budget = 200
    packed = pack_documents_bfd(docs, "doc_id", "n_tokens",
                                budget=budget)
    bins = (packed.groupBy("pack_id")
                  .agg(F.sum("n_tokens").alias("t")))
    return (bins.agg(
        F.sum(F.lit(1)).alias("n_bins"),
        F.sum("t").alias("total_tokens"),
        F.max("t").alias("max_bin_tokens"),
        (F.max("t") <= budget).alias("budget_ok"),
        F.round(F.lit(1.0) - F.sum("t")
                / (F.count(F.lit(1)) * budget).cast("double"), 4)
         .alias("waste_frac"),
        (F.count(F.lit(1))
         - F.ceil(F.sum("t") / F.lit(float(budget))))
        .alias("bins_over_min")))


# Scalar folds ONLY: duckdb 1.0's list_reduce evaluates multi-field
# struct-lambda fields sequentially against a MUTATING accumulator
# (a field listed later reads the earlier field's NEW value), so a
# struct-state replay of Spark's functional F.aggregate silently
# diverges.  The replay instead recomputes each prefix with an
# order-quirk-free scalar fold (O(n²) in the oracle only); every
# prefix repeats Spark's exact IEEE op sequence, so the running
# values still match bit-for-bit.
_X237_SQL = r"""
WITH s AS (
  SELECT user_id,
         list_transform(
           list_sort(list({'t': ts, 'e': event_id, 'v': value})),
           r -> r.v) AS vals
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
), f AS (
  SELECT user_id, len(vals) AS n,
         list_reduce(vals, (a, x) -> 0.7*a + 0.3*x) AS ewma_raw,
         CASE WHEN len(vals) > 1 THEN
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(2, len(vals) + 1), i ->
               abs(vals[i] - list_reduce(vals[1:i-1],
                                         (a, x) -> 0.7*a + 0.3*x)))),
             (a, x) -> a + x)
         END AS err_sum
  FROM s
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       ROUND(ewma_raw, 6) AS ewma_last,
       CASE WHEN n > 1 THEN ROUND(err_sum / (n - 1.0), 6) END AS mae_1step
FROM f ORDER BY user_id"""


@x("x237_ewma_drift", _X237_SQL)
def x237(spark, sf):
    """Per-user EWMA drift rollup (r13): final smoothed spend level
    (pandas ``ewm(alpha=0.3, adjust=False)`` semantics) plus the mean
    absolute one-step-ahead forecast error — the self-predictability
    screen behind "did this entity's behaviour drift".  ONE hash
    shuffle on the key, then an O(n) JVM-side ``F.aggregate`` left
    fold over the (ts, event_id)-sorted value array; the DuckDB
    oracle replays the identical IEEE operation order with
    ``list_reduce``, so every double matches bit-for-bit before the
    6-dp display rounding.  operators/timeseries.py::ewma_summary."""
    from ..operators.timeseries import ewma_summary

    ev = load(spark, sf, "events")
    return ewma_summary(ev, "user_id", "ts", "value", alpha=0.3)


_X238_SQL = r"""
WITH s AS (
  SELECT user_id,
         list_transform(
           list_sort(list({'t': ts, 'e': event_id, 'v': value})),
           r -> r.v) AS vals
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
), m AS (
  SELECT user_id, vals, CAST(len(vals) AS DOUBLE) AS nd,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
                     (a, x) -> a + x) AS s1,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(vals, x -> x * x)), (a, x) -> a + x) AS s2
  FROM s
), d AS (
  SELECT user_id, vals, nd, s1 / nd AS mu,
         sqrt(greatest(
           (s2 - s1 * s1 / nd) / nullif(nd - 1.0, 0.0), 0.0)) AS sd
  FROM m
), g AS (
  SELECT user_id, nd, sd,
         list_transform(range(1, len(vals) + 1), i ->
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(vals[1:i],
               x -> (x - mu) / nullif(sd, 0.0) - 0.5)),
             (a, x) -> greatest(0.0, a + x))) AS gs
  FROM d
)
SELECT user_id, CAST(nd AS BIGINT) AS n_events,
       CASE WHEN nd >= 2 AND sd > 0
            THEN CAST(len(list_filter(gs, v -> v > 4.0)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS n_alarms,
       CASE WHEN nd >= 2 AND sd > 0
            THEN list_min(list_transform(gs, (v, i) ->
                   CASE WHEN v > 4.0 THEN CAST(i AS BIGINT) END))
            END AS first_alarm,
       CASE WHEN nd >= 2 AND sd > 0 THEN ROUND(list_max(gs), 6)
            END AS g_max
FROM g ORDER BY user_id"""


@x("x238_cusum_changepoints", _X238_SQL)
def x238(spark, sf):
    """Per-user one-sided standardized CUSUM changepoint screen (r13;
    Page 1954): g_t = max(0, g_{t-1} + (x_t-mu)/sd - 0.5), alarm when
    g_t > 4.  The key's own moments come from the SAME sorted-array
    fold on both engines (never the engines' parallel SUM, whose
    summation order differs), so the standardization and every
    threshold crossing are bit-identical; keys with n < 2 or sd = 0
    report zero alarms and NULL stats.  Same single-shuffle O(n) fold
    shape as x237.  operators/timeseries.py::cusum_summary."""
    from ..operators.timeseries import cusum_summary

    ev = load(spark, sf, "events")
    return cusum_summary(ev, "user_id", "ts", "value",
                         slack=0.5, threshold=4.0)


_X239_SQL = r"""
WITH pu AS (
  SELECT user_id,
         ROUND(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                                 THEN value END), 0.0), 4) AS x,
         ROUND(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                                 THEN value END), 0.0), 4) AS y,
         CAST(('0x' || substring(md5('cuped-' || CAST(user_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 2 AS t
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
), m AS (
  SELECT COUNT(*) AS n, SUM(t) AS n_t,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy,
         SUM(CASE WHEN t = 1 THEN x END) AS stx,
         SUM(CASE WHEN t = 1 THEN y END) AS sty,
         SUM(CASE WHEN t = 0 THEN x END) AS scx,
         SUM(CASE WHEN t = 0 THEN y END) AS scy
  FROM pu
), d AS (
  SELECT n, n_t,
         CAST(n_t AS DOUBLE) AS nt,
         CAST(n AS DOUBLE) - CAST(n_t AS DOUBLE) AS nc,
         (sxx - sx*sx/CAST(n AS DOUBLE))
           / nullif(CAST(n AS DOUBLE) - 1.0, 0.0) AS var_x,
         (syy - sy*sy/CAST(n AS DOUBLE))
           / nullif(CAST(n AS DOUBLE) - 1.0, 0.0) AS var_y,
         (sxy - sx*sy/CAST(n AS DOUBLE))
           / nullif(CAST(n AS DOUBLE) - 1.0, 0.0) AS cov,
         stx, sty, scx, scy
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_users, CAST(n_t AS BIGINT) AS n_treat,
       CAST(n - n_t AS BIGINT) AS n_ctrl,
       ROUND(cov / nullif(var_x, 0.0), 6) AS theta,
       CASE WHEN nt > 0 AND nc > 0
            THEN ROUND(sty/nt - scy/nc, 6) END AS diff_raw,
       CASE WHEN nt > 0 AND nc > 0
            THEN ROUND((sty/nt - scy/nc)
                       - (cov / nullif(var_x, 0.0))
                         * (stx/nt - scx/nc), 6) END AS diff_cuped,
       ROUND(100.0 * (cov*cov) / nullif(var_x*var_y, 0.0), 4)
         AS var_reduction_pct
FROM d"""


@x("x239_cuped", _X239_SQL)
def x239(spark, sf):
    """CUPED variance-reduced experiment readout (r13; Deng 2013):
    pre-period activity as the control covariate for the experiment
    metric, pooled theta = cov/var, md5-bucket arms — diff_raw vs
    diff_cuped plus the theoretical variance-reduction percentage
    (100·rho²).  Completes the experimentation family: x139 raw
    split, x226 exposure-conditioned z-test, x239 sensitivity boost.
    Per-user metrics 4-dp-rounded so the user grain is
    noise-collapsed on both engines; one user aggregation then one
    1-row moment aggregate.  operators/events.py::cuped_summary."""
    from ..operators.events import cuped_summary

    ev = load(spark, sf, "events")
    return cuped_summary(ev, "2024-01-16 00:00:00")


def _x240_sql() -> str:
    """Oracle SQL generated from the SAME POISSON1_CUM constants the
    operator uses, so the inverse-CDF thresholds are literal-identical
    in both engines."""
    from ..operators.sampling import POISSON1_CUM

    case = "CASE\n"
    for i, c in enumerate(POISSON1_CUM):
        case += f"      WHEN u < {c!r} THEN {i}\n"
    case += f"      ELSE {len(POISSON1_CUM)} END"
    return f"""
WITH src AS (
  SELECT CAST(event_id AS VARCHAR) AS id, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), w AS (
  SELECT b, v,
    {case} AS w
  FROM (
    SELECT blk * 4 + lane AS b, v,
      CAST(('0x' || substring(md5('boot-' || id || '-'
                                  || CAST(blk AS VARCHAR)),
                              lane * 8 + 1, 8))
           AS BIGINT) / 4294967296.0 AS u
    FROM src,
         (SELECT i AS blk FROM range(0, 10) t(i)),
         (SELECT j AS lane FROM range(0, 4) t2(j)))
  WHERE b < 40
), m AS (
  SELECT b, ROUND(SUM(w*v) / NULLIF(SUM(w), 0), 6) AS m
  FROM w GROUP BY b
), s AS (
  SELECT COUNT(*) AS n_rows, ROUND(AVG(v), 6) AS point_mean FROM src
)
SELECT CAST(s.n_rows AS BIGINT) AS n_rows, s.point_mean,
       ROUND(AVG(m.m), 6) AS boot_mean,
       ROUND(quantile_cont(m.m, 0.025), 6) AS ci_lo,
       ROUND(quantile_cont(m.m, 0.975), 6) AS ci_hi,
       CAST(COUNT(m.m) AS BIGINT) AS reps
FROM m, s GROUP BY s.n_rows, s.point_mean"""


@x("x240_poisson_bootstrap", _x240_sql())
def x240(spark, sf):
    """One-pass Poisson bootstrap CI for the mean event value (r13;
    Chamandy 2012 — THE uncertainty method when the corpus can't be
    resampled): 40 deterministic md5-coin Poisson(1) replicate
    weights in a single scan, replicate means, interpolated 95%
    percentile interval.  The B-fold explode is map-side and the
    partial agg combines to 40 rows per task, so the shuffle is B
    rows regardless of corpus size.
    operators/sampling.py::poisson_bootstrap_mean."""
    from ..operators.sampling import poisson_bootstrap_mean

    # fan the single-row-group fixture scan out to every core: the
    # B/4 md5 coins per row dominate the scan they are fused into
    # (r13 measurement: 6.2 of 6.5 s on one task), and every x240
    # aggregate is a reorderable partial fold (6-dp-rounded replicate
    # means; oracle-verified at every SF)
    ev = load_par(spark, sf, "events")
    return poisson_bootstrap_mean(ev, "value", "event_id",
                                  reps=40, level=0.95)


_X241_SQL = r"""
WITH src AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
              THEN 1 ELSE 0 END AS a,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), roll AS (
  SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb FROM src GROUP BY v
), c AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v) AS inc_a,
         SUM(cb) OVER (ORDER BY v) AS inc_b
  FROM roll
), tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM roll),
d AS (
  SELECT v, na, nb,
         abs(inc_a / CAST(na AS DOUBLE)
             - inc_b / CAST(nb AS DOUBLE)) AS d
  FROM c, tot
), mx AS (SELECT MAX(d) AS d_raw FROM d)
SELECT CAST(d.na AS BIGINT) AS n_a, CAST(d.nb AS BIGINT) AS n_b,
       ROUND(mx.d_raw, 6) AS d_stat,
       ROUND(MIN(d.v), 6) AS d_at,
       ROUND(LEAST(1.0,
             2.0 * exp(-2.0
                       * (CAST(d.na AS DOUBLE) * d.nb
                          / CAST(d.na + d.nb AS DOUBLE))
                       * mx.d_raw * mx.d_raw)), 6) AS p_value
FROM d, mx WHERE d.d = mx.d_raw
GROUP BY d.na, d.nb, mx.d_raw"""


@x("x241_ks_drift", _X241_SQL)
def x241(spark, sf):
    """Two-sample Kolmogorov–Smirnov drift test (r13): did the event
    value distribution SHIFT between the first and second half of the
    month — the exact sup-|ECDF diff| over the per-distinct-value
    rollup, its location, and the asymptotic p bound.  The cumulative
    counts come from the curriculum-style distributed prefix sum
    (range partition → subtotals → broadcast offsets), never a
    single-partition window; every ECDF step is a ratio of exact
    integer counts.  operators/twosample.py::ks_2sample."""
    from ..operators.twosample import ks_2sample

    ev = load(spark, sf, "events")
    g = ev.withColumn(
        "g", F.when(F.col("ts")
                    < F.lit("2024-01-16 00:00:00").cast("timestamp"),
                    "pre").otherwise("post"))
    return ks_2sample(g, "g", "value", "pre")


_X242_SQL = r"""
WITH src AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
              THEN 1 ELSE 0 END AS a,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), roll AS (
  SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb FROM src GROUP BY v
), c AS (
  SELECT v, ca, cb, ca + cb AS t,
         SUM(ca + cb) OVER (ORDER BY v) - (ca + cb) AS cumn
  FROM roll
), agg AS (
  SELECT SUM(ca) AS n_a, SUM(cb) AS n_b,
         SUM(CAST(ca AS DOUBLE)
             * (CAST(cumn AS DOUBLE)
                + (CAST(t AS DOUBLE) + 1.0) / 2.0)) AS ra,
         SUM(CAST(t AS DOUBLE) * t * t - CAST(t AS DOUBLE))
           AS tie_term
  FROM c
), s AS (
  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
         CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn,
         ra, tie_term
  FROM agg
), f AS (
  SELECT n_a, n_b,
         ra - nad * (nad + 1.0) / 2.0 AS u,
         sqrt(greatest(
           nad * nbd / 12.0
           * ((nn + 1.0)
              - tie_term / nullif(nn * (nn - 1.0), 0.0)), 0.0)) AS sd,
         nad, nbd
  FROM s
)
SELECT n_a, n_b, ROUND(u, 6) AS u_stat,
       CASE WHEN n_a > 0 AND n_b > 0 AND sd > 0
            THEN ROUND((u - nad * nbd / 2.0) / nullif(sd, 0.0), 6)
            END AS z_stat,
       CASE WHEN n_a > 0 AND n_b > 0 AND sd > 0
            THEN abs(ROUND((u - nad * nbd / 2.0)
                           / nullif(sd, 0.0), 6)) > 1.96
            END AS significant
FROM f"""


@x("x242_mannwhitney", _X242_SQL)
def x242(spark, sf):
    """Mann–Whitney U rank test on the same temporal split as x241
    (r13): midrank ties from the shared cumulative rollup, U from the
    A rank-sum, tie-corrected normal z, |z| > 1.96 verdict.  Every
    rank sum is integers-and-halves over exact counts — zero FP-order
    hazard, so the whole statistic replays bit-for-bit.  The
    nonparametric sibling of x239's CUPED mean contrast.
    operators/twosample.py::mann_whitney_u."""
    from ..operators.twosample import mann_whitney_u

    ev = load(spark, sf, "events")
    g = ev.withColumn(
        "g", F.when(F.col("ts")
                    < F.lit("2024-01-16 00:00:00").cast("timestamp"),
                    "pre").otherwise("post"))
    return mann_whitney_u(g, "g", "value", "pre")


_X243_SQL = r"""
WITH roll AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v, COUNT(*) AS c
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, value
), allv AS (
  SELECT v, SUM(c) AS ct FROM roll GROUP BY v
), ac AS (
  SELECT v, ct, SUM(ct) OVER (ORDER BY v) - ct AS cum_ct FROM allv
), tot AS (SELECT g, SUM(c) AS n FROM roll GROUP BY g),
nn AS (SELECT SUM(c) AS n_all FROM roll),
per AS (
  SELECT r.g, r.v, r.c, t.n, nn.n_all, ac.ct, ac.cum_ct,
         SUM(r.c) OVER (PARTITION BY r.g ORDER BY r.v) AS cum_g
  FROM roll r JOIN ac ON r.v = ac.v JOIN tot t ON r.g = t.g, nn
), pg AS (
  SELECT g, n, n_all, MAX(greatest(
    abs(cum_g / CAST(n AS DOUBLE)
        - (cum_ct + ct - cum_g)
          / nullif(CAST(n_all - n AS DOUBLE), 0.0)),
    abs((cum_g - c) / CAST(n AS DOUBLE)
        - (cum_ct - (cum_g - c))
          / nullif(CAST(n_all - n AS DOUBLE), 0.0)))) AS d_raw
  FROM per GROUP BY g, n, n_all
), sc AS (
  SELECT g, CAST(n AS BIGINT) AS n,
         ROUND(d_raw, 6) AS d_stat,
         ROUND(LEAST(1.0, 2.0 * exp(-2.0
            * (CAST(n AS DOUBLE) * (n_all - n) / CAST(n_all AS DOUBLE))
            * d_raw * d_raw)), 6) AS p_value
  FROM pg
), rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p_value, g) AS bh_rank,
         COUNT(*) OVER () AS n_groups
  FROM sc
), ck AS (
  SELECT *,
         ROUND(CAST(bh_rank AS DOUBLE) * 0.05
               / CAST(n_groups AS DOUBLE), 6) AS bh_cutoff,
         CASE WHEN p_value <= CAST(bh_rank AS DOUBLE) * 0.05
                              / CAST(n_groups AS DOUBLE)
              THEN bh_rank END AS pass_rank
  FROM rk
)
SELECT g AS event_type, n, d_stat, p_value,
       CAST(bh_rank AS BIGINT) AS bh_rank, bh_cutoff,
       COALESCE(bh_rank <= MAX(pass_rank) OVER (), FALSE) AS flagged
FROM ck ORDER BY bh_rank"""


@x("x243_grouped_ks_fdr", _X243_SQL)
def x243(spark, sf):
    """Multi-group drift screen with FDR control (r13): every event
    type's value distribution KS-tested against the rest of the
    corpus in ONE pass (inclusive + pre-jump diff candidates cover
    the whole pooled sup), then Benjamini–Hochberg step-up across the
    type battery — the which-source-drifted monitoring sweep where
    uncorrected per-group p-values multiply into false alarms.
    Global cumulative via the distributed prefix sum; per-group
    cumulative bounded by per-group distinct values; BH over the
    bounded group count.  operators/twosample.py::grouped_ks_screen."""
    from ..operators.twosample import grouped_ks_screen

    ev = load(spark, sf, "events")
    return grouped_ks_screen(ev, "event_type", "value", alpha=0.05)


_X244_SQL = r"""
WITH w AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
), s AS (
  SELECT CAST(lang = 'en' AS INT) AS label,
         LEAST(len(list_filter(ws, x -> x IN ('the', 'a')))
               * 8.0 / len(ws), 1.0) AS score
  FROM w WHERE len(ws) > 0
), roll AS (
  SELECT score AS v, SUM(label) AS ca, SUM(1 - label) AS cb
  FROM s GROUP BY score
), c AS (
  SELECT v, ca, cb,
         SUM(ca + cb) OVER (ORDER BY v) - (ca + cb) AS cumn
  FROM roll
), agg AS (
  SELECT SUM(ca) AS npos, SUM(cb) AS nneg,
         SUM(CAST(ca AS DOUBLE)
             * (CAST(cumn AS DOUBLE)
                + (CAST(ca + cb AS DOUBLE) + 1.0) / 2.0)) AS ra
  FROM c
)
SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
       CASE WHEN npos > 0 AND nneg > 0 THEN
         ROUND((ra - CAST(npos AS DOUBLE)
                     * (CAST(npos AS DOUBLE) + 1.0) / 2.0)
               / nullif(CAST(npos AS DOUBLE)
                        * CAST(nneg AS DOUBLE), 0.0), 6) END AS auc,
       CASE WHEN npos > 0 AND nneg > 0 THEN
         ROUND(2.0 * ((ra - CAST(npos AS DOUBLE)
                       * (CAST(npos AS DOUBLE) + 1.0) / 2.0)
               / nullif(CAST(npos AS DOUBLE)
                        * CAST(nneg AS DOUBLE), 0.0)) - 1.0, 6)
       END AS gini
FROM agg"""


@x("x244_auc", _X244_SQL)
def x244(spark, sf):
    """Exact ROC AUC of the x194 score/label pairing (r13): does the
    scaled English-stopword share RANK ``lang = 'en'`` documents above
    the rest — the threshold-free discrimination readout next to
    x194's calibration audit (a score can rank perfectly yet be
    miscalibrated, and vice versa).  Midrank tie handling over the
    per-distinct-score rollup; rank sums are integers-and-halves, so
    the statistic replays bit-for-bit.
    operators/classifier.py::auc_exact."""
    from ..operators.classifier import auc_exact

    docs = load_docs(spark, sf)
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda t: t != "")
    d = (docs.withColumn("__ws", words)
             .filter(F.size("__ws") > 0)
             .select((F.col("lang") == "en").cast("int").alias("label"),
                     F.least(
                         F.size(F.filter(F.col("__ws"),
                                         lambda w: w.isin("the", "a")))
                         * 8.0 / F.size("__ws"),
                         F.lit(1.0)).alias("score")))
    return auc_exact(d, "score", "label")
