"""Dedup, similarity-search, text-analysis and temporal entries (x01–x37 band)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ..operators import asof as asof_mod  # noqa: F401
from ..operators import dedup as dedup_mod  # noqa: F401
from ..operators import similarity as sim_mod  # noqa: F401
from ..operators import text as text_mod  # noqa: F401
from ..tierb import load  # noqa: F401
from ..util import ensure_parallelism  # noqa: F401

from ._shared import load_docs, load_emb, x  # noqa: F401


# ---------------------------------------------------------------------------
# Deduplication

@x("x01_dedup_exact", """
SELECT lang, source, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY lang, source ORDER BY lang, source""")
def x01(spark, sf):
    """Exact keyed dedup: keep-first winner per (lang, source) + group size."""
    docs = load(spark, sf, "documents")
    kept = dedup_mod.exact_dedup(docs, ["lang", "source"], keep_by="doc_id")
    sizes = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_dups"))
    return (kept.select("lang", "source", F.col("doc_id").alias("keep_id"))
                .join(sizes, ["lang", "source"])
                .orderBy("lang", "source"))


@x("x02_dup_groups", """
SELECT SUBSTR(text, 1, 20) AS pre, COUNT(*) AS n_dups FROM documents
GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY pre""")
def x02(spark, sf):
    """Exact-duplicate group audit on a text prefix key."""
    docs = load(spark, sf, "documents").withColumn(
        "pre", F.substring("text", 1, 20))
    return dedup_mod.exact_dup_groups(docs, ["pre"]).orderBy("pre")


@x("x03_ngram_jaccard", """
WITH w AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '')) AS ws
  FROM documents WHERE doc_id < 100
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.ws, b.ws)) AS common,
         len(a.ws) AS na, len(b.ws) AS nb
  FROM w a JOIN w b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(common / (na + nb - common), 4) AS jaccard
FROM pairs WHERE common / (na + nb - common) >= 0.8
ORDER BY id_a, id_b""")
def x03(spark, sf):
    """Word-set Jaccard near-dup pairs (inverted-index join, threshold 0.8)."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 100)
    pairs = dedup_mod.ngram_jaccard_pairs(docs, "doc_id", "text",
                                          n=1, threshold=0.8)
    return (pairs.select("id_a", "id_b",
                         F.round("jaccard", 4).alias("jaccard"))
                 .orderBy("id_a", "id_b"))


@x("x04_minhash_lsh", None)  # xxhash64 signatures are engine-specific
def x04(spark, sf):
    """MinHash-LSH candidate near-dup pairs (banded, sub-quadratic)."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return (dedup_mod.minhash_near_dups(docs, "doc_id", "text",
                                        num_hashes=32, bands=8,
                                        threshold=0.5)
            .orderBy("id_a", "id_b"))


@x("x39_pack_documents", """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS before
  FROM t
)
SELECT CAST(FLOOR(before / 1000) AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM c GROUP BY 1 ORDER BY pack_id""")
def x39(spark, sf):
    """Sequence packing (1000-token packs over doc_id order) — the oracle
    spells the same semantics as ONE global window; the operator computes
    it as a distributed prefix sum (per-partition totals + offsets), which
    is the version that survives 100 TB."""
    from ..operators import pack_documents, pack_summary

    docs = text_mod.with_token_count(load(spark, sf, "documents"),
                                     "text", "n_tokens")
    docs = docs.withColumn("n_tokens", F.col("n_tokens").cast("long"))
    packed = pack_documents(docs, "doc_id", "n_tokens", budget=1000)
    return (pack_summary(packed, "n_tokens")
            .orderBy("pack_id"))


@x("x38_train_test_split", """
WITH b AS (
  SELECT source,
         CAST(('0x' || substring(md5('holdout-' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) AS bk
  FROM documents
)
SELECT CASE WHEN bk < 3865470566 THEN 'train' ELSE 'test' END AS split,
       source, COUNT(*) AS n
FROM b GROUP BY 1, 2 ORDER BY split, source""")
def x38(spark, sf):
    """Deterministic leak-proof train/test split labeling (per-source
    counts): membership is a pure function of doc_id, stable across
    partitioning and cluster size.  Promoted to oracle-checked in r6 by
    keying on the portable md5 bucket (salt 'holdout', 90/10), the
    library's one split hash family."""
    from ..operators import with_md5_split_label

    docs = load(spark, sf, "documents")
    return (with_md5_split_label(docs, "doc_id",
                                 {"train": 0.9, "test": 0.1},
                                 salt="holdout")
            .groupBy("split", "source")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("split", "source"))


@x("x37_minhash_fast", None)  # engine-specific hash family
def x37(spark, sf):
    """MinHash-LSH near-dups over the FULL documents table — the vectorized
    signature path (NumPy rolling hash per Arrow batch) removes the doc
    cap the interpreted JVM version needs (x04).

    THROUGHPUT-TWIN-ONLY by design: the NumPy rolling hash family is
    engine-specific, so the pair set cannot be replayed hash-for-hash
    by an external engine — the verified md5 sibling is x153
    (``near_dup_clusters``, portable family, oracle-checked), and the
    GRADED twin is x236 (same pairs + exact hash-free true-Jaccard
    audit columns; kept separate so this entry stays comparable to its
    r1 baseline pin — the grade is extra work the pin never paid)."""
    docs = load(spark, sf, "documents")
    return (dedup_mod.minhash_near_dups_fast(docs, "doc_id", "text",
                                             num_hashes=32, bands=8,
                                             threshold=0.5)
            .orderBy("id_a", "id_b"))


@x("x236_minhash_fast_graded", None)  # engine-specific hash family
def x236(spark, sf):
    """x37's vectorized MinHash-LSH pairs, SELF-GRADED (r13): every
    emitted pair carries its TRUE hash-free character-5-shingle
    Jaccard (exact set arithmetic over md5-hashed shingles — 8-byte
    ints, not strings, so the audit join stays narrow) next to the
    estimate, plus two verdicts:

    - ``false_positive`` — true Jaccard < the 0.5 threshold: an LSH
      candidate that survived banding by chance.  EXPECTED at a low
      rate (banding selects upward-biased estimates; at sf0.1 ~3% of
      pairs), so it is an observability column, not a failure.
    - ``est_err_ok`` — |est − true| within the 3σ binomial bound for
      32 hashes (±0.27), graded ONLY on genuine dups (NULL on false
      positives, whose estimates are selection-inflated by
      construction).  A broken hash family or banding bug shows up as
      est_err_ok=false rows on real dups.

    Only the PAIR-TOUCHED docs are shingled (pair-count work, never
    corpus work)."""
    from ..util import retain_cache

    docs = load(spark, sf, "documents")
    pairs = retain_cache(dedup_mod.minhash_near_dups_fast(
        docs, "doc_id", "text", num_hashes=32, bands=8,
        threshold=0.5))
    touched = (pairs.select(F.col("id_a").alias("doc_id"))
               .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
               .distinct())
    sh = F.array_distinct(F.transform(
        dedup_mod._char_shingles(F.col("text"), 5),
        lambda g: F.xxhash64(g)))
    sets = (docs.join(touched, "doc_id", "semi")
                .select(F.col("doc_id"), sh.alias("__sh")))
    a = sets.select(F.col("doc_id").alias("id_a"),
                    F.col("__sh").alias("__sa"))
    b = sets.select(F.col("doc_id").alias("id_b"),
                    F.col("__sh").alias("__sb"))
    true_j = F.round(
        F.size(F.array_intersect("__sa", "__sb"))
        / F.size(F.array_union("__sa", "__sb")).cast("double"), 4)
    tol = 0.27
    fp = F.col("true_jaccard") < 0.5
    return (pairs.join(a, "id_a").join(b, "id_b")
            .withColumn("true_jaccard", true_j)
            .withColumn("false_positive", fp)
            .withColumn("est_err_ok",
                        F.when(~fp, F.abs(F.col("est_jaccard")
                                          - F.col("true_jaccard"))
                               <= tol))
            .select("id_a", "id_b", "est_jaccard", "true_jaccard",
                    "false_positive", "est_err_ok")
            .orderBy("id_a", "id_b"))


@x("x05_simhash", """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
tok AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '')) AS ws
  FROM d
), hs AS (
  SELECT doc_id,
         list_transform(ws, w -> xor(
           CAST(('0x' || substring(md5(w), 1, 16)) AS UBIGINT),
           CAST(1366493713 AS UBIGINT))) AS hv
  FROM tok
), sig AS (
  SELECT doc_id, CAST(
    COALESCE(list_sum(list_transform(range(0, 63), b ->
      CASE WHEN list_sum(list_transform(hv,
             h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN CAST(1 AS HUGEINT) << b ELSE CAST(0 AS HUGEINT) END)), 0)
    - CASE WHEN COALESCE(list_sum(list_transform(hv,
             h -> CASE WHEN (h >> 63) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
           THEN CAST(1 AS HUGEINT) << 63 ELSE CAST(0 AS HUGEINT) END
    AS BIGINT) AS sg
  FROM hs
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming,
         xor(a.sg, b.sg) AS x
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs
WHERE hamming <= 6
  AND ((x & 65535) = 0 OR ((x >> 16) & 65535) = 0
       OR ((x >> 32) & 65535) = 0 OR ((x >> 48) & 65535) = 0)
ORDER BY id_a, id_b""")
def x05(spark, sf):
    """SimHash hamming-≤6 near-dup pairs via 16-bit pigeonhole banding,
    vectorized signature stage (hashlib-C md5 token hashes + one NumPy bit
    broadcast per doc).  The md5 hash family is portable, so the DuckDB
    oracle re-derives the exact signatures (token hash, seed xor, bit
    votes, sign packing) and the banding restriction (pairs must agree
    on >=1 of the 4 chunks) in pure SQL — the x62 discipline applied to
    SimHash."""
    docs = load_docs(spark, sf).filter(F.col("doc_id") < 200)
    return (dedup_mod.simhash_near_dups(docs, "doc_id", "text",
                                        max_hamming=6)
            .orderBy("id_a", "id_b"))


@x("x06_embedding_dups", """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           WHERE vec_id < 2000),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.e, b.e)
         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
           AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cosine, 4) AS cosine FROM p WHERE cosine >= 0.95
ORDER BY id_a, id_b""")
def x06(spark, sf):
    """Embedding near-dup pairs: exact all-pairs cosine ≥ 0.95 (the oracle-
    checkable exact path, bounded to 2k vectors — all-pairs is quadratic by
    definition; the LSH-bucketed scale path is x07)."""
    emb = load_emb(spark, sf).filter(F.col("vec_id") < 2000)
    pairs = dedup_mod.embedding_cosine_dups(emb, "vec_id", "embedding",
                                            threshold=0.95, use_lsh=False)
    return (pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
                 .orderBy("id_a", "id_b"))


@x("x07_embedding_dups_lsh", None)  # LSH recall is approximate by design
def x07(spark, sf):
    """Sign-LSH bucketed variant of x06 — the 100 TB path (bucket-local
    pair generation instead of all-pairs).  The raw fixture has no
    cosine≥0.95 pairs, so the entry PLANTS 30 deterministic near-copies
    (vec scaled 1.05 + a 0.01 nudge on dim 0, ids +10000) and reports
    the planted pairs the LSH recovered with a ``recall_vs_planted``
    column — rows > 0 is the expected state, and a recall collapse in
    the signature/banding stages is driver-visible as a row-count drop
    to zero (VERDICT r8: an entry that legitimately returns 0 rows
    demonstrates nothing)."""
    emb = load_emb(spark, sf)
    planted = (emb.filter(F.col("vec_id") < 30)
               .select((F.col("vec_id") + 10000).alias("vec_id"),
                       F.expr("transform(embedding, (v, i) -> "
                              "cast(v AS DOUBLE) * 1.05D + CASE WHEN "
                              "i = 0 THEN 0.01D ELSE 0.0D END)")
                        .alias("embedding")))
    corpus = (emb.select("vec_id",
                         F.col("embedding").cast("array<double>")
                          .alias("embedding"))
                 .unionByName(planted))
    pairs = dedup_mod.embedding_cosine_dups(corpus, "vec_id", "embedding",
                                            threshold=0.95, use_lsh=True,
                                            planes=8)
    found = pairs.filter((F.col("id_b") == F.col("id_a") + 10000)
                         & (F.col("id_a") < 30))
    rec = found.agg(F.round(F.count(F.lit(1)) / 30.0, 4)
                     .alias("recall_vs_planted"))
    return (found.select("id_a", "id_b",
                         F.round("cosine", 4).alias("cosine"))
                 .crossJoin(F.broadcast(rec))
                 .orderBy("id_a", "id_b"))


# ---------------------------------------------------------------------------
# Similarity search

@x("x08_cosine_topk", """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e))
                  * sqrt(list_dot_product(c.e, c.e))), 4) AS cosine
  FROM q CROSS JOIN c
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5
ORDER BY query_id, rnk""")
def x08(spark, sf):
    """Brute-force cosine top-5 per query (exact ANN baseline)."""
    emb = load_emb(spark, sf)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    return (sim_mod.cosine_top_k(q, c, k=5, round_to=4)
            .orderBy("query_id", "rnk"))


@x("x09_cosine_topk_lsh", None)  # approximate recall by design
def x09(spark, sf):
    """Multi-table sign-LSH ANN top-5 (the scale path: each query scores
    ~tables/2^planes of the corpus instead of all of it) — graded
    IN-ENTRY against the exact x08 ranking: the output is the
    (query, neighbor) hits the LSH shares with the exact top-5 plus a
    per-query ``recall_at_5`` column, so rows > 0 is the expected state
    and an LSH recall collapse is driver-visible as an empty result
    (VERDICT r8)."""
    emb = load_emb(spark, sf)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    lsh = sim_mod.lsh_cosine_top_k(q, c, k=5, planes=4, tables=8)
    exact = (sim_mod.cosine_top_k(q, c, k=5, round_to=4)
             .select("query_id", "neighbor_id"))
    hit = lsh.join(exact, ["query_id", "neighbor_id"])
    per_q = (hit.groupBy("query_id")
                .agg(F.round(F.count(F.lit(1)) / 5.0, 2)
                      .alias("recall_at_5")))
    return (hit.select("query_id", "neighbor_id",
                       F.round("cosine", 4).alias("cosine"))
               .join(per_q, "query_id")
               .orderBy("query_id", "neighbor_id"))


@x("x28_time_rollup", """
WITH m AS (
  SELECT date_trunc('minute', ts) AS bucket, event_type,
         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(20,6))) AS sv
  FROM events GROUP BY 1, 2
), h AS (
  SELECT date_trunc('hour', bucket) AS bucket, event_type,
         SUM(n) AS n, SUM(sv) AS sv
  FROM m GROUP BY 1, 2
), d AS (
  SELECT date_trunc('day', bucket) AS bucket, event_type,
         SUM(n) AS n, SUM(sv) AS sv
  FROM h GROUP BY 1, 2
)
SELECT grain, CAST(bucket AS TIMESTAMP) AS bucket, event_type,
       CAST(n AS BIGINT) AS n,
       CAST(ROUND(sv, 3) AS DOUBLE) AS sv
FROM (
  SELECT 'minute' AS grain, * FROM m
  UNION ALL SELECT 'hour', * FROM h
  UNION ALL SELECT 'day', * FROM d)
ORDER BY grain, bucket, event_type""")
def x28(spark, sf):
    """Hypertable rollup cascade: minute → hour → day, each coarser level
    re-aggregated from the finer one (one raw scan total).  Sums accumulate
    as exact DECIMAL (order-independent) so the cascade hash-matches the
    oracle regardless of partial-aggregation order; the API surfaces a
    rounded double."""
    from ..operators.rollup import time_rollup_cascade

    ev = load(spark, sf, "events").withColumn(
        "value", F.col("value").cast("decimal(20,6)"))
    out = time_rollup_cascade(ev, "ts", "value",
                              grains=["minute", "hour", "day"])
    return (out.select("grain", "bucket", "event_type", "n",
                       F.round("sv", 3).cast("double").alias("sv"))
               .orderBy("grain", "bucket", "event_type"))


@x("x29_part_revenue", """
SELECT p.p_brand, p.p_type,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev,
       COUNT(*) AS n
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 20
GROUP BY p.p_brand, p.p_type ORDER BY p_brand, p_type""")
def x29(spark, sf):
    """Fact-to-dimension revenue rollup over `part` (TPC-H Q14 flavor) —
    the dimension broadcasts; only the fact side shuffles for the agg."""
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part").filter(F.col("p_size") <= 20)
    return (li.join(F.broadcast(p),
                    li["l_partkey"] == p["p_partkey"])
              .groupBy("p_brand", "p_type")
              .agg(F.round(F.sum(F.col("l_extendedprice")
                                 * (1 - F.col("l_discount"))), 2).alias("rev"),
                   F.count(F.lit(1)).alias("n"))
              .orderBy("p_brand", "p_type"))


@x("x30_json_typed", """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sk,
       COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type""")
def x30(spark, sf):
    """Typed JSON parsing: from_json with a declared schema → struct column
    (vs Q30's stringly get_json_object), then aggregate the typed field."""
    ev = load(spark, sf, "events")
    parsed = ev.withColumn("__p", F.from_json("props", "k int"))
    return (parsed.groupBy("event_type")
            .agg(F.sum(F.col("__p.k")).alias("sk"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("event_type"))


@x("x31_grouping_sets", """
SELECT COALESCE(o_orderstatus, 'ALL') AS st,
       COALESCE(o_orderpriority, 'ALL') AS pr, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY st, pr""")
def x31(spark, sf):
    """Explicit GROUPING SETS (arbitrary set list — beyond the rollup/cube
    shorthands of Q14/x24) via DataFrame.groupingSets."""
    o = load(spark, sf, "orders")
    return (o.groupingSets([["o_orderstatus"], ["o_orderpriority"], []],
                           "o_orderstatus", "o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n"))
             .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("st"),
                     F.coalesce("o_orderpriority", F.lit("ALL")).alias("pr"),
                     "n")
             .orderBy("st", "pr"))


@x("x32_stream_stream_join", """
WITH c AS (SELECT user_id, event_id AS click_id, ts AS c_ts FROM events
           WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS p_ts, value FROM events
      WHERE event_type = 'purchase')
SELECT c.click_id, c.user_id, p.p_ts, ROUND(p.value, 3) AS value
FROM c JOIN p
ON p.user_id = c.user_id
AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
ORDER BY click_id, p_ts""")
def x32(spark, sf):
    """Batch twin of the stream-stream interval join (clicks ⋈ purchases
    within 30 min) — the same builder runs on two readStream inputs with
    watermarks (streaming/joins.py, parity-tested)."""
    from ..streaming.joins import clicks_purchases_join

    ev = load(spark, sf, "events")
    return (clicks_purchases_join(ev, ev, within="30 minutes")
            .select("click_id", "user_id", "p_ts",
                    F.round("value", 3).alias("value"))
            .orderBy("click_id", "p_ts"))


@x("x33_string_agg", """
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS sts,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
def x33(spark, sf):
    """Ordered string aggregation — spelled as sort_array(collect_set()) +
    array_join for cross-engine determinism (collect order is free)."""
    o = load(spark, sf, "orders")
    return (o.groupBy("o_orderpriority")
             .agg(F.array_join(F.array_sort(F.collect_set("o_orderstatus")),
                               ",").alias("sts"),
                  F.count(F.lit(1)).alias("n"))
             .orderBy("o_orderpriority"))


@x("x34_topk_per_group", """
SELECT c_mktsegment, c_custkey, c_acctbal FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer) WHERE rn <= 3
ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""")
def x34(spark, sf):
    """Per-group top-k through the operator (row_number + filter — no
    global sort; each group's k rows found within its partition)."""
    from ..operators import top_k_per_group

    c = load(spark, sf, "customer")
    out = top_k_per_group(c, "c_mktsegment",
                          [F.col("c_acctbal").desc(), F.col("c_custkey")], 3)
    return (out.select("c_mktsegment", "c_custkey", "c_acctbal")
               .orderBy("c_mktsegment", F.col("c_acctbal").desc(),
                        "c_custkey"))


@x("x35_stats_aggs", """
SELECT l_returnflag,
       ROUND(stddev_samp(l_quantity), 4) + 0 AS sd,
       ROUND(var_samp(l_quantity), 4) + 0 AS vr,
       ROUND(corr(l_quantity, l_extendedprice), 4) + 0 AS cr,
       ROUND(covar_samp(l_discount, l_tax), 6) + 0 AS cv
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
def x35(spark, sf):
    """Statistical aggregates (all decomposable — partial+final at scale).
    ``+ 0`` normalizes IEEE negative zero, which otherwise hash-mismatches
    across engines after rounding a tiny negative covariance."""
    li = load(spark, sf, "lineitem")
    zero = F.lit(0.0)
    return (li.groupBy("l_returnflag")
              .agg((F.round(F.stddev_samp("l_quantity"), 4) + zero)
                   .alias("sd"),
                   (F.round(F.var_samp("l_quantity"), 4) + zero).alias("vr"),
                   (F.round(F.corr("l_quantity", "l_extendedprice"), 4)
                    + zero).alias("cr"),
                   (F.round(F.covar_samp("l_discount", "l_tax"), 6)
                    + zero).alias("cv"))
              .orderBy("l_returnflag"))


@x("x36_word_count", """
WITH w AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
)
SELECT word, COUNT(*) AS n FROM w GROUP BY word
ORDER BY n DESC, word LIMIT 20""")
def x36(spark, sf):
    """Distributed word count (explode → hash agg → top-k): the canonical
    shape — map-side explode, partial+final count, TakeOrdered for the
    top 20 (no global sort of the full vocabulary)."""
    docs = load(spark, sf, "documents")
    words = docs.select(
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"),
                           lambda t: t != "")).alias("word"))
    return (words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
                 .orderBy(F.col("n").desc(), "word").limit(20))


@x("x27_cosine_topk_ivf", None)  # approximate recall by design
def x27(spark, sf):
    """IVF coarse-quantizer ANN top-5 (data-adaptive scale path; each query
    scores ~nprobe/centroids of the corpus).  refine_iters=0 here: the
    Lloyd step is a train-once cost, not a per-query one — re-training in
    a timed query loop would misrepresent serving cost.  Graded IN-ENTRY
    against the exact x08 ranking (the x09 pattern, VERDICT r9): rows are
    the (query, neighbor) hits IVF shares with the exact top-5 plus a
    per-query ``recall_at_5`` column — rows > 0 is the expected state and
    a recall collapse is driver-visible as an empty result."""
    from ..util import retain_cache

    # one materialized scan shared by the IVF path (train + probe) and
    # the exact grading path (the x186 pattern, r14)
    emb = retain_cache(load_emb(spark, sf))
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    ivf = sim_mod.ivf_cosine_top_k(q, c, k=5, centroids=32, nprobe=6,
                                   refine_iters=0)
    exact = (sim_mod.cosine_top_k(q, c, k=5, round_to=4)
             .select("query_id", "neighbor_id"))
    hit = ivf.join(exact, ["query_id", "neighbor_id"])
    per_q = (hit.groupBy("query_id")
                .agg(F.round(F.count(F.lit(1)) / 5.0, 2)
                      .alias("recall_at_5")))
    return (hit.select("query_id", "neighbor_id",
                       F.round("cosine", 4).alias("cosine"))
               .join(per_q, "query_id")
               .orderBy("query_id", "neighbor_id"))


# ---------------------------------------------------------------------------
# Text analysis

@x("x10_token_count", """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS INTEGER) AS n_tokens
FROM documents ORDER BY doc_id""")
def x10(spark, sf):
    docs = load(spark, sf, "documents")
    return (text_mod.with_token_count(docs, "text", "n_tokens")
            .select("doc_id", "n_tokens").orderBy("doc_id"))


@x("x11_language_guess", """
WITH w AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '')) AS ws
  FROM documents
), s AS (
  SELECT doc_id,
    len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','ein','nicht','mit'], x))) AS de,
    len(list_filter(ws, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS en,
    len(list_filter(ws, x -> list_contains(['el','la','los','las','y','de','que','es'], x))) AS es,
    len(list_filter(ws, x -> list_contains(['le','la','les','et','de','un','une','est'], x))) AS fr,
    len(list_filter(ws, x -> list_contains(['的','是','了','在','我','有','和','人'], x))) AS zh
  FROM w
)
SELECT doc_id,
  CASE WHEN greatest(de,en,es,fr,zh) = 0 THEN 'und'
       WHEN de = greatest(de,en,es,fr,zh) THEN 'de'
       WHEN en = greatest(de,en,es,fr,zh) THEN 'en'
       WHEN es = greatest(de,en,es,fr,zh) THEN 'es'
       WHEN fr = greatest(de,en,es,fr,zh) THEN 'fr'
       ELSE 'zh' END AS lang_guess
FROM s ORDER BY doc_id""")
def x11(spark, sf):
    """Stopword-marker language ID (deterministic heuristic, no model)."""
    docs = load(spark, sf, "documents")
    return (text_mod.with_language_guess(docs, "text", "lang_guess")
            .select("doc_id", "lang_guess").orderBy("doc_id"))


@x("x12_fingerprint", """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS ws
  FROM documents
)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(ws,
             w -> CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT))),
         (acc, h) -> (acc * 31 + h) % 72057594037927931) AS fingerprint
FROM w ORDER BY doc_id""")
def x12(spark, sf):
    """Order-sensitive rolling-hash document fingerprint (portable md5
    word bucket — the oracle recomputes the identical fold in DuckDB via
    list_reduce; xxhash64 fast path stays unit-tested)."""
    docs = load_docs(spark, sf)
    return (text_mod.with_fingerprint(docs, "text", "fingerprint",
                                      portable=True)
            .select("doc_id", "fingerprint").orderBy("doc_id"))


@x("x13_quality_score", """
WITH s AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS nc,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS DOUBLE) AS nw,
         CAST(length(text)
              - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
              AS DOUBLE) AS np,
         CAST(len(list_filter(
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> ''),
               w -> list_contains(['the','and','of','to','is','in',
                                   'that','it'], w))) AS DOUBLE) AS st,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) AS nws
  FROM documents
), sc AS (
  SELECT doc_id,
         least(nc / 500.0, 1.0) AS len_score,
         greatest(1.0 - (np / greatest(nc, 1.0)) * 5.0, 0.0) AS punct_score,
         least(st / greatest(nw, 1.0) * 5.0, 1.0) AS stop_score,
         CASE WHEN nw > 0 AND nws / nw >= 3 AND nws / nw <= 10
              THEN 1.0 ELSE 0.3 END AS wlen_score
  FROM s
)
SELECT doc_id,
       CAST(ROUND(CAST(len_score * 0.3 + punct_score * 0.2 + stop_score * 0.2
                       + wlen_score * 0.3 AS DECIMAL(30,15)), 4) AS DOUBLE)
         AS quality
FROM sc ORDER BY doc_id""")
def x13(spark, sf):
    """Heuristic quality score (length/punct/stopword/word-length mix) —
    pure arithmetic over RE2-compatible regex counts, re-derived in the
    DuckDB oracle expression by expression."""
    docs = load_docs(spark, sf)
    return (text_mod.with_quality_score(docs, "text", "quality")
            .select("doc_id", "quality").orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Temporal operators over events

@x("x14_asof_join", """
WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
purch AS (SELECT * FROM events WHERE event_type = 'purchase')
SELECT c.event_id,
       ROUND((SELECT max_by(p.value, p.ts) FROM purch p
              WHERE p.user_id = c.user_id AND p.ts <= c.ts), 3) AS last_purchase
FROM clicks c ORDER BY c.event_id""")
def x14(spark, sf):
    """As-of join: each click gets the user's most recent purchase value."""
    ev = load(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", "ts", F.col("value").alias("last_purchase")))
    joined = asof_mod.asof_join(clicks, purchases, on=["user_id"],
                                left_ts="ts", right_ts="ts",
                                right_cols=["last_purchase"])
    return (joined.select("event_id",
                          F.round("last_purchase", 3).alias("last_purchase"))
                  .orderBy("event_id"))


@x("x15_sessionize", """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
), g AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       COUNT(*) AS n_events
FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""")
def x15(spark, sf):
    """Batch sessionization via session_window (30 min gap) — the same
    builder serves Structured Streaming (streaming/windows.py)."""
    from ..streaming.windows import session_agg

    ev = load(spark, sf, "events")
    return (session_agg(ev, gap="30 minutes")
            .select("user_id", "session_start",
                    F.col("n_events").cast("long").alias("n_events"))
            .orderBy("user_id", "session_start"))


@x("x16_tumbling_window", """
SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP) AS w_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 3) AS sv
FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""")
def x16(spark, sf):
    """5-minute tumbling windows via F.window — the batch twin of the
    streaming tumbling_agg (same groupBy plan, watermark added on streams)."""
    from ..streaming.windows import tumbling_agg

    ev = load(spark, sf, "events")
    return (tumbling_agg(ev, window="5 minutes")
            .select(F.col("w_start"), "event_type", "n", "sv")
            .orderBy("w_start", "event_type"))


@x("x19_sliding_window", """
WITH e AS (
  SELECT unnest([CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP),
                 CAST(to_timestamp(floor(epoch(ts) / 300) * 300 - 300) AS TIMESTAMP)]) AS w_start,
         event_type
  FROM events
)
SELECT w_start, event_type, COUNT(*) AS n FROM e
GROUP BY w_start, event_type ORDER BY w_start, event_type""")
def x19(spark, sf):
    """10-min windows sliding by 5 min (each event lands in two windows) —
    batch twin of streaming sliding_agg; oracle enumerates both window
    starts per event."""
    from ..streaming.windows import sliding_agg

    ev = load(spark, sf, "events")
    return (sliding_agg(ev, window="10 minutes", slide="5 minutes")
            .select("w_start", "event_type", "n")
            .orderBy("w_start", "event_type"))


@x("x20_running_totals", """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(COALESCE(value, 0)), 6) AS total_value,
       CAST(MAX(ts) AS TIMESTAMP) AS last_ts
FROM events GROUP BY user_id ORDER BY user_id""")
def x20(spark, sf):
    """Per-user running totals, batch twin of the applyInPandasWithState
    streaming operator (streaming/stateful.py) — the parity test proves the
    stream converges to exactly these rows."""
    from ..streaming.stateful import running_totals_batch

    ev = load(spark, sf, "events")
    return running_totals_batch(ev).orderBy("user_id")


@x("x21_quality_pipeline", """
WITH w AS (
  SELECT doc_id, source, text,
         list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '')) AS ws,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
), lang AS (
  SELECT doc_id, source, text, n_tokens,
    len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','ein','nicht','mit'], x))) AS de_hits,
    len(list_filter(ws, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS en_hits,
    greatest(
      len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','ein','nicht','mit'], x))),
      len(list_filter(ws, x -> list_contains(['the','and','of','to','is','in','that','it'], x))),
      len(list_filter(ws, x -> list_contains(['el','la','los','las','y','de','que','es'], x))),
      len(list_filter(ws, x -> list_contains(['le','la','les','et','de','un','une','est'], x))),
      len(list_filter(ws, x -> list_contains(['的','是','了','在','我','有','和','人'], x)))) AS best
  FROM w
), kept AS (
  SELECT DISTINCT ON (text) doc_id, source FROM (
    SELECT * FROM lang
    WHERE n_tokens >= 10 AND en_hits = best AND best > 0 AND en_hits > de_hits
    ORDER BY doc_id) ORDER BY text, doc_id
)
SELECT source, COUNT(*) AS n_docs FROM kept
GROUP BY source ORDER BY source""")
def x21(spark, sf):
    """Composite training-data filter: token-count floor → English-guess
    filter → exact text dedup (keep lowest doc_id) → survivors per source.
    The shape every LLM data pipeline runs; entirely JVM-side expressions.
    (Oracle mirrors the tie-break: 'en' wins only when it beats 'de', the
    lone lexicographically-earlier language code.)"""
    docs = load(spark, sf, "documents")
    scored = text_mod.with_token_count(docs, "text", "n_tokens")
    scored = text_mod.with_language_guess(scored, "text", "lang_guess")
    kept = scored.filter((F.col("n_tokens") >= 10)
                         & (F.col("lang_guess") == "en"))
    deduped = dedup_mod.exact_dedup(kept, ["text"], keep_by="doc_id")
    return (deduped.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("source"))




def _x193_sql() -> str:
    from ..operators.text import normalize_text_oracle_sql as n

    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 50
), noisy AS (
  SELECT doc_id, text,
         chr(160) || 'â€œ' || text || 'â€™' || chr(7) || '  ' AS t
  FROM base
)
SELECT doc_id,
       length({n("t")}) AS len_norm,
       substring(md5({n("t")}), 1, 16) AS h,
       ({n("t")} = '"' || {n("text")} || chr(39)) AS roundtrip
FROM noisy ORDER BY doc_id"""


@x("x193_text_normalize", _x193_sql())
def x193(spark, sf):
    """Text normalization (the always-on cleaning pre-pass): mojibake
    repair, unicode-punctuation → ASCII, control-char strip, whitespace
    collapse — one pure-Catalyst expression chain whose ordered replace
    tables are SHARED with the oracle generator, so DuckDB replays the
    normalization character-for-character.  The entry PLANTS noise
    (NBSP + mojibake quotes + a BEL + trailing spaces around each doc)
    and checks the normalized form round-trips to the clean doc's
    normalization wrapped in the repaired quotes."""
    from ..operators.text import normalize_text

    docs = load_docs(spark, sf).filter(F.col("doc_id") < 50)
    noisy = F.concat(F.lit(" â€œ"), F.col("text"),
                     F.lit("â€™\x07  "))
    nn = normalize_text(noisy)
    nc = normalize_text(F.col("text"))
    return (docs.select(
        "doc_id",
        F.length(nn).alias("len_norm"),
        F.substring(F.md5(nn.cast("binary")), 1, 16).alias("h"),
        (nn == F.concat(F.lit('"'), nc, F.lit("'"))).alias("roundtrip"))
        .orderBy("doc_id"))


_X219_SQL = r"""
WITH d AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 300
), h AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                          i -> substring(t, i, 5)),
           g -> CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)) AS hv
  FROM d
), keys AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(hv) - 7, 1) + 1),
           i -> list_min(list_transform(
                  range(i, least(i + 7, len(hv)) + 1),
                  j -> hv[j] * 8 + (7 - (j - i))))) AS ks
  FROM h
), fp AS (
  SELECT DISTINCT doc_id, k // 8 AS fp
  FROM keys, UNNEST(ks) AS u(k)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       COUNT(*) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2
ORDER BY id_a, id_b"""


@x("x219_winnowing", _X219_SQL)
def x219(spark, sf):
    """Winnowing fingerprint overlap (Schleimer et al. 2003, the MOSS
    algorithm; r13): character-5-gram hashes, window-8 rightmost-min
    selection, cross-document pairs sharing >= 2 fingerprints with
    their shared counts.  Portable end to end (md5-prefix hashes,
    integer tie-break keys), so the oracle re-derives every
    fingerprint, every selection and every pair count — unlike
    MinHash this sketch LOCALIZES matches (guaranteed hit for any
    shared substring of length >= w + k - 1 = 12 chars).
    operators/dedup.py::winnow_overlap_pairs."""
    docs = load_docs(spark, sf).filter(F.col("doc_id") < 300)
    return (dedup_mod.winnow_overlap_pairs(docs, "doc_id", "text",
                                           k=5, w=8, min_shared=2)
            .orderBy("id_a", "id_b"))
