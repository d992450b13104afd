"""Window-function completions (size-gated distributed rank) and curriculum / sampling / mixing entries."""

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


def _rank_small_bytes() -> int:
    """Read the size gate from the PACKAGE namespace at call time so
    tests monkeypatching ``extensions._RANK_SMALL_BYTES`` keep working."""
    import datum_spark.extensions as _pkg

    return _pkg._RANK_SMALL_BYTES


# ---------------------------------------------------------------------------
# Window-function completions (SURVEY §2-B window rows: ntile / first / last /
# percent_rank / cume_dist / RANGE frames) and UNION distinct

@x("x40_ntile_first_last", """
SELECT c_mktsegment, c_custkey,
       NTILE(4) OVER w AS quartile,
       FIRST_VALUE(c_custkey) OVER w AS top_cust,
       ROUND(LAST_VALUE(c_acctbal) OVER (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
         AS min_bal
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_mktsegment, c_custkey LIMIT 1000""")
def x40(spark, sf):
    """NTILE quartiles + FIRST_VALUE / LAST_VALUE analytic functions
    (deterministic: the window order is a total order), spelled scale-safe
    for LOW-cardinality window partitions: c_mktsegment has 5 values, so
    Window.partitionBy would funnel 1/5 of the table through each task.
    Instead the per-segment rank comes from a grouped distributed prefix
    sum whose per-(partition, segment) collect ALSO carries the endpoint
    aggregates (first-row customer via min_by over the sort struct, last
    row's balance = segment min), combined driver-side — offsets, group
    sizes, FIRST_VALUE and LAST_VALUE all ride ONE tiny collect
    (≤ partitions × segments rows) and come back as one broadcast: two
    jobs total, the fused form of curriculum.grouped_global_position.
    NTILE is arithmetic on (rank, group size); the first n%4 tiles get
    one extra row — SQL NTILE's exact fill rule."""
    from ..session import default_parallelism
    from ..util import estimated_bytes, retain_cache

    c = (load(spark, sf, "customer")
         .select("c_mktsegment", "c_custkey", "c_acctbal"))
    order = [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    if estimated_bytes(c) < _rank_small_bytes():
        # size-gated physical choice (Catalyst's broadcast-decision
        # pattern): below the threshold the partition skew the prefix sum
        # exists to avoid cannot occur, and the plain window wins by two
        # whole jobs.  The distributed path below is the one the 10×
        # stress exercises; tests force it by zeroing the threshold.
        w = Window.partitionBy("c_mktsegment").orderBy(*order)
        wf = w.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
        return (c.select("c_mktsegment", "c_custkey",
                         F.ntile(4).over(w).alias("quartile"),
                         F.first("c_custkey").over(w).alias("top_cust"),
                         F.round(F.last("c_acctbal").over(wf), 2)
                          .alias("min_bal"))
                 .orderBy("c_mktsegment", "c_custkey").limit(1000))
    d = retain_cache(
        c.repartitionByRange(default_parallelism(),
                             F.col("c_mktsegment"), *order)
         .withColumn("__pid", F.spark_partition_id()))
    pairs = (d.groupBy("__pid", "c_mktsegment")
              .agg(F.count(F.lit(1)).alias("c"),
                   F.expr("min_by(c_custkey, struct(-c_acctbal, c_custkey))")
                    .alias("top"),
                   F.min("c_acctbal").alias("mb"))
              .collect())
    by_seg: dict = {}
    for p in pairs:
        by_seg.setdefault(p["c_mktsegment"], []).append(p)
    rows = []
    for seg, lst in by_seg.items():
        lst.sort(key=lambda p: p["__pid"])
        total = sum(p["c"] for p in lst)
        top = lst[0]["top"]            # rank 0 lives in the lowest pid
        mb = round(min(p["mb"] for p in lst), 2)
        acc = 0
        for p in lst:
            rows.append((seg, p["__pid"], acc, total, top, mb))
            acc += p["c"]
    offsets = F.broadcast(spark.createDataFrame(
        rows, "__oseg string, __opid int, __off long, __gn long, "
              "top_cust long, min_bal double"))
    w = Window.partitionBy("__pid", "c_mktsegment").orderBy(*order)
    r = (F.row_number().over(w) - 1 + F.col("__off")).cast("long")
    gn = F.col("__gn")
    q, rem = (gn / 4).cast("long"), gn % 4
    head = rem * (q + 1)
    quartile = (F.when(r < head, F.floor(r / (q + 1)))
                 .otherwise(rem + F.floor((r - head) /
                                          F.greatest(q, F.lit(1))))
                + 1).cast("int")
    return (d.join(offsets,
                   (F.col("__pid") == F.col("__opid"))
                   & F.col("c_mktsegment").eqNullSafe(F.col("__oseg")))
             .select("c_mktsegment", "c_custkey",
                     quartile.alias("quartile"), "top_cust", "min_bal")
             .orderBy("c_mktsegment", "c_custkey").limit(1000))


@x("x41_range_frame", """
SELECT l_orderkey, l_linenumber,
       COUNT(*) OVER (PARTITION BY l_orderkey ORDER BY l_quantity
                      RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS near_qty,
       ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_orderkey
             ORDER BY l_quantity
             RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING), 2) AS near_price
FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1000""")
def x41(spark, sf):
    """Value-based RANGE frame (±5 quantity units) — frame membership is a
    function of values, so the result is tie-order independent; complements
    Q19's ROWS frame."""
    li = load(spark, sf, "lineitem")
    w = (Window.partitionBy("l_orderkey").orderBy("l_quantity")
         .rangeBetween(-5, 5))
    return (li.select(
                "l_orderkey", "l_linenumber",
                F.count(F.lit(1)).over(w).alias("near_qty"),
                F.round(F.sum("l_extendedprice").over(w), 2)
                 .alias("near_price"))
            .orderBy("l_orderkey", "l_linenumber").limit(1000))


@x("x42_percent_rank", """
SELECT c_custkey,
       ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey), 6) AS pr,
       ROUND(CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey), 6) AS cd
FROM customer ORDER BY c_custkey LIMIT 1000""")
def x42(spark, sf):
    """PERCENT_RANK and CUME_DIST over a global total order, spelled
    scale-safe: the rank comes from curriculum's distributed prefix sum
    (range partition + local row_number + driver-side offsets), never a
    single-partition Window.orderBy.  The order includes the unique key,
    so there are no peers and pr = pos/(n-1), cd = (pos+1)/n exactly."""
    from ..operators.curriculum import _global_position
    from ..util import estimated_bytes

    c = load(spark, sf, "customer").select("c_custkey", "c_acctbal")
    if estimated_bytes(c) < _rank_small_bytes():
        # same size gate as x40: a sub-threshold input fits one task, so
        # the single-partition window is strictly cheaper; the prefix-sum
        # path below is what runs at scale (tests force it)
        w = Window.orderBy(F.col("c_acctbal"), F.col("c_custkey"))
        return (c.select("c_custkey",
                         F.round(F.percent_rank().over(w), 6).alias("pr"),
                         F.round(F.cume_dist().over(w), 6).alias("cd"))
                 .orderBy("c_custkey").limit(1000))
    pos = _global_position(
        c, [F.col("c_acctbal"), F.col("c_custkey")], "__pos",
        size_col="__n")
    return (pos.select(
                "c_custkey",
                F.round(F.col("__pos")
                        / F.greatest(F.col("__n") - 1, F.lit(1)), 6)
                 .alias("pr"),
                F.round((F.col("__pos") + 1) / F.col("__n"), 6)
                 .alias("cd"))
            .orderBy("c_custkey").limit(1000))


@x("x43_union_distinct", """
SELECT c_nationkey AS k FROM customer
UNION
SELECT s_nationkey FROM supplier ORDER BY k""")
def x43(spark, sf):
    """UNION with set (distinct) semantics — completes the set-ops row
    (Q21 INTERSECT, x22 UNION ALL, x23 EXCEPT)."""
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.union(s).distinct().orderBy("k")


@x("x44_except_all", """
SELECT o_custkey AS k FROM orders
EXCEPT ALL
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
ORDER BY k""")
def x44(spark, sf):
    """EXCEPT ALL (bag semantics: multiplicities subtract) — complements
    x23's distinct-set EXCEPT."""
    o = load(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    rich = (load(spark, sf, "customer")
            .filter(F.col("c_acctbal") > 5000)
            .select(F.col("c_custkey").alias("k")))
    return o.exceptAll(rich).orderBy("k")


@x("x45_date_arith", """
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            AS INTEGER) AS age_days,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
FROM orders ORDER BY o_orderkey LIMIT 1000""")
def x45(spark, sf):
    """Date arithmetic beyond Q26's extracts: interval add, day diff from an
    anchor, last_day, month truncation.  (Oracle text is DuckDB dialect —
    arg orders differ — but the values and column names match.)"""
    o = load(spark, sf, "orders")
    d = F.col("o_orderdate").cast("date")
    return (o.select(
                "o_orderkey",
                F.date_add(d, 30).alias("due"),
                F.datediff(d, F.lit("1995-01-01").cast("date"))
                 .cast("int").alias("age_days"),
                F.last_day(d).alias("month_end"),
                F.date_trunc("month", "o_orderdate").cast("date")
                 .alias("month_start"))
            .orderBy("o_orderkey").limit(1000))


@x("x46_string_regex", """
SELECT c_custkey,
       regexp_extract(c_name, '([0-9]+)', 1) AS digits,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
       string_split(c_name, '#')[1] AS prefix,
       regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS devowel
FROM customer ORDER BY c_custkey LIMIT 1000""")
def x46(spark, sf):
    """Regex + padding + split string functions beyond Q25 (DuckDB spells
    global regexp_replace with the 'g' flag and 1-indexes list access;
    Spark's regexp_replace is global by default and split is 0-indexed)."""
    c = load(spark, sf, "customer")
    return (c.select(
                "c_custkey",
                F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
                F.lpad(F.col("c_custkey").cast("string"), 10, "0")
                 .alias("padded"),
                F.split("c_name", "#").getItem(0).alias("prefix"),
                F.regexp_replace("c_mktsegment", "[AEIOU]", "_")
                 .alias("devowel"))
            .orderBy("c_custkey").limit(1000))


@x("x47_pii_redact", """
WITH seeded AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 10 = 0
                 THEN ' contact: user' || CAST(doc_id AS VARCHAR)
                      || '@example.com (555-867-5309)' ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')
         AS redacted,
       CAST(len(regexp_extract_all(t,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
          + len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))
          + len(regexp_extract_all(t,
              '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
          AS INTEGER) AS n_pii
FROM seeded ORDER BY doc_id""")
def x47(spark, sf):
    """PII redaction (emails / phones / IPv4 → typed placeholders) — the
    scrub pass before text enters a training corpus.  The fixture text has
    no real PII, so every 10th doc gets a deterministic synthetic
    email+phone suffix; the redactor must catch exactly those."""
    docs = load_docs(spark, sf)
    seeded = docs.withColumn(
        "t", F.concat(
            "text",
            F.when(F.col("doc_id") % 10 == 0,
                   F.concat(F.lit(" contact: user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com (555-867-5309)")))
             .otherwise(F.lit(""))))
    red = text_mod.with_pii_redaction(seeded, "t")
    return (red.select("doc_id", "redacted",
                       F.col("n_pii").cast("int").alias("n_pii"))
               .orderBy("doc_id"))


@x("x48_repetition", """
SELECT source, ROUND(AVG(CASE WHEN n > 0 THEN (n - d) / n ELSE 0 END), 4)
       AS avg_rep
FROM (
  SELECT source,
    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '')) AS DOUBLE) AS n,
    CAST(len(list_distinct(list_filter(string_split_regex(lower(text),
                         '\\s+'), x -> x <> ''))) AS DOUBLE) AS d
  FROM documents)
GROUP BY source ORDER BY source""")
def x48(spark, sf):
    """Duplicate-word repetition ratio (Gopher-style repetitiveness
    pre-filter), averaged per source — pure map-side column exprs plus one
    partial+final aggregation."""
    docs = load_docs(spark, sf)
    rep = text_mod.with_repetition_ratio(docs, "text", "repetition")
    return (rep.groupBy("source")
               .agg(F.round(F.avg("repetition"), 4).alias("avg_rep"))
               .orderBy("source"))


@x("x49_contamination", """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
           AS ws
  FROM documents
), g AS (
  SELECT doc_id, array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 2)) AS i
        FROM w WHERE len(ws) >= 3)
)
SELECT c.doc_id, CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_shared
FROM (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 50 <> 0) c
JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0) b USING (gram)
GROUP BY c.doc_id ORDER BY c.doc_id""")
def x49(spark, sf):
    """Benchmark decontamination: corpus docs (doc_id % 50 != 0) that share
    a word 3-gram with the 'benchmark' subset (doc_id % 50 == 0), with the
    count of distinct shared grams (``benchmark_contamination``'s
    ``n_hits``).  Benchmark grams broadcast; the corpus side only
    shuffles for the final per-doc count."""
    docs = load_docs(spark, sf)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return (dedup_mod.benchmark_contamination(corpus, bench, "doc_id",
                                              "text", n=3)
            .select("doc_id", F.col("n_hits").alias("n_shared"))
            .orderBy("doc_id"))


@x("x50_corpus_pipeline", """
WITH w AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
           AS ws
  FROM documents
), scored AS (
  SELECT doc_id, source, text,
         CAST(len(ws) AS DOUBLE) AS n,
         CAST(len(list_distinct(ws)) AS DOUBLE) AS d
  FROM w
), g AS (
  SELECT doc_id, array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 2)) AS i
        FROM w WHERE len(ws) >= 3)
), contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 50 <> 0) c
  JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0) b USING (gram)
), kept AS (
  SELECT doc_id, source, text, n FROM scored
  WHERE doc_id % 50 <> 0
    AND n >= 10
    AND (n - d) / n < 0.5
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
), deduped AS (
  SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text
)
SELECT source, COUNT(*) AS n_docs, ROUND(AVG(n), 2) AS avg_tokens
FROM (SELECT k.source, k.n FROM kept k JOIN deduped d USING (doc_id))
GROUP BY source ORDER BY source""")
def x50(spark, sf):
    """The end-to-end corpus-preparation pipeline, composed from the
    operator library: token floor → repetition-ratio cap → benchmark
    decontamination (3-gram overlap, x49's split) → exact text dedup
    (keep lowest doc_id) → per-source doc count + mean tokens.  Every
    stage is an operator with its own oracle; this query proves they
    compose into one Catalyst plan (one job, no driver round-trips
    between stages)."""
    docs = load_docs(spark, sf)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    scored = text_mod.with_token_count(corpus, "text", "n_tokens")
    scored = text_mod.with_repetition_ratio(scored, "text", "repetition")
    kept = scored.filter((F.col("n_tokens") >= 10)
                         & (F.col("repetition") < 0.5))
    flagged = dedup_mod.benchmark_contamination(kept, bench, "doc_id",
                                                "text", n=3)
    clean = kept.join(flagged.select("doc_id"), "doc_id", "left_anti")
    deduped = dedup_mod.exact_dedup(clean, ["text"], keep_by="doc_id")
    return (deduped.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg(F.col("n_tokens").cast("double")), 2)
                  .alias("avg_tokens"))
            .orderBy("source"))


@x("x51_dup_clusters", """
WITH RECURSIVE w AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '')) AS ws
  FROM documents WHERE doc_id < 100
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM w a JOIN w b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.ws, b.ws))
        / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.8
), sym AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION SELECT id_b, id_a FROM p
), reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
)
SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach
GROUP BY u ORDER BY doc_id""")
def x51(spark, sf):
    """Near-dup pairs → duplicate CLUSTERS: connected components over the
    x03 Jaccard pair graph via alternating large-star/small-star (O(log n)
    rounds, each one keyed shuffle with map-side min-combine; lineage
    truncated per round).  cluster_id = minimum member = the canonical
    document.  The oracle computes the same components by recursive-CTE
    transitive closure — feasible only at fixture scale, which is the
    point of the distributed algorithm."""
    from ..operators.components import dup_clusters

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 100)
    pairs = dedup_mod.ngram_jaccard_pairs(docs, "doc_id", "text",
                                          n=1, threshold=0.8)
    return (dup_clusters(pairs.select("id_a", "id_b"))
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id"))
            .orderBy("doc_id"))


@x("x209_leakage_safe_split", """
WITH RECURSIVE w AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '')) AS ws
  FROM documents WHERE doc_id < 100
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM w a JOIN w b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.ws, b.ws))
        / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.8
), sym AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION SELECT id_b, id_a FROM p
), reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
), comp AS (
  SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
), cl AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
  LEFT JOIN comp c USING (doc_id)
), lab AS (
  SELECT doc_id, cluster_id,
         CASE WHEN bk < 3435973836 THEN 'train'
              WHEN bk < 3865470566 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, cluster_id,
               CAST(('0x' || substring(md5('split-' ||
                     CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) AS bk
        FROM cl)
), leak AS (
  SELECT COUNT(*) AS lp
  FROM p JOIN lab a ON p.id_a = a.doc_id
         JOIN lab b ON p.id_b = b.doc_id
  WHERE a.split <> b.split
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(leak.lp AS BIGINT) AS leak_pairs
FROM lab, leak GROUP BY split, leak.lp ORDER BY split""")
def x209(spark, sf):
    """Leakage-safe train/val/test split (r11): the split key is the
    NEAR-DUP CLUSTER id, so a near-copy pair can never straddle the
    eval boundary — contamination prevented by construction instead of
    screened after the fact (the complement of x49/x151).  The entry
    splits the x51 cluster assignment (audit-grade Jaccard pair graph,
    oracle-replayable by recursive closure) and SELF-GRADES: the
    ``leak_pairs`` column counts near-dup pairs whose endpoints landed
    in different splits — 0 by construction here, versus the nonzero
    count a doc-keyed split produces (pinned by the unit test).  At
    corpus scale the default path is
    ``sampling.leakage_safe_split`` over ``near_dup_clusters``
    (exact-collapse → MinHash-LSH → components — SCALE.md §8/§10);
    membership stays a pure md5 function of the cluster id, so an
    appended corpus re-derives the SAME split for existing clusters.
    operators/sampling.py::leakage_safe_split."""
    from ..operators.components import dup_clusters
    from ..operators.sampling import leakage_safe_split

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 100)
    pairs = dedup_mod.ngram_jaccard_pairs(docs, "doc_id", "text",
                                          n=1, threshold=0.8)
    comp = dup_clusters(pairs.select("id_a", "id_b"))
    clusters = (docs.select("doc_id")
                .join(comp, F.col("doc_id") == F.col("node"), "left")
                .select("doc_id", F.coalesce("component", "doc_id")
                        .alias("cluster_id")))
    lab = leakage_safe_split(docs, "doc_id", "text", clusters=clusters)
    la = lab.select(F.col("doc_id").alias("id_a"),
                    F.col("split").alias("__sa"))
    lb = lab.select(F.col("doc_id").alias("id_b"),
                    F.col("split").alias("__sb"))
    leaks = (pairs.join(la, "id_a").join(lb, "id_b")
             .filter(F.col("__sa") != F.col("__sb")).count())
    return (lab.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("cluster_id").cast("long")
                 .alias("n_clusters"))
            .withColumn("leak_pairs", F.lit(int(leaks)).cast("long"))
            .orderBy("split"))


@x("x52_tfidf_terms", """
WITH tok AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        FROM documents WHERE doc_id < 200)
  WHERE t <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n FROM documents WHERE doc_id < 200
), ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         ROUND(tf.tf * LN(CAST(n.n AS DOUBLE) / dfq.df), 4) AS score,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, dfq.df ASC, tf.term) AS rk
  FROM tf JOIN dfq USING (term) CROSS JOIN n
)
SELECT doc_id, rk, term, tf, df, score FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk""")
def x52(spark, sf):
    """TF-IDF top-3 terms per document.  Ranking is on the integer key
    (tf DESC, df ASC, term) so no float comparison decides order; the
    rounded float score is a value column only.  One (doc, term) count
    shuffle with map-side combine, a vocabulary-sized df re-agg, and the
    corpus size broadcast in as a 1-row cross join."""
    from ..operators.keywords import tf_idf_terms

    docs = load_docs(spark, sf).filter(F.col("doc_id") < 200)
    return tf_idf_terms(docs, "doc_id", "text", top_k=3).orderBy("doc_id", "rk")


@x("x53_bm25", """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents WHERE doc_id < 300
), stats AS (
  SELECT COUNT(*) AS n, AVG(len(ws)) AS avgdl FROM d
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
    SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM d
  ) WHERE term IN ('join', 'hash', 'scan') GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
)
SELECT tf.doc_id,
       ROUND(SUM( LN((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
                 * tf.tf * (1.2 + 1)
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl))),
             4) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id ORDER BY tf.doc_id""")
def x53(spark, sf):
    """Okapi BM25 retrieval scores for the query {join, hash, scan}.
    Non-matching tokens are filtered BEFORE the count shuffle; per-term
    document frequencies (3 rows) and corpus stats broadcast back, so the
    only full exchange is the (doc, term) partial count."""
    from ..operators.keywords import bm25_scores

    docs = load_docs(spark, sf).filter(F.col("doc_id") < 300)
    return (bm25_scores(docs, ["join", "hash", "scan"], "doc_id", "text")
            .orderBy("doc_id"))


@x("x54_vector_stats", """
SELECT vec_id,
       len(embedding) AS dim,
       ROUND(sqrt(list_reduce(list_transform(embedding,
                                             x -> CAST(x AS DOUBLE)
                                                  * CAST(x AS DOUBLE)),
                              (a, b) -> a + b)), 4) AS l2,
       ROUND(list_reduce(list_transform(embedding,
                                        x -> CAST(x AS DOUBLE)),
                         (a, b) -> a + b) / len(embedding), 4) AS mean,
       CAST(list_min(embedding) AS DOUBLE) AS vmin,
       CAST(list_max(embedding) AS DOUBLE) AS vmax
FROM embeddings WHERE vec_id < 400 ORDER BY vec_id""")
def x54(spark, sf):
    """Per-vector stats via higher-order array lambdas — dim, L2 norm,
    element mean/min/max — entirely JVM-side (transform/aggregate/
    array_min/array_max), no explode and no shuffle: a map-only plan
    whose only exchange is the final presentation sort.  Parity note:
    both engines fold the sum left-to-right in element order, so the
    rounded doubles hash-match despite float32 inputs."""
    emb = load(spark, sf, "embeddings").filter(F.col("vec_id") < 400)
    as_d = F.transform("embedding", lambda v: v.cast("double"))
    sq = F.transform("embedding",
                     lambda v: v.cast("double") * v.cast("double"))
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(fold(sq)), 4).alias("l2"),
        F.round(fold(as_d) / F.size("embedding"), 4).alias("mean"),
        F.array_min("embedding").cast("double").alias("vmin"),
        F.array_max("embedding").cast("double").alias("vmax"),
    ).orderBy("vec_id")


@x("x55_kmeans", None)
def x55(spark, sf):
    """Distributed k-means over the embeddings (k=8, 2 Lloyd passes):
    per-vector cluster + squared distance.  Centers ride in the UDF
    closure; each iteration is one map-only partial-sum pass (full
    vectors never shuffled).  No oracle (iterative/ML, sampled init —
    invariants covered by test_clustering.py), but graded IN-ENTRY
    against the hash-verified x108 twin (VERDICT r9): the constant
    ``inertia_ratio`` column is this fit's total within-cluster d²
    over the deterministic-trajectory fit's — ≈1 is the healthy state,
    a drift ≫1 makes a silent quality collapse driver-visible."""
    from ..operators.clustering import (_verifiable_fit, kmeans_assign,
                                        kmeans_inertia)

    emb = load_emb(spark, sf)
    assigned = kmeans_assign(emb, "vec_id", "embedding", k=8, iters=2)
    fast_inertia = kmeans_inertia(assigned)
    v, centers, d2s_expr = _verifiable_fit(emb, "vec_id", "embedding",
                                           8, 2, 6)
    ver_inertia = float(
        v.withColumn("__d2s", d2s_expr(centers))
         .agg(F.sum(F.expr("array_min(__d2s)"))).first()[0])
    ratio = round(fast_inertia / ver_inertia, 4) if ver_inertia else -1.0
    return (assigned.withColumn("inertia_ratio", F.lit(ratio))
                    .orderBy("vec_id"))


@x("x56_source_mixing", """
WITH b AS (
  SELECT source,
         CAST(('0x' || substring(md5('remix-' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) AS bk
  FROM documents
)
SELECT source, COUNT(*) AS n_kept FROM b
WHERE bk < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                        WHEN 'src2' THEN 0.25 ELSE 0.75 END) * 4294967296.0
GROUP BY source ORDER BY source""")
def x56(spark, sf):
    """Deterministic corpus re-weighting: per-source keep probabilities
    decided by the id hash (map-only CASE filter, no rand(), no shuffle,
    partitioning-independent).  Promoted to oracle-checked in r6 by
    keying on the portable md5 bucket (salt 'remix'); unlike x64 this
    exercises the ``default_weight`` path for unlisted sources."""
    from ..operators.sampling import mix_sources_md5

    docs = load(spark, sf, "documents")
    mixed = mix_sources_md5(docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25},
                            source_col="source", id_col="doc_id",
                            salt="remix", default_weight=0.75)
    return (mixed.groupBy("source")
                 .agg(F.count(F.lit(1)).alias("n_kept"))
                 .orderBy("source"))


def _x57_oracle() -> str:
    from ._shared import kmeans_cte_parts

    parts, d2 = kmeans_cte_parts(8, 2, 64)
    parts.append(f"""top2 AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM v CROSS JOIN c2 c) WHERE rn <= 2
)""")
    parts.append("""cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM top2 a JOIN top2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
)""")
    final = """SELECT id_a, id_b, cosine FROM (
  SELECT cand.id_a, cand.id_b,
         ROUND(list_sum(list_transform(list_zip(va.e, vb.e),
                                       x -> x[1]*x[2]))
               / (sqrt(list_sum(list_transform(va.e, x -> x*x)))
                  * sqrt(list_sum(list_transform(vb.e, x -> x*x)))),
               6) AS cosine
  FROM cand JOIN v va ON cand.id_a = va.vec_id
            JOIN v vb ON cand.id_b = vb.vec_id)
WHERE cosine >= 0.45 ORDER BY id_a, id_b"""
    return "WITH " + ",\n".join(parts) + "\n" + final


@x("x57_semantic_dedup", _x57_oracle())
def x57(spark, sf):
    """Semantic near-dup pairs via k-means blocking, hash-VERIFIED
    (promoted from rows-only in round 8): the deterministic-trajectory
    fit (x108 discipline) makes the 2-nearest-cell blocking replayable,
    and the cosine is the exact sequential-fold expression DuckDB
    reproduces bit-for-bit, so even the threshold comparison matches.
    The GEMM/applyInPandas variant (operators.clustering.
    semantic_dedup_pairs) remains the raw-throughput twin, covered by
    test_clustering.py against brute force."""
    from ..operators.clustering import semantic_dedup_pairs_verifiable

    emb = load_emb(spark, sf)
    return (semantic_dedup_pairs_verifiable(emb, "vec_id", "embedding",
                                            k=8, iters=2, threshold=0.45,
                                            probes=2)
            .orderBy("id_a", "id_b"))


def _x58_oracle() -> str:
    from ._shared import kmeans_cte_parts

    parts, d2 = kmeans_cte_parts(8, 2, 64)
    parts.append(f"""assign AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT v.vec_id, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM v CROSS JOIN c2 c) WHERE rn = 1
)""")
    final = """SELECT vec_id, cluster, d2, rnk FROM (
  SELECT vec_id, cid AS cluster, d2,
         CAST(row_number() OVER (PARTITION BY cid
                                 ORDER BY d2, vec_id) AS INT) AS rnk
  FROM assign)
WHERE rnk <= 10 ORDER BY cluster, rnk"""
    return "WITH " + ",\n".join(parts) + "\n" + final


@x("x58_coreset_sample", _x58_oracle())
def x58(spark, sf):
    """Diversity (coreset) sampling, hash-VERIFIED (promoted from
    rows-only in round 8): the 10 vectors nearest each of 8
    deterministic-trajectory k-means centers, quantized distances and
    id tie-breaks making rank and distance replayable value-for-value.
    The Arrow/NumPy cluster_coreset stays as the throughput twin."""
    from ..operators.clustering import cluster_coreset_verifiable

    emb = load_emb(spark, sf)
    return (cluster_coreset_verifiable(emb, per_cluster=10,
                                       id_col="vec_id",
                                       vec_col="embedding", k=8, iters=2)
            .orderBy("cluster", "rnk"))


@x("x59_split_md5", """
WITH b AS (
  SELECT source,
         CAST(('0x' || substring(md5('split-' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) AS bk
  FROM documents
)
SELECT CASE WHEN bk < 3435973836 THEN 'train'
            WHEN bk < 3865470566 THEN 'val'
            ELSE 'test' END AS split,
       source, COUNT(*) AS n
FROM b GROUP BY 1, 2 ORDER BY split, source""")
def x59(spark, sf):
    """Portable deterministic 3-way split (md5 bucket — any engine can
    recompute membership, unlike xxhash64's x38): per (split, source)
    counts, fully value-checked against the SQL oracle."""
    from ..operators import with_md5_split_label

    docs = load(spark, sf, "documents")
    return (with_md5_split_label(docs, "doc_id",
                                 {"train": 0.8, "val": 0.1, "test": 0.1})
            .groupBy("split", "source")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("split", "source"))


@x("x60_group_sample", """
WITH r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substring(
                     md5('sample-' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT), doc_id) AS rnk
  FROM documents
)
SELECT doc_id, lang, rnk FROM r WHERE rnk <= 20 ORDER BY lang, rnk""")
def x60(spark, sf):
    """Fixed-size-per-group deterministic sample: 20 docs per language,
    ranked by a portable md5 pseudo-random order (eval-set construction
    that any engine can audit row for row)."""
    from ..operators import deterministic_group_sample

    docs = load(spark, sf, "documents")
    return (deterministic_group_sample(docs, "lang", 20, "doc_id")
            .select("doc_id", "lang", "rnk")
            .orderBy("lang", "rnk"))


@x("x61_doc_frequency", """
WITH w AS (
  SELECT unnest(list_distinct(
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x <> ''))) AS word
  FROM documents
), t AS (SELECT COUNT(*) AS n FROM documents)
SELECT w.word, COUNT(*) AS df_count
FROM w, t GROUP BY w.word, t.n HAVING COUNT(*) > 0.05 * t.n
ORDER BY word""")
def x61(spark, sf):
    """Exact document-frequency heavy hitters (words in > 5% of docs) —
    stopword discovery / vocabulary pruning.  Per-doc array_distinct,
    explode, partial+final count, broadcast total; no driver action in
    the plan."""
    from ..operators import doc_frequency

    docs = load_docs(spark, sf)
    return (doc_frequency(docs, "text", min_fraction=0.05)
            .orderBy("word"))


@x("x62_minhash_md5", """
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
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       list_sum(list_transform(range(1, 17),
         i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0
         AS est_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE (list_slice(a.sg, 1, 4) = list_slice(b.sg, 1, 4)
    OR list_slice(a.sg, 5, 8) = list_slice(b.sg, 5, 8)
    OR list_slice(a.sg, 9, 12) = list_slice(b.sg, 9, 12)
    OR list_slice(a.sg, 13, 16) = list_slice(b.sg, 13, 16))
  AND list_sum(list_transform(range(1, 17),
        i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5
ORDER BY id_a, id_b""")
def x62(spark, sf):
    """MinHash-LSH near-dup pairs over the PORTABLE md5 hash family —
    the one MinHash variant whose signatures (and therefore candidate
    pairs AND estimated Jaccard values) an external SQL engine can
    recompute exactly.  Same banded pipeline as x04/x37; the oracle
    spells banding as pairwise band equality, which is identical up to
    negligible (~2^-64) bucket-hash collisions."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return (dedup_mod.minhash_near_dups_md5(docs, "doc_id", "text",
                                            num_hashes=16, bands=4,
                                            threshold=0.5)
            .orderBy("id_a", "id_b"))


@x("x63_top_bigrams", """
WITH ws AS (
  SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS w
  FROM documents
), bg AS (
  SELECT unnest(CASE WHEN length(w) >= 2
                     THEN list_transform(range(1, length(w)),
                                         i -> w[i] || ' ' || w[i + 1])
                     ELSE CAST([] AS VARCHAR[]) END) AS ngram
  FROM ws
)
SELECT ngram, COUNT(*) AS n_occ FROM bg GROUP BY ngram
ORDER BY n_occ DESC, ngram LIMIT 20""")
def x63(spark, sf):
    """Top-20 word bigrams (boilerplate / contamination screens):
    map-side n-gram generation in whole-stage codegen, explode, hash
    count, TakeOrdered top-k — no global vocabulary sort."""
    from ..operators import top_ngrams

    docs = load_docs(spark, sf)
    return top_ngrams(docs, "text", n=2, k=20).orderBy(
        F.col("n_occ").desc(), F.col("ngram").asc())


@x("x64_mix_md5", """
WITH b AS (
  SELECT source,
         CAST(('0x' || substring(md5('mix-' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) AS bk
  FROM documents
)
SELECT source, COUNT(*) AS n FROM b
WHERE bk < (CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5
                        WHEN 'src2' THEN 0.0 ELSE 1.0 END) * 4294967296.0
GROUP BY source ORDER BY source""")
def x64(spark, sf):
    """Portable deterministic corpus mixing (md5 keep/drop): per-source
    kept counts, fully value-checked — the auditable sibling of x56's
    xxhash64 mixing."""
    from ..operators import mix_sources_md5

    docs = load(spark, sf, "documents")
    kept = mix_sources_md5(docs, {"src0": 0.25, "src1": 0.5, "src2": 0.0})
    return (kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
                .orderBy("source"))


@x("x65_upsample", """
WITH w AS (
  SELECT doc_id, source,
         CAST(('0x' || substring(
               md5('upsample-' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS bk,
         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
                     ELSE 1.0 END AS wt
  FROM documents
), n AS (
  SELECT doc_id, source,
         CAST(FLOOR(wt) AS BIGINT)
         + CASE WHEN bk < (wt - FLOOR(wt)) * 4294967296.0
                THEN 1 ELSE 0 END AS n_copies
  FROM w
)
SELECT doc_id, source,
       unnest(range(0, CAST(n_copies AS INTEGER))) AS copy_idx
FROM n WHERE n_copies > 0 ORDER BY doc_id, copy_idx""")
def x65(spark, sf):
    """Deterministic upsampling (weights > 1 → row replication with a
    copy index; the fractional copy decided by the portable md5 bucket).
    Map-only explode in codegen, reproducible epoch over epoch; the
    oracle re-derives every replica row."""
    from ..operators import upsample_sources

    docs = load(spark, sf, "documents")
    out = upsample_sources(docs, {"src0": 2.5, "src1": 0.4})
    return (out.select("doc_id", "source",
                       F.col("copy_idx").cast("long").alias("copy_idx"))
               .orderBy("doc_id", "copy_idx"))


# ---------------------------------------------------------------------------
# Curriculum / corpus ordering (operators/curriculum.py) — each op is a pure
# function of the data keyed on portable md5 buckets, so the oracle re-derives
# every position/cutoff in SQL.

@x("x66_epoch_shuffle", """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5('epoch-1-' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) AS bk
  FROM documents
)
SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bk, doc_id) - 1 AS position
FROM b ORDER BY position""")
def x66(spark, sf):
    """Deterministic per-epoch global shuffle: every doc gets a position
    0..n-1 ordered by md5(epoch-key).  Spark side is the distributed
    prefix sum of curriculum._global_position (range partition + local
    row_number + driver-side partition offsets — never a one-partition
    Window.orderBy); the oracle spells the same total order as a plain
    window."""
    from ..operators import curriculum

    docs = load(spark, sf, "documents")
    out = curriculum.epoch_shuffle(docs, "doc_id", epoch=1)
    return out.select("doc_id", "position").orderBy("position")


@x("x67_interleave_sources", """
WITH b AS (
  SELECT doc_id, source,
         CAST(('0x' || substring(md5('epoch-0-' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) AS bk
  FROM documents
), r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY bk, doc_id) AS rnd
  FROM b
)
SELECT doc_id, source,
       ROW_NUMBER() OVER (ORDER BY rnd, source, doc_id) - 1 AS position
FROM r ORDER BY position""")
def x67(spark, sf):
    """Round-robin source interleaving: the k-th doc of each source lands
    in the k-th block of the epoch, so the training stream never sees a
    long run of one source.  Global positions via the same distributed
    prefix sum as x66."""
    from ..operators import curriculum

    docs = load(spark, sf, "documents")
    out = curriculum.interleave_sources(docs, "source", "doc_id", epoch=0)
    return out.select("doc_id", "source", "position").orderBy("position")


@x("x68_token_budget", """
WITH w AS (
  SELECT doc_id, source, n_chars,
         CAST(('0x' || substring(md5('budget-' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) AS bk
  FROM documents
), c AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY bk, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM w
)
SELECT doc_id, source, n_chars, CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum <= 60000 ORDER BY source, cum_tokens""")
def x68(spark, sf):
    """Per-source token-budget prefix ("N tokens per domain"): docs are
    ordered by their md5 bucket (an unbiased deterministic sample) and
    kept while the running n_chars total stays within budget.  One hash
    exchange on source + a window.  Oracle CASTs the DuckDB HUGEINT
    window sum back to BIGINT (the x28 lesson)."""
    from ..operators import curriculum

    docs = load(spark, sf, "documents")
    out = curriculum.token_budget_sample(docs, 60000, token_col="n_chars",
                                         group_col="source",
                                         key_col="doc_id", salt="budget")
    return (out.select("doc_id", "source", "n_chars", "cum_tokens")
               .orderBy("source", "cum_tokens"))


@x("x69_quality_percentile", """
WITH r AS (
  SELECT doc_id, lang, n_chars,
         PERCENT_RANK() OVER (PARTITION BY lang
                              ORDER BY n_chars DESC, doc_id) AS pct
  FROM documents
)
SELECT doc_id, lang, n_chars, CAST(ROUND(pct, 6) AS DOUBLE) AS pctile
FROM r WHERE pct <= 0.5 ORDER BY lang, pctile, doc_id""")
def x69(spark, sf):
    """Keep the top half of each language by length — per-group percentile
    cutoffs, so low-resource languages are not wiped out by a global
    threshold.  percent_rank is (rank-1)/(n-1) in double on both engines;
    output rounded to 6 for hash stability."""
    from ..operators import curriculum

    docs = load(spark, sf, "documents")
    out = curriculum.quality_percentile_filter(docs, "n_chars",
                                               keep_top=0.5,
                                               group_col="lang",
                                               key_col="doc_id")
    return (out.select("doc_id", "lang", "n_chars",
                       F.round("pctile", 6).cast("double").alias("pctile"))
               .orderBy("lang", "pctile", "doc_id"))


# ---------------------------------------------------------------------------
# Event analytics (operators/events.py) — per-user features, funnels, cohort
# retention over the events fixture.

@x("x70_user_features", """
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       CAST(ROUND(SUM(value), 3) AS DOUBLE) AS sum_value,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       date_diff('second', MIN(ts), MAX(ts)) AS span_s
FROM events GROUP BY user_id ORDER BY user_id""")
def x70(spark, sf):
    """Per-user feature vector (volume, breadth, value moments, lifetime
    span) in one partial-aggregating hash exchange on user_id.  sum_value
    rounded to 3: double addition order differs across engines."""
    from ..operators import events as events_mod

    ev = load(spark, sf, "events")
    out = events_mod.user_features(ev)
    return (out.withColumn("sum_value",
                           F.round("sum_value", 3).cast("double"))
               .orderBy("user_id"))


@x("x71_funnel", """
WITH a AS (
  SELECT user_id, MIN(ts) AS ts_a FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), j AS (
  SELECT a.user_id, a.ts_a, MIN(b.ts) AS ts_b
  FROM a LEFT JOIN events b
    ON b.user_id = a.user_id AND b.event_type = 'purchase'
   AND b.ts > a.ts_a
   AND date_diff('second', a.ts_a, b.ts) <= 86400
  GROUP BY a.user_id, a.ts_a
)
SELECT user_id, ts_a, ts_b,
       CAST(CASE WHEN ts_b IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         AS converted,
       date_diff('second', ts_a, ts_b) AS delay_s
FROM j ORDER BY user_id""")
def x71(spark, sf):
    """Two-step signup→purchase funnel within 24h: both sides reduce to
    one row per user BEFORE the join (min-ts aggregates), so the join is
    1:1 on user_id — never event×event."""
    from ..operators import events as events_mod

    ev = load(spark, sf, "events")
    out = events_mod.funnel(ev, "signup", "purchase", within_s=86400)
    return (out.select("user_id", "ts_a", "ts_b",
                       F.col("converted").cast("int").alias("converted"),
                       F.col("delay_s").cast("long").alias("delay_s"))
               .orderBy("user_id"))


@x("x72_retention_cohorts", """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), fst AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, d.day) AS INTEGER) AS day_offset,
       COUNT(DISTINCT d.user_id) AS n_users
FROM days d JOIN fst f USING (user_id)
WHERE date_diff('day', f.cohort_day, d.day) <= 14
GROUP BY 1, 2 ORDER BY 1, 2""")
def x72(spark, sf):
    """Cohort retention: users grouped by first active day, counted on
    each later day they return (offsets 0..14).  Two aggregations, both
    partial+final on user/cohort keys."""
    from ..operators import events as events_mod

    ev = load(spark, sf, "events")
    out = events_mod.retention_cohorts(ev, max_offset_days=14)
    return (out.withColumn("day_offset",
                           F.col("day_offset").cast("int"))
               .orderBy("cohort_day", "day_offset"))




@x("x182_dsir_sampling", """
WITH tok AS (
  SELECT doc_id, lang,
         CAST(('0x' || substring(md5('dsir-' || w), 1, 8)) AS BIGINT)
           % 1024 AS b
  FROM (SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents)
), tgt_total AS (
  SELECT COUNT(*) AS t FROM tok WHERE lang = 'en'
), src_total AS (
  SELECT COUNT(*) AS t FROM tok
), tgt_p AS (
  SELECT b, ln((COUNT(*) + 1) / CAST((SELECT t FROM tgt_total) + 1024
                                     AS DOUBLE)) AS lt
  FROM tok WHERE lang = 'en' GROUP BY b
), src_p AS (
  SELECT b, ln((COUNT(*) + 1) / CAST((SELECT t FROM src_total) + 1024
                                     AS DOUBLE)) AS ls
  FROM tok GROUP BY b
), ratio AS (
  SELECT COALESCE(tgt_p.b, src_p.b) AS b,
         COALESCE(lt, ln(1.0 / ((SELECT t FROM tgt_total) + 1024)))
         - COALESCE(ls, ln(1.0 / ((SELECT t FROM src_total) + 1024)))
           AS r
  FROM tgt_p FULL JOIN src_p ON tgt_p.b = src_p.b
), w AS (
  SELECT tok.doc_id, SUM(COALESCE(ratio.r, 0.0)) AS logw
  FROM tok LEFT JOIN ratio ON tok.b = ratio.b
  GROUP BY tok.doc_id
), scored AS (
  SELECT doc_id,
         ROUND(logw + (-ln(-ln(
           (CAST(('0x' || substring(md5('dsirg-' || doc_id), 1, 8))
                 AS BIGINT) + 0.5) / 4294967296.0))), 9) AS score
  FROM w
), sel AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rn
  FROM scored
)
SELECT sel.doc_id, d.lang, sel.score
FROM sel JOIN documents d ON sel.doc_id = d.doc_id
WHERE rn <= 100 ORDER BY sel.doc_id""")
def x182(spark, sf):
    """DSIR data selection (Xie et al. 2023): resample the 100 pool
    documents most like the English target slice, by hashed-unigram
    log importance ratio + deterministic Gumbel-top-k — the modern
    what-to-train-on selector, spelled so the SELECTION ITSELF is
    value-checked (md5 feature buckets and Gumbel uniforms; scores
    rounded to 9 dp before ranking so cross-engine libm noise cannot
    flip ranks, ties by doc id).  Plans: two bounded profile
    aggregations broadcast back onto tokens, one map-combined per-doc
    sum, TakeOrderedAndProject for the top-k."""
    from ..operators.sampling import dsir_log_weights, gumbel_topk

    docs = load_docs(spark, sf)
    target = docs.filter(F.col("lang") == "en")
    weighted = dsir_log_weights(docs, target, "doc_id", "text",
                                n_buckets=1024)
    sel = gumbel_topk(weighted, "doc_id", "logw", k=100)
    return (sel.join(docs.select("doc_id", "lang"), "doc_id")
               .select("doc_id", "lang", "score")
               .orderBy("doc_id"))


@x("x198_temperature_mix", """
WITH n AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), r AS (
  SELECT lang, n,
         ROUND(LEAST(1.0, 250 * POWER(n, -0.5)
                          / SUM(POWER(n, 0.5)) OVER ()), 9) AS rate
  FROM n
), kept AS (
  SELECT d.lang, COUNT(*) AS n_kept
  FROM documents d JOIN r ON d.lang = r.lang
  WHERE CAST(('0x' || substring(md5('mix-' || CAST(doc_id AS VARCHAR)),
                                1, 8)) AS BIGINT)
        < r.rate * 4294967296.0
  GROUP BY d.lang
)
SELECT r.lang AS lang, r.n, r.rate, COALESCE(kept.n_kept, 0) AS n_kept
FROM r LEFT JOIN kept ON r.lang = kept.lang
ORDER BY r.lang""")
def x198(spark, sf):
    """Temperature sampling (τ=0.5, 250-row budget) over the language
    distribution — the multilingual mixing rule: rare languages keep a
    HIGHER fraction than English (n_s^(τ−1) rates), realized through
    the portable md5 keep-set so membership is auditable in any
    engine.  Output: per-lang corpus count, derived rate, kept count;
    the oracle re-derives the rates (POWER spelling shared with the
    operator) and the exact keep decisions."""
    from ..operators.sampling import mix_sources_md5, temperature_rates

    docs = load(spark, sf, "documents")
    rates = temperature_rates(docs, "lang", tau=0.5, budget_rows=250)
    kept = (mix_sources_md5(docs, rates, source_col="lang")
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")))
    base = (docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")))
    rate_col = F.lit(None).cast("double")
    for s, r in sorted(rates.items()):
        rate_col = F.when(F.col("lang") == s, F.lit(r)) \
                    .otherwise(rate_col)
    return (base.withColumn("rate", rate_col)
                .join(kept, "lang", "left")
                .select("lang", "n", "rate",
                        F.coalesce("n_kept", F.lit(0)).alias("n_kept"))
                .orderBy("lang"))


@x("x199_split_leakage", """
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
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         list_sum(list_transform(range(1, 17),
           i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0
           AS est_jaccard
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE (list_slice(a.sg, 1, 4) = list_slice(b.sg, 1, 4)
      OR list_slice(a.sg, 5, 8) = list_slice(b.sg, 5, 8)
      OR list_slice(a.sg, 9, 12) = list_slice(b.sg, 9, 12)
      OR list_slice(a.sg, 13, 16) = list_slice(b.sg, 13, 16))
    AND list_sum(list_transform(range(1, 17),
          i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0
        >= 0.5
), sp AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || substring(
                  md5('holdout-' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) < 3865470566
              THEN 'train' ELSE 'test' END AS split
  FROM d
)
SELECT p.id_a, p.id_b, p.est_jaccard,
       sa.split AS split_a, sb.split AS split_b,
       (sa.split <> sb.split) AS crosses
FROM pairs p JOIN sp sa ON p.id_a = sa.doc_id
             JOIN sp sb ON p.id_b = sb.doc_id
ORDER BY id_a, id_b""")
def x199(spark, sf):
    """Split-leakage audit: every md5-MinHash near-dup pair labeled
    with both members' train/test membership (the x38 holdout split) —
    pairs with ``crosses = true`` are evaluation contamination that
    survives EXACT dedup (near-copies landing on opposite sides of the
    split).  Composes the two oracle-checked primitives (x62 pairs,
    x38 split) so the entire audit replays value-for-value; at corpus
    scale the pair table is the already-sub-quadratic LSH output and
    the labels are two map-side joins."""
    from ..operators import with_md5_split_label

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 300)
    pairs = dedup_mod.minhash_near_dups_md5(docs, "doc_id", "text",
                                            num_hashes=16, bands=4,
                                            threshold=0.5)
    sp = with_md5_split_label(docs, "doc_id",
                              {"train": 0.9, "test": 0.1},
                              salt="holdout").select("doc_id", "split")
    sa = sp.select(F.col("doc_id").alias("id_a"),
                   F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("id_b"),
                   F.col("split").alias("split_b"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
                 .select("id_a", "id_b", "est_jaccard",
                         "split_a", "split_b",
                         (F.col("split_a") != F.col("split_b"))
                          .alias("crosses"))
                 .orderBy("id_a", "id_b"))


def _x217_oracle() -> str:
    from ._shared import kmeans_cte_parts

    parts, d2 = kmeans_cte_parts(8, 2, 64)
    parts.append(f"""top2 AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM v CROSS JOIN c2 c) WHERE rn <= 2
)""")
    parts.append("""cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM top2 a JOIN top2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
)""")
    parts.append("""p AS (
  SELECT id_a, id_b FROM (
    SELECT cand.id_a, cand.id_b,
           ROUND(list_sum(list_transform(list_zip(va.e, vb.e),
                                         x -> x[1]*x[2]))
                 / (sqrt(list_sum(list_transform(va.e, x -> x*x)))
                    * sqrt(list_sum(list_transform(vb.e, x -> x*x)))),
                 6) AS cosine
    FROM cand JOIN v va ON cand.id_a = va.vec_id
              JOIN v vb ON cand.id_b = vb.vec_id)
  WHERE cosine >= 0.45
)""")
    parts.append("""sym AS (
  SELECT id_a AS u, id_b AS w FROM p
  UNION SELECT id_b, id_a FROM p
), reach(u, w) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT r.u, s.w FROM reach r JOIN sym s ON r.w = s.u
), comp AS (
  SELECT u AS node, MIN(w) AS component FROM reach GROUP BY u
)""")
    parts.append(f"""assign AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT v.vec_id, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM v CROSS JOIN c2 c) WHERE rn = 1
)""")
    final = """SELECT vec_id, cluster, d2, group_id,
       row_number() OVER (PARTITION BY group_id
                          ORDER BY d2 DESC, vec_id) = 1 AS keep
FROM (
  SELECT a.vec_id, CAST(a.cid AS INT) AS cluster, a.d2,
         COALESCE(c.component, a.vec_id) AS group_id
  FROM assign a LEFT JOIN comp c ON a.vec_id = c.node)
ORDER BY vec_id"""
    return "WITH RECURSIVE " + ",\n".join(parts) + "\n" + final


@x("x217_semdedup", _x217_oracle())
def x217(spark, sf):
    """SemDeDup (Abbas et al. 2023) as a hash-verified ACTION (r13):
    semantic-duplicate groups from the x57 pair stage (deterministic
    Lloyd trajectory, 2-cell blocking, exact-fold cosines), one
    survivor per group by the paper's keep rule — farthest from its
    cluster centroid, ties by id.  One fit feeds both the pairs and
    the keep rule; the oracle replays the full trajectory, the
    transitive closure (recursive CTE) and the keep window.
    operators/clustering.py::semdedup."""
    from ..operators.clustering import semdedup

    emb = load_emb(spark, sf)
    return (semdedup(emb, "vec_id", "embedding", k=8, iters=2,
                     threshold=0.45, probes=2)
            .orderBy("vec_id"))
