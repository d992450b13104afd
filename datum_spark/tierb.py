"""Tier-B conformance suite: the 31 declared t2 queries (SURVEY §2-B.1).

Each entry pairs a DataFrame-API builder (the Spark-first implementation of
the operator under test) with the ANSI-SQL oracle text DuckDB runs on the
same parquet.  Column names/aliases match EXACTLY on both sides — the
driver's compare sorts columns by name before hashing values.

Determinism rules baked into every query (SURVEY §7 "what's hard" #1):
total ORDER BY, doubles rounded, BIGINT casts where engines' return types
diverge (FLOOR/CEIL/EXTRACT), UTC session timezone, explicit COALESCE for
null-producing joins.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources.registry import read_parquet_normalized


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fixture table's scan.  The driver and bench run ~190 queries
    against the same handful of parquet fixtures: the scan memo in
    ``sources.registry`` hands every one the same resolved plan, where a
    fresh read would re-probe the footers and re-list the files — a
    fixed ~0.1-0.3 s plan-build tax per query (BASELINE.md §5)."""
    return read_parquet_normalized(spark, f"{sf_dir}/{name}.parquet")


# registry: name -> (spark_builder, oracle_sql or None)
QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn
    return deco


# ---------------------------------------------------------------------------
# Q01 scan + count

@q("q01_count", "SELECT COUNT(*) AS n FROM lineitem")
def q01(spark, sf):
    return load(spark, sf, "lineitem").agg(F.count(F.lit(1)).alias("n"))


# Q02 project + alias + computed expression
@q("q02_project", """
SELECT l_orderkey AS ok, l_linenumber AS ln,
       ROUND(l_extendedprice * (1 - l_discount), 4) AS net
FROM lineitem ORDER BY ok, ln, net LIMIT 1000""")
def q02(spark, sf):
    li = load(spark, sf, "lineitem")
    return (li.select(
                F.col("l_orderkey").alias("ok"),
                F.col("l_linenumber").alias("ln"),
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
                 .alias("net"))
              # (l_orderkey, l_linenumber) is NOT unique in the fixture —
              # the ORDER BY must be total for a deterministic LIMIT
              .orderBy("ok", "ln", "net").limit(1000))


# Q03 predicates: BETWEEN / IN / >= timestamp / IS NOT NULL
@q("q03_predicates", """
SELECT l_orderkey, l_linenumber FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A','R')
  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_tax IS NOT NULL
ORDER BY l_orderkey, l_linenumber""")
def q03(spark, sf):
    li = load(spark, sf, "lineitem")
    return (li.filter(F.col("l_quantity").between(10, 20)
                      & F.col("l_returnflag").isin("A", "R")
                      & (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00")
                         .cast("timestamp"))
                      & F.col("l_tax").isNotNull())
              .select("l_orderkey", "l_linenumber")
              .orderBy("l_orderkey", "l_linenumber"))


# Q04 inner equi-join (dim side broadcast by Catalyst/AQE)
@q("q04_inner_join", """
SELECT c.c_custkey, COUNT(*) AS n FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey ORDER BY n DESC, c.c_custkey LIMIT 100""")
def q04(spark, sf):
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "inner")
             .groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.col("n").desc(), F.col("c_custkey")).limit(100))


# Q05 left outer join (null-producing side made deterministic via COALESCE)
@q("q05_left_join", """
SELECT c.c_custkey, COALESCE(o.o_orderkey, -1) AS ok
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
ORDER BY c.c_custkey, ok LIMIT 1000""")
def q05(spark, sf):
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
             .select("c_custkey", F.coalesce("o_orderkey", F.lit(-1)).alias("ok"))
             .orderBy("c_custkey", "ok").limit(1000))


# Q06 left semi (EXISTS)
@q("q06_semi_join", """
SELECT c_custkey FROM customer c WHERE EXISTS
 (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey""")
def q06(spark, sf):
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .select("c_custkey").orderBy("c_custkey"))


# Q07 left anti (NOT EXISTS)
@q("q07_anti_join", """
SELECT c_custkey FROM customer c WHERE NOT EXISTS
 (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey""")
def q07(spark, sf):
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey").orderBy("c_custkey"))


# Q08 cross join (small × small only — guarded use at scale)
@q("q08_cross_join", """
SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
ORDER BY r.r_name, n.n_name""")
def q08(spark, sf):
    r = load(spark, sf, "region")
    n = load(spark, sf, "nation")
    return (r.crossJoin(n).select("r_name", "n_name")
             .orderBy("r_name", "n_name"))


# Q09 theta join (non-equi component on acctbal; equi on nationkey keeps it
# hash-joinable — the non-equi predicate becomes a post-join filter)
@q("q09_theta_join", """
SELECT s.s_suppkey, c.c_custkey FROM supplier s JOIN customer c
ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
ORDER BY s.s_suppkey, c.c_custkey LIMIT 1000""")
def q09(spark, sf):
    s = load(spark, sf, "supplier")
    c = load(spark, sf, "customer")
    return (s.join(c, (s.s_nationkey == c.c_nationkey)
                   & (s.s_acctbal > c.c_acctbal))
             .select("s_suppkey", "c_custkey")
             .orderBy("s_suppkey", "c_custkey").limit(1000))


# Q10 multi-way star join (TPC-H Q5 skeleton) — the flagship
@q("q10_star_join", """
SELECT n.n_name, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' GROUP BY n.n_name ORDER BY rev DESC, n.n_name""")
def q10(spark, sf):
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    # dims broadcast explicitly — at 100 TB the fact side never shuffles
    # for these joins; only the groupBy aggregates move.
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
              .groupBy("n_name")
              .agg(F.round(F.sum(F.col("l_extendedprice")
                                 * (1 - F.col("l_discount"))), 2).alias("rev"))
              .orderBy(F.col("rev").desc(), F.col("n_name")))


# Q11 as-of style interval predicate (equi + range → hash join + filter)
@q("q11_interval_join", """
SELECT o.o_orderkey, COUNT(*) AS n_ship_after
FROM orders o JOIN lineitem l
ON l.l_orderkey = o.o_orderkey AND l.l_shipdate >= o.o_orderdate
GROUP BY o.o_orderkey ORDER BY o.o_orderkey LIMIT 1000""")
def q11(spark, sf):
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    return (o.join(li, (li.l_orderkey == o.o_orderkey)
                   & (li.l_shipdate >= o.o_orderdate))
             .groupBy("o_orderkey")
             .agg(F.count(F.lit(1)).alias("n_ship_after"))
             .orderBy("o_orderkey").limit(1000))


# Q12 group-by agg (TPC-H Q1 shape; partial agg map-side automatically)
@q("q12_groupby_agg", """
SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) AS sum_qty,
       ROUND(SUM(l_extendedprice),2) AS sum_base,
       ROUND(AVG(l_discount),4) AS avg_disc, COUNT(*) AS cnt
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""")
def q12(spark, sf):
    li = load(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                   F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
                   F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                   F.count(F.lit(1)).alias("cnt"))
              .orderBy("l_returnflag", "l_linestatus"))


# Q13 COUNT(DISTINCT)
@q("q13_count_distinct", """
SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS u
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
def q13(spark, sf):
    o = load(spark, sf, "orders")
    return (o.groupBy("o_orderpriority")
             .agg(F.countDistinct("o_custkey").alias("u"))
             .orderBy("o_orderpriority"))


# Q14 ROLLUP
@q("q14_rollup", """
SELECT COALESCE(l_returnflag,'ALL') AS rf, COALESCE(l_linestatus,'ALL') AS ls,
       COUNT(*) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY rf, ls""")
def q14(spark, sf):
    li = load(spark, sf, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("n"))
              .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                      F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                      "n")
              .orderBy("rf", "ls"))


# Q15 HAVING
@q("q15_having", """
SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
HAVING COUNT(*) >= 5 ORDER BY n DESC, o_custkey""")
def q15(spark, sf):
    o = load(spark, sf, "orders")
    return (o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") >= 5)
             .orderBy(F.col("n").desc(), "o_custkey"))


# Q16 exact median
@q("q16_median", """
SELECT l_returnflag, ROUND(MEDIAN(l_quantity),1) AS med
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
def q16(spark, sf):
    li = load(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
              .agg(F.round(F.median("l_quantity"), 1).alias("med"))
              .orderBy("l_returnflag"))


# Q17 ranking window (top-k per group)
@q("q17_rank_window", """
SELECT c_mktsegment, c_custkey, rnk FROM (
 SELECT c_mktsegment, c_custkey,
        ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal DESC, c_custkey) AS rnk
 FROM customer) t WHERE rnk <= 5 ORDER BY c_mktsegment, rnk""")
def q17(spark, sf):
    c = load(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (c.withColumn("rnk", F.row_number().over(w))
             .filter(F.col("rnk") <= 5)
             .select("c_mktsegment", "c_custkey", "rnk")
             .orderBy("c_mktsegment", "rnk"))


# Q18 lag/lead analytic window
@q("q18_lag", """
SELECT o_custkey, o_orderkey,
       LAG(o_orderkey) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS prev_ok
FROM orders ORDER BY o_custkey, o_orderkey LIMIT 1000""")
def q18(spark, sf):
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (o.select("o_custkey", "o_orderkey",
                     F.lag("o_orderkey").over(w).alias("prev_ok"))
             .orderBy("o_custkey", "o_orderkey").limit(1000))


# Q19 running-sum frame
@q("q19_running_sum", """
SELECT l_orderkey, l_linenumber,
       ROUND(SUM(l_quantity) OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_quantity
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS run_qty
FROM lineitem ORDER BY l_orderkey, l_linenumber, run_qty LIMIT 1000""")
def q19(spark, sf):
    li = load(spark, sf, "lineitem")
    # (l_orderkey, l_linenumber) is not unique → the frame order needs the
    # quantity tiebreak or the running sums are accumulation-order dependent
    w = (Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (li.select("l_orderkey", "l_linenumber",
                      F.round(F.sum("l_quantity").over(w), 2).alias("run_qty"))
              .orderBy("l_orderkey", "l_linenumber", "run_qty").limit(1000))


# Q20 multi-key sort + limit (plans as TakeOrderedAndProject — no full sort)
@q("q20_topk", """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""")
def q20(spark, sf):
    o = load(spark, sf, "orders")
    return (o.select("o_orderkey", "o_totalprice")
             .orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(50))


# Q21 INTERSECT
@q("q21_intersect", """
SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier
ORDER BY k""")
def q21(spark, sf):
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("k"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s).orderBy("k")


# Q22 DISTINCT
@q("q22_distinct", """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
ORDER BY o_orderstatus, o_orderpriority""")
def q22(spark, sf):
    o = load(spark, sf, "orders")
    return (o.select("o_orderstatus", "o_orderpriority").distinct()
             .orderBy("o_orderstatus", "o_orderpriority"))


# Q23 scalar subquery (decorrelated: agg broadcast-joined, no collect)
@q("q23_scalar_subquery", """
SELECT c_custkey FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
ORDER BY c_custkey""")
def q23(spark, sf):
    c = load(spark, sf, "customer")
    avg = c.agg(F.avg("c_acctbal").alias("__avg"))
    return (c.join(F.broadcast(avg))
             .filter(F.col("c_acctbal") > F.col("__avg"))
             .select("c_custkey").orderBy("c_custkey"))


# Q24 CTE
@q("q24_cte", """
WITH big AS (SELECT o_custkey, SUM(o_totalprice) AS s FROM orders
             GROUP BY o_custkey)
SELECT c.c_name, ROUND(b.s,2) AS s FROM big b JOIN customer c
ON c.c_custkey = b.o_custkey ORDER BY s DESC, c.c_name LIMIT 100""")
def q24(spark, sf):
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    big = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("__s"))
    return (big.join(c, big.o_custkey == c.c_custkey)
               .select("c_name", F.round(F.col("__s"), 2).alias("s"))
               .orderBy(F.col("s").desc(), "c_name").limit(100))


# Q25 string functions
@q("q25_string_fns", """
SELECT c_custkey, UPPER(c_name) AS u, LENGTH(c_name) AS l,
       SUBSTR(c_name, 1, 8) AS pre, REPLACE(c_mktsegment,'A','_') AS r
FROM customer ORDER BY c_custkey LIMIT 500""")
def q25(spark, sf):
    c = load(spark, sf, "customer")
    return (c.select("c_custkey",
                     F.upper("c_name").alias("u"),
                     F.length("c_name").cast("long").alias("l"),
                     F.substring("c_name", 1, 8).alias("pre"),
                     F.replace(F.col("c_mktsegment"), F.lit("A"),
                               F.lit("_")).alias("r"))
             .orderBy("c_custkey").limit(500))


# Q26 date functions (BIGINT casts: Spark year() is INT, DuckDB EXTRACT is BIGINT)
@q("q26_date_fns", """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m
FROM orders ORDER BY o_orderkey LIMIT 1000""")
def q26(spark, sf):
    o = load(spark, sf, "orders")
    return (o.select("o_orderkey",
                     F.col("o_orderdate").cast("date").alias("d"),
                     F.year("o_orderdate").cast("long").alias("y"),
                     F.month("o_orderdate").cast("long").alias("m"))
             .orderBy("o_orderkey").limit(1000))


# Q27 math functions (BIGINT casts for FLOOR/CEIL/MOD parity)
@q("q27_math_fns", """
SELECT l_orderkey, l_linenumber, ROUND(ABS(l_discount - l_tax),4) AS a,
       CAST(FLOOR(l_quantity) AS BIGINT) AS f,
       CAST(CEIL(l_extendedprice / 1000.0) AS BIGINT) AS c,
       CAST(MOD(CAST(l_quantity AS BIGINT), 7) AS BIGINT) AS m
FROM lineitem ORDER BY l_orderkey, l_linenumber, a, f, c, m LIMIT 1000""")
def q27(spark, sf):
    li = load(spark, sf, "lineitem")
    return (li.select(
                "l_orderkey", "l_linenumber",
                F.round(F.abs(F.col("l_discount") - F.col("l_tax")), 4).alias("a"),
                F.floor("l_quantity").cast("long").alias("f"),
                F.ceil(F.col("l_extendedprice") / 1000.0).cast("long").alias("c"),
                (F.col("l_quantity").cast("long") % 7).cast("long").alias("m"))
              .orderBy("l_orderkey", "l_linenumber", "a", "f", "c", "m")
              .limit(1000))


# Q28 CASE / conditional
@q("q28_case", """
SELECT o_orderkey, CASE WHEN o_totalprice > 200000 THEN 'big'
       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket
FROM orders ORDER BY o_orderkey LIMIT 1000""")
def q28(spark, sf):
    o = load(spark, sf, "orders")
    bucket = (F.when(F.col("o_totalprice") > 200000, "big")
               .when(F.col("o_totalprice") > 100000, "mid")
               .otherwise("small"))
    return (o.select("o_orderkey", bucket.alias("bucket"))
             .orderBy("o_orderkey").limit(1000))


# Q29 casts
# double→BIGINT cast truncates toward zero in Spark but rounds in DuckDB;
# the oracle spells the truncation explicitly (same operator intent)
@q("q29_casts", """
SELECT c_custkey, CAST(trunc(c_acctbal) AS BIGINT) AS b,
       CAST(c_custkey AS VARCHAR) AS s FROM customer ORDER BY c_custkey""")
def q29(spark, sf):
    c = load(spark, sf, "customer")
    return (c.select("c_custkey",
                     F.col("c_acctbal").cast("long").alias("b"),
                     F.col("c_custkey").cast("string").alias("s"))
             .orderBy("c_custkey"))


# Q30 JSON extraction (per-engine function spelling, same semantics)
@q("q30_json", """
SELECT event_id, json_extract_string(props, '$.k') AS k FROM events
ORDER BY event_id LIMIT 1000""")
def q30(spark, sf):
    e = load(spark, sf, "events")
    return (e.select("event_id",
                     F.get_json_object("props", "$.k").alias("k"))
             .orderBy("event_id").limit(1000))


# Q31 tumbling-window agg, batch form (streaming variant in streaming/windows)
@q("q31_window_agg", """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type, COUNT(*) AS n,
       ROUND(SUM(value),3) AS sv
FROM events GROUP BY 1, 2 ORDER BY h, event_type""")
def q31(spark, sf):
    e = load(spark, sf, "events")
    return (e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("value"), 3).alias("sv"))
             .orderBy("h", "event_type"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: " ".join(sql.split())
            for name, (_, sql) in QUERIES.items() if sql is not None}


@q("q32_recursive_spine", """
WITH RECURSIVE spine(m) AS (
  SELECT DATE '1992-01-01'
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
  WHERE m < DATE '1998-12-01'
), mo AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT s.m AS month,
       CAST(COALESCE(mo.n_orders, 0) AS BIGINT) AS n_orders,
       COALESCE(mo.revenue, 0.0) AS revenue
FROM spine s LEFT JOIN mo ON mo.m = s.m
ORDER BY month""")
def q32(spark, sf):
    """Recursive CTE through the SQL gateway (Spark 4's WITH
    RECURSIVE): generate the 1992-01..1998-12 month spine by
    recursion, left-join monthly order counts/revenue, zero-fill the
    gaps — the calendar gap-fill every reporting stack needs, and the
    one Tier-B construct that was inexpressible before Spark 4.  The
    recursion is 84 driver-side ladder steps over ONE ROW each; the
    real work (the monthly aggregate) is a single partial+final
    hash aggregation."""
    load(spark, sf, "orders").createOrReplaceTempView("q32_orders")
    return spark.sql("""
        WITH RECURSIVE spine(m) AS (
          SELECT DATE '1992-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM spine
          WHERE m < DATE '1998-12-01'
        ), mo AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 COUNT(*) AS n_orders,
                 ROUND(SUM(o_totalprice), 2) AS revenue
          FROM q32_orders GROUP BY 1
        )
        SELECT s.m AS month,
               CAST(COALESCE(mo.n_orders, 0) AS BIGINT) AS n_orders,
               COALESCE(mo.revenue, 0.0) AS revenue
        FROM spine s LEFT JOIN mo ON mo.m = s.m
        ORDER BY month""")
