"""Document packing: group consecutive documents into fixed token-budget
packs (the pre-tokenization "sequence packing" step of LLM training
pipelines).

Semantics: documents are taken in ``order_col`` order; a document's pack is
``floor(tokens_before_it / budget)`` — greedy concatenation where a pack
absorbs the document that crosses the boundary (standard practice; true
bin-packing is sequential and NP-hard, and the overflow per pack is
bounded by one document).

Scale design — the global running sum is a **distributed prefix sum**, not
a single-partition window: range-partition by the order key, compute each
partition's token total (tiny), cumulate those driver-side into per-
partition offsets, and add the offset to a within-partition window.  No
stage ever funnels the data through one task, which is what the naive
``Window.orderBy`` over an unpartitioned frame would do at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _prefix_sum(df: DataFrame, order_col: str, token_col: str,
                num_partitions: int | None) -> tuple[DataFrame, Column, int]:
    """The distributed token prefix sum: ``df`` range-partitioned on
    ``order_col`` (with a ``__pid`` column), the tokens-before-this-row
    column over it, and the token total — all from ONE driver collect of
    the per-partition totals."""
    from ..session import default_parallelism

    n = num_partitions or default_parallelism()
    from ..util import retain_cache

    # the cache pins the partition assignment between the totals job and
    # the caller's final job; even if the ring rotates it out, a recompute
    # re-draws the SAME range boundaries (RangePartitioner's sample seed
    # derives from the RDD id, which is fixed for this plan instance), so
    # the collected offsets stay valid.  Enrolled in the bounded cache
    # ring so long-lived sessions don't accumulate cached blocks.
    d = retain_cache(df.repartitionByRange(n, F.col(order_col))
                       .withColumn("__pid", F.spark_partition_id()))
    # per-partition totals are tiny (one row per partition): the ONLY
    # driver-side data in the prefix sum
    part_rows = (d.groupBy("__pid")
                  .agg(F.sum(token_col).alias("t"))
                  .collect())
    totals = {r["__pid"]: r["t"] or 0 for r in part_rows}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_col = F.coalesce(*[
        F.when(F.col("__pid") == pid, F.lit(off))
        for pid, off in offsets.items()
    ], F.lit(0)) if offsets else F.lit(0)

    w = (Window.partitionBy("__pid").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0)) + off_col
    return d, before, acc


def _assign(d: DataFrame, before: Column, budget: int,
            out_col: str) -> DataFrame:
    return (d.withColumn(out_col,
                         F.floor(before / F.lit(budget)).cast("long"))
             .drop("__pid"))


def pack_documents(df: DataFrame, order_col: str, token_col: str,
                   budget: int, num_partitions: int | None = None,
                   out_col: str = "pack_id") -> DataFrame:
    """Assign each row a ``pack_id`` so consecutive rows (by ``order_col``)
    share a pack until ``budget`` tokens are consumed."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    d, before, _ = _prefix_sum(df, order_col, token_col, num_partitions)
    return _assign(d, before, budget, out_col)


def pack_summary(packed: DataFrame, token_col: str,
                 pack_col: str = "pack_id") -> DataFrame:
    """Per-pack audit: document count and token total."""
    return (packed.groupBy(pack_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(token_col).alias("total_tokens")))


def write_training_shards(df: DataFrame, path: str, order_col: str,
                          token_col: str, n_shards: int,
                          fmt: str = "parquet", mode: str = "error",
                          **options) -> tuple[DataFrame, dict]:
    """Write the corpus as ``n_shards`` token-balanced hive partitions
    (``shard=K/`` directories) — the end-of-pipeline layout step that
    turns a curriculum-ordered corpus into equal-work training shards.

    Shard assignment reuses the distributed token prefix sum:
    ``shard = floor(tokens_before / ceil(total/n_shards))`` — every shard
    holds a CONTIGUOUS ``order_col`` range (curriculum order survives
    sharding) and shard token totals differ by at most one document, the
    same greedy bound as :func:`pack_documents`.  Deterministic: a
    function of the data alone, so a re-run (or another engine) derives
    the identical layout.  Cost beyond the write itself: the prefix
    sum's one collect of per-partition totals, whose sum is the total
    the budget derives from — no single-task stage anywhere.

    Returns ``(sharded_df, metrics)``: the DataFrame (with the ``shard``
    column) for :func:`pack_summary`-style audits, and a metrics dict
    (``rows`` / ``tokens`` written, plus the derived ``token_budget``)
    observed on the write job itself via Spark's Observation API — the
    write is self-reporting, no second corpus scan to know what moved.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    from ..sources.registry import write_table
    from .metrics import observe

    d, before, total = _prefix_sum(df, order_col, token_col, None)
    budget = max(1, -(-int(total) // n_shards))  # ceil
    sharded = _assign(d, before, budget, "shard")
    observed, obs = observe(sharded, rows=F.count(F.lit(1)),
                            tokens=F.sum(token_col))
    write_table(observed, path, fmt=fmt, mode=mode,
                partition_by=["shard"], **options)
    metrics = {k: int(v or 0) for k, v in obs.get.items()}
    metrics["n_shards"] = n_shards
    metrics["token_budget"] = budget
    return sharded, metrics


def pack_documents_bfd(df: DataFrame, id_col: str, token_col: str,
                       budget: int, docs_per_bin_cap: int = 64,
                       out_col: str = "pack_id") -> DataFrame:
    """Best-Fit-Decreasing sequence packing — the low-waste packer
    ("Fewer Truncations Improve Language Modeling", Ding et al. 2024:
    BFD packs training sequences with near-zero padding where naive
    contiguous packing wastes budget at every boundary).  Documents
    sort by token count DESC within each Spark partition and each one
    drops into the fullest bin that still fits (opening a new bin
    otherwise; docs longer than ``budget`` get singleton bins).

    Distributed shape: BFD is inherently sequential, so it runs PER
    PARTITION over Arrow batches (``applyInPandas`` keyed by the
    partition id) and bin ids are made globally unique as
    ``pid * 2^40 + local``.  Pack assignments therefore depend on the
    partitioning (rows-only territory, like the NumPy MinHash twin);
    the per-bin INVARIANTS do not: no bin exceeds ``budget`` (except
    oversized singletons), and the waste fraction
    ``1 − tokens/(bins·budget)`` is the graded quality metric —
    measure it against :func:`pack_documents`'s sequential packs to
    see the BFD gain.

    ``docs_per_bin_cap`` bounds attention-matrix blowup for training
    stacks that cap documents per sequence.  Returns ``df`` +
    ``out_col`` (long)."""
    import pandas as pd

    if budget <= 0:
        raise ValueError("budget must be positive")

    def bfd(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        order = pdf.sort_values(
            [token_col, id_col], ascending=[False, True])
        bins: list[tuple[int, int]] = []     # (remaining, n_docs)
        assign = {}
        nxt = 0
        for rid, tok in zip(order[id_col], order[token_col]):
            t = int(tok)
            best, best_rem = None, None
            if t <= budget:
                for bi, (rem, nd) in enumerate(bins):
                    if rem >= t and nd < docs_per_bin_cap and \
                            (best_rem is None or rem < best_rem):
                        best, best_rem = bi, rem
            if best is None:
                bins.append((max(budget - t, 0), 1))
                assign[rid] = nxt
                nxt += 1
            else:
                rem, nd = bins[best]
                bins[best] = (rem - t, nd + 1)
                assign[rid] = best
        pdf = pdf.copy()
        pdf[out_col] = [(pid << 40) + assign[r] for r in pdf[id_col]]
        return pdf

    schema = df.schema.add(out_col, "long")
    return (df.withColumn("__pid", F.spark_partition_id())
              .groupBy("__pid")
              .applyInPandas(lambda k, p: bfd(k, p.drop(columns="__pid")),
                             schema)
              .drop("__pid"))
