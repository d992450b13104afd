"""Sampling operators for training-data pipelines.

Split, mix and sample membership is a pure function of the row key,
never of ``rand()`` or partitioning: stable across runs, cluster sizes
and re-partitioning — the property a 100 TB pipeline needs so that a
document never migrates between train and eval.  Every keyed decision
uses one hash family, the portable md5 bucket (:func:`md5_bucket`),
which any engine with ``md5`` recomputes:

- :func:`with_md5_split_label` / :func:`leakage_safe_split` —
  train/val/test labels;
- :func:`mix_sources_md5` / :func:`upsample_sources` — per-source
  re-weighting;
- :func:`deterministic_group_sample`, :func:`weighted_sample`,
  :func:`recency_weighted_sample` and the other keyed draws.

:func:`stratified_sample` (seeded Bernoulli per row via ``sampleBy``)
is the one sampler whose membership depends on partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def md5_bucket(col, salt: str = "split"):
    """Deterministic uniform bucket in ``[0, 2^32)`` from a key — computed
    identically by ANY engine with ``md5`` (Spark, DuckDB, Postgres, ...):
    ``int(md5(salt-key)[:8], 16)``.

    The library's one key hash for split/sample membership: md5 costs
    more per row than Spark's xxhash64, but membership stays auditable
    outside Spark.  Map-side only.
    """
    s = F.concat_ws("-", F.lit(salt), col.cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def md5_split_cuts(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """Cumulative bucket-space cut points for :func:`with_md5_split_label`,
    in the dict's insertion order: ``[(label, upper_bound), ...]``."""
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError("fractions must sum to 1")
    cuts, acc = [], 0.0
    for label, frac in fractions.items():
        acc += frac
        cuts.append((label, int(acc * (1 << 32))))
    return cuts


def with_md5_split_label(df: DataFrame, key_col: str,
                         fractions: dict[str, float] | None = None,
                         salt: str = "split",
                         out_col: str = "split") -> DataFrame:
    """Multi-way deterministic split ('train'/'val'/'test' by default)
    whose membership any md5-capable engine can recompute.  Leak-proof
    for grouped data: all rows sharing a key land on the same side, and
    membership is a pure function of the key."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    cuts = md5_split_cuts(fractions)
    bucket = md5_bucket(F.col(key_col), salt)
    # ascending when-chain over cumulative bounds; the last label is the
    # otherwise-branch and catches rounding residue at 2^32
    expr = None
    for label, bound in cuts[:-1]:
        expr = (F.when(bucket < bound, F.lit(label)) if expr is None
                else expr.when(bucket < bound, F.lit(label)))
    expr = F.lit(cuts[0][0]) if expr is None else expr.otherwise(
        F.lit(cuts[-1][0]))
    return df.withColumn(out_col, expr)


def leakage_safe_split(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       fractions: dict[str, float] | None = None,
                       salt: str = "split",
                       clusters: DataFrame | None = None,
                       cluster_col: str = "cluster_id",
                       **dedup_kw) -> DataFrame:
    """Train/val/test split where NEAR-DUPLICATES never straddle the
    boundary: the md5 split key is the dedup CLUSTER id, not the doc
    id — a doc-keyed split leaks eval content into training through
    every near-copy pair it cuts apart (the train-test contamination
    the n-gram screens then have to catch after the fact; splitting by
    cluster prevents it by construction).

    ``clusters`` (optional ``(id_col, cluster_col)``) supplies the
    cluster assignment — e.g. an audit-grade exact pair graph; by
    default :func:`~datum_spark.operators.dedup.near_dup_clusters`
    (exact-collapse → MinHash-LSH → components) computes it at corpus
    scale (``dedup_kw`` forwarded).  Returns ``docs`` + ``split``;
    membership is a pure function of (cluster id, salt), replayable by
    any md5-capable engine and stable under re-runs and corpus
    append (an existing cluster keeps its split)."""
    if clusters is None:
        from .dedup import near_dup_clusters

        clusters = near_dup_clusters(docs, id_col, text_col, **dedup_kw)
    lab = with_md5_split_label(
        clusters.select(F.col(id_col), F.col(cluster_col)),
        cluster_col, fractions, salt=salt)
    return docs.join(lab.select(id_col, cluster_col, "split"), id_col)


def deterministic_group_sample(df: DataFrame, group_col: str, n: int,
                               key_col: str,
                               salt: str = "sample") -> DataFrame:
    """Fixed-size-per-group sample (e.g. 20 docs per language for an eval
    set): rank rows within each group by their md5 bucket (a deterministic
    pseudo-random order any engine can reproduce) and keep the first
    ``n``.  One shuffle on ``group_col``; ties broken by the key so the
    result is unique.  Adds ``rnk`` (1-based)."""
    from pyspark.sql import Window

    w = (Window.partitionBy(group_col)
               .orderBy(md5_bucket(F.col(key_col), salt).asc(),
                        F.col(key_col).asc()))
    return (df.withColumn("rnk", F.row_number().over(w))
              .filter(F.col("rnk") <= n))


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict, seed: int = 42) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``): e.g. downsample an
    over-represented language while keeping rare ones whole."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def mix_sources_md5(df: DataFrame, weights: dict, source_col: str = "source",
                    id_col: str = "doc_id", salt: str = "mix",
                    default_weight: float = 1.0) -> DataFrame:
    """Deterministic corpus re-weighting ("data mixing"): keep each row of
    source ``s`` with probability ``weights.get(s, default_weight)``,
    decided by the row's md5 bucket (:func:`md5_bucket`) — not by
    ``rand()`` — so any md5-capable engine recomputes the keep set.

    Properties a 100 TB mixing job needs (all unit-tested):

    - keep rates follow the weights;
    - map-only, no shuffle; the weight table compiles into the plan as a
      CASE expression (no join, even for thousands of sources);
    - reproducible from the data alone: stable across runs, partitioning,
      and cluster size;
    - monotone in the weight: the keep-set at weight 0.2 is a subset of
      the keep-set at 0.5, so mixture ratios can be re-tuned without
      resampling churn (epoch-over-epoch cache reuse);
    - weights > 1 keep every row (upsampling needs row replication —
      :func:`upsample_sources`).
    """
    bucket = md5_bucket(F.col(id_col), salt)
    expr = F.lit(float(default_weight))
    for src, w in sorted(weights.items()):
        expr = F.when(F.col(source_col) == src, F.lit(float(w))
                      ).otherwise(expr)
    return df.filter(bucket < expr * F.lit(float(1 << 32)))


def upsample_sources(df: DataFrame, weights: dict,
                     source_col: str = "source", id_col: str = "doc_id",
                     salt: str = "upsample",
                     default_weight: float = 1.0,
                     copy_col: str = "copy_idx") -> DataFrame:
    """Deterministic corpus re-weighting with weights ABOVE 1: a row of
    source ``s`` with weight ``w`` appears ``floor(w)`` or ``ceil(w)``
    times, the fractional extra copy decided by the row's md5 bucket —
    epochs of an upsampled mixture are reproducible from the data alone.

    ``copy_idx`` (0-based) distinguishes the replicas, so downstream
    shuffles can spread them (e.g. salt a groupBy with it) and exact
    dedup can fold them back.  Map-only: the replication is
    ``explode(sequence(...))`` in whole-stage codegen — no UDF, no join,
    no shuffle; sub-1 weights degenerate to the :func:`mix_sources_md5`
    keep/drop filter (0 or 1 copies).
    """
    bucket = md5_bucket(F.col(id_col), salt)
    w_expr = F.lit(float(default_weight))
    for src, w in sorted(weights.items()):
        if w < 0:
            raise ValueError(f"negative weight for {src!r}")
        w_expr = F.when(F.col(source_col) == src, F.lit(float(w))
                        ).otherwise(w_expr)
    base = F.floor(w_expr).cast("long")
    frac = w_expr - base
    n_copies = base + F.when(bucket < frac * F.lit(float(1 << 32)),
                             F.lit(1)).otherwise(F.lit(0)).cast("long")
    return (df.withColumn("__n", n_copies)
              .filter(F.col("__n") > 0)
              .withColumn(copy_col,
                          F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
              .drop("__n"))


def weighted_sample(df: DataFrame, k: int, weight_col: str, id_col: str,
                    group_col: str | None = None,
                    salt: str = "wsample",
                    key_col: str = "sample_key") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the A-ES /
    exponential-jumps scheme (Efraimidis & Spirtes): each row gets the
    key ``ln(u) / w`` with ``u`` a uniform in (0,1) derived from the
    portable md5 bucket of its id, and the ``k`` LARGEST keys win; a
    row's win probability is proportional to its weight, and the whole
    draw is a pure function of (id, salt) — reproducible on any engine,
    any partitioning, any cluster size (the same auditable-membership
    contract as :func:`with_md5_split_label` / :func:`mix_sources_md5`, which a
    ``rand()``-based sampler cannot give).

    With ``group_col``, k rows per group (stratified weighted draw).
    Rows with weight ≤ 0 or NULL never win.  Global draw plans as
    ``TakeOrderedAndProject`` (per-partition heap, no full sort); the
    grouped draw is one ranking window on the group key.
    """
    u = (md5_bucket(F.col(id_col), salt=salt).cast("double") + 0.5) \
        / F.lit(4294967296.0)
    w = F.col(weight_col).cast("double")
    key = F.when(w > 0, F.log(u) / w)
    out = df.withColumn(key_col, key).filter(F.col(key_col).isNotNull())
    if group_col is None:
        return (out.orderBy(F.col(key_col).desc(), F.col(id_col))
                   .limit(k))
    from .topk import top_k_per_group
    return top_k_per_group(out, group_col,
                           [F.col(key_col).desc(), F.col(id_col)],
                           k, keep_rank=False)


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling")
# ---------------------------------------------------------------------------
#
# Select pretraining documents that LOOK LIKE a target corpus: model
# both corpora as bags of hashed n-gram features, score each candidate
# by the log importance ratio  Σ_tokens log p_target(b)/p_source(b),
# and resample with Gumbel-top-k (adding Gumbel noise to the log weight
# and taking the top k samples WITHOUT replacement ∝ weight).
#
# Everything is the portable-determinism spelling of the paper: feature
# buckets and the Gumbel uniforms both come from md5 (the x59/x62
# auditable-membership discipline), so selection is a pure function of
# the data that DuckDB re-derives in the x182 oracle.  Scale shape:
# the two feature profiles are ≤ n_buckets rows each (a map-combined
# count shuffle, then a broadcast back onto tokens); per-doc scoring is
# one more map-combined aggregation; the final top-k is a
# TakeOrderedAndProject — no stage's input grows past O(corpus tokens).

def _dsir_tokens(df: DataFrame, id_col: str, text_col: str,
                 n_buckets: int, salt: str) -> DataFrame:
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                     lambda t: t != "")
    tok = df.select(F.col(id_col).alias("__id"),
                    F.explode(words).alias("__w"))
    return tok.withColumn(
        "__b", md5_bucket(F.col("__w"), salt=salt) % n_buckets)


def dsir_log_weights(pool: DataFrame, target: DataFrame,
                     id_col: str, text_col: str,
                     n_buckets: int = 1024,
                     salt: str = "dsir") -> DataFrame:
    """``(id_col, logw)``: per-pool-document log importance ratio under
    add-one-smoothed hashed-unigram models of ``target`` vs ``pool``."""
    import math

    pool_tok = _dsir_tokens(pool, id_col, text_col, n_buckets, salt)
    tgt_tok = _dsir_tokens(target, id_col, text_col, n_buckets, salt)

    def profile(tok: DataFrame, out: str):
        counts = tok.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
        total = tok.count()          # one count job per profile
        logp = F.log((F.col("__n") + 1).cast("double")
                     / F.lit(float(total + n_buckets)))
        # add-one floor for buckets with zero observed tokens
        floor = math.log(1.0 / (total + n_buckets))
        return counts.select("__b", logp.alias(out)), floor

    tgt_p, tgt_floor = profile(tgt_tok, "__lt")
    src_p, src_floor = profile(pool_tok, "__ls")
    ratio = (tgt_p.join(src_p, "__b", "full")
             .select("__b",
                     (F.coalesce("__lt", F.lit(tgt_floor))
                      - F.coalesce("__ls", F.lit(src_floor)))
                     .alias("__r")))
    # every pool token's bucket is in the pool profile, hence in ratio;
    # the coalesce is belt-and-braces only
    return (pool_tok.join(F.broadcast(ratio), "__b", "left")
                    .groupBy("__id")
                    .agg(F.sum(F.coalesce("__r", F.lit(0.0)))
                         .alias("logw"))
                    .withColumnRenamed("__id", id_col))


def gumbel_topk(weighted: DataFrame, id_col: str, logw_col: str,
                k: int, salt: str = "dsirg",
                score_col: str = "score") -> DataFrame:
    """Gumbel-top-k resampling without replacement: score = logw +
    Gumbel(0,1) with the Gumbel uniform drawn deterministically from
    md5(salt || id) — reproducible selection ∝ exp(logw).  Ties (after
    rounding to 9 dp, so cross-engine libm noise cannot flip ranks)
    break by id."""
    u = (md5_bucket(F.col(id_col), salt=salt).cast("double") + 0.5) \
        / F.lit(float(1 << 32))
    g = -F.log(-F.log(u))
    scored = weighted.select(
        id_col,
        F.round(F.col(logw_col) + g, 9).alias(score_col))
    return (scored.orderBy(F.col(score_col).desc(), F.col(id_col))
                  .limit(k))


def negative_samples(anchors: DataFrame, pool: DataFrame, k: int = 4,
                     anchor_id: str = "doc_id",
                     anchor_group: str = "source",
                     cand_id: str = "doc_id",
                     cand_group: str = "source",
                     salt: str = "neg",
                     slate: int | None = None) -> DataFrame:
    """``k`` deterministic RANDOM negatives per anchor for contrastive
    training: candidates from a DIFFERENT group than the anchor
    (group = source/domain/cluster — the standard false-negative
    guard), ranked per anchor by the portable md5 pair hash, smallest
    ``k`` kept.  Membership is a pure function of the ids — any engine
    with ``md5`` re-derives the exact sample (the x59 split
    discipline), so training data is auditable and reproducible.

    Scale shape: ``slate`` first cuts the pool to a bounded candidate
    table by per-candidate hash (smallest ``slate`` hashes — a uniform
    pseudo-random slate, partitioning-independent); the slate
    broadcasts and the per-anchor ranking is a window over
    anchors × slate, never anchors × corpus.  Returns
    ``(anchor_id, neg_id, h, rnk)``.  Complements
    :func:`~datum_spark.operators.keywords.hard_negatives` — random
    easy negatives there, ranker-mined hard ones here.
    """
    from pyspark.sql import Window

    cand = pool.select(F.col(cand_id).alias("neg_id"),
                       F.col(cand_group).alias("__ng"))
    if slate is not None:
        # TakeOrdered to a BOUNDED slate → safe to broadcast-hint; an
        # unbounded pool gets no hint (Spark sizes the join itself —
        # broadcasting a 100 TB pool would be a driver OOM, and
        # anchors × full-pool is the audit spelling, not the scale one)
        cand = F.broadcast(
            cand.orderBy(md5_bucket(F.col("neg_id"),
                                    salt=f"{salt}-slate"),
                         "neg_id")
                .limit(int(slate)))
    a = anchors.select(F.col(anchor_id).alias("anchor_id"),
                       F.col(anchor_group).alias("__ag"))
    h = md5_bucket(F.concat_ws("-", F.col("anchor_id"),
                               F.col("neg_id")), salt=salt)
    w = Window.partitionBy("anchor_id").orderBy(F.col("h").asc(),
                                                F.col("neg_id").asc())
    return (a.join(cand, F.col("__ag") != F.col("__ng"))
             .select("anchor_id", "neg_id", h.alias("h"))
             .withColumn("rnk", F.row_number().over(w))
             .filter(F.col("rnk") <= k))


def temperature_rates(df: DataFrame, source_col: str = "source",
                      tau: float = 0.5,
                      budget_rows: int | None = None,
                      quantize: int = 9) -> dict:
    """Temperature-based source sampling rates (the mT5/XLM-R
    multilingual mixing rule): the target composition is
    ``p_s ∝ n_s^τ`` — τ=1 keeps the natural distribution, τ→0
    approaches uniform, upweighting rare sources.  Returns per-source
    KEEP RATES for :func:`mix_sources_md5`:

    - ``budget_rows`` given: ``r_s = min(1, budget · n_s^(τ−1) / Σ n^τ)``
      (the sample approximates ``budget`` rows at composition ``p``);
    - else: rates scaled so the most-upweighted source keeps 100%
      (``r_s = n_s^(τ−1) / max``) — the largest sample with exactly the
      temperature composition, downsampling only.

    Rates round to ``quantize`` dp and the arithmetic is spelled the
    same way an external engine spells it (``n^(τ−1)`` directly), so
    the keep decisions — md5-bucket < rate — replay verbatim (x198).
    One count aggregation; the rate table is #sources driver floats.
    """
    counts = {r[source_col]: int(r["n"]) for r in
              df.groupBy(source_col)
                .agg(F.count(F.lit(1)).alias("n")).collect()}
    if not counts:
        return {}
    w = {s: float(c) ** (tau - 1.0) for s, c in counts.items()}
    if budget_rows is not None:
        tot = sum(float(c) ** tau for c in counts.values())
        rates = {s: min(1.0, float(budget_rows) * w[s] / tot)
                 for s in counts}
    else:
        m = max(w.values())
        rates = {s: w[s] / m for s in counts}
    # half-away-from-zero, matching SQL ROUND (Python round() banker's
    # rounding would flip keep decisions on an exact .5 tie)
    from .similarity import _round_half_away
    return {s: _round_half_away(r, quantize) for s, r in rates.items()}


def recency_weighted_sample(df: DataFrame, key_col: str,
                            ts_col: str = "ts",
                            half_life_days: float = 30.0,
                            ref_ts=None,
                            salt: str = "recency") -> DataFrame:
    """Deterministic RECENCY-weighted thinning — the freshness bias a
    news/web corpus mix applies before training: each row survives
    with probability ``2^(-age_days / half_life_days)`` (age measured
    against ``ref_ts``, default the corpus maximum timestamp), decided
    by the portable md5 coin ``md5_bucket / 2^32 < p_keep``.
    Membership is a pure function of (key, salt, timestamps), so the
    sample is reproducible from the data alone and auditable in any
    engine — no RNG, no partition sensitivity (the
    :func:`mix_sources_md5` discipline applied to time decay).

    Returns the surviving rows unchanged.  Scale shape: one scalar
    max-timestamp aggregate broadcast-crossed onto the corpus (the
    q23 scalar-subquery pattern; skipped when ``ref_ts`` is given),
    then one map-side filter."""
    if ref_ts is None:
        mx = df.agg(F.max(ts_col).alias("__ref"))
        base = df.crossJoin(F.broadcast(mx))
        ref = F.col("__ref")
    else:
        base = df
        ref = F.lit(ref_ts)
    age_days = ((ref.cast("double") - F.col(ts_col).cast("double"))
                / F.lit(86400.0))
    p_keep = F.pow(F.lit(2.0), -age_days / F.lit(float(half_life_days)))
    u = md5_bucket(F.col(key_col), salt) / F.lit(4294967296.0)
    out = base.filter(u < p_keep)
    return out.drop("__ref") if ref_ts is None else out


# Poisson(1) inverse-CDF thresholds (cumulative probabilities), shared
# verbatim with the DuckDB oracle so the weight of every (row,
# replicate) pair is the same exact integer in both engines.
POISSON1_CUM = (0.36787944117144233, 0.7357588823428847,
                0.9196986029286058, 0.9810118431238462,
                0.9963401531726563, 0.9994058151824183,
                0.999916758850712, 0.9999897508033253)


def poisson_bootstrap_mean(df: DataFrame, value_col: str, id_col: str,
                           reps: int = 40, level: float = 0.95,
                           salt: str = "boot") -> DataFrame:
    """One-pass Poisson bootstrap for the mean — the scalable
    bootstrap (Chamandy et al., Google 2012 "Estimating uncertainty
    for massive data streams"): resampling-with-replacement is
    impossible over a corpus that doesn't fit anywhere, but each
    row's multiplicity in replicate b is ~Poisson(1), so B weighted
    partial sums in ONE scan reproduce the bootstrap distribution.

    Deterministic twist: the Poisson draw is the portable md5 coin
    pushed through the shared :data:`POISSON1_CUM` inverse-CDF table,
    so every weight — and therefore the whole CI — is reproducible
    from the data alone in any engine.  One md5 feeds FOUR replicate
    coins (its 128 bits split into four 32-bit lanes:
    ``u(row, b) = lane b%4 of md5(salt-id-(b//4))``) — 4× less
    hashing per scan, the dominant cost at corpus scale.  Returns ONE
    row ``(n_rows, point_mean, boot_mean, ci_lo, ci_hi, reps)``: the
    plain mean, the mean of the replicate means, and the interpolated
    percentile interval at ``level``.

    Scale shape: the B-fold posexplode is MAP-side (xB work, no
    extra scan, B/4 hashes); the partial aggregation combines to
    ``reps`` rows per task, so the shuffle carries B rows per
    partition no matter the corpus size; replicate means round 6 dp
    before the exact percentile over the B-row (driver-safe)
    replicate table."""
    n_blocks = (int(reps) + 3) // 4
    blk = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk")
    lane = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("lane")
    rows = (df.filter(F.col(value_col).isNotNull())
              .select(F.col(id_col).cast("string").alias("__id"),
                      F.col(value_col).cast("double").alias("__v"))
              .select("__id", "__v", blk)
              .select("__id", "__v", "blk",
                      F.md5(F.concat_ws(
                          "-", F.lit(salt), F.col("__id"),
                          F.col("blk").cast("string"))).alias("__h"))
              .select("__id", "__v", "blk", "__h", lane)
              .select("__id", "__v",
                      (F.col("blk") * 4 + F.col("lane")).alias("b"),
                      F.substring("__h", F.col("lane") * 8 + 1,
                                  F.lit(8)).alias("__hx"))
              .filter(F.col("b") < int(reps)))
    u = (F.conv(F.col("__hx"), 16, 10)
          .cast("double") / F.lit(4294967296.0))
    w = F.lit(len(POISSON1_CUM))
    for i in range(len(POISSON1_CUM) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CUM[i]), F.lit(i)).otherwise(w)
    rep = (rows.select("b", w.cast("double").alias("__w"), "__v")
               .groupBy("b")
               .agg(F.round(F.try_divide(
                        F.sum(F.col("__w") * F.col("__v")),
                        F.sum("__w")), 6).alias("m")))
    q_lo, q_hi = (1.0 - float(level)) / 2.0, 1.0 - (1.0 - level) / 2.0
    stats = df.filter(F.col(value_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.avg(F.col(value_col).cast("double")), 6)
         .alias("point_mean"))
    ci = rep.agg(
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(F.percentile("m", F.lit(q_lo)), 6).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(q_hi)), 6).alias("ci_hi"),
        F.count(F.lit(1)).cast("long").alias("reps"))
    return stats.crossJoin(F.broadcast(ci)).select(
        "n_rows", "point_mean", "boot_mean", "ci_lo", "ci_hi", "reps")
