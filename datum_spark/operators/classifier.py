"""Trainable quality classifier: distributed logistic regression on
hashed token features, with a DETERMINISTIC full-batch training
trajectory (the x108 discipline applied to gradient descent) — so the
trained weights, per-document scores and even the decision boundary
are replayable value-for-value by any engine with ``md5``/``exp``.

Why it exists: the modern corpus-curation stack filters with LEARNED
quality models (CCNet's LM filter, the fastText classifiers behind
LLaMA/phi-style data selection), not only heuristics.  The engine
already selects *towards a target distribution* (DSIR,
``sampling.dsir_log_weights``); this adds the supervised sibling:
label a seed set (curated vs crawl, English vs other, clean vs spam),
train in-engine at corpus scale, score everything.

Determinism contract (all constants quantized to ``quantize`` dp):

- features: hashed-unigram counts ``c_b`` (bucket = ``md5(salt-word)
  % n_buckets``, the DSIR feature map) scaled to O(1) mean:
  ``x_b = c_b · n_buckets / n_tokens`` (a uniform doc puts 1.0 in
  every bucket — unit learning rates converge in a handful of steps
  instead of needing lr ~ n_buckets²); plus an implicit bias of 1;
- init ``w = 0``; per step: ``z_i = round(Σ_b w_b·c_ib / n_i + w_bias)``,
  ``p_i = round(sigmoid(z_i))``,
  ``grad = round((1/N)·Σ_i (p_i − y_i)·x_i)``,
  ``w ← round(w − lr·grad)`` — rounding at every reduction absorbs
  summation-order and libm noise, so the trajectory is engine-portable;
- ties/ordering never matter: every step is a pure fold over the batch.

Scale shape: tokenization is one corpus pass into a cached per-doc
feature frame (≤ ``n_buckets`` entries per doc); each GD step is one
map-only scoring expression (weights ride the plan as an array
literal, ``clustering._centers_sql`` style) plus ONE map-side-combined
shuffle of ``n_buckets + 1`` gradient rows; the driver holds
``n_buckets + 1`` floats.  Steps are full-batch — at 100 TB you pay
``steps`` corpus passes, the honest cost of exact determinism.  The
THROUGHPUT twin is :func:`quality_classifier_fit_sgd` (parallel
mini-batch SGD, one Arrow pass per epoch) — same feature map, same
scoring contract, no cross-engine trajectory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import md5_bucket


def _features(df: DataFrame, id_col: str, text_col: str,
              n_buckets: int, salt: str, tokens=None) -> DataFrame:
    """Cached per-doc hashed-token features: ``(__id, __fs
    array<struct<b int, c double>> sorted by b, __n double)``.  Docs
    with zero tokens produce no row (nothing to score them on).
    ``tokens`` (a Column producing ``array<string>`` from the row)
    overrides the default whitespace-word tokenizer — e.g. char
    n-grams for language ID (``langid.char_ngram_tokens``)."""
    from ..util import retain_cache

    words = tokens if tokens is not None else F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: t != "")
    tok = (df.select(F.col(id_col).alias("__id"),
                     F.explode(words).alias("__w"))
             .select("__id",
                     (md5_bucket(F.col("__w"), salt=salt)
                      % n_buckets).cast("int").alias("__b")))
    return retain_cache(
        tok.groupBy("__id", "__b")
           .agg(F.count(F.lit(1)).cast("double").alias("__c"))
           .groupBy("__id")
           .agg(F.sort_array(F.collect_list(
                    F.struct(F.col("__b").alias("b"),
                             F.col("__c").alias("c")))).alias("__fs"),
                F.sum("__c").alias("__n")))


def _score_expr(weights: list[float], bias: float, quantize: int):
    """``p = round(sigmoid(round(Σ w_b·c_b / n + bias)))`` as one
    map-only expression over ``__fs``/``__n`` (weights as a parsed SQL
    array literal — see clustering._d2s_sql for why not Column calls)."""
    w_sql = "array(" + ",".join(f"{float(x)!r}D" for x in weights) + ")"
    nb = len(weights)
    z = (f"round(aggregate(__fs, cast(0.0 as double), "
         f"(acc, f) -> acc + element_at({w_sql}, f.b + 1) * f.c) "
         f"* {nb}.0D / __n + {float(bias)!r}D, {quantize})")
    return F.expr(f"round(1.0D / (1.0D + exp(-({z}))), {quantize})")


def quality_classifier_fit(df: DataFrame, id_col: str, text_col: str,
                           label_col: str, n_buckets: int = 64,
                           steps: int = 4, lr: float = 0.5,
                           salt: str = "qclf",
                           quantize: int = 9):
    """Train by deterministic full-batch gradient descent; returns
    ``(weights, bias)`` — ``n_buckets`` floats + 1, quantized.
    ``label_col`` must be 0/1 (numeric or boolean)."""
    feat = (_features(df, id_col, text_col, n_buckets, salt)
            .join(df.select(F.col(id_col).alias("__id"),
                            F.col(label_col).cast("double").alias("__y")),
                  "__id"))
    return _fit_features(feat, n_buckets, steps, lr, quantize)


# Total (doc, bucket) feature entries under which the GD loop runs
# driver-side on the collected feature frame instead of as ``steps``
# sequential Spark jobs.  A size-gated PHYSICAL choice exactly like
# components._DRIVER_CC_EDGES: the labeled seed set is usually a
# bounded sample even on a huge corpus, every step is a full-batch
# fold, and scheduling 12 distributed rounds over a few thousand
# cached rows costs ~50× the arithmetic.  2M entries ≈ tens of MB
# collected once (the gate reads the same aggregate that the mandatory
# n_docs probe already pays for).  Above the gate the distributed loop
# below runs unchanged.
_DRIVER_GD_ENTRIES = 2_000_000


def _sql_round_vec(x, nd: int):
    """Vectorized SQL ROUND semantics (HALF_UP on the shortest decimal
    repr — what Spark's ``round(double, d)`` and DuckDB both compute;
    NumPy has no decimal-string rounding, and the binary-scale
    ``floor(x·10^d + 0.5)`` shortcut disagrees on exact-half reprs).

    Value-identical two-tier evaluation (r14, guide §4.2 — vectorize
    the per-element work): the binary shortcut runs vectorized for
    every element whose scaled value sits FARTHER than a few ulps from
    a half boundary — there the shortest-repr decimal and the binary
    double provably round to the same grid point (both representations
    of the value differ by ≤ ~1.5 ulp, less than the distance to the
    boundary).  Only elements inside the ambiguity band (plus
    non-finite / ≥2^52 magnitudes, where the shortcut's scaling is not
    exact) take the per-element decimal-string path.  On real data the
    band is hit ~never, turning a 1.5 s/512k-element Python loop into
    a handful of numpy ops — the r13 driver-finish paths (Lloyd, PQ,
    GD) spend most of their time here otherwise.  Equivalence is
    fuzz-tested against the pure-decimal spelling including
    adversarial exact-half reprs (tests/test_classifier.py)."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    if nd < 0:
        return _decimal_round_vec(x, np.ones(len(x), dtype=bool), None,
                                  nd)
    scale = 10.0 ** nd
    y = x * scale
    ay = np.abs(y)
    with np.errstate(invalid="ignore"):
        k = np.floor(ay + 0.5)
        out = np.copysign(k / scale, x)
        frac = ay - np.floor(ay)
        tol = 4.0 * np.spacing(np.maximum(ay, 1.0))
        unsafe = (np.abs(frac - 0.5) <= tol) | ~np.isfinite(y) \
            | (ay >= 2.0 ** 52)
    if unsafe.any():
        out = _decimal_round_vec(x, unsafe, out, nd)
    return out


def _decimal_round_vec(x, mask, out, nd: int):
    """The exact shortest-repr HALF_UP path for the masked elements —
    the reference arithmetic the fast path above must agree with."""
    import decimal

    import numpy as np

    if out is None:
        out = np.empty(len(x), dtype=np.float64)
    q = decimal.Decimal(1).scaleb(-nd)
    for i in np.nonzero(mask)[0]:
        out[i] = float(decimal.Decimal(repr(float(x[i]))).quantize(
            q, rounding=decimal.ROUND_HALF_UP))
    return out


def _bias_grad_terms(resid, n, nb: float):
    """Per-doc bias-gradient terms of the driver GD, replayed exactly as
    the SQL spells the bias pseudo-bucket: ``c = n/B`` computed first,
    then ``((p−y)·c)·B/n`` left to right.  Regrouping as
    ``(p−y)·((n/B)·B/n)`` differs by an ulp on ~12% of doubles, and the
    driver must fork at a HALF_UP boundary only where the distributed
    loop forks (ADVICE r14)."""
    return (resid * (n / nb)) * nb / n


def _fit_rows_driver(rows, y_mat, n_buckets: int, steps: int,
                     lr: float, quantize: int):
    """The GD loop of :func:`_fit_features` / :func:`_fit_features_multi`
    over COLLECTED feature rows — value-identical arithmetic:

    - the per-doc score fold runs left-to-right over the sorted ``__fs``
      entries (vectorized across docs, sequential across entries — the
      same float64 op sequence as the SQL ``aggregate`` fold);
    - ``z``/``p``/gradients round with SQL ROUND decimal semantics at
      the same reduction points; weight updates use the same Python
      ``round`` the distributed loop applies to collected gradients;
    - gradient sums combine in a different order than Spark's partial
      aggregation, exactly as Spark's order already differs from the
      DuckDB oracle's — the 1e-``quantize`` rounding absorbs it (the
      module's documented determinism contract).

    ``y_mat`` is (n_docs × K); returns a list of K ``(weights, bias)``.

    ``rows`` is the ``(bidx_list, cnt_list, n)`` triple from
    :func:`_collect_feature_matrix` — flat array columns, not nested
    struct Rows: collecting (doc × entry) ``struct<b, c>`` Rows paid a
    per-ELEMENT Python ``fromInternal``/Row construction (~288k nested
    Rows ≈ 2 s on the langid fixture, more than the fit itself — r14,
    guide §4.1: control how bytes cross the boundary).
    """
    import numpy as np

    blists, clists, n = rows
    nd = len(n)
    width = max((len(b) for b in blists), default=0) or 1
    bidx = np.zeros((nd, width), dtype=np.int64)
    cnt = np.zeros((nd, width), dtype=np.float64)
    for i, (bl, cl) in enumerate(zip(blists, clists)):
        if len(bl):
            bidx[i, :len(bl)] = bl
            cnt[i, :len(cl)] = cl
    k_cls = y_mat.shape[1]
    ws = [np.zeros(n_buckets, dtype=np.float64) for _ in range(k_cls)]
    bs = [0.0] * k_cls
    nb = float(n_buckets)
    flat_b = bidx.ravel()
    for _ in range(steps):
        for j in range(k_cls):
            acc = np.zeros(nd, dtype=np.float64)
            w = ws[j]
            for k in range(width):
                # left-to-right fold: padded tail entries add an exact
                # +0.0 (c = 0), which is the IEEE identity
                acc = acc + w[bidx[:, k]] * cnt[:, k]
            z = _sql_round_vec(acc * nb / n + bs[j], quantize)
            p = _sql_round_vec(1.0 / (1.0 + np.exp(-z)), quantize)
            resid = p - y_mat[:, j]
            # EXACT per-term op order of the SQL gradient
            # ``sum(((p - y) * c) * B / n)``: multiply the residual by
            # the count FIRST, then by B, then divide by n (ADVICE r13:
            # the previous ((p−y)/n)·c·B spelling differs by an ulp on
            # some inputs, a nonzero chance of flipping a HALF_UP
            # boundary vs the distributed / oracle trajectory)
            contrib = resid[:, None] * cnt * nb / n[:, None]
            g = _sql_round_vec(np.bincount(
                flat_b, weights=contrib.ravel(),
                minlength=n_buckets) / nd, quantize)
            gb = _sql_round_vec(
                np.array([_bias_grad_terms(resid, n, nb).sum() / nd]),
                quantize)[0]
            # same update the distributed loop applies to collected
            # gradient rows (Python round on Python floats — np.float64
            # __round__ has different corner-case semantics; absent
            # buckets have g = 0.0 and round() is idempotent on
            # quantized floats)
            ws[j] = np.array([round(float(w[t]) - lr * float(g[t]),
                                    quantize)
                              for t in range(n_buckets)])
            bs[j] = round(bs[j] - lr * float(gb), quantize)
    return [([float(x) for x in ws[j]], bs[j]) for j in range(k_cls)]


def _collect_feature_matrix(feat: DataFrame, label_col: str):
    """Collect the labeled feature frame for the driver GD finish as
    FLAT array columns via Arrow: ``(bidx_list, cnt_list, n)`` plus the
    label values, in one driver transfer.  Extracting ``__fs.b`` /
    ``__fs.c`` (order-preserving struct-field pulls over the sorted
    entry array) avoids materializing one Python Row per feature entry
    on the driver; Arrow delivers the arrays as numpy values."""
    import numpy as np

    pdf = (feat.select(F.col("__fs.b").alias("__b"),
                       F.col("__fs.c").alias("__c"),
                       "__n", F.col(label_col).alias("__l"))
               .toPandas())
    n = pdf["__n"].to_numpy(dtype=np.float64)
    return (pdf["__b"].tolist(), pdf["__c"].tolist(), n), pdf["__l"]


def _gd_size_probe(feat: DataFrame) -> tuple[int, int]:
    """(n_docs, total feature entries) in one job — the n_docs count
    the fit loops already needed, plus the driver-gate volume."""
    row = feat.agg(F.count(F.lit(1)).alias("d"),
                   F.sum(F.size("__fs")).alias("e")).first()
    return int(row["d"]), int(row["e"] or 0)


def _fit_features(feat: DataFrame, n_buckets: int, steps: int,
                  lr: float, quantize: int):
    """The deterministic GD loop over a labeled feature frame
    ``(__id, __fs, __n, __y)`` — shared by the binary quality
    classifier and the per-class fits of the multiclass language
    classifier (which computes the feature pass ONCE and reuses it for
    every class).

    The LABELED frame is cached here (not just the feature pass inside
    ``_features``): the label side of the join re-derives its columns
    from the corpus scan, so without this every GD step re-runs that
    scan — ``steps`` extra corpus passes for a loop whose whole design
    is one bounded shuffle per step."""
    from ..util import retain_cache

    feat = retain_cache(feat)
    n_docs, n_entries = _gd_size_probe(feat)
    if n_docs == 0:
        raise ValueError("no labeled documents with tokens")
    if n_entries <= _DRIVER_GD_ENTRIES:
        import numpy as np

        mats, labels = _collect_feature_matrix(feat, "__y")
        y = np.array([[float(v)] for v in labels])
        (w, b), = _fit_rows_driver(mats, y, n_buckets, steps, lr,
                                   quantize)
        return w, b
    w = [0.0] * n_buckets
    b = 0.0
    for _ in range(steps):
        p = _score_expr(w, b, quantize)
        # bias rides the explode as pseudo-bucket -1 with c = n/B (so
        # the uniform x = c·B/n scaling gives it the constant 1):
        # ONE shuffle carries all n_buckets+1 gradient rows
        g = (feat.withColumn("__p", p)
                 .select("__p", "__y", "__n",
                         F.explode(F.concat(
                             "__fs",
                             F.array(F.struct(
                                 F.lit(-1).alias("b"),
                                 (F.col("__n") / F.lit(float(n_buckets)))
                                 .alias("c"))))).alias("__f"))
                 .groupBy(F.col("__f.b").alias("__b"))
                 .agg(F.round(
                     F.sum((F.col("__p") - F.col("__y"))
                           * F.col("__f.c") * F.lit(float(n_buckets))
                           / F.col("__n"))
                     / F.lit(float(n_docs)), quantize).alias("__g"))
                 .collect())
        for r in g:
            if r["__b"] < 0:
                b = round(b - lr * r["__g"], quantize)
            else:
                w[r["__b"]] = round(w[r["__b"]] - lr * r["__g"], quantize)
    return w, b


def _fit_features_multi(feat: DataFrame, langs: list,
                        n_buckets: int, steps: int, lr: float,
                        quantize: int, label_col: str = "__lang"
                        ) -> dict:
    """All-K one-vs-rest GD over a labeled feature frame ``(__id,
    __fs, __n, label_col)`` in ONE gradient job per step (r12,
    VERDICT item 1 — the langid fit was K sequential
    :func:`_fit_features` loops, ``steps × K`` corpus passes and
    collects).

    Per step: the K per-class residuals ``p_c − y_c`` are K map-only
    expressions over the SAME cached feature frame (each class's
    weights ride the plan as an array literal, exactly the x188
    score), the features explode ONCE per doc, and one map-side-
    combined shuffle of ``n_buckets + 1`` rows × K gradient COLUMNS
    carries every class's gradient — language count adds columns, not
    corpus passes, so at 100 TB the fit is ``steps`` scans no matter
    how many languages.  The per-class arithmetic (scoring, gradient
    rounding, weight update) is expression-for-expression the
    sequential :func:`_fit_features` path, so every one-vs-rest
    weight chain — and the x207 oracle that replays them — is
    unchanged.

    Like :func:`_fit_features`, the labeled frame is cached so the
    label-side corpus scan runs once, not once per step."""
    from ..util import retain_cache

    feat = retain_cache(feat)
    n_docs, n_entries = _gd_size_probe(feat)
    if n_docs == 0:
        raise ValueError("no labeled documents with tokens")
    if n_entries <= _DRIVER_GD_ENTRIES:
        import numpy as np

        mats, labels = _collect_feature_matrix(feat, label_col)
        y = np.array([[float(v == lg) for lg in langs]
                      for v in labels])
        fits = _fit_rows_driver(mats, y, n_buckets, steps, lr, quantize)
        return {lg: fits[j] for j, lg in enumerate(langs)}
    wv = {lg: [0.0] * n_buckets for lg in langs}
    bv = {lg: 0.0 for lg in langs}
    for _ in range(steps):
        resid = [
            (_score_expr(wv[lg], bv[lg], quantize)
             - (F.col(label_col) == lg).cast("double")
             ).alias(f"__d{j}")
            for j, lg in enumerate(langs)]
        g = (feat.select("__fs", "__n", *resid)
                 .select(*[f"__d{j}" for j in range(len(langs))],
                         "__n",
                         F.explode(F.concat(
                             "__fs",
                             F.array(F.struct(
                                 F.lit(-1).alias("b"),
                                 (F.col("__n")
                                  / F.lit(float(n_buckets)))
                                 .alias("c"))))).alias("__f"))
                 .groupBy(F.col("__f.b").alias("__b"))
                 .agg(*[F.round(
                     F.sum(F.col(f"__d{j}") * F.col("__f.c")
                           * F.lit(float(n_buckets)) / F.col("__n"))
                     / F.lit(float(n_docs)), quantize)
                     .alias(f"__g{j}") for j in range(len(langs))])
                 .collect())
        for r in g:
            for j, lg in enumerate(langs):
                gj = r[f"__g{j}"]
                if r["__b"] < 0:
                    bv[lg] = round(bv[lg] - lr * gj, quantize)
                else:
                    wv[lg][r["__b"]] = round(
                        wv[lg][r["__b"]] - lr * gj, quantize)
    return {lg: (wv[lg], bv[lg]) for lg in langs}


def quality_classifier_score(df: DataFrame, weights: list[float],
                             bias: float, id_col: str, text_col: str,
                             n_buckets: int | None = None,
                             salt: str = "qclf",
                             quantize: int = 9) -> DataFrame:
    """``(id_col, score, pred)`` for every document with ≥1 token:
    ``score`` = calibrated probability, ``pred`` = score ≥ 0.5.
    Map-only over the feature pass (weights in the plan)."""
    feat = _features(df, id_col, text_col,
                     n_buckets or len(weights), salt)
    p = _score_expr(weights, bias, quantize)
    return feat.select(F.col("__id").alias(id_col),
                       p.alias("score"),
                       (p >= 0.5).alias("pred"))


def quality_classifier_fit_sgd(df: DataFrame, id_col: str,
                               text_col: str, label_col: str,
                               n_buckets: int = 64, epochs: int = 2,
                               batch_size: int = 256, lr: float = 0.5,
                               salt: str = "qclf", seed: int = 42,
                               avg_lr_decay: float = 1.0,
                               audit_sink: list | None = None):
    """THROUGHPUT twin of :func:`quality_classifier_fit` — parallel
    mini-batch SGD (Zinkevich et al. 2010): each md5 shard runs its
    own sequential SGD (NumPy, Arrow-batched), then the shard weights
    average doc-weighted — ONE corpus pass per epoch instead of one per
    GD step, so a 12-step full-batch budget becomes 2 passes.  Shards
    that Spark co-locates in one partition still train separately.
    Communication per epoch: n_shards × (n_buckets + 2) floats, no
    per-step driver round-trips.

    Determinism: run-to-run reproducible (docs shard and order by
    ``md5(id, seed-epoch)`` — partitioning-independent), but NOT the
    cross-engine replayable trajectory: per-shard sequential updates
    have no closed SQL form.  Use :func:`quality_classifier_fit` when
    the trajectory must be auditable (x188); use this when the corpus
    is large enough that ``steps`` full scans dominate — which is also
    when it is ACCURATE: shard averaging needs several mini-batches
    per shard per epoch, so at tiny seed counts (≲ n_parts·batch_size)
    prefer the full-batch path, which is cheap exactly there (measured:
    91–94% prediction agreement at 40k–200k seed docs, SCALE.md §21).

    ``audit_sink`` (a list, appended in place) makes the trajectory's
    one CLOSED-FORM stage — the doc-weighted shard averaging —
    externally checkable even though the per-shard SGD is not: each
    epoch logs one record per shard ``{epoch, shard, n, w_sum, b}``
    (``w_sum`` = unrounded float sum of the shard's weight vector, a
    linear checksum) plus the epoch's averaged ``{epoch, shard: -1,
    n: total, w_sum, b}``.  Because averaging is linear, the averaged
    ``w_sum`` must equal ``Σ shard_w_sum · n/total`` — an independent
    engine can replay that reduction from the logged rows and expose
    any shard-weighting bug (x202).

    Returns ``(weights, bias)`` compatible with
    :func:`quality_classifier_score`.
    """
    import math

    import numpy as np
    import pandas as pd

    from ..session import default_parallelism

    feat = (_features(df, id_col, text_col, n_buckets, salt)
            .join(df.select(F.col(id_col).alias("__id"),
                            F.col(label_col).cast("double").alias("__y")),
                  "__id")
            .select("__id",
                    F.expr("transform(__fs, f -> f.b)").alias("__bs"),
                    F.expr("transform(__fs, f -> f.c)").alias("__cs"),
                    "__n", "__y"))
    n_parts = max(2, default_parallelism() // 2)
    w = np.zeros(n_buckets, dtype=np.float64)
    bias = 0.0
    schema = ("part int, n long, w array<double>, b double")

    for epoch in range(epochs):
        key = md5_bucket(F.col("__id"), salt=f"{salt}-sgd-{seed}-{epoch}")
        sharded = (feat.withColumn("__k", key)
                       .withColumn("__p", F.pmod(F.col("__k"), n_parts))
                       .repartition(n_parts, F.col("__p"))
                       .sortWithinPartitions("__p", "__k", "__id"))
        w0, b0 = w.copy(), bias
        eff_lr = lr * (avg_lr_decay ** epoch)

        def shard_sgd(pdfs):
            # ONE sequential SGD per SHARD key __p, whatever partition
            # Spark placed it in (the partitioner may co-locate shards):
            # rows arrive sorted by (__p, __k, __id), so a shard is one
            # contiguous run that may span Arrow chunks or share a chunk
            # with its neighbour.  State carries across chunks and
            # mini-batches fill from a row buffer, so batch boundaries
            # are independent of arrow.maxRecordsPerBatch; when __p
            # changes, the finished shard flushes its partial batch and
            # emits its row, and the next restarts from (w0, b0).
            lw, lb, seen = w0.copy(), b0, 0
            part = None
            buf: list = []

            def step(batch):
                nonlocal lw, lb, seen
                gb = np.zeros(n_buckets, dtype=np.float64)
                gbias = 0.0
                for bs, cs, n, y in batch:
                    bs = np.asarray(bs, dtype=np.int64)
                    xs = (np.asarray(cs, dtype=np.float64)
                          * n_buckets / n)
                    z = float(lw[bs] @ xs) + lb
                    if z >= 0:                   # overflow-safe sigmoid
                        p = 1.0 / (1.0 + math.exp(-z))
                    else:
                        ez = math.exp(z)
                        p = ez / (1.0 + ez)
                    np.add.at(gb, bs, (p - y) * xs)
                    gbias += p - y
                m = len(batch)
                lw -= eff_lr * gb / m
                lb -= eff_lr * gbias / m
                seen += m

            def finish():
                if buf:
                    step(buf)
                return pd.DataFrame({"part": [part], "n": [seen],
                                     "w": [lw.tolist()], "b": [lb]})

            for pdf in pdfs:
                for sp, *row in zip(pdf["__p"], pdf["__bs"], pdf["__cs"],
                                    pdf["__n"], pdf["__y"]):
                    if sp != part:
                        if part is not None:
                            yield finish()
                        part, buf = int(sp), []
                        lw, lb, seen = w0.copy(), b0, 0
                    buf.append(row)
                    if len(buf) == batch_size:
                        step(buf)
                        buf = []
            if part is not None:
                yield finish()

        parts = sharded.mapInPandas(shard_sgd, schema).collect()
        total = sum(r["n"] for r in parts)
        if total == 0:
            raise ValueError("no labeled documents with tokens")
        w = np.zeros(n_buckets, dtype=np.float64)
        bias = 0.0
        for r in parts:
            w += np.asarray(r["w"]) * (r["n"] / total)
            bias += r["b"] * (r["n"] / total)
        if audit_sink is not None:
            for r in sorted(parts, key=lambda r: r["part"]):
                audit_sink.append(
                    {"epoch": epoch, "shard": int(r["part"]),
                     "n": int(r["n"]),
                     "w_sum": float(np.sum(np.asarray(r["w"]))),
                     "b": float(r["b"])})
            audit_sink.append(
                {"epoch": epoch, "shard": -1, "n": int(total),
                 "w_sum": float(np.sum(w)), "b": float(bias)})
    return [float(x) for x in w], float(bias)


def calibration_bins(scored: DataFrame, score_col: str = "score",
                     label_col: str = "label", bins: int = 10,
                     quantize: int = 6) -> DataFrame:
    """Reliability table for a probabilistic scorer — the quality-model
    EVALUATION the curation stack needs before trusting a learned gate:
    scores bucket into ``bins`` equal-width bins and each occupied bin
    reports ``(bin, n, mean_score, frac_pos, gap)`` with
    ``gap = |mean_score − frac_pos|`` (the reliability-diagram rows;
    ``Σ n·gap / Σ n`` is expected calibration error).

    Scale shape: ONE map-side-combined shuffle of ≤ ``bins`` rows —
    evaluation cost is a single corpus pass regardless of size.  All
    reductions round to ``quantize`` dp, so an external engine replays
    the table value-for-value (x194)."""
    # clamp both ends: a scorer drifting slightly outside [0, 1]
    # (float noise, miscalibrated logits) lands in the edge bins
    # instead of creating phantom negative/overflow bins
    b = F.greatest(F.least(F.floor(F.col(score_col) * bins),
                           F.lit(bins - 1)), F.lit(0)).cast("int")
    return (scored.groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(score_col), quantize).alias("mean_score"),
                 F.round(F.avg(F.col(label_col).cast("double")),
                         quantize).alias("frac_pos"))
            .withColumn("gap", F.round(F.abs(F.col("mean_score")
                                             - F.col("frac_pos")),
                                       quantize))
            .orderBy("bin"))


def gate_agreement(df: DataFrame, label_a, label_b,
                   name_a: str = "a", name_b: str = "b") -> DataFrame:
    """Inter-gate agreement readout — Cohen's kappa between two
    boolean screens (e.g. the heuristic quality gate vs the Gopher
    rule conjunction): the redundancy check that tells a curation
    stack whether a second gate adds signal or just re-labels the
    first one's decisions.

    ``label_a`` / ``label_b`` are boolean Columns evaluated on ``df``.
    Returns ONE row: the 2×2 confusion counts (``n_tt``, ``n_tf``,
    ``n_ft``, ``n_ff``), observed agreement ``p_o``, chance agreement
    ``p_e`` (from the marginals), and ``kappa = (p_o − p_e)/(1 −
    p_e)`` (NULL when p_e = 1 — a degenerate all-one-cell table).
    Every input to the formulas is an exact integer count, so the
    readout replays bit-for-bit; rates rounded 6 dp, kappa 4 dp.

    One map-side label projection + one 4-cell aggregate — no
    shuffle beyond the global reduce."""
    a = label_a.cast("int")
    b = label_b.cast("int")
    row = df.select(a.alias("__a"), b.alias("__b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("__a") == 1) & (F.col("__b") == 1), 1)
              .otherwise(0)).alias("n_tt"),
        F.sum(F.when((F.col("__a") == 1) & (F.col("__b") == 0), 1)
              .otherwise(0)).alias("n_tf"),
        F.sum(F.when((F.col("__a") == 0) & (F.col("__b") == 1), 1)
              .otherwise(0)).alias("n_ft"),
        F.sum(F.when((F.col("__a") == 0) & (F.col("__b") == 0), 1)
              .otherwise(0)).alias("n_ff"))
    n = F.col("n").cast("double")
    po = (F.col("n_tt") + F.col("n_ff")) / n
    pa1 = (F.col("n_tt") + F.col("n_tf")) / n
    pb1 = (F.col("n_tt") + F.col("n_ft")) / n
    pe = pa1 * pb1 + (F.lit(1.0) - pa1) * (F.lit(1.0) - pb1)
    kappa = F.when(pe < 1.0,
                   F.round((po - pe) / (F.lit(1.0) - pe), 4))
    return (row.withColumn("p_o", F.round(po, 6))
               .withColumn("p_e", F.round(pe, 6))
               .withColumn("kappa", kappa)
               .select("n", "n_tt", "n_tf", "n_ft", "n_ff",
                       "p_o", "p_e", "kappa"))


def auc_exact(scored: DataFrame, score_col: str = "score",
              label_col: str = "label",
              round_to: int = 6) -> DataFrame:
    """Exact ROC AUC by the rank statistic — the threshold-free
    companion of :func:`calibration_bins` (x194 audits whether scores
    mean what they say; this audits whether they RANK):

        AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋),

    with R₊ the positive class's midrank sum (ties share their
    average rank — the trapezoidal ROC convention).  Returns ONE row
    ``(n_pos, n_neg, auc, gini)`` (gini = 2·AUC − 1); NULL on a
    single-class input.

    Reuses the two-sample machinery
    (:func:`~datum_spark.operators.twosample._cumulative_rollup`, the
    distributed prefix sum over the per-distinct-score rollup), so the
    shuffle is score-cardinality-sized and every rank sum is
    integers-and-halves over exact counts — zero FP-order hazard, the
    oracle replays bit-for-bit."""
    from .twosample import _cumulative_rollup

    c = _cumulative_rollup(
        scored.select(F.col(label_col).cast("long").alias("__l"),
                      F.col(score_col)),
        "__l", score_col, 1)
    t = F.col("ca") + F.col("cb")
    cumn = F.col("cum_a") + F.col("cum_b")
    midrank = cumn.cast("double") + (t.cast("double") + 1.0) / 2.0
    agg = c.agg(F.sum("ca").cast("long").alias("n_pos"),
                F.sum("cb").cast("long").alias("n_neg"),
                F.sum(F.col("ca").cast("double") * midrank).alias("ra"))
    np_ = F.col("n_pos").cast("double")
    nn_ = F.col("n_neg").cast("double")
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    auc = F.when(ok, F.round(
        (F.col("ra") - np_ * (np_ + 1.0) / 2.0)
        / F.nullif(np_ * nn_, F.lit(0.0)), round_to))
    return agg.select(
        "n_pos", "n_neg", auc.alias("auc"),
        F.when(ok, F.round(F.lit(2.0) * (
            (F.col("ra") - np_ * (np_ + 1.0) / 2.0)
            / F.nullif(np_ * nn_, F.lit(0.0))) - F.lit(1.0),
            round_to)).alias("gini"))
