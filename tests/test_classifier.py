"""Trainable quality classifier (operators/classifier.py): separable
convergence, deterministic trajectories, degenerate inputs."""

import pytest
from pyspark.sql import functions as F

from datum_spark.operators.classifier import (quality_classifier_fit,
                                              quality_classifier_score)


@pytest.fixture(scope="module")
def toy(spark):
    rows = [(i, "apple banana cherry apple", 1) for i in range(40)] + \
           [(i + 100, "cat dog mouse dog cat", 0) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string, y int")


def test_separable_converges(spark, toy):
    w, b = quality_classifier_fit(toy, "doc_id", "text", "y",
                                  n_buckets=64, steps=6, lr=0.5)
    s = quality_classifier_score(toy, w, b, "doc_id", "text")
    got = {r["doc_id"]: r["pred"] for r in s.collect()}
    assert all(got[i] for i in range(40))
    assert not any(got[i + 100] for i in range(40))
    # calibrated direction: positive scores above negative scores
    sc = {r["doc_id"]: r["score"] for r in s.collect()}
    assert min(sc[i] for i in range(40)) > max(sc[i + 100] for i in range(40))


def test_training_deterministic(spark, toy):
    a = quality_classifier_fit(toy, "doc_id", "text", "y",
                               n_buckets=32, steps=4, lr=1.0)
    b = quality_classifier_fit(toy, "doc_id", "text", "y",
                               n_buckets=32, steps=4, lr=1.0)
    assert a == b


def test_zero_token_docs_excluded(spark):
    df = spark.createDataFrame(
        [(1, "apple apple", 1), (2, "", 0), (3, "   ", 0),
         (4, "cat cat", 0)], "doc_id long, text string, y int")
    w, b = quality_classifier_fit(df, "doc_id", "text", "y",
                                  n_buckets=16, steps=3, lr=0.5)
    out = quality_classifier_score(df, w, b, "doc_id", "text")
    assert {r["doc_id"] for r in out.collect()} == {1, 4}


def test_all_labeled_docs_empty_raises(spark):
    df = spark.createDataFrame([(1, "", 1)], "doc_id long, text string, y int")
    with pytest.raises(ValueError):
        quality_classifier_fit(df, "doc_id", "text", "y", n_buckets=8)


def test_score_monotone_in_feature_weight(spark, toy):
    """A doc made ONLY of positive-class tokens must outscore a mixed
    doc, which must outscore a negative-only doc (weights transfer to
    unseen compositions — the 'score everything' use)."""
    w, b = quality_classifier_fit(toy, "doc_id", "text", "y",
                                  n_buckets=64, steps=6, lr=0.5)
    probe = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple dog"), (3, "dog mouse")],
        "doc_id long, text string")
    sc = {r["doc_id"]: r["score"] for r in
          quality_classifier_score(probe, w, b, "doc_id", "text").collect()}
    # short probes saturate (sigmoid of B-scaled z rounds to 0/1 at
    # 9 dp), so assert the weak order plus the extremes
    assert sc[1] >= sc[2] >= sc[3]
    assert sc[1] > 0.9 and sc[3] < 0.1



def test_sgd_twin_converges_like_fullbatch(spark, toy):
    """The throughput twin reaches the same decision function on the
    separable fixture: identical predictions and the same score order
    as the 6-step full-batch trajectory, in 2 passes."""
    from datum_spark.operators.classifier import quality_classifier_fit_sgd

    w, b = quality_classifier_fit_sgd(toy, "doc_id", "text", "y",
                                      n_buckets=64, epochs=2,
                                      batch_size=16, lr=0.5)
    s = quality_classifier_score(toy, w, b, "doc_id", "text")
    got = {r["doc_id"]: r["pred"] for r in s.collect()}
    assert all(got[i] for i in range(40))
    assert not any(got[i + 100] for i in range(40))
    sc = {r["doc_id"]: r["score"] for r in s.collect()}
    assert min(sc[i] for i in range(40)) > max(sc[i + 100]
                                               for i in range(40))


def test_sgd_twin_deterministic_and_partition_invariant(spark, toy):
    """md5 sharding + in-shard ordering make the twin reproducible
    run-to-run AND invariant to the input's physical partitioning."""
    from datum_spark.operators.classifier import quality_classifier_fit_sgd

    a = quality_classifier_fit_sgd(toy, "doc_id", "text", "y",
                                   n_buckets=32, epochs=1,
                                   batch_size=8, lr=1.0)
    b = quality_classifier_fit_sgd(toy.repartition(7), "doc_id", "text",
                                   "y", n_buckets=32, epochs=1,
                                   batch_size=8, lr=1.0)
    c = quality_classifier_fit_sgd(toy.coalesce(1), "doc_id", "text",
                                   "y", n_buckets=32, epochs=1,
                                   batch_size=8, lr=1.0)
    assert a == b == c


# ---------------------------------------------------------------------------
# persistent PQ index (similarity.py) — co-located with this round's ops

def test_pq_index_build_query_equals_refit(spark, tmp_path):
    from datum_spark.operators.similarity import (pq_adc_topk,
                                                  pq_index_build,
                                                  pq_index_query,
                                                  pq_train_encode)
    from datum_spark.sources.registry import read_parquet_normalized

    emb = read_parquet_normalized(
        spark, "/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "pq")
    meta = pq_index_build(emb, idx, m=8, ksub=8, iters=2)
    assert meta["n_vectors"] == emb.filter("embedding is not null").count()
    qs = emb.filter("vec_id < 5")
    served = {(r["query_id"], r["vec_id"], r["rnk"])
              for r in pq_index_query(qs, idx, k=5).collect()}
    codes, books = pq_train_encode(emb, m=8, ksub=8, iters=2)
    refit = {(r["query_id"], r["vec_id"], r["rnk"])
             for r in pq_adc_topk(qs, codes, books, k=5).collect()}
    assert served == refit and len(served) == 25


def test_pq_index_add_assign_only(spark, tmp_path):
    from datum_spark.operators.similarity import (pq_index_add,
                                                  pq_index_build,
                                                  pq_index_query)
    from datum_spark.sources.registry import read_parquet_normalized

    emb = read_parquet_normalized(
        spark, "/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter("vec_id >= 20")
    delta = emb.filter("vec_id < 20")
    idx = str(tmp_path / "pq2")
    pq_index_build(base, idx, m=8, ksub=8, iters=2)
    n = pq_index_add(delta, idx)
    assert n == delta.filter("embedding is not null").count()
    # a delta vector queried against the index must retrieve itself at
    # rank 1 (its own code has ADC distance == the minimum possible)
    q = emb.filter("vec_id = 3")
    top = pq_index_query(q, idx, k=1).collect()
    assert top and top[0]["vec_id"] == 3 and top[0]["rnk"] == 1


def test_training_partitioning_invariant(spark, toy):
    """The rounding-absorption contract the x188 oracle rests on:
    different physical partitionings change Spark's summation order,
    but every reduction is quantized — the trajectory must be
    bit-identical."""
    a = quality_classifier_fit(toy.repartition(1), "doc_id", "text", "y",
                               n_buckets=32, steps=4, lr=1.0)
    b = quality_classifier_fit(toy.repartition(32), "doc_id", "text", "y",
                               n_buckets=32, steps=4, lr=1.0)
    c = quality_classifier_fit(toy.coalesce(2), "doc_id", "text", "y",
                               n_buckets=32, steps=4, lr=1.0)
    assert a == b == c


def test_calibration_bins_hand_computed(spark):
    from datum_spark.operators.classifier import calibration_bins

    rows = [(0.05, 0), (0.05, 0),            # bin 0: mean .05, frac 0
            (0.95, 1), (0.95, 1), (0.95, 0),  # bin 9: mean .95, frac 2/3
            (1.0, 1)]                         # score 1.0 clamps to bin 9
    df = spark.createDataFrame(rows, "score double, label int")
    got = {r["bin"]: r.asDict()
           for r in calibration_bins(df, bins=10).collect()}
    assert set(got) == {0, 9}
    assert got[0]["n"] == 2 and got[0]["frac_pos"] == 0.0
    assert got[9]["n"] == 4
    assert got[9]["mean_score"] == round((0.95 * 3 + 1.0) / 4, 6)
    assert got[9]["frac_pos"] == 0.75
    assert got[9]["gap"] == round(abs(got[9]["mean_score"] - 0.75), 6)


def test_sgd_twin_invariant_to_arrow_chunking(spark, toy):
    """The per-shard SGD must carry state across Arrow chunks and fill
    mini-batches through a buffer: shrinking maxRecordsPerBatch to 7
    cannot change the trained model (the code-review finding: the old
    loop reset to epoch-start weights every chunk)."""
    from datum_spark.operators.classifier import quality_classifier_fit_sgd

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key, None)
    a = quality_classifier_fit_sgd(toy, "doc_id", "text", "y",
                                   n_buckets=32, epochs=1,
                                   batch_size=8, lr=1.0)
    try:
        spark.conf.set(key, "7")
        b = quality_classifier_fit_sgd(toy, "doc_id", "text", "y",
                                       n_buckets=32, epochs=1,
                                       batch_size=8, lr=1.0)
    finally:
        if before is not None:
            spark.conf.set(key, before)
        else:
            spark.conf.unset(key)
    assert a == b


def test_sgd_audit_sink_replays_averaging(spark):
    """The logged shard checksums must reproduce the driver's averaged
    checksum exactly (linearity of the weight-sum under doc-weighted
    averaging) — and the sink must not change the trained model."""
    from datum_spark.operators.classifier import quality_classifier_fit_sgd

    rows = [(i, f"apple banana w{i % 17} apple", 1) for i in range(200)] \
        + [(i + 1000, f"cat dog w{i % 13} mouse", 0) for i in range(200)]
    toy = spark.createDataFrame(rows, "doc_id long, text string, y int")
    audit: list = []
    w1, b1 = quality_classifier_fit_sgd(toy, "doc_id", "text", "y",
                                        n_buckets=32, epochs=2,
                                        batch_size=32,
                                        audit_sink=audit)
    w2, b2 = quality_classifier_fit_sgd(toy, "doc_id", "text", "y",
                                        n_buckets=32, epochs=2,
                                        batch_size=32)
    assert (w1, b1) == (w2, b2)
    epochs = sorted({r["epoch"] for r in audit})
    assert epochs == [0, 1]
    for e in epochs:
        sh = [r for r in audit if r["epoch"] == e and r["shard"] >= 0]
        av = [r for r in audit if r["epoch"] == e and r["shard"] == -1]
        assert len(av) == 1 and len(sh) >= 2
        total = sum(r["n"] for r in sh)
        assert total == av[0]["n"]
        w_replay = sum(r["w_sum"] * r["n"] for r in sh) / total
        b_replay = sum(r["b"] * r["n"] for r in sh) / total
        assert abs(w_replay - av[0]["w_sum"]) < 1e-9
        assert abs(b_replay - av[0]["b"]) < 1e-9
        assert len({r["shard"] for r in sh}) == len(sh)


@pytest.mark.parametrize("cpus", [4, 8, 32])
def test_sgd_trains_each_md5_shard_separately(spark, monkeypatch, cpus):
    """One audit record per md5 shard, holding exactly that shard's docs,
    whatever partition Spark's partitioner places the shard in: the
    audited ``{shard: n}`` equals an independent count of
    ``pmod(md5_bucket(id, salt), n_parts)`` (n_parts = 2, 4, 16)."""
    from datum_spark.operators.classifier import quality_classifier_fit_sgd
    from datum_spark.operators.sampling import md5_bucket

    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    n_parts = max(2, cpus // 2)
    rows = [(i, f"apple banana w{i % 17} apple", 1) for i in range(200)] \
        + [(i + 1000, f"cat dog w{i % 13} mouse", 0) for i in range(200)]
    toy = spark.createDataFrame(rows, "doc_id long, text string, y int")
    audit: list = []
    quality_classifier_fit_sgd(toy, "doc_id", "text", "y", n_buckets=32,
                               epochs=2, batch_size=32, audit_sink=audit)
    for e in (0, 1):
        got = {r["shard"]: r["n"] for r in audit
               if r["epoch"] == e and r["shard"] >= 0}
        shard = F.pmod(md5_bucket(F.col("doc_id"), salt=f"qclf-sgd-42-{e}"),
                       n_parts)
        want = {r["s"]: r["n"] for r in
                toy.groupBy(shard.alias("s")).agg(F.count("*").alias("n"))
                .collect()}
        assert got == want


def test_gate_agreement_kappa_properties(spark):
    """kappa = 1 on identical gates, ~0 on independent ones, NULL on a
    degenerate single-cell table; confusion counts exact."""
    from pyspark.sql import functions as F

    from datum_spark.operators.classifier import gate_agreement

    df = spark.range(1000)
    # identical gates
    r = gate_agreement(df, F.col("id") % 2 == 0,
                       F.col("id") % 2 == 0).first()
    assert r["kappa"] == 1.0 and r["n_tf"] == r["n_ft"] == 0
    # independent gates (id%2 vs id//2%2): kappa == 0 exactly on this
    # balanced construction
    r2 = gate_agreement(df, F.col("id") % 2 == 0,
                        (F.col("id") / 2).cast("long") % 2 == 0).first()
    assert abs(r2["kappa"]) < 0.01
    # degenerate: both gates always true -> p_e = 1 -> NULL kappa
    r3 = gate_agreement(df, F.lit(True), F.lit(True)).first()
    assert r3["kappa"] is None and r3["n_tt"] == 1000


def test_auc_exact_matches_reference_and_guards(spark):
    """AUC vs a numpy midrank computation on tied scores; perfect
    separation -> 1.0; random labels ~0.5; single class -> NULL."""
    import numpy as np
    import pandas as pd

    from datum_spark.operators.classifier import auc_exact

    rng = np.random.RandomState(13)
    pos = np.round(rng.normal(0.7, 0.15, 300).clip(0, 1), 2)
    neg = np.round(rng.normal(0.4, 0.15, 500).clip(0, 1), 2)
    pdf = pd.DataFrame({"label": [1] * 300 + [0] * 500,
                        "score": np.concatenate([pos, neg])})
    r = auc_exact(spark.createDataFrame(pdf)).collect()[0]
    ranks = pdf.score.rank(method="average")
    ref = (ranks[:300].sum() - 300 * 301 / 2) / (300.0 * 500.0)
    assert r.n_pos == 300 and r.n_neg == 500
    assert r.auc == pytest.approx(ref, abs=1e-6)
    assert r.gini == pytest.approx(2 * ref - 1, abs=1e-6)
    assert 0.8 < r.auc < 1.0

    perfect = spark.createDataFrame(pd.DataFrame(
        {"label": [1] * 5 + [0] * 5,
         "score": [0.9, 0.8, 0.7, 0.65, 0.6, 0.4, 0.3, 0.2, 0.1, 0.0]}))
    assert auc_exact(perfect).collect()[0].auc == 1.0

    one_class = spark.createDataFrame(pd.DataFrame(
        {"label": [1, 1], "score": [0.3, 0.6]}))
    assert auc_exact(one_class).collect()[0].auc is None


def test_driver_gd_finish_matches_distributed(spark, toy, monkeypatch):
    """The size-gated driver GD finisher must reproduce the distributed
    loop's weight trajectory VALUE-FOR-VALUE (binary and multiclass) —
    same folds, same rounding points, same updates."""
    import datum_spark.operators.classifier as clf

    w_drv, b_drv = quality_classifier_fit(
        toy, "doc_id", "text", "y", n_buckets=64, steps=6, lr=0.5)
    monkeypatch.setattr(clf, "_DRIVER_GD_ENTRIES", -1)  # force distributed
    w_dist, b_dist = quality_classifier_fit(
        toy, "doc_id", "text", "y", n_buckets=64, steps=6, lr=0.5)
    assert b_drv == b_dist
    assert w_drv == w_dist


def test_driver_gd_multi_matches_distributed(spark, monkeypatch):
    import datum_spark.operators.classifier as clf
    from datum_spark.operators.classifier import (_features,
                                                  _fit_features_multi)

    rows = [(i, "aa bb cc aa", "en") for i in range(20)] + \
           [(i + 50, "xx yy zz yy", "fr") for i in range(20)] + \
           [(i + 100, "mm nn oo pp", "de") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    feat = (_features(df, "doc_id", "text", 32, "t")
            .join(df.select(F.col("doc_id").alias("__id"),
                            F.col("lang").alias("__lang")), "__id"))
    langs = ["de", "en", "fr"]
    drv = _fit_features_multi(feat, langs, 32, 5, 1.0, 9)
    monkeypatch.setattr(clf, "_DRIVER_GD_ENTRIES", -1)
    feat2 = (_features(df, "doc_id", "text", 32, "t")
             .join(df.select(F.col("doc_id").alias("__id"),
                             F.col("lang").alias("__lang")), "__id"))
    dist = _fit_features_multi(feat2, langs, 32, 5, 1.0, 9)
    assert set(drv) == set(dist)
    for lg in langs:
        assert drv[lg][1] == dist[lg][1]
        assert drv[lg][0] == dist[lg][0]


def test_driver_gd_fuzz_matches_distributed(spark, monkeypatch):
    """Randomized driver-vs-distributed agreement (ADVICE r13): the two
    toy tests above use uniform doc lengths, which never exercise the
    per-term op-order corners ((resid·c)·B/n vs (resid/n)·c·B, the
    bias pseudo-bucket's (n/B)·B/n) — fuzz with highly varied token
    counts and labels so any systematic fork between the paths
    surfaces as a weight mismatch."""
    import random

    import datum_spark.operators.classifier as clf

    rng = random.Random(1234)
    vocab = [f"w{i:03d}" for i in range(300)]
    rows = []
    for i in range(400):
        n_tok = rng.choice([1, 2, 3, 7, 13, 31, 64, 97, 150, 211])
        text = " ".join(rng.choice(vocab) for _ in range(n_tok))
        rows.append((i, text, rng.random() < 0.4))
    df = spark.createDataFrame(rows, "doc_id long, text string, y boolean")

    w_drv, b_drv = quality_classifier_fit(
        df, "doc_id", "text", "y", n_buckets=64, steps=4, lr=0.5)
    monkeypatch.setattr(clf, "_DRIVER_GD_ENTRIES", -1)
    w_dist, b_dist = quality_classifier_fit(
        df, "doc_id", "text", "y", n_buckets=64, steps=4, lr=0.5)
    assert b_drv == b_dist
    assert w_drv == w_dist


def test_sql_round_vec_matches_decimal_reference():
    """The vectorized fast path of _sql_round_vec must agree with the
    pure shortest-repr HALF_UP decimal spelling value-for-value AND in
    signbit (-0.0 for tiny negatives) — including adversarial
    exact-half reprs, which must route through the decimal path."""
    import decimal

    import numpy as np

    from datum_spark.operators.classifier import _sql_round_vec

    def ref(xs, nd):
        q = decimal.Decimal(1).scaleb(-nd)
        return np.array([float(decimal.Decimal(repr(float(v))).quantize(
            q, rounding=decimal.ROUND_HALF_UP)) for v in xs])

    rng = np.random.default_rng(42)
    for nd in (0, 4, 6, 9):
        x = np.concatenate([
            rng.normal(0, 1, 20000),
            rng.normal(0, 1e3, 2000),
            rng.normal(0, 1e-7, 2000),
            # exact-half decimal reprs: the band where binary
            # floor(x*s + 0.5) disagrees with SQL ROUND
            np.round(rng.uniform(-10, 10, 5000), nd) + 0.5 / 10 ** nd,
            np.round(rng.uniform(-10, 10, 5000), nd) - 0.5 / 10 ** nd,
            np.array([2.675, -2.675, 0.5, -0.5, 1.005, -1.005,
                      0.0, -0.0, 0.1 + 0.2]),
        ])
        got, want = _sql_round_vec(x, nd), ref(x, nd)
        assert (got == want).all()
        assert (np.signbit(got) == np.signbit(want)).all()


def test_driver_bias_term_matches_sql_order():
    """Fuzz: the driver GD's per-doc bias-gradient term equals a
    per-element replay of the distributed SQL's left-to-right
    ``((p - y) * c) * B / n`` with ``c = n / B`` on random doubles —
    where the regrouped ``(p - y) * ((n / B) * B / n)`` spelling
    differs by an ulp on a sizeable share of them."""
    import numpy as np

    from datum_spark.operators.classifier import _bias_grad_terms

    rng = np.random.default_rng(7)
    resid = rng.uniform(-1.0, 1.0, 20000)
    n = rng.integers(1, 5000, 20000).astype(np.float64)
    for nb in (32.0, 256.0, 1000.0):
        want = np.array([((r * (m / nb)) * nb) / m
                         for r, m in zip(resid.tolist(), n.tolist())])
        assert (_bias_grad_terms(resid, n, nb) == want).all()
        # the fuzz has power: the regrouped spelling forks
        assert (resid * ((n / nb) * nb / n) != want).any()
