"""End-to-end training-corpus pipeline: the canonical operator
composition must run on the fixture corpus, write balanced shards, and
self-report a coherent per-stage audit trail."""

import os

import pytest
from pyspark.sql import functions as F

from datum_spark.pipelines import build_training_corpus
from datum_spark.sources.registry import read_parquet_normalized
from datum_spark.util import clear_operator_caches

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    return read_parquet_normalized(spark, f"{SF}/documents.parquet")


@pytest.fixture()
def assert_released(spark):
    """Start from an empty cache; the returned check asserts that the
    in-memory runner unpersisted every stage boundary it persisted."""
    spark.catalog.clearCache()

    def check():
        clear_operator_caches()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    return check


def test_pipeline_end_to_end(spark, corpus, tmp_path, assert_released):
    eval_df = corpus.filter(F.col("doc_id") < 20)
    docs = corpus.filter(F.col("doc_id") >= 20)
    out = str(tmp_path / "shards")
    sharded, report = build_training_corpus(
        docs, eval_df, out, n_shards=4, min_quality=0.2,
        contamination_ngram=5,
        source_weights={"src0": 1.0}, default_weight=0.8)
    assert_released()

    # monotone per-stage funnel, every stage did something sane
    assert (report["rows_in"] >= report["rows_quality"]
            >= report["rows_deduped"] >= report["rows_decontaminated"]
            >= report["rows_mixed"] > 0)
    # dedup actually collapsed something on this near-dup-seeded fixture
    assert report["rows_deduped"] < report["rows_quality"]
    # the write job observed exactly what landed on disk
    back = spark.read.parquet(out)
    assert back.count() == report["rows"] == report["rows_mixed"]
    assert report["tokens"] > 0 and report["token_budget"] > 0
    # round-7: the dedup stage's LSH bucket-cap loss is reported, never
    # silent — this clean fixture must show zero skipped buckets
    assert report["lsh_buckets"] > 0 and report["lsh_buckets_skipped"] == 0
    # hive shard layout, all shards present
    shards = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert len(shards) >= 2
    # no contaminated doc survived: re-screen the output -> empty
    from datum_spark.operators.dedup import benchmark_contamination
    assert benchmark_contamination(back, eval_df, "doc_id", "text",
                                   n=5).count() == 0


def test_pipeline_without_eval_set(spark, corpus, tmp_path):
    sharded, report = build_training_corpus(
        corpus.filter(F.col("doc_id") < 100), None,
        str(tmp_path / "s2"), n_shards=2, min_quality=0.0)
    assert report["rows_decontaminated"] == report["rows_deduped"]
    assert report["rows"] == report["rows_mixed"]


def test_pipeline_deterministic(spark, corpus, tmp_path):
    """Same input -> identical shard assignment and identical report
    (every stage is a pure function of the data)."""
    docs = corpus.filter(F.col("doc_id") >= 20)
    eval_df = corpus.filter(F.col("doc_id") < 20)
    s1, r1 = build_training_corpus(docs, eval_df, str(tmp_path / "a"),
                                   n_shards=4, contamination_ngram=5)
    s2, r2 = build_training_corpus(docs, eval_df, str(tmp_path / "b"),
                                   n_shards=4, contamination_ngram=5)
    assert r1 == r2
    a = {r["doc_id"]: r["shard"] for r in s1.select("doc_id", "shard").collect()}
    b = {r["doc_id"]: r["shard"] for r in s2.select("doc_id", "shard").collect()}
    assert a == b


def test_pipeline_resumable_matches_plain(spark, corpus, tmp_path):
    """workdir mode must produce the same corpus as the single-pass
    composition, and a second run must RESUME (no stage recompute) and
    still rewrite identical shards."""
    eval_df = corpus.filter(F.col("doc_id") < 20)
    docs = corpus.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 400))
    kw = dict(n_shards=2, min_quality=0.2, contamination_ngram=5,
              source_weights={"src0": 1.0}, default_weight=0.8)

    _, plain = build_training_corpus(docs, eval_df,
                                     str(tmp_path / "plain"), **kw)
    wd = str(tmp_path / "wd")
    _, r1 = build_training_corpus(docs, eval_df, str(tmp_path / "c1"),
                                  workdir=wd, run_id="cfg1", **kw)
    # same funnel as the plain composition
    for k in ("rows_quality", "rows_deduped", "rows_decontaminated",
              "rows_mixed", "rows", "tokens"):
        assert r1[k] == plain[k], k
    assert r1["resumed_quality"] is False and r1["resumed_deduped"] is False
    assert r1["lsh_buckets"] > 0          # flood stats present on compute
    # identical rows on disk
    a = {tuple(r) for r in spark.read.parquet(str(tmp_path / "plain"))
         .select("doc_id").collect()}
    b = {tuple(r) for r in spark.read.parquet(str(tmp_path / "c1"))
         .select("doc_id").collect()}
    assert a == b

    # second run: every checkpoint resumes; dedup must NOT be recomputed
    # — poison the operator to prove the stage never runs

    def _boom(*a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("dedup recomputed on resume")

    from datum_spark.operators import dedup as dedup_mod
    real = dedup_mod.near_dup_clusters
    dedup_mod.near_dup_clusters = _boom
    try:
        _, r2 = build_training_corpus(docs, eval_df, str(tmp_path / "c2"),
                                      workdir=wd, run_id="cfg1", **kw)
    finally:
        dedup_mod.near_dup_clusters = real
    assert r2["resumed_quality"] and r2["resumed_deduped"]
    assert r2["resumed_decontaminated"]
    assert r2["rows_deduped"] == r1["rows_deduped"]
    assert r2["rows"] == r1["rows"]
    c = {tuple(r) for r in spark.read.parquet(str(tmp_path / "c2"))
         .select("doc_id").collect()}
    assert c == a
    # a different run_id does not reuse cfg1's checkpoints
    _, r3 = build_training_corpus(docs, eval_df, str(tmp_path / "c3"),
                                  workdir=wd, run_id="cfg2", **kw)
    assert r3["resumed_deduped"] is False


def test_pipeline_learned_quality_gate(spark, corpus, tmp_path):
    """quality_model=(w, b) swaps the heuristic gate for the learned
    classifier: the funnel's quality stage keeps exactly the docs whose
    calibrated score clears the threshold."""
    from datum_spark.operators.classifier import (quality_classifier_fit,
                                                  quality_classifier_score)

    docs = corpus.filter(F.col("doc_id") >= 20)
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda t: t != "")
    share = (F.size(F.filter(words, lambda w: w.isin("the", "a")))
             / F.size(words))
    seed = (docs.withColumn("sh", share)
                .filter((F.col("sh") >= 0.09) | (F.col("sh") <= 0.03))
                .withColumn("y", (F.col("sh") >= 0.09).cast("int")))
    model = quality_classifier_fit(seed, "doc_id", "text", "y",
                                   n_buckets=256, steps=12, lr=4.0)
    _, report = build_training_corpus(
        docs, None, str(tmp_path / "lq"), n_shards=2,
        min_quality=0.5, quality_model=model)
    expect = (quality_classifier_score(docs, model[0], model[1],
                                       "doc_id", "text")
              .filter(F.col("score") >= 0.5).count())
    assert report["rows_quality"] == expect
    assert 0 < expect < docs.count()
    assert report["rows"] > 0


def test_pipeline_gopher_quality_gate(spark, corpus, tmp_path):
    """quality_model="gopher" gates on the published rule
    conjunction: the funnel's quality stage keeps exactly the
    gopher_pass docs (r12)."""
    from datum_spark.operators.text import gopher_rules

    docs = corpus.filter(F.col("doc_id") >= 20)
    _, report = build_training_corpus(
        docs, None, str(tmp_path / "gq"), n_shards=2,
        quality_model="gopher")
    expect = (gopher_rules(docs, "text")
              .filter(F.col("gopher_pass")).count())
    assert report["rows_quality"] == expect
    assert report["rows_quality"] <= report["rows_in"]


def test_pipeline_langid_and_perplexity_gates(spark, corpus, tmp_path):
    """Both r11 optional gates on: the language-ID first pass and the
    CCNet-style perplexity filter join the funnel with their own audit
    rows (monotone), and the resumable run resumes THROUGH the new
    stage checkpoints with identical results."""
    from datum_spark.operators.langid import language_classifier_fit
    from datum_spark.operators.unigram import unigram_trained_vocab

    # the fixture's lang labels are random w.r.t. the text, so make
    # them LEARNABLE by appending a per-language script marker — the
    # pipeline then demonstrates the gate actually separating
    docs = (corpus.filter(F.col("doc_id") >= 20)
            .withColumn("text", F.concat_ws(
                " ", F.col("text"), F.expr("repeat(lang, 10)"))))
    models = language_classifier_fit(docs, "doc_id", "text", "lang",
                                     n_buckets=32, steps=4, lr=2.0)
    _w, vocab = unigram_trained_vocab(docs, iters=1)
    # median nats/token threshold: keeps some, drops some
    from datum_spark.operators.unigram import unigram_doc_scores
    thr = (unigram_doc_scores(docs, vocab)
           .approxQuantile("nats_per_token", [0.5], 0.0)[0])
    kw = dict(n_shards=2, min_quality=0.0, lang_models=models,
              allowed_langs={"en", "fr", "de"}, unigram_vocab=vocab,
              max_nats_per_token=thr)
    _s, report = build_training_corpus(
        docs, None, str(tmp_path / "g1"), **kw)
    assert (report["rows_in"] >= report["rows_langid"]
            >= report["rows_quality"] >= report["rows_perplexity"]
            >= report["rows_deduped"] >= report["rows_mixed"] > 0)
    assert report["rows_langid"] < report["rows_in"]     # gate bit
    assert report["rows_perplexity"] < report["rows_quality"]

    # resumable: first run computes, second resumes every stage and
    # reproduces the same funnel counts
    wd = str(tmp_path / "wd")
    _s1, r1 = build_training_corpus(docs, None, str(tmp_path / "g2"),
                                    workdir=wd, run_id="gates", **kw)
    assert r1["resumed_langid"] is False
    assert r1["resumed_perplexity"] is False
    _s2, r2 = build_training_corpus(docs, None, str(tmp_path / "g3"),
                                    workdir=wd, run_id="gates", **kw)
    assert r2["resumed_langid"] and r2["resumed_quality"]
    assert r2["resumed_perplexity"] and r2["resumed_deduped"]
    for k in ("rows_langid", "rows_quality", "rows_perplexity",
              "rows_deduped", "rows_decontaminated", "rows_mixed"):
        assert r1[k] == r2[k] == report[k]


def test_pipeline_c4_quality_gate(spark, corpus, tmp_path):
    """quality_model="c4" gates on the published Raffel 2020 §2.2 rule
    conjunction (r13).  The fixture text has no sentence punctuation,
    so seed terminal punctuation into half the docs — the gate must
    keep exactly the c4_pass set."""
    from datum_spark.operators.text import c4_rules

    docs = (corpus.filter(F.col("doc_id") >= 20)
            .withColumn("text", F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.col("text"),
                         F.lit(" one. two. three. four. five.")))
                .otherwise(F.col("text"))))
    _, report = build_training_corpus(
        docs, None, str(tmp_path / "c4"), n_shards=2,
        quality_model="c4")
    expect = c4_rules(docs, "text").filter(F.col("c4_pass")).count()
    assert report["rows_quality"] == expect
    assert 0 < expect < report["rows_in"]      # the gate actually gates


def test_pipeline_gopher_rep_and_composed_gates(spark, corpus, tmp_path,
                                                assert_released):
    """quality_model="gopher_rep" gates on the Rae 2021 §A1.2
    repetition conjunction; "gopher+rep" composes §A1.1 AND §A1.2 as
    TWO funnel stages (rows_quality = page-shape survivors,
    rows_repetition = the conjunction) — r13 wires the x213/x214
    audit columns into the pipeline gate."""
    from datum_spark.operators.text import gopher_repetition, gopher_rules

    docs = corpus.filter(F.col("doc_id") >= 20)
    _, rep = build_training_corpus(
        docs, None, str(tmp_path / "rep"), n_shards=2,
        quality_model="gopher_rep")
    n_rep = (gopher_repetition(docs, "doc_id", "text")
             .filter(F.col("repetition_pass")).count())
    assert rep["rows_quality"] == n_rep and n_rep > 0

    _, both = build_training_corpus(
        docs, None, str(tmp_path / "both"), n_shards=2,
        quality_model="gopher+rep")
    assert_released()
    g_ids = (gopher_rules(docs, "text")
             .filter(F.col("gopher_pass")).select("doc_id"))
    n_g = g_ids.count()
    n_both = (gopher_repetition(docs, "doc_id", "text")
              .filter(F.col("repetition_pass")).select("doc_id")
              .join(g_ids, "doc_id", "semi").count())
    assert both["rows_quality"] == n_g
    assert both["rows_repetition"] == n_both <= n_g
    # resumable twin: the repetition family is its own checkpointed
    # stage and both funnel rows reproduce
    wd = str(tmp_path / "wd_both")
    _s, r1 = build_training_corpus(docs, None, str(tmp_path / "b2"),
                                   workdir=wd, run_id="b",
                                   quality_model="gopher+rep")
    _s, r2 = build_training_corpus(docs, None, str(tmp_path / "b3"),
                                   workdir=wd, run_id="b",
                                   quality_model="gopher+rep")
    assert r2["resumed_quality"] and r2["resumed_repetition"]
    assert (r1["rows_quality"], r1["rows_repetition"]) == \
           (r2["rows_quality"], r2["rows_repetition"]) == (n_g, n_both)


def test_quality_gate_collision_proof_and_lang_keyed(spark, corpus):
    """ADVICE r12: (a) a docs frame that already carries a column
    named like a rule output must pass through the gate with the
    USER's values intact (the gate semi-joins on ids, never selects
    the mutated frame); (b) lang_col keys Gopher's stop-word rule per
    language instead of silently applying the English list."""
    from datum_spark.pipelines import _quality_gate
    from datum_spark.operators.text import gopher_rules

    docs = (corpus.filter(F.col("doc_id") >= 20).limit(80)
            .withColumn("n_words", F.lit(-7))
            .withColumn("c4_pass", F.lit(False)))
    for qm in ("gopher", "c4", "gopher_rep", "gopher+rep"):
        out = _quality_gate(docs, "doc_id", "text", 0.0, qm)
        assert out.columns == docs.columns
        if out.count() > 0:
            row = out.select("n_words", "c4_pass").first()
            assert row["n_words"] == -7 and row["c4_pass"] is False

    # a French doc (French stop words, zero English ones) passes the
    # stop rule only when the gate knows its language
    fr_text = " ".join(["le chat est sur une table trop grande pour "
                        "les petits animaux et la maison"] * 6)
    fr = spark.createDataFrame([(1, fr_text, "fr")],
                               "doc_id long, text string, lang string")
    unkeyed = _quality_gate(fr, "doc_id", "text", 0.0, "gopher")
    keyed = _quality_gate(fr, "doc_id", "text", 0.0, "gopher",
                          lang_col="lang")
    assert unkeyed.count() == 0 and keyed.count() == 1
    # and the keyed gate is exactly gopher_rules(lang_col=...)
    assert keyed.count() == (gopher_rules(fr, "text", lang_col="lang")
                             .filter(F.col("gopher_pass")).count())


def test_pipeline_langid_prediction_feeds_gopher_gate(spark, corpus,
                                                      tmp_path):
    """When the langid stage runs and quality_model is Gopher-family,
    the stage-0 PREDICTION keys the stop-word rule (no lang_col
    needed), and the attached helper column never leaks into the
    output shards (ADVICE r12)."""
    from datum_spark.operators.langid import language_classifier_fit
    from datum_spark.operators.text import gopher_rules
    from datum_spark.pipelines import _langid_gate

    docs = (corpus.filter(F.col("doc_id") >= 20)
            .withColumn("text", F.concat_ws(
                " ", F.col("text"), F.expr("repeat(lang, 10)"))))
    models = language_classifier_fit(docs, "doc_id", "text", "lang",
                                     n_buckets=32, steps=4, lr=2.0)
    kw = dict(n_shards=2, lang_models=models,
              allowed_langs={"en", "fr", "de"},
              quality_model="gopher")
    _s, report = build_training_corpus(docs, None,
                                       str(tmp_path / "lg"), **kw)
    gated = _langid_gate(docs, "doc_id", "text", models,
                         {"en", "fr", "de"}, attach="__langid_pred")
    expect = (gopher_rules(gated, "text", lang_col="__langid_pred")
              .filter(F.col("gopher_pass")).count())
    assert report["rows_langid"] == gated.count()
    assert report["rows_quality"] == expect
    back = spark.read.parquet(str(tmp_path / "lg"))
    assert "__langid_pred" not in back.columns


def test_pipeline_span_dedup_stage(spark, corpus, tmp_path,
                                   assert_released):
    """span_dedup_n wires the ExactSubstr action into the funnel after
    doc-level dedup: surviving docs are rewritten (keep-first span
    removal), emptied docs drop, and the report carries
    rows_span_dedup + span_words_removed.  The resumable run resumes
    through the new checkpoint with identical metrics."""
    from datum_spark.operators.dedup import (near_dup_clusters,
                                             remove_duplicated_spans)

    # seed a shared boilerplate footer into a third of the docs so
    # cross-doc spans survive the doc-level dedup (the fixture's dups
    # are whole-document, which stage 2 already removes)
    footer = " copyright footer shared across many pages of this site"
    docs = (corpus.filter(F.col("doc_id") >= 20)
            .withColumn("text", F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.col("text"), F.lit(footer)))
                .otherwise(F.col("text"))))
    kw = dict(n_shards=2, min_quality=0.0, span_dedup_n=8)
    _s, report = build_training_corpus(docs, None,
                                       str(tmp_path / "sp"), **kw)
    assert_released()
    assert "rows_span_dedup" in report
    assert report["span_words_removed"] > 0       # fixture has dups
    assert (report["rows_deduped"] >= report["rows_span_dedup"]
            >= report["rows_decontaminated"])

    # twin composition: doc-level dedup survivors -> span rewrite
    clusters = near_dup_clusters(docs, "doc_id", "text",
                                 threshold=0.5)
    surv = docs.join(
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
                .select("doc_id"), "doc_id", "semi")
    rw = remove_duplicated_spans(surv, "doc_id", "text", n=8)
    expect_rows = rw.filter(
        F.col("n_words") > F.col("n_words_removed")).count()
    expect_words = rw.agg(F.sum("n_words_removed")).first()[0]
    assert report["rows_span_dedup"] == expect_rows
    assert report["span_words_removed"] == expect_words

    # the rewritten text (not the original) reaches the shards
    back = spark.read.parquet(str(tmp_path / "sp"))
    assert "n_words_removed" not in back.columns  # audit cols dropped
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    changed = [r for r in back.collect()
               if r["text"] != orig[r["doc_id"]].strip()
               and r["text"] not in orig[r["doc_id"]]]
    # at least one shipped doc was actually rewritten
    rewritten = sum(1 for r in back.collect()
                    if len(r["text"].split()) <
                    len(orig[r["doc_id"]].split()))
    assert rewritten > 0

    # resumable: second run resumes the span stage, same metrics
    wd = str(tmp_path / "wd_sp")
    _s1, r1 = build_training_corpus(docs, None, str(tmp_path / "sp2"),
                                    workdir=wd, run_id="sp", **kw)
    _s2, r2 = build_training_corpus(docs, None, str(tmp_path / "sp3"),
                                    workdir=wd, run_id="sp", **kw)
    assert r1["resumed_span_dedup"] is False
    assert r2["resumed_span_dedup"] is True
    for k in ("rows_span_dedup", "span_words_removed",
              "rows_decontaminated"):
        assert r1[k] == r2[k] == report[k]


def test_pipeline_c4_line_filter_stage(spark, corpus, tmp_path,
                                       assert_released):
    """c4_line_filter=True rewrites docs through C4's line rules BEFORE
    every gate, drops emptied docs, and reports rows_line_filtered; the
    resumable run resumes through the new first checkpoint."""
    from datum_spark.operators.text import c4_clean_lines

    docs = (corpus.filter(F.col("doc_id") >= 20)
            .withColumn("text", F.when(
                F.col("doc_id") % 2 == 0,
                F.regexp_replace(F.col("text"), " data ", ".\n"))
                .otherwise(F.col("text"))))
    kw = dict(n_shards=2, min_quality=0.0, c4_line_filter=True)
    _s, report = build_training_corpus(docs, None,
                                       str(tmp_path / "lf"), **kw)
    assert_released()
    expect_docs = (c4_clean_lines(docs, "text")
                   .filter(F.col("n_lines_kept") > 0))
    n_expect = expect_docs.count()
    assert report["rows_line_filtered"] == n_expect
    assert 0 < n_expect < report["rows_in"]      # the stage gates
    # the REWRITTEN text feeds downstream stages and the shards
    back = spark.read.parquet(str(tmp_path / "lf"))
    assert "n_lines_kept" not in back.columns
    kept_text = {r["doc_id"]: r["text"] for r in expect_docs.collect()}
    for r in back.collect():
        assert r["text"] == kept_text[r["doc_id"]]

    # resumable twin resumes the line_filter checkpoint
    wd = str(tmp_path / "wd_lf")
    _s1, r1 = build_training_corpus(docs, None, str(tmp_path / "lf2"),
                                    workdir=wd, run_id="lf", **kw)
    _s2, r2 = build_training_corpus(docs, None, str(tmp_path / "lf3"),
                                    workdir=wd, run_id="lf", **kw)
    assert r1["resumed_line_filter"] is False
    assert r2["resumed_line_filter"] is True
    assert (r1["rows_line_filtered"] == r2["rows_line_filtered"]
            == n_expect)
    assert r2["rows_in"] is None         # first stage resumed


def test_corpus_drift_report_stable_vs_shifted(spark):
    """r13 drift report: identical snapshots read as stable on every
    detector; a snapshot with longer documents and new vocabulary
    fires all three (KS, PSI, JSD)."""
    import pandas as pd

    from datum_spark.pipelines import corpus_drift_report

    base = pd.DataFrame({
        "doc_id": range(200),
        "text": [("common words alpha beta gamma delta " * (3 + i % 4))
                 .strip() for i in range(200)]})
    old = spark.createDataFrame(base)
    same = corpus_drift_report(old, spark.createDataFrame(base.copy()))
    assert same["n_old"] == same["n_new"] == 200
    assert same["length_ks_d"] == 0.0
    assert same["length_psi"] < 0.01
    assert same["word_jsd"] < 0.01

    shifted = pd.DataFrame({
        "doc_id": range(200),
        "text": [("novel tokens epsilon zeta theta iota kappa " * (9 + i % 4))
                 .strip() for i in range(200)]})
    drift = corpus_drift_report(old, spark.createDataFrame(shifted))
    assert drift["length_ks_d"] > 0.5
    assert drift["length_ks_p"] < 0.01
    assert drift["length_psi"] > 0.25
    assert drift["word_jsd"] > 0.3


def test_corpus_drift_report_degenerate_snapshot(spark):
    """Empty new snapshot: the report returns counts + NULL statistics
    with a degenerate marker instead of crashing the sweep."""
    import pandas as pd

    from datum_spark.pipelines import corpus_drift_report

    old = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(5), "text": ["alpha beta"] * 5}))
    empty = spark.createDataFrame([], "doc_id long, text string")
    r = corpus_drift_report(old, empty)
    assert r["n_old"] == 5 and r["n_new"] == 0
    assert r["length_ks_d"] is None and r["word_jsd"] is None
    assert r.get("degenerate") is True
