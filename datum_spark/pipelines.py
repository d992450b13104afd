"""End-to-end training-corpus pipeline: the canonical composition of the
engine's operators into the shape a 100 TB pre-training ingest actually
runs, as ONE function with a self-reporting metrics trail.

Stage order (each stage is the scale-safe variant measured in SCALE.md):

0a. **C4 line filter** (optional, r13) — line-retention rewrite BEFORE
    every gate (`text.c4_clean_lines`; the paper's order).
0.  **Language gate** (optional) — multiclass langid semi join.
1.  **Quality filter** — heuristic `quality_score` threshold, a learned
    classifier, or a published rule-set conjunction (gopher / c4 /
    gopher_rep / gopher+rep), all map-only scoring; plus the optional
    CCNet perplexity gate (1b).
2.  **Dedup** — `near_dup_clusters` (exact-collapse → MinHash over
    distinct texts → components → map-back; SCALE.md §10), keep the
    minimum-id representative of every cluster; optionally followed by
    SPAN-level dedup (2b, r13 — the Lee 2022 ExactSubstr action,
    `dedup.remove_duplicated_spans`).
3.  **Decontamination** — drop docs sharing word n-grams with the
    held-out eval set (`benchmark_contamination`, broadcast eval side).
4.  **Source mixing** — deterministic md5 keep/drop re-weighting
    (`mix_sources_md5`; reproducible from the data alone).
5.  **Tokenize + pack + shard** — whitespace token counts, then
    `write_training_shards` (token-balanced contiguous hive shards via
    the distributed prefix sum), metrics observed on the write job.

Stages 0a–3 are written once, as the ordered stage list
:func:`_corpus_stages` builds; the batch pipeline and the streaming
ingest gate (`streaming.stateful.ingest_sink`) both run that list.
Every stage is a pure DataFrame transformation; a runner materialises
each stage boundary once (persisted, or committed as a snapshot) and
counts it with one ``.count()`` job (span dedup: one aggregate job) —
those counts are the report's funnel rows.  Mixing and the shard write
then run on the last boundary.

The pipeline is deliberately parameter-light — it is the *composition*
that is the product; each stage's full surface stays available on the
underlying operators.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _boundary(_df_in: DataFrame, out: DataFrame) -> DataFrame:
    return out


class _Stage(NamedTuple):
    """One named step of the corpus pipeline.

    ``apply`` maps the stage's input to its BOUNDARY frame — what a
    runner persists or commits; ``audit`` reads the stage's funnel rows
    off that boundary; ``then`` maps ``(input, boundary)`` to the next
    stage's input (a projection, never materialised on its own).
    ``persist=False`` marks a map-only stage the in-memory runner counts
    without caching: recomputing it inside the next boundary's job is
    cheaper than the extra job that materialises a cache."""

    name: str
    apply: Callable[[DataFrame], DataFrame]
    audit: Callable[[DataFrame], dict]
    then: Callable[[DataFrame, DataFrame], DataFrame] = _boundary
    persist: bool = True


def _rows(key: str) -> Callable[[DataFrame], dict]:
    """The plain audit: the boundary's row count under ``key``."""
    return lambda df: {key: df.count()}


def _corpus_stages(id_col: str, text_col: str, *, min_quality,
                   quality_model, screen_quality: bool,
                   lang_models: dict | None, allowed_langs,
                   lang_col: str | None, unigram_vocab: list | None,
                   max_nats_per_token: float | None,
                   c4_line_filter: bool, dedup: _Stage,
                   span_dedup_n: int | None, eval_df: DataFrame | None,
                   contamination_ngram: int) -> list[_Stage]:
    """The corpus pipeline's stage list, in order: ``line_filter``,
    ``langid``, ``quality``, ``repetition``, ``perplexity``, ``deduped``
    (the caller's — the batch self-dedup or the streaming screen against
    a static corpus), ``span_dedup``, ``decontaminated``.  A disabled
    stage is absent; ``screen_quality=False`` drops the quality stage.
    The last stage is always ``decontaminated``, whose boundary is the
    list's output."""
    from .operators.dedup import benchmark_contamination

    # Gopher's stop-word rule is language-keyed: use the caller's
    # lang_col if given, else attach the langid stage's own prediction
    # when both gates run (ADVICE r12 — never silently apply the
    # English stop list to a multilingual corpus)
    wants_lang = quality_model in ("gopher", "gopher+rep")
    attach = ("__langid_pred" if wants_lang and lang_col is None
              and lang_models is not None and allowed_langs else None)
    eff_lang = lang_col if lang_col is not None else attach

    stages = []
    if c4_line_filter:
        stages.append(_Stage("line_filter",
                             lambda d: _c4_line_stage(d, text_col),
                             _rows("rows_line_filtered"), persist=False))
    if lang_models is not None and allowed_langs:
        stages.append(_Stage(
            "langid",
            lambda d: _langid_gate(d, id_col, text_col, lang_models,
                                   allowed_langs, attach=attach),
            _rows("rows_langid")))
    if screen_quality:
        # "gopher+rep" runs as TWO gates so the funnel reports what each
        # rule family dropped (rows_quality = page-shape, rows_repetition
        # = within-document repetition)
        composed = quality_model == "gopher+rep"
        stages.append(_Stage(
            "quality",
            lambda d: _quality_gate(d, id_col, text_col, min_quality,
                                    "gopher" if composed else quality_model,
                                    lang_col=eff_lang),
            _rows("rows_quality")))
        if composed:
            stages.append(_Stage(
                "repetition",
                lambda d: _quality_gate(d, id_col, text_col, min_quality,
                                        "gopher_rep"),
                _rows("rows_repetition")))
        if attach is not None:
            # the attached prediction never leaves the quality family
            stages[-1] = stages[-1]._replace(
                then=lambda _d, q: q.drop(attach))
    if unigram_vocab is not None and max_nats_per_token is not None:
        stages.append(_Stage(
            "perplexity",
            lambda d: _perplexity_gate(d, id_col, text_col, unigram_vocab,
                                       max_nats_per_token),
            _rows("rows_perplexity")))
    stages.append(dedup)
    if span_dedup_n is not None:
        stages.append(_span_dedup_stage(id_col, text_col, span_dedup_n))

    def decontaminate(d: DataFrame) -> DataFrame:
        if eval_df is None:
            return d
        contaminated = benchmark_contamination(
            d, eval_df, id_col, text_col,
            n=contamination_ngram).select(id_col)
        return d.join(contaminated, id_col, "anti")

    stages.append(_Stage("decontaminated", decontaminate,
                         _rows("rows_decontaminated")))
    return stages


def _near_dup_stage(id_col: str, text_col: str,
                    threshold: float) -> _Stage:
    """Batch dedup: keep each ``near_dup_clusters`` cluster's minimum-id
    member (the cluster id).  The LSH flood stats join the audit only
    when the stage computed in this run — a resumed stage's stats live
    in the run that produced it."""
    from .operators.dedup import near_dup_clusters

    floods = []

    def apply(q: DataFrame) -> DataFrame:
        clusters, flood = near_dup_clusters(q, id_col, text_col,
                                            threshold=threshold,
                                            with_stats=True)
        if flood is not None:
            floods.append(flood)
        return q.join(clusters.filter(F.col(id_col) == F.col("cluster_id"))
                              .select(id_col), id_col, "semi")

    def audit(deduped: DataFrame) -> dict:
        report = {"rows_deduped": deduped.count()}
        # bucket-cap loss is observable, not silent: nonzero
        # lsh_buckets_skipped means the dedup recall was truncated by
        # flooded band buckets (the count or the checkpoint commit was
        # the observed action, so .get does not block)
        for flood in floods:
            report.update({f"lsh_{k}": int(v) for k, v in flood.get.items()})
        return report

    return _Stage("deduped", apply, audit)


def _span_dedup_stage(id_col: str, text_col: str, n: int) -> _Stage:
    """Span-level dedup — the ExactSubstr ACTION of Lee et al. 2022:
    rewrite surviving docs dropping cross-document duplicated spans
    (keep-first), then drop docs left empty.  It runs after doc-level
    dedup, so whole-page duplicates never reach the span pass (the paper
    composes them the same way).  The boundary is the rewrite WITH its
    audit columns, so a resumed run recovers both funnel metrics from
    the committed table."""
    from .operators.dedup import remove_duplicated_spans

    kept = F.col("n_words") > F.col("n_words_removed")

    def audit(rw: DataFrame) -> dict:
        sums = rw.agg(F.sum("n_words_removed").alias("w"),
                      F.sum(F.when(kept, 1).otherwise(0)).alias("k")).first()
        return {"span_words_removed": int(sums["w"] or 0),
                "rows_span_dedup": int(sums["k"] or 0)}

    return _Stage("span_dedup",
                  lambda d: remove_duplicated_spans(d, id_col, text_col,
                                                    n=n),
                  audit,
                  lambda d, rw: rw.filter(kept).select(*d.columns))


def _run_lazy(docs: DataFrame, stages: list[_Stage]) -> DataFrame:
    """Compose the stages with no action at any boundary."""
    for st in stages:
        docs = st.then(docs, st.apply(docs))
    return docs


def _run_in_memory(docs: DataFrame,
                   stages: list[_Stage]) -> tuple[DataFrame, dict]:
    """At each boundary: persist, audit, then unpersist the predecessor.
    Returns ``(output, report)``; the output is the last boundary, still
    persisted — the caller unpersists it once consumed."""
    report: dict = {"rows_in": docs.count()}
    held = None
    for st in stages:
        out = st.apply(docs)
        if st.persist:
            out = out.persist()
        report.update(st.audit(out))
        if st.persist:
            # a stage may hand back its held input unchanged
            # (decontamination without an eval set): keep it cached
            if held is not None and held is not out:
                held.unpersist()
            held = out
        docs = st.then(docs, out)
    return docs, report


class _StageStore:
    """Snapshot-backed stage checkpoints for a resumable pipeline run.

    Each completed stage's output is committed to a ``SnapshotTable`` at
    ``{workdir}/{run_id}/{stage}`` through ``append_once(txn_id=run_id,
    txn_version=1)`` — the exactly-once primitive the streaming sinks
    already use.  A re-run with the same ``workdir``/``run_id`` finds
    the txn recorded and READS THE STAGE BACK instead of recomputing it
    (and everything upstream of it): a multi-day 100 TB corpus build
    that dies in decontamination resumes after dedup, not from zero.

    The read-back also truncates lineage — downstream stages scan a
    clean parquet snapshot instead of dragging the dedup DAG — and the
    commit is crash-safe (atomic manifest publish): a run killed
    MID-stage leaves no txn record, so the retry recomputes exactly the
    unfinished stage.

    ``run_id`` must identify (inputs, parameters): reusing it after
    changing either resumes from stale outputs by design — pick a new
    run_id (or workdir) per configuration, like any warehouse job id.
    """

    def __init__(self, spark, workdir: str, run_id: str) -> None:
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id

    def run(self, name: str,
            compute: Callable[[], DataFrame]) -> tuple[DataFrame, bool]:
        """Return ``(stage_df, resumed)`` — read back if committed,
        else compute + commit + read back."""
        from .sources.snapshots import SnapshotTable

        # one table tree per run_id: different configurations never
        # share (or append into) each other's stage tables
        t = SnapshotTable.create(self.spark,
                                 os.path.join(self.workdir,
                                              self.run_id, name))
        if t._last_txn_version(self.run_id) < 1:
            t.append_once(compute(), self.run_id, 1)
            return t.read(), False
        return t.read(), True

    def run_stages(self, docs: DataFrame,
                   stages: list[_Stage]) -> tuple[DataFrame, dict]:
        """At each boundary: commit the stage or resume it, then audit
        it.  ``rows_in`` is ``None`` when the first stage resumed."""
        report: dict = {}
        for i, st in enumerate(stages):
            out, resumed = self.run(st.name, partial(st.apply, docs))
            if i == 0:
                report["rows_in"] = None if resumed else docs.count()
            report[f"resumed_{st.name}"] = resumed
            report.update(st.audit(out))
            docs = st.then(docs, out)
        return docs, report


def build_training_corpus(docs: DataFrame, eval_df: DataFrame | None,
                          out_path: str, n_shards: int = 8,
                          id_col: str = "doc_id", text_col: str = "text",
                          source_col: str = "source",
                          min_quality: float = 0.3,
                          dedup_threshold: float = 0.5,
                          contamination_ngram: int = 13,
                          source_weights: dict | None = None,
                          default_weight: float = 1.0,
                          workdir: str | None = None,
                          run_id: str = "run",
                          quality_model: tuple | None = None,
                          lang_models: dict | None = None,
                          allowed_langs=None,
                          unigram_vocab: list | None = None,
                          max_nats_per_token: float | None = None,
                          lang_col: str | None = None,
                          span_dedup_n: int | None = None,
                          c4_line_filter: bool = False
                          ) -> tuple[DataFrame, dict]:
    """Run the full corpus pipeline and write token-balanced shards.

    Returns ``(sharded_df, report)`` where ``report`` carries per-stage
    row counts (``rows_in``, ``rows_quality``, ``rows_deduped``,
    ``rows_decontaminated``, ``rows_mixed``, plus ``rows_langid`` /
    ``rows_perplexity`` when those gates are enabled) plus the shard
    write's observed ``rows``/``tokens``/``token_budget``.

    The stage list (:func:`_corpus_stages`) is written once and run by
    one of three runners, which differ only at a stage boundary:

    - in memory (no ``workdir``): persist the boundary, count it, then
      unpersist the predecessor — one count job per stage;
    - resumable (``workdir`` given): commit the boundary as a snapshot
      table at ``{workdir}/{run_id}/{stage}`` or, when a previous run
      with the same ``run_id`` committed it, resume from it (see
      :class:`_StageStore`), then count it.  ``report`` carries
      ``resumed_<stage>`` flags, ``rows_in`` is ``None`` when the first
      stage resumed, and the ``lsh_*`` flood stats appear only when the
      dedup stage computed in this run.  Mixing and the shard write
      always re-run (a full overwrite of ``out_path``);
    - streaming (`streaming.stateful.ingest_sink`): per micro-batch, the
      gate stages with its own dedup screen; counted (in memory) only
      with ``with_funnel=True``.

    ``quality_model`` (optional ``(weights, bias)`` from
    :func:`operators.classifier.quality_classifier_fit`) replaces the
    heuristic gate with the LEARNED filter: keep docs whose calibrated
    score ≥ ``min_quality`` (reinterpreted as the probability
    threshold) — the CCNet-style curation posture, still one map-only
    stage.  Docs with zero tokens are dropped (nothing to score on),
    matching the heuristic's behavior on empty text.  Passing a
    rule-set sentinel instead gates on a published rule conjunction
    (see :func:`_quality_gate`): ``"gopher"`` (Rae 2021 §A1.1, r12),
    ``"c4"`` (Raffel 2020 §2.2, r13), ``"gopher_rep"`` (Rae 2021
    §A1.2, r13), or ``"gopher+rep"`` (both Gopher tables, r13 — runs
    as two funnel stages so the report shows ``rows_quality`` for the
    page-shape family and ``rows_repetition`` for the repetition
    family).  ``lang_col`` (optional) names an existing language
    column that keys Gopher's stop-word rule; when absent and the
    langid gate is enabled, the stage-0 prediction is reused
    automatically (never the silent English default).

    ``lang_models`` + ``allowed_langs`` (optional) enable the
    LANGUAGE-ID gate as stage 0 — the first pass of a multilingual
    build: score every doc with the trained multiclass models
    (:func:`operators.langid.language_classifier_score`) and keep only
    the allowed predicted languages (``rows_langid`` in the funnel).

    ``unigram_vocab`` + ``max_nats_per_token`` (optional) enable the
    CCNet-style PERPLEXITY gate after the quality stage: keep docs the
    unigram LM finds cheap (``nats_per_token ≤`` threshold via
    :func:`operators.unigram.unigram_doc_scores`; ``rows_perplexity``
    in the funnel).  Both gates are semi joins on a scored id set —
    the corpus text rides through untouched.

    ``span_dedup_n`` (optional, r13) enables SPAN-level dedup after
    the doc-level dedup stage — the ExactSubstr action of Lee et al.
    2022 (:func:`operators.dedup.remove_duplicated_spans`, word
    ``n``-gram spans): surviving docs are REWRITTEN dropping
    cross-document duplicated spans (keep-first deterministic) and
    docs left empty are dropped.  Funnel rows: ``rows_span_dedup``
    (docs with any words left) and ``span_words_removed`` (total
    words cut).
    """
    from .operators.packing import write_training_shards
    from .operators.sampling import mix_sources_md5
    from .operators.text import token_count

    stages = _corpus_stages(
        id_col, text_col, min_quality=min_quality,
        quality_model=quality_model, screen_quality=True,
        lang_models=lang_models, allowed_langs=allowed_langs,
        lang_col=lang_col, unigram_vocab=unigram_vocab,
        max_nats_per_token=max_nats_per_token,
        c4_line_filter=c4_line_filter,
        dedup=_near_dup_stage(id_col, text_col, dedup_threshold),
        span_dedup_n=span_dedup_n, eval_df=eval_df,
        contamination_ngram=contamination_ngram)
    if workdir is None:
        clean, report = _run_in_memory(docs, stages)
    else:
        store = _StageStore(docs.sparkSession, workdir, run_id)
        clean, report = store.run_stages(docs, stages)

    # 4. deterministic source mixing (md5 keep sets — reproducible)
    mixed = mix_sources_md5(clean, source_weights or {},
                            source_col=source_col, id_col=id_col,
                            default_weight=default_weight)
    report["rows_mixed"] = mixed.count()

    # 5. tokenize, pack, shard — the write job observes its own metrics
    with_tokens = mixed.withColumn(
        "__n_tokens", token_count(F.col(text_col)).cast("long"))
    sharded, write_metrics = write_training_shards(
        with_tokens, out_path, order_col=id_col, token_col="__n_tokens",
        n_shards=n_shards)
    report.update(write_metrics)
    if workdir is None:
        clean.unpersist()
    return sharded, report


def _c4_line_stage(docs: DataFrame, text_col: str) -> DataFrame:
    """C4 line-retention rewrite + empty-doc drop — stage 0a of the
    pipeline and the streaming sink (same function, no drift): the
    text column is REWRITTEN in place (audit columns dropped after the
    emptiness filter so downstream schemas are unchanged)."""
    from .operators.text import c4_clean_lines

    return (c4_clean_lines(docs, text_col)
            .filter(F.col("n_lines_kept") > 0)
            .drop("n_lines", "n_lines_kept", "removed_line_frac"))


# published-rule-set sentinels _quality_gate accepts (r13 completes
# the family: r12 shipped "gopher" only, leaving x213/x214 audit-only)
_RULE_SET_MODELS = ("gopher", "c4", "gopher_rep", "gopher+rep")


def _quality_gate(docs: DataFrame, id_col: str, text_col: str,
                  min_quality: float, quality_model,
                  lang_col: str | None = None) -> DataFrame:
    """Heuristic filter by default; with ``quality_model=(w, b)`` the
    learned classifier's calibrated score gates instead (semi join on
    the scored ids — scoring reads only (id, text)); with a
    published-rule-set sentinel the corresponding conjunction from
    ``operators.text`` gates (``min_quality`` is ignored, the
    thresholds are the published ones):

    - ``"gopher"`` — Rae 2021 §A1.1 page-shape rules
      (:func:`~datum_spark.operators.text.gopher_rules`);
    - ``"c4"`` — Raffel 2020 §2.2 cleaning rules
      (:func:`~datum_spark.operators.text.c4_rules`);
    - ``"gopher_rep"`` — Rae 2021 §A1.2 repetition rules
      (:func:`~datum_spark.operators.text.gopher_repetition`);
    - ``"gopher+rep"`` — the §A1.1 AND §A1.2 conjunction (the paper
      applies both).

    ``lang_col`` (rule sets only) keys Gopher's stop-word rule per
    language instead of silently applying the English list to every
    document.

    Rule-set gating is a SEMI JOIN on the ids of passing rows, with
    the rule columns computed on a ``(id, text[, lang])`` projection —
    a ``docs`` frame that already carries a column named like a rule
    output (``n_words``, ``c4_pass``, ...) passes through untouched
    (ADVICE r12: the previous ``select(*docs.columns)`` spelling
    returned the computed value instead of the user's data)."""
    from .operators.text import quality_score

    if quality_model in _RULE_SET_MODELS:
        from .operators.text import (c4_rules, gopher_repetition,
                                     gopher_rules)

        cols = [id_col, text_col] + ([lang_col] if lang_col else [])
        scored = docs.select(*cols)
        keep = None
        if quality_model in ("gopher", "gopher+rep"):
            keep = (gopher_rules(scored, text_col, lang_col=lang_col)
                    .filter(F.col("gopher_pass")).select(id_col))
        if quality_model == "c4":
            keep = (c4_rules(scored, text_col)
                    .filter(F.col("c4_pass")).select(id_col))
        if quality_model in ("gopher_rep", "gopher+rep"):
            rep = (gopher_repetition(scored, id_col, text_col)
                   .filter(F.col("repetition_pass")).select(id_col))
            keep = rep if keep is None else keep.join(rep, id_col,
                                                      "semi")
        return docs.join(keep, id_col, "semi")
    if quality_model is None:
        return docs.filter(quality_score(F.col(text_col)) >= min_quality)
    from .operators.classifier import quality_classifier_score

    w, b = quality_model
    keep = (quality_classifier_score(docs, list(w), float(b),
                                     id_col, text_col)
            .filter(F.col("score") >= float(min_quality))
            .select(id_col))
    return docs.join(keep, id_col, "semi")


def _langid_gate(docs: DataFrame, id_col: str, text_col: str,
                 lang_models: dict, allowed_langs,
                 attach: str | None = None) -> DataFrame:
    """Keep docs whose predicted language is allowed — a semi join on
    the argmax-scored id set (one shared feature pass, map-only
    scoring; operators/langid.py).  ``attach`` (optional) carries the
    predicted language back as a column of that name (the semi join
    becomes an inner join on the same keep set — identical rows), so
    a downstream language-keyed gate (Gopher stop words) can reuse
    the stage-0 prediction instead of rescoring or defaulting every
    document to English (ADVICE r12)."""
    from .operators.langid import language_classifier_score

    keep = (language_classifier_score(docs, lang_models, id_col,
                                      text_col)
            .filter(F.col("pred_lang").isin(
                [str(lg) for lg in sorted(allowed_langs)]))
            .select(id_col, "pred_lang"))
    if attach is None:
        return docs.join(keep.select(id_col), id_col, "semi")
    return docs.join(keep.withColumnRenamed("pred_lang", attach),
                     id_col, "inner")


def _perplexity_gate(docs: DataFrame, id_col: str, text_col: str,
                     unigram_vocab: list,
                     max_nats_per_token: float) -> DataFrame:
    """Keep docs the unigram LM scores at ``nats_per_token`` ≤ the
    threshold (CCNet's filter direction: cheap = looks like the
    training distribution).  The Viterbi DP runs once per distinct
    word; the only corpus-sized exchange is the per-doc sum
    (operators/unigram.py::unigram_doc_scores)."""
    from .operators.unigram import unigram_doc_scores

    keep = (unigram_doc_scores(docs, unigram_vocab, id_col, text_col)
            .filter(F.col("nats_per_token")
                    <= float(max_nats_per_token))
            .select(id_col))
    return docs.join(keep, id_col, "semi")


def corpus_drift_report(old_docs: DataFrame, new_docs: DataFrame,
                        text_col: str = "text",
                        length_hi: float = 5000.0) -> dict:
    """Snapshot-over-snapshot drift readout — the monitoring sweep run
    before a new corpus crawl replaces the previous one, composing the
    engine's drift detectors over ONE tagged union:

    - ``length_ks_d`` / ``length_ks_p``: exact two-sample KS on the
      character-length distribution (:func:`operators.twosample.ks_2sample`),
    - ``length_psi``: Population Stability Index over fixed-width
      length buckets ``[0, length_hi)``
      (:func:`operators.profile.distribution_psi`; < 0.1 stable,
      > 0.25 shifted),
    - ``word_jsd`` / ``n_shared_words``: Jensen–Shannon divergence
      between the two word distributions
      (:func:`operators.text.source_divergence`; 0 ≤ jsd ≤ ln 2),
    - ``n_old`` / ``n_new``: row counts.

    Every component is an already-oracle-checked operator
    (x241 / x90-family PSI / x222), so the report inherits their
    correctness evidence; all outputs are bounded scalars — safe to
    collect at any corpus size."""
    from .operators.profile import distribution_psi
    from .operators.text import source_divergence
    from .operators.twosample import ks_2sample

    from .util import retain_cache

    u = retain_cache(
        old_docs.select(F.lit("old").alias("__snap"),
                        F.col(text_col).alias("__text"),
                        F.length(text_col).cast("double")
                         .alias("__len"))
        .unionByName(
            new_docs.select(F.lit("new").alias("__snap"),
                            F.col(text_col).alias("__text"),
                            F.length(text_col).cast("double")
                             .alias("__len"))))
    ks_rows = ks_2sample(u, "__snap", "__len", "old").collect()
    ks = ks_rows[0] if ks_rows else None
    if ks is None or ks["n_a"] is None or ks["n_b"] is None:
        # degenerate snapshot (either side empty / all-NULL text):
        # report the counts and no statistics instead of crashing the
        # monitoring sweep
        n_old = old_docs.filter(F.col(text_col).isNotNull()).count()
        n_new = new_docs.filter(F.col(text_col).isNotNull()).count()
        return {"n_old": n_old, "n_new": n_new,
                "length_ks_d": None, "length_ks_p": None,
                "length_psi": None, "word_jsd": None,
                "n_shared_words": 0, "degenerate": True}
    psi = (distribution_psi(u, "__len", "__snap", "old", "new",
                            lo=0.0, hi=float(length_hi))
           .agg(F.round(F.sum("psi"), 6).alias("p")).first()["p"])
    jsd_rows = source_divergence(u, "__snap", "__text").collect()
    jsd = jsd_rows[0] if jsd_rows else None
    return {
        "n_old": int(ks["n_a"]), "n_new": int(ks["n_b"]),
        "length_ks_d": float(ks["d_stat"]),
        "length_ks_p": float(ks["p_value"]),
        "length_psi": float(psi) if psi is not None else None,
        "word_jsd": (float(jsd["jsd"]) if jsd is not None else None),
        "n_shared_words": (int(jsd["n_shared_words"])
                           if jsd is not None else 0),
    }
