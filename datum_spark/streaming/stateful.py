"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY §1.1 — no streams anywhere in
its 15 files); these are north-star extensions (SURVEY §2-C) built on
Structured Streaming's arbitrary-stateful API.  Design rules for scale:

- State per key is O(1) (a handful of scalars) — never an unbounded list.
- Every operator sets a timeout/watermark policy so state is dropped for
  quiet keys instead of accumulating forever.
- The grouped-map functions consume whole Arrow batches (pandas), never
  per-row Python.

Each operator also has a *batch twin* with identical output semantics, so
the same pipeline can be validated deterministically (the streaming run
must equal the batch run once all input is processed).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_SCHEMA = ("user_id bigint, n_events bigint, total_value double, "
                         "last_ts timestamp")
RUNNING_TOTALS_STATE = "n bigint, total double, last_ts_us bigint"


_STATE_TTL_MS = 60 * 60 * 1000  # 1 h beyond the watermark → state dropped


def _idempotent_batch_write(batch_df: DataFrame, batch_id: int,
                            out_path: str) -> None:
    """Write one micro-batch's output so a REPLAY changes nothing.

    ``foreachBatch`` is only at-least-once: a failure between the sink
    write and the offset commit re-runs the last micro-batch, and a
    blind ``mode('append')`` would then duplicate its rows (a mid-write
    crash also leaves partial files that a re-append keeps).  Each batch
    instead owns the directory ``out_path/batch=<batch_id>/`` and writes
    it with ``mode('overwrite')`` — a replayed batch rewrites its own
    directory byte-for-byte and the union over batches is unchanged.
    Idempotent per-batch dirs + checkpointed offsets = effective
    exactly-once, the standard recipe for a transactionless sink.

    Readers see the Hive-style layout as an extra ``batch`` bigint
    partition column (write provenance; ``.drop('batch')`` recovers the
    bare rows).
    """
    batch_df.write.mode("overwrite").parquet(
        f"{out_path}/batch={int(batch_id)}")


def _running_totals_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, sum(value), max(ts)) — O(1) state."""
    if state.hasTimedOut:
        # quiet key: emit nothing, drop state (bounded-state guarantee)
        state.remove()
        return
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        if len(pdf):
            batch_max_us = int(pd.to_datetime(pdf["ts"]).astype("int64").max()
                               // 1_000)
            last_us = max(last_us, batch_max_us)
    state.update((n, total, last_us))
    # event-time TTL: once the watermark passes last activity + TTL the key
    # times out and its state is removed.  (ProcessingTimeTimeout would make
    # the engine run micro-batches forever even with no input — with
    # EventTimeTimeout the query quiesces between data arrivals.)
    state.setTimeoutTimestamp(
        max(state.getCurrentWatermarkMs(), last_us // 1000) + _STATE_TTL_MS)
    yield pd.DataFrame({
        "user_id": [key[0]],
        "n_events": [n],
        "total_value": [round(total, 6)],
        "last_ts": [pd.Timestamp(last_us, unit="us")],
    })


def running_totals(events: DataFrame, key: str = "user_id",
                   ts_col: str = "ts",
                   watermark: str = "10 minutes") -> DataFrame:
    """Streaming: per-key running totals updated every micro-batch
    (``applyInPandasWithState`` — the custom-stateful-operator surface).

    Batch twin: :func:`running_totals_batch` (groupBy aggregate) — identical
    final rows once a stream has consumed the same input.
    """
    stream = events.withWatermark(ts_col, watermark)
    return (stream
            .groupBy(key)
            .applyInPandasWithState(
                _running_totals_fn,
                outputStructType=RUNNING_TOTALS_SCHEMA,
                stateStructType=RUNNING_TOTALS_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def running_totals_batch(events: DataFrame, key: str = "user_id") -> DataFrame:
    return (events.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6)
                 .alias("total_value"),
                 F.max("ts").alias("last_ts")))


# ---------------------------------------------------------------------------
# Streaming two-step funnel (twin of operators.events.funnel / query x71)

FUNNEL_SCHEMA = ("user_id bigint, ts_a timestamp, ts_b timestamp, "
                 "converted int, delay_s bigint")
# 0 is the null sentinel (no event seen yet)
FUNNEL_STATE = "ts_a_us bigint, min_b_all_us bigint, min_b_q_us bigint"


def _funnel_fn_factory(step_a: str, step_b: str, within_s: int):
    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        ts_a, b_all, b_q = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            us = pd.to_datetime(pdf["ts"]).astype("int64") // 1_000
            a_us = us[pdf["event_type"] == step_a]
            if len(a_us):
                mn = int(a_us.min())
                ts_a = mn if ts_a == 0 else min(ts_a, mn)
            b_us = us[pdf["event_type"] == step_b]
            if len(b_us):
                mn = int(b_us.min())
                b_all = mn if b_all == 0 else min(b_all, mn)
                if ts_a:
                    # qualifying = strictly after A, within the window
                    # (same floor-seconds arithmetic as the batch twin)
                    q = b_us[(b_us > ts_a)
                             & (b_us // 1_000_000 - ts_a // 1_000_000
                                <= within_s)]
                    if len(q):
                        mn = int(q.min())
                        b_q = mn if b_q == 0 else min(b_q, mn)
        # a late-arriving EARLIER step_a moves the window start: a B that
        # qualified under the OLD ts_a may now fall outside within_s, so
        # re-validate the stored b_q against the current ts_a (idempotent
        # for unchanged ts_a) before the re-derive step below
        if b_q and not (ts_a and b_q > ts_a
                        and b_q // 1_000_000 - ts_a // 1_000_000 <= within_s):
            b_q = 0
        # a late-arriving EARLIER signup can re-qualify the earliest
        # purchase seen so far; O(1) state covers the min (completeness
        # beyond that is watermark-bounded, as with any single-pass state)
        if ts_a and b_all > ts_a and \
                b_all // 1_000_000 - ts_a // 1_000_000 <= within_s:
            b_q = b_all if b_q == 0 else min(b_q, b_all)
        state.update((ts_a, b_all, b_q))
        state.setTimeoutTimestamp(
            state.getCurrentWatermarkMs() + _STATE_TTL_MS)
        if not ts_a:
            return  # user has not reached step A: nothing to emit yet
        conv = 1 if b_q else 0
        yield pd.DataFrame({
            "user_id": [key[0]],
            "ts_a": [pd.Timestamp(ts_a, unit="us")],
            "ts_b": [pd.Timestamp(b_q, unit="us") if b_q else pd.NaT],
            "converted": [conv],
            "delay_s": [b_q // 1_000_000 - ts_a // 1_000_000
                        if b_q else None],
        })
    return fn


def streaming_funnel(events: DataFrame, step_a: str, step_b: str,
                     within_s: int = 86400, ts_col: str = "ts",
                     watermark: str = "10 minutes") -> DataFrame:
    """Streaming two-step funnel: per user, the first ``step_a`` event and
    the earliest ``step_b`` within ``within_s`` seconds after it — updated
    every micro-batch via ``applyInPandasWithState``.

    State per user is three scalars (first-A ts, earliest-B ts, earliest
    qualifying-B ts), never an event list; quiet users are dropped by the
    event-time TTL.  Exactly matches the batch twin
    (:func:`datum_spark.operators.events.funnel`, query x71) for in-order
    and single-batch input.  Completeness bounds of the O(1) state, both
    arising when a step_a arrives LATER than (and timestamped EARLIER
    than) already-processed step_b events: (1) the stored qualifying B is
    re-validated against the moved window and re-derived from the
    earliest-B scalar, but a NON-min B that only qualifies under the new
    ts_a was not retained and cannot be recovered; (2) a signup arriving
    later than ``watermark`` after a mid-window purchase may miss it
    entirely.  Both collapse to zero for in-order streams; an event list
    per user would remove them at O(events) state.
    """
    stream = events.withWatermark(ts_col, watermark)
    return (stream
            .groupBy("user_id")
            .applyInPandasWithState(
                _funnel_fn_factory(step_a, step_b, within_s),
                outputStructType=FUNNEL_SCHEMA,
                stateStructType=FUNNEL_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


# ---------------------------------------------------------------------------
# Streaming burst debounce (twin of operators.events.debounce / query x90)

DEBOUNCE_SCHEMA = "user_id bigint, event_type string, ts timestamp"
DEBOUNCE_STATE = "last_ts_us bigint"  # ts of the last event SEEN (not kept)


def _debounce_fn_factory(within_s: int):
    within_us = within_s * 1_000_000

    def fn(key: Tuple[Any, ...],
           pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last_us = state.get[0] if state.exists else None
        # the iterator may deliver the group's rows as several chunks in
        # arbitrary order — chained gaps need ONE time-sorted pass, so
        # concatenate first (buffers one micro-batch × one key, not state)
        chunks = [p for p in pdfs if not p.empty]
        if chunks:
            ts = (pd.concat([c["ts"] for c in chunks])
                  .sort_values().reset_index(drop=True))
            # pin µs: Arrow may hand datetime64[ns] or [us] depending on
            # version; int64-of-[us] is unambiguous
            us = ts.astype("datetime64[us]").astype("int64")
            keep = us.diff() > within_us
            keep.iloc[0] = (last_us is None
                            or int(us.iloc[0]) - last_us > within_us)
            last_us = int(us.iloc[-1])
            kept = ts[keep]
            if len(kept):
                yield pd.DataFrame({
                    "user_id": key[0], "event_type": key[1], "ts": kept})
        state.update((last_us,))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs()
                                  + _STATE_TTL_MS)

    return fn


def streaming_debounce(events: DataFrame, within_s: int = 600,
                       ts_col: str = "ts",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming burst debounce: emit only the opener of each
    gap-delimited burst per (user, event_type) — the streaming twin of
    :func:`datum_spark.operators.events.debounce` (query x90), same
    chained semantics (an event extends a burst when within ``within_s``
    of the PREVIOUS event, opener-only output).

    State per key is ONE scalar (last-seen event time, µs) regardless of
    burst length; quiet keys are dropped by the event-time TTL.  Exactly
    matches the batch twin for in-order and single-batch input; an event
    arriving across micro-batches out of ts order can mis-open a burst
    (the scalar cannot recall events between the late ts and the stored
    last) — the same O(1)-state bound documented on streaming_funnel,
    zero for in-order streams.
    """
    stream = events.withWatermark(ts_col, watermark)
    return (stream
            .groupBy("user_id", "event_type")
            .applyInPandasWithState(
                _debounce_fn_factory(within_s),
                outputStructType=DEBOUNCE_SCHEMA,
                stateStructType=DEBOUNCE_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


# ---------------------------------------------------------------------------
# Streaming CDC materialization (twin of operators.cdc.last_wins / query x112)

CDC_SCHEMA = "user_id bigint, op string, value double, ts timestamp"
CDC_STATE = "best_us bigint, best_eid bigint, op string, value double"


def _last_wins_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key effective changelog row — state is ONE (seq, op, value)
    triple however many changes arrive; late rows with a lower sequence
    are ignored, so out-of-order delivery cannot regress the state (the
    property the batch twin gets from its row_number window)."""
    if state.hasTimedOut:
        state.remove()
        return
    best_us, best_eid, op, value = (
        state.get if state.exists else (-1, -1, None, None))
    for pdf in pdfs:
        if not len(pdf):
            continue
        us = pd.to_datetime(pdf["ts"]).astype("int64") // 1_000
        eid = pdf["event_id"].astype("int64")
        i = eid[us == us.max()].idxmax()   # lexicographic (ts, event_id) max
        cand = (int(us[i]), int(eid[i]))
        if cand > (best_us, best_eid):
            best_us, best_eid = cand
            op = str(pdf["op"][i])
            v = pdf["value"][i]
            value = None if pd.isna(v) else float(v)
    state.update((best_us, best_eid, op, value))
    state.setTimeoutTimestamp(
        max(state.getCurrentWatermarkMs(), best_us // 1000) + _STATE_TTL_MS)
    yield pd.DataFrame({
        "user_id": [key[0]],
        "op": [op],                    # 'D' rows are tombstones downstream
        "value": [value],
        "ts": [pd.Timestamp(best_us, unit="us")],
    })


def streaming_last_wins(changes: DataFrame, ts_col: str = "ts",
                        watermark: str = "10 minutes") -> DataFrame:
    """Streaming CDC: maintain the latest effective change per key from a
    changelog stream (columns user_id, ts, event_id, op, value) — the
    streaming twin of :func:`datum_spark.operators.cdc.last_wins` with
    seq = (ts, event_id).  Emits the key's current winner every
    micro-batch (update mode); delete ops surface as ``op='D'``
    tombstones for the sink to apply.  O(1) state per key, event-time
    TTL for quiet keys."""
    stream = changes.withWatermark(ts_col, watermark)
    return (stream
            .groupBy("user_id")
            .applyInPandasWithState(
                _last_wins_fn,
                outputStructType=CDC_SCHEMA,
                stateStructType=CDC_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def upsert_sink(stream: DataFrame, table, keys, checkpoint_dir: str):
    """Exactly-once streaming materialization into a datum Table:
    ``foreachBatch`` + :meth:`Table.upsert` — each micro-batch MERGEs on
    ``keys``, so a replayed batch (restart between sink write and offset
    commit, Structured Streaming's at-least-once window) lands on the
    same keys and changes nothing.  Idempotent sink + checkpointed
    offsets = effective exactly-once, the standard recipe when the sink
    has no native transactions.

    Returns the started StreamingQuery; caller awaits/stops it.
    """
    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.upsert(batch_df, keys)

    return (stream.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .start())


def contamination_sink(stream_docs: DataFrame, eval_df: DataFrame,
                       out_path: str, checkpoint_dir: str,
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 13, min_hits: int = 1):
    """Streaming decontamination audit: every micro-batch of INCOMING
    documents is screened against the static eval/benchmark set and the
    contaminated rows land in ``out_path`` (parquet, one overwritten
    ``batch=<id>/`` dir per micro-batch — see
    :func:`_idempotent_batch_write`; replays are no-ops) — the
    ingest-time version of :func:`~datum_spark.operators.dedup.
    benchmark_contamination` (x151).

    Built on ``foreachBatch`` rather than a streaming aggregation
    because per-doc contamination needs ``countDistinct`` (unsupported
    in streaming aggs) — and is embarrassingly parallel across docs
    (each doc's hits depend only on the STATIC eval set), so screening
    each micro-batch with the batch operator is exactly equivalent to
    screening the union: stream-vs-batch parity is structural, and the
    parity test pins it.  The eval set broadcasts into every batch's
    gram join (benchmarks are small); state held by the query: none.

    Returns the started StreamingQuery; caller awaits/stops it.
    """
    from ..operators.dedup import benchmark_contamination

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _idempotent_batch_write(
            benchmark_contamination(batch_df, eval_df, id_col, text_col,
                                    n=n, min_hits=min_hits),
            batch_id, out_path)

    return (stream_docs.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())


# the per-micro-batch funnel row ingest_sink writes (disabled gates NULL)
_INGEST_FUNNEL = ("rows_in", "rows_line_filtered", "rows_langid",
                  "rows_quality", "rows_repetition", "rows_perplexity",
                  "rows_deduped", "rows_decontaminated")


def ingest_sink(stream_docs: DataFrame, corpus: DataFrame,
                eval_df: DataFrame | None, out_path: str,
                checkpoint_dir: str,
                id_col: str = "doc_id", text_col: str = "text",
                threshold: float = 0.5, num_hashes: int = 16,
                bands: int = 4, contamination_ngram: int = 13,
                lang_models: dict | None = None,
                allowed_langs=None,
                unigram_vocab: list | None = None,
                max_nats_per_token: float | None = None,
                quality_model=None, min_quality: float = 0.3,
                with_funnel: bool = False,
                lang_col: str | None = None,
                c4_line_filter: bool = False):
    """Streaming daily-ingest gate — the production front door of the
    corpus pipeline: every micro-batch of INCOMING documents runs the
    batch pipeline's stage list (``pipelines._corpus_stages``; the gate
    options mean what they mean for
    :func:`~datum_spark.pipelines.build_training_corpus`) with two
    differences: ``quality_model=None`` — the default — applies NO
    quality screen (``"heuristic"`` selects the score gate), and the
    dedup stage screens the delta against the STATIC corpus
    (`incremental_near_dups_md5`: delta×corpus candidates only, the
    corpus never self-joins, delta band buckets broadcast).  Survivors
    land in ``out_path`` (parquet, one overwritten ``batch=<id>/`` dir
    per micro-batch — see :func:`_idempotent_batch_write`; replays are
    no-ops).

    Every stage is a per-doc decision against STATIC side inputs
    (trained models, a vocabulary, the corpus, the eval set), so the
    union of per-batch survivors is exactly the batch-mode result
    regardless of batching — the same structural stream==batch parity
    as :func:`contamination_sink`, and the parity tests pin it.

    ``with_funnel=True`` runs each micro-batch through the in-memory
    runner and writes one funnel row per micro-batch (``rows_in``,
    ``rows_line_filtered``, ``rows_langid``, ``rows_quality``,
    ``rows_repetition``, ``rows_perplexity``, ``rows_deduped``,
    ``rows_decontaminated``; disabled gates are NULL) idempotently to
    ``out_path + "/_funnel"`` — the underscore prefix keeps funnel rows
    invisible to readers of ``out_path`` (Hadoop hidden-path
    convention).  Without it no stage is counted.

    Intra-batch/cross-batch self-dedup is deliberately NOT done here
    (it would break that parity and is the corpus-refresh job's
    responsibility — run `near_dup_clusters` over the accumulated
    corpus on its own cadence).  State held by the query: none.

    Returns the started StreamingQuery; caller awaits/stops it.
    """
    from ..operators.dedup import incremental_near_dups_md5
    from ..pipelines import (_corpus_stages, _rows, _run_in_memory,
                             _run_lazy, _Stage)

    def _screen(cur: DataFrame) -> DataFrame:
        dup_ids = (incremental_near_dups_md5(
            cur, corpus, id_col, text_col, num_hashes=num_hashes,
            bands=bands, threshold=threshold)
            .select(F.col("delta_id").alias(id_col)).distinct())
        return cur.join(dup_ids, id_col, "anti")

    stages = _corpus_stages(
        id_col, text_col, min_quality=float(min_quality),
        quality_model=None if quality_model == "heuristic"
        else quality_model,
        screen_quality=quality_model is not None,
        lang_models=lang_models, allowed_langs=allowed_langs,
        lang_col=lang_col, unigram_vocab=unigram_vocab,
        max_nats_per_token=max_nats_per_token,
        c4_line_filter=c4_line_filter,
        dedup=_Stage("deduped", _screen, _rows("rows_deduped")),
        span_dedup_n=None, eval_df=eval_df,
        contamination_ngram=contamination_ngram)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not with_funnel:
            _idempotent_batch_write(_run_lazy(batch_df, stages),
                                    batch_id, out_path)
            return
        keep, funnel = _run_in_memory(batch_df, stages)
        _idempotent_batch_write(keep, batch_id, out_path)
        keep.unpersist()
        _idempotent_batch_write(
            batch_df.sparkSession.createDataFrame(
                [tuple(funnel.get(k) for k in _INGEST_FUNNEL)],
                ", ".join(f"{k} long" for k in _INGEST_FUNNEL)),
            batch_id, out_path + "/_funnel")

    return (stream_docs.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())


def snapshot_sink(stream: DataFrame, table, checkpoint_dir: str,
                  txn_id: str = "snapshot_sink"):
    """Exactly-once streaming ingest into a versioned
    :class:`~datum_spark.sources.snapshots.SnapshotTable`: each
    micro-batch commits through ``append_once(txn_id, batch_id)``, so a
    replayed batch (the foreachBatch at-least-once window) finds its
    ``(txn_id, batch_id)`` already in a manifest and commits NOTHING —
    transactional idempotence instead of the path-overwrite idempotence
    of :func:`_idempotent_batch_write`, and readers additionally get
    snapshot isolation + time travel over the ingested history.

    Returns the started StreamingQuery; caller awaits/stops it.
    """
    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.append_once(batch_df, txn_id=txn_id, txn_version=batch_id)

    return (stream.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())


def kmv_sink(stream: DataFrame, term_col: str, group_cols: list[str],
             state_table, checkpoint_dir: str, k: int = 128,
             salt: str = "kmv"):
    """Streaming distinct-cardinality sketching: fold each micro-batch
    into per-group KMV bottom-k sketches persisted in ``state_table``
    (a :class:`~datum_spark.sources.snapshots.SnapshotTable` — each
    fold is one atomic versioned ``overwrite``, so readers always see a
    complete sketch set and can time-travel the cardinality history).

    The fold is ``kmv_merge(state, batch_sketch)`` per group.  KMV
    merge is a bounded SEMILATTICE (bottom-k of a set union):
    idempotent, commutative, associative — so an at-least-once replay
    of a micro-batch folds to the IDENTICAL state (re-merging the same
    elements changes nothing), and the final state equals the batch
    sketch of the whole stream regardless of batching.  That algebraic
    parity is pinned by the stream==batch test; no ``batch=<id>``
    replay guard is needed, unlike the count-based sinks.

    State size: |groups| × k hashes — KBs; the micro-batch side does
    the usual dedup + local bottom-k prune before its tiny shuffle.

    Returns the started StreamingQuery; caller awaits/stops it.
    """
    from ..operators.sketches import kmv_build, kmv_merge

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_sk = kmv_build(batch_df, term_col, group_cols, k=k,
                             salt=salt)
        try:
            cur = state_table.read()
            have_state = cur.count() > 0
        except ValueError:
            have_state = False
        if have_state:
            prev = cur.select(*group_cols,
                              F.col("kmv").alias("__prev"))
            merged = (batch_sk.join(prev, group_cols, "full")
                      .select(*group_cols,
                              F.when(F.col("kmv").isNull(),
                                     F.col("__prev"))
                               .when(F.col("__prev").isNull(),
                                     F.col("kmv"))
                               .otherwise(kmv_merge(F.col("__prev"),
                                                    F.col("kmv"), k))
                               .alias("kmv")))
            merged = merged.withColumn(
                "kmv_n", F.size("kmv").cast("int"))
        else:
            merged = batch_sk
        state_table.overwrite(merged)

    return (stream.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())


def mg_sink(stream: DataFrame, term_col: str, state_table,
            checkpoint_dir: str, k: int = 16):
    """Streaming heavy hitters: fold each micro-batch's Misra–Gries
    summary into a persistent k-counter state
    (:class:`~datum_spark.sources.snapshots.SnapshotTable`; one atomic
    versioned overwrite per batch, so readers always see a complete
    sketch and can time-travel the heavy-hitter history).

    The fold is MG summary MERGE (counter addition + one reduction —
    Agarwal et al. 2013), which preserves the deterministic guarantee
    over the whole stream: ``est ≤ true`` and ``true − est ≤
    N_total/(k+1)``, so every term above that bound is present no
    matter how the stream was batched — the same cross-batching
    contract as ``kmv_sink``, pinned by the guarantee-parity test.
    Unlike KMV the fold is NOT idempotent (re-adding counts double-
    counts), so a ``last_batch`` watermark column makes at-least-once
    replays no-ops.

    State size: ≤ k counter rows + the watermark — bytes.  Returns
    the started StreamingQuery; caller awaits/stops it."""
    from ..operators.sketches import mg_heavy_hitters

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        try:
            rows = state_table.read().collect()      # ≤ k rows
        except ValueError:
            rows = []
        last = max((r["last_batch"] for r in rows), default=-1)
        if batch_id <= last:
            return                       # replay: already folded
        items, n = mg_heavy_hitters(batch_df, term_col, k=k)
        merged: dict = {r["term"]: int(r["est"]) for r in rows}
        for t, c in items:
            merged[t] = merged.get(t, 0) + c
        if len(merged) > k:
            cut = sorted(merged.values(), reverse=True)[k]
            merged = {t: c - cut for t, c in merged.items()
                      if c - cut > 0}
        n_total = (int(rows[0]["n_total"]) if rows else 0) + n
        out = spark.createDataFrame(
            [(t, int(c), n_total, int(batch_id))
             for t, c in sorted(merged.items())],
            "term string, est long, n_total long, last_batch long")
        state_table.overwrite(out)

    return (stream.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())


def rollup_sink(changes: DataFrame, state_table, checkpoint_dir: str,
                keys: list[str], sum_cols: list[str],
                op_col: str = "op"):
    """Streaming materialized-rollup maintenance: fold each
    micro-batch of I/D changes into a persisted additive rollup
    (:func:`~datum_spark.operators.cdc.rollup_fold` — count + sums
    per key) stored in a versioned
    :class:`~datum_spark.sources.snapshots.SnapshotTable`; readers
    always see a complete rollup and can time-travel its history.

    Because the fold is ABELIAN, the state after consuming the stream
    equals the batch recompute over the net row set regardless of
    batching — the cross-batching contract of ``kmv_sink``/
    ``mg_sink``, pinned by the parity test.  The fold is NOT
    idempotent (re-adding a batch double-counts), so a
    ``__last_batch`` watermark column makes at-least-once replays
    no-ops.

    State size: |keys| rows.  Returns the started StreamingQuery."""
    from ..operators.cdc import rollup_fold

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        try:
            cur = state_table.read()
            have = cur.limit(1).count() > 0
        except ValueError:
            cur, have = None, False
        if have:
            last = cur.agg(F.max("__last_batch")).first()[0]
            if last is not None and batch_id <= last:
                return                   # replay: already folded
            prev = cur.drop("__last_batch")
        else:
            prev = None
        nxt = rollup_fold(prev, batch_df, keys, sum_cols,
                          op_col=op_col)
        state_table.overwrite(
            nxt.withColumn("__last_batch", F.lit(int(batch_id))))

    return (changes.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())


def _state_or_replay(state_table, batch_id: int):
    """Shared sink-state preamble: read the persisted state with the
    ``__last_batch`` at-least-once replay guard.  Returns
    ``(prev, is_replay)`` — ``prev`` is the state frame without the
    watermark column (None when no state exists yet)."""
    try:
        cur = state_table.read()
        have = cur.limit(1).count() > 0
    except ValueError:
        cur, have = None, False
    if not have:
        return None, False
    last = cur.agg(F.max("__last_batch")).first()[0]
    if last is not None and batch_id <= last:
        return None, True
    return cur.drop("__last_batch"), False


def _seeded_series_batch(batch_df: DataFrame, prev, key_col: str,
                         ts_col: str, tie_col: str, value_col: str,
                         state_cols):
    """Shared scaffolding of the seeded-fold sinks (``ewma_sink`` /
    ``cusum_sink``): per-key (ts, tie)-sorted batch arrays outer-joined
    with prior state (null state columns on the first batch), the
    (last_t, last_e) high-water-mark freshness filter with
    dropped-late counting, and the batch tail record (ANSI-safe
    ``try_element_at`` — an all-late batch leaves ``_fresh`` empty).
    ``state_cols`` are ``(name, type)`` pairs; the sentinels
    ``"__TS__"``/``"__TIE__"`` resolve from the batch schema.  The
    caller adds its fold via a SEPARATE ``withColumn`` (never inside a
    renaming select — the documented lambda lateral-alias hazard)."""
    rec = F.struct(F.col(ts_col).alias("t"),
                   F.col(tie_col).alias("e"),
                   F.col(value_col).cast("double").alias("v"))
    g = (batch_df.filter(F.col(value_col).isNotNull())
                 .groupBy(key_col)
                 .agg(F.sort_array(F.collect_list(rec))
                       .alias("recs")))
    if prev is None:
        t_type = batch_df.schema[ts_col].dataType.simpleString()
        e_type = batch_df.schema[tie_col].dataType.simpleString()
        j = g
        for c, t in state_cols:
            t = {"__TS__": t_type, "__TIE__": e_type}.get(t, t)
            j = j.withColumn(c, F.lit(None).cast(t))
    else:
        j = g.join(prev, on=key_col, how="full_outer")

    def _is_fresh(r):
        newer = (F.struct(r["t"].alias("a"), r["e"].alias("b"))
                 > F.struct(F.col("last_t").alias("a"),
                            F.col("last_e").alias("b")))
        return F.coalesce(newer, F.lit(True))

    return (j.withColumn("_fresh", F.filter(F.col("recs"), _is_fresh))
             .withColumn("_n_new",
                         F.coalesce(F.size("_fresh"), F.lit(0))
                          .cast("long"))
             .withColumn("_n_late",
                         (F.coalesce(F.size("recs"), F.lit(0))
                          - F.coalesce(F.size("_fresh"), F.lit(0)))
                         .cast("long"))
             .withColumn("_tail", F.try_element_at("_fresh",
                                                   F.lit(-1))))


def ewma_sink(stream: DataFrame, state_table, checkpoint_dir: str,
              key_col: str, ts_col: str, value_col: str,
              alpha: float = 0.3, tie_col: str = "event_id"):
    """Streaming EWMA drift maintenance: continue each key's exact
    :func:`~datum_spark.operators.timeseries.ewma_summary` fold across
    micro-batches, persisting per-key ``(n_events, s, err_sum,
    last_t, last_e, n_late)`` in a versioned
    :class:`~datum_spark.sources.snapshots.SnapshotTable` (one atomic
    overwrite per batch — readers always see a complete state and can
    time-travel the drift history).

    REUSES the batch fold (``timeseries._ewma_fold`` with its seed
    columns) rather than reimplementing it, so batch/stream drift is
    structurally impossible — after consuming a time-ordered stream
    the state equals ``ewma_summary`` over the concatenation (the
    parity test pins it).  The fold is order-sensitive, NOT abelian:
    the contract requires per-key time-ordered ingest ACROSS batches
    (the snapshot_sink cadence); within a batch order is free (each
    batch is sorted per key).  A point at or before the state's
    per-key (ts, tie) high-water mark is late under that contract —
    it is DROPPED deterministically and counted in ``n_late`` (the
    observability column; a growing n_late says the source violates
    the ordering assumption, not that data silently vanished).  Not
    idempotent, so a ``__last_batch`` watermark makes at-least-once
    replays no-ops.

    State size: one row per key.  Returns the started StreamingQuery."""
    from ..operators.timeseries import _ewma_fold

    a = float(alpha)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        prev, is_replay = _state_or_replay(state_table, batch_id)
        if is_replay:
            return                       # replay: already folded
        j = _seeded_series_batch(
            batch_df, prev, key_col, ts_col, tie_col, value_col,
            (("n_events", "long"), ("s", "double"),
             ("err_sum", "double"), ("last_t", "__TS__"),
             ("last_e", "__TIE__"), ("n_late", "long")))
        # fold materialized BEFORE the renaming select (the documented
        # lambda lateral-alias hazard: the select aliases "s"/"err_sum"
        # that the fold's seed references)
        j = j.withColumn("_folded", _ewma_fold(
                F.transform("_fresh", lambda r: r["v"]), a,
                seed_s=F.col("s"),
                seed_e=F.coalesce(F.col("err_sum"), F.lit(0.0))))
        folded, tail = F.col("_folded"), F.col("_tail")
        has_new = F.col("_n_new") > 0
        out = j.select(
            key_col,
            (F.coalesce(F.col("n_events"), F.lit(0))
             + F.col("_n_new")).alias("n_events"),
            F.when(has_new, folded["s"]).otherwise(F.col("s"))
             .alias("s"),
            F.when(has_new, folded["e"])
             .otherwise(F.coalesce(F.col("err_sum"), F.lit(0.0)))
             .alias("err_sum"),
            F.when(has_new, tail["t"]).otherwise(F.col("last_t"))
             .alias("last_t"),
            F.when(has_new, tail["e"]).otherwise(F.col("last_e"))
             .alias("last_e"),
            (F.coalesce(F.col("n_late"), F.lit(0)) + F.col("_n_late"))
             .alias("n_late"))
        state_table.overwrite(
            out.withColumn("__last_batch", F.lit(int(batch_id))))

    return (stream.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())


def cusum_sink(stream: DataFrame, ref: DataFrame, state_table,
               checkpoint_dir: str, key_col: str, ts_col: str,
               value_col: str, slack: float = 0.5,
               threshold: float = 4.0, tie_col: str = "event_id"):
    """Streaming CUSUM monitoring: continue each key's
    :func:`~datum_spark.operators.timeseries.cusum_monitor` fold
    across micro-batches against FIXED reference moments (``ref`` =
    ``(key, mu, sd)`` from
    :func:`~datum_spark.operators.timeseries.cusum_reference`'s
    in-control calibration window — the actual deployment mode of
    Page's chart), persisting per-key ``(n_events, g, n_alarms,
    first_alarm, g_max, last_t, last_e, n_late)`` in a versioned
    :class:`~datum_spark.sources.snapshots.SnapshotTable`.

    REUSES the batch fold (``timeseries._cusum_fold`` with its seed
    struct and index offset) so batch/stream drift is structurally
    impossible — after consuming a time-ordered stream the state
    equals ``cusum_monitor`` over the concatenation, with
    ``first_alarm`` a WHOLE-STREAM 1-based position (the index offset
    rides the stored ``n_events``).  Same ingest contract and
    bookkeeping as ``ewma_sink``: per-key time-ordered batches, late
    points dropped-and-counted in ``n_late``, ``__last_batch`` replay
    watermark.  Keys with no ``ref`` row (or NULL sd) never alarm but
    still count events.  Returns the started StreamingQuery."""
    from ..operators.timeseries import _cusum_fold

    refc = ref.select(F.col(key_col), F.col("mu"), F.col("sd"))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        prev, is_replay = _state_or_replay(state_table, batch_id)
        if is_replay:
            return                       # replay: already folded
        # the ref join rides on prev when it exists; on the first
        # batch the scaffold's null state columns come first, then ref
        j = _seeded_series_batch(
            batch_df, prev, key_col, ts_col, tie_col, value_col,
            (("n_events", "long"), ("g", "double"),
             ("n_alarms", "long"), ("first_alarm", "long"),
             ("g_max", "double"), ("last_t", "__TS__"),
             ("last_e", "__TIE__"), ("n_late", "long")))
        j = j.join(refc, on=key_col, how="left")
        n_prior = F.coalesce(F.col("n_events"), F.lit(0))
        seed = F.struct(
            F.coalesce(F.col("g"), F.lit(0.0)).alias("g"),
            F.coalesce(F.col("n_alarms"), F.lit(0).cast("long"))
             .alias("al"),
            F.coalesce(F.col("first_alarm"), F.lit(0).cast("long"))
             .alias("fi"),
            F.coalesce(F.col("g_max"), F.lit(0.0)).alias("gm"))
        # materialize the fold BEFORE the renaming select: an outer
        # column reference inside the fold's index lambda would
        # otherwise resolve laterally against the select's own
        # "n_events" alias (Spark LCA) and double-shift positions
        j = j.withColumn("_folded", _cusum_fold(
                F.transform("_fresh", lambda r: r["v"]),
                F.col("mu"), F.col("sd"), slack, threshold,
                seed=seed, idx_offset=n_prior))
        has_new = F.col("_n_new") > 0
        has_ref = F.col("sd").isNotNull()
        folded, tail = F.col("_folded"), F.col("_tail")
        out = j.select(
            key_col,
            (n_prior + F.col("_n_new")).alias("n_events"),
            F.when(has_new & has_ref, folded["g"])
             .otherwise(F.coalesce(F.col("g"), F.lit(0.0)))
             .alias("g"),
            F.when(has_new & has_ref, folded["al"])
             .otherwise(F.coalesce(F.col("n_alarms"),
                                   F.lit(0).cast("long")))
             .alias("n_alarms"),
            F.when(has_new & has_ref & (folded["fi"] > 0),
                   folded["fi"])
             .otherwise(F.col("first_alarm")).alias("first_alarm"),
            F.when(has_new & has_ref, folded["gm"])
             .otherwise(F.coalesce(F.col("g_max"), F.lit(0.0)))
             .alias("g_max"),
            F.when(has_new, tail["t"]).otherwise(F.col("last_t"))
             .alias("last_t"),
            F.when(has_new, tail["e"]).otherwise(F.col("last_e"))
             .alias("last_e"),
            (F.coalesce(F.col("n_late"), F.lit(0)) + F.col("_n_late"))
             .alias("n_late"))
        state_table.overwrite(
            out.withColumn("__last_batch", F.lit(int(batch_id))))

    return (stream.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())


def psi_sink(stream: DataFrame, ref_counts: DataFrame, state_table,
             checkpoint_dir: str, value_col: str,
             lo: float = 0.0, hi: float = 1000.0, buckets: int = 10):
    """Streaming distribution-drift monitoring: maintain the ingest
    stream's fixed-width bucket histogram of ``value_col`` in a
    versioned :class:`~datum_spark.sources.snapshots.SnapshotTable`
    and compare it per batch against a FROZEN reference histogram
    (``ref_counts`` = ``(bucket, __ca)`` from the in-control corpus,
    binned with the SAME
    :func:`~datum_spark.operators.profile.psi_bucket` expression).

    The state fold is bucket-count ADDITION — abelian, so any
    batching equals the batch recompute (parity-pinned), with the
    ``__last_batch`` watermark making at-least-once replays no-ops.
    Every state version also carries the current drift readout:
    per-bucket PSI contributions and the total, computed by the SAME
    :func:`~datum_spark.operators.profile.psi_from_bucket_counts`
    the batch operator uses — formula drift is structurally
    impossible.  State size: ≤ ``buckets``+2 rows.  Returns the
    started StreamingQuery; read the latest PSI with
    ``state_table.read()`` (``psi_total`` column, constant per
    version)."""
    from ..operators.profile import psi_bucket, psi_from_bucket_counts

    ref = ref_counts.select("bucket", F.col("__ca").cast("long")
                            .alias("__ca"))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        prev, is_replay = _state_or_replay(state_table, batch_id)
        if is_replay:
            return                       # replay: already folded
        if prev is not None:
            prev = prev.select("bucket", "__cb")
        b = (batch_df.filter(F.col(value_col).isNotNull())
                     .select(psi_bucket(value_col, lo, hi, buckets)
                              .alias("bucket"))
                     .groupBy("bucket")
                     .agg(F.count(F.lit(1)).alias("__new")))
        if prev is not None:
            b = (prev.join(b, "bucket", "full_outer")
                     .select("bucket",
                             (F.coalesce(F.col("__cb"), F.lit(0))
                              + F.coalesce(F.col("__new"), F.lit(0)))
                             .alias("__new")))
        counts = (ref.join(b, "bucket", "full_outer")
                     .select("bucket",
                             F.coalesce(F.col("__ca"), F.lit(0))
                              .alias("__ca"),
                             F.coalesce(F.col("__new"), F.lit(0))
                              .alias("__cb")))
        from pyspark.sql import Window

        out = psi_from_bucket_counts(counts, lo, hi, buckets)
        total = F.sum("psi").over(Window.partitionBy())
        state_table.overwrite(
            out.withColumn("psi_total", F.round(total, 6))
               .withColumn("__last_batch", F.lit(int(batch_id))))

    return (stream.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())
