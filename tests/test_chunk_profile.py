"""Chunking / profiling / debounce / robust-outlier operators (round 5).
Oracle parity for the wired queries lives in x87–x90; these pin semantics
on hand-computable fixtures.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from datum_spark.operators.chunking import chunk_documents
from datum_spark.operators.events import debounce
from datum_spark.operators.profile import profile_columns
from datum_spark.operators.text import robust_outliers


# ---------------------------------------------------------------------------
# chunking

def test_chunk_exact_cover_no_overlap(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))], "doc_id long, text string")
    out = (chunk_documents(df, "doc_id", "text", chunk_size=4, overlap=0)
           .orderBy("chunk_idx").collect())
    # stride 4 over 10 tokens → starts 0,4,8 → sizes 4,4,2
    assert [r["chunk_tokens"] for r in out] == [4, 4, 2]
    assert out[0]["chunk_text"] == "w0 w1 w2 w3"
    assert out[2]["chunk_text"] == "w8 w9"
    assert [r["chunk_idx"] for r in out] == [0, 1, 2]


def test_chunk_overlap_shares_tokens(spark):
    df = spark.createDataFrame([(1, "a b c d e f")],
                               "doc_id long, text string")
    out = (chunk_documents(df, "doc_id", "text", chunk_size=4, overlap=2)
           .orderBy("chunk_idx").collect())
    # stride 2 → starts 0,2,4 → [a b c d], [c d e f], [e f]
    assert [r["chunk_text"] for r in out] == ["a b c d", "c d e f", "e f"]


def test_chunk_preserves_case_and_drops_empty_docs(spark):
    df = spark.createDataFrame([(1, "Hello World"), (2, "   "), (3, "")],
                               "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_size=8).collect()
    assert len(out) == 1 and out[0]["chunk_text"] == "Hello World"


def test_chunk_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_size=4, overlap=4)


def test_chunk_is_map_only(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (chunk_documents(df, "doc_id", "text", chunk_size=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan  # no shuffle: pure generate/project


# ---------------------------------------------------------------------------
# profiling

@pytest.fixture(scope="module")
def pdf(spark):
    return spark.createDataFrame(
        [(1, 2.0, "b"), (2, None, "a"), (2, 8.0, None), (4, 2.0, "c")],
        "k long, v double, s string")


def test_profile_stats(pdf):
    out = {r["column"]: r for r in profile_columns(pdf).collect()}
    assert set(out) == {"k", "v", "s"}
    k = out["k"]
    assert (k["n_rows"], k["n_nulls"], k["n_distinct"]) == (4, 0, 3)
    assert (k["min_str"], k["max_str"]) == ("1", "4")
    assert k["avg_num"] == pytest.approx(9 / 4)
    v = out["v"]
    assert (v["n_nulls"], v["n_distinct"]) == (1, 2)
    assert v["avg_num"] == pytest.approx(4.0)
    s = out["s"]
    assert (s["n_nulls"], s["min_str"], s["max_str"]) == (1, "a", "c")
    assert s["avg_num"] is None  # non-numeric


def test_profile_subset_and_unknown(pdf):
    assert profile_columns(pdf, ["k"]).count() == 1
    with pytest.raises(ValueError):
        profile_columns(pdf, ["nope"])


def test_profile_approx_close(pdf):
    out = {r["column"]: r["n_distinct"]
           for r in profile_columns(pdf, approx=True).collect()}
    assert out["k"] in (2, 3, 4)  # HLL estimate near 3


# ---------------------------------------------------------------------------
# robust outliers

def test_robust_outliers_flags_tail(spark):
    rows = [(i, float(v)) for i, v in enumerate([10, 11, 12, 13, 14, 1000])]
    df = spark.createDataFrame(rows, "id long, x double")
    out = robust_outliers(df, "x", k=3.0).collect()
    flags = {r["id"]: r["is_outlier"] for r in out}
    # median 12.5, MAD 1.5 → only 1000 is beyond 3*MAD
    assert flags == {0: False, 1: False, 2: False, 3: False, 4: False,
                     5: True}
    assert out[0]["__med"] == pytest.approx(12.5)
    assert out[0]["__mad"] == pytest.approx(1.5)


# ---------------------------------------------------------------------------
# debounce

T0 = datetime.datetime(2024, 1, 1)


def test_debounce_chained_bursts(spark):
    def ev(uid, sec, etype="click"):
        return (uid, T0 + datetime.timedelta(seconds=sec), etype)
    rows = [
        # user 1: chained burst — each gap 200s <= 300 though the burst
        # spans 600s total; only the opener survives (chained semantics)
        ev(1, 0), ev(1, 200), ev(1, 400), ev(1, 600),
        # then a real gap → new burst
        ev(1, 2000),
        # different event_type is an independent key
        ev(1, 100, "view"),
        # user 2: exact-boundary gap (300s) is NOT a new burst (> only)
        ev(2, 0), ev(2, 300), ev(2, 601),
    ]
    df = spark.createDataFrame(rows,
                               "user_id long, ts timestamp, event_type string")
    out = debounce(df, ["user_id", "event_type"], "ts", within_s=300)
    kept = sorted((r["user_id"], r["event_type"], r["ts"].second +
                   r["ts"].minute * 60 + r["ts"].hour * 3600)
                  for r in out.collect())
    assert kept == [(1, "click", 0), (1, "click", 2000), (1, "view", 100),
                    (2, "click", 0), (2, "click", 601)]


# ---------------------------------------------------------------------------
# substring (span-level) duplication

def test_duplicated_span_stats(spark):
    from datum_spark.operators.dedup import duplicated_span_stats

    shared = "one two three four five six seven eight"   # exactly 8 tokens
    rows = [
        (1, shared + " alpha beta"),          # 3 spans, 1 shared (pos 0)
        (2, "x " + shared),                   # 2 spans, 1 shared (pos 1)
        (3, "totally unrelated text here"),   # short doc → 1 whole-doc span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(df, "doc_id", "text", n=8).collect()}
    assert (out[1]["n_spans"], out[1]["n_dup_spans"]) == (3, 1)
    assert (out[2]["n_spans"], out[2]["n_dup_spans"]) == (2, 1)
    assert (out[3]["n_spans"], out[3]["n_dup_spans"]) == (1, 0)
    assert out[1]["dup_ratio"] == pytest.approx(0.3333)


def test_duplicated_span_within_doc_repeat_not_dup(spark):
    from datum_spark.operators.dedup import duplicated_span_stats

    eight = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, eight + " " + eight)],  # same 8-gram repeats WITHIN one doc
        "doc_id long, text string")
    out = duplicated_span_stats(df, "doc_id", "text", n=8).collect()[0]
    assert out["n_dup_spans"] == 0  # cross-document signal only


def test_duplicated_span_hot_cap(spark):
    from datum_spark.operators.dedup import duplicated_span_stats

    boiler = "p q r s t u v w"
    df = spark.createDataFrame([(i, boiler) for i in range(5)],
                               "doc_id long, text string")
    capped = duplicated_span_stats(df, "doc_id", "text", n=8,
                                   max_span_freq=3).collect()
    assert all(r["n_dup_spans"] == 0 for r in capped)  # span in 5 docs > cap
    uncapped = duplicated_span_stats(df, "doc_id", "text", n=8).collect()
    assert all(r["n_dup_spans"] == 1 for r in uncapped)


# ---------------------------------------------------------------------------
# LSH bucket cap (round-5 stress finding)

def test_minhash_bucket_cap_drops_replica_floods(spark):
    from datum_spark.operators.dedup import minhash_near_dups

    # 40 exact replicas: every band bucket holds all 40 → cap 10 skips them
    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(40)], "doc_id long, text string")
    capped = minhash_near_dups(df, "doc_id", "text", threshold=0.5,
                               max_bucket_size=10)
    assert capped.count() == 0
    # the cap is OBSERVABLE, not silent (round-7): every band bucket
    # held all 40 replicas and was skipped
    flood = capped.lsh_flood.get
    assert flood["buckets"] == flood["buckets_skipped"] > 0
    assert flood["ids_in_skipped"] == flood["buckets_skipped"] * 40
    uncapped = minhash_near_dups(df, "doc_id", "text", threshold=0.5,
                                 max_bucket_size=None)
    assert uncapped.count() == 40 * 39 // 2
    assert uncapped.lsh_flood is None      # cap disabled → no observer


def test_minhash_cap_no_effect_below_cap(spark):
    from datum_spark.operators.dedup import minhash_near_dups

    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "completely different words entirely unrelated here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted((r["id_a"], r["id_b"]) for r in
               minhash_near_dups(df, "doc_id", "text",
                                 threshold=0.5).collect())
    b = sorted((r["id_a"], r["id_b"]) for r in
               minhash_near_dups(df, "doc_id", "text", threshold=0.5,
                                 max_bucket_size=None).collect())
    assert a == b  # default cap is invisible on non-degenerate input


# ---------------------------------------------------------------------------
# token-balanced training shards

def test_write_training_shards_balanced_and_contiguous(spark, tmp_path):
    from datum_spark.operators.packing import write_training_shards

    rows = [(i, 10 + (i % 7)) for i in range(200)]   # ~2600 tokens
    df = spark.createDataFrame(rows, "doc_id long, nt long")
    path = str(tmp_path / "shards")
    sharded, metrics = write_training_shards(df, path, "doc_id", "nt",
                                             n_shards=4)
    # the write job self-reports what it moved (Observation API):
    assert metrics["rows"] == 200
    assert metrics["tokens"] == sum(nt for _, nt in rows)
    assert metrics["n_shards"] == 4
    assert metrics["token_budget"] == -(-metrics["tokens"] // 4)

    stats = {r["shard"]: r for r in
             sharded.groupBy("shard").agg(
                 F.sum("nt").alias("t"), F.min("doc_id").alias("lo"),
                 F.max("doc_id").alias("mx"),
                 F.count(F.lit(1)).alias("n")).collect()}
    assert set(stats) == {0, 1, 2, 3}
    total = sum(r["t"] for r in stats.values())
    budget = -(-total // 4)
    # greedy bound: every shard except the last is within one doc of budget
    for k in (0, 1, 2):
        assert budget - 17 <= stats[k]["t"] <= budget + 17
    # contiguous doc_id ranges in shard order (curriculum order survives)
    for k in (0, 1, 2):
        assert stats[k]["mx"] < stats[k + 1]["lo"]

    # hive layout on disk + identical data back
    import os
    assert sorted(d for d in os.listdir(path) if d.startswith("shard=")) == [
        "shard=0", "shard=1", "shard=2", "shard=3"]
    back = spark.read.parquet(path)
    assert back.count() == 200
    # deterministic: a second run derives the identical assignment
    again, _ = write_training_shards(df, str(tmp_path / "shards2"),
                                     "doc_id", "nt", n_shards=4)
    a = {r["doc_id"]: r["shard"] for r in sharded.collect()}
    b = {r["doc_id"]: r["shard"] for r in again.collect()}
    assert a == b


def test_write_training_shards_empty_frame(spark, tmp_path):
    from datum_spark.operators.packing import write_training_shards

    df = spark.createDataFrame([], "doc_id long, nt long")
    sharded, metrics = write_training_shards(df, str(tmp_path / "e"),
                                             "doc_id", "nt", n_shards=4)
    assert metrics["token_budget"] == 1
    assert metrics["rows"] == 0 and metrics["tokens"] == 0
    assert sharded.count() == 0


def test_write_training_shards_null_token_counts(spark, tmp_path):
    import math

    from datum_spark.operators.packing import write_training_shards

    rows = [(i, None if i % 5 == 0 else 3 + i % 4) for i in range(60)]
    total = sum(nt for _, nt in rows if nt is not None)
    df = spark.createDataFrame(rows, "doc_id long, nt long")
    _, metrics = write_training_shards(df, str(tmp_path / "n"), "doc_id",
                                       "nt", n_shards=4)
    assert metrics["token_budget"] == math.ceil(total / 4)
    assert metrics["rows"] == 60 and metrics["tokens"] == total


def test_write_training_shards_rejects_bad_n(spark, tmp_path):
    from datum_spark.operators.packing import write_training_shards

    df = spark.createDataFrame([(1, 5)], "doc_id long, nt long")
    with pytest.raises(ValueError):
        write_training_shards(df, str(tmp_path / "x"), "doc_id", "nt", 0)


# ---------------------------------------------------------------------------
# prefix filtering losslessness (round-5 PPJoin optimization)

def test_prefix_filter_lossless(spark):
    from datum_spark.operators.dedup import ngram_jaccard_pairs

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .selectExpr("doc_id", "text"))
    for n, t in ((1, 0.8), (2, 0.5), (3, 0.3)):
        fast = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                      for r in ngram_jaccard_pairs(
                          docs, "doc_id", "text", n=n, threshold=t,
                          prefix_filter=True).collect())
        full = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                      for r in ngram_jaccard_pairs(
                          docs, "doc_id", "text", n=n, threshold=t,
                          prefix_filter=False).collect())
        assert fast == full and len(fast) > 0


# ---------------------------------------------------------------------------
# randomized properties

def test_chunk_partition_conserves_tokens(spark):
    import random
    rng = random.Random(7)
    rows = [(i, " ".join(f"t{rng.randrange(50)}"
                         for _ in range(rng.randrange(1, 40))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (chunk_documents(df, "doc_id", "text", chunk_size=7, overlap=0)
           .orderBy("doc_id", "chunk_idx")
           .groupBy("doc_id")
           .agg(F.concat_ws(" ", F.collect_list("chunk_text")).alias("re"))
           .collect())
    want = dict(rows)
    # zero-overlap chunking partitions the token stream: concatenating
    # chunks in order reproduces the original token sequence exactly
    assert all(r["re"] == " ".join(want[r["doc_id"]].split())
               for r in out)


def test_debounce_idempotent(spark):
    import random
    rng = random.Random(11)
    rows = [(rng.randrange(5),
             T0 + datetime.timedelta(seconds=rng.randrange(0, 5000)),
             rng.choice(["a", "b"]))
            for _ in range(300)]
    df = (spark.createDataFrame(
              rows, "user_id long, ts timestamp, event_type string")
          .dropDuplicates(["user_id", "event_type", "ts"]))
    once = debounce(df, ["user_id", "event_type"], "ts", within_s=120)
    twice = debounce(once, ["user_id", "event_type"], "ts", within_s=120)
    # burst openers are > gap apart by construction → a second pass is
    # the identity (idempotency = the output really is burst-free)
    assert sorted(map(tuple, once.collect())) == \
        sorted(map(tuple, twice.collect()))


def test_char_entropy_values(spark):
    import math

    from datum_spark.operators.text import with_char_entropy
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, ""), (4, "abcd")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["h"] for r in
           with_char_entropy(df, "text", "h").collect()}
    assert out[1] == pytest.approx(0.0)          # single symbol
    assert out[2] == pytest.approx(1.0)          # two equiprobable
    assert out[3] == pytest.approx(0.0)          # empty → 0, not NULL
    assert out[4] == pytest.approx(math.log2(4))  # four equiprobable


def test_novelty_scores(spark):
    from datum_spark.operators.dedup import novelty_scores

    rows = [
        (1, "a b c"),        # bigrams {a b, b c} — all first
        (2, "a b x"),        # {a b, b x}: a b seen in doc 1 → 1/2 novel
        (3, "a b c"),        # exact repeat → 0 novel
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           novelty_scores(df, "doc_id", "text", n=2).collect()}
    assert (out[1]["n_novel"], out[1]["novelty"]) == (2, 1.0)
    assert (out[2]["n_novel"], out[2]["novelty"]) == (1, 0.5)
    assert (out[3]["n_novel"], out[3]["novelty"]) == (0, 0.0)


def test_distribution_psi_identical_and_shifted(spark):
    """Identical slices → PSI ≈ 0 (smoothing only); a hard shift →
    PSI well above the 0.25 'shifted' bar; contributions are per-bucket."""
    from datum_spark.operators.profile import distribution_psi
    same = [(float(v), g) for v in range(0, 100) for g in ("a", "b")]
    df = spark.createDataFrame(same, "v double, g string")
    psi = sum(r["psi"] for r in
              distribution_psi(df, "v", "g", "a", "b",
                               lo=0.0, hi=100.0, buckets=10).collect())
    assert abs(psi) < 1e-9
    shifted = [(float(v), "a") for v in range(0, 50)] + \
              [(float(v), "b") for v in range(50, 100)]
    df2 = spark.createDataFrame(shifted, "v double, g string")
    out = distribution_psi(df2, "v", "g", "a", "b",
                           lo=0.0, hi=100.0, buckets=10).collect()
    assert sum(r["psi"] for r in out) > 0.25
    assert all(r["psi"] >= 0 or abs(r["psi"]) < 1e-12 for r in out)
