"""Semantic unit tests for operators whose driver check is rows-only
(engine-specific hashes / approximate recall), plus top-k and as-of."""

import pytest
from pyspark.sql import functions as F

from datum_spark.operators import (
    asof_join,
    cosine_top_k,
    exact_dedup,
    exact_dup_groups,
    ivf_cosine_top_k,
    lsh_cosine_top_k,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash_near_dups,
    top_k,
    top_k_per_group,
    with_fingerprint,
    with_language_guess,
    with_quality_score,
    with_token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank now"),
        (3, "completely different content about spark query engines and columnar io"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (5, "le chat est sur la table et le chien est dans le jardin"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keep_by(docs):
    out = exact_dedup(docs, ["text"], keep_by="doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 2, 3, 5]  # doc 4 is an exact dup of 1; keep-first wins


def test_exact_dup_groups(docs):
    out = exact_dup_groups(docs, ["text"]).collect()
    assert len(out) == 1 and out[0]["n_dups"] == 2


def test_minhash_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in minhash_near_dups(docs, "doc_id", "text",
                                        num_hashes=32, bands=16,
                                        threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # identical docs
    assert (1, 2) in pairs  # one-word difference
    assert (1, 3) not in pairs and (3, 5) not in pairs


def test_minhash_fast_finds_near_dups(docs):
    """The vectorized signature family must find the same near-dup
    structure as the JVM one (values differ — different hash family)."""
    from datum_spark.operators import minhash_near_dups_fast

    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in minhash_near_dups_fast(docs, "doc_id", "text",
                                             num_hashes=32, bands=16,
                                             threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (3, 5) not in pairs


def test_minhash_fast_short_texts_not_all_dups(spark):
    from datum_spark.operators import minhash_near_dups_fast

    df = spark.createDataFrame(
        [(1, "ab"), (2, "cd"), (3, "ab"), (4, None)],
        "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_near_dups_fast(df, "doc_id", "text",
                                    threshold=0.9).collect()}
    assert (1, 3) in pairs       # identical short texts match
    assert (1, 2) not in pairs   # different short texts don't


def test_simhash_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_dups(docs, "doc_id", "text",
                                        max_hamming=10).collect()}
    assert pairs[(1, 4)] == 0  # identical → identical signature
    assert (1, 2) in pairs    # near dup within hamming budget
    assert (1, 3) not in pairs


def test_simhash_near_dups_fast(docs):
    """The vectorized md5 signature stage preserves the SimHash invariants
    (identical docs → distance 0; near dups within budget; distinct docs
    outside it), and its pairs do not depend on how rows are partitioned."""
    from datum_spark.operators.dedup import simhash64_md5

    sigs = {r["doc_id"]: r["sig"] for r in
            docs.select("doc_id",
                        simhash64_md5()(F.col("text")).alias("sig"))
                .collect()}
    assert sigs[1] == sigs[4]            # identical text → same signature
    assert sigs[1] != sigs[3]

    def pairs_of(df):
        return {(r["id_a"], r["id_b"]): r["hamming"]
                for r in simhash_near_dups(df, "doc_id", "text",
                                           max_hamming=10).collect()}

    pairs = pairs_of(docs)
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs
    assert (1, 3) not in pairs
    assert pairs_of(docs.repartition(3)) == pairs


def test_ngram_jaccard_exact_values(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, "doc_id", "text",
                                          n=1, threshold=0.5).collect()}
    assert pairs[(1, 4)] == 1.0
    # docs 1,2 each have 12 distinct words, sharing 11 (today vs now differ):
    # J = |∩| / |∪| = 11 / 13
    assert abs(pairs[(1, 2)] - 11 / 13) < 1e-12


def test_fingerprint_properties(spark, docs):
    fp = {r["doc_id"]: r["fp"] for r in
          with_fingerprint(docs, "text", "fp").select("doc_id", "fp").collect()}
    assert fp[1] == fp[4]          # identical text → identical fingerprint
    assert fp[1] != fp[2]          # different text → different
    # order sensitivity: reversed words give a different fingerprint
    rev = spark.createDataFrame(
        [(1, "dog lazy the over jumps fox brown quick the")],
        "doc_id long, text string")
    assert with_fingerprint(rev, "text", "fp").collect()[0]["fp"] != fp[1]


def test_fingerprint_md5_portable(spark, docs):
    """The portable variant matches a pure-Python recomputation of the
    documented contract: h = (h*31 + int(md5(w)[:8],16)) mod (2^56-5)."""
    import hashlib

    fp = {r["doc_id"]: r["fp"] for r in
          with_fingerprint(docs, "text", "fp", portable=True)
          .select("doc_id", "fp").collect()}
    texts = {r["doc_id"]: r["text"]
             for r in docs.select("doc_id", "text").collect()}
    m = (1 << 56) - 5
    for did, text in texts.items():
        h = 0
        for w in text.lower().split():
            h = (h * 31
                 + int(hashlib.md5(w.encode()).hexdigest()[:8], 16)) % m
        assert fp[did] == h, did
    assert fp[1] == fp[4] and fp[1] != fp[2]


def test_quality_score_range(docs):
    rows = with_quality_score(docs, "text", "q").collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_language_guess(spark):
    df = spark.createDataFrame(
        [(1, "the cat is in the house and it is warm"),
         (2, "le chat est dans la maison et il fait chaud"),
         (3, "el gato es de la casa y los perros"),
         (4, "der hund ist nicht mit der katze und das ist gut"),
         (5, "xyzzy plugh")],
        "id long, text string")
    out = {r["id"]: r["g"] for r in
           with_language_guess(df, "text", "g").select("id", "g").collect()}
    assert out == {1: "en", 2: "fr", 3: "es", 4: "de", 5: "und"}


def test_gopher_rules_columns_and_thresholds(spark):
    """Each published rule (Rae 2021 §A1.1) is an audited column:
    crafted docs trip exactly the rule they violate."""
    from datum_spark.operators.text import gopher_rules

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs back to the barn with a bone that it found ") * 3
    bullets = "\n".join(f"- item {i}" for i in range(10))
    ellipses = "\n".join(f"line {i} trails off..." for i in range(10))
    symbols = "## " * 40 + "words " * 40
    numeric = "12345 67890 " * 40
    df = spark.createDataFrame(
        [(1, good, "en"), (2, bullets, "en"), (3, ellipses, "en"),
         (4, symbols, "en"), (5, numeric, "en"), (6, "", "en"),
         (7, "der hund ist nicht mit der katze und das ist gut "
             "und der hund" + " lauf" * 50, "de")],
        "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in
           gopher_rules(df, "text", lang_col="lang").collect()}
    assert out[1]["gopher_pass"] and out[1]["pass_stop"]
    assert not out[2]["pass_bullet"] and out[2]["bullet_frac"] == 1.0
    assert not out[3]["pass_ellipsis"] and out[3]["ellipsis_frac"] == 1.0
    assert not out[4]["pass_symbol_ratio"]
    assert not out[5]["pass_alpha"] and out[5]["alpha_frac"] == 0.0
    # empty doc: zero words, every ratio 0, word-count rule fails
    assert out[6]["n_words"] == 0 and not out[6]["pass_word_count"]
    assert out[6]["mean_word_len"] == 0.0
    # language keying: the German doc hits the de stop list, not en
    assert out[7]["stop_hits"] >= 2 and out[7]["pass_stop"]
    # without lang keying the same doc has (almost) no en stop hits
    out_en = {r["doc_id"]: r for r in
              gopher_rules(df, "text").collect()}
    assert out_en[7]["stop_hits"] < out[7]["stop_hits"]


def test_c4_rules_columns_and_verdicts(spark):
    """Each published C4 rule (Raffel 2020 §2.2) is an audited
    column: crafted docs trip exactly the rule they violate."""
    from datum_spark.operators.text import c4_rules

    good = "\n".join("this is a proper sentence number %d." % i
                     for i in range(6))
    short_sent = "one sentence only."
    lorem = good + "\nsome Lorem Ipsum filler text here."
    brace = good + "\nfunction() { return 1; }"
    js = good + "\nenable JavaScript to view this page."
    bad = good + "\nthis page mentions badword1 explicitly."
    bullets = "\n".join("- item%d" % i for i in range(4)) \
        + "\n" + good
    df = spark.createDataFrame(
        [(1, good), (2, short_sent), (3, lorem), (4, brace),
         (5, js), (6, bad), (7, bullets)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_rules(df, "text").collect()}
    assert out[1]["c4_pass"] and out[1]["n_sentences"] >= 5
    assert out[1]["frac_terminal_lines"] == 1.0
    assert not out[2]["pass_sentences"] and not out[2]["c4_pass"]
    assert out[3]["has_lorem_ipsum"] and not out[3]["c4_pass"]
    assert out[4]["has_brace"] and not out[4]["c4_pass"]
    # javascript is a LINE retention marker, not a page gate
    assert out[5]["has_javascript_line"] and out[5]["c4_pass"]
    assert out[6]["has_bad_word"] and not out[6]["c4_pass"]
    # bullet items: short non-terminal lines show in both fractions
    assert out[7]["frac_short_lines"] > 0.3
    assert out[7]["frac_terminal_lines"] < 0.7 and out[7]["c4_pass"]


def test_token_count_modes(spark):
    df = spark.createDataFrame([(1, "  hello,  world! 123  ")], "id long, t string")
    ws = with_token_count(df, "t", "n", mode="whitespace").collect()[0]["n"]
    assert ws == 3
    bpe = with_token_count(df, "t", "n", mode="bpe").collect()[0]["n"]
    # hell, o, ",", worl, d, "!", 123 → 7 pieces
    assert bpe == 7


def test_pii_redaction(spark):
    from datum_spark.operators.text import with_pii_redaction

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org or call 215-555-0100"),
         (2, "server at 10.0.12.3 answered"),
         (3, "no pii here at all")],
        "id long, text string")
    out = {r["id"]: (r["redacted"], r["n_pii"]) for r in
           with_pii_redaction(df, "text").collect()}
    assert out[1] == ("mail <EMAIL> or call <PHONE>", 2)
    assert out[2] == ("server at <IP> answered", 1)
    assert out[3] == ("no pii here at all", 0)


def test_repetition_ratio(spark):
    from datum_spark.operators.text import with_repetition_ratio

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words here differ"), (3, "")],
        "id long, text string")
    out = {r["id"]: r["rep"] for r in
           with_repetition_ratio(df, "text", "rep").collect()}
    assert out[1] == 0.75       # 4 words, 1 distinct
    assert out[2] == 0.0
    assert out[3] == 0.0        # empty text guarded, no div-by-zero


def test_cosine_top_k_exact(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (10, [1.0, 0.1]), (11, [0.0, 1.0]), (12, [1.0, 0.0]),
         (13, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 0)
    c = emb.filter(F.col("vec_id") >= 10)
    out = cosine_top_k(q, c, k=2, round_to=6).collect()
    assert [(r["neighbor_id"], r["rnk"]) for r in out] == [(12, 1), (10, 2)]
    assert out[0]["cosine"] == 1.0


def test_zero_vector_never_ranks_or_passes_threshold(spark):
    """A zero embedding has no direction: it must not appear as anyone's
    neighbor (NaN cosine would sort ABOVE all numbers in desc order), and a
    zero query must return no rows."""
    from datum_spark.operators import embedding_cosine_dups

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (10, [1.0, 0.1]), (11, [0.0, 0.0]),
         (12, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 0)
    c = emb.filter(F.col("vec_id") >= 10)
    out = cosine_top_k(q, c, k=3, round_to=6).collect()
    assert [r["neighbor_id"] for r in out] == [12, 10]  # 11 excluded
    zq = emb.filter(F.col("vec_id") == 11)
    assert cosine_top_k(zq, c, k=3).count() == 0
    # threshold paths (LSH and exact GEMM): no pair may involve the zero id
    for use_lsh in (True, False):
        pairs = embedding_cosine_dups(emb, "vec_id", "embedding",
                                      threshold=0.9,
                                      use_lsh=use_lsh).collect()
        ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
        assert 11 not in ids
        assert (0, 12) in {(r["id_a"], r["id_b"]) for r in pairs}


def test_string_ids_through_pair_operators(spark):
    """Pair-producing operators must mirror the caller's id type — string
    doc ids are the common case in corpora."""
    from datum_spark.operators import embedding_cosine_dups
    from datum_spark.operators.clustering import semantic_dedup_pairs

    emb = spark.createDataFrame(
        [("docA", [1.0, 0.0]), ("docB", [1.0, 0.01]), ("docC", [0.0, 1.0])],
        "doc_id string, embedding array<double>")
    got = embedding_cosine_dups(emb, "doc_id", "embedding", threshold=0.95,
                                use_lsh=False).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {("docA", "docB")}
    got = semantic_dedup_pairs(emb, "doc_id", "embedding", k=2, iters=1,
                               threshold=0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {("docA", "docB")}


def test_lsh_recall_on_fixture(spark, smoke_db):
    """LSH top-1 must agree with exact top-1 for most queries (recall check
    on the real embeddings fixture)."""
    emb = smoke_db.table("embeddings").df()
    q = emb.filter(F.col("vec_id") < 20)
    c = emb.filter(F.col("vec_id") >= 20)
    exact = {r["query_id"]: r["neighbor_id"]
             for r in cosine_top_k(q, c, k=1, round_to=6).collect()}
    approx = {r["query_id"]: r["neighbor_id"]
              for r in lsh_cosine_top_k(q, c, k=1, planes=4,
                                        tables=8).collect()}
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits >= len(exact) * 0.5, f"LSH top-1 recall too low: {hits}/{len(exact)}"


def test_ivf_recall_on_fixture(spark, smoke_db):
    """IVF top-1 must agree with exact top-1 for most queries."""
    emb = smoke_db.table("embeddings").df()
    q = emb.filter(F.col("vec_id") < 20)
    c = emb.filter(F.col("vec_id") >= 20)
    exact = {r["query_id"]: r["neighbor_id"]
             for r in cosine_top_k(q, c, k=1, round_to=6).collect()}
    approx = {r["query_id"]: r["neighbor_id"]
              for r in ivf_cosine_top_k(q, c, k=1, centroids=16,
                                        nprobe=6).collect()}
    hits = sum(1 for kk in exact if approx.get(kk) == exact[kk])
    assert hits >= len(exact) * 0.5, f"IVF top-1 recall: {hits}/{len(exact)}"


def test_ivf_index_query_equals_refit_path(spark, smoke_db, tmp_path):
    """A persisted index must answer exactly what the refit-per-call
    path answers on the same corpus/params (same deterministic centers,
    shared probe/score stage) — the build/serve split costs nothing in
    results."""
    from datum_spark.operators import (ivf_index_build, ivf_index_query)

    emb = smoke_db.table("embeddings").df()
    q = emb.filter(F.col("vec_id") < 20)
    c = emb.filter(F.col("vec_id") >= 20)
    idx = str(tmp_path / "ivf")
    report = ivf_index_build(c, idx, centroids=16, refine_iters=1)
    assert report["centroids"] == 16
    assert report["vectors"] == c.count()
    direct = sorted(map(tuple, ivf_cosine_top_k(
        q, c, k=3, centroids=16, nprobe=6, refine_iters=1).collect()))
    served = sorted(map(tuple, ivf_index_query(
        q, idx, k=3, nprobe=6).collect()))
    assert served == direct and served


def test_ivf_index_incremental_add(spark, smoke_db, tmp_path):
    """Assign-only delta append: new vectors are immediately servable
    (a delta vector queried against the index finds itself at cosine
    1.0) and the existing corpus is never rewritten."""
    import os

    from datum_spark.operators import (ivf_index_add, ivf_index_build,
                                       ivf_index_query)

    emb = smoke_db.table("embeddings").df()
    base = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 200))
    delta = emb.filter(F.col("vec_id") >= 200)
    idx = str(tmp_path / "ivf2")
    ivf_index_build(base, idx, centroids=8)
    files_before = set(os.listdir(f"{idx}/vectors"))
    n = ivf_index_add(delta, idx)
    assert n == delta.count() > 0
    # append-only: every base parquet file is still there untouched
    assert files_before <= set(os.listdir(f"{idx}/vectors"))
    got = {r["query_id"]: r["neighbor_id"] for r in
           ivf_index_query(delta.limit(5), idx, k=1, nprobe=1).collect()}
    assert got and all(qid == nid for qid, nid in got.items())


def test_top_k_global(smoke_db):
    o = smoke_db.table("orders").df()
    out = top_k(o, [F.col("o_totalprice").desc()], 3).collect()
    prices = [r["o_totalprice"] for r in out]
    assert prices == sorted(prices, reverse=True) and len(prices) == 3


def test_top_k_per_group(smoke_db):
    c = smoke_db.table("customer").df()
    out = top_k_per_group(c, "c_mktsegment",
                          [F.col("c_acctbal").desc(), "c_custkey"], 2)
    counts = out.groupBy("c_mktsegment").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_stratified_sample_respects_fractions(smoke_db):
    from datum_spark.operators import stratified_sample

    docs = smoke_db["documents"].df()
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    fr = {lang: (1.0 if i == 0 else 0.2) for i, lang in enumerate(sorted(langs))}
    out = stratified_sample(docs, "lang", fr)
    counts = {r["lang"]: r["count"] for r in
              out.groupBy("lang").count().collect()}
    full = {r["lang"]: r["count"] for r in
            docs.groupBy("lang").count().collect()}
    keep_all = sorted(langs)[0]
    assert counts[keep_all] == full[keep_all]  # fraction 1.0 keeps all
    for lang in sorted(langs)[1:]:
        assert counts.get(lang, 0) < full[lang]  # downsampled


def test_pack_documents_invariants(smoke_db, spark):
    """Packing: contiguous in order, conserves tokens, pack totals bounded
    by budget + one document, and equals the single-window spelling."""
    from datum_spark.operators import pack_documents, pack_summary
    from datum_spark.operators.text import with_token_count

    docs = with_token_count(smoke_db["documents"].df(), "text", "nt")
    docs = docs.select("doc_id", F.col("nt").cast("long").alias("nt"))
    budget = 500
    packed = pack_documents(docs, "doc_id", "nt", budget=budget).persist()
    rows = packed.select("doc_id", "nt", "pack_id").orderBy("doc_id").collect()
    # contiguity: pack_id is non-decreasing in doc order
    pids = [r["pack_id"] for r in rows]
    assert pids == sorted(pids)
    # equivalence with the naive single-window definition
    cum = 0
    for r in rows:
        assert r["pack_id"] == cum // budget, r
        cum += r["nt"]
    # conservation + bounded overflow
    summary = pack_summary(packed, "nt").collect()
    assert sum(s["total_tokens"] for s in summary) == cum
    max_doc = max(r["nt"] for r in rows)
    for s in summary:
        assert s["total_tokens"] <= budget + max_doc


def test_time_rollup_cascade_conserves_totals(smoke_db):
    """Every grain of the rollup cascade must conserve the global count
    and value sum (re-aggregation loses nothing)."""
    from datum_spark.operators.rollup import time_rollup_cascade

    ev = smoke_db["events"].df()
    out = time_rollup_cascade(ev, "ts", "value").persist()
    totals = {r["grain"]: (r["n"], round(r["sv"], 6)) for r in
              out.groupBy("grain")
                 .agg(F.sum("n").alias("n"),
                      F.sum("sv").alias("sv")).collect()}
    want_n = ev.count()
    want_sv = round(ev.agg(F.sum("value")).collect()[0][0], 6)
    assert set(totals) == {"minute", "hour", "day"}
    for grain, (n, sv) in totals.items():
        assert n == want_n, grain
        assert abs(sv - want_sv) < 1e-6, grain
    # coarser grains have (weakly) fewer buckets
    sizes = {r["grain"]: r["c"] for r in
             out.groupBy("grain").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert sizes["day"] <= sizes["hour"] <= sizes["minute"]


def test_salted_join_equals_plain_join(smoke_db, spark):
    """Salt-and-replicate must return exactly the unsalted join's rows,
    including under heavy key skew."""
    from datum_spark.operators import salted_join

    o = smoke_db["orders"].df().select("o_orderkey", "o_custkey")
    # make a skewed probe side: 80% of rows forced onto one hot key
    skewed = o.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 5 != 0, F.lit(7)).otherwise(
            F.col("o_custkey")))
    c = smoke_db["customer"].df().select("c_custkey", "c_mktsegment")
    dim = c.withColumnRenamed("c_custkey", "o_custkey")
    plain = skewed.join(dim, "o_custkey")
    salted = salted_join(skewed, dim, "o_custkey", salt=8)
    key = lambda d: sorted(tuple(r) for r in d.collect())  # noqa: E731
    assert key(salted) == key(plain) and plain.count() > 0


def test_salted_left_join_keeps_unmatched(spark):
    from datum_spark.operators import salted_join

    big = spark.createDataFrame([(1, "a"), (2, "b"), (9, "z")], "k long, v string")
    small = spark.createDataFrame([(1, "X"), (2, "Y")], "k long, w string")
    out = {(r["k"], r["w"]) for r in salted_join(big, small, "k", how="left")
           .collect()}
    assert out == {(1, "X"), (2, "Y"), (9, None)}


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c")],
        "k long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 20, 200.0), (1, 25, 300.0), (2, 99, 999.0)],
        "k long, ts long, val double")
    out = {r["tag"]: r["val"]
           for r in asof_join(left, right, on=["k"], left_ts="ts",
                              right_ts="ts", right_cols=["val"]).collect()}
    assert out == {"a": 100.0,   # latest right ts<=10 is 5
                   "b": 200.0,   # equal ts matches (<= semantics)
                   "c": None}    # no right row at or before 15 for k=2


# -- mix_sources_md5 (the corpus pipeline's mixer) -------------------------

def _mix_fixture(spark):
    rows = [(i, "web" if i % 2 == 0 else "books") for i in range(2000)]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_mix_sources_rates_and_determinism(spark):
    from datum_spark.operators.sampling import mix_sources_md5

    df = _mix_fixture(spark)
    kept = mix_sources_md5(df, {"web": 0.3, "books": 1.0})
    counts = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["books"] == 1000          # weight 1.0 keeps everything
    assert 200 <= counts["web"] <= 400      # ~0.3 of 1000
    # deterministic: identical keep-set regardless of partitioning
    again = mix_sources_md5(df.repartition(7), {"web": 0.3, "books": 1.0})
    assert sorted(r["doc_id"] for r in kept.collect()) == \
           sorted(r["doc_id"] for r in again.collect())


def test_mix_sources_monotone_in_weight(spark):
    from datum_spark.operators.sampling import mix_sources_md5

    df = _mix_fixture(spark)
    low = {r["doc_id"] for r in
           mix_sources_md5(df, {"web": 0.2, "books": 0.2}).collect()}
    high = {r["doc_id"] for r in
            mix_sources_md5(df, {"web": 0.5, "books": 0.5}).collect()}
    assert low <= high


def test_md5_split_portable_and_leakproof(spark):
    """md5 bucket matches an independent Python computation (the portable
    contract) and membership is a pure function of the key."""
    import hashlib

    from datum_spark.operators import with_md5_split_label

    df = spark.range(0, 500).select(F.col("id").alias("k"))
    out = {r["k"]: r["split"]
           for r in with_md5_split_label(df, "k").collect()}
    for k in (0, 1, 42, 499):
        b = int(hashlib.md5(f"split-{k}".encode()).hexdigest()[:8], 16)
        want = ("train" if b < 3435973836
                else "val" if b < 3865470566 else "test")
        assert out[k] == want
    # stable under repartitioning
    out2 = {r["k"]: r["split"]
            for r in with_md5_split_label(df.repartition(13), "k").collect()}
    assert out == out2


def test_deterministic_group_sample_sizes_and_stability(spark):
    from datum_spark.operators import deterministic_group_sample

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(90)], "id long, g string")
    out = deterministic_group_sample(df, "g", 5, "id")
    assert out.groupBy("g").count().collect()[0]["count"] == 5
    a = sorted((r["g"], r["id"]) for r in out.collect())
    b = sorted((r["g"], r["id"]) for r in deterministic_group_sample(
        df.repartition(7), "g", 5, "id").collect())
    assert a == b


def test_top_ngrams_short_docs_and_counts(spark):
    from datum_spark.operators import top_ngrams

    df = spark.createDataFrame(
        [("a b a b",), ("a b",), ("solo",), ("",)], "text string")
    got = {r["ngram"]: r["n_occ"] for r in top_ngrams(df, "text").collect()}
    assert got == {"a b": 3, "b a": 1}  # single-word/empty docs contribute 0


def test_minhash_md5_matches_reference_computation(spark):
    """Signatures equal an independent Python md5 MinHash — the property
    that makes x62 externally auditable."""
    import hashlib

    from datum_spark.operators.dedup import (_MD5_MINHASH_P,
                                             minhash_signature_md5)

    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(minhash_signature_md5(
        F.col("text"), num_hashes=4).alias("s")).first()["s"]
    t = text.lower()
    shingles = {t[i:i + 5] for i in range(len(t) - 4)}
    hv = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
          for s in shingles]
    want = [min((h * (2 * i + 1) + 7919 * i) % _MD5_MINHASH_P for h in hv)
            for i in range(4)]
    assert list(got) == want


def test_doc_frequency_exact(spark):
    from datum_spark.operators import doc_frequency

    df = spark.createDataFrame(
        [("cat dog",), ("cat cat bird",), ("cat fish",), ("dog",)],
        "text string")
    got = {r["word"]: r["df_count"]
           for r in doc_frequency(df, "text", min_fraction=0.4).collect()}
    assert got == {"cat": 3, "dog": 2}  # per-doc distinct: 'cat cat' = 1


def test_upsample_sources_copy_counts(spark):
    """weight 2.5 -> 2 or 3 copies decided by the portable md5 bucket;
    weight 0.4 -> 0 or 1; copy_idx dense from 0."""
    import hashlib

    from datum_spark.operators import upsample_sources

    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(100)],
        "doc_id long, source string")
    out = upsample_sources(df, {"a": 2.5, "b": 0.4}).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["doc_id"], []).append(r["copy_idx"])
    for i in range(100):
        b = int(hashlib.md5(f"upsample-{i}".encode()).hexdigest()[:8], 16)
        w = 2.5 if i < 50 else 0.4
        import math
        want = int(math.floor(w)) + (1 if b < (w - math.floor(w)) * (1 << 32)
                                     else 0)
        got = sorted(by_id.get(i, []))
        assert got == list(range(want)), (i, got, want)


def test_fuzzy_near_dups_semantics(spark):
    """Candidates from shared n-grams, verified by edit distance: the
    near-identical pair survives, the unrelated one never forms, and the
    shared-gram-but-distant pair is filtered by max_dist."""
    from datum_spark.operators import fuzzy_near_dups

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # 3 edits
        (3, "the quick brown fox sat on a completely different mat today"),
        (4, "unrelated text with no overlap whatsoever here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["edit_dist"]
           for r in fuzzy_near_dups(df, "doc_id", "text", max_dist=5,
                                    n=2, candidate_threshold=0.1).collect()}
    assert (1, 2) in got and got[(1, 2)] == 3
    assert all(4 not in pair for pair in got)
    assert (1, 3) not in got  # candidate via shared grams, too distant


def test_hll_rollup_accuracy(spark):
    """Sketch-union rollup (x85 shape): estimating distinct users from
    unioned daily sketches must agree with the exact count within HLL
    error (~2% at default lgK=12)."""
    from pyspark.sql import functions as F

    from datum_spark.sources.registry import read_parquet_normalized

    ev = read_parquet_normalized(spark,
                                 "/root/testdata/sf0.01/events.parquet")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
               .agg(F.hll_sketch_agg("user_id").alias("sk")))
    est = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0]["e"]
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) / exact < 0.05


def test_ngram_containment_superset(spark):
    """Containment flags the doc-in-doc case Jaccard misses: src is a
    strict prefix of dst, so C(src→dst)=1 while J ≈ |A|/|B| < threshold.
    Also: directionality (dst→src well below 1) and losslessness of the
    asymmetric prefix filter vs a thresholdless full join."""
    from datum_spark.operators.dedup import (ngram_containment_pairs,
                                             ngram_jaccard_pairs)
    short = "alpha beta gamma delta epsilon zeta"
    long = short + (" " + " ".join(f"w{i}" for i in range(40)))
    rows = [(1, short), (2, long),
            (3, "nothing shared with the others at all whatsoever")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["src_id"], r["dst_id"]): r["containment"]
           for r in ngram_containment_pairs(df, "doc_id", "text",
                                            n=1, threshold=0.9).collect()}
    assert got[(1, 2)] == 1.0          # short fully contained in long
    assert (2, 1) not in got           # reverse direction far below 0.9
    assert not any(3 in p for p in got)
    jac = {(r["id_a"], r["id_b"])
           for r in ngram_jaccard_pairs(df, "doc_id", "text",
                                        n=1, threshold=0.9).collect()}
    assert (1, 2) not in jac           # Jaccard blind to the superset


def test_ngram_containment_prefix_lossless(spark):
    """Same result set with threshold prefix pruning as with an
    effectively unpruned run (threshold≈0 → prefix = whole gram set)."""
    from datum_spark.operators.dedup import ngram_containment_pairs
    rows = [(i, f"shared tokens here plus unique{i} and unique{i+100}")
            for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.6
    pruned = {(r["src_id"], r["dst_id"], round(r["containment"], 6))
              for r in ngram_containment_pairs(df, "doc_id", "text",
                                               n=1, threshold=t).collect()}
    full = {(r["src_id"], r["dst_id"], round(r["containment"], 6))
            for r in ngram_containment_pairs(df, "doc_id", "text",
                                             n=1, threshold=1e-9).collect()
            if r["containment"] >= t}
    assert pruned == full and pruned


def test_golden_records_survivorship(spark):
    """Keep-policy: highest quality wins, ties break to LOWEST id;
    provenance arrays are sorted distinct; sums cover all members."""
    from datum_spark.operators.dedup import golden_records
    rows = [  # (id, cluster, quality, source)
        (10, 1, 50, "b"), (11, 1, 90, "a"), (12, 1, 90, "a"),
        (20, 2, 5, "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, cl long, q long, source string")
    out = {r["cluster_id"]: r for r in
           golden_records(df, "doc_id", "cl", "q",
                          collect_cols=("source",),
                          sum_cols=("q",)).collect()}
    assert out[1]["rep_id"] == 11          # q=90 tie → lowest id
    assert out[1]["n_members"] == 3
    assert out[1]["sources"] == ["a", "b"]
    assert out[1]["total_q"] == 230
    assert out[2]["rep_id"] == 20 and out[2]["n_members"] == 1


def test_weighted_sample_deterministic_and_weighted(spark):
    """Same draw under repartitioning (pure function of id); a heavily
    weighted row wins essentially always; zero/NULL weights never win."""
    from datum_spark.operators.sampling import weighted_sample
    rows = [(i, "g", 1.0 if i else 1e9) for i in range(50)]
    rows += [(100, "g", 0.0), (101, "g", None)]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    pick = lambda d: sorted(r["id"] for r in
                            weighted_sample(d, 10, "w", "id").collect())
    a = pick(df)
    b = pick(df.repartition(13))
    assert a == b and len(a) == 10
    assert 0 in a                      # w=1e9 → key ≈ 0 → always first
    assert 100 not in a and 101 not in a
    per_g = weighted_sample(df, 3, "w", "id", group_col="g").collect()
    assert len(per_g) == 3


def test_centroid_cosines_outlier(spark):
    """Vectors aligned with their group's mean score ~1; an
    opposite-direction member scores ~-1; zero vectors are dropped."""
    from datum_spark.operators.similarity import centroid_cosines
    rows = [(1, "g", [1.0, 0.0]), (2, "g", [1.0, 0.1]),
            (3, "g", [-1.0, 0.0]),           # the outlier
            (4, "g", [0.0, 0.0]),            # no direction → dropped
            (5, "h", [0.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, g string, v array<double>")
    out = {r["vec_id"]: r["cos_centroid"]
           for r in centroid_cosines(df, "vec_id", "v", "g").collect()}
    assert 4 not in out
    assert out[5] == pytest.approx(1.0, abs=1e-6)
    assert out[1] > 0.5 and out[2] > 0.5
    assert out[3] < min(out[1], out[2])      # outlier ranks worst


def test_top_k_per_group_prune_lossless(spark):
    """Partition-local pre-prune never changes the result — every global
    top-k row is inside its partition's local top-k (checked across a
    skewed 1-group dataset and a many-partition layout)."""
    rows = [(i % 3, float(i * 37 % 101), i) for i in range(300)]
    df = spark.createDataFrame(rows, "g int, v double, id int").repartition(16)
    order = [F.col("v").desc(), F.col("id")]
    a = sorted((r["g"], r["id"]) for r in
               top_k_per_group(df, "g", order, 7, local_prune=True).collect())
    b = sorted((r["g"], r["id"]) for r in
               top_k_per_group(df, "g", order, 7, local_prune=False).collect())
    assert a == b and len(a) == 21


def test_cms_never_undercounts_and_merges(spark):
    """CMS invariants: estimate ≥ exact for every term; unioning two
    shard sketches then re-grouping equals the whole-corpus sketch."""
    from datum_spark.operators.sketches import cms_build, cms_estimate
    terms = [(i, t) for i, t in enumerate(
             ["apple"] * 30 + ["pear"] * 10 + ["fig"] * 3 +
             [f"rare{i}" for i in range(60)])]
    df = spark.createDataFrame(terms, "i long, word string")
    ctr = cms_build(df, "word", depth=4, width=64)
    q = spark.createDataFrame([("apple", 30), ("pear", 10), ("fig", 3),
                               ("absent", 0)], "word string, exact long")
    est = {r["word"]: r["est_n"]
           for r in cms_estimate(ctr, q, "word", depth=4, width=64).collect()}
    for w, n in [("apple", 30), ("pear", 10), ("fig", 3), ("absent", 0)]:
        assert est[w] >= n
    a, b = df.filter("i < 40"), df.filter("i >= 40")
    merged = (cms_build(a, "word", depth=4, width=64)
              .unionByName(cms_build(b, "word", depth=4, width=64))
              .groupBy("row", "bucket").agg(F.sum("n").alias("n")))
    whole = {(r["row"], r["bucket"]): r["n"] for r in ctr.collect()}
    assert {(r["row"], r["bucket"]): r["n"]
            for r in merged.collect()} == whole


def test_incremental_near_dups_matches_full_subset(spark):
    """Delta-vs-corpus pairs == the cross-side subset of the full-corpus
    banded pairs (same family/threshold), and no corpus×corpus or
    delta×delta pair ever appears."""
    from datum_spark.operators.dedup import (incremental_near_dups_md5,
                                             minhash_near_dups_md5)
    base = "the quick brown fox jumps over the lazy dog number"
    rows = [(i, f"{base} {i % 3}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    delta = df.filter("doc_id >= 15")
    corpus = df.filter("doc_id < 15")
    inc = {(r["delta_id"], r["corpus_id"]): r["est_jaccard"] for r in
           incremental_near_dups_md5(delta, corpus, "doc_id", "text",
                                     threshold=0.5).collect()}
    full = {}
    for r in minhash_near_dups_md5(df, "doc_id", "text",
                                   threshold=0.5).collect():
        a, b = r["id_a"], r["id_b"]
        if a >= 15 and b < 15:
            full[(a, b)] = r["est_jaccard"]
        elif b >= 15 and a < 15:
            full[(b, a)] = r["est_jaccard"]
    assert inc == full and inc
    assert all(d >= 15 and c < 15 for d, c in inc)


def test_rank_queries_size_gate_paths_agree(spark, monkeypatch):
    """x40/x42 pick their physical plan by Catalyst size estimate; both
    paths must return identical rows (the gated window path runs locally,
    the prefix-sum path is what runs at scale)."""
    import datum_spark.extensions as ext

    sf = "/root/testdata/sf0.001"
    for name in ("x40_ntile_first_last", "x42_percent_rank"):
        fn = ext.EXTENSIONS[name][0]
        small = [tuple(r) for r in fn(spark, sf).collect()]
        monkeypatch.setattr(ext, "_RANK_SMALL_BYTES", 0)
        big = [tuple(r) for r in fn(spark, sf).collect()]
        monkeypatch.setattr(ext, "_RANK_SMALL_BYTES", 512 << 20)
        assert small == big and len(small) > 0, name


def test_observe_metrics_single_pass(spark, tmp_path):
    """Observation metrics ride the write action itself — values are
    available after ONE job, and match a direct aggregate."""
    from pyspark.sql import functions as F

    from datum_spark.operators.metrics import observe
    from datum_spark.sources.registry import read_parquet_normalized

    ev = read_parquet_normalized(spark,
                                 "/root/testdata/sf0.001/events.parquet")
    df, obs = observe(ev, rows=F.count(F.lit(1)),
                      errs=F.count_if(F.col("event_type") == "error"),
                      max_val=F.round(F.max("value"), 2))
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["rows"] == ev.count()
    assert got["errs"] == ev.filter("event_type = 'error'").count()


def test_observe_requires_metrics(spark):
    import pytest as _pytest

    from datum_spark.operators.metrics import observe

    with _pytest.raises(ValueError):
        observe(spark.range(1))


# ---------------------------------------------------------------------------
# benchmark decontamination + bulk BM25 retrieval (round 6)

def test_benchmark_contamination_semantics(spark):
    from datum_spark.operators import benchmark_contamination

    eval_df = spark.createDataFrame(
        [(900, "alpha beta gamma delta"),
         (901, "one two three four")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "xx alpha beta gamma yy zz"),        # hits eval 900 once
         (2, "one two three four alpha beta gamma qq"),  # hits both
         (3, "totally unrelated words here")],    # clean
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           benchmark_contamination(corpus, eval_df, "doc_id", "text",
                                   n=3).collect()}
    assert set(out) == {1, 2}                     # doc 3 is clean
    # doc 1: grams of 6 words = 4 trigrams; exactly 'alpha beta gamma'
    assert out[1]["n_grams"] == 4 and out[1]["n_hits"] == 1
    assert out[1]["n_eval_docs"] == 1
    assert abs(out[1]["contamination"] - 0.25) < 1e-9
    # doc 2: 'one two three','two three four','alpha beta gamma' hit,
    # across BOTH eval docs
    assert out[2]["n_hits"] == 3 and out[2]["n_eval_docs"] == 2


def test_contamination_overlap_and_decontaminate(spark):
    """One gram shared with an eval doc counts once, and a left-anti join
    on the flagged ids is the decontaminated corpus (x49/x50's shape)."""
    from datum_spark.operators import benchmark_contamination

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps high"),   # shares "the quick brown"
         (2, "completely unrelated words entirely"),
         (3, "too short")],                        # < 3 words → no grams
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "the quick brown dog")], "doc_id long, text string")

    flagged = benchmark_contamination(corpus, bench, "doc_id", "text", n=3)
    overlap = {r["doc_id"]: r["n_hits"] for r in flagged.collect()}
    assert overlap == {1: 1}   # only doc 1, exactly one shared 3-gram

    clean = sorted(r["doc_id"] for r in
                   corpus.join(flagged.select("doc_id"), "doc_id",
                               "left_anti").collect())
    assert clean == [2, 3]


def test_benchmark_contamination_short_docs_emit_no_grams(spark):
    """Docs with < n words emit NO grams: an empty/short corpus doc must
    not 'collide' with an empty/short eval doc via a truncated gram and
    get dropped as contaminated (round-7 advice fix)."""
    from datum_spark.operators import benchmark_contamination

    eval_df = spark.createDataFrame(
        [(900, ""), (901, "two words"), (902, "alpha beta gamma delta")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "two words"),
         (4, "xx alpha beta gamma yy"), (5, "too short")],
        "doc_id long, text string")
    out = {r["doc_id"] for r in
           benchmark_contamination(corpus, eval_df, "doc_id", "text",
                                   n=3).collect()}
    assert out == {4}          # only the real trigram collision


def test_benchmark_contamination_forced_gate_equivalent(spark, monkeypatch):
    """Both sides of the eval-side broadcast gate give the same rows; at
    gate 0 the gram join is a shuffle join, not a broadcast."""
    from pyspark.sql import types as T

    from datum_spark import util
    from datum_spark.operators import benchmark_contamination
    from datum_spark.plans.inspect import explain_str

    # a local relation: Catalyst sizes it (a Python-RDD frame it cannot)
    eval_df = util.local_frame(
        spark, [(900, "alpha beta gamma delta")],
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("text", T.StringType())]))
    corpus = spark.createDataFrame(
        [(1, "pp alpha beta gamma qq"), (2, "clean doc here")],
        "doc_id long, text string")
    # only the gate's hint may broadcast: no size-based auto-broadcast
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        small = benchmark_contamination(corpus, eval_df, "doc_id", "text",
                                        n=3)
        a = sorted(map(tuple, small.collect()))
        monkeypatch.setattr(util, "_GATED_BROADCAST_BYTES", 0)
        forced = benchmark_contamination(corpus, eval_df, "doc_id",
                                         "text", n=3)
        b = sorted(map(tuple, forced.collect()))
        small_plan, forced_plan = explain_str(small), explain_str(forced)
    finally:
        spark.conf.set(key, prev)
    assert a == b and len(a) == 1
    assert "BroadcastHashJoin" in small_plan
    assert "BroadcastHashJoin" not in forced_plan


def test_bm25_topk_matches_single_query_scorer(spark):
    """Per-query scores from the bulk ranker must equal bm25_scores run
    with that query's terms alone (same corpus stats)."""
    from datum_spark.operators import bm25_scores, bm25_topk

    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "join hash join probe build", "hash table scan",
            "filter scan column pushdown", "window agg partial agg",
            "stream batch micro batch", "join scan filter window"])],
        "doc_id long, text string")
    qdf = spark.createDataFrame(
        [(1, "join hash"), (2, "scan filter")],
        "query_id int, query_text string")
    bulk = bm25_topk(corpus, qdf, k=10)
    for qid, terms in ((1, ["join", "hash"]), (2, ["scan", "filter"])):
        single = {r["doc_id"]: r["score"] for r in
                  bm25_scores(corpus, terms).collect()}
        mine = {r["doc_id"]: r["score"] for r in
                bulk.filter(F.col("query_id") == qid).collect()}
        assert mine == single, (qid, mine, single)
    # ranks are 1..n, dense per query, ordered by score desc then id
    rows = bulk.filter("query_id = 1").orderBy("rnk").collect()
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_bm25_topk_truncates_at_k(spark):
    from datum_spark.operators import bm25_topk

    corpus = spark.createDataFrame(
        [(i, "common term doc %d" % i) for i in range(20)],
        "doc_id long, text string")
    qdf = spark.createDataFrame([(1, "common")],
                                "query_id int, query_text string")
    out = bm25_topk(corpus, qdf, k=5).collect()
    assert len(out) == 5
    assert {r["rnk"] for r in out} == {1, 2, 3, 4, 5}


def test_near_dup_clusters_collapse_composition(spark):
    """Exact dups collapse before LSH; clusters span exact+near members;
    singletons map to themselves (SCALE.md §8 composition)."""
    from datum_spark.operators import near_dup_clusters

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the river"),
        (7, "the quick brown fox jumps over the lazy dog near the river"),
        (3, "the quick brown fox jumps over the lazy dog near the creek"),
        (4, "completely different text talking about spark dataframes and joins"),
        (5, "completely different text talking about spark dataframes and joins"),
        (6, "an utterly unrelated singleton document with its own words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dict(map(tuple, near_dup_clusters(df, "doc_id", "text",
                                            threshold=0.5).collect()))
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 4: 4, 5: 4, 6: 6}


def test_near_dup_clusters_flood_proof(spark):
    """A replica flood (60 copies of each doc) with a bucket cap SMALLER
    than the flood must still recover every cluster — the collapse means
    band buckets see one rep per text, where raw LSH would skip the
    flooded bucket and lose the clique."""
    from pyspark.sql import functions as F

    from datum_spark.operators import minhash_near_dups_md5, near_dup_clusters

    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the creek"),
        (3, "completely different text talking about spark dataframes and joins"),
    ]
    df = spark.createDataFrame(base, "doc_id long, text string")
    flood = (df.select("doc_id", "text",
                       F.explode(F.sequence(F.lit(0), F.lit(59)))
                        .alias("c"))
               .select((F.col("doc_id") * 64 + F.col("c")).alias("doc_id"),
                       "text"))
    cap = 50     # smaller than the 60-member replica cliques
    # raw LSH: flooded buckets are skipped, the near-dup pair 1~2 is lost
    raw_df = minhash_near_dups_md5(flood, "doc_id", "text",
                                   max_bucket_size=cap)
    assert raw_df.count() == 0
    # ...but the loss is OBSERVABLE (round-7): the flood shows up in the
    # skip counters instead of vanishing silently
    raw_flood = raw_df.lsh_flood.get
    assert raw_flood["buckets_skipped"] > 0
    assert raw_flood["ids_in_skipped"] > 0
    # collapsed composition: one rep per text -> full clusters recovered
    clustered = near_dup_clusters(flood, "doc_id", "text", threshold=0.5,
                                  max_bucket_size=cap)
    got = dict(map(tuple, clustered.collect()))
    assert len(got) == 180
    # and the rep-level LSH saw NO floods (the collapse absorbed them)
    assert clustered.lsh_flood.get["buckets_skipped"] == 0
    # every replica of docs 1 and 2 lands in the joint cluster (min id 64)
    joint = {k for k, v in got.items() if v == 64}
    assert joint == {64 + c for c in range(60)} | {128 + c
                                                   for c in range(60)}
    # doc 3's replicas cluster among themselves
    third = {k for k, v in got.items() if v == 192}
    assert third == {192 + c for c in range(60)}


def test_flood_stats_explicit_handle_and_no_hang(spark):
    """Round-8 advice fix: (a) ``with_stats=True`` returns the stats
    handle explicitly, so it survives transformations that drop the
    ``.lsh_flood`` convenience attribute; (b) ``FloodStats.get`` read
    BEFORE any action recomputes via the bounded aggregation instead of
    blocking forever on ``Observation.get``."""
    from pyspark.sql import functions as F

    from datum_spark.operators import minhash_near_dups_md5

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % (i % 2))
         for i in range(80)], "doc_id long, text string")
    pairs, stats = minhash_near_dups_md5(df, "doc_id", "text",
                                         max_bucket_size=10,
                                         with_stats=True)
    # NO action has run: .get must not hang (bounded-aggregation path)
    pre = stats.get
    assert pre["buckets_skipped"] > 0 and pre["ids_in_skipped"] > 0
    # a transformed result loses the attribute — the handle does not
    derived = pairs.groupBy().count()
    assert not hasattr(derived, "lsh_flood")
    derived.collect()
    post = stats.get                   # now the Observation fast path
    assert post["buckets_skipped"] == pre["buckets_skipped"]
    assert post["ids_in_skipped"] == pre["ids_in_skipped"]
    # cap disabled -> stats handle is None, df returned as the pair
    nopairs, nostats = minhash_near_dups_md5(
        df.limit(4), "doc_id", "text", max_bucket_size=None,
        with_stats=True)
    assert nostats is None and nopairs.count() >= 0


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from datum_spark.operators.similarity import embedding_covariance

    rng = np.random.RandomState(7)
    m = rng.randn(40, 5)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(m)],
        "vec_id long, embedding array<double>")
    got = {(r["i"], r["j"]): r["cov"] for r in
           embedding_covariance(df, "embedding", round_to=6).collect()}
    want = np.cov(m, rowvar=False, bias=True)     # population covariance
    assert len(got) == 5 * 6 // 2                 # upper triangle only
    for i in range(5):
        for j in range(i, 5):
            assert abs(got[(i + 1, j + 1)] - want[i, j]) < 1e-6


def test_embedding_covariance_empty(spark):
    from datum_spark.operators.similarity import embedding_covariance

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_covariance(df).count() == 0


def test_embedding_covariance_skips_dirty_rows(spark):
    """Null vectors, element-nulls, and ragged lengths are dropped, not
    fatal; the result equals the covariance of the clean rows alone
    (round-7 advice fix)."""
    import numpy as np

    from datum_spark.operators.similarity import embedding_covariance

    rng = np.random.RandomState(11)
    m = rng.randn(30, 4)
    clean = [(i, row.tolist()) for i, row in enumerate(m)]
    dirty = [(100, None), (101, [1.0, None, 2.0, 3.0]),
             (102, [1.0, 2.0]), (103, [0.5] * 7)]
    df = spark.createDataFrame(clean + dirty,
                               "vec_id long, embedding array<double>")
    got = {(r["i"], r["j"]): r["cov"] for r in
           embedding_covariance(df, "embedding", round_to=6).collect()}
    want = np.cov(m, rowvar=False, bias=True)
    assert len(got) == 4 * 5 // 2
    for i in range(4):
        for j in range(i, 4):
            assert abs(got[(i + 1, j + 1)] - want[i, j]) < 1e-6


def test_pca_top_component_finds_dominant_axis(spark):
    from datum_spark.operators.similarity import pca_top_component

    # dim 2 carries variance 25; every other dim is constant
    rows = [(i, [1.0, float(5 * (i % 2)), 3.0, 3.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r["i"]: r for r in pca_top_component(df, iters=8).collect()}
    assert abs(abs(out[2]["loading"]) - 1.0) < 1e-4
    for i in (1, 3, 4):
        assert abs(out[i]["loading"]) < 1e-4
    assert abs(out[2]["eigenvalue"] - 6.25) < 0.01   # var of {0,5} split
    assert abs(out[2]["var_share"] - 1.0) < 0.01


def test_pq_roundtrip_separated_clusters(spark):
    """On well-separated data PQ loses nothing: ADC top-k == exact."""
    from datum_spark.operators.similarity import (pq_adc_topk,
                                                  pq_train_encode)

    # two tight blobs in 8-dim space, 20 vectors each
    rows = []
    for i in range(40):
        base = 0.0 if i < 20 else 100.0
        rows.append((i, [base + (i % 5) * 0.01] * 8))
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    codes, books = pq_train_encode(df, m=2, ksub=4, iters=2)
    assert len(books) == 2 and len(books[0]) == 4
    assert len(books[0][0]) == 4          # dsub = 8/2
    got = codes.collect()
    assert len(got) == 40
    assert all(0 <= r[f"code_{s}"] < 4 for r in got for s in range(2))
    qs = df.filter("vec_id IN (0, 25)")
    adc = pq_adc_topk(qs, codes, books, k=5)
    top = {(r["query_id"], r["rnk"]): r["vec_id"] for r in adc.collect()}
    # every retrieved neighbor is from the query's own blob
    for (qid, _rnk), vid in top.items():
        assert (vid < 20) == (qid < 20)


def test_pq_adc_deterministic(spark):
    from datum_spark.operators.similarity import (pq_adc_topk,
                                                  pq_train_encode)

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 13) for j in range(8)])
         for i in range(30)],
        "vec_id bigint, embedding array<double>")
    codes, books = pq_train_encode(df, m=2, ksub=4, iters=2)
    q = df.filter("vec_id = 3")
    a = [(r["vec_id"], r["rnk"]) for r in
         pq_adc_topk(q, codes, books, k=5).orderBy("rnk").collect()]
    b = [(r["vec_id"], r["rnk"]) for r in
         pq_adc_topk(q, codes, books, k=5).orderBy("rnk").collect()]
    assert a == b and len(a) == 5


def test_skew_report_hand_computed(spark):
    """skew_report's summary row on a hand-built skewed table: 12 rows
    over keys {7:8, 1:2, 2:1, 3:1} → max 8, mean 3, ratio 8/3, salt
    ceil(8/3)=3, heaviest keys in (count desc, key asc) order."""
    from datum_spark.operators import skew_report

    df = spark.createDataFrame(
        [(7,)] * 8 + [(1,)] * 2 + [(2,)] + [(3,)], "k long")
    r = skew_report(df, "k", top=3).collect()[0]
    assert r["n_rows"] == 12 and r["n_keys"] == 4 and r["max_n"] == 8
    assert r["mean_n"] == 3.0
    assert abs(r["skew_ratio"] - round(8 / 3, 4)) < 1e-9
    assert r["salt_factor"] == 3
    assert r["top_keys"] == "7=8,1=2,2=1"


def test_skew_report_salt_cap_and_uniform(spark):
    from datum_spark.operators import skew_report

    # uniform keys → ratio 1, salt 1
    uni = spark.createDataFrame([(i % 4,) for i in range(16)], "k long")
    r = skew_report(uni, "k").collect()[0]
    assert r["skew_ratio"] == 1.0 and r["salt_factor"] == 1
    # one key holds ~all rows among many singletons → salt capped at 64
    hot = spark.createDataFrame(
        [(0,)] * 1000 + [(i,) for i in range(1, 101)], "k long")
    r = skew_report(hot, "k").collect()[0]
    assert r["max_n"] == 1000 and r["skew_ratio"] > 64
    assert r["salt_factor"] == 64


def test_pq_adc_topk_string_query_ids(spark):
    """pq_adc_topk must inherit the queries' id type — string/UUID ids
    rank identically to the same vectors under bigint ids (ADVICE r8:
    the lookup table hardcoded ``query_id bigint``)."""
    from datum_spark.operators.similarity import (pq_adc_topk,
                                                  pq_train_encode)

    rows = []
    for i in range(40):
        base = 0.0 if i < 20 else 100.0
        rows.append((i, [base + (i % 5) * 0.01] * 8))
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    codes, books = pq_train_encode(df, m=2, ksub=4, iters=2)
    qs_int = df.filter("vec_id IN (0, 25)")
    qs_str = qs_int.selectExpr("concat('q-', vec_id) AS vec_id",
                               "embedding")
    by_int = {(f"q-{r['query_id']}", r["rnk"]): (r["vec_id"], r["adc"])
              for r in pq_adc_topk(qs_int, codes, books, k=5).collect()}
    by_str = {(r["query_id"], r["rnk"]): (r["vec_id"], r["adc"])
              for r in pq_adc_topk(qs_str, codes, books, k=5).collect()}
    assert by_str == by_int and len(by_str) == 10


def test_opq_rotation_preserves_distances_and_is_permutation(spark):
    """r12 OPQ: the Householder+permutation is an isometry up to the
    1e-6 rounding — pairwise L2 distances survive the rotation — and
    ``perm`` is a true permutation."""
    import itertools
    import random

    from datum_spark.operators.similarity import (opq_rotate,
                                                  opq_rotation)

    rng = random.Random(3)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) + (2.0 if j < 2 else 0.0) * rng.random()
              for j in range(16)]) for i in range(80)],
        "vec_id bigint, embedding array<double>")
    u, perm, var = opq_rotation(df, "embedding", m=4)
    assert sorted(perm) == list(range(16))
    assert len(var) == 16
    assert abs(sum(x * x for x in u) - 1.0) < 1e-6   # unit reflector
    rot = opq_rotate(df.filter("vec_id < 6"), "embedding", u, perm,
                     "re")
    rows = {r["vec_id"]: (list(r["embedding"]), list(r["re"]))
            for r in rot.collect()}
    for a, b in itertools.combinations(sorted(rows), 2):
        d0 = sum((x - y) ** 2 for x, y in zip(rows[a][0], rows[b][0]))
        d1 = sum((x - y) ** 2 for x, y in zip(rows[a][1], rows[b][1]))
        assert abs(d0 - d1) < 1e-3, (a, b, d0, d1)


def test_ivfpq_rotated_index_roundtrip(spark, tmp_path):
    """r12 rotated IVF-PQ: build → query (self-retrieval) → add →
    query → rebalance all work through the persisted rotation, and
    the serve result equals the manually composed
    rotate-residual + ADC path."""
    from datum_spark.operators.similarity import (
        _ivfpq_load_rotation, ivfpq_index_add, ivfpq_index_build,
        ivfpq_index_occupancy, ivfpq_index_query, ivfpq_rebalance)

    path = str(tmp_path / "ix")
    rows = [(i, [float(200 * (i % 3)) + (i % 7) * 0.01 + j * 0.001
                 for j in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    info = ivfpq_index_build(df, path, ncells=3, m=2, ksub=4,
                             coarse_iters=2, pq_iters=2, rotate=True)
    assert info["rotate"] is True
    rot = _ivfpq_load_rotation(path)
    assert rot is not None and sorted(rot[1]) == list(range(8))
    qs = df.filter("vec_id IN (0, 31)")
    got = {(r["query_id"], r["rnk"]): r["vec_id"]
           for r in ivfpq_index_query(qs, path, k=3, nprobe=1)
           .collect()}
    # self-retrieval up to exact duplicates (the fixture repeats the
    # same vector every 21 ids; ADC ties break by id asc)
    assert got[(0, 1)] % 21 == 0 and got[(31, 1)] % 21 == 31 % 21
    # delta ingest encodes through the same rotation
    extra = spark.createDataFrame(
        [(100 + i, [400.0 + i * 0.01 + j * 0.001 for j in range(8)])
         for i in range(6)],
        "vec_id bigint, embedding array<double>")
    assert ivfpq_index_add(extra, path) == 6
    got2 = {r["rnk"]: r["vec_id"] for r in ivfpq_index_query(
        extra.filter("vec_id = 103"), path, k=3, nprobe=1).collect()}
    # 4-centroid codes collapse the 400-blob: assert every neighbor
    # IS from that blob (training ids with i%3==2, or the new deltas)
    assert all(v >= 100 or v % 3 == 2 for v in got2.values())
    # rebalance re-encodes split cells through the rotation;
    # nothing lost or doubled
    ivfpq_rebalance(df.unionByName(extra), path, hot_factor=1.5)
    occ = ivfpq_index_occupancy(spark, path).collect()
    assert sum(r["n_codes"] for r in occ) == 66
    got3 = {r["rnk"]: r["vec_id"] for r in ivfpq_index_query(
        qs.filter("vec_id = 31"), path, k=3, nprobe=1).collect()}
    assert got3[1] % 21 == 31 % 21


def test_opq_balance_rescues_skewed_variance(spark):
    """The serpentine variance-balanced permutation is the skew
    remedy: when all the energy sits in dims the natural order stacks
    into ONE subspace, plain PQ wastes m−1 subspaces on noise and the
    balanced OPQ wins recall decisively."""
    import random

    from datum_spark.operators.similarity import (opq_adc_topk,
                                                  opq_train_encode,
                                                  pq_adc_topk,
                                                  pq_train_encode)

    rng = random.Random(5)
    # dims 0..3 carry ~all variance; natural order puts all four into
    # subspace 0 (m=4, dsub=4)
    rows = [(i, [rng.uniform(-10, 10) if j < 4 else rng.uniform(-.1, .1)
                 for j in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    qs = df.filter("vec_id < 10")
    qv = qs.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").alias("qe"))
    corpus = df.select("vec_id", F.col("embedding").alias("e"))
    d2 = F.round(F.aggregate(
        F.zip_with("qe", "e", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    from pyspark.sql import Window as W
    w = W.partitionBy("qid").orderBy(d2.asc(), F.col("vec_id").asc())
    exact = (qv.crossJoin(F.broadcast(corpus))
               .withColumn("rn", F.row_number().over(w))
               .filter("rn <= 10").select("qid", "vec_id"))

    def recall(adc):
        return (adc.join(exact, (adc["query_id"] == exact["qid"])
                         & (adc["vec_id"] == exact["vec_id"]), "semi")
                .count()) / 100.0

    codes_p, books_p = pq_train_encode(df, m=4, ksub=8, iters=2)
    r_plain = recall(pq_adc_topk(qs, codes_p, books_p, k=10))
    codes_b, books_b, u, perm = opq_train_encode(
        df, m=4, ksub=8, iters=2, balance=True)
    r_bal = recall(opq_adc_topk(qs, codes_b, books_b, u, perm, k=10))
    # the balanced permutation must spread the 4 heavy dims across
    # all 4 subspaces...
    heavy_subspaces = {perm[j] // 4 for j in range(4)}
    assert len(heavy_subspaces) == 4
    # ...and win recall decisively on this geometry
    assert r_bal > r_plain + 0.2, (r_plain, r_bal)


def test_ivfpq_train_search_self_retrieval(spark):
    """Well-separated blobs: every query's top-1 via cell-pruned ADC is
    itself, and all retrieved neighbors come from the query's blob."""
    from datum_spark.operators.similarity import (ivfpq_adc_topk,
                                                  ivfpq_train_encode)

    rows = []
    for i in range(60):
        base = float(200 * (i % 3))              # 3 blobs at 0/200/400
        rows.append((i, [base + (i % 7) * 0.01] * 8))
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    codes, coarse, books = ivfpq_train_encode(
        df, ncells=3, m=2, ksub=4, coarse_iters=2, pq_iters=2)
    got = codes.collect()
    assert len(got) == 60
    # vectors of one blob share a cell
    by_blob = {}
    for r in got:
        by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cell"])
    assert all(len(cells) == 1 for cells in by_blob.values())
    qs = df.filter("vec_id IN (0, 1, 50)")
    out = ivfpq_adc_topk(qs, codes, coarse, books, k=5, nprobe=1)
    top = {(r["query_id"], r["rnk"]): r["vec_id"] for r in out.collect()}
    assert len(top) == 15
    for (qid, rnk), vid in top.items():
        assert vid % 3 == qid % 3             # same blob only
        # ADC is code-level, so equal-code candidates tie (broken by
        # id asc): strict self-retrieval holds for the lowest id of a
        # blob, membership for the rest
        if rnk == 1 and qid in (0, 1):
            assert vid == qid


def test_ivfpq_index_roundtrip_and_add(spark, tmp_path):
    """Persistent index: serve == inline train-then-search
    bit-identically; a delta added against the FROZEN quantizers is
    retrievable without touching the prior codes."""
    from datum_spark.operators.similarity import (ivfpq_adc_topk,
                                                  ivfpq_index_add,
                                                  ivfpq_index_build,
                                                  ivfpq_index_query,
                                                  ivfpq_train_encode)

    rows = [(i, [float(200 * (i % 3)) + (i % 7) * 0.01] * 8)
            for i in range(60)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    idx = str(tmp_path / "ivfpq")
    info = ivfpq_index_build(df, idx, ncells=3, m=2, ksub=4)
    assert info["n_vectors"] == 60
    qs = df.filter("vec_id IN (0, 1, 50)")
    codes, coarse, books = ivfpq_train_encode(
        df, ncells=3, m=2, ksub=4, coarse_iters=2, pq_iters=2)
    inline = {(r["query_id"], r["rnk"]): (r["vec_id"], r["adc"])
              for r in ivfpq_adc_topk(qs, codes, coarse, books,
                                      k=5, nprobe=2).collect()}
    served = {(r["query_id"], r["rnk"]): (r["vec_id"], r["adc"])
              for r in ivfpq_index_query(qs, idx, k=5,
                                         nprobe=2).collect()}
    assert served == inline
    # delta: near-copies of vector 0's blob, ids 1000+
    delta = spark.createDataFrame(
        [(1000 + j, [0.005 + j * 0.001] * 8) for j in range(3)],
        "vec_id bigint, embedding array<double>")
    assert ivfpq_index_add(delta, idx) == 3
    # k covers the probed cell (20 blob members + 3 delta): the delta
    # must land in the query's cell and serve — equal-code ties make
    # top-few membership order-dependent, cell membership is not
    after = ivfpq_index_query(df.filter("vec_id = 0"), idx,
                              k=23, nprobe=1).collect()
    found = {r["vec_id"] for r in after}
    assert {1000, 1001, 1002} <= found
    assert all(v % 3 == 0 or v >= 1000 for v in found)


def test_ivfpq_query_partition_prunes(spark, tmp_path):
    """The probed-cell filter must reach the parquet source as
    PARTITION pruning — serve IO is nprobe/ncells of the code volume,
    which is the whole point of the composition."""
    from datum_spark.operators.similarity import (ivfpq_index_build,
                                                  ivfpq_index_query)
    from datum_spark.plans.inspect import explain_str

    rows = [(i, [float(200 * (i % 3)) + (i % 7) * 0.01] * 8)
            for i in range(60)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(df, idx, ncells=3, m=2, ksub=4)
    out = ivfpq_index_query(df.filter("vec_id = 0"), idx, k=3, nprobe=1)
    plan = explain_str(out)
    # with nprobe=1 of 3 cells the isin([one cell]) compiles to an
    # equality partition filter — exactly one cell directory scanned
    import re
    m = re.search(r"PartitionFilters: \[[^\]]*\(cell#\d+ = \d+\)", plan)
    assert m, plan


def test_ivfpq_refine_recovers_exact_with_full_shortlist(spark):
    """With shortlist = |corpus| the refine stage IS the exact ranking
    (every candidate re-ranked by exact rounded L2); with a narrow
    shortlist, refined results are still never worse than raw ADC on
    blob membership."""
    from pyspark.sql import Window
    from datum_spark.operators.similarity import (ivfpq_refine_topk,
                                                  ivfpq_train_encode)

    rows = [(i, [float(200 * (i % 3)) + (i % 7) * 0.01,
                 float(i) * 0.001] + [0.0] * 6) for i in range(60)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    codes, coarse, books = ivfpq_train_encode(
        df, ncells=3, m=2, ksub=4, coarse_iters=2, pq_iters=2)
    qs = df.filter("vec_id IN (0, 1, 50)")
    ref = ivfpq_refine_topk(qs, codes, df, coarse, books, k=5,
                            shortlist=60, nprobe=3)
    got = {(r["query_id"], r["rnk"]): r["vec_id"] for r in ref.collect()}
    # exact top-5 by the same rounded d2 / id tie-break
    qv = qs.selectExpr("vec_id AS qid",
                       "cast(embedding as array<double>) AS qe")
    cv = df.selectExpr("vec_id", "cast(embedding as array<double>) AS e")
    d2 = F.round(F.aggregate(
        F.zip_with("qe", "e", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    w = Window.partitionBy("qid").orderBy(d2.asc(), F.col("vec_id").asc())
    exact = {(r["qid"], r["rn"]): r["vec_id"]
             for r in qv.crossJoin(cv)
                        .withColumn("rn", F.row_number().over(w))
                        .filter("rn <= 5").collect()}
    assert got == exact


def test_ivfpq_transactional_index(spark, tmp_path):
    """transactional=True stores codes as a SnapshotTable: answers are
    bit-equal to the partitioned-parquet index, the probed-cell read is
    FILE-pruned by manifest stats, and a replayed delta (same txn)
    commits zero rows twice."""
    from datum_spark.operators.similarity import (ivfpq_index_add,
                                                  ivfpq_index_build,
                                                  ivfpq_index_query)
    from datum_spark.sources.snapshots import SnapshotTable

    rows = [(i, [float(200 * (i % 3)) + (i % 7) * 0.01] * 8)
            for i in range(60)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    qs = df.filter("vec_id IN (0, 1, 50)")
    plain = str(tmp_path / "plain")
    txn = str(tmp_path / "txn")
    ivfpq_index_build(df, plain, ncells=3, m=2, ksub=4)
    info = ivfpq_index_build(df, txn, ncells=3, m=2, ksub=4,
                             transactional=True)
    assert info["transactional"] and info["n_vectors"] == 60
    a = {(r["query_id"], r["rnk"]): (r["vec_id"], r["adc"])
         for r in ivfpq_index_query(qs, plain, k=5, nprobe=2).collect()}
    b = {(r["query_id"], r["rnk"]): (r["vec_id"], r["adc"])
         for r in ivfpq_index_query(qs, txn, k=5, nprobe=2).collect()}
    assert a == b and len(b) == 15

    # manifest-stats pruning: a 1-cell probe scans a strict file subset
    t = SnapshotTable(spark, str(tmp_path / "txn" / "codes"))
    all_files = set(t._load_manifest(t.current_version())["files"])
    pruned = ivfpq_index_query(df.filter("vec_id = 0"), txn,
                               k=3, nprobe=1)
    scanned = {f.replace("file://", "").replace("file:", "")
               for f in pruned.inputFiles()}
    assert scanned < all_files

    # at-least-once producer: the same micro-batch commits once
    delta = spark.createDataFrame(
        [(1000 + j, [0.005 + j * 0.001] * 8) for j in range(3)],
        "vec_id bigint, embedding array<double>")
    assert ivfpq_index_add(delta, txn, txn_id="ingest",
                           txn_version=1) == 3
    assert ivfpq_index_add(delta, txn, txn_id="ingest",
                           txn_version=1) == 0      # replay: no-op
    after = ivfpq_index_query(df.filter("vec_id = 0"), txn,
                              k=23, nprobe=1).collect()
    found = [r["vec_id"] for r in after]
    assert {1000, 1001, 1002} <= set(found)
    assert len(found) == len(set(found)) == 23      # no double-commit


def test_normalize_text_hand_cases(spark):
    from datum_spark.operators.text import normalize_text

    cases = [
        ("cafÃ© â€œquotedâ€™",
         'cafe "quoted\''),                       # mojibake é “ ’
        ("a’b “c” – d …", "a'b \"c\" - d ..."),
        ("x\x00y\x07z", "xyz"),                   # control strip
        ("  a\t\tb\nc  ", "a b c"),               # whitespace collapse
        ("nb sp", "nb sp"),                  # NBSP → space
        ("", ""),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)],
                               "i int, s string")
    got = {r["i"]: r["n"]
           for r in df.select("i", normalize_text(F.col("s"))
                              .alias("n")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_spearman_matrix_known_relationships(spark):
    """Perfect monotone → 1.0; perfect inverse → -1.0; a scrambling
    permutation (tie-free: the deterministic (value, id) tie rule makes
    heavily-tied signals rank BY id, which is itself a signal) sits
    near 0.  Partitioning never changes the deterministic ranks."""
    from datum_spark.operators.signals import spearman_matrix

    rows = [(i, float(i), float(i * i), float(100 - i),
             float((i * 17) % 40)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "id long, a double, b double, c double, d double")
    got = {(r["sig_a"], r["sig_b"]): r["spearman"]
           for r in spearman_matrix(df, "id",
                                    ["a", "b", "c", "d"]).collect()}
    assert got[("a", "b")] == 1.0          # monotone transform
    assert got[("a", "c")] == -1.0         # reversed
    assert abs(got[("a", "d")]) < 0.1      # permutation ≈ independent
    again = {(r["sig_a"], r["sig_b"]): r["spearman"]
             for r in spearman_matrix(df.repartition(7), "id",
                                      ["a", "b", "c", "d"]).collect()}
    assert again == got


def test_matryoshka_full_prefix_is_perfect(spark):
    """A prefix equal to the full dimension reproduces the full ranking
    (recall 1.0 for every query); a 1-dim prefix on data whose first
    dim is CONSTANT collapses to id-order and generally does not."""
    from datum_spark.operators.similarity import matryoshka_recall

    rows = [(i, [5.0] + [float((i * 7 + d) % 13) for d in range(7)])
            for i in range(30)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    got = {(r["prefix_dim"], r["query_id"]): r["recall"]
           for r in matryoshka_recall(df, [1, 8], n_queries=4,
                                      k=5).collect()}
    assert all(got[(8, q)] == 1.0 for q in range(4))
    assert any(got[(1, q)] < 1.0 for q in range(4))


def test_semantic_contamination_flags_planted_only(spark):
    from datum_spark.operators.similarity import semantic_contamination

    corpus = spark.createDataFrame(
        [(i, [float(i + 1), float(2 * i + 1), 1.0]) for i in range(20)],
        "vec_id bigint, embedding array<double>")
    ev = spark.createDataFrame(
        [(100, [10.0, 18.0, 2.0]),        # 2× corpus id 4 = [5, 9, 1]
         (101, [-5.0, 1.0, 9.0])],        # unrelated direction
        "vec_id bigint, embedding array<double>")
    got = {r["vec_id"]: r for r in
           semantic_contamination(ev, corpus,
                                  threshold=0.999).collect()}
    assert got[100]["contaminated"] and got[100]["max_cos"] == 1.0
    assert not got[101]["contaminated"]
    assert got[101]["max_cos"] < 0.999


def test_temperature_rates_properties(spark):
    """τ=1 → natural distribution (uniform rates); τ<1 upweights rare
    sources; the budget variant approximates the budget in expectation
    (Σ n·r ≈ budget) and never exceeds rate 1."""
    from datum_spark.operators.sampling import temperature_rates

    rows = [(i, "big" if i < 800 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    nat = temperature_rates(df, tau=1.0)
    assert nat["big"] == nat["small"] == 1.0
    cool = temperature_rates(df, tau=0.3)
    assert cool["small"] == 1.0 and cool["big"] < 0.4
    bud = temperature_rates(df, tau=0.5, budget_rows=300)
    assert all(0 < r <= 1 for r in bud.values())
    expected = 800 * bud["big"] + 200 * bud["small"]
    assert abs(expected - 300) < 1


def _skewed_index(spark, path, transactional=False):
    """3-blob corpus (20 each at 0/200/400), then a 120-vector skewed
    delta landing in blob-0's cell (two sub-blobs at 1.0 / 2.0 the
    frozen centers cannot separate).  Returns (full corpus, delta)."""
    from datum_spark.operators.similarity import (ivfpq_index_add,
                                                  ivfpq_index_build)

    rows = [(i, [float(200 * (i % 3)) + (i % 7) * 0.01] * 8)
            for i in range(60)]
    base = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")
    ivfpq_index_build(base, path, ncells=3, m=2, ksub=4,
                      coarse_iters=2, pq_iters=2,
                      transactional=transactional)
    drows = [(1000 + i, [1.0 + (i % 5) * 0.01] * 8) for i in range(60)] \
        + [(2000 + i, [2.0 + (i % 5) * 0.01] * 8) for i in range(60)]
    delta = spark.createDataFrame(
        drows, "vec_id bigint, embedding array<double>")
    ivfpq_index_add(delta, path)
    return base.unionByName(delta), delta


def test_ivfpq_occupancy_flags_hot_cell(spark, tmp_path):
    from datum_spark.operators.similarity import ivfpq_index_occupancy

    path = str(tmp_path / "ix")
    _skewed_index(spark, path)
    occ = {r["cell"]: r for r in
           ivfpq_index_occupancy(spark, path).collect()}
    assert sum(r["n_codes"] for r in occ.values()) == 180
    hot = [c for c, r in occ.items() if r["ratio_to_mean"] > 2.0]
    assert len(hot) == 1 and occ[hot[0]]["n_codes"] == 140
    assert abs(occ[hot[0]]["share"] - 140 / 180) < 1e-6


def test_ivfpq_rebalance_bounds_hot_cell_and_keeps_serving(spark,
                                                           tmp_path):
    from datum_spark.operators.similarity import (ivfpq_index_occupancy,
                                                  ivfpq_index_query,
                                                  ivfpq_rebalance)

    path = str(tmp_path / "ix")
    corpus, _ = _skewed_index(spark, path)
    res = ivfpq_rebalance(corpus, path, hot_factor=2.0)
    # round 1 peels blob-0 off the hot cell (140 -> 20 + 120); round 2
    # splits the still-hot 1.0/2.0 mass (120 -> 60 + 60)
    assert len(res["split"]) == 2
    assert res["split"][0][1] == 3 and res["split"][1] == (3, 4)
    assert res["n_reencoded"] == 140 + 120
    occ = {r["cell"]: r for r in
           ivfpq_index_occupancy(spark, path).collect()}
    assert len(occ) == 5
    assert sum(r["n_codes"] for r in occ.values()) == 180   # no loss
    assert max(r["n_codes"] for r in occ.values()) < 140    # shrunk
    assert all(r["ratio_to_mean"] <= 2.0 for r in occ.values())
    # untouched cells still serve identically; split cells serve their
    # own members (nprobe=1 — the scan is now the SUB-cell)
    qs = corpus.filter("vec_id IN (1, 1003, 2003)")
    out = ivfpq_index_query(qs, path, k=5, nprobe=1)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    assert all(v % 3 == 1 for v in got[1])            # blob-200 intact
    assert all(1000 <= v < 1100 for v in got[1003])   # 1.0 sub-blob
    assert all(v >= 2000 for v in got[2003])          # 2.0 sub-blob


def test_ivfpq_rebalance_noop_when_balanced(spark, tmp_path):
    from datum_spark.operators.similarity import (ivfpq_index_build,
                                                  ivfpq_rebalance)

    rows = [(i, [float(200 * (i % 3)) + (i % 7) * 0.01] * 8)
            for i in range(60)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "ix")
    ivfpq_index_build(df, path, ncells=3, m=2, ksub=4)
    res = ivfpq_rebalance(df, path, hot_factor=2.0)
    assert res == {"split": [], "n_reencoded": 0}


def test_ivfpq_rebalance_transactional(spark, tmp_path):
    """On a snapshot-table index the rewrite is a stats-pruned delete
    + append — versioned, so the pre-rebalance codes time-travel."""
    from datum_spark.operators.similarity import (ivfpq_index_occupancy,
                                                  ivfpq_rebalance)
    from datum_spark.sources.snapshots import SnapshotTable

    path = str(tmp_path / "ix")
    corpus, _ = _skewed_index(spark, path, transactional=True)
    t = SnapshotTable(spark, str(tmp_path / "ix" / "codes"))
    v_before = t.current_version()
    res = ivfpq_rebalance(corpus, path, hot_factor=2.0)
    assert res["n_reencoded"] == 140 + 120
    occ = ivfpq_index_occupancy(spark, path).collect()
    assert sum(r["n_codes"] for r in occ) == 180
    assert max(r["n_codes"] for r in occ) < 140
    assert t.read(version=v_before).count() == 180   # time travel


def test_ivfpq_rebalance_requires_full_corpus(spark, tmp_path):
    """Membership comes from the STORED codes joined to the corpus by
    id — a corpus missing indexed vectors must fail loudly, never
    silently drop them from the rewritten cells."""
    import pytest as _pytest

    from datum_spark.operators.similarity import ivfpq_rebalance

    path = str(tmp_path / "ix")
    corpus, delta = _skewed_index(spark, path)
    with _pytest.raises(ValueError, match="corpus does not cover"):
        ivfpq_rebalance(corpus.filter("vec_id < 1000"), path,
                        hot_factor=2.0)


def test_ivfpq_rebalance_identical_vectors_terminate(spark, tmp_path):
    """An all-identical hot cell cannot be split (2-means yields one
    center twice): rebalance must terminate without appending
    duplicate centers or rewriting anything."""
    from datum_spark.operators.similarity import (ivfpq_index_add,
                                                  ivfpq_index_build,
                                                  ivfpq_rebalance)

    rows = [(i, [float(200 * (i % 3))] * 8) for i in range(30)]
    base = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "ix")
    ivfpq_index_build(base, path, ncells=3, m=2, ksub=4)
    dup = spark.createDataFrame(
        [(1000 + i, [0.0] * 8) for i in range(90)],
        "vec_id bigint, embedding array<double>")
    ivfpq_index_add(dup, path)
    res = ivfpq_rebalance(base.unionByName(dup), path, hot_factor=2.0)
    assert res == {"split": [], "n_reencoded": 0}
    coarse = spark.read.parquet(path + "/coarse").collect()
    assert len(coarse) == 3                       # no duplicate centers


def test_ivfpq_occupancy_empty_codes_zero_not_null(spark):
    """An EMPTY codes table must report share/ratio_to_mean 0.0 per
    cell (greatest(total,1) denominator), never NULL rows (ADVICE
    r10)."""
    from datum_spark.operators.similarity import ivfpq_cell_occupancy

    codes = spark.createDataFrame([], "vec_id bigint, cell int, "
                                      "code_0 int, code_1 int")
    occ = ivfpq_cell_occupancy(codes, 4).collect()
    assert len(occ) == 4
    for r in occ:
        assert r["n_codes"] == 0
        assert r["share"] == 0.0
        assert r["ratio_to_mean"] == 0.0


def test_ivfpq_rebalance_marker_detects_half_applied(spark, tmp_path,
                                                     monkeypatch):
    """The crash window between the coarse commit and the codes commit
    is observable: a failure in between leaves _rebalance_pending.json
    (split plan readable via ivfpq_rebalance_pending); a successful
    re-run clears it (ADVICE r10)."""
    import pytest as _pytest

    from datum_spark.operators.similarity import (ivfpq_rebalance,
                                                  ivfpq_rebalance_pending)
    from datum_spark.sources.snapshots import SnapshotTable

    path = str(tmp_path / "ix")
    corpus, _ = _skewed_index(spark, path, transactional=True)
    assert ivfpq_rebalance_pending(path) is None

    def boom(self, *a, **k):
        raise OSError("crash between coarse and codes commit")

    monkeypatch.setattr(SnapshotTable, "merge", boom)
    with _pytest.raises(OSError):
        ivfpq_rebalance(corpus, path, hot_factor=2.0)
    pend = ivfpq_rebalance_pending(path)
    assert pend is not None and len(pend["split"]) >= 1
    assert pend["split"][0][0] != pend["split"][0][1]
    monkeypatch.undo()
    # re-run converges and closes the window
    res = ivfpq_rebalance(corpus, path, hot_factor=2.0)
    assert res["n_reencoded"] > 0
    assert ivfpq_rebalance_pending(path) is None
    from datum_spark.operators.similarity import ivfpq_index_occupancy
    occ = ivfpq_index_occupancy(spark, path).collect()
    assert sum(r["n_codes"] for r in occ) == 180      # no loss, no dup


def test_ivfpq_rebalance_concurrent_ingest_no_lost_rows(spark, tmp_path,
                                                        monkeypatch):
    """r11 brief #8: an ivfpq_index_add landing between the rebalance's
    membership read and its merge commit must not be lost or doubled.
    The merge's snapshot-pin precondition rejects the stale re-encode
    (a cell-keyed upsert would replace the concurrent rows away) and
    the round recomputes from the new head."""
    from datum_spark.operators.similarity import (ivfpq_index_add,
                                                  ivfpq_rebalance)
    from datum_spark.sources.snapshots import SnapshotTable

    path = str(tmp_path / "ix")
    corpus, _ = _skewed_index(spark, path, transactional=True)
    n_coarse_before = spark.read.parquet(path + "/coarse").count()
    extra = spark.createDataFrame(
        [(3000 + i, [1.5 + (i % 3) * 0.01] * 8) for i in range(12)],
        "vec_id bigint, embedding array<double>")
    real_merge = SnapshotTable.merge
    state = {"fired": 0}

    def racing_merge(self, df, keys, precondition=None):
        if not state["fired"]:
            state["fired"] = 1
            ivfpq_index_add(extra, path)    # concurrent ingest wins
        return real_merge(self, df, keys, precondition=precondition)

    monkeypatch.setattr(SnapshotTable, "merge", racing_merge)
    full = corpus.unionByName(extra)
    res = ivfpq_rebalance(full, path, hot_factor=2.0)
    monkeypatch.undo()
    assert state["fired"] == 1 and res["n_reencoded"] > 0
    codes = SnapshotTable(spark, path + "/codes").read()
    assert codes.count() == 180 + 12                  # nothing lost
    assert codes.select("vec_id").distinct().count() == 192   # no dup
    # the concurrent rows serve: every extra id is findable
    got = {r["vec_id"] for r in codes.collect()}
    assert all(3000 + i in got for i in range(12))
    # r12: failed-precondition attempts must not leak phantom coarse
    # cells — the abort restores the pre-attempt coarse table, so the
    # final geometry grew by exactly the SUCCESSFUL splits
    n_coarse_after = spark.read.parquet(path + "/coarse").count()
    assert n_coarse_after == n_coarse_before + len(res["split"])
    # and every coarse cell the splits created actually holds codes
    populated = {r["cell"] for r in codes.select("cell")
                 .distinct().collect()}
    assert all(new in populated for _, new in res["split"])


def test_ivfpq_rebalance_recovers_coarse_after_codes_commit(
        spark, tmp_path, monkeypatch):
    """r12 codes-first ordering: a crash between the codes merge and
    the coarse write leaves codes encoded against sub-centers the
    coarse table doesn't know.  The marker's center patches let the
    next rebalance run COMPLETE the coarse write instead of leaving
    the sub-blob invisible."""
    import pytest as _pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from datum_spark.operators.similarity import (
        ivfpq_index_occupancy, ivfpq_rebalance, ivfpq_rebalance_pending)
    from datum_spark.sources.snapshots import SnapshotTable

    path = str(tmp_path / "ix")
    corpus, _ = _skewed_index(spark, path, transactional=True)
    real_parquet = DataFrameWriter.parquet

    def boom(self, p, *a, **k):
        if str(p).rstrip("/").endswith("coarse"):
            raise OSError("crash between codes commit and coarse write")
        return real_parquet(self, p, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with _pytest.raises(OSError):
        ivfpq_rebalance(corpus, path, hot_factor=2.0)
    monkeypatch.undo()
    # half-applied and OBSERVABLE: codes hold cells the coarse lacks
    pend = ivfpq_rebalance_pending(path)
    assert pend is not None and pend.get("patches")
    n_coarse = spark.read.parquet(path + "/coarse").count()
    codes = SnapshotTable(spark, path + "/codes").read()
    assert codes.agg(F.max("cell")).first()[0] >= n_coarse
    # next run repairs the geometry from the marker, then converges
    ivfpq_rebalance(corpus, path, hot_factor=2.0)
    assert ivfpq_rebalance_pending(path) is None
    codes = SnapshotTable(spark, path + "/codes").read()
    n_coarse = spark.read.parquet(path + "/coarse").count()
    assert codes.agg(F.max("cell")).first()[0] == n_coarse - 1
    occ = ivfpq_index_occupancy(spark, path).collect()
    assert sum(r["n_codes"] for r in occ) == 180     # no loss, no dup


def test_leakage_safe_split_no_straddling_pairs(spark):
    """Near-dup pairs must never straddle the split when keyed by
    cluster; the doc-keyed split on the same corpus DOES leak (the
    contrast that motivates the operator)."""
    from datum_spark.operators.dedup import ngram_jaccard_pairs
    from datum_spark.operators.sampling import (leakage_safe_split,
                                                with_md5_split_label)

    base = ["alpha beta gamma delta epsilon", "zeta eta theta iota kappa",
            "lambda mu nu xi omicron", "pi rho sigma tau upsilon",
            "phi chi psi omega alef", "one two three four five",
            "six seven eight nine ten", "red green blue cyan magenta"]
    rows = []
    for i, t in enumerate(base):          # 4 near-copies per base doc
        for j in range(4):
            rows.append((i * 10 + j, t + (" extra" if j == 3 else "")))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text",
                                n=1, threshold=0.5)
    assert pairs.count() > 0
    # clusters derived FROM the checked pair graph (the x209 spelling):
    # zero straddling pairs is then guaranteed by construction
    from datum_spark.operators.components import dup_clusters
    comp = dup_clusters(pairs.select("id_a", "id_b"))
    clusters = (docs.select("doc_id")
                .join(comp, F.col("doc_id") == F.col("node"), "left")
                .select("doc_id", F.coalesce("component", "doc_id")
                        .alias("cluster_id")))
    lab = leakage_safe_split(docs, "doc_id", "text", clusters=clusters)
    sp = {r["doc_id"]: r["split"] for r in lab.collect()}
    assert len(sp) == len(rows)
    leaks = sum(1 for r in pairs.collect()
                if sp[r["id_a"]] != sp[r["id_b"]])
    assert leaks == 0                      # by construction
    # the default LSH path: whatever clusters IT finds, each cluster's
    # members share one split label (the operator's invariant under
    # its own similarity definition)
    lab2 = leakage_safe_split(docs, "doc_id", "text",
                              num_hashes=16, bands=8, shingle_k=3,
                              threshold=0.5)
    for r in lab2.groupBy("cluster_id").agg(
            F.countDistinct("split").alias("k")).collect():
        assert r["k"] == 1
    # contrast: the naive doc-keyed split cuts near-dup pairs apart
    naive = {r["doc_id"]: r["split"] for r in
             with_md5_split_label(docs, "doc_id").collect()}
    naive_leaks = sum(1 for r in pairs.collect()
                      if naive[r["id_a"]] != naive[r["id_b"]])
    assert naive_leaks > 0


def test_gopher_repetition_rules(spark):
    """Each published repetition rule (Rae 2021 A1.2) is an audited
    column: crafted docs trip exactly the family they violate, and
    clean/empty docs pass all 13."""
    from datum_spark.operators.text import gopher_repetition

    docs = spark.createDataFrame([
        (1, "a perfectly normal document with many different words "
            "and no repeats at all in sight today"),
        (2, "same line\nsame line\nsame line\nother line"),
        (3, "spam spam spam spam spam spam spam spam spam spam"),
        (4, "para one here\n\npara one here\n\npara two now"),
        (5, ""),
        (6, "the cat sat on the mat and then the cat sat on the mat "
            "again and the cat sat on the mat"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_repetition(docs).collect()}
    assert out[1]["repetition_pass"] and out[5]["repetition_pass"]
    # duplicate lines: count and char fractions both trip
    assert out[2]["dup_line_frac"] == 0.5
    assert not out[2]["pass_dup_line_frac"]
    assert not out[2]["pass_dup_line_char_frac"]
    # self-repeating unigram text: top-gram coverage capped at 1.0
    assert out[3]["top_2gram_char_frac"] == 1.0
    assert not out[3]["pass_top_2gram_char_frac"]
    # duplicate paragraphs trip the para family
    assert out[4]["dup_para_frac"] > 0.3
    assert not out[4]["pass_dup_para_frac"]
    # a repeated 5-gram phrase trips the dup-gram family
    assert out[6]["dup_5gram_char_frac"] > 0.15
    assert not out[6]["pass_dup_5gram_char_frac"]
    # singleton top grams are not repetition
    assert out[1]["top_4gram_char_frac"] == 0.0


def test_ivfpq_rebuild_in_place_clears_rotation(spark, tmp_path):
    """ADVICE r13 (medium): rebuilding a previously ROTATED index in
    place with rotate=False must clear rotation.json — otherwise
    add/query/rebalance would rotate residuals against codebooks
    trained on unrotated residuals.  The plain rebuild's answers must
    be bit-equal to a fresh plain build at another path."""
    import os

    from datum_spark.operators.similarity import (
        _ivfpq_load_rotation, ivfpq_index_build, ivfpq_index_query)

    rows = [(i, [float(200 * (i % 3)) + (i % 7) * 0.01 + j * 0.001
                 for j in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "ix")
    ivfpq_index_build(df, path, ncells=3, m=2, ksub=4, rotate=True)
    assert os.path.exists(os.path.join(path, "rotation.json"))

    # corpus-refresh cadence: rebuild the SAME path without rotation
    info = ivfpq_index_build(df, path, ncells=3, m=2, ksub=4,
                             rotate=False)
    assert info["rotate"] is False
    assert _ivfpq_load_rotation(path) is None     # marker cleared
    fresh = str(tmp_path / "fresh")
    ivfpq_index_build(df, fresh, ncells=3, m=2, ksub=4)
    qs = df.filter("vec_id IN (0, 31, 50)")
    a = {(r["query_id"], r["rnk"]): (r["vec_id"], r["adc"])
         for r in ivfpq_index_query(qs, path, k=5, nprobe=2).collect()}
    b = {(r["query_id"], r["rnk"]): (r["vec_id"], r["adc"])
         for r in ivfpq_index_query(qs, fresh, k=5, nprobe=2).collect()}
    assert a == b and len(a) == 15

    # and the reverse refresh (plain -> rotated) re-creates the marker
    ivfpq_index_build(df, path, ncells=3, m=2, ksub=4, rotate=True)
    assert _ivfpq_load_rotation(path) is not None


def test_remove_duplicated_spans_hand_cases(spark):
    """r13 ExactSubstr action (Lee et al. 2022): keep-first span
    removal with hand-computed expectations — the keeper occurrence
    survives, later occurrences (cross-doc AND within-doc) lose their
    covered positions, unrelated and empty docs pass through."""
    from datum_spark.operators.dedup import remove_duplicated_spans

    rows = [
        (1, "a b c d e f g h unique1 tail1"),    # keeper at (1, 0)
        (2, "x y a b c d e f g h z w q r s t"),  # dup span at pos 2
        (3, "solo words only here nothing shared at all"),
        (4, ""),
        (5, "a b c d e f g h a b c d e f g h"),  # two removed occs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           remove_duplicated_spans(df, "doc_id", "text", n=8).collect()}
    assert got[1]["text"] == rows[0][1]           # keeper untouched
    assert got[1]["n_spans_removed"] == 0
    assert got[2]["text"] == "x y z w q r s t"    # middle 8 words cut
    assert (got[2]["n_words"], got[2]["n_words_removed"],
            got[2]["n_spans_removed"]) == (16, 8, 1)
    assert abs(got[2]["removed_char_frac"] - 16 / 31) < 1e-6
    assert got[3]["text"] == rows[2][1]           # unrelated doc
    assert got[4]["text"] == "" and got[4]["n_words"] == 0
    assert got[5]["text"] == ""                   # fully duplicated
    assert (got[5]["n_words_removed"], got[5]["n_spans_removed"]) \
        == (16, 2)

    # max_span_freq EXEMPTS boilerplate spans present in > cap docs
    many = [(i, "same eight words repeated in every doc here")
            for i in range(10, 16)]
    df2 = spark.createDataFrame(rows + many,
                                "doc_id long, text string")
    capped = {r["doc_id"]: r for r in remove_duplicated_spans(
        df2, "doc_id", "text", n=8, max_span_freq=3).collect()}
    assert all(capped[i]["n_spans_removed"] == 0
               for i in range(10, 16))            # 6 docs > cap 3
    assert capped[2]["n_spans_removed"] == 1      # 2-doc span still cut


def test_c4_clean_lines_hand_cases(spark):
    """r13 C4 line-level ACTION: each of the three published predicates
    (terminal punctuation, ≥3 words, no 'javascript') drops exactly
    its lines; survivors rejoin in order."""
    from datum_spark.operators.text import c4_clean_lines

    text = ("Good sentence here.\n"
            "short.\n"
            "no terminal line with words\n"
            "Uses javascript library today.\n"
            "Another fine line!")
    df = spark.createDataFrame([(1, text), (2, "")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           c4_clean_lines(df, "text").collect()}
    assert got[1]["text"] == "Good sentence here.\nAnother fine line!"
    assert (got[1]["n_lines"], got[1]["n_lines_kept"]) == (5, 2)
    assert abs(got[1]["removed_line_frac"] - 0.6) < 1e-9
    # empty doc: split('') yields one empty line, dropped by the word
    # rule -> empty rewrite, frac 1.0 over its single line
    assert got[2]["text"] == "" and got[2]["n_lines_kept"] == 0

    # predicate parity with c4_rules' audit fractions (same spellings)
    from datum_spark.operators.text import c4_rules
    audit = c4_rules(df, "text").filter(F.col("doc_id") == 1).first()
    assert audit["has_javascript_line"] is True


def test_winnow_fingerprints_guarantee_and_pairs(spark):
    """Winnowing (Schleimer 2003): any shared substring of length >=
    w + k - 1 must share a fingerprint; disjoint texts share none;
    the overlap stage counts shared fingerprints with the hot-fp cap."""
    from datum_spark.operators.dedup import (winnow_fingerprints,
                                             winnow_overlap_pairs)

    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "other beginning " + shared + " different ending"),
        (3, "completely unrelated words zebra quartz vex jumble"),
        (4, "xy"),                       # shorter than k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: set() for r in df.collect()}
    for r in winnow_fingerprints(df, "doc_id", "text",
                                 k=5, w=8).collect():
        fps[r["doc_id"]].add(r["fp"])
    # guarantee: docs 1 and 2 share a >= 12-char substring
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert len(fps[4]) == 1              # whole-short-text fingerprint
    # density: far fewer fingerprints than k-gram positions
    assert 0 < len(fps[1]) < len(rows[0][1]) - 4

    got = {(r["id_a"], r["id_b"]): r["n_shared"]
           for r in winnow_overlap_pairs(df, "doc_id", "text", k=5,
                                         w=8, min_shared=2).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == len(fps[1] & fps[2]) >= 2
    # hot-fp cap: capping at 1 doc removes every shared fingerprint
    assert winnow_overlap_pairs(df, "doc_id", "text", k=5, w=8,
                                min_shared=1,
                                max_fp_freq=1).count() == 0


def test_bigram_lm_hand_case_and_smoothing(spark):
    """r13 interpolated bigram LM: counts, BOS handling and the
    micro-nat cost arithmetic verified against a hand computation;
    unseen pairs degrade to the add-one unigram floor."""
    import math

    from datum_spark.operators.ngram_lm import (bigram_doc_scores,
                                                bigram_lm_train)

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")],
        "doc_id long, text string")
    uni, bi, n, v = bigram_lm_train(df)
    assert (n, v) == (7, 3)              # 7 words, vocab {a,b,c}
    ud = {r["word"]: r["c"] for r in uni.collect()}
    assert ud == {"a": 3, "b": 3, "c": 1, "<s>": 2}
    bd = {(r["w1"], r["w2"]): r["c"] for r in bi.collect()}
    assert bd == {("<s>", "a"): 2, ("a", "b"): 3, ("b", "a"): 1,
                  ("b", "c"): 1}

    got = {r["doc_id"]: r for r in
           bigram_doc_scores(df, (uni, bi, n, v)).collect()}

    def cost(c12, c1, c2):
        p = 0.7 * (c12 / c1 if c1 else 0.0) + (1 - 0.7) * (c2 + 1) / 10.0
        return round(-math.log(p) * 1e6)

    # doc 1: (<s>,a) (a,b) (b,a) (a,b)
    cm1 = (cost(2, 2, 3) + 2 * cost(3, 3, 3) + cost(1, 3, 3))
    assert got[1]["n_bigrams"] == 4
    assert got[1]["total_cost"] == cm1 / 1e6
    assert got[1]["nats_per_token"] == (cm1 // 4) / 1e6
    # unseen pair on a NEW corpus: unigram floor only
    new = spark.createDataFrame([(9, "c a")], "doc_id long, text string")
    r9 = bigram_doc_scores(new, (uni, bi, n, v)).first()
    # (<s>,c): c12=0, c1=count(<s>)=2, c2=count(c)=1;
    # (c,a):   c12=0, c1=count(c)=1,  c2=count(a)=3
    cm9 = cost(0, 2, 1) + cost(0, 1, 3)
    assert r9["n_bigrams"] == 2
    assert r9["total_cost"] == cm9 / 1e6


def test_remove_duplicated_spans_sentence_unit(spark):
    """unit='sentence', n=3 is C4 §2.2's dedup step: a 3-sentence span
    occurring in two docs survives only at its keep-first occurrence;
    rejoin uses '. '."""
    from datum_spark.operators.dedup import remove_duplicated_spans

    span = "First common one. Second common two! Third common three?"
    rows = [
        (1, span + " Tail only here."),
        (2, "Own opener for doc two. " + span + " Different tail."),
        (3, "Nothing shared at all. Fully distinct sentences here."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_duplicated_spans(
        df, "doc_id", "text", n=3, unit="sentence").collect()}
    # doc 1 keeps the span (keeper) + its tail, normalized join
    assert got[1]["text"] == ("First common one. Second common two. "
                              "Third common three. Tail only here")
    assert got[1]["n_spans_removed"] == 0
    # doc 2 loses the 3 covered sentences, keeps opener + tail
    assert got[2]["text"] == "Own opener for doc two. Different tail"
    assert (got[2]["n_words"], got[2]["n_words_removed"]) == (5, 3)
    assert got[2]["n_spans_removed"] == 1
    assert got[3]["n_words_removed"] == 0


def test_readability_scores_hand_case(spark):
    """Flesch formulas against a hand computation on a known sentence
    pair; empty docs score NULL."""
    from datum_spark.operators.text import readability_scores

    # 8 words, 2 sentences, syllables: the(1)+cat(1)+sat(1)+here(2)
    # +it(1)+was(1)+a(1)+mat(1)=9  (vowel-group runs, min 1)
    df = spark.createDataFrame(
        [(1, "The cat sat here. It was a mat!"), (2, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           readability_scores(df, "text").collect()}
    r = got[1]
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) \
        == (8, 2, 9)
    wps, spw = 8 / 2, 9 / 8
    assert r["flesch_ease"] == round(206.835 - 1.015 * wps
                                     - 84.6 * spw, 4)
    assert r["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59, 4)
    assert got[2]["flesch_ease"] is None and got[2]["n_words"] == 0


def test_source_divergence_properties(spark):
    """JSD is 0 for identical distributions, ln 2 for disjoint ones,
    strictly between for partial overlap — and symmetric by
    construction (one unordered row per pair)."""
    import math

    from datum_spark.operators.text import source_divergence

    rows = [
        (1, "alpha beta gamma alpha", "s1"),
        (2, "alpha beta gamma alpha", "s2"),      # identical to s1
        (3, "delta epsilon zeta", "s3"),          # disjoint
        (4, "alpha beta delta", "s4"),            # partial overlap
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "source string")
    got = {(r["group_a"], r["group_b"]): r for r in
           source_divergence(df, "source", "text").collect()}
    assert got[("s1", "s2")]["jsd"] == 0.0
    assert got[("s1", "s3")]["jsd"] == round(math.log(2.0), 6)
    assert got[("s1", "s3")]["n_shared_words"] == 0
    mid = got[("s1", "s4")]["jsd"]
    assert 0.0 < mid < math.log(2.0)
    assert len(got) == 6                          # C(4,2) pairs


def test_zipf_diagnostics_properties(spark):
    """A Zipf-distributed synthetic group fits slope ~ -1; a uniform
    (templated) group fits ~ 0; hapax fraction counts singletons."""
    rows = []
    # group Z: word w_r appears round(1000/r) times, r = 1..30
    for r in range(1, 31):
        rows.extend([(len(rows) + i, f"w{r:02d}", "zipf")
                     for i in range(round(1000 / r))])
    # group U: 30 words, 20 occurrences each (flat)
    for r in range(1, 31):
        rows.extend([(10_000 + len(rows) + i, f"u{r:02d}", "flat")
                     for i in range(20)])
    df = (spark.createDataFrame(rows, "i long, word string, g string")
          .groupBy("i", "g")
          .agg(F.first("word").alias("text")))
    # one word per row -> word counts equal construction counts
    from datum_spark.operators.text import zipf_diagnostics
    got = {r["g"]: r for r in
           zipf_diagnostics(df, "g", "text", top_k=30).collect()}
    assert -1.1 < got["zipf"]["zipf_slope"] < -0.9
    assert abs(got["flat"]["zipf_slope"]) < 0.05
    assert got["flat"]["hapax_frac"] == 0.0
    assert got["zipf"]["n_distinct_words"] == 30


def test_hourly_anomalies_flags_spike(spark):
    """A planted 10x spike in one hour z-scores far above its
    hour-of-day baseline; normal hours stay unflagged; degenerate
    baselines (single observation) yield NULL z."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    # 17 days: a single outlier among n-1 equal values z-scores at
    # exactly sqrt(n-1) = 4 (> the 3.0 gate; 10 days would sit AT 3)
    for day in range(17):
        n = 50 if day == 7 else 5         # day 7 spikes 10x
        for i in range(n):
            rows.append(("click", base + dt.timedelta(days=day,
                                                      seconds=i)))
    rows.append(("rare", base))           # single observation
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    from datum_spark.operators.events import hourly_anomalies
    got = hourly_anomalies(df, "event_type", "ts").collect()
    spikes = [r for r in got if r["is_anomaly"]]
    assert len(spikes) == 1 and spikes[0]["n"] == 50
    rare = [r for r in got if r["event_type"] == "rare"][0]
    assert rare["z"] is None and rare["is_anomaly"] is None
    normal = [r for r in got if r["event_type"] == "click"
              and r["n"] == 5]
    assert len(normal) == 16
    assert all(not r["is_anomaly"] for r in normal)


def test_mg_heavy_hitters_guarantees(spark):
    """Misra-Gries invariants on a skewed stream: est <= true,
    true - est <= N/(k+1), and every item above the bound appears —
    regardless of partitioning (checked at two partition counts)."""
    rows = ([("hot",)] * 600 + [("warm",)] * 200
            + [(f"cold{i}",) for i in range(200)])
    from datum_spark.operators.sketches import mg_heavy_hitters
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "t string").repartition(parts)
        items, n = mg_heavy_hitters(df, "t", k=4)
        assert n == 1000
        bound = n / 5
        est = dict(items)
        true = {"hot": 600, "warm": 200}
        for t, e in est.items():
            tc = true.get(t, 1)
            assert 0 <= tc - e <= bound, (parts, t, e)
        for t, tc in true.items():
            if tc > bound:
                assert t in est, (parts, t)        # hot must appear


def test_ab_test_summary_hand_case(spark):
    """Two-proportion z against a hand computation; the md5 split is
    deterministic, so the variant counts are reproducible facts."""
    import datetime as dt
    import hashlib
    import math

    rows = []
    ts = dt.datetime(2024, 3, 1)
    for u in range(200):
        rows.append((u, "view", ts))
        # conversion by construction: even users convert at 50%,
        # odd at 25% (deterministic on user id)
        if (u % 2 == 0 and u % 4 == 0) or (u % 2 == 1 and u % 8 == 1):
            rows.append((u, "purchase", ts))
    df = spark.createDataFrame(rows, "user_id long, event_type string, "
                                     "ts timestamp")
    from datum_spark.operators.events import ab_test_summary
    r = ab_test_summary(df, "user_id", "event_type").first()

    def variant(u):
        return int(hashlib.md5(f"ab-{u}".encode()).hexdigest()[:8],
                   16) % 2

    conv = {u for u in range(200)
            if (u % 2 == 0 and u % 4 == 0)
            or (u % 2 == 1 and u % 8 == 1)}
    n_a = sum(1 for u in range(200) if variant(u) == 0)
    c_a = sum(1 for u in conv if variant(u) == 0)
    n_b, c_b = 200 - n_a, len(conv) - c_a
    assert (r["n_a"], r["conv_a"], r["n_b"], r["conv_b"]) \
        == (n_a, c_a, n_b, c_b)
    pa, pb, p = c_a / n_a, c_b / n_b, (c_a + c_b) / 200
    z = (pa - pb) / math.sqrt(p * (1 - p) * (1 / n_a + 1 / n_b))
    assert r["z_stat"] == round(z, 4)
    assert r["significant"] == (abs(round(z, 4)) > 1.96)


def test_recency_weighted_sample_deterministic_and_decaying(spark):
    """Membership is a pure function of (key, salt, ts): identical
    across partitionings; survival decays with age (~2x per half-life
    on a uniform fixture)."""
    import datetime as dt

    base = dt.datetime(2024, 6, 30)
    rows = [(i, base - dt.timedelta(days=(i % 30)))
            for i in range(3000)]
    from datum_spark.operators.sampling import recency_weighted_sample
    df1 = spark.createDataFrame(rows, "k long, ts timestamp")
    df2 = df1.repartition(13)
    a = {r["k"] for r in recency_weighted_sample(
        df1, "k", "ts", half_life_days=10.0).collect()}
    b = {r["k"] for r in recency_weighted_sample(
        df2, "k", "ts", half_life_days=10.0).collect()}
    assert a == b and 0 < len(a) < 3000
    # ~100 keys per age day; survivors at age 0-4 vs 20-24 should
    # differ by roughly 2^2 = 4 (half-life 10 d); assert direction
    # and a loose band, not the exact binomial draw
    young = sum(1 for k in a if k % 30 < 5)
    old = sum(1 for k in a if 20 <= k % 30 < 25)
    assert young > 1.8 * old
    # explicit ref_ts pins membership without the corpus max scan
    c = {r["k"] for r in recency_weighted_sample(
        df1, "k", "ts", half_life_days=10.0,
        ref_ts=base).collect()}
    assert c == a


def test_blocked_record_pairs_hand_case(spark):
    """Blocking bounds the candidate set (cross-block near-identical
    names never pair); edit distance gates within blocks; the
    over-full-block cap drops flooded keys observably."""
    rows = [
        (1, "ann smith", "A"), (2, "ann smyth", "A"),   # dist 1
        (3, "ann smith", "B"),                          # other block
        (4, "zzz totally", "A"),                        # far
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    from datum_spark.operators.dedup import blocked_record_pairs
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in
           blocked_record_pairs(df, "id", ["blk"], "name",
                                max_dist=2).collect()}
    assert got == {(1, 2): 1}        # cross-block (1,3) never pairs
    # flooded block dropped by the cap
    flood = df.unionByName(spark.createDataFrame(
        [(100 + i, "ann smith", "A") for i in range(10)],
        "id long, name string, blk string"))
    capped = blocked_record_pairs(flood, "id", ["blk"], "name",
                                  max_dist=2, max_block_size=5)
    assert capped.count() == 0       # block A over cap, B a singleton


def test_feature_hash_embedding_properties(spark):
    """Hashed embeddings are deterministic across partitionings,
    integer-valued when unnormalized, unit-length when normalized,
    and word-order-insensitive (bag-of-words by construction)."""
    rows = [(1, "alpha beta gamma alpha"), (2, "gamma alpha alpha beta"),
            (3, "totally different words here"), (4, "")]
    from datum_spark.operators.similarity import feature_hash_embedding
    df = spark.createDataFrame(rows, "doc_id long, text string")
    raw = {r["doc_id"]: list(r["embedding"]) for r in
           feature_hash_embedding(df, dim=16,
                                  normalize=False).collect()}
    raw2 = {r["doc_id"]: list(r["embedding"]) for r in
            feature_hash_embedding(df.repartition(5), dim=16,
                                   normalize=False).collect()}
    assert raw == raw2
    assert raw[1] == raw[2]              # same bag of words
    assert all(v == int(v) for v in raw[1])
    assert raw[1] != raw[3]
    unit = {r["doc_id"]: list(r["embedding"]) for r in
            feature_hash_embedding(df, dim=16).collect()}
    n = sum(v * v for v in unit[1]) ** 0.5
    assert abs(n - 1.0) < 1e-4
    # zero-word docs emit no row (nothing to hash)
    assert 4 not in unit and 4 not in raw


def test_jl_project_distortion_bound(spark):
    """JL projection preserves pairwise distances within the lemma's
    practical band at k=32 on 200 random 64-dim vectors (ratios
    concentrate near 1), and the md5 sign matrix is deterministic
    across partitionings."""
    import random

    from datum_spark.operators.similarity import jl_project

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)])
            for i in range(200)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    p1 = {r["vec_id"]: list(r["embedding"]) for r in
          jl_project(df, out_dim=32).collect()}
    p2 = {r["vec_id"]: list(r["embedding"]) for r in
          jl_project(df.repartition(7), out_dim=32).collect()}
    assert p1 == p2
    orig = {i: v for i, v in rows}

    def d(u, v):
        return sum((a - b) ** 2 for a, b in zip(u, v)) ** 0.5

    ratios = []
    ids = sorted(p1)[:30]
    for x in ids:
        for y in ids:
            if x < y:
                ratios.append(d(p1[x], p1[y]) / d(orig[x], orig[y]))
    # k=32: typical distortion well inside ±50%, centered near 1
    assert 0.5 < min(ratios) and max(ratios) < 1.5
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15


def test_pack_documents_bfd_invariants(spark):
    """BFD packing: no bin over budget (oversized docs get singleton
    bins), docs-per-bin cap honored, waste beats the no-truncation
    lower bound's neighborhood, every doc assigned exactly once."""
    rows = ([(i, 120) for i in range(10)]        # big: pair to 240? no — budget 250
            + [(100 + i, 60) for i in range(20)]
            + [(200 + i, 7) for i in range(50)]
            + [(300, 999)])                      # oversized singleton
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    from datum_spark.operators.packing import pack_documents_bfd
    packed = pack_documents_bfd(df, "doc_id", "n_tokens", budget=250,
                                docs_per_bin_cap=8)
    rows_out = packed.collect()
    assert len(rows_out) == len(rows)            # every doc assigned
    by_bin = {}
    for r in rows_out:
        by_bin.setdefault(r["pack_id"], []).append(r)
    for b, ms in by_bin.items():
        tot = sum(m["n_tokens"] for m in ms)
        assert len(ms) <= 8
        if len(ms) > 1:
            assert tot <= 250, (b, tot)
    # the oversized doc sits alone
    big = [b for b, ms in by_bin.items()
           if any(m["doc_id"] == 300 for m in ms)][0]
    assert len(by_bin[big]) == 1


def test_poisson_bootstrap_ci_covers_mean(spark):
    """Bootstrap CI sanity: on iid data the 95% interval surrounds the
    point mean, has positive width that shrinks with sample size, and
    the replicate machinery is deterministic across runs."""
    import numpy as np
    import pandas as pd

    from datum_spark.operators.sampling import poisson_bootstrap_mean

    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({"id": range(2000),
                        "v": rng.normal(50.0, 10.0, 2000)})
    df = spark.createDataFrame(pdf)
    r = poisson_bootstrap_mean(df, "v", "id", reps=40).collect()[0]
    assert r["n_rows"] == 2000 and r["reps"] == 40
    assert r["ci_lo"] < r["point_mean"] < r["ci_hi"]
    # width ~ 2*1.96*sigma/sqrt(n) ~ 0.88; generous band
    assert 0.3 < r["ci_hi"] - r["ci_lo"] < 2.5
    r2 = poisson_bootstrap_mean(df, "v", "id", reps=40).collect()[0]
    assert r == r2          # md5 coins: bit-identical reruns

    small = poisson_bootstrap_mean(df.limit(100), "v", "id",
                                   reps=40).collect()[0]
    assert (small["ci_hi"] - small["ci_lo"]) > (r["ci_hi"] - r["ci_lo"])


def test_ks_and_mannwhitney_match_reference(spark):
    """KS D/location and MW U/z against a pure-numpy reference on a
    planted shift with heavy ties (2-dp rounded normals)."""
    import numpy as np
    import pandas as pd

    from datum_spark.operators.twosample import (ks_2sample,
                                                 mann_whitney_u)

    rng = np.random.RandomState(5)
    A = np.round(rng.normal(0, 1, 500), 2)
    B = np.round(rng.normal(0.3, 1, 700), 2)
    pdf = pd.DataFrame({"g": ["a"] * 500 + ["b"] * 700,
                        "v": np.concatenate([A, B])})
    df = spark.createDataFrame(pdf)
    ks = ks_2sample(df, "g", "v", "a").collect()[0]
    mw = mann_whitney_u(df, "g", "v", "a").collect()[0]

    allv = np.sort(np.unique(pdf.v))
    ea = np.searchsorted(np.sort(A), allv, side="right") / len(A)
    eb = np.searchsorted(np.sort(B), allv, side="right") / len(B)
    d = np.abs(ea - eb)
    D = d.max()
    assert ks.n_a == 500 and ks.n_b == 700
    assert ks.d_stat == pytest.approx(D, abs=1e-6)
    assert ks.d_at == pytest.approx(float(allv[d >= D - 1e-12].min()),
                                    abs=1e-6)
    assert ks.p_value < 1e-6                   # strong planted shift

    ranks = pdf.v.rank(method="average")
    na, nb = 500.0, 700.0
    U = ranks[:500].sum() - na * (na + 1) / 2
    _, t = np.unique(pdf.v, return_counts=True)
    var = na * nb / 12 * ((na + nb + 1)
                          - (t ** 3 - t).sum()
                          / ((na + nb) * (na + nb - 1)))
    z = (U - na * nb / 2) / np.sqrt(var)
    assert mw.u_stat == pytest.approx(U, abs=1e-9)   # exact halves
    assert mw.z_stat == pytest.approx(z, abs=1e-5)
    assert mw.significant is True


def test_twosample_no_shift_not_significant(spark):
    """Identical distributions: tiny D, |z| small, not significant."""
    import numpy as np
    import pandas as pd

    from datum_spark.operators.twosample import (ks_2sample,
                                                 mann_whitney_u)

    rng = np.random.RandomState(9)
    v = np.round(rng.normal(10, 2, 1600), 2)
    pdf = pd.DataFrame({"g": ["a", "b"] * 800, "v": v})
    df = spark.createDataFrame(pdf)
    ks = ks_2sample(df, "g", "v", "a").collect()[0]
    mw = mann_whitney_u(df, "g", "v", "a").collect()[0]
    assert ks.d_stat < 0.1
    assert mw.significant is False


def test_twosample_degenerate_guards(spark):
    """Empty side and all-tied values: NULL z/verdict, no errors."""
    import pandas as pd

    from datum_spark.operators.twosample import (ks_2sample,
                                                 mann_whitney_u)

    tied = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "b", "a", "b"], "v": [3.0] * 4}))
    r = mann_whitney_u(tied, "g", "v", "a").collect()[0]
    assert r.z_stat is None and r.significant is None
    k = ks_2sample(tied, "g", "v", "a").collect()[0]
    assert k.d_stat == 0.0
    one = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a"], "v": [1.0, 2.0]}))
    r1 = mann_whitney_u(one, "g", "v", "a").collect()[0]
    assert r1.n_b == 0 and r1.z_stat is None


def test_grouped_ks_screen_matches_pairwise_and_flags_drift(spark):
    """Grouped KS == per-group ks_2sample on the same data (the
    inclusive+pre-jump candidates cover the pooled sup), the planted
    drifted group is flagged, stable groups are not, and BH ranks are
    consistent with p order."""
    import numpy as np
    import pandas as pd

    from datum_spark.operators.twosample import (grouped_ks_screen,
                                                 ks_2sample)

    rng = np.random.RandomState(21)
    frames = []
    for g in ("a", "b", "c", "d"):
        loc = 3.0 if g == "d" else 0.0        # planted drift in d
        frames.append(pd.DataFrame(
            {"g": g, "v": np.round(rng.normal(loc, 1, 400), 2)}))
    pdf = pd.concat(frames)
    df = spark.createDataFrame(pdf)
    out = {r["g"]: r for r in
           grouped_ks_screen(df, "g", "v").collect()}
    assert set(out) == {"a", "b", "c", "d"}
    for g in ("a", "b", "c", "d"):
        two = ks_2sample(
            df.withColumn("grp",
                          (df["g"] == g).cast("string")),
            "grp", "v", "true").collect()[0]
        assert out[g]["d_stat"] == pytest.approx(two["d_stat"],
                                                 abs=1e-6), g
    # one-vs-rest: the drifted group carries the LARGEST D (and is
    # flagged); a/b/c also see nonzero D because d contaminates their
    # complement — that is the screen's semantics, not a bug
    assert out["d"]["flagged"] is True
    assert out["d"]["d_stat"] == max(r["d_stat"] for r in out.values())
    ps = sorted(out.values(), key=lambda r: r["bh_rank"])
    assert [r["p_value"] for r in ps] == sorted(
        r["p_value"] for r in ps)

    # no drift anywhere: nothing flagged
    calm = pd.concat([pd.DataFrame(
        {"g": g, "v": np.round(rng.normal(0, 1, 400), 2)})
        for g in ("a", "b", "c", "d")])
    calm_out = grouped_ks_screen(
        spark.createDataFrame(calm), "g", "v").collect()
    assert all(r["flagged"] is False for r in calm_out)


def test_retain_cache_ring_dedups_equal_plans(spark):
    """Re-enrolling a plan-identical frame must reuse its ring slot
    (refreshing it to MRU), not burn a new one: a second slot for the
    same CacheManager entry means a later eviction unpersists a cache
    that newer enrollees still depend on (the x202 rep pathology)."""
    from datum_spark.util import (_CACHE_RING, clear_operator_caches,
                                  retain_cache)

    clear_operator_caches()
    base = spark.range(100).withColumn("v", F.col("id") * 2)
    a = retain_cache(base.groupBy((F.col("id") % 10).alias("g"))
                         .agg(F.sum("v").alias("s")))
    assert len(_CACHE_RING) == 1
    # same plan, rebuilt from scratch → deduped, still one slot
    b = retain_cache(base.groupBy((F.col("id") % 10).alias("g"))
                         .agg(F.sum("v").alias("s")))
    assert len(_CACHE_RING) == 1
    assert b.count() == 10
    # a genuinely different plan takes its own slot
    retain_cache(base.filter(F.col("id") < 50))
    assert len(_CACHE_RING) == 2
    # MRU refresh: re-enrolling `a`'s plan moves it to the back, so
    # filling the ring with distinct plans evicts the filter frame
    # (front) before the re-enrolled aggregate
    retain_cache(a)
    ring_frames = [f for (_p, f) in _CACHE_RING]
    assert ring_frames[-1].sameSemantics(a)
    clear_operator_caches()
    assert len(_CACHE_RING) == 0


def test_retain_cache_ring_thread_safe(spark):
    """Ops running on several threads enrol into the one ring: the scan
    of one thread must not see another's append or eviction ("deque
    mutated during iteration"), and the cap must hold."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from datum_spark.util import (_CACHE_RING, _CACHE_RING_CAP,
                                  clear_operator_caches, retain_cache)

    clear_operator_caches()

    def enrol(t):
        for j in range(20):
            retain_cache(spark.range(t * 100 + j + 1))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(enrol, t) for t in range(8)]
            for f in futures:
                f.result(timeout=300)  # re-raises a thread's error
    finally:
        sys.setswitchinterval(interval)
    assert len(_CACHE_RING) <= _CACHE_RING_CAP
    clear_operator_caches()
    assert len(_CACHE_RING) == 0


def test_ngram_jaccard_count_based_matches_array_verify(spark):
    """r14: with no hot-gram cap, ngram_jaccard_pairs computes jaccard
    from colliding-posting COUNTS; with a (vacuously large) cap it runs
    the legacy prefix-index + array_intersect verification.  Both must
    produce the identical pair set and identical jaccard doubles —
    including boundary-exact pairs the length filter could clip if the
    float guard were wrong."""
    from datum_spark.operators.dedup import ngram_jaccard_pairs
    from datum_spark.util import clear_operator_caches

    rows = [
        (1, "a b c d e"),
        (2, "a b c d f"),          # J=4/6 with doc 1
        (3, "a b c d e"),          # J=1.0 with doc 1
        (4, "x y"),
        (5, "x y"),                # J=1.0 with doc 4
        (6, "a b c d"),            # 4 grams vs doc 1's 5: J=4/5=0.8
        (7, "q"),
        (8, ""),                   # empty text edge
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.5, 0.8):
        new = sorted(map(tuple, ngram_jaccard_pairs(
            df, "doc_id", "text", n=1, threshold=thr).collect()))
        clear_operator_caches()
        old = sorted(map(tuple, ngram_jaccard_pairs(
            df, "doc_id", "text", n=1, threshold=thr,
            max_ngram_freq=10**9).collect()))
        clear_operator_caches()
        assert new == old and len(new) > 0
    # the J=0.8 boundary pair (1,6) must survive threshold 0.8 exactly
    got = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(
        df, "doc_id", "text", n=1, threshold=0.8).collect()}
    clear_operator_caches()
    assert (1, 6) in got


def test_connected_components_duplicate_edges(spark):
    """r14 dropped the _symmetrize/_large_star distincts (collect_set
    absorbs duplicates).  Components over a duplicate-laden edge list
    must equal components over its distinct reduction."""
    from datum_spark.operators.components import connected_components

    edges = [(1, 2), (2, 1), (1, 2), (2, 3), (2, 3), (4, 5),
             (5, 4), (6, 6), (4, 5), (3, 1)]
    dup = spark.createDataFrame(edges, "id_a long, id_b long")
    dis = spark.createDataFrame(sorted(set(map(tuple, edges))),
                                "id_a long, id_b long")
    out_dup = sorted(map(tuple,
                         connected_components(dup, include_roots=True)
                         .collect()))
    out_dis = sorted(map(tuple,
                         connected_components(dis, include_roots=True)
                         .collect()))
    assert out_dup == out_dis
    assert out_dup == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)]


def test_normalize_col_hoisted_norm_bit_identical(spark):
    """r14 hoisted the norm out of the per-element lambda via
    array_repeat + zip_with.  Each element must still be x / norm with
    the SAME double norm — bit-identical to the naive spelling."""
    import math

    from datum_spark.operators.similarity import _normalize_col

    # NOTE: a vector like [1e-200, 1e-200] — nonzero but with an
    # underflowing squared norm — throws DIVIDE_BY_ZERO under ANSI in
    # BOTH the old and the hoisted spelling (verified identical); kept
    # out of this equivalence fixture on purpose.
    rows = [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [1e-150, 1e-150]),
            (4, [-2.5, 7.125, 0.0]), (5, None)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {r["id"]: r["n"] for r in df.select(
        "id", _normalize_col(F.col("v")).alias("n")).collect()}
    for rid, vec in rows:
        if vec is None or all(x == 0 for x in vec):
            assert got[rid] is None
        else:
            norm = math.sqrt(math.fsum(x * x for x in vec))
            # reference: the exact per-element division the old
            # transform spelling produced (same fold order: left fold
            # acc + x*y over zip, which fsum matches for these dims)
            ref = [x / norm for x in vec]
            assert got[rid] == ref
