"""Deduplication family for large-scale (training-data) pipelines.

All operators are pure DataFrame compositions (JVM-side expressions, no
Python row loops) unless noted.  Scale posture per operator:

- exact:      one hash shuffle on the dedup key; map-side partial agg.
- MinHash:    signatures map-side (array exprs, no shuffle); LSH banding
              explodes DOC×BANDS rows (constant factor), one shuffle on
              band bucket; candidate verification joins only within buckets —
              sub-quadratic vs. the all-pairs O(n²).
- SimHash:    64-bit signature map-side; pigeonhole banding on 16-bit chunks
              → hamming-≤3 pairs without all-pairs comparison.
- n-gram Jaccard: inverted-index join on n-grams with a frequency cap on
              hot n-grams (skew guard), then per-pair intersection counts.
- embedding:  cosine-threshold pairs via the similarity module's LSH path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import gated_broadcast
from ..util import retain_cache as _retain_cache


# ---------------------------------------------------------------------------
# exact

def exact_dedup(df: DataFrame, cols: list[str] | None = None,
                keep_by: str | None = None) -> DataFrame:
    """Exact dedup on ``cols`` (default: all columns).

    With ``keep_by`` set, keeps the row with the smallest value of that
    column per key (deterministic winner — ``dropDuplicates`` keeps an
    arbitrary row, which is fine for identical full rows but not for keyed
    dedup); otherwise uses ``dropDuplicates`` (hash shuffle + first-row).
    """
    if cols is None:
        return df.dropDuplicates()
    if keep_by is None:
        return df.dropDuplicates(cols)
    from pyspark.sql import Window
    w = Window.partitionBy(*cols).orderBy(F.col(keep_by).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def exact_dup_groups(df: DataFrame, cols: list[str]) -> DataFrame:
    """Groups with more than one occurrence of the key (audit view)."""
    return (df.groupBy(*cols)
              .agg(F.count(F.lit(1)).alias("n_dups"))
              .filter(F.col("n_dups") > 1))


# ---------------------------------------------------------------------------
# MinHash + LSH

_I64_MAX = (1 << 63) - 1       # fold identity for min over xxhash64 values


def _char_shingles(text_col, k: int):
    """Array of character k-shingles, computed JVM-side.

    ``sequence(1, len-k+1)`` + ``transform``/``substring`` keeps the whole
    thing in whole-stage codegen — no Python boundary.
    """
    t = F.lower(text_col)
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(t, i, k)))


def minhash_signature(text_col, num_hashes: int = 32, shingle_k: int = 5):
    """MinHash signature as an array<bigint> column (map-side only).

    Hash family: ``xxhash64(seed_i, shingle)`` — 64-bit, JVM-side; the
    signature element i is the min over shingles.

    Spelled as ONE fold over the shingle array (``aggregate`` +
    ``zip_with``/``least``) rather than ``num_hashes`` independent
    ``array_min(transform(shingles, …))`` projections: Catalyst does not
    CSE the shingle subexpression through lambda functions, so the old
    spelling re-built (and re-``array_distinct``-ed) the shingle array
    once per hash — measured 2.1× on x04 and the dominant wall cost of
    the 100× stress.  Identical output values (min per seed over the
    same shingles).
    """
    shingles = _char_shingles(text_col, shingle_k)
    init = F.array_repeat(F.lit(_I64_MAX).cast("long"), num_hashes)

    def hashes_of(s):
        return F.array(*[F.xxhash64(F.lit(i), s)
                         for i in range(num_hashes)])

    return F.aggregate(
        shingles, init,
        lambda acc, s: F.zip_with(acc, hashes_of(s),
                                  lambda a, b: F.least(a, b)))


class FloodStats:
    """Bucket-cap loss metrics for an LSH pair stage (round-7
    no-silent-caps discipline): ``.get`` →
    ``{buckets, buckets_skipped, ids_in_skipped}``.

    Fast path: a Spark ``Observation`` folded map-side into the job
    that consumes the buckets — zero extra passes — used when an action
    on the operator's result has already completed (probed
    NON-blockingly: ``Observation.get`` itself waits forever when no
    action has run, so it is never called before the probe says the
    metrics exist).  Otherwise — no action yet, or Spark elided the
    CollectMetrics row (observed when the downstream result is empty
    under AQE and the pair stage re-aggregates) — ``.get`` recomputes
    the three counters with one bounded aggregation over the bucket
    grouping: still bucket-count-sized, never pair-sized, and never a
    hang.
    """

    def __init__(self, obs, grouped: DataFrame, cap: int,
                 id_list_col: str) -> None:
        self._obs, self._grouped = obs, grouped
        self._cap, self._col = cap, id_list_col

    def _observed(self) -> bool:
        """Non-blocking: has the observed job already published its
        metrics row?  (JVM ``Observation.getRowOrEmpty`` — falsy on any
        probe failure, e.g. Connect sessions without ``_jo``.)"""
        try:
            return bool(self._obs._jo.getRowOrEmpty().isDefined())
        except Exception:
            return False

    @property
    def get(self) -> dict:
        if self._observed():
            try:
                got = dict(self._obs.get)
                if got:
                    return got
            except Exception:
                pass
        over = F.size(self._col) > self._cap
        row = self._grouped.agg(
            F.count(F.lit(1)).alias("buckets"),
            F.count_if(over).alias("buckets_skipped"),
            F.coalesce(F.sum(F.when(over, F.size(self._col))),
                       F.lit(0)).alias("ids_in_skipped")).first()
        return row.asDict()


def _observe_flood(grouped: DataFrame, cap: int, id_list_col: str = "__ids"):
    """Cap over-full LSH buckets — observably: returns
    ``(filtered_df, FloodStats)`` so a 100 TB run can tell "clean
    corpus" from "flooded and truncated recall"."""
    from pyspark.sql import Observation

    obs = Observation()
    over = F.size(id_list_col) > cap
    observed = grouped.observe(
        obs,
        F.count(F.lit(1)).alias("buckets"),
        F.count_if(over).alias("buckets_skipped"),
        F.coalesce(F.sum(F.when(over, F.size(id_list_col))),
                   F.lit(0)).alias("ids_in_skipped"))
    return (observed.filter(F.size(id_list_col) <= cap),
            FloodStats(obs, grouped, cap, id_list_col))


def _banded_candidate_pairs(sig: DataFrame, num_hashes: int, bands: int,
                            threshold: float,
                            max_bucket_size: int | None = 1000) -> DataFrame:
    """Shared LSH banding: ``sig`` has ``(__id, __sig array<bigint>)``.
    Returns ``(id_a, id_b, est_jaccard)`` with est ≥ threshold.

    Pair generation is id-only: buckets collect and explode bare ids
    (8 bytes each), and signatures re-join by id AFTER pair dedup — the
    same discipline as the embedding LSH path.  Carrying the signature
    structs through the pair explosion instead was measured at 599 MB
    shuffled / 1188 s on a 50k-doc 10×-replica stress corpus vs ~3 MB /
    seconds this way (the pair shuffle is width × pair count).

    ``max_bucket_size`` skips buckets bigger than the cap (default
    1000 → ≤ ~0.5M pairs from one bucket, one task's worth).  A bucket
    that large means degenerate similarity — boilerplate or replica
    floods — and would otherwise contribute |B|² pairs; skipping loses
    only pairs that collide in *no smaller* band-bucket, the same recall
    rationale as ``ngram_jaccard_pairs``'s hot-gram cap.  ``None``
    disables the guard.
    """
    rows_per_band = num_hashes // bands
    # materialize the signatures: without this, Catalyst inlines the whole
    # minhash expression into each band element AND both re-join sides —
    # bands+2 evaluations of the costliest expression in the plan
    # (measured 7× slower).  The cache holds (id, sig) only, not the
    # source text, and is released by cache-ring rotation (_retain_cache).
    sig = _retain_cache(sig)
    banded = sig.select(
        "__id",
        F.posexplode(F.array(*[
            F.xxhash64(*[F.col("__sig")[b * rows_per_band + r]
                         for r in range(rows_per_band)])
            for b in range(bands)
        ])).alias("__band", "__bucket"))

    grouped = (banded.groupBy("__band", "__bucket")
               .agg(F.collect_list("__id").alias("__ids"))
               .filter(F.size("__ids") > 1))
    flood_obs = None
    if max_bucket_size is not None:
        grouped, flood_obs = _observe_flood(grouped, max_bucket_size)
    cand = (grouped.select(F.explode("__ids").alias("id_a"), "__ids")
                   .select("id_a", F.explode("__ids").alias("id_b"))
                   .filter(F.col("id_a") < F.col("id_b"))
                   .dropDuplicates(["id_a", "id_b"]))
    sa = sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sa"))
    sb = sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sb"))

    est = (F.size(F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y),
                           lambda v: v)) / F.lit(float(num_hashes)))
    out = (cand.join(sa, "id_a").join(sb, "id_b")
               .withColumn("est_jaccard", est)
               .filter(F.col("est_jaccard") >= threshold)
               .select("id_a", "id_b", "est_jaccard"))
    # flood observability rides the result as a CONVENIENCE for callers
    # holding this exact DataFrame (read `.lsh_flood.get` after an
    # action; None when the cap is disabled).  It is a plain Python
    # attribute, LOST through any further transformation — callers that
    # transform the result should ask for the handle explicitly via the
    # public operators' ``with_stats=True``.
    out.lsh_flood = flood_obs
    return out


def _with_stats(out: DataFrame, with_stats: bool):
    """Explicit-handle return convention for the LSH operators:
    ``with_stats=True`` → ``(df, FloodStats | None)`` (robust — survives
    any downstream transformation of ``df``); False → just ``df`` with
    the legacy ``.lsh_flood`` convenience attribute attached."""
    if with_stats:
        return out, getattr(out, "lsh_flood", None)
    return out


def minhash_near_dups(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 32, bands: int = 8,
                      shingle_k: int = 5, threshold: float = 0.7,
                      max_bucket_size: int | None = 1000,
                      with_stats: bool = False):
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Returns ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b`` and estimated
    Jaccard (signature agreement rate) ≥ threshold.  Two shuffles total:
    bucket join + pair dedup; never materializes all pairs.
    ``with_stats=True`` returns ``(pairs, FloodStats | None)`` instead —
    the explicit bucket-cap observability handle (see ``FloodStats``).
    """
    sig = df.select(F.col(id_col).alias("__id"),
                    minhash_signature(F.col(text_col), num_hashes,
                                      shingle_k).alias("__sig"))
    return _with_stats(
        _banded_candidate_pairs(sig, num_hashes, bands, threshold,
                                max_bucket_size), with_stats)


# modulus for the portable (md5) MinHash affine family: 2^61 - 1 (prime).
# Multipliers stay < 2^30 so a*h (< 2^62) never overflows a bigint in
# either engine — both Spark (ANSI mode) and DuckDB would raise on
# overflow rather than wrap.
_MD5_MINHASH_P = (1 << 61) - 1


def minhash_signature_md5(text_col, num_hashes: int = 16,
                          shingle_k: int = 5):
    """MinHash signature over a PORTABLE hash family: shingle →
    ``int(md5(shingle)[:8], 16)`` → ``min((2i+1)·h + 7919·i mod 2^61-1)``.

    Any md5-capable engine reproduces these signatures exactly (the
    engine-native families in :func:`minhash_signature` /
    :func:`minhash_signature_fast` are faster but Spark-specific), which
    makes the whole MinHash pipeline value-checkable against an external
    SQL oracle — use this variant when audits matter more than
    throughput.

    Single-pass fold like :func:`minhash_signature`: the md5 base hashes
    are computed once per shingle and all ``num_hashes`` affine minima
    update in one ``aggregate``/``zip_with`` sweep (the old per-hash
    ``array_min(transform(...))`` spelling re-evaluated the md5 array
    per hash — the dominant cost of the 100× raw-LSH stress run).
    """
    shingles = _char_shingles(text_col, shingle_k)
    hashes = F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"))
    init = F.array_repeat(F.lit(_MD5_MINHASH_P).cast("long"), num_hashes)

    def affines(h):
        return F.array(*[(h * (2 * i + 1) + 7919 * i)
                         % F.lit(_MD5_MINHASH_P)
                         for i in range(num_hashes)])

    return F.aggregate(
        hashes, init,
        lambda acc, h: F.zip_with(acc, affines(h),
                                  lambda a, b: F.least(a, b)))


def minhash_near_dups_md5(df: DataFrame, id_col: str, text_col: str,
                          num_hashes: int = 16, bands: int = 4,
                          shingle_k: int = 5, threshold: float = 0.5,
                          max_bucket_size: int | None = 1000,
                          with_stats: bool = False):
    """:func:`minhash_near_dups` over the portable md5 hash family —
    identical banding/pair/``with_stats`` semantics, externally
    reproducible values."""
    sig = df.select(F.col(id_col).alias("__id"),
                    minhash_signature_md5(F.col(text_col), num_hashes,
                                          shingle_k).alias("__sig"))
    return _with_stats(
        _banded_candidate_pairs(sig, num_hashes, bands, threshold,
                                max_bucket_size), with_stats)


def minhash_signature_fast(num_hashes: int = 32, shingle_k: int = 5,
                           seed: int = 42):
    """Vectorized MinHash signature pandas UDF (text → array<bigint>).

    The JVM expression version (:func:`minhash_signature`) evaluates
    num_hashes × shingles interpreted lambdas per document; this one builds
    a uint64 rolling polynomial hash of every char k-shingle in k NumPy
    passes, then takes the min of num_hashes affine transforms — whole
    Arrow batches at NumPy speed (~100× on long documents), the signature
    stage that dominates MinHash at corpus scale.  Hash family differs from
    the JVM version (both are valid MinHash families; don't mix signatures
    across the two).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    rng = np.random.RandomState(seed)
    # odd multipliers → bijective affine maps modulo 2^64
    a = (rng.randint(1, 1 << 62, size=num_hashes).astype(np.uint64) << 1) + 1
    b = rng.randint(0, 1 << 62, size=num_hashes).astype(np.uint64)
    B = np.uint64(1099511628211)  # FNV prime as the rolling base

    empty = ((a * np.uint64(0x9E3779B97F4A7C15)) + b).astype(np.int64)

    def one(text):
        if text is None:
            return empty
        c = np.frombuffer(text.lower().encode("utf-8"),
                          dtype=np.uint8).astype(np.uint64)
        if len(c) == 0:
            return empty
        # sub-k text: the whole string is the single shingle (JVM version
        # parity — otherwise every short doc shares one signature and all
        # short docs pair up as perfect duplicates)
        k = min(shingle_k, len(c))
        n = len(c) - k + 1
        h = np.zeros(n, dtype=np.uint64)
        for j in range(k):
            h = h * B + c[j:j + n]
        # distinct shingles only (MinHash is over the SET)
        h = np.unique(h)
        sims = a[:, None] * h[None, :] + b[:, None]  # uint64 wraparound
        return sims.min(axis=1).astype(np.int64)

    def sig(texts):
        return pd.Series([one(t) for t in texts])

    return pandas_udf(sig, "array<long>", PandasUDFType.SCALAR)


def minhash_near_dups_fast(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 32, bands: int = 8,
                           shingle_k: int = 5, threshold: float = 0.7,
                           seed: int = 42,
                           max_bucket_size: int | None = 1000,
                           with_stats: bool = False):
    """:func:`minhash_near_dups` with the vectorized signature stage — the
    spelling to use on large corpora (no doc-count cap needed).
    ``with_stats=True`` returns ``(pairs, FloodStats | None)``."""
    sig_udf = minhash_signature_fast(num_hashes, shingle_k, seed)
    sig = df.select(F.col(id_col).alias("__id"),
                    sig_udf(F.col(text_col)).alias("__sig"))
    return _with_stats(
        _banded_candidate_pairs(sig, num_hashes, bands, threshold,
                                max_bucket_size), with_stats)


# ---------------------------------------------------------------------------
# SimHash

def simhash64_md5(seed: int = 0x5173_0A11):
    """Vectorized SimHash pandas UDF (text → bigint signature) over
    distinct lowercased whitespace tokens.

    Each token hashes with hashlib's C md5 (first 8 bytes → uint64,
    xor-folded with ``seed``); sign bits pack with one NumPy broadcast
    per document.  md5 is the portable family: a SQL engine with
    ``md5`` re-derives every signature bit (the x05 oracle does).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    shifts = np.arange(64, dtype=np.uint64)
    bit_values = np.array([(1 << b) if b < 63 else -(1 << 63)
                           for b in range(64)], dtype=np.int64)
    s = np.uint64(seed)

    def one(text):
        if not text:
            return 0
        tokens = set(text.lower().split())
        if not tokens:
            return 0
        hs = np.fromiter(
            (int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
             for t in tokens), dtype=np.uint64, count=len(tokens)) ^ s
        # tokens × 64 sign matrix in one broadcast, ±1 sum per bit
        bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        return int(bit_values[votes > 0].sum())

    def sig(texts):
        return pd.Series([one(t) for t in texts])

    return pandas_udf(sig, "long", PandasUDFType.SCALAR)


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str,
                      max_hamming: int = 3,
                      max_bucket_size: int | None = 1000) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ ``max_hamming`` (pigeonhole
    banding on 4×16-bit chunks — a pair within distance 3 must agree on at
    least one chunk, so candidates come from 4 equi-joins, not all pairs).

    Signatures come from :func:`simhash64_md5`.  ``max_bucket_size``
    skips degenerate chunk buckets (replica floods make every copy share
    the full signature) — same guard and recall rationale as
    ``_banded_candidate_pairs``; the structs here are 16 bytes so the
    id-only rejoin is not worth two extra joins.
    """
    sig = df.select(F.col(id_col).alias("__id"),
                    simhash64_md5()(F.col(text_col)).alias("__sig"))
    chunks = sig.select(
        F.struct("__id", "__sig").alias("__m"),
        F.posexplode(F.array(*[
            F.shiftright(F.col("__sig"), 16 * c).bitwiseAND(F.lit(0xFFFF))
            for c in range(4)
        ])).alias("__chunk", "__val"))
    # group-by-band + pairwise explode (same shape as the MinHash/embedding
    # LSH paths): one exchange of (chunk, val, id, sig) keys, signatures
    # computed once, no self-join.  16-bit bands keep buckets ~N/65536 per
    # chunk, so per-bucket lists stay small even at corpus scale.
    grouped = (chunks.groupBy("__chunk", "__val")
               .agg(F.collect_list("__m").alias("__ms"))
               .filter(F.size("__ms") > 1))
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("__ms") <= max_bucket_size)
    pairs = (grouped.select(F.explode("__ms").alias("a"), "__ms")
                    .select("a", F.explode("__ms").alias("b"))
                    .filter(F.col("a.__id") < F.col("b.__id")))
    xor = F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))
    cand = (pairs.select(F.col("a.__id").alias("id_a"),
                         F.col("b.__id").alias("id_b"),
                         F.bit_count(xor).alias("hamming"))
                 .dropDuplicates(["id_a", "id_b"]))
    return cand.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard (word n-grams, inverted-index join)

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 1, threshold: float = 0.6,
                        max_ngram_freq: int | None = None,
                        prefix_filter: bool = True) -> DataFrame:
    """Exact Jaccard over distinct word n-grams for candidate pairs sharing
    at least one n-gram.  Returns ``(id_a, id_b, jaccard)``, id_a < id_b.

    ``prefix_filter`` (default on) applies PPJoin-style prefix filtering:
    under any global total order on grams (here: xxhash64, computed
    map-side), a pair with Jaccard ≥ t must share a gram inside each
    side's first ``|g| - ceil(t·|g|) + 1`` grams — because a no-prefix
    overlap would confine the intersection to the last ``ceil(t·|g|)-1``
    grams, below the ``c ≥ ceil(t·|g|)`` overlap that J ≥ t forces.  So
    only prefixes are indexed (the postings shuffle shrinks by ~t) and
    candidate verification joins the full gram ARRAYS by id for the few
    surviving pairs (``array_intersect``, JVM-side) — LOSSLESS: the
    result set is identical to the full-index join, as the x03/x83/x84
    oracles verify value-for-value.

    ``max_ngram_freq`` drops (prefix) grams appearing in more than that
    many docs (stopword/skew guard — at 100 TB a hot n-gram would
    otherwise create a quadratic bucket; dropping ultra-frequent grams
    only lowers recall for pairs that share *nothing rarer*, standard
    practice for LSH-style dedup).
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                     lambda t: t != "")
    if n == 1:
        grams = F.array_distinct(words)
    else:
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
        grams = F.array_distinct(F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))))

    # compute-once: the inverted index and both verification joins read
    # the gram arrays; released by cache-ring rotation (_retain_cache)
    base = _retain_cache(
        df.select(F.col(id_col).alias("__id"), grams.alias("__grams")))
    if max_ngram_freq is None:
        # COUNT-BASED exact join (r14): the intersection size of two
        # distinct-gram sets is exactly the number of colliding
        # postings, so Jaccard never needs the gram ARRAYS shipped to
        # candidate pairs at all — the full inverted index self-joins,
        # the join output feeds a map-combined (id_a, id_b) count in
        # the same stage, and jaccard = c / (sa + sb − c) from three
        # integers.  The PPJoin length filter (J ≥ t ⟹ min ≥ t·max,
        # lossless; ε guards the float boundary) prunes inside the
        # join.  vs the prefix+array-verify path: ~1/t more postings
        # in, but the shuffle carries counted pairs instead of full
        # gram arrays per candidate — measured 0.1 s vs 2.2 s on the
        # x129 substrate (82k candidates of avg-52-gram docs).  With
        # ``max_ngram_freq`` set the prefix path below still runs:
        # dropping hot grams from a counting index would corrupt the
        # jaccard values, while the array verification keeps them true.
        t = float(threshold)
        inv = base.select("__id", F.size("__grams").alias("__sz"),
                          F.explode("__grams").alias("__g"))
        a, b = inv.alias("a"), inv.alias("b")
        joined = (a.join(b, (F.col("a.__g") == F.col("b.__g"))
                         & (F.col("a.__id") < F.col("b.__id"))
                         & (F.col("b.__sz") >= t * F.col("a.__sz")
                            - F.lit(1e-6))
                         & (F.col("a.__sz") >= t * F.col("b.__sz")
                            - F.lit(1e-6)))
                  .groupBy(F.col("a.__id").alias("id_a"),
                           F.col("b.__id").alias("id_b"))
                  .agg(F.count(F.lit(1)).alias("__c"),
                       F.first("a.__sz").alias("__sa"),
                       F.first("b.__sz").alias("__sb")))
        jac = F.col("__c") / (F.col("__sa") + F.col("__sb")
                              - F.col("__c"))
        return (joined.withColumn("jaccard", jac)
                      .filter(F.col("jaccard") >= threshold)
                      .select("id_a", "id_b", "jaccard"))
    if prefix_filter:
        # prefix length ceil() runs on floats: subtract an epsilon so
        # t·|g| landing a hair ABOVE an integer (0.8×5 → 4.0000…02)
        # doesn't shorten the prefix and silently drop true pairs
        plen = (F.size("__grams")
                - F.ceil(F.lit(float(threshold)) * F.size("__grams")
                         - F.lit(1e-9)) + 1)
        ordered = F.array_sort(F.transform(
            "__grams", lambda g: F.struct(F.xxhash64(g).alias("h"),
                                          g.alias("g"))))
        pref = F.transform(F.slice(ordered, 1, plen), lambda s: s["g"])
        inv = base.select("__id", F.explode(pref).alias("__g"))
    else:
        inv = base.select("__id", F.explode("__grams").alias("__g"))
    if max_ngram_freq is not None:
        hot = (inv.groupBy("__g").count()
                  .filter(F.col("count") > max_ngram_freq).select("__g"))
        inv = inv.join(hot, "__g", "left_anti")

    a, b = inv.alias("a"), inv.alias("b")
    cand = (a.join(b, (F.col("a.__g") == F.col("b.__g"))
                   & (F.col("a.__id") < F.col("b.__id")))
             .select(F.col("a.__id").alias("id_a"),
                     F.col("b.__id").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    ga = base.select(F.col("__id").alias("id_a"),
                     F.col("__grams").alias("__ga"))
    gb = base.select(F.col("__id").alias("id_b"),
                     F.col("__grams").alias("__gb"))
    common = F.size(F.array_intersect("__ga", "__gb"))
    jac = common / (F.size("__ga") + F.size("__gb") - common)
    return (cand.join(ga, "id_a").join(gb, "id_b")
                .withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------------
# embedding cosine near-dups

def embedding_cosine_dups(df: DataFrame, id_col: str, vec_col: str,
                          threshold: float = 0.95,
                          use_lsh: bool = True, planes: int = 12,
                          tables: int = 8, seed: int = 42,
                          max_bucket_size: int | None = 1000,
                          with_stats: bool = False):
    """Pairs of near-identical embeddings (cosine ≥ threshold).

    With ``use_lsh``, candidates are restricted to multi-table sign-LSH
    bucket collisions (``tables`` independent tables of ``planes`` random
    hyperplanes each; a pair is a candidate iff it collides in ANY table) —
    sub-quadratic, recall ≈ 1-(1-p^planes)^tables with p = 1-θ/π per bit
    (cosine 0.95 → p≈0.9 → recall ≈ 0.93 at the defaults; fewer planes =
    higher recall but quadratically bigger buckets).  Without it, all pairs
    are compared block-GEMM style (fine up to ~10⁵ vectors).
    """
    from ..session import default_parallelism
    from .similarity import _all_signatures_udf, _dot_expr, _normalize_col

    # normalize once map-side → single dot product per candidate pair;
    # zero/NULL vectors are pre-filtered on the RAW column (no direction →
    # can't be a near-dup; must not reach the NumPy signature/GEMM stages)
    from .similarity import _nonzero_vec

    sel = (df.filter(_nonzero_vec(F.col(vec_col)))
             .select(F.col(id_col).alias("__id"),
                     _normalize_col(F.col(vec_col).cast("array<double>"))
                     .alias("__v")))
    if use_lsh:
        dim = _infer_dim(df, vec_col)
        sig = _all_signatures_udf(dim, planes, tables, seed)
        # explode id × per-table bucket (cheap 16-byte keys); candidate pair
        # generation joins buckets only, vectors rejoin by id afterwards
        buckets = sel.select(
            "__id", F.posexplode(sig("__v")).alias("__t", "__b"))
        # group-by-bucket + pairwise explode instead of a bucket self-join:
        # the signature UDF runs ONCE (a self-join evaluates it per side —
        # measured as 2× ArrowEvalPython) and only one exchange moves the
        # (t, b, id) keys; pair volume is identical (quadratic within a
        # bucket either way — `planes` bounds expected bucket size)
        grouped = (buckets.groupBy("__t", "__b")
                   .agg(F.collect_list("__id").alias("__ids"))
                   .filter(F.size("__ids") > 1))
        flood_obs = None
        if max_bucket_size is not None:
            # replica floods / collapsed embeddings put every copy in the
            # same bucket in EVERY table; cap = the B^2 guard shared with
            # _banded_candidate_pairs (recall loss only for pairs with no
            # smaller shared bucket) — observably, see _observe_flood
            grouped, flood_obs = _observe_flood(grouped, max_bucket_size)
        cand = (grouped.select(F.explode("__ids").alias("id_a"), "__ids")
                       .select("id_a", F.explode("__ids").alias("id_b"))
                       .filter(F.col("id_a") < F.col("id_b"))
                       .dropDuplicates(["id_a", "id_b"]))
        va = sel.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
        vb = sel.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
        cos = _dot_expr(F.col("__va"), F.col("__vb"))
        out = (cand.join(va, "id_a").join(vb, "id_b")
                   .select("id_a", "id_b", cos.alias("cosine"))
                   .filter(F.col("cosine") >= threshold))
        out.lsh_flood = flood_obs
        return _with_stats(out, with_stats)
    # exact all-pairs via block-partitioned GEMM (one BLAS matmul per
    # unordered block pair) — see block_allpairs_cosine for the scale story
    from .similarity import block_allpairs_cosine

    out = block_allpairs_cosine(sel, threshold,
                                blocks=max(2, default_parallelism() // 4))
    return (out, None) if with_stats else out


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"])


def fuzzy_near_dups(df: DataFrame, id_col: str, text_col: str,
                    max_dist: int = 20, n: int = 3,
                    candidate_threshold: float = 0.3,
                    max_ngram_freq: int | None = 1000) -> DataFrame:
    """Edit-distance near-duplicates: pairs whose texts are within
    ``max_dist`` Levenshtein edits, found WITHOUT an all-pairs comparison.

    Two-stage, the standard fuzzy-join shape at scale:

    1. candidate generation — the :func:`ngram_jaccard_pairs` inverted
       index (word ``n``-grams, hot-gram cap): only pairs sharing a
       sufficiently rare n-gram and clearing a loose Jaccard floor are
       ever compared;
    2. verification — JVM-side ``levenshtein`` on the candidate pairs
       only (Spark's builtin; no Python boundary).

    A true edit-distance pair that shares no word n-gram with Jaccard ≥
    ``candidate_threshold`` is missed — the recall/cost dial every fuzzy
    join exposes (tighten with smaller ``n`` / lower threshold).
    Returns ``(id_a, id_b, jaccard, edit_dist)``, ``id_a < id_b``.
    """
    cands = ngram_jaccard_pairs(df, id_col, text_col, n=n,
                                threshold=candidate_threshold,
                                max_ngram_freq=max_ngram_freq)
    txt = df.select(F.col(id_col).alias("__tid"),
                    F.col(text_col).alias("__txt"))
    return (cands
            .join(txt.select(F.col("__tid").alias("id_a"),
                             F.col("__txt").alias("__ta")), "id_a")
            .join(txt.select(F.col("__tid").alias("id_b"),
                             F.col("__txt").alias("__tb")), "id_b")
            .withColumn("edit_dist", F.levenshtein("__ta", "__tb"))
            .filter(F.col("edit_dist") <= max_dist)
            .select("id_a", "id_b", "jaccard", "edit_dist"))


def novelty_scores(df: DataFrame, id_col: str, text_col: str,
                   n: int = 2) -> DataFrame:
    """Per-document novelty: the fraction of its distinct word n-grams
    that NO earlier document (smaller ``id_col``) contains — the
    "how much new content does this doc add" curation signal that
    complements duplication ratios (a doc can be 0% duplicated span-wise
    yet add almost nothing new gram-wise).

    Returns ``(id, n_grams, n_novel, novelty)``.  Two count shuffles
    (gram → first-doc, then join back on gram), no posting lists, no
    pair generation at all — cheaper than any pair-based dedup and often
    the right first pass at 100 TB.
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                     lambda t: t != "")
    if n == 1:
        grams = F.array_distinct(words)
    else:
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
        grams = F.array_distinct(F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))))
    pos = (df.select(F.col(id_col).alias("__id"), grams.alias("__gs"))
             .select("__id", F.explode("__gs").alias("__g")))
    # both the first-doc aggregate and the join read pos: cache so the
    # tokenize+explode runs once (cache-ring released, as in span stats)
    pos = _retain_cache(pos)
    first = pos.groupBy("__g").agg(F.min("__id").alias("__first"))
    return (pos.join(first, "__g")
            .groupBy(F.col("__id").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.when(F.col("__id") == F.col("__first"), 1)
                       .otherwise(0)).alias("n_novel"))
            .withColumn("novelty",
                        F.round(F.col("n_novel") / F.col("n_grams"), 4)))


# ---------------------------------------------------------------------------
# exact substring (span-level) duplication stats

def duplicated_span_stats(df: DataFrame, id_col: str, text_col: str,
                          n: int = 8,
                          max_span_freq: int | None = None) -> DataFrame:
    """Per-document exact-substring duplication: the fraction of rolling
    word ``n``-gram positions whose span also occurs in ANOTHER document
    — the span-level signal of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al., 2022), where near-dup document
    filters miss templated boilerplate repeated inside otherwise-unique
    pages.

    Returns ``(id, n_spans, n_dup_spans, dup_ratio)``; docs shorter than
    ``n`` tokens contribute one whole-doc span.  Two shuffles: span →
    distinct-doc count (partial-aggregated; the span text itself never
    shuffles — spans travel as 16-byte md5 prefixes), then the count
    joins back to positions.  No posting lists ever materialize (the
    groupBy aggregates counts), so unlike the pair generators no skew
    guard is needed for correctness; ``max_span_freq`` instead DROPS
    spans present in more docs than the cap from the signal — the
    stopword-phrase analogue of ``ngram_jaccard_pairs``'s hot-gram cap
    (a span in half the corpus is boilerplate language, not
    duplication).
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                     lambda t: t != "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    spans = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, n))))
    pos = (df.select(F.col(id_col).alias("__id"), spans.alias("__spans"))
             .select("__id", F.explode("__spans").alias("__h")))
    # both aggregation branches (docs-per-span and the per-doc flag join)
    # consume pos; cache it so the tokenize+md5 explode runs once
    # (released by cache-ring rotation, like the other dedup internals)
    pos = _retain_cache(pos)
    docs_per_span = (pos.distinct()
                     .groupBy("__h")
                     .agg(F.count(F.lit(1)).alias("__docs")))
    if max_span_freq is not None:
        docs_per_span = docs_per_span.filter(F.col("__docs")
                                             <= max_span_freq)
    flagged = (pos.join(docs_per_span, "__h", "left")
                  .withColumn("__dup",
                              F.when(F.col("__docs") >= 2, 1).otherwise(0)))
    return (flagged.groupBy(F.col("__id").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.sum("__dup").alias("n_dup_spans"))
            .withColumn("dup_ratio",
                        F.round(F.col("n_dup_spans") / F.col("n_spans"), 4)))


def remove_duplicated_spans(df: DataFrame, id_col: str, text_col: str,
                            n: int = 8,
                            max_span_freq: int | None = None,
                            unit: str = "word") -> DataFrame:
    """Span-level dedup ACTION — the ExactSubstr remediation of
    "Deduplicating Training Data Makes Language Models Better" (Lee
    et al., 2022), whose measurement half is
    :func:`duplicated_span_stats`: REWRITE each document dropping the
    word positions covered by rolling word ``n``-gram spans that occur
    in ≥ 2 documents, instead of dropping whole documents.

    Keep-first determinism: for every cross-document duplicated span,
    the occurrence at the smallest ``(doc id, position)`` — natural
    ordering of the id type — survives; every OTHER occurrence
    (including within-document repeats, and repeats inside the keeper
    document at later positions) is removed, i.e. its ``n`` covered
    word positions are dropped from the rewrite.  Covered positions
    are dropped even where a removed occurrence overlaps the kept one
    — the conservative direction (never under-removes).

    Returns ``df`` with ``text_col`` REWRITTEN (surviving words joined
    by single spaces — the rewrite is whitespace-normalizing, like
    the tokenization it derives from) plus audit columns:
    ``n_words`` (pre-rewrite whitespace words), ``n_words_removed``,
    ``n_spans_removed`` (removed occurrences), and
    ``removed_char_frac`` (character fraction of the whitespace-
    normalized text dropped, rounded to 6 dp).  Documents with no
    duplicated spans (and zero-word documents) pass through with
    their text unchanged up to whitespace normalization.

    Same two-shuffle shape as :func:`duplicated_span_stats`: span →
    (distinct-doc count, keep-first occurrence) partial-aggregated
    with spans travelling as 16-byte md5 prefixes, then the removed
    occurrences join back and collapse to per-document sorted start
    arrays — posting lists never materialize (only REMOVED
    occurrences survive the join, bounded by actual duplication, not
    corpus size).  The rewrite itself is a map-side array expression,
    O(words × removed-starts) per document — heavy-boilerplate pages
    should be doc-level-dropped first (:func:`near_dup_clusters`),
    and ``max_span_freq`` additionally EXEMPTS spans present in more
    documents than the cap (boilerplate language, not duplication —
    the same cap semantics as the stats operator).

    ``unit="sentence"`` (r13) switches the token unit from whitespace
    words to terminal-punctuation sentences (``[.!?]+`` split,
    trimmed; survivors rejoin with ``". "``) — with ``n=3`` this is
    exactly C4 §2.2's published dedup step ("we removed all but one
    of any three-sentence span occurring more than once"), completing
    the C4 trifecta next to the page rules (``text.c4_rules``) and
    line rules (``text.c4_clean_lines``).  Same keep-first semantics,
    same two-shuffle shape; the audit columns keep their names
    (``n_words`` then counts sentences).
    """
    if unit == "word":
        words = F.filter(F.split(F.col(text_col), r"\s+"),
                         lambda t: t != "")
        joiner = " "
    elif unit == "sentence":
        words = F.filter(
            F.transform(F.split(F.col(text_col), r"[.!?]+"),
                        lambda s: F.trim(s)),
            lambda t: t != "")
        joiner = ". "
    else:
        raise ValueError(f"unknown span unit: {unit!r}")
    base = (df.select(F.col(id_col).alias("__id"), words.alias("__w"))
              .filter(F.size("__w") > 0))
    idx = F.sequence(F.lit(0), F.greatest(F.size("__w") - n, F.lit(0)))
    spans = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("p"),
            F.md5(F.lower(F.concat_ws(
                " ", F.slice(F.col("__w"), i + 1, n)))).alias("h")))
    pos = (base.select("__id", F.explode(spans).alias("__s"))
               .select("__id", F.col("__s.p").alias("__p"),
                       F.col("__s.h").alias("__h")))
    pos = _retain_cache(pos)
    per_span = (pos.groupBy("__h")
                   .agg(F.count_distinct("__id").alias("__docs"),
                        F.min(F.struct(F.col("__id"),
                                       F.col("__p"))).alias("__keep")))
    dup = per_span.filter(F.col("__docs") >= 2)
    if max_span_freq is not None:
        dup = dup.filter(F.col("__docs") <= max_span_freq)
    removed = (pos.join(dup.select("__h", "__keep"), "__h")
                  .filter(~((F.col("__id") == F.col("__keep.__id"))
                            & (F.col("__p") == F.col("__keep.__p")))))
    starts = (removed.groupBy("__id")
              .agg(F.sort_array(F.collect_set("__p")).alias("__starts"),
                   F.count(F.lit(1)).alias("__nrs")))
    out = df.join(starts.withColumnRenamed("__id", id_col),
                  id_col, "left")
    sarr = F.coalesce(F.col("__starts"),
                      F.expr("array()").cast("array<int>"))
    kept = F.filter(
        words,
        lambda w, i: ~F.exists(sarr,
                               lambda s: (s <= i) & (i <= s + n - 1)))
    norm = F.concat_ws(joiner, words)
    new_text = F.concat_ws(joiner, kept)
    frac = F.round(
        F.when(F.length(norm) > 0,
               (F.length(norm) - F.length(new_text))
               / F.length(norm).cast("double"))
         .otherwise(F.lit(0.0)), 6)
    return (out.withColumn("n_words", F.size(words).cast("long"))
               .withColumn("n_words_removed",
                           (F.size(words) - F.size(kept)).cast("long"))
               .withColumn("n_spans_removed",
                           F.coalesce(F.col("__nrs"),
                                      F.lit(0)).cast("long"))
               .withColumn("removed_char_frac", frac)
               .withColumn(text_col, new_text)
               .drop("__starts", "__nrs"))


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, w: int = 8) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every character ``k``-gram, slide
    a window of ``w`` consecutive hashes, and select each window's
    MINIMUM hash (rightmost on ties — the paper's robust-winnowing
    choice).  The selected set is the document's fingerprint, with the
    guarantee that any substring match of length ≥ ``w + k − 1``
    shares at least one fingerprint — a DENSITY-BOUNDED sketch
    (≈ 2/(w+1) of positions) that, unlike MinHash, localizes matches.

    Returns ``(id_col, fp)`` — distinct selected hashes per document
    (docs shorter than ``k`` fingerprint their whole text).  Portable
    hash family: the k-gram hash is the first 8 hex digits of md5 as
    an integer, and the rightmost-min tie-break is pure integer
    arithmetic (``h·w + (w−1−offset)``), so an external engine
    re-derives every fingerprint value-for-value.

    Scale shape: hashing + window minima are one map-side array
    expression per document (O(chars·w) work, no shuffle); only the
    DISTINCT (id, fp) pairs — the ≈2/(w+1)-density sketch, not the
    text — reach the dedup exchange."""
    t = F.lower(F.col(text_col))
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), n),
                        lambda i: F.substring(t, i, k))
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
                          .cast("long"))
    # MATERIALIZE the hash array before the window pass: Catalyst does
    # not CSE subexpressions through lambda functions, so referencing
    # the `hashes` expression inside the window lambda re-evaluates
    # the ENTIRE md5 pass per window element — O(chars²·w) md5 calls
    # (measured: 52.9 s for 300 sf0.1 docs vs ~1 s materialized; the
    # minhash_signature lesson above, re-learned)
    base = df.select(F.col(id_col), hashes.alias("__h"))
    nh = F.size(F.col("__h"))
    # per window [i, i+w-1]: min over keys h*w + (w-1-offset) — equal
    # hashes prefer the RIGHTMOST position (smaller offset residual)
    keys = F.transform(
        F.sequence(F.lit(0), F.greatest(nh - w, F.lit(0))),
        lambda i: F.array_min(F.transform(
            F.sequence(i, F.least(i + w - 1, nh - 1)),
            lambda j: F.element_at(F.col("__h"), j + 1) * w
                      + (F.lit(w - 1) - (j - i)))))
    fps = F.array_distinct(F.transform(
        keys, lambda x: F.floor(x / F.lit(w)).cast("long")))
    return (base.select(F.col(id_col), F.explode(fps).alias("fp"))
                .distinct())


def winnow_overlap_pairs(df: DataFrame, id_col: str, text_col: str,
                         k: int = 5, w: int = 8, min_shared: int = 2,
                         max_fp_freq: int | None = None) -> DataFrame:
    """Cross-document fingerprint overlap: pairs sharing ≥
    ``min_shared`` winnowing fingerprints, with the shared count —
    the MOSS match stage over :func:`winnow_fingerprints`.

    One inverted-index self-join on the fingerprint value (sketch-
    sized, never the text), partial-aggregated pair counts;
    ``max_fp_freq`` drops fingerprints present in more docs than the
    cap from BOTH sides (boilerplate grams — the hot-key skew guard
    every pair generator here carries)."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    if max_fp_freq is not None:
        hot = (fps.groupBy("fp").count()
                  .filter(F.col("count") > max_fp_freq).select("fp"))
        fps = fps.join(hot, "fp", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (a.join(b, "fp")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))


# ---------------------------------------------------------------------------
# asymmetric n-gram containment (near-superset detection)

def ngram_containment_pairs(df: DataFrame, id_col: str, text_col: str,
                            n: int = 1, threshold: float = 0.8,
                            max_ngram_freq: int | None = None) -> DataFrame:
    """Directional n-gram containment ``C(src→dst) = |G(src)∩G(dst)| /
    |G(src)|`` for every ordered pair with ``C ≥ threshold`` — the
    asymmetric sibling of :func:`ngram_jaccard_pairs`.  Jaccard misses
    near-SUPERSETS (a short doc quoted whole inside a long one scores
    ``|A|/|B| ≈ 0`` on Jaccard but ``1.0`` on containment), the classic
    doc-in-doc / boilerplate-inclusion case of web-corpus dedup.

    Returns ``(src_id, dst_id, containment)``, ``src_id ≠ dst_id``,
    where src is the (near-)contained side.  Candidate generation is the
    asymmetric PPJoin variant: under the global xxhash64 gram order,
    ``C(src→dst) ≥ t`` forces an overlap of ``ceil(t·|G(src)|)`` grams,
    so src must share a gram within its first
    ``|G(src)| - ceil(t·|G(src)|) + 1`` grams with dst's FULL gram set —
    only src prefixes are exploded for probing (the probe shuffle
    shrinks by ~t) while the dst index stays full.  LOSSLESS: identical
    result set to the full×full index join.

    ``max_ngram_freq`` is the hot-gram skew guard (computed on the FULL
    index — a gram in more docs than the cap is dropped from BOTH sides,
    so the filter stays symmetric and candidates are only lost for pairs
    sharing nothing rarer, the same recall contract as the Jaccard/fuzzy
    cap).  Docs with zero grams (empty text) are excluded: containment
    is undefined on an empty source set.
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                     lambda t: t != "")
    if n == 1:
        grams = F.array_distinct(words)
    else:
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
        grams = F.array_distinct(F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))))
    base = _retain_cache(
        df.select(F.col(id_col).alias("__id"), grams.alias("__grams"))
          .filter(F.size("__grams") > 0))
    # src probe side: prefix only (pigeonhole on |G(src)|)
    plen = (F.size("__grams")
            - F.ceil(F.lit(float(threshold)) * F.size("__grams")
                     - F.lit(1e-9)) + 1)
    ordered = F.array_sort(F.transform(
        "__grams", lambda g: F.struct(F.xxhash64(g).alias("h"),
                                      g.alias("g"))))
    pref = F.transform(F.slice(ordered, 1, plen), lambda s: s["g"])
    probe = base.select("__id", F.explode(pref).alias("__g"))
    index = base.select("__id", F.explode("__grams").alias("__g"))
    if max_ngram_freq is not None:
        hot = (index.groupBy("__g").count()
                    .filter(F.col("count") > max_ngram_freq).select("__g"))
        probe = probe.join(hot, "__g", "left_anti")
        index = index.join(hot, "__g", "left_anti")
    s, d = probe.alias("s"), index.alias("d")
    cand = (s.join(d, (F.col("s.__g") == F.col("d.__g"))
                   & (F.col("s.__id") != F.col("d.__id")))
             .select(F.col("s.__id").alias("src_id"),
                     F.col("d.__id").alias("dst_id"))
             .dropDuplicates(["src_id", "dst_id"]))
    # verification ships 8-byte gram HASHES, not gram strings: the two
    # array joins dominate the operator's shuffle at scale (measured 10×
    # stress: string arrays were most of a 5.7 GB exchange), and overlap
    # counting only needs equality — xxhash64 collisions inside one doc's
    # ≤10³-gram set are ~10⁻¹³, far below any float rounding in the score
    hashes = F.array_sort(F.transform("__grams", lambda g: F.xxhash64(g)))
    gs = base.select(F.col("__id").alias("src_id"),
                     hashes.alias("__gs"))
    gd = base.select(F.col("__id").alias("dst_id"),
                     hashes.alias("__gd"))
    cont = F.size(F.array_intersect("__gs", "__gd")) / F.size("__gs")
    return (cand.join(gs, "src_id").join(gd, "dst_id")
                .withColumn("containment", cont)
                .filter(F.col("containment") >= threshold)
                .select("src_id", "dst_id", "containment"))


# ---------------------------------------------------------------------------
# full near-dup clustering with exact-duplicate collapse (the production
# composition)

def near_dup_clusters(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 16, bands: int = 4,
                      shingle_k: int = 5, threshold: float = 0.5,
                      max_bucket_size: int | None = 1000,
                      with_stats: bool = False):
    """End-to-end near-dup clustering: collapse EXACT duplicates first,
    run MinHash-LSH over the distinct texts only, cluster the
    representatives, then map every input row to its cluster.  Returns
    ``(id_col, cluster_id)`` for every row; ``cluster_id`` is the
    minimum member id of the full cluster (singletons map to
    themselves).

    Why the collapse matters at scale (measured, SCALE.md §8): a
    replica-flooded corpus — crawl snapshots, mirrored posts, N identical
    copies per doc — sends all N copies into the SAME band bucket, so
    raw LSH either materializes N²/2 intra-clique pairs per document or
    (with ``max_bucket_size``) skips the flooded buckets and loses the
    clusters entirely.  Collapsing by exact text hash first makes the
    LSH corpus the DISTINCT texts (the 100× stress: 500,000 rows → 4,992
    reps), after which signature computation, banding, and pair volume
    are all independent of the flood factor; membership rejoins by the
    text-hash key at the end.  Cost: one text-hash exchange + the LSH on
    the collapsed corpus + one map-side-broadcastable rep→cluster join —
    intra-clique pairs are never materialized at all.

    Portable md5 hash family throughout (signatures and the exact-group
    key), so an external engine can re-derive every cluster id.
    """
    th = F.md5(F.col(text_col))
    keyed = _retain_cache(df.select(F.col(id_col).alias("__id"),
                                    th.alias("__th")))
    reps = keyed.groupBy("__th").agg(F.min("__id").alias("__rep"))
    mapping = keyed.join(reps, "__th").select("__id", "__rep")
    rep_docs = df.join(reps.select(F.col("__rep").alias(id_col)),
                       id_col, "semi")
    pairs = minhash_near_dups_md5(rep_docs, id_col, text_col,
                                  num_hashes=num_hashes, bands=bands,
                                  shingle_k=shingle_k, threshold=threshold,
                                  max_bucket_size=max_bucket_size)
    from .components import dup_clusters

    comp = dup_clusters(pairs.select("id_a", "id_b"))
    out = (mapping.join(comp.withColumnRenamed("node", "__rep"),
                        "__rep", "left")
                  .select(F.col("__id").alias(id_col),
                          F.coalesce("component", "__rep")
                           .alias("cluster_id")))
    # flood observability from the rep-level LSH (the collapse makes
    # genuine floods rare here, so a nonzero skip count means distinct-
    # but-boilerplate texts flooding a band — worth knowing at 100 TB)
    out.lsh_flood = getattr(pairs, "lsh_flood", None)
    return _with_stats(out, with_stats)

def benchmark_contamination(corpus: DataFrame, eval_df: DataFrame,
                            id_col: str, text_col: str, n: int = 13,
                            min_hits: int = 1) -> DataFrame:
    """Decontamination screen: which corpus documents contain word
    ``n``-grams that also appear in an evaluation/benchmark set — the
    standard pre-training hygiene pass (collide long n-grams, typically
    13-grams, between corpus and benchmark; a hit means the model may
    have SEEN the test item).

    Returns one row per contaminated corpus doc:
    ``(id, n_grams, n_hits, contamination, n_eval_docs)`` where
    ``n_hits`` counts the doc's distinct grams found anywhere in the
    eval set, ``contamination = n_hits / n_grams``, and ``n_eval_docs``
    counts how many distinct eval documents it collides with.

    Scale shape: the corpus side explodes to a (doc, gram) inverted
    index that never self-joins.  The eval side is size-gated
    (:func:`~datum_spark.util.gated_broadcast` on the eval text, × ``n``
    for the gram explode): a benchmark — small by construction —
    broadcasts, so the gram match is a MAP-SIDE join over the corpus
    scan and the only exchange is the per-doc hit aggregation on the
    corpus key.  A "benchmark" that is itself huge (e.g. screening
    against another corpus) stays unhinted and the join shuffles both
    sides by gram — the same delta-vs-corpus shape as
    :func:`incremental_near_dups_md5`.
    """
    def grams_of(df: DataFrame, out_id: str) -> DataFrame:
        words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                         lambda t: t != "")
        if n == 1:
            g = F.array_distinct(words)
        else:
            idx = F.sequence(F.lit(0),
                             F.greatest(F.size(words) - n, F.lit(0)))
            # docs shorter than n words emit NO grams (a truncated
            # "gram" isn't an n-gram collision — an empty corpus doc
            # must not match an empty eval doc and get dropped as
            # contaminated)
            g = F.when(F.size(words) >= n,
                       F.array_distinct(F.transform(
                           idx, lambda i: F.concat_ws(
                               " ", F.slice(words, i + 1, n))))
                       ).otherwise(F.array().cast("array<string>"))
        return df.select(F.col(id_col).alias(out_id), g.alias("__grams"))

    # carry the per-doc gram count THROUGH the explode: the corpus gram
    # pipeline runs exactly once (no second pass for sizes, no sizes
    # join back), and since only matched docs are reported the count
    # rides the hit aggregation as first(n_grams).  Cache boundary
    # before each explode (the r4 gram-pipeline discipline): Catalyst's
    # infer-filter-from-generate otherwise duplicates the ENTIRE gram
    # expression into a size(...)>0 scan filter — measured 2× per side.
    inv_c = (_retain_cache(grams_of(corpus, "__id"))
             .select("__id", F.size("__grams").alias("__ng"),
                     F.explode("__grams").alias("__g")))
    ev = (_retain_cache(grams_of(eval_df, "__eval_id"))
          .select("__eval_id", F.explode("__grams").alias("__g")))
    ev = gated_broadcast(ev, probe=eval_df.select(text_col), expansion=n)
    hits = (inv_c.join(ev, "__g")
                 .groupBy("__id")
                 .agg(F.first("__ng").alias("n_grams"),
                      F.countDistinct("__g").alias("n_hits"),
                      F.countDistinct("__eval_id").alias("n_eval_docs")))
    return (hits.filter(F.col("n_hits") >= min_hits)
                .select(F.col("__id").alias(id_col), "n_grams", "n_hits",
                        F.round(F.col("n_hits") / F.col("n_grams"), 4)
                         .alias("contamination"),
                        "n_eval_docs"))


# ---------------------------------------------------------------------------
# survivorship: merge each duplicate cluster into one golden record

def golden_records(df: DataFrame, id_col: str, cluster_col: str,
                   quality_col: str,
                   collect_cols: tuple[str, ...] = (),
                   sum_cols: tuple[str, ...] = ()) -> DataFrame:
    """Survivorship after dedup clustering: collapse each cluster to ONE
    merged "golden" row — the keep-policy step between "we found the dup
    clusters" (``dup_clusters``) and "write the deduped corpus".

    Representative = the member with the highest ``quality_col`` (ties →
    lowest ``id_col``), the usual keep-longest / keep-best rule of
    training-corpus dedup.  ``collect_cols`` come back as sorted distinct
    arrays (provenance: every source that contributed), ``sum_cols`` as
    totals.  One hash aggregation on the cluster key, map-side partial
    aggregates, no window and no join — the cheapest shape there is, so
    it scales wherever the clustering that produced ``cluster_col``
    does.  Returns one row per cluster (singletons included; filter
    ``n_members >= 2`` for dup-only reporting).
    """
    aggs = [F.expr(f"max_by({id_col}, struct({quality_col}, -{id_col}))")
              .alias("rep_id"),
            F.count(F.lit(1)).alias("n_members")]
    for c in collect_cols:
        aggs.append(F.array_sort(F.collect_set(c)).alias(f"{c}s"))
    for c in sum_cols:
        aggs.append(F.sum(c).alias(f"total_{c}"))
    return (df.groupBy(F.col(cluster_col).alias("cluster_id"))
              .agg(*aggs))


# ---------------------------------------------------------------------------
# incremental dedup: a new delta against an existing corpus

def incremental_near_dups_md5(delta: DataFrame, corpus: DataFrame,
                              id_col: str, text_col: str,
                              num_hashes: int = 16, bands: int = 4,
                              shingle_k: int = 5, threshold: float = 0.5,
                              max_bucket_size: int | None = 1000,
                              broadcast_delta: bool = True) -> DataFrame:
    """Near-dups of a NEW batch against an EXISTING corpus — the daily
    ingest shape: at 100 TB you re-dedup the delta, never the corpus
    against itself.  Only delta×corpus candidate pairs exist (corpus
    band buckets that no delta doc hashes into are pruned by the join
    and never leave their mappers), so the cost scales with
    |delta| × local collision density, not |corpus|².

    With ``broadcast_delta`` (the normal case: the delta is a day, the
    corpus is the lake) the delta's banded buckets broadcast, making
    candidate generation a map-side join over the corpus scan — no
    corpus shuffle at all.  Portable md5 MinHash family
    (:func:`minhash_signature_md5`), so results stay externally
    auditable.  Returns ``(delta_id, corpus_id, est_jaccard)``.
    """
    rows_per_band = num_hashes // bands

    def _sig(df):
        return _retain_cache(df.select(
            F.col(id_col).alias("__id"),
            minhash_signature_md5(F.col(text_col), num_hashes,
                                  shingle_k).alias("__sig")))

    def _banded(sig):
        return sig.select(
            "__id",
            F.posexplode(F.array(*[
                F.xxhash64(*[F.col("__sig")[b * rows_per_band + r]
                             for r in range(rows_per_band)])
                for b in range(bands)
            ])).alias("__band", "__bucket"))

    sd, sc = _sig(delta), _sig(corpus)
    bd, bc = _banded(sd), _banded(sc)
    if max_bucket_size is not None:
        # cap on the CORPUS side (the delta is small by assumption):
        # a corpus bucket bigger than the cap is a boilerplate/replica
        # flood — same recall contract as _banded_candidate_pairs
        hot = (bc.groupBy("__band", "__bucket")
                 .agg(F.count(F.lit(1)).alias("__n"))
                 .filter(F.col("__n") > max_bucket_size)
                 .select("__band", "__bucket"))
        bc = bc.join(hot, ["__band", "__bucket"], "left_anti")
    probe = (F.broadcast(bd.select(F.col("__id").alias("delta_id"),
                                   "__band", "__bucket"))
             if broadcast_delta else
             bd.select(F.col("__id").alias("delta_id"), "__band",
                       "__bucket"))
    cand = (probe.join(bc.select(F.col("__id").alias("corpus_id"),
                                 "__band", "__bucket"),
                       ["__band", "__bucket"])
                 .select("delta_id", "corpus_id")
                 .dropDuplicates(["delta_id", "corpus_id"]))
    sa = sd.select(F.col("__id").alias("delta_id"),
                   F.col("__sig").alias("__sa"))
    sb = sc.select(F.col("__id").alias("corpus_id"),
                   F.col("__sig").alias("__sb"))
    est = (F.size(F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y),
                           lambda v: v)) / F.lit(float(num_hashes)))
    return (cand.join(F.broadcast(sa) if broadcast_delta else sa,
                      "delta_id")
                .join(sb, "corpus_id")
                .withColumn("est_jaccard", est)
                .filter(F.col("est_jaccard") >= threshold)
                .select("delta_id", "corpus_id", "est_jaccard"))


def blocked_record_pairs(df: DataFrame, id_col: str,
                         block_cols: list[str], text_col: str,
                         max_dist: int = 2,
                         max_block_size: int | None = 10_000
                         ) -> DataFrame:
    """Relational record linkage (Fellegi–Sunter blocking stage): the
    classic entity-resolution recipe for STRUCTURED rows, next to the
    text-corpus dedup family — candidate pairs form only WITHIN a
    blocking key (never all-pairs), then survive on edit distance:
    ``levenshtein(text_a, text_b) ≤ max_dist``.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b`` and the block
    columns carried through — deterministic and portable (Levenshtein
    is exact; both Spark and DuckDB implement the same metric).

    Scale shape: one hash exchange on the block key, a within-block
    self-join (Σ|block|², the quantity blocking exists to bound), one
    edit-distance filter.  ``max_block_size`` drops OVER-FULL blocks
    from pairing — observable skew guard, same cap semantics as the
    LSH band buckets: a block holding half the table is a bad blocking
    key, not a candidate set."""
    from ..util import ensure_parallelism

    cols = [F.col(c) for c in block_cols]
    # fan the scan out first: the within-block pair loop and its edit
    # distances run in the PROBE side's partitioning, and a small
    # single-row-group input would pin the whole Σ|block|² comparison
    # loop to one task (no-op at scale — guide §2.5 input skew)
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("__id"), *block_cols,
                  F.col(text_col).alias("__t")))
    if max_block_size is not None:
        sizes = (base.groupBy(*block_cols)
                     .agg(F.count(F.lit(1)).alias("__bs"))
                     .filter(F.col("__bs") <= max_block_size)
                     .drop("__bs"))
        base = base.join(sizes, block_cols, "semi")
    a = base.select(*[F.col(c) for c in block_cols],
                    F.col("__id").alias("id_a"),
                    F.col("__t").alias("__ta"))
    b = base.select(*[F.col(c) for c in block_cols],
                    F.col("__id").alias("id_b"),
                    F.col("__t").alias("__tb"))
    # |len(a) - len(b)| lower-bounds the edit distance: prune pairs on
    # the cheap length test first, then run the THRESHOLD-BOUNDED
    # Levenshtein (banded O(n·max_dist) DP instead of the full O(n·m)
    # matrix; it returns -1 above the bound and the exact distance at
    # or under it, so surviving rows are value-identical)
    return (a.join(b, block_cols)
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(F.abs(F.length("__ta") - F.length("__tb"))
                     <= int(max_dist))
             .withColumn("dist", F.levenshtein("__ta", "__tb",
                                               int(max_dist)))
             # bounded levenshtein returns -1 above the bound and the
             # exact distance (<= bound) otherwise, so ">= 0" alone is
             # the full predicate — the redundant "<= max_dist" conjunct
             # cost a second levenshtein evaluation per surviving pair
             .filter(F.col("dist") >= 0)
             .select(*block_cols, "id_a", "id_b", "dist"))
