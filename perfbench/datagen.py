"""Seeded fixture generator for the benchmark.

Writes the ten tables the engine's queries read (``region`` ... ``embeddings``)
as one parquet file each, with the schemas and value domains of the repo's
fixture layout (FIXTURES.md).  Everything is a function of ``seed`` and
``sf``: the same pair always gives the same values.

Row counts per scale factor ``sf`` (sf0.1 shown): customer 15k, supplier 1k,
part 20k, orders 150k, lineitem 600k, events 100k, documents 5k,
embeddings 5k.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["red", "small", "hot", "cold", "old", "blue", "large", "new"]
_PART_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt",
              "rod"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_DAY_MS = 86_400_000


def _ms(date: str) -> int:
    return int(np.datetime64(date, "ms").astype(np.int64))


def _days(rng, n: int, lo: str, hi: str) -> pa.Array:
    """Midnight timestamps (ms) drawn uniformly from [lo, hi]."""
    span = (_ms(hi) - _ms(lo)) // _DAY_MS
    ms = _ms(lo) + rng.integers(0, span + 1, n) * _DAY_MS
    return pa.array(ms, pa.timestamp("ms"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[
        rng.choice(len(options), n, p=p)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; ~5% are near-duplicates of an earlier doc
    (its text plus the token ``dup``), so dedup has clusters to collapse."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with a uniform 10-way label; ~2% are
    perturbed copies of an earlier vector, so near-duplicate search has
    pairs to find."""
    e = rng.standard_normal((n, dim))
    for i in np.flatnonzero(rng.random(n) < 0.02):
        if i > 0:
            e[i] = e[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(dim)
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _tables(seed: int, sf: float) -> dict:
    """Table name -> function making it.  Each table draws from its own
    stream of the seed, so its values do not depend on which other tables
    are made."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_vec = int(50_000 * sf)
    nation = np.arange(25)

    def region(rng):
        return pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string())})

    def nations(rng):
        return pa.table({
            "n_nationkey": pa.array(nation, pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in nation], pa.string()),
            "n_regionkey": pa.array(nation % 5, pa.int32())})

    def customer(rng):
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})

    def supplier(rng):
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})

    def part(rng):
        return pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                rng.choice(_PART_ADJ, n_part),
                rng.choice(_PART_NOUN, n_part))], pa.string()),
            "p_brand": pa.array([f"Brand#{k}" for k in
                                 rng.integers(1, 26, n_part)], pa.string()),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                      2)})

    def orders(rng):
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})

    def lineitem(rng):
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})

    def events(rng):
        ev_us = np.sort(_ms("2024-01-01") * 1000
                        + rng.integers(0, 30 * _DAY_MS * 1000, n_ev))
        return pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_ev)], pa.string())})

    return {"region": region, "nation": nations, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events,
            "documents": lambda rng: _documents(rng, n_docs),
            "embeddings": lambda rng: _embeddings(rng, n_vec)}


def generate(out_dir: str, seed: int, sf: float,
             only=TABLES) -> dict[str, int]:
    """Write the tables named in ``only`` under ``out_dir`` as
    ``<name>.parquet`` and return their row counts."""
    makers = _tables(seed, sf)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in only:
        table = makers[name](np.random.default_rng([seed,
                                                      TABLES.index(name)]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
