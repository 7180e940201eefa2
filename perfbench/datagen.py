"""Seeded generator for the benchmark's input tables.

Builds, as Arrow tables, the ten tables the query registry reads
(``region`` .. ``embeddings``) with the schemas and value distributions of the
project's TPC-H-ish test data, scaled by ``sf`` (``sf=0.01`` gives 60,000
lineitem rows). The same ``(seed, sf)`` always gives the same rows, so every
operation's oracle answer is fixed by the seed.

Only numpy and pyarrow are used: generation costs well under a second at the
benchmark's scales and runs before any timing starts.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("a the agg batch big column customer data fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table value vector window").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_DAY_US = 86_400 * 1_000_000
_D1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_D2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary; about 5% of documents are a
    near duplicate (another document's text plus one token), which is what
    the MinHash/LSH/prefix-join queries look for."""
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[(i + rng.integers(1, n)) % n] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at scale factor ``sf``, in memory."""
    rng = np.random.default_rng(seed)
    n_c = max(150, int(150_000 * sf))
    n_s = max(10, int(10_000 * sf))
    n_p = max(200, int(200_000 * sf))
    n_o = max(1_500, int(1_500_000 * sf))
    n_l = max(6_000, int(6_000_000 * sf))
    n_e = max(1_000, int(1_000_000 * sf))
    n_d = max(500, int(50_000 * sf))
    n_v = max(500, int(20_000 * sf))
    i32 = np.int32
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": np.arange(5, dtype=i32),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_c)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pk = np.arange(n_p, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_p),
        "p_type": _pick(rng, _PTYPES, n_p),
        "p_size": rng.integers(1, 51, n_p).astype(i32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _ts(_D1995 + rng.integers(0, 2400, n_o) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_o)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": rng.integers(1, 8, n_l).astype(i32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_l), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_l), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(rng, ["F", "O"], n_l),
        "l_shipdate": _ts(_D1995 + (1 + rng.integers(0, 2500, n_l)) * _DAY_US)})
    gap_us = rng.exponential(30 * _DAY_US / n_e, n_e)
    t["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts(_D2024 + np.cumsum(gap_us).astype(np.int64)),
        "user_id": rng.integers(0, max(1, n_c // 10), n_e),
        "event_type": _pick(rng, _EVENT_TYPES, n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n_e)])})
    t["documents"] = _documents(rng, n_d)
    t["embeddings"] = _embeddings(rng, n_v)
    return t

