"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-shaped star schema plus the ``events``, ``documents`` and
``embeddings`` tables that the corpus queries read (one parquet file per
table, same names, column names and types as the project's test fixtures).
Everything is drawn from one ``numpy`` generator seeded by the caller, so a
seed fully determines the bytes the program under test receives.

Row counts scale with ``sf`` the way the fixtures do: at sf=0.1 lineitem
has 600K rows, orders 150K, documents 5K and embeddings 2K.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("red", "small", "hot", "cold", "old", "new", "large", "blue")
PART_NOUN = ("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
LANGS = ("en", "zh", "es", "fr", "de")
# Common words every document draws most tokens from, plus a tail of rarer
# topic words so TF-IDF weights and text similarity have something to find.
COMMON_WORDS = tuple(
    """spark window merge table column vector stream value data small join
    filter big group hash customer sort order slow line part fast row the
    agg key query a scan batch""".split()
)
RARE_WORDS = tuple(f"topic{i:03d}" for i in range(400))
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    """``n`` midnight timestamps (µs) uniform over [lo, hi]."""
    d0, d1 = _epoch_us(lo) // _US_PER_DAY, _epoch_us(hi) // _US_PER_DAY
    return rng.integers(d0, d1 + 1, n) * _US_PER_DAY


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def make_text(rng, n_words: int) -> str:
    """One word-soup document: ~90% common words, ~10% rare topic words."""
    common = rng.integers(0, len(COMMON_WORDS), n_words)
    rare = rng.integers(0, len(RARE_WORDS), n_words)
    use_rare = rng.random(n_words) < 0.1
    return " ".join(
        RARE_WORDS[r] if u else COMMON_WORDS[c] for c, r, u in zip(common, rare, use_rare)
    )


def tpch_tables(rng, sf: float) -> dict:
    """The relational tables as pyarrow Tables, keyed by name."""
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    n_li = max(int(6_000_000 * sf), 200)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], pa.int32()),
            }
        ),
    }
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pkeys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pkeys,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ("O", "F", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("N", "R", "A"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04")),
        }
    )
    return tables


def events_table(rng, sf: float) -> pa.Table:
    n = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    start = _epoch_us("2024-01-01")
    span = 30 * _US_PER_DAY
    ts = np.sort(start + rng.integers(0, span, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(rng, sf: float) -> pa.Table:
    """Distinct word-soup documents of 10..100 words."""
    n = max(int(50_000 * sf), 50)
    texts, seen = [], set()
    while len(texts) < n:
        t = make_text(rng, int(rng.integers(10, 101)))
        if t not in seen:
            seen.add(t)
            texts.append(t)
    langs = np.where(rng.random(n) < 0.4, "en", _pick(rng, LANGS[1:], n))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs.astype(object),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng, sf: float) -> pa.Table:
    """Unit vectors clustered around ten label centroids."""
    n = max(int(20_000 * sf), 20)
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Generate the tables for ``seed``/``sf`` into ``out_dir`` (one
    ``<name>.parquet`` each) and return them as pyarrow Tables."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, sf)
    tables["events"] = events_table(rng, sf)
    tables["documents"] = documents_table(rng, sf)
    tables["embeddings"] = embeddings_table(rng, sf)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tables
