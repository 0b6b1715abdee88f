"""Seeded generator for the ten parquet tables the registry reads.

The package's queries take a directory holding `<table>.parquet` for
region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings.  This module writes such a directory from a
seed with the same column names, parquet types and value distributions
as the project's reference fixtures (uniform keys and categories,
Poisson order fan-out, time-sorted events, a 30-word document
vocabulary with 5% near-duplicate documents, unit-norm 64-d float
embeddings), so the same seed always gives byte-identical tables.

Row counts scale like the reference fixtures: `sf` 1.0 means 150k
customers, 1.5M orders and 6M line items.  The flagship workload
uses `geo_tables`, which draws its own supplier and customer keys so
that the derived streets and house numbers change with the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, start: tuple, end: tuple, n: int) -> pa.Array:
    lo, hi = _epoch_us(*start) // _DAY_US, _epoch_us(*end) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf`, drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(15, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(150, int(1_500_000 * sf))
    n_line, n_ev = max(600, int(6_000_000 * sf)), max(100, int(1_000_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _keys(n_cust),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _keys(n_supp),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _keys(n_part),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _keys(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": _keys(n_ev),
                "ts": pa.array(
                    np.sort(
                        _epoch_us(2024, 1, 1)
                        + rng.integers(0, 30 * _DAY_US, n_ev, dtype=np.int64)
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, max(1, n_ev * 15 // 1000), n_ev)),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    return out


def geo_tables(seed: int, n_streets: int, n_house_numbers: int) -> dict[str, pa.Table]:
    """Supplier and customer tables for the flagship fixtures.

    Streets come from dense supplier keys 0..n-1 (the fixture lays them
    out on a grid by key); house numbers come from distinct customer
    keys drawn from the seed, which moves every point, date window and
    null-geometry choice the fixture derives from the key."""
    rng = np.random.default_rng(seed)
    cust = np.sort(rng.choice(20 * n_house_numbers, n_house_numbers, replace=False))
    return {
        "supplier": pa.table(
            {
                "s_suppkey": _keys(n_streets),
                "s_name": pa.array(
                    [f"{PART_ADJ[a].title()} Street {k}" for k, a in
                     enumerate(rng.integers(0, 8, n_streets))]
                ),
                "s_nationkey": pa.array(rng.integers(0, 25, n_streets).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_streets),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(cust.astype(np.int64)),
                "c_name": pa.array([f"Customer#{k:09d}" for k in cust]),
                "c_nationkey": pa.array(
                    rng.integers(0, 25, n_house_numbers).astype(np.int32)
                ),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_house_numbers),
                "c_mktsegment": _pick(rng, SEGMENTS, n_house_numbers),
            }
        ),
    }


def write(tables_by_name: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table to `<out_dir>/<name>.parquet`; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables_by_name.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
