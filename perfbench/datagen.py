"""Seeded generator for the benchmark's input tables.

Writes the ten TPC-H-ish fixture tables the registry and its DuckDB
oracles read (``region nation customer supplier part orders lineitem
events documents embeddings``, one parquet file each) with the same
column names, types and value domains as the repository's sf0.1
fixtures, at ``scale`` times their row counts. The same ``(seed, scale)``
always writes the same bytes' worth of rows, so a run's inputs depend
only on its seed.

Pure numpy/pyarrow: no Spark session is needed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts; a run writes round(scale * n) rows of each
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a the data spark table query scan filter join group agg sort hash key "
    "value row column line part order customer stream batch window merge "
    "vector fast slow big small index cache file page block commit shard"
).split()

_DAY_US = 86_400 * 1_000_000
# 1995-01-01 and 2001-08-01 as days since the epoch
_ORDER_DAY_LO, _ORDER_DAY_HI = 9131, 11535
_EVENT_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a small vocabulary. About 0.5% are
    near-copies of an earlier document of 30+ words with one word
    replaced: like the fixtures, every true near-duplicate pair has
    Jaccard >= 0.9 and no pair falls between 0.4 and 0.9, so the
    near-dup entries have work to find and their oracles apply."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        k = int(rng.integers(8, 100))
        words = [str(w) for w in vocab[rng.integers(0, len(vocab), k)]]
        if i > 10 and rng.random() < 0.005:
            src = texts[int(rng.integers(0, i))].split()
            if len(src) >= 30:
                words = src
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[rng.integers(0, len(vocab))]
                )
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)], pa.string()
            ),
            "source": pa.array(
                [f"src{j}" for j in rng.integers(0, 20, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def rows(name: str, scale: float) -> int:
    """Rows :func:`make_tables` writes for table ``name`` at ``scale``."""
    return max(10, int(round(BASE_ROWS[name] * scale)))


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: rows(k, scale) for k in BASE_ROWS}
    n_nation = 25
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(n_nation), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(n_nation)], pa.string()),
            "n_regionkey": pa.array(np.arange(n_nation) % 5, pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, n_nation, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
            "c_mktsegment": pa.array(
                [_SEGMENTS[j] for j in rng.integers(0, 5, nc)], pa.string()
            ),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, n_nation, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
        }
    )
    npart = n["part"]
    adj = ["large", "small", "hot", "cold", "red", "blue"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 6, (npart, 2))],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{j}" for j in rng.integers(1, 26, npart)], pa.string()
            ),
            "p_type": pa.array(
                [["LARGE", "ECONOMY", "STANDARD", "PROMO"][j] for j in rng.integers(0, 4, npart)],
                pa.string(),
            ),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(_money(rng, 900.0, 2000.0, npart), pa.float64()),
        }
    )
    no = n["orders"]
    order_day = rng.integers(_ORDER_DAY_LO, _ORDER_DAY_HI + 1, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(
                [["F", "O", "P"][j] for j in rng.integers(0, 3, no)], pa.string()
            ),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), pa.float64()),
            "o_orderdate": _ts(order_day * _DAY_US),
            "o_orderpriority": pa.array(
                [_PRIORITIES[j] for j in rng.integers(0, 5, no)], pa.string()
            ),
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    flags = rng.integers(0, len(_FLAGS), nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array([_FLAGS[j][0] for j in flags], pa.string()),
            "l_linestatus": pa.array([_FLAGS[j][1] for j in flags], pa.string()),
            "l_shipdate": _ts(
                (order_day[l_order] + rng.integers(1, 122, nl)) * _DAY_US
            ),
        }
    )
    ne = n["events"]
    ev_t = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _EVENT_T0_US
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ev_t),
            "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), pa.int64()),
            "event_type": pa.array(
                [_EVENT_TYPES[j] for j in rng.integers(0, 5, ne)], pa.string()
            ),
            "value": pa.array(_money(rng, 0.0, 560.0, ne)),
            "props": pa.array(
                [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)], pa.string()
            ),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return out


def write_fixtures(out_dir: str, seed: int, scale: float) -> dict[str, pa.Table]:
    """Write every table to ``out_dir/<name>.parquet``; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, scale)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables
