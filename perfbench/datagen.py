"""Seeded synthetic tables for the ``queries`` workload.

Same table names, columns and types as the repository's star-schema test
data (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), with the value distributions that
``scripts/gen_sf1.py`` documents, at a fixed small scale. A seed fixes
every value, so two runs with one seed read identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table; the shape of the sf0.01 test data
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}
EMB_DIM = 64

VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part "
    "fast the row agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400_000_000


def _days(lo: str, hi: str) -> int:
    return int((np.datetime64(hi) - np.datetime64(lo)).astype(int))


def _dates(rng, lo: str, hi: str, n: int) -> np.ndarray:
    base = np.datetime64(lo).astype("datetime64[us]")
    return base + (rng.integers(0, _days(lo, hi) + 1, n) * DAY_US).astype(
        "timedelta64[us]"
    )


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def tables(seed: int) -> dict[str, pa.Table]:
    """Every table, built from one seeded generator."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, c), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, s), 2)),
    })
    p = n["part"]
    pk = np.arange(p)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([
            f"{ADJS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, p)]),
        "p_type": _pick(rng, PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], o),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, o), 2)),
        "o_orderdate": pa.array(
            _dates(rng, "1995-01-01", "2001-08-01", o), pa.timestamp("us")
        ),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, li) / 100.0, 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["O", "F"], li),
        "l_shipdate": pa.array(
            _dates(rng, "1995-01-02", "2001-11-04", li), pa.timestamp("us")
        ),
    })
    e = n["events"]
    gaps = rng.exponential(1.0, e)
    t0 = np.datetime64("2024-01-01T00:00:00").astype("datetime64[us]")
    ts = t0 + (np.cumsum(gaps) / gaps.sum() * 30 * DAY_US).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]
        ),
    })
    d = n["documents"]
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(10, 101, d)
    ]
    # 5% planted near-duplicates: another document's text plus " dup"
    for i in rng.choice(d, d // 20, replace=False):
        src = int(rng.integers(0, d))
        if src != i:
            texts[i] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, d, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m, dtype=np.int32)),
    })
    return out


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
