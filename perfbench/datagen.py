"""Seeded fixture tables for the benchmark, written as parquet.

The tables have the schemas, row counts and value distributions of the
engine's star-schema fixtures (FIXTURES.md, TESTDATA.md): region, nation,
customer, supplier, part, orders, lineitem, events, documents and
embeddings.  The fixture files live outside the repository and a benchmark
run reads nothing outside its checkout, so the tables are generated here;
perfbench/WORKLOADS.md compares them with the fixtures.  Everything is drawn
from one NumPy generator, so a (scale, seed) pair always yields identical
files.

Built tables are cached in a directory named after the scale and seed and
marked complete by a `_DONE` file, so only the first run in a checkout pays
for generation.  Generation is not part of the benchmark's set-up time.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per scale factor, those of the reference fixtures.
ROWS = {
    "0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, documents=500, embeddings=500),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _dates(rng, n: int, days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, days, n) * np.timedelta64(_DAY_US, "us")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # Near duplicates (a marker word appended to an earlier text, one in
    # twenty) and a few exact copies give the dedup operators real work.
    for i in np.sort(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in np.sort(rng.choice(np.arange(1, n), n // 625, replace=False)):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32()), flat
        ),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng, n: int) -> pa.Table:
    # Strictly increasing timestamps over 30 days: exponential gaps, as
    # from a Poisson arrival process.
    gaps = np.maximum(rng.exponential(30 * _DAY_US / n, n).astype(np.int64), 1)
    ts = _EPOCH_2024 + np.cumsum(gaps) * np.timedelta64(1, "us")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n * 3 // 200, 1), n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def make_tables(sf: str, seed: int) -> dict[str, pa.Table]:
    """All fixture tables for scale factor `sf` (a key of ROWS)."""
    rows = ROWS[sf]
    rng = np.random.default_rng(seed)
    nc, ns, np_, no, nl = (rows[t] for t in
                           ("customer", "supplier", "part", "orders", "lineitem"))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array(rng.choice(names, np_), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)],
                            pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, np_), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(np_) % 1000) / 10.0,
                                  pa.float64()),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), pa.float64()),
        "o_orderdate": pa.array(_dates(rng, no, 2405), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64),
                               pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": pa.array(_dates(rng, nl, 2499) + np.timedelta64(_DAY_US, "us"),
                               pa.timestamp("us")),
    })
    t["events"] = _events(rng, rows["events"])
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def ensure_tables(root: str, sf: str, seed: int) -> str:
    """Directory holding `<table>.parquet` for (sf, seed), built once.

    The name carries a hash of this file, so changing the generator
    rebuilds the tables (and invalidates reference results keyed by it)."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(root, f"bench-sf{sf}-d{seed}-{version}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build.", dir=root)
    try:
        for name, table in make_tables(sf, seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
