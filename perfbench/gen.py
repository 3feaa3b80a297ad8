"""Seeded input generator.

Writes the ten star-schema tables the engine reads (region nation customer
supplier part orders lineitem events documents embeddings) as parquet, with
the schema and value distributions of the sf0.1 test tables. Every value is
drawn from ``numpy.random.default_rng(seed)``, so the same seed gives the
same files. ``k`` scales the fact tables (k=1 is sf0.1: 150 k orders,
600 k lineitems, 5 k documents, 2 k embeddings); dimension tables keep
their sf0.1 size so joins stay selective the same way at every k.

Documents follow the test corpus: 10-99 words from a 30-word vocabulary,
and 5 % near-duplicates (another document's text plus the token ``dup``),
so near-duplicate density per document does not change with k.

``shape.py`` profiles tables; the tests check the output at k=1 against
the recorded profile of sf0.1 (``sf01_shape.json``): schema, row counts,
nulls, value percentiles, lineitems per order, repeated line numbers and
near-duplicate share.

Money values are multiples of 1/4 and rates (discount, tax) multiples of
1/32 or 1/64, so every sum the queries take is exact in binary floating
point: Spark and the DuckDB oracle add in different orders, and with
cent-valued doubles a sum rounded to cents can land on either side of a
rounding boundary, which would fail a correct engine on some seeds.

Output is cached per (seed, k) under ``<cache>/v<VERSION>_s<seed>_k<k>``;
a finished directory holds a ``_DONE`` marker with the row counts.
``VERSION`` changes whenever the drawn values do.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 2
BASE = {  # sf0.1 row counts of the scaled tables
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
N_CUSTOMER, N_PART, N_SUPPLIER, N_USERS = 15_000, 20_000, 1_000, 1_500
NEAR_DUP_SHARE = 0.05
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
P_ADJ = ["cold", "hot", "large", "new", "red", "small", "old", "blue"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "nut", "pin"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400 * 10**6


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array((start + offsets_us).astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.floor(rng.uniform(lo, hi, n) * 4) / 4


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n: int) -> tuple[pa.Table, int]:
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lengths.sum())]
    ends = np.cumsum(lengths)
    text = [" ".join(words[e - m : e]) for e, m in zip(ends, lengths)]
    dups = np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE)
    for i, src in zip(dups, rng.integers(0, n, len(dups))):
        if src != i:
            text[i] = text[src] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    table = pa.table({
        "doc_id": doc_id,
        "text": text,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.fromiter(map(len, text), np.int64, n),
    })
    return table, sum(t.endswith(" dup") for t in text)


def tables(seed: int, k: float) -> tuple[dict[str, pa.Table], dict]:
    """Build every table in memory; returns (tables, stats)."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(c * k))) for t, c in BASE.items()}
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }),
        "part": pa.table({
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, P_ADJ, N_PART),
                                                   _pick(rng, P_NOUN, N_PART))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": _pick(rng, P_TYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": 900.0 + rng.integers(0, 400, N_PART) / 4.0,
        }),
    }
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, no),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, N_PART, nl),
        "l_suppkey": rng.integers(0, N_SUPPLIER, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 4, nl) / 32.0,
        "l_tax": rng.integers(0, 6, nl) / 64.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, nl) * DAY_US),
    })
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, ne))),
        "user_id": rng.integers(0, N_USERS, ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.floor(rng.exponential(50.0, ne) * 4) / 4,
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)],
    })
    out["documents"], n_dup = _documents(rng, n["documents"])
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(nv, 64)) + 0.07 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.field("element", pa.float32()))),
        "label": labels.astype(np.int32),
    })
    stats = {
        "rows": {t: tb.num_rows for t, tb in out.items()},
        "near_dup_share": round(n_dup / n["documents"], 6),
    }
    return out, stats


def generate(cache: str, seed: int, k: float) -> tuple[str, dict]:
    """Write (or reuse) the tables for (seed, k); returns (dir, stats)."""
    path = os.path.join(cache, f"v{VERSION}_s{seed}_k{k:g}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return path, json.load(f)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    built, stats = tables(seed, k)
    for name, table in built.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(stats, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, stats
