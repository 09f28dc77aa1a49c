"""Deterministic sf0.1-shaped input tables for the benchmark.

The tables mirror the layout the engine's catalog reads (one parquet file
per table: ``<dir>/<name>.parquet``) at scale factor 0.1: 5,000 documents
over a 31-word vocabulary with 5% near-duplicate twins, 2,000 unit-norm
64-d embeddings, 100,000 time-ordered events and a TPC-H-like star schema
with 600,000 line items. Every column is drawn from one NumPy
generator seeded with ``DATA_SEED``, so the tables are always
byte-identical and the expected answers in ``expected.json`` apply.

Usage: python3 perfbench/datagen.py <out_dir>
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = (
    "a the data spark table column row key value query join filter group "
    "agg sort hash merge scan batch stream window vector order customer "
    "part line small big fast slow"
).split()
DUP_WORD = "dup"
VOCABULARY = tuple(sorted(WORDS + [DUP_WORD]))
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

N_DOCS = 5_000
N_EMB = 2_000
EMB_DIM = 64
N_EVENTS = 100_000
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000


def _days(rng, start: dt.date, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _documents(rng) -> pa.Table:
    lengths = rng.integers(10, 101, N_DOCS)
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(WORDS[i] for i in ids) for ids in np.split(word_ids, cuts)]
    # 5% near-duplicates: a document whose text is another document's
    # text plus one marker token (the MinHash/n-gram dedup lanes' input)
    dups = rng.choice(N_DOCS, N_DOCS // 20, replace=False)
    for d in dups:
        src = int(rng.integers(0, N_DOCS))
        if src != d:
            texts[d] = texts[src] + " " + DUP_WORD
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        rng.choice(5, N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ]
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    v = rng.standard_normal((N_EMB, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMB).astype(np.int32),
    })


def _events(rng) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, N_EVENTS))
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1_500, N_EVENTS).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, N_EVENTS)
        ],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def _star(rng) -> dict[str, pa.Table]:
    ts = pa.timestamp("us")
    nation_keys = np.arange(25, dtype=np.int32)
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": nation_keys,
            "n_name": [f"NATION_{i}" for i in nation_keys],
            "n_regionkey": (nation_keys % 5).astype(np.int32),
        }),
    }
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, N_CUSTOMER)],
    })
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    adj = np.array(["large", "small", "hot", "cold", "blue", "red", "shiny", "matte"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate"])
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, N_PART)], " "),
            noun[rng.integers(0, 8, N_PART)],
        ),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, N_PART)
        ],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(N_ORDERS, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), 2405, N_ORDERS), type=ts),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, N_ORDERS)],
    })
    n = N_LINEITEM
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), 2499, n), type=ts),
    })
    return out


def generate(out_dir: str) -> None:
    """Write every table under ``out_dir`` (one row group each, like the
    catalog's testdata layout)."""
    rng = np.random.default_rng(DATA_SEED)
    tables = _star(rng)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        t = tables[name]
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=t.num_rows)


def fingerprint(data_dir: str) -> str:
    """Content digest of the tables (values, not file bytes), so a changed
    generator or library version is caught before answers are compared."""
    h = hashlib.sha256()
    for name in TABLES:
        t = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
        h.update(name.encode())
        for col in t.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()[:16]


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    generate(sys.argv[1])
    print(fingerprint(sys.argv[1]))
