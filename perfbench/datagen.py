"""Synthetic inputs for the benchmark: the ten engine tables at a given
scale factor, written as one parquet file per table.

The shapes follow the engine's testdata (FIXTURES.md, TESTDATA.md):
TPC-H-style keys drawn uniformly, four lineitems per order on average
(so about 2% of orders have none and ``(l_orderkey, l_linenumber)`` pairs
repeat), a 30-word vocabulary for documents with 5% near-duplicates that
end in ``dup``, and 64-dimensional unit embeddings around ten label
centres. The data depend only on the scale factor: the run seed of the
benchmark never reaches them, so every run of a workload reads the same
bytes.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT_VERSION = "1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EMBED_DIM = 64


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date,
          n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = centres[label] + 1.5 * rng.normal(size=(n, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    flat = pa.array(vec.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM,
                                 dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label,
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, deterministically."""
    rng = np.random.default_rng(DATA_SEED)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": _keyed_names("Customer", nc),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": _keyed_names("Supplier", ns),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.array(names)[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1),
                             no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4),
                            nl),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 24 * 3600 * 1_000_000
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, month_us, ne)),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def ensure_data(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once and return their
    directory; later calls reuse it. A marker file written last means a
    half-written directory from an interrupted run is rebuilt."""
    out = os.path.join(root, f"sf{sf:g}")
    marker = os.path.join(out, "_COMPLETE")
    want = f"{FORMAT_VERSION} {DATA_SEED}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == want:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy")
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
