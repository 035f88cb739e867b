"""Deterministic TPC-H-shaped input tables for the benchmark.

The tables follow the schemas in FIXTURES.md (customer, orders, lineitem,
... plus the documents / embeddings / events corpus tables) and are drawn
from a fixed generator seed, like dbgen: every checkout builds the same
bytes.  The per-run ``--seed`` only drives the request stream (keys,
parameters, query vectors, op order), never the stored data, so runs with
different seeds share one dataset and its ground truth.

Row counts scale like TPC-H: ``scale=0.1`` gives 15k customers, 150k
orders and ~600k lineitems.  The corpus tables carry planted near
duplicates (documents one or two word substitutions apart, embeddings a
small perturbation apart) so the dedup and similarity operators have
non-trivial answers.
"""

from __future__ import annotations

import fcntl
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20140901
VERSION = "1"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "small", "shiny", "cold", "red", "dark", "light"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "disk"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a the batch part spark line column order small sort fast value "
         "scan hash slow group agg filter query big key window row table "
         "stream merge data join vector customer").split()
EMB_DIM = 64

_EPOCH = datetime(1970, 1, 1)


def _days(d: datetime) -> int:
    return (d - _EPOCH).days


def _ts_from_days(days: np.ndarray) -> pa.Array:
    us = days.astype(np.int64) * 86_400_000_000
    return pa.array(us.astype("datetime64[us]"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _counts(scale: float) -> dict:
    def n(base: int, floor: int) -> int:
        return max(int(round(base * scale)), floor)

    return {"customer": n(150_000, 60), "supplier": n(10_000, 10),
            "part": n(200_000, 80), "orders": n(1_500_000, 300),
            "events": n(1_000_000, 1_000), "users": n(15_000, 20),
            "documents": n(50_000, 60), "embeddings": n(20_000, 40)}


def generate(out: str, scale: float) -> None:
    """Write every table for ``scale`` into the directory ``out``."""
    rng = np.random.default_rng(DATA_SEED)
    c = _counts(scale)
    os.makedirs(out, exist_ok=True)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    nc = c["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": list(rng.choice(SEGMENTS, nc))})

    ns = c["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})

    npart = c["part"]
    pk = np.arange(npart, dtype=np.int64)
    price = np.round(900.0 + (pk % 20_001) / 10.0, 2)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                             rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": list(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(price)})

    no = c["orders"]
    odate = rng.integers(_days(datetime(1995, 1, 1)),
                         _days(datetime(2001, 8, 2)), no)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": list(rng.choice(["O", "F", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, no), 2)),
        "o_orderdate": _ts_from_days(odate),
        "o_orderpriority": list(rng.choice(PRIORITIES, no))})

    lines = rng.integers(1, 8, no)
    l_order = np.repeat(np.arange(no, dtype=np.int64), lines)
    nl = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(nl) - starts + 1).astype(np.int32)
    l_part = rng.integers(0, npart, nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(l_line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[l_part], 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": list(rng.choice(["R", "A", "N"], nl)),
        "l_linestatus": list(rng.choice(["O", "F"], nl)),
        "l_shipdate": _ts_from_days(odate[l_order] + rng.integers(1, 122, nl))})

    ne = c["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + t0
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, c["users"], ne, dtype=np.int64)),
        "event_type": list(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.uniform(0, 200, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    _write(out, "documents", _documents(rng, c["documents"]))
    _write(out, "embeddings", _embeddings(rng, c["embeddings"]))


def _documents(rng: np.random.Generator, nd: int) -> dict:
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.06:
            # planted near duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(12, 80))))
        texts.append(" ".join(words))
    return {"doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": texts,
            "lang": list(rng.choice(LANGS, nd, p=LANG_P)),
            "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
            "n_chars": pa.array(np.array([len(t) for t in texts],
                                         dtype=np.int64))}


def _embeddings(rng: np.random.Generator, nv: int) -> dict:
    centers = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(scale=1.2, size=(nv, EMB_DIM))
    dup = rng.random(nv) < 0.05
    dup[0] = False
    src = np.array([rng.integers(0, i) if i else 0 for i in range(nv)])
    vec[dup] = vec[src[dup]] + rng.normal(scale=0.05, size=(dup.sum(), EMB_DIM))
    label[dup] = label[src[dup]]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    return {"vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32))}


def ensure(root: str, scale: float) -> str:
    """Return the directory holding the tables for ``scale``, generating
    them first if no complete copy exists (safe under concurrent runs)."""
    os.makedirs(root, exist_ok=True)
    out = os.path.join(root, f"sf{scale:g}")
    marker = os.path.join(out, f".complete-v{VERSION}")
    if os.path.exists(marker):
        return out
    with open(os.path.join(root, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(marker):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            generate(tmp, scale)
            open(os.path.join(tmp, f".complete-v{VERSION}"), "w").close()
            shutil.rmtree(out, ignore_errors=True)
            os.rename(tmp, out)
    return out
