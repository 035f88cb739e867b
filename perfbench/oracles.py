"""Exact answers the benchmark checks the engine against.

Everything here is computed outside the timed region, once per run, from
the same parquet files the engine reads: DuckDB for the relational
answers (the SQL is adapted from the repo's ``oracle_sql()`` entries to
the seeded parameters), numpy / plain Python for the set-similarity and
nearest-neighbour ground truth.
"""

from __future__ import annotations

import re
from collections import defaultdict
from itertools import combinations
from typing import Dict, Iterable, List, Set, Tuple

import duckdb
import numpy as np

from .datagen import TABLES



def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# -- graph_rw -----------------------------------------------------------------

def rw_truth(sf_dir: str) -> dict:
    con = connect(sf_dir)
    base = {k: (name, bal) for k, name, bal in con.execute(
        "SELECT c_custkey, c_name, c_acctbal FROM customer").fetchall()}
    placed = dict(con.execute(
        "SELECT o_custkey, count(*) FROM orders GROUP BY 1").fetchall())
    natsup = dict(con.execute(
        "SELECT c_custkey, count(s_suppkey) FROM customer "
        "LEFT JOIN supplier ON s_nationkey = c_nationkey "
        "GROUP BY 1").fetchall())
    top5: Dict[int, list] = defaultdict(list)
    for ck, pk, q in con.execute(
            "WITH s AS (SELECT o_custkey AS ck, l_partkey AS pk, "
            "sum(l_quantity) AS q FROM orders "
            "JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY ck "
            "ORDER BY q DESC, pk) AS rn FROM s) "
            "SELECT ck, pk, q FROM r WHERE rn <= 5 ORDER BY ck, rn"
    ).fetchall():
        top5[ck].append((pk, q))
    nparts = con.execute("SELECT count(*) FROM part").fetchone()[0]
    return {"base": base, "placed": placed, "natsup": natsup,
            "top5": top5, "n_parts": nparts}


# -- graph_iterative ----------------------------------------------------------

def iterative_truth(sf_dir: str) -> dict:
    con = connect(sf_dir)
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    counts = {t: one(f"SELECT count(*) FROM {t}") for t in TABLES
              if t not in ("lineitem", "events")}
    n_nodes = sum(counts.values())
    # connected components over the TPC-H relationships; the corpus tables
    # are isolated nodes, one component each
    tag = 10 ** 12
    edges = con.execute(
        f"SELECT 2*{tag} + n_nationkey, 1*{tag} + n_regionkey FROM nation "
        f"UNION ALL SELECT 3*{tag} + c_custkey, 2*{tag} + c_nationkey "
        f"FROM customer "
        f"UNION ALL SELECT 4*{tag} + s_suppkey, 2*{tag} + s_nationkey "
        f"FROM supplier "
        f"UNION ALL SELECT 3*{tag} + o_custkey, 6*{tag} + o_orderkey "
        f"FROM orders "
        f"UNION ALL SELECT 6*{tag} + l_orderkey, 5*{tag} + l_partkey "
        f"FROM lineitem "
        f"UNION ALL SELECT 6*{tag} + l_orderkey, 4*{tag} + l_suppkey "
        f"FROM lineitem").fetchnumpy()
    ids = con.execute(
        f"SELECT 1*{tag} + r_regionkey FROM region "
        f"UNION ALL SELECT 2*{tag} + n_nationkey FROM nation "
        f"UNION ALL SELECT 3*{tag} + c_custkey FROM customer "
        f"UNION ALL SELECT 4*{tag} + s_suppkey FROM supplier "
        f"UNION ALL SELECT 5*{tag} + p_partkey FROM part "
        f"UNION ALL SELECT 6*{tag} + o_orderkey FROM orders").fetchnumpy()
    ids = next(iter(ids.values()))
    a, b = (np.searchsorted(np.sort(ids), v) for v in edges.values())
    graph_components = _components(len(ids), a, b)
    return {"n_customers": counts["customer"], "n_nodes": n_nodes,
            "n_components": graph_components + counts["documents"]
            + counts["embeddings"]}


def _components(n: int, a: np.ndarray, b: np.ndarray) -> int:
    parent = np.arange(n)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[rx] = ry
    return sum(1 for i in range(n) if find(i) == i)


# -- ml_pipeline --------------------------------------------------------------

def tokens(text: str) -> List[str]:
    return [t for t in re.split(r"[^0-9a-z']+", text.lower()) if t]


def shingle_set(text: str, k: int = 3) -> Set[str]:
    toks = tokens(text)
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard_pairs(sets: Dict[int, Set[str]], threshold: float,
                  groups: Dict[int, str] = None) -> Dict[Tuple[int, int], float]:
    """Exact {(a, b): jaccard} for a < b with jaccard >= threshold
    (optionally only within equal ``groups`` values), via an inverted
    index over shingles."""
    inter: Dict[Tuple[int, int], int] = defaultdict(int)
    index: Dict[str, List[int]] = defaultdict(list)
    for i in sorted(sets):
        for s in sets[i]:
            index[s].append(i)
    for ids in index.values():
        for a, b in combinations(ids, 2):
            if groups is None or groups[a] == groups[b]:
                inter[(a, b)] += 1
    out = {}
    for (a, b), n in inter.items():
        j = n / (len(sets[a]) + len(sets[b]) - n)
        if j >= threshold:
            out[(a, b)] = j
    return out


def ml_truth(sf_dir: str) -> dict:
    con = connect(sf_dir)
    docs = con.execute(
        "SELECT doc_id, text, lang FROM documents ORDER BY doc_id").fetchall()
    sets = {d: shingle_set(t) for d, t, _ in docs}
    emb = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
    vec_ids = np.array([v for v, _ in emb], dtype=np.int64)
    vecs = np.array([e for _, e in emb], dtype=np.float32).astype(np.float64)
    return {
        "n_tokens": {d: len(tokens(t)) for d, t, _ in docs},
        "distinct": dict(con.execute(
            "SELECT lang, count(DISTINCT text) FROM documents "
            "GROUP BY lang").fetchall()),
        "minhash": jaccard_pairs(sets, 0.8),
        "ngram": {k: round(v, 6) for k, v in jaccard_pairs(
            sets, 0.5, {d: lang for d, _, lang in docs}).items()},
        "vec_ids": vec_ids,
        "vecs": vecs,
        "tumbling": set(con.execute(
            "SELECT CAST(extract(epoch FROM date_trunc('hour', ts)) AS BIGINT),"
            " event_type, count(*), CAST(round(sum(value), 2) AS DOUBLE) "
            "FROM events GROUP BY 1, 2").fetchall()),
        "sessions": set(con.execute(
            "WITH m AS (SELECT user_id, ts, value, CASE WHEN ts - lag(ts) "
            "OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 10 MINUTE "
            "OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
            "THEN 1 ELSE 0 END AS new_s FROM events), "
            "s AS (SELECT user_id, ts, value, sum(new_s) OVER (PARTITION BY "
            "user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
            "SELECT user_id, CAST(floor(extract(epoch FROM min(ts))) AS BIGINT),"
            " count(*), CAST(round(sum(value), 2) AS DOUBLE) FROM s "
            "GROUP BY user_id, sid").fetchall()),
    }


def simhash_pairs(fingerprints: Iterable[Tuple[int, int]],
                  max_hamming: int) -> Set[Tuple[int, int]]:
    """Exact (a, b), a < b, with popcount(fp_a ^ fp_b) <= max_hamming."""
    rows = sorted(fingerprints)
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    fp = np.array([r[1] for r in rows], dtype=np.int64).view(np.uint64)
    out = set()
    for i in range(len(ids) - 1):
        x = fp[i] ^ fp[i + 1:]
        bits = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(1)
        for j in np.nonzero(bits <= max_hamming)[0]:
            out.add((int(ids[i]), int(ids[i + 1 + j])))
    return out


def cosine_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    na = np.linalg.norm(a, axis=1, keepdims=True)
    nb = np.linalg.norm(b, axis=1, keepdims=True)
    return (a @ b.T) / (na * nb.T)


def top_k(truth: dict, query: np.ndarray, k: int,
          exclude: Set[int] = frozenset()) -> List[Tuple[int, float]]:
    """Exact top-k (id, cosine) of ``query`` over the corpus, ties by id."""
    keep = np.array([v not in exclude for v in truth["vec_ids"]])
    ids, vecs = truth["vec_ids"][keep], truth["vecs"][keep]
    scores = np.round(cosine_matrix(query[None, :], vecs)[0], 6)
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]
