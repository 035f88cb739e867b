"""The benchmark's workloads: seeded request streams and their checks.

Each workload owns its inputs (``load``, one timed set-up), the exact
answers it checks against (``prepare_truth``, untimed) and an endless
iterator of *passes*.
A pass is one round of the workload's mix; the runner measures whole
passes, so every run sees the same mix whatever its seed.  The seed only
picks keys, parameters and query vectors; the order of ops in a pass is
fixed.

An :class:`Op` is one request in three steps, which the runner times and
traces separately: ``build`` (parse and translate, or constructing the
pipeline's DataFrame), ``consume`` (execution, up to the last row) and
``check`` (untimed: compares the rows with the exact answer and returns
``(ok, recall)``).
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable, Iterator, List, Optional, Tuple

import numpy as np

from . import datagen, oracles

Check = Callable[[Optional[list]], Tuple[bool, float]]


class Op:
    def __init__(self, template: str, kind: str, build: Callable,
                 check: Check, consume: Callable = None,
                 params: dict = None) -> None:
        self.template = template
        self.params = params or {}  # the seeded inputs of this request
        self.kind = kind            # "read" or "write"
        self.build = build
        self.consume = consume or (lambda df: df.collect())
        self.check = check
        self.groups: List[str] = []   # extra Spark job groups (streams)


def _close(a, b, tol: float = 1e-6) -> bool:
    if a is None or b is None:
        return a is b
    return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))


def _rows_recall(got: list, want: list) -> float:
    """Share of expected rows present in ``got`` (multiset, tuples)."""
    if not want:
        return 1.0
    pool = list(got)
    hit = 0
    for w in want:
        for i, g in enumerate(pool):
            if len(g) == len(w) and all(
                    _close(x, y) if isinstance(y, float) else x == y
                    for x, y in zip(g, w)):
                hit += 1
                del pool[i]
                break
    return hit / len(want)


def _exact(want: list) -> Check:
    """Exact match of an ordered result (floats to 1e-6)."""
    def check(rows):
        got = [tuple(r) for r in rows]
        rec = _rows_recall(got, want)
        return (len(got) == len(want) and rec == 1.0), rec
    return check


def _set_check(want: set) -> Check:
    def check(rows):
        got = {tuple(r) for r in rows}
        rec = len(got & want) / len(want) if want else 1.0
        return got == want and len(rows) == len(got), rec
    return check


def _zipf(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class Workload:
    name = ""
    scale: float            # TPC-H scale factor of the inputs
    graph_load_s = 0.0      # time of the last tpch_graph() call in load()

    def __init__(self, spark, data_root: str, seed: int, work_dir: str,
                 scale: float = None):
        self.spark = spark
        self.data_dir = datagen.ensure(data_root, scale or self.scale)
        self.work_dir = work_dir
        self.rng = np.random.default_rng(seed)

    def load(self) -> None:
        raise NotImplementedError

    def prepare_truth(self) -> None:
        raise NotImplementedError

    def passes(self) -> Iterator[List[Op]]:
        raise NotImplementedError

    def _load_graph(self) -> None:
        from neo4j_spark.api import CypherSession
        from neo4j_spark.sources.tpch import tpch_graph

        t0 = time.perf_counter()
        self.graph = tpch_graph(self.spark, self.data_dir)
        self.graph_load_s = time.perf_counter() - t0
        self.session = CypherSession(self.spark, self.graph)


# -- graph_rw -----------------------------------------------------------------

RW_READS = {
    "point": "MATCH (c:Customer {custkey: $k}) "
             "RETURN c.name AS name, c.acctbal AS acctbal",
    "placed": "MATCH (c:Customer {custkey: $k})-[:PLACED]->(o:Order) "
              "RETURN count(o) AS n",
    "top_parts": "MATCH (c:Customer {custkey: $k})-[:PLACED]->(:Order)"
                 "-[l:CONTAINS]->(p:Part) "
                 "RETURN p.partkey AS pk, sum(l.quantity) AS q "
                 "ORDER BY q DESC, pk LIMIT 5",
    "nation_suppliers": "MATCH (c:Customer {custkey: $k})-[:FROM_NATION]->"
                        "(n:Nation)<-[:FROM_NATION]-(s:Supplier) "
                        "RETURN count(s) AS n",
    # reads back what create_rated wrote, so a stale read after a write fails
    "rated": "MATCH (c:Customer {custkey: $k})-[r:RATED]->(p:Part) "
             "RETURN count(r) AS n, sum(r.score) AS s",
}
RW_WRITES = {
    "set_acctbal": "MATCH (c:Customer {custkey: $k}) "
                   "SET c.acctbal = c.acctbal + $d RETURN c.acctbal AS acctbal",
    "create_rated": "MATCH (c:Customer {custkey: $k}), (p:Part {partkey: $p}) "
                    "CREATE (c)-[:RATED {score: $s}]->(p) RETURN count(*) AS n",
}


class GraphRW(Workload):
    """One long-lived CypherSession; short parameterised reads mixed with
    writes that accumulate in the same graph for the whole run."""

    scale = 0.1
    # hard cap on writes applied to the run's graph:
    # sequential writes to one graph slow down super-linearly past ~16
    MAX_WRITES = 16
    # reads and writes alternate in a fixed pattern: reads slow down as
    # writes pile up, so a seeded order would move read latency between runs
    PASS = ("point", "set_acctbal", "placed", "create_rated", "top_parts",
            "set_acctbal", "nation_suppliers", "create_rated", "rated")

    def load(self) -> None:
        self._load_graph()
        self.writes_issued = 0
        self.acct_delta = {}      # custkey -> [delta, ...] applied so far
        self.rated = {}           # custkey -> [score, ...]

    def prepare_truth(self) -> None:
        self.truth = oracles.rw_truth(self.data_dir)
        n = len(self.truth["base"])
        keys = sorted(self.truth["base"])
        # Zipf-skewed keys over a seeded rank order: hot keys are written
        # and then read back
        self._key_of_rank = np.array(keys)[self.rng.permutation(n)]
        self._p = _zipf(n)

    def _key(self) -> int:
        return int(self._key_of_rank[self.rng.choice(len(self._p), p=self._p)])

    def _acctbal(self, k: int) -> float:
        bal = self.truth["base"][k][1]
        for d in self.acct_delta.get(k, []):
            bal = bal + d
        return bal

    def _cypher(self, template: str, params: dict, check: Check,
                kind: str = "read", on_done: Callable = None) -> Op:
        text = RW_READS.get(template) or RW_WRITES[template]

        def checked(rows):
            res = check(rows)
            if on_done is not None:
                on_done()
            return res
        return Op(template, kind, lambda: self.session.run(text, params),
                  checked, params=params)

    def read(self, template: str, k: int) -> Op:
        t = self.truth
        if template == "point":
            # evaluated at check time: includes every write before it
            def check(rows):
                return _exact([(t["base"][k][0], self._acctbal(k))])(rows)
        elif template == "placed":
            check = _exact([(t["placed"].get(k, 0),)])
        elif template == "top_parts":
            check = _exact(list(t["top5"].get(k, [])))
        elif template == "nation_suppliers":
            check = _exact([(t["natsup"][k],)])
        else:
            def check(rows):
                sc = self.rated.get(k, [])
                got = [tuple(r) for r in rows]
                ok = (len(got) == 1 and got[0][0] == len(sc)
                      and (got[0][1] or 0) == sum(sc))
                return ok, 1.0 if ok else 0.0
        return self._cypher(template, {"k": k}, check)

    def write(self, template: str, k: int) -> Op:
        self.writes_issued += 1
        if template == "set_acctbal":
            d = round(float(self.rng.uniform(-100, 100)), 2)

            def check(rows):
                return _exact([(self._acctbal(k) + d,)])(rows)

            def done():
                self.acct_delta.setdefault(k, []).append(d)
            return self._cypher(template, {"k": k, "d": d}, check,
                                "write", done)
        p = int(self.rng.integers(0, self.truth["n_parts"]))
        s = int(self.rng.integers(1, 6))

        def done():
            self.rated.setdefault(k, []).append(s)
        return self._cypher(template, {"k": k, "p": p, "s": s},
                            _exact([(1,)]), "write", done)

    def passes(self) -> Iterator[List[Op]]:
        while True:
            yield [self.read(t, self._key()) if t in RW_READS
                   else self.write(t, self._key()) for t in self.PASS
                   if t in RW_READS or self.writes_issued < self.MAX_WRITES]


# -- graph_iterative ----------------------------------------------------------

ITER_QUERIES = {
    "shortest_path_op": ("operators.paths",
                         "MATCH (c:Customer) "
                         "MATCH p = shortestPath((c)-[*..3]->(r:Region)) "
                         "RETURN length(p) AS l, count(*) AS n"),
    "var_expand_fixed": ("operators.paths",
                         "MATCH (c:Customer)-[*2..2]->(r:Region) "
                         "RETURN count(*) AS n"),
    "qpp_fixed": ("operators.paths",
                  "MATCH (c:Customer) ((x)-[:FROM_NATION|IN_REGION]->(y)){2,2} "
                  "(r:Region) RETURN count(*) AS n"),
    "pagerank": ("operators.algorithms",
                 "CALL algo.pageRank(2, 0.85) YIELD node, rank "
                 "RETURN count(*) AS n, round(sum(rank), 3) AS s"),
    "connected_components": ("operators.algorithms",
                             "CALL algo.connectedComponents() "
                             "YIELD node, comp "
                             "RETURN count(DISTINCT comp) AS n_components"),
}


class GraphIterative(Workload):
    """Driver-loop path and graph-algorithm operators over a small graph,
    where per-level Spark job overhead dominates."""

    scale = 0.01

    def load(self) -> None:
        self._load_graph()

    def prepare_truth(self) -> None:
        self.truth = oracles.iterative_truth(self.data_dir)

    def op(self, template: str) -> Op:
        text = ITER_QUERIES[template][1]
        t = self.truth
        nc = t["n_customers"]
        if template == "shortest_path_op":
            check = _exact([(2, nc)])
        elif template in ("var_expand_fixed", "qpp_fixed"):
            check = _exact([(nc,)])
        elif template == "pagerank":
            check = _exact([(t["n_nodes"], 1.0)])
        else:
            check = _exact([(t["n_components"],)])
        return Op(template, "read", lambda: self.session.run(text), check)

    def passes(self) -> Iterator[List[Op]]:
        # fixed order: the first call of each operator pays its own JIT
        # warm-up, and a seeded order would move that cost between runs
        while True:
            yield [self.op(t) for t in ITER_QUERIES]


# -- ml_pipeline --------------------------------------------------------------

ML_OPS = {
    "distinct_count_by": "ml.dedup",
    "minhash_dedup_pairs": "ml.dedup",
    "simhash_dup_pairs": "ml.dedup",
    "ngram_jaccard_pairs": "ml.dedup",
    "embedding_cosine_pairs": "ml.similarity",
    "knn_join_bruteforce": "ml.similarity",
    "knn_lsh": "ml.similarity",
    "document_stats": "ml.text",
    "tumbling_counts": "streaming.windows",
    "session_windows": "streaming.windows",
    "stream_near_dup": "streaming.neardup",
}
COSINE_THRESHOLD = 0.6
SIMHASH_MAX_HAMMING = 3


class MLPipeline(Workload):
    """The LLM-pipeline operators (dedup, similarity, text quality) and the
    streaming windows / near-dup probe, each building its DataFrame from
    the parquet inputs and consuming it fresh."""

    name = "ml_pipeline"
    scale = 0.01

    def load(self) -> None:
        from neo4j_spark.streaming.neardup import build_near_dup_index

        self._params = {}
        self.index = os.path.join(self.work_dir, "neardup_index")
        docs = self._docs()
        self.doc_schema = docs.schema
        build_near_dup_index(docs, self.index)
        self._streams = 0

    def _docs(self):
        return self.spark.read.parquet(f"{self.data_dir}/documents.parquet")

    def _emb(self):
        return self.spark.read.parquet(f"{self.data_dir}/embeddings.parquet")

    def prepare_truth(self) -> None:
        t = oracles.ml_truth(self.data_dir)
        cos = np.round(oracles.cosine_matrix(t["vecs"], t["vecs"]), 6)
        ids = t["vec_ids"]
        i, j = np.nonzero(np.triu(cos >= COSINE_THRESHOLD - 1e-6, k=1))
        t["cosine"] = {(int(ids[a]), int(ids[b])): float(cos[a, b])
                       for a, b in zip(i, j)}
        t["stream"] = {(a, b) for a, b in t["minhash"]} | {
            (b, a) for a, b in t["minhash"]}
        self.truth = t

    def op(self, template: str) -> Op:
        build, check, *rest = getattr(self, "_" + template)()
        op = Op(template, "read", build, check, *rest[:1],
                params=self._params)
        if len(rest) > 1:
            op.groups = rest[1]
        self._params = {}
        return op

    def passes(self) -> Iterator[List[Op]]:
        while True:    # fixed order, as in GraphIterative.passes
            yield [self.op(t) for t in ML_OPS]

    # -- ops: each returns (build, check[, consume]) --------------------------
    def _distinct_count_by(self):
        from neo4j_spark.ml.dedup import distinct_count_by

        want = set(self.truth["distinct"].items())
        return (lambda: distinct_count_by(self._docs(), ["lang"], "text"),
                _set_check(want))

    def _pairs_check(self, want, exact: bool) -> Check:
        """Every reported pair must be a true pair; an exact operator must
        also report all of them, an approximate one reports its recall."""
        def check(rows):
            got = {(r[0], r[1]) for r in rows}
            rec = len(got & set(want)) / len(want) if want else 1.0
            ok = got <= set(want) and len(got) == len(rows)
            return (ok and rec == 1.0) if exact else ok, rec
        return check

    def _minhash_dedup_pairs(self):
        from neo4j_spark.ml.dedup import minhash_dedup_pairs

        return (lambda: minhash_dedup_pairs(self._docs(), "doc_id", "text",
                                            threshold=0.8),
                self._pairs_check(self.truth["minhash"], exact=False))

    def _simhash_dup_pairs(self):
        from pyspark.sql import functions as F
        from neo4j_spark.ml.dedup import simhash, simhash_dup_pairs

        if "simhash" not in self.truth:
            # exact hamming over the engine's own fingerprints: the check
            # grades the banding, not the fingerprint.  Computed on first
            # use, once the session is warm, outside every timed region.
            fps = self._docs().select("doc_id", simhash(F.col("text")))
            self.truth["simhash"] = oracles.simhash_pairs(
                [tuple(r) for r in fps.collect()], SIMHASH_MAX_HAMMING)
        return (lambda: simhash_dup_pairs(self._docs(),
                                          max_hamming=SIMHASH_MAX_HAMMING),
                self._pairs_check(self.truth["simhash"], exact=False))

    def _ngram_jaccard_pairs(self):
        from neo4j_spark.ml.dedup import ngram_jaccard_pairs

        want = self.truth["ngram"]
        pairs = self._pairs_check(want, exact=True)

        def check(rows):
            ok, rec = pairs(rows)
            return ok and all(_close(r[2], want[(r[0], r[1])])
                              for r in rows), rec
        return (lambda: ngram_jaccard_pairs(self._docs(), "doc_id", "text",
                                            "lang", threshold=0.5), check)

    def _embedding_cosine_pairs(self):
        from neo4j_spark.ml.similarity import embedding_cosine_pairs

        want = self.truth["cosine"]
        sure = {p for p, c in want.items() if c >= COSINE_THRESHOLD + 1e-6}

        def check(rows):
            got = {(r[0], r[1]): r[2] for r in rows}
            # pairs within rounding of the threshold may go either way
            ok = (sure <= set(got) and set(got) <= set(want)
                  and all(_close(c, want[p], 1e-5) for p, c in got.items()))
            return ok, len(set(got) & sure) / len(sure) if sure else 1.0
        return (lambda: embedding_cosine_pairs(
            self._emb(), threshold=COSINE_THRESHOLD), check)

    def _knn_join_bruteforce(self):
        from pyspark.sql import functions as F
        from neo4j_spark.ml.similarity import knn_join_bruteforce

        t = self.truth
        qids = sorted(int(v) for v in self.rng.choice(t["vec_ids"], 5,
                                                      replace=False))
        pos = {int(v): i for i, v in enumerate(t["vec_ids"])}
        want = {q: oracles.top_k(t, t["vecs"][pos[q]], 3, set(qids))
                for q in qids}
        self._params = {"query_ids": qids}

        def check(rows):
            got = {}
            for r in rows:
                got.setdefault(r[0], []).append((r[1], r[2]))
            ok = set(got) == set(qids)
            hit = 0
            for q, exp in want.items():
                g = sorted(got.get(q, []), key=lambda x: (-x[1], x[0]))
                kth = exp[-1][1]
                # a neighbour tied with the k-th exact score is as good
                ok = ok and len(g) == len(exp) and all(
                    _close(s, dict(exp).get(i, kth), 1e-5) for i, s in g)
                hit += len({i for i, _ in g} & {i for i, _ in exp})
            return ok, hit / sum(len(e) for e in want.values())

        def build():
            emb = self._emb()
            inq = F.col("vec_id").isin(qids)
            return knn_join_bruteforce(emb.filter(inq), emb.filter(~inq), k=3)
        return build, check

    def _knn_lsh(self):
        from neo4j_spark.ml.similarity import knn_lsh

        t = self.truth
        base = t["vecs"][int(self.rng.integers(0, len(t["vec_ids"])))]
        q = base + self.rng.normal(scale=0.02, size=base.shape)
        want = {i for i, _ in oracles.top_k(t, q, 10)}
        qv = [float(x) for x in q]
        self._params = {"query_vec": qv}

        def check(rows):
            got = {r[0] for r in rows}
            return len(rows) <= 10, len(got & want) / len(want)
        return (lambda: knn_lsh(self._emb(), qv, k=10, n_planes=7,
                                n_tables=8, probe_hamming=2), check)

    def _document_stats(self):
        from neo4j_spark.ml.text import document_stats

        want = set(self.truth["n_tokens"].items())
        return (lambda: document_stats(self._docs()).select("doc_id",
                                                            "n_tokens"),
                _set_check(want))

    def _tumbling_counts(self):
        from neo4j_spark.streaming.windows import load_events, tumbling_counts

        return (lambda: tumbling_counts(load_events(self.spark,
                                                    self.data_dir)),
                _set_check(self.truth["tumbling"]))

    def _session_windows(self):
        from neo4j_spark.streaming.windows import load_events, session_windows

        return (lambda: session_windows(load_events(self.spark,
                                                    self.data_dir)),
                _set_check(self.truth["sessions"]))

    def _stream_near_dup(self):
        """One availableNow drain of the documents through the stream-static
        LSH probe against the index built at set-up."""
        from neo4j_spark.streaming.neardup import stream_near_dup

        self._streams += 1
        name = f"perfbench_neardup_{self._streams}"
        ck = os.path.join(self.work_dir, f"ck_{self._streams}")
        want = self.truth["stream"]
        op_groups: List[str] = []

        def build():
            stream = (self.spark.readStream.schema(self.doc_schema)
                      .option("maxFilesPerTrigger", 1)
                      .option("pathGlobFilter", "documents.parquet")
                      .parquet(self.data_dir))
            return stream_near_dup(stream, self.spark, self.index,
                                   threshold=0.8)

        def consume(df):
            q = (df.writeStream.format("memory").queryName(name)
                 .outputMode("append").option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            op_groups.append(str(q.runId))
            try:
                q.awaitTermination()
                return self.spark.table(name).collect()
            finally:
                self.spark.catalog.dropTempView(name)
                shutil.rmtree(ck, ignore_errors=True)

        def check(rows):
            got = {(r[0], r[1]) for r in rows}
            rec = len(got & want) / len(want) if want else 1.0
            return got <= want and rec >= 0.9, rec
        return build, check, consume, op_groups


class Graph(Workload):
    """The Cypher workload: the request stream of :class:`GraphRW` on the
    sf0.1 graph followed, in each pass, by the iterative operators of
    :class:`GraphIterative` on the sf0.01 graph.  Each part keeps its own
    graph and session; the ml_pipeline workload is their no-change
    control, and they are its."""

    name = "graph"

    def __init__(self, spark, data_root: str, seed: int, work_dir: str,
                 scale: float = None):
        self.parts = [cls(spark, data_root, seed, work_dir, scale)
                      for cls in (GraphRW, GraphIterative)]

    def load(self) -> None:
        for p in self.parts:
            p.load()
        self.graph_load_s = sum(p.graph_load_s for p in self.parts)

    def prepare_truth(self) -> None:
        for p in self.parts:
            p.prepare_truth()

    def passes(self) -> Iterator[List[Op]]:
        streams = [p.passes() for p in self.parts]
        while True:
            yield [op for it in streams for op in next(it)]


WORKLOADS = {w.name: w for w in (Graph, MLPipeline)}
