"""Round-9 optimization pins: min/max pre-aggregation through the
OPTIONAL/trailing count rewrites, the EXISTS/COUNT subquery rel-prop
WHERE pushdown, and key-prop elision over sharded endpoints.  Each test
guards a rewrite that would silently regress (results would stay correct
but the pruned scans/shuffles would re-grow)."""

import pytest

from neo4j_spark.api import cypher


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPreaggMinMax:
    """min/max over the pre-aggregated rel's OWN properties fold through
    the count pre-agg rewrites: per-source F.min/F.max on the rel scan,
    outer min/max of the per-source values (associative under any total
    order, so outer-row multiplicity cannot change the result)."""

    @staticmethod
    def _fired(spark, tpch_graph, q):
        """Translate q with a spy on the extras hook; returns whether the
        min/max pre-agg path fired."""
        from neo4j_spark.cypher import translate as TR

        orig = TR.Translator._preagg_extra_aggs
        hit = {"v": False}

        def spy(self, scan, sc, extras):
            r = orig(self, scan, sc, extras)
            if extras and r is not None:
                hit["v"] = True
            return r

        TR.Translator._preagg_extra_aggs = spy
        try:
            df = cypher(spark, q, tpch_graph)
        finally:
            TR.Translator._preagg_extra_aggs = orig
        return hit["v"], df

    def test_optional_plan_preaggregates_min(self, spark, tpch_graph):
        fired, df = self._fired(
            spark, tpch_graph,
            "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
            "RETURN o.orderkey AS ok, min(l.quantity) AS mn, "
            "count(l) AS n")
        assert fired
        plan = plan_of(df)
        # the fresh endpoint/part frame is elided and the lineitem scan
        # reads exactly the join key + the min/max prop
        assert "part.parquet" not in plan
        read = [l for l in plan.splitlines()
                if "lineitem" in l and "FileScan" in l]
        assert read and "l_quantity" in read[0]
        # no full-width lineitem columns cross
        assert "l_extendedprice" not in read[0]

    def test_trailing_plan_preaggregates_max(self, spark, tpch_graph):
        fired, df = self._fired(
            spark, tpch_graph,
            "MATCH (c:Customer)-[:PLACED]->(o:Order)"
            "-[l:CONTAINS]->(p) "
            "RETURN c.custkey AS ck, count(*) AS n, "
            "max(l.quantity) AS mx")
        assert fired
        plan = plan_of(df)
        read = [l for l in plan.splitlines()
                if "lineitem" in l and "FileScan" in l]
        assert read and "l_quantity" in read[0]
        assert "l_extendedprice" not in read[0]

    def test_results_match_unrewritten(self, spark, tpch_graph):
        from neo4j_spark.cypher import translate as TR

        queries = [
            "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
            "RETURN o.orderkey AS ok, min(l.quantity) AS mn, count(l) AS n "
            "ORDER BY ok LIMIT 25",
            "MATCH (p:Part) OPTIONAL MATCH (p)<-[l:CONTAINS]-(o:Order) "
            "RETURN p.partkey AS pk, max(l.extendedprice) AS mx "
            "ORDER BY pk LIMIT 25",
            "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p) "
            "RETURN c.custkey AS ck, min(l.shipdate) AS d, count(*) AS n "
            "ORDER BY ck LIMIT 25",
            # min over empty optional group must stay null
            "MATCH (r:Region) OPTIONAL MATCH (r)-[l:CONTAINS]->(q) "
            "RETURN r.name AS nm, min(l.quantity) AS mn ORDER BY nm",
        ]
        orig_o = TR.Translator._preagg_optional_count
        orig_t = TR.Translator._preagg_trailing_count
        try:
            for q in queries:
                on = sorted(map(tuple, cypher(spark, q, tpch_graph).collect()))
                TR.Translator._preagg_optional_count = \
                    lambda self, df, m, nxt: None
                TR.Translator._preagg_trailing_count = \
                    lambda self, df, m, nxt: None
                off = sorted(map(tuple, cypher(spark, q, tpch_graph).collect()))
                TR.Translator._preagg_optional_count = orig_o
                TR.Translator._preagg_trailing_count = orig_t
                assert on == off, q
        finally:
            TR.Translator._preagg_optional_count = orig_o
            TR.Translator._preagg_trailing_count = orig_t

    def test_bails_on_non_rel_or_expr_args(self, spark, tpch_graph):
        """Node-prop / expression / missing-prop min args must leave the
        generic lowering in place (the plan keeps the part scan join)."""
        for q in [
            # node prop: needs the part frame, not pre-aggregable
            "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
            "RETURN o.orderkey AS ok, min(p.retailprice) AS mn",
            # expression arg
            "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
            "RETURN o.orderkey AS ok, min(l.quantity + 1) AS mn",
            # missing prop: generic null semantics must win
            "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
            "RETURN o.orderkey AS ok, min(l.nosuchprop) AS mn",
        ]:
            fired, _ = self._fired(spark, tpch_graph, q)
            assert not fired, q

    def test_min_distinct_fires(self, spark, tpch_graph):
        # min(DISTINCT x) is value-identical to min(x): both admitted
        fired, _ = self._fired(
            spark, tpch_graph,
            "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
            "RETURN o.orderkey AS ok, min(DISTINCT l.quantity) AS mn")
        assert fired


class TestPatternSubRelPropWhere:
    """EXISTS{}/COUNT{} subqueries whose inner WHERE references only the
    rel's own properties keep the pre-aggregated fast path: the predicate
    compiles against the scan's rel struct and pushes into the parquet
    read instead of forcing the build-from-outer-rows lowering."""

    @staticmethod
    def _fired(spark, tpch_graph, q):
        from neo4j_spark.cypher.translate import Translator

        orig = Translator._preagg_pattern_sub
        hit = {"v": False}

        def spy(self, cur_df, parts, where):
            r = orig(self, cur_df, parts, where)
            if r is not None:
                hit["v"] = True
            return r

        Translator._preagg_pattern_sub = spy
        try:
            df = cypher(spark, q, tpch_graph)
        finally:
            Translator._preagg_pattern_sub = orig
        return hit["v"], df

    def test_rel_prop_where_fires_and_pushes(self, spark, tpch_graph):
        fired, df = self._fired(
            spark, tpch_graph,
            "MATCH (o:Order) RETURN o.orderkey AS k, "
            "COUNT { (o)-[l:CONTAINS]->() WHERE l.quantity > 25 } AS n")
        assert fired
        plan = plan_of(df)
        scans = [l for l in plan.splitlines()
                 if "lineitem" in l and "FileScan" in l]
        assert scans and "l_quantity" in scans[0]
        # the predicate reaches the scan's data filters
        assert "DataFilters: [" in scans[0]
        assert "l_quantity" in scans[0].split("DataFilters:")[1].split(
            "Format:")[0]

    def test_relpat_where_form_fires(self, spark, tpch_graph):
        fired, _ = self._fired(
            spark, tpch_graph,
            "MATCH (o:Order) RETURN o.orderkey AS k, "
            "COUNT { (o)-[l:CONTAINS WHERE l.quantity > 25]->() } AS n")
        assert fired

    def test_results_match_unrewritten(self, spark, tpch_graph):
        from neo4j_spark.cypher.translate import Translator

        queries = [
            "MATCH (o:Order) RETURN o.orderkey AS k, "
            "COUNT { (o)-[l:CONTAINS]->() WHERE l.quantity > 25 } AS n "
            "ORDER BY k LIMIT 25",
            "MATCH (o:Order) WHERE EXISTS { (o)-[l:CONTAINS]->(:Part) "
            "WHERE l.tax > 0.05 } RETURN count(*) AS n",
            # missing prop: predicate is null, matches nothing
            "MATCH (o:Order) RETURN o.orderkey AS k, "
            "COUNT { (o)-[l:CONTAINS]->() WHERE l.nosuch > 1 } AS n "
            "ORDER BY k LIMIT 25",
        ]
        orig = Translator._preagg_pattern_sub
        try:
            for q in queries:
                on = sorted(map(tuple, cypher(spark, q, tpch_graph).collect()))
                Translator._preagg_pattern_sub = \
                    lambda self, cur_df, parts, where: None
                off = sorted(map(tuple,
                                 cypher(spark, q, tpch_graph).collect()))
                Translator._preagg_pattern_sub = orig
                assert on == off, q
        finally:
            Translator._preagg_pattern_sub = orig

    def test_sharded_endpoint_label_fires(self, spark, tpch_graph):
        """A COUNT{} whose fresh endpoint pins ONE alternative of a
        sharded rel type's declared endpoint labels keeps the fast path:
        shard pruning guarantees the scan contains only that label."""
        fired, df = self._fired(
            spark, tpch_graph,
            "MATCH (n:Nation) RETURN n.name AS k, "
            "COUNT { (n)<-[:FROM_NATION]-(c:Customer) } AS n")
        assert fired
        plan = plan_of(df)
        # only the customer shard of FROM_NATION is read
        assert "customer.parquet" in plan
        assert "supplier.parquet" not in plan

    def test_bails_on_foreign_refs(self, spark, tpch_graph):
        for q in [
            # fresh node prop
            "MATCH (c:Customer) RETURN c.custkey AS k, "
            "COUNT { (c)-[:PLACED]->(o) WHERE o.orderkey > 100 } AS n",
            # outer var reference
            "MATCH (o:Order) RETURN o.orderkey AS k, "
            "COUNT { (o)-[l:CONTAINS]->() WHERE l.quantity > o.orderkey } "
            "AS n",
            # anonymous rel with a node-prop predicate
            "MATCH (o:Order) RETURN o.orderkey AS k, "
            "COUNT { (o)-[:CONTAINS]->(p) WHERE p.partkey > 1 } AS n",
        ]:
            fired, _ = self._fired(spark, tpch_graph, q)
            assert not fired, q


class TestSizePatternCompPreagg:
    """size([anchored single hop | error-free proj]) counts matches, so
    it routes through the COUNT{} pre-aggregation instead of the
    RollUpApply (distinct outer rows -> correlated match -> collect_list
    -> null-safe join back) — no list materialization, the exchange
    carries (id, count)."""

    def test_fires_and_drops_collect_list(self, spark, tpch_graph):
        df = cypher(spark,
                    "MATCH (r:Region) RETURN r.name AS region, "
                    "size([(n:Nation)-[:IN_REGION]->(r) | n.name]) AS n "
                    "ORDER BY region", tpch_graph)
        plan = plan_of(df)
        assert "collect_list" not in plan
        assert "SortMergeJoin" not in plan  # the eqNullSafe join-back

    def test_results_match_rollup(self, spark, tpch_graph):
        from neo4j_spark.cypher.translate import Translator

        q = ("MATCH (o:Order) RETURN o.orderkey AS k, "
             "size([(o)-[l:CONTAINS]->() WHERE l.quantity > 25 "
             "| l.linenumber]) AS n ORDER BY k LIMIT 25")
        orig = Translator._preagg_pattern_sub
        try:
            on = sorted(map(tuple, cypher(spark, q, tpch_graph).collect()))
            Translator._preagg_pattern_sub = \
                lambda self, cur_df, parts, where: None
            off = sorted(map(tuple, cypher(spark, q, tpch_graph).collect()))
        finally:
            Translator._preagg_pattern_sub = orig
        assert on == off

    def test_computed_projection_keeps_rollup(self, spark, tpch_graph):
        # arithmetic can raise under ANSI mode: the list must be
        # materialized so the error surfaces
        df = cypher(spark,
                    "MATCH (r:Region) RETURN r.name AS region, "
                    "size([(n:Nation)-[:IN_REGION]->(r) | n.nationkey + 1]) "
                    "AS n ORDER BY region", tpch_graph)
        assert "collect_list" in plan_of(df)

    def test_raw_list_keeps_rollup(self, spark, tpch_graph):
        df = cypher(spark,
                    "MATCH (r:Region) RETURN r.name AS region, "
                    "[(n:Nation)-[:IN_REGION]->(r) | n.name] AS names "
                    "ORDER BY region", tpch_graph)
        assert "collect_list" in plan_of(df)


class TestReadOnlyTxOverlap:
    """Read-only CALL {} IN TRANSACTIONS batches materialize from a
    thread pool (guide §2.6) — any schedule is legal because they commit
    nothing and cannot observe one another; statuses assemble in batch
    order so REPORT STATUS rows are byte-identical to the serial loop."""

    def test_rows_match_serial_loop(self, spark, tpch_graph):
        import concurrent.futures as cf

        q = ("UNWIND range(1, 4) AS b "
             "CALL { WITH b MATCH (c:Customer) "
             "WHERE c.custkey % 4 = b - 1 RETURN count(*) AS n } "
             "IN TRANSACTIONS OF 1 ROWS ON ERROR CONTINUE "
             "REPORT STATUS AS st "
             "RETURN b, n, st.committed AS ok ORDER BY b")
        real = cf.ThreadPoolExecutor

        class Serial(real):
            def __init__(self, max_workers=None, **kw):
                super().__init__(max_workers=1, **kw)

        over = [tuple(r) for r in
                cypher(spark, q, tpch_graph.copy()).collect()]
        cf.ThreadPoolExecutor = Serial
        try:
            ser = [tuple(r) for r in
                   cypher(spark, q, tpch_graph.copy()).collect()]
        finally:
            cf.ThreadPoolExecutor = real
        assert over == ser
        assert len(over) == 4 and all(r[2] for r in over)

    def test_failing_batch_reports_in_order(self, spark, tpch_graph):
        # batch 2 divides by zero; CONTINUE surfaces it as
        # committed=false in ITS row, the others commit — identical to
        # the serial loop's per-batch status assembly
        q = ("UNWIND [1, 0, 3] AS b "
             "CALL { WITH b RETURN 1 / b AS n } "
             "IN TRANSACTIONS OF 1 ROWS ON ERROR CONTINUE "
             "REPORT STATUS AS st "
             "RETURN b, n, st.committed AS ok, "
             "st.errorMessage IS NOT NULL AS has_err ORDER BY b")
        rows = sorted(tuple(r) for r in
                      cypher(spark, q, tpch_graph.copy()).collect())
        assert rows == [(0, None, False, True), (1, 1, True, False),
                        (3, 0, True, False)]

    def test_write_bodies_keep_the_serial_loop(self, spark, tpch_graph):
        # a write body must not take the overlap path (its writes force
        # eagerly against the shared frame dicts under snapshot/rollback)
        import concurrent.futures as cf

        calls = {"n": 0}
        real = cf.ThreadPoolExecutor

        class Spy(real):
            def __init__(self, *a, **kw):
                calls["n"] += 1
                super().__init__(*a, **kw)

        cf.ThreadPoolExecutor = Spy
        try:
            g2 = tpch_graph.copy()
            cypher(spark,
                   "UNWIND range(1, 4) AS i "
                   "CALL { WITH i CREATE (:TmpR9 {v: i}) } "
                   "IN TRANSACTIONS OF 2 ROWS ON ERROR CONTINUE "
                   "REPORT STATUS AS st RETURN i, st.committed AS ok",
                   g2).collect()
        finally:
            cf.ThreadPoolExecutor = real
        assert calls["n"] == 0


class TestShardedEndpointElision:
    """An unused/key-prop-only labelled endpoint of a SHARDED rel type
    (declared endpoint label is a tuple of alternatives, FROM_NATION src
    = Customer|Supplier) elides its node-frame join when the pattern
    pins one alternative: shard pruning guarantees the scan keeps only
    that label's shards (PropertyGraph.shard_endpoint_guarantee)."""

    def test_unused_endpoint_drops_node_join(self, spark, tpch_graph):
        df = cypher(spark,
                    "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
                    "RETURN n.name AS nm, count(*) AS n", tpch_graph)
        plan = plan_of(df)
        import re
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        # 2 scans: the customer rel shard + nation; no supplier shard,
        # no customer NODE-frame join (which would read more columns)
        assert len(scans) == 2, scans
        assert "supplier.parquet" not in plan
        assert plan.count("Join") <= 2  # one join (+AQE mention slack)

    def test_key_prop_elision_on_sharded_endpoint(self, spark, tpch_graph):
        df = cypher(spark,
                    "MATCH (x:Customer)-[:FROM_NATION]->(n:Nation) "
                    "RETURN n.name AS nm, count(DISTINCT x.custkey) AS n",
                    tpch_graph)
        plan = plan_of(df)
        import re
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        assert len(scans) == 2, scans  # rel shard + nation only
        assert "supplier.parquet" not in plan

    def test_results_match_unextended(self, spark, tpch_graph):
        from neo4j_spark.cypher import translate as TR

        orig = TR.Translator._implied_end_label

        def off(self, t, end_idx, pat_labels):
            meta = getattr(self.graph, "rel_endpoint_labels", {}) or {}
            g = meta.get(t)
            if g is not None and isinstance(g[end_idx], (tuple, list)):
                return None  # pre-r9 behavior: sharded ends never imply
            return orig(self, t, end_idx, pat_labels)

        queries = [
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "RETURN n.name AS nm, count(*) AS n ORDER BY nm",
            "MATCH (x:Customer)-[:FROM_NATION]->(n:Nation) "
            "RETURN n.name AS nm, count(DISTINCT x.custkey) AS n "
            "ORDER BY nm",
            "MATCH (s:Supplier)-[:FROM_NATION]->(n:Nation) "
            "RETURN n.name AS nm, max(s.suppkey) AS mx ORDER BY nm",
        ]
        try:
            for q in queries:
                on = sorted(map(tuple, cypher(spark, q, tpch_graph).collect()))
                TR.Translator._implied_end_label = off
                noff = sorted(map(tuple,
                                  cypher(spark, q, tpch_graph).collect()))
                TR.Translator._implied_end_label = orig
                assert on == noff, q
        finally:
            TR.Translator._implied_end_label = orig

    def test_idonly_connector_elides_node_frame(self, spark, tpch_graph):
        """A var used ONLY as a bare pattern endpoint across parts
        (q5's customer connector) binds as a {_id} struct from the rel
        scan's edge end — no node-frame join, later positions ExpandInto
        on the id."""
        df = cypher(spark,
                    "MATCH (c:Customer)-[:PLACED]->(o:Order), "
                    "(c)-[:FROM_NATION]->(n:Nation) "
                    "RETURN n.name AS nm, count(*) AS cnt ORDER BY nm",
                    tpch_graph)
        plan = plan_of(df)
        # customer appears once: the FROM_NATION rel shard; the PLACED
        # scan is orders-derived, the customer NODE frame is gone
        assert plan.count("customer.parquet") == 1

    def test_idonly_bails_on_prop_use_and_path(self, spark, tpch_graph):
        for q, n_customer in [
            # c.acctbal needs the node frame back
            ("MATCH (c:Customer)-[:PLACED]->(o:Order), "
             "(c)-[:FROM_NATION]->(n:Nation) "
             "RETURN n.name AS nm, count(c.acctbal) AS cnt", 2),
            # a path containing c needs the full struct
            ("MATCH (c:Customer)-[:PLACED]->(o:Order), "
             "p = (c)-[:FROM_NATION]->(n:Nation) "
             "RETURN n.name AS nm, count([x IN nodes(p) | x.name][0]) "
             "AS cnt", 2),
        ]:
            plan = plan_of(cypher(spark, q, tpch_graph))
            assert plan.count("customer.parquet") >= n_customer, q

    def test_mutation_voids_the_guarantee(self, spark, tpch_graph):
        """A write replacing the shard-union frame must void the
        guarantee: the same pattern keeps its node-frame join."""
        g2 = tpch_graph.copy()
        # simulate a write replacing the whole-type frame (the identity
        # guard _shard_pruning_ok keys on)
        g2.rel_frames["FROM_NATION"] = \
            g2.rel_frames["FROM_NATION"].filter("1=1")
        assert not g2.shard_endpoint_guarantee("FROM_NATION", 0, "Customer")
        df = cypher(spark,
                    "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
                    "RETURN n.name AS nm, count(*) AS n", g2)
        plan = plan_of(df)
        import re
        scans = re.findall(r"FileScan parquet", plan)
        assert len(scans) >= 3, plan  # node-frame join is back


class TestNormalizeBoundary:
    """normalize() is the engine's last Python UDF: literal shapes must
    constant-fold (no Python stage at all), and the column-arg fallback
    must cross the JVM boundary Arrow-batched, never row-at-a-time."""

    COMPOSED = "\u00c5"        # U+00C5 LATIN CAPITAL LETTER A WITH RING
    DECOMPOSED = "A\u030a"     # A + U+030A COMBINING RING ABOVE

    def test_literal_folds_to_no_python_stage(self, spark):
        from neo4j_spark.graph import PropertyGraph
        g = PropertyGraph({}, {})
        df = cypher(spark,
                    "RETURN normalize('" + self.DECOMPOSED + "') AS a, "
                    "normalize('" + self.COMPOSED + "', NFD) AS b, "
                    "normalize(null) AS c", g)
        plan = plan_of(df)
        assert "EvalPython" not in plan, plan
        r = df.collect()[0]
        assert r.a == self.COMPOSED and r.b == self.DECOMPOSED \
            and r.c is None

    def test_column_arg_is_arrow_batched(self, spark):
        from neo4j_spark.graph import PropertyGraph
        g = PropertyGraph({}, {})
        df = cypher(spark,
                    "UNWIND ['" + self.DECOMPOSED + "', 'x', null] AS s "
                    "RETURN normalize(s) AS n, s IS NORMALIZED AS p", g)
        plan = plan_of(df)
        assert "ArrowEvalPython" in plan, plan
        assert "BatchEvalPython" not in plan, plan
        got = [(r.n, r.p) for r in df.collect()]
        assert got == [(self.COMPOSED, False), ("x", True), (None, None)]


class TestAnyLabelScanNoDedup:
    """MATCH (n:A|B) must not pay a per-id dedup: node shards are
    disjoint by the storage invariant (one shard per node, secondary
    labels force the full-union fallback via _extra_labels), so the
    union scan is already duplicate-free.  The old dropDuplicates
    compiled to two SortAggregates and an extra exchange of the scan."""

    def test_plan_has_no_dedup_aggregate(self, spark, tpch_graph):
        df = cypher(spark,
                    "MATCH (n:Customer|Supplier) RETURN count(*) AS n",
                    tpch_graph)
        plan = plan_of(df)
        assert "SortAggregate" not in plan, plan
        assert plan.count("Exchange") == 1, plan  # the count's own

    def test_multilabel_nodes_stay_unique(self, spark):
        from neo4j_spark.graph import PropertyGraph
        g = PropertyGraph({}, {})
        cypher(spark, "CREATE (:A:B {x: 1}) CREATE (:B {x: 2})",
               g).collect()
        got = sorted(r.x for r in cypher(
            spark, "MATCH (n:A|B) RETURN n.x AS x", g).collect())
        assert got == [1, 2]  # the A:B node once, not per matching label

    def test_fixture_builder_registers_secondary_labels(self, spark):
        from neo4j_spark.graph import graph_from_frames
        g = graph_from_frames(
            spark, [{"id": 1, "labels": ["A", "B"]},
                    {"id": 2, "labels": ["B"]}], [])
        assert cypher(spark, "MATCH (n:B) RETURN count(*) AS c",
                      g).collect()[0].c == 2
        got = sorted(r.i for r in cypher(
            spark, "MATCH (n:A|B) RETURN id(n) AS i", g).collect())
        assert got == [1, 2]


class TestFulltextSingleStatsPass:
    """The fulltext scan computes N/avgdl/per-leaf-df in ONE global
    aggregate: a separate stats pass would tokenize the whole corpus a
    third time, and each global frame costs its own broadcast join."""

    def test_one_broadcast_of_global_stats(self, spark, tpch_graph):
        df = cypher(spark,
                    "CALL db.index.fulltext.queryNodes('name', 'widget') "
                    "YIELD node, score RETURN count(*) AS n", tpch_graph)
        plan = plan_of(df)
        # one 1-row global frame joined back, not stats + dfreq separately
        assert plan.count("BroadcastNestedLoopJoin") == 1, plan


class TestTfIdfSingleTokenizePass:
    """tf-idf derives per-term document frequency from a count window
    over the tf rows instead of a separate term aggregate joined back —
    the join shape re-tokenized the whole corpus for each side."""

    def test_one_tokenizing_scan_no_term_join(self, spark):
        import re
        from neo4j_spark.ml.text import tf_idf_top_terms
        df = spark.createDataFrame(
            [(1, "a b a"), (2, "a c")], ["doc_id", "text"])
        out = tf_idf_top_terms(df, k=2)
        plan = plan_of(out)
        assert "Join" not in plan.replace("BroadcastNestedLoopJoin", "", 1), plan
        got = sorted(map(tuple, out.collect()))
        # df(a)=2, df(b)=df(c)=1, N=2: a scores ln(1)=0, b/c ln(2)
        import math
        ln2 = round(math.log(2.0), 6)
        assert got == [(1, "a", 0.0, 2), (1, "b", ln2, 1),
                       (2, "a", 0.0, 2), (2, "c", ln2, 1)]


class TestEmbeddingCosinePairsVectorized:
    """The all-pairs cosine dedup scores through the Arrow-batched numpy
    kernel (the one the exact k-NN join is graded with) instead of an
    interpreted per-row HOF fold — measured 5x on the quadratic pair
    stream, result-identical at every test SF."""

    def test_arrow_kernel_in_plan(self, spark):
        from neo4j_spark.ml.similarity import embedding_cosine_pairs
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.1]), (3, [0.0, 1.0])],
            ["vec_id", "embedding"])
        out = embedding_cosine_pairs(df, threshold=0.9)
        plan = plan_of(out)
        assert "ArrowEvalPython" in plan, plan
        assert "BatchEvalPython" not in plan, plan
        got = [(r.id_a, r.id_b) for r in out.collect()]
        assert got == [(1, 2)]
