"""Pre-parser (EXPLAIN / PROFILE / CYPHER options header,
ExecutionEngine.scala:75), structured parameters (Input operator LP:2389),
and LOAD CSV linenumber()/file() (LoadCSVPipe.scala:43)."""

import pytest

from neo4j_spark.api import CypherSession, cypher, preparse


CSV = "file:///root/repo/tests/fixtures/people.csv"


class TestPreparse:
    def test_strip_modes(self):
        assert preparse("EXPLAIN RETURN 1")[0] == "EXPLAIN"
        assert preparse("PROFILE RETURN 1")[0] == "PROFILE"
        mode, opts, body = preparse(
            "CYPHER planner=cost runtime=slotted MATCH (n) RETURN n")
        assert mode is None
        assert opts == {"planner": "cost", "runtime": "slotted"}
        assert body.startswith("MATCH")

    def test_explain_returns_columns_no_rows(self, spark, chain_graph):
        # ExplainAcceptance: EXPLAIN returns the query's result columns
        # with zero rows (the plan is metadata, not rows)
        df = cypher(spark, "EXPLAIN MATCH (n:A) RETURN count(*) AS c",
                    chain_graph)
        assert df.columns == ["c"]
        assert df.collect() == []

    def test_explain_has_no_side_effects(self, spark):
        from neo4j_spark.graph import PropertyGraph

        g = PropertyGraph({}, {})
        cypher(spark, "EXPLAIN CREATE (a)", g).collect()
        assert sum(v.count() for v in g.node_frames.values()) == 0
        # ... including a trailing unit subquery (ExplainAcceptance)
        cypher(spark, "CREATE (:A)", g).collect()
        cypher(spark, "EXPLAIN MATCH (n) CALL { CREATE (a) }", g).collect()
        assert sum(v.count() for v in g.node_frames.values()) == 1

    def test_explain_plan_text(self, spark, chain_graph):
        from neo4j_spark.api import explain_plan

        text = explain_plan(
            spark, "MATCH (n:A) RETURN count(*) AS c", chain_graph)
        assert "Physical Plan" in text

    def test_profile_returns_operator_stats(self, spark, chain_graph):
        # PROFILE executes the query and returns one row per physical
        # operator with its runtime numOutputRows (ProfilerStatistics
        # parity at the granularity Spark exposes)
        # avoid the count-store shortcut so a real scan executes
        df = cypher(spark,
                    "PROFILE MATCH (n) WHERE n.x >= 1 "
                    "RETURN n.x AS x", chain_graph)
        rows_ = df.collect()
        assert [f.name for f in df.schema.fields] == [
            "step", "operator", "rows", "metrics"]
        assert len(rows_) >= 2
        # a scan operator appears and reports its runtime row count
        scans = [r for r in rows_ if "Scan" in r["operator"]]
        assert scans and any((r["rows"] or 0) > 0 for r in scans)


@pytest.mark.parametrize("q", [
    "RETURN 1 AS x;",
    "EXPLAIN MATCH (r:Region) RETURN count(*) AS n",
    "CYPHER runtime=slotted MATCH (r:Region) RETURN count(*) AS n",
    "SHOW INDEXES",
])
def test_session_run_matches_cypher(spark, tpch_graph, q):
    # CypherSession.run is cypher() plus a per-text AST cache: the
    # pre-parser, schema commands and EXPLAIN go through the same path
    def rows(df):
        return sorted(map(str, df.collect()))

    session = CypherSession(spark, tpch_graph)
    expected = rows(cypher(spark, q, tpch_graph))
    assert rows(session.run(q)) == expected
    assert rows(session.run(q)) == expected  # served from the AST cache


class TestStructuredParams:
    def test_unwind_list_of_maps(self, spark, chain_graph):
        df = cypher(spark,
                    "UNWIND $rows AS row RETURN row.a AS a ORDER BY a",
                    chain_graph, params={"rows": [{"a": 2}, {"a": 1}]})
        assert [r["a"] for r in df.collect()] == [1, 2]

    def test_map_param_access(self, spark, chain_graph):
        df = cypher(spark, "RETURN $m.a AS a, $m.b AS b", chain_graph,
                    params={"m": {"a": 1, "b": "x"}})
        assert [tuple(r) for r in df.collect()] == [(1, "x")]

    def test_nested_list_param(self, spark, chain_graph):
        df = cypher(spark, "RETURN size($xs) AS n, $xs[0][1] AS v",
                    chain_graph, params={"xs": [[1, 2], [3]]})
        assert [tuple(r) for r in df.collect()] == [(2, 2)]


class TestLoadCsvFunctions:
    def test_linenumber(self, spark, chain_graph):
        df = cypher(spark,
                    f"LOAD CSV WITH HEADERS FROM '{CSV}' AS row "
                    "RETURN linenumber() AS ln, row.name AS name "
                    "ORDER BY ln", chain_graph)
        rows = [tuple(r) for r in df.collect()]
        # header is line 1; first data row is line 2
        assert rows[0] == (2, "alice") and rows[-1] == (5, "dave")

    def test_file(self, spark, chain_graph):
        df = cypher(spark,
                    f"LOAD CSV WITH HEADERS FROM '{CSV}' AS row "
                    "RETURN count(DISTINCT file()) AS f", chain_graph)
        assert df.collect()[0]["f"] == 1


class TestLoadCsvFieldTerminator:
    def test_fieldterminator(self, spark, chain_graph):
        df = cypher(spark,
                    "LOAD CSV WITH HEADERS FROM "
                    "'file:///root/repo/tests/fixtures/pipe.csv' AS row "
                    "FIELDTERMINATOR '|' "
                    "RETURN row.name AS n ORDER BY n", chain_graph)
        assert [r.n for r in df.collect()] == ["piper", "quinn"]


class TestShortestPathExpression:
    def test_length_of_shortestpath_value(self, spark, chain_graph):
        df = cypher(spark,
                    "MATCH (a:A), (c:C) "
                    "RETURN length(shortestPath((a)-[:R*]->(c))) AS l",
                    chain_graph)
        assert [r.l for r in df.collect()] == [2]

    def test_disconnected_pair_is_null(self, spark, chain_graph):
        df = cypher(spark,
                    "MATCH (c:C), (a:A) "
                    "RETURN length(shortestPath((c)-[:R*]->(a))) AS l",
                    chain_graph)
        assert [r.l for r in df.collect()] == [None]

    def test_nodes_of_shortestpath_value(self, spark, chain_graph):
        df = cypher(spark,
                    "MATCH (a:A), (c:C) "
                    "RETURN [n IN nodes(shortestPath((a)-[:R*]->(c))) | n.x]"
                    " AS xs", chain_graph)
        assert [r.xs for r in df.collect()] == [[1, 2, 3]]
