"""Equivalence probe for the OPTIONAL MATCH count() pre-aggregation
rewrite (_preagg_optional_count): run shapes that should fire and shapes
that must bail, with the rewrite ON vs OFF, and compare sorted rows."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo4j_spark.api import cypher
from neo4j_spark.cypher import translate as TR
from neo4j_spark.session import get_spark
from neo4j_spark.sources.tpch import tpch_graph

QUERIES = [
    # --- should fire ---
    ("optional_expand",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "RETURN c.custkey AS custkey, count(o) AS n_orders"),
    ("left_outer_hash_join",
     "MATCH (o:Order) OPTIONAL MATCH (c:Customer)-[:PLACED]->(o) "
     "RETURN count(c) AS n"),
    ("count_rel_var",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[r:PLACED]->(o:Order) "
     "RETURN c.custkey AS ck, count(r) AS nr ORDER BY ck LIMIT 20"),
    ("unlabelled_dst",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(x) "
     "RETURN c.custkey AS ck, count(x) AS n"),
    ("untyped_rel",
     "MATCH (n:Nation) OPTIONAL MATCH (n)-[]->(x) "
     "RETURN n.name AS nm, count(x) AS n ORDER BY nm"),
    ("both_dir",
     "MATCH (n:Nation) OPTIONAL MATCH (n)-[:FROM_NATION]-(x) "
     "RETURN n.name AS nm, count(x) AS n ORDER BY nm"),
    ("with_clause",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "WITH c, count(o) AS n WHERE n > 10 "
     "RETURN c.custkey AS ck, n ORDER BY ck"),
    ("order_by_count",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "RETURN c.custkey AS ck, count(o) AS n ORDER BY count(o) DESC, ck "
     "LIMIT 10"),
    ("two_counts",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[r:PLACED]->(o:Order) "
     "RETURN c.custkey AS ck, count(o) AS a, count(r) AS b "
     "ORDER BY ck LIMIT 20"),
    ("in_direction",
     "MATCH (o:Order) OPTIONAL MATCH (o)<-[:PLACED]-(c:Customer) "
     "RETURN o.orderkey AS ok, count(c) AS n ORDER BY ok LIMIT 20"),
    ("null_source",
     "MATCH (r:Region) OPTIONAL MATCH (r)-[:NOPE]->(q) "
     "WITH q OPTIONAL MATCH (q)-[:PLACED]->(o:Order) "
     "RETURN count(o) AS n"),
    # --- inner trailing-count rewrite: should fire ---
    ("multi_hop_chain",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p:Part) "
     "WHERE c.mktsegment = 'AUTOMOBILE' RETURN count(*) AS n"),
    ("trailing_grouped",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p:Part) "
     "RETURN c.custkey AS ck, count(*) AS n ORDER BY ck LIMIT 20"),
    ("trailing_count_var",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p) "
     "RETURN c.custkey AS ck, count(p) AS n ORDER BY ck LIMIT 20"),
    ("trailing_conn_used",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p) "
     "RETURN o.orderkey AS ok, count(p) AS n ORDER BY ok LIMIT 20"),
    ("trailing_anon_conn",
     "MATCH (n:Nation)<-[:FROM_NATION]-()-[:PLACED]->(o) "
     "RETURN n.name AS nm, count(o) AS n ORDER BY nm"),
    ("trailing_three_hops",
     "MATCH (n:Nation)<-[:FROM_NATION]-(c:Customer)-[:PLACED]->(o:Order)"
     "-[:CONTAINS]->(p) RETURN n.name AS nm, count(*) AS cnt "
     "ORDER BY nm"),
    ("trailing_where_mid",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p) "
     "WHERE o.totalprice > 100000 AND c.acctbal > 0 "
     "RETURN count(*) AS n"),
    # --- min/max over the rel's own props: any aggregate other than
    #     count() makes both rewrites bail ---
    ("bail_minmax_optional_rel_prop",
     "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
     "RETURN o.orderkey AS ok, min(l.quantity) AS mn, count(l) AS n "
     "ORDER BY ok LIMIT 20"),
    ("bail_minmax_optional_alone",
     "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
     "RETURN o.orderkey AS ok, max(l.extendedprice) AS mx "
     "ORDER BY ok LIMIT 20"),
    ("bail_minmax_optional_unmatched",
     "MATCH (p:Part) OPTIONAL MATCH (p)<-[l:CONTAINS]-(o:Order) "
     "RETURN p.partkey AS pk, min(l.quantity) AS mn "
     "ORDER BY pk LIMIT 20"),
    ("bail_minmax_optional_global",
     "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p) "
     "RETURN min(l.quantity) AS mn, max(l.tax) AS mx, count(l) AS n"),
    ("bail_minmax_trailing_with_count",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p) "
     "RETURN c.custkey AS ck, count(*) AS n, max(l.quantity) AS mx "
     "ORDER BY ck LIMIT 20"),
    ("bail_minmax_trailing_date",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p) "
     "RETURN c.custkey AS ck, min(l.shipdate) AS d ORDER BY ck LIMIT 20"),
    ("bail_minmax_distinct",
     "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
     "RETURN o.orderkey AS ok, min(DISTINCT l.quantity) AS mn "
     "ORDER BY ok LIMIT 20"),
    # --- min/max shapes that must bail (still equal) ---
    ("bail_minmax_node_prop",
     "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
     "RETURN o.orderkey AS ok, min(p.retailprice) AS mn "
     "ORDER BY ok LIMIT 20"),
    ("bail_minmax_expr_arg",
     "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
     "RETURN o.orderkey AS ok, min(l.quantity + 1) AS mn "
     "ORDER BY ok LIMIT 20"),
    ("bail_minmax_missing_prop",
     "MATCH (o:Order) OPTIONAL MATCH (o)-[l:CONTAINS]->(p:Part) "
     "RETURN o.orderkey AS ok, min(l.nosuchprop) AS mn "
     "ORDER BY ok LIMIT 20"),
    # --- inner trailing-count: must bail ---
    ("bail_trailing_where_on_p",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
     "WHERE p.retailprice > 1000 RETURN count(*) AS n"),
    ("bail_trailing_single_hop",
     "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN count(*) AS n"),
    ("bail_trailing_other_agg",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p) "
     "RETURN c.custkey AS ck, count(*) AS n, sum(o.totalprice) AS s "
     "ORDER BY ck LIMIT 10"),
    ("bail_trailing_p_grouped",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
     "RETURN p.name AS pn, count(*) AS n ORDER BY pn LIMIT 10"),
    # --- must bail (still must be equal, trivially) ---
    ("bail_where",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "WHERE o.totalprice > 100000 RETURN c.custkey AS ck, count(o) AS n"),
    ("bail_count_star",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "RETURN c.custkey AS ck, count(*) AS n"),
    ("bail_distinct",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "RETURN c.custkey AS ck, count(DISTINCT o) AS n"),
    ("bail_prop_use",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "RETURN c.custkey AS ck, count(o.orderkey) AS n"),
    ("bail_collect",
     "MATCH (n:Nation) OPTIONAL MATCH (c:Customer)-[:FROM_NATION]->(n) "
     "RETURN n.name AS nm, count(c) AS a, collect(n.name)[0] AS b"),
    ("bail_var_used",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "RETURN c.custkey AS ck, count(o) AS n, min(o.totalprice) AS m"),
    ("bail_nonagg",
     "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
     "WITH c, o RETURN count(o) AS n"),
]


def rows_of(df):
    return sorted([tuple(r) for r in df.collect()])


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("probe_preagg",
                      cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    graph = tpch_graph(spark, sf_dir)

    orig_o = TR.Translator._preagg_optional_count
    orig_t = TR.Translator._preagg_trailing_count
    fails = 0
    fired = []
    for name, q in QUERIES:
        # detect whether either rewrite fires
        calls = {"hit": False}

        def spy_o(self, df, mm, nxt, _o=orig_o):
            r = _o(self, df, mm, nxt)
            if r is not None:
                calls["hit"] = True
            return r

        def spy_t(self, df, mm, nxt, _o=orig_t):
            r = _o(self, df, mm, nxt)
            if r is not None:
                calls["hit"] = True
            return r

        TR.Translator._preagg_optional_count = spy_o
        TR.Translator._preagg_trailing_count = spy_t
        on = rows_of(cypher(spark, q, graph))
        schema_on = cypher(spark, q, graph).schema
        TR.Translator._preagg_optional_count = \
            lambda self, df, mm, nxt: None
        TR.Translator._preagg_trailing_count = \
            lambda self, df, mm, nxt: None
        off = rows_of(cypher(spark, q, graph))
        schema_off = cypher(spark, q, graph).schema
        TR.Translator._preagg_optional_count = orig_o
        TR.Translator._preagg_trailing_count = orig_t
        ok = on == off and schema_on == schema_off
        status = "OK " if ok else "FAIL"
        if not ok:
            fails += 1
            print(f"{status} {name}: on={on[:5]}... off={off[:5]}...")
            if schema_on != schema_off:
                print(f"  schema on={schema_on}\n  schema off={schema_off}")
        else:
            print(f"{status} {name} fired={calls['hit']} rows={len(on)}")
        if calls["hit"]:
            fired.append(name)
    print(f"\nfired: {fired}")
    bail = [n for n, _ in QUERIES if n.startswith("bail_")]
    wrong_fire = [n for n in fired if n in bail]
    print("wrongly fired on bail cases:", wrong_fire)
    print("FAILS:", fails)
    sys.exit(1 if fails or wrong_fire else 0)


if __name__ == "__main__":
    main()
