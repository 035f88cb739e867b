"""Equivalence probe for the EXISTS{}/COUNT{} pattern-subquery
pre-aggregation (_preagg_pattern_sub): 29 shapes (15 firing, 14 bail),
each compared against the generic lowering with the rewrite
monkeypatched off.  Usage: python tools/probe_subpreagg.py [sf_dir]"""
import sys
sys.path.insert(0, ".")
from neo4j_spark.session import get_spark
from neo4j_spark.sources.tpch import tpch_graph
from neo4j_spark.api import cypher
from neo4j_spark.cypher.translate import Translator

spark = get_spark("probe_subpreagg", cpus=32)
spark.sparkContext.setLogLevel("ERROR")
sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
g = tpch_graph(spark, sf)

QUERIES = [
 # --- should fire: COUNT{} anchored single hop ---
 ("count_fire_basic",
  "MATCH (c:Customer) RETURN c.custkey AS k, COUNT { (c)-[:PLACED]->() } AS n"),
 ("count_fire_label_implied",
  "MATCH (c:Customer) RETURN c.custkey AS k, COUNT { (c)-[:PLACED]->(:Order) } AS n"),
 ("count_fire_reverse",
  "MATCH (o:Order) RETURN o.orderkey AS k, COUNT { ()-[:PLACED]->(o) } AS n"),
 ("count_fire_incoming",
  "MATCH (o:Order) RETURN o.orderkey AS k, COUNT { (o)<-[:PLACED]-() } AS n"),
 ("count_fire_undirected",
  "MATCH (n:Nation) RETURN n.name AS k, COUNT { (n)-[:FROM_NATION]-() } AS n"),
 ("count_fire_untyped",
  "MATCH (n:Nation) RETURN n.name AS k, COUNT { (n)-[]->() } AS n"),
 ("count_fire_in_where",
  "MATCH (c:Customer) WHERE COUNT { (c)-[:PLACED]->() } > 2 "
  "RETURN count(*) AS n"),
 ("count_fire_named_fresh",
  "MATCH (c:Customer) RETURN c.custkey AS k, COUNT { (c)-[:PLACED]->(o) } AS n"),
 ("count_fire_named_rel",
  "MATCH (c:Customer) RETURN c.custkey AS k, COUNT { (c)-[r:PLACED]->() } AS n"),
 # --- should fire: EXISTS variants ---
 ("exists_fire_basic",
  "MATCH (c:Customer) WHERE EXISTS { (c)-[:PLACED]->() } RETURN count(*) AS n"),
 ("exists_fire_patternpred",
  "MATCH (c:Customer) WHERE (c)-[:PLACED]->(:Order) RETURN count(*) AS n"),
 ("exists_fire_not",
  "MATCH (c:Customer) WHERE NOT EXISTS { (c)-[:PLACED]->(:Order) } "
  "RETURN count(*) AS n"),
 ("exists_fire_or",
  "MATCH (c:Customer) WHERE c.acctbal < 0 OR (c)-[:PLACED]->(:Order) "
  "RETURN count(*) AS n"),
 ("exists_fire_return_pos",
  "MATCH (n:Nation) RETURN n.name AS k, EXISTS { (n)-[:FROM_NATION]-() } AS e"),
 # --- must bail: any inner WHERE, even one on the rel's own props ---
 ("bail_where_rel_prop",
  "MATCH (o:Order) RETURN o.orderkey AS k, "
  "COUNT { (o)-[l:CONTAINS]->() WHERE l.quantity > 25 } AS n"),
 ("bail_where_in_relpat",
  "MATCH (o:Order) RETURN o.orderkey AS k, "
  "COUNT { (o)-[l:CONTAINS WHERE l.quantity > 25]->() } AS n"),
 ("bail_exists_where_rel_prop",
  "MATCH (o:Order) WHERE EXISTS { (o)-[l:CONTAINS]->(:Part) "
  "WHERE l.tax > 0.05 } RETURN count(*) AS n"),
 ("bail_where_rel_fn",
  "MATCH (o:Order) RETURN o.orderkey AS k, "
  "COUNT { (o)-[l:CONTAINS]->() WHERE l.shipdate IS NOT NULL "
  "AND type(l) = 'CONTAINS' } AS n"),
 ("bail_where_missing_prop",
  "MATCH (o:Order) RETURN o.orderkey AS k, "
  "COUNT { (o)-[l:CONTAINS]->() WHERE l.nosuch > 1 } AS n"),
 # --- must bail (inner WHERE / props / two-hop / both-bound / var-length / wrong label) ---
 ("bail_inner_where_node_prop",
  "MATCH (c:Customer) RETURN c.custkey AS k, "
  "COUNT { (c)-[:PLACED]->(o) WHERE o.orderkey > 100 } AS n"),
 ("bail_inner_where_outer_ref",
  "MATCH (o:Order) RETURN o.orderkey AS k, "
  "COUNT { (o)-[l:CONTAINS]->() WHERE l.quantity > o.orderkey } AS n"),
 ("bail_inner_where_anon_rel",
  "MATCH (o:Order) RETURN o.orderkey AS k, "
  "COUNT { (o)-[:CONTAINS]->(p) WHERE p.partkey > 1 } AS n"),
 ("bail_props",
  "MATCH (c:Customer) RETURN c.custkey AS k, "
  "COUNT { (c)-[:PLACED]->(o:Order {orderpriority: '1-URGENT'}) } AS n"),
 ("bail_two_hop",
  "MATCH (c:Customer) RETURN c.custkey AS k, "
  "COUNT { (c)-[:PLACED]->()-[:CONTAINS]->() } AS n"),
 ("bail_both_bound",
  "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WITH c, n LIMIT 20 "
  "RETURN c.custkey AS k, COUNT { (c)-[:PLACED]->()<-[:SUPPLIED_BY]-() } AS n"),
 ("bail_var_length",
  "MATCH (n:Nation) RETURN n.name AS k, COUNT { (n)-[:IN_REGION*1..2]->() } AS n"),
 ("bail_anchor_label",
  "MATCH (c:Customer) RETURN c.custkey AS k, COUNT { (c:Customer)-[:PLACED]->() } AS n"),
 # sharded endpoint pinned to one alternative: fires as of r9
 # (shard pruning guarantees the scan keeps only Customer-src shards)
 ("count_fire_sharded_label",
  "MATCH (n:Nation) RETURN n.name AS k, COUNT { (n)<-[:FROM_NATION]-(c:Customer) } AS n"),
 ("bail_cycle",
  "MATCH (c:Customer) RETURN c.custkey AS k, COUNT { (c)-[:PLACED]->(c) } AS n"),
]

def rows(q):
    df = cypher(spark, q, g)
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

orig = Translator._preagg_pattern_sub
fail = 0
fired = {}
for name, q in QUERIES:
    calls = {"hit": 0}
    def spy(self, cur_df, parts, where):
        r = orig(self, cur_df, parts, where)
        if r is not None:
            calls["hit"] += 1
        return r
    Translator._preagg_pattern_sub = spy
    on = rows(q)
    Translator._preagg_pattern_sub = lambda self, cur_df, parts, where: None
    off = rows(q)
    Translator._preagg_pattern_sub = orig
    want_fire = name.startswith(("count_fire", "exists_fire"))
    ok_eq = on == off
    ok_fire = (calls["hit"] > 0) == want_fire
    fired[name] = calls["hit"]
    status = "OK" if ok_eq and ok_fire else "FAIL"
    if status == "FAIL":
        fail += 1
    print(f"{status} {name}: rows_equal={ok_eq} fired={calls['hit']} "
          f"want_fire={want_fire} ({len(on)} rows)", flush=True)
print("FAILURES:", fail)
sys.exit(1 if fail else 0)
