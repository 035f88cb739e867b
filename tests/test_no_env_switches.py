"""Each optimisation has one code path: the engine reads no environment
variable or spark.conf key of its own that could select an alternate
one.  Compare variants by benchmarking two commits, not by toggling them
in-process."""

import ast
import pathlib

import neo4j_spark

# spelled in two parts so a text search of the repo for the prefix only
# finds real reads
PREFIX = "NEO4J_" + "SPARK_"

# the engine's spark.conf keys: safety caps and semantics modes, none of
# which selects an alternate plan for the same answer
CONF_KEYS = {
    "neo4j_spark.nfa.maxDepth",
    "neo4j_spark.nfa.maxFrontierPaths",
    "neo4j_spark.qpp.maxUnroll",
    "neo4j_spark.tx.maxBatches",
    "neo4j_spark.call.maxSequentialRows",
    "neo4j_spark.procedure.maxDistinctArgs",
    "neo4j_spark.fulltext.indexDir",
    "neo4j_spark.cypher.extensions",
}


def _engine_constants():
    root = pathlib.Path(neo4j_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Constant):
                yield f"{path.relative_to(root)}:{node.lineno}", node.value


def test_engine_reads_no_own_env_switch():
    hits = [where for where, v in _engine_constants() if PREFIX in str(v)]
    assert not hits, f"{PREFIX}* switch in the engine: {hits}"


def test_engine_conf_keys_are_caps_and_modes():
    keys = {v for _, v in _engine_constants()
            if isinstance(v, str) and v.startswith("neo4j_spark.")}
    assert keys == CONF_KEYS, (
        f"new: {sorted(keys - CONF_KEYS)}, gone: {sorted(CONF_KEYS - keys)}")
