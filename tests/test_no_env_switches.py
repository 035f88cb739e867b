"""Each optimisation has one code path: the engine reads no environment
variable of its own that could select an alternate one.  Compare
variants by benchmarking two commits, not by toggling them in-process."""

import ast
import pathlib

import neo4j_spark

# spelled in two parts so a text search of the repo for the prefix only
# finds real reads
PREFIX = "NEO4J_" + "SPARK_"


def test_engine_reads_no_own_env_switch():
    root = pathlib.Path(neo4j_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Constant) and PREFIX in str(node.value):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not hits, f"{PREFIX}* switch in the engine: {hits}"
