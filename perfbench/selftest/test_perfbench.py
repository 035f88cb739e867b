"""Fast self-test of the benchmark at sf0.001.

    python3 -m pytest perfbench/selftest -q

Covers every workload's request generator, its correctness checks (they
accept the engine's answers and reject wrong or stale ones) and the metric
computation, and that the metric names match BENCHMARK.json.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import datagen, run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, GraphRW  # noqa: E402

SCALE = 0.001


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def spark():
    from neo4j_spark.session import get_spark

    s = get_spark("perfbench_selftest", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def tracer(spark):
    t = Tracer(True)
    t.install(spark)
    return t


def _digest(d: str) -> dict:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read())
            .hexdigest() for f in sorted(os.listdir(d))
            if f.endswith(".parquet")}


def test_generator_is_deterministic(tmp_path):
    datagen.generate(str(tmp_path / "a"), SCALE)
    datagen.generate(str(tmp_path / "b"), SCALE)
    a = _digest(str(tmp_path / "a"))
    assert set(a) == {f"{t}.parquet" for t in datagen.TABLES}
    assert a == _digest(str(tmp_path / "b"))


def _new(cls, spark, seed):
    return cls(spark, run.DATA, seed, run.WORK, scale=SCALE)


def _stream(cls, spark, seed, n_passes=1):
    wl = _new(cls, spark, seed)
    wl.prepare_truth()
    wl.load()
    passes = wl.passes()
    return [(op.template, repr(op.params))
            for _ in range(n_passes) for op in next(passes)]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_request_stream_is_seeded(name, spark):
    cls = WORKLOADS[name]
    first = _stream(cls, spark, 7)
    assert first == _stream(cls, spark, 7)
    assert first != _stream(cls, spark, 8)


def test_rw_keys_are_zipf_skewed(spark):
    wl = _new(GraphRW, spark, 3)
    wl.prepare_truth()
    keys = [wl._key() for _ in range(2000)]
    top = max(keys.count(k) for k in set(keys))
    assert top > 2000 / len(wl.truth["base"]) * 10


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_checks_and_metrics(name, spark, tracer):
    """A traced run: every answer passes its check, a wrong answer fails
    it, and the metric sets match BENCHMARK.json exactly."""
    wl = _new(WORKLOADS[name], spark, 5)
    wl.prepare_truth()
    wl.load()
    runner = run.Runner(spark, tracer, wl)
    records = run.measure(runner, 0.01, True, float("inf"))
    bad = [(r["template"], r["error"]) for r in records if not r["ok"]]
    assert not bad
    assert {r["template"] for r in records if r["traced"]} >= {
        op.template for op in next(wl.passes())}

    for op in next(wl.passes()):
        ok, recall = op.check([(-1, -1, -1.0)])
        assert not ok or recall < 1.0, op.template

    spec = _spec()
    e2e = run.end_to_end(records, [1.0, 2.0, 3.0])
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert all(v > 0 for v, _ in e2e.values())
    layers = run.per_layer(records, {k: (0.0, u) for k, u in (
        ("sources.tpch.graph_load_s", "s"), ("session.start_s", "s"),
        ("session.setup_wall_s", "s"),
        ("session.heap_used_mb", "MB"),
        ("session.leaked_rdds", "count"))})
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: u for k, (_, u) in layers.items()} == units


def test_stale_read_after_write_fails(spark):
    wl = _new(GraphRW, spark, 11)
    wl.prepare_truth()
    wl.load()
    k = wl._key()
    name, bal = wl.truth["base"][k]
    read = wl.read("point", k)
    assert read.check([(name, bal)])[0]
    wl.acct_delta[k] = [12.5]        # a write the engine has applied
    assert not read.check([(name, bal)])[0]
    assert read.check([(name, bal + 12.5)])[0]


def test_metric_helpers():
    assert run._median([3.0, 1.0, 2.0]) == 2.0
    recs = [{"template": "set_acctbal", "kind": "write", "ms": ms,
             "cpu_ms": 2 * ms, "traced": False, "raised": False,
             "recall": 1.0}
            for ms in (900, 100, 100, 100, 300, 300, 300, 300)]
    assert run.ops_per_s(recs) == pytest.approx(8 / 2.4)
    assert run.cpu_ms_per_op(recs) == pytest.approx(2 * 2400 / 8)
    assert run.write_growth(recs) == pytest.approx(3.0)
    e2e = run.end_to_end(recs, [2.0, 1.0, 9.0])
    assert e2e["setup_s"][0] == 2.0
