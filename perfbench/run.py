"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The first run generates the input
tables under ``perfbench/.data`` (fixed generator seed); scratch files go
to ``perfbench/.work``.  A single client thread issues requests in a
closed loop against ``local[<cpu count>]``.

``--trace 0`` measures one pass of the workload's mix and prints the
end-to-end metrics: ``setup_s`` (CPU time of a set-up, median of three),
``cpu_ms_per_op`` and ``recall_min``.
``--trace 1`` makes two passes, alternating untraced and traced requests,
and prints the per-layer metrics plus the tracing overhead; spans are
written to ``perfbench/.work/spans-<workload>-<seed>.jsonl``.
See perfbench/README.md for what each metric means and should move.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.trace import (Tracer, cached_rdds, catalyst_phases,  # noqa: E402
                             covered_ms, spark_work)
from perfbench.workloads import ITER_QUERIES, ML_OPS, WORKLOADS  # noqa: E402

WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, ".data")
SETUP_REPS = 3
# stop starting passes / ops this long after process start, so a run ends
# well inside its 180 s limit even when the program gets much slower
PASS_DEADLINE_S = 110
OP_DEADLINE_S = 140
WATCHDOG_S = 175


def _env() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    Spark JVM and its Python workers; reaped children count through their
    parent's cutime/cstime).  Time a vCPU was stolen by the host is not in
    it."""
    kids: dict = {}
    ticks: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(st[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in st[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, spark, tracer, workload) -> None:
        self.spark = spark
        self.tracer = tracer
        self.wl = workload
        self.n = 0

    def execute(self, op, traced: bool = False) -> dict:
        self.n += 1
        rid = f"r{self.n}"
        sc = self.spark.sparkContext
        tr = self.tracer
        if traced:
            tr.rid, tr.active = rid, True
            sc.setJobGroup(rid, op.template)
            rdds0 = cached_rdds(self.spark)
        df = rows = err = None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                with tr.span("build") as build:
                    df = op.build()
                with tr.span("execute") as execute:
                    rows = op.consume(df)
        except Exception as e:  # a failed request is counted, not fatal
            err = f"{type(e).__name__}: {str(e)[:300]}"
        ms = (time.perf_counter() - t0) * 1000.0
        cpu_ms = (tree_cpu_s() - cpu0) * 1000.0
        tr.active = False
        rec = {"template": op.template, "kind": op.kind, "ms": ms,
               "cpu_ms": cpu_ms,
               "traced": traced, "error": err,
               "raised": err is not None}
        if err is None:
            try:
                rec["ok"], rec["recall"] = op.check(rows)
            except Exception as e:
                rec["ok"], rec["recall"] = False, 0.0
                rec["error"] = f"check: {type(e).__name__}: {e}"
        else:
            rec["ok"], rec["recall"] = False, 0.0
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            phases = catalyst_phases(df) if df is not None else {}
            translate = next((s for s in tr.spans if s["rid"] == rid
                              and s["name"] == "cypher.translate"), None)
            for name, (s, e) in phases.items():
                parent = (translate or build) if name == "analysis" else execute
                tr.add_phase(f"catalyst.{name}", parent, s, e)
            rec["phases_ms"] = {k: e - s for k, (s, e) in phases.items()}
            rec["spans"] = tr.self_times(rid)
            rec["work"] = spark_work(self.spark, [rid] + list(op.groups))
            rec["rdds_delta"] = cached_rdds(self.spark) - rdds0
        return rec


def measure(runner, seconds: float, trace: bool, t_start: float) -> list:
    """Whole passes until ``seconds`` of request time have been spent.
    Traced runs make two passes and alternate untraced and traced requests,
    flipping which side gets the even ops in the second pass, so that each
    template runs once on each side."""
    records, busy = [], 0.0
    passes = runner.wl.passes()
    i = 0
    while True:
        for k, op in enumerate(next(passes)):
            if time.perf_counter() - t_start > OP_DEADLINE_S:
                break
            rec = runner.execute(op, trace and (k + i) % 2 == 1)
            records.append(rec)
            busy += rec["ms"] / 1000.0
        i += 1
        if time.perf_counter() - t_start > PASS_DEADLINE_S:
            break
        if busy >= seconds and i >= (2 if trace else 1):
            break
    return records


def ops_per_s(records: list) -> float:
    done = [r for r in records if not r["raised"]]
    busy = sum(r["ms"] for r in records) / 1000.0
    return len(done) / busy if busy else 0.0


def cpu_ms_per_op(records: list) -> float:
    """CPU time of the whole process tree spent inside requests, per
    completed request."""
    done = [r for r in records if not r["raised"]]
    cpu = sum(r["cpu_ms"] for r in records)
    return cpu / len(done) if done else 0.0


def end_to_end(records: list, setup: list) -> dict:
    return {
        "setup_s": (_median(setup), "s"),
        "cpu_ms_per_op": (cpu_ms_per_op(records), "ms"),
        "recall_min": (min(r["recall"] for r in records), "ratio"),
    }


def write_growth(records: list) -> float:
    """Median latency of the last quarter of writes over the first quarter,
    leaving out each write template's first (cold) call."""
    seen, ms = set(), []
    for r in records:
        if r["kind"] == "write":
            if r["template"] in seen:
                ms.append(r["ms"])
            seen.add(r["template"])
    q = max(len(ms) // 4, 1)
    return _median(ms[-q:]) / _median(ms[:q]) if len(ms) > 1 else 0.0


def per_layer(records: list, extra: dict) -> dict:
    traced = [r for r in records if r["traced"]]
    n = max(len(traced), 1)

    def mean(f):
        return sum(f(r) for r in traced) / n

    def span(r, name, key="ms"):
        return r["spans"].get(name, {}).get(key, 0.0)

    out = {
        "cypher.parser.ms": (mean(lambda r: span(r, "cypher.parser")), "ms"),
        "cypher.translate.ms": (mean(lambda r: span(r, "cypher.translate")),
                                "ms"),
        "cypher.translate.py4j_calls": (
            mean(lambda r: span(r, "cypher.translate", "py4j")), "count"),
    }
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = (
            mean(lambda r: r["phases_ms"].get(ph, 0.0)), "ms")
    out["execute.ms"] = (mean(lambda r: span(r, "execute")), "ms")
    for k, unit in (("jobs", "count"), ("stages", "count"),
                    ("task_time_ms", "ms"), ("shuffle_write_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("failed_tasks", "count")):
        out[f"execute.{k}"] = (mean(lambda r: r["work"][k]), unit)
    out["execute.driver_gap_ms"] = (mean(
        lambda r: max(r["ms"] - covered_ms(r["work"]["intervals"]), 0.0)),
        "ms")

    def by_template(t):
        return [r for r in traced if r["template"] == t]

    for t, (layer, _) in ITER_QUERIES.items():
        rs = by_template(t)
        out[f"{layer}.{t}.jobs"] = (_median([r["work"]["jobs"] for r in rs]),
                                    "count")
        out[f"{layer}.{t}.execute_ms"] = (_median([r["ms"] for r in rs]), "ms")
    writes = [r for r in traced if r["kind"] == "write"]
    out["operators.writes.ms"] = (_median([r["ms"] for r in writes]), "ms")
    out["operators.writes.growth"] = (write_growth(records), "ratio")
    out["operators.writes.cached_rdds_delta"] = (
        sum(r["rdds_delta"] for r in writes) / len(writes) if writes else 0.0,
        "count")
    for t, module in ML_OPS.items():
        rs = by_template(t)
        key = f"{module}.{t}"
        out[f"{key}.build_ms"] = (_median([span(r, "build") + span(
            r, "catalyst.analysis") for r in rs]), "ms")
        out[f"{key}.execute_ms"] = (_median([r["ms"] - span(r, "build") - span(
            r, "catalyst.analysis") for r in rs]), "ms")
        out[f"{key}.jobs"] = (_median([r["work"]["jobs"] for r in rs]),
                              "count")
        out[f"{key}.cached_rdds_delta"] = (
            sum(r["rdds_delta"] for r in rs) / len(rs) if rs else 0.0, "count")
    off = ops_per_s([r for r in records if not r["traced"]])
    on = ops_per_s(traced)
    out["trace.ops_per_s_untraced"] = (off, "1/s")
    out["trace.ops_per_s_traced"] = (on, "1/s")
    out["trace.overhead_pct"] = ((off / on - 1.0) * 100.0 if on else 0.0, "%")
    out.update(extra)
    return out


def _stop(spark) -> None:
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    try:
        sc._gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    try:
        from neo4j_spark.session import get_spark   # the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    _env()

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0

    def watchdog(*_):
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        try:
            spark.sparkContext._gateway.proc.kill()
        finally:
            os._exit(3)
    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(WATCHDOG_S)

    try:
        tracer = Tracer(bool(args.trace))
        tracer.install(spark)
        wl = cls(spark, DATA, args.seed, WORK)   # generates missing inputs
        runner = Runner(spark, tracer, wl)
        t0 = time.perf_counter()
        wl.prepare_truth()                      # exact answers: untimed
        truth_s = time.perf_counter() - t0

        setup, setup_wall, loads = [], [], []
        for _ in range(SETUP_REPS):
            t0, c0 = time.perf_counter(), tree_cpu_s()
            wl.load()
            loads.append(wl.graph_load_s)
            setup_wall.append(time.perf_counter() - t0)
            setup.append(tree_cpu_s() - c0)

        t0, c0 = time.perf_counter(), tree_cpu_s()
        records = measure(runner, args.seconds, bool(args.trace), t_start)
        print(f"perfbench: start {start_s:.1f} s, truth {truth_s:.1f} s, "
              f"set-ups {sum(setup_wall):.1f} s, "
              f"measured {time.perf_counter() - t0:.1f} s "
              f"({tree_cpu_s() - c0:.1f} CPU s)", file=sys.stderr)

        if args.trace:
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(1.0)    # let the ContextCleaner drop unreachable RDDs
            leaked = cached_rdds(spark)
            rt = spark._jvm.java.lang.Runtime.getRuntime()
            heap_mb = (rt.totalMemory() - rt.freeMemory()) / 2 ** 20
            metrics = per_layer(records, {
                "sources.tpch.graph_load_s": (_median(loads), "s"),
                "session.start_s": (start_s, "s"),
                "session.setup_wall_s": (_median(setup_wall), "s"),
                "session.heap_used_mb": (heap_mb, "MB"),
                "session.leaked_rdds": (leaked, "count"),
            })
            tracer.dump(os.path.join(
                WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(records, setup)
    finally:
        signal.alarm(0)
        _stop(spark)

    failed = [r for r in records if not r["ok"]]
    for r in failed[:10]:
        print(f"FAILED {r['template']}: {r['error'] or 'wrong result'} "
              f"(recall {r['recall']:.3f})")
    summary = {}
    for r in records:
        summary.setdefault(r["template"], []).append(r["ms"])
    for t, ms in sorted(summary.items()):
        print(f"{t:>24}: n={len(ms):3d} p50={_median(ms):9.1f} ms")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
