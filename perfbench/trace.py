"""Spans and counters for the traced run.

Spans are recorded from the benchmark process only, around calls into the
engine's public layers: ``neo4j_spark.api.parse`` and
``Translator.translate`` are wrapped at module level, every other span is
opened by the benchmark around the call it makes.  Catalyst phases come
from the final DataFrame's ``QueryPlanningTracker`` and Spark work (jobs,
stages, task time, shuffle and spill bytes) from a per-request job group
and the application status store.  py4j round trips are counted by
wrapping the gateway client's ``send_command``.

Everything stays in memory until :meth:`Tracer.dump` writes it out.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from typing import Dict, List, Optional


class Tracer:
    """Span recorder.  A disabled tracer costs one attribute check per
    span, and the wrappers it installs are only installed when enabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.active = False          # toggled per request while measuring
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self.py4j_calls = 0
        self.rid: Optional[str] = None
        # wall clock (Spark's epoch-ms phase times) -> perf_counter domain
        self._epoch_offset = time.time() - time.perf_counter()

    # -- installation -------------------------------------------------------
    def install(self, spark) -> None:
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def send_command(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = send_command

        import neo4j_spark.api as api
        from neo4j_spark.cypher.translate import Translator

        api.parse = self._wrap(api.parse, "cypher.parser")
        Translator.translate = self._wrap(Translator.translate,
                                          "cypher.translate")

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            # nested translate calls (subqueries) stay inside the outer span
            if not self.active or any(s["name"] == name for s in self._stack):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapped

    # -- spans --------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        s = {"rid": self.rid, "name": name, "i": len(self.spans),
             "parent": self._stack[-1]["i"] if self._stack else None,
             "start": time.perf_counter(), "end": None,
             "py4j": -self.py4j_calls}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["py4j"] += self.py4j_calls
            self._stack.pop()

    def add_phase(self, name: str, parent: Optional[dict],
                  start_ms: float, end_ms: float) -> None:
        """Record a span measured elsewhere (a Catalyst phase), given in
        epoch milliseconds."""
        if parent is None:
            return
        self.spans.append({
            "rid": self.rid, "name": name, "i": len(self.spans),
            "parent": parent["i"], "py4j": 0,
            "start": start_ms / 1000.0 - self._epoch_offset,
            "end": end_ms / 1000.0 - self._epoch_offset})

    def self_times(self, rid: str) -> Dict[str, dict]:
        """Per layer name: self time (ms) and self py4j calls of one
        request; a span's self part is its duration minus its children's."""
        spans = [s for s in self.spans if s["rid"] == rid]
        child_ms: Dict[int, float] = {}
        child_calls: Dict[int, int] = {}
        for s in spans:
            if s["parent"] is not None:
                dur = (s["end"] - s["start"]) * 1000.0
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + dur
                child_calls[s["parent"]] = (child_calls.get(s["parent"], 0)
                                            + s["py4j"])
        out: Dict[str, dict] = {}
        for s in spans:
            dur = (s["end"] - s["start"]) * 1000.0
            acc = out.setdefault(s["name"], {"ms": 0.0, "py4j": 0})
            acc["ms"] += max(dur - child_ms.get(s["i"], 0.0), 0.0)
            acc["py4j"] += s["py4j"] - child_calls.get(s["i"], 0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- Spark-side measurements --------------------------------------------------

def catalyst_phases(df) -> Dict[str, tuple]:
    """(start_ms, end_ms) per QueryPlanningTracker phase of ``df``."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:
        return out
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            ph = opt.get()
            out[name] = (ph.startTimeMs(), ph.endTimeMs())
    return out


def cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def spark_work(spark, groups: List[str]) -> dict:
    """Jobs, stages, task time, shuffle/spill bytes and failed tasks of the
    job groups, plus the job intervals (epoch ms) for the driver-gap."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.2)
    store = jsc.statusStore()
    jobs = sorted({j for g in groups
                   for j in sc.statusTracker().getJobIdsForGroup(g)})
    w = {"jobs": len(jobs), "stages": 0, "task_time_ms": 0,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "failed_tasks": 0,
         "intervals": []}
    seen = set()
    for j in jobs:
        try:
            jd = store.job(j)
        except Exception:
            continue
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and comp.isDefined():
            w["intervals"].append((sub.get().getTime(), comp.get().getTime()))
        sids = jd.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            w["stages"] += 1
            w["task_time_ms"] += st.executorRunTime()
            w["shuffle_write_bytes"] += st.shuffleWriteBytes()
            w["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            w["failed_tasks"] += st.numFailedTasks()
    return w


def covered_ms(intervals: List[tuple]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
