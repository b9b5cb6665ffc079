"""Spans recorded from outside the program, around calls into its layers.

A span has a name, start, end, parent and its own Spark job group, so
the jobs a call triggers are attributed to the innermost span that made
them.  Counts come from Spark's status tracker and app status store
(both work with the UI off); they are read when a span ends and resolved
into stage metrics once the pass is over.  Spans stay in memory until
``dump`` writes them out.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import time
from contextlib import contextmanager
from pathlib import Path

PACKAGE = "kafka_avro_order_processing_spark"


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    that adds no Spark calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._stage_cache: dict[int, dict] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{sid}",
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
            "jobs": [],
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = list(sc.statusTracker().getJobIdsForGroup(rec["group"]))
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A finished top-level span timed before the tracer existed (the
        session set-ups); it has no job group."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "name": name, "parent": None, "group": None,
                               "start": start, "end": end, "attrs": attrs, "jobs": []})

    def add_jobs(self, rec: dict | None, group: str) -> None:
        """Attribute the jobs of another group (a streaming query's run
        id) to ``rec``."""
        if rec is not None:
            rec["jobs"] += list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def wrap_package_function(self, module: str, name: str, span_name: str):
        """Replace ``module.name`` in every loaded package module that
        imported it by name with a wrapper recording a span per call;
        restore the original on exit."""
        if not self.enabled:
            yield
            return
        orig = getattr(sys.modules[module], name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name, call=repr(args[2:])[:80] if len(args) > 2 else ""):
                return orig(*args, **kwargs)

        patched = [
            m for m_name, m in list(sys.modules.items())
            if m_name.startswith(PACKAGE) and getattr(m, name, None) is orig
        ]
        for m in patched:
            setattr(m, name, traced)
        try:
            yield
        finally:
            for m in patched:
                setattr(m, name, orig)

    # --- counts --------------------------------------------------------

    def _wait_listeners(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _stage(self, store, sid: int) -> dict | None:
        if sid not in self._stage_cache:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                self._stage_cache[sid] = None
            else:
                self._stage_cache[sid] = {
                    "tasks": sd.numTasks(),
                    "task_run_ms": sd.executorRunTime(),
                    "task_cpu_ms": sd.executorCpuTime() / 1e6,
                    "input_rows": sd.inputRecords(),
                    "input_bytes": sd.inputBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                }
        return self._stage_cache[sid]

    def resolve(self, spans: list[dict]) -> None:
        """Fill each span's ``counts`` from the status store: jobs,
        stages, tasks, job wall time and the stages' task metrics."""
        if not self.enabled:
            return
        self._wait_listeners()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        for rec in spans:
            c = dict.fromkeys(
                ("jobs", "stages", "tasks", "exec_ms", "task_run_ms", "task_cpu_ms",
                 "input_rows", "input_bytes", "shuffle_write_bytes", "spill_bytes"), 0)
            for jid in rec["jobs"]:
                jd = store.job(jid)
                c["jobs"] += 1
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    c["exec_ms"] += done.get().getTime() - sub.get().getTime()
                ids = jd.stageIds()
                for i in range(ids.length()):
                    st = self._stage(store, ids.apply(i))
                    if st is None:
                        continue
                    c["stages"] += 1
                    for k, v in st.items():
                        c[k] += v
            rec["counts"] = c

    def subtree(self, rec: dict) -> list[dict]:
        """``rec`` and every span under it."""
        out, frontier = [rec], {rec["id"]}
        for s in self.spans:
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out

    def dump(self, path: Path) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s, start=s["start"] - t0, end=s["end"] - t0)
                f.write(json.dumps(row) + "\n")


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms from the DataFrame's
    QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = phases.get(k)
        out[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


def persisted_state(spark) -> tuple[int, float]:
    """(persisted RDD count, MB the block manager holds for RDDs)."""
    jsc = spark.sparkContext._jsc
    held = sum(r.memSize() + r.diskSize() for r in jsc.sc().getRDDStorageInfo())
    return jsc.getPersistentRDDs().size(), held / 2**20
