"""Spans for the traced run, recorded from outside the package.

A span is opened around a call into one layer: either explicitly by a
workload (``with tracer.span("sources.index_project"): ...``) or by a
wrapper that :meth:`Tracer.wrap_everywhere` installs in place of a
function, under every module attribute that names it (``services``
imports ``bfs_reachable`` by name, so patching only
``operators.traversal`` would miss its calls).

Each span runs under its own Spark job group, so the jobs it submits,
and their stages, are attributed to it with no extra job:
``statusTracker().getJobIdsForGroup`` gives the job ids, and the status
store's ``lastStageAttempt`` gives each stage's task metrics. Spans are
kept in memory with their parent id and written out by :meth:`dump`.

The tracer is switched per unit of work (:attr:`active`), so a traced
run can interleave traced and untraced units and report the overhead.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager

_STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "shuffle_write_b", "spill_b")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.active = False
        self._pending: list[dict] = []

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self.stack[-1] if self.stack else None,
               "name": name, "group": f"perfbench-span-{sid}"}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self.stack.pop()
            if self.stack:
                parent = self.spans[self.stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._pending.append(rec)

    @contextmanager
    def unit(self, traced: bool):
        """One unit of work (a request pass or a corpus pass), traced or
        not. A traced unit also runs the Python UDF profiler
        and carries its kernel seconds as ``py_kernel_s``."""
        self.active = traced
        if traced:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            with self.span("unit") as rec:
                yield rec
        finally:
            self.active = False
            if traced:
                self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
                rec["py_kernel_s"] = self._drain_profiles()
                self.settle()

    def _drain_profiles(self) -> float:
        stats = self.spark._profiler_collector._perf_profile_results
        total = sum(st.total_tt for st in stats.values())
        self.spark.profile.clear(type="perf")
        return total

    def settle(self) -> None:
        """Attach job and stage metrics to the spans closed since the
        last call. Waits for the listener bus first: the status store is
        updated asynchronously after an action returns."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self._pending:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            agg = dict.fromkeys(_STAGE_FIELDS, 0.0)
            stages = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for stage_id in (info.stageIds if info else ()):
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Exception:  # stage skipped or evicted: no metrics
                        continue
                    stages += 1
                    agg["tasks"] += st.numTasks()
                    agg["run_s"] += st.executorRunTime() / 1e3
                    agg["cpu_s"] += st.executorCpuTime() / 1e9
                    agg["shuffle_write_b"] += st.shuffleWriteBytes()
                    agg["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec.update(jobs=len(jobs), stages=stages, **agg)
        self._pending = []

    # -- wrapping --------------------------------------------------------
    def replace_everywhere(self, original, replacement) -> None:
        """Bind *replacement* wherever a ``codegraph_spark`` module
        attribute is bound to *original*."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("codegraph_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, replacement)

    def wrap_everywhere(self, original, name: str, on_result=None) -> None:
        """Replace *original* everywhere by a wrapper that opens span
        *name*. ``on_result(rec, result)`` may annotate the span."""
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = original(*args, **kwargs)
                if rec is not None and on_result is not None:
                    on_result(rec, out)
                return out

        self.replace_everywhere(original, wrapper)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        original = cls.__dict__[attr]
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(cls, attr, wrapper)

    # -- summaries -------------------------------------------------------
    def own(self, spans: list[dict], key: str) -> float:
        return sum(s.get(key, 0.0) for s in spans)

    def subtree(self, root: dict) -> list[dict]:
        """*root* and every span below it."""
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def uncovered(self, unit: dict) -> float:
        """Seconds of *unit* that none of its direct children cover."""
        kids = sorted((s["t0"], s["t1"]) for s in self.spans[unit["id"] + 1:]
                      if s["parent"] == unit["id"])
        covered, end = 0.0, unit["t0"]
        for a, b in kids:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return (unit["t1"] - unit["t0"]) - covered

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "spans": self.spans}, fh, default=str)
