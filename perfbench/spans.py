"""Spans around layer calls, and the Spark task counters under each span.

A span records name, start, end, parent and run id, and stays in memory
until `dump`. Entering a span sets a Spark job group named after it; on
exit the group's stage totals are read from the application status store
(live with `spark.ui.enabled=false`) and kept on the span. A span tagged
with layer `groups` adds its totals to each of them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

GROUPS = ("parse_arrow", "routing", "aggregates", "checkpointer", "queries")
COUNTERS = ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "tasks", "task_skew", "failed_tasks")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, groups: tuple[str, ...] = ()):
        s = {
            "id": len(self.spans), "name": name, "groups": groups, "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "job_group": f"{self.run_id}/{len(self.spans)}/{name}",
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["job_group"], name, False)
        s["start"] = time.monotonic()
        try:
            yield s
        finally:
            s["end"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["job_group"], self._stack[-1]["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            s["spark"] = self._stage_totals(s["job_group"])

    def _stage_totals(self, job_group: str) -> dict:
        """Task totals of every stage the group's jobs ran, plus the
        max/median task run time of the group's busiest stage."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm, gw = self.sc._jvm, self.sc._gateway
        t = dict.fromkeys(("run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "tasks", "failed_tasks"), 0.0)
        busiest = (-1.0, None)
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(job_group):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                seq = store.stageData(sid, False, jvm.java.util.ArrayList(), False, gw.new_array(jvm.double, 0))
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    t["run_s"] += sd.executorRunTime() / 1e3
                    t["cpu_s"] += sd.executorCpuTime() / 1e9
                    t["gc_s"] += sd.jvmGcTime() / 1e3
                    t["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                    t["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    t["tasks"] += sd.numCompleteTasks()
                    t["failed_tasks"] += sd.numFailedTasks() + sd.numKilledTasks() + (sd.attemptId() > 0)
                    if sd.executorRunTime() > busiest[0]:
                        busiest = (sd.executorRunTime(), (sid, sd.attemptId()))
        t["task_skew"] = 1.0 if busiest[1] is None else self._skew(store, *busiest[1])
        return t

    def _skew(self, store, sid: int, attempt: int) -> float:
        jvm, gw = self.sc._jvm, self.sc._gateway
        q = gw.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = store.taskSummary(sid, attempt, q)
        if not dist.isDefined():
            return 1.0
        d = dist.get().duration()
        return d.apply(1) / d.apply(0) if d.apply(0) > 0 else 1.0

    def find(self, name: str) -> dict | None:
        return next((s for s in reversed(self.spans) if s["name"] == name), None)

    def duration(self, name: str) -> float:
        s = self.find(name)
        return 0.0 if s is None else s["end"] - s["start"]

    def group_counters(self) -> dict[str, float]:
        """`spark.<group>.<counter>` over the spans tagged with each group."""
        out = {f"spark.{g}.{c}": 0.0 for g in GROUPS for c in COUNTERS}
        skew: dict[str, tuple[float, float]] = {}
        for s in self.spans:
            for g in s["groups"]:
                for c in ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "tasks", "failed_tasks"):
                    out[f"spark.{g}.{c}"] += s["spark"][c]
                if s["spark"]["run_s"] > skew.get(g, (-1.0, 1.0))[0]:
                    skew[g] = (s["spark"]["run_s"], s["spark"]["task_skew"])
        for g, (_run, k) in skew.items():
            out[f"spark.{g}.task_skew"] = k
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
