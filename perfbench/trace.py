"""In-memory spans with Spark job attribution.

A span records name, start, end, parent and question id. Each span runs its
Spark work under its own job group, so the jobs, stages and tasks a span
launched are read back from Spark's status tracker and status store when
the span ends. Both are filled from listener-bus events, so the tracer
first waits until the bus is empty; a job or stage still missing from the
store after that is counted in `incomplete`, and a run with any counts as
failed. Self time is the span's duration minus the time its child
spans cover. With tracing off every call is a no-op context manager.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

IDLE_GROUP = "perfbench-idle"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.overhead_s = 0.0  # time spent in tracing itself
        self.incomplete = 0  # jobs or stages whose status data was missing
        if enabled:
            spark.sparkContext.setJobGroup(IDLE_GROUP, "untraced")

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        sp = {
            "id": self._next, "name": name,
            "parent": parent["id"] if parent else None,
            "qid": qid if qid is not None else (parent or {}).get("qid"),
            "group": f"perfbench-{self._next}", "counts": {},
        }
        self._stack.append(sp)
        sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            with self.bookkeeping():
                sc.setJobGroup(parent["group"] if parent else IDLE_GROUP, "")
                sp.update(self._spark_work(sp["group"]))
            self.spans.append(sp)

    @contextmanager
    def bookkeeping(self):
        """Charge the enclosed time to `overhead_s`."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def problems(self) -> list[str]:
        """The trace's own check: every job and stage had status data."""
        return [f"{self.incomplete} jobs/stages without status data"] * bool(self.incomplete)

    def current(self) -> dict:
        return self._stack[-1] if self._stack else {"counts": {}}

    def count(self, sp: dict, key: str, value: float) -> None:
        """Attach a count measured at this span's boundary."""
        if self.enabled:
            sp["counts"][key] = value

    def count_rows(self, sp: dict, key: str, df) -> int:
        """Attach `df`'s row count to `sp`, counted as tracing overhead."""
        with self.bookkeeping():
            n = df.count()
        self.count(sp, key, n)
        return n

    def _spark_work(self, group: str) -> dict:
        """Jobs/stages/tasks, rows read, shuffle and spill of one group,
        plus the wall intervals its jobs ran in (for the driver gap)."""
        sc = self.spark.sparkContext
        # completed jobs reach the status store through the listener bus;
        # drain it so the last job of the span has its completion time and
        # final stage metrics
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        jobs = sorted(tracker.getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "input_records": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "intervals": []}
        empty = jvm.java.util.ArrayList()
        quantiles = sc._gateway.new_array(jvm.double, 0)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            try:
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
            except Py4JError:
                sub = done = None  # job evicted from the status store
            if sub is not None and sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            else:
                self.incomplete += 1
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue  # skipped stage: its output was reused
                out["stages"] += 1
                out["tasks"] += st.numTasks
                try:
                    for sd in _seq(store.stageData(sid, False, empty, False, quantiles)):
                        out["input_records"] += sd.inputRecords()
                        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        out["spill_bytes"] += (
                            sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                        )
                except Py4JError:
                    self.incomplete += 1  # stage evicted from the status store
        return out

    # --- derived per-span views ---------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
        return {
            sp["id"]: (sp["end"] - sp["start"]) - covered(kids.get(sp["id"], []))
            for sp in self.spans
        }

    def subtree(self, root: dict) -> list[dict]:
        by_parent: dict[int, list[dict]] = {}
        for sp in self.spans:
            by_parent.setdefault(sp["parent"], []).append(sp)
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(by_parent.get(sp["id"], []))
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for sp in self.spans:
                row = {k: v for k, v in sp.items() if k != "intervals"}
                row["self_s"] = selfs[sp["id"]]
                f.write(json.dumps(row) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
