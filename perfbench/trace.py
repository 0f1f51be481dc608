"""Spans and Spark job attribution for the benchmark's traced run.

The benchmark opens a span around each call it makes into an engine
layer. In a traced run the span labels the call's Spark jobs with
`setJobGroup("<op_id>:<layer>")` just before the call, and right after it
reads that group's jobs and their stages from Spark's status store (the
UI is off, so the JVM store is read directly; it keeps only about 1000
jobs, hence the immediate read). Jobs that carry no group while a traced
operation runs were started from an engine-internal thread; they are
counted as unattributed, never dropped. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.unattributed_jobs = 0
        self._sc = spark.sparkContext
        self._seen: set[int] = set()
        self._op = None
        self.phase = "setup"           # setup | warmup | run

    # ---- operations -------------------------------------------------

    @contextmanager
    def op(self, name: str, op_id: int, traced: bool = True):
        """One benchmark operation. Untraced operations of a traced run
        (every other one, for the overhead estimate) set no job group."""
        if not (self.enabled and traced):
            yield
            return
        self._sweep(count=False)
        span = {"name": name, "layer": "workload", "op": op_id,
                "parent": None, "phase": self.phase,
                "start": time.perf_counter()}
        self._op = span
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            self._op = None
            self.clear()
            self.spans.append(span)
            self._sweep(count=True)

    @contextmanager
    def span(self, layer: str, name: str):
        """A call into `layer`. Yields a dict the caller may add counts
        to (files, bytes, ...)."""
        attrs: dict = {}
        if self._op is None:
            yield attrs
            return
        op_id = self._op["op"]
        group = f"{op_id}:{layer}:{len(self.spans)}"
        self._sc.setJobGroup(group, name)
        start = time.perf_counter()
        failed = False
        try:
            yield attrs
        except BaseException:
            failed = True
            raise
        finally:
            end = time.perf_counter()
            self._sc.setJobGroup(f"{op_id}:workload", self._op["name"])
            span = {"name": name, "layer": layer, "op": op_id,
                    "parent": self._op["name"], "phase": self.phase,
                    "start": start, "end": end,
                    "failed": failed, **self.group_stats(group), **attrs}
            self.spans.append(span)

    def clear(self) -> None:
        """Remove the thread's job group."""
        if self.enabled:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    # ---- status-store reads -----------------------------------------

    def group_stats(self, group: str) -> dict:
        """Jobs, stages, tasks and stage metrics of one job group."""
        sc = self._sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "shuffle_bytes": 0, "input_bytes": 0, "run_ms": 0}
        for jid in jobs:
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:
                    continue                           # never ran
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
                out["run_ms"] += st.executorRunTime()
        return out

    def _sweep(self, count: bool) -> None:
        """Ungrouped jobs seen since the last sweep; counted as
        unattributed when they ran inside a traced operation."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = set(self._sc.statusTracker().getJobIdsForGroup(None))
        new = ids - self._seen
        self._seen |= ids
        if count:
            self.unattributed_jobs += len(new)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def exchanges(df) -> int:
    """Exchanges in the final (post-AQE) physical plan of an executed
    DataFrame."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan.split("== Initial Plan ==")[0]))
