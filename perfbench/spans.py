"""Spans around the calls the benchmark makes into each layer.

A span records name, kind (``call``, ``action`` or ``probe``), start, end,
parent span and run id. Each span runs under its own Spark job group;
when it ends, the stages of that group are read from the status store
(executor run and CPU time, shuffle write, fetch wait, spill, failed
tasks). Spans stay in memory until :meth:`Tracer.write`.

``NullTracer`` has the same interface and does nothing, so timed runs
execute exactly the calls a traced run makes, minus the probes.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_s",
    "spill_bytes",
    "failed_tasks",
)


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, kind: str):
        yield {}

    def probe(self, name: str, fn):
        return None


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def _set_group(self, span_id: int | None, desc: str = "") -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{span_id}", desc)

    @contextmanager
    def span(self, name: str, kind: str):
        """Time the body under a fresh job group; the yielded dict takes
        extra fields (counts) for the span record."""
        span_id = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        extra: dict = {}
        self._stack.append(span_id)
        self._set_group(span_id, f"{name}:{kind}")
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield extra
        finally:
            dur = time.perf_counter() - t0
            self._stack.pop()
            self._set_group(parent)
            rec = {
                "id": span_id,
                "parent": parent,
                "run_id": self.run_id,
                "name": name,
                "kind": kind,
                "start": start,
                "end": start + dur,
                "dur_s": dur,
            }
            rec.update(self._stage_stats(f"{self.run_id}:{span_id}"))
            rec.update(extra)
            self.spans.append(rec)

    def probe(self, name: str, fn):
        """Run ``fn`` as an extra action that only traced runs make (for a
        layer the timed job reaches only through another layer, or for a
        count); a numeric result is kept as the span's ``value``."""
        with self.span(name, "probe") as rec:
            out = fn()
            if isinstance(out, (int, float)):
                rec["value"] = float(out)
            return out

    def _stage_stats(self, group: str) -> dict:
        # status-store updates arrive through the listener bus; drain it
        # so the last stage of the span is counted
        self._bus.waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stats = dict.fromkeys(STAGE_FIELDS, 0.0)
        stats["jobs"] = len(jobs)
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for s in stage_ids:
            attempts = self._store.stageData(s, False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                stats["executor_run_s"] += sd.executorRunTime() / 1e3
                stats["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                stats["shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                stats["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                stats["failed_tasks"] += sd.numFailedTasks()
        return stats

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def plan_nodes(df) -> list[tuple[str, dict]]:
    """(node name, {metric: value}) for every node of ``df``'s executed
    plan, descending through adaptive query stages and reused exchanges.
    Call after an action on ``df`` itself."""
    out = []

    def visit(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            visit(node.finalPhysicalPlan())
            return
        if cls.endswith("QueryStageExec"):
            visit(node.plan())
            return
        if cls == "ReusedExchangeExec":
            visit(node.child())
            return
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((node.nodeName(), metrics))
        children = node.children()
        for c in range(children.size()):
            visit(children.apply(c))

    visit(df._jdf.queryExecution().executedPlan())
    return out


def rows_below(nodes: list[tuple[str, dict]], k: int) -> float:
    """Rows into node ``k`` of :func:`plan_nodes`: the output of the
    nearest later node that counts rows (its input side in the pre-order
    walk)."""
    return next((float(m["numOutputRows"]) for _, m in nodes[k + 1:] if "numOutputRows" in m), 0.0)
