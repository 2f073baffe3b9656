"""Spans and Spark counters for the traced run.

A ``Tracer`` records spans (name, start, end, parent, op id) in
memory around the benchmark's calls into each engine layer, labels
every Spark job with a per-op, per-phase job group, and after each op
reads job/stage/task counts from ``statusTracker()`` and SQL metrics
from the final executed plan. ``Tracer.self_times()`` gives each
span's self time (its duration minus its children's).
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

# SQL metric key -> the per-op total it adds to
SUM_KEYS = {
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
    "pythonDataSent": "py_sent",  # Arrow/pandas workers (MapInPandas, ArrowEvalPython)
    "pythonDataReceived": "py_received",
}
# the same, read on file-scan nodes only
SCAN_KEYS = {"numFiles": "files_read", "numOutputRows": "rows_read"}


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    # --- spans ---------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call (used to instrument the
        engine's source-layer functions from the outside)."""

        def traced(*args, **kwargs):
            if not self._stack():  # only inside a traced op
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # --- Spark counters ------------------------------------------------
    def job_group(self, op: int, phase: str) -> str:
        group = f"perfbench-op{op}-{phase}"
        self.sc.setJobGroup(group, group)
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None:
                    continue
                stages += 1
                tasks += s.numTasks
                failed += s.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def plan_metrics(self, jdf) -> dict:
        """Sum SQL metrics over the final executed plan of ``jdf``
        (adaptive stages and subqueries included, reused exchanges
        counted once)."""
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        out = dict.fromkeys([*SUM_KEYS.values(), *SCAN_KEYS.values()], 0)

        def seq(s):
            return [s.apply(i) for i in range(s.size())]

        def visit(node):
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                visit(node.executedPlan())
                return
            if name.startswith(("ReusedExchange", "InMemoryTableScan")):
                return
            if "QueryStage" in name:
                visit(node.plan())
                return
            metrics = conv.asJava(node.metrics())
            keys = {**SUM_KEYS, **SCAN_KEYS} if name.startswith("Scan ") else SUM_KEYS
            for k in metrics.keySet():
                if k in keys:
                    out[keys[k]] += metrics.get(k).value()
            for child in seq(node.children()):
                visit(child)
            for sub in seq(node.subqueries()):
                visit(sub)

        visit(jdf.queryExecution().executedPlan())
        return out

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def record_op(self, rec: dict) -> None:
        with self._lock:
            self.ops.append(rec)

    # --- summary -------------------------------------------------------
    def self_times(self) -> list[tuple[dict, float]]:
        """(span, self time in ms) for every span: its duration minus
        the time its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            (s, (s["end"] - s["start"] - child.get(s["id"], 0.0)) * 1e3)
            for s in self.spans
        ]

    def dump(self, path: str) -> None:
        import json

        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": spans, "ops": self.ops}, f)
