"""Outside-in tracing for the benchmark's traced run.

Spans are recorded only around calls the benchmark makes into the
program's public surface (``load_table``, a ``suite.QUERIES`` function,
``curate_corpus``, ``ingest_dedup_batch``) and around the PySpark
``DataFrame``/``DataFrameWriter`` methods the program calls
(``localCheckpoint``/``checkpoint``/``persist``, ``count``, ``parquet``).
Those methods are wrapped on their classes for the life of the traced
run and record nothing while no operation span is open.  py4j round
trips are counted by wrapping the gateway client's ``send_command``.
Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import MEMORY_COMMAND_NAME

#: metric key -> the SQLMetric summed over the final plan's nodes
PLAN_METRICS = {
    "shuffle_bytes": "shuffleBytesWritten",
    "spill_bytes": "spillSize",
    "peak_memory_bytes": "peakMemory",
    "output_rows": "numOutputRows",
}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Tracer:
    """In-memory span recorder.  A span is a dict with ``id``, ``parent``,
    ``op`` (the operation id every span of one operation shares), ``name``,
    ``layer``, ``start``/``end`` (perf_counter seconds) and counters."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._paused = 0

    @property
    def open(self) -> bool:
        return bool(self._stack)

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else parent["op"],
            "name": name,
            "layer": layer,
            "py4j": 0,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def paused(self):
        """Stop counting py4j round trips (the tracer's own probes)."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def count_py4j(self):
        if not self._paused:
            for s in self._stack:
                s["py4j"] += 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Instrumentation:
    """Installs the wrappers for one traced run; ``close()`` restores every
    patched attribute."""

    def __init__(self, tracer: Tracer, spark, modules: dict):
        self.tracer = tracer
        self.spark = spark
        self._undo: list[tuple[object, str, object]] = []
        df = spark.range(1)
        df_cls, writer_cls = type(df), type(df.write)
        for owner in (modules["catalog"], modules["suite"]):
            self._wrap(owner, "load_table", "load_table", lambda: "sources")
        for meth in ("localCheckpoint", "checkpoint", "persist"):
            self._wrap(df_cls, meth, "checkpoint", lambda: "cache")
        self._wrap(df_cls, "count", "count", lambda: "exec")
        self._wrap(writer_cls, "parquet", "write", self._op_layer, self._write_bytes)
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        thread = threading.current_thread()

        def counting_send(command, *a, **k):
            # releases of Python-side proxies ("m" commands) are sent
            # whenever Python's garbage collector runs, so they are not
            # counted; nor is traffic from py4j's finalizer thread
            if not command.startswith(MEMORY_COMMAND_NAME) and threading.current_thread() is thread:
                tracer.count_py4j()
            return send(command, *a, **k)

        client.send_command = counting_send
        self._undo.append((client, "send_command", None))

    def _op_layer(self) -> str:
        return self.tracer._stack[0]["layer"]

    def _write_bytes(self, span, args, kwargs):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        if path:
            span["path"] = path
            span["bytes_before"] = dir_bytes(path)

    def _wrap(self, owner, attr, name, layer, before=None):
        orig = getattr(owner, attr)
        tracer = self.tracer

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.open:
                return orig(*args, **kwargs)
            with tracer.span(name, layer()) as s:
                if before:
                    before(s, args, kwargs)
                out = orig(*args, **kwargs)
            if "path" in s:
                s["bytes"] = dir_bytes(s["path"]) - s.pop("bytes_before")
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # -- probes of the JVM, run with py4j counting paused ----------------

    def gc_seconds(self) -> float:
        with self.tracer.paused():
            beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def job_counts(self, group: str) -> dict:
        """Jobs, distinct stages and completed tasks run under ``group``."""
        with self.tracer.paused():
            st = self.spark.sparkContext.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for sid in stages:
                info = st.getStageInfo(sid)
                if info is not None:
                    tasks += info.numCompletedTasks
            return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def plan_shape(self, jdf) -> dict:
        """Node and exchange count of the physical plan before execution
        (the AQE initial plan); forces planning."""
        with self.tracer.paused():
            tree = jdf.queryExecution().executedPlan().treeString()
        lines = [ln for ln in tree.splitlines() if ln.strip()]
        return {
            "plan_nodes": len(lines),
            "exchanges": sum(bool(re.search(r"\bExchange\b|BroadcastExchange", ln)) for ln in lines),
        }

    def final_plan_metrics(self, jdf) -> dict:
        """Sum of SQL metrics over the final (post-AQE) plan's nodes,
        descending into query stages; a reused exchange is counted once,
        where it ran."""
        out = dict.fromkeys(PLAN_METRICS, 0)
        with self.tracer.paused():
            stack = [jdf.queryExecution().executedPlan()]
            while stack:
                node = stack.pop()
                cls = node.getClass().getSimpleName()
                if cls == "AdaptiveSparkPlanExec":
                    stack.append(node.executedPlan())
                    continue
                if cls.endswith("QueryStageExec"):
                    stack.append(node.plan())
                    continue
                metrics = node.metrics()
                for key, name in PLAN_METRICS.items():
                    if metrics.contains(name):
                        out[key] += metrics.apply(name).value()
                if cls == "ReusedExchangeExec":
                    continue
                kids = node.children()
                stack.extend(kids.apply(i) for i in range(kids.size()))
        return out
