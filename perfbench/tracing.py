"""Tracing for the benchmark's traced run (``--trace 1``).

- ``Spans`` keeps spans (name, start, end, parent) in memory.
- ``wrap_layers`` wraps the public functions of each layer's modules from
  here, so every call into a layer opens a span named ``<layer>.<func>``.
  Wrappers see only the driver-side work done during the call: eager
  loops (``components``, ``traversal``) and streaming queries that run to
  completion inside the call are covered, while a lazy operator's cost
  lands on its op's sink job.
- ``StreamingCounters`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress event.
- ``read_event_log`` parses Spark's uncompressed event log with ``json``.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

LAYER_MODULES = {
    "components": ["assemblagedb_spark.operators.components"],
    "traversal": ["assemblagedb_spark.operators.traversal"],
    "grams": ["assemblagedb_spark.operators.grams"],
    "overlaps": ["assemblagedb_spark.operators.overlaps"],
    "dedup": ["assemblagedb_spark.operators.dedup"],
    "search": ["assemblagedb_spark.operators.search"],
    "multimodal": ["assemblagedb_spark.operators.multimodal"],
    "streaming": [
        "assemblagedb_spark.streaming.ann",
        "assemblagedb_spark.streaming.broadcast",
        "assemblagedb_spark.streaming.rollup",
        "assemblagedb_spark.streaming.sessions",
        "assemblagedb_spark.streaming.sketches",
    ],
    "episodes": ["assemblagedb_spark.sources.episodes"],
}
LAYER_CLASSES = {
    "db": ("assemblagedb_spark.db", "AssemblageDb"),
    "kvstore": ("assemblagedb_spark.kvstore", "Snapshot"),
}


class Spans:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent index]
        self.enabled = False
        self._main = threading.main_thread()
        self._stacks: dict[int, list[int]] = {}

    def _stack(self) -> list[int]:
        return self._stacks.setdefault(threading.get_ident(), [])

    def open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # callbacks (foreachBatch) run on another thread; their parent
            # is whatever the main thread is inside
            main = self._stacks.get(self._main.ident) or [None]
            parent = main[-1]
        self.spans.append([name, time.time(), None, parent])
        stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        self._stack().remove(idx)
        self.spans[idx][2] = time.time()

    def call(self, name: str, fn, *args, **kwargs):
        idx = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(idx)

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                out.setdefault(s[3], []).append(i)
        return out

    def self_time(self, idx: int, children: dict[int, list[int]]) -> float:
        """Duration minus the part of it that child spans cover."""
        start, end = self.spans[idx][1], self.spans[idx][2]
        covered, cur = 0.0, start
        for c in sorted(children.get(idx, []), key=lambda c: self.spans[c][1]):
            cs, ce = max(self.spans[c][1], cur), min(self.spans[c][2], end)
            if ce > cs:
                covered += ce - cs
                cur = ce
        return (end - start) - covered


def _wrapper(spans: Spans, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        return spans.call(name, fn, *args, **kwargs)

    return traced


def wrap_layers(spans: Spans) -> None:
    """Route every call into a layer's public functions through a span.

    A name bound by ``from x import f`` elsewhere in the package is
    rebound too, so calls through either name are seen."""
    import importlib

    replaced: dict[int, object] = {}
    for layer, mods in LAYER_MODULES.items():
        for mod_name in mods:
            mod = importlib.import_module(mod_name)
            for name, fn in vars(mod).copy().items():
                if (
                    inspect.isfunction(fn)
                    and not name.startswith("_")
                    and fn.__module__ == mod_name
                ):
                    replaced[id(fn)] = _wrapper(spans, f"{layer}.{name}", fn)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("assemblagedb_spark"):
            continue
        for name, obj in vars(mod).copy().items():
            if id(obj) in replaced:
                setattr(mod, name, replaced[id(obj)])
    for layer, (mod_name, cls_name) in LAYER_CLASSES.items():
        cls = getattr(importlib.import_module(mod_name), cls_name)
        for name, fn in vars(cls).copy().items():
            if inspect.isfunction(fn) and not name.startswith("_"):
                setattr(cls, name, _wrapper(spans, f"{layer}.{name}", fn))


class StreamingCounters(StreamingQueryListener):
    """Keeps one record per micro-batch progress event."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        epoch = (ts - datetime(1970, 1, 1)).total_seconds()
        d = p.durationMs
        self.batches.append({
            "t": epoch,
            "rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def read_event_log(path: str) -> dict:
    """Jobs, stages and tasks of one application's event log, each with
    the wall-clock millisecond it started at."""
    jobs, stages, tasks = [], [], []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append({"t": e["Submission Time"], "id": e["Job ID"]})
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stages.append({"t": info.get("Submission Time", 0)})
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                acc: dict[str, float] = {}
                for a in info.get("Accumulables", []):
                    try:
                        acc[a["Name"]] = acc.get(a["Name"], 0) + float(a.get("Update", 0))
                    except (TypeError, ValueError):  # non-numeric accumulators
                        pass
                sr = m.get("Shuffle Read Metrics", {})
                run_ms = m.get("Executor Run Time", 0)
                wall_ms = info["Finish Time"] - info["Launch Time"]
                tasks.append({
                    "t": info["Launch Time"],
                    "failed": e["Task End Reason"]["Reason"] != "Success",
                    "run_ms": run_ms,
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "delay_ms": max(
                        0,
                        wall_ms - run_ms
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0),
                    ),
                    "shuffle_write_b": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill_disk_b": m.get("Disk Bytes Spilled", 0),
                    "spill_mem_b": m.get("Memory Bytes Spilled", 0),
                    "input_b": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "py_start_ms": acc.get("time to start Python workers", 0),
                    "py_init_ms": acc.get("time to initialize Python workers", 0),
                    "py_run_ms": acc.get("time to run Python workers", 0),
                    "py_sent_b": acc.get("data sent to Python workers", 0),
                    "py_recv_b": acc.get("data returned from Python workers", 0),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}
