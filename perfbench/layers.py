"""Per-layer metrics of the traced run.

``Tracer`` installs the spans, layer wrappers and streaming listener of
``tracing.py``; after the passes it reads the event log and reduces
everything to ``PER_LAYER`` metrics, each the median over the traced
passes unless its comment says otherwise. A metric of a layer the
workload does not touch reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from tracing import Spans, StreamingCounters, read_event_log, wrap_layers

MB = 1e6

# name -> unit; BENCHMARK.json lists the same names
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_share": "ratio",
    "spark.busy_share": "ratio",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_disk_mb": "MB",
    "spark.spill_mem_mb": "MB",
    "spark.input_mb": "MB",
    "spark.storage_mb_after_pass": "MB",
    "spark.jvm_peak_rss_mb": "MB",
    "components.call_s": "s",
    "components.self_s": "s",
    "components.jobs": "count",
    "traversal.call_s": "s",
    "traversal.jobs": "count",
    "overlaps.call_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "python.start_ms": "ms",
    "python.init_ms": "ms",
    "python.run_ms": "ms",
    "python.init_share": "ratio",
    "python.mb_to_python": "MB",
    "python.mb_from_python": "MB",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.rows_per_s": "1/s",
    "streaming.batch_p50_s": "s",
    "streaming.batch_p90_s": "s",
    "episodes.export_s": "s",
    "episodes.write_s": "s",
    "episodes.nodes": "count",
    "db.edit_s": "s",
    "db.edits": "count",
    "kvstore.commit_s": "s",
    "kvstore.commits": "count",
    "kvstore.version_rows": "count",
    "replicate.lag_s": "s",
    "harness.error_rate": "ratio",
    "harness.trace_overhead": "ratio",
}
# op.<key>_s for every op of every workload
OP_PREFIX = "op."


def op_metric_names() -> list[str]:
    from workloads import WORKLOADS

    return [f"{OP_PREFIX}{op}_s" for w in WORKLOADS.values() for op in w["ops"]]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans = Spans()
        wrap_layers(self.spans)
        self.streaming = StreamingCounters()
        spark.streams.addListener(self.streaming)
        self.storage_mb: dict[int, float] = {}
        self.version_rows: dict[int, int] = {}
        self.exported: dict[int, int] = {}
        self.lags: dict[int, list[float]] = {}

    def after_pass(self, p: dict, run) -> None:
        idx = len(self.storage_mb)
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.storage_mb[idx] = sum(i.memSize() + i.diskSize() for i in infos) / MB
        rep = run.replicator
        if rep is not None:
            from replicate import BATCHES, version_rows

            self.version_rows[idx] = version_rows(rep.source)
            self.exported[idx] = sum(rep.exported[-BATCHES:])
            self.lags[idx] = rep.lags[-BATCHES:]

    def _jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def _dedup_counts(self, run) -> dict:
        if "dedup_lsh_verify" not in run.wl["ops"]:
            return {}
        from assemblagedb_spark import harness
        from assemblagedb_spark.operators.dedup import lsh_candidate_pairs

        sig = harness._doc_minhash_sigs(run.spark, run.sf)
        cand = lsh_candidate_pairs(
            sig, bands=harness._LSH_BANDS, rows_per_band=harness._LSH_ROWS
        ).count()
        verified = harness._doc_lsh_overlap(run.spark, run.sf).count()
        return {
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / cand if cand else 0.0,
        }

    def _layer_spans(self, layer: str, start: float, end: float) -> list[int]:
        """Outermost spans of ``layer`` inside [start, end]."""
        out = []
        for i, (name, s, e, parent) in enumerate(self.spans.spans):
            if not name.startswith(layer + ".") or s < start or e is None or e > end:
                continue
            nested = False
            while parent is not None:
                if self.spans.spans[parent][0].startswith(layer + "."):
                    nested = True
                    break
                parent = self.spans.spans[parent][3]
            if not nested:
                out.append(i)
        return out

    def _named(self, name: str, p: dict) -> list[list]:
        """Spans called ``name`` inside pass ``p``."""
        return [
            s for s in self.spans.spans
            if s[0] == name and s[2] is not None and p["start"] <= s[1] and s[2] <= p["end"]
        ]

    def metrics(self, passes: list[dict], run) -> dict:
        # let the listener bus deliver the last progress events
        seen, deadline = -1, time.time() + 5
        while len(self.streaming.batches) != seen and time.time() < deadline:
            seen = len(self.streaming.batches)
            time.sleep(0.5)
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        (log_path,) = glob.glob(f"{run.work}/eventlog/*")
        log = read_event_log(log_path)
        children = self.spans.children()
        per_pass: list[dict] = []
        trigger_ms: list[float] = []
        for idx, p in enumerate(passes):
            if not p["traced"]:
                continue
            s_ms, e_ms = p["start"] * 1000, p["end"] * 1000
            pass_s = p["end"] - p["start"]
            jobs = [j for j in log["jobs"] if s_ms <= j["t"] <= e_ms]
            tasks = [t for t in log["tasks"] if s_ms <= t["t"] <= e_ms]
            tsum = lambda k: sum(t[k] for t in tasks)  # noqa: E731
            run_s = tsum("run_ms") / 1000
            cpu_s = tsum("cpu_ns") / 1e9
            py = tsum("py_start_ms") + tsum("py_init_ms") + tsum("py_run_ms")
            m = {
                "spark.jobs": len(jobs),
                "spark.stages": sum(1 for st in log["stages"] if s_ms <= st["t"] <= e_ms),
                "spark.tasks": len(tasks),
                "spark.failed_tasks": sum(t["failed"] for t in tasks),
                "spark.executor_run_s": run_s,
                "spark.executor_cpu_s": cpu_s,
                "spark.cpu_share": cpu_s / run_s if run_s else 0.0,
                "spark.busy_share": run_s / (pass_s * run.spark.sparkContext.defaultParallelism),
                "spark.gc_s": tsum("gc_ms") / 1000,
                "spark.scheduler_delay_s": tsum("delay_ms") / 1000,
                "spark.shuffle_write_mb": tsum("shuffle_write_b") / MB,
                "spark.shuffle_read_mb": tsum("shuffle_read_b") / MB,
                "spark.spill_disk_mb": tsum("spill_disk_b") / MB,
                "spark.spill_mem_mb": tsum("spill_mem_b") / MB,
                "spark.input_mb": tsum("input_b") / MB,
                "spark.storage_mb_after_pass": self.storage_mb.get(idx, 0.0),
                "python.start_ms": tsum("py_start_ms"),
                "python.init_ms": tsum("py_init_ms"),
                "python.run_ms": tsum("py_run_ms"),
                "python.init_share": (
                    (tsum("py_start_ms") + tsum("py_init_ms")) / py if py else 0.0
                ),
                "python.mb_to_python": tsum("py_sent_b") / MB,
                "python.mb_from_python": tsum("py_recv_b") / MB,
            }
            for layer in ("components", "traversal", "overlaps"):
                top = self._layer_spans(layer, p["start"], p["end"])
                m[f"{layer}.call_s"] = sum(
                    self.spans.spans[i][2] - self.spans.spans[i][1] for i in top
                )
                m[f"{layer}.jobs"] = sum(
                    1 for j in log["jobs"]
                    if any(self.spans.spans[i][1] * 1000 <= j["t"] <= self.spans.spans[i][2] * 1000
                           for i in top)
                )
                if layer == "components":
                    m["components.self_s"] = sum(self.spans.self_time(i, children) for i in top)

            m["episodes.export_s"] = sum(
                e - s for _, s, e, _ in self._named("episodes.export_since", p)
            )
            m["episodes.write_s"] = sum(
                e - s for _, s, e, _ in self._named("episodes.write_episode", p)
            )
            m["episodes.nodes"] = self.exported.get(idx, 0)
            db_top = self._layer_spans("db", p["start"], p["end"])
            m["db.edit_s"] = sum(self.spans.spans[i][2] - self.spans.spans[i][1] for i in db_top)
            m["db.edits"] = len(self._named("db.push", p))
            commits = self._named("kvstore.commit", p)
            m["kvstore.commit_s"] = sum(e - s for _, s, e, _ in commits)
            m["kvstore.commits"] = len(commits)
            m["kvstore.version_rows"] = self.version_rows.get(idx, 0)
            m["replicate.lag_s"] = _median(self.lags.get(idx, []))

            batches = [b for b in self.streaming.batches if p["start"] <= b["t"] <= p["end"]]
            trigger_ms += [b["trigger_ms"] for b in batches]
            stream_s = sum(
                e - s for op, (s, e) in p["ops"].items() if op.startswith("streaming_")
            )
            rows = sum(b["rows"] for b in batches)
            m.update({
                "streaming.batches": len(batches),
                "streaming.input_rows": rows,
                "streaming.trigger_ms": sum(b["trigger_ms"] for b in batches),
                "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
                "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
                "streaming.query_planning_ms": sum(b["query_planning_ms"] for b in batches),
                "streaming.state_rows": max([b["state_rows"] for b in batches], default=0),
                "streaming.state_mb": max([b["state_bytes"] for b in batches], default=0) / MB,
                "streaming.rows_per_s": rows / stream_s if stream_s else 0.0,
            })
            for op, (s, e) in p["ops"].items():
                m[f"{OP_PREFIX}{op}_s"] = e - s
            per_pass.append(m)

        names = list(PER_LAYER) + op_metric_names()
        out = {n: _median([m.get(n, 0) for m in per_pass]) for n in names}
        # pooled over the traced passes, not per pass
        out["streaming.batch_p50_s"] = _pct(trigger_ms, 0.5) / 1000
        out["streaming.batch_p90_s"] = _pct(trigger_ms, 0.9) / 1000
        # once per run, after the passes
        out["spark.jvm_peak_rss_mb"] = self._jvm_peak_rss_mb()
        out.update(self._dedup_counts(run))
        out["harness.error_rate"] = len(run.errors) / max(run.attempted, 1)
        plain = [p["end"] - p["start"] for p in passes if not p["traced"]]
        traced = [p["end"] - p["start"] for p in passes if p["traced"]]
        out["harness.trace_overhead"] = _median(traced) / _median(plain)
        units = dict(PER_LAYER, **{n: "s" for n in op_metric_names()})
        return {n: {"value": out[n], "unit": units[n]} for n in names}

    def dump(self, path: str, metrics: dict, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = self.spans.spans
        with open(path, "w") as fh:
            json.dump({
                "meta": meta,
                "metrics": metrics,
                "spans": [
                    {"name": n, "start": s, "end": e, "parent": par}
                    for n, s, e, par in spans
                ],
            }, fh)
