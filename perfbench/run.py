#!/usr/bin/env python3
"""Benchmark of the assemblagedb_spark engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N     # every workload

A run starts one ``local[nproc,2]`` session (shuffle partitions = nproc),
writes the workload's input from ``--seed`` three times over, then runs
the workload's op list once as a cold pass: each op is collected and
compared with its DuckDB oracle, and then twice more untimed. Then it
times warm passes until ``--seconds`` have passed (at least
``MIN_PASSES``), one client issuing ops one at a time, each op computed in
full into Spark's ``noop`` sink.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``pass_s``, ``setup_s``); with ``--trace 1`` they are
the per-layer ones, and spans plus metrics are also written to
``.bench_traces/`` at the checkout root. The line before it starts with
``# perfbench`` and records cores, seed, hash seed, driver memory, sizes,
Spark version and per-op times. All files go under ``.bench_work/`` and
are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time


def _hash_seed(argv) -> str:
    """The string hashing seed of a run: ``--seed`` modulo 2**32.

    Set and dict orders in plan-building code follow string hashing.
    Taking the hash seed from ``--seed`` makes a run repeat its plans,
    while runs with other seeds sample other hash orders, as processes
    with random hashing do.
    """
    p = argparse.ArgumentParser(add_help=False)
    p.add_argument("--seed", type=int, default=7)
    return str(p.parse_known_args(argv)[0].seed % 2**32)


if __name__ == "__main__" and (
    os.environ.get("PYTHONHASHSEED") != _hash_seed(sys.argv[1:])
):
    os.environ["PYTHONHASHSEED"] = _hash_seed(sys.argv[1:])
    os.execv(sys.executable, [sys.executable, *sys.argv])

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402

MIN_PASSES = 3
# the traced run's minimum, half of them traced: in some passes the
# streaming rollup's first micro-batch runs one job more (README.md), and
# a median over three traced passes absorbs one such pass
MIN_TRACED_PASSES = 6
# every workload's input multiplier for tools/make_scale_data.py; ``unit``
# in workloads.py is the size that varies
MULT = 1
# the inputs are a few MB; a small heap keeps the run's footprint small on
# a shared host (session.py defaults to 8g)
DRIVER_MEM = "2g"
SETUP_REPEATS = 3
# untimed noop passes after the cold pass: with one, the timed passes of a
# run still fell by up to a fifth from first to third as the JIT settled
WARMUP_PASSES = 2
CORES = len(os.sched_getaffinity(0))  # what nproc reports


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the Python
    workers able to import the package from any working directory."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    # both JVMs (launcher and Spark driver); -UsePerfData keeps them out of
    # the system temp directory
    opts = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}" + (
        f" {opts}" if opts else ""
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _session(work: str, trace: bool):
    from assemblagedb_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    """One benchmark run of one workload."""

    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.trace = bool(args.trace)
        self.attempted = 0
        self.errors: list[str] = []
        self.replicator = None
        self.spark = None
        self.spans = None  # the traced run's Spans

    # -- ops -----------------------------------------------------------------

    def _op(self, op: str, collect: bool):
        """Run one op to completion; returns the collected frame when
        ``collect`` is set (the cold pass), else sinks it to ``noop``."""
        from bench import reset_shared_caches

        from assemblagedb_spark.harness import SPARK_QUERIES

        if op == "replicate":
            if self.replicator is None:
                from replicate import Replicator

                self.replicator = Replicator(
                    self.spark, self.sf, self.work, self.args.seed
                )
            self.replicator.run()
            return None
        reset_shared_caches(op)
        df = SPARK_QUERIES[op](self.spark, self.sf)
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def cold_pass(self) -> float:
        """Untimed first pass: fills the harness memos and checks every op
        against its oracle. Returns the seconds spent in Spark."""
        from oracle import connect, mismatch

        from assemblagedb_spark.harness import ORACLES

        con = connect(self.sf)
        spark_s = 0.0
        for op in self.wl["ops"]:
            self.attempted += 1
            t0 = time.time()
            try:
                got = self._op(op, collect=True)
                spark_s += time.time() - t0
                if op != "replicate":
                    why = mismatch(got, con.execute(ORACLES[op]).fetchdf())
                    if why:
                        self.errors.append(f"{op}: {why}")
            except Exception as e:  # counted, reported, never fatal
                spark_s += time.time() - t0
                self.errors.append(f"{op}: {type(e).__name__}: {str(e)[:300]}")
        con.close()
        return spark_s

    def timed_pass(self, idx: int, traced: bool = False) -> dict:
        sc = self.spark.sparkContext
        ops = {}
        t0 = time.time()
        for op in self.wl["ops"]:
            self.attempted += 1
            if traced:
                sc.setJobDescription(f"perfbench {self.args.workload} pass {idx} {op}")
            span = self.spans.open(f"harness.{op}") if self.spans else None
            s = time.time()
            try:
                self._op(op, collect=False)
            except Exception as e:
                self.errors.append(f"pass {idx} {op}: {type(e).__name__}: {str(e)[:300]}")
            ops[op] = (s, time.time())
            if span is not None:
                self.spans.close(span)
        if traced:
            sc.setJobDescription(None)
        return {"start": t0, "end": time.time(), "ops": ops}

    # -- the run -------------------------------------------------------------

    def execute(self) -> dict:
        from inputs import make_inputs

        _configure_env(self.work)
        self.spark = _session(self.work, self.trace)
        session_s = time.time() - T_START

        self.sf = f"{self.work}/input"
        gen = []
        for _ in range(SETUP_REPEATS):
            t0 = time.time()
            make_inputs(self.sf, self.args.seed, self.wl["unit"], MULT)
            gen.append(time.time() - t0)
        cold_s = self.cold_pass()
        setup_s = session_s + _median(gen) + cold_s
        for i in range(WARMUP_PASSES):
            self.timed_pass(-1 - i)

        tracer = None
        if self.trace:
            from layers import Tracer

            tracer = Tracer(self.spark)
            self.spans = tracer.spans
        passes = []
        t0 = time.time()
        while len(passes) < (MIN_TRACED_PASSES if self.trace else MIN_PASSES) or (
            time.time() - t0 < self.args.seconds
        ):
            # the traced run interleaves untraced and traced passes in
            # ABBA order, so neither side gets the later, warmer passes
            traced = self.trace and len(passes) % 4 in (1, 2)
            if tracer:
                tracer.spans.enabled = traced
            p = self.timed_pass(len(passes), traced)
            p["traced"] = traced
            if tracer:
                tracer.after_pass(p, self)
            passes.append(p)
        if self.replicator is not None:
            self.attempted += 1
            why = self.replicator.mismatch()
            if why:
                self.errors.append(f"replicate: {why}")

        plain = [p["end"] - p["start"] for p in passes if not p["traced"]]
        meta = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "hash_seed": os.environ.get("PYTHONHASHSEED"),
            "cores": CORES,
            "driver_mem": DRIVER_MEM,
            "unit": self.wl["unit"],
            "mult": MULT,
            "spark": self.spark.version,
            "passes": len(passes),
            "session_s": round(session_s, 3),
            "input_gen_s": [round(g, 3) for g in gen],
            "cold_pass_s": round(cold_s, 3),
            "pass_times_s": [round(p["end"] - p["start"], 3) for p in passes],
            "op_median_s": {
                op: round(_median([p["ops"][op][1] - p["ops"][op][0] for p in passes]), 3)
                for op in self.wl["ops"]
            },
            "errors": self.errors,
        }
        if tracer:
            metrics = tracer.metrics(passes, self)
            tracer.dump(
                os.path.join(ROOT, ".bench_traces",
                             f"{self.args.workload}-seed{self.args.seed}.json"),
                metrics, meta,
            )
        else:
            metrics = {
                "pass_s": {"value": _median(plain), "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
        return {"meta": meta, "metrics": metrics}


def run_all(args) -> int:
    """Run every workload in its own process and print its metrics."""
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{name}: failed (exit {out.returncode})\n{out.stderr[-2000:]}")
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for k, m in res["metrics"].items():
            print(f"  {k:32s} {m['value']:.6g} {m['unit']}")
    return status


def _proc_stat(pid: int):
    """``(state, ppid, start time)`` of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[1]), fields[19]


def _descendants() -> dict[int, str]:
    """This process's live descendants, mapped to their start times."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        st = _proc_stat(int(d)) if d.isdigit() else None
        if st is not None and st[0] != "Z":
            kids.setdefault(st[1], []).append((int(d), st[2]))
    out, todo = {}, [os.getpid()]
    while todo:
        for pid, start in kids.get(todo.pop(), ()):
            out[pid] = start
            todo.append(pid)
    return out


def _alive(pid: int, start: str) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[0] != "Z" and st[2] == start


def _stop_processes(spark) -> None:
    """Stop the session, then the gateway JVM and every process under it
    (Python worker daemons and their workers), and wait until each one has
    ended. ``SparkSession.stop`` leaves the JVM running until this process
    exits, and the workers a moment longer."""
    from pyspark import SparkContext

    owned = _descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        owned.update(_descendants())
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin ends
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the workers' daemon puts them in a process group of its own, so
        # they outlive the JVM by a moment; escalate only if they hang
        t0 = time.time()
        sent = None
        while True:
            left = [pid for pid, start in owned.items() if _alive(pid, start)]
            waited = time.time() - t0
            if not left or waited > 30:
                return
            sig = signal.SIGKILL if waited > 15 else signal.SIGTERM if waited > 10 else None
            if sig is not None and sig != sent:
                for pid in left:
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
                sent = sig
            time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # runs the clean-up in main's finally


def main() -> int:
    args = _args()
    signal.signal(signal.SIGTERM, _on_sigterm)
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    run = Run(args, work)
    try:
        res = run.execute()
    finally:
        if "pyspark" in sys.modules:
            _stop_processes(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    failed = len(run.errors)
    print("# perfbench " + json.dumps(res["meta"]), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": res["metrics"],
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
