"""Shared run state: environment, ops, set-up parts, host record and
the run artifact.

One :class:`Run` per benchmark invocation. Ops run one at a time (a
closed loop with one client); each op's wall time and CPU seconds are
recorded by op index and phase (``check``, ``warmup``, ``timed``) so
the artifact holds the whole warm-up curve.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

from spans import Tracer, spark_conf_dir

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"

#: Per-layer metrics every traced run reports (BENCHMARK.json
#: ``per_layer``); a layer the workload does not call reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "query.build_s": "s",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.jobs": "count",
    "query.tasks": "count",
    "decode.xz_s": "s",
    "decode.bz2_s": "s",
    "decode.deflate_s": "s",
    "decode.zstd_s": "s",
    "kernel.xz_ms": "ms",
    "kernel.bz2_ms": "ms",
    "kernel.deflate_ms": "ms",
    "kernel.zstd_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_worker_s": "s",
    "spark.driver_s": "s",
    "harness.reset_s": "s",
    "trace.op_p50_s": "s",
    "trace.op_cpu_s": "s",
}

#: Per-layer metrics of the ETL workload's traced run, on top of
#: :data:`PER_LAYER`.
ETL_LAYER = {
    "pipeline.clean_s": "s",
    "pipeline.scd2_s": "s",
    "pipeline.dims_s": "s",
    "pipeline.aggregate_s": "s",
    "pipeline.marts_s": "s",
    "pipeline.clean.jobs": "count",
    "pipeline.scd2.jobs": "count",
    "pipeline.dims.jobs": "count",
    "pipeline.aggregate.jobs": "count",
    "pipeline.marts.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.driver_s": "s",
    "ledger.s": "s",
    "sources.commit_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
}

#: End-to-end metrics every untraced run reports (BENCHMARK.json
#: ``end_to_end``). Op cost is CPU seconds of the whole process tree
#: (driver, JVM, Python workers), not wall time: on a shared host the
#: hypervisor steals CPU from the run, which stretches wall time but
#: is not charged to the processes (README.md, "Why CPU seconds").
END_TO_END = {"op_cpu_s": "s", "setup_s": "s"}

#: End-to-end metrics only the ETL workload has.
ETL_END_TO_END = {"rows_per_cpu_s": "rows/cpu_s", "bytes_per_input_byte": "ratio"}

#: Input generation is repeated this many times per run; set-up time
#: counts the median repetition.
GEN_REPEATS = 3


def host_sample() -> dict:
    """1- and 5-minute load averages and cumulative CPU steal."""
    with open("/proc/loadavg") as fh:
        load1, load5 = (float(x) for x in fh.read().split()[:2])
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {
        "time": time.time(),
        "load1": load1,
        "load5": load5,
        "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
        "total_jiffies": sum(cpu),
    }


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and
    every process below it (the JVM, its Python workers, an ETL child),
    reaped children included."""
    pid = os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid, *_descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / tick


def host_record(start: dict, end: dict) -> dict:
    total = end["total_jiffies"] - start["total_jiffies"]
    steal = end["steal_jiffies"] - start["steal_jiffies"]
    return {"start": start, "end": end, "steal_share": steal / total if total else 0.0}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop a session, then wait until its JVM and every process the
    JVM started (the Python worker daemon and its workers) have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, smoke: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.smoke = smoke
        self.cpus = cpus()
        self.work = OUT / "work"
        shutil.rmtree(self.work, ignore_errors=True)
        self.local_dirs = self.work / "spark-local"
        self.local_dirs.mkdir(parents=True)
        self.event_dir = self.work / "events" if trace else None
        self.host_start = host_sample()
        self.ops: list[dict] = []
        self.setup: dict[str, float] = {}
        self.checks: list[dict] = []
        self.notes: dict = {}
        self.spark = None
        self.tracer = Tracer(False)

    # ---------------- environment ----------------
    def child_env(self, conf_dir: Path | None = None, event_dir: Path | None = None) -> dict:
        """Environment for Spark (and the ETL child processes): the
        package on the path of Python workers, ``local[nproc]``, and
        benchmark-owned local and conf directories."""
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
        )
        env["SPARK_GRAFT_CPUS"] = str(self.cpus)
        env["SPARK_LOCAL_DIRS"] = str(self.local_dirs)
        env["SPARK_CONF_DIR"] = spark_conf_dir(
            str(conf_dir or self.work / "conf"),
            str(event_dir) if event_dir else None,
        )
        return env

    def start_spark(self):
        """Start the run's long-lived session; times ``get_spark``."""
        os.environ.update(self.child_env(event_dir=self.event_dir))
        from datawarehouseproject_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.setup["session_start_s"] = time.perf_counter() - t0
        self.tracer = Tracer(self.trace, self.spark)
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    # ---------------- set-up ----------------
    def repeat_setup(self, name: str, fn) -> object:
        """Run ``fn(k)`` :data:`GEN_REPEATS` times; record the median
        time as set-up part ``name``; fail the run if the repetitions
        disagree (``fn`` returns a digest of what it made)."""
        times, digests = [], []
        for k in range(GEN_REPEATS):
            t0 = time.perf_counter()
            digests.append(fn(k))
            times.append(time.perf_counter() - t0)
        self.setup[name] = statistics.median(times)
        self.setup[name + "_all"] = times
        if len(set(digests)) != 1:
            raise RuntimeError(f"{name}: the same seed gave different inputs: {digests}")
        return digests[0]

    # ---------------- ops ----------------
    def op(self, phase: str, name: str, fn, **info) -> dict:
        """Run one op, timed, under an ``op`` span; a raise is a failed
        op. Returns the op record."""
        rec = {"i": len(self.ops), "phase": phase, "name": name, **info}
        self.tracer.op = rec["i"]
        h0 = host_sample()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", phase=phase, op_name=name):
                rec["result"] = fn()
            rec["ran"] = rec["ok"] = True
        except Exception as e:  # noqa: BLE001 - a failed op is data, not a crash
            rec["ran"] = rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            traceback.print_exc(file=sys.stderr)
        rec["t"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - c0
        rec["steal_share"] = host_record(h0, host_sample())["steal_share"]
        self.ops.append(rec)
        self.reset(rec)
        return rec

    def reset(self, rec: dict, extra=None) -> None:
        """Untimed clean-up between ops, recorded as ``reset_s``."""
        t0 = time.perf_counter()
        with self.tracer.span("harness.reset"):
            if self.spark is not None:
                self.spark.catalog.clearCache()
            gc.collect()
            if extra is not None:
                extra()
        rec["reset_s"] = time.perf_counter() - t0

    def fail_op(self, rec: dict, why: str) -> None:
        """Mark an op that ran as failed by its output check."""
        rec["ok"] = False
        rec["error"] = (rec.get("error", "") + "; " if rec.get("error") else "") + why

    def timed(self) -> list[dict]:
        """Timed ops that ran to completion (their output check may
        still have failed them)."""
        return [o for o in self.ops if o["phase"] == "timed" and o["ran"]]

    def keep_timing(self, min_ops: int) -> bool:
        """Time another op until ``--seconds`` of op time and
        ``min_ops`` ops are reached; stop at the first timed op that
        raised."""
        timed = [o for o in self.ops if o["phase"] == "timed"]
        if any(not o["ran"] for o in timed):
            return False
        return sum(o["t"] for o in timed) < self.seconds or len(timed) < min_ops

    def warm_total(self) -> float:
        return sum(o["t"] + o["reset_s"] for o in self.ops if o["phase"] != "timed")

    # ---------------- metrics ----------------
    def end_to_end(self, input_bytes) -> dict:
        """The shared end-to-end metrics over the timed ops;
        ``input_bytes(op)`` gives the bytes of input files an op read.
        The wall-time view of the same ops goes to ``notes["wall"]``."""
        ops = self.timed()
        if not ops:
            raise RuntimeError("no timed op succeeded")
        mb = sum(input_bytes(o) for o in ops) / 1e6
        cpu = sum(o["cpu_s"] for o in ops)
        self.notes["wall"] = {
            "op_p50_s": statistics.median(o["t"] for o in ops),
            "mb_per_s": mb / sum(o["t"] for o in ops),
            "steal_share": statistics.median(o["steal_share"] for o in ops),
        }
        self.notes["op_cpu_p50_s"] = statistics.median(o["cpu_s"] for o in ops)
        self.notes["mb_per_cpu_s"] = mb / cpu
        return {"op_cpu_s": cpu / len(ops), "setup_s": self.setup_total()}

    def setup_total(self) -> float:
        """Session start + median input generation (+ the ETL day-1
        warehouse) + check and warm-up ops with their resets."""
        parts = ("session_start_s", "generate_s", "day1_s")
        return sum(self.setup.get(p, 0.0) for p in parts) + self.warm_total()

    def shape(self) -> dict:
        """Timing shape of the timed ops for the artifact: sample
        count, ops per second of op time, the highest percentile with
        at least ten samples beyond it, and the warm-up trend of op
        CPU seconds (``trend``: second-half mean over first-half mean,
        minus one, the statistic ``op_cpu_s`` reports) and of op wall
        time (``wall_trend``: the same with medians)."""
        timed = self.timed()
        ts = [o["t"] for o in timed]
        cpu = [o["cpu_s"] for o in timed]
        n = len(ts)
        out: dict = {"n": n, "ops_per_s": n / sum(ts)}
        for key, xs in (("", ts), ("cpu_", cpu)):
            if n >= 100:
                out[f"op_{key}p90_s"] = percentile(xs, 0.9)
            elif n > 10:
                q = 1 - 10 / n
                out[f"{key}tail"] = {"q": q, "value_s": percentile(xs, q)}
        if n >= 2:
            half = n // 2
            for key, xs, stat in (
                ("trend", cpu, statistics.mean),
                ("wall_trend", ts, statistics.median),
            ):
                out[key] = stat(xs[n - half:]) / stat(xs[:half]) - 1
        return out

    def base_layers(self) -> dict:
        return {k: 0 for k in PER_LAYER}

    def write_artifact(self, result: dict, shape: dict) -> Path:
        runs = OUT / "runs"
        runs.mkdir(parents=True, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        path = runs / f"{self.workload}-seed{self.seed}-trace{int(self.trace)}-{stamp}.json"
        spans = self.notes.pop("spans", None)
        art = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "smoke": self.smoke,
            "cpus": self.cpus,
            "host": host_record(self.host_start, host_sample()),
            "setup": self.setup,
            "ops": [{k: v for k, v in o.items() if k != "result"} for o in self.ops],
            "checks": self.checks,
            "shape": shape,
            "result": result,
            "notes": self.notes,
            "spans": spans,
        }
        path.write_text(json.dumps(art, indent=1, default=str))
        return path

    def last_untraced(self) -> dict | None:
        """The newest untraced artifact of this workload, if any."""
        runs = sorted(
            (OUT / "runs").glob(f"{self.workload}-seed*-trace0-*.json"),
            key=lambda p: p.stat().st_mtime,
        )
        for p in reversed(runs):
            art = json.loads(p.read_text())
            if art.get("smoke") == self.smoke and "op_cpu_s" in art["result"]["metrics"]:
                return {
                    "file": p.name,
                    "op_p50_s": art["notes"]["wall"]["op_p50_s"],
                    "op_cpu_s": art["result"]["metrics"]["op_cpu_s"]["value"],
                }
        return None
