"""Spans around layer calls, and Spark's event log joined to them.

A :class:`Tracer` keeps spans in memory (name, start, end, parent,
op id). While a span is open, every Spark job the calling thread
starts carries the span in its job description, so the event log's
job, stage and task records can be attributed to the innermost open
span afterwards (:func:`read_event_log`, :func:`attribute_jobs`).

With tracing off the tracer records nothing and touches no Spark
state; ops then cost exactly what the program costs.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field

DESC_PREFIX = "perfbench:"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds (joins with the event log's epoch ms)
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    def _describe(self, span: Span | None) -> None:
        if self.spark is None:
            return
        desc = f"{DESC_PREFIX}{span.id}:{span.name}" if span else None
        self.spark.sparkContext.setJobDescription(desc)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
            op=self.op,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        around each call; ``after(span, result, args)`` may annotate."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if after is not None and s is not None:
                    after(s, out, args)
                return out

        wrapped.__wrapped__ = fn
        setattr(owner, attr, wrapped)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def spark_conf_dir(conf_dir: str, event_dir: str | None) -> str:
    """Write a benchmark-owned ``SPARK_CONF_DIR``: no console progress
    bar, warnings-only logging and, when ``event_dir`` is given, an
    uncompressed single-file event log (Spark 4 otherwise writes
    zstd-compressed rolling logs)."""
    os.makedirs(conf_dir, exist_ok=True)
    lines = ["spark.ui.showConsoleProgress false"]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{os.path.abspath(event_dir)}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    return conf_dir


@dataclass
class Job:
    id: int
    span: int | None
    submit: float  # epoch seconds
    complete: float
    stages: list[int]
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(path: str) -> list[Job]:
    """Jobs of one application's event log, each with the summed
    metrics of the tasks of its stages."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                span = None
                if desc.startswith(DESC_PREFIX):
                    span = int(desc[len(DESC_PREFIX):].split(":", 1)[0])
                job = Job(
                    id=ev["Job ID"],
                    span=span,
                    submit=ev["Submission Time"] / 1000,
                    complete=ev["Submission Time"] / 1000,
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[job.id] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].complete = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_s += m.get("Executor Run Time", 0) / 1e3
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return sorted(jobs.values(), key=lambda j: j.id)


def event_log_file(event_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {event_dir}, found {files}")
    return files[0]


def attribute_jobs(spans: list[dict], jobs: list[Job]) -> None:
    """Join jobs to spans in place: each span gets the jobs started
    under it or under its descendants (``jobs``, ``tasks``, summed
    task metrics), its self time, and ``driver_s``, the part of its
    wall time that no job of its subtree covers."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        s["self_s"] = s["end"] - s["start"]
        s["job_ids"] = []
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    for j in jobs:
        sid = j.span
        while sid is not None and sid in by_id:
            by_id[sid]["job_ids"].append(j.id)
            sid = by_id[sid]["parent"]
    job_by_id = {j.id: j for j in jobs}
    for s in spans:
        mine = [job_by_id[i] for i in s["job_ids"]]
        s["jobs"] = len(mine)
        s["tasks"] = sum(j.tasks for j in mine)
        s["run_s"] = sum(j.run_s for j in mine)
        s["cpu_s"] = sum(j.cpu_s for j in mine)
        s["gc_s"] = sum(j.gc_s for j in mine)
        s["shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in mine)
        s["spill_bytes"] = sum(j.spill_bytes for j in mine)
        covered = _union(
            [(max(j.submit, s["start"]), min(j.complete, s["end"])) for j in mine]
        )
        s["driver_s"] = max(s["end"] - s["start"] - covered, 0.0)
        kids = [(by_id[c]["start"], by_id[c]["end"]) for c in children.get(s["id"], [])]
        s["self_s"] = max(s["end"] - s["start"] - _union(kids), 0.0)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
