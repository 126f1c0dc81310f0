"""Benchmark of the warehouse engine: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Workloads (README.md): ``etl_daily`` (nightly pipeline, a cold process
per day), ``query_mix`` (19 TPC-H-style queries, warm) and
``archive_decode`` (codec extractors, warm). Inputs are generated from
``--seed``; ops run one at a time on ``local[nproc]``; every op's
output is checked. With ``--trace 0`` the run reports end-to-end
metrics, with ``--trace 1`` per-layer metrics from spans joined to
Spark's event log. ``--smoke`` shrinks every input to a few hundred
rows or payloads.

Prints one line per metric, then, as the last line of stdout, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The
run's full record (every op by index, set-up parts, checks, host load,
spans) goes to ``perfbench/out/runs/``. Exits non-zero, without a
result, when the engine cannot be imported or set-up fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import statistics
import sys

from harness import END_TO_END, ETL_END_TO_END, ETL_LAYER, PER_LAYER, ROOT, Run

WORKLOADS = ("etl_daily", "query_mix", "archive_decode")


def _per_op(spans: list[dict], ops: set[int], pred, value) -> float:
    """Mean over the timed ops of ``value`` summed over the op's spans
    matching ``pred``."""
    return sum(value(s) for s in spans if s["op"] in ops and pred(s)) / len(ops)


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _named(*names: str):
    return lambda s: s["name"] in names


def layer_metrics(r: Run, spans: list[dict], extra: dict) -> dict:
    """Per-layer metrics of a traced run, as means per timed op."""
    timed = r.timed()
    ops = {o["i"] for o in timed}
    by_id = {s["id"]: s for s in spans}

    def top(prefix: str):
        """Spans named ``prefix*`` whose parent is not one too."""

        def pred(s):
            parent = by_id.get(s["parent"])
            return s["name"].startswith(prefix) and not (
                parent and parent["name"].startswith(prefix)
            )

        return pred

    def per_op(pred, value) -> float:
        return _per_op(spans, ops, pred, value)

    is_op = _named("op")
    out = r.base_layers()
    out.update(
        {
            "session.start_s": r.setup.get("session_start_s")
            or per_op(_named("session.start"), _dur),
            "query.build_s": per_op(_named("query.build"), _dur),
            "query.plan_s": per_op(_named("query.plan"), _dur),
            "query.exec_s": per_op(_named("query.exec"), _dur),
            "query.jobs": per_op(top("query."), lambda s: s["jobs"]),
            "query.tasks": per_op(top("query."), lambda s: s["tasks"]),
            "spark.jobs": per_op(is_op, lambda s: s["jobs"]),
            "spark.tasks": per_op(is_op, lambda s: s["tasks"]),
            "spark.executor_cpu_s": per_op(is_op, lambda s: s["cpu_s"]),
            "spark.executor_run_s": per_op(is_op, lambda s: s["run_s"]),
            "spark.gc_s": per_op(is_op, lambda s: s["gc_s"]),
            "spark.shuffle_write_bytes": per_op(is_op, lambda s: s["shuffle_write_bytes"]),
            "spark.spill_bytes": per_op(is_op, lambda s: s["spill_bytes"]),
            "spark.python_worker_s": per_op(
                top("decode."), lambda s: max(s["run_s"] - s["cpu_s"], 0.0)
            ),
            "spark.driver_s": per_op(is_op, lambda s: s["driver_s"]),
            "harness.reset_s": statistics.mean(o["reset_s"] for o in timed),
            "trace.op_p50_s": statistics.median(o["t"] for o in timed),
            "trace.op_cpu_s": statistics.mean(o["cpu_s"] for o in timed),
        }
    )
    for codec in ("xz", "bz2", "deflate", "zstd"):
        out[f"decode.{codec}_s"] = per_op(_named(f"decode.{codec}"), _dur)
    out.update(extra)
    if r.workload == "etl_daily":
        stages = ("clean", "scd2", "dims", "aggregate", "marts")
        for st in stages:
            out[f"pipeline.{st}_s"] = per_op(_named(f"pipeline.{st}"), _dur)
            out[f"pipeline.{st}.jobs"] = per_op(_named(f"pipeline.{st}"), lambda s: s["jobs"])
        stage_spans = _named(*(f"pipeline.{st}" for st in stages))
        commits = top("sources.")
        out.update(
            {
                "pipeline.tasks": per_op(_named("pipeline.run_day"), lambda s: s["tasks"]),
                "pipeline.driver_s": per_op(stage_spans, lambda s: s["driver_s"]),
                "ledger.s": per_op(top("ledger."), _dur),
                "sources.commit_s": per_op(
                    lambda s: commits(s) and "files" in s["attrs"], _dur
                ),
                "sources.files_written": per_op(commits, lambda s: s["attrs"].get("files", 0)),
                "sources.bytes_written": per_op(commits, lambda s: s["attrs"].get("bytes", 0)),
            }
        )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import datawarehouseproject_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine package: {e}", file=sys.stderr)
        return 2

    workload = importlib.import_module(args.workload)
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    try:
        metrics, extra = workload.run(r)
    finally:
        r.stop_spark()

    units = dict(END_TO_END)
    if args.workload == "etl_daily":
        units.update(ETL_END_TO_END)
    if r.trace:
        spans = r.notes.get("spans")
        if spans is None:
            from spans import attribute_jobs, event_log_file, read_event_log

            spans = r.tracer.dump()
            attribute_jobs(spans, read_event_log(event_log_file(str(r.event_dir))))
            r.notes["spans"] = spans
        r.notes["end_to_end"] = metrics
        metrics = layer_metrics(r, spans, extra)
        units = dict(PER_LAYER)
        if args.workload == "etl_daily":
            units.update(ETL_LAYER)
        untraced = r.last_untraced()
        if untraced:
            r.notes["tracing_overhead_s"] = {
                "cpu": metrics["trace.op_cpu_s"] - untraced["op_cpu_s"],
                "wall": metrics["trace.op_p50_s"] - untraced["op_p50_s"],
                "untraced_run": untraced["file"],
            }

    failed = sum(1 for o in r.ops if not o["ok"])
    result = {
        "correct": failed == 0,
        "attempted": len(r.ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    shape = r.shape()
    artifact = r.write_artifact(result, shape)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"ops attempted {len(r.ops)} failed {failed} timed {shape['n']}")
    for k, u in units.items():
        print(f"  {k:28s} {metrics[k]:14.6g} {u}")
    if "wall" in r.notes:
        w = r.notes["wall"]
        print(f"  wall time (not a gated metric): op_p50_s {w['op_p50_s']:.4g} s, "
              f"mb_per_s {w['mb_per_s']:.4g} MB/s, ops_per_s {shape['ops_per_s']:.4g} 1/s, "
              f"median CPU steal {w['steal_share']:.3f}")
        print(f"  op_cpu_p50_s {r.notes['op_cpu_p50_s']:.4g} s, "
              f"mb_per_cpu_s {r.notes['mb_per_cpu_s']:.4g} MB/cpu_s")
    if "trend" in shape:
        print(f"  warm-up trend (2nd half / 1st half - 1): CPU mean {shape['trend']:+.3f}, "
              f"wall median {shape['wall_trend']:+.3f}")
    if "tracing_overhead_s" in r.notes:
        o = r.notes["tracing_overhead_s"]
        print(f"  tracing overhead: op_cpu_s {o['cpu']:+.4f} s, op_p50_s {o['wall']:+.4f} s")
    for o in r.ops:
        if not o["ok"]:
            print(f"  FAILED op {o['i']} ({o['phase']} {o['name']}): {o['error']}")
    print(f"  artifact: {artifact.relative_to(ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
