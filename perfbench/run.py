"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload crawl_events --seed 1 --seconds 15 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on spans,
the engine's phase tracer and the Spark event log and reports the per-layer
metrics. Exits 1 when the correctness gate fails (the result line is still
printed, with ``correct: false``) and 2 when the program cannot run.
Run from the repository root; scratch files live under ``.perfbench_work/``
and a run record (host noise, metrics, spans) under ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Context:
    """What a workload gets: the session, the recorders, and the hooks that
    mark where set-up ends and which wall-clock window was timed."""

    def __init__(self, args, work: str, started: float):
        from perfbench.harness import RssPeak, Spans

        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.spans = Spans(enabled=bool(args.trace), run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        self.rss = RssPeak()
        self.started = started
        self.spark = None
        self.session_build_s = 0.0
        self.setup_s = None
        self.window = (0.0, 0.0)
        self.items = 0

    def build_session(self) -> None:
        from perfbench.harness import build

        t = time.perf_counter()
        with self.spans.span("session.build"):
            self.spark = build(self.work, bool(self.spans.enabled))
        self.session_build_s = time.perf_counter() - t

    def setup_done(self) -> None:
        self.rss.sample()
        self.setup_s = time.time() - self.started

    def timed_window(self, start_wall: float, end_wall: float) -> None:
        self.window = (start_wall, end_wall)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # set before pyspark or the engine is imported: the engine reads its
    # phase-trace switch at import, and the JVM and Python workers inherit
    # the environment (workers import ghcrawler_spark from ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_TRACE"] = "1" if args.trace else "0"
    sys.path.insert(0, ROOT)

    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))


def _run(args, work: str) -> int:
    try:
        from perfbench import spec
        from perfbench.harness import (
            job_latency_probe,
            loadavg,
            process_start_time,
            read_event_log,
            shutdown,
        )
        from perfbench.workloads import WORKLOADS
    except ImportError as e:  # the program under test is not in this tree
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    ctx = Context(args, work, process_start_time())
    load_start = loadavg()
    ctx.build_session()
    try:
        out = WORKLOADS[args.workload](ctx)
        ctx.rss.sample()
        t = time.perf_counter()
        probe_s = job_latency_probe(ctx.spark)
        out["notes"]["probe_s"] = time.perf_counter() - t
        layer = dict.fromkeys(spec.PER_LAYER, 0.0)
        layer.update({k: v for k, v in out["layer"].items() if k in layer})
        layer["session.build_s"] = ctx.session_build_s
        layer["process.peak_rss_mb"] = ctx.rss.value
        e2e = dict(out["e2e"], setup_s=ctx.setup_s)
    finally:
        shutdown(ctx.spark)
    if args.trace:
        ev = read_event_log(work, *ctx.window)
        layer.update({
            "spark.shuffle_bytes_per_item": ev["shuffle_bytes"] / max(ctx.items, 1),
            "spark.spill_bytes": ev["spill_bytes"],
            "spark.gc_s": ev["gc_s"],
            "spark.executor_busy_frac": ev["executor_busy_frac"],
            "spark.task_skew": ev["task_skew"],
        })
        # a span "x.y" reports its self time as the layer metric "x.y_s"
        for name, secs in ctx.spans.self_times().items():
            if f"{name}_s" in layer:
                layer[f"{name}_s"] = secs
        for k in spec.E2E:
            layer[f"traced.{k}"] = e2e[k]

    units = dict(spec.E2E, **spec.PER_LAYER)
    shown = layer if args.trace else e2e
    metrics = {k: {"value": float(shown[k]), "unit": units[k]}
               for k in (spec.PER_LAYER if args.trace else spec.E2E)}
    failed, attempted = int(out["failed"]), int(out["attempted"])
    correct = failed == 0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "attempted": attempted,
        "failed": failed, "error_frac": failed / attempted,
        "host": {"loadavg_start": load_start, "loadavg_end": loadavg(),
                 "job_latency_probe_s": probe_s, "cpus": os.cpu_count()},
        "gate": out["notes"], "metrics": metrics,
    }
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    with open(os.path.join(runs, name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        ctx.spans.dump(os.path.join(runs, name + ".spans.jsonl"))
    print(json.dumps({"error_frac": record["error_frac"], "host": record["host"],
                      "gate": record["gate"]}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
