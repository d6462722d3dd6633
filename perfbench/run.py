"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

With --trace 0 the last stdout line is a JSON object holding the
end-to-end metrics; with --trace 1 it holds the per-layer metrics of a
separate traced run (spans written to .perfbench_work/<workload>/spans.json).
Lines before it are a human-readable table with each metric's unit and
sample count. The exit code is non-zero when the run could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import harness
import metrics
import workloads
from harness import OpLog
from tracing import (NullTracer, Tracer, attribute_jobs, children, find_event_log, gap_ms,
                     parse_event_log, span_table)

SETUPS = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(setups: list[float], ops: OpLog) -> dict[str, tuple[float, int]]:
    """metric -> (value, sample count)."""
    n = len(ops.latencies_s)
    return {
        "setup_s": (statistics.median(setups), len(setups)),
        "op_p50_ms": (statistics.median(ops.latencies_s) * 1000.0, n),
        "ops_per_s": (n / ops.busy_s, n),
    }


def spark_layers(spans, log, window: tuple[float, float]) -> dict[str, float]:
    """Engine totals over the measured window, from the event log."""
    probe = {s.sid for s in spans if s.name == "perfbench.probe"}
    probe_jobs = {j.jid for s in spans if s.sid in probe for j in s.jobs}
    lo, hi = window
    jobs = [j for j in log.jobs if lo <= j.start <= hi and j.jid not in probe_jobs]
    wall_ms = (hi - lo) * 1000.0
    kids = children(spans)
    top = [s for s in spans if s.parent is None and s.name != "perfbench.probe"]
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(sum(j.stages_run for j in jobs)),
        "spark.tasks": float(sum(j.tasks for j in jobs)),
        "spark.task_run_ms": sum(j.run_ms for j in jobs),
        "spark.task_cpu_ms": sum(j.cpu_ms for j in jobs),
        "spark.gc_ms": sum(j.gc_ms for j in jobs),
        "spark.shuffle_read_bytes": float(sum(j.shuffle_read for j in jobs)),
        "spark.shuffle_write_bytes": float(sum(j.shuffle_write for j in jobs)),
        "spark.output_bytes": float(sum(j.output_bytes for j in jobs)),
        "spark.output_files": float(sum(n for t, n in log.written_files if lo <= t <= hi)),
        "spark.driver_gap_ms": sum(gap_ms(s, kids) for s in top),
        "spark.busy_ratio": sum(j.run_ms for j in jobs) / (wall_ms * harness.CPUS),
        "arrow.python_ms": sum(j.python_ms for j in jobs),
        "arrow.bytes_to_python": float(sum(j.to_python for j in jobs)),
        "arrow.bytes_from_python": float(sum(j.from_python for j in jobs)),
    }


def print_table(title: str, rows: list[tuple[str, float, str, int | str]]) -> None:
    print(title)
    print(f"  {'metric':<30} {'value':>16} {'unit':<8} {'n':>6}")
    for name, value, unit, n in rows:
        print(f"  {name:<30} {value:>16.4f} {unit:<8} {n!s:>6}")


def main(argv: list[str]) -> int:
    began = time.perf_counter()
    args = parse_args(argv)
    work = os.path.join(harness.WORK_ROOT, args.workload)
    harness.fresh_dir(work)
    harness.prepare_process(work)
    try:
        import data_ingestion_pipeline_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {harness.ROOT}: {e}", file=sys.stderr)
        return 2
    from pyspark import SparkContext

    tracer = Tracer(lambda: SparkContext._active_spark_context) if args.trace else NullTracer()
    wl = workloads.WORKLOADS[args.workload](args.seed, work, tracer)
    spark = None
    try:
        rehearsal = 0.0
        gen, start, warm, total = [], [], [], []
        for i in range(SETUPS):
            if i == 1:
                # untimed, on the first set-up's state; the next set-up
                # makes the inputs afresh
                t0 = time.perf_counter()
                wl.measure(spark, wl.rehearsal_s, OpLog())
                rehearsal = time.perf_counter() - t0
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            wl.make_inputs()
            t1 = time.perf_counter()
            spark = harness.start_session(work, event_log=bool(args.trace))
            t2 = time.perf_counter()
            wl.warm_up(spark)
            t3 = time.perf_counter()
            gen.append(t1 - t0)
            start.append(t2 - t1)
            warm.append(t3 - t2)
            total.append(t3 - t0)

        ops = OpLog()
        if args.trace:
            wl.install_wraps(spark)
        harness.reset_peak_rss()
        window = (time.time(), 0.0)
        wl.measure(spark, args.seconds, ops)
        window = (window[0], time.time())
        rss = harness.peak_rss_mb()  # before the gate: its reference data is not the engine's
        tracer.unwrap_all()
        wl.final_check(spark, ops)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        harness.shutdown_jvm()

    if not ops.latencies_s or ops.busy_s <= 0:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    e2e = end_to_end(total, ops)
    rows = [(k, v, metrics.END_TO_END[k][0], n) for k, (v, n) in e2e.items()]
    rows.append(("peak_rss_mb", rss, "MB", 1))
    n = len(ops.latencies_s)
    if harness.has_p90(n):
        rows.append(("op_p90_ms", harness.percentile(ops.latencies_s, 90) * 1000.0, "ms", n))
    rows.append(("failed_op_ratio", ops.failed / ops.attempted, "ratio", ops.attempted))
    rows += [(k, v, "", "") for k, v in wl.notes.items()]
    rows.append(("rehearsal_s", rehearsal, "s", 1))
    rows += [(f"setup{i + 1}_s", t, "s", 1) for i, t in enumerate(total)]
    rows.append(("run_s", time.perf_counter() - began, "s", 1))
    print_table(f"perfbench {args.workload} seed={args.seed} trace={args.trace}", rows)
    print("  op latencies ms: " + " ".join(f"{x * 1000:.0f}" for x in ops.latencies_s))

    if args.trace:
        log = parse_event_log(find_event_log(os.path.join(work, "eventlog"), app_id))
        attribute_jobs(tracer.spans, log.jobs)
        layer = {k: 0.0 for k in metrics.PER_LAYER}
        layer.update({"driver.peak_rss_mb": rss, "session.start_s": statistics.median(start),
                      "session.warmup_s": statistics.median(warm),
                      "inputs.gen_s": statistics.median(gen), "session.rehearsal_s": rehearsal})
        measured = [s for s in tracer.spans if s.start >= window[0]]
        layer.update(spark_layers(measured, log, window))
        layer.update(wl.layers(measured))
        tracer.dump(os.path.join(work, "spans.json"))
        print("spans (self = wall minus child spans, gap = wall minus its jobs)")
        print(f"  {'span':<36} {'calls':>6} {'total_ms':>10} {'self_ms':>10} {'gap_ms':>10} {'jobs':>6} {'tasks':>7}")
        for r in span_table(measured):
            print(f"  {r['name']:<36} {r['calls']:>6} {r['total_ms']:>10.1f} {r['self_ms']:>10.1f} "
                  f"{r['gap_ms']:>10.1f} {r['jobs']:>6} {r['tasks']:>7}")
        print_table("per-layer", [(k, v, metrics.PER_LAYER[k][0], "") for k, v in layer.items()])
        out = {k: {"value": v, "unit": metrics.PER_LAYER[k][0]} for k, v in layer.items()}
        with open(os.path.join(work, "result.json"), "w") as fh:
            json.dump({"end_to_end": {k: v for k, (v, _) in e2e.items()}, "per_layer": layer}, fh)
    else:
        out = {k: {"value": v, "unit": metrics.END_TO_END[k][0]} for k, (v, _) in e2e.items()}
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
