"""Per-layer table and tracing overhead for the doc.

    python3 perfbench/report.py --seed 1 --seconds 15 [--workload query ...]

Runs each workload twice with the same seed, untraced then traced, and
prints markdown: the traced per-layer metrics, then each end-to-end
metric untraced, traced and their difference (the tracing overhead).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("query", "pipeline")


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    if not last["correct"]:
        failures = [line for line in p.stdout.splitlines() if line.startswith("perfbench: FAILED")]
        print(f"{workload} trace={trace} seed={seed}: " + "\n".join(failures), file=sys.stderr)
    if trace:
        with open(os.path.join(harness.WORK_ROOT, workload, "result.json")) as fh:
            last["detail"] = json.load(fh)
    return last


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--workload", action="append", choices=WORKLOADS)
    args = p.parse_args(argv)
    names = args.workload or list(WORKLOADS)
    plain, traced = {}, {}
    for w in names:
        plain[w] = run(w, args.seed, args.seconds, 0)
        traced[w] = run(w, args.seed, args.seconds, 1)
    print(f"per-layer metrics, traced run, seed {args.seed}, {args.seconds:g} s\n")
    print("| metric | unit | " + " | ".join(names) + " |")
    print("|---|---|" + "---|" * len(names))
    for k, (unit, _, _) in metrics.PER_LAYER.items():
        vals = [traced[w]["detail"]["per_layer"][k] for w in names]
        print(f"| {k} | {unit} | " + " | ".join(f"{v:.4g}" for v in vals) + " |")
    print("\ntracing overhead: untraced / traced / traced minus untraced\n")
    print("| metric | unit | " + " | ".join(names) + " |")
    print("|---|---|" + "---|" * len(names))
    for k, (unit, _, _) in metrics.END_TO_END.items():
        cells = []
        for w in names:
            a = plain[w]["metrics"][k]["value"]
            b = traced[w]["detail"]["end_to_end"][k]
            cells.append(f"{a:.4g} / {b:.4g} / {b - a:+.4g}")
        print(f"| {k} | {unit} | " + " | ".join(cells) + " |")
    correct = all(r["correct"] for r in list(plain.values()) + list(traced.values()))
    print(f"\nall runs correct: {correct}")
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
