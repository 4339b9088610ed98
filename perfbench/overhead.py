#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced, for each end-to-end metric.

    python3 perfbench/overhead.py --seed 1

Runs every workload twice with the same seed and BENCHMARK.json's
``run_seconds``, once with ``--trace 0`` and once with ``--trace 1``,
and prints, per workload and end-to-end metric, the untraced value, the
traced value (recorded in the trace file) and their difference.  The
table is also written to ``.perfbench/overhead.json``.  One pair is one
sample: repeat over seeds before reading a difference smaller than the
metric's run-to-run spread.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402


def _run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(harness.SPEC["run_seconds"]),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} failed:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    table: dict[str, dict] = {}
    for w in harness.ALL:
        plain = _run(w, args.seed, 0)["metrics"]
        _run(w, args.seed, 1)
        with open(os.path.join(ROOT, ".perfbench", "trace", f"{w}-seed{args.seed}.json")) as f:
            traced = json.load(f)["values"]
        table[w] = {
            name: {"untraced": m["value"], "traced": traced[name],
                   "traced_minus_untraced": traced[name] - m["value"], "unit": m["unit"]}
            for name, m in plain.items()
        }
        for name, row in table[w].items():
            print(f"{w:9s} {name:18s} {row['untraced']:12.4f} {row['traced']:12.4f} "
                  f"{row['traced_minus_untraced']:+12.4f} {row['unit']}")
    with open(os.path.join(ROOT, ".perfbench", "overhead.json"), "w") as f:
        json.dump({"seed": args.seed, "seconds": harness.SPEC["run_seconds"],
                   "workloads": table}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
