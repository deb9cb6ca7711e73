#!/usr/bin/env python3
"""Write the traced layer table of every workload, with the tracing
overhead, as markdown on stdout.

    python3 perfbench/layer_report.py --seed 1 > perfbench/LAYERS.md

Per workload it makes one untraced and one traced run on the same seed.
The tracing overhead is the difference of their `wall_s` (the traced run
reports its own as `trace.wall_s`).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: str, trace: int) -> dict:
    p = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", seconds, "--trace", str(trace),
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    print("# Traced layer table\n")
    print(
        f"`python3 perfbench/layer_report.py --seed {args.seed}` on "
        f"{os.cpu_count()} CPUs ({platform.machine()}, {platform.system()}); "
        "sf0.01, `local[4]`. Per op: mean seconds over its timed calls of "
        "each layer's self time, and counts per call. `exec` is the sink "
        "call minus the codegen compiles it triggered; `exec_cpu_s` is the "
        "executors' CPU time from the event log. Per-layer metrics are per "
        "pass, except ratios and the stream medians.\n"
    )
    for w in WORKLOADS:
        plain = run(w, args.seed, args.seconds, 0)["wall_s"]["value"]
        traced = run(w, args.seed, args.seconds, 1)["trace.wall_s"]["value"]
        with open(os.path.join(ROOT, ".perfbench_out", f"{w}_seed{args.seed}_layers.md")) as fh:
            print(fh.read())
        print(
            f"Tracing overhead on {w}: wall_s {plain:.3f} s untraced, "
            f"{traced:.3f} s traced ({traced - plain:+.3f} s, "
            f"{(traced - plain) / plain:+.1%}).\n"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
