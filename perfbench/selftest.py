#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.01 (a few minutes on 4 cores).

    python3 perfbench/selftest.py

1. An untraced first_call run with an injected failing op must exit
   non-zero, count the failure in `failed` and in the printed
   `failed_frac`, and still print every end-to-end metric of
   BENCHMARK.json with its unit, in the table and in the JSON line.
2. A traced warm_batch run must exit 0 and print every per-layer metric of
   BENCHMARK.json with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args: str) -> tuple[int, list[str], dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"no output (exit {p.returncode}):\n{p.stderr[-3000:]}")
    return p.returncode, lines, json.loads(lines[-1])


def expect_metrics(spec: list[dict], lines: list[str], result: dict) -> None:
    table = {ln.split()[0]: ln.split() for ln in lines[:-1] if ln.split()}
    for m in spec:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{m['name']} missing from the JSON line"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        row = table.get(m["name"])
        assert row is not None and row[2] == m["unit"], f"{m['name']} missing from the table"
    extra = set(result["metrics"]) - {m["name"] for m in spec}
    assert not extra, f"metrics not in BENCHMARK.json: {sorted(extra)}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    common = ["--seed", "1", "--seconds", "1"]

    code, lines, result = run("--workload", "first_call", *common, "--trace", "0", "--inject-failure")
    assert code != 0, "an injected failure must fail the run"
    assert result["failed"] >= 1 and not result["correct"], result
    frac = next(ln for ln in lines if ln.startswith("failed_frac")).split()
    assert float(frac[1]) > 0, frac
    assert any("injected_failure" in ln for ln in lines), "the failing op is not named"
    expect_metrics(bench["end_to_end"], lines, result)

    code, lines, result = run("--workload", "warm_batch", *common, "--trace", "1")
    assert code == 0 and result["correct"] and result["failed"] == 0, result
    expect_metrics(bench["per_layer"], lines, result)
    print("perfbench self-test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
