"""tools/ab_time.py run as a script from outside the repository."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_DIR_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ab_time_record_from_outside_repo(tmp_path):
    """Timings plus the fastest run's record: executor totals (the
    interpreter kernel's rows cross the Python boundary, so its workers
    must import the engine from a foreign cwd) and a stream's batches."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", TMPDIR=str(tmp_path))
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ab_time.py"),
         "--n", "1", "--sf", SF_DIR_SMOKE, "k_count_interp", "s_kernel_stream"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    for name in ("k_count_interp", "s_kernel_stream"):
        assert got[name]["runs"] and got[name]["min"] == min(got[name]["runs"])
    interp = got["k_count_interp"]["record"]
    assert interp["tasks"] > 0 and interp["py_rows"] > 0
    assert got["s_kernel_stream"]["record"]["batches"] >= 1
