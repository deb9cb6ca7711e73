#!/usr/bin/env python
"""Isolated same-session timing for named queries: min-of-N with the noop
sink, one warmup execution per query shape first (JIT/codegen is session
setup, not operator cost — bench.py methodology). Use two checkouts or a
toggled code path for A/B; interleave arms by running this alternately.

Beside each query's `min` and `runs` it prints the fastest run's record:
executor totals from the Spark event log, reduced per job group by
perfbench's reducer (`cpu_s`, `run_s`, `gc_s`, `tasks`, `stages`, `skew`,
shuffle and spill bytes, Python rows and bytes), and for a stream the
micro-batch count, the summed `durationMs` phases and the lag from the
query call to the first trigger. A run whose stages are all 1-task is
bound by its input's splits, not by the cores.

Usage (from any directory):
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
      python tools/ab_time.py --n 4 d_span_scrub t_lang_quality_bands
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PHASES = ("triggerExecution", "queryPlanning", "addBatch", "walCommit", "latestOffset")


def stream_record(batches: list[dict], called_at: float) -> dict:
    """Micro-batch count, summed phases and call-to-first-trigger lag of
    one run's progress events."""
    rec = {"batches": len(batches)}
    for phase in PHASES:
        rec[f"{phase}_ms"] = sum(b["durationMs"].get(phase, 0) for b in batches)
    rec["first_trigger_s"] = round(min(b["trigger_start"] for b in batches) - called_at, 3)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=4)
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--clear-plan-cache", action="store_true",
                    help="clear the plan cache before EVERY timed run "
                    "(times construction+execution instead of hits)")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from perfbench.run import StreamProgress
    from perfbench.tracing import event_log_conf, read_event_log
    from udlang_spark.queries import QUERIES
    from udlang_spark.session import get_spark, plan_cache, release_caches

    log_dir = tempfile.mkdtemp(prefix="ab_time_eventlog_")
    spark = get_spark("udlang_spark_ab", **event_log_conf(log_dir))
    spark.sparkContext.setLogLevel("ERROR")
    progress = StreamProgress()
    spark.streams.addListener(progress.listener())
    sc = spark.sparkContext

    def run(group: str, name: str) -> None:
        sc.setJobGroup(group, name)
        QUERIES[name](spark, args.sf).write.format("noop").mode("overwrite").save()

    # timed runs, numbered from 1: (seconds, call time); a run's number
    # keys its job group, its stream runs and its reduced record
    runs: dict[int, tuple[float, float]] = {}
    runs_of: dict[str, list[int]] = {}
    for name in args.names:
        if name not in QUERIES:
            print(f"SKIP {name}", file=sys.stderr)
            continue
        progress.current = None
        run("ab-warmup", name)
        for _ in range(args.n):
            if args.clear_plan_cache:
                plan_cache.clear()
                release_caches()
            rid = len(runs) + 1
            progress.current = rid
            called_at = time.time()
            t0 = time.perf_counter()
            run(f"ab{rid}", name)
            runs[rid] = (round(time.perf_counter() - t0, 4), called_at)
            runs_of.setdefault(name, []).append(rid)
        release_caches()
    progress.settle()
    spark.stop()

    groups = {f"ab{rid}": rid for rid in runs}
    groups.update({r: rid for r, rid in progress.op_of_run.items() if rid in runs})
    stats = read_event_log(log_dir, groups)
    shutil.rmtree(log_dir, ignore_errors=True)

    out: dict[str, dict] = {}
    for name, rids in runs_of.items():
        vals = [runs[rid][0] for rid in rids]
        fastest = rids[vals.index(min(vals))]
        rec = {k: round(v, 3) if isinstance(v, float) else v
               for k, v in stats.get(fastest, {}).items()}
        batches = [b for b in progress.batches if b["op"] == fastest]
        if batches:
            rec.update(stream_record(batches, runs[fastest][1]))
        out[name] = {"min": min(vals), "runs": vals, "record": rec}
        print(f"{name}: min={min(vals)} runs={vals}", file=sys.stderr)
        print("  " + " ".join(f"{k}={v}" for k, v in rec.items()), file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
