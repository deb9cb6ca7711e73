#!/usr/bin/env python3
"""udspark benchmark: one `local[4]` session, one workload, one caller.

    python3 perfbench/run.py --workload first_call --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see workloads.py): first_call and
warm_batch. The run sets up the session and the workload's
inputs, checks every op's rows against its DuckDB oracle once, then runs
timed passes over the ops for `--seconds`. It prints a metric table with
units and sample counts, and as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs the same workload traced and reports
the per-layer metrics, writing spans and a layer table under
`.perfbench_out/`. The exit code is non-zero when any op raised or failed
its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = "4"
WORKLOADS = ("first_call", "warm_batch")

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("first_result_p50_s", "s"),
    ("records_per_s", "rec/s"),
    ("batch_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
]
# A p90 needs at least 100 samples, ten beyond it; a run has about 20, so
# the p90s are printed for reading but are not metrics.
P90_MIN_SAMPLES = 100


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf-dir",
        help="table directory (default: the sf0.01 sibling of the engine's "
        "default table directory)",
    )
    ap.add_argument(
        "--inject-failure", action="store_true",
        help="add an op that always raises (self-test)",
    )
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes inside `work`, and let Python workers
    import the engine wherever the caller's cwd is."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (os.path.join(ROOT, "tests"), ROOT):
        sys.path.insert(0, p)


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
        ),
    }


class StreamProgress:
    """StreamingQueryListener state: micro-batch progress per op. The
    started event is delivered synchronously with `start()`, so the op that
    started a query is `current` at that moment; later events carry the
    run id."""

    def __init__(self) -> None:
        self.current: int | None = None
        self.op_of_run: dict[str, int] = {}
        self.started_at: dict[str, float] = {}
        self.batches: list[dict] = []
        self.drains: list[dict] = []
        self.ended: set[str] = set()
        self.cond = threading.Condition()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        state = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                run = str(event.runId)
                with state.cond:
                    state.op_of_run[run] = state.current
                    state.started_at[run] = time.time()

            def onQueryProgress(self, event):
                from datetime import datetime

                p = event.progress
                run = str(p.runId)
                ops = p.stateOperators or []
                rec = {
                    "op": state.op_of_run.get(run),
                    "run": run,
                    "batch": p.batchId,
                    "durationMs": dict(p.durationMs),
                    "input_rows": p.numInputRows,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "trigger_start": datetime.fromisoformat(
                        p.timestamp.replace("Z", "+00:00")
                    ).timestamp(),
                }
                with state.cond:
                    state.batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with state.cond:
                    state.ended.add(str(event.runId))
                    state.cond.notify_all()

        return _Listener()

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until every started query's terminated event arrived, then
        record each drain's start latency."""
        with self.cond:
            self.cond.wait_for(lambda: set(self.started_at) <= self.ended, timeout)
            for run, t0 in self.started_at.items():
                if any(d["run"] == run for d in self.drains):
                    continue
                firsts = [b["trigger_start"] for b in self.batches if b["run"] == run]
                if firsts:
                    self.drains.append(
                        {"run": run, "op": self.op_of_run[run], "start_s": max(min(firsts) - t0, 0.0)}
                    )


def peak_rss_mb(jvm_pid: int | None) -> float:
    import resource

    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024
    return mb


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive the run
            proc.kill()
            proc.wait()


def default_sf_dir() -> str:
    """sf0.01, the sibling of the engine's default (sf0.1) table directory."""
    from udlang_spark.sources.tables import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.01")


def setup(workload: str, sf_dir: str, work: str, seed: int, spark):
    """The workload's ops, and for warm_batch its seeded records. Returns
    (ops, generated records or None)."""
    import workloads as W

    if workload == "first_call":
        ops = W.query_ops(spark, sf_dir, W.FIRST_CALL_OPS, before=W.clear_python_caches)
        return ops, None
    import records

    rec = records.generate(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(work, "records"),
        seed,
        W.N_RECORDS,
    )
    return W.query_ops(spark, sf_dir, W.WARM_BATCH_QUERIES) + W.record_ops(spark, rec), rec


def duck_connection(sf_dir: str, rec):
    import duckdb

    from udlang_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    if rec is not None:
        import records

        records.duck_tables(con, rec)
    return con


def decode_pass_s(spark, rec, passes: int = 3) -> float:
    """sources layer alone: read_msgpack -> noop, median of `passes`."""
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.queries.kernels import TOWER_KERNEL
    from udlang_spark.sources import formats

    it = compile_kernel(TOWER_KERNEL).input_type
    times = []
    for _ in range(passes):
        t0 = time.perf_counter()
        formats.read_msgpack(spark, rec.msgpack_dir, it).write.format("noop").mode(
            "overwrite"
        ).save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def end_to_end(setup_s, out, progress, rss) -> tuple[dict, dict, dict]:
    """(metric values, sample counts, {p90 name: (value, unit, samples)})."""
    import workloads as W

    # each op's fastest call in the run (see workloads.REPEAT)
    best: dict[str, tuple] = {}
    for op, lat, ex in out.calls:
        b = best.get(op.name)
        best[op.name] = (op, min(lat, b[1]), min(ex, b[2])) if b else (op, lat, ex)
    calls = [c for c in best.values() if not c[0].drain]
    p50, p90 = W.summary([lat for _, lat, _ in calls])
    # a batch is a stream's micro-batch (triggerExecution) where the
    # workload drains streams, else one op's execution to the sink
    batch = [
        b["durationMs"].get("triggerExecution", 0)
        for b in progress.batches
        if b["op"]
    ] or [ex * 1000 for _, _, ex in calls]
    b50, b90 = W.summary(batch)
    # records: the generator's count where the workload has generated
    # records, else every op's result rows
    fed = [(op.records, lat) for op, lat, _ in best.values() if op.records]
    fed = fed or [(op.rows, lat) for op, lat, _ in best.values()]
    records = sum(n for n, _ in fed)
    values = {
        "setup_s": setup_s,
        "wall_s": sum(lat for _, lat, _ in best.values()),
        "first_result_p50_s": p50,
        "records_per_s": records / sum(t for _, t in fed),
        "batch_p50_ms": b50,
        "peak_rss_mb": rss,
    }
    counts = {
        "setup_s": 1,
        "wall_s": len(best),
        "first_result_p50_s": len(calls),
        "records_per_s": records,
        "batch_p50_ms": len(batch),
        "peak_rss_mb": 1,
    }
    p90s = {
        "first_result_p90_s": (p90, "s", len(calls)),
        "batch_p90_ms": (b90, "ms", len(batch)),
    }
    return values, counts, p90s


def run(args, work: str) -> int:
    import workloads as W

    from udlang_spark.session import get_spark

    sf_dir = args.sf_dir or default_sf_dir()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    conf = session_conf(work)
    gate = None
    if args.trace:
        import tracing as T

        from bench import StderrCodegenGate

        gate = StderrCodegenGate()  # before the JVM starts: it inherits fd 2
        conf.update(T.event_log_conf(os.path.join(work, "eventlog")))
        os.makedirs(os.path.join(work, "eventlog"))

    progress = StreamProgress()
    p90s = {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", **conf)
        spark.sparkContext.setLogLevel("ERROR")
        spark.streams.addListener(progress.listener())
        steps = {"session": time.perf_counter() - t0}
        t0 = time.perf_counter()
        ops, rec = setup(args.workload, sf_dir, work, args.seed, spark)
        steps["inputs"] = time.perf_counter() - t0
        if args.inject_failure:
            ops.append(W.failing_op())

        out = W.Outcome()
        con = duck_connection(sf_dir, rec)
        progress.current = 0  # warm-up calls and checks are not timed
        warm = {}
        for op in ops:
            t0 = time.perf_counter()
            if op.drain:
                op.warmup()
                warm[op.name] = time.perf_counter() - t0
            else:
                warm[op.name] = W.check(op, con, out)
        steps["warm-up calls"] = sum(warm.values())
        setup_s = sum(steps.values())

        tracer = None
        if args.trace:
            tracer = T.Tracer(spark, gate)
            tracer.install()
        W.timed_phase(ops, args.seconds, args.seed, tracer, progress, out)
        progress.current = 0
        for op in ops:
            if op.drain and op.last is not None:
                W.check(op, con, out, result=op.last)
        con.close()
        progress.settle()
        decode_s = decode_pass_s(spark, rec) if args.trace and rec else 0.0
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss = peak_rss_mb(jvm.pid if jvm else None)
    finally:
        if spark is not None:
            stop_session(spark)
        fallbacks = gate.finish() if gate else {}

    if args.trace:
        for op in tracer.ops:
            op["run_ids"] = [r for r, i in progress.op_of_run.items() if i == op["index"]]
        groups = {}
        for op in tracer.ops:
            groups[f"pb{op['index']}c"] = op["index"]
            groups[f"pb{op['index']}x"] = op["index"]
            for r in op["run_ids"]:
                groups[r] = op["index"]
        stats = T.read_event_log(os.path.join(work, "eventlog"), groups)
        timed_idx = {op["index"] for op in tracer.ops}
        batches = [b for b in progress.batches if b["op"] in timed_idx]
        drains = [d for d in progress.drains if d["op"] in timed_idx]
        n_fallbacks = sum(
            v for k, v in fallbacks.items()
            if k.startswith("op") and int(k[2:]) in timed_idx
        )
        values, bases = T.per_layer_metrics(
            tracer, stats, out.passes, batches, drains, decode_s, n_fallbacks
        )
        units = dict(T.PER_LAYER)
        counts = {k: bases.get(k, len(out.passes)) for k in values}
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}_seed{args.seed}")
        tracer.write_spans(stem + "_spans.json")
        with open(stem + "_layers.md", "w") as fh:
            fh.write(T.layer_table(args.workload, T.op_layers(tracer, stats), values))
    else:
        values, counts, p90s = end_to_end(setup_s, out, progress, rss)
        units = dict(END_TO_END)

    failed = sum(out.failures.values())
    correct = failed == 0
    print("set-up steps (s): " + ", ".join(f"{k} {v:.2f}" for k, v in steps.items()))
    print("warm-up call (s): " + ", ".join(f"{k} {v:.2f}" for k, v in warm.items()))
    by_op = {}
    for op, lat, _ in out.calls:
        by_op.setdefault(op.name, []).append(lat)
    print("pass wall (s): " + ", ".join(f"{p:.2f}" for p in out.passes))
    print("op latency (median s): " + ", ".join(
        f"{k} {statistics.median(v):.3f}" for k, v in sorted(by_op.items())
    ))
    for name in values:
        print(f"{name:34s} {values[name]:14.4f} {units[name]:6s} n={counts[name]}")
    for name, (v, unit, n) in p90s.items():
        gated = "" if n >= P90_MIN_SAMPLES else f" (not a metric: n<{P90_MIN_SAMPLES})"
        print(f"{name:34s} {v:14.4f} {unit:6s} n={n}{gated}")
    print(f"{'failed_frac':34s} {failed / out.attempted:14.4f} {'ratio':6s} n={out.attempted}")
    for name, n in sorted(out.failures.items()):
        print(f"failed op {name}: {n}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": out.attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": values[k], "unit": units[k]} for k in values
                },
            }
        )
    )
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    isolate(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
