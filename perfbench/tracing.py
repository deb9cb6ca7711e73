"""Traced run: spans around the calls into each engine layer, plus the
engine's own counters, reduced to the per-layer metrics in BENCHMARK.json.

Everything here wraps the engine from outside; no engine code changes:

- `kernel`: `compile_kernel` (parse) and `Kernel.apply` (symbolic compile
  and py4j `Column` build) are wrapped for the traced run only, and the
  compile cache is read through `cache_info()`;
- `queries` / `session`: the `QUERIES[name]` call is a span, its Spark
  jobs are counted by job group, and `plan_cache.get` is counted;
- Catalyst: `queryExecution().executedPlan()` is forced in its own span,
  and `CodeGenerator` compile count and time are read over py4j;
- executors and the Python boundary: Spark's event log, one job group per
  op phase (streams: one group per query run id);
- `sources`: a lift-only `read_msgpack` pass (record_stream only);
- `streaming.runner`: the progress events the stream listener collected.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# SQL metrics that only the Python evaluation nodes (MapInPandas,
# ArrowEvalPython, ...) carry.
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
ROWS_OUT = "number of output rows"

PER_LAYER = [
    ("kernel.parse_s", "s"),
    ("kernel.apply_s", "s"),
    ("kernel.compile_cache_hit_ratio", "ratio"),
    ("queries.construct_s", "s"),
    ("queries.construct_jobs", "count"),
    ("session.plan_cache_hit_ratio", "ratio"),
    ("catalyst.plan_s", "s"),
    ("catalyst.codegen_compiles", "count"),
    ("catalyst.codegen_compile_s", "s"),
    ("catalyst.codegen_fallbacks", "count"),
    ("exec.cpu_s", "s"),
    ("exec.run_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.offcpu_s", "s"),
    ("exec.tasks", "count"),
    ("exec.stages", "count"),
    ("exec.busy_frac", "ratio"),
    ("exec.shuffle_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("exec.skew", "ratio"),
    ("py.bytes_sent", "B"),
    ("py.bytes_recv", "B"),
    ("py.rows", "count"),
    ("sources.decode_s", "s"),
    ("stream.trigger_ms", "ms"),
    ("stream.planning_ms", "ms"),
    ("stream.add_batch_ms", "ms"),
    ("stream.commit_ms", "ms"),
    ("stream.source_ms", "ms"),
    ("stream.start_s", "s"),
    ("stream.state_rows", "count"),
    ("stream.state_bytes", "B"),
    ("trace.wall_s", "s"),
]


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _jvm_object(jvm, package: str, name: str):
    pkg = jvm
    for part in package.split("."):
        pkg = getattr(pkg, part)
    return getattr(getattr(pkg, name + "$"), "MODULE$")


class Tracer:
    """Spans and counters for one traced run. `install` wraps the engine's
    entry points; `op` scopes everything recorded to one op call."""

    def __init__(self, spark, gate) -> None:
        jvm = spark._jvm
        self.spark = spark
        self.gate = gate
        self._codegen = _jvm_object(
            jvm, "org.apache.spark.sql.catalyst.expressions.codegen", "CodeGenerator"
        )
        self._codegen_count = _jvm_object(
            jvm, "org.apache.spark.metrics.source", "CodegenMetrics"
        ).METRIC_COMPILATION_TIME()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._plan_gets = 0
        self._plan_hits = 0

    # -- wrapping -----------------------------------------------------------
    def install(self) -> None:
        import sys

        from udlang_spark.kernel import api
        from udlang_spark.session import plan_cache

        orig_compile = api.compile_kernel
        orig_apply = api.Kernel.apply
        orig_get = plan_cache.get
        tracer = self

        def compile_kernel(*a, **kw):
            with tracer.span("kernel.parse"):
                return orig_compile(*a, **kw)

        def apply(self, *a, **kw):
            with tracer.span("kernel.apply"):
                return orig_apply(self, *a, **kw)

        def get(spark, key):
            hit = orig_get(spark, key)
            tracer._plan_gets += 1
            tracer._plan_hits += hit is not None
            return hit

        # query modules bind `compile_kernel` by name at import
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith("udlang_spark") and (
                getattr(mod, "compile_kernel", None) is orig_compile
            ):
                mod.compile_kernel = compile_kernel
        api.Kernel.apply = apply
        plan_cache.get = get

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self._op["index"] if self._op else None,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _counters(self) -> dict:
        from udlang_spark.kernel import api

        ci = api._compile_kernel_cached.cache_info()
        return {
            "compiles": self._codegen_count.getCount(),
            "compile_ns": self._codegen.compileTime(),
            "kc_hits": ci.hits,
            "kc_misses": ci.misses,
            "pc_gets": self._plan_gets,
            "pc_hits": self._plan_hits,
        }

    @contextmanager
    def op(self, index: int, name: str):
        """Scope one timed op call. Job groups `pb<index>c` (construction)
        and `pb<index>x` (execution) tie the event log back to the op."""
        rec = {"index": index, "name": name, "run_ids": []}
        self.ops.append(rec)
        self._op = rec
        self.gate.mark(f"op{index}")
        before = self._counters()
        try:
            with self.span("op"):
                yield rec
        finally:
            after = self._counters()
            rec["counters"] = {k: after[k] - before[k] for k in after}
            sc = self.spark.sparkContext
            rec["construct_jobs"] = len(
                sc.statusTracker().getJobIdsForGroup(f"pb{index}c")
            )
            # the group sticks to the thread: jobs after the op (checks,
            # the decode pass) must not count as the op's
            sc.setJobGroup("pb-none", "outside any timed op")
            self._op = None

    def phase(self, kind: str) -> None:
        """Label the Spark jobs of the current op's next phase."""
        rec = self._op
        self.spark.sparkContext.setJobGroup(f"pb{rec['index']}{kind}", rec["name"])

    def force_plan(self, df) -> None:
        if df.isStreaming:
            return
        with self.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
def _plan_metric_ids(info: dict, out: dict[str, set]) -> None:
    names = {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])}
    if PY_SENT in names:
        out["sent"].add(names[PY_SENT])
        out["recv"].add(names.get(PY_RECV))
        if ROWS_OUT in names:
            out["rows"].add(names[ROWS_OUT])
    for child in info.get("children", []):
        _plan_metric_ids(child, out)


def read_event_log(log_dir: str, group_to_op: dict[str, int]) -> dict[int, dict]:
    """Per-op executor and Python-boundary totals from the event log."""
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            for p in sorted(glob.glob(os.path.join(path, "events_*"))):
                with open(p) as fh:
                    lines.extend(fh)
        else:
            with open(path) as fh:
                lines.extend(fh)
    stage_op: dict[int, int] = {}
    py_ids: dict[str, set] = {"sent": set(), "recv": set(), "rows": set()}
    tasks: list[dict] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in group_to_op:
                # a stage's tasks run in the first job that lists it; a
                # later job lists it again only as skipped
                for sid in ev.get("Stage IDs", []):
                    stage_op.setdefault(sid, group_to_op[group])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), py_ids)
    per_op: dict[int, dict] = {}
    stage_times: dict[int, list[int]] = {}
    for ev in tasks:
        op = stage_op.get(ev.get("Stage ID"))
        if op is None:
            continue
        m = ev.get("Task Metrics") or {}
        acc = per_op.setdefault(
            op,
            {
                "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "tasks": 0,
                "stages": set(), "shuffle_bytes": 0, "spill_bytes": 0,
                "py_sent": 0, "py_recv": 0, "py_rows": 0, "skew": 0.0,
            },
        )
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["tasks"] += 1
        acc["stages"].add(ev["Stage ID"])
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        acc["shuffle_bytes"] += (
            sr.get("Remote Bytes Read", 0)
            + sr.get("Local Bytes Read", 0)
            + sw.get("Shuffle Bytes Written", 0)
        )
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        stage_times.setdefault(ev["Stage ID"], []).append(
            m.get("Executor Run Time", 0)
        )
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            upd = a.get("Update")
            if upd is None:
                continue
            for key in ("sent", "recv", "rows"):
                if a.get("ID") in py_ids[key]:
                    acc[f"py_{key}"] += int(upd)
    for sid, times in stage_times.items():
        op = stage_op[sid]
        med = statistics.median(times)
        # skew over stages with real parallel work only: a 1-task stage
        # has no skew, and ms-granular 0/1 ms tasks make a ratio meaningless
        if len(times) >= 2 and med >= 5:
            per_op[op]["skew"] = max(per_op[op]["skew"], max(times) / med)
    for acc in per_op.values():
        acc["stages"] = len(acc["stages"])
    return per_op


# ---------------------------------------------------------------------------
# reduction to per-layer metrics and the layer table
# ---------------------------------------------------------------------------
def _children_time(spans: list[dict], sid: int) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["parent"] == sid)


def op_layers(tracer: Tracer, exec_stats: dict[int, dict]) -> list[dict]:
    """One row per timed op: self time per layer plus counts."""
    spans = tracer.spans
    rows = []
    for op in tracer.ops:
        mine = [s for s in spans if s["op"] == op["index"]]
        by = {}
        for s in mine:
            by.setdefault(s["name"], []).append(s)

        def total(name):
            return sum(s["end"] - s["start"] for s in by.get(name, []))

        def self_time(name):
            return sum(
                s["end"] - s["start"] - _children_time(spans, s["id"])
                for s in by.get(name, [])
            )

        c = op["counters"]
        codegen_s = c["compile_ns"] / 1e9
        ex = exec_stats.get(op["index"], {})
        row = {
            "op": op["name"],
            "wall_s": total("op"),
            "queries.construct": self_time("queries.construct"),
            "kernel.parse": total("kernel.parse"),
            "kernel.apply": self_time("kernel.apply"),
            "catalyst.plan": total("catalyst.plan"),
            "catalyst.codegen": codegen_s,
            # the sink span holds execution plus the codegen compiles it
            # triggered; executor self time is the rest
            "exec": max(total("sink") - codegen_s, 0.0),
            "codegen_compiles": c["compiles"],
            "construct_jobs": op["construct_jobs"],
            "kc_hits": c["kc_hits"],
            "kc_misses": c["kc_misses"],
            "pc_gets": c["pc_gets"],
            "pc_hits": c["pc_hits"],
            "exec_cpu_s": ex.get("cpu_s", 0.0),
            "exec_run_s": ex.get("run_s", 0.0),
            "tasks": ex.get("tasks", 0),
            "py_bytes": ex.get("py_sent", 0) + ex.get("py_recv", 0),
        }
        layers = [
            "queries.construct", "kernel.parse", "kernel.apply",
            "catalyst.plan", "catalyst.codegen", "exec",
        ]
        row["dominant"] = max(layers, key=lambda k: row[k])
        rows.append(row)
    return rows


def per_layer_metrics(
    tracer: Tracer,
    exec_stats: dict[int, dict],
    passes: list[float],
    batches: list[dict],
    drains: list[dict],
    decode_s: float,
    fallbacks: int,
) -> tuple[dict[str, float], dict[str, int]]:
    """(metrics, the base of each ratio: lookups counted)."""
    n = len(passes)
    wall = statistics.median(passes)
    timed = tracer.ops
    idx = {op["index"] for op in timed}
    spans = [s for s in tracer.spans if s["op"] in idx]

    def span_total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / n

    def counter(key):
        return sum(op["counters"][key] for op in timed)

    def ex(key):
        return sum(v[key] for k, v in exec_stats.items() if k in idx) / n

    # as run.end_to_end's wall_s: the sum of each op's fastest call
    names = {op["index"]: op["name"] for op in timed}
    fastest: dict[str, float] = {}
    for s in spans:
        if s["name"] == "op":
            name = names[s["op"]]
            fastest[name] = min(fastest.get(name, s["end"] - s["start"]), s["end"] - s["start"])

    kc = counter("kc_hits") + counter("kc_misses")
    pc = counter("pc_gets")
    run_s, cpu_s = ex("run_s"), ex("cpu_s")

    def batch_median(*keys):
        vals = [sum(b["durationMs"].get(k, 0) for k in keys) for b in batches]
        return statistics.median(vals) if vals else 0.0

    m = {
        "kernel.parse_s": span_total("kernel.parse"),
        "kernel.apply_s": span_total("kernel.apply"),
        "kernel.compile_cache_hit_ratio": counter("kc_hits") / kc if kc else 0.0,
        "queries.construct_s": span_total("queries.construct"),
        "queries.construct_jobs": sum(op["construct_jobs"] for op in timed) / n,
        "session.plan_cache_hit_ratio": counter("pc_hits") / pc if pc else 0.0,
        "catalyst.plan_s": span_total("catalyst.plan"),
        "catalyst.codegen_compiles": counter("compiles") / n,
        "catalyst.codegen_compile_s": counter("compile_ns") / 1e9 / n,
        "catalyst.codegen_fallbacks": fallbacks,
        "exec.cpu_s": cpu_s,
        "exec.run_s": run_s,
        "exec.gc_s": ex("gc_s"),
        "exec.offcpu_s": max(run_s - cpu_s, 0.0),
        "exec.tasks": ex("tasks"),
        "exec.stages": ex("stages"),
        "exec.busy_frac": run_s / (wall * 4),
        "exec.shuffle_bytes": ex("shuffle_bytes"),
        "exec.spill_bytes": ex("spill_bytes"),
        "exec.skew": max(
            (v["skew"] for k, v in exec_stats.items() if k in idx), default=0.0
        ),
        "py.bytes_sent": ex("py_sent"),
        "py.bytes_recv": ex("py_recv"),
        "py.rows": ex("py_rows"),
        "sources.decode_s": decode_s,
        "stream.trigger_ms": batch_median("triggerExecution"),
        "stream.planning_ms": batch_median("queryPlanning"),
        "stream.add_batch_ms": batch_median("addBatch"),
        "stream.commit_ms": batch_median("walCommit", "commitOffsets"),
        "stream.source_ms": batch_median("latestOffset", "getBatch"),
        "stream.start_s": (
            statistics.median(d["start_s"] for d in drains) if drains else 0.0
        ),
        "stream.state_rows": max((b["state_rows"] for b in batches), default=0),
        "stream.state_bytes": max((b["state_bytes"] for b in batches), default=0),
        "trace.wall_s": sum(fastest.values()),
    }
    bases = {
        "kernel.compile_cache_hit_ratio": kc,
        "session.plan_cache_hit_ratio": pc,
        "stream.trigger_ms": len(batches),
    }
    return m, bases


def layer_table(workload: str, rows: list[dict], metrics: dict[str, float]) -> str:
    """Markdown: per op (mean over its timed calls) each layer's self time
    and counts, with the dominant layer named."""
    agg: dict[str, list[dict]] = {}
    for r in rows:
        agg.setdefault(r["op"], []).append(r)
    cols = [
        "wall_s", "queries.construct", "kernel.parse", "kernel.apply",
        "catalyst.plan", "catalyst.codegen", "exec", "exec_cpu_s",
        "codegen_compiles", "construct_jobs", "tasks", "py_bytes",
    ]
    out = [
        f"### {workload}",
        "",
        "| op | calls | " + " | ".join(cols) + " | dominant |",
        "|---|---:|" + "---:|" * len(cols) + "---|",
    ]
    for name in sorted(agg):
        rs = agg[name]
        means = {c: sum(r[c] for r in rs) / len(rs) for c in cols}
        dom = statistics.mode(r["dominant"] for r in rs)
        cells = [
            f"{means[c]:.0f}" if c in ("py_bytes", "tasks") else f"{means[c]:.3f}"
            for c in cols
        ]
        out.append(f"| {name} | {len(rs)} | " + " | ".join(cells) + f" | {dom} |")
    out += ["", "| per-layer metric | value |", "|---|---:|"]
    out += [f"| {k} | {v:.4g} |" for k, v in metrics.items()]
    return "\n".join(out) + "\n"
