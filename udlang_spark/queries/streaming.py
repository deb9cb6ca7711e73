"""Streaming queries for the driver contract (SURVEY.md §2.8).

Each query materializes a bounded file stream from the sf_dir events table
(JSON replay), runs the streaming plan with availableNow, and returns the
drained result as a (batch) DataFrame.

Oracle-ability: although Structured Streaming EXECUTION is not SQL, each
query here is designed so its final drained result is a pure function of
the event set — independent of micro-batch boundaries, partitioning, and
replay. Sums use fixed-point micros (integer-valued doubles stay exact
under any accumulation order), dedup emits only the deterministic key set,
and joins/windows derive purely from event fields. That makes the results
directly DuckDB-checkable; batch-twin equivalence is additionally
pytest-enforced (tests/test_streaming.py)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udlang_spark.functions import text as TXT
from udlang_spark.functions import url as URL
from udlang_spark.kernel import ast
from udlang_spark.kernel.api import compile_kernel
from udlang_spark.operators import similarity, sketches
from udlang_spark.queries import llm as _llm
from udlang_spark.sources import json_lift
from udlang_spark.sources.tables import (
    ensure_artifact,
    load_table,
    table_fingerprint,
)
from udlang_spark.streaming import runner

_EVENT_FIELDS = (
    ("event_id", ast.T_INT),
    ("event_type", ast.T_STR),
    ("value", ast.T_FLOAT),
)
_DOC_ID = ("doc_id", ast.T_INT)
_DOC_TEXT = (_DOC_ID, ("text", ast.T_STR))

_DOUBLER = """
version 0.1-pre_mvp;
script "stream doubler";
input Float;
output Float;
if (in > 100.0) {
  out in * 2.0;
}
"""

# replay layout: files per replay dir / files per forced micro-batch.
# _REPLAY_MFT = _REPLAY_FILES // 2 keeps every maxFilesPerTrigger consumer
# at >= 2 micro-batches (the multi-batch demonstrations) while each batch
# parses its files in parallel.
_REPLAY_FILES = 16
_REPLAY_MFT = _REPLAY_FILES // 2


def _replay_dir(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    cols: tuple[str, ...],
    prefix: str,
    select_exprs: tuple[str, ...] | None = None,
) -> str:
    """Write a table's rows as JSON files for a replayable file stream.

    The replay input is a PURE FUNCTION of the source table's content, so
    it is an on-disk artifact (tables.ensure_artifact) reused across
    invocations — re-lowering the table to JSON on every query run was
    measurable fixed cost in every streaming headline entry. The key's
    last five fields are what can change between builds for one prefix
    and sf_dir, the source fingerprint (tables.table_fingerprint) last:
    regenerating the parquet under the same path is a miss, never a stale
    replay, and the miss retires the older build. Checkpoint/state dirs
    are NOT cached; each query still clears its own."""
    key = (
        f"{sf_dir}|{table}|{cols}|{select_exprs}|{_REPLAY_FILES}"
        f"|{table_fingerprint(sf_dir, table)}"
    )

    def build(path: str) -> None:
        rel = load_table(spark, table, sf_dir)
        if select_exprs:
            # derived replay columns (e.g. epoch-seconds from a timestamp —
            # JSON-roundtripping a raw timestamp would add a tz/format parse
            # surface the integer never has)
            rel = rel.selectExpr(*select_exprs)
        # repartition, not coalesce: coalesce cannot INCREASE the partition
        # count, so a small source could collapse the replay to one file and
        # make every run a single micro-batch — the multi-batch claims
        # (s_cms_merge maxFilesPerTrigger=8 over 16 files → ≥2 batches) need
        # them. 16 files (r13, was 4): a micro-batch's JSON parse runs one
        # task per file, and the 2-task parse was the measured floor of every
        # replay consumer (cms stream phase 1.92 → 1.47 s at 16 files);
        # single-batch consumers get the same 16-way parse. All drained
        # results are micro-batching-invariant by design, so the shuffled
        # file assignment is immaterial.
        json_lift.lower_json(rel.select(*cols), cols).select("json").repartition(
            _REPLAY_FILES
        ).write.mode("overwrite").text(path)

    return ensure_artifact(prefix, key, build)


def _replay_stream(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    fields: tuple[tuple[str, ast.Type], ...],
    table: str = "documents",
    mft: bool = False,
    select_exprs: tuple[str, ...] | None = None,
) -> DataFrame:
    """FAILFAST file stream over a table's replay dir (_replay_dir) with
    the typed (name, type) record `fields`; mft=True caps each micro-batch
    at _REPLAY_MFT files, forcing >= 2 micro-batches per run."""
    cols = tuple(name for name, _ in fields)
    tmp = _replay_dir(
        spark, sf_dir, table=table, cols=cols, prefix=prefix,
        select_exprs=select_exprs,
    )
    rec = ast.TRecord(tuple(ast.TRecordField(n, t) for n, t in fields))
    reader = spark.readStream.schema(json_lift.input_schema(rec)).option(
        "mode", "FAILFAST"
    )
    if mft:
        reader = reader.option("maxFilesPerTrigger", _REPLAY_MFT)
    return reader.json(tmp)


def _stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _replay_stream(
        spark, sf_dir, "udlang_stream_replay", _EVENT_FIELDS, table="events"
    )


def _fresh_sink(name: str, sf_dir: str) -> tuple[str, str]:
    """(target, checkpoint) dirs of a stream sink, emptied so every run
    drains the whole replay into a fresh target."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    target = os.path.join(tempfile.gettempdir(), f"udlang_{name}_target_{tag}")
    ckpt = os.path.join(tempfile.gettempdir(), f"udlang_{name}_ckpt_{tag}")
    shutil.rmtree(target, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return target, ckpt


def s_kernel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless kernel on a stream: same compiled Column expressions as the
    batch path (kernels are stateless by construction — manual.md:21-24)."""
    k = compile_kernel(_DOUBLER)
    out = runner.kernel_stream(
        k, _stream(spark, sf_dir), input_col="value", keep=("event_id",)
    )
    return runner.run_stream_to_memory(out, "q_s_kernel_stream", spark).select(
        "event_id", "out"
    )


def s_windowed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation on the replayed stream.

    The value sum is fixed-point (round(v·1e6) int64): integer sums are
    exact under ANY micro-batch order or partitioning, so the drained
    result is a pure function of the event set — oracle-checkable, and the
    property that matters when a 100 TB stream replays or re-shards."""
    src = _stream(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 60)
    ).withColumn("value_fp", F.round(F.col("value") * 1e6).cast("long"))
    res = runner.windowed_agg_stream(
        src, "ts", window="1 hour", watermark="2 hours",
        group_cols=("event_type",), aggs={"value_fp": "sum"},
    )
    out = runner.run_stream_to_memory(
        res, "q_s_windowed_stream", spark, output_mode="complete"
    )
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n_events",
        (F.col("sum_value_fp").cast("double") / F.lit(1e6)).alias("sum_value"),
    )


def s_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-key running
    totals persisted in the state store across micro-batches. Returns the
    final per-key state (update-mode rows with the largest n per key)."""
    src = _stream(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 60)
    ).withColumn("bucket", F.col("event_id") % 7).withColumn(
        # fixed-point micros: the state handler's per-batch pandas sums and
        # the cross-batch float adds all accumulate integer-valued doubles
        # (< 2^53), which are EXACT in any order — the final state is a
        # pure function of the event set, so it is oracle-checkable
        "value_fp", F.round(F.col("value") * 1e6).cast("long")
    )
    res = runner.stateful_running_totals(
        src, key_col="bucket", value_col="value_fp", ts_col="ts"
    )
    out = runner.run_stream_to_memory(
        res, "q_s_stateful_totals", spark, output_mode="update"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy(F.col("n").desc())
    return (
        out.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("key", "n", (F.col("total") / F.lit(1e6)).alias("total"))
    )


def s_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join: click events joined to purchase
    events on a shared key, purchase within 1 hour after the click. Both
    sides derive from the same replayed file stream; result rows are exactly
    the batch join's (stream-stream inner join emits every matching pair),
    so the output is deterministic despite the streaming execution."""
    src = _stream(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 60)
    ).withColumn("ukey", F.col("event_id") % 13)
    clicks = src.filter(F.col("event_type") == "click").select(
        "ukey", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        "ukey",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    joined = runner.stream_stream_join(
        clicks,
        purchases,
        key_col="ukey",
        left_ts="click_ts",
        right_ts="purchase_ts",
        watermark="2 hours",
        within="1 hour",
    )
    out = runner.run_stream_to_memory(joined, "q_s_stream_join", spark)
    return out.select(
        "jkey",
        F.col("l_click_id").alias("click_id"),
        F.col("r_purchase_id").alias("purchase_id"),
        F.round("r_value", 6).alias("purchase_value"),
    )


def s_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark): first event
    per (event_type, bucket) key. Which row is 'first' is racy across
    micro-batch partitions, so the contract output is the deterministic part
    only: the distinct key set that survives."""
    src = _stream(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 60)
    ).withColumn("bucket", F.col("event_id") % 50)
    deduped = runner.streaming_dedup(
        src, ("event_type", "bucket"), "ts", watermark="2 hours"
    )
    out = runner.run_stream_to_memory(deduped, "q_s_dedup_stream", spark)
    return out.select("event_type", "bucket").orderBy("event_type", "bucket")


def s_neardup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time NEAR-dedup: each document gets a row-local
    16-bit SimHash fingerprint (pure Column fold — computable on a stream
    with no state), and dropDuplicatesWithinWatermark keys on the
    fingerprint, so near-identical documents arriving within the watermark
    collapse to one. This is the stream-side counterpart of d_simhash's
    batch dedup: the fingerprint state is bounded by the watermark horizon
    (at 100 TB/day the fp key space, not the corpus, is what the state
    store holds). Which ARRIVAL survives is racy across micro-batches, so
    the contract output is the deterministic surviving fingerprint set."""
    src = (
        _replay_stream(spark, sf_dir, "udlang_stream_docs", _DOC_TEXT)
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 60)
        )
        .withColumn("simhash", TXT.simhash16("text"))
    )
    deduped = runner.streaming_dedup(src, ("simhash",), "ts", watermark="2 hours")
    out = runner.run_stream_to_memory(deduped, "q_s_neardup_stream", spark)
    return out.select("simhash").distinct().orderBy("simhash")


def s_url_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time URL-canonicalization dedup — the streaming twin of
    d_url_dedup: each arriving document derives its synthetic URL
    (llm.synthetic_url, pure Column work — computable on a stream with no
    state), canonicalizes it (functions/url.canonical_url: fragment/scheme/
    www/host-case/trailing-slash/tracking-param/param-order noise all
    collapse), and dropDuplicatesWithinWatermark keys on the canonical
    string, so re-crawls of the same page arriving within the watermark
    horizon admit only one copy. State holds canonical keys inside the
    watermark, not the corpus — the C4 same-page collapse as a continuous
    admission filter instead of a nightly batch job. Which ARRIVAL survives
    is racy across micro-batches, so the contract output is the
    deterministic surviving canonical-key set (= the batch dedup's key set,
    pytest-pinned)."""
    fields = (_DOC_ID, ("lang", ast.T_STR), ("source", ast.T_STR))
    src = (
        _replay_stream(spark, sf_dir, "udlang_stream_url", fields)
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 60)
        )
        .withColumn("canon_url", URL.canonical_url(_llm.synthetic_url()))
    )
    deduped = runner.streaming_dedup(src, ("canon_url",), "ts", watermark="2 hours")
    out = runner.run_stream_to_memory(deduped, "q_s_url_dedup_stream", spark)
    return out.select("canon_url").distinct().orderBy("canon_url")


# the surviving canonical-key set equals the batch dedup's key relation
ORACLE_URL_DEDUP_STREAM = _llm.URL_CANON_CTE + """
SELECT DISTINCT canon_url FROM c
"""


def s_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: the (row, bucket) counts aggregate
    incrementally across micro-batches (complete-mode groupBy over d·w =
    512 keys — the state store holds the SKETCH, a constant-size object,
    no matter how much text streams past). Because integer counts merge
    associatively, the drained streaming sketch equals t_cms_freq's batch
    sketch EXACTLY, so this query shares its DuckDB oracle verbatim —
    mergeability demonstrated end-to-end, not asserted. Probing and the
    exact-count comparison run batch-side on the drained state."""
    src = _replay_stream(spark, sf_dir, "udlang_stream_cms", _DOC_TEXT)
    toks = src.select(F.explode(TXT.words("text")).alias("tok"))
    sketch_stream = (
        sketches.cms_cells(toks, "tok")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sketch = runner.run_stream_to_memory(
        sketch_stream, "q_s_cms_stream", spark, output_mode="complete"
    )
    exact = sketches.cms_exact_witness(load_table(spark, "documents", sf_dir))
    return sketches.cms_probe_report(spark, sketch, exact)


def s_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch, MERGE form (the generalizable pattern
    for stateful aggregates too big to re-emit): the stream plan is
    STATELESS — each micro-batch's (row, bucket) cells are summed together
    with the persisted sketch table via foreachBatch
    (runner.run_sketch_merge_stream), the persisted table being the
    state, exactly like the CDC apply. maxFilesPerTrigger=_REPLAY_MFT
    over the _REPLAY_FILES-file replay still forces ≥2 micro-batches per run (the
    r6 bench showed per-batch streaming overhead dominates this entry;
    deeper multi-batch accumulation is pinned in tests/test_streaming.py
    with its own forcing). Integer counts merge
    associatively, so the final sketch equals t_cms_freq's batch sketch
    and this query shares its DuckDB oracle verbatim — the same
    mergeability statement as s_cms_stream, demonstrated through the
    update-shaped path instead of complete-mode re-emission."""
    src = _replay_stream(
        spark, sf_dir, "udlang_stream_cmsmerge", _DOC_TEXT, mft=True
    )
    toks = src.select(F.explode(TXT.words("text")).alias("tok"))
    cells = sketches.cms_cells(toks, "tok")
    target, ckpt = _fresh_sink("cms", sf_dir)
    runner.run_sketch_merge_stream(spark, cells, target, ckpt)
    sketch = spark.read.parquet(target)
    exact = sketches.cms_exact_witness(load_table(spark, "documents", sf_dir))
    return sketches.cms_probe_report(spark, sketch, exact)


def s_quantile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming histogram-quantile sketch: lineitem prices replay as a
    stream; each micro-batch's buckets SUM-merge into the persisted
    histogram (runner.run_sketch_merge_stream — the same merge as
    s_cms_merge), and the drained histogram answers p50/p90/p99 exactly
    as t_quantile_sketch's batch sketch does (shared probe helper), beside
    the batch-side exact witness. Completes the streaming demonstrations
    of all three sketch algebras: counts (CMS), registers (HLL), and
    histograms — every one micro-batching-invariant because the merge is
    associative."""
    fields = (("l_orderkey", ast.T_INT), ("l_extendedprice", ast.T_FLOAT))
    src = _replay_stream(
        spark, sf_dir, "udlang_stream_qsk", fields, table="lineitem", mft=True
    )
    cells = src.select(sketches.qsk_bucket())
    target, ckpt = _fresh_sink("qsk", sf_dir)
    runner.run_sketch_merge_stream(
        spark, cells, target, ckpt, cell_cols=("bucket",)
    )
    hist = spark.read.parquet(target)
    li = load_table(spark, "lineitem", sf_dir)
    return sketches.quantile_probe_report(spark, hist, li)


def s_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the replayed event stream joins a
    STATIC dimension (customer) per micro-batch — the standard streaming
    enrichment shape (no watermark needed on the static side; Spark
    re-plans the static relation each batch, so a broadcast dim costs one
    broadcast per batch and the stream side never shuffles on the key).
    The aggregate uses fixed-point sums, so the drained result is a pure
    function of the event set and shares the batch oracle exactly."""
    src = _stream(spark, sf_dir).withColumn(
        "ukey", F.col("event_id") % 1500
    ).withColumn("value_fp", F.round(F.col("value") * 1e6).cast("long"))
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("ukey"), "c_mktsegment"
    )
    enriched = src.join(F.broadcast(cust), "ukey")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_fp").alias("sum_fp"),
    )
    out = runner.run_stream_to_memory(
        agg, "q_s_enrich_stream", spark, output_mode="complete"
    )
    return out.select(
        "c_mktsegment",
        "event_type",
        "n_events",
        (F.col("sum_fp").cast("double") / F.lit(1e6)).alias("sum_value"),
    )


ORACLE_ENRICH_STREAM = """
SELECT c_mktsegment, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
            AS DOUBLE) / 1000000.0 AS sum_value
FROM events e JOIN customer c ON e.event_id % 1500 = c.c_custkey
GROUP BY 1, 2
"""


def s_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog: each micro-batch's (bucket, rank) cells
    merge into a persisted register table via the same foreachBatch merge
    as s_cms_merge, in mode='max' — MAX-merge is the HLL register
    combine, so the drained table equals the batch sketch under any
    micro-batching (maxFilesPerTrigger=_REPLAY_MFT over the _REPLAY_FILES replay still forces ≥2 batches).
    The estimate (the shared sketches.hll_estimate + precomputed
    linear-counting table) and the exact distinct witness run batch-side on the drained
    registers. Together with s_cms_merge this demonstrates both mergeable
    sketch algebras (SUM and MAX) through the streaming state path."""
    src = _replay_stream(spark, sf_dir, "udlang_stream_hll", _DOC_TEXT, mft=True)
    bucket, rank = sketches.hll_bucket_rank(F.col("tok"))
    cells = src.select(F.explode(TXT.words("text")).alias("tok")).select(
        bucket, rank
    )
    target, ckpt = _fresh_sink("hll", sf_dir)
    runner.run_sketch_merge_stream(
        spark, cells, target, ckpt,
        cell_cols=("bucket",), mode="max", value_col="rank", out_col="r",
    )
    regs = spark.read.parquet(target)
    docs = load_table(spark, "documents", sf_dir)
    exact = docs.select(F.explode(TXT.words("text")).alias("tok")).agg(
        F.countDistinct("tok").alias("distinct_exact")
    )
    return (
        sketches.hll_estimate(regs)
        .crossJoin(F.broadcast(exact))
        .select("distinct_exact", "hll_est", "zero_registers", "s_scaled")
    )


def s_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation on the replayed stream: events within 10
    minutes of each other merge per event_type; the watermark closes
    sessions and bounds state."""
    src = _stream(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 60)
    ).withColumn("value_fp", F.round(F.col("value") * 1e6).cast("long"))
    res = runner.session_window_stream(
        src, "ts", gap="10 minutes", watermark="2 hours",
        group_cols=("event_type",), aggs={"value_fp": "sum"},
    )
    out = runner.run_stream_to_memory(
        res, "q_s_session_stream", spark, output_mode="complete"
    )
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "event_type",
        "n_events",
        (F.col("sum_value_fp").cast("double") / F.lit(1e6)).alias("sum_value"),
    )


def s_interval_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INTERVAL UNION — the streaming twin of q72's batch
    gaps-and-islands (r7 VERDICT #7, the last batch-only r7 operator):
    each event contributes the interval [ts, ts + (event_id%7+1)·60s),
    expressed as a DYNAMIC-gap session window per user; Spark merges
    overlapping-or-TOUCHING windows exactly like the batch island rule
    (s == prev_max_e merges — pytest-pinned), so the drained per-island
    relation is a pure function of the event set, independent of
    micro-batch boundaries. Output grain is (user, island): a second
    per-user rollup would be a chained streaming aggregation, which
    Structured Streaming doesn't allow — the island rows ARE the
    streaming-safe contract (q72's per-user totals are one trivial batch
    agg downstream).

    Scale shape: session-window state is per OPEN session per user,
    bounded by the watermark; the replay carries integer epoch seconds
    (no timestamp JSON parse surface)."""
    fields = (("event_id", ast.T_INT), ("user_id", ast.T_INT), ("ts_s", ast.T_INT))
    src = _replay_stream(
        spark, sf_dir, "udlang_stream_interval", fields, table="events",
        select_exprs=("event_id", "user_id", "CAST(ts AS LONG) AS ts_s"),
    )
    iv = src.withColumn("ts", F.timestamp_seconds("ts_s")).withColumn(
        "gap",
        F.concat(
            ((F.col("event_id") % 7 + 1) * 60).cast("string"),
            F.lit(" seconds"),
        ),
    )
    res = runner.session_window_stream(
        iv, "ts", gap=F.col("gap"), watermark="2 hours",
        group_cols=("user_id",),
    )
    out = runner.run_stream_to_memory(
        res, "q_s_interval_stream", spark, output_mode="complete"
    )
    return out.select(
        "user_id",
        F.col("w.start").cast("long").alias("is_s"),
        F.col("w.end").cast("long").alias("is_e"),
        "n_events",
        (F.col("w.end").cast("long") - F.col("w.start").cast("long")).alias(
            "covered_sec"
        ),
    ).orderBy("user_id", "is_s")


ORACLE_INTERVAL_STREAM = """
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 60 AS e
  FROM events),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv),
islands AS (
  SELECT user_id,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island,
         s, e
  FROM flagged)
SELECT user_id,
       min(s) AS is_s,
       max(e) AS is_e,
       count(*) AS n_events,
       CAST(max(e) - min(s) AS BIGINT) AS covered_sec
FROM islands GROUP BY user_id, island
ORDER BY user_id, is_s
"""


def s_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE (CDC apply) via foreachBatch into a keyed parquet
    target — the streaming twin of q34_upsert. The merge is seq-aware
    latest-wins, so the final table is a pure function of the change set
    regardless of micro-batch boundaries or replay: ORACLE-CHECKABLE,
    unlike the other streaming entries."""
    src = _stream(spark, sf_dir).select(
        (F.col("event_id") % 100).alias("k"),
        F.col("value").alias("v"),
        F.col("event_id").alias("seq"),
    )
    target, ckpt = _fresh_sink("cdc", sf_dir)
    runner.run_cdc_apply_stream(
        spark, src, target, ckpt, key="k", seq_col="seq"
    )
    return spark.read.parquet(target).orderBy("k")


ORACLE_CDC_APPLY = """
SELECT event_id % 100 AS k, value AS v, event_id AS seq
FROM events
QUALIFY row_number() OVER (PARTITION BY event_id % 100
                           ORDER BY event_id DESC) = 1
ORDER BY k
"""


def _hll_stream_oracle() -> str:
    m, tb = sketches.HLL_M, sketches.HLL_TAIL_BITS
    lc_list = "[" + ", ".join(repr(x) for x in sketches.HLL_LC) + "]"
    return f"""
WITH t AS (
  SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM documents
),
d AS (SELECT DISTINCT tok FROM t),
h AS (SELECT md5('hll:' || tok) AS hx FROM d),
cells AS (
  SELECT
    CAST(CAST(concat('0x', substr(hx, 1, 2)) AS UBIGINT) % {m} AS BIGINT)
      AS bucket,
    least(
      4 * length(regexp_extract(substr(hx, 3, 12), '^(0*)', 1))
      + CASE substr(substr(hx, 3, 12),
                    length(regexp_extract(substr(hx, 3, 12), '^(0*)', 1)) + 1,
                    1)
          WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
          WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
          ELSE 0 END
      + 1, {tb}) AS rank
  FROM h),
reg AS (SELECT bucket, max(rank) AS r FROM cells GROUP BY bucket),
agg AS (
  SELECT CAST(sum((1::BIGINT << ({tb} - r))) AS BIGINT) AS s_ne, count(*) AS nb
  FROM reg),
fin AS (
  SELECT s_ne + ({m} - nb) * (1::BIGINT << {tb}) AS s_scaled,
    CAST({m} - nb AS BIGINT) AS zero_registers,
    round({sketches.HLL_NUM!r}
          / CAST(s_ne + ({m} - nb) * (1::BIGINT << {tb}) AS DOUBLE), 4)
      AS raw_est
  FROM agg),
exact AS (SELECT count(DISTINCT tok) AS distinct_exact FROM t)
SELECT distinct_exact,
  CASE WHEN raw_est <= {2.5 * m!r} AND zero_registers > 0
       THEN ({lc_list})[zero_registers]
       ELSE raw_est END AS hll_est,
  zero_registers, s_scaled
FROM fin, exact
"""


ORACLE_HLL_STREAM = _hll_stream_oracle()


def s_kmv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct sketch: mode='min_k' merge — the k smallest
    distinct token hashes of the persisted k-minima table ∪ each
    micro-batch replace the table (the global k-minima are each among the
    table's k-minima or the batch's hashes, so the bounded state loses
    nothing under any micro-batching). Completes the THIRD mergeable
    sketch algebra through the same runner: SUM (s_cms_merge), MAX
    (s_hll_stream), MIN-K (this).
    The drained k-set answers the distinct estimate exactly as the batch
    KMV (t_kmv_jaccard) does: (k−1)·2^48 / h_k, exact count below k."""
    src = _replay_stream(spark, sf_dir, "udlang_stream_kmv", _DOC_TEXT, mft=True)
    cells = src.select(F.explode(TXT.words("text")).alias("tok")).select(
        sketches.kmv_hash_col(F.col("tok")).alias("h")
    )
    target, ckpt = _fresh_sink("kmv", sf_dir)
    runner.run_sketch_merge_stream(
        spark, cells, target, ckpt,
        cell_cols=("h",), mode="min_k", k=sketches.KMV_K,
    )
    kset = spark.read.parquet(target)
    agg = kset.agg(F.count("h").alias("k_eff"), F.max("h").alias("hk"))
    est = sketches.kmv_estimate(F.col("k_eff"), F.col("hk"))
    return agg.select("k_eff", est.alias("est_distinct"))


def _kmv_stream_oracle() -> str:
    k = sketches.KMV_K
    return f"""
WITH t AS (
  SELECT DISTINCT CAST(CAST(concat('0x', substr(md5('kmv:' || tok), 1, 12))
                   AS UBIGINT) AS BIGINT) AS h
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents) u),
ak AS (SELECT h FROM t ORDER BY h LIMIT {k})
SELECT count(*) AS k_eff,
  round(CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
             ELSE {sketches.KMV_NUM!r} / CAST(max(h) AS DOUBLE) END, 4)
    AS est_distinct
FROM ak
"""


ORACLE_KMV_STREAM = _kmv_stream_oracle()


def s_shard_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding at INGEST — the streaming twin of t_shard_plan (r10
    VERDICT #6, completing the batch/stream pair the other layout ops
    have): shard and okey are pure row-local salted-md5 Columns
    (operators/indexing.shard_plan), so the assignment runs UNCHANGED on a
    readStream; the sink is the production shape — an exactly-once
    partitionBy(shard) parquet writeStream, each micro-batch appending
    files only under the shard= directories it carries rows for (never a
    shuffle, never a global sort; a restart resumes after the last
    committed batch). maxFilesPerTrigger=_REPLAY_MFT over the _REPLAY_FILES-file replay forces
    ≥2 micro-batches, so the multi-batch append path is what's verified.
    The checked output is the same shard_census over the drained layout —
    per-shard count, exact int64 okey sum, and the md5 witness of the
    FULL within-shard permutation — so this query shares t_shard_plan's
    oracle verbatim: a green row proves stream assignment == batch
    assignment row-for-row, through the real partitioned sink."""
    from udlang_spark.operators.indexing import shard_census, shard_plan

    src = _replay_stream(spark, sf_dir, "udlang_stream_shard", (_DOC_ID,), mft=True)
    assign = shard_plan(src, "doc_id", n_shards=64)
    target, ckpt = _fresh_sink("shard", sf_dir)
    runner.run_stream_to_parquet(assign, target, ckpt, partition_by=("shard",))
    # explicit read schema: a zero-row source commits batches but writes no
    # data files, which inference can't read (degenerate-sweep pin); shard
    # is declared long so the hive partition dirs parse straight into the
    # assignment's type and the census schema matches the batch twin
    layout = spark.read.schema("doc_id long, okey long, shard long").parquet(
        target
    ).select("doc_id", "shard", "okey")
    return shard_census(layout, "doc_id").orderBy("shard")


def s_maxsim_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction scoring at INGEST — the streaming twin of
    t_maxsim_topk: the per-doc MaxSim maxima are computed by the row-local
    HOF form (similarity.maxsim_hof_max_cols — tokenize, per-query-token
    max-cosine over the record's own token list), a pure per-record map
    with NO state, so the scoring runs unchanged on a readStream; the
    sink appends the reduced (doc_id, maxima) relation — the stored
    scoring artifact a retrieval service maintains as documents arrive.
    maxFilesPerTrigger=_REPLAY_MFT over the _REPLAY_FILES-file replay forces ≥2 micro-batches.
    The checked output is the same per-query top-k over the drained
    relation, so this query shares ORACLE_T_MAXSIM verbatim: a green row
    proves stream scoring == batch scoring row-for-row through the real
    exactly-once parquet sink."""
    src = _replay_stream(spark, sf_dir, "udlang_stream_msim", _DOC_TEXT, mft=True)
    scored = (
        src.select("doc_id", F.expr(similarity.maxsim_tvn_sql()).alias("tvn"))
        .filter(F.expr("size(tvn) > 0"))
        .select("doc_id", *similarity.maxsim_hof_max_cols())
    )
    target, ckpt = _fresh_sink("msim", sf_dir)
    runner.run_stream_to_parquet(scored, target, ckpt)
    # explicit read schema (zero-row sources commit batches but write no
    # data files — the s_shard_stream degenerate-sweep pin)
    schema = "doc_id long, " + ", ".join(
        f"{c} double"
        for c in scored.columns
        if c != "doc_id"
    )
    maxes = spark.read.schema(schema).parquet(target)
    return similarity.maxsim_topk_from_maxes(maxes)


QUERIES = {
    "s_kernel_stream": s_kernel_stream,
    "s_windowed_stream": s_windowed_stream,
    "s_stateful_totals": s_stateful_totals,
    "s_stream_join": s_stream_join,
    "s_dedup_stream": s_dedup_stream,
    "s_neardup_stream": s_neardup_stream,
    "s_url_dedup_stream": s_url_dedup_stream,
    "s_cms_stream": s_cms_stream,
    "s_cms_merge": s_cms_merge,
    "s_hll_stream": s_hll_stream,
    "s_kmv_stream": s_kmv_stream,
    "s_enrich_stream": s_enrich_stream,
    "s_quantile_stream": s_quantile_stream,
    "s_session_stream": s_session_stream,
    "s_interval_stream": s_interval_stream,
    "s_cdc_apply": s_cdc_apply,
    "s_shard_stream": s_shard_stream,
    "s_maxsim_stream": s_maxsim_stream,
}

# Each query's drained result is a pure function of the event set (module
# docstring), so the oracles below express the STREAM SEMANTICS — window
# assignment, session merging, watermarked join bounds, final state — in
# plain SQL over the same events table. Only s_kernel_stream's doubler is
# trivial; the others reproduce the stateful operator's contract exactly.

ORACLE_KERNEL_STREAM = """
SELECT event_id, value * 2.0 AS out
FROM events WHERE value > 100.0
"""

# tumbling 1-hour windows are epoch-aligned: bucket = ts - ts % 3600
ORACLE_WINDOWED_STREAM = """
WITH e AS (
  SELECT event_type,
         1700000000 + event_id * 60 AS ts,
         CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS vfp
  FROM events
)
SELECT strftime(make_timestamp((ts - ts % 3600) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type,
       count(*) AS n_events,
       CAST(sum(vfp) AS DOUBLE) / 1000000.0 AS sum_value
FROM e GROUP BY 1, 2
"""

ORACLE_STATEFUL_TOTALS = """
SELECT event_id % 7 AS key,
       count(*) AS n,
       CAST(sum(CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
            AS DOUBLE) / 1000000.0 AS total
FROM events GROUP BY 1
"""

ORACLE_STREAM_JOIN = """
WITH e AS (
  SELECT event_id, event_type, value,
         1700000000 + event_id * 60 AS ts,
         event_id % 13 AS ukey
  FROM events
),
c AS (SELECT ukey, event_id AS click_id, ts AS click_ts
      FROM e WHERE event_type = 'click'),
p AS (SELECT ukey, event_id AS purchase_id, ts AS purchase_ts, value
      FROM e WHERE event_type = 'purchase')
SELECT c.ukey AS jkey, click_id, purchase_id, round(value, 6) AS purchase_value
FROM c JOIN p ON c.ukey = p.ukey
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + 3600
"""

ORACLE_DEDUP_STREAM = """
SELECT DISTINCT event_type, event_id % 50 AS bucket
FROM events ORDER BY event_type, bucket
"""

ORACLE_NEARDUP_STREAM = (
    "WITH s AS (" + _llm.ORACLE_SIMHASH + ")\n"
    "SELECT DISTINCT simhash FROM s ORDER BY simhash"
)

# session windows: islands split where the time since the previous event in
# the group is STRICTLY > gap (verified against Spark: an event arriving
# exactly `gap` after the latest still merges into the session);
# end = last event + gap
ORACLE_SESSION_STREAM = """
WITH e AS (
  SELECT event_type,
         1700000000 + event_id * 60 AS ts,
         CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS vfp
  FROM events
),
g AS (
  SELECT *,
    CASE WHEN coalesce(ts - lag(ts) OVER (PARTITION BY event_type ORDER BY ts),
                       601) > 600
         THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT strftime(make_timestamp(min(ts) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(make_timestamp((max(ts) + 600) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS session_end,
       event_type,
       count(*) AS n_events,
       CAST(sum(vfp) AS DOUBLE) / 1000000.0 AS sum_value
FROM s GROUP BY event_type, sid
"""

ORACLE: dict[str, str] = {
    "s_kernel_stream": ORACLE_KERNEL_STREAM,
    "s_windowed_stream": ORACLE_WINDOWED_STREAM,
    "s_stateful_totals": ORACLE_STATEFUL_TOTALS,
    "s_stream_join": ORACLE_STREAM_JOIN,
    "s_dedup_stream": ORACLE_DEDUP_STREAM,
    "s_neardup_stream": ORACLE_NEARDUP_STREAM,
    "s_url_dedup_stream": ORACLE_URL_DEDUP_STREAM,
    "s_session_stream": ORACLE_SESSION_STREAM,
    "s_interval_stream": ORACLE_INTERVAL_STREAM,
    "s_cdc_apply": ORACLE_CDC_APPLY,
    # the streaming sketches equal the batch sketch exactly (associative
    # integer counts), so the batch CMS oracle applies verbatim to both
    # the complete-mode and the merge form
    "s_cms_stream": _llm.ORACLE_CMS_FREQ,
    "s_cms_merge": _llm.ORACLE_CMS_FREQ,
    "s_hll_stream": ORACLE_HLL_STREAM,
    "s_kmv_stream": ORACLE_KMV_STREAM,
    "s_enrich_stream": ORACLE_ENRICH_STREAM,
    # the streaming histogram equals the batch histogram exactly
    # (associative integer counts), so the batch quantile oracle applies
    "s_quantile_stream": _llm.ORACLE_QUANTILE_SKETCH,
    # the drained partitionBy(shard) layout carries exactly the batch
    # assignment (shard/okey are pure per-row md5 functions), so the batch
    # census oracle pins the streaming path verbatim — including the full
    # within-shard permutation witness
    "s_shard_stream": _llm.ORACLE_SHARD_PLAN,
    # the drained (doc_id, maxima) relation carries exactly the batch
    # scoring (row-local md5 cosines), so the batch MaxSim oracle pins
    # the streaming twin verbatim
    "s_maxsim_stream": _llm.ORACLE_T_MAXSIM,
}
