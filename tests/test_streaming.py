"""Streaming: kernels and windowed aggs on readStream, checked for
batch-equivalence (same Column expressions, same results)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMOKE
from udlang_spark.functions import text as TXT
from udlang_spark.kernel import ast
from udlang_spark.kernel.api import compile_kernel
from udlang_spark.operators import sketches
from udlang_spark.sources import json_lift
from udlang_spark.sources.tables import load_table
from udlang_spark.streaming import runner

DOUBLER = """
version 0.1-pre_mvp;
script "doubler";
input Float;
output Float;
if (in > 100.0) {
  out in * 2.0;
}
"""


@pytest.fixture(scope="module")
def events_json_dir(spark):
    """events rows as JSON files — a replayable file stream."""
    tmp = tempfile.mkdtemp(prefix="udlang_stream_")
    ev = load_table(spark, "events", SF_DIR_SMOKE)
    json_lift.lower_json(
        ev.select("event_id", "event_type", "value"),
        ("event_id", "event_type", "value"),
    ).select("json").coalesce(2).write.mode("overwrite").text(tmp)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_kernel_stream_equals_batch(spark, events_json_dir):
    input_t = ast.TRecord(
        (
            ast.TRecordField("event_id", ast.T_INT),
            ast.TRecordField("event_type", ast.T_STR),
            ast.TRecordField("value", ast.T_FLOAT),
        )
    )
    schema = json_lift.input_schema(input_t)
    stream = (
        spark.readStream.schema(schema).option("mode", "FAILFAST").json(events_json_dir)
    )
    k = compile_kernel(DOUBLER)
    out = runner.kernel_stream(k, stream, input_col="value")
    got = runner.run_stream_to_memory(out, "t_kernel_stream", spark)
    stream_vals = sorted(r.out for r in got.collect())

    batch = load_table(spark, "events", SF_DIR_SMOKE)
    batch_vals = sorted(
        r.out for r in k.apply(batch, input_col="value").collect()
    )
    assert stream_vals == batch_vals
    assert len(stream_vals) > 0


def test_windowed_stream_equals_batch(spark, events_json_dir):
    input_t = ast.TRecord(
        (
            ast.TRecordField("event_id", ast.T_INT),
            ast.TRecordField("event_type", ast.T_STR),
            ast.TRecordField("value", ast.T_FLOAT),
        )
    )
    # synthesize a timestamp from event_id so the JSON replay has event-time
    def with_ts(df):
        return df.withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 60)
        )

    schema = json_lift.input_schema(input_t)
    stream = with_ts(
        spark.readStream.schema(schema).option("mode", "FAILFAST").json(events_json_dir)
    )
    res = runner.windowed_agg_stream(
        stream, "ts", window="1 hour", watermark="2 hours",
        group_cols=("event_type",), aggs={"value": "sum"},
    )
    got = runner.run_stream_to_memory(
        res, "t_win_stream", spark, output_mode="complete"
    )
    stream_rows = {
        (r.w.start, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in got.collect()
    }

    batch = with_ts(load_table(spark, "events", SF_DIR_SMOKE))
    batch_res = runner.windowed_agg_stream(
        batch, "ts", window="1 hour", group_cols=("event_type",), aggs={"value": "sum"}
    )
    batch_rows = {
        (r.w.start, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in batch_res.collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 10


def test_lift_json_policies(spark):
    rows = [
        ('{"value": 1}',),
        ('{"value": 2}',),
        ("{not json",),
    ]
    df = spark.createDataFrame(rows, "j string")

    ok = json_lift.lift_json(df, "j", ast.T_INT, policy="ignore")
    assert sorted(r.value for r in ok.collect()) == [1, 2]

    warn = json_lift.lift_json(df, "j", ast.T_INT, policy="warn")
    got = warn.collect()
    assert len(got) == 3
    corrupt = [r for r in got if r._corrupt is not None]
    assert len(corrupt) == 1 and r"{not json" in corrupt[0]._corrupt

    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        json_lift.lift_json(df, "j", ast.T_INT, policy="abort").collect()


def test_lower_then_lift_roundtrip(spark):
    ev = load_table(spark, "events", SF_DIR_SMOKE).select("event_id", "value")
    input_t = ast.TRecord(
        (
            ast.TRecordField("event_id", ast.T_INT),
            ast.TRecordField("value", ast.T_FLOAT),
        )
    )
    lowered = json_lift.lower_json(ev, ("event_id", "value")).select("json")
    lifted = json_lift.lift_json(lowered, "json", input_t, policy="abort")
    orig = {(r.event_id, r.value) for r in ev.collect()}
    back = {(r.event_id, r.value) for r in lifted.collect()}
    assert orig == back


def test_session_window_stream_equals_batch(spark, events_json_dir):
    input_t = ast.TRecord(
        (
            ast.TRecordField("event_id", ast.T_INT),
            ast.TRecordField("event_type", ast.T_STR),
            ast.TRecordField("value", ast.T_FLOAT),
        )
    )

    def with_ts(df):
        return df.withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 47)
        )

    schema = json_lift.input_schema(input_t)
    stream = with_ts(
        spark.readStream.schema(schema).option("mode", "FAILFAST").json(events_json_dir)
    )
    res = runner.session_window_stream(
        stream, "ts", gap="2 minutes", watermark="1 hour",
        group_cols=("event_type",), aggs={"value": "sum"},
    )
    got = runner.run_stream_to_memory(
        res, "t_sess_stream", spark, output_mode="complete"
    )
    stream_rows = {
        (r.w.start, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in got.collect()
    }

    batch = with_ts(load_table(spark, "events", SF_DIR_SMOKE))
    batch_res = runner.session_window_stream(
        batch, "ts", gap="2 minutes", group_cols=("event_type",), aggs={"value": "sum"}
    )
    batch_rows = {
        (r.w.start, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in batch_res.collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 1


def test_stateful_running_totals(spark, events_json_dir):
    input_t = ast.TRecord(
        (
            ast.TRecordField("event_id", ast.T_INT),
            ast.TRecordField("event_type", ast.T_STR),
            ast.TRecordField("value", ast.T_FLOAT),
        )
    )
    schema = json_lift.input_schema(input_t)
    stream = spark.readStream.schema(schema).option("mode", "FAILFAST").json(
        events_json_dir
    ).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 60)
    )
    res = runner.stateful_running_totals(
        stream.withColumn("bucket", F.col("event_id") % 7),
        key_col="bucket", value_col="value", ts_col="ts",
    )
    got = runner.run_stream_to_memory(res, "t_stateful", spark, output_mode="update")
    rows = got.collect()
    # final state per key = row with the largest n (update mode emits one
    # row per key per micro-batch)
    final = {}
    for r in rows:
        if r.key not in final or r.n > final[r.key][0]:
            final[r.key] = (r.n, round(r.total, 6))

    batch = load_table(spark, "events", SF_DIR_SMOKE).withColumn(
        "bucket", F.col("event_id") % 7
    )
    expect = {
        r.bucket: (r.n, round(r.total, 6))
        for r in batch.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert final == expect


def _ts_stream(spark, events_json_dir):
    input_t = ast.TRecord(
        (
            ast.TRecordField("event_id", ast.T_INT),
            ast.TRecordField("event_type", ast.T_STR),
            ast.TRecordField("value", ast.T_FLOAT),
        )
    )
    schema = json_lift.input_schema(input_t)
    return (
        spark.readStream.schema(schema)
        .option("mode", "FAILFAST")
        .json(events_json_dir)
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 60)
        )
    )


def _ts_batch(spark):
    return (
        load_table(spark, "events", SF_DIR_SMOKE)
        .select("event_id", "event_type", "value")
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id") * 60)
        )
    )


def _split_click_purchase(df):
    src = df.withColumn("ukey", F.col("event_id") % 13)
    clicks = src.filter(F.col("event_type") == "click").select(
        "ukey", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        "ukey", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    return clicks, purchases


def test_stream_stream_join_equals_batch(spark, events_json_dir):
    """The watermarked stream-stream join emits exactly the rows the batch
    join produces (inner join, bounded input, watermark far above the data's
    disorder)."""
    s_clicks, s_purch = _split_click_purchase(_ts_stream(spark, events_json_dir))
    joined = runner.stream_stream_join(
        s_clicks, s_purch, key_col="ukey",
        left_ts="click_ts", right_ts="purchase_ts",
        watermark="2 hours", within="1 hour",
    )
    got = {
        (r.jkey, r.l_click_id, r.r_purchase_id)
        for r in runner.run_stream_to_memory(joined, "t_ss_join", spark).collect()
    }

    b_clicks, b_purch = _split_click_purchase(_ts_batch(spark))
    b_joined = runner.stream_stream_join(
        b_clicks, b_purch, key_col="ukey",
        left_ts="click_ts", right_ts="purchase_ts", within="1 hour",
    )
    expect = {
        (r.jkey, r.l_click_id, r.r_purchase_id) for r in b_joined.collect()
    }
    assert got == expect and len(got) > 0


def test_streaming_dedup_equals_batch_keyset(spark, events_json_dir):
    """dropDuplicatesWithinWatermark keeps one row per key; the surviving
    key set equals batch dropDuplicates' (which row survives is racy, the
    key set is not)."""
    src = _ts_stream(spark, events_json_dir).withColumn(
        "bucket", F.col("event_id") % 50
    )
    deduped = runner.streaming_dedup(src, ("event_type", "bucket"), "ts")
    out = runner.run_stream_to_memory(deduped, "t_sdedup", spark)
    got_rows = out.collect()
    got_keys = {(r.event_type, r.bucket) for r in got_rows}
    assert len(got_rows) == len(got_keys)  # one survivor per key

    batch = _ts_batch(spark).withColumn("bucket", F.col("event_id") % 50)
    expect_keys = {
        (r.event_type, r.bucket)
        for r in runner.streaming_dedup(batch, ("event_type", "bucket"), "ts").collect()
    }
    assert got_keys == expect_keys


def test_parquet_sink_exactly_once_restart(spark, tmp_path):
    """Checkpointed parquet sink: a restart over an unchanged source emits
    nothing; appended source data emits exactly its own rows."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, lo, hi):
        with open(src / name, "w") as fh:
            for i in range(lo, hi):
                fh.write(_json.dumps({"event_id": i, "value": float(i)}) + "\n")

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, value double")
            .option("mode", "FAILFAST")
            .json(str(src))
            .withColumn("doubled", F.col("value") * 2)
        )
        runner.run_stream_to_parquet(stream, out, ckpt)

    write_batch("a.json", 0, 50)
    run_once()
    assert spark.read.parquet(out).count() == 50

    run_once()  # restart, no new data → no new rows
    assert spark.read.parquet(out).count() == 50

    write_batch("b.json", 50, 80)
    run_once()  # restart with 30 new rows → exactly those
    got = spark.read.parquet(out)
    assert got.count() == 80
    assert got.agg(F.countDistinct("event_id")).collect()[0][0] == 80


def test_multi_out_kernel_on_stream(spark, events_json_dir):
    """A multi-`out` kernel (posexplode path, not the filter fast path)
    under Structured Streaming equals its batch run — flatMap semantics are
    execution-mode-independent."""
    COUNTDOWN = """
version 0.1-pre_mvp;
script "countdown";
input Int;
output Int;
let small = in % 4;
if (small > 0) {
  out small;
  out small * 10;
}
"""
    k = compile_kernel(COUNTDOWN)
    schema = json_lift.input_schema(
        ast.TRecord(
            (
                ast.TRecordField("event_id", ast.T_INT),
                ast.TRecordField("event_type", ast.T_STR),
                ast.TRecordField("value", ast.T_FLOAT),
            )
        )
    )
    stream = spark.readStream.schema(schema).option("mode", "FAILFAST").json(
        events_json_dir
    )
    out = runner.kernel_stream(k, stream, input_col="event_id", keep=("event_id",))
    got = sorted(
        (r.event_id, r.out)
        for r in runner.run_stream_to_memory(out, "t_multi_out", spark).collect()
    )
    batch = load_table(spark, "events", SF_DIR_SMOKE).select("event_id", "event_type", F.col("value"))
    expect = sorted(
        (r.event_id, r.out)
        for r in k.apply(batch, input_col="event_id", keep=("event_id",)).collect()
    )
    assert got == expect and len(got) > 0


def test_cdc_apply_stream(spark, tmp_path):
    """Streaming MERGE via foreachBatch: inserts land, later updates
    replace matched keys (latest seq wins within and across batches), a
    restart over an unchanged source changes nothing."""
    import json as _json

    src = tmp_path / "cdc_src"
    src.mkdir()
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "cdc_ckpt")

    def write_changes(name, rows):
        with open(src / name, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    def run_once():
        stream = spark.readStream.schema("k long, v string, seq long").option(
            "mode", "FAILFAST"
        ).json(str(src))
        runner.run_cdc_apply_stream(
            spark, stream, target, ckpt, key="k", seq_col="seq"
        )

    write_changes(
        "b1.json",
        [
            {"k": 1, "v": "a", "seq": 1},
            {"k": 2, "v": "b", "seq": 2},
            {"k": 1, "v": "a2", "seq": 3},  # same-batch update: seq 3 wins
        ],
    )
    run_once()
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a2", 2: "b"}

    run_once()  # restart, no new data: target unchanged
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a2", 2: "b"}

    write_changes(
        "b2.json",
        [
            {"k": 2, "v": "b2", "seq": 4},  # update existing
            {"k": 3, "v": "c", "seq": 5},   # insert new
        ],
    )
    run_once()
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a2", 2: "b2", 3: "c"}


def test_cdc_apply_matches_duckdb_oracle(spark, duck):
    """The seq-aware merge makes the streaming MERGE oracle-checkable: the
    final target equals latest-seq-per-key computed relationally."""
    from tests.conftest import SF_DIR_CORRECTNESS
    from tests.oracle_harness import compare
    from udlang_spark.queries.streaming import ORACLE_CDC_APPLY, s_cdc_apply

    compare(
        spark, duck, "s_cdc_apply", s_cdc_apply, ORACLE_CDC_APPLY, SF_DIR_CORRECTNESS
    )


def test_stateful_totals_string_keys(spark, tmp_path):
    """The stateful operator must work for non-long keys (the output/state
    schema derives the key type from the input)."""
    src_dir = str(tmp_path / "skeys")
    spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 2), ("b", 5.0, 3)], "k string, v double, i long"
    ).write.json(src_dir)
    stream = (
        spark.readStream.schema("k string, v double, i long")
        .json(src_dir)
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("i")))
    )
    res = runner.stateful_running_totals(stream, key_col="k", value_col="v", ts_col="ts")
    out = runner.run_stream_to_memory(
        res, "q_skeys_totals", spark, output_mode="update"
    )
    got = {r["key"]: (r["n"], r["total"]) for r in out.collect()}
    assert got == {"a": (2, 3.0), "b": (1, 5.0)}


def test_cdc_apply_recovers_interrupted_swap(spark, tmp_path):
    """If a crash left the base table renamed to .__old (swap interrupted
    between the two renames), the next apply restores it instead of
    silently rebuilding from one batch."""
    import os

    target = str(tmp_path / "cdc_target")
    ckpt1 = str(tmp_path / "ckpt1")
    src1 = spark.createDataFrame([(1, 10.0, 1), (2, 20.0, 2)], "k long, v double, seq long")
    d1 = str(tmp_path / "in1"); src1.write.json(d1)
    stream1 = spark.readStream.schema("k long, v double, seq long").json(d1)
    runner.run_cdc_apply_stream(spark, stream1, target, ckpt1, key="k", seq_col="seq")
    assert spark.read.parquet(target).count() == 2
    # simulate the crash window: target renamed away, second rename not done
    os.rename(target, target + ".__old")
    src2 = spark.createDataFrame([(3, 30.0, 3)], "k long, v double, seq long")
    d2 = str(tmp_path / "in2"); src2.write.json(d2)
    stream2 = spark.readStream.schema("k long, v double, seq long").json(d2)
    runner.run_cdc_apply_stream(
        spark, stream2, target, str(tmp_path / "ckpt2"), key="k", seq_col="seq"
    )
    got = {r["k"] for r in spark.read.parquet(target).collect()}
    assert got == {1, 2, 3}  # base rows recovered, not lost
    assert not os.path.exists(target + ".__old")


def test_neardup_stream_equals_batch_fpset(spark, duck):
    """Streaming SimHash near-dedup drains to exactly the batch distinct
    fingerprint set (micro-batch boundaries must not change WHICH
    fingerprints survive — only which arrival represents each)."""
    from udlang_spark.operators import dedup as dedup_ops
    from udlang_spark.queries import streaming as squeries
    from udlang_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_CORRECTNESS

    got = [
        r["simhash"]
        for r in squeries.s_neardup_stream(spark, SF_DIR_CORRECTNESS).collect()
    ]
    docs = load_table(spark, "documents", SF_DIR_CORRECTNESS)
    want = sorted(
        r["simhash"]
        for r in dedup_ops.simhash_fingerprints(docs, "text", "doc_id")
        .select("simhash")
        .distinct()
        .collect()
    )
    assert got == want
    assert len(got) < docs.count()  # the corpus has fp-identical near-dups


# per sketch algebra: the (row, bucket) / (bucket, rank) / h cells of a
# `tok` relation and run_sketch_merge_stream's arguments for it
_SKETCH_CELLS = {
    "count_sum": (lambda toks: sketches.cms_cells(toks, "tok"), {}),
    "max": (
        lambda toks: toks.select(*sketches.hll_bucket_rank(F.col("tok"))),
        dict(cell_cols=("bucket",), mode="max", value_col="rank", out_col="r"),
    ),
    "min_k": (
        lambda toks: toks.select(sketches.kmv_hash_col(F.col("tok")).alias("h")),
        dict(cell_cols=("h",), mode="min_k", k=32),
    ),
}


def _docs_cells_replay(spark, tmp_path, mode="count_sum", n_files=3):
    """documents replayed as n_files JSON files, one per micro-batch, and
    the stream- and batch-side cells of `mode`'s sketch algebra, plus its
    run_sketch_merge_stream arguments — shared by the sketch stream tests."""
    docs = load_table(spark, "documents", SF_DIR_SMOKE)
    rep = str(tmp_path / "docs_json")
    # repartition, not coalesce: the smoke relation may hold fewer
    # partitions than n_files, and coalesce cannot increase the count —
    # the multi-batch forcing depends on ≥ n_files actual files
    json_lift.lower_json(
        docs.select("doc_id", "text"), ("doc_id", "text")
    ).select("json").repartition(n_files).write.mode("overwrite").text(rep)
    doc_t = ast.TRecord(
        (ast.TRecordField("doc_id", ast.T_INT), ast.TRecordField("text", ast.T_STR))
    )
    src = (
        spark.readStream.schema(json_lift.input_schema(doc_t))
        .option("mode", "FAILFAST")
        .option("maxFilesPerTrigger", 1)
        .json(rep)
    )
    cells, kwargs = _SKETCH_CELLS[mode]
    toks = [r.select(F.explode(TXT.words("text")).alias("tok")) for r in (src, docs)]
    return cells(toks[0]), cells(toks[1]), kwargs


def test_cms_stream_multibatch_mergeability(spark, tmp_path):
    """Complete-mode streaming sketch under FORCED multi-batch ingestion
    (maxFilesPerTrigger=1 over a 3-file replay): the drained sketch must
    equal the batch sketch whatever the micro-batching — the mergeability
    claim s_cms_stream makes, pinned against any lucky single-batch run.
    recentProgress proves ≥2 data-carrying micro-batches actually ran."""
    stream_cells, batch_cells, _ = _docs_cells_replay(spark, tmp_path)
    sketch_stream = stream_cells.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        sketch_stream.writeStream.format("memory")
        .queryName("t_cms_multibatch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 2, "replay collapsed into one micro-batch"
    got = {
        (r["row"], r["bucket"]): r["n"]
        for r in spark.table("t_cms_multibatch").collect()
    }
    want = {
        (r["row"], r["bucket"]): r["n"]
        for r in batch_cells.groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_cms_delta_merge_equals_batch(spark, tmp_path):
    """The foreachBatch merge sketch (run_sketch_merge_stream) under
    forced multi-batch ingestion equals the batch sketch, and the
    _LAST_BATCH sidecar proves the merge folded ≥2 micro-batches."""
    stream_cells, batch_cells, _ = _docs_cells_replay(spark, tmp_path)
    target = str(tmp_path / "sketch_target")
    ckpt = str(tmp_path / "sketch_ckpt")
    runner.run_sketch_merge_stream(spark, stream_cells, target, ckpt)

    assert runner._applied_batch(target) >= 1
    got = {
        (r["row"], r["bucket"]): r["n"]
        for r in spark.read.parquet(target).collect()
    }
    want = {
        (r["row"], r["bucket"]): r["n"]
        for r in batch_cells.groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


@pytest.mark.parametrize("mode", list(_SKETCH_CELLS))
def test_cms_delta_merge_restart_and_redelivery(spark, tmp_path, mode):
    """Counter merges are not idempotent, so no sketch merge may fold a
    batch twice on (a) a restart over an unchanged source with the same
    checkpoint (offsets skip everything) or (b) full redelivery with a
    FRESH checkpoint: batch ids restart at 0, at or below the _LAST_BATCH
    sidecar's id, so every batch is skipped and the table is not even
    rewritten (same files). (c) A target without the sidecar has no known
    applied batch, so the sink refuses it loudly, naming the sidecar."""
    import os

    cells, _, kwargs = _docs_cells_replay(spark, tmp_path, mode)
    target = str(tmp_path / "sketch_target")

    def run(ckpt):
        runner.run_sketch_merge_stream(
            spark, cells, target, str(tmp_path / ckpt), **kwargs
        )

    def state():
        rows = sorted(tuple(r) for r in spark.read.parquet(target).collect())
        return rows, sorted(os.listdir(target)), runner._applied_batch(target)

    run("ckpt1")
    before = state()
    assert before[2] >= 1  # ≥2 micro-batches folded
    run("ckpt1")  # (a) restart, same checkpoint
    run("ckpt2")  # (b) redelivery, fresh checkpoint
    assert state() == before
    os.remove(os.path.join(target, "_LAST_BATCH"))
    with pytest.raises(ValueError, match="_LAST_BATCH"):
        run("ckpt3")  # (c)


def test_hll_delta_merge_equals_batch(spark, tmp_path):
    """mode='max' merge (HLL registers) under forced multi-batch
    ingestion equals the batch registers — the MAX-merge counterpart of
    the CMS sum-merge test."""
    cells, bcells, kwargs = _docs_cells_replay(spark, tmp_path, "max")
    target = str(tmp_path / "hll_target")
    runner.run_sketch_merge_stream(
        spark, cells, target, str(tmp_path / "hll_ckpt"), **kwargs
    )
    assert runner._applied_batch(target) >= 1
    got = {r["bucket"]: r["r"] for r in spark.read.parquet(target).collect()}
    want = {
        r["bucket"]: r["r"]
        for r in bcells.groupBy("bucket").agg(F.max("rank").alias("r")).collect()
    }
    assert got == want


def test_kmv_delta_merge_equals_batch(spark, tmp_path):
    """mode='min_k' merge (KMV k-minima) under forced multi-batch
    ingestion equals the batch k smallest distinct hashes EXACTLY — the
    MIN-K counterpart of the CMS sum-merge and HLL max-merge tests (the
    global k-minima are each among the table's k-minima or the batch's
    hashes, so the bounded state loses nothing)."""
    cells, bcells, kwargs = _docs_cells_replay(spark, tmp_path, "min_k")
    target = str(tmp_path / "kmv_target")
    runner.run_sketch_merge_stream(
        spark, cells, target, str(tmp_path / "kmv_ckpt"), **kwargs
    )
    assert runner._applied_batch(target) >= 1
    got = sorted(r["h"] for r in spark.read.parquet(target).collect())
    assert len(got) <= kwargs["k"]
    want = sorted(
        r["h"] for r in bcells.distinct().orderBy("h").limit(kwargs["k"]).collect()
    )
    assert got == want


def test_enrich_stream_equals_batch(spark, duck):
    """Stream-static enrichment join drains to exactly the batch join's
    aggregate — the static dimension is re-read per micro-batch, and the
    fixed-point sums make the result micro-batching-invariant."""
    from udlang_spark.queries import streaming as squeries
    from tests.conftest import SF_DIR_CORRECTNESS

    got = {
        (r["c_mktsegment"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in squeries.s_enrich_stream(spark, SF_DIR_CORRECTNESS).collect()
    }
    want = {
        (seg, et): (n, sv)
        for seg, et, n, sv in duck.execute(
            squeries.ORACLE_ENRICH_STREAM
        ).fetchall()
    }
    assert got == want and len(got) > 5


def test_quantile_stream_histogram_equals_batch(spark, duck):
    """The streaming merged histogram answers quantiles exactly as
    the batch sketch (shared quantile_probe_report): full-row equality of
    s_quantile_stream vs the t_quantile_sketch oracle."""
    from udlang_spark.queries import streaming as squeries
    from tests.conftest import SF_DIR_CORRECTNESS

    got = {
        tuple(r)
        for r in squeries.s_quantile_stream(spark, SF_DIR_CORRECTNESS).collect()
    }
    want = {
        tuple(r)
        for r in duck.execute(squeries.ORACLE[
            "s_quantile_stream"
        ]).fetchall()
    }
    assert got == want and len(got) == 3


def test_interval_session_merges_on_touch_and_equals_islands(spark):
    """Pins the s_interval_stream contract in BATCH session_window form:
    (a) TOUCHING intervals merge (s == prev_e — same rule as q72's
    gaps-and-islands `s > prev_max_e` island break), (b) overlapping
    intervals merge to max-end, (c) isolated intervals pass through.
    If a Spark upgrade ever changed the merge-on-touch semantics, this
    fails before the driver oracle does."""
    rows = [  # (user, ts_s, gap_s)
        (1, 0, 60), (1, 60, 60),      # touching -> one island [0,120)
        (1, 200, 60), (1, 230, 60),   # overlap  -> one island [200,290)
        (1, 400, 1),                  # isolated -> [400,401)
        (2, 0, 60),                   # other user: own island
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s long, gap_s long")
    iv = df.withColumn("ts", F.timestamp_seconds("ts_s")).withColumn(
        "gap", F.concat(F.col("gap_s").cast("string"), F.lit(" seconds"))
    )
    from udlang_spark.streaming import runner

    out = {
        (r["user_id"], r["s"], r["e"], r["n"])
        for r in runner.session_window_stream(
            iv, "ts", gap=F.col("gap"), group_cols=("user_id",)
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("s"),
            F.col("w.end").cast("long").alias("e"),
            F.col("n_events").alias("n"),
        )
        .collect()
    }
    assert out == {
        (1, 0, 120, 2),
        (1, 200, 290, 2),
        (1, 400, 401, 1),
        (2, 0, 60, 1),
    }


def test_interval_stream_equals_batch_islands(spark, duck):
    """Streaming interval union (dynamic-gap session windows, drained)
    equals the batch gaps-and-islands oracle row-for-row, and its per-user
    rollup reproduces q72's totals exactly."""
    from tests.conftest import SF_DIR_CORRECTNESS
    from udlang_spark.queries import streaming as squeries

    got_df = squeries.s_interval_stream(spark, SF_DIR_CORRECTNESS)
    got = {tuple(r) for r in got_df.collect()}
    want = {
        tuple(r)
        for r in duck.execute(squeries.ORACLE_INTERVAL_STREAM).fetchall()
    }
    assert got == want and len(got) > 100
    # rollup → q72 parity
    from udlang_spark.queries import relational as rel

    roll = {
        tuple(r)
        for r in got_df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("covered_sec").alias("covered_sec"),
        )
        .collect()
    }
    q72 = {
        tuple(r)
        for r in rel.q72_interval_union(spark, SF_DIR_CORRECTNESS).collect()
    }
    assert roll == q72


def test_url_dedup_stream_keys_equal_batch_dedup(spark):
    """The streaming URL dedup's surviving canonical-key set must equal
    the batch d_url_dedup's key relation exactly — same synthetic URL
    derivation, same canonicalization, watermark wide enough that every
    replayed duplicate lands in state."""
    from tests.conftest import SF_DIR_CORRECTNESS
    from udlang_spark.queries import llm
    from udlang_spark.queries import streaming as squeries

    got = {
        r["canon_url"]
        for r in squeries.s_url_dedup_stream(spark, SF_DIR_CORRECTNESS).collect()
    }
    want = {
        r["canon_url"]
        for r in llm.d_url_dedup(spark, SF_DIR_CORRECTNESS)
        .select("canon_url")
        .collect()
    }
    assert got == want and len(got) > 50


def test_shard_stream_census_equals_batch_plan(spark):
    """s_shard_stream's drained partitionBy(shard) layout must census
    identically to t_shard_plan's batch assignment — same counts, same
    exact okey sums, same full-permutation md5 witness per shard — and the
    forced multi-batch replay (maxFilesPerTrigger=2 over 4 files) means
    the partitioned APPEND path is what produced it."""
    from tests.conftest import SF_DIR_SMOKE
    from udlang_spark.queries import llm
    from udlang_spark.queries import streaming as squeries

    got = [
        tuple(r)
        for r in squeries.s_shard_stream(spark, SF_DIR_SMOKE).collect()
    ]
    want = [
        tuple(r) for r in llm.t_shard_plan(spark, SF_DIR_SMOKE).collect()
    ]
    assert got == want
    assert len(got) == 64  # every shard populated at smoke scale


def test_stream_shuffle_scope_applies_and_restores(spark, tmp_path):
    """Streaming executes without AQE, so runner scopes a low
    spark.sql.shuffle.partitions to each stream's start→drain window
    (state-store partition count is captured at stream start). Pin three
    contract points: (1) the stream really STARTED under the low value —
    the checkpoint offset log records the conf the query captured; (2) the
    batch value is restored after the drain; (3) each persisted sketch
    version is ONE file (bounded-by-construction state, coalesce(1))."""
    import glob
    import json

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    stream_cells, batch_cells, _ = _docs_cells_replay(spark, tmp_path)
    target = str(tmp_path / "sketch_target")
    ckpt = str(tmp_path / "sketch_ckpt")
    runner.run_sketch_merge_stream(spark, stream_cells, target, ckpt)

    # (1) the offset log's recorded conf is the streaming value
    with open(ckpt + "/offsets/0") as fh:
        lines = fh.read().splitlines()
    meta = json.loads(lines[1])  # v1 header, then the batch metadata JSON
    assert meta["conf"]["spark.sql.shuffle.partitions"] == str(
        runner.stream_shuffle_partitions()
    )
    # (2) the batch conf is back
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # (3) one data file per sketch version
    parts = [
        p for p in glob.glob(target + "/part-*") if not p.endswith(".crc")
    ]
    assert len(parts) == 1
    # and the merged sketch still equals the batch sketch
    got = {
        (r["row"], r["bucket"]): r["n"]
        for r in spark.read.parquet(target).collect()
    }
    want = {
        (r["row"], r["bucket"]): r["n"]
        for r in batch_cells.groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stateful_restart_captured_shuffle_wins(spark, tmp_path, monkeypatch):
    """r13 VERDICT #7: the stream-start shuffle value is CAPTURED into the
    checkpoint, so restarting a STATEFUL stream from an existing
    checkpoint under a DIFFERENT $SPARK_GRAFT_STREAM_SHUFFLE must keep the
    captured value (Spark restores state-layout confs from the offset
    log; the documented wipe/migrate rule) — state stays consistent and
    no duplicate escapes the dedup."""
    import glob
    import json
    import os as _os

    rep = tmp_path / "rep"
    rep.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name: str, ids):
        with open(rep / name, "w") as fh:
            for i in ids:
                fh.write(json.dumps({"doc_id": i}) + "\n")

    def drain():
        src = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .json(str(rep))
        )
        with runner._stream_shuffle(spark):
            q = (
                src.dropDuplicates(["doc_id"])
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)

    write_file("a.json", list(range(50)) + list(range(0, 50, 2)))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "5")
    drain()
    # new data arrives, operator restarts under a DIFFERENT env value
    write_file("b.json", list(range(25, 75)))  # 25..49 are dup history
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "11")
    drain()

    # every offset-log entry (incl. post-restart batches) records the
    # CAPTURED value — the restart did not re-layout the state store
    offset_files = [
        p
        for p in glob.glob(ckpt + "/offsets/*")
        if _os.path.basename(p).isdigit()
    ]
    assert len(offset_files) >= 2, "restart produced no new micro-batch"
    for p in offset_files:
        with open(p) as fh:
            lines = fh.read().splitlines()
        meta = json.loads(lines[1])
        assert meta["conf"]["spark.sql.shuffle.partitions"] == "5", p
    # and the state survived the restart: exactly one row per distinct id
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(75))


def test_stream_shuffle_restores_on_error(spark):
    """The scope must restore the batch shuffle value on the error path —
    a leaked low value would silently deparallelize every later batch
    query in the session."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="boom"):
        with runner._stream_shuffle(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(
                runner.stream_shuffle_partitions()
            )
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
_FS_MANAGER = _CKPT_PKG + "FileSystemBasedCheckpointFileManager"
_FC_MANAGER = _CKPT_PKG + "FileContextBasedCheckpointFileManager"


def test_get_spark_checkpoint_manager_default_and_override(spark):
    """Every get_spark session writes stream checkpoints through Hadoop
    FileSystem; a caller's extra_conf still overrides it."""
    from udlang_spark.session import get_spark

    assert spark.conf.get(_CKPT_MANAGER_KEY) == _FS_MANAGER
    try:
        other = get_spark("udlang_spark_tests", **{_CKPT_MANAGER_KEY: _FC_MANAGER})
        assert other.conf.get(_CKPT_MANAGER_KEY) == _FC_MANAGER
    finally:
        spark.conf.set(_CKPT_MANAGER_KEY, _FS_MANAGER)


def test_filecontext_checkpoint_restarts_under_filesystem_manager(spark, tmp_path):
    """A stateful dropDuplicates stream checkpointed under the
    FileContext manager (Spark's default, and this engine's before it
    moved to FileSystem) restarts under the engine's manager: the new
    batches commit on the old log, the parquet sink stays exactly-once,
    and no duplicate escapes the restored state."""
    import json

    rep = tmp_path / "rep"
    rep.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name: str, ids):
        with open(rep / name, "w") as fh:
            for i in ids:
                fh.write(json.dumps({"doc_id": i}) + "\n")

    def drain():
        src = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .json(str(rep))
        )
        runner._drain(
            src.dropDuplicates(["doc_id"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt),
            spark,
            "dedup drain",
        )

    def commits():
        log = tmp_path / "ckpt" / "commits"
        return sorted(int(p.name) for p in log.iterdir() if p.name.isdigit())

    write_file("a.json", list(range(50)) + list(range(0, 50, 2)))
    spark.conf.set(_CKPT_MANAGER_KEY, _FC_MANAGER)
    try:
        drain()
    finally:
        spark.conf.set(_CKPT_MANAGER_KEY, _FS_MANAGER)
    assert commits() == [0]

    write_file("b.json", list(range(25, 75)))  # 25..49 are dup history
    drain()
    assert commits() == [0, 1]
    drain()  # restart, no new data -> no new batch, no new rows
    assert commits() == [0, 1]
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(75))


def test_kernel_stream_reuses_replay(spark, monkeypatch):
    """A second s_kernel_stream call reads the replay the first one
    built: same artifact path, marker not rewritten."""
    import os

    from udlang_spark.queries import streaming as S
    from udlang_spark.sources import tables

    paths = []

    def ensure(prefix, key, build):
        paths.append(tables.ensure_artifact(prefix, key, build))
        return paths[-1]

    monkeypatch.setattr(S, "ensure_artifact", ensure)
    n = S.s_kernel_stream(spark, SF_DIR_SMOKE).count()
    marker = os.path.join(paths[0], tables._BUILT)
    built_at = os.stat(marker).st_mtime_ns
    assert S.s_kernel_stream(spark, SF_DIR_SMOKE).count() == n
    assert paths == [paths[0]] * 2
    assert os.stat(marker).st_mtime_ns == built_at


def test_replay_build_retires_only_its_own_older_builds(spark, tmp_path, monkeypatch):
    """A replay miss retires the same prefix's older build for the same
    sf_dir (another source fingerprint), not another sf_dir's build."""
    from udlang_spark.queries import streaming as S
    from udlang_spark.sources import tables

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cols = ("event_id",)

    def fake_build(name: str, sf_dir: str):
        d = tmp_path / f"udlang_test_replay_{name}"
        d.mkdir()
        (d / tables._BUILT).write_text(
            f"{sf_dir}|events|{cols}|None|{S._REPLAY_FILES}|000000000000"
        )
        return d

    older = fake_build("older", SF_DIR_SMOKE)
    other_sf = fake_build("other", "/elsewhere/sf0.001")
    path = S._replay_dir(spark, SF_DIR_SMOKE, "events", cols, "udlang_test_replay")
    assert tables.artifact_built(path)
    assert not older.exists()
    assert other_sf.exists()
    assert spark.read.text(path).count() == load_table(spark, "events", SF_DIR_SMOKE).count()


def test_drain_overrun_stops_and_raises(spark, tmp_path, monkeypatch):
    """A stream still running at the drain timeout is stopped and raises
    TimeoutError instead of leaving a partial sink behind a live query."""
    rep = tmp_path / "rep"
    rep.mkdir()
    (rep / "a.json").write_text('{"doc_id": 1}\n')
    monkeypatch.setattr(runner, "_DRAIN_TIMEOUT_S", 0.001)
    w = (
        spark.readStream.schema("doc_id long").json(str(rep))
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    with pytest.raises(TimeoutError, match="slow drain"):
        runner._drain(w, spark, "slow drain")
    assert not spark.streams.active
