"""File-format connectors: typed schemas + invalid-record policies
(SURVEY.md §2.1)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from tests.conftest import SF_DIR_SMOKE
from udlang_spark.kernel import ast
from udlang_spark.sources import formats
from udlang_spark.sources.tables import load_table

RECORD_T = ast.TRecord(
    (
        ast.TRecordField("event_id", ast.T_INT),
        ast.TRecordField("event_type", ast.T_STR),
        ast.TRecordField("value", ast.T_FLOAT),
    )
)


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="udlang_formats_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_csv_roundtrip(spark, tmpdir):
    ev = load_table(spark, "events", SF_DIR_SMOKE).select(
        "event_id", "event_type", "value"
    )
    formats.write_csv(ev, f"{tmpdir}/ev_csv")
    back = formats.read_csv(spark, f"{tmpdir}/ev_csv", RECORD_T)
    assert back.schema["event_id"].dataType.typeName() == "long"
    orig = {(r.event_id, r.event_type, r.value) for r in ev.collect()}
    got = {(r.event_id, r.event_type, r.value) for r in back.collect()}
    assert orig == got


def test_csv_policies(spark, tmpdir):
    # one malformed line among valid ones
    with open(f"{tmpdir}/bad.csv", "w") as f:
        f.write("event_id,event_type,value\n1,click,2.5\nnot_an_int,x,y\n2,view,1.0\n")
    ok = formats.read_csv(spark, f"{tmpdir}/bad.csv", RECORD_T, policy="ignore")
    assert sorted(r.event_id for r in ok.collect()) == [1, 2]

    warn = formats.read_csv(spark, f"{tmpdir}/bad.csv", RECORD_T, policy="warn")
    rows = warn.collect()
    assert len(rows) == 3
    assert sum(1 for r in rows if r._corrupt is not None) == 1

    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        formats.read_csv(spark, f"{tmpdir}/bad.csv", RECORD_T, policy="abort").collect()


def test_json_roundtrip(spark, tmpdir):
    ev = load_table(spark, "events", SF_DIR_SMOKE).select(
        "event_id", "event_type", "value"
    )
    formats.write_json(ev, f"{tmpdir}/ev_json")
    back = formats.read_json(spark, f"{tmpdir}/ev_json", RECORD_T)
    assert back.count() == ev.count()


def test_parquet_typed_projection(spark, tmpdir):
    ev = load_table(spark, "events", SF_DIR_SMOKE)
    formats.write_parquet(ev.select("event_id", "event_type", "value"), f"{tmpdir}/ev_pq")
    back = formats.read_parquet(spark, f"{tmpdir}/ev_pq", RECORD_T)
    assert [f.name for f in back.schema.fields] == ["event_id", "event_type", "value"]
    # missing declared field -> error (abort-on-mismatch posture)
    with pytest.raises(ValueError, match="lacks declared fields"):
        narrow = ast.TRecord((ast.TRecordField("nope", ast.T_INT),))
        formats.read_parquet(spark, f"{tmpdir}/ev_pq", narrow)


def test_orc_roundtrip_typed_projection(spark, tmpdir):
    ev = load_table(spark, "events", SF_DIR_SMOKE)
    formats.write_orc(ev.select("event_id", "event_type", "value"), f"{tmpdir}/ev_orc")
    back = formats.read_orc(spark, f"{tmpdir}/ev_orc", RECORD_T)
    assert [f.name for f in back.schema.fields] == ["event_id", "event_type", "value"]
    assert back.count() == ev.count()
    with pytest.raises(ValueError, match="lacks declared fields"):
        narrow = ast.TRecord((ast.TRecordField("nope", ast.T_INT),))
        formats.read_orc(spark, f"{tmpdir}/ev_orc", narrow)


# msgpack is no longer a stub — see the codec/framing tests below.


def test_compaction_resizes_and_preserves_rows(spark, tmp_path):
    """compact() rewrites a one-row-group table into size-targeted files;
    row content survives and the new layout scans as multiple splits."""
    from udlang_spark.sources import compaction
    from udlang_spark.sources.tables import load_table

    src = "/root/testdata/sf0.01/lineitem.parquet"
    out = str(tmp_path / "lineitem_compact")
    # ~1.1 MB input, 128 KB target → ~9 files
    n = compaction.compact(spark, src, out, target_bytes=128 * 1024)
    assert n > 1

    import os

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == n

    orig = spark.read.parquet(src)
    comp = spark.read.parquet(out)
    assert comp.count() == orig.count()
    assert set(comp.columns) == set(orig.columns)
    # the rewritten layout parallelizes the scan
    assert comp.rdd.getNumPartitions() > 1


def test_compaction_partitioned_layout(spark, tmp_path):
    from udlang_spark.sources import compaction

    src = "/root/testdata/sf0.01/orders.parquet"
    out = str(tmp_path / "orders_by_status")
    compaction.compact(
        spark, src, out, target_bytes=256 * 1024, partition_by=("o_orderstatus",)
    )
    import os

    subdirs = [d for d in os.listdir(out) if d.startswith("o_orderstatus=")]
    assert len(subdirs) >= 2
    # partition pruning: reading one status touches only its directory
    one = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    plan = one._sc._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    orig_f = spark.read.parquet(src).filter("o_orderstatus = 'F'").count()
    assert one.count() == orig_f


# ---------------------------------------------------------------------------
# msgpack (pure-Python codec + binaryFile/mapInPandas framing)
# ---------------------------------------------------------------------------
def test_msgpack_codec_golden_bytes():
    """Known encodings from the public msgpack spec."""
    from udlang_spark.sources import msgpack_codec as mp

    assert mp.packb(None) == b"\xc0"
    assert mp.packb(True) == b"\xc3"
    assert mp.packb(127) == b"\x7f"
    assert mp.packb(-1) == b"\xff"
    assert mp.packb(256) == b"\xcd\x01\x00"
    assert mp.packb(-129) == b"\xd1\xff\x7f"
    import struct

    assert mp.packb(1.5) == b"\xcb" + struct.pack(">d", 1.5)
    assert mp.packb("a") == b"\xa1a"
    assert mp.packb({"a": 1}) == b"\x81\xa1a\x01"
    assert mp.packb([1, 2]) == b"\x92\x01\x02"
    assert mp.packb(b"\x00\xff") == b"\xc4\x02\x00\xff"


def test_msgpack_codec_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from udlang_spark.sources import msgpack_codec as mp

    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**64 - 1),
        st.floats(allow_nan=False),
        st.text(max_size=40),
        st.binary(max_size=40),
    )
    values = st.recursive(
        scalars,
        lambda kids: st.one_of(
            st.lists(kids, max_size=5),
            st.dictionaries(st.text(max_size=8), kids, max_size=5),
        ),
        max_leaves=20,
    )

    @given(values)
    @settings(max_examples=200, deadline=None)
    def rt(v):
        assert mp.unpackb(mp.packb(v)) == v

    rt()


def test_msgpack_write_read_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from udlang_spark.kernel import ast
    from udlang_spark.sources import formats
    from udlang_spark.sources.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    path = str(tmp_path / "frames")
    formats.write_msgpack(ev, ("event_id", "event_type", "value"), path)

    t = ast.TRecord(
        (
            ast.TRecordField("event_id", ast.T_INT),
            ast.TRecordField("event_type", ast.T_STR),
            ast.TRecordField("value", ast.T_FLOAT),
        )
    )
    back = formats.read_msgpack(spark, path, t)
    assert back.count() == ev.count()
    a = {tuple(r) for r in ev.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_msgpack_invalid_record_policies(spark, tmp_path):
    import os

    import pytest as _pytest

    from udlang_spark.kernel import ast
    from udlang_spark.sources import formats
    from udlang_spark.sources import msgpack_codec as mp

    d = str(tmp_path / "bad_frames")
    os.makedirs(d)
    # scalar kernel input: each frame IS the bare value (pipe protocol)
    good = mp.packb(1) + mp.packb(2)
    bad = mp.packb(3) + b"\xc1"  # 0xc1 is the one unused type byte
    with open(os.path.join(d, "part-00000.bin"), "wb") as fh:
        fh.write(good)
    with open(os.path.join(d, "part-00001.bin"), "wb") as fh:
        fh.write(bad)

    t = ast.T_INT
    with _pytest.raises(Exception):
        formats.read_msgpack(spark, d, t, policy="abort").collect()
    ok = formats.read_msgpack(spark, d, t, policy="ignore")
    assert sorted(r.value for r in ok.collect()) == [1, 2]
    warn = formats.read_msgpack(spark, d, t, policy="warn")
    rows = warn.collect()
    assert sorted(r.value for r in rows if r.value is not None) == [1, 2]
    assert sum(1 for r in rows if r._corrupt is not None) == 1


def test_msgpack_truncated_payload_raises():
    from udlang_spark.sources import msgpack_codec as mp

    with pytest.raises(ValueError, match="truncated"):
        mp.unpack_stream(mp.packb("hello world")[:6])
    with pytest.raises(ValueError, match="truncated"):
        mp.unpack_stream(mp.packb(b"\x00" * 300)[:20])


def test_msgpack_missing_field_is_mis_shaped(spark, tmp_path):
    """A record frame missing a declared field aborts under policy='abort'
    (strict wire format) instead of silently null-filling."""
    from udlang_spark.sources import msgpack_codec as mp

    d = tmp_path / "frames"
    d.mkdir()
    (d / "part-00000.bin").write_bytes(mp.packb({"event_id": 1}))
    with pytest.raises(Exception, match="input shape"):
        formats.read_msgpack(spark, str(d), RECORD_T, policy="abort").collect()
    assert formats.read_msgpack(spark, str(d), RECORD_T, policy="ignore").count() == 0


def test_write_msgpack_overwrites_stale_parts(spark, tmp_path):
    ev = load_table(spark, "events", SF_DIR_SMOKE).select("event_id").limit(20)
    out = str(tmp_path / "mp")
    formats.write_msgpack(ev.repartition(8), ("event_id",), out)
    formats.write_msgpack(ev.repartition(1), ("event_id",), out)
    assert formats.read_msgpack(
        spark, out, ast.TRecord((ast.TRecordField("event_id", ast.T_INT),))
    ).count() == 20


def test_bench_codegen_gate_attributes_errors_to_marked_query():
    """bench.StderrCodegenGate (r9 VERDICT #2): ERROR CodeGenerator lines
    are attributed to the query whose marker precedes them, session-setup
    noise attributes to the sentinel, and the capture is replayed to the
    real stderr (nothing hidden)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import StderrCodegenGate

    gate = StderrCodegenGate()
    try:
        os.write(2, b"26/08/15 ERROR CodeGenerator: setup-time failure\n")
        gate.mark("q_alpha")
        os.write(2, b"some WARN line\n")
        os.write(2, b"26/08/15 ERROR CodeGenerator: failed to compile\n")
        os.write(2, b"org.codehaus.janino.InternalCompilerException: ...\n")
        gate.mark("q_beta")
        os.write(2, b"26/08/15 ERROR CodeGenerator: x\n")
        os.write(2, b"26/08/15 ERROR CodeGenerator: y\n")
    finally:
        hits = gate.finish()
    assert hits == {"<session-setup>": 1, "q_alpha": 1, "q_beta": 2}


# ---------------------------------------------------------------------------
# parquet schema memo: a table's schema is inferred once per (files,
# inference confs); every later read passes it and launches no Spark job
# ---------------------------------------------------------------------------
def _jobs_during(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted through a job
    group."""
    import uuid

    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count construction jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy_table(tmp_path, name):
    shutil.copyfile(f"{SF_DIR_SMOKE}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


@pytest.mark.parametrize("name", ["lineitem", "events"])
def test_second_load_launches_no_job(spark, tmp_path, name):
    sf = _copy_table(tmp_path, name)
    first, n_first = _jobs_during(spark, lambda: load_table(spark, name, sf))
    again, n_again = _jobs_during(spark, lambda: load_table(spark, name, sf))
    assert n_first >= 1  # the inferring read
    assert n_again == 0
    assert again.schema == first.schema
    if name == "events":
        assert again.schema["ts"].dataType.typeName() == "timestamp"
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_table_reinfers(spark, tmp_path):
    import pyarrow.parquet as pq

    sf = _copy_table(tmp_path, "region")
    assert load_table(spark, "region", sf).columns == ["r_regionkey", "r_name"]
    path = tmp_path / "region.parquet"
    t = pq.read_table(path)
    pq.write_table(t.drop(["r_name"]).append_column("r_extra", t.column(0)), path)
    after, n = _jobs_during(spark, lambda: load_table(spark, "region", sf))
    assert n >= 1
    assert after.columns == ["r_regionkey", "r_extra"]
    assert after.count() == t.num_rows


def test_inference_conf_flip_reinfers(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = _copy_table(tmp_path, "region")
    path = tmp_path / "region.parquet"
    t = pq.read_table(path)
    i = t.schema.get_field_index("r_name")
    # an un-annotated BINARY column: its Spark type follows binaryAsString
    pq.write_table(t.set_column(i, "r_name", t.column(i).cast(pa.binary())), path)

    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        raw = load_table(spark, "region", sf)
        assert raw.schema["r_name"].dataType.typeName() == "binary"
        spark.conf.set(conf, "true")
        text, n = _jobs_during(spark, lambda: load_table(spark, "region", sf))
        assert n >= 1
        assert text.schema["r_name"].dataType.typeName() == "string"
    finally:
        spark.conf.set(conf, old)
    back, n = _jobs_during(spark, lambda: load_table(spark, "region", sf))
    assert n >= 1  # the restored conf is a changed stamp again
    assert back.schema["r_name"].dataType.typeName() == "binary"


# The repository's own kernel queries; the ten k_* queries that read their
# scripts from the external examples directory are left out.
KERNEL_QUERIES = (
    "k_filter", "k_mapiter", "k_match_lit", "k_match_union",
    "k_comprehension", "k_cast", "k_tower", "k_generic", "k_builtins",
    "k_modules", "k_methods", "k_pipeline", "k_spread", "k_attempt",
    "k_point",
)


@pytest.mark.parametrize("name", KERNEL_QUERIES)
def test_kernel_construction_launches_no_job(spark, name):
    """With the table schemas known, building a kernel query — kernel
    frontend, Column tree, analysis — runs no Spark job, even with the
    compile cache and plan_cache cleared."""
    from udlang_spark.kernel import api
    from udlang_spark.queries import QUERIES
    from udlang_spark.session import plan_cache

    QUERIES[name](spark, SF_DIR_SMOKE)
    api._compile_kernel_cached.cache_clear()
    plan_cache.clear()
    df, n = _jobs_during(spark, lambda: QUERIES[name](spark, SF_DIR_SMOKE))
    assert n == 0
    assert df.columns
