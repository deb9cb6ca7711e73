"""CLI entry points (SURVEY.md §3.2-3.3 parity: dump-ast / compile /
dump-expr / run mirror the reference binary's modes)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from udlang_spark.queries.kernels import EXAMPLES_DIR, MATCH_LIT_KERNEL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HELLO = os.path.join(EXAMPLES_DIR, "hello.us")


def _cli(*args: str, stdin: str | None = None) -> str:
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "-m", "udlang_spark", *args],
        cwd=REPO,
        input=stdin,
        capture_output=True,
        text=True,
        timeout=180,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_dump_ast():
    got = _cli("dump-ast", HELLO)
    assert "kind='script'" in got and "Out(" in got


def test_compile_prints_sql(spark):
    """`compile` prints the SQL of the kernel's analyzed output expression,
    and that text parses back to the kernel's rows."""
    from pyspark.sql import functions as F

    assert _cli("compile", HELLO).strip() == "array(concat('Hello, ', value))"
    sql = _cli("compile", os.path.join(EXAMPLES_DIR, "fact.us")).strip()
    df = spark.createDataFrame([(n,) for n in range(-1, 8)], "value long")
    got = sorted(r[0] for r in df.select(F.explode(F.expr(sql))).collect())
    assert got == [-1, 0, 1, 2, 6, 24, 120, 720, 5040]


def test_dump_expr_repl():
    got = _cli("dump-expr", stdin="1 + 2 * 3\n[xs | $ * 2]\n")
    assert "Bin(op='+'" in got
    assert "Comprehension" in got


def test_run_end_to_end(tmp_path):
    frames = tmp_path / "in.json"
    frames.write_text('{"value": "World"}\n{"value": "uDLang"}\n')
    got = _cli("run", HELLO, "--input", str(frames))
    lines = sorted(got.strip().splitlines())
    assert lines == ['{"out":"Hello, World"}', '{"out":"Hello, uDLang"}'] or sorted(
        lines
    ) == sorted(['{"out":"Hello, World"}', '{"out":"Hello, uDLang"}'])


# an input type that is a type alias of a record
ALIAS_RECORD_KERNEL = """
version 0.1-pre_mvp;
script "aliased record input";
type Pair: {field a: Int; field b: Str;};
input Pair;
output Str;
out in.b + "!";
"""


@pytest.mark.parametrize(
    "src, frames, lifted, want",
    [
        (
            MATCH_LIT_KERNEL,
            ['{"value": "Hello"}', '{"value": "Goodnight"}'],
            [("Goodnight",), ("Hello",)],
            ['{"out":"Goodnight, Moon!"}', '{"out":"Hello, World!"}'],
        ),
        (
            ALIAS_RECORD_KERNEL,
            ['{"a": 1, "b": "x"}', '{"a": 2, "b": "y"}'],
            [(1, "x"), (2, "y")],
            ['{"out":"x!"}', '{"out":"y!"}'],
        ),
    ],
    ids=["value_type", "record_alias"],
)
def test_run_and_lift_read_the_resolved_input_type(spark, tmp_path, src, frames, lifted, want):
    """`run` and `lift` read frames against the kernel's structural input
    type: a value type (`input "Hello" | "Goodnight";` is a Str) or an
    alias of a record has no Spark schema of its own."""
    script = tmp_path / "k.us"
    script.write_text(src)
    inp = tmp_path / "in.json"
    inp.write_text("\n".join(frames) + "\n")
    assert sorted(_cli("run", str(script), "--input", str(inp)).splitlines()) == want
    pq = str(tmp_path / "lifted")
    assert "lifted 2 records" in _cli("lift", str(script), "--input", str(inp), "--output", pq)
    assert sorted(tuple(r) for r in spark.read.parquet(pq).collect()) == lifted


def test_run_msgpack_input(tmp_path):
    """The udlift|udlang|udlower pipe with its planned wire format: msgpack
    frames in, JSON out."""
    from udlang_spark.sources import msgpack_codec as mp

    d = tmp_path / "frames"
    d.mkdir()
    (d / "part-00000.bin").write_bytes(mp.packb("World") + mp.packb("uDLang"))
    got = _cli("run", HELLO, "--input", str(d), "--format", "msgpack")
    lines = sorted(got.strip().splitlines())
    assert lines == sorted(['{"out":"Hello, World"}', '{"out":"Hello, uDLang"}'])


def test_explain_query():
    got = _cli("explain", "q02_forecast_revenue")
    assert "PushedFilters" in got and "Physical Plan" in got
    listing = _cli("explain", "list")
    assert "q01_pricing_summary" in listing and "d_minhash_lsh" in listing


def test_query_subcommand(tmp_path):
    got = _cli("query", "q27_grouping_sets", "--limit", "5")
    import json

    rows = [json.loads(l) for l in got.strip().splitlines() if l.startswith("{")]
    assert 1 <= len(rows) <= 5
    out = tmp_path / "q27_out"
    got2 = _cli("query", "q27_grouping_sets", "--output", str(out))
    assert "wrote" in got2 and out.exists()


def test_lift_lower_pipeline(tmp_path):
    """udlift | udlower parity: json frames → typed parquet → msgpack
    frame-stream, decoded back losslessly with the codec."""
    import glob

    from udlang_spark.sources import msgpack_codec as mp

    frames = tmp_path / "in.json"
    frames.write_text('{"value": "alpha"}\n{"value": "beta"}\n')
    pq = str(tmp_path / "lifted")
    got = _cli("lift", HELLO, "--input", str(frames), "--output", pq)
    assert "lifted 2 records" in got
    packed = str(tmp_path / "frames_out")
    got = _cli("lower", pq, "--format", "msgpack", "--output", packed)
    assert "lowered 2 records" in got
    records = []
    for f in sorted(glob.glob(f"{packed}/part-*.bin")):
        with open(f, "rb") as fh:
            records += mp.unpack_stream(fh.read())
    assert sorted(r["value"] for r in records) == ["alpha", "beta"]


def test_compact_cli(tmp_path):
    out = str(tmp_path / "compacted")
    got = _cli(
        "compact", "/root/testdata/sf0.001/orders.parquet",
        "--output", out, "--target-mb", "1",
    )
    assert "compacted ->" in got
    import glob

    assert glob.glob(f"{out}/*.parquet")


def test_cli_index_lifecycle(tmp_path):
    """build → append → probe from the CLI; probe output is valid JSON rows
    with the (vec_id, nbr, cos_sim, rnk) schema."""
    import json
    import duckdb

    from udlang_spark.__main__ import main

    src = "/root/testdata/sf0.001/embeddings.parquet"
    base = str(tmp_path / "base.parquet")
    extra = str(tmp_path / "extra.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}') WHERE vec_id < 400) "
        f"TO '{base}' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}') WHERE vec_id >= 400) "
        f"TO '{extra}' (FORMAT PARQUET)"
    )
    con.close()
    idx = str(tmp_path / "ivf")
    assert main(["index", "build", idx, "--data", base]) == 0
    assert main(["index", "append", idx, "--data", extra]) == 0
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            ["index", "probe", idx, "--data", src, "--limit", "5", "--k", "3"]
        )
    assert rc == 0
    rows = [json.loads(l) for l in buf.getvalue().strip().splitlines() if l.startswith("{")]
    assert rows and set(rows[0]) == {"vec_id", "nbr", "cos_sim", "rnk"}
