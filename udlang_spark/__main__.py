"""CLI entry points mirroring the reference binary's modes
(reference src/main.rs:51-62 — SURVEY.md §3.2-3.3):

  python -m udlang_spark dump-ast  <script.us>   # parse → AST pretty-print
  python -m udlang_spark compile   <script.us>   # parse+lower → SQL expression
  python -m udlang_spark dump-expr               # expression REPL (stdin)
  python -m udlang_spark run <script.us> --input PATH [--format json|csv|parquet|msgpack]
                                          [--input-col NAME] [--output PATH]
  python -m udlang_spark explain <query|list> [--sf-dir DIR]  # physical plan
  python -m udlang_spark lift <script.us> --input PATH --output PARQUET
                                          [--format json|csv|msgpack] [--policy ...]
  python -m udlang_spark lower <parquet> --output PATH [--format json|msgpack]

`compile` prints the SQL of the expression the kernel lowers to — the
engine's analogue of `udlang --compile`'s IR dump; `run` executes the
kernel over a file and emits JSON lines (the udlift | udlang | udlower
pipeline collapsed into one process)."""

from __future__ import annotations

import argparse
import sys


def _dump_ast(path: str) -> int:
    from udlang_spark.kernel.parser import parse

    with open(path) as f:
        prog = parse(f.read())
    print(prog)
    return 0


def _compile(path: str) -> int:
    from udlang_spark.kernel.api import compile_kernel_file
    from udlang_spark.session import get_spark
    from udlang_spark.sources import json_lift

    spark = get_spark("udlang_compile")  # the SQL is analyzed on the JVM
    spark.sparkContext.setLogLevel("ERROR")
    k = compile_kernel_file(path)
    # analyze the expression over an empty frame of the declared input
    # shape: the analyzed projection's child is the resolved expression
    df = spark.createDataFrame([], json_lift.input_schema(k.resolved_input))
    col = k.outputs_column(df)
    analyzed = df.select(col)._jdf.queryExecution().analyzed()
    print(analyzed.projectList().head().child().sql())
    return 0


def _dump_expr() -> int:
    from udlang_spark.kernel.parser import parse_expr

    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        try:
            print(parse_expr(line))
        except Exception as e:  # REPL: report, keep reading
            print(f"error: {e}", file=sys.stderr)
    return 0


def _run(path: str, input_path: str, fmt: str, input_col: str | None,
         output: str | None) -> int:
    from udlang_spark.kernel import ast
    from udlang_spark.kernel.api import compile_kernel_file
    from udlang_spark.session import get_spark
    from udlang_spark.sources import formats, json_lift

    spark = get_spark("udlang_run")
    spark.sparkContext.setLogLevel("ERROR")
    k = compile_kernel_file(path)
    # the structural type: the readers need a Spark schema, which a value
    # type (`input "Hello" | "Goodnight";`) or an alias does not name
    it = k.resolved_input
    if fmt == "json":
        df = formats.read_json(spark, input_path, it)
    elif fmt == "csv":
        df = formats.read_csv(spark, input_path, it)
    elif fmt == "parquet":
        df = formats.read_parquet(spark, input_path, it)
    elif fmt == "msgpack":
        df = formats.read_msgpack(spark, input_path, it)
    else:
        raise SystemExit(f"unknown format {fmt!r}")
    if input_col is None and not isinstance(it, ast.TRecord):
        input_col = df.columns[0]
    result = k.apply(df, input_col=input_col)
    lowered = json_lift.lower_json(result, tuple(result.columns))
    if output:
        lowered.select("json").write.mode("overwrite").text(output)
    else:
        for row in lowered.select("json").toLocalIterator():
            print(row.json)
    return 0


def _lift(script: str, input_path: str, fmt: str, out_parquet: str, policy: str) -> int:
    """udlift: decode framed input (json/csv/msgpack) against the kernel's
    declared input shape and land it as typed parquet (README.md:267-273 —
    the reference plans udlift as a separate pipe stage; here the durable
    hand-off between stages is a parquet dataset)."""
    from udlang_spark.kernel.api import compile_kernel_file
    from udlang_spark.session import get_spark
    from udlang_spark.sources import formats

    spark = get_spark("udlift")
    spark.sparkContext.setLogLevel("ERROR")
    it = compile_kernel_file(script).resolved_input
    readers = {
        "json": formats.read_json,
        "csv": formats.read_csv,
        "msgpack": formats.read_msgpack,
    }
    df = readers[fmt](spark, input_path, it, policy=policy)
    df.write.mode("overwrite").parquet(out_parquet)
    print(f"lifted {df.count()} records -> {out_parquet}")
    return 0


def _lower(in_parquet: str, fmt: str, out_path: str) -> int:
    """udlower: serialize typed rows back to a framed format (json lines or
    msgpack frame-stream files)."""
    from udlang_spark.session import get_spark
    from udlang_spark.sources import formats, json_lift

    spark = get_spark("udlower")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(in_parquet)
    if fmt == "json":
        json_lift.lower_json(df, tuple(df.columns)).select("json").write.mode(
            "overwrite"
        ).text(out_path)
    else:
        formats.write_msgpack(df, tuple(df.columns), out_path)
    print(f"lowered {df.count()} records -> {out_path}")
    return 0


def _compact(in_path: str, out_path: str, target_mb: int, partition_by: str) -> int:
    """Table maintenance: rewrite a parquet dataset into size-targeted
    files (sources/compaction.py — the ingest-side fix for single-row-group
    or many-tiny-file layouts)."""
    from udlang_spark.session import get_spark
    from udlang_spark.sources import compaction

    spark = get_spark("udlang_compact")
    spark.sparkContext.setLogLevel("ERROR")
    cols = tuple(c for c in partition_by.split(",") if c)
    n = compaction.compact(
        spark, in_path, out_path, target_bytes=target_mb * 1024 * 1024,
        partition_by=cols,
    )
    print(f"compacted -> {out_path} ({n} file(s)" + (f", partitioned by {cols}" if cols else "") + ")")
    return 0


def _explain(query: str, sf_dir: str) -> int:
    """Formatted physical plan for a registered query — the relational
    surface's analogue of `--compile` (SURVEY.md §3.2 inspection hooks;
    how the §4 plan properties — pushdown, pruning, broadcasts — are
    inspected by hand)."""
    from udlang_spark.queries import QUERIES
    from udlang_spark.session import get_spark

    if query == "list":
        for name in sorted(QUERIES):
            print(name)
        return 0
    if query not in QUERIES:
        print(f"unknown query {query!r}; `explain list` shows all", file=sys.stderr)
        return 2
    spark = get_spark("udlang_explain")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[query](spark, sf_dir)
    print(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    )
    return 0


def _query(query: str, sf_dir: str, limit: int, output: str | None) -> int:
    """Execute a registered query against a testdata scale-factor dir and
    emit JSON lines (or write parquet with --output) — the run-anything
    surface a user switching from the reference drives first."""
    from udlang_spark.queries import QUERIES
    from udlang_spark.session import get_spark, release_caches

    if query not in QUERIES:
        print(f"unknown query {query!r}; `explain list` shows all", file=sys.stderr)
        return 2
    spark = get_spark("udlang_query")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[query](spark, sf_dir)
    try:
        if output:
            df.write.mode("overwrite").parquet(output)
            print(f"wrote {output}")
            return 0
        for line in df.limit(limit).toJSON().collect():
            print(line)
        return 0
    finally:
        release_caches()


def _index(action: str, data: str, path: str, vec_col: str, id_col: str,
           n_cells: int, k: int, n_probe: int, queries_path: str | None,
           limit: int) -> int:
    """Persisted-IVF-index lifecycle from the CLI: build/append/probe."""
    from udlang_spark.operators import ann_index
    from udlang_spark.session import get_spark, release_caches

    spark = get_spark("udlang_index")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if action == "build":
            df = spark.read.parquet(data)
            ann_index.write_ivf_index(df, vec_col, id_col, path, n_cells=n_cells)
            print(f"built {path} ({n_cells} cells)")
            return 0
        if action == "append":
            df = spark.read.parquet(data)
            ann_index.append_to_ivf_index(df, vec_col, id_col, path)
            print(f"appended into {path}")
            return 0
        q = spark.read.parquet(queries_path or data)
        out = ann_index.probe_ivf_index(
            spark, path, q, vec_col, id_col, k=k, n_probe=n_probe
        )
        for line in out.limit(limit).toJSON().collect():
            print(line)
        return 0
    finally:
        release_caches()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="udlang_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dump-ast"); d.add_argument("script")
    c = sub.add_parser("compile"); c.add_argument("script")
    sub.add_parser("dump-expr")
    r = sub.add_parser("run")
    r.add_argument("script")
    r.add_argument("--input", required=True)
    r.add_argument("--format", default="json", choices=["json", "csv", "parquet", "msgpack"])
    r.add_argument("--input-col", default=None)
    r.add_argument("--output", default=None)
    e = sub.add_parser("explain")
    e.add_argument("query", help="registered query name, or `list`")
    e.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q = sub.add_parser("query")
    q.add_argument("name", help="registered query name (`explain list` shows all)")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--output", default=None, help="write full result as parquet")
    lf = sub.add_parser("lift")
    lf.add_argument("script")
    lf.add_argument("--input", required=True)
    lf.add_argument("--format", default="json", choices=["json", "csv", "msgpack"])
    lf.add_argument("--output", required=True)
    lf.add_argument("--policy", default="abort", choices=["abort", "ignore", "warn"])
    lw = sub.add_parser("lower")
    lw.add_argument("parquet")
    lw.add_argument("--format", default="json", choices=["json", "msgpack"])
    lw.add_argument("--output", required=True)
    cp = sub.add_parser("compact")
    cp.add_argument("parquet")
    cp.add_argument("--output", required=True)
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--partition-by", default="")
    ix = sub.add_parser("index")
    ix.add_argument("action", choices=["build", "append", "probe"])
    ix.add_argument("path", help="index directory")
    ix.add_argument("--data", required=True, help="parquet with id + vector columns")
    ix.add_argument("--vec-col", default="embedding")
    ix.add_argument("--id-col", default="vec_id")
    ix.add_argument("--n-cells", type=int, default=16)
    ix.add_argument("--k", type=int, default=5)
    ix.add_argument("--n-probe", type=int, default=4)
    ix.add_argument("--queries", default=None, help="parquet of query rows (probe; defaults to --data)")
    ix.add_argument("--limit", type=int, default=20)
    a = p.parse_args(argv)
    if a.cmd == "dump-ast":
        return _dump_ast(a.script)
    if a.cmd == "compile":
        return _compile(a.script)
    if a.cmd == "dump-expr":
        return _dump_expr()
    if a.cmd == "explain":
        return _explain(a.query, a.sf_dir)
    if a.cmd == "query":
        return _query(a.name, a.sf_dir, a.limit, a.output)
    if a.cmd == "lift":
        return _lift(a.script, a.input, a.format, a.output, a.policy)
    if a.cmd == "lower":
        return _lower(a.parquet, a.format, a.output)
    if a.cmd == "index":
        return _index(a.action, a.data, a.path, a.vec_col, a.id_col,
                      a.n_cells, a.k, a.n_probe, a.queries, a.limit)
    if a.cmd == "compact":
        return _compact(a.parquet, a.output, a.target_mb, a.partition_by)
    return _run(a.script, a.input, a.format, a.input_col, a.output)


if __name__ == "__main__":
    raise SystemExit(main())
