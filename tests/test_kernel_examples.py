"""Golden end-to-end outputs for the nine example kernels in
udlang_spark/examples (SURVEY.md §5: one per script of the reference's e2e
suite; expected values derive from the documented semantics, and each
example states its expected outputs in comments)."""

from __future__ import annotations

import pytest

from udlang_spark.kernel.api import compile_kernel_file
from udlang_spark.queries.kernels import EXAMPLES_DIR as EX


def run_scalar(spark, path: str, rows: list, schema: str, max_depth: int = 48):
    k = compile_kernel_file(f"{EX}/{path}", max_depth=max_depth)
    df = spark.createDataFrame([(r,) for r in rows], schema)
    return [r[0] for r in k.apply(df, input_col="value").collect()]


def per_record(spark, path: str, rows: list, schema: str, max_depth: int = 48):
    """outputs grouped per input record (record id kept through explode)."""
    k = compile_kernel_file(f"{EX}/{path}", max_depth=max_depth)
    df = spark.createDataFrame(list(enumerate(rows)), f"rid long, value {schema.split()[-1]}")
    got = k.apply(df, input_col="value", keep=("rid",), with_pos=True).collect()
    by_rid: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r.rid, r.pos)):
        by_rid.setdefault(r.rid, []).append(r.out)
    return by_rid


def test_hello(spark):
    out = run_scalar(spark, "hello.us", ["world", ""], "value string")
    assert out == ["Hello, world", "Hello, "]


def test_simple(spark):
    # foo(c) = 2.0 * bar(c); bar(c) = c - 1.0 — Int input promotes to Float
    out = run_scalar(spark, "simple.us", [3], "value long")
    assert out == [4]  # 2.0*(3-1.0)=4.0 then cast to declared output Int


def test_function(spark):
    out = run_scalar(spark, "function.us", [100, 0], "value long")
    assert out == [212, 32]


def test_fact(spark):
    got = per_record(spark, "fact.us", [0, 1, 5, 7, -3], "value long", max_depth=25)
    assert got[0] == [0]
    assert got[1] == [1]
    assert got[2] == [120]
    assert got[3] == [5040]
    assert got[4] == [-3]


def test_count(spark):
    # proc count: out n; recurse while n>0; then `out count(in);` outputs the
    # proc's Void result — a NULL row, faithful to the VM pushing None
    got = per_record(spark, "count.us", [3, 0], "value long", max_depth=25)
    assert got[0] == [3, 2, 1, 0, None]
    assert got[1] == [0, None]


def test_lists(spark):
    got = per_record(spark, "lists.us", [10, 0], "value long")
    assert got[0] == [11, 14, 19, 26, 35]
    assert got[1] == [1, 4, 9, 16, 25]


def test_loop(spark):
    # c2f over constant floats; declared output Int truncates (33.8, 35.6,
    # 37.4) — declared types are authoritative in our engine
    got = per_record(spark, "loop.us", [0], "value long")
    assert got[0] == [33, 35, 37]


def test_scopes(spark):
    # expected outputs documented in the example (scopes.us:21,28)
    got = per_record(spark, "scopes.us", [0, 99], "value long")
    assert got[0] == [7, 11]
    assert got[1] == [7, 11]


def test_subjunctive(spark):
    got = per_record(spark, "subjunctive.us", [True, False], "value boolean")
    assert got[0] == ["She loves you, ", "Yeah! ", "Yeah! ", "Yeah! "]
    assert got[1] == ["Yesterdayyyyyyyy"]


def test_conditional_out_is_filter(spark):
    src = (
        'version 0.1-pre_mvp;\nscript "f";\ninput Int;\noutput Int;\n'
        "if (in > 2) { out in * 10; }\n"
    )
    from udlang_spark.kernel.api import compile_kernel

    k = compile_kernel(src)
    df = spark.createDataFrame([(i,) for i in range(5)], "value long")
    out = sorted(r[0] for r in k.apply(df, input_col="value").collect())
    assert out == [30, 40]


def test_recursion_depth_poison_single_row(spark):
    from udlang_spark.kernel.api import compile_kernel_file

    k = compile_kernel_file(f"{EX}/count.us", max_depth=5)
    df = spark.createDataFrame([(10,)], "value long")
    with pytest.raises(Exception, match="recursion depth"):
        k.apply(df, input_col="value").collect()


def test_union_output_coercion(spark):
    """`out` into a union output type wraps values in the tagged struct
    (SURVEY.md §7.5 encoding) with the right branch populated."""
    from udlang_spark.kernel.api import compile_kernel

    src = """
version 0.1-pre_mvp;
script "union out";
input Float;
output Float | Str;
if (in > 100.0) {
  out in;
}
if (in <= 100.0) {
  out "small";
}
"""
    df = spark.createDataFrame([(150.0,), (50.0,)], "v double")
    rows = sorted(
        compile_kernel(src).apply(df, input_col="v").collect(),
        key=lambda r: r.out._tag,
    )
    assert rows[0].out._tag == "Float" and rows[0].out._0 == 150.0
    assert rows[1].out._tag == "Str" and rows[1].out._1 == "small"


def test_recursion_depth_poison(spark):
    """Rows recursing past max_depth raise the explicit poison error rather
    than silently truncating (compiler recursion unroll contract)."""
    import pytest

    from udlang_spark.kernel.api import compile_kernel_file

    k = compile_kernel_file(f"{EX}/count.us", max_depth=4)
    ok = spark.createDataFrame([(3,)], "v long")
    assert len(k.apply(ok, input_col="v").collect()) == 5  # 3,2,1,0 + proc None
    deep = spark.createDataFrame([(10,)], "v long")
    with pytest.raises(Exception, match="recursion depth"):
        k.apply(deep, input_col="v").collect()


def test_per_record_output_order_via_pos(spark):
    """Intra-record output order is preserved by the posexplode position
    column (SURVEY.md §2.8: per-record order guaranteed; cross-record order
    is not, by design, in a parallel engine)."""
    from udlang_spark.kernel.api import compile_kernel

    src = """
version 0.1-pre_mvp;
script "ordered outs";
input Int;
output Int;
out in * 10;
out in * 10 + 1;
out in * 10 + 2;
"""
    df = spark.createDataFrame([(1,), (2,)], "v long")
    rows = compile_kernel(src).apply(df, input_col="v", with_pos=True).collect()
    by_rec = {}
    for r in rows:
        by_rec.setdefault(r.out // 10, []).append((r.pos, r.out))
    for rec, outs in by_rec.items():
        assert sorted(outs) == [(0, rec * 10), (1, rec * 10 + 1), (2, rec * 10 + 2)]


def test_interp_fallback_matches_unroll(spark):
    """The AST-interpreter fallback (SURVEY.md §2.10 recursion row) equals
    the compiled/unrolled path where both apply..."""
    k = compile_kernel_file(f"{EX}/count.us", max_depth=48)
    df = spark.createDataFrame([(i,) for i in (0, 3, 17)], "value long")
    key = lambda v: (v is None, v)
    unrolled = sorted((r[0] for r in k.apply(df, input_col="value").collect()), key=key)
    interp = sorted(
        (r[0] for r in k.apply(df, input_col="value", recursion="interp").collect()),
        key=key,
    )
    assert interp == unrolled


def test_interp_fallback_unbounded_depth(spark):
    """...and keeps going far beyond any practical unroll depth (the
    reference VM recurses natively — src/vm.rs:561-580)."""
    k = compile_kernel_file(f"{EX}/count.us", max_depth=8)
    df = spark.createDataFrame([(500,)], "value long")
    got = [
        r[0] for r in k.apply(df, input_col="value", recursion="interp").collect()
    ]
    assert sorted(v for v in got if v is not None) == list(range(0, 501))
    assert got.count(None) == 1  # the trailing `out count(in)` void emit

    fact = compile_kernel_file(f"{EX}/fact.us", max_depth=8)
    df2 = spark.createDataFrame([(20,)], "value long")
    import math

    got2 = [r[0] for r in fact.apply(df2, input_col="value", recursion="interp").collect()]
    assert got2 == [math.factorial(20)]


def test_interp_restores_recursion_limit():
    """The interpreter raises the recursion limit for its own call only:
    a countdown from 1000 (~7 Python frames per level) needs far more
    than 3,000 frames, and afterwards the process's limit reads 3,000."""
    import sys

    from udlang_spark.kernel.interp import Interp

    prog = compile_kernel_file(f"{EX}/count.us", max_depth=8).program
    prev = sys.getrecursionlimit()
    sys.setrecursionlimit(3_000)
    try:
        got = Interp(prog).run(1000)
        limit = sys.getrecursionlimit()
    finally:
        sys.setrecursionlimit(prev)
    assert limit == 3_000
    assert got == list(range(1000, -1, -1)) + [None]


def test_spread_rest_compiled_and_interp(spark):
    """Spread/rest/$... (reference README.md:260-261, 335-336, 370-373):
    the compiled (inlined) path and the AST-interpreter fallback agree."""
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.queries.kernels import SPREAD_KERNEL

    k = compile_kernel(SPREAD_KERNEL)
    df = spark.createDataFrame([(5,), (0,)], "v long")
    compiled = sorted(
        (r["out"] for r in k.apply(df, input_col="v").collect()),
        key=lambda x: (x is None, x),
    )
    interp = sorted(
        (r["out"] for r in k.apply(df, input_col="v", recursion="interp").collect()),
        key=lambda x: (x is None, x),
    )
    # v=5 → 16, 11, 20, 106 ; v=0 → 1, 1, 10, 101
    assert compiled == [1, 1, 10, 11, 16, 20, 101, 106]
    assert interp == compiled
