"""The SQL text the kernel compiler and the sign-signature builder hand the
JVM: identifier quoting, literal typing, type names, lambda variable names
and the poison arms, each checked by what Spark parses it to."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udlang_spark.kernel import ast
from udlang_spark.kernel.api import compile_kernel
from udlang_spark.kernel.compiler import Compiler, SConst, as_col
from udlang_spark.kernel.interp import Interp
from udlang_spark.kernel.types import to_spark
from udlang_spark.sqltext import cast, ident, lit, type_sql
from tests.conftest import SF_DIR_SMOKE

HDR = 'version 0.1-pre_mvp;\nscript "t";\n'


def _one_row(spark, *sqls: str):
    return spark.range(1).select(*[F.expr(s).alias(f"c{i}") for i, s in enumerate(sqls)])


def _sql(src: str) -> str:
    """The kernel's whole array<output> expression over input column `v`."""
    k = compile_kernel(HDR + src)
    return Compiler(k.program, allow_hoist=False).compile(k._in_value("v"))


@pytest.mark.parametrize("recursion", ["unroll", "interp"])
def test_identifier_quoting_keeps_odd_names_whole(spark, recursion):
    """A dotted or backticked input or kept column is one column, not a
    struct path, on the compiled and the interpreted path alike."""
    names = ["a.b", "we`ird name", "x-y"]
    assert ident("we`ird name") == "`we``ird name`"
    df = spark.createDataFrame([(1, 2, 3)], [*names])
    assert tuple(df.select(*[F.expr(ident(n)) for n in names]).first()) == (1, 2, 3)
    k = compile_kernel(HDR + "input Int;\noutput Int;\nout in * 10;\n")
    for input_col, keep, want in [
        ("a.b", ("x-y", "we`ird name"), (3, 2, 10)),
        ("x-y", ("a.b",), (1, 30)),
    ]:
        got = k.apply(df, input_col=input_col, keep=keep, recursion=recursion)
        assert got.columns == [*keep, "out"]
        assert [tuple(r) for r in got.collect()] == [want]


def test_int_literals_type_as_f_lit(spark):
    vals = [5, -5, 2**31 - 1, 2**31, -(2**31) - 1, 2**63 - 1, -(2**63)]
    df = _one_row(spark, *[lit(v) for v in vals])
    types = [f.dataType for f in df.schema.fields]
    want = [T.IntegerType()] * 3 + [T.LongType()] * 4
    assert types == want
    assert list(df.first()) == vals


def test_u64_literal_is_decimal_20_0(spark):
    """An int past 64 bits (the upper half of U64) renders as U64's
    storage type; F.lit cannot carry it at all."""
    v = 2**64 - 1
    assert lit(v) == f"CAST({v} AS DECIMAL(20,0))"
    df = _one_row(spark, lit(v), lit(2**63))
    assert [f.dataType for f in df.schema.fields] == [T.DecimalType(20, 0)] * 2
    assert [int(x) for x in df.first()] == [v, 2**63]


def test_float_literals_nan_and_infinities(spark):
    vals = [1.5, -0.25, 1e-05, 1e20, float("nan"), float("inf"), float("-inf"), -0.0]
    df = _one_row(spark, *[lit(v) for v in vals])
    assert {f.dataType for f in df.schema.fields} == {T.DoubleType()}
    got = list(df.first())
    assert math.isnan(got[4])
    assert got[:4] + got[5:] == vals[:4] + vals[5:]
    assert math.copysign(1.0, got[-1]) == -1.0


def test_string_literal_escapes(spark):
    vals = ["it's", "back\\slash", "\\'", "é 😀 ü", "tab\tnew\nline\x01", "", "--x /* y"]
    got = list(_one_row(spark, *[lit(v) for v in vals]).first())
    assert got == vals


def test_typed_null_casts(spark):
    """A constant NULL keeps its declared type, NOT NULL union tags
    included, so NULL-typed functions (element_at, map_contains_key)
    analyze."""
    types = [
        ast.TList(ast.T_INT),
        ast.TMap(ast.T_FLOAT),
        ast.TUnion((ast.T_INT, ast.T_STR)),
        ast.TTuple((ast.T_BOOL, ast.T_STR)),
        ast.T_POINT,
    ]
    sqls = [as_col(SConst(None, t)) for t in types]
    assert sqls[0] == "CAST(NULL AS ARRAY<BIGINT>)"
    assert "`_tag`: STRING NOT NULL" in type_sql(to_spark(types[2]))
    df = _one_row(spark, *sqls)
    assert [f.dataType for f in df.schema.fields] == [to_spark(t) for t in types]
    assert list(df.first()) == [None] * len(types)
    assert _one_row(spark, cast("NULL", "STRING")).first()[0] is None


NESTED_HOF = """
input [Int];
output Int;
let nested = map([in, in], (xs: [Int]) => filter(map(xs, (x: Int) => x * 2), (x: Int) => x > 0));
out reduce(nested, 0, (acc: Int, ys: [Int]) => acc + reduce(ys, 0, (a: Int, b: Int) => a + b * length(ys)));
"""


def test_nested_lambdas_get_unique_variable_names(spark):
    """Doubly nested map/filter/reduce: every lambda binds fresh names,
    so an inner lambda (which reuses the source name `x`, and reads the
    outer `ys`) never shadows an enclosing one."""
    sql = _sql(NESTED_HOF)
    params = re.findall(r"(\w+|\(\w+, \w+\)) -> ", sql)
    names = [n for p in params for n in re.findall(r"[xy]_\d+", p)]
    assert len(params) == 5 and len(names) == 7 and len(set(names)) == 7, params
    inputs = [[1, -2, 3], [], [-1], [4, 5]]
    df = spark.createDataFrame([(v,) for v in inputs], "v array<long>")
    k = compile_kernel(HDR + NESTED_HOF)
    got = sorted(r["out"] for r in k.apply(df, input_col="v").collect())
    interp = Interp(k.program)
    assert got == sorted(o for v in inputs for o in interp.run(v))


def test_lambda_names_do_not_capture_input_columns(spark):
    """An input field named like a generated lambda variable (`x_0`) is
    still the field inside the lambda body: Spark binds a bare name to an
    in-scope lambda variable first, case-insensitively."""
    src = "input {field x_0: Int; field xs: [Int];};\noutput [Int];\n"
    k = compile_kernel(HDR + src + "out [in.xs | $ * 100 + in.x_0];\n")
    df = spark.createDataFrame([(10, [1, 2])], "x_0 long, xs array<long>")
    assert [r["out"] for r in k.apply(df).collect()] == [[110, 210]]
    k = compile_kernel(HDR + "input [Int];\noutput [Int];\nout [in | $ + length(in)];\n")
    df = spark.createDataFrame([([1, 2, 3],)], "X_0 array<long>")
    assert [r["out"] for r in k.apply(df).collect()] == [[4, 5, 6]]


@pytest.mark.parametrize(
    "src, arm, ok, bad, msg",
    [
        (
            'input Int;\noutput Int;\nif (in > 1) { throw "too big"; }\nout in;\n',
            "raise_error(",
            1,
            5,
            "too big",
        ),
        (
            "input Int;\noutput Int;\nout match in { case 1: 10; };\n",
            "assert_true(false, 'match: no case matched')",
            1,
            2,
            "match: no case matched",
        ),
        (
            "input Int;\noutput Int;\nout in as U8;\n",
            "assert_true(false, concat('value out of range for U8: '",
            200,
            300,
            "value out of range for U8: 300",
        ),
    ],
    ids=["throw_raise_error", "match_assert_true", "range_assert_true"],
)
def test_poison_arms(spark, src, arm, ok, bad, msg):
    assert arm in _sql(src)
    k = compile_kernel(HDR + src)
    good = k.apply(spark.createDataFrame([(ok,)], "v long"), input_col="v")
    assert len(good.collect()) == 1
    with pytest.raises(Exception, match=re.escape(msg)):
        k.apply(spark.createDataFrame([(bad,)], "v long"), input_col="v").collect()


def _sign_words(vec, dim=64):
    return [
        sum(1 << j for j in range(32) if vec[w + j] >= 0) for w in range(0, dim, 32)
    ]


def test_sign_signatures_match_python_sign_bits(spark):
    """Bit j of word w is set iff v[32w+j] >= 0; zero (either sign)
    counts as positive."""
    from udlang_spark.operators.similarity import sign_signatures
    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_SMOKE)
    crafted = [0.0, -0.0, -1.5, 2.0, -1e-30, 1e-30] + [(-1.0) ** i for i in range(58)]
    extra = spark.createDataFrame(
        [(-1, crafted)], T.StructType([emb.schema["vec_id"], emb.schema["embedding"]])
    )
    src = emb.select("vec_id", "embedding").unionByName(extra)
    rows = src.collect()
    assert len(rows) > 100
    want = {r["vec_id"]: _sign_words(r["embedding"]) for r in rows}
    got = {r["vec_id"]: list(r["sig"]) for r in sign_signatures(src, "embedding", "vec_id").collect()}
    assert got == want
    assert want[-1][0] & 0b111111 == 0b101011
