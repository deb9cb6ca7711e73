"""uDLang kernel queries: the repository's example programs
(udlang_spark/examples/*.us, one per example in the reference's e2e suite)
compiled by udlang_spark.kernel and applied to the testdata tables, each
with a DuckDB oracle expressing the same semantics in SQL.

These exercise the full frontend: parse → analysis → inline → Column
compile → posexplode (multi-`out`), including recursion unrolling (fact,
count), constant-list loop unrolling (lists, loop), closures (scopes), and
the subjunctive effect-capture (suppose).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udlang_spark.kernel.api import compile_kernel, compile_kernel_file
from udlang_spark.sources.tables import load_table

EXAMPLES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"
)


def _example(name: str):
    return compile_kernel_file(os.path.join(EXAMPLES_DIR, f"{name}.us"))


def k_hello(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return _example("hello").apply(
        docs, input_col="text", keep=("doc_id",)
    ).select("doc_id", "out")


ORACLE_HELLO = "SELECT doc_id, 'Hello, ' || text AS out FROM documents"


def k_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return _example("function").apply(
        li.select(F.col("l_linenumber").cast("long").alias("v")), input_col="v"
    )


# 9.0*n/5.0+32.0 in double, then declared `output Int` truncates toward zero
ORACLE_FUNCTION = """
SELECT CAST(trunc(9.0 * CAST(l_linenumber AS BIGINT) / 5.0 + 32.0) AS BIGINT) AS out
FROM lineitem
"""


def k_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return _example("fact").apply(
        li.select(F.col("l_linenumber").cast("long").alias("v")), input_col="v"
    )


ORACLE_FACT = """
SELECT CASE l_linenumber
  WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24
  WHEN 5 THEN 120 WHEN 6 THEN 720 WHEN 7 THEN 5040
END AS out
FROM lineitem
"""


def k_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return _example("count").apply(
        li.select(F.col("l_linenumber").cast("long").alias("v")), input_col="v"
    )


# count(n) emits n, n-1, …, 0 then the proc's Void result (NULL)
ORACLE_COUNT = """
SELECT u.out FROM lineitem, LATERAL (
  SELECT unnest(generate_series(CAST(l_linenumber AS BIGINT), 0, -1)) AS out
  UNION ALL SELECT NULL
) u
"""


def k_count_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same recursive kernel as k_count, executed by the per-row AST
    interpreter (SURVEY.md §2.10 recursion fallback — kernel/interp.py via
    mapInPandas) and checked against the SAME oracle: the slow path is
    oracle-verified, not just pytest-verified."""
    li = load_table(spark, "lineitem", sf_dir)
    return _example("count").apply(
        li.select(F.col("l_linenumber").cast("long").alias("v")),
        input_col="v",
        recursion="interp",
    )


def k_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return _example("lists").apply(
        li.select(F.col("l_linenumber").cast("long").alias("v")), input_col="v"
    )


ORACLE_LISTS = """
SELECT sq + CAST(l_linenumber AS BIGINT) AS out
FROM lineitem, LATERAL (SELECT unnest([1, 4, 9, 16, 25]) AS sq) s
"""


def k_scopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return _example("scopes").apply(
        li.select(F.col("l_linenumber").cast("long").alias("v")), input_col="v"
    )


ORACLE_SCOPES = """
SELECT u.out FROM lineitem, LATERAL (SELECT unnest([7, 11]) AS out) u
"""


def k_subjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return _example("subjunctive").apply(
        ev.select((F.col("value") > 100.0).alias("v")), input_col="v"
    )


ORACLE_SUBJUNCTIVE = """
SELECT u.out FROM events, LATERAL (
  SELECT unnest(CASE WHEN value > 100.0
    THEN ['She loves you, ', 'Yeah! ', 'Yeah! ', 'Yeah! ']
    ELSE ['Yesterdayyyyyyyy'] END) AS out
) u
"""


# A conditional-`out` kernel of our own: compiles to filter + project —
# the relational σ the reference expresses as `if (p) { out x; }`
# (SURVEY.md §2.2, examples/count.us:11-14 pattern).
FILTER_KERNEL = """
version 0.1-pre_mvp;
script "conditional out = relational filter";
input Float;
output Float;
if (in > 250.0) {
  out in * 2.0;
}
"""


def k_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return compile_kernel(FILTER_KERNEL).apply(
        ev.select("event_id", "value"), input_col="value", keep=("event_id",)
    ).select("event_id", "out")


ORACLE_FILTER = """
SELECT event_id, value * 2.0 AS out FROM events WHERE value > 250.0
"""


# Map iteration + map literal kernel (reference map surface: grammar {T},
# for (k, v) — src/grammar.lalrpop:142, 278-279).
MAP_KERNEL = """
version 0.1-pre_mvp;
script "map iteration";
input {field a: Int; field b: Int;};
output Int;
let m = {x: 2, y: 3};
for (k, v) in m {
  out in.a * v + in.b;
}
"""


def k_mapiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    df = li.select(
        F.col("l_linenumber").cast("long").alias("a"),
        F.col("l_suppkey").cast("long").alias("b"),
    )
    return compile_kernel(MAP_KERNEL).apply(df)


ORACLE_MAPITER = """
SELECT CAST(l_linenumber AS BIGINT) * v + l_suppkey AS out
FROM lineitem, LATERAL (SELECT unnest([2, 3]) AS v) u
"""


# match on value-typed (string-literal union) input — the README's
# pattern-matching example (reference README.md:124-138), input derived
# from events.
MATCH_LIT_KERNEL = """
version 0.1-pre_mvp;
script "pattern matching example";
input  "Hello" | "Goodnight";
output Str;
out match in {
  case "Hello":     "Hello, World!";
  case "Goodnight": "Goodnight, Moon!";
};
"""


def k_match_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    df = ev.select(
        "event_id",
        F.when(F.col("value") > 250.0, F.lit("Hello"))
        .otherwise(F.lit("Goodnight"))
        .alias("greeting"),
    )
    return compile_kernel(MATCH_LIT_KERNEL).apply(
        df, input_col="greeting", keep=("event_id",)
    ).select("event_id", "out")


ORACLE_MATCH_LIT = """
SELECT event_id,
  CASE WHEN value > 250.0 THEN 'Hello, World!' ELSE 'Goodnight, Moon!' END AS out
FROM events
"""


# match with typed binds over a true union (Float | Str) — tagged-struct
# encoding (SURVEY.md §7.5); the union column is built from events.
MATCH_UNION_KERNEL = """
version 0.1-pre_mvp;
script "union match";
input Float | Str;
output Float;
out match in {
  case f:Float: f * 2.0;
  case s:Str:   0.0 - (s as Bool as Int as Float);
};
"""


def k_match_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    union_col = F.when(
        F.col("event_id") % 2 == 0,
        F.struct(
            F.lit("Float").alias("_tag"),
            F.col("value").alias("_0"),
            F.lit(None).cast("string").alias("_1"),
        ),
    ).otherwise(
        F.struct(
            F.lit("Str").alias("_tag"),
            F.lit(None).cast("double").alias("_0"),
            F.col("event_type").alias("_1"),
        )
    )
    df = ev.select("event_id", union_col.alias("u"))
    return compile_kernel(MATCH_UNION_KERNEL).apply(
        df, input_col="u", keep=("event_id",)
    ).select("event_id", "out")


ORACLE_MATCH_UNION = """
SELECT event_id,
  CASE WHEN event_id % 2 = 0 THEN value * 2.0
       ELSE 0.0 - (CASE WHEN length(event_type) > 0 THEN 1.0 ELSE 0.0 END)
  END AS out
FROM events
"""


# comprehension over a list column, `$`-partial + arrow-lambda forms
# (reference README.md:171-177), plus `as` numeric-tower casts
COMPREHENSION_KERNEL = """
version 0.1-pre_mvp;
script "comprehension + cast";
input {field xs: [Int]; field k: Int;};
output [Int];
let doubled = [in.xs | $ * 2 + in.k];
out [doubled | (item) => item + 1];
"""


def k_comprehension(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    df = li.select(
        F.array(
            F.col("l_linenumber").cast("long"),
            F.col("l_suppkey").cast("long"),
            F.col("l_partkey").cast("long"),
        ).alias("xs"),
        F.col("l_orderkey").cast("long").alias("k"),
    )
    res = compile_kernel(COMPREHENSION_KERNEL).apply(df)
    # The kernel's output is [Int]; the differential harness canonicalizes
    # rows by sorting output columns, which cannot order list-valued cells.
    # Serialize the array to an exact comma-joined string (integers cast to
    # string are byte-identical across engines) so the row set stays sortable
    # without losing any value information.
    return res.select(
        F.array_join(
            F.transform("out", lambda x: x.cast("string")), ","
        ).alias("out")
    )


ORACLE_COMPREHENSION = """
SELECT array_to_string(list_transform(
  [CAST(l_linenumber AS BIGINT), CAST(l_suppkey AS BIGINT), CAST(l_partkey AS BIGINT)],
  x -> CAST(x * 2 + l_orderkey + 1 AS VARCHAR)), ',') AS out
FROM lineitem
"""


CAST_KERNEL = """
version 0.1-pre_mvp;
script "as casts";
input {field f: Float; field s: Str;};
output Int;
out (in.f as I64) + ((in.s as Bool) as Int);
"""


def k_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    df = ev.select(
        "event_id",
        F.col("value").alias("f"),
        F.col("event_type").alias("s"),
    )
    return compile_kernel(CAST_KERNEL).apply(
        df, keep=("event_id",)
    ).select("event_id", "out")


GENERIC_KERNEL = """
version 0.1-pre_mvp;
script "generic type constructors";
type Box<T>: {field v: T;};
type Pair<A, B>: <A, B>;
type Wide<T>: Box<Box<T>>;
func add<T: Int>(a: T, b: T) -> T {
  a + b
}
input Box<Int>;
output Int;
let p = (in.v, in.v * 2) as Pair<Int, Int>;
out add(p[0], p[1]);
"""


def k_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HKT / generic type constructors (SURVEY.md §2.11): the reference
    PARSES `Box<Int>` applications (src/grammar.lalrpop:123-127) but never
    lowers them (src/ast.rs:630 'TBD', roadmap.md defers); here
    parameterized typedefs (`type Box<T>: ...;` — the TypeFunc form the
    reference defines only in its AST, src/ast.rs:205) monomorphize by
    substitution at type-resolution time (kernel/types.substitute_type),
    including nested applications (Wide<T> = Box<Box<T>>), with arity
    and self-reference-depth checks. Closes the one §2 row the reference
    itself left parse-only."""
    ev = load_table(spark, "events", sf_dir)
    df = ev.select("event_id", F.col("event_id").alias("v"))
    return compile_kernel(GENERIC_KERNEL).apply(df, keep=("event_id",)).select(
        "event_id", "out"
    )


ORACLE_GENERIC = """
SELECT event_id, event_id + event_id * 2 AS out FROM events
"""


TOWER_KERNEL = """
version 0.1-pre_mvp;
script "numeric tower boundaries";
input {field id: Int; field v: Float;};
output U64;
let b = (in.id % 256) as U8;
let h = (in.id % 32768) as I16;
let u = in.id as U32;
let t = (in.v / 100.0) as I8;
let n = in.id as Nat;
let k = (255 as U8) + ((0 - 128) as I8) + (65535 as U16);
out (b + h + u + t + n + k) as U64;
"""


def k_tower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented numeric tower (reference manual.md:85-97, SURVEY.md
    §1.2): sized integer types as range-checked views over i64 compute —
    `as U8/I16/U32/Nat` casts range-check at runtime (out-of-range raises,
    never wraps; kernel/compiler.sized_range_check), constants check at
    compile time (255 as U8 folds, 256 as U8 is a compile error), and the
    U64 output narrows to its Decimal(20,0) storage type, the SURVEY
    mapping for the one width Spark has no signed home for.

    The oracle-checked output re-casts the U64 to BIGINT on BOTH engines:
    DuckDB's pandas fetch renders DECIMAL(20,0) as float64 while Spark
    collects decimal.Decimal, so a raw-Decimal output can never hash-match
    the driver even when every value is equal (round-6 red row). The
    Decimal(20,0) STORAGE mapping itself stays pinned in
    tests/test_kernel_properties.py (test_sized_storage_types and the
    pipeline assertion below)."""
    ev = load_table(spark, "events", sf_dir)
    df = ev.select(
        "event_id",
        F.col("event_id").alias("id"),
        F.col("value").alias("v"),
    )
    kdf = compile_kernel(TOWER_KERNEL).apply(df, keep=("event_id",))
    # the kernel's own output type must be the documented U64 storage type
    assert dict(kdf.dtypes)["out"] == "decimal(20,0)", kdf.dtypes
    return kdf.select("event_id", F.col("out").cast("bigint").alias("out"))


# every term mirrors the kernel: truncating float→int, i64 compute, and the
# folded boundary constants 255 - 128 + 65535 = 65662; the kernel's U64
# output is DECIMAL(20,0) storage, re-cast to BIGINT for the dtype-safe
# cross-engine hash (values fit i64 comfortably at every SF)
ORACLE_TOWER = """
SELECT event_id,
  CAST((event_id % 256) + (event_id % 32768) + event_id
       + CAST(trunc(value / 100.0) AS BIGINT) + event_id + 65662
       AS BIGINT) AS out
FROM events
"""


# Float→Int truncates toward zero; Str→Bool is non-emptiness; Bool→Int 1/0
ORACLE_CAST = """
SELECT event_id,
  CAST(trunc(value) AS BIGINT)
    + (CASE WHEN length(event_type) > 0 THEN 1 ELSE 0 END) AS out
FROM events
"""


# builtin function library: reduce/map/filter + scalar/string builtins
# (SURVEY.md §2.3 ext row — the reference's stdlib is roadmap 0.3; these are
# the named functions its docs/IR reference: min/max/abs/shifts
# src/ir.rs:576-653, .join/sqrt/length README.md:235, 352-353, Reduce/Map
# planned src/ir.rs:222-223)
BUILTINS_KERNEL = """
version 0.1-pre_mvp;
script "builtin function library";
input {field xs: [Int]; field s: Str;};
output Int;
let total = reduce(in.xs, 0, (acc: Int, x: Int) => acc + x);
let big = filter(in.xs, (x: Int) => x * 2 > 5);
let grown = map(in.xs, (x: Int) => x + 100);
out total * 1000 + length(big) * 100 + grown[0] - 100
    + min(max(abs(0 - in.s.length()), 1), 9) + shl(1, 2) + floor(sqrt(in.xs[0] as Float));
"""


def k_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    df = li.select(
        F.array(
            F.col("l_linenumber").cast("long"),
            F.col("l_suppkey").cast("long"),
        ).alias("xs"),
        F.col("l_returnflag").alias("s"),
    )
    return compile_kernel(BUILTINS_KERNEL).apply(df)


ORACLE_BUILTINS = """
WITH t AS (
  SELECT [CAST(l_linenumber AS BIGINT), CAST(l_suppkey AS BIGINT)] AS xs,
         l_returnflag AS s
  FROM lineitem
)
SELECT CAST(list_sum(xs) AS BIGINT) * 1000
  + len(list_filter(xs, x -> x * 2 > 5)) * 100
  + list_transform(xs, x -> x + 100)[1] - 100
  + least(greatest(abs(0 - length(s)), 1), 9) + (1 << 2)
  + CAST(floor(sqrt(xs[1]::DOUBLE)) AS BIGINT) AS out
FROM t
"""


# module linking: import a lib, call exported funcs/consts (SURVEY.md §2.10
# modules row — the reference parses but never lowers imports,
# src/ir.rs:802-803; our linker inlines exports at compile time)
MODULE_LIB = """
version 0.1-pre_mvp;
lib "pricing helpers";
export func discounted(price: Float, disc: Float) -> Float { price * (1.0 - disc) }
export let surcharge = 2.5;
func internal(x: Float) -> Float { x }
"""

MODULE_KERNEL = """
version 0.1-pre_mvp;
script "module linking";
import pricing._;
input {field price: Float; field disc: Float;};
output Float;
out discounted(in.price, in.disc) + surcharge;
"""


def k_modules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    df = li.select(
        F.col("l_extendedprice").alias("price"), F.col("l_discount").alias("disc")
    )
    return compile_kernel(MODULE_KERNEL, libs={"pricing": MODULE_LIB}).apply(df)


ORACLE_MODULES = """
SELECT l_extendedprice * (1.0 - l_discount) + 2.5 AS out FROM lineitem
"""


# record members: method (binds self), static, const (SURVEY.md §2.10 —
# typecheck-only in the reference, src/typechecker.rs:71-83; here they
# inline like any function)
METHODS_KERNEL = """
version 0.1-pre_mvp;
script "record methods";
type Reading: {
  field a: Int;
  field b: Int;
  method total() -> Int { self.a + self.b };
  method scaled(k: Int) -> Int { self.total() * k };
  static zero() -> Int { 0 };
  const offset: Int = 7;
};
input Reading;
output Int;
out in.scaled(10) + in.offset + in.zero();
"""


def k_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    df = li.select(
        F.col("l_linenumber").cast("long").alias("a"),
        F.col("l_suppkey").cast("long").alias("b"),
    )
    return compile_kernel(METHODS_KERNEL).apply(df)


ORACLE_METHODS = """
SELECT (CAST(l_linenumber AS BIGINT) + l_suppkey) * 10 + 7 AS out FROM lineitem
"""


# kernel composed INTO a relational pipeline: the compiled kernel is just a
# DataFrame transform, so its output feeds joins/aggregations like any
# other — the two layers of the engine compose (SURVEY.md §7.1).
def k_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    kernel_out = compile_kernel(FILTER_KERNEL).apply(
        ev.select("event_type", "value"), input_col="value", keep=("event_type",)
    )
    return kernel_out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("out").cast("decimal(18,2)")).cast("double").alias("sum_out"),
    )


ORACLE_PIPELINE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value * 2.0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_out
FROM events WHERE value > 250.0
GROUP BY event_type
"""


# spread `...xs` in calls, rest params `...name: T`, and the `$...`
# rest-forwarding partial (reference README.md:260-261, 335-336, 370-373 —
# documented-only there, §2.11; compiled away entirely here: every form
# inlines to plain Column arithmetic, no runtime variadics exist).
SPREAD_KERNEL = """
version 0.1-pre_mvp;
script "spread / rest / $... partial";
input Int;
output Int;

func total(...xs: Int) -> Int {
  reduce(xs, 0, (a: Int, x: Int) -> Int = a + x)
}

func wrap(bias: Int, ...ys: Int) -> Int {
  bias + total(...ys)
}

let add100 = wrap(100, $...);

out total(in, 2 * in, 1);
out total(...[in, in, 1]);
out wrap(10, in, in);
out add100(in, 1);
"""


def k_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return compile_kernel(SPREAD_KERNEL).apply(
        li.select(F.col("l_linenumber").cast("long").alias("v")), input_col="v"
    )


ORACLE_SPREAD = """
SELECT u.out FROM lineitem, LATERAL (
  SELECT unnest([3 * CAST(l_linenumber AS BIGINT) + 1,
                 2 * CAST(l_linenumber AS BIGINT) + 1,
                 10 + 2 * CAST(l_linenumber AS BIGINT),
                 101 + CAST(l_linenumber AS BIGINT)]) AS out
) u
"""


K_ATTEMPT_SRC = """
version 0.1-pre_mvp;
script "recoverable exceptions (ast.Attempt) over lineitem linenumbers";
input Int;
output Int;

func risky(n: Int) -> Int {
  if (n % 3 == 0) {
    throw "divisible";
  }
  if (n > 5) {
    throw "too-big";
  }
  n * 10
}

out attempt risky(in) recover (m) 0 - length(m);
"""


def k_attempt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION: recoverable exceptions — `attempt expr recover (m) fb`.
    The reference defers exceptions (README.md:97, :399); semantics are
    ours: per-record, a reached `throw` yields the fallback with the
    message bound, first throw wins, body `out`s discarded. Compiled to
    pure when() machinery — see kernel/compiler.py compile_attempt."""
    li = load_table(spark, "lineitem", sf_dir)
    k = compile_kernel(K_ATTEMPT_SRC)
    return k.apply(
        li.select(F.col("l_linenumber").cast("long").alias("v")), input_col="v"
    )


# first throw wins: n%3==0 precedes n>5 in program order (n=6 -> "divisible")
ORACLE_ATTEMPT = """
SELECT CASE WHEN l_linenumber % 3 = 0 THEN -9
            WHEN l_linenumber > 5 THEN -7
            ELSE l_linenumber * 10 END AS out
FROM lineitem
"""

def k_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """examples/loop.us: a constant-list `for` loop
    calling a Float→Float func per element, with the declared Int output
    truncating each result (9c/5+32 for c=1,2,3 → 33.8, 35.6, 37.4 →
    33, 35, 37 per input record). Completes per-example parity: every
    reference example script now has its own driver-checked query."""
    ev = load_table(spark, "events", sf_dir)
    df = ev.select("event_id", F.col("event_id").alias("v"))
    return _example("loop").apply(df, input_col="v", keep=("event_id",)).select(
        "event_id", "out"
    )


ORACLE_LOOP = """
SELECT event_id, u.out
FROM events, (SELECT unnest([33, 35, 37]) AS out) u
"""


def k_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """examples/simple.us: nested function calls
    foo(c) = 2·bar(c), bar(c) = c − 1 over the Float view of the input,
    truncated by the declared Int output — inlining depth 2, no loops."""
    ev = load_table(spark, "events", sf_dir)
    df = ev.select("event_id", F.col("event_id").alias("v"))
    return _example("simple").apply(
        df, input_col="v", keep=("event_id",)
    ).select("event_id", "out")


# foo(id) = 2.0·(id − 1.0) is integer-valued and exact in double for every
# id in the data, so the BIGINT truncation equals 2·id − 2
ORACLE_SIMPLE = """
SELECT event_id, event_id * 2 - 2 AS out FROM events
"""


POINT_KERNEL = """
version 0.1-pre_mvp;
script "point geometry";
input Point;
output Float;
let d2 = in.x * in.x + in.y * in.y;
out d2;
out abs(in.x) + abs(in.y);
"""


def k_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `Point` primitive (reference src/ast.rs:177 TypeTag::Point,
    src/ir.rs:362 Value::Point — a pair of floats) lowered to
    struct<x double, y double>, with `.x`/`.y` field projection and
    multi-`out` (squared norm + L1 norm per record → posexplode, two rows
    per input). Promoted from the pytest-only mapping
    (tests/test_kernel_oracle.py::test_point_type_kernel) to a driver-
    oracled query per r6 verdict #8."""
    ev = load_table(spark, "events", sf_dir)
    df = ev.select(
        "event_id",
        F.struct(
            F.col("value").cast("double").alias("x"),
            (F.col("event_id") % 7).cast("double").alias("y"),
        ).alias("p"),
    )
    return compile_kernel(POINT_KERNEL).apply(
        df, input_col="p", keep=("event_id",)
    ).select("event_id", "out")


ORACLE_POINT = """
SELECT event_id, u.out FROM (
  SELECT event_id,
         value::DOUBLE AS x,
         CAST(event_id % 7 AS DOUBLE) AS y
  FROM events
) p, LATERAL (
  SELECT unnest([x * x + y * y, abs(x) + abs(y)]) AS out
) u
"""


QUERIES = {
    "k_hello": k_hello,
    "k_point": k_point,
    "k_loop": k_loop,
    "k_simple": k_simple,
    "k_function": k_function,
    "k_fact": k_fact,
    "k_count": k_count,
    "k_count_interp": k_count_interp,
    "k_lists": k_lists,
    "k_scopes": k_scopes,
    "k_subjunctive": k_subjunctive,
    "k_filter": k_filter,
    "k_mapiter": k_mapiter,
    "k_match_lit": k_match_lit,
    "k_match_union": k_match_union,
    "k_comprehension": k_comprehension,
    "k_cast": k_cast,
    "k_tower": k_tower,
    "k_generic": k_generic,
    "k_builtins": k_builtins,
    "k_modules": k_modules,
    "k_methods": k_methods,
    "k_pipeline": k_pipeline,
    "k_spread": k_spread,
    "k_attempt": k_attempt,
}

ORACLE = {
    "k_hello": ORACLE_HELLO,
    "k_function": ORACLE_FUNCTION,
    "k_fact": ORACLE_FACT,
    "k_count": ORACLE_COUNT,
    "k_count_interp": ORACLE_COUNT,
    "k_lists": ORACLE_LISTS,
    "k_scopes": ORACLE_SCOPES,
    "k_subjunctive": ORACLE_SUBJUNCTIVE,
    "k_filter": ORACLE_FILTER,
    "k_mapiter": ORACLE_MAPITER,
    "k_match_lit": ORACLE_MATCH_LIT,
    "k_match_union": ORACLE_MATCH_UNION,
    "k_comprehension": ORACLE_COMPREHENSION,
    "k_cast": ORACLE_CAST,
    "k_tower": ORACLE_TOWER,
    "k_point": ORACLE_POINT,
    "k_loop": ORACLE_LOOP,
    "k_simple": ORACLE_SIMPLE,
    "k_generic": ORACLE_GENERIC,
    "k_builtins": ORACLE_BUILTINS,
    "k_modules": ORACLE_MODULES,
    "k_methods": ORACLE_METHODS,
    "k_pipeline": ORACLE_PIPELINE,
    "k_spread": ORACLE_SPREAD,
    "k_attempt": ORACLE_ATTEMPT,
}
