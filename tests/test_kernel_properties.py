"""Property-based tests (hypothesis) for the kernel frontend.

Two invariants:
1. Constant folding ≡ column evaluation: for random constant expressions,
   the compiler's Python fold (the interpreter's value functions) and
   Spark's evaluation of the same expression over a column must agree —
   i.e. compile-time partial evaluation never changes semantics (the
   stackfolder property).
2. Type mapping round-trip: every constructible uDLang type lowers to a
   Spark DataType, and values of that type survive a Spark round-trip.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from udlang_spark.kernel import ast
from udlang_spark.kernel.api import compile_kernel
from udlang_spark.kernel.types import to_spark

INTS = st.integers(min_value=-(2**31), max_value=2**31 - 1)
FLOATS = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)

# (udlang op, python int semantics, python float semantics)
def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def _trunc_mod(a: int, b: int) -> int:
    return a - _trunc_div(a, b) * b


INT_OPS = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": _trunc_div,
    "%": _trunc_mod,
}


@pytest.fixture(scope="module")
def sdf(spark):
    return spark.createDataFrame([(1,)], "v long")


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(a=INTS, b=INTS, op=st.sampled_from(sorted(INT_OPS)))
def test_int_ops_fold_matches_spark(spark, sdf, a, b, op):
    """Int arithmetic: reference semantics (truncating div/mod, i64) both
    when constant-folded and when evaluated by Spark on columns."""
    if op in ("/", "%") and b == 0:
        return
    src = f"""
version 0.1-pre_mvp;
script "p";
input Int;
output Int;
out (in * 0) + ({a} {op} {b});
"""
    # (in * 0) + defeats constant folding for the Spark evaluation path
    got_spark = compile_kernel(src).apply(sdf, input_col="v").collect()[0].out
    src_folded = f"""
version 0.1-pre_mvp;
script "p";
input Int;
output Int;
out {a} {op} {b};
"""
    got_folded = (
        compile_kernel(src_folded).apply(sdf, input_col="v").collect()[0].out
    )
    want = INT_OPS[op](a, b)
    assert got_spark == want == got_folded


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(a=FLOATS, b=FLOATS, op=st.sampled_from(["+", "-", "*"]))
def test_float_ops_fold_matches_spark(spark, sdf, a, b, op):
    # fixed-point literals: the grammar (like the reference's) has no
    # scientific notation; negative values arrive via unary minus
    def lit(x: float) -> str:
        s = f"{abs(x):.10f}"
        return f"(0.0 - {s})" if x < 0 else s

    a = float(f"{abs(a):.10f}") * (-1 if a < 0 else 1)
    b = float(f"{abs(b):.10f}") * (-1 if b < 0 else 1)
    src = f"""
version 0.1-pre_mvp;
script "p";
input Int;
output Float;
out ((in * 0) as Float) + ({lit(a)} {op} {lit(b)});
"""
    got = compile_kernel(src).apply(sdf, input_col="v").collect()[0].out
    want = {"+": a + b, "-": a - b, "*": a * b}[op]
    assert math.isclose(got, want, rel_tol=1e-12, abs_tol=1e-12)


# -- type round-trips -------------------------------------------------------
prim_types = st.sampled_from([ast.T_BOOL, ast.T_INT, ast.T_FLOAT, ast.T_STR])


def _types(depth: int = 2):
    if depth == 0:
        return prim_types
    sub = _types(depth - 1)
    return st.one_of(
        prim_types,
        st.builds(ast.TList, sub),
        st.builds(ast.TMap, sub),
        st.builds(lambda a, b: ast.TTuple((a, b)), sub, sub),
        st.builds(lambda t: ast.TOption(t), sub),
        st.builds(
            lambda a, b: ast.TRecord(
                (ast.TRecordField("x", a), ast.TRecordField("y", b))
            ),
            sub,
            sub,
        ),
    )


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(t=_types())
def test_every_type_lowers_to_spark(t):
    dt = to_spark(t)
    assert dt is not None
    # the mapping is deterministic
    assert to_spark(t) == dt


def test_union_tagged_struct_shape():
    u = ast.TUnion((ast.T_FLOAT, ast.T_STR, ast.TList(ast.T_INT)))
    dt = to_spark(u)
    names = [f.name for f in dt.fields]
    assert names == ["_tag", "_0", "_1", "_2"]


# ---------------------------------------------------------------------------
# Differential fuzz: compiled Column path vs the AST interpreter
# (kernel/interp.py) on random expression trees. The two execution paths
# implement the same reference semantics table (src/ir.rs:429-696)
# independently — equality over random programs guards against drift.
# ---------------------------------------------------------------------------
def _expr_strategy():
    from udlang_spark.kernel import ast as A

    leaves = st.one_of(
        st.integers(min_value=-9, max_value=9).map(lambda v: A.Lit(v)),
        st.just(A.In()),
    )

    def compound(kids):
        bins = st.tuples(st.sampled_from(["+", "-", "*"]), kids, kids).map(
            lambda t: A.Bin(t[0], t[1], t[2])
        )
        # division / truncated modulo with a NONZERO literal divisor (the
        # reference's int semantics; zero divisors are a separate trap path)
        divs = st.tuples(
            st.sampled_from(["/", "%"]),
            kids,
            st.one_of(
                st.integers(min_value=1, max_value=9),
                st.integers(min_value=-9, max_value=-1),
            ),
        ).map(lambda t: A.Bin(t[0], t[1], A.Lit(t[2])))
        negs = kids.map(lambda e: A.Un("-", e))
        conds = st.tuples(
            st.integers(min_value=-5, max_value=5), kids, kids
        ).map(
            lambda t: A.Cond(
                clauses=((A.Bin(">", A.In(), A.Lit(t[0])), t[1]),), default=t[2]
            )
        )
        return st.one_of(bins, divs, negs, conds)

    return st.recursive(leaves, compound, max_leaves=8)


@given(expr=_expr_strategy(), inputs=st.lists(
    st.integers(min_value=-7, max_value=7), min_size=1, max_size=3, unique=True
))
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_random_exprs(spark, expr, inputs):
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    prog = A.Program(
        kind="script",
        desc="fuzz",
        decls=(),
        input=A.T_INT,
        output=A.T_INT,
        body=(A.Out(expr),),
    )
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    compiled = {
        r[0] for r in Kernel(program=prog).apply(df, input_col="value").collect()
    }
    interp = Interp(prog)
    expect = {out for v in inputs for out in interp.run(v)}
    assert compiled == expect


def _str_expr_strategy():
    """Random STRING expressions over the string builtins: In() (the input
    row), literals, concat, upper/lower/trim, replace, substr (non-negative
    literal ranges — the documented 0-based contract; negative starts are
    Python-slice in the interp and unspecified in the language).

    Alphabet note: whitespace is plain spaces only — the interp's trim is
    Python strip (unicode whitespace) while the compiled path is Spark trim
    (ASCII space); the language only promises space-trimming."""
    from udlang_spark.kernel import ast as A

    lit = st.sampled_from(["", "a", "ab ", " xY", "12,", "é字", "zz"]).map(A.Lit)
    leaves = st.one_of(st.just(A.In()), lit)

    def compound(kids):
        concat = st.tuples(kids, kids).map(lambda t: A.Bin("+", t[0], t[1]))
        un1 = st.sampled_from(["upper", "lower", "trim"])
        call1 = st.tuples(un1, kids).map(
            lambda t: A.Call(A.Id(t[0]), (t[1],))
        )
        repl = st.tuples(
            kids,
            st.sampled_from(["a", "b ", "xY"]),
            st.sampled_from(["", "Q", "12"]),
        ).map(
            lambda t: A.Call(A.Id("replace"), (t[0], A.Lit(t[1]), A.Lit(t[2])))
        )
        sub = st.tuples(
            kids,
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ).map(
            lambda t: A.Call(A.Id("substr"), (t[0], A.Lit(t[1]), A.Lit(t[2])))
        )
        return st.one_of(concat, call1, repl, sub)

    return st.recursive(leaves, compound, max_leaves=6)


@given(
    expr=_str_expr_strategy(),
    inputs=st.lists(
        st.sampled_from(["", "abc", "A b C", "  pad  ", "é字 mix", "x,y"]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
    as_length=st.booleans(),
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_string_exprs(spark, expr, inputs, as_length):
    """Compiled-vs-interpreted differential over the STRING builtin surface
    (the int/float surface has its own fuzz above)."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    out_t = A.T_INT if as_length else A.T_STR
    body_expr = A.Call(A.Id("length"), (expr,)) if as_length else expr
    prog = A.Program(
        kind="script",
        desc="strfuzz",
        decls=(),
        input=A.T_STR,
        output=out_t,
        body=(A.Out(body_expr),),
    )
    df = spark.createDataFrame([(v,) for v in inputs], "value string")
    compiled = sorted(
        r[0] for r in Kernel(program=prog).apply(df, input_col="value").collect()
    )
    interp = Interp(prog)
    expect = sorted(out for v in inputs for out in interp.run(v))
    assert compiled == expect


def _list_expr_strategy():
    """Random LIST-of-int expressions over the collection builtins:
    In() (array input), list literals, map (affine lambda), filter
    (threshold lambda) — consumed by reduce/length at the top level."""
    from udlang_spark.kernel import ast as A

    def ilit(vs):
        return A.ListExpr(tuple(A.Lit(v) for v in vs))

    leaves = st.one_of(
        st.just(A.In()),
        st.lists(
            st.integers(min_value=-5, max_value=5), min_size=0, max_size=4
        ).map(ilit),
    )

    def lam1(body):
        return A.Lambda(params=(("x", A.T_INT),), ret=A.T_INT, body=body)

    def lamb(body):
        return A.Lambda(params=(("x", A.T_INT),), ret=A.T_BOOL, body=body)

    def compound(kids):
        mapped = st.tuples(
            kids,
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ).map(
            lambda t: A.Call(
                A.Id("map"),
                (
                    t[0],
                    lam1(A.Bin("+", A.Bin("*", A.Id("x"), A.Lit(t[1])), A.Lit(t[2]))),
                ),
            )
        )
        filtered = st.tuples(
            kids, st.integers(min_value=-4, max_value=4)
        ).map(
            lambda t: A.Call(
                A.Id("filter"), (t[0], lamb(A.Bin(">", A.Id("x"), A.Lit(t[1]))))
            )
        )
        return st.one_of(mapped, filtered)

    return st.recursive(leaves, compound, max_leaves=5)


@given(
    xs_expr=_list_expr_strategy(),
    inputs=st.lists(
        st.lists(st.integers(min_value=-6, max_value=6), min_size=0, max_size=5),
        min_size=1,
        max_size=2,
    ),
    reducer=st.sampled_from(["sum", "length"]),
)
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_hof_exprs(spark, xs_expr, inputs, reducer):
    """Compiled-vs-interpreted differential over the collection-HOF surface
    (map / filter / reduce / length with real lambdas)."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    if reducer == "sum":
        top = A.Call(
            A.Id("reduce"),
            (
                xs_expr,
                A.Lit(0),
                A.Lambda(
                    params=(("acc", A.T_INT), ("x", A.T_INT)),
                    ret=A.T_INT,
                    body=A.Bin("+", A.Id("acc"), A.Id("x")),
                ),
            ),
        )
    else:
        top = A.Call(A.Id("length"), (xs_expr,))
    prog = A.Program(
        kind="script",
        desc="hoffuzz",
        decls=(),
        input=A.TList(A.T_INT),
        output=A.T_INT,
        body=(A.Out(top),),
    )
    # unique-ify by tuple (hypothesis may generate duplicate lists)
    seen, uniq = set(), []
    for v in inputs:
        t = tuple(v)
        if t not in seen:
            seen.add(t)
            uniq.append(v)
    df = spark.createDataFrame([(v,) for v in uniq], "value array<long>")
    compiled = sorted(
        r[0] for r in Kernel(program=prog).apply(df, input_col="value").collect()
    )
    interp = Interp(prog)
    expect = sorted(out for v in uniq for out in interp.run(v))
    assert compiled == expect


def _match_strategy():
    """Random `match` expressions over an Int subject: literal arms in a
    random order, an optional Float round-trip cast on the subject, and a
    catch-all bind whose body may reference the bound name — the §2.2
    surface (k_match_lit/k_match_union run it e2e; this fuzzes arm order,
    overlap, and fall-through against the interpreter)."""
    from udlang_spark.kernel import ast as A

    body = st.one_of(
        st.integers(min_value=-9, max_value=9).map(A.Lit),
        st.just(A.In()),
        st.integers(min_value=-3, max_value=3).map(
            lambda v: A.Bin("+", A.In(), A.Lit(v))
        ),
    )

    def build(t):
        subj_k, cast_subj, arm_vals, bodies, bind_body = t
        subj = A.Bin("%", A.In(), A.Lit(subj_k))
        if cast_subj:  # Int -> Float -> Int round-trip is identity
            subj = A.Cast(A.Cast(subj, A.T_FLOAT), A.T_INT)
        arms = tuple(
            A.MatchArm(A.PLit(v), b) for v, b in zip(arm_vals, bodies)
        )
        catch = A.MatchArm(
            A.PBind("m", None),
            A.Bin("*", A.Id("m"), A.Lit(2)) if bind_body else A.Lit(-99),
        )
        return A.Match(subject=subj, arms=arms + (catch,))

    return st.tuples(
        st.integers(min_value=1, max_value=5),
        st.booleans(),
        st.lists(
            st.integers(min_value=-4, max_value=4),
            min_size=1,
            max_size=4,
            unique=True,
        ),
        st.lists(body, min_size=4, max_size=4),
        st.booleans(),
    ).map(build)


@given(
    expr=_match_strategy(),
    inputs=st.lists(
        st.integers(min_value=-7, max_value=7), min_size=1, max_size=3, unique=True
    ),
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_match_exprs(spark, expr, inputs):
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    prog = A.Program(
        kind="script",
        desc="fuzz-match",
        decls=(),
        input=A.T_INT,
        output=A.T_INT,
        body=(A.Out(expr),),
    )
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    compiled = {
        r[0] for r in Kernel(program=prog).apply(df, input_col="value").collect()
    }
    interp = Interp(prog)
    expect = {out for v in inputs for out in interp.run(v)}
    assert compiled == expect


def _structural_match_strategy():
    """Random `match` over STRUCTURAL subjects (tuple / map / list built
    from In()) with TYPED binds — the surface where the interp's runtime
    type checks must agree with the compiler's static `inner == pt` test.
    Covers the interp tuple encoding (dict _1.._n): a 2-tuple subject must
    match `(Int, Int)` but not `(Int, Int, Int)`, `Map(Int)`, or
    `List(Int)`; a map literal must match only `Map(Int)`; arm order is
    shuffled so fall-through past non-matching typed binds is exercised."""
    from udlang_spark.kernel import ast as A

    t2 = A.TTuple((A.T_INT, A.T_INT))
    t3 = A.TTuple((A.T_INT, A.T_INT, A.T_INT))
    tmap = A.TMap(A.T_INT)
    tlist = A.TList(A.T_INT)

    subjects = {
        "t2": A.TupleExpr((A.In(), A.Bin("+", A.In(), A.Lit(1)))),
        "t3": A.TupleExpr((A.In(), A.Lit(5), A.Bin("*", A.In(), A.Lit(2)))),
        "map": A.MapExpr((("a", A.In()), ("b", A.Lit(3)))),
        "list": A.ListExpr((A.In(), A.Lit(2))),
    }
    # (key, pattern type, body over the bound name) — bodies are only
    # compiled for arms that can statically match, so each can use its
    # bound type freely
    arm_pool = {
        "t2": (t2, lambda x: A.Index(x, A.Lit(0))),
        "t3": (t3, lambda x: A.Index(x, A.Lit(2))),
        "map": (tmap, lambda x: A.Index(x, A.Lit("a"))),
        "list": (tlist, lambda x: A.Call(A.Id("length"), (x,))),
    }

    def build(t):
        subj_key, arm_keys, with_catch = t
        arms = []
        for k in arm_keys:
            pt, body_fn = arm_pool[k]
            arms.append(A.MatchArm(A.PBind("x", pt), body_fn(A.Id("x"))))
        if with_catch or subj_key not in arm_keys:
            arms.append(A.MatchArm(A.PBind("m", None), A.Lit(-99)))
        return A.Match(subject=subjects[subj_key], arms=tuple(arms))

    keys = st.sampled_from(["t2", "t3", "map", "list"])
    return st.tuples(
        keys,
        st.lists(keys, min_size=1, max_size=4, unique=True),
        st.booleans(),
    ).map(build)


@given(
    expr=_structural_match_strategy(),
    inputs=st.lists(
        st.integers(min_value=-7, max_value=7), min_size=1, max_size=3, unique=True
    ),
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_structural_match(spark, expr, inputs):
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    prog = A.Program(
        kind="script",
        desc="fuzz-structmatch",
        decls=(),
        input=A.T_INT,
        output=A.T_INT,
        body=(A.Out(expr),),
    )
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    compiled = {
        r[0] for r in Kernel(program=prog).apply(df, input_col="value").collect()
    }
    interp = Interp(prog)
    expect = {out for v in inputs for out in interp.run(v)}
    assert compiled == expect


def _record_match_strategy():
    """Random `match` over a RECORD subject (`in` with a record input
    type) with typed binds — extends the structural-match fuzz (r6 verdict
    #9, after the r5 interp MapVal/tuple-dict parity fixes): a {a,b}
    record must satisfy exactly its own record type, never a record with
    more fields, a Map(Int) (records are not MapVal), or a 2-tuple
    (records are not _1.._n dicts). Arm sets and order are fuzzed so
    fall-through past non-matching typed binds is exercised on both
    paths."""
    from udlang_spark.kernel import ast as A

    rec_ab = A.TRecord(
        (A.TRecordField("a", A.T_INT), A.TRecordField("b", A.T_INT))
    )
    rec_abc = A.TRecord(
        (
            A.TRecordField("a", A.T_INT),
            A.TRecordField("b", A.T_INT),
            A.TRecordField("c", A.T_INT),
        )
    )
    tmap = A.TMap(A.T_INT)
    t2 = A.TTuple((A.T_INT, A.T_INT))

    arm_pool = {
        "rec_ab": (rec_ab, lambda x: A.Bin("+", A.Dot(x, "a"), A.Dot(x, "b"))),
        "rec_abc": (rec_abc, lambda x: A.Dot(x, "c")),
        "map": (tmap, lambda x: A.Index(x, A.Lit("a"))),
        "t2": (t2, lambda x: A.Index(x, A.Lit(0))),
    }

    def build(t):
        arm_keys, with_catch = t
        arms = []
        for k in arm_keys:
            pt, body_fn = arm_pool[k]
            arms.append(A.MatchArm(A.PBind("x", pt), body_fn(A.Id("x"))))
        if with_catch or "rec_ab" not in arm_keys:
            arms.append(A.MatchArm(A.PBind("m", None), A.Lit(-99)))
        return A.Match(subject=A.In(), arms=tuple(arms))

    keys = st.sampled_from(["rec_ab", "rec_abc", "map", "t2"])
    return st.tuples(
        st.lists(keys, min_size=1, max_size=4, unique=True),
        st.booleans(),
    ).map(build)


@given(
    expr=_record_match_strategy(),
    inputs=st.lists(
        st.tuples(
            st.integers(min_value=-7, max_value=7),
            st.integers(min_value=-7, max_value=7),
        ),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_record_match(spark, expr, inputs):
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    rec_ab = A.TRecord(
        (A.TRecordField("a", A.T_INT), A.TRecordField("b", A.T_INT))
    )
    prog = A.Program(
        kind="script",
        desc="fuzz-recordmatch",
        decls=(),
        input=rec_ab,
        output=A.T_INT,
        body=(A.Out(expr),),
    )
    df = spark.createDataFrame(list(inputs), "a long, b long")
    compiled = {r[0] for r in Kernel(program=prog).apply(df).collect()}
    interp = Interp(prog)
    expect = {
        out for a, b in inputs for out in interp.run({"a": a, "b": b})
    }
    assert compiled == expect


def test_interp_map_has_is_key_containment():
    """`.?.` on a map holding a NULL value: compiled = map_contains_key
    (True); the interp must agree (ADVICE r5: it used to test value
    nullness). Records keep isNotNull semantics."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.interp import Interp

    # map {"a": none-ish} — model a null value via a Cond with no default
    # is awkward; instead bind the map and check both present/absent keys
    prog = A.Program(
        kind="script",
        desc="has-map",
        decls=(),
        input=A.T_INT,
        output=A.T_BOOL,
        body=(
            A.Out(A.Has(A.MapExpr((("a", A.In()),)), "a")),
            A.Out(A.Has(A.MapExpr((("a", A.In()),)), "b")),
        ),
    )
    assert Interp(prog).run(7) == [True, False]


def test_interp_tuple_typed_bind_and_index():
    """A 2-tuple subject takes the `(Int, Int)` arm (not Map/List/3-tuple)
    and tuple indexing works on the interp's _1.._n encoding."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.interp import Interp

    subj = A.TupleExpr((A.In(), A.Bin("+", A.In(), A.Lit(1))))
    m = A.Match(
        subject=subj,
        arms=(
            A.MatchArm(A.PBind("x", A.TMap(A.T_INT)), A.Lit(-1)),
            A.MatchArm(
                A.PBind("x", A.TTuple((A.T_INT, A.T_INT, A.T_INT))), A.Lit(-2)
            ),
            A.MatchArm(
                A.PBind("x", A.TTuple((A.T_INT, A.T_INT))),
                A.Index(A.Id("x"), A.Lit(1)),
            ),
            A.MatchArm(A.PBind("m", None), A.Lit(-99)),
        ),
    )
    prog = A.Program(
        kind="script",
        desc="tuple-bind",
        decls=(),
        input=A.T_INT,
        output=A.T_INT,
        body=(A.Out(m),),
    )
    assert Interp(prog).run(4) == [5]


def test_constant_null_index_null_propagates_both_paths(spark):
    """r9 ADVICE (medium): xs[m.missing_key] — Dot on a missing map key
    folds to SConst(None); compile_index's list branch then did
    F.lit(None + 1) (TypeError) and the tuple branch t.items[None]. Both
    must NULL-propagate like the interp (interp.py Index: idx None →
    None), and a NULL-object index too."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    missing = A.Dot(A.MapExpr((("i", A.Lit(0)),)), "zz")  # folds to NULL
    cases = [
        # list indexed by constant NULL
        A.Index(A.ListExpr((A.Lit(7), A.Lit(8))), missing),
        # homogeneous tuple indexed by constant NULL
        A.Index(A.TupleExpr((A.Lit(1), A.Lit(2))), missing),
        # NULL object indexed by a constant — Dot chain through a missing
        # intermediate gives a NULL map; index it
        A.Index(A.Dot(A.MapExpr((("w", A.MapExpr((("k", A.Lit(3)),))),)), "z"), A.Lit("k")),
    ]
    for expr in cases:
        prog = A.Program(
            kind="script", desc="null-index", decls=(), input=A.T_INT,
            output=A.T_INT, body=(A.Out(expr),),
        )
        df = spark.createDataFrame([(1,)], "value long")
        got = [r[0] for r in Kernel(program=prog).apply(df, input_col="value").collect()]
        assert got == [None], expr
        assert Interp(prog).run(1) == [None], expr


# ---------------------------------------------------------------------------
# Round-10 fuzz family (second): the CAST matrix over possibly-NULL and
# mixed-sign sources — Float→Int truncation toward zero (incl. negatives),
# Int→Bool (zero edge), Str→Bool (empty/non-empty/NULL), sized-int views
# (in-range I8/I16 range-check pass-through), and chained casts, each with
# compile-time NULL constants AND runtime-nullable branch values. Pins the
# r9 "NULL casts NULL" rule and the truncation/bool rules on both paths.
# ---------------------------------------------------------------------------
def _cast_matrix_strategy():
    from udlang_spark.kernel import ast as A

    imap = A.MapExpr((("p", A.Lit(3)), ("q", A.In())))

    def dot(k):
        return A.Dot(imap, k)

    num = st.sampled_from(
        [
            A.Lit(4),
            A.Lit(-3),
            A.Lit(0),
            A.In(),
            dot("p"),
            dot("q"),
            dot("zz"),  # compile-time NULL Int
            A.Cond(  # runtime-nullable Int
                clauses=(((A.Bin(">", A.In(), A.Lit(0))), dot("zz")),),
                default=A.In(),
            ),
        ]
    )
    fsrc = st.sampled_from(
        [
            A.Lit(2.5),
            A.Lit(-2.5),
            A.Bin("/", A.In(), A.Lit(2.0)),  # runtime Float incl. negatives
            A.Cast(dot("zz"), A.T_FLOAT),  # NULL Float
        ]
    )
    smap = A.MapExpr((("s", A.Lit("xy")), ("e", A.Lit("")),))
    ssrc = st.sampled_from(["s", "e", "zz"]).map(lambda k: A.Dot(smap, k))
    sized = st.tuples(num, st.sampled_from(["I8", "I16", "U16"])).map(
        # inputs are -7..7: in range for I8/I16; U16 only on abs()
        lambda t: A.Cast(
            A.Call(A.Id("abs"), (t[0],)) if t[1].startswith("U") else t[0],
            A.TPrim(t[1]),
        )
    )
    via_float = num.map(lambda e: A.Cast(A.Cast(e, A.T_FLOAT), A.T_INT))
    f_to_int = fsrc.map(lambda e: A.Cast(e, A.T_INT))
    bool_to_int = num.map(lambda e: A.Cast(A.Cast(e, A.T_BOOL), A.T_INT))
    str_to_int = ssrc.map(lambda e: A.Cast(A.Cast(e, A.T_BOOL), A.T_INT))
    return st.one_of(sized, via_float, f_to_int, bool_to_int, str_to_int)


@given(
    expr=_cast_matrix_strategy(),
    inputs=st.lists(
        st.integers(min_value=-7, max_value=7), min_size=1, max_size=2,
        unique=True,
    ),
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_cast_matrix(spark, expr, inputs):
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    prog = A.Program(
        kind="script", desc="fuzz-cast-matrix", decls=(), input=A.T_INT,
        output=A.T_INT, body=(A.Out(expr),),
    )
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    compiled = sorted(
        (
            (r[0],)
            for r in Kernel(program=prog).apply(df, input_col="value").collect()
        ),
        key=lambda t: (t[0] is None, t[0]),
    )
    interp = Interp(prog)
    expect = sorted(
        ((out,) for v in inputs for out in interp.run(v)),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert compiled == expect


# ---------------------------------------------------------------------------
# Round-10 fuzz family: BUILTINS over possibly-NULL arguments. The r9 folding
# work made Dot on a missing map key produce a compile-time NULL constant,
# which reaches every builtin's constant-fold branch — the same class that
# crashed compile_index (float(None), abs(None), len(None)). The family pins
# the whole named-function library's NULL matrix on both paths: builtins
# NULL-propagate like their compiled Column forms, EXCEPT min/max, whose
# least/greatest runtime SKIPS NULLs (the non-NULL operand wins). Sources
# mix compile-time NULLs (constant missing key) with RUNTIME NULLs (a
# non-constant branch selecting a missing key) so both the fold path and the
# Column path are exercised.
# ---------------------------------------------------------------------------
def _builtin_null_strategy():
    from udlang_spark.kernel import ast as A

    imap = A.MapExpr((("p", A.Lit(3)), ("q", A.In())))

    def dot(k):
        return A.Dot(imap, k)

    num = st.sampled_from(
        [
            A.Lit(4),
            A.Lit(-2),
            A.In(),
            dot("p"),
            dot("q"),
            dot("zz"),  # compile-time NULL constant
            # RUNTIME-nullable: branch between a missing and a present key
            A.Cond(
                clauses=(((A.Bin(">", A.In(), A.Lit(0))), dot("zz")),),
                default=dot("p"),
            ),
        ]
    )
    unary = st.tuples(st.sampled_from(["abs", "floor", "ceil"]), num).map(
        lambda t: A.Call(A.Id(t[0]), (t[1],))
    )
    binary = st.tuples(st.sampled_from(["min", "max"]), num, num).map(
        lambda t: A.Call(A.Id(t[0]), (t[1], t[2]))
    )
    shift = st.tuples(
        st.sampled_from(["shl", "shr"]), num, st.integers(0, 3)
    ).map(lambda t: A.Call(A.Id(t[0]), (t[1], A.Lit(t[2]))))
    smap = A.MapExpr((("s", A.Lit("ab CD e")),))
    sdot = st.sampled_from(["s", "zz"]).map(lambda k: A.Dot(smap, k))
    strlen = st.tuples(st.sampled_from(["upper", "lower", "trim"]), sdot).map(
        lambda t: A.Call(A.Id("length"), (A.Call(A.Id(t[0]), (t[1],)),))
    )
    splitlen = sdot.map(
        lambda s: A.Call(
            A.Id("length"), (A.Call(A.Id("split"), (s, A.Lit(" "))),)
        )
    )
    return st.one_of(unary, binary, shift, strlen, splitlen)


@given(
    expr=_builtin_null_strategy(),
    inputs=st.lists(
        st.integers(min_value=-7, max_value=7), min_size=1, max_size=2,
        unique=True,
    ),
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_builtin_nulls(spark, expr, inputs):
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    prog = A.Program(
        kind="script", desc="fuzz-builtin-null", decls=(), input=A.T_INT,
        output=A.T_INT, body=(A.Out(expr),),
    )
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    compiled = sorted(
        (
            (r[0],)
            for r in Kernel(program=prog).apply(df, input_col="value").collect()
        ),
        key=lambda t: (t[0] is None, t[0]),
    )
    interp = Interp(prog)
    expect = sorted(
        ((out,) for v in inputs for out in interp.run(v)),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert compiled == expect


def test_fold_bin_null_operand_still_validates_types():
    """r9 ADVICE (low): the constant fold must validate op/type
    compatibility BEFORE NULL-propagating — an ill-typed expression with a
    NULL constant operand raises exactly like the non-constant compile_bin
    path, instead of semantics depending on constant folding."""
    import pytest

    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.compiler import Compiler
    from udlang_spark.kernel.types import KernelTypeError

    null_int = A.Dot(A.MapExpr((("i", A.Lit(0)),)), "zz")  # NULL, typed Int

    def compile_expr(expr):
        prog = A.Program(
            kind="script", desc="fold-null-typed", decls=(), input=A.T_INT,
            output=A.T_INT, body=(A.Out(expr),),
        )
        comp = Compiler(prog)
        return comp.compile_expr(expr, {})

    # '-' involving a string must raise even though one side is NULL
    with pytest.raises(KernelTypeError):
        compile_expr(A.Bin("-", A.Lit("s"), null_int))
    # relational on a bool operand must raise (compile_bin rejects it)
    with pytest.raises(KernelTypeError):
        compile_expr(A.Bin("<", A.Lit(True), A.Bin("==", null_int, null_int)))
    # well-typed NULL arithmetic still folds to NULL (no regression)
    from udlang_spark.kernel.compiler import SConst

    val, _ = compile_expr(A.Bin("+", null_int, A.Lit(3)))
    assert isinstance(val, SConst) and val.value is None


# Operands for the mixed-type fold family: each literal next to a
# Column of the same value over the input record "" (built from `in`, so
# the compiler cannot fold it).
MIXED_OPERANDS = {
    "true": "(length(in) == 0)",
    "false": "(length(in) > 0)",
    "0": "(length(in) + 0)",
    "1": "(length(in) + 1)",
    "2": "(length(in) + 2)",
    "-3": "(length(in) - 3)",
    "1.5": "((length(in) as Float) + 1.5)",
    '"a"': '(in + "a")',
    '"b"': '(in + "b")',
}
MIXED_OPS = ("==", "<", ">", "<=", ">=", "and", "or", "xor")


def test_mixed_constant_ops_fold_column_interp_agree(spark):
    """fold ≡ Column ≡ interpreter for comparisons and logic over mixed
    Bool/Int/Float/Str operands. An operand pair the Column arm rejects
    must be rejected by the fold too; every accepted pair must give the
    same value folded, as a Column and in the interpreter. The fold once
    skipped the unify check of `==`, so `true == 1` folded to true while
    the other two paths gave false."""
    import itertools

    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.compiler import BUILTINS, Compiler, SCol, SConst
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse, parse_expr
    from udlang_spark.kernel.types import KernelTypeError
    from udlang_spark.sqltext import ident

    comp = Compiler(
        A.Program("script", "mixed", (), A.T_STR, A.T_BOOL, ())
    )
    env = {**BUILTINS, "in": SCol(ident("value"), A.T_STR)}

    def typed(src):
        try:
            return comp.compile_expr(parse_expr(src), env)[0]
        except KernelTypeError:
            return None

    def program(out_t, exprs):
        body = "".join(f"out {e};\n" for e in exprs)
        return (
            f'version 0.1-pre_mvp;\nscript "mixed";\ninput Str;\n'
            f"output {out_t};\n{body}"
        )

    accepted: dict[str, list[tuple[str, str]]] = {}
    rejected = 0
    for op, (lit_a, col_a), (lit_b, col_b) in itertools.product(
        MIXED_OPS, MIXED_OPERANDS.items(), MIXED_OPERANDS.items()
    ):
        f_src, c_src = f"{lit_a} {op} {lit_b}", f"{col_a} {op} {col_b}"
        folded, column = typed(f_src), typed(c_src)
        assert (folded is None) == (column is None), f_src
        if folded is None:
            rejected += 1
            continue
        assert isinstance(folded, SConst), f_src
        assert folded.type == column.type, f_src
        # repr: True and 1 compare equal in Python
        want = Interp(parse(program(folded.type.name, [f_src]))).run("")
        assert [repr(folded.value)] == [repr(v) for v in want], f_src
        accepted.setdefault(folded.type.name, []).append((f_src, c_src))
    assert rejected and set(accepted) == {"Bool", "Int"}

    df = spark.createDataFrame([("",)], "value string")
    for out_t, pairs in accepted.items():
        src = program(out_t, [e for pair in pairs for e in pair])
        rows = compile_kernel(src).apply(df, with_pos=True).collect()
        compiled = [r.out for r in sorted(rows, key=lambda r: r.pos)]
        interp = Interp(parse(src)).run("")
        for i, (f, c) in enumerate(pairs):
            assert compiled[2 * i] == compiled[2 * i + 1], (f, c)
        assert compiled == interp


def test_int_pow_negative_exponent_keeps_both_behaviours(spark, sdf):
    """`Int ^ negative Int`: the fold and the Column arm compute pow() in
    double and truncate (2 ^ -1 → 0); the interpreter rejects the negative
    exponent (the reference casts it to u32)."""
    from udlang_spark.kernel.interp import Interp, InterpError
    from udlang_spark.kernel.parser import parse

    def src(expr):
        return (
            'version 0.1-pre_mvp;\nscript "p";\ninput Int;\noutput Int;\n'
            f"out {expr};\n"
        )

    for a in (2, -2, 1, -1):
        folded = compile_kernel(src(f"({a}) ^ (0 - 1)"))
        column = compile_kernel(src(f"(in * 0 + {a}) ^ (0 - 1)"))
        got_f = folded.apply(sdf, input_col="v").collect()[0].out
        got_c = column.apply(sdf, input_col="v").collect()[0].out
        assert got_f == got_c == int(a**-1)
        with pytest.raises(InterpError, match="negative"):
            Interp(parse(src(f"({a}) ^ (0 - 1)"))).run(1)


def test_builtin_names_and_arities_match_on_both_paths():
    """The compiled path and the interpreter expose the same builtin
    library: one name/arity table builds both."""
    from udlang_spark.kernel.compiler import BUILTINS, METHOD_BUILTINS
    from udlang_spark.kernel.interp import _NATIVES, BUILTIN_ARITY

    compiled = {name: f.arity for name, f in BUILTINS.items()}
    interp = {name: f.arity for name, f in _NATIVES.items()}
    assert compiled == interp == BUILTIN_ARITY
    assert METHOD_BUILTINS <= set(BUILTINS)


def _attempt_source_strategy():
    """Random SOURCE programs over the attempt/recover surface: a risky
    function with 0-2 throw guards (first-throw-wins order matters), a
    random arithmetic tail, a fallback that may use the bound message, and
    optional nesting — fuzzing parser + compiler + interpreter together."""

    def build(t):
        k1, r1, thr, g1, g2, a, b, use_msg, nested = t
        guards = ""
        if g1:
            guards += f'  if (n % {k1} == {r1}) {{\n    throw "mA";\n  }}\n'
        if g2:
            guards += f'  if (n > {thr}) {{\n    throw "bigger";\n  }}\n'
        fb = "0 - length(m)" if use_msg else "77"
        expr = f"attempt risky(in) recover (m) {fb}"
        if nested:
            expr = (
                f"attempt (attempt risky(in) recover (m) "
                f'(if (in > {thr}) {{ throw "deep"; 0 }} else {{ {fb} }})) '
                f"recover (m2) 0 - length(m2)"
            )
        return (
            "input Int;\noutput Int;\n"
            f"func risky(n: Int) -> Int {{\n{guards}  n * {a} + {b}\n}}\n"
            f"out {expr};\n"
        )

    return st.tuples(
        st.integers(min_value=2, max_value=5),
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=-3, max_value=6),
        st.booleans(),
        st.booleans(),
        st.integers(min_value=-3, max_value=3),
        st.integers(min_value=-5, max_value=5),
        st.booleans(),
        st.booleans(),
    ).map(build)


@given(
    src=_attempt_source_strategy(),
    inputs=st.lists(
        st.integers(min_value=-7, max_value=7), min_size=1, max_size=3, unique=True
    ),
)
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_attempt_sources(spark, src, inputs):
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp

    hdr = 'version 0.1-pre_mvp;\nscript "fuzz";\n'
    k = compile_kernel(hdr + src)
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    compiled = sorted(
        r[0] for r in k.apply(df, input_col="value").collect()
    )
    interp = Interp(k.program)
    expect = sorted(out for v in inputs for out in interp.run(v))
    assert compiled == expect


def test_interp_match_resolves_typedefs_and_containers(spark):
    """Review regressions: a typedef-aliased typed bind and a list-typed
    bind must match on the interpreter exactly as they do compiled — the
    unresolved TName used to skip the arm silently, and non-scalar
    subjects raised inside python_type_of and fell through to the
    catch-all."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp

    hdr = 'version 0.1-pre_mvp;\nscript "t";\n'
    src = """
type MyNum: Int;
input Int;
output Int;
out match in {
  case v:MyNum: v * 10;
  case w: 0 - 1;
};
"""
    k = compile_kernel(hdr + src)
    df = spark.createDataFrame([(3,)], "value long")
    compiled = [r[0] for r in k.apply(df, input_col="value").collect()]
    interp = [out for out in Interp(k.program).run(3)]
    assert compiled == interp == [30]

    # list-typed bind over a list subject, via a hand-built program (the
    # grammar has no list-match sugar in the examples; semantics per §2.2)
    prog = A.Program(
        kind="script",
        desc="t",
        decls=(),
        input=A.T_INT,
        output=A.T_INT,
        body=(
            A.Out(
                A.Match(
                    subject=A.ListExpr((A.In(), A.Lit(2))),
                    arms=(
                        A.MatchArm(
                            A.PBind("xs", A.TList(A.T_INT)),
                            A.Call(A.Id("length"), (A.Id("xs"),)),
                        ),
                        A.MatchArm(A.PBind("m", None), A.Lit(-1)),
                    ),
                )
            ),
        ),
    )
    from udlang_spark.kernel.api import Kernel

    compiled = [
        r[0] for r in Kernel(program=prog).apply(df, input_col="value").collect()
    ]
    interp = [out for out in Interp(prog).run(3)]
    assert compiled == interp == [2]


def test_interp_supports_dot_has_comprehension(spark):
    """Fallback-path parity for the structural expressions a recursive
    kernel plausibly contains: map/record literals + dot access, `.?.`
    presence, and `[xs | f]` comprehensions — each compared compiled vs
    interp on the same hand-built program."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    df = spark.createDataFrame([(4,)], "value long")

    def both(expr):
        prog = A.Program(
            kind="script",
            desc="t",
            decls=(),
            input=A.T_INT,
            output=A.T_INT,
            body=(A.Out(expr),),
        )
        compiled = [
            r[0]
            for r in Kernel(program=prog).apply(df, input_col="value").collect()
        ]
        interp = list(Interp(prog).run(4))
        assert compiled == interp, (expr, compiled, interp)
        return compiled[0]

    m = A.MapExpr((("a", A.In()), ("b", A.Lit(7))))
    assert both(A.Bin("+", A.Dot(m, "a"), A.Dot(m, "b"))) == 11
    assert (
        both(
            A.Cond(
                clauses=((A.Has(m, "a"), A.Lit(1)),),
                default=A.Lit(0),
            )
        )
        == 1
    )
    comp = A.Comprehension(
        seq=A.ListExpr((A.In(), A.Lit(2), A.Lit(3))),
        fn=A.Lambda((("x", A.T_INT),), A.T_INT, A.Bin("*", A.Id("x"), A.Lit(2))),
    )
    assert both(A.Index(comp, A.Lit(0))) == 8


# ---------------------------------------------------------------------------
# Numeric tower: sized integer types as range-checked views over i64
# (SURVEY.md §1.2; reference manual.md:85-97 documents the tower without
# implementing it)
# ---------------------------------------------------------------------------
def test_sized_cast_out_of_range_raises(spark):
    from udlang_spark.kernel.api import compile_kernel

    src = (
        'version 0.1-pre_mvp;\nscript "u8";\ninput Int;\noutput Int;\n'
        "out in as U8;\n"
    )
    k = compile_kernel(src)
    ok = k.apply(spark.createDataFrame([(250,)], "v long"), input_col="v")
    assert [r["out"] for r in ok.collect()] == [250]
    bad = k.apply(spark.createDataFrame([(300,)], "v long"), input_col="v")
    with pytest.raises(Exception, match="out of range for U8"):
        bad.collect()


def test_sized_constant_out_of_range_is_compile_error(spark):
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.types import KernelTypeError

    src = (
        'version 0.1-pre_mvp;\nscript "u8";\ninput Int;\noutput Int;\n'
        "out in + (256 as U8);\n"
    )
    k = compile_kernel(src)
    with pytest.raises(KernelTypeError, match="out of range for U8"):
        k.apply(
            spark.createDataFrame([(1,)], "v long"), input_col="v"
        ).collect()


def test_sized_output_storage_types(spark):
    """Sized outputs narrow to the SURVEY §1.2 storage mapping: U8→Short,
    U16→Integer, U32→Long, U64→Decimal(20,0); sized inputs stored wider
    than their logical range are range-checked on entry."""
    from pyspark.sql.types import (
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
    )

    from udlang_spark.kernel.api import compile_kernel

    for name, want in (
        ("U8", ShortType()),
        ("U16", IntegerType()),
        ("U32", LongType()),
        ("U64", DecimalType(20, 0)),
    ):
        src = (
            f'version 0.1-pre_mvp;\nscript "o";\ninput Int;\noutput {name};\n'
            "out in;\n"
        )
        out = compile_kernel(src).apply(
            spark.createDataFrame([(7,)], "v long"), input_col="v"
        )
        assert out.schema["out"].dataType == want, name
        assert out.collect()[0]["out"] == 7

    # negative value into an unsigned output raises, never wraps
    src = (
        'version 0.1-pre_mvp;\nscript "neg";\ninput Int;\noutput U32;\n'
        "out in;\n"
    )
    bad = compile_kernel(src).apply(
        spark.createDataFrame([(-1,)], "v long"), input_col="v"
    )
    with pytest.raises(Exception, match="out of range for U32"):
        bad.collect()


def test_sized_cast_interp_parity():
    """The interp's sized cast range-checks identically to the compiled
    path (in-range passes through as int, out-of-range raises)."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.interp import Interp, InterpError

    prog = A.Program(
        kind="script",
        desc="tower-interp",
        decls=(),
        input=A.T_INT,
        output=A.T_INT,
        body=(A.Out(A.Cast(A.In(), A.TName("U8"))),),
    )
    assert Interp(prog).run(200) == [200]
    with pytest.raises(InterpError, match="out of range for U8"):
        Interp(prog).run(300)


# ---------------------------------------------------------------------------
# HKT / generic type constructors (SURVEY.md §2.11 — parse-only in the
# reference; lowered here by monomorphizing substitution)
# ---------------------------------------------------------------------------
def test_generic_typedef_monomorphizes(spark):
    from udlang_spark.kernel.api import compile_kernel

    src = (
        'version 0.1-pre_mvp;\nscript "g";\n'
        "type Box<T>: {field v: T;};\n"
        "type Wide<T>: Box<Box<T>>;\n"
        "input Box<Int>;\noutput Int;\n"
        "out in.v * 2;\n"
    )
    df = spark.createDataFrame([(21,)], "v long")
    assert [r["out"] for r in compile_kernel(src).apply(df).collect()] == [42]


def test_generic_arity_and_bare_use_are_errors(spark):
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.types import KernelTypeError

    df = spark.createDataFrame([(1,)], "v long")
    bad_arity = (
        'version 0.1-pre_mvp;\nscript "g";\n'
        "type Box<T>: {field v: T;};\n"
        "input Box<Int, Str>;\noutput Int;\nout 1;\n"
    )
    with pytest.raises(KernelTypeError, match="expects 1 type argument"):
        compile_kernel(bad_arity).apply(df)
    bare = (
        'version 0.1-pre_mvp;\nscript "g";\n'
        "type Box<T>: {field v: T;};\n"
        "input Box;\noutput Int;\nout 1;\n"
    )
    with pytest.raises(KernelTypeError, match="without type arguments"):
        compile_kernel(bare).apply(df)


def test_generic_self_reference_depth_guard(spark):
    """A self-referential constructor must fail with a clear depth error,
    not hang the compiler."""
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.types import KernelTypeError

    src = (
        'version 0.1-pre_mvp;\nscript "g";\n'
        "type L<T>: [L<T>];\n"
        "input L<Int>;\noutput Int;\nout 1;\n"
    )
    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(KernelTypeError, match="expansion exceeds depth"):
        compile_kernel(src).apply(df)


def test_generic_functions_bounded_erasure(spark):
    """`func add<T: Int>(a: T, b: T) -> T` (reference manual.md:118,
    docs-only there): type parameters erase to their bound (or Any) at
    parse time — functions inline anyway, so the surface costs nothing."""
    from udlang_spark.kernel.api import compile_kernel

    src = (
        'version 0.1-pre_mvp;\nscript "gf";\n'
        "func add<T: Int>(a: T, b: T) -> T {\n  a + b\n}\n"
        "func pick<T>(x: T, y: T) -> T {\n  if (true) { x } else { y }\n}\n"
        "input Int;\noutput Int;\n"
        "out add(in, 10) + pick(in, 0);\n"
    )
    df = spark.createDataFrame([(5,)], "v long")
    assert [r["out"] for r in compile_kernel(src).apply(df, input_col="v").collect()] == [20]


@given(
    name=st.sampled_from(["I8", "I16", "I32", "U8", "U16", "U32", "Nat"]),
    inputs=st.lists(
        st.one_of(
            st.integers(min_value=-300, max_value=300),
            st.integers(min_value=-(2**34), max_value=2**34),
        ),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sized_casts_compiled_equals_interp(spark, name, inputs):
    """Differential fuzz over the numeric tower: for random ints and a
    random sized target, the compiled range-checked cast and the interp's
    twin either both pass with the same value or both raise."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp, InterpError
    from udlang_spark.kernel.types import SIZED_INTS

    prog = A.Program(
        kind="script",
        desc="tower-fuzz",
        decls=(),
        input=A.T_INT,
        output=A.T_INT,
        body=(A.Out(A.Cast(A.In(), A.TName(name))),),
    )
    _s, lo, hi = SIZED_INTS[name]
    interp = Interp(prog)
    for v in inputs:
        in_range = lo <= v <= min(hi, 2**63 - 1)
        df = spark.createDataFrame([(v,)], "value long")
        if in_range:
            got = Kernel(program=prog).apply(df, input_col="value").collect()
            assert [r["out"] for r in got] == [v]
            assert interp.run(v) == [v]
        else:
            with pytest.raises(Exception, match="out of range"):
                Kernel(program=prog).apply(df, input_col="value").collect()
            with pytest.raises(InterpError, match="out of range"):
                interp.run(v)


# ---------------------------------------------------------------------------
# Differential fuzz (round 11 family): spread `...xs` / rest-param arity —
# random fixed-arity prefixes, optional rest param, call sites mixing plain
# args, `in`, and spreads of list literals (constant and input-bearing),
# optionally routed through a `$...` partial. Checks compiled == interp on
# values AND that arity violations error on BOTH paths.
# ---------------------------------------------------------------------------
def _spread_call_source(nfix, has_rest, args_spec, via_partial):
    """Build kernel source for func f(p0..p{nfix-1}, [...xs]) and one call.

    args_spec: list of ("lit", n) | ("in",) | ("spread", [n, ...]) |
    ("spread_in", [n, ...]) — spread_in injects `in` as the first element.
    Returns (source, expected_fn) where expected_fn(v) computes the
    expected output for input v in Python."""
    params = ", ".join(f"p{i}: Int" for i in range(nfix))
    if has_rest:
        params = params + (", " if params else "") + "...xs: Int"
    coeff = [10 ** (i + 1) for i in range(nfix)]
    body_terms = [f"p{i} * {coeff[i]}" for i in range(nfix)]
    body_terms.append(
        "reduce(xs, 0, (a: Int, x: Int) => a + x)" if has_rest else "0"
    )
    pieces, flat = [], []
    for spec in args_spec:
        if spec[0] == "lit":
            pieces.append(str(spec[1]))
            flat.append(("lit", spec[1]))
        elif spec[0] == "in":
            pieces.append("in")
            flat.append(("in",))
        else:
            elems = (["in"] if spec[0] == "spread_in" else []) + [
                str(n) for n in spec[1]
            ]
            pieces.append("...[" + ", ".join(elems) + "]")
            if spec[0] == "spread_in":
                flat.append(("in",))
            flat.extend(("lit", n) for n in spec[1])
    if via_partial:
        # `$...` requires a rest param, and the FIXED prefix binds at
        # partial-creation time (reference README.md:370-373; the k_spread
        # example's `wrap(100, $...)`) — callers must keep the first nfix
        # args non-spread so the prefix is splittable
        fixed, rest = pieces[:nfix], pieces[nfix:]
        head = ", ".join(fixed + ["$..."])
        decl_call = f"let g = f({head});\nout g(" + ", ".join(rest) + ");"
    else:
        decl_call = "out f(" + ", ".join(pieces) + ");"
    src = (
        'version 0.1-pre_mvp;\nscript "spreadfuzz";\n'
        "input Int;\noutput Int;\n"
        f"func f({params}) -> Int {{\n  {' + '.join(body_terms)}\n}}\n"
        f"{decl_call}\n"
    )

    def expected(v):
        vals = [v if t[0] == "in" else t[1] for t in flat]
        tot = sum(c * x for c, x in zip(coeff, vals[:nfix]))
        return tot + sum(vals[nfix:])

    return src, expected


_ARG_ITEM = st.one_of(
    st.integers(min_value=-4, max_value=4).map(lambda n: ("lit", n)),
    st.just(("in",)),
    st.lists(st.integers(min_value=-3, max_value=3), max_size=3).map(
        lambda ns: ("spread", ns)
    ),
    st.lists(st.integers(min_value=-3, max_value=3), max_size=2).map(
        lambda ns: ("spread_in", ns)
    ),
)


@given(
    nfix=st.integers(min_value=0, max_value=2),
    has_rest=st.booleans(),
    raw_args=st.lists(_ARG_ITEM, max_size=4),
    via_partial=st.booleans(),
    inputs=st.lists(
        st.integers(min_value=-5, max_value=5), min_size=1, max_size=2,
        unique=True,
    ),
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_spread_arity(
    spark, nfix, has_rest, raw_args, via_partial, inputs
):
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse

    def flat_len(args):
        return sum(
            (1 if a[0] in ("lit", "in") else len(a[1]) + (a[0] == "spread_in"))
            for a in args
        )

    via_partial = via_partial and has_rest  # $... requires a rest param
    if via_partial:
        # the fixed prefix binds at partial time and must be splittable:
        # nfix non-spread items up front, then the random rest mix
        args = [("lit", i + 1) for i in range(nfix)] + list(raw_args)
    else:
        # pad with literal args until the fixed prefix is satisfiable, then
        # trim spreads that overshoot a rest-less signature
        args = list(raw_args)
        while flat_len(args) < nfix:
            args.append(("lit", 1))
        if not has_rest:
            while flat_len(args) > nfix:
                args.pop()
            while flat_len(args) < nfix:
                args.append(("lit", 1))
    src, expected = _spread_call_source(nfix, has_rest, args, via_partial)
    prog = parse(src)
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    got = sorted(
        r["out"]
        for r in compile_kernel(src).apply(df, input_col="value").collect()
    )
    interp = Interp(prog)
    want = sorted(out for v in inputs for out in interp.run(v))
    assert got == want
    assert want == sorted(expected(v) for v in inputs)


@given(
    nfix=st.integers(min_value=1, max_value=3),
    shortfall=st.integers(min_value=1, max_value=2),
    has_rest=st.booleans(),
    overshoot=st.booleans(),
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_spread_arity_violations_error_on_both_paths(
    spark, nfix, shortfall, has_rest, overshoot
):
    """Too FEW args for the fixed prefix (and, without a rest param, too
    MANY) must error on the compiled path and the interp alike — never
    silently bind garbage."""
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse

    if overshoot and not has_rest:
        args = [("lit", 1)] * (nfix + shortfall)
        label = "too many"
    else:
        args = [("lit", 1)] * max(0, nfix - shortfall)
        label = "too few"
    src, _ = _spread_call_source(nfix, has_rest, args, via_partial=False)
    df = spark.createDataFrame([(1,)], "value long")
    compiled_err = interp_err = None
    try:
        compile_kernel(src).apply(df, input_col="value").collect()
    except Exception as e:  # KernelTypeError/CompileError or runtime
        compiled_err = e
    try:
        Interp(parse(src)).run(1)
    except Exception as e:
        interp_err = e
    assert compiled_err is not None, f"compiled path accepted {label} args"
    assert interp_err is not None, f"interp accepted {label} args"


def test_dollar_spread_without_rest_param_errors_on_both_paths(spark):
    """`$...` against a callee with no rest parameter is a compile error
    on both paths (reference README.md:370-373)."""
    import pytest as _pytest

    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse

    src = (
        'version 0.1-pre_mvp;\nscript "norest";\ninput Int;\noutput Int;\n'
        "func f(a: Int) -> Int { a }\n"
        "let g = f($...);\nout g(in);\n"
    )
    df = spark.createDataFrame([(1,)], "value long")
    with _pytest.raises(Exception, match="rest"):
        compile_kernel(src).apply(df, input_col="value").collect()
    with _pytest.raises(Exception):
        Interp(parse(src)).run(1)


# ---------------------------------------------------------------------------
# Range-check operand hoisting + subsumed-recheck elimination (r10 VERDICT
# #1, the k_tower janino fix): nested checks used to copy their operand 5×
# per level, so k_tower's checked-sum-of-checks generated a ~16k-line class
# past janino's 64 KB method limit and the stage silently ran INTERPRETED.
# ---------------------------------------------------------------------------
def test_tower_plan_has_no_duplicated_checks(spark):
    """k_tower's optimized plan carries exactly ONE raise_error per check
    (5 inner casts + 1 U64 output cast; the output COERCION is subsumed by
    the cast's check), with the big sum hoisted to a projection binding."""
    from udlang_spark.queries.kernels import k_tower

    df = k_tower(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("raise_error") == 6, plan.count("raise_error")
    assert "__ud_hoist" in plan
    # the whole plan is now small enough that the Generate stage's
    # generated class compiles (the old plan was ~36k chars; janino fell
    # back at ~16k generated lines)
    assert len(plan) < 8000, len(plan)


def test_subsumed_recheck_skipped_and_narrowing_still_checks(spark):
    from udlang_spark.kernel.api import compile_kernel

    # widening re-entry is subsumed: (in as U8) as I16 checks ONCE
    wide = compile_kernel(
        'version 0.1-pre_mvp;\nscript "w";\ninput Int;\noutput Int;\n'
        "out (in as U8) as I16;\n"
    ).apply(spark.createDataFrame([(250,)], "v long"), input_col="v")
    plan = wide._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("raise_error") == 1, plan
    assert [r["out"] for r in wide.collect()] == [250]
    # narrowing is NOT subsumed: (in as I16) as U8 must still catch 300
    narrow = compile_kernel(
        'version 0.1-pre_mvp;\nscript "n";\ninput Int;\noutput Int;\n'
        "out (in as I16) as U8;\n"
    ).apply(spark.createDataFrame([(300,)], "v long"), input_col="v")
    with pytest.raises(Exception, match="out of range for U8"):
        narrow.collect()


# 200 terms ≈ well past HOIST_MIN_EXPR_CHARS once compiled, so the lazy
# tests genuinely exercise the guard (an unguarded hoist WOULD fire)
_BIG_SUM = "(" + " + ".join(["in.x"] * 200) + ")"


def test_hoist_never_fires_in_lazy_branch(spark):
    """A check under an untaken when()-branch must never evaluate, even
    when its operand is large enough to hoist — a hoisted projection
    binding would evaluate (and raise) unconditionally. 80×2000=160000 is
    out of U16 range, but every row takes the `then` branch."""
    from udlang_spark.kernel.api import compile_kernel

    src = (
        'version 0.1-pre_mvp;\nscript "lazy";\n'
        "input {field x: Int; field c: Bool;};\noutput Int;\n"
        f"out if (in.c) {{ 0 }} else {{ {_BIG_SUM} as U16 }};\n"
    )
    df = spark.createDataFrame([(2000, True)], "x long, c boolean")
    out = compile_kernel(src).apply(df, keep=())
    assert [r["out"] for r in out.collect()] == [0]


def test_hoist_never_fires_through_lazy_let(spark):
    """Same guarantee through a let: let values inline lazily at use
    sites, so a let-bound big checked cast used only in an untaken branch
    must not raise."""
    from udlang_spark.kernel.api import compile_kernel

    src = (
        'version 0.1-pre_mvp;\nscript "lazylet";\n'
        "input {field x: Int; field c: Bool;};\noutput Int;\n"
        f"let b = {_BIG_SUM} as U16;\n"
        "out if (in.c) { 0 } else { b };\n"
    )
    df = spark.createDataFrame([(2000, True)], "x long, c boolean")
    out = compile_kernel(src).apply(df, keep=())
    assert [r["out"] for r in out.collect()] == [0]
    # and on the eager path the same kernel still raises
    bad = compile_kernel(src).apply(
        spark.createDataFrame([(2000, False)], "x long, c boolean"), keep=()
    )
    with pytest.raises(Exception, match="out of range for U16"):
        bad.collect()


def test_hoisted_binding_fires_on_eager_out(spark):
    """An unconditional `out` with a big checked operand hoists (plan has
    the binding) and still raises for out-of-range rows."""
    from udlang_spark.kernel.api import compile_kernel

    src = (
        'version 0.1-pre_mvp;\nscript "eager";\n'
        "input {field x: Int; field c: Bool;};\noutput Int;\n"
        f"out {_BIG_SUM} as U32;\n"
    )
    ok = compile_kernel(src).apply(
        spark.createDataFrame([(5, True)], "x long, c boolean"), keep=()
    )
    plan = ok._jdf.queryExecution().optimizedPlan().toString()
    assert "__ud_hoist" in plan
    assert [r["out"] for r in ok.collect()] == [1000]
    bad = compile_kernel(src).apply(
        spark.createDataFrame([(-1, True)], "x long, c boolean"), keep=()
    )
    with pytest.raises(Exception, match="out of range for U32"):
        bad.collect()


# ---------------------------------------------------------------------------
# Differential fuzz: comprehension chains — `[xs | f]` with f a lambda, a
# bare `$`-partial expression, a bare `$`, or a native call with `$` args.
# This family's first probe found the interp had NO bare-`$` support
# (`[xs | $ + 3]` compiled fine but raised InterpError on the fallback
# path) and that the interp curried `$` args to NATIVE calls where the
# compiler resolves them from the partial context — both fixed to mirror
# compile_comprehension / compile_call exactly (round 8).
# ---------------------------------------------------------------------------
def _comprehension_strategy():
    from udlang_spark.kernel import ast as A

    def elem_expr(var_leaf):
        leaves = st.one_of(
            st.integers(min_value=-5, max_value=5).map(A.Lit), var_leaf
        )

        def compound(kids):
            return st.one_of(
                st.tuples(st.sampled_from(["+", "-", "*"]), kids, kids).map(
                    lambda t: A.Bin(t[0], t[1], t[2])
                ),
            )

        return st.recursive(leaves, compound, max_leaves=4)

    seq = st.lists(
        elem_expr(st.just(A.In())), min_size=2, max_size=4
    ).map(lambda xs: A.ListExpr(tuple(xs)))

    def fn_form(draw_body):
        from udlang_spark.kernel import ast as A

        lam = draw_body(st.just(A.Id("x"))).map(
            lambda b: A.Lambda((("x", A.T_INT),), A.T_INT, b)
        )
        dollar_expr = draw_body(st.just(A.Partial()))
        bare = st.just(A.Partial())
        native = st.tuples(
            st.sampled_from(["min", "max"]),
            st.integers(min_value=-4, max_value=4),
        ).map(lambda t: A.Call(A.Id(t[0]), (A.Partial(), A.Lit(t[1]))))
        return st.one_of(lam, dollar_expr, bare, native)

    fns = st.lists(fn_form(elem_expr), min_size=1, max_size=3)

    def chain(t):
        from udlang_spark.kernel import ast as A

        s, fs = t
        for f in fs:
            s = A.Comprehension(seq=s, fn=f)
        return s

    return st.tuples(seq, fns).map(chain)


@given(
    expr=_comprehension_strategy(),
    inputs=st.lists(
        st.integers(min_value=-6, max_value=6), min_size=1, max_size=3,
        unique=True,
    ),
)
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_comprehension_chains(spark, expr, inputs):
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    prog = A.Program(
        kind="script",
        desc="fuzz",
        decls=(),
        input=A.T_INT,
        output=A.TList(A.T_INT),
        body=(A.Out(expr),),
    )
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    compiled = {
        tuple(r[0])
        for r in Kernel(program=prog).apply(df, input_col="value").collect()
    }
    interp = Interp(prog)
    expect = {tuple(out) for v in inputs for out in interp.run(v)}
    assert compiled == expect


def test_interp_list_map_iter_and_destructure_match_compiled(spark):
    """Round-8 fallback-path hole: ListIter / MapIter / Destructure had no
    interpreter support — a recursive kernel containing a `for` loop died
    with InterpError on the documented fallback. The interp now mirrors
    compile_list_iter / compile_map_iter / the Destructure bind; this
    differential pins out-emission ORDER as well as values."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    body = (
        # for x in [in, in+1, 7] { out x * 2; }
        A.ListIter(
            var="x",
            source=A.ListExpr((A.In(), A.Bin("+", A.In(), A.Lit(1)), A.Lit(7))),
            body=A.Block(stmts=(A.Out(A.Bin("*", A.Id("x"), A.Lit(2))),), ret=None),
        ),
        # for x in [in | $ + 3] { out x; }   (runtime list source)
        A.ListIter(
            var="x",
            source=A.Comprehension(
                seq=A.ListExpr((A.In(), A.Lit(4))), fn=A.Bin("+", A.Partial(), A.Lit(3))
            ),
            body=A.Block(stmts=(A.Out(A.Id("x")),), ret=None),
        ),
        # for (k, v) in {"a": in, "b": 9} { out v; }
        A.MapIter(
            key_var="k",
            val_var="v",
            source=A.MapExpr((("a", A.In()), ("b", A.Lit(9)))),
            body=A.Block(stmts=(A.Out(A.Id("v")),), ret=None),
        ),
        # let {p} = {"p": in}; out p;
        A.Destructure(names=("p",), value=A.MapExpr((("p", A.In()),))),
        A.Out(A.Id("p")),
    )
    prog = A.Program(
        kind="script", desc="iters", decls=(), input=A.T_INT,
        output=A.T_INT, body=body,
    )
    df = spark.createDataFrame([(5,)], "value long")
    compiled = [
        r[0] for r in Kernel(program=prog).apply(df, input_col="value").collect()
    ]
    expect = Interp(prog).run(5)
    assert compiled == expect == [10, 12, 14, 8, 7, 5, 9, 5]


def test_interp_destructure_missing_map_key_binds_null(spark):
    """Round-9 ADVICE: `let {a} = someMap;` with an absent key binds NULL on
    the compiled path (compile_dot's TMap branch -> element_at) and in the
    interp's own ast.Dot case, but the Destructure branch hard-errored —
    a compiled-vs-interp divergence. Both paths must now bind NULL."""
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    body = (
        # let {a} = {"b": in};  out a;  out 42;
        A.Destructure(names=("a",), value=A.MapExpr((("b", A.In()),))),
        A.Out(A.Id("a")),
        A.Out(A.Lit(42)),
    )
    prog = A.Program(
        kind="script", desc="destructure-miss", decls=(), input=A.T_INT,
        output=A.T_INT, body=body,
    )
    df = spark.createDataFrame([(5,)], "value long")
    compiled = [
        r[0] for r in Kernel(program=prog).apply(df, input_col="value").collect()
    ]
    expect = Interp(prog).run(5)
    assert compiled == expect == [None, 42]


def test_interp_comprehension_builtin_id_raises_both_paths(spark):
    """Round-9 ADVICE: `[xs | someBuiltin]` — compile_comprehension only
    special-cases SFunc, so a builtin id falls into the implicit-$ branch
    and fails as_col (function value escapes to runtime). The interp used
    to silently map the builtin; it must now reject the program too."""
    import pytest

    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.compiler import KernelCompileError
    from udlang_spark.kernel.interp import Interp, InterpError

    body = (
        A.Out(
            A.Comprehension(
                seq=A.ListExpr((A.In(), A.Lit(4))), fn=A.Id("abs")
            )
        ),
    )
    prog = A.Program(
        kind="script", desc="builtin-comprehension", decls=(), input=A.T_INT,
        output=A.TList(A.T_INT), body=body,
    )
    with pytest.raises(KernelCompileError, match="function value"):
        df = spark.createDataFrame([(5,)], "value long")
        Kernel(program=prog).apply(df, input_col="value").collect()
    with pytest.raises(InterpError, match="function value"):
        Interp(prog).run(5)


# ---------------------------------------------------------------------------
# Round-9 fuzz family: map/record ACCESS surface — Destructure + Dot + Has
# over randomly-shaped map literals with randomly MISSING keys. This is the
# exact area the r8 ADVICE flagged (the interp's Destructure hard-errored on
# absent map keys where the compiled element_at binds NULL); the family pins
# the whole access matrix so the two paths can't drift again: Dot of a
# missing key is NULL, `.?.` is a boolean presence test (False for absent
# AND for present-but-NULL — isNotNull semantics), Destructure mirrors Dot,
# and NULL propagates through arithmetic identically on both paths.
# ---------------------------------------------------------------------------
def _map_access_strategy():
    from udlang_spark.kernel import ast as A

    keys = ["a", "b", "c", "d"]
    # a map literal over a random subset of keys; values are small ints,
    # In(), or (for one key at most) a nested single-entry map
    val = st.one_of(
        st.integers(min_value=-5, max_value=5).map(A.Lit),
        st.just(A.In()),
    )
    subset = st.lists(
        st.sampled_from(keys), min_size=0, max_size=4, unique=True
    )
    mapexpr = st.tuples(subset, st.lists(val, min_size=4, max_size=4)).map(
        lambda t: A.MapExpr(tuple((k, t[1][i]) for i, k in enumerate(t[0])))
    )

    def access(m):
        k = st.sampled_from(keys)
        dot = k.map(lambda kk: A.Dot(m, kk))
        # Has → emit as Int (out typing): if m .?. k { 1 } else { 0 }
        has = k.map(
            lambda kk: A.Cond(
                clauses=((A.Has(m, kk), A.Lit(1)),), default=A.Lit(0)
            )
        )
        # arithmetic over a Dot (NULL propagation)
        arith = st.tuples(k, st.integers(min_value=-3, max_value=3)).map(
            lambda t: A.Bin("+", A.Dot(m, t[0]), A.Lit(t[1]))
        )
        # NESTED access through a possibly-missing intermediate key (r9
        # probe: Dot/Has/cast on a NULL object must propagate, not raise):
        # {"w": m}.{w|z}.k — Dot chain, Has chain, and a cast of the chain
        outer = st.sampled_from(["w", "z"]).map(
            lambda mid: A.Dot(A.MapExpr((("w", m),)), mid)
        )
        nested_dot = st.tuples(outer, k).map(lambda t: A.Dot(t[0], t[1]))
        nested_has = st.tuples(outer, k).map(
            lambda t: A.Cond(
                clauses=((A.Has(t[0], t[1]), A.Lit(1)),), default=A.Lit(0)
            )
        )
        nested_cast = st.tuples(outer, k).map(
            lambda t: A.Cast(A.Dot(t[0], t[1]), A.T_INT)
        )
        # LIST indexed by a possibly-missing map key (r9 ADVICE, medium: a
        # constant NULL index must NULL-propagate at compile time, not
        # crash in compile_index's F.lit(idx.value + 1)). The index map's
        # present values are in-range (0/1); a missing key gives NULL.
        idx_map = A.MapExpr((("i", A.Lit(0)), ("j", A.Lit(1))))
        list_by_key = st.sampled_from(["i", "j", "z"]).map(
            lambda kk: A.Index(
                A.ListExpr((A.Lit(7), A.Lit(8))), A.Dot(idx_map, kk)
            )
        )
        # and through the nested possibly-NULL chain: xs[({"w": m}.mid).k]
        # exercises NULL-object-ness of the index expression itself
        list_by_chain = st.tuples(outer, k).map(
            lambda t: A.Index(
                A.ListExpr((A.Lit(0), A.Lit(1))),
                A.Cond(
                    clauses=((A.Has(t[0], t[1]), A.Lit(0)),), default=A.Lit(1)
                ),
            )
        )
        return st.one_of(
            dot, has, arith, nested_dot, nested_has, nested_cast,
            list_by_key, list_by_chain,
        )

    return mapexpr.flatmap(access)


@given(
    expr=_map_access_strategy(),
    destructure_key=st.sampled_from(["a", "b", "z"]),
    inputs=st.lists(
        st.integers(min_value=-7, max_value=7), min_size=1, max_size=2,
        unique=True,
    ),
)
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_map_access(
    spark, expr, destructure_key, inputs
):
    from udlang_spark.kernel import ast as A
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp

    body = (
        A.Out(expr),
        # let {k} = {"a": in, "b": 2}; out k;  — k may be absent (NULL)
        A.Destructure(
            names=(destructure_key,),
            value=A.MapExpr((("a", A.In()), ("b", A.Lit(2)))),
        ),
        A.Out(A.Id(destructure_key)),
    )
    prog = A.Program(
        kind="script", desc="fuzz-mapaccess", decls=(), input=A.T_INT,
        output=A.T_INT, body=body,
    )
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    compiled = sorted(
        (
            (r[0],)
            for r in Kernel(program=prog).apply(df, input_col="value").collect()
        ),
        key=lambda t: (t[0] is None, t[0]),
    )
    interp = Interp(prog)
    expect = sorted(
        ((out,) for v in inputs for out in interp.run(v)),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert compiled == expect


# ---------------------------------------------------------------------------
# Round-11 fuzz family (second): the subjunctive. `suppose(p(in)) { ... }`
# captures the delegate's outs, replays them at each `...;`, and falls to
# the else-leaf when the delegate emitted nothing (reference src/ir.rs:
# 900-924, src/vm.rs:583-638). Fuzzes: 0-2 conditional delegate outs, a
# branch mixing literal outs with 0-3 replays, an optional NESTED suppose
# inside the branch (capture-stack discipline: the inner `...;` must
# replay the INNER delegate's outs only, and the inner delegate's outs
# must not leak into the outer capture), and the empty-capture leaf path.
# Order-sensitive comparison: compiled (posexplode pos) == interp == a
# direct Python model of the semantics.
# ---------------------------------------------------------------------------
def _suppose_source(douts, qouts, branch_items, leaf_lits):
    def proc_src(name, outs):
        lines = []
        for kind, t, c in outs:
            expr = f"v * {c}" if kind == "mul" else f"v + {c}"
            lines.append(f"  if (v > {t}) {{ out {expr}; }}")
        body = "\n".join(lines) if lines else "  let _u = 0;"
        return f"proc {name}(v: Int) {{\n{body}\n}}\n"

    def item_src(it):
        if it[0] == "lit":
            return f"  out {it[1]};"
        if it[0] == "cap":
            return "  ...;"
        inner_items = "\n  ".join(item_src(j).strip() for j in it[1])
        inner_leaf = "\n  ".join(f"out {n};" for n in it[2]) or "let _u = 0;"
        return (
            "  suppose(q(in)) {\n  "
            + inner_items
            + "\n  } else {\n  "
            + inner_leaf
            + "\n  }"
        )

    branch = "\n".join(item_src(it) for it in branch_items)
    leaf = "\n".join(f"  out {n};" for n in leaf_lits) or "  let _u = 0;"
    return (
        'version 0.1-pre_mvp;\nscript "supposefuzz";\n'
        "input Int;\noutput Int;\n"
        + proc_src("p", douts)
        + proc_src("q", qouts)
        + f"suppose(p(in)) {{\n{branch}\n}} else {{\n{leaf}\n}}\n"
    )


def _suppose_expected(v, douts, qouts, branch_items, leaf_lits):
    def caps_of(outs):
        res = []
        for kind, t, c in outs:
            if v > t:
                res.append(v * c if kind == "mul" else v + c)
        return res

    caps = caps_of(douts)
    if not caps:
        return list(leaf_lits)
    out: list = []
    for it in branch_items:
        if it[0] == "lit":
            out.append(it[1])
        elif it[0] == "cap":
            out.extend(caps)
        else:
            icaps = caps_of(qouts)
            if icaps:
                for j in it[1]:
                    if j[0] == "lit":
                        out.append(j[1])
                    else:
                        out.extend(icaps)
            else:
                out.extend(it[2])
    return out


_DOUT = st.tuples(
    st.sampled_from(["mul", "add"]),
    st.integers(min_value=-3, max_value=3),
    st.integers(min_value=1, max_value=5),
)
_FLAT_ITEM = st.one_of(
    st.integers(min_value=-9, max_value=9).map(lambda n: ("lit", n)),
    st.just(("cap",)),
)


@given(
    douts=st.lists(_DOUT, max_size=2),
    qouts=st.lists(_DOUT, max_size=2),
    flat_items=st.lists(_FLAT_ITEM, min_size=1, max_size=4),
    nest_inner=st.one_of(
        st.none(),
        st.tuples(
            st.lists(_FLAT_ITEM, min_size=1, max_size=3),
            st.lists(st.integers(min_value=-9, max_value=9), max_size=2),
            st.integers(min_value=0, max_value=4),
        ),
    ),
    leaf_lits=st.lists(st.integers(min_value=-9, max_value=9), max_size=2),
    inputs=st.lists(
        st.integers(min_value=-5, max_value=5), min_size=1, max_size=3,
        unique=True,
    ),
)
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_suppose(
    spark, douts, qouts, flat_items, nest_inner, leaf_lits, inputs
):
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse

    branch_items = list(flat_items)
    if nest_inner is not None:
        inner_items, inner_leaf, pos = nest_inner
        branch_items.insert(
            min(pos, len(branch_items)), ("nest", inner_items, inner_leaf)
        )
    src = _suppose_source(douts, qouts, branch_items, leaf_lits)
    prog = parse(src)
    expect = {
        v: _suppose_expected(v, douts, qouts, branch_items, leaf_lits)
        for v in inputs
    }
    interp = Interp(prog)
    for v in inputs:
        assert list(interp.run(v)) == expect[v], f"interp diverged at in={v}"
    df = spark.createDataFrame(
        list(enumerate(inputs)), "rid long, value long"
    )
    got = compile_kernel(src).apply(
        df, input_col="value", keep=("rid",), with_pos=True
    ).collect()
    by_rid: dict = {i: [] for i in range(len(inputs))}
    for r in sorted(got, key=lambda r: (r.rid, r.pos)):
        by_rid[r.rid].append(r.out)
    for i, v in enumerate(inputs):
        assert by_rid[i] == expect[v], f"compiled diverged at in={v}"


# ---------------------------------------------------------------------------
# Round-11 fuzz family (third): attempt × suppose × throw. The transactional
# guarantees compose: a throw inside the suppose DELEGATE aborts the capture
# and reaches the enclosing attempt; a throw inside the BRANCH (possibly
# after replays already ran) must still discard every out the attempt body
# emitted; the recover value is the only emission on the aborted path; the
# no-throw path keeps body outs ordered before the trailing-expression out.
# Order-sensitive three-way compare: compiled == interp == Python model.
# ---------------------------------------------------------------------------
class _Boom(Exception):
    def __init__(self, msg: str):
        self.msg = msg


def _as_source(dstmts, branch_items, leaf_lits, ret_mod):
    dl = []
    for it in dstmts:
        if it[0] == "out_mul":
            dl.append(f"  if (v > {it[1]}) {{ out v * {it[2]}; }}")
        elif it[0] == "out_add":
            dl.append(f"  if (v > {it[1]}) {{ out v + {it[2]}; }}")
        else:
            dl.append(f'  if (v > {it[1]}) {{ throw "{it[2]}"; }}')
    body = "\n".join(dl) if dl else "  let _u = 0;"
    bl = []
    for it in branch_items:
        if it[0] == "lit":
            bl.append(f"    out {it[1]};")
        elif it[0] == "cap":
            bl.append("    ...;")
        else:
            bl.append(f'    if (in > {it[1]}) {{ throw "{it[2]}"; }}')
    branch = "\n".join(bl) if bl else "    let _u = 0;"
    leaf = "\n".join(f"    out {n};" for n in leaf_lits) or "    let _u = 0;"
    return (
        'version 0.1-pre_mvp;\nscript "attemptfuzz";\n'
        "input Int;\noutput Int;\n"
        f"proc p(v: Int) {{\n{body}\n}}\n"
        "out attempt {\n"
        f"  suppose(p(in)) {{\n{branch}\n  }} else {{\n{leaf}\n  }}\n"
        f"  in % {ret_mod}\n"
        "} recover (m) 0 - length(m);\n"
    )


def _as_expected(v, dstmts, branch_items, leaf_lits, ret_mod):
    def delegate():
        caps = []
        for it in dstmts:
            k = it[0]
            if k == "out_mul" and v > it[1]:
                caps.append(v * it[2])
            elif k == "out_add" and v > it[1]:
                caps.append(v + it[2])
            elif k == "throw" and v > it[1]:
                raise _Boom(it[2])
        return caps

    outs: list = []
    try:
        body: list = []
        caps = delegate()
        if caps:
            for it in branch_items:
                if it[0] == "lit":
                    body.append(it[1])
                elif it[0] == "cap":
                    body.extend(caps)
                elif v > it[1]:
                    raise _Boom(it[2])
        else:
            body.extend(leaf_lits)
        outs.extend(body)
        outs.append(v % ret_mod)  # v >= 0: Python % == truncated mod
    except _Boom as b:
        outs.append(-len(b.msg))
    return outs


_AS_DSTMT = st.one_of(
    st.tuples(st.just("out_mul"), st.integers(min_value=-2, max_value=4),
              st.integers(min_value=1, max_value=5)),
    st.tuples(st.just("out_add"), st.integers(min_value=-2, max_value=4),
              st.integers(min_value=1, max_value=5)),
    st.tuples(st.just("throw"), st.integers(min_value=0, max_value=5),
              st.sampled_from(["bb", "cccc", "dddddd"])),
)
_AS_BITEM = st.one_of(
    st.integers(min_value=-9, max_value=9).map(lambda n: ("lit", n)),
    st.just(("cap",)),
    st.tuples(st.just("throwif"), st.integers(min_value=0, max_value=5),
              st.sampled_from(["z", "yyy", "xxxxx"])).map(
        lambda t: ("throwif", t[1], t[2])
    ),
)


@given(
    dstmts=st.lists(_AS_DSTMT, max_size=3),
    branch_items=st.lists(_AS_BITEM, min_size=1, max_size=4),
    leaf_lits=st.lists(st.integers(min_value=-9, max_value=9), max_size=2),
    ret_mod=st.integers(min_value=1, max_value=7),
    inputs=st.lists(
        st.integers(min_value=0, max_value=6), min_size=1, max_size=3,
        unique=True,
    ),
)
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_attempt_suppose(
    spark, dstmts, branch_items, leaf_lits, ret_mod, inputs
):
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse

    src = _as_source(dstmts, branch_items, leaf_lits, ret_mod)
    expect = {
        v: _as_expected(v, dstmts, branch_items, leaf_lits, ret_mod)
        for v in inputs
    }
    interp = Interp(parse(src))
    for v in inputs:
        assert list(interp.run(v)) == expect[v], f"interp diverged at in={v}"
    df = spark.createDataFrame(list(enumerate(inputs)), "rid long, value long")
    got = compile_kernel(src).apply(
        df, input_col="value", keep=("rid",), with_pos=True
    ).collect()
    by_rid: dict = {i: [] for i in range(len(inputs))}
    for r in sorted(got, key=lambda r: (r.rid, r.pos)):
        by_rid[r.rid].append(r.out)
    for i, v in enumerate(inputs):
        assert by_rid[i] == expect[v], f"compiled diverged at in={v}"


# ---------------------------------------------------------------------------
# Round-12 parity pins (r11 ADVICE): `...;` resolves LEXICALLY on both
# execution paths. The r11 subjunctive fuzz family only placed `...;`
# textually inside the branch; these pins place it behind a CALL boundary.
# A callee defined OUTSIDE the branch must be rejected by both paths (the
# interp used to resolve `...` dynamically and would silently replay the
# caller's captures); a closure defined INSIDE the branch captures the
# replay list with its environment and works on both paths.
# ---------------------------------------------------------------------------
_CAP_OUTSIDE_SRC = (
    'version 0.1-pre_mvp;\nscript "capboundary";\n'
    "input Int;\noutput Int;\n"
    "proc p(v: Int) {\n  if (v > 0) { out v * 2; }\n}\n"
    "proc r(v: Int) {\n  ...;\n  out v;\n}\n"
    "suppose(p(in)) {\n  r(in);\n} else {\n  out -1;\n}\n"
)


def test_effect_capture_rejected_across_proc_boundary(spark):
    """A `...;` inside a proc defined OUTSIDE the suppose branch is an
    error on BOTH paths — never a silent replay of the dynamically
    active captures (r11 ADVICE #1)."""
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.compiler import KernelCompileError
    from udlang_spark.kernel.interp import Interp, InterpError
    from udlang_spark.kernel.parser import parse

    df = spark.createDataFrame([(3,)], "value long")
    with pytest.raises(KernelCompileError, match="suppose"):
        # Column compilation is lazy — apply() triggers it
        compile_kernel(_CAP_OUTSIDE_SRC).apply(df, input_col="value")
    interp = Interp(parse(_CAP_OUTSIDE_SRC))
    with pytest.raises(InterpError, match="suppose"):
        interp.run(3)


def test_effect_capture_lexical_in_branch_closure(spark):
    """A closure defined INSIDE the branch captures `...` lexically:
    invoking it (even twice) replays the branch's captures on both
    paths, in order."""
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse

    src = (
        'version 0.1-pre_mvp;\nscript "caplexical";\n'
        "input Int;\noutput Int;\n"
        "proc p(v: Int) {\n  if (v > 0) { out v * 2; out v + 1; }\n}\n"
        "suppose(p(in)) {\n"
        "  let f = (x: Int) => { ...; out x; x };\n"
        "  let _a = f(10);\n"
        "  let _b = f(20);\n"
        "} else {\n  out -1;\n}\n"
    )
    expect = {
        3: [6, 4, 10, 6, 4, 20],  # two replays of [6, 4] + the two outs
        -2: [-1],
    }
    interp = Interp(parse(src))
    for v, want in expect.items():
        assert list(interp.run(v)) == want, f"interp diverged at in={v}"
    df = spark.createDataFrame(
        list(enumerate(expect)), "rid long, value long"
    )
    got = compile_kernel(src).apply(
        df, input_col="value", keep=("rid",), with_pos=True
    ).collect()
    by_rid: dict = {i: [] for i in range(len(expect))}
    for r in sorted(got, key=lambda r: (r.rid, r.pos)):
        by_rid[r.rid].append(r.out)
    for i, v in enumerate(expect):
        assert by_rid[i] == expect[v], f"compiled diverged at in={v}"


# ---------------------------------------------------------------------------
# Round-12 fuzz family: match/case OPTIONAL-SUBJECT semantics. The r9
# family (test_compiled_equals_interp_on_match_exprs above) fuzzes literal
# arm order/overlap over a non-null Int subject at the AST level; this one
# goes through the PARSER and adds the axes it left out: random arm mixes of
# literal patterns (first-match-wins ordering, cross-NULL equality false),
# `None` patterns, typed binds (`x:Int` — must NOT match a NULL subject),
# and untyped binds (always match, bind NULL as NULL), over an OPTIONAL
# Int input (NULL subjects included; the compiler rightly rejects
# arithmetic on Int?, so the subject is `in` itself, and an UNTYPED bind
# preserves the optional type — its body emits the bound value unchanged,
# while TYPED binds narrow to Int and may compute; the family's first run
# surfaced exactly that distinction).
# An untyped bind placed early shadows every later arm — the
# ordering discipline the fuzz exercises. A trailing catch-all keeps the
# no-match poison out of scope (pinned separately by the kernel tests).
# Order-sensitive three-way compare: compiled == interp == Python model.
# ---------------------------------------------------------------------------
def _match_source(arms):
    lines = []
    for i, a in enumerate(arms):
        if a[0] == "lit":
            lines.append(f"  case {a[1]}: {a[2]};")
        elif a[0] == "none":
            lines.append(f"  case None: {a[1]};")
        elif a[0] == "bind_typed":
            lines.append(f"  case x{i}:Int: x{i} * {a[1]} + {a[2]};")
        else:  # bind_any: binds Int? — no arithmetic without narrowing
            lines.append(f"  case x{i}: x{i};")
    lines.append("  case z: z;")  # catch-all: no-match poison out of scope
    return (
        'version 0.1-pre_mvp;\nscript "matchfuzz";\n'
        "input Int?;\noutput Int;\n"
        "out match in {\n" + "\n".join(lines) + "\n};\n"
    )


def _match_expected(v, arms):
    subj = v
    for a in arms:
        if a[0] == "lit":
            if subj is not None and subj == a[1]:
                return a[2]
        elif a[0] == "none":
            if subj is None:
                return a[1]
        elif a[0] == "bind_typed":
            if subj is not None:
                return subj * a[1] + a[2]
        else:  # bind_any: always matches, binds NULL as NULL
            return subj
    return subj  # catch-all


_MATCH_ARM = st.one_of(
    st.tuples(
        st.just("lit"),
        st.integers(min_value=-3, max_value=3),
        st.integers(min_value=-9, max_value=9),
    ),
    st.tuples(st.just("none"), st.integers(min_value=-9, max_value=9)),
    st.tuples(
        st.just("bind_typed"),
        st.integers(min_value=1, max_value=5),
        st.integers(min_value=-4, max_value=4),
    ),
    st.tuples(
        st.just("bind_any"),
        st.integers(min_value=1, max_value=5),
        st.integers(min_value=-4, max_value=4),
    ),
)


@given(
    arms=st.lists(_MATCH_ARM, max_size=5),
    inputs=st.lists(
        st.one_of(st.none(), st.integers(min_value=-6, max_value=6)),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compiled_equals_interp_on_optional_match(spark, arms, inputs):
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse

    src = _match_source(arms)
    expect = {v: _match_expected(v, arms) for v in inputs}
    interp = Interp(parse(src))
    for v in inputs:
        assert list(interp.run(v)) == [expect[v]], f"interp diverged at in={v}"
    df = spark.createDataFrame(
        list(enumerate(inputs)), "rid long, value long"
    )
    got = compile_kernel(src).apply(df, input_col="value", keep=("rid",)).collect()
    by_rid = {r.rid: r.out for r in got}
    for i, v in enumerate(inputs):
        assert by_rid.get(i, "<no row>") == expect[v], f"compiled diverged at in={v}"


def test_match_untyped_bind_keeps_optional(spark):
    """The distinction the match fuzz family surfaced on its first run,
    pinned: an UNTYPED bind over an `Int?` subject binds `Int?` — the
    compiler statically rejects un-narrowed arithmetic on it (the typed
    bind `x:Int` is the narrowing construct), while the dynamically-typed
    interp fallback only fails per-record at runtime (NULL-propagates on
    a NULL subject). Mirrors the reference's typechecker-vs-VM split."""
    from udlang_spark.kernel.api import compile_kernel
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse
    from udlang_spark.kernel.types import KernelTypeError

    src = (
        'version 0.1-pre_mvp;\nscript "optnarrow";\n'
        "input Int?;\noutput Int;\n"
        "out match in {\n  case x: x * 2;\n};\n"
    )
    df = spark.createDataFrame([(5,)], "value long")
    with pytest.raises(KernelTypeError, match="TOption"):
        compile_kernel(src).apply(df, input_col="value")
    # the interp is a runtime walker: value present -> computes
    assert Interp(parse(src)).run(5) == [10]


_DECL_OUT_HEAD = (
    'version 0.1-pre_mvp;\nscript "declaration outputs";\n'
    "proc p(n: Int) { out n; }\nlet y = p(in + 100);\n"
    "input Int;\noutput Int;\n"
)


@pytest.mark.parametrize("decl", [True, False], ids=["decl_out", "no_decl"])
@pytest.mark.parametrize(
    "body, fast",
    [
        ("out in;", True),
        ("if (in > 1) { out in; }", True),
        ("if ({ out in + 7; in > 1 }) { out in; }", False),
        ("out { out in * 3; in };", False),
        ("if (true) { out in; }", True),
        ("if (false) { out 1 / 0; }", False),
    ],
)
def test_single_out_shapes_keep_every_output(spark, decl, body, fast):
    """Kernels of the filter+select shape give the same rows from apply(),
    apply(with_pos=True), apply(debug=True) and the interpreter, including
    the rows a `let` declaration emits by calling an `out`-emitting proc.
    Only a kernel whose one `out` is its sole source of rows lowers to
    filter+select (no Generate node); everything else lowers to
    posexplode. A constant predicate prunes as in compile_cond: `true`
    drops the guard, `false` never compiles the `out` value (its 1 / 0
    would fail the compile) and leaves only the declarations' rows."""
    from udlang_spark.kernel.api import Kernel
    from udlang_spark.kernel.interp import Interp
    from udlang_spark.kernel.parser import parse

    head = _DECL_OUT_HEAD if decl else _DECL_OUT_HEAD.replace("let y = p(in + 100);\n", "")
    prog = parse(head + body)
    inputs = [1, 2, 3]
    df = spark.createDataFrame([(v,) for v in inputs], "value long")
    k = Kernel(prog)
    plain = k.apply(df)
    with_pos = k.apply(df, with_pos=True).drop("pos")
    debug = k.apply(df, debug=True)
    interp = Interp(prog)
    expect = sorted(o for v in inputs for o in interp.run(v))
    assert sorted(r.out for r in plain.collect()) == expect
    assert sorted(r.out for r in with_pos.collect()) == expect
    assert sorted(r.out for r in debug.collect()) == expect
    generates = "Generate" in plain._jdf.queryExecution().optimizedPlan().toString()
    assert generates is not (fast and not decl)


def _kernel_sources():
    import glob
    import os

    from udlang_spark.queries import kernels as q

    srcs = {
        os.path.basename(p): open(p).read()
        for p in sorted(glob.glob(os.path.join(q.EXAMPLES_DIR, "*.us")))
    }
    for name in ("FILTER_KERNEL", "MATCH_LIT_KERNEL", "MATCH_UNION_KERNEL", "TOWER_KERNEL"):
        srcs[name] = getattr(q, name)
    return srcs


@pytest.mark.parametrize("name", sorted(_kernel_sources()))
def test_uncached_apply_builds_one_compiler(spark, monkeypatch, name):
    """One uncached apply() runs exactly one Compiler pass, whichever of
    the filter+select and posexplode forms the kernel lowers to."""
    from udlang_spark.kernel import api
    from udlang_spark.kernel.parser import parse
    from udlang_spark.sources.json_lift import input_schema

    built = []

    class Counting(api.Compiler):
        def __init__(self, *a, **kw):
            built.append(1)
            super().__init__(*a, **kw)

    monkeypatch.setattr(api, "Compiler", Counting)
    k = api.Kernel(parse(_kernel_sources()[name]))
    df = spark.createDataFrame([], input_schema(k.resolved_input))
    k.apply(df)
    assert len(built) == 1
    k.apply(df)  # the input binding's compile is cached
    assert len(built) == 1
