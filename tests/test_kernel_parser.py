"""Parser coverage mirroring the reference's parser test strategy
(SURVEY.md §5: src/parser.rs has ~60 production cases; we test the same
productions plus end-to-end parses of all nine example kernels)."""

from __future__ import annotations

import glob
import os

import pytest

from udlang_spark.kernel import ast
from udlang_spark.kernel.parser import parse, parse_expr
from udlang_spark.queries.kernels import EXAMPLES_DIR

# an empty glob parametrizes the bare pattern, whose open() then fails: a
# missing examples directory is a failure, never a vacuous skip
EXAMPLES = sorted(glob.glob(os.path.join(EXAMPLES_DIR, "*.us"))) or [
    os.path.join(EXAMPLES_DIR, "*.us")
]


@pytest.mark.parametrize("path", EXAMPLES, ids=[p.rsplit("/", 1)[-1] for p in EXAMPLES])
def test_parses_reference_example(path):
    with open(path) as f:
        prog = parse(f.read())
    assert prog.kind == "script"
    assert prog.input is not None and prog.output is not None


def test_precedence_ladder():
    e = parse_expr("1 + 2 * 3 ^ 4 < 5 and true")
    assert isinstance(e, ast.Bin) and e.op == "and"
    assert isinstance(e.a, ast.Bin) and e.a.op == "<"
    assert e.a.a.op == "+"
    assert e.a.a.b.op == "*"
    assert e.a.a.b.b.op == "^"


def test_pow_left_assoc():
    e = parse_expr("2 ^ 3 ^ 2")
    # reference grammar is left-recursive on the base (src/grammar.lalrpop:434-437)
    assert e.op == "^" and isinstance(e.a, ast.Bin) and e.a.op == "^"


def test_unary_binds_after_call():
    e = parse_expr("-foo(1)")
    assert isinstance(e, ast.Un) and e.op == "-"
    assert isinstance(e.a, ast.Call)


def test_dot_has_index_chain():
    e = parse_expr("a.b.?.c[0]")
    assert isinstance(e, ast.Index)
    assert isinstance(e.obj, ast.Has)
    assert isinstance(e.obj.obj, ast.Dot)


def test_list_map_literals():
    e = parse_expr('[1, 2.5, "three"]')
    assert isinstance(e, ast.ListExpr) and len(e.items) == 3
    m = parse_expr('{a: 1, "b c": 2}')
    assert isinstance(m, ast.MapExpr)
    assert m.items[0][0] == "a" and m.items[1][0] == "b c"


def test_lambda_forms():
    l1 = parse_expr("(x: Int) -> Int = x + 1")
    assert isinstance(l1, ast.Lambda) and l1.ret is ast.T_INT
    l2 = parse_expr("(x: Int) -> Int {x + 1}")
    assert isinstance(l2, ast.Lambda) and isinstance(l2.body, ast.Block)
    l3 = parse_expr("(x: Int) {out x;}")
    assert isinstance(l3, ast.Lambda) and l3.ret is ast.T_VOID


def test_paren_expr_not_lambda():
    e = parse_expr("(1 + 2) * 3")
    assert isinstance(e, ast.Bin) and e.op == "*"


def test_cond_expr_chain():
    e = parse_expr("if (a > 0) {1} elif (a < 0) {2} else {3}")
    assert isinstance(e, ast.Cond) and len(e.clauses) == 2
    assert isinstance(e.default, ast.Block)


def test_partial_placeholder():
    e = parse_expr("f(1, $)")
    assert isinstance(e.args[1], ast.Partial)


def test_types():
    prog = parse(
        'version 0.1-pre_mvp;\nscript "t";\n'
        "type Alias: {Str};\n"
        "type Pair: <Int, Float>;\n"
        "type Rec: {field a: Int; field? b: Str;};\n"
        "type U: Int | Str | Bool;\n"
        "input [Int?];\noutput Any;\nout in;\n"
    )
    alias, pair, rec, uni = prog.decls
    assert isinstance(alias.type, ast.TMap)
    assert isinstance(pair.type, ast.TTuple) and len(pair.type.items) == 2
    assert isinstance(rec.type, ast.TRecord)
    assert rec.type.fields[1].optional
    assert isinstance(uni.type, ast.TUnion) and len(uni.type.variants) == 3
    assert isinstance(prog.input, ast.TList)
    assert isinstance(prog.input.item, ast.TOption)


def test_suppose_and_capture():
    prog = parse(
        'version 0.1-pre_mvp;\nscript "s";\ninput Bool;\noutput Str;\n'
        'proc p(b: Bool) { if (b) { out "y"; } }\n'
        'suppose (p(in)) { out "pre"; ...; } else { out "leaf"; }\n'
    )
    sup = prog.body[1]
    assert isinstance(sup, ast.Suppose)
    assert any(isinstance(s, ast.EffectCapture) for s in sup.branch.stmts)


def test_map_iteration():
    prog = parse(
        'version 0.1-pre_mvp;\nscript "m";\ninput {Int};\noutput Int;\n'
        "for (k, v) in in { out v; }\n"
    )
    assert isinstance(prog.body[0], ast.MapIter)


def test_template_def_and_call():
    prog = parse(
        'version 0.1-pre_mvp;\nscript "t";\n'
        "template wrap(n: Int) using body { out n; body(); }\n"
        "input Int;\noutput Int;\n"
        "wrap(1) { out 2; }\n"
    )
    assert isinstance(prog.body[0], ast.TemplateCall)


def test_library():
    prog = parse('version 0.1-pre_mvp;\nlib "l";\nfunc f(x: Int) -> Int {x}\nexport f;\n')
    assert prog.kind == "lib"
    assert isinstance(prog.decls[1], ast.Export)


def test_comments_and_shebang():
    prog = parse(
        "#! udlang\nversion 0.1-pre_mvp;\n// comment\n/* block\ncomment */\n"
        'script "c";\ninput Int;\noutput Int;\nout in; // trailing\n'
    )
    assert isinstance(prog.body[0], ast.Out)


def test_string_escapes():
    e = parse_expr('"a\\nb\\"c"')
    assert e.value == 'a\nb"c'


# -- match / patterns (reference manual.md:124-132, README.md:124-138) -----
def test_match_literal_patterns():
    prog = parse(
        'version 0.1-pre_mvp;\nscript "m";\n'
        'input "Hello" | "Goodnight";\noutput Str;\n'
        'out match in { case "Hello": "hi"; case "Goodnight": "bye"; };\n'
    )
    m = prog.body[0].value
    assert isinstance(m, ast.Match)
    assert isinstance(m.arms[0].pattern, ast.PLit)
    assert m.arms[0].pattern.value == "Hello"
    # value-typed input parses as a union of TValue
    assert isinstance(prog.input, ast.TUnion)
    assert all(isinstance(v, ast.TValue) for v in prog.input.variants)


def test_match_typed_and_bare_binds():
    e = parse_expr("match in { case s:Float: s; case p: p; case None: in; }")
    assert isinstance(e, ast.Match)
    p0, p1, p2 = (a.pattern for a in e.arms)
    assert isinstance(p0, ast.PBind) and p0.type is ast.T_FLOAT
    assert isinstance(p1, ast.PBind) and p1.type is None
    assert isinstance(p2, ast.PNone)


def test_comprehension_forms():
    # `$`-partial, arrow lambda, bound function name (README.md:171-177)
    e1 = parse_expr("[in | $ * 2]")
    assert isinstance(e1, ast.Comprehension)
    e2 = parse_expr("[in | (item) => item + 1]")
    assert isinstance(e2.fn, ast.Lambda)
    e3 = parse_expr("[in | helper]")
    assert isinstance(e3.fn, ast.Id)


def test_as_cast_precedence():
    # `x as F32 + y` is `(x as F32) + y` (manual.md:118)
    e = parse_expr("x as F32 + y")
    assert isinstance(e, ast.Bin) and e.op == "+"
    assert isinstance(e.a, ast.Cast)


def test_list_literal_still_parses():
    e = parse_expr("[1, 2, 3]")
    assert isinstance(e, ast.ListExpr) and len(e.items) == 3


def test_destructuring_let():
    prog = parse(
        'version 0.1-pre_mvp;\nscript "d";\n'
        "input {field a: Int; field b: Int;};\noutput Int;\n"
        "let {a, b} = in;\nout a + b;\n"
    )
    d = prog.body[0]
    assert isinstance(d, ast.Destructure) and d.names == ("a", "b")


def test_throw_statement():
    prog = parse(
        'version 0.1-pre_mvp;\nscript "t";\ninput Int;\noutput Int;\n'
        'if (in == 0) { throw "zero"; }\nout in;\n'
    )
    blk = prog.body[0].expr.clauses[0][1]
    assert isinstance(blk.stmts[0], ast.Throw)


def test_spread_and_rest_parse():
    # `...xs` spread in calls (README.md:260-261); `...name: T` rest params
    # (README.md:335-336); `$...` rest-forwarding partial (README.md:370-373)
    e = parse_expr("f(a, ...xs, 1)")
    assert isinstance(e.args[1], ast.Spread)
    assert isinstance(e.args[1].expr, ast.Id)
    prog = parse(
        'version 0.1-pre_mvp;\nscript "r";\ninput Int;\noutput Int;\n'
        "func total(...xs: Int) -> Int { 0 }\n"
        "out total(in);\n"
    )
    lam = prog.body[0].value
    assert lam.params == ()
    assert lam.rest_param is not None and lam.rest_param[0] == "xs"
    e2 = parse_expr("f(1, $, $...)")
    assert isinstance(e2.args[1], ast.Partial)
    assert isinstance(e2.args[2], ast.PartialRest)


def test_rest_param_must_be_last():
    from udlang_spark.kernel.parser import ParseError

    import pytest

    with pytest.raises(ParseError):
        parse(
            'version 0.1-pre_mvp;\nscript "r";\ninput Int;\noutput Int;\n'
            "func bad(...xs: Int, y: Int) -> Int { 0 }\n"
            "out bad(in, 1);\n"
        )
