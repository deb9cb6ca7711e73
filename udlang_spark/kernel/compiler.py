"""uDLang kernel → Catalyst SQL expression compiler.

Strategy (SURVEY.md §7.1): symbolically evaluate the kernel over an
environment of typed symbolic values, inlining every function/closure/partial
at compile time (the reference's prototype optimizer strategy —
scripts/stackfolder.py partial evaluation); the whole kernel lowers to pure
SQL expressions. Per-record multi-`out` semantics (src/vm.rs:583-600)
lower to one array<output> expression; `Kernel.apply` posexplodes it, so a
record emitting zero outputs yields zero rows (conditional `out` ≡
relational filter) and intra-record output order is preserved by the
explode position.

Runtime values are SQL text (sqltext.py renders identifiers, literals and
types): `Kernel.apply` hands the JVM one `F.expr` per output expression or
hoisted binding, where building the same tree from `Column` calls cost one
py4j round-trip per node. Every binary operator is parenthesized, so the
parsed tree has exactly the nesting the compiler built.

Recursion cannot inline; it unrolls to a configurable depth with a
raise_error poison beyond (fact/count examples), keeping everything inside
whole-stage codegen instead of falling back to Python UDFs.

Constants fold at compile time by calling the interpreter's value
functions (kernel/interp.py: binop, unop, cast_value, SCALAR_BUILTINS — the
reference's i64 truncating div/mod, src/ir.rs:622-630, among them), so both
execution paths and the fold share one copy of the value semantics; this
module keeps only the type checks and result typing. Declared types resolve
through types.resolve_type, the resolver the interpreter uses too. `for`
over a constant list unrolls (the loop body is re-inlined per element);
`for` over a runtime list lowers to flatten(transform(...)), i.e. stays a
vectorized higher-order function.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from functools import reduce as _reduce

from pyspark.sql import types as T

from udlang_spark.kernel import ast
from udlang_spark.kernel.interp import (
    BUILTIN_ARITY,
    SCALAR_BUILTINS,
    InterpError,
    binop,
    cast_value,
    unop,
)
from udlang_spark.kernel.types import (
    SIZED_INTS,
    KernelTypeError,
    collapse_sized,
    collect_typedefs,
    is_sized_int,
    python_type_of,
    resolve_type,
    to_spark,
    type_tag,
    unify,
)
from udlang_spark.sqltext import call, case, cast, ident, lit


def get_field(x: str, name: str) -> str:
    """Struct field access as a subscript: `x['f']` parses to a field
    extraction on `x` even when `x` is a column name, where `x.f` could
    resolve `x` as a table qualifier."""
    return f"{x}[{lit(name)}]"


def all_of(conds: list[str]) -> str:
    return _reduce(lambda a, b: f"({a} AND {b})", conds)


def sized_range_check(col: str, name: str) -> str:
    """Range-checked entry into / exit from a sized-int view (SURVEY.md
    §1.2): rows whose value falls outside [lo, hi] raise at runtime
    (assert_true poison — the same mechanism as match-no-case) instead of
    silently wrapping. Returns the value as a BIGINT compute-domain
    expression; narrowing to the storage type (to_spark) is the caller's
    concern. NULLs pass through (nullability is the Option layer's job)."""
    _storage, lo, hi = SIZED_INTS[name]
    ok = f"({col} IS NULL OR (({col} >= {lit(lo)}) AND ({col} <= {lit(min(hi, 2**63 - 1))})))"
    msg = call("concat", lit(f"value out of range for {name}: "), cast(col, "STRING"))
    return case(ok, cast(col, "BIGINT"), cast(call("assert_true", "false", msg), "BIGINT"))


def _check_subsumes(checked: str | None, target: str) -> bool:
    """True when a value already range-checked into view `checked` needs no
    new check to enter view `target` (checked's range ⊆ target's range —
    e.g. a U8-checked value entering I16/U32/U64/Nat)."""
    if checked is None:
        return False
    _s1, clo, chi = SIZED_INTS[checked]
    _s2, tlo, thi = SIZED_INTS[target]
    return tlo <= clo and chi <= thi


# A range check references its operand 5× (isnull, both bounds, the value
# branch, the error message), so NESTED checks blow up the Catalyst tree —
# and the generated Java — multiplicatively (k_tower's checked-sum-of-checks
# hit janino's 64 KB method limit and silently fell back to interpretation;
# round-10 VERDICT). Operands whose SQL text exceeds this many chars are
# hoisted into an intermediate projection (Compiler.bindings) so the check
# references a plain attribute instead of a copied tree. Small operands
# stay inline.
HOIST_MIN_EXPR_CHARS = 600

# Unroll budget for recursive kernels. Each level adds its guard and body
# to the SQL text and a guard at run time, so the default is the
# smallest depth that comfortably covers the reference's recursive examples
# (fact overflows i64 past 20 anyway); rows that recurse deeper hit the
# poison error, and callers needing more pass max_depth explicitly.
MAX_RECURSION_DEPTH = 32


class KernelCompileError(ValueError):
    pass


# --------------------------------------------------------------------------
# Symbolic values
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class SVal:
    """Base symbolic value."""


@dataclass(frozen=True)
class SCol(SVal):
    col: str  # SQL text
    type: ast.Type
    # affine normal form (base_column, int_offset) when this value is known
    # to equal base + offset — lets ± const chains fold flat (the partial
    # evaluation the reference prototypes in scripts/stackfolder.py). Without
    # it, recursion unrolling builds O(depth)-node `n-1-1-…` guards and the
    # kernel's total expression goes quadratic in unroll depth.
    affine: tuple | None = None
    # name of the sized-int view this value has already been range-checked
    # into (set by compile_cast's sized branch). A later cast/coercion to a
    # view whose range CONTAINS the checked one is provably redundant and is
    # skipped — `out (…) as U64;` used to check twice (cast + output
    # coercion), squaring the tree (round-10 VERDICT's k_tower fix).
    checked: str | None = None


@dataclass(frozen=True)
class SConst(SVal):
    value: object  # int | float | str | bool | list[SVal-able] | dict
    type: ast.Type


@dataclass(frozen=True)
class SFunc(SVal):
    params: tuple[tuple[str, ast.Type], ...]
    ret: ast.Type
    body: ast.Expr
    env: dict
    name: str = "<lambda>"
    # `...name: T` trailing rest parameter (reference README.md:335-336);
    # T is the per-element type — the bound value is a [T] list
    rest_param: tuple[str, ast.Type] | None = None


@dataclass(frozen=True)
class SNative(SVal):
    """Built-in function: compile-time Python that maps arg SVals to a
    result SVal. The reference ships zero named built-ins (stdlib is
    roadmap 0.3 — roadmap.md:51) but its docs/IR use several (`min`/`max`/
    `abs`/shifts in the op table src/ir.rs:576-653 with no grammar surface;
    `.join`, `sqrt`, `cos`, `sin`, `length` in doc examples README.md:235,
    352-353; `Reduce`/`Map` planned at src/ir.rs:222-223) — exposed here as
    the engine's function library (SURVEY.md §2.3 ext row)."""

    name: str
    arity: int
    fn: object  # Callable[[Compiler, list[SVal], dict], tuple[SVal, None]]
    bound: tuple = ()  # method-style receiver, e.g. `xs.join(", ")`


@dataclass(frozen=True)
class SModule(SVal):
    """Compile-time module value (`import m;` → `m.member`). No runtime
    artifact — members inline like any other binding (SURVEY.md §2.10
    modules row; the reference parses but never lowers these,
    src/ir.rs:802-803)."""

    name: str
    members: dict
    typedefs: dict


def as_col(v: SVal) -> str:
    if isinstance(v, SCol):
        return v.col
    if isinstance(v, SConst):
        if v.value is None:
            # TYPED null literal: a bare NULL is VOID, which functions like
            # element_at/map_contains_key reject at analysis — cast to the
            # constant's declared type so a NULL map/record/list object
            # keeps NULL-propagating like its runtime twin (r9 nested-access
            # fuzz). Unknown/Any types keep the bare NULL.
            try:
                return cast("NULL", to_spark(v.type))
            except Exception:  # noqa: BLE001 — T_ANY and friends
                return "NULL"
        if isinstance(v.value, list):
            return call("array", *[as_col(x) for x in v.value])
        if isinstance(v.value, dict):
            return call("map", *[p for k, x in v.value.items() for p in (lit(k), as_col(x))])
        return lit(v.value)
    raise KernelCompileError(f"function value {v!r} escapes to runtime")


def vtype(v: SVal) -> ast.Type:
    if isinstance(v, (SCol, SConst)):
        return v.type
    raise KernelCompileError("function value has no data type")


def bin_type(op: str, t: ast.Type, ta: ast.Type, tb: ast.Type) -> ast.Type:
    """Result type of `a op b` over operands unified to t (src/ir.rs:
    607-695); raises where the reference op table has no arm."""
    if op in ("+", "-", "*", "/", "%", "^") and t in (ast.T_INT, ast.T_FLOAT):
        return t
    if op == "+" and t is ast.T_STR:
        return t
    if op in ("and", "or", "xor") and t in (ast.T_BOOL, ast.T_INT):
        return t
    if op in ("<", ">", "<=", ">="):
        if t not in (ast.T_INT, ast.T_FLOAT, ast.T_STR):
            raise KernelTypeError(f"relational {op} on {t!r}")
        return ast.T_BOOL
    if op == "==":
        return ast.T_BOOL
    raise KernelTypeError(f"operator {op} not defined for {ta!r}, {tb!r}")


# --------------------------------------------------------------------------
# Compiler
# --------------------------------------------------------------------------
@dataclass
class Ctx:
    """Compile context: output element type + recursion bookkeeping."""

    out_spark_type: object
    out_type: ast.Type
    call_stack: tuple = ()
    max_depth: int = MAX_RECURSION_DEPTH


def empty_outs(ctx: Ctx) -> str:
    return cast("array()", T.ArrayType(ctx.out_spark_type))


def concat_outs(ctx: Ctx, parts: list[str | None]) -> str | None:
    real = [p for p in parts if p is not None]
    if not real:
        return None
    if len(real) == 1:
        return real[0]
    return call("concat", *real)


def outs_or_empty(ctx: Ctx, outs: str | None) -> str:
    return outs if outs is not None else empty_outs(ctx)


def when_outs(
    ctx: Ctx, cond: str | None, then: str | None, otherwise: str | None = None
) -> str:
    """The outputs `then` on rows where `cond` holds, else `otherwise`; a
    None `cond` is an unconditional branch (a constant-true predicate)."""
    if cond is None:
        return outs_or_empty(ctx, then)
    return case(cond, outs_or_empty(ctx, then), outs_or_empty(ctx, otherwise))


@dataclass
class _CatchFrame:
    """One active `attempt`: throws compiled under it record themselves
    here instead of lowering to raise_error."""

    path_len: int  # _path depth at attempt entry; reach-conds are relative
    hof_depth: int  # runtime-lambda nesting at entry (throws deeper: error)
    captures: list[tuple[str, str]] = field(default_factory=list)


class Compiler:
    def __init__(
        self,
        program: ast.Program,
        max_depth: int = MAX_RECURSION_DEPTH,
        libs: dict[str, ast.Program] | None = None,
        allow_hoist: bool = True,
    ):
        if program.kind != "script":
            raise KernelCompileError("only scripts are executable (libs are linked)")
        self.program = program
        self.libs = libs or {}
        self._module_cache: dict[str, tuple[dict, dict]] = {}
        # pre-scan type aliases so input/output decls may reference them
        self.typedefs = collect_typedefs(program)
        self.ctx = Ctx(
            out_spark_type=None,
            out_type=program.output,
            max_depth=max_depth,
        )
        self.ctx.out_spark_type = to_spark(self.resolve_type(program.output))
        # `!`-tapped expressions (the reference's second side effect,
        # manual.md:54-62) as string expressions, in tap order; surfaced by
        # Kernel.apply(debug=True) as a `_debug` array column
        self.debug_taps: list = []
        # recoverable exceptions (ast.Attempt): _path is the stack of branch
        # predicates under which the code currently being compiled executes
        # (pushed by compile_cond/compile_match/compile_suppose); _catch is
        # the stack of active attempt frames — a Throw compiled under a
        # frame records (reach-condition, message) there instead of lowering
        # to raise_error. _hof_depth > frame depth means the throw sits in a
        # runtime HOF lambda whose reach-condition is per-ELEMENT, which the
        # row-level when() machinery cannot express — compile error.
        self._path: list[str] = []
        self._catch: list[_CatchFrame] = []
        self._hof_depth = 0
        # hoisted range-check operands: ordered (name, SQL) bindings
        # (later entries may reference earlier names). Kernel.apply inserts
        # one narrow projection per binding below the output select, so a
        # check over a huge operand references an attribute instead of
        # copying the tree 5× (the janino-limit fix — see
        # HOIST_MIN_EXPR_CHARS). allow_hoist=False keeps the compiled
        # output a single self-contained expression (outputs_column).
        self.allow_hoist = allow_hoist
        self.bindings: list[tuple[str, str]] = []
        self._bind_n = 0
        self._no_hoist_depth = 0
        self._lambda_n = 0  # lambda_fn's variable-name counter
        # hoisting is armed ONLY while compiling an `out` statement's value
        # and output coercion: `out` evaluates eagerly for every row, so a
        # hoisted operand (which a projection evaluates unconditionally)
        # fires its inner poisons for exactly the rows it fires for today.
        # Everywhere else evaluation may be lazy — `let` values inline at
        # use sites, when()-branches skip untaken arms, HOF lambdas bind
        # per-element variables a projection can't see — so hoisting there
        # could raise on rows that today never evaluate the check.
        self._hoist_armed = False

    @contextmanager
    def _on_path(self, cond: str | None):
        """Scope a branch predicate for throw reach-condition tracking."""
        if cond is None:
            yield
            return
        self._path.append(cond)
        try:
            yield
        finally:
            self._path.pop()

    @contextmanager
    def _in_hof(self):
        self._hof_depth += 1
        try:
            yield
        finally:
            self._hof_depth -= 1

    @contextmanager
    def _no_hoist(self):
        """Forbid operand hoisting in a subtree whose evaluation is (or may
        be) lazy — a projection binding would evaluate it unconditionally."""
        self._no_hoist_depth += 1
        try:
            yield
        finally:
            self._no_hoist_depth -= 1

    @contextmanager
    def _hoist_scope(self):
        """Arm hoisting for an `out` statement's eagerly-evaluated value."""
        prev = self._hoist_armed
        self._hoist_armed = True
        try:
            yield
        finally:
            self._hoist_armed = prev

    def _maybe_hoist(self, col: str, tag: str) -> str:
        """If safe and worthwhile, bind `col` as an intermediate projection
        column and return a reference to it; else return `col` unchanged.

        Safe = compiling an `out` value (armed), outside when()-branches
        (_path), attempt frames (_catch), HOF lambdas (_hof_depth), and
        explicitly lazy scopes (_no_hoist). Worthwhile = the operand tree is
        big enough that a range check's 5 references would matter."""
        if (
            not self.allow_hoist
            or not self._hoist_armed
            or self._no_hoist_depth
            or self._hof_depth
            or self._path
            or self._catch
        ):
            return col
        if len(col) < HOIST_MIN_EXPR_CHARS:
            return col
        name = f"__ud_hoist{self._bind_n}_{tag.lower()}"
        self._bind_n += 1
        self.bindings.append((name, col))
        return ident(name)

    def lambda_fn(self, body, arity: int = 1) -> str:
        """A higher-order function's lambda `__ud_x_N -> body(__ud_x_N)`
        (`(__ud_x_N, __ud_y_M) -> …` for two parameters). Variable names are
        fresh per compile, so a nested lambda never shadows an enclosing
        one; the `__ud_` prefix (the hoist bindings' too) keeps them apart
        from input columns, which Spark would otherwise resolve to an
        in-scope lambda variable of the same name."""
        names = [f"__ud_{p}_{self._lambda_n + i}" for i, p in enumerate("xy"[:arity])]
        self._lambda_n += arity
        params = names[0] if arity == 1 else f"({', '.join(names)})"
        return f"{params} -> {body(*names)}"

    def resolve_type(self, t: ast.Type) -> ast.Type:
        # the typedefs in scope grow as `import` statements link libs
        return resolve_type(t, self.typedefs)

    # -- entry -----------------------------------------------------------
    def compile(self, in_val: SVal) -> str:
        """Compile the whole script to one array<output> expression."""
        env: dict[str, SVal] = {**BUILTINS, "in": in_val}
        outs_parts: list[str | None] = []
        for decl in self.program.decls:
            outs_parts.append(self.compile_stmt(decl, env))
        for stmt in self.program.body:
            outs_parts.append(self.compile_stmt(stmt, env))
        return outs_or_empty(self.ctx, concat_outs(self.ctx, outs_parts))

    # -- statements ------------------------------------------------------
    def compile_stmt(self, stmt: ast.Stmt, env: dict) -> str | None:
        """Compile one statement; mutates env for bindings; returns the
        outputs this statement contributes (array expression) or None."""
        if isinstance(stmt, ast.Let):
            # let values inline LAZILY at use sites (substitution), so a
            # hoisted check operand inside one could evaluate — and raise —
            # on rows whose taken branches never use the binding
            with self._no_hoist():
                val, outs = self.compile_expr(stmt.value, env)
            if isinstance(val, SFunc):
                val = replace(val, name=stmt.name)
                # tie the knot: the closure can see itself (recursion —
                # examples/fact.us, examples/count.us)
                val.env[stmt.name] = val
            env[stmt.name] = val
            return outs
        if isinstance(stmt, ast.TypeDef):
            self.typedefs[stmt.name] = stmt.type
            return None
        if isinstance(stmt, ast.Destructure):
            # like Let: the bound pieces inline lazily at use sites
            with self._no_hoist():
                val, outs = self.compile_expr(stmt.value, env)
            for name in stmt.names:
                bound, _ = self.compile_dot(
                    ast.Dot(ast.Id("__destructure__"), name),
                    {**env, "__destructure__": val},
                )
                env[name] = bound
            return outs
        if isinstance(stmt, ast.Throw):
            val, outs = self.compile_expr(stmt.value, env)
            msg = cast(as_col(val), "STRING")
            if self._catch:
                # recoverable: record (reach-condition, message) on the
                # innermost attempt frame; no raise is emitted at all —
                # the attempt's when() selects the fallback for these rows
                frame = self._catch[-1]
                if self._hof_depth != frame.hof_depth:
                    raise KernelCompileError(
                        "throw inside a runtime for/comprehension body cannot "
                        "be recovered by an enclosing attempt (its reach "
                        "condition is per-element); move the throw out of the "
                        "loop or drop the attempt"
                    )
                conds = self._path[frame.path_len :]
                reach = all_of(conds) if conds else "true"
                frame.captures.append((reach, msg))
                return outs
            # fatal for rows reaching this statement (README.md:337-341);
            # when-guarded branches keep it lazy, so only thrown rows error
            poison = call("array", cast(call("raise_error", msg), self.ctx.out_spark_type))
            return concat_outs(self.ctx, [outs, poison])
        if isinstance(stmt, ast.Out):
            out_col, outs = self.compile_out(stmt.value, env)
            return concat_outs(self.ctx, [outs, call("array", out_col)])
        if isinstance(stmt, ast.ExprStmt):
            _, outs = self.compile_expr(stmt.expr, env)
            return outs
        if isinstance(stmt, ast.ListIter):
            return self.compile_list_iter(stmt, env)
        if isinstance(stmt, ast.MapIter):
            return self.compile_map_iter(stmt, env)
        if isinstance(stmt, ast.Suppose):
            return self.compile_suppose(stmt, env)
        if isinstance(stmt, ast.EffectCapture):
            if "..." not in env:
                raise KernelCompileError("`...;` outside of suppose branch")
            return env["..."]  # type: ignore[return-value]
        if isinstance(stmt, ast.TemplateCall):
            block_fn = ast.Lambda((), ast.T_VOID, stmt.block)
            _, outs = self.compile_expr(ast.Call(stmt.func, stmt.args + (block_fn,)), env)
            return outs
        if isinstance(stmt, ast.Import):
            return self.compile_import(stmt, env)
        if isinstance(stmt, ast.Export):
            raise KernelCompileError("`export` is only valid in a lib")
        raise KernelCompileError(f"unsupported statement {stmt!r}")

    def compile_out(self, value: ast.Expr, env: dict) -> tuple[str, str | None]:
        """An `out` statement's value coerced to the output type, and the
        outputs the value itself emits. `out` evaluates eagerly for every
        row reaching it, so large range-check operands compiled here may
        hoist into projection bindings (the _path/_hof guards inside
        _maybe_hoist still block hoisting when this `out` sits under a
        branch)."""
        with self._hoist_scope():
            val, outs = self.compile_expr(value, env)
            return self.coerce_to(val, self.resolve_type(self.program.output)), outs

    # -- module linking (SURVEY.md §2.10 modules row; §7.2 step 10) --------
    def compile_import(self, stmt: ast.Import, env: dict) -> None:
        """Compile-time linking: the lib's exported bindings become env
        entries (values inline like any local binding — no runtime module).
        `import m;` binds `m` for dotted access; `import m._;`/`.*` splats;
        `import m.{a, b as c};` selects."""
        exports, tdefs = self._link_module(stmt.module)
        sel = stmt.selector

        def is_rename(s) -> bool:
            return (
                isinstance(s, tuple)
                and len(s) == 3
                and s[1] == "as"
                and all(isinstance(x, str) for x in s)
            )

        if sel is None:
            env[stmt.module] = SModule(stmt.module, exports, tdefs)
            return None
        if sel in ("_", "*"):
            env.update(exports)
            self.typedefs.update(tdefs)
            return None
        items = (sel,) if (isinstance(sel, str) or is_rename(sel)) else sel
        for item in items:
            if is_rename(item):
                src, _, dst = item
            elif isinstance(item, str):
                src = dst = item
            else:
                raise KernelCompileError(f"unsupported import selector {item!r}")
            if src in exports:
                env[dst] = exports[src]
            elif src in tdefs:
                self.typedefs[dst] = tdefs[src]
            else:
                raise KernelCompileError(
                    f"module {stmt.module!r} exports no {src!r}"
                )
        return None

    def _link_module(self, name: str) -> tuple[dict, dict]:
        if name in self._module_cache:
            return self._module_cache[name]
        if name not in self.libs:
            raise KernelCompileError(f"unknown module {name!r} (no lib provided)")
        prog = self.libs[name]
        if prog.kind != "lib":
            raise KernelCompileError(f"module {name!r} is not a lib")
        lenv: dict[str, SVal] = dict(BUILTINS)
        exports: dict[str, SVal] = {}
        tdefs: dict[str, ast.Type] = {}
        outer_tdefs = self.typedefs
        self.typedefs = dict(outer_tdefs)
        try:
            for d in prog.decls:
                decl = d.decl if isinstance(d, ast.Export) else d
                if isinstance(d, ast.Export) and decl is None:
                    nm = d.name
                    if nm in lenv:
                        exports[nm] = lenv[nm]
                    elif nm in self.typedefs:
                        tdefs[nm] = self.typedefs[nm]
                    else:
                        raise KernelCompileError(
                            f"lib {name!r} exports unknown name {nm!r}"
                        )
                    continue
                outs = self.compile_stmt(decl, lenv)
                if outs is not None:
                    raise KernelCompileError("lib declarations cannot `out`")
                if isinstance(d, ast.Export):
                    if isinstance(decl, ast.TypeDef):
                        tdefs[decl.name] = decl.type
                    elif isinstance(decl, ast.Let):
                        exports[decl.name] = lenv[decl.name]
        finally:
            self.typedefs = outer_tdefs
        self._module_cache[name] = (exports, tdefs)
        return exports, tdefs

    def compile_list_iter(self, stmt: ast.ListIter, env: dict) -> str | None:
        src, src_outs = self.compile_expr(stmt.source, env)
        if isinstance(src, SConst) and isinstance(src.value, list):
            # constant list: unroll — each element re-inlines the body
            parts: list[str | None] = [src_outs]
            for item in src.value:
                inner = dict(env)
                inner[stmt.var] = item
                parts.append(self.compile_block_for_effect(stmt.body, inner))
            return concat_outs(self.ctx, parts)
        if not isinstance(vtype(src), ast.TList):
            raise KernelTypeError("for..in over a non-list")
        item_t = self.resolve_type(vtype(src).item)

        def body(x: str) -> str:
            inner = dict(env)
            inner[stmt.var] = SCol(x, item_t)
            with self._in_hof():
                return outs_or_empty(
                    self.ctx, self.compile_block_for_effect(stmt.body, inner)
                )

        loop = call("flatten", call("transform", as_col(src), self.lambda_fn(body)))
        return concat_outs(self.ctx, [src_outs, loop])

    def compile_map_iter(self, stmt: ast.MapIter, env: dict) -> str | None:
        src, src_outs = self.compile_expr(stmt.source, env)
        if isinstance(src, SConst) and isinstance(src.value, dict):
            parts: list[str | None] = [src_outs]
            for k, item in src.value.items():
                inner = dict(env)
                inner[stmt.key_var] = SConst(k, ast.T_STR)
                inner[stmt.val_var] = item
                parts.append(self.compile_block_for_effect(stmt.body, inner))
            return concat_outs(self.ctx, parts)
        if not isinstance(vtype(src), ast.TMap):
            raise KernelTypeError("for (k, v) over a non-map")
        val_t = self.resolve_type(vtype(src).value)

        def body(entry: str) -> str:
            inner = dict(env)
            inner[stmt.key_var] = SCol(get_field(entry, "key"), ast.T_STR)
            inner[stmt.val_var] = SCol(get_field(entry, "value"), val_t)
            with self._in_hof():
                return outs_or_empty(
                    self.ctx, self.compile_block_for_effect(stmt.body, inner)
                )

        entries = call("map_entries", as_col(src))
        loop = call("flatten", call("transform", entries, self.lambda_fn(body)))
        return concat_outs(self.ctx, [src_outs, loop])

    def compile_suppose(self, stmt: ast.Suppose, env: dict) -> str:
        # Speculatively capture the delegate's outputs (src/vm.rs:603-638):
        # if it produced any, run the branch with `...;` splicing them in;
        # otherwise run the leaf. Pure expression-level — no custom operator.
        _, candidates = self.compile_expr(stmt.delegate, env)
        cand = outs_or_empty(self.ctx, candidates)
        branch_env = dict(env)
        branch_env["..."] = cand
        took_branch = f"(size({cand}) > 0)"
        with self._on_path(took_branch):
            branch = outs_or_empty(
                self.ctx, self.compile_block_for_effect(stmt.branch, branch_env)
            )
        with self._on_path(f"(NOT {took_branch})"):
            leaf = outs_or_empty(
                self.ctx, self.compile_block_for_effect(stmt.leaf, env)
            )
        return case(took_branch, branch, leaf)

    def compile_block_for_effect(self, block: ast.Expr, env: dict) -> str | None:
        if not isinstance(block, ast.Block):
            _, outs = self.compile_expr(block, env)
            return outs
        inner = dict(env)
        parts = [self.compile_stmt(s, inner) for s in block.stmts]
        if block.ret is not None:
            _, ret_outs = self.compile_expr(block.ret, inner)
            parts.append(ret_outs)
        return concat_outs(self.ctx, parts)

    # -- expressions -----------------------------------------------------
    def compile_expr(self, expr: ast.Expr, env: dict) -> tuple[SVal, str | None]:
        if isinstance(expr, ast.Lit):
            return SConst(expr.value, python_type_of(expr.value)), None
        if isinstance(expr, ast.In):
            return env["in"], None
        if isinstance(expr, ast.Id):
            if expr.name not in env:
                raise KernelCompileError(f"unbound identifier {expr.name!r}")
            return env[expr.name], None
        if isinstance(expr, ast.Partial):
            # `$` as a term: the comprehension/partial-expression element
            # (call-argument `$` placeholders are handled by compile_call)
            if "$" in env:
                return env["$"], None
            raise KernelCompileError("`$` used outside a partial context")
        if isinstance(expr, ast.SelfExpr):
            if "self" in env:
                return env["self"], None
            raise KernelCompileError("`self` outside a record method")
        if isinstance(expr, ast.Lambda):
            return (
                SFunc(
                    expr.params,
                    expr.ret,
                    expr.body,
                    dict(env),
                    rest_param=expr.rest_param,
                ),
                None,
            )
        if isinstance(expr, ast.ListExpr):
            return self.compile_list(expr, env)
        if isinstance(expr, ast.MapExpr):
            return self.compile_map(expr, env)
        if isinstance(expr, ast.TupleExpr):
            return self.compile_tuple(expr, env)
        if isinstance(expr, ast.Bin):
            return self.compile_bin(expr, env)
        if isinstance(expr, ast.Un):
            return self.compile_un(expr, env)
        if isinstance(expr, ast.Call):
            return self.compile_call(expr, env)
        if isinstance(expr, ast.Dot):
            return self.compile_dot(expr, env)
        if isinstance(expr, ast.Has):
            return self.compile_has(expr, env)
        if isinstance(expr, ast.Index):
            return self.compile_index(expr, env)
        if isinstance(expr, ast.Cond):
            return self.compile_cond(expr, env)
        if isinstance(expr, ast.Block):
            return self.compile_block_expr(expr, env)
        if isinstance(expr, ast.Cast):
            return self.compile_cast(expr, env)
        if isinstance(expr, ast.Match):
            return self.compile_match(expr, env)
        if isinstance(expr, ast.Comprehension):
            return self.compile_comprehension(expr, env)
        if isinstance(expr, ast.Attempt):
            return self.compile_attempt(expr, env)
        raise KernelCompileError(f"unsupported expression {expr!r}")

    def compile_attempt(self, expr: ast.Attempt, env: dict):
        """Recoverable exceptions (ast.Attempt — our design; the reference
        defers exceptions at README.md:97). Pure when-machinery: the body
        compiles under a catch frame, every reachable `throw` contributes
        (reach-condition, message) instead of raise_error, and the attempt
        selects fallback value/outs for rows where any reach-condition
        holds. Body `out`s are discarded on the thrown path (transactional,
        same discipline as `suppose`)."""
        frame = _CatchFrame(len(self._path), self._hof_depth)
        self._catch.append(frame)
        try:
            bval, bouts = self.compile_expr(expr.body, env)
        finally:
            self._catch.pop()

        if not frame.captures:
            # nothing in the body can throw: still compile the fallback so
            # type errors surface (under a scratch frame — its throws can
            # never fire, so they must not leak to an outer attempt). The
            # recover bind must exist in that scratch scope too: `recover
            # (m) length(m)` around a throw-free body is legal, and was an
            # "unbound identifier" crash before (found by the attempt fuzz
            # via a nested attempt whose inner fallback held the only throw)
            scratch_env = dict(env)
            if expr.bind is not None:
                scratch_env[expr.bind] = SCol(cast("NULL", "STRING"), ast.T_STR)
            self._catch.append(_CatchFrame(len(self._path), self._hof_depth))
            try:
                fval, _ = self.compile_expr(expr.fallback, scratch_env)
            finally:
                self._catch.pop()
            if vtype(bval) is not ast.T_VOID and vtype(fval) is not ast.T_VOID:
                unify(vtype(bval), vtype(fval))
            return bval, bouts

        thrown = _reduce(lambda a, b: f"({a} OR {b})", [c for c, _ in frame.captures])
        # first-throw-wins message: earlier captures are earlier in program
        # order within a branch, and reach-conditions of sibling branches
        # are mutually exclusive — a when-chain in capture order is exact
        msg = cast("NULL", "STRING")
        for cond, m in reversed(frame.captures):
            msg = case(cond, m, msg)

        fb_env = dict(env)
        if expr.bind is not None:
            fb_env[expr.bind] = SCol(msg, ast.T_STR)
        # fallback runs OUTSIDE this attempt's protection: its throws go to
        # the next enclosing frame, guarded by `thrown` (it only runs then)
        with self._on_path(thrown):
            fval, fouts = self.compile_expr(expr.fallback, fb_env)

        outs = when_outs(self.ctx, thrown, fouts, bouts)
        bt, ft = vtype(bval), vtype(fval)
        if bt is ast.T_VOID or ft is ast.T_VOID:
            return SConst(None, ast.T_VOID), outs
        rtype = unify(bt, ft)
        value = case(thrown, self.coerce_to(fval, rtype), self.coerce_to(bval, rtype))
        return SCol(value, rtype), outs

    def compile_list(self, expr: ast.ListExpr, env: dict):
        items = [self.compile_expr(e, env) for e in expr.items]
        outs = concat_outs(self.ctx, [o for _, o in items])
        vals = [v for v, _ in items]
        if all(isinstance(v, SConst) for v in vals):
            item_t = ast.T_ANY
            for v in vals:
                item_t = unify(item_t, vtype(v))
            return SConst(list(vals), ast.TList(item_t)), outs
        item_t = ast.T_ANY
        for v in vals:
            item_t = unify(item_t, vtype(v))
        cols = [self.coerce_to(v, item_t) for v in vals]
        return SCol(call("array", *cols), ast.TList(item_t)), outs

    def compile_tuple(self, expr: ast.TupleExpr, env: dict):
        items = [self.compile_expr(e, env) for e in expr.items]
        outs = concat_outs(self.ctx, [o for _, o in items])
        vals = [v for v, _ in items]
        t = ast.TTuple(tuple(vtype(v) for v in vals))
        col = call("named_struct", *[p for i, v in enumerate(vals) for p in (lit(f"_{i + 1}"), as_col(v))])
        return SCol(col, t), outs

    def compile_map(self, expr: ast.MapExpr, env: dict):
        items = [(k, self.compile_expr(e, env)) for k, e in expr.items]
        outs = concat_outs(self.ctx, [o for _, (_, o) in items])
        vals = [(k, v) for k, (v, _) in items]
        if all(isinstance(v, SConst) for _, v in vals):
            val_t = ast.T_ANY
            for _, v in vals:
                val_t = unify(val_t, vtype(v))
            return SConst(dict(vals), ast.TMap(val_t)), outs
        val_t = ast.T_ANY
        for _, v in vals:
            val_t = unify(val_t, vtype(v))
        pairs = [p for k, v in vals for p in (lit(k), self.coerce_to(v, val_t))]
        return SCol(call("map", *pairs), ast.TMap(val_t)), outs

    def compile_bin(self, expr: ast.Bin, env: dict):
        a, outs_a = self.compile_expr(expr.a, env)
        b, outs_b = self.compile_expr(expr.b, env)
        outs = concat_outs(self.ctx, [outs_a, outs_b])
        op = expr.op
        ta, tb = vtype(a), vtype(b)
        try:
            t = unify(ta, tb)
        except KernelTypeError:
            if op == "==":
                # cross-type equality is `false`, never an error (src/ir.rs:679-695)
                return SConst(False, ast.T_BOOL), outs
            raise
        rtype = bin_type(op, t, ta, tb)

        if isinstance(a, SConst) and isinstance(b, SConst) and not isinstance(
            a.value, (list, dict)
        ) and not isinstance(b.value, (list, dict)):
            x, y = a.value, b.value
            if op == "^" and t is ast.T_INT and None not in (x, y) and y < 0:
                # the interpreter rejects a negative Int exponent; the SQL
                # arm below computes pow() in double and truncates, and so
                # does the fold
                return SConst(int(binop(op, float(x), float(y))), rtype), outs
            return SConst(binop(op, x, y), rtype), outs

        ca, cb = as_col(a), as_col(b)
        if t is ast.T_INT and op in ("+", "-"):
            # affine folding: (base + k) ± c → base + (k ± c). Int-only —
            # exact under i64 associativity; float reassociation would
            # change rounding.
            base_off = None
            if isinstance(a, SCol) and isinstance(b, SConst):
                base, off = a.affine if a.affine else (a.col, 0)
                base_off = (base, off + (b.value if op == "+" else -b.value))
            elif isinstance(a, SConst) and isinstance(b, SCol) and op == "+":
                base, off = b.affine if b.affine else (b.col, 0)
                base_off = (base, off + a.value)
            if base_off is not None:
                base, off = base_off
                col = f"({base} + {lit(off)})" if off != 0 else base
                return SCol(col, ast.T_INT, affine=(base, off)), outs
        if t is ast.T_FLOAT:
            ca, cb = cast(ca, "DOUBLE"), cast(cb, "DOUBLE")
        if op == "+" and t is ast.T_STR:
            # intended string concat (README.md:120; arm missing in the
            # reference op table — SURVEY.md §7.5 "reference bugs")
            return SCol(call("concat", ca, cb), ast.T_STR), outs
        if op == "/" and t is ast.T_INT:
            # i64 truncating division (src/ir.rs:622-625): Spark's `div`
            # function is integral divide, truncation toward 0
            return SCol(call("div", ca, cb), ast.T_INT), outs
        if op == "^":
            p = call("pow", ca, cb)
            return SCol(cast(p, "BIGINT") if t is ast.T_INT else p, t), outs
        # Spark % == Rust % (sign of dividend); and/or/xor are logical on
        # Bool — non-short-circuit, as the stack machine evaluates both —
        # and bitwise on Int
        logic = {"and": "AND", "or": "OR", "xor": "!="} if t is ast.T_BOOL else {
            "and": "&", "or": "|", "xor": "^"
        }
        sql_op = {**logic, "==": "="}.get(op, op)
        return SCol(f"({ca} {sql_op} {cb})", rtype), outs

    def compile_un(self, expr: ast.Un, env: dict):
        a, outs = self.compile_expr(expr.a, env)
        if expr.op == "!":
            # debug operator: value passes through; the tap is recorded as a
            # string expression for Kernel.apply(debug=True)'s `_debug` array
            # (the distributed analogue of the reference's stderr trace —
            # executor-side stderr is not observable from a driver).
            # Semantic deviation, documented: taps record unconditionally,
            # even when the enclosing `when` branch is not taken.
            self.debug_taps.append(cast(as_col(a), "STRING"))
            return a, outs
        t = vtype(a)
        if isinstance(a, SConst) and not isinstance(a.value, (list, dict)):
            return SConst(unop(expr.op, a.value), t), outs
        ca = as_col(a)
        if expr.op == "-":
            return SCol(f"(- {ca})", t), outs
        if expr.op == "not":
            if t is ast.T_BOOL:
                return SCol(f"(NOT {ca})", ast.T_BOOL), outs
            if t is ast.T_INT:
                return SCol(call("bitwise_not", ca), ast.T_INT), outs
        raise KernelTypeError(f"unary {expr.op} on {t!r}")

    def compile_call(self, expr: ast.Call, env: dict):
        fn, outs_fn = self.compile_expr(expr.func, env)
        if isinstance(fn, SNative):
            native_args: list[ast.Expr] = []
            for a in expr.args:
                if isinstance(a, ast.Spread):
                    if isinstance(a.expr, ast.ListExpr):
                        native_args.extend(a.expr.items)
                    else:
                        raise KernelTypeError(
                            "`...` spread into a built-in requires a list "
                            "literal (built-ins have fixed arity)"
                        )
                else:
                    native_args.append(a)
            arg_parts: list[str | None] = [outs_fn]
            args: list[SVal] = list(fn.bound)
            for a in native_args:
                av, ao = self.compile_expr(a, env)
                arg_parts.append(ao)
                args.append(av)
            if len(args) != fn.arity:
                raise KernelTypeError(
                    f"{fn.name} expects {fn.arity - len(fn.bound)} args, "
                    f"got {len(args) - len(fn.bound)}"
                )
            res = fn.fn(self, args)
            return res, concat_outs(self.ctx, arg_parts)
        if not isinstance(fn, SFunc):
            raise KernelTypeError("calling a non-function value")
        # partial application: `$` placeholders curry at compile time
        # (reference src/ast.rs:231; VM never implemented it — src/vm.rs:433).
        # `$...` (reference README.md:370-373) curries into a VARIADIC
        # function that forwards its own rest args to the callee's rest
        # parameter via a spread.
        if any(isinstance(a, (ast.Partial, ast.PartialRest)) for a in expr.args):
            fresh: list[tuple[str, ast.Type]] = []
            filled: list[ast.Expr] = []
            curried_rest: tuple[str, ast.Type] | None = None
            for i, a in enumerate(expr.args):
                if isinstance(a, ast.PartialRest):
                    if a is not expr.args[-1]:
                        raise KernelTypeError("`$...` must be the final argument")
                    if fn.rest_param is None:
                        raise KernelTypeError(
                            f"`$...` requires {fn.name} to declare a rest "
                            "parameter (reference README.md:370-373)"
                        )
                    curried_rest = ("__rest", fn.rest_param[1])
                    filled.append(ast.Spread(ast.Id("__rest")))
                elif isinstance(a, ast.Partial):
                    pname = f"__partial_{i}"
                    ptype = fn.params[i][1] if i < len(fn.params) else ast.T_ANY
                    fresh.append((pname, ptype))
                    filled.append(ast.Id(pname))
                else:
                    filled.append(a)
            curried = SFunc(
                tuple(fresh),
                fn.ret,
                ast.Call(expr.func, tuple(filled)),
                dict(env),
                rest_param=curried_rest,
            )
            return curried, outs_fn

        # spread splice (reference README.md:260-261): a `...xs` argument
        # whose operand is a list literal splices inline; a dynamic list
        # value is legal only in the final position, landing on the
        # callee's rest parameter (arity is otherwise unknowable at
        # compile time — this engine inlines every call).
        call_args: list[ast.Expr] = []
        dyn_rest: ast.Expr | None = None
        for a in expr.args:
            if isinstance(a, ast.Spread):
                if isinstance(a.expr, ast.ListExpr):
                    call_args.extend(a.expr.items)
                elif a is expr.args[-1] and fn.rest_param is not None:
                    dyn_rest = a.expr
                else:
                    raise KernelTypeError(
                        "`...` spread of a non-literal list requires the "
                        "callee's final parameter to be a rest parameter"
                    )
            else:
                call_args.append(a)

        if fn.rest_param is not None:
            rname, rtype = fn.rest_param
            if dyn_rest is not None:
                if len(call_args) != len(fn.params):
                    raise KernelTypeError(
                        f"{fn.name} expects {len(fn.params)} fixed args "
                        f"before a spread, got {len(call_args)}"
                    )
                rest_expr: ast.Expr = dyn_rest
            else:
                if len(call_args) < len(fn.params):
                    raise KernelTypeError(
                        f"{fn.name} expects at least {len(fn.params)} args, "
                        f"got {len(call_args)}"
                    )
                rest_expr = ast.ListExpr(tuple(call_args[len(fn.params) :]))
                call_args = call_args[: len(fn.params)]
            params_eff = fn.params + ((rname, ast.TList(rtype)),)
            args_eff = tuple(call_args) + (rest_expr,)
        else:
            if len(call_args) != len(fn.params):
                raise KernelTypeError(
                    f"{fn.name} expects {len(fn.params)} args, got {len(call_args)}"
                )
            params_eff = fn.params
            args_eff = tuple(call_args)
        arg_parts: list[str | None] = [outs_fn]
        call_env = dict(fn.env)
        for (pname, ptype), arg in zip(params_eff, args_eff):
            aval, aouts = self.compile_expr(arg, env)
            arg_parts.append(aouts)
            rtype = self.resolve_type(ptype)
            if isinstance(aval, (SCol, SConst)) and rtype in (
                ast.T_FLOAT,
            ) and vtype(aval) is ast.T_INT:
                # numeric promotion at the call boundary (types.unify note)
                if isinstance(aval, SConst):
                    aval = SConst(float(aval.value), ast.T_FLOAT)
                else:
                    aval = SCol(cast(aval.col, "DOUBLE"), ast.T_FLOAT)
            call_env[pname] = aval

        key = id(fn.body)
        depth = sum(1 for k in self.ctx.call_stack if k == key)
        if depth >= self.ctx.max_depth:
            # recursion unrolling limit: poison this branch — it only fires
            # for rows that actually recurse deeper than max_depth
            fail = call("assert_true", "false", lit(f"recursion depth > {self.ctx.max_depth} in {fn.name}"))
            poison = cast(
                fail,
                to_spark(self.resolve_type(fn.ret) if fn.ret is not ast.T_ANY else ast.T_INT),
            )
            # the poison must live in BOTH the value and the output stream:
            # a proc's value is discarded, so an effect-only recursion would
            # otherwise silently truncate instead of erroring
            poison_out = call("array", cast(fail, self.ctx.out_spark_type))
            return SCol(poison, self.resolve_type(fn.ret)), concat_outs(
                self.ctx, arg_parts + [poison_out]
            )
        self.ctx.call_stack = self.ctx.call_stack + (key,)
        try:
            val, body_outs = self.compile_expr(fn.body, call_env)
        finally:
            self.ctx.call_stack = self.ctx.call_stack[:-1]
        return val, concat_outs(self.ctx, arg_parts + [body_outs])

    def compile_dot(self, expr: ast.Dot, env: dict):
        obj, outs = self.compile_expr(expr.obj, env)
        if isinstance(obj, SModule):
            if expr.name in obj.members:
                return obj.members[expr.name], outs
            raise KernelCompileError(
                f"module {obj.name!r} has no exported member {expr.name!r}"
            )
        t = vtype(obj)
        if isinstance(obj, SConst) and obj.value is None:
            # Dot on a constant NULL object (e.g. a missing nested map key
            # chain) NULL-propagates like the runtime element_at/getField
            if isinstance(t, ast.TMap):
                return SConst(None, self.resolve_type(t.value)), outs
            if isinstance(t, ast.TRecord):
                ft = next(
                    (f.type for f in t.fields if f.name == expr.name), None
                )
                if ft is not None:
                    return SConst(None, self.resolve_type(ft)), outs
        if isinstance(obj, SConst) and isinstance(obj.value, dict):
            if expr.name in obj.value:
                return obj.value[expr.name], outs
            # semantics may not depend on constant folding: a MAP binds NULL
            # for an absent key (mirroring the runtime element_at branch and
            # the interp — found by the r9 map-access fuzz family); only a
            # RECORD's missing field is the hard (statically-checkable) error
            if isinstance(t, ast.TMap):
                return SConst(None, self.resolve_type(t.value)), outs
            raise KernelCompileError(f"no field {expr.name!r} in constant map")
        if isinstance(t, ast.TRecord):
            ft = next((f.type for f in t.fields if f.name == expr.name), None)
            if ft is not None:
                return SCol(get_field(as_col(obj), expr.name), self.resolve_type(ft)), outs
            # record members (§2.10: method / static / const, typecheck-only
            # in the reference — src/typechecker.rs:71-83): methods bind
            # `self` to the struct value and inline like any function
            for m in t.methods:
                if m[1] != expr.name:
                    continue
                if m[0] in ("method", "static"):
                    _, _, params, ret, body = m
                    menv = dict(BUILTINS)
                    if m[0] == "method":
                        menv["self"] = obj
                    return SFunc(tuple(params), ret, body, menv, expr.name), outs
                if m[0] == "const":
                    _, _, _ctype, value = m
                    cval, couts = self.compile_expr(value, dict(BUILTINS))
                    return cval, concat_outs(self.ctx, [outs, couts])
            raise KernelTypeError(f"record has no field {expr.name!r}")
        if isinstance(t, ast.TMap):
            value = call("element_at", as_col(obj), lit(expr.name))
            return SCol(value, self.resolve_type(t.value)), outs
        if t is ast.T_POINT and expr.name in ("x", "y"):
            return SCol(get_field(as_col(obj), expr.name), ast.T_FLOAT), outs
        if expr.name in METHOD_BUILTINS and isinstance(
            t, (ast.TList, ast.TMap)
        ) or (t is ast.T_STR and expr.name in METHOD_BUILTINS):
            # method-style builtin: `xs.join(", ")`, `s.upper()` — binds the
            # receiver as the first argument (README.md:235 `.join` usage)
            return replace(BUILTINS[expr.name], bound=(obj,)), outs
        raise KernelTypeError(f"dot access on {t!r}")

    def compile_has(self, expr: ast.Has, env: dict):
        obj, outs = self.compile_expr(expr.obj, env)
        t = vtype(obj)
        if isinstance(t, ast.TRecord):
            return SCol(f"({get_field(as_col(obj), expr.name)} IS NOT NULL)", ast.T_BOOL), outs
        if isinstance(t, ast.TMap):
            # coalesce to False: map_contains_key over a NULL object (e.g. a
            # missing nested key upstream) is NULL, but `.?.` is a presence
            # test — a missing object has nothing. This also makes the map
            # branch agree with the record branch (IS NOT NULL never yields
            # NULL) and with the interp's uniform False (r9 nested-access
            # fuzz probe).
            has = call("map_contains_key", as_col(obj), lit(expr.name))
            return SCol(call("coalesce", has, "false"), ast.T_BOOL), outs
        raise KernelTypeError(f".?. on {t!r}")

    def compile_index(self, expr: ast.Index, env: dict):
        obj, outs_o = self.compile_expr(expr.obj, env)
        idx, outs_i = self.compile_expr(expr.index, env)
        outs = concat_outs(self.ctx, [outs_o, outs_i])
        t = vtype(obj)
        if (isinstance(obj, SConst) and obj.value is None) or (
            isinstance(idx, SConst) and idx.value is None
        ):
            # a constant NULL object OR index NULL-propagates like the
            # runtime element_at (and interp.py Index: obj/idx None → None)
            # — newly reachable since Dot/Index on missing map keys fold to
            # SConst(None); e.g. xs[m.missing_key] (r9 ADVICE, medium)
            if isinstance(t, ast.TList):
                return SConst(None, self.resolve_type(t.item)), outs
            if isinstance(t, ast.TMap):
                return SConst(None, self.resolve_type(t.value)), outs
            if isinstance(t, ast.TTuple):
                if isinstance(idx, SConst) and idx.value is not None:
                    return (
                        SConst(None, self.resolve_type(t.items[idx.value])),
                        outs,
                    )
                # NULL index on a tuple: the element type is only knowable
                # when the tuple is homogeneous (the interp returns NULL
                # unconditionally, but the compiled path must pick a type)
                rts = [self.resolve_type(it) for it in t.items]
                if rts and all(r == rts[0] for r in rts):
                    return SConst(None, rts[0]), outs
                raise KernelTypeError(
                    "NULL index into a heterogeneous tuple has no type"
                )
        if isinstance(obj, SConst) and isinstance(idx, SConst) and isinstance(
            obj.value, list
        ):
            return obj.value[idx.value], outs
        if isinstance(t, ast.TList):
            # uDLang is 0-based; element_at is 1-based (SURVEY.md §2.2)
            ix = lit(idx.value + 1) if isinstance(idx, SConst) else f"({as_col(idx)} + 1)"
            return SCol(call("element_at", as_col(obj), ix), self.resolve_type(t.item)), outs
        if isinstance(t, ast.TMap):
            value = call("element_at", as_col(obj), as_col(idx))
            return SCol(value, self.resolve_type(t.value)), outs
        if isinstance(t, ast.TTuple):
            if not isinstance(idx, SConst):
                raise KernelTypeError("tuple index must be constant")
            return (
                SCol(get_field(as_col(obj), f"_{idx.value + 1}"), self.resolve_type(t.items[idx.value])),
                outs,
            )
        raise KernelTypeError(f"indexing {t!r}")

    def compile_clause(self, pred: ast.Expr | None, env: dict, body, negs=()):
        """One `if` clause: (predicate expression, the predicate's outputs,
        body()). body compiles the branch under the clause's reach path
        ¬n1 ∧ … ∧ ¬nk ∧ p — tracked on _path so a `throw` in the branch
        knows its reach condition (ast.Attempt). A constant predicate is
        pruned at compile time: true (or a None `pred`, an `else`) gives a
        None predicate; false gives a None body result, body never compiled."""
        pcol = pouts = None
        if pred is not None:
            pval, pouts = self.compile_expr(pred, env)
            if vtype(pval) is not ast.T_BOOL:
                raise KernelTypeError("condition must be Bool")
            if isinstance(pval, SConst) and not pval.value:
                return None, pouts, None
            if not isinstance(pval, SConst):
                pcol = as_col(pval)
        conds = [f"(NOT {n})" for n in negs] + ([pcol] if pcol is not None else [])
        with self._on_path(all_of(conds) if conds else None):
            return pcol, pouts, body()

    def compile_cond(self, expr: ast.Cond, env: dict):
        # values and outputs both lower to when-chains; constant predicates
        # prune branches at compile time
        compiled: list = []
        # the non-constant predicates already tried: branch i executes
        # under ¬p1 ∧ … ∧ ¬p(i-1) ∧ pi
        negs: list[str] = []
        for pred, body in expr.clauses:
            pcol, pouts, res = self.compile_clause(
                pred, env, lambda: self.compile_expr(body, env), negs
            )
            if res is None:  # constant-false: branch pruned
                compiled.append((None, pouts, None, None))
                continue
            compiled.append((pcol, pouts, *res))
            if pcol is None:  # constant-true: later clauses never run
                break
            negs.append(pcol)
        else:
            dval = douts = None
            if expr.default is not None:
                _, _, (dval, douts) = self.compile_clause(
                    None, env, lambda: self.compile_expr(expr.default, env), negs
                )
            compiled.append((None, None, dval, douts))

        # result type
        rtype: ast.Type | None = None
        for _, _, bval, _ in compiled:
            if isinstance(bval, (SCol, SConst)):
                rtype = vtype(bval) if rtype is None else unify(rtype, vtype(bval))

        # assemble: iterate reversed, building value + outs when-chains
        pred_outs_parts = [pouts for _, pouts, _, _ in compiled]

        # walk branches from last to first
        tail_val: str | None = None
        tail_outs: str | None = None
        for pcol, pouts, bval, bouts in reversed(compiled):
            if pcol is None:
                # default (or constant-true clause)
                tail_val = (
                    self.coerce_to(bval, rtype) if (bval is not None and rtype) else tail_val
                )
                tail_outs = bouts if bouts is not None else tail_outs
                continue
            if rtype is not None:
                null = cast("NULL", to_spark(rtype))
                branch_v = self.coerce_to(bval, rtype) if bval is not None else null
                tail_val = case(pcol, branch_v, tail_val if tail_val is not None else null)
            tail_outs = when_outs(self.ctx, pcol, bouts, tail_outs)

        outs_all = concat_outs(self.ctx, pred_outs_parts + [tail_outs])
        if rtype is None or tail_val is None:
            return SConst(None, ast.T_VOID), outs_all
        return SCol(tail_val, rtype), outs_all

    def compile_cast(self, expr: ast.Cast, env: dict):
        """`as` coercion (reference src/ir.rs:510-529 table + manual.md:121):
        Int↔Float (Float→Int truncates), Bool↔Int (intended true→1, not the
        reference's inverted table — SURVEY.md §7.5), Str→Bool (non-empty),
        List/Map→Bool (non-empty)."""
        v, outs = self.compile_expr(expr.expr, env)
        t = self.resolve_type(expr.type)
        vt = vtype(v)
        if isinstance(v, SConst) and v.value is None:
            # NULL casts to NULL of the target type (CAST semantics;
            # sized views pass too — their range check is NULL-transparent)
            return SConst(None, ast.T_INT if is_sized_int(t) else t), outs
        if vt == t:
            return v, outs
        if is_sized_int(t):
            # range-checked entry into a sized view (SURVEY.md §1.2): the
            # value stays in the i64 compute domain; out-of-range raises
            # instead of wrapping. Floats truncate toward zero first (the
            # reference `as i64` semantics), then check.
            name = t.name
            if isinstance(v, SConst) and isinstance(v.value, (int, float)) and not isinstance(v.value, bool):
                try:
                    return SConst(cast_value(v.value, t), ast.T_INT), outs
                except InterpError as exc:  # a compile-time range error
                    raise KernelTypeError(f"constant {exc}") from None
            if vt is ast.T_FLOAT or vt is ast.T_BOOL:
                v = SCol(cast(as_col(v), "BIGINT"), ast.T_INT)
                vt = ast.T_INT
            if vt is not ast.T_INT:
                raise KernelTypeError(f"cannot cast {vt!r} as {name}")
            if isinstance(v, SCol) and _check_subsumes(v.checked, name):
                return v, outs  # already checked into a view within range
            return (
                SCol(
                    sized_range_check(self._maybe_hoist(as_col(v), name), name),
                    ast.T_INT,
                    checked=name,
                ),
                outs,
            )
        if (
            isinstance(v, SConst)
            and not isinstance(v.value, (list, dict))
            and t in (ast.T_INT, ast.T_FLOAT, ast.T_BOOL)
        ):
            return SConst(cast_value(v.value, t), t), outs
        if t is ast.T_BOOL:
            if vt is ast.T_STR:
                return SCol(f"(length({as_col(v)}) > 0)", ast.T_BOOL), outs
            if isinstance(vt, (ast.TList, ast.TMap)):
                return SCol(f"(size({as_col(v)}) > 0)", ast.T_BOOL), outs
            if vt is ast.T_INT:
                return SCol(f"({as_col(v)} != 0)", ast.T_BOOL), outs
        if vt is ast.T_BOOL and t is ast.T_INT:
            return SCol(cast(as_col(v), "BIGINT"), ast.T_INT), outs
        if vt is ast.T_INT and t is ast.T_FLOAT:
            return SCol(cast(as_col(v), "DOUBLE"), ast.T_FLOAT), outs
        if vt is ast.T_FLOAT and t is ast.T_INT:
            # truncation toward zero (reference src/ir.rs:523 `as i64`)
            return SCol(cast(as_col(v), "BIGINT"), ast.T_INT), outs
        if isinstance(t, ast.TUnion):
            return SCol(self.coerce_to(v, t), t), outs
        raise KernelTypeError(f"cannot cast {vt!r} as {t!r}")

    def compile_match(self, expr: ast.Match, env: dict):
        """match → when-chain (SURVEY.md §2.2 `match` row): literal patterns
        are equality tests, `None` is a null test, typed binds on a union
        subject are `_tag` tests that bind the narrowed variant branch.
        Unmatched rows poison (runtime error), mirroring the reference VM's
        would-be no-match panic. The subject expression is referenced once
        per arm — keep subjects simple or bind them with `let` first."""
        sval, souts = self.compile_expr(expr.subject, env)
        st = vtype(sval)
        arms: list[tuple[SVal | None, SVal, str | None]] = []
        matched_always = False
        match_negs: list[str] = []  # throw reach-conds, as in compile_cond

        def arm_path(ccol: str | None) -> str | None:
            conds = [f"(NOT {n})" for n in match_negs] + ([ccol] if ccol is not None else [])
            return all_of(conds) if conds else None

        for arm in expr.arms:
            pat = arm.pattern
            bind_env = dict(env)
            cond: SVal | None
            if isinstance(pat, ast.PLit):
                pt = python_type_of(pat.value)
                try:
                    unify(st, pt)
                except KernelTypeError:
                    # cross-type equality is false, never an error
                    cond = SConst(False, ast.T_BOOL)
                else:
                    if isinstance(sval, SConst):
                        cond = SConst(sval.value == pat.value, ast.T_BOOL)
                    else:
                        cond = SCol(f"({as_col(sval)} = {lit(pat.value)})", ast.T_BOOL)
            elif isinstance(pat, ast.PNone):
                if isinstance(sval, SConst):
                    cond = SConst(sval.value is None, ast.T_BOOL)
                else:
                    cond = SCol(f"({as_col(sval)} IS NULL)", ast.T_BOOL)
            elif isinstance(pat, ast.PBind):
                if pat.type is None:
                    cond = None
                    bind_env[pat.name] = sval
                else:
                    # sized views match as their compute domain (a `x: U8`
                    # bind behaves as `x: Int` — types.collapse_sized,
                    # mirrored by the interp's pattern resolution)
                    pt = collapse_sized(self.resolve_type(pat.type))
                    if isinstance(st, ast.TUnion):
                        idx = next(
                            (i for i, v in enumerate(st.variants) if v == pt), None
                        )
                        if idx is None:
                            cond = SConst(False, ast.T_BOOL)
                        else:
                            scol = as_col(sval)
                            tag = get_field(scol, "_tag")
                            cond = SCol(f"({tag} = {lit(type_tag(pt))})", ast.T_BOOL)
                            bind_env[pat.name] = SCol(get_field(scol, f"_{idx}"), pt)
                    else:
                        inner = st.inner if isinstance(st, ast.TOption) else st
                        if inner == pt:
                            if isinstance(st, ast.TOption) and isinstance(sval, SCol):
                                cond = SCol(f"({as_col(sval)} IS NOT NULL)", ast.T_BOOL)
                                bind_env[pat.name] = SCol(as_col(sval), pt)
                            else:
                                cond = None
                                bind_env[pat.name] = sval
                        else:
                            cond = SConst(False, ast.T_BOOL)
            else:
                raise KernelCompileError(f"unsupported pattern {pat!r}")
            if isinstance(cond, SConst):
                if not cond.value:
                    continue  # statically never matches
                cond = None  # statically always matches
            ccol = as_col(cond) if cond is not None else None
            with self._on_path(arm_path(ccol)):
                bval, bouts = self.compile_expr(arm.body, bind_env)
            arms.append((cond, bval, bouts))
            if cond is None:
                matched_always = True
                break
            match_negs.append(ccol)

        rtype: ast.Type | None = None
        for _, bval, _ in arms:
            if isinstance(bval, (SCol, SConst)) and vtype(bval) is not ast.T_VOID:
                rtype = vtype(bval) if rtype is None else unify(rtype, vtype(bval))
        spark_rt = to_spark(rtype) if rtype is not None else None

        tail_val: str | None = None
        tail_outs: str | None = None
        if not matched_always:
            fail = call("assert_true", "false", lit("match: no case matched"))
            if spark_rt is not None:
                tail_val = cast(fail, spark_rt)
            tail_outs = call("array", cast(fail, self.ctx.out_spark_type))
        for cond, bval, bouts in reversed(arms):
            if cond is None:
                tail_val = (
                    self.coerce_to(bval, rtype)
                    if (bval is not None and rtype is not None)
                    else tail_val
                )
                tail_outs = bouts
                continue
            ccol = as_col(cond)
            if rtype is not None:
                null = cast("NULL", spark_rt)
                bv = self.coerce_to(bval, rtype) if bval is not None else null
                tail_val = case(ccol, bv, tail_val if tail_val is not None else null)
            tail_outs = when_outs(self.ctx, ccol, bouts, tail_outs)

        outs_all = concat_outs(self.ctx, [souts, tail_outs])
        if rtype is None or tail_val is None:
            return SConst(None, ast.T_VOID), outs_all
        return SCol(tail_val, rtype), outs_all

    def compile_comprehension(self, expr: ast.Comprehension, env: dict):
        """`[xs | f]` → transform(xs, λ) (SURVEY.md §2.4 comprehension row).
        The body is inlined per element; it must be pure (no `out`)."""
        seq, souts = self.compile_expr(expr.seq, env)
        st = vtype(seq)
        if isinstance(st, ast.TOption):
            st = st.inner
        if not isinstance(st, ast.TList):
            raise KernelTypeError(f"comprehension over non-list {st!r}")
        item_t = st.item

        fnexpr = expr.fn
        if isinstance(fnexpr, ast.Lambda):
            fn = SFunc(fnexpr.params, fnexpr.ret, fnexpr.body, dict(env))
        elif isinstance(fnexpr, ast.Id) and isinstance(env.get(fnexpr.name), SFunc):
            fn = env[fnexpr.name]
        else:
            # `$`-partial expression — implicit one-param lambda
            fn = SFunc((("$", item_t),), ast.T_ANY, fnexpr, dict(env))
        if len(fn.params) != 1:
            raise KernelTypeError("comprehension function must take exactly 1 argument")
        pname, ptype_decl = fn.params[0]
        ptype = (
            self.resolve_type(ptype_decl) if ptype_decl is not ast.T_ANY else item_t
        )

        result_t: list[ast.Type] = []

        def body_fn(el: str) -> str:
            benv = dict(fn.env)
            benv[pname] = SCol(el, ptype)
            with self._in_hof():
                bval, bouts = self.compile_expr(fn.body, benv)
            if bouts is not None:
                raise KernelCompileError("comprehension body cannot emit (`out`)")
            result_t.append(vtype(bval))
            return as_col(bval)

        col = call("transform", as_col(seq), self.lambda_fn(body_fn))
        return SCol(col, ast.TList(result_t[0])), souts

    def compile_block_expr(self, expr: ast.Block, env: dict):
        inner = dict(env)
        parts = [self.compile_stmt(s, inner) for s in expr.stmts]
        if expr.ret is None:
            return SConst(None, ast.T_VOID), concat_outs(self.ctx, parts)
        val, routs = self.compile_expr(expr.ret, inner)
        return val, concat_outs(self.ctx, parts + [routs])

    # -- coercion ----------------------------------------------------------
    def coerce_to(self, v: SVal, t: ast.Type) -> str:
        """Cast a value to a declared type. Coercion semantics follow the
        reference's `as` table (src/ir.rs:510-529): Int↔Float (Float→Int
        truncates — Spark cast("long") truncates too), Bool↔Int (we implement
        the intended true→1, not the reference's inverted table — SURVEY.md
        §7.5). The declared output/param type is authoritative."""
        t = self.resolve_type(t)
        vt = vtype(v)
        if isinstance(v, SConst) and v.value is None:
            return cast("NULL", to_spark(t))
        if vt == t or t is ast.T_ANY:
            return as_col(v)
        if is_sized_int(t):
            # sized OUTPUT/declared type: range check, then narrow to the
            # storage type (ByteType..Decimal(20,0)). A value already
            # checked into a view whose range fits is NOT re-checked —
            # `out (…) as U64;` used to wrap the cast's check in the output
            # coercion's check, squaring the tree (round-10 k_tower fix).
            base = v
            if vtype(base) is ast.T_FLOAT or vtype(base) is ast.T_BOOL:
                base = SCol(cast(as_col(base), "BIGINT"), ast.T_INT)
            if vtype(base) is not ast.T_INT:
                raise KernelTypeError(f"cannot coerce {vt!r} to {t!r}")
            if isinstance(base, SCol) and _check_subsumes(base.checked, t.name):
                return cast(as_col(base), to_spark(t))
            return cast(
                sized_range_check(self._maybe_hoist(as_col(base), t.name), t.name),
                to_spark(t),
            )
        if isinstance(t, ast.TOption):
            return self.coerce_to(v, t.inner)
        if vt is ast.T_INT and t is ast.T_FLOAT:
            return cast(as_col(v), "DOUBLE")
        if vt is ast.T_FLOAT and t is ast.T_INT:
            return cast(as_col(v), "BIGINT")  # truncation, matches reference intent
        if vt is ast.T_BOOL and t is ast.T_INT:
            return cast(as_col(v), "BIGINT")
        if vt is ast.T_INT and t is ast.T_BOOL:
            return f"({as_col(v)} != 0)"
        if isinstance(t, ast.TUnion):
            # wrap into the tagged struct (SURVEY.md §7.5): _tag names the
            # variant, the matching branch holds the value, others are null
            variants = t.variants
            idx = next((i for i, var in enumerate(variants) if var == vt), None)
            if idx is None and vt is ast.T_INT and ast.T_FLOAT in variants:
                idx = variants.index(ast.T_FLOAT)
                v = SCol(cast(as_col(v), "DOUBLE"), ast.T_FLOAT)
                vt = ast.T_FLOAT
            if idx is None:
                raise KernelTypeError(f"{vt!r} is not a variant of {t!r}")
            fields = [lit("_tag"), lit(type_tag(variants[idx]))]
            for i, var in enumerate(variants):
                value = self.coerce_to(v, var) if i == idx else cast("NULL", to_spark(var))
                fields += [lit(f"_{i}"), value]
            return call("named_struct", *fields)
        spark_t = to_spark(t)
        if to_spark(vt) == spark_t:
            return as_col(v)
        return cast(as_col(v), spark_t)


# --------------------------------------------------------------------------
# Built-in function library (SURVEY.md §2.3 "ext" row). All compile-time:
# each native maps arg SVals to a result SVal (SQL expression or folded
# constant) — nothing exists at runtime but the Catalyst expression. Folded
# constants come from the interpreter's SCALAR_BUILTINS.
# --------------------------------------------------------------------------
def _num2(name, fn):
    def apply(comp, args):
        a, b = args
        t = unify(vtype(a), vtype(b))
        if t not in (ast.T_INT, ast.T_FLOAT):
            raise KernelTypeError(f"{name} on {t!r}")
        if isinstance(a, SConst) and isinstance(b, SConst):
            # coerce the operand(s) to the unified type so the SConst
            # payload/type invariant holds (min(2, NULL-Float) is T_FLOAT
            # and must carry 2.0, not int 2 — r10 ADVICE); NULLs are skipped
            # like least/greatest do at runtime
            conv = float if t is ast.T_FLOAT else int
            x, y = (None if v is None else conv(v) for v in (a.value, b.value))
            return SConst(SCALAR_BUILTINS[name](x, y), t)
        ca, cb = as_col(a), as_col(b)
        if t is ast.T_FLOAT:
            ca, cb = cast(ca, "DOUBLE"), cast(cb, "DOUBLE")
        return SCol(call(fn, ca, cb), t)

    return apply


def _math1(fname):
    def apply(comp, args):
        (a,) = args
        if vtype(a) not in (ast.T_INT, ast.T_FLOAT):
            raise KernelTypeError(f"{fname} on {vtype(a)!r}")
        if isinstance(a, SConst):
            if a.value is None:  # NULL-propagate like the runtime column
                return SConst(None, ast.T_FLOAT)
            return SConst(SCALAR_BUILTINS[fname](a.value), ast.T_FLOAT)
        return SCol(call(fname, cast(as_col(a), "DOUBLE")), ast.T_FLOAT)

    return apply


def _n_abs(comp, args):
    (a,) = args
    t = vtype(a)
    if t not in (ast.T_INT, ast.T_FLOAT):
        raise KernelTypeError(f"abs on {t!r}")
    if isinstance(a, SConst):
        if a.value is None:  # NULL-propagate like the runtime column
            return SConst(None, t)
        return SConst(SCALAR_BUILTINS["abs"](a.value), t)
    return SCol(call("abs", as_col(a)), t)


def _shift(name, direction):
    def apply(comp, args):
        a, b = args
        if vtype(a) is not ast.T_INT or vtype(b) is not ast.T_INT:
            raise KernelTypeError("shift on non-Int")
        if isinstance(a, SConst) and isinstance(b, SConst):
            if a.value is None or b.value is None:  # runtime shift is NULL
                return SConst(None, ast.T_INT)
            return SConst(SCALAR_BUILTINS[name](a.value, b.value), ast.T_INT)
        # SQL shiftleft/shiftright operate on INT/BIGINT; both args as cols
        return SCol(call(direction, as_col(a), cast(as_col(b), "INT")), ast.T_INT)

    return apply


def _floorceil(fname):
    def apply(comp, args):
        (a,) = args
        if vtype(a) not in (ast.T_INT, ast.T_FLOAT):
            raise KernelTypeError(f"{fname} on {vtype(a)!r}")
        if isinstance(a, SConst):
            if a.value is None:  # NULL-propagate like the runtime column
                return SConst(None, ast.T_INT)
            return SConst(SCALAR_BUILTINS[fname](a.value), ast.T_INT)
        return SCol(cast(call(fname, as_col(a)), "BIGINT"), ast.T_INT)

    return apply


def _n_length(comp, args):
    (a,) = args
    t = vtype(a)
    if (
        isinstance(a, SConst)
        and a.value is None
        and (t is ast.T_STR or isinstance(t, (ast.TList, ast.TMap)))
    ):
        return SConst(None, ast.T_INT)  # length/size of NULL is NULL
    if isinstance(a, SConst) and isinstance(a.value, (str, list, dict)):
        return SConst(SCALAR_BUILTINS["length"](a.value), ast.T_INT)
    if t is ast.T_STR:
        return SCol(cast(call("length", as_col(a)), "BIGINT"), ast.T_INT)
    if isinstance(t, (ast.TList, ast.TMap)):
        return SCol(cast(call("size", as_col(a)), "BIGINT"), ast.T_INT)
    raise KernelTypeError(f"length on {t!r}")


def _n_join(comp, args):
    xs, sep = args
    t = vtype(xs)
    if not (isinstance(t, ast.TList) and t.item in (ast.T_STR, ast.T_ANY)):
        raise KernelTypeError(f"join on {t!r}")
    if vtype(sep) is not ast.T_STR:
        raise KernelTypeError("join separator must be Str")
    return SCol(call("array_join", as_col(xs), as_col(sep)), ast.T_STR)


def _str1(fname):
    def apply(comp, args):
        (a,) = args
        if vtype(a) is not ast.T_STR:
            raise KernelTypeError(f"{fname} on {vtype(a)!r}")
        return SCol(call(fname, as_col(a)), ast.T_STR)

    return apply


def _n_split(comp, args):
    import re as _re

    s, sep = args
    if vtype(s) is not ast.T_STR or not isinstance(sep, SConst):
        raise KernelTypeError("split(s, sep) needs a Str and a constant separator")
    if sep.value is None:  # split on a NULL pattern is NULL
        return SConst(None, ast.TList(ast.T_STR))
    return SCol(call("split", as_col(s), lit(_re.escape(sep.value)), "-1"), ast.TList(ast.T_STR))


def _n_replace(comp, args):
    s, old, new = args
    if vtype(s) is not ast.T_STR:
        raise KernelTypeError("replace on non-Str")
    return SCol(call("replace", as_col(s), as_col(old), as_col(new)), ast.T_STR)


def _n_substr(comp, args):
    s, start, length = args
    if vtype(s) is not ast.T_STR:
        raise KernelTypeError("substr on non-Str")
    # 0-based (matching the reference's 0-based indexing — SURVEY.md §2.2)
    pos = f"({cast(as_col(start), 'INT')} + 1)"
    return SCol(call("substring", as_col(s), pos, cast(as_col(length), "INT")), ast.T_STR)


def _n_contains(comp, args):
    hay, needle = args
    t = vtype(hay)
    if t is ast.T_STR:
        return SCol(call("contains", as_col(hay), as_col(needle)), ast.T_BOOL)
    if isinstance(t, ast.TList):
        return SCol(call("array_contains", as_col(hay), as_col(needle)), ast.T_BOOL)
    raise KernelTypeError(f"contains on {t!r}")


def _inline1(comp, fn, item_t):
    """One-arg SFunc → SQL lambda, enforcing purity."""
    if not isinstance(fn, SFunc) or len(fn.params) != 1:
        raise KernelTypeError("expected a 1-argument function")
    pname, ptype = fn.params[0]
    et = comp.resolve_type(ptype) if ptype is not ast.T_ANY else item_t
    rtypes: list[ast.Type] = []

    def body(x: str) -> str:
        benv = dict(fn.env)
        benv[pname] = SCol(x, et)
        with comp._in_hof():
            bval, bouts = comp.compile_expr(fn.body, benv)
        if bouts is not None:
            raise KernelCompileError("higher-order function body cannot `out`")
        rtypes.append(vtype(bval))
        return as_col(bval)

    return comp.lambda_fn(body), rtypes


def _n_map(comp, args):
    xs, fn = args
    t = vtype(xs)
    if not isinstance(t, ast.TList):
        raise KernelTypeError(f"map on {t!r}")
    body, rtypes = _inline1(comp, fn, t.item)
    col = call("transform", as_col(xs), body)
    return SCol(col, ast.TList(rtypes[0]))


def _n_filter(comp, args):
    xs, fn = args
    t = vtype(xs)
    if not isinstance(t, ast.TList):
        raise KernelTypeError(f"filter on {t!r}")
    body, rtypes = _inline1(comp, fn, t.item)
    col = call("filter", as_col(xs), body)
    if rtypes[0] is not ast.T_BOOL:
        raise KernelTypeError("filter predicate must return Bool")
    return SCol(col, t)


def _n_reduce(comp, args):
    """reduce(xs, init, fn(acc, x)) → aggregate(xs, init, λ) — the Reduce
    the reference planned at src/ir.rs:222."""
    xs, init, fn = args
    t = vtype(xs)
    if not isinstance(t, ast.TList):
        raise KernelTypeError(f"reduce on {t!r}")
    if not isinstance(fn, SFunc) or len(fn.params) != 2:
        raise KernelTypeError("reduce needs a 2-argument function")
    (aname, atype), (xname, xtype) = fn.params
    acc_t = vtype(init)
    item_t = comp.resolve_type(xtype) if xtype is not ast.T_ANY else t.item

    def merge(acc: str, x: str) -> str:
        benv = dict(fn.env)
        benv[aname] = SCol(acc, acc_t)
        benv[xname] = SCol(x, item_t)
        with comp._in_hof():
            bval, bouts = comp.compile_expr(fn.body, benv)
        if bouts is not None:
            raise KernelCompileError("reduce body cannot `out`")
        return comp.coerce_to(bval, acc_t)

    col = call("aggregate", as_col(xs), cast(as_col(init), to_spark(acc_t)), comp.lambda_fn(merge, 2))
    return SCol(col, acc_t)


_COMPILE_BUILTIN = {
    "min": _num2("min", "least"),
    "max": _num2("max", "greatest"),
    "abs": _n_abs,
    "shl": _shift("shl", "shiftleft"),
    "shr": _shift("shr", "shiftright"),
    **{name: _math1(name) for name in ("sqrt", "cos", "sin", "tan", "log", "exp")},
    "floor": _floorceil("floor"),
    "ceil": _floorceil("ceil"),
    "length": _n_length,
    "join": _n_join,
    "split": _n_split,
    "upper": _str1("upper"),
    "lower": _str1("lower"),
    "trim": _str1("trim"),
    "replace": _n_replace,
    "substr": _n_substr,
    "contains": _n_contains,
    "map": _n_map,
    "filter": _n_filter,
    "reduce": _n_reduce,
}

# names and arities come from the interpreter's table, so both execution
# paths expose the same library
BUILTINS = {
    name: SNative(name=name, arity=arity, fn=_COMPILE_BUILTIN[name])
    for name, arity in BUILTIN_ARITY.items()
}

# builtins also reachable method-style via dot on a fitting receiver:
# `xs.join(", ")`, `s.upper()`, `xs.map(f)` (README.md:235 `.join` usage)
METHOD_BUILTINS = {
    "join", "length", "map", "filter", "reduce", "contains",
    "upper", "lower", "trim", "split", "replace", "substr",
}
