"""Per-row AST interpreter — the recursion fallback of SURVEY.md §2.10.

The kernel compiler inlines and unrolls recursion into SQL expressions
up to `max_depth` (with a poison guard beyond); that covers the common
case with zero Python in the hot path. For genuinely unbounded recursion
(the reference VM recurses natively to any depth — src/vm.rs:561-580),
`Kernel.apply(recursion="interp")` runs THIS interpreter inside an
Arrow-batched mapInPandas stage instead: reference semantics at any
depth, at Python speed — the documented slow path, chosen per-kernel,
never silently.

Semantics follow the reference's operator table (src/ir.rs:429-696):
truncated integer division/modulo (Rust `/`/`%` on i64 — NOT Python's
floored `//`), `+` on strings = concat, non-short-circuit logic, deep
`==` with cross-type False, `!` pass-through. Unsupported constructs
raise InterpError naming the node — never silently diverge from the
compiled path.

This module holds the one copy of uDLang's value semantics over plain
Python values: the operators (`binop`, `unop`, `trunc_div`), the `as`
cast (`cast_value`) and the scalar builtins (`SCALAR_BUILTINS`, named
with their arities in `BUILTIN_ARITY`). The compiler's constant folding
calls these same functions, so a fold computes the value this interpreter
computes (the one deliberate exception, Int ^ negative Int, is noted in
compiler.compile_bin); type resolution is shared too (types.resolve_type).
"""

from __future__ import annotations

import math
import operator
from dataclasses import dataclass

from udlang_spark.kernel import ast
from udlang_spark.kernel.types import (
    SIZED_INTS,
    KernelTypeError,
    collapse_sized,
    collect_typedefs,
    is_sized_int,
    python_type_of,
    resolve_type,
    type_tag,
    unify,
)

VOID = object()  # a proc's "value": never emitted by `out`


class InterpError(Exception):
    pass


class InterpThrow(Exception):
    """A uDLang `throw` in flight: recoverable by an enclosing `attempt`
    (ast.Attempt); fatal (converted to InterpError) if it escapes the
    kernel body — matching the compiled path's raise_error."""

    def __init__(self, message: str):
        super().__init__(message)
        self.message = message


class MapVal(dict):
    """Runtime marker for map-typed dicts. The compiled path is statically
    typed (compile_has branches on TMap vs TRecord); the interp is runtime-
    typed, so map literals carry this subclass to keep `.?.` (key
    containment, map_contains_key semantics: True for a key held with a
    NULL value) distinguishable from record `.?.` (field isNotNull) and
    from the tuple encoding (dict keyed _1.._n). Maps only ever originate
    from ast.MapExpr in the interp subset, so the marker is total."""


def _is_tuple_dict(v: dict, n: int | None = None) -> bool:
    """True when `v` is the interp's tuple encoding: keys exactly _1.._k
    (k = n when given), no _tag."""
    k = n if n is not None else len(v)
    return (
        not isinstance(v, MapVal)
        and len(v) == k
        and all(f"_{i + 1}" in v for i in range(k))
    )


@dataclass
class Closure:
    fn: ast.Lambda
    env: dict  # live reference — lets recursion see its own binding


@dataclass
class Native:
    """A builtin as a runtime value (the named function library, SURVEY.md
    §2.3 ext row): a SCALAR_BUILTINS function, or a HOF_BUILTINS one that
    also takes the interpreter's function-application callback."""

    name: str
    arity: int
    fn: object


class Interp:
    def __init__(self, program: ast.Program, max_steps: int = 5_000_000):
        if program.kind != "script":
            raise InterpError("only scripts are executable")
        self.program = program
        self.typedefs = collect_typedefs(program)
        self.max_steps = max_steps
        self._steps = 0

    def run(self, in_value) -> list:
        """Execute decls + body for one input record; returns outputs."""
        import sys

        # ~7 Python frames per kernel-level recursion; CPython 3.11 heap-
        # allocates pure-Python frames, so a high limit is safe here. The
        # real guard is max_steps below. The raise lasts for this call
        # only: the rest of the process keeps its own limit.
        prev_limit = sys.getrecursionlimit()
        sys.setrecursionlimit(max(prev_limit, 200_000))
        self._steps = 0
        outs: list = []
        env: dict = dict(_NATIVES)
        try:
            for stmt in list(self.program.decls) + list(self.program.body):
                self.exec_stmt(stmt, env, in_value, outs)
        except InterpThrow as t:
            # uncaught throw is fatal for the record, like the compiled
            # raise_error path
            raise InterpError(f"throw: {t.message!r}") from None
        finally:
            sys.setrecursionlimit(prev_limit)
        return outs

    # -- closure application --------------------------------------------
    def apply_fn(self, fn, args: list, in_value, outs: list):
        if isinstance(fn, Native):
            if len(args) != fn.arity:
                raise InterpError(f"{fn.name} expects {fn.arity} args")
            # NULL propagation, mirroring the compiled Column builtins
            # (r10 builtins-null fuzz family): least/greatest SKIP NULLs
            # (non-NULL operand wins, NULL only when both are); reduce's
            # NULL init flows into the merge exactly like F.aggregate's;
            # every other builtin is NULL on any NULL argument.
            # Function-valued args (map/filter/reduce lambdas) are never
            # None, so the generic any() check is safe for them.
            if fn.name == "reduce":
                if args[0] is None:
                    return None
            elif fn.name not in ("min", "max") and any(a is None for a in args):
                return None
            if fn.name in HOF_BUILTINS:
                return fn.fn(
                    lambda f, *xs: self.apply_fn(f, list(xs), in_value, outs),
                    *args,
                )
            return fn.fn(*args)
        if not isinstance(fn, Closure):
            raise InterpError("call of a non-function value")
        params = fn.fn.params
        call_env = dict(fn.env)
        if fn.fn.rest_param is not None:
            if len(args) < len(params):
                raise InterpError("arity mismatch")
            call_env[fn.fn.rest_param[0]] = list(args[len(params) :])
            args = args[: len(params)]
        elif len(args) != len(params):
            raise InterpError("arity mismatch")
        for (name, _t), v in zip(params, args):
            call_env[name] = v
        return self.eval(fn.fn.body, call_env, in_value, outs)

    # -- statements ------------------------------------------------------
    def exec_stmt(self, stmt, env: dict, in_value, outs: list) -> None:
        if isinstance(stmt, ast.Let):
            env[stmt.name] = self.eval(stmt.value, env, in_value, outs)
        elif isinstance(stmt, ast.Out):
            v = self.eval(stmt.value, env, in_value, outs)
            # `out <void>` emits NULL — faithful to the VM pushing None
            # (matches the compiled path; see tests/test_kernel_examples.py
            # test_count)
            outs.append(None if v is VOID else v)
        elif isinstance(stmt, ast.ExprStmt):
            self.eval(stmt.expr, env, in_value, outs)
        elif isinstance(stmt, ast.TypeDef):
            pass
        elif isinstance(stmt, ast.Destructure):
            # `let {a, b} = expr;` — mirror compile_stmt: each name binds
            # the record field / map value (Dot semantics)
            val = self.eval(stmt.value, env, in_value, outs)
            if not isinstance(val, dict):
                raise InterpError("destructure of a non-record/map value")
            for name in stmt.names:
                # Mirror Dot / compiled element_at semantics: an absent map
                # key binds NULL (record fields are statically checked, so
                # for records this get() always hits).
                env[name] = val.get(name)
        elif isinstance(stmt, ast.ListIter):
            # mirror compile_list_iter: per element, execute the body for
            # effect with the loop var scoped to the iteration (a fresh
            # env copy per element — body Lets never leak)
            src = self.eval(stmt.source, env, in_value, outs)
            if not isinstance(src, list):
                raise InterpError("for..in over a non-list value")
            for item in src:
                inner = dict(env)
                inner[stmt.var] = item
                self.eval(stmt.body, inner, in_value, outs)
        elif isinstance(stmt, ast.MapIter):
            # mirror compile_map_iter: construction-order entries (Python
            # dicts and Spark map_entries both preserve insertion order)
            src = self.eval(stmt.source, env, in_value, outs)
            if not isinstance(src, dict):
                raise InterpError("for (k, v) over a non-map value")
            for k, item in src.items():
                inner = dict(env)
                inner[stmt.key_var] = k
                inner[stmt.val_var] = item
                self.eval(stmt.body, inner, in_value, outs)
        elif isinstance(stmt, ast.Throw):
            raise InterpThrow(str(self.eval(stmt.value, env, in_value, outs)))
        elif isinstance(stmt, ast.Suppose):
            # subjunctive (reference src/ir.rs:900-924, src/vm.rs:603-638):
            # run the delegate with its outs redirected into a capture
            # buffer; non-empty → run the branch with `...;` replaying the
            # buffer, empty → run the leaf. The explicit outs threading IS
            # the VM's capture stack: a nested suppose in the branch (or
            # the delegate) allocates its own buffer recursively, so the
            # inner `...;` replays the inner captures only.
            caps: list = []
            self.eval(stmt.delegate, env, in_value, caps)
            if caps:
                # the capture list binds LEXICALLY into the branch scope
                # (same rule as the compiler's `branch_env["..."] = cand`):
                # a closure defined inside the branch captures it with its
                # env; a proc defined OUTSIDE the branch does not see it,
                # so a `...;` in such a proc body is rejected on both
                # execution paths instead of silently replaying whatever
                # suppose happens to be dynamically active (r11 ADVICE).
                branch_env = dict(env)
                branch_env["..."] = caps
                self.eval(stmt.branch, branch_env, in_value, outs)
            else:
                self.eval(stmt.leaf, env, in_value, outs)
        elif isinstance(stmt, ast.EffectCapture):
            if "..." not in env:
                raise InterpError("`...;` outside a suppose branch")
            outs.extend(env["..."])
        else:
            raise InterpError(f"unsupported statement in interp fallback: {type(stmt).__name__}")

    # -- expressions -----------------------------------------------------
    def eval(self, e, env: dict, in_value, outs: list):
        self._steps += 1
        if self._steps > self.max_steps:
            raise InterpError("interp step budget exceeded (runaway recursion?)")
        if isinstance(e, ast.Lit):
            return e.value
        if isinstance(e, ast.In):
            return in_value
        if isinstance(e, ast.Id):
            if e.name not in env:
                raise InterpError(f"unbound identifier {e.name!r}")
            return env[e.name]
        if isinstance(e, ast.Partial):
            # `$` as a term: the comprehension/partial-expression element —
            # mirrors compiler.compile_expr's Partial case (env lookup)
            if "$" in env:
                return env["$"]
            raise InterpError("`$` used outside a partial context")
        if isinstance(e, ast.Lambda):
            return Closure(e, env)
        if isinstance(e, ast.Attempt):
            # transactional: outs emitted by the aborted body are discarded
            mark = len(outs)
            try:
                return self.eval(e.body, env, in_value, outs)
            except InterpThrow as t:
                del outs[mark:]
                fb_env = dict(env)
                if e.bind is not None:
                    fb_env[e.bind] = t.message
                return self.eval(e.fallback, fb_env, in_value, outs)
        if isinstance(e, ast.Call):
            # `$` / `$...` partials desugar to a closure over the current
            # env, mirroring the compiler's compile-time curry — for USER
            # functions only: compile_call's SNative branch never curries
            # (built-ins have fixed arity), it resolves `$` as a term from
            # the enclosing partial context instead, so the interp must
            # evaluate native args directly too (the Partial case above).
            # The callee evaluates first either way, like compile_call.
            fn = self.eval(e.func, env, in_value, outs)
            if not isinstance(fn, Native) and any(
                isinstance(a, (ast.Partial, ast.PartialRest)) for a in e.args
            ):
                fresh: list[tuple[str, ast.Type]] = []
                filled: list[ast.Expr] = []
                rest: tuple[str, ast.Type] | None = None
                for i, a in enumerate(e.args):
                    if isinstance(a, ast.PartialRest):
                        # mirror compile_call's checks exactly: `$...` must
                        # be last and requires the callee to declare a rest
                        # parameter (r11 spread-arity fuzz found the interp
                        # silently accepting both violations)
                        if a is not e.args[-1]:
                            raise InterpError("`$...` must be the final argument")
                        decl = fn.fn if isinstance(fn, Closure) else None
                        if decl is not None and decl.rest_param is None:
                            raise InterpError(
                                "`$...` requires the callee to declare a "
                                "rest parameter (reference README.md:370-373)"
                            )
                        rest = ("__rest", ast.T_ANY)
                        filled.append(ast.Spread(ast.Id("__rest")))
                    elif isinstance(a, ast.Partial):
                        pname = f"__partial_{i}"
                        fresh.append((pname, ast.T_ANY))
                        filled.append(ast.Id(pname))
                    else:
                        filled.append(a)
                lam = ast.Lambda(
                    tuple(fresh),
                    ast.T_ANY,
                    ast.Call(e.func, tuple(filled)),
                    rest_param=rest,
                )
                return Closure(lam, dict(env))
            args = []
            for a in e.args:
                if isinstance(a, ast.Spread):
                    v = self.eval(a.expr, env, in_value, outs)
                    if not isinstance(v, list):
                        raise InterpError("`...` spread of a non-list value")
                    args.extend(v)
                else:
                    args.append(self.eval(a, env, in_value, outs))
            return self.apply_fn(fn, args, in_value, outs)
        if isinstance(e, ast.Block):
            inner = dict(env)
            for s in e.stmts:
                self.exec_stmt(s, inner, in_value, outs)
            if e.ret is None:
                return VOID
            return self.eval(e.ret, inner, in_value, outs)
        if isinstance(e, ast.Cond):
            for pred, body in e.clauses:
                p = self.eval(pred, env, in_value, outs)
                if not isinstance(p, bool):
                    raise InterpError("condition must be Bool")
                if p:
                    return self.eval(body, env, in_value, outs)
            if e.default is not None:
                return self.eval(e.default, env, in_value, outs)
            return VOID
        if isinstance(e, ast.Bin):
            return binop(e.op, self.eval(e.a, env, in_value, outs),
                         self.eval(e.b, env, in_value, outs))
        if isinstance(e, ast.Un):
            a = self.eval(e.a, env, in_value, outs)
            if e.op == "!":
                return a  # debug tap: pass-through
            return unop(e.op, a)
        if isinstance(e, ast.ListExpr):
            return [self.eval(x, env, in_value, outs) for x in e.items]
        if isinstance(e, ast.Index):
            obj = self.eval(e.obj, env, in_value, outs)
            idx = self.eval(e.index, env, in_value, outs)
            if obj is None or idx is None:
                return None  # compiled element_at/getField NULL propagation
            if (
                isinstance(obj, dict)
                and not isinstance(obj, MapVal)
                and isinstance(idx, int)
                and not isinstance(idx, bool)
            ):
                # tuple encoding (_1.._n): t[k] → getField("_{k+1}") on the
                # compiled path (compile_index TTuple branch)
                key = f"_{idx + 1}"
                if key not in obj:
                    raise InterpError(f"tuple index {idx} out of range")
                return obj[key]
            try:
                return obj[idx]
            except (IndexError, KeyError) as exc:
                raise InterpError(f"index error: {exc}") from exc
        if isinstance(e, ast.Cast):
            return cast_value(
                self.eval(e.expr, env, in_value, outs), self._resolve(e.type)
            )
        if isinstance(e, ast.Match):
            return self._match(e, env, in_value, outs)
        if isinstance(e, ast.MapExpr):
            return MapVal(
                (k, self.eval(v, env, in_value, outs)) for k, v in e.items
            )
        if isinstance(e, ast.TupleExpr):
            # the compiled encoding: struct fields _1.._n (types.to_spark);
            # a dict keeps Dot("_k") access uniform with records/maps
            return {
                f"_{i + 1}": self.eval(x, env, in_value, outs)
                for i, x in enumerate(e.items)
            }
        if isinstance(e, ast.Dot):
            obj = self.eval(e.obj, env, in_value, outs)
            if obj is None:
                # NULL object (e.g. a missing nested map key upstream):
                # compiled element_at/getField on a NULL column is NULL
                return None
            if isinstance(obj, dict):
                # records always carry the field in a type-checked program;
                # maps return NULL for absent keys (element_at semantics)
                return obj.get(e.name)
            raise InterpError(
                f".{e.name} on a non-record/map value in interp fallback "
                "(module members and method builtins are compile-time only)"
            )
        if isinstance(e, ast.Has):
            obj = self.eval(e.obj, env, in_value, outs)
            if obj is None:
                # compiled map_contains_key/isNotNull over a NULL object is
                # NULL/false, and `if (NULL)` takes the else branch — the
                # observable value of `x.?.f` on NULL x is False
                return False
            if isinstance(obj, MapVal):
                # map: key containment (map_contains_key, compiler.py
                # compile_has) — True even when the held value is NULL
                return e.name in obj
            if isinstance(obj, dict):
                # record: field present but NULL → False (isNotNull)
                return obj.get(e.name) is not None
            raise InterpError(".?. on a non-record/map value")
        if isinstance(e, ast.Comprehension):
            seq = self.eval(e.seq, env, in_value, outs)
            if not isinstance(seq, list):
                raise InterpError("comprehension over a non-list value")
            # mirror compile_comprehension's three fn forms: a lambda, a
            # bound function value, or ANY other expression as an implicit
            # one-param `$`-lambda (`[xs | $ + 3]`)
            fnexpr = e.fn
            if isinstance(fnexpr, ast.Lambda):
                fn = Closure(fnexpr, dict(env))
            elif isinstance(fnexpr, ast.Id) and isinstance(
                # Closure only — compile_comprehension's bound-function form
                # accepts SFunc but NOT builtins (an SNative id falls to the
                # implicit-$ branch and fails as_col there); mirror that so
                # `[xs | someBuiltin]` errors identically on both paths.
                env.get(fnexpr.name),
                Closure,
            ):
                fn = env[fnexpr.name]
            else:
                fn = Closure(
                    ast.Lambda((("$", ast.T_ANY),), ast.T_ANY, fnexpr),
                    dict(env),
                )
            mapped = [self.apply_fn(fn, [x], in_value, outs) for x in seq]
            # mirror as_col's escape check: the compiled implicit-$ branch
            # raises "function value escapes to runtime" when the element
            # expression is itself a function (e.g. `[xs | someBuiltin]`)
            if any(isinstance(m, (Closure, Native)) for m in mapped):
                raise InterpError("function value escapes to runtime")
            return mapped
        raise InterpError(f"unsupported expression in interp fallback: {type(e).__name__}")

    def _match(self, e: ast.Match, env, in_value, outs):
        """Mirror compiler.compile_match arm-for-arm: literal patterns are
        equality tests with cross-type-False (bool never equals a number —
        unify raises — while Int/Float compare numerically), `None` is a
        null test, an untyped bind always matches, and a typed bind matches
        a tagged-struct subject by `_tag` (binding the variant branch) or a
        plain subject by exact runtime type. No arm matched = InterpError,
        the compiled path's poison."""
        subj = self.eval(e.subject, env, in_value, outs)
        for arm in e.arms:
            pat = arm.pattern
            if isinstance(pat, ast.PLit):
                try:
                    unify(python_type_of(subj), python_type_of(pat.value))
                except KernelTypeError:
                    continue  # cross-type (or null-subject) equality: false
                if subj == pat.value:
                    return self.eval(arm.body, env, in_value, outs)
                continue
            if isinstance(pat, ast.PNone):
                if subj is None:
                    return self.eval(arm.body, env, in_value, outs)
                continue
            if isinstance(pat, ast.PBind):
                if pat.type is None:
                    env2 = dict(env)
                    env2[pat.name] = subj
                    return self.eval(arm.body, env2, in_value, outs)
                # resolve typedef aliases / value types with the compiler's
                # resolver, and match sized views as Int like compile_match
                # — an unresolved TName would never tag-match (and type_tag
                # would raise); found by review of the fuzz
                pt = collapse_sized(self._resolve(pat.type))
                if isinstance(subj, dict) and "_tag" in subj:
                    if subj["_tag"] != type_tag(pt):
                        continue
                    val = next(
                        (
                            v
                            for k, v in subj.items()
                            if k != "_tag" and v is not None
                        ),
                        None,
                    )
                    env2 = dict(env)
                    env2[pat.name] = val
                    return self.eval(arm.body, env2, in_value, outs)
                if self._runtime_matches(subj, pt):
                    env2 = dict(env)
                    env2[pat.name] = subj
                    return self.eval(arm.body, env2, in_value, outs)
                continue
            raise InterpError(f"unsupported pattern {pat!r}")
        raise InterpError("match: no case matched")

    def _resolve(self, t: ast.Type) -> ast.Type:
        try:
            return resolve_type(t, self.typedefs)
        except KernelTypeError as exc:
            raise InterpError(str(exc)) from None

    @staticmethod
    def _runtime_matches(subj, pt: ast.Type) -> bool:
        """Structural runtime check for typed binds over PLAIN (non-tagged)
        subjects — the interp's stand-in for the compiler's static
        `inner == pt` test: scalars by exact runtime type (Int never
        matches a Float bind), containers by shape. Non-scalar subjects
        previously raised inside python_type_of and silently skipped the
        arm (review finding)."""
        if isinstance(pt, ast.TOption):
            return subj is None or Interp._runtime_matches(subj, pt.inner)
        if subj is None:
            return False
        if isinstance(pt, ast.TList):
            return isinstance(subj, list)
        if isinstance(pt, ast.TMap):
            # maps carry the MapVal marker — a tuple-dict (_1.._n) or a
            # record must NOT satisfy a map bind (compiled path: static
            # inner == pt fails)
            return isinstance(subj, MapVal)
        if isinstance(pt, ast.TRecord):
            if not isinstance(subj, dict) or isinstance(subj, MapVal):
                return False
            if "_tag" in subj:
                return False
            return set(subj) == {f.name for f in pt.fields}
        if isinstance(pt, ast.TTuple):
            # interp tuples are dicts keyed _1.._n (TupleExpr eval above),
            # matching the compiled struct encoding — never list/tuple
            return isinstance(subj, dict) and _is_tuple_dict(
                subj, len(pt.items)
            )
        try:
            return python_type_of(subj) == collapse_sized(pt)
        except KernelTypeError:
            return False


# -- reference operator semantics (src/ir.rs:429-696) -------------------
def trunc_div(a: int, b: int) -> int:
    """i64 division truncating toward zero (Rust `/`), not Python's floor."""
    q = a // b
    if a % b != 0 and (a < 0) != (b < 0):
        q += 1
    return q


def binop(op: str, a, b):
    if a is None or b is None:
        # NULL propagation mirroring the compiled Column semantics:
        # arithmetic/comparison with NULL is NULL; and/or are Kleene, so a
        # deciding operand decides
        if op == "and" and (a is False or b is False):
            return False
        if op == "or" and (a is True or b is True):
            return True
        return None
    both_int = isinstance(a, int) and isinstance(b, int) and not (
        isinstance(a, bool) or isinstance(b, bool)
    )
    if op == "+":
        if isinstance(a, str) or isinstance(b, str):
            if not (isinstance(a, str) and isinstance(b, str)):
                raise InterpError("`+` mixes Str and non-Str")
            return a + b
        return a + b
    if op == "-":
        return a - b
    if op == "*":
        return a * b
    if op == "/":
        if both_int:
            if b == 0:
                raise InterpError("integer division by zero")
            return trunc_div(a, b)
        return a / b
    if op == "%":
        if both_int:
            if b == 0:
                raise InterpError("integer modulo by zero")
            return a - trunc_div(a, b) * b
        return math.fmod(a, b)
    if op == "^":
        if both_int:
            if b < 0:
                raise InterpError("Int^negative (reference casts exponent u32)")
            return a**b
        return float(a) ** float(b)
    if op in ("and", "or", "xor"):
        if isinstance(a, bool) and isinstance(b, bool):
            return {"and": a and b, "or": a or b, "xor": a != b}[op]
        return {"and": a & b, "or": a | b, "xor": a ^ b}[op]
    if op in ("<", ">", "<=", ">="):
        return {"<": a < b, ">": a > b, "<=": a <= b, ">=": a >= b}[op]
    if op == "==":
        if type(a) is not type(b) and not (
            isinstance(a, (int, float)) and isinstance(b, (int, float))
            and not isinstance(a, bool) and not isinstance(b, bool)
        ):
            return False
        return a == b
    raise InterpError(f"unsupported operator {op!r}")


def unop(op: str, a):
    if a is None:
        return None  # NULL propagation (compiled -col / ~col)
    if op == "-":
        return -a
    if op == "not":
        return (not a) if isinstance(a, bool) else ~a
    raise InterpError(f"unsupported unary {op!r}")


def cast_value(v, t: ast.Type):
    """`v as t` for a resolved target type t."""
    if v is None:
        return None  # compiled Column.cast propagates NULL
    if is_sized_int(t):
        # range-checked sized view (compiler sized_range_check twin):
        # value stays an i64-domain int; out-of-range raises
        _s, lo, hi = SIZED_INTS[t.name]
        x = int(v)
        if not (lo <= x <= min(hi, 2**63 - 1)):
            raise InterpError(f"value out of range for {t.name}: {x}")
        return x
    if t is ast.T_INT:
        return int(v)  # Float→Int truncates, matching the compiled path
    if t is ast.T_FLOAT:
        return float(v)
    if t is ast.T_BOOL:
        return bool(v)
    if t is ast.T_STR and isinstance(v, str):
        return v
    raise InterpError(f"unsupported cast target {t!r}")


# -- builtin library (SURVEY.md §2.3 ext row) ---------------------------
# Every builtin's name and arity, listed once: compiler.BUILTINS and
# _NATIVES are both built from this table.
BUILTIN_ARITY = {
    "min": 2, "max": 2, "abs": 1, "shl": 2, "shr": 2,
    "sqrt": 1, "cos": 1, "sin": 1, "tan": 1, "log": 1, "exp": 1,
    "floor": 1, "ceil": 1, "length": 1,
    "join": 2, "split": 2, "upper": 1, "lower": 1, "trim": 1,
    "replace": 3, "substr": 3, "contains": 2,
    "map": 2, "filter": 2, "reduce": 3,
}


def _skip_null(pick):
    """least/greatest semantics: a NULL operand is skipped; the result is
    NULL only when both are."""

    def f(a, b):
        if a is None or b is None:
            return b if a is None else a
        return pick(a, b)

    return f


def _math1(pyfn):
    return lambda x: pyfn(float(x))


def _length(v):
    if isinstance(v, (str, list, dict)):
        return len(v)
    raise InterpError(f"length on {type(v).__name__}")


# value-level builtins: Python values in, value out (every other argument
# is non-NULL — Interp.apply_fn and the compiler's folds check that first)
SCALAR_BUILTINS = {
    "min": _skip_null(min),
    "max": _skip_null(max),
    "abs": abs,
    "shl": operator.lshift,
    "shr": operator.rshift,
    **{
        name: _math1(getattr(math, name))
        for name in ("sqrt", "cos", "sin", "tan", "log", "exp")
    },
    "floor": math.floor,
    "ceil": math.ceil,
    "length": _length,
    "join": lambda xs, sep: sep.join(str(x) for x in xs),
    "split": lambda s, sep: s.split(sep),
    "upper": lambda s: s.upper(),
    "lower": lambda s: s.lower(),
    "trim": lambda s: s.strip(),
    "replace": lambda s, old, new: s.replace(old, new),
    "substr": lambda s, start, n: s[start : start + n],  # 0-based, as compiled
    "contains": lambda hay, needle: needle in hay,
}


def _reduce(call, xs, acc, fn):
    for x in xs:
        acc = call(fn, acc, x)
    return acc


# higher-order builtins: `call(fn, *args)` applies a uDLang function value
HOF_BUILTINS = {
    "map": lambda call, xs, fn: [call(fn, x) for x in xs],
    "filter": lambda call, xs, fn: [x for x in xs if call(fn, x)],
    "reduce": _reduce,
}

_NATIVES = {
    name: Native(name, arity, {**SCALAR_BUILTINS, **HOF_BUILTINS}[name])
    for name, arity in BUILTIN_ARITY.items()
}
