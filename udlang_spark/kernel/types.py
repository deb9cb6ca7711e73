"""uDLang type → Spark SQL type mapping (SURVEY.md §1.2 table).

The reference declares input/output shapes statically (src/grammar.lalrpop:
41-47, 210-215) and intends runtime validation (manual.md:45-49); here every
uDLang type lowers to an explicit Spark DataType, and the kernel compiler
tracks uDLang types through expressions (the analysis pass the reference
designed but never wired into execution — src/typechecker.rs vs main.rs).
"""

from __future__ import annotations

from pyspark.sql import types as T

from udlang_spark.kernel import ast


class KernelTypeError(TypeError):
    pass


def to_spark(t: ast.Type) -> T.DataType:
    if isinstance(t, ast.TPrim) and t.name in SIZED_INTS:
        return SIZED_INTS[t.name][0]
    if t is ast.T_BOOL:
        return T.BooleanType()
    if t is ast.T_INT:
        return T.LongType()
    if t is ast.T_FLOAT:
        return T.DoubleType()
    if t is ast.T_STR:
        return T.StringType()
    if t is ast.T_POINT:
        return T.StructType(
            [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
        )
    if t is ast.T_VOID:
        return T.NullType()
    if t is ast.T_ANY:
        # escape hatch (SURVEY.md §7.5): JSON-encoded string
        return T.StringType()
    if isinstance(t, ast.TOption):
        return to_spark(t.inner)  # nullability is carried by the field/column
    if isinstance(t, ast.TList):
        return T.ArrayType(to_spark(t.item))
    if isinstance(t, ast.TMap):
        return T.MapType(T.StringType(), to_spark(t.value))
    if isinstance(t, ast.TTuple):
        return T.StructType(
            [
                T.StructField(f"_{i + 1}", to_spark(item))
                for i, item in enumerate(t.items)
            ]
        )
    if isinstance(t, ast.TRecord):
        return T.StructType(
            [
                T.StructField(f.name, to_spark(f.type), nullable=True)
                for f in t.fields
            ]
        )
    if isinstance(t, ast.TUnion):
        # tagged-struct encoding (SURVEY.md §7.5): _tag + one nullable branch
        # per variant
        fields = [T.StructField("_tag", T.StringType(), nullable=False)]
        for i, v in enumerate(t.variants):
            fields.append(T.StructField(f"_{i}", to_spark(v), nullable=True))
        return T.StructType(fields)
    raise KernelTypeError(f"type {t!r} has no Spark data type")


# documented numeric tower (reference manual.md:85-97), SURVEY.md §1.2
# mapping. Sized integer types are range-checked VIEWS over Int: values
# always COMPUTE as i64 (the reference runtime is i64 — src/ast.rs:226),
# while the sized name contributes (a) a narrower STORAGE type at the
# input/output boundary and (b) a range check wherever a value enters or
# leaves the sized domain (`as U8` casts, sized inputs, sized outputs) —
# out-of-range raises instead of silently wrapping. U64's storage is
# Decimal(20,0) (no unsigned 64-bit type exists in Spark); a U64 above
# 2^63-1 is representable at the boundary but REFUSED (runtime error, not
# a wrap) when it enters i64 compute.
SIZED_INTS: dict[str, tuple[T.DataType, int, int]] = {
    "I8": (T.ByteType(), -(2**7), 2**7 - 1),
    "I16": (T.ShortType(), -(2**15), 2**15 - 1),
    "I32": (T.IntegerType(), -(2**31), 2**31 - 1),
    "U8": (T.ShortType(), 0, 2**8 - 1),
    "U16": (T.IntegerType(), 0, 2**16 - 1),
    "U32": (T.LongType(), 0, 2**32 - 1),
    "U64": (T.DecimalType(20, 0), 0, 2**64 - 1),
    "Nat": (T.LongType(), 0, 2**63 - 1),
}

T_SIZED = {name: ast.TPrim(name) for name in SIZED_INTS}

NUMERIC_ALIASES = {
    "F32": ast.T_FLOAT, "F64": ast.T_FLOAT, "Number": ast.T_FLOAT,
    "I64": ast.T_INT,  # exactly Int's representation — no view needed
    **T_SIZED,
}


def is_sized_int(t: ast.Type) -> bool:
    return isinstance(t, ast.TPrim) and t.name in SIZED_INTS


def collapse_sized(t: ast.Type) -> ast.Type:
    """The compute-domain type of a sized view (pattern matching and
    unification treat U8..Nat as Int — shared by compiler and interp so
    typed binds agree on both paths)."""
    return ast.T_INT if is_sized_int(t) else t


def substitute_type(t: ast.Type, mapping: dict[str, ast.Type]) -> ast.Type:
    """Monomorphizing substitution for type-constructor application:
    replace TName(p) for every parameter p in `mapping`, structurally
    recursing — the lowering of the reference's parse-only TypeCons
    (src/ast.rs:203-205), used by resolve_type. Inner parameters shadow
    outer ones via TFunc's own param list."""
    if isinstance(t, ast.TName):
        return mapping.get(t.name, t)
    if isinstance(t, ast.TOption):
        return ast.TOption(substitute_type(t.inner, mapping))
    if isinstance(t, ast.TList):
        return ast.TList(substitute_type(t.item, mapping))
    if isinstance(t, ast.TMap):
        return ast.TMap(substitute_type(t.value, mapping))
    if isinstance(t, ast.TTuple):
        return ast.TTuple(tuple(substitute_type(i, mapping) for i in t.items))
    if isinstance(t, ast.TRecord):
        return ast.TRecord(
            tuple(
                ast.TRecordField(f.name, substitute_type(f.type, mapping))
                for f in t.fields
            ),
            methods=t.methods,
        )
    if isinstance(t, ast.TUnion):
        return ast.TUnion(
            tuple(substitute_type(v, mapping) for v in t.variants)
        )
    if isinstance(t, ast.TCons):
        return ast.TCons(
            substitute_type(t.cons, mapping),
            tuple(substitute_type(a, mapping) for a in t.args),
        )
    if isinstance(t, ast.TFunc):
        inner = {k: v for k, v in mapping.items() if k not in t.params}
        return ast.TFunc(t.params, substitute_type(t.body, inner))
    return t


# nested generic expansion is bounded: a self-referential constructor
# (type L<T>: <T, L<T>>) would otherwise expand forever
MAX_TCONS_DEPTH = 32


def apply_type_cons(
    tf: ast.TFunc, name: str, args: tuple[ast.Type, ...]
) -> ast.Type:
    """One application step: arity-check and substitute (args stay
    unresolved — the caller's resolve recursion finishes them, so nested
    applications like Box<Box<Int>> work)."""
    if len(args) != len(tf.params):
        raise KernelTypeError(
            f"type constructor {name} expects {len(tf.params)} type "
            f"argument(s), got {len(args)}"
        )
    return substitute_type(tf.body, dict(zip(tf.params, args)))


def collect_typedefs(program: ast.Program) -> dict[str, ast.Type]:
    """The program's `type` declarations by name, pre-scanned so input and
    output declarations may reference them."""
    return {
        d.name: d.type
        for d in list(program.decls) + list(program.body)
        if isinstance(d, ast.TypeDef)
    }


def resolve_type(
    t: ast.Type, typedefs: dict[str, ast.Type], _depth: int = 0
) -> ast.Type:
    """Structural form of a declared type: typedef aliases and generic
    applications expanded, the numeric tower aliased, value types reduced
    to their representation. The one resolver behind both execution paths
    (the compiler's typing and the interpreter's typed pattern binds)."""
    if _depth > MAX_TCONS_DEPTH:
        raise KernelTypeError(
            "type-constructor expansion exceeds depth "
            f"{MAX_TCONS_DEPTH} (self-referential generic?)"
        )
    if isinstance(t, ast.TCons):
        # generic application `Box<Int>` — monomorphize (SURVEY §2.11;
        # the reference parses this form but never lowers it)
        cons = t.cons
        if not isinstance(cons, ast.TName):
            raise KernelTypeError(f"cannot apply non-name type {cons!r}")
        tf = typedefs.get(cons.name)
        if not isinstance(tf, ast.TFunc):
            raise KernelTypeError(
                f"{cons.name} is not a parameterized type (declare it "
                f"as `type {cons.name}<...>: ...;`)"
            )
        return resolve_type(
            apply_type_cons(tf, cons.name, t.args), typedefs, _depth + 1
        )
    if isinstance(t, ast.TName):
        if t.name in typedefs:
            td = typedefs[t.name]
            if isinstance(td, ast.TFunc):
                raise KernelTypeError(
                    f"type constructor {t.name} used without type "
                    f"arguments ({t.name}<...> expected)"
                )
            return resolve_type(td, typedefs, _depth)
        if t.name in NUMERIC_ALIASES:
            return NUMERIC_ALIASES[t.name]
        raise KernelTypeError(f"unknown type name {t.name}")
    if isinstance(t, ast.TValue):
        # value types constrain the domain, not the representation
        return python_type_of(t.value)
    if isinstance(t, ast.TOption):
        return ast.TOption(resolve_type(t.inner, typedefs, _depth))
    if isinstance(t, ast.TList):
        return ast.TList(resolve_type(t.item, typedefs, _depth))
    if isinstance(t, ast.TMap):
        return ast.TMap(resolve_type(t.value, typedefs, _depth))
    if isinstance(t, ast.TTuple):
        return ast.TTuple(
            tuple(resolve_type(i, typedefs, _depth) for i in t.items)
        )
    if isinstance(t, ast.TRecord):
        # record fields resolve too — a generic body is usually a record
        # over the parameters (`type Box<T>: {field v: T;};`)
        return ast.TRecord(
            tuple(
                ast.TRecordField(f.name, resolve_type(f.type, typedefs, _depth))
                for f in t.fields
            ),
            methods=t.methods,
        )
    if isinstance(t, ast.TUnion):
        # `"Hello" | "Goodnight"` collapses to Str — only unions with
        # genuinely distinct representations need the tagged struct
        variants: list[ast.Type] = []
        for v in t.variants:
            rv = resolve_type(v, typedefs, _depth)
            if rv not in variants:
                variants.append(rv)
        if len(variants) == 1:
            return variants[0]
        return ast.TUnion(tuple(variants))
    return t


def type_tag(t: ast.Type) -> str:
    """Canonical tag string for a union variant (the `_tag` field of the
    tagged-struct encoding — SURVEY.md §7.5). Fully qualified so [Int] and
    [Str] variants stay distinct."""
    if isinstance(t, ast.TPrim):
        return t.name
    if isinstance(t, ast.TOption):
        return f"Option<{type_tag(t.inner)}>"
    if isinstance(t, ast.TList):
        return f"List<{type_tag(t.item)}>"
    if isinstance(t, ast.TMap):
        return f"Map<{type_tag(t.value)}>"
    if isinstance(t, ast.TTuple):
        return "Tuple<" + ",".join(type_tag(i) for i in t.items) + ">"
    if isinstance(t, ast.TRecord):
        return (
            "Record{"
            + ",".join(f"{f.name}:{type_tag(f.type)}" for f in t.fields)
            + "}"
        )
    if isinstance(t, ast.TUnion):
        return "|".join(type_tag(v) for v in t.variants)
    if isinstance(t, ast.TValue):
        return repr(t.value)
    raise KernelTypeError(f"no tag for type {t!r}")


def unify(a: ast.Type, b: ast.Type) -> ast.Type:
    """Least upper bound for mixed-type expressions. The reference's op
    tables are monomorphic (src/ir.rs:429-696) but its examples pass Int
    where Float is declared (examples/function.us: `celcius_to_farenheit(in)`
    with `input Int`), so numeric promotion Int→Float is the intended
    semantics we implement."""
    if a == b:
        return a
    # sized views unify through their compute domain (U8 ∪ Int = Int)
    a, b = collapse_sized(a), collapse_sized(b)
    if a == b:
        return a
    if isinstance(a, ast.TOption):
        return ast.TOption(unify(a.inner, b))
    if isinstance(b, ast.TOption):
        return ast.TOption(unify(a, b.inner))
    num = {ast.T_INT, ast.T_FLOAT}
    if a in num and b in num:
        return ast.T_FLOAT
    if a is ast.T_ANY or a is ast.T_VOID:
        return b
    if b is ast.T_ANY or b is ast.T_VOID:
        return a
    if isinstance(a, ast.TList) and isinstance(b, ast.TList):
        return ast.TList(unify(a.item, b.item))
    raise KernelTypeError(f"cannot unify {a!r} with {b!r}")


def python_type_of(value: object) -> ast.Type:
    if isinstance(value, bool):
        return ast.T_BOOL
    if isinstance(value, int):
        return ast.T_INT
    if isinstance(value, float):
        return ast.T_FLOAT
    if isinstance(value, str):
        return ast.T_STR
    raise KernelTypeError(f"no uDLang type for literal {value!r}")
