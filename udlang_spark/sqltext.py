"""SQL text for generated Catalyst expressions.

Code that generates a large expression (the kernel compiler, the packed
sign signature of `operators/similarity`) renders it as SQL text and hands
the JVM one `F.expr` string: building the same tree from `Column` calls
costs a py4j round-trip per node. Identifier quoting, literal typing and
type names are defined here once.
"""

from __future__ import annotations

from pyspark.sql import types as T


def ident(name: str) -> str:
    """A backtick-quoted identifier (a column, struct field or alias)."""
    return "`" + name.replace("`", "``") + "`"


def _char(c: str) -> str:
    if c in "\\'":
        return "\\" + c
    return c if c >= " " and c != "\x7f" else f"\\u{ord(c):04x}"


def lit(v: object) -> str:
    """A literal typed the way `F.lit(v)` types it: INT when an int fits 32
    bits, else BIGINT; an int past 64 bits (U64's upper half) becomes
    DECIMAL(20,0), U64's storage type. Floats are DOUBLE, NaN and ±inf
    included; strings escape quote, backslash and control characters."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if -(2**63) <= v < 2**63 else f"CAST({v} AS DECIMAL(20,0))"
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            name = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}[repr(v)]
            return f"CAST('{name}' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, str):
        return "'" + "".join(_char(c) for c in v) + "'"
    raise TypeError(f"no SQL literal for {v!r}")


def type_sql(t: T.DataType | str) -> str:
    """The SQL name of a Spark type; a str passes through (`"BIGINT"`)."""
    if isinstance(t, str):
        return t
    if isinstance(t, T.ArrayType):
        return f"ARRAY<{type_sql(t.elementType)}>"
    if isinstance(t, T.MapType):
        return f"MAP<{type_sql(t.keyType)}, {type_sql(t.valueType)}>"
    if isinstance(t, T.StructType):
        fields = (
            f"{ident(f.name)}: {type_sql(f.dataType)}" + ("" if f.nullable else " NOT NULL")
            for f in t.fields
        )
        return f"STRUCT<{', '.join(fields)}>"
    return t.simpleString().upper()


def cast(x: str, t: T.DataType | str) -> str:
    return f"CAST({x} AS {type_sql(t)})"


def call(fn: str, *args: str) -> str:
    return f"{fn}({', '.join(args)})"


def case(cond: str, then: str, otherwise: str) -> str:
    return f"CASE WHEN {cond} THEN {then} ELSE {otherwise} END"
