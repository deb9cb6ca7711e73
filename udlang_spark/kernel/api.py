"""Public kernel API: compile uDLang source, apply it to DataFrames.

The batch path is also the streaming path: kernels are stateless by
construction (manual.md:21-24), so the same compiled SQL expressions run
unchanged on `spark.readStream` inputs (see udlang_spark/streaming/).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property, lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from udlang_spark.kernel import ast
from udlang_spark.kernel.compiler import (
    BUILTINS,
    MAX_RECURSION_DEPTH,
    Compiler,
    SCol,
    SVal,
    concat_outs,
    outs_or_empty,
    sized_range_check,
    when_outs,
)
from udlang_spark.kernel.parser import parse
from udlang_spark.kernel.types import (
    KernelTypeError,
    collect_typedefs,
    is_sized_int,
    resolve_type,
    to_spark,
)
from udlang_spark.sqltext import call, ident, lit


def _single_out(body: tuple[ast.Stmt, ...]) -> tuple[ast.Expr | None, ast.Expr] | None:
    """(p, e) for a body of one `if (p) { out e; }`, (None, e) for a body of
    one bare `out e;`, else None: the AST shape of the filter+select form."""
    if len(body) != 1:
        return None
    stmt = body[0]
    if isinstance(stmt, ast.Out):
        return None, stmt.value
    if (
        isinstance(stmt, ast.ExprStmt)
        and isinstance(stmt.expr, ast.Cond)
        and len(stmt.expr.clauses) == 1
        and stmt.expr.default is None
    ):
        pred, block = stmt.expr.clauses[0]
        if (
            isinstance(block, ast.Block)
            and block.ret is None
            and len(block.stmts) == 1
            and isinstance(block.stmts[0], ast.Out)
        ):
            return pred, block.stmts[0].value
    return None


@dataclass
class _Lowered:
    """One Compiler pass over a kernel for one input binding: the parts of
    both lowering forms, as SQL text. `outs` is the posexplode form's
    array<output>; `single` is the (predicate or None, value) pair of the
    filter+select form, set when nothing but that one `out` emits."""

    taps: tuple[str, ...]
    bindings: tuple[tuple[str, str], ...]
    outs: str
    single: tuple[str | None, str] | None = None
    _cols: dict[str, Column] = field(default_factory=dict, repr=False)

    def expr(self, sql: str) -> Column:
        """`F.expr(sql)`, parsed on the JVM once: a Column resolves by
        column name, so one built here serves every later apply."""
        col = self._cols.get(sql)
        if col is None:
            col = self._cols[sql] = F.expr(sql)
        return col


@dataclass
class Kernel:
    program: ast.Program
    max_depth: int = MAX_RECURSION_DEPTH
    # pre-parsed lib programs for `import` linking (name -> lib AST)
    libs: dict[str, ast.Program] | None = None
    # per input binding (_input_col), the kernel's _Lowered and the Columns
    # apply() parsed from it: a warm apply runs no Compiler pass and sends
    # the JVM no SQL to parse, only the DataFrame calls that place the
    # cached Columns. A long-running engine compiles each kernel shape once.
    _expr_cache: dict = field(default_factory=dict, repr=False, compare=False)

    @property
    def input_type(self) -> ast.Type:
        return self.program.input

    @property
    def output_type(self) -> ast.Type:
        return self.program.output

    # the declared types in structural form (aliases, generics and value
    # types resolved), resolved once per kernel
    @cached_property
    def resolved_input(self) -> ast.Type:
        return resolve_type(self.program.input, collect_typedefs(self.program))

    @cached_property
    def resolved_output(self) -> ast.Type:
        return resolve_type(self.program.output, collect_typedefs(self.program))

    def outputs_column(self, df: DataFrame) -> Column:
        """array<output> Column of the kernel over `df`. Compiled with
        hoisting disabled so the result is a single self-contained
        expression (the CLI's `compile`); apply() uses the hoisting path."""
        return F.expr(
            Compiler(self.program, self.max_depth, self.libs, allow_hoist=False).compile(
                self._in_value(self._input_col(df, None))
            )
        )

    def _input_col(self, df: DataFrame, input_col: str | None) -> str | None:
        """The column `in` binds to: the input binding, and the only
        df-dependent part of expression construction. None for record
        inputs, which bind by field names."""
        if isinstance(self.resolved_input, ast.TRecord):
            return None
        if input_col is None:
            if len(df.columns) != 1:
                raise KernelTypeError(
                    "scalar-input kernel on a multi-column DataFrame: pass input_col"
                )
            return df.columns[0]
        return input_col

    def _in_value(self, input_col: str | None) -> SVal:
        # the resolved type, so `in` carries a structural type (e.g.
        # `input "Hello" | "Goodnight"` is Str; unions are tagged structs)
        it = self.resolved_input
        if isinstance(it, ast.TRecord):
            fields = [p for f in it.fields for p in (lit(f.name), ident(f.name))]
            return SCol(call("named_struct", *fields), it)
        if is_sized_int(it):
            # sized input (SURVEY.md §1.2): the column's STORAGE type may be
            # wider than the logical range (U8 rides in a Short; U64 in a
            # Decimal(20,0)), so entry into i64 compute is range-checked —
            # an out-of-range input record raises instead of wrapping
            return SCol(sized_range_check(ident(input_col), it.name), ast.T_INT)
        return SCol(ident(input_col), it)

    def _lower(self, in_val: SVal) -> _Lowered:
        """The kernel's one Compiler pass. A body of the _single_out shape
        compiles its parts here — decls, then the clause `p`/`e` through
        compile_clause, as compile_cond does — so the posexplode array is
        assembled from them and the filter+select pair needs no second
        compile. A constant-false `p` prunes `e`; the kernel then emits only
        what the decls and `p` emit, on the posexplode form."""
        c = Compiler(self.program, self.max_depth, self.libs)
        shape = _single_out(self.program.body)
        if shape is None:
            outs = c.compile(in_val)
            return _Lowered(tuple(c.debug_taps), tuple(c.bindings), outs)
        env: dict = {**BUILTINS, "in": in_val}
        side = [c.compile_stmt(d, env) for d in self.program.decls]
        pred_ast, value_ast = shape
        pred, pouts, res = c.compile_clause(
            pred_ast, env, lambda: c.compile_out(value_ast, env)
        )
        single = None
        side.append(pouts)
        if res is not None:
            value, vouts = res
            if all(o is None for o in [*side, vouts]):
                single = (pred, value)
            side.append(when_outs(c.ctx, pred, concat_outs(c.ctx, [vouts, call("array", value)])))
        outs = outs_or_empty(c.ctx, concat_outs(c.ctx, side))
        return _Lowered(tuple(c.debug_taps), tuple(c.bindings), outs, single)

    def _apply_interp(
        self,
        df: DataFrame,
        input_col: str | None,
        keep: tuple[str, ...],
        out_name: str,
    ) -> DataFrame:
        """Recursion fallback: per-row AST interpretation in mapInPandas
        (Arrow batches; one Interp per partition). Scalar-input kernels
        only — record inputs stay on the compiled path."""
        import pandas as pd
        from pyspark.sql.types import StructField, StructType

        in_col = self._input_col(df, input_col)
        if in_col is None:
            raise KernelTypeError(
                "recursion='interp' supports scalar-input kernels "
                "(record inputs: use the compiled path)"
            )
        fields = [df.schema[c] for c in keep]
        schema = StructType(
            fields + [StructField(out_name, self.output_spark_type(), True)]
        )
        prog = self.program

        def run(batches):
            from udlang_spark.kernel.interp import Interp

            interp = Interp(prog)
            # interp.run is a pure function of the scalar input (each row's
            # outs are independent — no cross-row state), so memoize per
            # DISTINCT value: the per-row AST walk was ~160 µs/row and
            # dominated the r9 bench rotation (k_count_interp 58 s at
            # sf0.1); with the memo the walk runs once per distinct input.
            # Bounded so an all-distinct column can't grow without limit
            # (misses just fall through to a fresh walk).
            memo: dict = {}
            for pdf in batches:
                rows: dict[str, list] = {c: [] for c in list(keep) + [out_name]}
                keep_arrays = {c: pdf[f"_{i}"].to_numpy() for i, c in enumerate(keep)}
                in_arr = pdf[f"_{len(keep)}"].to_numpy()
                for i in range(len(pdf)):
                    v = in_arr[i]
                    if hasattr(v, "item"):  # numpy scalar → Python scalar
                        v = v.item()
                    # NaN != NaN under dict equality, so raw NaN keys never
                    # hit and each miss inserts another dead entry — a
                    # NaN-heavy column would permanently exhaust the memo
                    # cap with duplicates (r9 ADVICE, low). Normalize to a
                    # sentinel key; interp.run sees the original value.
                    key = ("nan",) if isinstance(v, float) and v != v else v
                    outs = memo.get(key)
                    if outs is None:
                        outs = interp.run(v)
                        if len(memo) < 65536:
                            memo[key] = outs
                    for o in outs:
                        for c in keep:
                            rows[c].append(keep_arrays[c][i])
                        rows[out_name].append(o)
                yield pd.DataFrame(rows, columns=list(keep) + [out_name])

        # positional names in: mapInPandas re-reads its input columns by
        # name and would parse a dot or backtick in one as a struct path
        src = df.select(*[F.col(ident(c)).alias(f"_{i}") for i, c in enumerate((*keep, in_col))])
        return src.mapInPandas(run, schema)

    def apply(
        self,
        df: DataFrame,
        input_col: str | None = None,
        keep: tuple[str, ...] = (),
        out_name: str = "out",
        with_pos: bool = False,
        debug: bool = False,
        recursion: str = "unroll",
    ) -> DataFrame:
        """Run the kernel over every row.

        Multi-`out` records produce multiple rows (posexplode of the output
        array — per-record output order is the `pos` column); records that
        emit nothing produce no rows (posexplode drops empty arrays), which
        is exactly the reference's conditional-`out` filter semantics.

        The first apply for an input binding compiles the kernel by one
        Compiler pass (_lower), which yields the parts of both lowering
        forms; later applies on that binding reuse it (_expr_cache). A body of
        one `out e;` or one `if (p) { out e; }` lowers to filter+select
        (SURVEY.md §2.2) when the declarations, `p` and `e` emit no outputs
        of their own: the predicate stays a plain Filter node, so Catalyst
        pushes it into the parquet scan — at scale the difference between
        reading a partition and skipping it. Otherwise, and under with_pos
        or debug, the kernel lowers to posexplode, and outputs emitted by
        declarations (a `let` calling an `out`-emitting proc) are kept on
        both forms.

        debug=True adds a `_debug` array<string> column holding the record's
        `!`-tapped values (manual.md:54-62 — the reference's stderr trace,
        surfaced as data since executor stderr isn't observable). Taps are
        recorded unconditionally (even in untaken branches) — a documented
        deviation; route the column to logs or a sink as needed.

        recursion="interp" switches to the per-row AST interpreter
        (kernel/interp.py) inside mapInPandas — the SURVEY.md §2.10 UDF
        fallback: reference semantics at ANY recursion depth, at Python
        speed; the default "unroll" path compiles recursion into SQL
        expressions up to max_depth (JVM-speed, bounded depth).

        Each lowered expression — the filter predicate, the output value or
        array, each hoisted binding — reaches the JVM as one `F.expr` of
        SQL text. `input_col` and `keep` name top-level columns whole, on
        both recursion paths: a dot is part of the name, not a struct path.
        """
        if recursion == "interp":
            return self._apply_interp(df, input_col, keep, out_name)
        if recursion != "unroll":
            raise ValueError("recursion must be 'unroll' or 'interp'")
        key = self._input_col(df, input_col)
        low = self._expr_cache.get(key)
        if low is None:
            low = self._expr_cache[key] = self._lower(self._in_value(key))
        cols = [F.col(ident(c)) for c in keep]
        single = low.single if not with_pos and not debug else None
        base = df
        if single is not None and single[0] is not None:
            base = df.filter(low.expr(single[0]))
        # hoisted range-check operands become narrow intermediate
        # projections below the output select; Catalyst's CollapseProject
        # re-inlines the cheap ones and keeps the expensive multi-referenced
        # ones split — which is the point (janino-limit fix, SURVEY §2.3)
        for bname, bsql in low.bindings:
            base = base.select("*", low.expr(bsql).alias(bname))
        if single is not None:
            return base.select(*cols, low.expr(single[1]).alias(out_name))
        exploded = F.posexplode(low.expr(low.outs)).alias("pos", out_name)
        if debug and low.taps:
            taps = low.expr(call("array", *low.taps)).alias("_debug")
            sel = base.select(*cols, taps, exploded)
        else:
            sel = base.select(*cols, exploded)
        if not with_pos:
            sel = sel.drop("pos")
        return sel

    def output_spark_type(self):
        return to_spark(self.resolved_output)


@lru_cache(maxsize=256)
def _compile_kernel_cached(
    source: str, max_depth: int, libs_items: tuple[tuple[str, str], ...]
) -> Kernel:
    parsed_libs = {name: parse(src) for name, src in libs_items}
    return Kernel(parse(source), max_depth=max_depth, libs=parsed_libs or None)


def compile_kernel(
    source: str,
    max_depth: int = MAX_RECURSION_DEPTH,
    libs: dict[str, str] | None = None,
) -> Kernel:
    """Compile kernel source; `libs` maps importable module names to lib
    source text (compile-time linking — SURVEY.md §2.10 modules row).

    Memoized on (source, max_depth, libs): recompiling the same kernel
    text returns the SAME Kernel without parsing it again."""
    return _compile_kernel_cached(
        source, max_depth, tuple(sorted((libs or {}).items()))
    )


def compile_kernel_file(
    path: str,
    max_depth: int = MAX_RECURSION_DEPTH,
    libs: dict[str, str] | None = None,
) -> Kernel:
    with open(path) as f:
        return compile_kernel(f.read(), max_depth=max_depth, libs=libs)
