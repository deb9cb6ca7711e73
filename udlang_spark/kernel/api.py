"""Public kernel API: compile uDLang source, apply it to DataFrames.

The batch path is also the streaming path: kernels are stateless by
construction (manual.md:21-24), so the same compiled Column expressions run
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
    sized_range_check,
)
from udlang_spark.kernel.parser import parse
from udlang_spark.kernel.types import (
    KernelTypeError,
    collect_typedefs,
    is_sized_int,
    resolve_type,
    to_spark,
)


@dataclass
class Kernel:
    program: ast.Program
    max_depth: int = MAX_RECURSION_DEPTH
    # pre-parsed lib programs for `import` linking (name -> lib AST)
    libs: dict[str, ast.Program] | None = None
    # compiled-expression cache: Column trees are immutable and independent
    # of any particular DataFrame (they resolve by column NAME), so the
    # expensive symbolic compile + py4j tree construction — measured ~1 s
    # for a depth-48 recursion unroll, more than the query's own execution
    # at sf0.1 — runs once per (input_col, keep, out_name, mode), not once
    # per apply(). A long-running engine compiles each kernel shape once.
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

    def outputs_column(self, in_val: SVal) -> Column:
        """array<output> Column for one input record symbol. Compiled with
        hoisting disabled so the result is a single self-contained
        expression (dump-expr/explain); apply() uses the hoisting path."""
        return Compiler(
            self.program, self.max_depth, self.libs, allow_hoist=False
        ).compile(in_val)

    def _outputs_and_debug(
        self, in_val: SVal
    ) -> tuple[Column, Column | None, tuple[tuple[str, Column], ...]]:
        """(array<output>, array<string> of `!` taps or None, hoisted
        intermediate-projection bindings — see Compiler._maybe_hoist)."""
        c = Compiler(self.program, self.max_depth, self.libs)
        outs = c.compile(in_val)
        dbg = F.array(*c.debug_taps) if c.debug_taps else None
        return outs, dbg, tuple(c.bindings)

    def _in_sval(self, df: DataFrame, input_col: str | None) -> SVal:
        # the resolved type, so `in` carries a structural type (e.g.
        # `input "Hello" | "Goodnight"` is Str; unions are tagged structs)
        it = self.resolved_input
        if isinstance(it, ast.TRecord):
            struct = F.struct(
                *[F.col(f.name).alias(f.name) for f in it.fields]
            )
            return SCol(struct, it)
        if input_col is None:
            if len(df.columns) != 1:
                raise KernelTypeError(
                    "scalar-input kernel on a multi-column DataFrame: pass input_col"
                )
            input_col = df.columns[0]
        if is_sized_int(it):
            # sized input (SURVEY.md §1.2): the column's STORAGE type may be
            # wider than the logical range (U8 rides in a Short; U64 in a
            # Decimal(20,0)), so entry into i64 compute is range-checked —
            # an out-of-range input record raises instead of wrapping
            return SCol(sized_range_check(F.col(input_col), it.name), ast.T_INT)
        return SCol(F.col(input_col), it)

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

        if isinstance(self.resolved_input, ast.TRecord):
            raise KernelTypeError(
                "recursion='interp' supports scalar-input kernels "
                "(record inputs: use the compiled path)"
            )
        if input_col is None:
            if len(df.columns) != 1:
                raise KernelTypeError(
                    "scalar-input kernel on a multi-column DataFrame: pass input_col"
                )
            input_col = df.columns[0]
        fields = [df.schema[c] for c in keep]
        schema = StructType(
            fields + [StructField(out_name, self.output_spark_type(), True)]
        )
        prog = self.program
        in_col = input_col

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
                keep_arrays = {c: pdf[c].to_numpy() for c in keep}
                in_arr = pdf[in_col].to_numpy()
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

        return df.select(*keep, in_col).mapInPandas(run, schema)

    def _resolved_input_col(self, df: DataFrame, input_col: str | None) -> str | None:
        """The column name `in` binds to — the only df-dependent part of
        expression construction (and only when input_col defaults)."""
        if isinstance(self.resolved_input, ast.TRecord):
            return None  # record inputs bind by field names, not input_col
        if input_col is None:
            if len(df.columns) != 1:
                raise KernelTypeError(
                    "scalar-input kernel on a multi-column DataFrame: pass input_col"
                )
            return df.columns[0]
        return input_col

    def _filter_select_fastpath(
        self, df: DataFrame, input_col: str | None, keep: tuple[str, ...],
        out_name: str,
    ) -> DataFrame | None:
        """Peephole (SURVEY.md §2.2): a kernel whose whole body is
        `if (p) { out e; }` (or a bare `out e;`) lowers to filter+select
        instead of posexplode(when(...)). This keeps the predicate a plain
        Filter node, so Catalyst pushes it into the parquet scan — at scale
        the difference between reading a partition and skipping it."""
        key = ("fast", self._resolved_input_col(df, input_col), keep, out_name)
        result = self._expr_cache.get(key)
        if result is None:
            result = self._fastpath_columns(df, input_col)
            self._expr_cache[key] = result
        if result[0] == "none":
            return None
        if result[0] == "out":
            base = df
            for bname, bcol in result[2]:
                base = base.select("*", bcol.alias(bname))
            return base.select(*[F.col(c) for c in keep], result[1].alias(out_name))
        return df.filter(result[1]).select(
            *[F.col(c) for c in keep], result[2].alias(out_name)
        )

    def _fastpath_columns(self, df: DataFrame, input_col: str | None):
        """("none",) | ("out", out_col) | ("filter", pred_col, out_col)."""
        body = [s for s in self.program.body]
        decls = self.program.decls
        # declarations must be pure (no `out` at init time) — funcs/lets are;
        # conservative: allow any decls, they contribute no rows unless they
        # contain Out/iteration statements
        if any(isinstance(s, (ast.Out, ast.ListIter, ast.MapIter, ast.Suppose)) for s in decls):
            return ("none",)
        if len(body) != 1:
            return ("none",)
        comp = Compiler(self.program, self.max_depth, self.libs)
        env: dict = {**BUILTINS, "in": self._in_sval(df, input_col)}
        for d in decls:
            comp.compile_stmt(d, env)
        stmt = body[0]
        if isinstance(stmt, ast.Out):
            # unconditional single `out`: eager per row, so hoisting large
            # range-check operands is safe here (mirrors compile_stmt's Out
            # arm); the filter case below stays unarmed — its out expression
            # only evaluates for rows passing the predicate
            with comp._hoist_scope():
                val, outs = comp.compile_expr(stmt.value, env)
                if outs is not None:
                    return ("none",)
                out_col = comp.coerce_to(val, self.resolved_output)
            return ("out", out_col, tuple(comp.bindings))
        if (
            isinstance(stmt, ast.ExprStmt)
            and isinstance(stmt.expr, ast.Cond)
            and len(stmt.expr.clauses) == 1
            and stmt.expr.default is None
        ):
            pred_ast, block = stmt.expr.clauses[0]
            if not (
                isinstance(block, ast.Block)
                and block.ret is None
                and len(block.stmts) == 1
                and isinstance(block.stmts[0], ast.Out)
            ):
                return ("none",)
            pval, pouts = comp.compile_expr(pred_ast, env)
            oval, oouts = comp.compile_expr(block.stmts[0].value, env)
            if pouts is not None or oouts is not None:
                return ("none",)
            out_col = comp.coerce_to(oval, self.resolved_output)
            from udlang_spark.kernel.compiler import as_col

            return ("filter", as_col(pval), out_col)
        return ("none",)

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

        Single-`out` and conditional-single-`out` kernels take a
        filter+select fast path so predicates and projections push down to
        the scan (see _filter_select_fastpath).

        debug=True adds a `_debug` array<string> column holding the record's
        `!`-tapped values (manual.md:54-62 — the reference's stderr trace,
        surfaced as data since executor stderr isn't observable). Taps are
        recorded unconditionally (even in untaken branches) — a documented
        deviation; route the column to logs or a sink as needed.

        recursion="interp" switches to the per-row AST interpreter
        (kernel/interp.py) inside mapInPandas — the SURVEY.md §2.10 UDF
        fallback: reference semantics at ANY recursion depth, at Python
        speed; the default "unroll" path compiles recursion into Column
        expressions up to max_depth (JVM-speed, bounded depth).
        """
        if recursion == "interp":
            return self._apply_interp(df, input_col, keep, out_name)
        if recursion != "unroll":
            raise ValueError("recursion must be 'unroll' or 'interp'")
        if not with_pos and not debug:
            fast = self._filter_select_fastpath(df, input_col, keep, out_name)
            if fast is not None:
                return fast
        key = ("main", self._resolved_input_col(df, input_col))
        cached = self._expr_cache.get(key)
        if cached is None:
            cached = self._outputs_and_debug(self._in_sval(df, input_col))
            self._expr_cache[key] = cached
        outs, dbg, bindings = cached
        # hoisted range-check operands become narrow intermediate
        # projections below the output select; Catalyst's CollapseProject
        # re-inlines the cheap ones and keeps the expensive multi-referenced
        # ones split — which is the point (janino-limit fix, SURVEY §2.3)
        base = df
        for bname, bcol in bindings:
            base = base.select("*", bcol.alias(bname))
        exploded = F.posexplode(outs)
        cols = [F.col(c) for c in keep]
        if debug and dbg is not None:
            sel = base.select(*cols, dbg.alias("_debug"), exploded.alias("pos", out_name))
        else:
            sel = base.select(*cols, exploded.alias("pos", out_name))
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
    text returns the SAME Kernel, whose compiled-expression cache then
    makes repeat apply() calls skip parse + symbolic compile + py4j
    Column-tree construction entirely — the engine's query-plan cache."""
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
