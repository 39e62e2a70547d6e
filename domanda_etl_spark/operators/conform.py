"""Schema-conformance operators (reference P8/P9/P10/P11, SURVEY.md §2.2).

The reference tolerates ragged inputs by renaming only columns that exist and
null-filling missing ones (reference cola_transformer.py:165-167, 271-287;
unified_transformer.py:190-207). Here the same tolerance is an explicit,
cheap, narrow (shuffle-free) operator set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def rename_existing(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P8 — bulk rename applied only to columns actually present."""
    present = {k: v for k, v in mapping.items() if k in df.columns}
    return df.withColumnsRenamed(present) if present else df


def ensure_columns(df: DataFrame, cols: dict[str, str] | list[str]) -> DataFrame:
    """P9 — add missing columns as typed nulls so downstream joins/selects
    never fail. `cols` is {name: ddl_type} or a list (string type)."""
    if isinstance(cols, list):
        cols = {c: "string" for c in cols}
    missing = {c: F.lit(None).cast(t) for c, t in cols.items() if c not in df.columns}
    return df.withColumns(missing) if missing else df


def default_fill(df: DataFrame, defaults: dict[str, Column]) -> DataFrame:
    """P10 — create absent metadata columns with default expressions
    (reference fills 建立時間 := now, KP := '')."""
    missing = {c: e for c, e in defaults.items() if c not in df.columns}
    return df.withColumns(missing) if missing else df


def blank_strings_to_null(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """P11 — whitespace-only strings -> NULL across all string columns
    (reference unified_transformer.py:539-544 does this elementwise over the
    whole frame; here it is a single narrow projection)."""
    targets = set(columns) if columns is not None else {
        f.name for f in df.schema.fields if isinstance(f.dataType, StringType)
    }
    # selectExpr with pre-composed SQL strings: the strings parse JVM-side,
    # vs ~6 py4j round-trips per column for the Column form (~0.6 s of
    # plan construction at 94 columns).
    exprs = []
    for c in df.columns:
        q = "`" + c.replace("`", "``") + "`"
        if c in targets:
            exprs.append(f"CASE WHEN trim({q}) = '' THEN NULL ELSE {q} END AS {q}")
        else:
            exprs.append(q)
    return df.selectExpr(*exprs)


class Bindings:
    """Stages the shared subexpressions of SQL-text expressions as columns.

    Pass an instance as the `let` of a `functions.scalars` builder: each
    subexpression the builder binds becomes a temporary column, and the
    builder's result reads it as a plain attribute. The same SQL text bound
    twice (the trimmed value two builders read) is one column. `apply`
    adds the temporaries in dependency layers, one projection per layer,
    then the requested columns, and drops the temporaries.

    No barrier is needed to keep the layers apart: a bound subexpression
    is not cheap and the layer above reads it more than once, and
    CollapseProject inlines only cheap producers or ones read once. So each
    subexpression is evaluated once per row and generated once in the
    stage's code — CASE branches are excluded from codegen subexpression
    elimination, and inline they repeat their regex subtrees (the cola
    luggage reassembly repeated ~90 regexes per column). Predicate pushdown
    does substitute through the layers: a filter over a staged column
    still needs `one_eval_barrier` below it."""

    PREFIX = "__let"

    def __init__(self) -> None:
        self._layers: list[dict[str, str]] = []
        self._ident: dict[str, str] = {}  # SQL text -> quoted temporary
        self._layer: dict[str, int] = {}  # quoted temporary -> its layer

    def __call__(self, sql: str) -> str:
        if sql in self._ident:
            return self._ident[sql]
        layer = max((d + 1 for q, d in self._layer.items() if q in sql), default=0)
        name = f"{self.PREFIX}{len(self._ident)}"
        q = f"`{name}`"
        if layer == len(self._layers):
            self._layers.append({})
        self._layers[layer][name] = sql
        self._ident[sql], self._layer[q] = q, layer
        return q

    def apply(self, df: DataFrame, cols: dict[str, str], select: bool = False) -> DataFrame:
        """`df` with `cols` ({name: SQL text}) added, or with only `cols`
        when `select`."""
        for layer in self._layers:
            df = df.selectExpr("*", *[f"({sql}) AS `{n}`" for n, sql in layer.items()])
        if select:
            return df.selectExpr(
                *[f"({sql}) AS `{c.replace('`', '``')}`" for c, sql in cols.items()]
            )
        df = df.withColumns({c: F.expr(sql) for c, sql in cols.items()})
        return df.drop(*[n for layer in self._layers for n in layer])


def one_eval_barrier(df: DataFrame) -> DataFrame:
    """Structural one-evaluation barrier: everything ABOVE this point
    references the columns computed BELOW it as plain attributes.

    explode(array(struct(*))) is a Generate node: CollapseProject cannot
    inline a generator output into upper expressions, predicate pushdown
    rewrites upper filters in terms of the generator's output fields
    instead of substituting the full producing expression, and no
    projection is pushed through it into a Union's children. Two uses
    remain where `Bindings` staging is not enough:
    - below a filter over computed columns (clean_supplier's P4 row
      filter over the canonical flight numbers), which pushdown would
      otherwise rewrite over the whole producing expression;
    - above a Union whose upper projections must be planned and compiled
      once, not once per child (the tagged union of the five supplier
      sides in plans.domanda.join_price_and_tax).
    Cost: one struct wrap/unwrap per row, and column pruning stops at the
    barrier — callers must project needed columns first."""
    return df.select(F.explode(F.array(F.struct("*"))).alias("_r")).select("_r.*")


def select_aliased(df: DataFrame, exprs: dict[str, Column]) -> DataFrame:
    """P7 — wide projection builder: one select with every output column an
    aliased expression (the engine's flagship projection node; the
    reference's 94-column rebuild at unified_transformer.py:290-503)."""
    return df.select(*[e.alias(name) for name, e in exprs.items()])
