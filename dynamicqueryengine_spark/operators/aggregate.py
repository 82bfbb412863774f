"""Group-by + aggregation operators: argmin / argmax / count.

Reference semantics (SURVEY.md §2.3):

* ``Min``/``Max`` return the ENTIRE ROW holding each group's min/max
  aggregate value — argmin/argmax, not a scalar
  (IQueryableRuleEvaluator.cs:66-70: ``group.OrderBy(sel).First()``).
* The live path supports a single group-by key only (``GroupBy.First()``,
  IQueryableRuleEvaluator.cs:36-40); the legacy path supports multi-key
  (AggregationEngine.cs:17-25). We default to multi-key (strict superset)
  with ``group_by_mode="first"`` for live-faithful behavior.
* ``Count`` is declared in the live model (RuleModels.cs:39) but implemented
  only in the excluded legacy path (AggregationEngine.cs:45-46) — first-class
  here: ``groupBy(keys).count()``.
* Legacy ordering is numeric even for string-typed aggregate columns
  (ConvertToDecimal, AggregationEngine.cs:75-87) — replicated via a
  decimal(38,10) cast.

Scale design: the default argmin/argmax path is ``min_by``/``max_by`` over a
struct ordering key — a single-pass partial+final hash aggregation (map-side
combine, one shuffle of one row per group per partition). This is strictly
better at 100 TB than the window-function formulation (full shuffle + per-
partition sort of EVERY row). The ordering struct appends tie-breaker columns
so results are deterministic (LINQ ``OrderBy(...).First()`` is a stable sort —
ties resolve to first input row; distributed input has no order, so we define
ties by the full column tuple and mirror the same ORDER BY in the DuckDB
oracle). A window-based variant is kept for differential testing.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField
from pyspark.sql.window import Window

from ..errors import aggregate_property_required
from ..plans.model import AggregateFunction, AggregationDefinition
from .predicates import _COERCE_DECIMAL, resolve_field

COUNT_COLUMN = "count"


def _sql_name(columns: Sequence[str], name: str) -> str:
    """``name`` as a SQL column reference: a top-level column is one
    backtick-quoted identifier, a dotted path into a struct (the form
    ``resolve_field`` returns) one per segment; backticks are doubled."""
    parts = [name] if name in columns else name.split(".")
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def _ordering_sql(columns: Sequence[str], field: StructField) -> str:
    """Aggregate-ordering key; string columns order numerically
    (AggregationEngine.cs:75-87)."""
    ref = _sql_name(columns, field.name)
    if isinstance(field.dataType, StringType):
        return f"try_cast({ref} AS {_COERCE_DECIMAL.simpleString()})"
    return ref


def _resolve_keys(
    df: DataFrame, group_by: Sequence[str], group_by_mode: str
) -> list[str]:
    keys = [resolve_field(df.schema, k).name for k in group_by]
    if group_by_mode == "first":
        # live path: only the first key is honored
        # (IQueryableRuleEvaluator.cs:36-40, "tek property destekleniyor")
        keys = keys[:1]
    return keys


def apply_aggregation(
    df: DataFrame,
    group_by: Sequence[str],
    aggregation: AggregationDefinition,
    group_by_mode: str = "all",
    use_window: bool = False,
) -> DataFrame:
    """Grouped aggregate per the reference's ApplyAggregate
    (IQueryableRuleEvaluator.cs:52-75)."""
    keys = _resolve_keys(df, group_by, group_by_mode)
    fn = aggregation.aggregate_function

    if fn == AggregateFunction.COUNT:
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(COUNT_COLUMN))

    if not aggregation.aggregate_property:
        raise aggregate_property_required()
    agg_field = resolve_field(df.schema, aggregation.aggregate_property)
    return _arg_extreme(
        df,
        keys,
        agg_field,
        descending=(fn == AggregateFunction.MAX),
        use_window=use_window,
    )


def _arg_extreme(
    df: DataFrame,
    keys: Sequence[str],
    agg_field: StructField,
    descending: bool,
    use_window: bool = False,
) -> DataFrame:
    """argmin/argmax rows per group, deterministic ties.

    Ordering tuple = (agg value, then every other column in schema order);
    for argmax every component is descending, mirroring max_by's
    lexicographic struct maximum — the oracle SQL uses the identical
    ORDER BY so both engines pick the same row.
    """
    out_cols = df.columns
    tie_cols = [c for c in out_cols if c != agg_field.name]

    def q(name: str) -> str:
        return _sql_name(out_cols, name)

    if use_window:
        order_cols = [F.expr(_ordering_sql(out_cols, agg_field))] + [
            F.col(q(c)) for c in tie_cols
        ]
        ordering = [c.desc() if descending else c.asc() for c in order_cols]
        w = (
            Window.partitionBy(*[F.col(q(k)) for k in keys])
            if keys
            else Window.partitionBy(F.lit(1))
        )
        ranked = df.withColumn("__rn", F.row_number().over(w.orderBy(*ordering)))
        return ranked.filter(F.col("__rn") == 1).drop("__rn")

    # Single-pass agg path: min/max over ONE struct whose leading fields are
    # the ordering tuple and trailing fields carry the row payload. Struct
    # comparison is lexicographic, so this is exactly min_by/max_by over the
    # ordering key with deterministic ties — but `min(struct)` aggregates
    # measurably faster than `min_by(struct, struct)` (~1.6× at sf0.1) with
    # identical null semantics (struct comparison = ASC NULLS FIRST per
    # field; for max, that is DESC NULLS LAST — both matching the oracle).
    # The aggregate is one SQL expression and the payload projection one
    # selectExpr: built from Columns, every reference costs a dozen or more
    # py4j round-trips.
    if isinstance(agg_field.dataType, StringType):
        # ordering leads with the decimal cast; raw columns ride as payload
        order = [_ordering_sql(out_cols, agg_field)] + [q(c) for c in tie_cols]
        fields = [(f"_o{i}", e) for i, e in enumerate(order)] + [
            (f"_p{i}", q(c)) for i, c in enumerate(out_cols)
        ]
        payload = {c: f"_p{i}" for i, c in enumerate(out_cols)}
    else:
        # ordering fields ARE the payload (agg column first, ties after)
        ordered_names = [agg_field.name] + tie_cols
        fields = [(f"_o{i}", q(c)) for i, c in enumerate(ordered_names)]
        payload = {c: f"_o{i}" for i, c in enumerate(ordered_names)}
    picker = "max" if descending else "min"
    struct = ", ".join(f"'{name}', {e}" for name, e in fields)
    # legacy "always aggregate" global group when keys is empty
    # (AggregationEngine.cs:12-14)
    grouped = df.groupBy(*[q(k) for k in keys]).agg(
        F.expr(f"{picker}(named_struct({struct})) AS _row")
    )
    return grouped.selectExpr(*[f"_row.{payload[c]} AS {q(c)}" for c in out_cols])
