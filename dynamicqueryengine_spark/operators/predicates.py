"""Condition → ``pyspark.sql.Column`` compiler — the core of the engine.

This replaces the reference's LINQ expression-tree builder
(DynamicQueryEngine.Core/Services/IQueryableRuleEvaluator.cs:86-577) with a
Catalyst expression builder: every leaf ``Condition`` compiles to a boolean
``Column``; boolean combinators fold with ``&``/``|``/``~``; Catalyst then
does predicate pushdown / constant folding / codegen for free (the reference
has no optimizer at all — SURVEY.md §4).

Faithfulness notes (each replicated deliberately, see SURVEY.md §2.2):

* Operator names match case-insensitively (IQueryableRuleEvaluator.cs:135).
* Ordering comparisons on STRING columns are NUMERIC, not lexicographic: the
  reference wraps the property in ``decimal.Parse`` and coerces the literal to
  decimal (IQueryableRuleEvaluator.cs:128-132, 535-538). We emit
  ``col.cast(decimal(38,10))``. Divergence: ``decimal.Parse`` throws on
  malformed strings, a cast yields NULL (row silently dropped) — documented
  Spark-idiomatic behavior (SURVEY.md §1.4 fidelity note).
* ``Contains/StartsWith/EndsWith`` are ordinal case-SENSITIVE
  (IQueryableRuleEvaluator.cs:286-307) while ``MustContainIfCountIsGreater``'s
  ``Required`` check is case-INsensitive (IQueryableRuleEvaluator.cs:451-456).
* ``NotNullOrEmpty`` is a faithful reference bug: ``col != null || col != ""``
  (OrElse at IQueryableRuleEvaluator.cs:210-216) is a tautology — TRUE for
  every row (C# ``null != ""`` is true). ``strict_compat=True`` (default)
  compiles it to ``lit(True)``; ``strict_compat=False`` gives the sane
  ``isNotNull AND != ''`` variant.
* ``If`` is material implication: ``check ? then : TRUE``
  (IQueryableRuleEvaluator.cs:410).
* When a condition's Value is null/absent, the constant resolves from
  ``external_params`` keyed by the condition's Property
  (FindExternalConstant, IQueryableRuleEvaluator.cs:313-329); the Dynamic*
  unary ops test the PARAMETER value, not the column — they are
  row-independent constants (IQueryableRuleEvaluator.cs:249-272) that
  Catalyst folds away.
* ``In``/``NotIn`` accept arrays of any JSON scalar — a documented superset
  (the reference only accepts string elements, IQueryableRuleEvaluator.cs:168).
"""

from __future__ import annotations

import datetime as _dt
from decimal import Decimal, InvalidOperation
from functools import reduce
from operator import and_, or_
from typing import Any, Mapping

from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    NumericType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..errors import (
    RuleCompilationError,
    UnsupportedOperatorError,
    in_expects_array,
    missing_external_param,
    property_not_found,
)
from ..plans.model import Condition, ConditionGroup, RuleDefinition, _ci_get
from .registry import lookup_operator as _lookup_custom

# Decimal shape used for string-as-numeric coercion; wide enough for every
# fixture value while keeping comparisons exact.
_COERCE_DECIMAL = DecimalType(38, 10)

# Numeric-ordering operators that trigger string→decimal coercion
# (IsNumericOperator, IQueryableRuleEvaluator.cs:561-565).
_NUMERIC_OPS = frozenset(
    {"greaterthan", "greaterthanorequal", "lessthan", "lessthanorequal"}
)

def resolve_field(schema: StructType, prop: str, type_name: str = "Row") -> StructField:
    """Case-insensitive column resolution (BindingFlags.IgnoreCase,
    IQueryableRuleEvaluator.cs:125). DOTTED properties walk into struct
    children (``"payload.amount"`` — beyond-reference, r13): the
    returned field carries the FULL dotted path as its name, which both
    ``F.col`` and the generated ANSI SQL resolve as nested access. A
    literal top-level column whose name contains a dot wins over the
    walk (exact resolution beats path interpretation)."""
    lowered = prop.lower()
    for f in schema.fields:
        if f.name.lower() == lowered:
            return f
    if "." in prop:
        head, _, rest = prop.partition(".")
        head_l = head.lower()
        for f in schema.fields:
            if f.name.lower() == head_l and isinstance(
                f.dataType, StructType
            ):
                try:
                    leaf = resolve_field(f.dataType, rest, type_name)
                except Exception:
                    break  # report the FULL dotted path, not the leaf
                return StructField(
                    f"{f.name}.{leaf.name}", leaf.dataType, True
                )
    raise property_not_found(prop, type_name)


def _coerce_literal(value: Any, dtype: DataType) -> Any:
    """Python equivalent of ExtractValueWithCoercion + Convert.ChangeType
    (IQueryableRuleEvaluator.cs:531-559): JSON scalar → the column's type."""
    if value is None:
        return None
    try:
        if isinstance(dtype, BooleanType):
            if isinstance(value, bool):
                return value
            if isinstance(value, str):
                return value.strip().lower() in ("true", "1")
            return bool(value)
        if isinstance(dtype, (TimestampType, DateType)):
            if isinstance(value, (_dt.datetime, _dt.date)):
                return value
            ts = _dt.datetime.fromisoformat(str(value))
            return ts.date() if isinstance(dtype, DateType) else ts
        if isinstance(dtype, (DoubleType, FloatType)):
            return float(value)
        if isinstance(dtype, DecimalType):
            return Decimal(str(value))
        if isinstance(dtype, NumericType):  # integral types
            # C# Convert.ChangeType(double, int) rounds half-to-even —
            # Python round() matches exactly (0.5→0, 1.5→2)
            return round(float(value))
        if isinstance(dtype, StringType):
            if isinstance(value, bool):
                return "true" if value else "false"
            return str(value)
    except (ValueError, TypeError, InvalidOperation) as exc:
        raise RuleCompilationError(
            f"Cannot coerce value {value!r} to column type {dtype.simpleString()}"
        ) from exc
    return value


def _coerce_decimal(value: Any) -> Decimal:
    """Literal side of the string-as-numeric path
    (IQueryableRuleEvaluator.cs:535-538)."""
    try:
        return Decimal(str(value))
    except InvalidOperation as exc:
        raise RuleCompilationError(
            f"Cannot coerce value {value!r} to decimal for numeric comparison"
        ) from exc


def _is_null_or_whitespace(value: Any) -> bool:
    """C# string.IsNullOrWhiteSpace on the external parameter
    (IQueryableRuleEvaluator.cs:252)."""
    return value is None or (isinstance(value, str) and value.strip() == "")


def _param_not_empty(value: Any) -> bool:
    """BuildNotEmptyExpression semantics applied to a Python constant
    (IQueryableRuleEvaluator.cs:338-377): string → not null/empty;
    collection → non-null and non-empty; other → not None."""
    if value is None:
        return False
    if isinstance(value, str):
        return value != ""
    if isinstance(value, (list, tuple, set, dict)):
        return len(value) > 0
    return True


def _not_empty_column(field: StructField) -> Column:
    """NotEmpty on a column (IQueryableRuleEvaluator.cs:338-377):
    string → !IsNullOrEmpty; array → non-null && size>0; else → HasValue."""
    col = F.col(field.name)
    if isinstance(field.dataType, StringType):
        return col.isNotNull() & (col != F.lit(""))
    if isinstance(field.dataType, ArrayType):
        return col.isNotNull() & (F.size(col) > F.lit(0))
    return col.isNotNull()


def _parse_threshold(raw: Any) -> int:
    """Thresholds arrive as strings and go through int.Parse
    (IQueryableRuleEvaluator.cs:424-425, 473-474, 507-508); accept ints too."""
    try:
        return int(str(raw))
    except (TypeError, ValueError) as exc:
        raise RuleCompilationError(f"Invalid threshold value: {raw!r}") from exc


def _regex_count(field: StructField, pattern: str) -> Column:
    """Match count of ``pattern`` in str(col) — Regex.Matches(...).Count
    (IQueryableRuleEvaluator.cs:437-446, 481-489). ``regexp_count`` is
    JVM-side (whole-stage codegen), no Python UDF."""
    return F.regexp_count(F.col(field.name).cast("string"), F.lit(pattern))


class PredicateCompiler:
    """Compiles a rule's boolean tree against one DataFrame schema.

    Driver-side only: builds unresolved Catalyst expressions; nothing
    executes until an action runs. Mirrors BuildFilter/BuildGroupBody/
    BuildCondition (IQueryableRuleEvaluator.cs:77-311).
    """

    def __init__(
        self,
        schema: StructType,
        external_params: Mapping[str, Any] | None = None,
        strict_compat: bool = True,
        type_name: str = "Row",
    ) -> None:
        self.schema = schema
        self.params = dict(external_params or {})
        self.strict_compat = strict_compat
        self.type_name = type_name

    # -- public ----------------------------------------------------------

    def compile_group(self, group: ConditionGroup | None) -> Column:
        """ConditionGroup → boolean Column (BuildGroupBody,
        IQueryableRuleEvaluator.cs:86-118)."""
        if group is None or group.is_empty():
            # empty group → no filtering (IQueryableRuleEvaluator.cs:103-106)
            return F.lit(True)
        exprs = [self.compile_condition(c) for c in group.conditions]
        exprs += [self.compile_group(g) for g in group.groups]
        combine = or_ if group.logical_operator.strip().upper() == "OR" else and_
        body = reduce(combine, exprs)
        if group.negate:
            body = ~body  # IQueryableRuleEvaluator.cs:112-115
        return body

    def compile_condition(self, cond: Condition) -> Column:
        """Leaf dispatch (BuildCondition, IQueryableRuleEvaluator.cs:120-311)."""
        op = cond.operator.strip().lower()

        # --- registered custom operators (operators/registry.py) ---
        # Consulted first for dispatch simplicity; registration REJECTS
        # built-in names, so this can never shadow the parity surface.
        custom = _lookup_custom(op)
        if custom is not None:
            field = (
                None
                if custom.param_only
                else resolve_field(self.schema, cond.property, self.type_name)
            )
            return custom.compile_fn(field, cond.value, dict(self.params))

        # --- row-independent Dynamic* unary ops: evaluate the PARAMETER ---
        if op == "dynamicnullorempty":
            return F.lit(_is_null_or_whitespace(self._require_param(cond, op)))
        if op == "dynamicnotnullorempty":
            return F.lit(not _is_null_or_whitespace(self._require_param(cond, op)))
        if op == "dynamicnotempty":
            return F.lit(_param_not_empty(self._require_param(cond, op)))
        if op == "dynamicempty":
            return F.lit(not _param_not_empty(self._require_param(cond, op)))

        field = resolve_field(self.schema, cond.property, self.type_name)
        col = F.col(field.name)

        # --- null/empty family (no literal needed) ---
        if op == "null":
            return col.isNull()
        if op == "notnull":
            return col.isNotNull()
        if op == "notempty":
            return _not_empty_column(field)
        if op == "empty":
            return ~_not_empty_column(field)
        if op == "nullorempty":
            if isinstance(field.dataType, StringType):
                return col.isNull() | (col == F.lit(""))
            return col.isNull()
        if op == "notnullorempty":
            if self.strict_compat:
                # Faithful reference bug: OrElse makes this a tautology
                # (IQueryableRuleEvaluator.cs:210-216; C# null != "" is true,
                # so EVERY row passes). Catalyst folds lit(True) away.
                return F.lit(True)
            if isinstance(field.dataType, StringType):
                return col.isNotNull() & (col != F.lit(""))
            return col.isNotNull()

        # --- conditional (If) ---
        if op == "if":
            return self._compile_if(cond)

        # --- regex-count family ---
        if op == "containifcountisgreater":
            target, _, threshold = self._regex_args(cond, require_required=False)
            return _regex_count(field, target) > F.lit(threshold)
        if op == "containifcountisless":
            target, _, threshold = self._regex_args(cond, require_required=False)
            return _regex_count(field, target) < F.lit(threshold)
        if op == "mustcontainifcountisgreater":
            target, required, threshold = self._regex_args(cond, require_required=True)
            count_ok = _regex_count(field, target) > F.lit(threshold)
            # Required check is case-INsensitive, unlike Contains
            # (IQueryableRuleEvaluator.cs:451-456).
            required_ok = F.lower(col.cast("string")).contains(required.lower())
            return count_ok & required_ok

        # --- In / NotIn ---
        if op in ("in", "notin"):
            values = cond.value
            if values is None:
                values = self._require_param(cond, cond.operator)
            if not isinstance(values, (list, tuple)):
                raise in_expects_array()
            coerced = [_coerce_literal(v, field.dataType) for v in values]
            expr = col.isin(coerced)
            return ~expr if op == "notin" else expr

        # --- value-carrying comparisons & string methods ---
        value = cond.value
        if value is None or op == "dynamicequal":
            value = self._require_param(cond, cond.operator)

        if op in ("equal", "dynamicequal"):
            if value is None:
                # C# Expression.Equal with a typed null constant: true for
                # null rows (IQueryableRuleEvaluator.cs:323-326) — Spark's
                # `== lit(null)` would drop everything, so use isNull.
                return col.isNull()
            return col == F.lit(_coerce_literal(value, field.dataType))
        if op == "notequal":
            if value is None:
                return col.isNotNull()
            return col != F.lit(_coerce_literal(value, field.dataType))

        if op in _NUMERIC_OPS:
            if isinstance(field.dataType, StringType):
                # numeric, NOT lexicographic (IQueryableRuleEvaluator.cs:128-132);
                # try_cast → NULL on malformed (ANSI-safe), the documented
                # divergence from decimal.Parse-throws (SURVEY.md §1.4)
                lhs: Column = col.try_cast(_COERCE_DECIMAL)
                rhs = F.lit(_coerce_decimal(value))
            else:
                lhs = col
                rhs = F.lit(_coerce_literal(value, field.dataType))
            if op == "greaterthan":
                return lhs > rhs
            if op == "greaterthanorequal":
                return lhs >= rhs
            if op == "lessthan":
                return lhs < rhs
            return lhs <= rhs

        # string-method ops: ordinal case-sensitive
        # (IQueryableRuleEvaluator.cs:286-307)
        if op in ("contains", "notcontains", "startswith", "endswith"):
            text = col if isinstance(field.dataType, StringType) else col.cast("string")
            needle = "" if value is None else str(value)
            if op == "contains":
                return text.contains(needle)
            if op == "notcontains":
                return ~text.contains(needle)
            if op == "startswith":
                return text.startswith(needle)
            return text.endswith(needle)

        # Unknown operator → NotSupportedException (IQueryableRuleEvaluator.cs:308)
        raise UnsupportedOperatorError(f"Operator '{cond.operator}' not supported.")

    # -- helpers ---------------------------------------------------------

    def _compile_if(self, cond: Condition) -> Column:
        """Value = {Check: Condition, Then: Condition} → check ? then : TRUE
        (BuildIfExpression, IQueryableRuleEvaluator.cs:379-411). Both
        sub-conditions recurse through compile_condition, so any operator
        may nest."""
        if not isinstance(cond.value, Mapping):
            raise RuleCompilationError("Invalid value format for 'If' operator.")
        check_raw = _ci_get(cond.value, "Check")
        then_raw = _ci_get(cond.value, "Then")
        if not isinstance(check_raw, Mapping) or not isinstance(then_raw, Mapping):
            raise RuleCompilationError(
                "Both 'Check' and 'Then' properties are required for 'If' operator."
            )
        check = self.compile_condition(Condition.from_dict(check_raw))
        then = self.compile_condition(Condition.from_dict(then_raw))
        return F.when(check, then).otherwise(F.lit(True))

    def _regex_args(
        self, cond: Condition, require_required: bool
    ) -> tuple[str, str, int]:
        """Parse {Target, Required?, Threshold} value objects
        (IQueryableRuleEvaluator.cs:413-529)."""
        if not isinstance(cond.value, Mapping):
            raise RuleCompilationError(
                f"Invalid value format for {cond.operator}."
            )
        target = _ci_get(cond.value, "Target")
        required = _ci_get(cond.value, "Required")
        threshold = _ci_get(cond.value, "Threshold", default=0)
        if require_required:
            if not target or not required:
                raise RuleCompilationError("Target and Required fields are mandatory.")
        elif not target:
            raise RuleCompilationError("Target field is mandatory.")
        return str(target), str(required or ""), _parse_threshold(threshold)

    def _require_param(self, cond: Condition, op: str) -> Any:
        """FindExternalConstant (IQueryableRuleEvaluator.cs:313-329):
        the parameter is keyed by the condition's PROPERTY name; a missing
        key throws; an explicit None value is allowed."""
        if cond.property in self.params:
            return self.params[cond.property]
        # case-insensitive fallback, matching column-resolution spirit
        lowered = {k.lower(): v for k, v in self.params.items()}
        if cond.property.lower() in lowered:
            return lowered[cond.property.lower()]
        raise missing_external_param(cond.property, op)


def compile_predicate(
    group: ConditionGroup | None,
    schema: StructType,
    external_params: Mapping[str, Any] | None = None,
    strict_compat: bool = True,
    type_name: str = "Row",
) -> Column:
    """Convenience wrapper: rule boolean tree → Catalyst Column."""
    return PredicateCompiler(
        schema, external_params, strict_compat, type_name
    ).compile_group(group)


# ----------------------------------------------------- data-skip extraction

# rule operator → versioned-table skip op (sources/versioned.py _SKIP_OPS);
# all null-rejecting, which is what makes footer-stats pruning sound
_SKIP_RANGE_OPS = {
    "greaterthan": ">",
    "greaterthanorequal": ">=",
    "lessthan": "<",
    "lessthanorequal": "<=",
}


def _skip_param(params: Mapping[str, Any], prop: str) -> tuple[bool, Any]:
    """``(present, value)`` of the external param keyed by ``prop``:
    the exact key first, else a case-insensitive match (None when
    absent)."""
    if prop in params:
        return True, params[prop]
    lowered = {str(k).lower(): v for k, v in params.items()}
    return prop.lower() in lowered, lowered.get(prop.lower())


def _skip_conjunct(
    cond: Condition,
    schema: StructType,
    params: Mapping[str, Any],
    type_name: str,
) -> tuple | None:
    """One leaf condition → a (col, op, value) skip tuple, or None when
    the condition cannot soundly prune on parquet footer min/max stats.
    Conservative by design: anything unresolvable, uncoercible, or with
    semantics that diverge from the stats' native ordering (numeric
    comparison over a STRING column, null-equality) yields None — the
    full compiled predicate still filters, so skipping less is always
    correct."""
    op = cond.operator.strip().lower()
    if (
        op not in ("equal", "dynamicequal", "in", "null", "notnull")
        and op not in _SKIP_RANGE_OPS
    ):
        return None
    try:
        field = resolve_field(schema, cond.property, type_name)
    except Exception:  # unresolvable → let the real compile raise, not us
        return None
    dtype = field.dataType

    if op in ("null", "notnull"):
        # null-presence ops prune on the footers' exact null counts
        # (r9): a file with zero nulls cannot satisfy Null; an all-null
        # file cannot satisfy NotNull
        return (field.name, "isnull" if op == "null" else "notnull", None)

    if op == "in":
        values = cond.value
        if values is None:
            values = _skip_param(params, cond.property)[1]
        if not isinstance(values, (list, tuple)) or not values:
            return None
        coerced = []
        for v in values:
            if v is None:
                continue  # isin never matches null — drop for pruning
            try:
                coerced.append(_coerce_literal(v, dtype))
            except RuleCompilationError:
                return None
        return (field.name, "in", coerced) if coerced else None

    if op == "dynamicequal":
        # compile_condition resolves DynamicEqual EXCLUSIVELY from the
        # external params (_require_param) and IGNORES any literal Value
        # on the condition — pruning on cond.value here would drop files
        # against a value the compiled filter never tests (r9 advice:
        # silently-wrong results). Resolve only from params; a missing
        # param is the real compile's error, not a prunable fact.
        present, value = _skip_param(params, cond.property)
        if not present:
            return None
        if value is None:
            # explicitly-null param compiles to isNull — prunable on
            # the footers' exact null counts
            return (field.name, "isnull", None)
    else:
        value = cond.value
        if value is None:
            present, value = _skip_param(params, cond.property)
            if value is None:
                # Equal with an explicitly-null param compiles to isNull
                # — prunable on exact null counts (r9). A MISSING param
                # is the real compile's error, not a prunable fact
                if op == "equal" and present:
                    return (field.name, "isnull", None)
                return None
    if op in _SKIP_RANGE_OPS:
        if isinstance(dtype, StringType):
            # reference semantics compare string columns NUMERICALLY
            # (try_cast decimal) but footer stats are lexicographic —
            # pruning on them would be unsound
            return None
        skip_op = _SKIP_RANGE_OPS[op]
    else:
        skip_op = "="
    try:
        return (field.name, skip_op, _coerce_literal(value, dtype))
    except RuleCompilationError:
        return None


def _resolve_group(rule_or_group):
    """Normalize the conjunct extractors' duck-typed input — a
    RuleDefinition (walk its root group), a bare ConditionGroup, a raw
    rule/group dict, or None — to a ConditionGroup (or None). Shared by
    rule_skip_conjuncts and rule_exact_conjuncts so the two can never
    diverge on which inputs they accept (the getattr('conditions')
    fallback broke for ConditionGroup and dicts — r9 advice)."""
    if isinstance(rule_or_group, RuleDefinition):
        group = rule_or_group.conditions
    elif isinstance(rule_or_group, ConditionGroup) or rule_or_group is None:
        group = rule_or_group
    elif isinstance(rule_or_group, Mapping):
        # Disambiguate by the shape of "Conditions": a RULE dict nests a
        # group MAPPING there ({"Conditions": {...group...}}), a GROUP
        # dict holds a LIST of leaves ({"Conditions": [...], ...}).
        inner = _ci_get(rule_or_group, "Conditions")
        if isinstance(inner, Mapping):
            group = RuleDefinition.from_dict(rule_or_group).conditions
        else:
            group = ConditionGroup.from_dict(rule_or_group)
    else:
        group = getattr(rule_or_group, "conditions", rule_or_group)
    return group


def rule_exact_conjuncts(
    rule_or_group,
    schema: StructType,
    external_params: Mapping[str, Any] | None = None,
    type_name: str = "Row",
) -> list[tuple] | None:
    """The rule's compiled predicate as an EXACT ``(col, op, value)``
    conjunction — or None when the rule is not purely such a
    conjunction.

    :func:`rule_skip_conjuncts` OVER-approximates (sound for pruning:
    inexpressible leaves are simply dropped); a non-None result here is
    row-for-row EQUIVALENT to ``compile_predicate(rule)``: the tree
    combines with AND only (single-child OR included), nothing is
    negated, and EVERY leaf translates through :func:`_skip_conjunct`
    — whose returned tuples are exact renderings of their leaves'
    compiled semantics (Equal/In/Null/NotNull on any type, range
    comparisons on non-string columns; string-column ranges, regex/
    contains family, If, and custom operators all yield None and thus
    disqualify the rule).

    This is what lets ``vt_delete(rule=...)`` record a plain-predicate
    replay recipe: the streaming change source can evaluate the skip
    grammar with pyarrow, but not the full operator set — an exact
    conjunction makes a rule delete stream-replayable without
    materializing change rows."""
    conjuncts, exact = _rule_conjuncts(
        rule_or_group, schema, external_params, type_name
    )
    return conjuncts if exact else None


def rule_skip_conjuncts(
    rule_or_group,
    schema: StructType,
    external_params: Mapping[str, Any] | None = None,
    type_name: str = "Row",
) -> list[tuple]:
    """Extract the skip-eligible conjuncts a rule REQUIRES — the bridge
    between the rule engine and versioned-table data skipping
    (``vt_read(rule=...)`` / ``vt_scan_plan(predicate=[...])``).

    A conjunct is required only when every ancestor group combines with
    AND (an OR group with >1 child makes no single child required) and
    no ancestor is negated (a negated subtree inverts its children's
    ranges). Each surviving leaf goes through :func:`_skip_conjunct`'s
    soundness gate. The result OVER-approximates the rule: every row
    the rule accepts satisfies all returned conjuncts, so files pruned
    on them cannot contain matching rows — the compiled predicate still
    runs in full on whatever survives."""
    conjuncts, _ = _rule_conjuncts(
        rule_or_group, schema, external_params, type_name
    )
    return conjuncts


def _rule_conjuncts(
    rule_or_group,
    schema: StructType,
    external_params: Mapping[str, Any] | None = None,
    type_name: str = "Row",
) -> tuple[list[tuple], bool]:
    """One walk behind :func:`rule_skip_conjuncts` and
    :func:`rule_exact_conjuncts`: ``(conjuncts, exact)``, the required
    skip-eligible conjuncts and whether they render the whole rule. A
    subtree that makes no single child required (empty, negated, an OR
    of several) and a leaf :func:`_skip_conjunct` cannot translate are
    dropped from the conjuncts and make the rule inexact (an empty group
    compiles to TRUE, which no conjunction expresses)."""
    params = dict(external_params or {})
    out: list[tuple] = []
    exact = True

    def walk(g: ConditionGroup | None) -> None:
        nonlocal exact
        if g is None or g.is_empty() or g.negate or (
            g.logical_operator.strip().upper() == "OR"
            and len(g.conditions) + len(g.groups) > 1
        ):
            exact = False
            return
        for c in g.conditions:
            t = _skip_conjunct(c, schema, params, type_name)
            if t is None:
                exact = False
            else:
                out.append(t)
        for sub in g.groups:
            walk(sub)

    walk(_resolve_group(rule_or_group))
    return out, exact and bool(out)
