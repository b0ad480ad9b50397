"""Execute a compiled constraint plan over a DataFrame.

One projection evaluates every row-level check (whole-stage codegen, no
shuffle); violations are collected per row as an
``array<struct<constraint,path,observed>>`` and exploded into violation
rows ``(key, constraint, path, observed)`` — the engine's rendering of
jesse's ``{data_invalid, Schema, ErrorType, Value, Path}`` error tuples
(jesse_error.erl:39-48, 85-92).

Error-accumulation policy is jesse's ``allowed_errors`` / error_handler
option (jesse.erl:61-66, jesse_error.erl:71-78):

- ``collect`` (allowed_errors = infinity) → all violations per row;
- ``fail_fast`` (allowed_errors = 0) → the conjunction of all predicates
  only; Spark short-circuits ANDs in codegen, so invalid rows stop
  evaluating early just like jesse's throw.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jesse_spark.compiler import Check, compile_checks
from jesse_spark.schema.parser import SchemaRegistry


def _instance_col(df: DataFrame) -> Column:
    # the whole row as a struct — Catalyst's SimplifyExtractValueOps
    # rewrites GetStructField(CreateNamedStruct(...)) back to the bare
    # attribute, so this costs nothing at runtime
    return F.struct(*[F.col(c) for c in df.columns])


def with_violations(
    df: DataFrame,
    checks: Sequence[Check],
    instance: Column | None = None,
    *,
    violations_col: str = "violations",
    valid_col: str = "valid",
    allowed_errors: int | None = None,
) -> DataFrame:
    """Add ``violations: array<struct>`` + ``valid: boolean`` in ONE
    projection (single codegen stage, zero shuffles).

    ``allowed_errors`` is jesse's error budget (jesse_state.erl:126-129,
    jesse_error.erl:71-78): the default (None ≡ infinity) collects every
    violation per row; a finite budget keeps only the first
    ``allowed_errors + 1`` violations — enough to prove the budget was
    exceeded, like jesse's throw-once-over-budget."""
    col = _instance_col(df) if instance is None else instance
    arr = violations_array(checks, col)
    if allowed_errors is not None:
        arr = F.slice(arr, 1, allowed_errors + 1)
    out = df.withColumn(violations_col, arr)
    return out.withColumn(valid_col, F.size(violations_col) == 0)


def check_preds(checks: Sequence[Check], instance: Column) -> list[Column]:
    """Each check's null-safe pass predicate, built ONCE — the Check
    callables construct Column trees through py4j on every call, so
    callers that need both the violations array and the fail-fast
    conjunction should share this list (r6: rebuilding the predicates
    for fail_fast_pred was ~0.5 s of driver time per clips-suite
    plan)."""
    return [F.coalesce(c.pred(instance), F.lit(False)) for c in checks]


def violations_array(checks: Sequence[Check], instance: Column,
                     preds: Sequence[Column] | None = None) -> Column:
    """The per-row ``array<struct<constraint,path,observed>>`` column;
    ``preds`` (from :func:`check_preds`) is reused when given."""
    preds = check_preds(checks, instance) if preds is None else preds
    structs = [
        F.when(
            ~p,
            F.struct(
                F.lit(c.constraint).alias("constraint"),
                F.lit(c.path).alias("path"),
                F.coalesce(c.observed(instance).cast("string"),
                           F.lit("null")).alias("observed"),
            ),
        )
        for c, p in zip(checks, preds)
    ]
    return F.array_compact(F.array(*structs))


def fail_fast_pred(checks: Sequence[Check], instance: Column,
                   preds: Sequence[Column] | None = None) -> Column:
    """allowed_errors=0 mode: a single short-circuiting conjunction."""
    pred = F.lit(True)
    for p in (check_preds(checks, instance) if preds is None else preds):
        pred = pred & p
    return pred


def violation_rows(
    validated: DataFrame,
    key_cols: Sequence[str],
    *,
    violations_col: str = "violations",
) -> DataFrame:
    """Explode per-row violation arrays into jesse-style error rows."""
    v = F.explode(F.col(violations_col)).alias("v")
    return (
        validated.filter(F.size(violations_col) > 0)
        .select(*key_cols, v)
        .select(
            *key_cols,
            F.col("v.constraint").alias("constraint"),
            F.col("v.path").alias("path"),
            F.col("v.observed").alias("observed"),
        )
    )


def partition_verdicts(validated: DataFrame, *, valid_col: str = "valid") -> DataFrame:
    """Per-partition pass/fail + counts (north_rule: per-partition
    verdicts).  Partial aggregation happens map-side; the shuffle moves
    one row per partition."""
    return (
        validated.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col(valid_col)).cast("long")).alias("invalid_rows"),
        )
        .withColumn("passed", F.col("invalid_rows") == 0)
    )


@dataclass
class ValidationResult:
    validated: DataFrame      # input + violations + valid
    violations: DataFrame     # (key..., constraint, path, observed)
    verdicts: DataFrame       # (partition_id, rows, invalid_rows, passed)
    checks: list[Check]


def validate(
    df: DataFrame,
    schema: Any,
    key_cols: Sequence[str],
    *,
    registry: SchemaRegistry | None = None,
    draft: int | None = None,
    anyof_detail_max: int | None = None,
    ref_unroll_max: int | None = None,
    pattern_lint: bool = True,
) -> ValidationResult:
    """Compile ``schema`` against ``df``'s static schema and build the
    full lazy validation plan (nothing executes until an action).

    ``anyof_detail_max`` raises/lowers the anyOf branch-detail budget
    (a compile-time warning fires when detail is dropped);
    ``ref_unroll_max`` bounds recursive-$ref unrolling (instances
    nested deeper fail closed with code ref_unroll_exceeded)."""
    checks = compile_checks(schema, df.schema, registry=registry, draft=draft,
                            null_is_absent=True,
                            anyof_detail_max=anyof_detail_max,
                            ref_unroll_max=ref_unroll_max,
                            pattern_lint=pattern_lint)
    validated = with_violations(df, checks)
    return ValidationResult(
        validated=validated,
        violations=violation_rows(validated, key_cols),
        verdicts=partition_verdicts(validated),
        checks=list(checks),
    )


def _element_violation_rows(df: DataFrame, elems: Column, checks: Sequence[Check],
                            col: str, key_cols: Sequence[str]) -> DataFrame:
    """Violation rows of each element of the array ``elems``, with the
    element index in the JSON pointer (``/col/<i>/...``)."""
    exploded = df.select(*key_cols, F.posexplode(elems).alias("_pos", "_elem"))
    validated = with_violations(exploded, checks, instance=F.col("_elem"))
    return (
        validated.filter(F.size("violations") > 0)
        .select(*key_cols, "_pos", F.explode("violations").alias("v"))
        .select(
            *key_cols,
            F.col("v.constraint").alias("constraint"),
            F.concat(F.lit(f"/{col}/"), F.col("_pos").cast("string"),
                     F.col("v.path")).alias("path"),
            F.col("v.observed").alias("observed"),
        )
    )


def variant_array_violation_rows(
    df: DataFrame,
    variant_col: str,
    item_schema: Any,
    key_cols: Sequence[str],
    *,
    registry: SchemaRegistry | None = None,
    draft: int | None = None,
) -> DataFrame:
    """Variant-mode analog of :func:`array_violation_rows`: per-ELEMENT
    violations with exact indices in the JSON pointer for a VARIANT
    column holding a JSON array — jesse always appends the array index
    to the error path (jesse_validator_draft4.erl:542-562 via the
    jesse_state path stack), and dynamic (schema-on-read) data deserves
    the same detail as typed data.

    Rows whose variant is not an array are skipped (the whole-value
    checks from compile_variant_checks cover those); like the typed
    variant, run this on the failing subset — posexplode multiplies
    rows."""
    from jesse_spark.variant_compiler import compile_variant_checks, is_array

    checks = compile_variant_checks(item_schema, registry=registry, draft=draft)
    v = F.col(variant_col)
    return _element_violation_rows(df.filter(v.isNotNull() & is_array(v)),
                                   v.cast("array<variant>"), checks,
                                   variant_col, key_cols)


def array_violation_rows(
    df: DataFrame,
    array_col: str,
    item_schema: Any,
    key_cols: Sequence[str],
    *,
    registry: SchemaRegistry | None = None,
    draft: int | None = None,
) -> DataFrame:
    """Per-ELEMENT violations with exact indices in the JSON pointer —
    jesse appends the array index to the error path
    (jesse_validator_draft4.erl:542-562 via jesse_state path stack).

    The in-row forall() checks (compile_checks items handling) answer
    pass/fail cheaply; this posexplode plan is the detail query you run
    on the failing subset to recover `(key, /col/<i>/..., observed)`
    rows.  Explode multiplies rows, so drive it AFTER filtering to rows
    whose array actually failed."""
    from pyspark.sql import types as T

    dtype = df.schema[array_col].dataType
    if not isinstance(dtype, T.ArrayType):
        raise TypeError(f"{array_col} is not an array column")
    checks = compile_checks(item_schema, dtype.elementType,
                            registry=registry, draft=draft,
                            null_is_absent=False)
    return _element_violation_rows(df, F.col(array_col), checks, array_col,
                                   key_cols)
