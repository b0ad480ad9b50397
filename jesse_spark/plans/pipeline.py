"""The flagship end-to-end validation pipeline over the clips table.

Stage layout (north_star / SURVEY.md §3 engine lifecycle):

1. row-level keyword suite — ONE codegen projection (no shuffle);
2. audio payload stage — Arrow pandas UDF, run ONLY on rows that passed
   the row suite (jesse's fail-fast external_validator ordering:
   keyword errors throw before the external hook runs,
   jesse_validator_draft4.erl:257-258 with allowed_errors=0), and only
   this stage reads `bytes` (column pruning keeps it out of the scan
   for every other stage);
3. uniqueness — two-phase approx→exact on clip_id;
4. referential integrity — broadcast anti join on codec;
5. violations = union of all stages in jesse's error-row shape;
6. per-partition verdicts + optional checkpoint manifests.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jesse_spark.compiler import compile_checks
from jesse_spark.functions.audio import audio_violations, with_audio_checks
from jesse_spark.operators.integrity import ri_violation_rows
from jesse_spark.operators.uniqueness import uniqueness_violations
from jesse_spark.plans.validate import (
    partition_verdicts,
    violation_rows,
    with_violations,
)
from jesse_spark.sources.fixtures import CLIPS_CONSTRAINT_SCHEMA


@dataclass
class SuiteResult:
    validated: DataFrame       # clips + violations array + valid flag
    violations: DataFrame      # union: row ∪ audio ∪ uniqueness ∪ RI
    verdicts: DataFrame        # per-partition pass/fail


VIOLATION_COLS = ("clip_id", "constraint", "path", "observed")


def run_full_suite(
    clips: DataFrame,
    codecs: DataFrame,
    *,
    schema: dict | None = None,
    with_audio: bool = True,
    ignore_cols: tuple[str, ...] = ("_shard",),
    compile_opts: dict | None = None,
) -> SuiteResult:
    """Caches a NARROW projection (no ``bytes``) of the row-suite output
    — the returned ``validated`` — so the four consumers (violation
    rows, verdicts, uniqueness, RI) share one scan.  The audio stage
    re-reads ``bytes`` separately and filters with the codegen'd
    fail-fast conjunction instead of rebuilding violation arrays — the
    decode UDF must never see rows the keyword suite already rejected
    (jesse runs the external validator only when keyword checks passed,
    jesse_validator_draft4.erl:257-258 with allowed_errors=0).

    ``ignore_cols`` names harness columns (checkpoint shard ids etc.)
    that must stay OUT of the validated instance: the constraint schema
    (additionalProperties: false) is compiled against the data columns
    only, so a ``_shard`` column added by the resume machinery is not
    reported as an extra property.

    ``compile_opts`` forwards compile options to
    :func:`compile_checks` (anyof_detail_max, ref_unroll_max,
    pattern_lint)."""
    from pyspark import StorageLevel
    from pyspark.sql import types as T

    schema = schema or CLIPS_CONSTRAINT_SCHEMA
    data_cols = [c for c in clips.columns if c not in set(ignore_cols)]
    data_type = T.StructType([clips.schema[c] for c in data_cols])
    inst = F.struct(*[F.col(c) for c in data_cols])
    checks = compile_checks(schema, data_type, null_is_absent=True,
                            **(compile_opts or {}))
    # build each check's predicate Column ONCE; the violations array
    # and the audio stage's fail-fast conjunction share the list
    # (rebuilding them through py4j cost ~0.5 s of driver time per
    # suite plan — guide §1, measured r6)
    from jesse_spark.plans.validate import check_preds, violations_array

    preds = check_preds(checks, inst)
    validated = (clips.withColumn(
        "violations", violations_array(checks, inst, preds))
        .withColumn("valid", F.size("violations") == 0))

    narrow = validated.drop("bytes").persist(StorageLevel.MEMORY_AND_DISK)

    row_v = violation_rows(narrow, ["clip_id"])

    parts = [row_v.select(*VIOLATION_COLS)]
    if with_audio:
        from jesse_spark.plans.validate import fail_fast_pred

        passing = clips.filter(
            fail_fast_pred(checks, inst, preds)
        ).select("clip_id", "bytes", "codec", "sr_hz", "transcript")
        checked = with_audio_checks(passing)
        parts.append(audio_violations(checked).select(*VIOLATION_COLS))
    parts.append(uniqueness_violations(narrow, "clip_id").select(*VIOLATION_COLS))
    parts.append(ri_violation_rows(narrow, "codec", codecs).select(*VIOLATION_COLS))

    all_v = parts[0]
    for p in parts[1:]:
        all_v = all_v.unionByName(p)

    return SuiteResult(
        validated=narrow,
        violations=all_v,
        verdicts=partition_verdicts(narrow),
    )
