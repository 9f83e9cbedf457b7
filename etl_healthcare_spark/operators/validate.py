"""V1-V5: validation as split-filter operators.

The reference validates three times (SURVEY §1.3): AJV envelope gate
(libs/contracts/src/validate.ts:13-27), Zod DTO gate (libs/validation/
dto.ts:3-12), AJV FHIR gate (libs/validation/fhir-ajv.ts:5-14).  Invalid rows
are skipped and counted, not fatal (services/normalize/handler.ts:102-140).

Spark-first: validation is a column predicate; "skip and count" becomes a
single stacked-`when` reject-reason column and two filters — one scan, no
subtract/anti-join (a `df.subtract(valid)` would shuffle the whole input;
a reason column keeps it embarrassingly parallel and gives the reject table
its DLQ-style diagnostics for free).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

REJECT_COL = "_reject_reason"


class SplitResult(NamedTuple):
    valid: DataFrame
    rejected: DataFrame  # carries REJECT_COL


def reject_reason(rules: list[tuple[str, Column]]) -> Column:
    """Stacked-when reason column; first failing rule in list order wins."""
    reason = F.lit(None).cast("string")
    for name, pred in reversed(rules):
        reason = F.when(~F.coalesce(pred, F.lit(False)), F.lit(name)).otherwise(reason)
    return reason


def tag_rejects(df: DataFrame, rules: list[tuple[str, Column]]) -> DataFrame:
    """All rows kept, REJECT_COL holds the first failing rule name (or NULL)."""
    return df.withColumn(REJECT_COL, reject_reason(rules))


def split_valid(df: DataFrame, rules: list[tuple[str, Column]]) -> SplitResult:
    """Apply ordered (reason, predicate-for-valid) rules; first failing rule
    names the reject reason (mirrors Zod's first-error reporting)."""
    tagged = tag_rejects(df, rules)
    valid = tagged.where(F.col(REJECT_COL).isNull()).drop(REJECT_COL)
    rejected = tagged.where(F.col(REJECT_COL).isNotNull())
    return SplitResult(valid, rejected)


def dto_rules() -> list[tuple[str, Column]]:
    """V2: the Zod DTO gate (libs/validation/dto.ts:3-12) as predicates:
    non-empty strings, finite number, valid timestamp, hash minLength 10."""
    nonempty = lambda c: (F.col(c).isNotNull()) & (F.length(F.col(c)) > 0)  # noqa: E731
    return [
        ("patientId_empty", nonempty("patientId")),
        ("code_empty", nonempty("code")),
        ("value_not_finite", F.col("value").isNotNull() & ~F.isnan(F.col("value"))),
        ("unit_empty", nonempty("unit")),
        ("effectiveDateTime_invalid", F.col("effectiveDateTime").isNotNull()),
        ("sourceSystem_empty", nonempty("sourceSystem")),
        ("ingestHash_short", F.col("ingestHash").isNotNull() & (F.length(F.col("ingestHash")) >= 10)),
    ]


def validate_dto(df: DataFrame) -> SplitResult:
    """V2 applied; invalid rows are counted by the caller (metrics M1 analog
    of services/normalize/handler.ts:137-140)."""
    return split_valid(df, dto_rules())


def envelope_rules() -> list[tuple[str, Column]]:
    """V1: the AJV envelope gate (ingest.raw.v1.json required fields)."""
    return [
        ("schema_mismatch", F.col("schema") == "ingest.raw.v1"),
        ("tenant_missing", F.col("metadata.tenantId").isNotNull() & (F.length("metadata.tenantId") > 0)),
        ("source_missing", F.col("metadata.source").isNotNull()),
        ("idempotency_missing", F.col("metadata.idempotencyKey").isNotNull() & (F.length("metadata.idempotencyKey") >= 4)),
    ]


def fhir_rules(fhir_col: str = "fhir") -> list[tuple[str, Column]]:
    """V3: FHIR conformance gate (Observation.r4.min.json required fields,
    status enum, coding minItems 1) as predicates on the built struct."""
    c = lambda f: F.col(f"{fhir_col}.{f}")  # noqa: E731
    return [
        ("fhir_resourceType", c("resourceType") == "Observation"),
        ("fhir_status_enum", c("status").isin("final", "amended", "corrected", "preliminary")),
        ("fhir_coding_empty", F.size(c("code.coding")) >= 1),
        ("fhir_subject_missing", c("subject.reference").isNotNull()),
        ("fhir_effective_missing", c("effectiveDateTime").isNotNull()),
        ("fhir_value_missing", c("valueQuantity.value").isNotNull()),
    ]


def validate_fhir(df: DataFrame, fhir_col: str = "fhir") -> SplitResult:
    return split_valid(df, fhir_rules(fhir_col))


def tenant_guard(tenant_id: str, tenant_col: str = "tenantId") -> Column:
    """V6: the row-level security predicate every serving query folds into
    its one ``where`` (services/api-query/src/handler.ts:15-19).  Partition
    pruning makes it free when the table is partitioned by tenant."""
    return F.col(tenant_col) == F.lit(tenant_id)
