"""The composed write path — SURVEY §3.1's Spark restatement as one function.

Reference flow (HTTP ingest -> normalize -> persist, services/ingest +
normalize + persist handlers): route by format (P8), parse to DTOs (P1-P5),
validate (V2), map + gate FHIR (P6+V3), build the normalized envelope (P7),
idempotent versioned merge into the tenant-partitioned state store (U1-U4),
append the audit trail (S8).  One Spark job; the only shuffle is the merge.

Replay (§3.2) is this same function re-run on the same inputs — the
idempotency condition turns every re-applied row into a no-op, which the
returned commit log makes visible (action == 'noop', version unchanged).
"""

from __future__ import annotations

import datetime as dt
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.fhir import map_to_fhir
from .operators.normalize import build_normalized_envelope, union_branches
from .operators.persist import ParquetStateStore
from .operators.validate import validate_dto, validate_fhir
from .sources.audit import append_audit
from .sources.csv_labx import parse_labx_csv
from .sources.hl7 import parse_hl7v2


class PipelineResult(NamedTuple):
    commit_log: DataFrame  # (tenantId, entityType, entityId, version, action)
    dto_valid: int
    dto_invalid: int  # M1 metric (normalize/handler.ts:137-140)
    fhir_invalid: int


def run_batch_pipeline(
    spark: SparkSession,
    *,
    tenant_id: str,
    state_dir: str,
    csv_path: str | None = None,
    hl7_path: str | None = None,
    audit_dir: str | None = None,
    batch_time: dt.datetime | None = None,
) -> PipelineResult:
    """Ingest CSV and/or HL7 payloads for one tenant into the state store."""
    batch_time = batch_time or dt.datetime(2025, 1, 1)
    branches = []
    if csv_path:
        branches.append(parse_labx_csv(spark, csv_path))
    if hl7_path:
        branches.append(parse_hl7v2(spark, hl7_path, batch_time=batch_time))
    if not branches:
        raise ValueError("at least one of csv_path / hl7_path is required")
    dto = union_branches(*branches)

    valid, rejected = validate_dto(dto)
    n_invalid = rejected.count()

    fhir = map_to_fhir(valid)
    fhir_valid, fhir_rejected = validate_fhir(fhir)
    n_fhir_invalid = fhir_rejected.count()
    n_valid = fhir_valid.count()

    env = build_normalized_envelope(
        fhir_valid.drop("fhir"),
        tenant_id=F.lit(tenant_id),
        source=F.col("sourceSystem"),
        idempotency_key=F.col("ingestHash"),
    )
    batch = env.select(
        "tenantId",
        "entityType",
        "entityId",
        "patientId",
        "code",
        "value",
        "unit",
        "effectiveDateTime",
        "idempotencyKey",
    )
    store = ParquetStateStore(spark, state_dir)
    log = store.merge(batch, updated_at=batch_time)
    # keep the live version and the one a concurrent reader may still hold
    store.vacuum(keep_last=2)

    if audit_dir:
        lines = log.select(
            F.lit(batch_time).cast("timestamp").alias("at"),
            F.lit("etl.persisted.v1").alias("type"),
            F.col("tenantId"),
            F.sha2(F.concat_ws("|", "tenantId", "entityId"), 256).alias("traceId"),
            F.to_json(F.struct("entityId", "version", "action")).alias("payload"),
        )
        append_audit(lines, audit_dir)

    return PipelineResult(log, n_valid, n_invalid, n_fhir_invalid)
