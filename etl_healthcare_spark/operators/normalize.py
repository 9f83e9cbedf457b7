"""P7, P8, P10: envelope build, format routing, fan-out.

Reference: services/normalize/handler.ts —

* routing by content type / extension (handler.ts:60-71): csv | hl7 | json
* entityId for observations = ``patientId:code:effectiveDateTime``
  (handler.ts:49)
* generic JSON (P9, handler.ts:200-221) is the registry's ``p9_generic_json``:
  entityType "study" iff the payload has studyInstanceUID, else "observation"
* metadata stamp: normalizedAt, traceId (handler.ts:37-58) — traceId here is
  a content hash, not Math.random, for oracle determinism (SURVEY §7.3)
* fan-out: one file -> N DTO rows is the natural row multiplication of the
  DataFrame read + explode (handler.ts:101,157 loops)

The three routing branches are separate DataFrame pipelines merged with
unionByName (SURVEY §2.10) — same topology as the reference's three branches
feeding one queue (handler.ts:117,172,226).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import trace_id

CONTENT_CSV = "text/csv"
CONTENT_HL7 = "application/x-hl7"
CONTENT_JSON = "application/json"


def route_content_type(content_type: Column, key: Column) -> Column:
    """P8: dispatch predicate (handler.ts:60-71): explicit content type first,
    then file-extension sniffing, default JSON."""
    ct = F.lower(F.coalesce(content_type, F.lit("")))
    k = F.lower(F.coalesce(key, F.lit("")))
    return (
        F.when(ct.contains("csv") | k.endswith(".csv"), F.lit(CONTENT_CSV))
        .when(ct.contains("hl7") | k.endswith(".hl7"), F.lit(CONTENT_HL7))
        .otherwise(F.lit(CONTENT_JSON))
    )


def observation_entity_id(patient_id: Column, code: Column, effective: Column) -> Column:
    """handler.ts:49 — `${patientId}:${code}:${effectiveDateTime}`."""
    return F.concat_ws(":", patient_id, code, F.date_format(effective, "yyyy-MM-dd'T'HH:mm:ss'Z'"))


def build_normalized_envelope(
    dto: DataFrame,
    tenant_id: Column,
    source: Column,
    idempotency_key: Column,
) -> DataFrame:
    """P7: DTO rows -> etl.normalized.v1-shaped rows (flat columns; the nested
    struct shape is a projection away and flat columns partition/prune better).
    """
    return dto.select(
        F.lit("etl.normalized.v1").alias("schema"),
        tenant_id.alias("tenantId"),
        source.alias("source"),
        idempotency_key.alias("idempotencyKey"),
        trace_id(tenant_id, F.col("ingestHash")).alias("traceId"),
        F.lit("observation").alias("entityType"),
        observation_entity_id(F.col("patientId"), F.col("code"), F.col("effectiveDateTime")).alias("entityId"),
        "patientId",
        "code",
        "value",
        "unit",
        "effectiveDateTime",
        "sourceSystem",
        "ingestHash",
    )


def union_branches(*branches: DataFrame) -> DataFrame:
    """P8 merge: the reference's three normalize branches feed one queue."""
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out
