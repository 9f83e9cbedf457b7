"""StructType twins of the reference's JSON-Schema / Zod contracts.

Single source of truth mirroring ``/root/reference/libs/contracts`` (SURVEY §1.3):

* ``ingest.raw.v1``        — libs/contracts/schemas/ingest.raw.v1.json:6-31
* ``etl.normalized.v1``    — libs/contracts/schemas/etl.normalized.v1.json:6-40
* ``etl.persisted.v1``     — libs/contracts/schemas/etl.persisted.v1.json:6-35
* Observation DTO          — libs/validation/dto.ts:3-12
* Patient DTO              — libs/contracts/src/dto/normalized.patient.v1.json:4-12
* FHIR R4 Observation(min) — libs/contracts/schemas/fhir/Observation.r4.min.json:4-96
* state table              — services/persist/handler.ts:20-80 item shape
* audit line               — services/audit/src/handler.ts:9-23
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Envelopes
# --------------------------------------------------------------------------

RAW_ENVELOPE = T.StructType(
    [
        T.StructField("schema", T.StringType(), False),  # const "ingest.raw.v1"
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("tenantId", T.StringType(), False),
                    T.StructField("source", T.StringType(), False),
                    T.StructField("ingestedAt", T.StringType(), False),  # ISO-8601
                    T.StructField("idempotencyKey", T.StringType(), False),
                    T.StructField("contentHash", T.StringType(), True),  # "sha256:<hex>"
                    T.StructField("contentType", T.StringType(), True),
                ]
            ),
            False,
        ),
        # Opaque payload kept as raw JSON string; parsed downstream with
        # from_json / get_json_object (ingest.raw.v1.json:26-29 is an open map).
        T.StructField("payload", T.StringType(), True),
    ]
)

NORMALIZED_ENVELOPE = T.StructType(
    [
        T.StructField("schema", T.StringType(), False),  # const "etl.normalized.v1"
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("tenantId", T.StringType(), False),
                    T.StructField("source", T.StringType(), False),
                    T.StructField("normalizedAt", T.StringType(), False),
                    T.StructField("idempotencyKey", T.StringType(), False),
                    T.StructField("traceId", T.StringType(), True),
                ]
            ),
            False,
        ),
        T.StructField(
            "data",
            T.StructType(
                [
                    # enum: study series instance patient encounter generic observation
                    T.StructField("entityType", T.StringType(), False),
                    T.StructField("entityId", T.StringType(), False),
                    T.StructField("patientId", T.StringType(), True),
                    T.StructField("encounterId", T.StringType(), True),
                    T.StructField("modality", T.StringType(), True),
                    T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
                ]
            ),
            False,
        ),
    ]
)

# --------------------------------------------------------------------------
# DTOs
# --------------------------------------------------------------------------

# The engine's central fact row (libs/validation/dto.ts:3-12).  We additionally
# keep valueString for non-numeric OBX values — declared future extension at
# libs/adapters/hl7/v2.ts:88 (the reference drops them).
OBSERVATION_DTO = T.StructType(
    [
        T.StructField("schemaVersion", T.IntegerType(), False),
        T.StructField("patientId", T.StringType(), False),
        T.StructField("code", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("valueString", T.StringType(), True),
        T.StructField("unit", T.StringType(), False),
        T.StructField("effectiveDateTime", T.TimestampType(), False),
        T.StructField("sourceSystem", T.StringType(), False),
        T.StructField("ingestHash", T.StringType(), False),
    ]
)

PATIENT_DTO = T.StructType(
    [
        T.StructField("schemaVersion", T.IntegerType(), False),
        T.StructField("patientId", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("birthDate", T.DateType(), True),
    ]
)

# --------------------------------------------------------------------------
# FHIR R4 Observation (pruned, per Observation.r4.min.json)
# --------------------------------------------------------------------------

FHIR_CODING = T.StructType(
    [
        T.StructField("system", T.StringType(), False),
        T.StructField("code", T.StringType(), False),
        T.StructField("display", T.StringType(), True),
    ]
)

FHIR_OBSERVATION = T.StructType(
    [
        T.StructField("resourceType", T.StringType(), False),  # const "Observation"
        T.StructField("status", T.StringType(), False),  # enum final|amended|corrected|preliminary
        T.StructField("code", T.StructType([T.StructField("coding", T.ArrayType(FHIR_CODING), False)]), False),
        T.StructField("subject", T.StructType([T.StructField("reference", T.StringType(), False)]), False),
        T.StructField("effectiveDateTime", T.StringType(), False),
        T.StructField(
            "valueQuantity",
            T.StructType(
                [
                    T.StructField("value", T.DoubleType(), False),
                    T.StructField("unit", T.StringType(), False),
                    T.StructField("system", T.StringType(), False),  # UCUM
                    T.StructField("code", T.StringType(), False),
                ]
            ),
            False,
        ),
    ]
)

FHIR_STATUS_ENUM = ["final", "amended", "corrected", "preliminary"]
ENTITY_TYPE_ENUM = ["study", "series", "instance", "patient", "encounter", "generic", "observation"]

LOINC_SYSTEM = "http://loinc.org"
UCUM_SYSTEM = "http://unitsofmeasure.org"

# --------------------------------------------------------------------------
# State table (the DynamoDB single-table redesigned as a partitioned table).
# GSIs become partitioning + sort order, not stored key strings (SURVEY §1.1).
# --------------------------------------------------------------------------

STATE_SCHEMA = T.StructType(
    [
        T.StructField("tenantId", T.StringType(), False),
        T.StructField("entityType", T.StringType(), False),
        T.StructField("entityId", T.StringType(), False),
        T.StructField("patientId", T.StringType(), True),
        T.StructField("code", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("unit", T.StringType(), True),
        T.StructField("effectiveDateTime", T.TimestampType(), True),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("fhirJson", T.StringType(), True),
        T.StructField("idempotencyKey", T.StringType(), False),
        T.StructField("updatedAt", T.TimestampType(), False),
        T.StructField("version", T.LongType(), False),
    ]
)

AUDIT_LINE = T.StructType(
    [
        T.StructField("at", T.StringType(), False),
        T.StructField("type", T.StringType(), False),  # ingest.raw.v1|etl.normalized.v1|etl.persisted.v1|unknown
        T.StructField("tenantId", T.StringType(), False),
        T.StructField("traceId", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),  # JSON string
    ]
)
