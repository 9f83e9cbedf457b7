"""Registry batch: the ETL pipeline operators as oracle-checked queries —
parsing (P1-P9), validation (V2/V4), upsert/dedup (U1/U2).

Fixture-driven queries build their input with ``spark.createDataFrame`` from
the same literals the oracle SQL states in VALUES — both engines compute the
full transform from identical bytes (the reference's unit-test strategy,
SURVEY §5, made cross-engine).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..datasets import OBSERVATIONS_ORACLE_CTE, load_table, observations
from ..functions.hashing import trace_id
from ..operators.fhir import map_to_fhir
from ..operators.normalize import observation_entity_id
from ..operators.persist import dedup_batch, merge_frames
from ..operators.validate import dto_rules, tag_rejects
from ..sources.csv_labx import labx_rows_to_dto
from ..sources.hl7 import messages_to_segments, parse_hl7_messages
from .registry import register

WITH_OBS = "WITH " + OBSERVATIONS_ORACLE_CTE


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# P1: CSV -> DTO (labx fixture, schema/examples/csv/labx.csv + trim/cast edge rows)
# ---------------------------------------------------------------------------

LABX_ROWS = [
    ("pat-001", "718-7", "5.6", "mmol/L", "2025-09-30T10:00:00Z"),
    ("pat-001", "8867-4", "72", "/min", "2025-09-30T10:05:00Z"),
    ("  pat-002  ", " 2345-7 ", " 99.5 ", " mg/dL ", " 2025-10-01T08:30:00Z "),
    ("pat-003", "718-7", "not-a-number", "mmol/L", "2025-10-02T09:00:00Z"),
]

_LABX_VALUES = ",\n      ".join(
    "({})".format(", ".join("'" + v + "'" for v in row)) for row in LABX_ROWS
)


@register(
    "p1_csv_to_dto",
    sql=f"""
    WITH raw(patientId, code, value, unit, effectiveDateTime) AS (VALUES
      {_LABX_VALUES})
    SELECT 1 AS schemaVersion,
           trim(patientId) AS patientId,
           trim(code) AS code,
           try_cast(trim(value) AS DOUBLE) AS value,
           trim(unit) AS unit,
           epoch_us(try_strptime(trim(effectiveDateTime), '%Y-%m-%dT%H:%M:%SZ')) AS eff_us,
           'csv:labx' AS sourceSystem,
           'sha256:' || sha256(concat_ws(',', trim(patientId), trim(code),
                                         trim(value), trim(unit),
                                         trim(effectiveDateTime))) AS ingestHash
    FROM raw
    """,
    doc="P1 CSV row -> Observation DTO: 5-column projection, double cast, "
    "sourceSystem stamp, sha256 row hash (libs/adapters/csv/labx.ts:9-23); "
    "trim semantics of csv-parse opts (labx.ts:6).",
)
def p1_csv_to_dto(spark, sf_dir):
    raw = spark.createDataFrame(LABX_ROWS, ["patientId", "code", "value", "unit", "effectiveDateTime"])
    dto = labx_rows_to_dto(raw)
    return dto.select(
        "schemaVersion",
        "patientId",
        "code",
        "value",
        "unit",
        F.unix_micros("effectiveDateTime").alias("eff_us"),
        "sourceSystem",
        "ingestHash",
    )


# ---------------------------------------------------------------------------
# P2-P5: HL7v2 (schema/examples/hl7/minimal.hl7 fixture + edge-case message)
# ---------------------------------------------------------------------------

HL7_MSG_1 = (
    "MSH|^~\\&|LAB|HOSP|ETL|PIPE|20250930101500||ORU^R01|MSGID1234|P|2.5\r"
    "PID|1||12345^^^HOSP^MR||DOE^JOHN\r"
    "OBR|1|||GLUCOSE^Glucose^LN||20250930100000\r"
    "OBX|1|NM|718-7^Glucose^LN||5.6|mmol/L|3.5-7.8|N|||F|||20250930100000\r"
    "OBX|2|NM|8867-4^Heart rate^LN||72|/min|60-100|N|||F|||20250930100500\r"
)
# edge cases: PID-3 comp-1 empty (fallback comp 2), OBX with text value
# (valueString), empty OBX-6 (unit default "1"), short TS, missing TS
HL7_MSG_2 = (
    "MSH|^~\\&|LAB|HOSP|ETL|PIPE|20251001||ORU^R01|MSGID5678|P|2.5\n"
    "PID|1||^ALT-77^^HOSP^MR||ROE^JANE\n"
    "OBX|1|ST|57021-8^Note^LN||ELEVATED||||||F\n"
    "OBX|2|NM|2345-7^Gluc^LN||103.2||||||F|||202510\n"
)

_HL7_SEG_ORACLE = """
    msgs(mid, msg) AS (VALUES (1, '{m1}'), (2, '{m2}')),
    seg_arr AS (
      SELECT mid, string_split(replace(replace(msg, chr(13) || chr(10), chr(10)),
                                       chr(13), chr(10)), chr(10)) AS arr
      FROM msgs
    ),
    idx AS (SELECT mid, arr, unnest(generate_series(1, len(arr))) AS i FROM seg_arr),
    segs0 AS (SELECT mid, i, arr[i] AS seg FROM idx),
    segs_ne AS (SELECT mid, i, seg FROM segs0 WHERE length(trim(seg)) > 0),
    segs AS (SELECT mid, row_number() OVER (PARTITION BY mid ORDER BY i) AS segIndex, seg
             FROM segs_ne)
""".format(
    m1=HL7_MSG_1.replace("\r", "' || chr(13) || '"),
    m2=HL7_MSG_2.replace("\n", "' || chr(10) || '"),
)


@register(
    "p2_hl7_segments",
    sql="WITH "
    + _HL7_SEG_ORACLE
    + """
    SELECT mid, segIndex, string_split(seg, '|')[1] AS segId,
           len(string_split(seg, '|')) AS n_fields
    FROM segs
    """,
    doc="P2 HL7 segment split: CR/LF normalize, blank drop, pipe fields "
    "(libs/adapters/hl7/v2.ts:15-22).",
)
def p2_hl7_segments(spark, sf_dir):
    msgs = spark.createDataFrame([(1, HL7_MSG_1), (2, HL7_MSG_2)], ["messageId", "message"])
    segs = messages_to_segments(msgs)
    return segs.select(
        F.col("messageId").alias("mid"),
        (F.col("segIndex") + 1).alias("segIndex"),  # posexplode is 0-based
        F.element_at(F.split("segment", r"\|"), 1).alias("segId"),
        F.size(F.split("segment", r"\|")).alias("n_fields"),
    )


@register(
    "p4_hl7_obx_dto",
    sql="WITH "
    + _HL7_SEG_ORACLE
    + """,
    pid AS (
      SELECT mid, coalesce(
               nullif(trim(string_split(string_split(string_split(seg, '|')[4], '~')[1], '^')[1]), ''),
               nullif(trim(string_split(string_split(string_split(seg, '|')[4], '~')[1], '^')[2]), ''),
               'unknown') AS patientId
      FROM segs WHERE string_split(seg, '|')[1] = 'PID'
    ),
    obx AS (
      SELECT mid, seg,
             coalesce(nullif(trim(string_split(string_split(seg, '|')[4], '^')[1]), ''),
                      nullif(trim(string_split(string_split(seg, '|')[4], '^')[2]), '')) AS code,
             nullif(trim(string_split(seg, '|')[6]), '') AS valueRaw,
             coalesce(nullif(trim(string_split(string_split(seg, '|')[7], '^')[2]), ''),
                      nullif(trim(string_split(string_split(seg, '|')[7], '^')[1]), ''),
                      '1') AS unit,
             regexp_extract(string_split(seg, '|')[15], '^(\\d{4,14})', 1) AS ts_digits,
             'sha256:' || sha256(seg) AS ingestHash
      FROM segs WHERE string_split(seg, '|')[1] = 'OBX'
    ),
    obx_ts AS (
      SELECT *, CASE WHEN length(ts_digits) >= 4 THEN try_strptime(
               substr(ts_digits, 1, 4)
               || CASE WHEN length(ts_digits) >= 6  THEN substr(ts_digits, 5, 2)  ELSE '01' END
               || CASE WHEN length(ts_digits) >= 8  THEN substr(ts_digits, 7, 2)  ELSE '01' END
               || CASE WHEN length(ts_digits) >= 10 THEN substr(ts_digits, 9, 2)  ELSE '00' END
               || CASE WHEN length(ts_digits) >= 12 THEN substr(ts_digits, 11, 2) ELSE '00' END
               || CASE WHEN length(ts_digits) >= 14 THEN substr(ts_digits, 13, 2) ELSE '00' END,
               '%Y%m%d%H%M%S') END AS obxTime
      FROM obx
    )
    SELECT 1 AS schemaVersion,
           coalesce(p.patientId, 'unknown') AS patientId,
           o.code,
           try_cast(o.valueRaw AS DOUBLE) AS value,
           CASE WHEN try_cast(o.valueRaw AS DOUBLE) IS NULL THEN o.valueRaw END AS valueString,
           o.unit,
           epoch_us(coalesce(o.obxTime, TIMESTAMP '2025-01-01 00:00:00')) AS eff_us,
           'hl7v2:file' AS sourceSystem,
           o.ingestHash
    FROM obx_ts o LEFT JOIN pid p USING (mid)
    WHERE o.code IS NOT NULL
    """,
    doc="P3+P4+P5+J1 full HL7 parse: PID-3 extraction with component fallback "
    "(v2.ts:34-46), OBX code/value/unit rules (v2.ts:49-92), HL7 TS parse with "
    "01/00 defaults (v2.ts:23-31), per-line sha256 (v2.ts:80), first-PID "
    "context carried on each message row (map-only, no join).  Keeps non-numeric values as valueString (extension noted "
    "at v2.ts:88; reference drops them).",
)
def p4_hl7_obx_dto(spark, sf_dir):
    msgs = spark.createDataFrame([(1, HL7_MSG_1), (2, HL7_MSG_2)], ["messageId", "message"])
    dto = parse_hl7_messages(msgs, batch_time=dt.datetime(2025, 1, 1))
    return dto.select(
        "schemaVersion",
        "patientId",
        "code",
        "value",
        "valueString",
        "unit",
        F.unix_micros("effectiveDateTime").alias("eff_us"),
        "sourceSystem",
        "ingestHash",
    )


HL7_TS_FIXTURE = ["20250930100000", "202509", "2025", "20250930", "2025093010", "202509301015", "abc", ""]


@register(
    "p5_hl7_ts",
    sql="""
    WITH raw(ts) AS (VALUES {values}),
    d AS (SELECT ts, regexp_extract(ts, '^(\\d{{4,14}})', 1) AS dg FROM raw)
    SELECT ts, CASE WHEN length(dg) >= 4 THEN epoch_us(try_strptime(
             substr(dg, 1, 4)
             || CASE WHEN length(dg) >= 6  THEN substr(dg, 5, 2)  ELSE '01' END
             || CASE WHEN length(dg) >= 8  THEN substr(dg, 7, 2)  ELSE '01' END
             || CASE WHEN length(dg) >= 10 THEN substr(dg, 9, 2)  ELSE '00' END
             || CASE WHEN length(dg) >= 12 THEN substr(dg, 11, 2) ELSE '00' END
             || CASE WHEN length(dg) >= 14 THEN substr(dg, 13, 2) ELSE '00' END,
             '%Y%m%d%H%M%S')) END AS eff_us
    FROM d
    """.format(values=", ".join(f"('{v}')" for v in HL7_TS_FIXTURE)),
    doc="P5 HL7 TS -> timestamp: YYYY[MM[DD[HH[MM[SS]]]]] with 01/00 defaults, "
    "invalid -> NULL (libs/adapters/hl7/v2.ts:23-31).",
)
def p5_hl7_ts(spark, sf_dir):
    from ..functions.hl7 import hl7_ts_to_timestamp

    raw = spark.createDataFrame([(v,) for v in HL7_TS_FIXTURE], ["ts"])
    return raw.select("ts", F.unix_micros(hl7_ts_to_timestamp(F.col("ts"))).alias("eff_us"))


# ---------------------------------------------------------------------------
# P6: DTO -> FHIR R4 Observation (flattened for comparison)
# ---------------------------------------------------------------------------


@register(
    "p6_fhir_observation",
    sql=WITH_OBS
    + """
    SELECT 'Observation' AS resourceType,
           'final' AS status,
           'http://loinc.org' AS coding_system,
           code AS coding_code,
           'Patient/' || patientId AS subject_ref,
           strftime(effectiveDateTime, '%Y-%m-%dT%H:%M:%SZ') AS effective_str,
           value AS vq_value,
           unit AS vq_unit,
           'http://unitsofmeasure.org' AS vq_system,
           unit AS vq_code,
           obsId
    FROM obs WHERE tenantId = 't2'
    """,
    doc="P6 DTO -> FHIR R4 Observation struct: LOINC coding, Patient/<id> "
    "reference, UCUM valueQuantity, status final "
    "(libs/mappers/observation.ts:3-19), flattened for value comparison.",
)
def p6_fhir_observation(spark, sf_dir):
    o = observations(spark, sf_dir).where(F.col("tenantId") == "t2")
    dto = o.select(
        "patientId", "code", "value", "unit", F.col("effectiveDateTime"), "obsId"
    )
    fhir = map_to_fhir(dto)
    return fhir.select(
        F.col("fhir.resourceType").alias("resourceType"),
        F.col("fhir.status").alias("status"),
        F.element_at(F.col("fhir.code.coding"), 1)["system"].alias("coding_system"),
        F.element_at(F.col("fhir.code.coding"), 1)["code"].alias("coding_code"),
        F.col("fhir.subject.reference").alias("subject_ref"),
        F.col("fhir.effectiveDateTime").alias("effective_str"),
        F.col("fhir.valueQuantity.value").alias("vq_value"),
        F.col("fhir.valueQuantity.unit").alias("vq_unit"),
        F.col("fhir.valueQuantity.system").alias("vq_system"),
        F.col("fhir.valueQuantity.code").alias("vq_code"),
        "obsId",
    )


# ---------------------------------------------------------------------------
# P7: normalized-envelope build (deterministic trace ids)
# ---------------------------------------------------------------------------


@register(
    "p7_envelope",
    sql=WITH_OBS
    + """
    SELECT 'etl.normalized.v1' AS schema,
           tenantId,
           'events' AS source,
           'ev-' || CAST(obsId AS VARCHAR) AS idempotencyKey,
           substr(sha256(tenantId || '|' || 'ev-' || CAST(obsId AS VARCHAR)), 1, 16) AS traceId,
           'observation' AS entityType,
           concat_ws(':', patientId, code,
                     strftime(effectiveDateTime, '%Y-%m-%dT%H:%M:%SZ')) AS entityId,
           patientId, code, value,
           epoch_us(effectiveDateTime) AS eff_us
    FROM obs WHERE tenantId = 't4'
    """,
    doc="P7 envelope build: normalizedAt/traceId metadata stamp + entityId = "
    "patientId:code:effectiveDateTime (services/normalize/handler.ts:37-58, "
    "entityId :49); traceId is a content hash, not Math.random — deliberate "
    "determinism divergence (SURVEY §7.3).",
)
def p7_envelope(spark, sf_dir):
    o = observations(spark, sf_dir).where(F.col("tenantId") == "t4")
    idk = F.concat(F.lit("ev-"), F.col("obsId").cast("string"))
    return o.select(
        F.lit("etl.normalized.v1").alias("schema"),
        "tenantId",
        F.lit("events").alias("source"),
        idk.alias("idempotencyKey"),
        trace_id(F.col("tenantId"), idk).alias("traceId"),
        F.lit("observation").alias("entityType"),
        observation_entity_id(F.col("patientId"), F.col("code"), F.col("effectiveDateTime")).alias("entityId"),
        "patientId",
        "code",
        "value",
        F.unix_micros("effectiveDateTime").alias("eff_us"),
    )


# ---------------------------------------------------------------------------
# P9: generic-JSON normalization (props payload of events)
# ---------------------------------------------------------------------------


@register(
    "p9_generic_json",
    sql="""
    SELECT event_id,
           CASE WHEN json_extract_string(props, '$.studyInstanceUID') IS NOT NULL
                THEN 'study' ELSE 'observation' END AS entityType,
           coalesce(json_extract_string(props, '$.studyInstanceUID'),
                    'ev-' || CAST(event_id AS VARCHAR)) AS entityId,
           try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
    doc="P9 generic-JSON normalization: entityType inference from payload "
    "field presence, entityId fallback to idempotencyKey, JSON attribute "
    "extraction (services/normalize/handler.ts:200-221).",
)
def p9_generic_json(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    uid = F.get_json_object("props", "$.studyInstanceUID")
    return ev.select(
        "event_id",
        F.when(uid.isNotNull(), F.lit("study")).otherwise(F.lit("observation")).alias("entityType"),
        F.coalesce(uid, F.concat(F.lit("ev-"), F.col("event_id").cast("string"))).alias("entityId"),
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# V2/V4: validation split with reject reasons
# ---------------------------------------------------------------------------

DTO_FIXTURE = [
    # (patientId, code, value, unit, eff, sourceSystem, ingestHash) — mixed valid/invalid
    ("p1", "718-7", "5.6", "mmol/L", "2025-09-30T10:00:00Z", "csv:labx", "sha256:aaaaaaaaaa"),
    ("", "718-7", "5.6", "mmol/L", "2025-09-30T10:00:00Z", "csv:labx", "sha256:aaaaaaaaaa"),
    ("p2", "", "5.6", "mmol/L", "2025-09-30T10:00:00Z", "csv:labx", "sha256:aaaaaaaaaa"),
    ("p3", "718-7", "oops", "mmol/L", "2025-09-30T10:00:00Z", "csv:labx", "sha256:aaaaaaaaaa"),
    ("p4", "718-7", "7.1", "", "2025-09-30T10:00:00Z", "csv:labx", "sha256:aaaaaaaaaa"),
    ("p5", "718-7", "7.1", "mmol/L", "not-a-date", "csv:labx", "sha256:aaaaaaaaaa"),
    ("p6", "718-7", "7.1", "mmol/L", "2025-09-30T10:00:00Z", "csv:labx", "short"),
]

_DTO_VALUES = ",\n      ".join("({})".format(", ".join(f"'{v}'" for v in row)) for row in DTO_FIXTURE)


@register(
    "v2_dto_validation",
    sql=f"""
    WITH raw(patientId, code, value, unit, eff, sourceSystem, ingestHash) AS (VALUES
      {_DTO_VALUES}),
    t AS (SELECT patientId, code, try_cast(value AS DOUBLE) AS value, unit,
                 try_strptime(eff, '%Y-%m-%dT%H:%M:%SZ') AS effectiveDateTime,
                 sourceSystem, ingestHash
          FROM raw)
    SELECT patientId, code, value, unit, sourceSystem, ingestHash,
           CASE WHEN NOT (patientId IS NOT NULL AND length(patientId) > 0) THEN 'patientId_empty'
                WHEN NOT (code IS NOT NULL AND length(code) > 0) THEN 'code_empty'
                WHEN NOT (value IS NOT NULL AND NOT isnan(value)) THEN 'value_not_finite'
                WHEN NOT (unit IS NOT NULL AND length(unit) > 0) THEN 'unit_empty'
                WHEN effectiveDateTime IS NULL THEN 'effectiveDateTime_invalid'
                WHEN NOT (sourceSystem IS NOT NULL AND length(sourceSystem) > 0) THEN 'sourceSystem_empty'
                WHEN NOT (ingestHash IS NOT NULL AND length(ingestHash) >= 10) THEN 'ingestHash_short'
                END AS _reject_reason
    FROM t
    """,
    doc="V2 DTO validation split-filter: Zod gate as stacked-when reject "
    "reasons, skip-and-count semantics (libs/validation/dto.ts:3-12; "
    "normalize/handler.ts:102-140) — one scan, no subtract shuffle.",
)
def v2_dto_validation(spark, sf_dir):
    raw = spark.createDataFrame(
        DTO_FIXTURE, ["patientId", "code", "value", "unit", "eff", "sourceSystem", "ingestHash"]
    )
    dto = raw.select(
        "patientId",
        "code",
        F.col("value").try_cast("double").alias("value"),
        "unit",
        F.try_to_timestamp(F.col("eff"), F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).alias("effectiveDateTime"),
        "sourceSystem",
        "ingestHash",
    )
    tagged = tag_rejects(dto, dto_rules())
    return tagged.select("patientId", "code", "value", "unit", "sourceSystem", "ingestHash", "_reject_reason")


@register(
    "v4_numeric_filter",
    sql="""
    SELECT event_id, try_cast(json_extract_string(props, '$.k') AS DOUBLE) AS k_num
    FROM events
    WHERE try_cast(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL
      AND CAST(try_cast(json_extract_string(props, '$.k') AS DOUBLE) AS BIGINT) % 7 = 0
    """,
    doc="V4 numeric-parse filter: drop rows whose value isn't a finite number "
    "(libs/adapters/hl7/v2.ts:60-61,84-91 Number()/isFinite semantics).",
)
def v4_numeric_filter(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("double")
    return ev.select("event_id", k.alias("k_num")).where(
        F.col("k_num").isNotNull() & (F.col("k_num").try_cast("bigint") % 7 == 0)
    )


# ---------------------------------------------------------------------------
# U1/U2: idempotent merge + within-batch dedup
# ---------------------------------------------------------------------------


@register(
    "u1_idempotent_merge",
    sql="""
    WITH st AS (
      SELECT 'T' AS tenantId, 'observation' AS entityType,
             'p' || CAST(user_id AS VARCHAR) AS entityId,
             'k' || CAST(event_id AS VARCHAR) AS idempotencyKey, value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00') WHERE rn = 1
    ), ba AS (
      SELECT 'T' AS tenantId, 'observation' AS entityType,
             'p' || CAST(user_id AS VARCHAR) AS entityId,
             'k' || CAST(event_id AS VARCHAR) AS idempotencyKey, value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1
    )
    SELECT coalesce(s.entityId, b.entityId) AS entityId,
           CASE WHEN b.entityId IS NOT NULL
                     AND (s.entityId IS NULL OR s.idempotencyKey <> b.idempotencyKey)
                THEN b.idempotencyKey ELSE s.idempotencyKey END AS idempotencyKey,
           CASE WHEN b.entityId IS NOT NULL
                     AND (s.entityId IS NULL OR s.idempotencyKey <> b.idempotencyKey)
                THEN b.value ELSE s.value END AS value,
           CASE WHEN s.entityId IS NULL THEN 1
                WHEN b.entityId IS NOT NULL AND s.idempotencyKey <> b.idempotencyKey THEN 2
                ELSE 1 END AS version,
           CASE WHEN s.entityId IS NULL THEN 'insert'
                WHEN b.entityId IS NOT NULL AND s.idempotencyKey <> b.idempotencyKey THEN 'update'
                ELSE 'noop' END AS action
    FROM st s FULL OUTER JOIN ba b
      ON s.tenantId = b.tenantId AND s.entityType = b.entityType AND s.entityId = b.entityId
    """,
    doc="U1 idempotent conditional upsert with version counter: MERGE "
    "semantics of services/persist/handler.ts:39-80 (condition "
    "attribute_not_exists(idempotencyKey) OR idempotencyKey <> :idk, version "
    "= if_not_exists(version,0)+1) as a full-outer-join transform; same-key "
    "retry is a no-op.",
)
def u1_idempotent_merge(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")

    def latest(df):
        w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                F.lit("T").alias("tenantId"),
                F.lit("observation").alias("entityType"),
                F.concat(F.lit("p"), F.col("user_id").cast("string")).alias("entityId"),
                F.concat(F.lit("k"), F.col("event_id").cast("string")).alias("idempotencyKey"),
                "value",
            )
        )

    state = latest(ev.where(F.col("ts") < F.lit("2024-01-20 00:00:00"))).withColumn(
        "version", F.lit(1).cast("long")
    ).withColumn("updatedAt", F.lit(dt.datetime(2024, 1, 20)))
    batch = latest(ev)
    merged = merge_frames(state, batch, updated_at=dt.datetime(2024, 2, 1))
    return merged.select("entityId", "idempotencyKey", "value", "version", F.col("_action").alias("action"))


@register(
    "u2_batch_dedup",
    sql="""
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
    """,
    doc="U2 within-batch dedup: last record per key wins under at-least-once "
    "delivery (dropDuplicates-by-latest; SQS redelivery semantics of "
    "src/stacks/messaging-stack.ts:47).",
)
def u2_batch_dedup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = dedup_batch(ev, order_col=["ts", "event_id"], keys=["user_id", "event_type"])
    return out.select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us"))


@register(
    "p6b_fhir_roundtrip",
    sql=WITH_OBS
    + """
    SELECT patientId, code, value, unit,
           epoch_us(date_trunc('second', effectiveDateTime)) AS eff_us,
           'final' AS status
    FROM obs WHERE tenantId = 't5'
    """,
    doc="P6 inverse — FHIR JSON ingestion: serialize each observation to a "
    "FHIR R4 Observation resource (to_json of the P6 struct), parse it back "
    "through the typed from_json path (operators/fhir.fhir_json_to_dto), "
    "and recover the DTO.  The oracle is the identity projection, so the "
    "hash match proves parse(serialize(x)) == x at second precision — the "
    "ingestion story for the reference's FHIR payload format (README.md:3-4).",
)
def p6b_fhir_roundtrip(spark, sf_dir):
    from ..operators.fhir import fhir_json_to_dto

    o = observations(spark, sf_dir).where(F.col("tenantId") == "t5")
    as_json = map_to_fhir(o).select(F.to_json("fhir").alias("resource"))
    dto = fhir_json_to_dto(as_json, "resource")
    return dto.select(
        "patientId",
        "code",
        "value",
        "unit",
        F.unix_micros("effectiveDateTime").alias("eff_us"),
        "status",
    )


@register(
    "p13_patient_dto",
    sql="""
    WITH raw AS (
      SELECT 'p' || CAST(c_custkey AS VARCHAR) AS patientId,
             c_name AS name,
             CASE WHEN c_custkey % 13 = 0 THEN printf('%02d/%02d/19%02d',
                       CAST(c_custkey % 12 + 1 AS INT), CAST(c_custkey % 28 + 1 AS INT),
                       CAST(c_custkey % 50 + 10 AS INT))
                  ELSE printf('19%02d-%02d-%02d', CAST(c_custkey % 50 + 10 AS INT),
                       CAST(c_custkey % 12 + 1 AS INT), CAST(c_custkey % 28 + 1 AS INT)) END
               AS birthDate
      FROM customer
    )
    SELECT patientId, name, birthDate,
           regexp_full_match(birthDate, '\\d{4}-\\d{2}-\\d{2}') AS birth_ok,
           CASE WHEN regexp_full_match(birthDate, '\\d{4}-\\d{2}-\\d{2}')
                THEN CAST(substr(birthDate, 1, 4) AS INT) END AS birth_year
    FROM raw
    """,
    doc="Patient DTO normalization: the second entity branch of the persist "
    "store (normalized.patient.v1.json:4-12) — name projection plus the "
    "birthDate ^\\d{4}-\\d{2}-\\d{2}$ pattern gate (the schema's regex "
    "constraint as a predicate), deterministically-faulted rows rejected.",
)
def p13_patient_dto(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    bad = F.format_string(
        "%02d/%02d/19%02d", (ck % 12 + 1).cast("int"), (ck % 28 + 1).cast("int"), (ck % 50 + 10).cast("int")
    )
    good = F.format_string(
        "19%02d-%02d-%02d", (ck % 50 + 10).cast("int"), (ck % 12 + 1).cast("int"), (ck % 28 + 1).cast("int")
    )
    raw = c.select(
        F.concat(F.lit("p"), ck.cast("string")).alias("patientId"),
        F.col("c_name").alias("name"),
        F.when(ck % 13 == 0, bad).otherwise(good).alias("birthDate"),
    )
    ok = F.col("birthDate").rlike(r"^\d{4}-\d{2}-\d{2}$")
    return raw.select(
        "patientId",
        "name",
        "birthDate",
        ok.alias("birth_ok"),
        F.when(ok, F.substring("birthDate", 1, 4).cast("int")).alias("birth_year"),
    )


# ---------------------------------------------------------------------------
# P14: measurement-unit harmonization (exact rational conversion factors)
# ---------------------------------------------------------------------------

# unit assignment is deterministic from the code (the synthetic observations
# carry unit='1'); factors are exact rationals to canonical micro-mmol/L:
#   mmol_l : x1e4            (cents -> value is /100, canonical is x1e6)
#   mg_dl  : /18.016         -> v_cents * 10_000_000 // 18016
#   g_l    : x100 to mg/dL first, then /18.016
#            -> v_cents * 100 * 10^7 // 18016 = v_cents * 10^9 // 18016
_UNIT_SQL = """CASE length(code) % 3 WHEN 0 THEN 'mmol_l'
            WHEN 1 THEN 'mg_dl' ELSE 'g_l' END"""
_NORM_SQL = """CASE length(code) % 3
            WHEN 0 THEN v_cents * 10000
            WHEN 1 THEN v_cents * 10000000 // 18016
            ELSE v_cents * 1000000000 // 18016 END"""


@register(
    "p14_unit_normalize",
    sql=f"""
    WITH {OBSERVATIONS_ORACLE_CTE.strip().rstrip()}
    , v AS (
      SELECT code, {_UNIT_SQL} AS unit,
             CAST(floor(value * 100) AS BIGINT) AS v_cents
      FROM obs
    ),
    n AS (
      SELECT code, unit, v_cents,
             CAST({_NORM_SQL} AS BIGINT) AS norm_micro
      FROM v
    )
    SELECT code, unit,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(norm_micro) AS BIGINT) AS sum_norm_micro,
           CAST(min(norm_micro) AS BIGINT) AS min_norm_micro,
           CAST(max(norm_micro) AS BIGINT) AS max_norm_micro
    FROM n GROUP BY 1, 2
    """,
    doc="P14 UNIT HARMONIZATION: observations arrive with code-dependent "
    "units (mg/dL, g/L, mmol/L — the OBX-6 field the reference carries "
    "but never converts, services/normalize/handler.ts keeps "
    "valueString verbatim); every value is normalized to canonical "
    "micro-mmol/L via EXACT RATIONAL factors (the glucose molar mass "
    "18.016 g/mol as the integer ratio 10^7/18016 — no float multiply, "
    "so both engines land the same last digit) and aggregated per "
    "(code, unit).  A lab pipeline cannot compare, range-check (V4), or "
    "aggregate (G5 percentiles) across sites without this pass.  Shape: "
    "map-only conversion fused into the scan, ONE partial-aggregable "
    "groupBy out.",
)
def p14_unit_normalize(spark, sf_dir):
    v = observations(spark, sf_dir).select(
        "code",
        F.expr(_UNIT_SQL).alias("unit"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v_cents"),
    )
    n = v.select(
        "code",
        "unit",
        F.expr(_NORM_SQL.replace("//", "div")).alias("norm_micro"),
    )
    return n.groupBy("code", "unit").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("norm_micro").cast("long").alias("sum_norm_micro"),
        F.min("norm_micro").cast("long").alias("min_norm_micro"),
        F.max("norm_micro").cast("long").alias("max_norm_micro"),
    )
