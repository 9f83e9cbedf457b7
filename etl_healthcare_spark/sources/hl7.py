"""S2 + P2-P5 + J1: HL7v2 ORU source -> Observation DTOs, UDF-free.

Reference: libs/adapters/hl7/v2.ts — the hardest parser in the reference
(SURVEY §7.3).  Semantics reproduced:

* segment split on CR/LF, blanks dropped (v2.ts:15-16)
* PID-3 patient id: rep 1, comp 1 fallback comp 2, fallback "unknown"
  (v2.ts:34-46,74)
* OBX-3 code: comp 1 fallback comp 2 (v2.ts:53-56)
* OBX-5 numeric value; non-numeric rows kept with valueString (the reference
  drops them — declared extension point v2.ts:87-91)
* OBX-6 unit: comp 2 fallback comp 1, default "1" (v2.ts:64-66)
* OBX-14 timestamp via HL7 TS rules (v2.ts:23-31,68); absent -> batch_time
  parameter (v2.ts:24 uses now(); parameterized for determinism, SURVEY §7.3)
* per-OBX-line sha256 ingestHash (v2.ts:80), sourceSystem "hl7v2:file"

Spark-first plan: the reference's loop per message (find the PID, then emit
the OBX rows with its patient) is one map-only pass — split each message into
its segment array once, take the patient from the array's first PID, explode
the array and keep the OBX rows.  Every OBX row carries its own message's
patient, so no join, no aggregate and no shuffle.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hl7 as H
from ..functions.hashing import content_hash

SOURCE_SYSTEM = "hl7v2:file"
DEFAULT_BATCH_TIME = dt.datetime(2025, 1, 1, 0, 0, 0)


def read_hl7_files(spark: SparkSession, path: str) -> DataFrame:
    """S2: one row per message file: (messageId, message)."""
    df = spark.read.text(path, wholetext=True)
    return df.select(
        F.input_file_name().alias("messageId"),
        F.col("value").alias("message"),
    )


def messages_to_segments(msgs: DataFrame) -> DataFrame:
    """P2: (messageId, message) -> (messageId, segIndex, segment)."""
    return msgs.select(
        "messageId",
        F.posexplode(H.split_segments(F.col("message"))).alias("segIndex", "segment"),
    )


def parse_hl7_messages(msgs: DataFrame, batch_time: dt.datetime | None = None) -> DataFrame:
    """P2-P5 + J1 over a (messageId, message) DataFrame -> Observation DTOs.

    J1: every OBX row carries its own message's first-PID patient."""
    batch_time = batch_time or DEFAULT_BATCH_TIME
    # one row per message: the segment array, and the patient of its FIRST
    # PID (a PID after the OBX segments still applies; none -> "unknown")
    segs = msgs.select(H.split_segments(F.col("message")).alias("segs"))
    first_pid = F.try_element_at(F.filter("segs", lambda s: H.seg_id(s) == "PID"), F.lit(1))
    obx = (
        segs.select(H.pid3_patient_id(H.field(first_pid, 3)).alias("patientId"), "segs")
        .select("patientId", F.explode("segs").alias("segment"))
        .where(H.seg_id(F.col("segment")) == "OBX")
    )
    f = F.col("segment")
    obx_dto = obx.select(
        "patientId",
        F.coalesce(H.nonempty(H.component(H.field(f, 3), 1)), H.nonempty(H.component(H.field(f, 3), 2))).alias("code"),
        H.nonempty(H.field(f, 5)).alias("valueRaw"),
        F.coalesce(H.nonempty(H.component(H.field(f, 6), 2)), H.nonempty(H.component(H.field(f, 6), 1)), F.lit("1")).alias(
            "unit"
        ),
        H.hl7_ts_to_timestamp(H.field(f, 14)).alias("obxTime"),
        # OBX-7 reference range "lo-hi" — present in HL7 but IGNORED by the
        # reference (field 7 is never read in libs/adapters/hl7/v2.ts; the
        # fixture carries it, schema/examples/hl7/minimal.hl7:4-5).  Kept
        # here as a declared extension: it feeds the J5 range join and an
        # abnormal-value flag.
        F.regexp_extract(H.field(f, 7), r"^([0-9.]+)-", 1).try_cast("double").alias("rangeLo"),
        F.regexp_extract(H.field(f, 7), r"-([0-9.]+)$", 1).try_cast("double").alias("rangeHi"),
        content_hash(f).alias("ingestHash"),
    )

    return obx_dto.select(
        F.lit(1).alias("schemaVersion"),
        F.col("patientId"),
        F.col("code"),
        F.col("valueRaw").try_cast("double").alias("value"),
        F.when(F.col("valueRaw").try_cast("double").isNull(), F.col("valueRaw")).alias("valueString"),
        F.col("unit"),
        F.coalesce(F.col("obxTime"), F.lit(batch_time)).alias("effectiveDateTime"),
        F.lit(SOURCE_SYSTEM).alias("sourceSystem"),
        F.col("ingestHash"),
        F.col("rangeLo"),
        F.col("rangeHi"),
        (
            (F.col("valueRaw").try_cast("double") < F.col("rangeLo"))
            | (F.col("valueRaw").try_cast("double") > F.col("rangeHi"))
        ).alias("abnormal"),
    ).where(F.col("code").isNotNull())


def parse_hl7v2(spark: SparkSession, path: str, batch_time: dt.datetime | None = None) -> DataFrame:
    """S2+P2-P5 composed: adapter-registry entry for content type x-hl7."""
    return parse_hl7_messages(read_hl7_files(spark, path), batch_time)
