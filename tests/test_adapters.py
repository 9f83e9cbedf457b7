"""Adapter golden tests — parity with the reference's unit suite:
libs/adapters/csv/labx.test.ts and libs/adapters/hl7/v2.test.ts (SURVEY §5)."""

import datetime as dt

from etl_healthcare_spark.sources.csv_labx import parse_labx_csv
from etl_healthcare_spark.sources.hl7 import parse_hl7_messages, parse_hl7v2

LABX_CSV = (
    "patientId,code,value,unit,effectiveDateTime\n"
    "pat-001,718-7,5.6,mmol/L,2025-09-30T10:00:00Z\n"
    "pat-001,8867-4,72,/min,2025-09-30T10:05:00Z\n"
)

MINIMAL_HL7 = (
    "MSH|^~\\&|LAB|HOSP|ETL|PIPE|20250930101500||ORU^R01|MSGID1234|P|2.5\r"
    "PID|1||12345^^^HOSP^MR||DOE^JOHN\r"
    "OBR|1|||GLUCOSE^Glucose^LN||20250930100000\r"
    "OBX|1|NM|718-7^Glucose^LN||5.6|mmol/L|3.5-7.8|N|||F|||20250930100000\r"
    "OBX|2|NM|8867-4^Heart rate^LN||72|/min|60-100|N|||F|||20250930100500\r"
)


def test_labx_csv_to_dto(spark, tmp_path):
    # labx.test.ts:3-14 — first fixture row field-equality
    p = tmp_path / "labx.csv"
    p.write_text(LABX_CSV)
    dto = parse_labx_csv(spark, str(p)).orderBy("code").collect()
    assert len(dto) == 2
    r = [x for x in dto if x.code == "718-7"][0]
    assert r.patientId == "pat-001"
    assert r.value == 5.6
    assert r.unit == "mmol/L"
    assert r.effectiveDateTime == dt.datetime(2025, 9, 30, 10, 0, 0)
    assert r.sourceSystem == "csv:labx"
    assert r.ingestHash.startswith("sha256:") and len(r.ingestHash) == 71
    assert r.schemaVersion == 1


def test_hl7_minimal_message(spark, tmp_path):
    # v2.test.ts:3-18 — 4-segment message -> 2 DTOs, PID-3 patient id,
    # OBX code/value/unit, TS->ISO conversion
    p = tmp_path / "minimal.hl7"
    p.write_text(MINIMAL_HL7)
    dto = parse_hl7v2(spark, str(p)).orderBy("code").collect()
    assert len(dto) == 2
    glucose = [x for x in dto if x.code == "718-7"][0]
    assert glucose.patientId == "12345"
    assert glucose.value == 5.6
    assert glucose.unit == "mmol/L"
    assert glucose.effectiveDateTime == dt.datetime(2025, 9, 30, 10, 0, 0)
    assert glucose.sourceSystem == "hl7v2:file"
    hr = [x for x in dto if x.code == "8867-4"][0]
    assert hr.value == 72.0
    assert hr.unit == "/min"


def test_hl7_edge_cases(spark):
    # fallbacks: PID-3 comp-2, unit default "1", non-numeric value kept as
    # valueString (v2.ts:88 extension), missing TS -> batch time
    msg = (
        "MSH|^~\\&|A|B|C|D|20250101||ORU^R01|X|P|2.5\n"
        "PID|1||^FALLBACK-9||\n"
        "OBX|1|ST|111-1^Note^LN||HIGH||||||F\n"
    )
    msgs = spark.createDataFrame([(1, msg)], ["messageId", "message"])
    bt = dt.datetime(2030, 6, 1)
    r = parse_hl7_messages(msgs, batch_time=bt).collect()[0]
    assert r.patientId == "FALLBACK-9"
    assert r.value is None and r.valueString == "HIGH"
    assert r.unit == "1"
    assert r.effectiveDateTime == bt


def test_hl7_no_pid_unknown_patient(spark):
    msg = "MSH|^~\\&|A|B|C|D|20250101||ORU^R01|X|P|2.5\nOBX|1|NM|1-1^X^LN||3|u||||||F\n"
    msgs = spark.createDataFrame([(1, msg)], ["messageId", "message"])
    r = parse_hl7_messages(msgs).collect()[0]
    assert r.patientId == "unknown"  # v2.ts:74


def test_hl7_obx7_reference_range(spark):
    # OBX-7 "3.5-7.8" — ignored by the reference (v2.ts never reads field 7);
    # engine extension: parsed lo/hi + abnormal flag for the J5 range join
    msg = (
        "MSH|^~\\&|A|B|C|D|20250101||ORU^R01|X|P|2.5\n"
        "PID|1||p9||\n"
        "OBX|1|NM|718-7^Glucose^LN||9.9|mmol/L|3.5-7.8|H|||F|||20250101080000\n"
        "OBX|2|NM|8867-4^HR^LN||72|/min|60-100|N|||F|||20250101080000\n"
    )
    msgs = spark.createDataFrame([(1, msg)], ["messageId", "message"])
    rows = {r.code: r for r in parse_hl7_messages(msgs).collect()}
    assert rows["718-7"].rangeLo == 3.5 and rows["718-7"].rangeHi == 7.8
    assert rows["718-7"].abnormal is True  # 9.9 > 7.8
    assert rows["8867-4"].abnormal is False  # 72 in 60-100


def test_hl7_pid_placement(spark):
    # the first PID in segment order names the patient of every OBX row of its
    # message, wherever the PID sits; messages never share a patient
    two_pids = "MSH|x\nPID|1||first\nOBX|1|NM|1-1^A||1|u\nPID|2||second\nOBX|2|NM|2-2^B||2|u\n"
    pid_last = "MSH|x\nOBX|1|NM|3-3^C||3|u\nOBX|2|NM|4-4^D||4|u\nPID|1||late\n"
    own = "MSH|x\nPID|1||own\nOBX|1|NM|5-5^E||5|u\n"
    msgs = spark.createDataFrame([(1, two_pids), (2, pid_last), (3, own)], ["messageId", "message"])
    got = {r.code: r.patientId for r in parse_hl7_messages(msgs).collect()}
    assert got == {"1-1": "first", "2-2": "first", "3-3": "late", "4-4": "late", "5-5": "own"}
