"""P6 mapper + V2/V3 gates — parity with libs/mappers/observation.test.ts:
the mapped FHIR resource passes the R4-min conformance gate."""

import datetime as dt

from etl_healthcare_spark.operators.fhir import map_to_fhir
from etl_healthcare_spark.operators.validate import (
    validate_dto,
    validate_fhir,
    tenant_guard,
)
from etl_healthcare_spark.schemas import LOINC_SYSTEM, UCUM_SYSTEM


def _dto(spark):
    return spark.createDataFrame(
        [(1, "pat-1", "718-7", 5.6, None, "mmol/L", dt.datetime(2025, 9, 30, 10), "csv:labx", "sha256:aaaaaaaaaa")],
        "schemaVersion int, patientId string, code string, value double, valueString string,"
        "unit string, effectiveDateTime timestamp, sourceSystem string, ingestHash string",
    )


def test_fhir_mapping_and_gate(spark):
    fhir = map_to_fhir(_dto(spark))
    row = fhir.select("fhir.*").collect()[0]
    assert row.resourceType == "Observation"
    assert row.status == "final"
    assert row.code.coding[0].system == LOINC_SYSTEM
    assert row.code.coding[0].code == "718-7"
    assert row.subject.reference == "Patient/pat-1"
    assert row.effectiveDateTime == "2025-09-30T10:00:00Z"
    assert row.valueQuantity.value == 5.6
    assert row.valueQuantity.system == UCUM_SYSTEM
    assert row.valueQuantity.code == "mmol/L"
    # observation.test.ts:4-18 — the mapped struct passes the conformance gate
    res = validate_fhir(fhir)
    assert res.valid.count() == 1 and res.rejected.count() == 0


def test_dto_validation_split(spark):
    bad = spark.createDataFrame(
        [
            (1, "", "718-7", 5.6, None, "u", dt.datetime(2025, 1, 1), "s", "sha256:aaaaaaaaaa"),
            (1, "p", "718-7", None, None, "u", dt.datetime(2025, 1, 1), "s", "sha256:aaaaaaaaaa"),
        ],
        _dto(spark).schema,
    )
    res = validate_dto(_dto(spark).unionByName(bad))
    assert res.valid.count() == 1
    reasons = {r["_reject_reason"] for r in res.rejected.collect()}
    assert reasons == {"patientId_empty", "value_not_finite"}


def test_tenant_guard(spark):
    df = spark.createDataFrame([("t1", 1), ("t2", 2)], ["tenantId", "x"])
    assert df.where(tenant_guard("t1")).collect() == [("t1", 1)]
