"""End-to-end write path (SURVEY §3.1) + replay (§3.2): fixtures -> parse ->
validate -> FHIR gate -> envelope -> idempotent merge -> audit -> queries."""

import datetime as dt
import threading

import pytest

from etl_healthcare_spark.pipeline import run_batch_pipeline
from etl_healthcare_spark.plans.queries import latest_observation
from etl_healthcare_spark.operators.persist import ParquetStateStore
from tests.test_adapters import LABX_CSV, MINIMAL_HL7


def _write_fixtures(tmp_path):
    csv_p = tmp_path / "labx.csv"
    csv_p.write_text(LABX_CSV)
    hl7_p = tmp_path / "minimal.hl7"
    hl7_p.write_text(MINIMAL_HL7)
    return str(csv_p), str(hl7_p)


def test_write_path_then_replay(spark, tmp_path):
    csv_p, hl7_p = _write_fixtures(tmp_path)
    state = str(tmp_path / "state")
    audit = str(tmp_path / "audit")

    r1 = run_batch_pipeline(
        spark,
        tenant_id="t1",
        state_dir=state,
        csv_path=csv_p,
        hl7_path=hl7_p,
        audit_dir=audit,
        batch_time=dt.datetime(2025, 10, 1, 12, 0),
    )
    assert r1.dto_valid == 4 and r1.dto_invalid == 0 and r1.fhir_invalid == 0
    actions1 = {r.action for r in r1.commit_log.collect()}
    assert actions1 == {"insert"}

    state_rows = ParquetStateStore(spark, state).read().collect()
    assert len(state_rows) == 4
    assert all(r.version == 1 for r in state_rows)
    # both sources landed under one tenant: 2 CSV codes + 2 HL7 codes
    assert {r.code for r in state_rows} == {"718-7", "8867-4"}
    assert {r.patientId for r in state_rows} == {"pat-001", "12345"}

    # audit trail written under tenantId=/date=/hour= partitions
    audited = spark.read.json(audit)
    assert audited.count() == 4
    assert set(audited.columns) >= {"at", "type", "tenantId", "traceId", "payload", "date", "hour"}

    # §3.2 replay: same inputs re-run -> all no-ops, versions unchanged
    r2 = run_batch_pipeline(
        spark,
        tenant_id="t1",
        state_dir=state,
        csv_path=csv_p,
        hl7_path=hl7_p,
        batch_time=dt.datetime(2025, 10, 2, 12, 0),
    )
    assert {r.action for r in r2.commit_log.collect()} == {"noop"}
    assert all(r.version == 1 for r in ParquetStateStore(spark, state).read().collect())

    # read path over the persisted store: true latest per (patient, code)
    latest = latest_observation(
        ParquetStateStore(spark, state).read(), "t1", "pat-001", "718-7"
    ).collect()
    assert len(latest) == 1 and latest[0].value == 5.6


def _within(seconds, fn):
    """fn() on a daemon thread: an Observation that never reports blocks its
    ``get`` forever, so a hang must fail the test instead of stalling it."""
    out = {}

    def run():
        try:
            out["value"] = fn()
        except Exception as e:  # re-raised on the test's thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"run_batch_pipeline did not return within {seconds}s"
    if "error" in out:
        raise out["error"]
    return out["value"]


@pytest.fixture(params=("local", "reliable"))
def backend(request, spark):
    key = "spark.graft.checkpoint.backend"
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.unset(key)


def test_all_rows_rejected_by_dto_gate(spark, tmp_path, backend):
    """Every row fails the DTO gate: exact counts, an empty commit log, and
    the tenant's earlier rows stay live."""
    csv_p, hl7_p = _write_fixtures(tmp_path)
    state = str(tmp_path / "state")
    run_batch_pipeline(spark, tenant_id="t1", state_dir=state, csv_path=csv_p, hl7_path=hl7_p)
    bad = tmp_path / "bad.csv"
    bad.write_text(
        "patientId,code,value,unit,effectiveDateTime\n"
        ",718-7,5.6,mmol/L,2025-09-30T10:00:00Z\n"
        "pat-002,8867-4,not-a-number,/min,2025-09-30T10:05:00Z\n"
        "pat-003,718-7,5.1,,2025-09-30T10:10:00Z\n"
    )
    r = _within(300, lambda: run_batch_pipeline(
        spark, tenant_id="t1", state_dir=state, csv_path=str(bad), batch_time=dt.datetime(2025, 10, 2)
    ))
    assert (r.dto_valid, r.dto_invalid, r.fhir_invalid) == (0, 3, 0)
    assert r.commit_log.collect() == []
    assert ParquetStateStore(spark, state).read().count() == 4


def test_header_only_csv_without_hl7(spark, tmp_path, backend):
    """An empty batch: zero counts and an empty commit log, no hang."""
    empty = tmp_path / "empty.csv"
    empty.write_text("patientId,code,value,unit,effectiveDateTime\n")
    state = str(tmp_path / "state")
    r = _within(300, lambda: run_batch_pipeline(spark, tenant_id="t1", state_dir=state, csv_path=str(empty)))
    assert (r.dto_valid, r.dto_invalid, r.fhir_invalid) == (0, 0, 0)
    assert r.commit_log.collect() == []
    assert ParquetStateStore(spark, state).read().count() == 0


def test_batch_parses_its_inputs_once(spark, tmp_path):
    """A warm micro-batch derives the batch once: the gate counts ride the
    batch's one materialisation and the merge reads the pinned rows.  Each
    re-derivation re-runs the CSV + HL7 parse (2 jobs: the CSV header read
    and the map-only scan), so each gate counted with its own action adds
    jobs; one pass is 10."""
    csv_p, hl7_p = _write_fixtures(tmp_path)
    state = str(tmp_path / "state")
    run_batch_pipeline(spark, tenant_id="t1", state_dir=state, csv_path=csv_p, hl7_path=hl7_p)
    sc = spark.sparkContext
    sc.setJobGroup("test-one-parse", "run_batch_pipeline")
    try:
        r = run_batch_pipeline(spark, tenant_id="t1", state_dir=state, csv_path=csv_p, hl7_path=hl7_p,
                               audit_dir=str(tmp_path / "audit"), batch_time=dt.datetime(2025, 10, 2))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (r.dto_valid, r.dto_invalid, r.fhir_invalid) == (4, 0, 0)
    jobs = sc.statusTracker().getJobIdsForGroup("test-one-parse")
    assert len(jobs) <= 12, f"{len(jobs)} Spark jobs for one micro-batch"
