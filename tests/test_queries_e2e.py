"""End-to-end: fixtures -> normalize -> merge -> Q1-Q3 serving queries +
keyset pagination (the reference's VALIDATION.md runbook as a pytest)."""

import datetime as dt

from pyspark.sql import functions as F

from etl_healthcare_spark.operators.normalize import build_normalized_envelope
from etl_healthcare_spark.operators.persist import ParquetStateStore
from etl_healthcare_spark.operators.pagination import (
    clamp_limit,
    keyset_page,
    next_token_from_rows,
)
from etl_healthcare_spark.plans.queries import (
    get_patient,
    latest_observation,
    latest_per_group,
    observations_by_patient,
    tenant_scan,
)
from etl_healthcare_spark.sources.csv_labx import labx_rows_to_dto


def _state(spark, tmp_path):
    rows = [
        ("pat-1", "718-7", "5.6", "mmol/L", "2025-09-30T10:00:00Z"),
        ("pat-1", "718-7", "6.1", "mmol/L", "2025-10-01T10:00:00Z"),
        ("pat-1", "8867-4", "72", "/min", "2025-09-30T10:05:00Z"),
        ("pat-2", "718-7", "4.9", "mmol/L", "2025-09-30T11:00:00Z"),
    ]
    raw = spark.createDataFrame(rows, ["patientId", "code", "value", "unit", "effectiveDateTime"])
    dto = labx_rows_to_dto(raw)
    env = build_normalized_envelope(
        dto, tenant_id=F.lit("t1"), source=F.lit("test"), idempotency_key=F.col("ingestHash")
    )
    batch = env.select(
        "tenantId", "entityType", "entityId", "patientId", "code", "value", "unit",
        "effectiveDateTime", "idempotencyKey",
    )
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    store.merge(batch, updated_at=dt.datetime(2025, 10, 2))
    return store.read()


def test_q2_timeline_scan(spark, tmp_path):
    state = _state(spark, tmp_path)
    rows = observations_by_patient(state, "t1", "pat-1", code="718-7").collect()
    assert [r.value for r in rows] == [5.6, 6.1]  # ascending by effective
    rows = observations_by_patient(
        state, "t1", "pat-1", ts_from=dt.datetime(2025, 10, 1)
    ).collect()
    assert len(rows) == 1 and rows[0].value == 6.1


def test_q3_latest_observation(spark, tmp_path):
    state = _state(spark, tmp_path)
    r = latest_observation(state, "t1", "pat-1", "718-7").collect()
    assert len(r) == 1 and r[0].value == 6.1  # true latest, not 50-row-window
    assert latest_observation(state, "t1", "pat-9", "718-7").collect() == []  # null if absent


def test_q3_latest_skips_undated_and_breaks_ties_by_entity_id(spark):
    t0, t1 = dt.datetime(2025, 10, 1), dt.datetime(2025, 10, 2)
    rows = [
        ("t1", "pat-1", "718-7", "e-dated", 1.0, t0),
        ("t1", "pat-1", "718-7", "e-undated", 9.0, None),
        ("t1", "pat-1", "8867-4", "e-only-undated", 2.0, None),
        ("t1", "pat-1", "2345-7", "e-tie-a", 3.0, t1),
        ("t1", "pat-1", "2345-7", "e-tie-b", 4.0, t1),
        ("t1", "pat-1", "2345-7", "e-older", 5.0, t0),
    ]
    ddl = "tenantId string, patientId string, code string, entityId string, value double, effectiveDateTime timestamp"
    for order in (rows, rows[::-1]):
        for obs in (spark.createDataFrame(order, ddl).coalesce(1), spark.createDataFrame(order, ddl).repartition(3)):
            got = latest_observation(obs, "t1", "pat-1", "718-7").collect()
            assert [r.entityId for r in got] == ["e-dated"]  # an undated row never wins
            assert latest_observation(obs, "t1", "pat-1", "8867-4").collect() == []  # undated only: no row
            tie = latest_observation(obs, "t1", "pat-1", "2345-7").collect()
            assert [(r.entityId, r.value) for r in tie] == [("e-tie-b", 4.0)]  # tie: the larger entityId
            assert list(tie[0].asDict()) == obs.columns


def _one_job_top_k(spark, df, group):
    """Collect ``df`` inside a job group; assert it planned a single
    TakeOrderedAndProject over the scan (no Exchange, no aggregate) and ran
    one Spark job.  Returns the rows and the scan's partition and pushed
    filters."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, f"{group}: {len(jobs)} Spark jobs"
    plan = df._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert plan.nodeName() == "TakeOrderedAndProject", text
    for node in ("Exchange", "SortAggregate", "HashAggregate"):
        assert node not in text, text
    meta = plan.collectLeaves().head().metadata()
    return rows, meta.apply("PartitionFilters"), meta.apply("PushedFilters")


def test_reads_plan_one_pruned_top_k_job(spark, tmp_path):
    """Latest, first page and keyset page each run as one job over the
    tenant-pruned scan with the patient equality (and the keyset Or) pushed
    into Parquet."""
    state = _state(spark, tmp_path)
    latest, parts, pushed = _one_job_top_k(
        spark, latest_observation(state, "t1", "pat-1", "718-7"), "q-latest")
    assert [r.value for r in latest] == [6.1]
    assert "(tenantId#" in parts and "= t1)" in parts
    assert "EqualTo(patientId,pat-1)" in pushed and "EqualTo(code,718-7)" in pushed

    page1, parts, pushed = _one_job_top_k(
        spark, observations_by_patient(state, "t1", "pat-1", limit=2), "q-page1")
    assert [r.value for r in page1] == [5.6, 72.0]
    assert "(tenantId#" in parts and "= t1)" in parts
    assert "EqualTo(patientId,pat-1)" in pushed and "Or(" not in pushed

    token = next_token_from_rows(page1, ["effectiveDateTime", "entityId"], 2)
    page2, parts, pushed = _one_job_top_k(
        spark, observations_by_patient(state, "t1", "pat-1", limit=2, token=token), "q-page2")
    assert [r.value for r in page2] == [6.1]
    assert "(tenantId#" in parts and "= t1)" in parts
    assert "EqualTo(patientId,pat-1)" in pushed and "Or(GreaterThan(effectiveDateTime," in pushed


def test_q1_get_patient_is_tenant_scoped(spark):
    """The same patientId under another tenant is not returned, and the
    projection is the reference's 5 fields (handler.ts:40-53)."""
    patients = spark.createDataFrame(
        [
            ("pat-1", "t1", "Ada", "1970-01-01", "2025-09-30T10:00:00Z", "x"),
            ("pat-1", "t2", "Bob", "1980-02-02", "2025-09-30T11:00:00Z", "y"),
            ("pat-2", "t1", "Cy", "1990-03-03", "2025-09-30T12:00:00Z", "z"),
        ],
        ["patientId", "tenantId", "name", "birthDate", "updatedAt", "extra"],
    )
    got = get_patient(patients, "t1", "pat-1")
    assert got.columns == ["patientId", "tenantId", "name", "birthDate", "updatedAt"]
    assert [tuple(r) for r in got.collect()] == [
        ("pat-1", "t1", "Ada", "1970-01-01", "2025-09-30T10:00:00Z")
    ]
    assert get_patient(patients, "t3", "pat-1").collect() == []


def test_q6_tenant_scan_and_guard(spark, tmp_path):
    state = _state(spark, tmp_path)
    assert tenant_scan(state, "t1").count() == 4
    assert tenant_scan(state, "t2").count() == 0  # V6: other tenant sees nothing


def test_latest_per_group(spark, tmp_path):
    state = _state(spark, tmp_path)
    latest = latest_per_group(state, ["patientId", "code"])
    got = {(r.patientId, r.code): r.value for r in latest.collect()}
    assert got[("pat-1", "718-7")] == 6.1
    assert got[("pat-2", "718-7")] == 4.9


def test_keyset_pagination_roundtrip(spark, tmp_path):
    state = _state(spark, tmp_path).select("effectiveDateTime", "entityId", "value")
    n = clamp_limit(2)
    page1 = keyset_page(state, ["effectiveDateTime", "entityId"], n).collect()
    assert len(page1) == 2
    tok = next_token_from_rows([r.asDict() for r in page1], ["effectiveDateTime", "entityId"], n)
    assert tok is not None
    page2 = keyset_page(state, ["effectiveDateTime", "entityId"], n, tok).collect()
    assert len(page2) == 2
    # no overlap, full coverage, order preserved
    ids = [r.entityId for r in page1 + page2]
    assert len(set(ids)) == 4
    times = [r.effectiveDateTime for r in page1 + page2]
    assert times == sorted(times)
    # short page => no next token
    assert next_token_from_rows([r.asDict() for r in page2[:1]], ["effectiveDateTime", "entityId"], n) is None


def test_clamp_limit():
    assert clamp_limit(None) == 25  # default (api-query handler.ts:65)
    assert clamp_limit(0) == 1
    assert clamp_limit(10_000) == 100


def test_load_table_normalizes_nested_ntz(spark, tmp_path):
    """TIMESTAMP_NTZ nested inside struct/array columns must normalize to
    TimestampType at load, not just top-level dtypes (advisor round-2)."""
    from etl_healthcare_spark.datasets import load_table

    spark.sql(
        """
        SELECT 1 AS id,
               TIMESTAMP_NTZ '2026-01-02 03:04:05' AS top,
               named_struct('at', TIMESTAMP_NTZ '2026-01-02 03:04:05', 'n', 7) AS meta,
               array(TIMESTAMP_NTZ '2026-01-02 03:04:05') AS times
        """
    ).write.mode("overwrite").parquet(str(tmp_path / "nested.parquet"))
    df = load_table(spark, str(tmp_path), "nested")
    assert "timestamp_ntz" not in str(df.schema).lower()
    row = df.head()
    # UTC pin makes the NTZ->LTZ cast the wall-clock identity
    assert row.meta.at == row.top and row.times[0] == row.top
    assert row.meta.n == 7
