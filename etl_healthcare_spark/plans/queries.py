"""Q1-Q6: the reference's GraphQL + admin query surface as library functions.

Reference: services/api-query/src/handler.ts (getPatient :40-53,
observationsByPatient :64-108, latestObservation :110-139),
services/audit-list-api/src/handler.ts:23-67, services/health-api/src/
handler.ts:82-130, docs/VALIDATION.md:163-168 tenant scan.

Every read is ONE ``where`` whose predicate folds in the V6 tenant guard
(``validate.tenant_guard``), the patient / code / time bounds and, on a
next page, the keyset predicate (``pagination.keyset_after``).  On the
tenant-partitioned store Catalyst turns the tenant term into partition
pruning and pushes the rest into the Parquet scan (the reference's GSI access
paths are physical layout here, not code — SURVEY §4).  The timeline page and
the latest value each plan as a single TakeOrderedAndProject over that scan:
no Exchange, no aggregate, one Spark job per read.  Timeline pages sort
ascending, NULLS FIRST.  Each new keyset token inlines fresh literals, so a
next page pays one whole-stage compile.

Deliberate divergence (SURVEY §2.8 Q3): latestObservation implements TRUE
latest-per-(patient,code).  The reference scans only the newest 50 rows and
can return null when >50 rows of other codes are newer
(api-query/src/handler.ts:123-127) — a real bug we do not reproduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pagination import clamp_limit, keyset_after
from ..operators.validate import tenant_guard


def get_patient(patients: DataFrame, tenant_id: str, patient_id: str) -> DataFrame:
    """Q1: tenant-scoped point lookup, 5-field projection."""
    return (
        patients.where(tenant_guard(tenant_id) & (F.col("patientId") == patient_id))
        .select("patientId", "tenantId", "name", "birthDate", "updatedAt")
    )


def observations_by_patient(
    obs: DataFrame,
    tenant_id: str,
    patient_id: str,
    code: str | None = None,
    ts_from=None,
    ts_to=None,
    limit: int | None = None,
    token: str | None = None,
    tiebreak_col: str = "entityId",
) -> DataFrame:
    """Q2: ascending timeline range scan with optional code equality and
    time bounds, clamped limit, keyset pagination (handler.ts:64-108)."""
    sort_cols = ["effectiveDateTime", tiebreak_col]
    pred = tenant_guard(tenant_id) & (F.col("patientId") == patient_id)
    if code is not None:
        pred = pred & (F.col("code") == code)
    if ts_from is not None:
        pred = pred & (F.col("effectiveDateTime") >= F.lit(ts_from))
    if ts_to is not None:
        pred = pred & (F.col("effectiveDateTime") <= F.lit(ts_to))
    if token is not None:
        pred = pred & keyset_after(sort_cols, token)
    return obs.where(pred).orderBy(*sort_cols).limit(clamp_limit(limit))


def latest_observation(obs: DataFrame, tenant_id: str, patient_id: str, code: str) -> DataFrame:
    """Q3: the newest dated observation of (patient, code), as a top-1 of the
    tenant-pruned, patient-pushed scan (one TakeOrderedAndProject, one Spark
    job).  Undated rows never win, so a (patient, code) with only undated
    rows returns no row; a tie on ``effectiveDateTime`` goes to the larger
    ``entityId``.  Columns come back in ``obs.columns`` order."""
    pred = (
        tenant_guard(tenant_id)
        & (F.col("patientId") == patient_id)
        & (F.col("code") == code)
        & F.col("effectiveDateTime").isNotNull()
    )
    return (
        obs.where(pred)
        .orderBy(F.col("effectiveDateTime").desc(), F.col("entityId").desc())
        .limit(1)
    )


def latest_per_group(
    obs: DataFrame,
    group_cols: list[str],
    order_col: str = "effectiveDateTime",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """G6 generalized: newest full row per group.  Pass ``tiebreak`` columns
    to make the pick total under order-col ties (otherwise any tied row may
    be returned).

    UNIQUENESS REQUIREMENT (public contract): with ``tiebreak``, the LAST
    tiebreak column must be unique within (group, order_col, preceding
    tiebreaks) — e.g. an event/observation id.  If it is not, this returns
    ALL maximal rows (argmax semantics — possibly >1 row per group), where
    the struct-max fallback returns an arbitrary single one; callers that
    need exactly one row per group must supply a true tiebreak.  Groups
    whose ``order_col`` is all-NULL are returned (NULLs always lose to
    non-NULL order values); see the NULL contract in operators/argmax.py.

    Plan shape: the two-phase hash argmax (operators/argmax.py) when every
    order column is fixed-width — HashAggregate + shuffled-hash join-back,
    never a post-shuffle sort; the max_by(struct, struct) fallback (used
    for non-fixed-width order columns) plans SortAggregate.  Cost model
    per the argmax module docstring: the argmax join wins on LOW
    partial-collapse streams; for HIGH-collapse latest-per-group over a
    packable (timestamp, numeric-id) order with scalar payloads, the
    registry's q3/g6 DECIMAL(38,0)-packed one-pass max is strictly better
    than both — this generic whole-row helper can't pack arbitrary
    payloads, so callers on that fast path should use the packed recipe
    directly (SCALE.md §49)."""
    from ..operators.argmax import argmax_rows

    cols = obs.columns
    if tiebreak:  # argmax returns ALL maximal rows; only total orders qualify
        try:
            return argmax_rows(obs, list(group_cols), [order_col, *tiebreak]).select(*cols)
        except ValueError:
            pass  # non-fixed-width order column: fall through to max_by
    key = F.struct(F.col(order_col), *[F.col(c) for c in (tiebreak or [])])
    return (
        obs.groupBy(*group_cols)
        .agg(F.max_by(F.struct(*cols), key).alias("r"))
        .select("r.*")
    )


def tenant_scan(state: DataFrame, tenant_id: str, entity_type: str = "observation") -> DataFrame:
    """Q6: all items of a type for a tenant (begins_with(SK,...) analog)."""
    return state.where(tenant_guard(tenant_id) & (F.col("entityType") == entity_type))
