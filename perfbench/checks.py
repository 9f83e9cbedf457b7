"""What every workload shares: the pipeline's constants as the benchmark
uses them, and the checks of the program's outputs against the generator's
model.  An operation that raises or answers wrongly counts as failed."""

from __future__ import annotations

import datetime as dt
import traceback

BATCH_TIME = dt.datetime(2025, 6, 1)
STORE_COLS = ["tenantId", "entityType", "entityId", "patientId", "code", "value", "unit",
              "effectiveDateTime", "idempotencyKey"]
PAGE = 10  # timeline page size
CONTAM_PPM = 500000  # curation_e2e drops docs with >= 50% eval shingles


class Checks:
    """attempted / failed operation counts; failures keep a short reason."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)
        return ok

    def guard(self, fn, what: str):
        """Run ``fn``; an exception counts as one failed operation."""
        try:
            return fn()
        except Exception:  # a failing operation is a measured outcome, not a crash
            self.record(False, f"{what}: {traceback.format_exc(limit=2)}")
            return None


def check_log(model, tenant, batch, log) -> tuple[bool, dict]:
    """A commit log (rows with entityId, version, action) against the model:
    action counts, every version, and a replay being all noop.  The log
    covers the whole tenant, so untouched rows count as noop."""
    expect = model.expected_merge(tenant, batch)
    model.apply(tenant, batch)
    acts = {k: 0 for k in expect}
    for row in log:
        acts[row.action] += 1
    ok = acts == expect and {r.entityId: r.version for r in log} == model.versions(tenant)
    if batch.name.endswith("replay"):
        ok &= acts["noop"] == len(log)
    return ok, acts


def check_batch(checks, model, tenant, batch, res) -> None:
    """One run_batch_pipeline result: the gates' counts and the commit log."""
    log = res.commit_log.select("entityId", "version", "action").collect()
    ok, acts = check_log(model, tenant, batch, log)
    ok &= (res.dto_valid, res.dto_invalid, res.fhir_invalid) == (batch.n_valid, batch.n_invalid, 0)
    checks.record(ok, f"{batch.name}: actions {acts}, dto {res.dto_valid}/{res.dto_invalid}/{res.fhir_invalid}")
