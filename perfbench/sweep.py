"""The traced run's layer sweep.

Each layer's public function is called on an input that is already
materialised (``localCheckpoint``), under a span of its own, and its output
is forced into Spark's ``noop`` sink; so a layer span holds that layer's work
and nothing upstream of it.  Outputs are still checked against the
generator's truth.  Every traced run sweeps every layer: the workload's own
inputs feed its layers, small companion inputs from the same seed feed the
rest, so each per-layer metric exists on every workload.
"""

from __future__ import annotations

import os
import random
import statistics
from dataclasses import dataclass

from pyspark.sql import functions as F

from etl_healthcare_spark.operators.dedup import (
    connected_components,
    dedup_keep_list,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_contamination,
)
from etl_healthcare_spark.operators.fhir import map_to_fhir
from etl_healthcare_spark.operators.normalize import build_normalized_envelope, union_branches
from etl_healthcare_spark.operators.pagination import next_token_from_rows
from etl_healthcare_spark.operators.persist import ParquetStateStore
from etl_healthcare_spark.operators.textops import quality_gate
from etl_healthcare_spark.operators.validate import validate_dto, validate_fhir
from etl_healthcare_spark.pipeline import run_batch_pipeline
from etl_healthcare_spark.plans.queries import latest_observation, observations_by_patient
from etl_healthcare_spark.sources.audit import append_audit
from etl_healthcare_spark.sources.csv_labx import parse_labx_csv
from etl_healthcare_spark.sources.hl7 import parse_hl7v2

from checks import BATCH_TIME, CONTAM_PPM, PAGE, STORE_COLS, check_batch, check_log

QUERY_PATIENTS = 12


@dataclass
class LabSweep:
    """The pipeline runs once on ``base`` into ``base_tenant``; the layers
    then run one by one on ``update`` into ``update_tenant``."""

    store: str
    audit: str
    base_tenant: str
    base: object
    update_tenant: str
    update: object
    model: object  # gen.StoreModel of ``store``


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pin(df):
    return df.localCheckpoint(eager=True)


def lab_layers(spark, tr, checks, lab: LabSweep) -> dict:
    b, t = lab.base, lab.base_tenant
    with tr.span("pipeline.batch"):
        res = run_batch_pipeline(spark, tenant_id=t, state_dir=lab.store, csv_path=b.csv_path,
                                 hl7_path=b.hl7_dir, audit_dir=lab.audit, batch_time=BATCH_TIME)
    check_batch(checks, lab.model, t, b, res)

    b, t = lab.update, lab.update_tenant
    with tr.span("sources.parse"):
        branches = [parse_labx_csv(spark, b.csv_path)]
        if b.hl7_dir:
            branches.append(parse_hl7v2(spark, b.hl7_dir, batch_time=BATCH_TIME))
        dto = union_branches(*branches)
        sink(dto)
    dto = pin(dto)
    with tr.span("validate"):
        valid, rejected = validate_dto(dto)
        sink(valid)
        sink(rejected)
    valid, n_dto, n_rej = pin(valid), dto.count(), rejected.count()
    checks.record((n_dto, n_rej) == (b.n_valid + b.n_invalid, b.n_invalid), f"sweep DTO gate {n_dto}/{n_rej}")
    with tr.span("fhir"):
        fhir_valid, fhir_rejected = validate_fhir(map_to_fhir(valid))
        sink(fhir_valid)
        sink(fhir_rejected)
    fhir_valid, n_fhir_rej = pin(fhir_valid), fhir_rejected.count()
    checks.record(n_fhir_rej == 0, f"sweep FHIR rejects {n_fhir_rej}")
    with tr.span("normalize"):
        env = build_normalized_envelope(fhir_valid.drop("fhir"), tenant_id=F.lit(t),
                                        source=F.col("sourceSystem"), idempotency_key=F.col("ingestHash"))
        env = env.select(*STORE_COLS)
        sink(env)
    env = pin(env)
    with tr.span("persist.merge"):
        log = ParquetStateStore(spark, lab.store).merge(env, updated_at=BATCH_TIME)
        sink(log)
    log_rows = log.select("entityId", "version", "action").collect()
    ok, acts = check_log(lab.model, t, b, log_rows)
    checks.record(ok, f"sweep merge: {acts}")
    batch_keys = len({o.key for o in b.obs})
    lines = pin(log.select(
        F.lit(BATCH_TIME).cast("timestamp").alias("at"),
        F.lit("etl.persisted.v1").alias("type"),
        F.col("tenantId"),
        F.sha2(F.concat_ws("|", "tenantId", "entityId"), 256).alias("traceId"),
        F.to_json(F.struct("entityId", "version", "action")).alias("payload"),
    ))
    with tr.span("audit.append"):
        append_audit(lines, lab.audit)
    files = [os.path.join(d, f) for d, _, fs in os.walk(lab.store) for f in fs if f.endswith(".parquet")]
    return {
        "pipeline.spark_jobs_per_batch": (tr.totals("pipeline.batch", "jobs"), "count"),
        "pipeline.tasks_per_batch": (tr.totals("pipeline.batch", "tasks"), "count"),
        "validate.reject_ratio": (n_rej / n_dto, "ratio"),
        "fhir.reject_ratio": (n_fhir_rej / (n_dto - n_rej), "ratio"),
        "persist.rows_rewritten_per_batch_row": (len(log_rows) / b.n_valid, "ratio"),
        "persist.noop_ratio": ((batch_keys - acts["insert"] - acts["update"]) / batch_keys, "ratio"),
        "persist.files": (len(files), "count"),
        "persist.store_mb": (sum(os.path.getsize(f) for f in files) / 2 ** 20, "MB"),
    }


def query_layers(spark, tr, checks, store: str, model, seed: int) -> dict:
    rng = random.Random(seed)
    for _ in range(5):
        with tr.span("persist.read_open"):
            obs = ParquetStateStore(spark, store).read()
    # patients with a second page, so every timeline read also pages
    pairs = sorted({(t, k[0]) for t, rows in model.tenants.items() for k in rows})
    pairs = [(t, p) for t, p in pairs if len(model.timeline(t, p)) > PAGE]
    for t, p in rng.sample(pairs, min(QUERY_PATIENTS, len(pairs))):
        timeline = model.timeline(t, p)
        df = observations_by_patient(obs, t, p, limit=PAGE)
        with tr.span("queries.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("queries.exec"):
            page = df.collect()
        checks.record([(r.entityId, r.value) for r in page] == [(e, v) for _, e, v in timeline[:PAGE]],
                      f"sweep page {t}/{p}")
        token = next_token_from_rows(page, ["effectiveDateTime", "entityId"], PAGE)
        if token is not None:
            with tr.span("pagination.next_page"):
                page2 = observations_by_patient(obs, t, p, limit=PAGE, token=token).collect()
            checks.record([r.entityId for r in page2] == [e for _, e, _ in timeline[PAGE:2 * PAGE]],
                          f"sweep next page {t}/{p}")
        code = timeline[-1][1].split(":")[1]
        df = latest_observation(obs, t, p, code)
        with tr.span("queries.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("queries.exec"):
            latest = df.collect()
        checks.record(len(latest) == 1 and latest[0].value == model.latest(t, p, code), f"sweep latest {t}/{p}")

    def med_ms(name):
        return (1000 * statistics.median(s["end"] - s["start"] for s in tr.find(name)), "ms")

    execs = tr.find("queries.exec")
    return {
        "persist.read_open_ms": med_ms("persist.read_open"),
        "queries.plan_ms": med_ms("queries.plan"),
        "queries.exec_ms": med_ms("queries.exec"),
        "queries.jobs_per_query": (statistics.mean(s["jobs"] for s in execs), "count"),
        "pagination.next_page_ms": med_ms("pagination.next_page"),
    }


def corpus_layers(spark, tr, checks, inp) -> dict:
    docs = pin(spark.read.parquet(os.path.join(inp.path, "documents.parquet")))
    corpus = pin(docs.where(F.col("source") != "src0"))
    eval_df = pin(docs.where(F.col("source") == "src0"))
    with tr.span("textops.gate"):
        gate = quality_gate(corpus, "text", "doc_id")
        sink(gate)
    gate = pin(gate)
    kept = {r.doc_id for r in gate.where(F.col("kept")).select("doc_id").collect()}
    checks.record(kept == inp.gate_kept, f"sweep gate kept {len(kept)} vs {len(inp.gate_kept)}")
    q = pin(corpus.join(gate.where(F.col("kept")).select("doc_id"), "doc_id", "left_semi"))
    with tr.span("dedup.exact"):
        groups = exact_dedup(q, "text", "doc_id")
        sink(groups)
    keepers = pin(groups.select(F.col("keep_id").alias("doc_id")))
    survivors = {r.doc_id for r in keepers.collect()}
    checks.record(survivors == inp.exact_survivors,
                  f"sweep exact survivors {len(survivors)} vs {len(inp.exact_survivors)}")
    ex_surv = pin(q.join(keepers, "doc_id", "left_semi"))
    with tr.span("dedup.minhash_lsh"):
        pairs = minhash_lsh_pairs(ex_surv, "text", "doc_id", bands=4, rows=4)
        sink(pairs)
    pairs = pin(pairs)
    cand = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    with tr.span("dedup.cc") as cc_span:
        clusters = connected_components(pairs, "doc_a", "doc_b")
        sink(clusters)
    clusters = pin(clusters)
    with tr.span("dedup.keep_list"):
        keep = dedup_keep_list(ex_surv, "doc_id", clusters)
        sink(keep)
    keep = pin(keep)
    dropped = {r.doc_id for r in keep.where(~F.col("kept")).select("doc_id").collect()}
    variants = {v for vs in inp.families.values() for v in vs} & survivors
    nd_surv = pin(ex_surv.join(keep.where(F.col("kept")).select("doc_id"), "doc_id", "left_semi"))
    with tr.span("dedup.contam"):
        contam = ngram_contamination(nd_surv, eval_df, "text", "doc_id", k=5)
        sink(contam)
    flagged = {r.doc_id for r in contam.where(F.col("contam_ppm") >= CONTAM_PPM).select("doc_id").collect()}
    checks.record(flagged == inp.contaminated - dropped, f"sweep contamination {len(flagged)}")
    return {
        "textops.gate_keep_ratio": (len(kept) / corpus.count(), "ratio"),
        "dedup.lsh_candidate_pairs": (len(cand), "count"),
        "dedup.lsh_precision": (len(cand & inp.true_pairs) / max(1, len(cand)), "ratio"),
        "dedup.near_recall": (len(variants & dropped) / max(1, len(variants)), "ratio"),
        "dedup.cc_jobs": (cc_span["jobs"], "count"),
    }


SELF_TIMES = {
    "sources.parse_s": "sources.parse", "validate.s": "validate", "fhir.map_s": "fhir",
    "normalize.envelope_s": "normalize", "audit.append_s": "audit.append",
    "persist.merge_s": "persist.merge", "textops.gate_s": "textops.gate",
    "dedup.exact_s": "dedup.exact", "dedup.minhash_lsh_s": "dedup.minhash_lsh",
    "dedup.cc_s": "dedup.cc", "dedup.keep_list_s": "dedup.keep_list", "dedup.contam_s": "dedup.contam",
}


def run_sweep(spark, tr, checks, lab: LabSweep, corpus, seed: int) -> dict:
    with tr.span("sweep"):
        out = lab_layers(spark, tr, checks, lab)
        out.update(query_layers(spark, tr, checks, lab.store, lab.model, seed))
        out.update(corpus_layers(spark, tr, checks, corpus))
    self_s = tr.self_times()
    out.update({m: (self_s[span], "s") for m, span in SELF_TIMES.items()})
    out["spark.failed_tasks"] = (sum(s.get("failed_tasks", 0) for s in tr.spans), "count")
    return out
