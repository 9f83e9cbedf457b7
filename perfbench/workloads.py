"""The three workloads: one closed-loop client each, every answer checked.

Each workload sets up (several times, so set-up time is a median), warms the
JVM with one untimed step, then repeats whole steps until the run's seconds
are spent.  Every operation is checked against the generator's model.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from etl_healthcare_spark.operators.fhir import map_to_fhir
from etl_healthcare_spark.operators.normalize import build_normalized_envelope
from etl_healthcare_spark.operators.pagination import next_token_from_rows
from etl_healthcare_spark.operators.persist import ParquetStateStore
from etl_healthcare_spark.operators.validate import validate_dto, validate_fhir
from etl_healthcare_spark.pipeline import run_batch_pipeline
from etl_healthcare_spark.plans.queries import latest_observation, observations_by_patient
from etl_healthcare_spark.sources.csv_labx import parse_labx_csv

import gen
from checks import BATCH_TIME, PAGE, STORE_COLS, Checks, check_batch
from sweep import LabSweep, run_sweep

QUERIES_PER_WRITE = 40  # serve: timeline/latest queries after each micro-batch


def pct(values, q):
    """Nearest-rank percentile of a list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))]


class CpuClock:
    """CPU seconds run so far by this Python process and by every JVM thread
    except the JIT compilers, read from /proc at nanosecond resolution.
    Unlike wall time it does not count hypervisor steal, and leaving out
    JIT compilation keeps the JVM's own warm-up out of the figures."""

    JIT = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int):
        self.tasks = f"/proc/{jvm_pid}/task"

    def __call__(self) -> float:
        ns = 0
        for tid in os.listdir(self.tasks):
            try:
                with open(f"{self.tasks}/{tid}/comm") as f:
                    if f.read().startswith(self.JIT):
                        continue
                with open(f"{self.tasks}/{tid}/schedstat") as f:
                    ns += int(f.read().split()[0])
            except FileNotFoundError:  # the thread ended meanwhile
                pass
        return ns / 1e9 + time.process_time()


class Workload:
    """A workload measures ``items`` (rows, queries or documents) done by
    timed operations that took ``busy`` wall seconds and ``cpu`` CPU
    seconds; ``op_wall`` and ``op_cpu`` hold those of its main operation."""

    name = ""
    setup_reps = 3

    def __init__(self, spark, work: str, seed: int, tracer, checks: Checks):
        self.spark, self.work, self.seed = spark, work, seed
        self.tr, self.checks = tracer, checks
        self.setup_wall: list[float] = []
        self.setup_cpu: list[float] = []
        self.cpu_clock = CpuClock(spark.sparkContext._jvm.ProcessHandle.current().pid())
        self.reset()

    def reset(self):
        self.items, self.busy, self.cpu = 0, 0.0, 0.0
        self.op_wall: list[float] = []
        self.op_cpu: list[float] = []

    def setup_once(self, rep: int):
        raise NotImplementedError

    def setup(self):
        """Set up ``setup_reps`` times, keeping each time's wall and CPU
        seconds; the gated ``setup_s`` is the CPU median, for the same
        reason as ``metrics``."""
        for rep in range(self.setup_reps):
            c0, t0 = self.cpu_clock(), time.perf_counter()
            self.setup_once(rep)
            self.setup_wall.append(time.perf_counter() - t0)
            self.setup_cpu.append(self.cpu_clock() - c0)

    def warmup(self):
        self.step()

    def run(self, seconds: float) -> None:
        """Whole steps, at least one, until ``seconds`` have passed."""
        self.reset()
        t_end = time.perf_counter() + seconds
        self.step()
        while time.perf_counter() < t_end:
            self.step()

    def timed(self, span: str, fn, what: str):
        """(result or None, wall seconds, CPU seconds) of one operation."""
        with self.tr.span(span):
            c0 = self.cpu_clock()
            t0 = time.perf_counter()
            out = self.checks.guard(fn, what)
            wall = time.perf_counter() - t0
            cpu = self.cpu_clock() - c0
        self.busy += wall
        self.cpu += cpu
        return out, wall, cpu

    def metrics(self) -> dict:
        """The gated figures are CPU-based: on a 4-vCPU VM of a shared host,
        hypervisor steal moved wall-clock medians of the same run by up to 1.6x.  The
        per-operation figure is a mean: serve's queries are of three kinds,
        and a median of a few dozen such samples jumps between the kinds."""
        return {"cpu_ms_per_item": 1000 * self.cpu / self.items,
                "op_cpu_ms": 1000 * statistics.mean(self.op_cpu)}


def write_corpus(spark, inputs) -> None:
    (spark.createDataFrame(inputs.rows, "doc_id long, source string, text string")
     .coalesce(1).write.mode("overwrite").parquet(os.path.join(inputs.path, "documents.parquet")))


def dir_for(work: str, *parts) -> str:
    d = os.path.join(work, *map(str, parts))
    os.makedirs(d, exist_ok=True)
    return d


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest(Workload):
    """Rounds of the write sequence: insert, replay, update.  Each round
    writes to a tenant no earlier round used, so every round sees the same
    merges, into a store that keeps the earlier rounds' tenants."""

    name = "ingest"

    def setup_once(self, rep):
        self.batches = gen.gen_ingest(self.seed, dir_for(self.work, "ingest", rep))
        self.store = dir_for(self.work, "ingest_store")
        self.audit = dir_for(self.work, "ingest_audit")
        self.model = gen.StoreModel()
        self.round = 0
        self.replay = []

    def warmup(self):
        """One cold batch: most of the JVM's first-use cost."""
        b1 = self.batches[0]
        check_batch(self.checks, self.model, "warm", b1, run_batch_pipeline(
            self.spark, tenant_id="warm", state_dir=self.store, csv_path=b1.csv_path,
            hl7_path=b1.hl7_dir, audit_dir=self.audit, batch_time=BATCH_TIME))

    def step(self):
        tenant = f"r{self.round}"
        self.round += 1
        for batch in self.batches:
            res, wall, cpu = self.timed("op.ingest_batch", lambda: run_batch_pipeline(
                self.spark, tenant_id=tenant, state_dir=self.store, csv_path=batch.csv_path,
                hl7_path=batch.hl7_dir, audit_dir=self.audit, batch_time=BATCH_TIME), batch.name)
            if res is None:
                continue
            self.op_wall.append(wall)
            self.op_cpu.append(cpu)
            self.items += batch.n_valid
            if batch.name.endswith("replay"):
                self.replay.append(batch.n_valid / wall)
            check_batch(self.checks, self.model, tenant, batch, res)

    def report(self):
        return {"ingest_rows_per_s": (self.items / self.busy, "1/s"),
                "replay_rows_per_s": (statistics.median(self.replay), "1/s"),
                "batch_p50_ms": (1000 * statistics.median(self.op_wall), "ms"),
                "batches": (len(self.op_wall), "count")}

    def sweep(self):
        b1, _, b3 = self.batches
        lab = LabSweep(dir_for(self.work, "sweep_store"), self.audit, "s", b1, "s", b3, gen.StoreModel())
        return run_sweep(self.spark, self.tr, self.checks, lab, companion_corpus(self), self.seed)


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


def bulk_load(spark, store_dir: str, batches: dict):
    """Initial multi-tenant load through the write path's public stages
    (parse, DTO gate, FHIR gate, envelope, one merge); the per-call pipeline
    takes a single tenant.  One CSV scan reads every tenant's file; the
    tenant comes from the file's directory, ``bulk_<tenant>``."""
    dto = parse_labx_csv(spark, [b.csv_path for b in batches.values()]).withColumn(
        "tenantId", F.regexp_extract(F.input_file_name(), r"bulk_([^/]+)/labx\.csv$", 1))
    valid, _ = validate_dto(dto)
    fhir_valid, _ = validate_fhir(map_to_fhir(valid))
    env = build_normalized_envelope(fhir_valid.drop("fhir"), tenant_id=F.col("tenantId"),
                                    source=F.col("sourceSystem"), idempotency_key=F.col("ingestHash"))
    return ParquetStateStore(spark, store_dir).merge(env.select(*STORE_COLS), updated_at=BATCH_TIME)


class Serve(Workload):
    """One closed-loop client on a bulk-loaded store.  Reads are the first
    timeline page, the keyset next page and the latest value, for
    Zipf-skewed patients.  A step lands one micro-batch (every micro-batch
    has the same mix) and then issues QUERIES_PER_WRITE queries, so writes
    run beside reads and any whole number of steps measures the same mix."""

    name = "serve"

    def setup_once(self, rep):
        """Land every tenant's bulk CSV and load them all into a new store."""
        self.inputs = gen.ServeInputs(self.seed, dir_for(self.work, "serve", rep))
        bulk = {t: self.inputs.bulk(t) for t in self.inputs.tenants}
        self.store = dir_for(self.work, "serve_store", rep)
        n = bulk_load(self.spark, self.store, bulk).count()
        self.model = gen.StoreModel()
        for t, b in bulk.items():
            self.model.apply(t, b)
        self.checks.record(n == sum(len(v) for v in self.model.tenants.values()), f"bulk load rows {n}")
        self.obs = ParquetStateStore(self.spark, self.store).read()
        self.audit = dir_for(self.work, "serve_audit", rep)

    def warmup(self):
        """One micro-batch (the load above has no HL7, audit or count
        actions) and a few reads."""
        self.microbatch()
        for _ in range(3):
            self.queries()

    def reset(self):
        super().reset()
        self.mb_wall = []

    def step(self):
        self.microbatch()
        n = len(self.op_wall) + QUERIES_PER_WRITE
        while len(self.op_wall) < n:
            self.queries()

    def queries(self):
        c = self.inputs.client
        t = c.choice(self.inputs.tenants)
        p = self.inputs.draw_patient(c)
        timeline = self.model.timeline(t, p)
        code = c.choice(sorted({e.split(":")[1] for _, e, _ in timeline}))

        def query(name, fn):
            out, wall, cpu = self.timed(name, fn, name)
            self.op_wall.append(wall)
            self.op_cpu.append(cpu)
            self.items += 1
            return out

        page1 = query("op.query.page1", lambda: observations_by_patient(self.obs, t, p, limit=PAGE).collect())
        if page1 is not None:
            self.check_page(page1, timeline[:PAGE], f"page1 {t}/{p}")
            token = next_token_from_rows(page1, ["effectiveDateTime", "entityId"], PAGE)
            if token is not None:
                page2 = query("op.query.page2", lambda: observations_by_patient(
                    self.obs, t, p, limit=PAGE, token=token).collect())
                if page2 is not None:
                    self.check_page(page2, timeline[PAGE:2 * PAGE], f"page2 {t}/{p}")
        latest = query("op.query.latest", lambda: latest_observation(self.obs, t, p, code).collect())
        if latest is not None:
            want = self.model.latest(t, p, code)
            self.checks.record(len(latest) == 1 and latest[0].value == want,
                               f"latest {t}/{p}/{code}: {latest} vs {want}")

    def check_page(self, rows, want, what):
        got = [(r.entityId, r.value) for r in rows]
        self.checks.record(got == [(e, v) for _, e, v in want], f"{what}: {got[:2]} vs {want[:2]}")

    def microbatch(self):
        """Latency from the file landing to the batch's rows being visible."""

        def land():
            tenant, batch = self.inputs.next_microbatch()
            res = run_batch_pipeline(self.spark, tenant_id=tenant, state_dir=self.store,
                                     csv_path=batch.csv_path, hl7_path=batch.hl7_dir,
                                     audit_dir=self.audit, batch_time=BATCH_TIME)
            self.obs = ParquetStateStore(self.spark, self.store).read()
            probe = batch.obs[0]
            seen = latest_observation(self.obs, tenant, probe.patient, probe.code).collect()
            return tenant, batch, res, probe, seen

        out, wall, _ = self.timed("op.microbatch", land, "micro-batch")
        self.mb_wall.append(wall)
        if out is not None:
            tenant, batch, res, probe, seen = out
            check_batch(self.checks, self.model, tenant, batch, res)
            want = self.model.latest(tenant, probe.patient, probe.code)
            self.checks.record(len(seen) == 1 and seen[0].value == want, f"{batch.name} visible: {seen}")

    def report(self):
        q, p95 = self.op_wall, pct(self.op_wall, 95)
        return {"queries_per_s": (self.items / self.busy, "1/s"),
                "query_p50_ms": (1000 * statistics.median(q), "ms"),
                "query_p95_ms": (1000 * p95, "ms"),
                "query_samples": (len(q), "count"),
                "query_samples_above_p95": (sum(x > p95 for x in q), "count"),
                "microbatch_p50_s": (statistics.median(self.mb_wall), "s"),
                "microbatches": (len(self.mb_wall), "count")}

    def sweep(self):
        """The pipeline on the next micro-batch, the layers one by one on
        the one after it, both into the live store."""
        (t1, base), (t2, upd) = self.inputs.next_microbatch(), self.inputs.next_microbatch()
        lab = LabSweep(self.store, self.audit, t1, base, t2, upd, self.model)
        return run_sweep(self.spark, self.tr, self.checks, lab, companion_corpus(self), self.seed)


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


class Curate(Workload):
    """Repeated passes of the curation funnel (curation_e2e) over a parquet
    corpus with known exact-dup, near-dup, low-quality and eval shares."""

    name = "curate"

    def setup_once(self, rep):
        from etl_healthcare_spark.plans.registry import REGISTRY  # imports every plan module

        self.funnel = REGISTRY["curation_e2e"].fn
        self.inputs = gen.gen_curate(self.seed, dir_for(self.work, "curate", rep))
        write_corpus(self.spark, self.inputs)
        self.first = None

    def step(self):
        rows, wall, cpu = self.timed("op.curate_pass", lambda: self.funnel(self.spark, self.inputs.path).collect(),
                                "funnel")
        if rows is not None:
            self.op_wall.append(wall)
            self.op_cpu.append(cpu)
            self.items += len(self.inputs.rows)
            self.check_funnel({r.stage: r.n_docs for r in rows})

    def check_funnel(self, got):
        inp = self.inputs
        n_eval = sum(1 for _, s, _ in inp.rows if s == "src0")
        exact = {"raw": len(inp.rows), "eval_holdout": len(inp.rows) - n_eval,
                 "quality": len(inp.gate_kept), "exact_dedup": len(inp.exact_survivors)}
        ok = all(got.get(k) == v for k, v in exact.items())
        ok &= 0 <= got["exact_dedup"] - got["near_dedup"]
        ok &= 0 <= got["near_dedup"] - got["decontam"] <= len(inp.contaminated)
        self.first = self.first or got
        ok &= got == self.first  # the funnel repeats exactly across passes
        self.checks.record(ok, f"funnel {got} vs {exact}")

    def report(self):
        return {"curate_docs_per_s": (self.items / self.busy, "1/s"),
                "pass_p50_ms": (1000 * statistics.median(self.op_wall), "ms"),
                "passes": (len(self.op_wall), "count")}

    def sweep(self):
        b1, _, b3 = gen.gen_ingest(self.seed, dir_for(self.work, "sweep_lab"), COMPANION_LAB)
        lab = LabSweep(dir_for(self.work, "sweep_store"), dir_for(self.work, "sweep_audit"),
                       "s", b1, "s", b3, gen.StoreModel())
        return run_sweep(self.spark, self.tr, self.checks, lab, self.inputs, self.seed)


# the traced sweep feeds the layers a workload bypasses from small inputs
COMPANION_LAB = dict(gen.INGEST, csv_rows=600, hl7_msgs=6, patients=40)
COMPANION_CORPUS = dict(gen.CURATE, docs=600, eval_docs=30)


def companion_corpus(w):
    inputs = gen.gen_curate(w.seed, dir_for(w.work, "sweep_corpus"), COMPANION_CORPUS)
    write_corpus(w.spark, inputs)
    return inputs


WORKLOADS = {w.name: w for w in (Ingest, Serve, Curate)}
