"""Seeded input generator and ground-truth model for the benchmark.

Everything is drawn from one ``random.Random(seed)``: the same seed writes
byte-identical files.  The program under test only ever sees the files (and
the parquet corpus); the truth stays in memory here and the workloads check
the program's answers against it.

Lab data follows the pipeline's key rules: an observation's merge key is
(tenant, patientId, code, effectiveDateTime) and its idempotency key is the
sha256 of the CSV row or of the HL7 OBX segment, so a re-sent row counts as a
no-op only when its bytes are identical.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import os
import random
from dataclasses import dataclass

CODES = ["718-7", "8867-4", "2345-7", "2160-0", "6690-2", "789-8", "777-3", "2951-2"]
UNITS = {"718-7": "g/dL", "8867-4": "/min", "2345-7": "mg/dL", "2160-0": "mg/dL",
         "6690-2": "10*3/uL", "789-8": "10*6/uL", "777-3": "10*3/uL", "2951-2": "mmol/L"}
T0 = dt.datetime(2024, 1, 1)
MINUTES = 2 * 365 * 24 * 60
CSV_HEADER = "patientId,code,value,unit,effectiveDateTime\n"
OBX_PER_MSG = 4
# the three malformed-row shapes: each fails exactly one DTO rule
MALFORMED = ("value_not_finite", "patientId_empty", "effectiveDateTime_invalid")


def entity_id(patient: str, code: str, ts: dt.datetime) -> str:
    return f"{patient}:{code}:{ts:%Y-%m-%dT%H:%M:%SZ}"


@dataclass(frozen=True)
class Obs:
    """One valid observation as sent.  ``ident`` stands for its ingestHash:
    equal idents mean byte-identical payloads."""

    patient: str
    code: str
    ts: dt.datetime
    value: str
    ident: tuple

    @property
    def key(self):
        return (self.patient, self.code, self.ts)


@dataclass
class LabBatch:
    """One run_batch_pipeline call's inputs: a LabX CSV and a directory of
    one-message HL7v2 files, plus what the generator put in them."""

    name: str
    csv_path: str
    hl7_dir: str | None
    obs: list  # valid rows in send order, in-batch duplicates included
    n_invalid: int

    @property
    def n_valid(self) -> int:
        return len(self.obs)


class StoreModel:
    """Ground truth of the state store: key -> (ident, value, version) per
    tenant, updated with the pipeline's merge rules."""

    def __init__(self):
        self.tenants: dict[str, dict] = {}
        self._timeline: dict = {}

    def expected_merge(self, tenant: str, batch: LabBatch) -> dict:
        """Commit-log action counts the merge must report.  The log covers
        every row of the batch's tenant, so untouched rows count as noop."""
        state = self.tenants.get(tenant, {})
        seen = {}
        for o in batch.obs:
            seen[o.key] = o
        ins = sum(1 for k in seen if k not in state)
        upd = sum(1 for k, o in seen.items() if k in state and state[k][0] != o.ident)
        return {"insert": ins, "update": upd, "noop": len(set(state) | set(seen)) - ins - upd}

    def apply(self, tenant: str, batch: LabBatch) -> None:
        state = self.tenants.setdefault(tenant, {})
        for o in batch.obs:
            cur = state.get(o.key)
            if cur is None:
                state[o.key] = (o.ident, o.value, 1)
            elif cur[0] != o.ident:
                state[o.key] = (o.ident, o.value, cur[2] + 1)
        self._timeline.pop(tenant, None)

    def versions(self, tenant: str) -> dict:
        return {entity_id(*k): v[2] for k, v in self.tenants.get(tenant, {}).items()}

    def timeline(self, tenant: str, patient: str) -> list:
        """[(ts, entityId, value)] ascending — the order of the timeline query."""
        per = self._timeline.get(tenant)
        if per is None:
            per = {}
            for (p, c, ts), (_, value, _) in self.tenants.get(tenant, {}).items():
                per.setdefault(p, []).append((ts, entity_id(p, c, ts), float(value)))
            for rows in per.values():
                rows.sort()
            self._timeline[tenant] = per
        return per.get(patient, [])

    def latest(self, tenant: str, patient: str, code: str):
        rows = [(k[2], v[1]) for k, v in self.tenants.get(tenant, {}).items()
                if k[0] == patient and k[1] == code]
        return float(max(rows)[1]) if rows else None


class LabGen:
    """Writes LabX CSV files and HL7v2 message directories."""

    def __init__(self, rng: random.Random, patients: int):
        self.rng = rng
        self.patients = [f"p{i:05d}" for i in range(patients)]
        self.used: set = set()
        self.msg_seq = itertools.count()

    def fresh_obs(self, patient: str | None = None) -> tuple:
        """A (patient, code, ts) key no earlier batch of this generator used."""
        while True:
            p = patient or self.rng.choice(self.patients)
            key = (p, self.rng.choice(CODES), T0 + dt.timedelta(minutes=self.rng.randrange(MINUTES)))
            if key not in self.used:
                self.used.add(key)
                return key

    def value(self) -> str:
        return f"{self.rng.uniform(1, 250):.2f}"

    @staticmethod
    def csv_line(p: str, c: str, ts: dt.datetime, v: str) -> str:
        return f"{p},{c},{v},{UNITS[c]},{ts:%Y-%m-%dT%H:%M:%SZ}"

    def csv_obs(self, key: tuple, value: str) -> tuple[Obs, str]:
        line = self.csv_line(*key, value)
        return Obs(*key, value, ("csv", line)), line

    def malformed_line(self, kind: str) -> str:
        p, c, ts = self.fresh_obs()
        if kind == "value_not_finite":
            return self.csv_line(p, c, ts, "n/a")
        if kind == "patientId_empty":
            return self.csv_line("", c, ts, self.value())
        return f"{p},{c},{self.value()},{UNITS[c]},not-a-date"

    def write_batch(
        self,
        out_dir: str,
        name: str,
        csv_rows: list,  # [(key, value)] valid CSV rows
        hl7_msgs: int = 0,
        malformed: int = 0,
        dup_rows: int = 0,
        csv_lines: list | None = None,  # byte-identical re-sends [(Obs, line)]
    ) -> LabBatch:
        """Write one batch.  Malformed rows and in-batch duplicates (exact
        copies of valid CSV lines, as at-least-once delivery makes them) are
        shuffled in with the valid rows."""
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        rows = [self.csv_obs(k, v) for k, v in csv_rows] + list(csv_lines or [])
        rows += [self.rng.choice(rows) for _ in range(dup_rows)] if rows else []
        lines = [line for _, line in rows]
        lines += [self.malformed_line(MALFORMED[i % len(MALFORMED)]) for i in range(malformed)]
        order = list(range(len(lines)))
        self.rng.shuffle(order)
        with open(os.path.join(d, "labx.csv"), "w", newline="") as f:
            f.write(CSV_HEADER)
            f.writelines(lines[i] + "\n" for i in order)
        obs = [o for o, _ in rows]
        hl7_dir = None
        if hl7_msgs:
            hl7_dir = os.path.join(d, "hl7")
            os.makedirs(hl7_dir, exist_ok=True)
            for _ in range(hl7_msgs):
                m = next(self.msg_seq)
                p = self.rng.choice(self.patients)
                segs = [
                    f"MSH|^~\\&|LAB|HOSP|ETL|PIPE|20250101000000||ORU^R01|MSG{m:07d}|P|2.5",
                    f"PID|1||{p}^^^HOSP^MR||DOE^PAT",
                    f"OBR|1|||PANEL^Panel^LN||20250101000000",
                ]
                for j in range(OBX_PER_MSG):
                    _, c, ts = self.fresh_obs(p)
                    v = self.value()
                    seg = f"OBX|{j + 1}|NM|{c}^Obs^LN||{v}|{UNITS[c]}|1-250|N|||F|||{ts:%Y%m%d%H%M%S}"
                    segs.append(seg)
                    obs.append(Obs(p, c, ts, v, ("hl7", seg)))
                with open(os.path.join(hl7_dir, f"m{m:07d}.hl7"), "w", newline="") as f:
                    f.write("\r".join(segs) + "\r")
        return LabBatch(name, os.path.join(d, "labx.csv"), hl7_dir, obs, malformed)


# ---------------------------------------------------------------------------
# ingest: the bulk write sequence
# ---------------------------------------------------------------------------

INGEST = dict(csv_rows=3000, hl7_msgs=30, malformed_share=0.05,
              dup_share=0.03, changed_share=0.4, identical_share=0.1, patients=200)


def gen_ingest(seed: int, out_dir: str, p: dict = INGEST) -> list:
    """One round of the write sequence, all for one tenant: an insert, its
    byte-identical replay, then an update."""
    rng = random.Random(seed)
    g = LabGen(rng, p["patients"])
    n = p["csv_rows"]
    mal, dup = int(n * p["malformed_share"]), int(n * p["dup_share"])

    def fresh(k):
        return [(g.fresh_obs(), g.value()) for _ in range(k)]

    b1 = g.write_batch(out_dir, "b1_insert", fresh(n), p["hl7_msgs"], mal, dup)
    # the replay re-sends b1's files unchanged (same paths, same bytes)
    replay = LabBatch("b2_replay", b1.csv_path, b1.hl7_dir, b1.obs, b1.n_invalid)
    # update: re-send a share of b1's CSV keys with changed values, a share
    # byte-identical (noop), the rest fresh keys
    b1_csv = list({o.key: o for o in b1.obs if o.ident[0] == "csv"}.values())
    rng.shuffle(b1_csv)
    n_chg, n_same = int(n * p["changed_share"]), int(n * p["identical_share"])
    changed = [(o.key, _other_value(g, o.value)) for o in b1_csv[:n_chg]]
    same = [(o, o.ident[1]) for o in b1_csv[n_chg:n_chg + n_same]]
    b3 = g.write_batch(out_dir, "b3_update", changed + fresh(n - n_chg - n_same),
                       p["hl7_msgs"], mal, dup, csv_lines=same)
    return [b1, replay, b3]


def _other_value(g: LabGen, v: str) -> str:
    while True:
        w = g.value()
        if w != v:
            return w


# ---------------------------------------------------------------------------
# serve: a bulk-loaded store, Zipf-skewed readers, micro-batches
# ---------------------------------------------------------------------------

SERVE = dict(tenants=4, patients=200, obs_per_patient=12, zipf_s=1.1, microbatch_rows=150,
             hl7_msgs=5, malformed_share=0.05, dup_share=0.03)


class ServeInputs:
    """The serve workload's inputs, written on demand: each tenant's bulk
    load, loaded at set-up, then micro-batches, whose landing is part of the
    micro-batch latency.  Readers and writers share one Zipf popularity
    order, so the hot patients are also the ones whose values change."""

    def __init__(self, seed: int, out_dir: str, p: dict = SERVE):
        self.p, self.out_dir = p, out_dir
        self.rng = random.Random(seed)
        self.client = random.Random(seed + 1)  # the reader's draws
        self.gen = LabGen(self.rng, p["patients"])
        self.tenants = [f"t{i}" for i in range(p["tenants"])]
        self.current = {t: {} for t in self.tenants}  # tenant -> patient -> {key: Obs}, live values
        self.hot = list(self.gen.patients)
        self.rng.shuffle(self.hot)
        w = list(itertools.accumulate(1.0 / (i + 1) ** p["zipf_s"] for i in range(len(self.hot))))
        self.zipf_cdf = [x / w[-1] for x in w]
        self.n_micro = 0

    def bulk(self, t: str) -> LabBatch:
        """Tenant ``t``'s initial load: obs_per_patient CSV rows per patient."""
        rows = [(self.gen.fresh_obs(pt), self.gen.value())
                for pt in self.gen.patients for _ in range(self.p["obs_per_patient"])]
        b = self.gen.write_batch(self.out_dir, f"bulk_{t}", rows)
        self._track(t, b)
        return b

    def _track(self, t: str, b: LabBatch) -> None:
        for o in b.obs:
            self.current[t].setdefault(o.patient, {})[o.key] = o

    def draw_patient(self, rng: random.Random) -> str:
        return self.hot[min(bisect.bisect(self.zipf_cdf, rng.random()), len(self.hot) - 1)]

    def next_microbatch(self) -> tuple:
        """(tenant, LabBatch) — tenants take turns.  Every micro-batch has the
        same mix, the ingest sequence in small: fresh keys, changed values of
        hot patients' keys, byte-identical re-sends of live rows (no-ops),
        HL7 messages, malformed rows and in-batch duplicates."""
        p = self.p
        t = self.tenants[self.n_micro % len(self.tenants)]
        n = p["microbatch_rows"]
        share = n // 3
        chosen = {}
        while len(chosen) < 2 * share:
            o = self.rng.choice(list(self.current[t][self.draw_patient(self.rng)].values()))
            chosen[o.key] = o
        picked = list(chosen.values())
        changed = [(o.key, _other_value(self.gen, o.value)) for o in picked[:share]]
        # a re-send is byte-identical only for a row whose live copy came from a CSV line
        same = [(o, o.ident[1]) for o in picked[share:] if o.ident[0] == "csv"]
        fresh = [(self.gen.fresh_obs(self.draw_patient(self.rng)), self.gen.value())
                 for _ in range(n - len(changed) - len(same))]
        b = self.gen.write_batch(self.out_dir, f"mb{self.n_micro:04d}_{t}", changed + fresh,
                                 p["hl7_msgs"], malformed=int(n * p["malformed_share"]),
                                 dup_rows=int(n * p["dup_share"]), csv_lines=same)
        self.n_micro += 1
        self._track(t, b)
        return t, b


# ---------------------------------------------------------------------------
# curate: an alphabetic corpus with known duplicate / quality / eval shares
# ---------------------------------------------------------------------------

CURATE = dict(docs=1500, eval_docs=120, vocab=4000, zipf_s=1.0, exact_dup_share=0.10,
              near_dup_share=0.10, low_quality_share=0.08, contaminated_share=0.04,
              min_words=40, max_words=120)


@dataclass
class CurateInputs:
    path: str  # directory holding documents.parquet
    rows: list  # (doc_id, source, text); source 'src0' is the eval set
    gate_kept: set
    exact_survivors: set  # gate-kept ids left after exact dedup (min id keeps)
    families: dict  # near-dup base id -> variant ids
    contaminated: set

    @property
    def true_pairs(self) -> set:
        out = set()
        for base, variants in self.families.items():
            members = sorted([base, *variants])
            out.update(itertools.combinations(members, 2))
        return out


def gen_curate(seed: int, out_dir: str, p: dict = CURATE) -> CurateInputs:
    """Corpus rows in id order, so a duplicate's id is always above its
    original's and the min-id keeper is the original."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
                    for _ in range(p["vocab"] * 2)})[: p["vocab"]]
    rng.shuffle(vocab)
    cum = list(itertools.accumulate(1.0 / (i + 1) ** p["zipf_s"] for i in range(len(vocab))))

    def words(k):
        return rng.choices(vocab, cum_weights=cum, k=k)

    def body():
        return words(rng.randint(p["min_words"], p["max_words"]))

    rows, gate_kept, families, contaminated = [], set(), {}, set()
    ev = [" ".join(body()) for _ in range(p["eval_docs"])]
    rows += [(i, "src0", t) for i, t in enumerate(ev)]
    n = p["docs"]
    kinds = (["exact"] * int(n * p["exact_dup_share"]) + ["near"] * int(n * p["near_dup_share"])
             + ["low"] * int(n * p["low_quality_share"]) + ["contam"] * int(n * p["contaminated_share"]))
    tail = kinds + ["base"] * (n - len(kinds) - n // 10)
    rng.shuffle(tail)
    kinds = ["base"] * (n // 10) + tail  # originals lead, so every copy has a source
    originals = []  # (id, words) of base documents
    # each contaminated doc copies its own eval doc, so no two are near dups
    eval_pool = rng.sample(ev, kinds.count("contam"))
    for j, kind in enumerate(kinds):
        doc_id = p["eval_docs"] + j
        if kind == "low":
            if rng.random() < 0.5:
                text = " ".join(words(rng.randint(4, 15)))  # too_short
            else:  # low_alpha: digit-heavy tokens
                text = " ".join(str(rng.randrange(10 ** 5, 10 ** 7)) for _ in range(rng.randint(30, 60)))
        else:
            gate_kept.add(doc_id)
            if kind == "exact":
                text = " ".join(rng.choice(originals)[1])
            elif kind == "near":
                oid, w = rng.choice(originals)
                w = list(w)
                for pos in rng.sample(range(len(w)), rng.randint(1, 3)):
                    w[pos] = rng.choice(vocab)
                text = " ".join(w)
                families.setdefault(oid, []).append(doc_id)
            elif kind == "contam":
                text = eval_pool.pop() + " " + " ".join(words(8))
                contaminated.add(doc_id)
            else:
                w = body()
                text = " ".join(w)
                originals.append((doc_id, w))
        rows.append((doc_id, f"src{1 + j % 3}", text))
    # exact-dedup keeps the min id per distinct text among gate-kept docs
    first_by_text = {}
    for doc_id, src, text in rows:
        if doc_id in gate_kept:
            first_by_text.setdefault(text, doc_id)
    exact_surv = set(first_by_text.values())
    os.makedirs(out_dir, exist_ok=True)
    return CurateInputs(out_dir, rows, gate_kept, exact_surv, families, contaminated)
