"""U1-U4: the idempotent versioned state store (the DynamoDB table, rebuilt).

Reference semantics (services/persist/handler.ts:20-80):

* key = (tenant, entityType, entityId)  (PK/SK string templates, handler.ts:20-26;
  in this engine keys are real columns — partition/sort layout replaces the
  GSI key strings, SURVEY §2.6 U4)
* conditional upsert: write only if ``attribute_not_exists(idempotencyKey) OR
  idempotencyKey <> :idk`` (handler.ts:53) — a same-key retry is a no-op
* version = ``if_not_exists(version, 0) + 1`` on every effective write
  (handler.ts:51)
* commit-log emission of what was written (handler.ts:83-110, U3)

Spark-first: MERGE semantics as a full-outer join between current state and
the (deduplicated, U2) batch.  On disk the store is parquet partitioned by
``tenantId``, one directory per tenant commit; a merge reads and writes only
the tenants that appear in the batch and publishes them with one atomic
pointer flip, which is the scale story: merging a tenant's micro-batch into a
100 TB store touches only that tenant's files, and a crash at any point
leaves the previous version whole.  With Delta available this maps 1:1 onto
``MERGE INTO`` — the parquet fallback is self-contained here (SURVEY §7.3).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.materialize import cut_lineage

MERGE_KEYS = ["tenantId", "entityType", "entityId"]
ACTION_COL = "_action"  # insert | update | noop


def dedup_batch(
    batch: DataFrame,
    order_col: str | list[str] = "effectiveDateTime",
    keys: list[str] | None = None,
) -> DataFrame:
    """U2: within-batch dedup — last record per key wins, mirroring the
    sequential overwrite order of the reference's per-record loop under
    at-least-once delivery (SQS maxReceiveCount redelivery).  Pass several
    order columns to make the pick deterministic under timestamp ties."""
    keys = keys or MERGE_KEYS
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in order_cols])
    return batch.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def merge_frames(state: DataFrame, batch: DataFrame, updated_at, keys: list[str] | None = None) -> DataFrame:
    """U1 as a pure DataFrame transform: returns the new state with an
    ``_action`` column (insert/update/noop) for commit-log emission (U3).

    ``state`` must carry ``version`` and ``updatedAt``; ``batch`` must carry
    the same value columns as state minus those two.
    """
    keys = keys or MERGE_KEYS
    value_cols = [c for c in batch.columns if c not in keys]
    s = state.select(*keys, F.struct(*[c for c in state.columns if c not in keys]).alias("_s"))
    b = batch.select(*keys, F.struct(*value_cols).alias("_b"))
    j = s.join(b, keys, "full_outer")

    s_ = lambda c: F.col(f"_s.{c}")  # noqa: E731
    b_ = lambda c: F.col(f"_b.{c}")  # noqa: E731
    has_s = F.col("_s").isNotNull()
    has_b = F.col("_b").isNotNull()
    # the reference's ConditionExpression (handler.ts:53)
    effective_write = has_b & (~has_s | (s_("idempotencyKey") != b_("idempotencyKey")))

    out_cols = [F.col(k) for k in keys]
    for c in value_cols:
        out_cols.append(F.when(effective_write, b_(c)).otherwise(s_(c)).alias(c))
    out_cols.append(
        F.when(~has_s, F.lit(1))
        .when(effective_write, s_("version") + F.lit(1))
        .otherwise(s_("version"))
        .cast("long")
        .alias("version")
    )
    out_cols.append(F.when(effective_write, F.lit(updated_at)).otherwise(s_("updatedAt")).alias("updatedAt"))
    out_cols.append(
        F.when(~has_s, F.lit("insert"))
        .when(effective_write, F.lit("update"))
        .otherwise(F.lit("noop"))
        .alias(ACTION_COL)
    )
    return j.select(*out_cols)


class ParquetStateStore:
    """The serving store on parquet: per-tenant commits behind an atomic
    version pointer — the native stand-in for a Delta/Iceberg table.

    Layout::

        <path>/tenantId=<t>/commit=<n>/*.parquet   tenant t's rows as commit n wrote them
        <path>/_manifest/<n>.json                  version n: each tenant's live commit
        <path>/_current                            the live version number

    Commit n writes only the tenants it touches, into new ``commit=n``
    directories, then writes manifest n (version n-1's map with those tenants
    repointed and emptied ones dropped) and flips the pointer via write-temp +
    ``os.replace`` (atomic on POSIX).  A reader resolves the pointer once per
    ``read()``, so it sees one whole version, never a mix; a crash before the
    flip leaves only unreferenced ``commit=n`` directories, which the next
    attempt at n removes.  Other tenants' files are never rewritten, and old
    versions stay readable (``read(version=)``, ``diff``) until ``vacuum``.

    GSI2's (patient, time) timeline becomes an in-file sort
    (``sortWithinPartitions``) so parquet min/max stats give data skipping on
    patient/time predicates — the Spark analog of the reference's timeline
    index (SURVEY §4).
    """

    POINTER = "_current"
    MANIFESTS = "_manifest"

    def __init__(self, spark, path: str, keys: list[str] | None = None):
        self.spark = spark
        self.path = path
        self.keys = keys or MERGE_KEYS

    def current_version(self) -> int:
        """0 = uninitialized; the pointer file holds the live version."""
        pointer = os.path.join(self.path, self.POINTER)
        try:
            with open(pointer) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0
        except ValueError as e:
            raise RuntimeError(f"corrupt version pointer at {pointer}") from e

    def _manifest(self, version: int) -> dict:
        try:
            with open(os.path.join(self.path, self.MANIFESTS, f"{version}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(f"no version {version} at {self.path}") from None

    def _replace(self, name: str, text: str) -> None:
        """Write ``name`` under the store atomically: write-temp + os.replace."""
        target = os.path.join(self.path, name)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(target), prefix=".tmp.")
        with os.fdopen(fd, "w") as f:
            f.write(text)
        os.replace(tmp, target)

    def exists(self) -> bool:
        """True iff a committed store exists at ``path`` — a filesystem check,
        no Spark job.

        Only genuine absence maps to False: no directory, or one holding
        nothing but hidden entries and the commit directories of a first
        commit that crashed before its pointer flip.  Anything else — a
        corrupt pointer, a missing manifest, foreign files, a store in another
        layout — RAISES: treating a damaged store as "absent" would make the
        next merge silently re-initialize (and so destroy) it."""
        version = self.current_version()
        if version:
            self._manifest(version)
            return True
        if not os.path.isdir(self.path):
            return False
        for entry in os.listdir(self.path):
            d = os.path.join(self.path, entry)
            if entry.startswith(("_", ".")) or (
                entry.startswith("tenantId=")
                and os.path.isdir(d)
                and all(re.fullmatch(r"commit=\d+", c) for c in os.listdir(d))
            ):
                continue
            raise RuntimeError(f"{d} is not part of a state store")
        return False

    def read(self, version: int | None = None) -> DataFrame:
        """The store as of ``version``, by default the live one."""
        m = self._manifest(self.current_version() if version is None else version)
        if not m["tenants"]:
            return self.spark.createDataFrame([], StructType.fromJson(m["schema"]))
        paths = [os.path.join(self.path, d) for d in m["tenants"].values()]
        return self.spark.read.option("basePath", self.path).parquet(*paths).drop("commit")

    def versions(self) -> list[int]:
        """The committed versions still on disk, oldest first."""
        d = os.path.join(self.path, self.MANIFESTS)
        if not os.path.isdir(d):
            return []
        live = self.current_version()
        found = (re.fullmatch(r"(\d+)\.json", f) for f in os.listdir(d))
        return sorted(v for v in (int(m.group(1)) for m in found if m) if v <= live)

    def _commit(self, rows: DataFrame, touched: Observation | None = None) -> None:
        """Publish ``rows`` as version n = live + 1: write them as commit n of
        their tenants, then manifest n — the live map without the ``touched``
        tenants (an Observation of their ``tenants`` set; default: the
        written ones), each written tenant at commit n — then flip the
        pointer.  The written tenant set is observed on the write itself."""
        n = self.current_version() + 1
        tenants = self._manifest(n - 1)["tenants"] if n > 1 else {}
        # the pointer is below n, so only a crashed attempt at n can have
        # left these; its half-written task output must not merge into ours
        shutil.rmtree(os.path.join(self.path, "_temporary"), ignore_errors=True)
        for d in glob.glob(os.path.join(glob.escape(self.path), "tenantId=*", f"commit={n}")):
            shutil.rmtree(d)
        written = Observation()
        (
            rows.withColumn("commit", F.lit(n))
            .repartition("tenantId")
            .sortWithinPartitions("patientId", "effectiveDateTime")
            # at the top of the plan: an observation below an operator that
            # AQE replaces with an empty relation never reports
            .observe(written, F.collect_set("tenantId").alias("tenants"))
            .write.mode("append")
            .partitionBy("tenantId", "commit")
            .parquet(self.path)
        )
        escape = self.spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
        for t in (touched or written).get["tenants"]:
            tenants.pop(t, None)
        for t in written.get["tenants"]:
            tenants[t] = f"tenantId={escape(t)}/commit={n}"
        self._replace(
            f"{self.MANIFESTS}/{n}.json",
            json.dumps({"schema": rows.schema.jsonValue(), "tenants": tenants}),
        )
        self._replace(self.POINTER, str(n))

    def merge(self, batch: DataFrame, updated_at, order_col: str = "effectiveDateTime") -> DataFrame:
        """U1+U2+U3: dedup the batch, merge it into the state of the batch's
        tenants and commit those as the next version; returns the commit log
        (etl.persisted.v1 analog: key cols + version + action), which covers
        every row of those tenants."""
        batch = dedup_batch(batch, order_col=order_col, keys=self.keys)
        if self.exists():
            # prune the state scan to the batch's tenants via a BROADCAST
            # SEMI-JOIN on the partition column — dynamic partition pruning
            # reuses the broadcast to skip non-batch tenant directories at the
            # scan, with no driver-side collect, at any tenant cardinality
            tenant_ids = F.broadcast(batch.select("tenantId").distinct())
            state = self.read().join(tenant_ids, "tenantId", "left_semi")
        else:
            state = (
                self.spark.createDataFrame([], batch.schema)
                .withColumn("version", F.lit(1).cast("long"))
                .withColumn("updatedAt", F.lit(updated_at).cast("timestamp"))
            )
        # eager, so the write and the returned log come from ONE evaluation and
        # agree even where dedup_batch breaks a timestamp tie arbitrarily
        merged = merge_frames(state, batch, updated_at, keys=self.keys).transform(cut_lineage)
        self._commit(merged.drop(ACTION_COL))
        return merged.select(*self.keys, "version", F.col(ACTION_COL).alias("action"))

    def delete_subjects(self, subjects: DataFrame) -> DataFrame:
        """Targeted right-to-be-forgotten delete: remove every row whose
        (tenantId, patientId) appears in ``subjects``, rewriting ONLY the
        tenants the delete set touches — the same commit as merge(), so a
        delete for one tenant never rewrites (or even reads) the others at
        any store size.  A tenant left with no rows drops out of the
        manifest, and ``vacuum(keep_last=1)`` then removes every older
        version, so no retained version still holds a deleted row.

        The anti-join is the Delta/Iceberg `DELETE WHERE` shape expressed
        natively: broadcast the (small) subject set, keep non-matching rows.
        Returns the tombstone ledger (tenantId, patientId, n_deleted) — the
        auditable record a GDPR pipeline must emit; a subject with no rows
        reports n_deleted = 0 (proof of absence, not silence)."""
        subj = F.broadcast(subjects.select("tenantId", "patientId").distinct())
        tenants = F.broadcast(subj.select("tenantId").distinct())
        state = self.read().join(tenants, "tenantId", "left_semi")
        touched = Observation()
        # materialized now: the vacuum below removes the files it reads
        ledger = (
            subj.join(
                state.groupBy("tenantId", "patientId").agg(F.count(F.lit(1)).alias("n_deleted")),
                ["tenantId", "patientId"],
                "left",
            )
            .select("tenantId", "patientId", F.coalesce("n_deleted", F.lit(0)).alias("n_deleted"))
            .observe(touched, F.collect_set(F.when(F.col("n_deleted") > 0, F.col("tenantId"))).alias("tenants"))
            .transform(cut_lineage)
        )
        self._commit(state.join(subj, ["tenantId", "patientId"], "left_anti"), touched)
        self.vacuum(keep_last=1)
        return ledger

    def diff(self, v_old: int, v_new: int) -> DataFrame:
        """Version DIFF — what changed between two committed versions, as a
        key-grained change set: action in {added, deleted, version_bumped}.
        The lakehouse table_changes()/CDF read expressed natively: one
        full-outer join of the two versions on the merge keys (both sides
        partitioned identically on tenantId, so at scale the join
        co-partitions), comparing the row version.

        Commit directories never mutate, so the diff is reproducible for as
        long as both versions are retained — the audit answer to "what did
        batch N actually do", computable long after the fact without a
        commit log."""
        old, new = self.read(v_old), self.read(v_new)
        o = old.select(*self.keys, F.col("version").alias("__vo"))
        n = new.select(*self.keys, F.col("version").alias("__vn"))
        j = o.join(n, self.keys, "full_outer")
        action = (
            F.when(F.col("__vo").isNull(), F.lit("added"))
            .when(F.col("__vn").isNull(), F.lit("deleted"))
            .when(F.col("__vn") != F.col("__vo"), F.lit("version_bumped"))
            .otherwise(F.lit("unchanged"))
        )
        return (
            j.select(*self.keys, F.col("__vo").alias("version_old"),
                     F.col("__vn").alias("version_new"), action.alias("action"))
            .where(F.col("action") != "unchanged")
        )

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop the versions older than the newest ``keep_last`` (never the
        live one) and every commit directory only they reference.  Returns
        the dropped version numbers."""
        versions = self.versions()
        drop = versions[:-keep_last] if keep_last > 0 else []
        dirs = lambda vs: {d for v in vs for d in self._manifest(v)["tenants"].values()}  # noqa: E731
        for d in dirs(drop) - dirs(v for v in versions if v not in drop):
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
            with contextlib.suppress(OSError):  # the tenant's last commit: drop its directory too
                os.rmdir(os.path.dirname(os.path.join(self.path, d)))
        # manifests last: a vacuum cut short leaves them for the next to finish
        for v in drop:
            os.remove(os.path.join(self.path, self.MANIFESTS, f"{v}.json"))
        return drop


def compact_small_files(
    spark,
    path: str,
    target_rows_per_file: int,
    partition_col: str | None = None,
    sort_cols: list[str] | None = None,
) -> dict:
    """Lake maintenance: rewrite a parquet dataset into ~target-sized files.

    Small-files buildup is the classic failure mode of micro-batch sinks
    (every trigger appends a file per partition; a year of 5-second triggers
    is millions of tiny files whose open/footer cost dominates scans).
    Compaction = one read, one repartition to ceil(rows/target) even chunks
    (hash on a synthetic uniform key — never a key column, which would skew
    chunk sizes), optional in-file sort to restore min/max-stat data
    skipping, one atomic-ish overwrite.  Returns {files_before, files_after,
    rows} so callers can log the effect; at 100 TB this runs per partition
    (pass partition_col) so each rewrite touches one partition's files.
    """
    import math

    df = spark.read.parquet(path)
    rows = df.count()
    files_before = len(df.inputFiles())
    n_files = max(1, math.ceil(rows / max(1, target_rows_per_file)))
    out = df.repartition(n_files, F.sha2(F.concat_ws("\x00", *[F.col(c).cast("string") for c in df.columns]), 256))
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    # write-then-swap: parquet cannot atomically overwrite the directory it
    # is being read from, so the rewrite lands beside it and replaces it only
    # after fully committing — a crash mid-compaction leaves the original
    writer.parquet(path + ".compact_tmp")
    shutil.rmtree(path)
    shutil.move(path + ".compact_tmp", path)
    files_after = len(spark.read.parquet(path).inputFiles())
    return {"files_before": files_before, "files_after": files_after, "rows": rows}


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str,
    op_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Apply a CDC change stream (I/U/D ops with sequence numbers) to a base
    snapshot — the lakehouse ``MERGE ... WHEN MATCHED DELETE/UPDATE WHEN NOT
    MATCHED INSERT`` semantic, as pure DataFrame ops.

    Latest-op-per-key is the two-phase hash argmax on ``seq_col``
    (operators/argmax.py) — the previous MAX over (seq, op, payload...)
    structs had a non-UnsafeRow-mutable buffer and silently planned
    SORTAGGREGATE over the change stream (the SCALE.md §48 super-linear
    class).  ``seq_col`` must TOTALLY order each key's changes — the
    standard CDC LSN/commit-sequence contract; a duplicated (key, seq)
    pair is upstream log corruption and surfaces as a duplicated output
    key rather than an arbitrary pick.  NULL handling (the argmax NULL
    contract, operators/argmax.py): a NULL ``seq_col`` loses to any
    non-NULL sequence (treated as oldest); a key whose changes are ALL
    NULL-sequenced keeps its change rows (surfacing as duplicates if >1,
    like corrupt duplicated sequences); a NULL change key forms its own
    key group rather than being silently dropped.  The apply is ONE key-grained
    full-outer join, hinted shuffle-hash so neither the snapshot nor the
    resolved batch is sorted.  Keys without changes pass through; 'D' keys
    drop; 'I'/'U' keys take the latest payload.  At 100 TB the base side
    stays partition-pruned exactly like ParquetStateStore.merge (only
    touched partitions rewrite); this function is the resolution kernel of
    that write path.
    """
    from .argmax import argmax_rows

    latest = argmax_rows(
        changes.select(key, seq_col, op_col, *payload_cols), [key], [seq_col]
    ).select(
        F.col(key).alias("__k"),
        F.col(op_col).alias("__op"),
        *[F.col(c).alias(f"__ch_{c}") for c in payload_cols],
    )
    j = base.join(
        latest.hint("shuffle_hash"), F.col(key) == F.col("__k"), "full_outer"
    )
    no_change = F.col("__k").isNull()
    out_cols = [
        F.when(no_change, F.col(c)).otherwise(F.col(f"__ch_{c}")).alias(c)
        for c in payload_cols
    ]
    return (
        j.where(no_change | (F.col("__op") != F.lit("D")))
        .select(F.coalesce(F.col(key), F.col("__k")).alias(key), *out_cols)
    )
