"""U1-U3 state store — parity with the reference's idempotency/versioning
runbook checks (docs/VALIDATION.md:198-215 same-key resend => version not
bumped; :444-461 changed-key rewrite => version+1)."""

import datetime as dt

from pyspark.sql import functions as F

from etl_healthcare_spark.operators.persist import ParquetStateStore, dedup_batch

SCHEMA = (
    "tenantId string, entityType string, entityId string, patientId string,"
    "effectiveDateTime timestamp, value double, idempotencyKey string"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _row(entity="e1", value=1.0, idk="k1", tenant="t1", ts=dt.datetime(2025, 1, 1)):
    return (tenant, "observation", entity, "p1", ts, value, idk)


def test_merge_insert_then_idempotent_retry(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    t0 = dt.datetime(2025, 1, 1)

    log1 = store.merge(_batch(spark, [_row(value=1.0, idk="k1")]), updated_at=t0)
    assert [(r.action, r.version) for r in log1.collect()] == [("insert", 1)]

    # same idempotencyKey resent => no-op, version stays 1 (VALIDATION.md:198-215)
    log2 = store.merge(_batch(spark, [_row(value=99.0, idk="k1")]), updated_at=t0)
    assert [(r.action, r.version) for r in log2.collect()] == [("noop", 1)]
    state = store.read().collect()
    assert len(state) == 1 and state[0].value == 1.0 and state[0].version == 1

    # changed idempotencyKey => update, version+1 (VALIDATION.md:444-461)
    log3 = store.merge(_batch(spark, [_row(value=7.0, idk="k2")]), updated_at=t0)
    assert [(r.action, r.version) for r in log3.collect()] == [("update", 2)]
    state = store.read().collect()
    assert len(state) == 1 and state[0].value == 7.0 and state[0].version == 2


def test_merge_only_rewrites_batch_tenants(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    t0 = dt.datetime(2025, 1, 1)
    store.merge(
        _batch(spark, [_row(tenant="t1", idk="k1"), _row(tenant="t2", idk="k1")]), updated_at=t0
    )
    # merging a t1-only batch must leave t2 untouched
    store.merge(_batch(spark, [_row(tenant="t1", value=5.0, idk="k9")]), updated_at=t0)
    state = {(r.tenantId): (r.value, r.version) for r in store.read().collect()}
    assert state["t1"] == (5.0, 2)
    assert state["t2"] == (1.0, 1)


def test_within_batch_dedup_last_wins(spark, tmp_path):
    b = _batch(
        spark,
        [
            _row(value=1.0, idk="k1", ts=dt.datetime(2025, 1, 1)),
            _row(value=2.0, idk="k2", ts=dt.datetime(2025, 1, 2)),
        ],
    )
    out = dedup_batch(b).collect()
    assert len(out) == 1 and out[0].value == 2.0 and out[0].idempotencyKey == "k2"

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = store.merge(b, updated_at=dt.datetime(2025, 1, 3))
    assert [(r.action, r.version) for r in log.collect()] == [("insert", 1)]
    assert store.read().collect()[0].value == 2.0


def test_exists_raises_on_corrupt_store_instead_of_reinitializing(spark, tmp_path):
    """A store with a corrupt file must RAISE from exists()/merge(), never
    read as 'absent' — the absent path re-initializes (destroys) the store."""
    import pytest

    store_dir = tmp_path / "state"
    store_dir.mkdir()
    (store_dir / "part-00000.parquet").write_bytes(b"definitely not parquet bytes")
    store = ParquetStateStore(spark, str(store_dir))
    with pytest.raises(Exception) as ei:
        store.exists()
    assert "AnalysisException" not in type(ei.value).__name__  # bubbled raw, not swallowed
    # absent and empty still read as uninitialized
    assert ParquetStateStore(spark, str(tmp_path / "never_written")).exists() is False
    empty = tmp_path / "empty"
    empty.mkdir()
    assert ParquetStateStore(spark, str(empty)).exists() is False
    # stores in the earlier layouts (one overwritten directory per tenant; a
    # pointer to whole-table snapshot directories) raise too
    legacy = tmp_path / "legacy"
    (legacy / "tenantId=t1").mkdir(parents=True)
    (legacy / "tenantId=t1" / "part-00000.parquet").write_bytes(b"PAR1")
    with pytest.raises(RuntimeError):
        ParquetStateStore(spark, str(legacy)).exists()
    snap = tmp_path / "snap"
    (snap / "v00000001").mkdir(parents=True)
    (snap / "_current").write_text("1")
    with pytest.raises(ValueError):
        ParquetStateStore(spark, str(snap)).exists()


def test_merge_survives_static_partition_overwrite_session_conf(spark, tmp_path):
    """The dynamic-overwrite guarantee must be per-write: with the session
    conf forced to the (default) static mode, a 1-tenant merge must still
    leave other tenants' partitions alive."""
    t0 = dt.datetime(2025, 1, 1)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    store.merge(
        _batch(spark, [_row(tenant="t1", idk="k1"), _row(tenant="t2", idk="k1")]), updated_at=t0
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        store.merge(_batch(spark, [_row(tenant="t1", value=5.0, idk="k9")]), updated_at=t0)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    state = {r.tenantId: (r.value, r.version) for r in store.read().collect()}
    assert state["t2"] == (1.0, 1), "static overwrite mode deleted the non-batch tenant"
    assert state["t1"] == (5.0, 2)


def test_merge_reads_and_rewrites_only_batch_tenant_partitions(spark, tmp_path):
    """The 100 TB claim (SCALE.md §2) held as an assertion: merging one
    tenant's batch into a multi-tenant store (a) partition-prunes the state
    scan to that tenant and (b) leaves other tenants' files untouched on
    disk (byte-identical, same mtime)."""
    import io
    import contextlib
    import os

    t0 = dt.datetime(2025, 1, 1)
    path = str(tmp_path / "state")
    store = ParquetStateStore(spark, path)
    store.merge(
        _batch(spark, [_row(tenant="t1", idk="k1"), _row(tenant="t2", idk="k1")]), updated_at=t0
    )

    def t2_files():
        d = os.path.join(path, "tenantId=t2")
        return {f: os.path.getmtime(os.path.join(d, f)) for f in sorted(os.listdir(d))}

    before = t2_files()

    # (a) read side: the state scan a merge performs prunes to batch tenants —
    # the semi-join prune (no driver collect) must reach the scan as a
    # dynamic partition pruning filter on the tenantId partition column
    batch_t1 = dedup_batch(_batch(spark, [_row(tenant="t1", idk="k9")]))
    state_scan = store.read().join(
        F.broadcast(batch_t1.select("tenantId").distinct()), "tenantId", "left_semi"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        state_scan.explain("formatted")
    plan = buf.getvalue()
    # (inputFiles() lists the relation pre-pruning, so the plan's
    # PartitionFilters entry is the authoritative read-side evidence)
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "PartitionFilters" in plan and "tenantId" in pf
    assert "dynamicpruning" in pf.lower(), "semi-join prune must reach the scan as DPP"

    # (b) write side: a t1-only merge leaves t2's files byte-for-byte alone
    store.merge(_batch(spark, [_row(tenant="t1", value=5.0, idk="k9")]), updated_at=t0)
    assert t2_files() == before


def test_compact_small_files_reduces_file_count_preserving_rows(spark, tmp_path):
    """Micro-batch sinks accumulate tiny files; compaction must collapse them
    to ~rows/target files with the data byte-identical as a multiset."""
    from etl_healthcare_spark.operators.persist import compact_small_files

    path = str(tmp_path / "lake")
    # 20 single-row appends — the small-files pathology
    for i in range(20):
        spark.createDataFrame([(i, f"v{i}")], "id long, v string").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    before = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    stats = compact_small_files(spark, path, target_rows_per_file=10)
    after = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before and stats["rows"] == 20
    assert stats["files_before"] >= 20
    assert stats["files_after"] == 2  # ceil(20/10)


def test_snapshot_store_atomic_commits_and_time_travel(spark, tmp_path):
    """ParquetStateStore versions: same merge semantics, plus
    (a) a reader holding the old pointer keeps a complete consistent view
    while a merge commits, (b) time travel to any retained snapshot,
    (c) vacuum drops old snapshots but never the live one."""
    t0 = dt.datetime(2025, 1, 1)
    store = ParquetStateStore(spark, str(tmp_path / "snap"))
    assert store.exists() is False

    log1 = store.merge(_batch(spark, [_row(value=1.0, idk="k1")]), updated_at=t0)
    assert [(r.action, r.version) for r in log1.collect()] == [("insert", 1)]
    assert store.current_version() == 1

    # a reader resolved BEFORE the next commit keeps its full old snapshot
    old_reader = store.read(version=1)
    log2 = store.merge(_batch(spark, [_row(value=7.0, idk="k2")]), updated_at=t0)
    assert [(r.action, r.version) for r in log2.collect()] == [("update", 2)]
    assert store.current_version() == 2
    assert old_reader.collect()[0].value == 1.0          # snapshot isolation
    assert store.read().collect()[0].value == 7.0        # live view
    assert store.read(version=1).collect()[0].value == 1.0  # time travel

    # idempotent retry on the snapshot path too
    log3 = store.merge(_batch(spark, [_row(value=99.0, idk="k2")]), updated_at=t0)
    assert [(r.action, r.version) for r in log3.collect()] == [("noop", 2)]
    assert store.versions() == [1, 2, 3]

    dropped = store.vacuum(keep_last=1)
    assert dropped == [1, 2] and store.versions() == [3]
    assert store.read().collect()[0].value == 7.0

    # corrupt pointer raises rather than silently re-initializing
    import pytest

    (tmp_path / "snap" / "_current").write_text("not-a-number")
    with pytest.raises(RuntimeError):
        store.current_version()


def test_delete_subjects_targeted_rewrite(spark, tmp_path):
    """GDPR targeted delete: subject rows vanish, untouched tenants' files
    stay byte-identical on disk, fully-emptied tenants leave no stale
    partition, and the ledger reports per-subject counts including proof of
    absence (n_deleted=0)."""
    import os

    t0 = dt.datetime(2025, 1, 1)
    path = str(tmp_path / "state")
    store = ParquetStateStore(spark, path)
    rows = [
        ("t1", "observation", "e1", "pA", t0, 1.0, "k1"),
        ("t1", "observation", "e2", "pA", t0, 2.0, "k2"),
        ("t1", "observation", "e3", "pB", t0, 3.0, "k3"),
        ("t2", "observation", "e4", "pC", t0, 4.0, "k4"),
        ("t3", "observation", "e5", "pD", t0, 5.0, "k5"),
    ]
    store.merge(_batch(spark, rows), updated_at=t0)

    def files(tenant):
        d = os.path.join(path, f"tenantId={tenant}")
        if not os.path.isdir(d):
            return None
        return {f: os.path.getmtime(os.path.join(d, f)) for f in sorted(os.listdir(d))}

    t2_before = files("t2")
    subjects = spark.createDataFrame(
        [("t1", "pA"), ("t3", "pD"), ("t1", "pZ")], "tenantId string, patientId string"
    )
    ledger = {(r.tenantId, r.patientId): r.n_deleted for r in store.delete_subjects(subjects).collect()}
    assert ledger == {("t1", "pA"): 2, ("t3", "pD"): 1, ("t1", "pZ"): 0}
    left = {(r.tenantId, r.patientId, r.entityId) for r in store.read().collect()}
    assert left == {("t1", "pB", "e3"), ("t2", "pC", "e4")}
    assert files("t2") == t2_before  # untouched tenant: same files, same mtimes
    assert files("t3") is None  # fully-emptied tenant leaves no stale partition
    # right to be forgotten: no retained version still holds a deleted row
    assert store.versions()
    for v in store.versions():
        kept = {(r.tenantId, r.patientId) for r in store.read(version=v).collect()}
        assert not kept & {("t1", "pA"), ("t3", "pD")}, f"version {v} keeps deleted rows"


def test_snapshot_diff_key_grained_change_set(spark, tmp_path):
    """diff(v1, v3): inserts show as added, idempotent re-sends don't
    surface, key rewrites show as version_bumped, and unchanged keys stay
    silent.  Reproducible against immutable snapshots at any later time."""
    t0 = dt.datetime(2025, 1, 1)
    store = ParquetStateStore(spark, str(tmp_path / "snap"))
    store.merge(_batch(spark, [_row(entity="e1", idk="k1"), _row(entity="e2", idk="k2")]), updated_at=t0)
    store.merge(_batch(spark, [_row(entity="e2", idk="k2")]), updated_at=t0)  # idempotent noop
    store.merge(_batch(spark, [_row(entity="e2", idk="k9"), _row(entity="e3", idk="k3")]), updated_at=t0)

    d13 = {(r.entityId): (r.action, r.version_old, r.version_new)
           for r in store.diff(1, 3).collect()}
    assert d13 == {"e2": ("version_bumped", 1, 2), "e3": ("added", None, 1)}
    assert store.diff(2, 2).count() == 0
    d31 = {r.entityId: r.action for r in store.diff(3, 1).collect()}
    assert d31 == {"e2": "version_bumped", "e3": "deleted"}  # reverse view


def test_merge_crash_before_pointer_flip_keeps_old_version(spark, tmp_path):
    """A merge stopped between its data write and the pointer flip, once on
    the first commit and once on a later one: readers still see the old
    version, and the replayed merge gives the same log, versions and rows as
    a run without the crash (its leftover commit directories are not read)."""
    import pytest

    t0 = dt.datetime(2025, 1, 1)
    batches = [
        _batch(spark, [_row(entity="e1", idk="k1"), _row(entity="e2", tenant="t2", idk="k1")]),
        _batch(spark, [_row(entity="e1", value=5.0, idk="k2"), _row(entity="e3", idk="k3")]),
    ]

    def rows(store):
        return sorted((r.tenantId, r.entityId, r.value, r.version) for r in store.read().collect())

    def run(name, crash_at=None):
        store = ParquetStateStore(spark, str(tmp_path / name))
        logs, states = [], []
        for i, b in enumerate(batches):
            if i == crash_at:
                replace = store._replace

                def crash(target, text):
                    if target == store.POINTER:
                        raise RuntimeError("injected crash before the pointer flip")
                    replace(target, text)

                store._replace = crash
                with pytest.raises(RuntimeError, match="injected crash"):
                    store.merge(b, updated_at=t0)
                del store._replace
                if i == 0:
                    assert store.exists() is False and store.versions() == []
                else:
                    assert rows(store) == clean_states[i - 1] and store.versions() == [i]
            log = store.merge(b, updated_at=t0).collect()
            logs.append(sorted((r.tenantId, r.entityId, r.version, r.action) for r in log))
            states.append(rows(store))
        return logs, states, store.versions()

    clean_logs, clean_states, clean_versions = run("clean")
    assert clean_versions == [1, 2]
    for crash_at in (0, 1):
        assert run(f"crash{crash_at}", crash_at) == (clean_logs, clean_states, clean_versions)


def test_exists_runs_no_spark_job(spark, tmp_path):
    """exists() is a filesystem check: it launches no Spark job."""
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    store.merge(_batch(spark, [_row()]), updated_at=dt.datetime(2025, 1, 1))
    sc = spark.sparkContext
    sc.setJobGroup("test-exists-probe", "exists()")
    try:
        assert store.exists() is True
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("test-exists-probe")) == []
