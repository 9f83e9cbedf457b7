"""§2.12 streaming: micro-batch pipeline with quarantine + redrive, and the
watermarked windowed counters; exactly-once via checkpoint + idempotent merge."""

import datetime as dt

from pyspark.sql import functions as F

from etl_healthcare_spark.operators.persist import ParquetStateStore
from etl_healthcare_spark.operators.validate import dto_rules, split_valid
from etl_healthcare_spark.streaming.pipeline import (
    MAX_RECEIVES,
    RETRY_COL,
    file_stream,
    redrive_quarantine,
    run_micro_batch_pipeline,
    windowed_counters_stream,
)

DTO_SCHEMA = (
    "tenantId string, entityType string, entityId string, patientId string, code string,"
    "value double, unit string, effectiveDateTime timestamp, sourceSystem string,"
    "ingestHash string, idempotencyKey string"
)


def _rows(spark, rows):
    return spark.createDataFrame(rows, DTO_SCHEMA)


def _row(entity, value, *, code="718-7", unit="u", ok=True):
    return (
        "t1", "observation", entity, "p1", code, value, unit if ok else "",
        dt.datetime(2025, 1, 1), "test", "sha256:aaaaaaaaaa", f"k-{entity}-{value}",
    )


def test_micro_batch_pipeline_quarantines_rejects(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    quarantine = str(tmp_path / "dlq")
    checkpoint = str(tmp_path / "ckpt")
    store = ParquetStateStore(spark, str(tmp_path / "state"))

    good, bad = _row("e1", 1.0), _row("e2", 2.0, ok=False)
    _rows(spark, [good, bad]).write.mode("append").parquet(input_dir)

    def transform(batch):
        res = split_valid(batch, dto_rules())
        return res.valid, res.rejected

    def sink(valid, epoch_id):
        if valid.take(1):
            store.merge(valid, updated_at=dt.datetime(2025, 1, 2))

    q = run_micro_batch_pipeline(
        file_stream(spark, input_dir, _rows(spark, []).schema),
        transform,
        sink,
        quarantine,
        checkpoint,
        available_now=True,
    )
    q.awaitTermination(120)

    state = store.read().collect()
    assert len(state) == 1 and state[0].entityId == "e1"
    dlq = spark.read.parquet(quarantine).collect()
    assert len(dlq) == 1 and dlq[0]["_reject_reason"] == "unit_empty"
    assert dlq[0][RETRY_COL] == 1

    # restart with same checkpoint: no re-processing (exactly-once effect)
    q2 = run_micro_batch_pipeline(
        file_stream(spark, input_dir, _rows(spark, []).schema),
        transform, sink, quarantine, checkpoint, available_now=True,
    )
    q2.awaitTermination(120)
    assert store.read().collect()[0].version == 1  # idempotent: no version bump
    assert spark.read.parquet(quarantine).count() == 1


def test_redrive_quarantine(spark, tmp_path):
    quarantine = str(tmp_path / "dlq")
    target = str(tmp_path / "in")
    df = _rows(spark, [_row("e9", 3.0)]).withColumn("_reject_reason", F.lit("x")).withColumn(
        RETRY_COL, F.lit(1)
    )
    df.write.mode("append").parquet(quarantine)
    # poisoned row at the receive cap is not redriven (stays in DLQ)
    poisoned = _rows(spark, [_row("e10", 4.0)]).withColumn("_reject_reason", F.lit("x")).withColumn(
        RETRY_COL, F.lit(MAX_RECEIVES)
    )
    poisoned.write.mode("append").parquet(quarantine)

    n = redrive_quarantine(spark, quarantine, target, max_messages=10)
    assert n == 1
    assert spark.read.parquet(target).collect()[0].entityId == "e9"
    left = spark.read.parquet(quarantine).collect()
    assert len(left) == 1 and left[0].entityId == "e10"


def test_windowed_counters_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 30), "click", 1.0),
            (2, dt.datetime(2024, 1, 1, 0, 0, 50), "click", 2.0),
            (3, dt.datetime(2024, 1, 1, 0, 1, 10), "error", 1.0),
        ],
        "event_id long, ts timestamp, event_type string, value double",
    )
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_counters_stream(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("wcs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.minute, r.metric): (r.n, r.value_sum) for r in spark.table("wcs").collect()}
    assert got[(dt.datetime(2024, 1, 1, 0, 0), "click")] == (2, 3.0)
    assert got[(dt.datetime(2024, 1, 1, 0, 1), "error")] == (1, 1.0)


def test_sessionize_stream_applyinpandaswithstate(spark, tmp_path):
    from etl_healthcare_spark.streaming.pipeline import sessionize_stream

    src = str(tmp_path / "sess_src")
    # user 1: two sessions separated by a 2 h gap (second session stays open);
    # user 2: one open session -> only user 1's first session closes in-batch
    rows = [
        (1, dt.datetime(2025, 1, 1, 10, 0)),
        (1, dt.datetime(2025, 1, 1, 10, 10)),
        (1, dt.datetime(2025, 1, 1, 12, 30)),
        (2, dt.datetime(2025, 1, 1, 9, 0)),
    ]
    spark.createDataFrame(rows, "user_id bigint, ts timestamp").write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {(r.user_id): r for r in spark.table("sessions_t").collect()}
    assert list(out) == [1]  # only the closed session emitted
    s = out[1]
    assert s.session_start == dt.datetime(2025, 1, 1, 10, 0)
    assert s.session_end == dt.datetime(2025, 1, 1, 10, 40)  # last event + gap
    assert s.n_events == 2


def test_dedup_stream_drops_redelivered_keys(spark, tmp_path):
    from etl_healthcare_spark.streaming.pipeline import dedup_stream

    src = str(tmp_path / "dedup_events")
    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 30), "a"),
            (1, dt.datetime(2024, 1, 1, 0, 0, 45), "a-redelivery"),
            (2, dt.datetime(2024, 1, 1, 0, 1, 10), "b"),
            (2, dt.datetime(2024, 1, 1, 0, 1, 11), "b-redelivery"),
            (3, dt.datetime(2024, 1, 1, 0, 2, 0), "c"),
        ],
        "event_id long, ts timestamp, payload string",
    )
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = dedup_stream(stream, ["event_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("dds")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("dds").collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]  # one survivor per key


def test_interval_join_streams_bounds(spark, tmp_path):
    """Only right events in (left_ts, left_ts + horizon] pair up."""
    from etl_healthcare_spark.streaming.pipeline import interval_join_streams

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "click", 100, t0),
        (2, "purchase", 100, t0 + dt.timedelta(minutes=10)),   # in window
        (3, "purchase", 100, t0 + dt.timedelta(minutes=40)),   # past horizon
        (4, "purchase", 100, t0 - dt.timedelta(minutes=5)),    # before click
        (5, "purchase", 200, t0 + dt.timedelta(minutes=5)),    # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, user_id long, ts timestamp")
    src = str(tmp_path / "ssj_src")
    df.write.mode("overwrite").parquet(src)

    def side(etype, id_alias, ts_alias):
        return (
            spark.readStream.schema(df.schema)
            .parquet(src)
            .where(F.col("event_type") == etype)
            .select(F.col("event_id").alias(id_alias), "user_id", F.col("ts").alias(ts_alias))
        )

    joined = interval_join_streams(
        side("click", "click_id", "c_ts"), side("purchase", "purchase_id", "p_ts"),
        "user_id", "c_ts", "p_ts", horizon="30 minutes", watermark="365 days",
    )
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.format("memory").queryName("ssj_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r.click_id, r.purchase_id) for r in spark.table("ssj_test").collect()}
    assert got == {(1, 2)}


def test_redrive_exact_with_identical_duplicate_payloads(spark, tmp_path):
    """Two byte-identical quarantined payloads are distinct DLQ entries:
    redriving one must leave the other parked (the all-columns anti-join bug
    deleted both), and repeated redrives drain the queue exactly."""
    from etl_healthcare_spark.streaming.pipeline import quarantine_rejects

    quarantine = str(tmp_path / "dlq")
    target = str(tmp_path / "in")
    dup = _rows(spark, [_row("e1", 1.0)]).withColumn("_reject_reason", F.lit("x"))
    quarantine_rejects(dup, quarantine)
    quarantine_rejects(dup, quarantine)  # identical payload, separate message

    assert redrive_quarantine(spark, quarantine, target, max_messages=1) == 1
    assert spark.read.parquet(target).count() == 1
    assert spark.read.parquet(quarantine).count() == 1  # the twin stays

    assert redrive_quarantine(spark, quarantine, target, max_messages=1) == 1
    assert spark.read.parquet(target).count() == 2
    assert spark.read.parquet(quarantine).count() == 0


def test_sliding_window_stream_matches_batch(spark, tmp_path):
    """The hopping-window stream (2 min windows every 1 min) over a bounded
    source must equal the batch sliding-window aggregation — every event in
    exactly two windows, decimal-exact sums."""
    src = str(tmp_path / "slide_src")
    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 30), "click", 1.0),
            (2, dt.datetime(2024, 1, 1, 0, 1, 10), "click", 2.0),
            (3, dt.datetime(2024, 1, 1, 0, 2, 45), "error", 4.0),
        ],
        "event_id long, ts timestamp, event_type string, value double",
    )
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_counters_stream(stream, window="2 minutes", slide="1 minute")
    q = (
        agg.writeStream.format("memory")
        .queryName("sws")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.minute, r.metric): (r.n, r.value_sum) for r in spark.table("sws").collect()}
    batch = {
        ((r_w := r["w"])["start"], r.event_type): (r.n, r.value_sum)
        for r in events.groupBy(
            F.window("ts", "2 minutes", "1 minute").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
        .collect()
    }
    assert got == batch
    # each event contributes to exactly two windows
    assert sum(n for n, _ in got.values()) == 2 * 3


def test_moments_stream_equals_batch_sketch(spark, tmp_path):
    """The incrementally-maintained (n, s, q) moment sketch after the full
    stream equals the batch aggregate — the exactly-once handoff that lets
    z-score flagging read a live sketch."""
    from etl_healthcare_spark.operators.anomaly import group_moments

    src = str(tmp_path / "mom_src")
    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1), "click", 1.25),
            (2, dt.datetime(2024, 1, 1), "click", 2.50),
            (3, dt.datetime(2024, 1, 1), "error", 4.00),
        ],
        "event_id long, ts timestamp, event_type string, value double",
    )
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        group_moments(stream, "event_type", "value")
        .writeStream.format("memory")
        .queryName("smom")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("smom").collect()))
    want = sorted(map(tuple, group_moments(events, "event_type", "value").collect()))
    assert got == want
    assert got[0] == ("click", 2, 375, 125 * 125 + 250 * 250)


def test_crash_recovery_replays_uncommitted_batch_exactly_once(spark, tmp_path):
    """The reference's core claim (docs/VALIDATION.md:198-215) as a kill-and-
    restart test: crash AFTER the idempotent merge of a micro-batch but
    BEFORE its checkpoint commit, restart from the same checkpoint, and the
    engine must deliver exactly-once EFFECT — the replayed batch merges as
    all-noop (no duplicate effect, no version bump), later batches still
    arrive (no loss), every entity lands exactly once."""
    import pytest
    from pyspark.errors import StreamingQueryException

    input_dir = str(tmp_path / "in")
    quarantine = str(tmp_path / "dlq")
    checkpoint = str(tmp_path / "ckpt")
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    for i in range(4):
        _rows(spark, [_row(f"e{i}", float(i))]).repartition(1).write.mode("append").parquet(input_dir)

    ledger = []

    def transform(batch):
        res = split_valid(batch, dto_rules())
        return res.valid, res.rejected

    def make_sink(crash_from_epoch):
        def sink(valid, epoch_id):
            if valid.take(1):
                log = store.merge(valid, updated_at=dt.datetime(2025, 1, 2))
                ledger.append((epoch_id, sorted((r.entityId, r.action) for r in log.collect())))
            if crash_from_epoch is not None and epoch_id >= crash_from_epoch:
                raise RuntimeError("injected crash after merge, before checkpoint commit")
        return sink

    schema = _rows(spark, []).schema
    q = run_micro_batch_pipeline(
        file_stream(spark, input_dir, schema, max_files_per_trigger=1),
        transform, make_sink(1), quarantine, checkpoint, available_now=True,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert len(ledger) == 2, "crash must land after batch 1's merge"
    # the commit log covers every key of the batch's tenants; the EFFECTIVE
    # writes (insert/update) are what exactly-once is about
    effective = lambda entry: {e for e, a in entry if a != "noop"}  # noqa: E731
    crashed_writes = effective(ledger[-1][1])  # merged but never checkpoint-committed
    assert crashed_writes, "the crashed batch must have performed a real write"

    # restart from the SAME checkpoint with a healthy sink
    q2 = run_micro_batch_pipeline(
        file_stream(spark, input_dir, schema, max_files_per_trigger=1),
        transform, make_sink(None), quarantine, checkpoint, available_now=True,
    )
    q2.awaitTermination(120)

    # the uncommitted batch was REPLAYED (its entities reappear in the next
    # merge's log) but the idempotent merge absorbed it: zero effective
    # writes for the already-persisted entities — no second insert, ever
    assert len(ledger) > 2, "restart must replay the batch whose commit was lost"
    replay_entities = {e for e, _ in ledger[2][1]}
    assert crashed_writes <= replay_entities, "replayed batch must cover the crashed rows"
    for _, entry in ledger[2:]:
        assert not (effective(entry) & crashed_writes), "a crashed-batch row was re-applied"
    # end-to-end: no loss, no duplication, no double version bump
    state = store.read().collect()
    assert sorted(r.entityId for r in state) == [f"e{i}" for i in range(4)]
    assert {r.version for r in state} == {1}


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """The late-data contract (SURVEY §2.12): a row arriving AFTER the
    watermark has passed its window is dropped, not merged — and a closed
    window is emitted exactly once in append mode.  Two micro-batches: the
    first advances the watermark past window 00:00, the second delivers a
    late row back into it; the emitted 00:00 counters must reflect only the
    on-time rows."""
    src = tmp_path / "late_events"
    src.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"
    batch1 = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 30), "click", 1.0),
            (2, dt.datetime(2024, 1, 1, 0, 0, 50), "click", 2.0),
            # sentinel far ahead: watermark after batch1 = 00:30 - 10min = 00:20
            (3, dt.datetime(2024, 1, 1, 0, 30, 0), "click", 1.0),
        ],
        schema,
    )
    batch2 = spark.createDataFrame(
        # LATE: window 00:00 closed at watermark 00:20 -> must be dropped
        [(4, dt.datetime(2024, 1, 1, 0, 0, 40), "click", 100.0)],
        schema,
    )
    batch1.coalesce(1).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    agg = windowed_counters_stream(stream, watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_wcs")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        batch2.coalesce(1).write.parquet(str(src / "b2"))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.minute, r.metric): (r.n, r.value_sum) for r in spark.table("late_wcs").collect()}
    # window 00:00 emitted once, on-time rows only — the late 100.0 never lands
    assert got.get((dt.datetime(2024, 1, 1, 0, 0), "click")) == (2, 3.0)
    # the sentinel's window (00:30) is still open: append mode has not emitted it
    assert (dt.datetime(2024, 1, 1, 0, 30), "click") not in got
