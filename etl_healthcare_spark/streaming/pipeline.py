"""§2.12: micro-batch streaming pipeline with quarantine (DLQ) + redrive.

Reference topology: 3 SQS queues consumed in micro-batches (batch 10 / 5 s
window, src/stacks/normalize-stack.ts:54-58), at-least-once with
maxReceiveCount=5 then DLQ (messaging-stack.ts:47), partial-batch failure
reporting per record (normalize/handler.ts:251,256), exactly-once *effect*
via the idempotent conditional write (docs/VALIDATION.md:198-215).

Spark mapping:

* queue hop      -> file-source handoff dir; ``maxFilesPerTrigger`` +
                    ``Trigger.ProcessingTime`` reproduce the batch/window
* per-record retry/DLQ -> the validation split: rejects append to a
                    quarantine table with a retry count; rows whose count
                    exceeds MAX_RECEIVES stay quarantined (the 14-day DLQ)
* partial failure -> reject rows never abort the batch (split-filter, V2)
* exactly-once   -> streaming checkpoint (offset tracking) + idempotent MERGE
                    sink (U1) compose to end-to-end exactly-once
* late data      -> the reference has no watermarks (upsert-latest-wins); the
                    streaming metric windows below add an explicit watermark
                    as the [capability] extension
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from ..functions.materialize import materialize

MAX_RECEIVES = 5  # messaging-stack.ts:47
RETRY_COL = "_retry_count"
REASON_COL = "_reject_reason"
QID_COL = "_q_id"  # unique per quarantined row — the redrive/delete key


def quarantine_rejects(rejects: DataFrame, quarantine_dir: str) -> None:
    """Append reject rows (carrying REASON_COL) with an incremented retry
    count and a unique quarantine id — the DLQ analog with its receive
    counter and message id.  The id is what makes redrive exact: selection,
    the redrive write, and the delete all key on it, so identical duplicate
    payloads are distinct DLQ entries (as they are distinct SQS messages)."""
    out = rejects
    if RETRY_COL not in out.columns:
        out = out.withColumn(RETRY_COL, F.lit(1))
    else:
        out = out.withColumn(RETRY_COL, F.col(RETRY_COL) + 1)
    if QID_COL not in out.columns:
        out = out.withColumn(QID_COL, F.expr("uuid()"))
    out.write.mode("append").parquet(quarantine_dir)


def redrive_quarantine(
    spark: SparkSession,
    quarantine_dir: str,
    target_dir: str,
    max_messages: int = 10,
) -> int:
    """S10: move <=N quarantined rows back into a stage input dir (DLQ
    redrive, services/dlq-retry-api/src/handler.ts:44-72; clamp 1..100).
    Rows past MAX_RECEIVES are not redriven (they would immediately bounce).
    Returns the number of rows redriven.

    Exactness: the eligible subset is chosen by a DETERMINISTIC order
    (oldest quarantine id first), materialized ONCE (functions/materialize), and
    removed from quarantine by an id-keyed filter against that materialized
    set — never by re-evaluating the selection (an unordered limit() can
    pick a different subset per scan) and never by an all-columns anti-join
    (which deletes every identical duplicate while redriving one).  The
    redrive write lands before the quarantine rewrite, so a crash between
    the two leaves at-least-once delivery for the idempotent merge sink to
    absorb, not message loss."""
    from pyspark.errors import AnalysisException

    max_messages = max(1, min(100, max_messages))
    try:
        q = spark.read.parquet(quarantine_dir)
    except AnalysisException:  # path-does-not-exist == empty DLQ; real IO errors bubble
        return 0
    if QID_COL not in q.columns:
        # legacy quarantine written without ids: stamp + materialize once so
        # this run's selection and delete agree on them
        q = q.withColumn(QID_COL, F.expr("uuid()")).transform(materialize)
    eligible = (
        q.where(F.col(RETRY_COL) < MAX_RECEIVES)
        .orderBy(QID_COL)
        .limit(max_messages)
        .transform(materialize)
    )
    ids = [r[0] for r in eligible.select(QID_COL).collect()]  # <=100 rows by clamp
    if not ids:
        return 0
    eligible.drop(REASON_COL, QID_COL).write.mode("append").parquet(target_dir)
    # remove exactly the redriven ids: at scale this is a Delta DELETE WHERE
    # id IN (...) — parquet fallback rewrites the (small) quarantine table
    remaining = q.where(~F.col(QID_COL).isin(ids))
    remaining.transform(materialize).write.mode("overwrite").parquet(quarantine_dir)
    return len(ids)


def file_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """S6 queue-source analog: file stream with bounded batch size."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_micro_batch_pipeline(
    stream: DataFrame,
    transform: Callable[[DataFrame], tuple[DataFrame, DataFrame]],
    sink: Callable[[DataFrame, int], None],
    quarantine_dir: str,
    checkpoint_dir: str,
    processing_time: str | None = "5 seconds",
    available_now: bool = False,
) -> StreamingQuery:
    """The normalize->persist stage wrapper.

    ``transform`` returns (valid, rejects); valid rows go to ``sink`` (e.g. a
    ParquetStateStore merge — idempotent, so checkpoint replay is safe),
    rejects append to quarantine.  Mirrors per-record failure isolation
    (batchItemFailures) without aborting the batch.
    """

    def for_each_batch(batch: DataFrame, epoch_id: int) -> None:
        valid, rejects = transform(batch)
        sink(valid, epoch_id)
        if rejects is not None:
            quarantine_rejects(rejects, quarantine_dir)

    writer = stream.writeStream.foreachBatch(for_each_batch).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def windowed_counters_stream(
    events: DataFrame,
    ts_col: str = "ts",
    metric_col: str = "event_type",
    watermark: str = "10 minutes",
    window: str = "1 minute",
    slide: str | None = None,
) -> DataFrame:
    """Streaming G1/G13: watermarked windowed counters — tumbling by default,
    hopping when ``slide`` < ``window`` (each event then lands in
    window/slide overlapping windows, exactly the batch g13_sliding_window
    semantics).  State per open window is evicted once the watermark passes
    its end, so memory is ~|open windows x metrics| regardless of stream
    length.  The [capability] late-data extension of the health metrics
    (the reference itself has no watermarks, SURVEY §2.12)."""
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(metric_col).alias("metric"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("minute"), "metric", "n", "value_sum")
    )


SESSION_OUTPUT = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
SESSION_STATE = "start_us bigint, last_us bigint, n bigint"


def sessionize_stream(events: DataFrame, gap_minutes: int = 30, emit_open_on_timeout: bool = True):
    """Custom stateful operator: per-user sessionization with an inactivity
    gap, via ``applyInPandasWithState`` — the [capability] analog of
    SURVEY §2.12's "stateful ops" row for semantics Spark's built-in
    ``session_window`` can't express (per-group custom state transitions,
    explicit timeout-driven emission).

    State per user: (session start, last event, count) in epoch-µs.  A batch
    closes a session when a gap > ``gap_minutes`` separates consecutive
    events; processing-time timeout flushes the open session when the user
    goes quiet.  Output rows are *closed* sessions (end = last event + gap,
    matching ``session_window``'s end semantics).

    State size is O(active users), independent of event volume — the shape
    that survives 100 TB streams.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        closed: list[tuple[int, int, int]] = []  # (start_us, last_us, n)
        if state.hasTimedOut:
            if state.exists:
                s, l, n = state.get
                closed.append((s, l, n))
                state.remove()
        else:
            ts_us: list[int] = []
            for pdf in pdfs:
                ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
            ts_us.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = None, None, 0
            for t in ts_us:
                if start is None:
                    start, last, n = t, t, 1
                elif t - last > gap_us:
                    closed.append((start, last, n))
                    start, last, n = t, t, 1
                else:
                    last, n = t, n + 1
            if start is not None:
                state.update((start, last, n))
                state.setTimeoutDuration(gap_minutes * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(l + gap_us, unit="us") for _, l, _ in closed],
                    "n_events": [n for _, _, n in closed],
                }
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if emit_open_on_timeout else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        fn, SESSION_OUTPUT, SESSION_STATE, "append", timeout
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of the same key seen within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the streaming
    twin of batch ``u2_batch_dedup`` / ``dedup_exact``.

    State is bounded: Spark evicts a key's entry once the watermark passes
    it, so the state store holds ~(arrival rate x watermark) keys no matter
    how long the stream runs — the property that keeps an at-least-once
    source (the reference's SQS redelivery, messaging-stack.ts) exactly-once
    downstream without unbounded memory.  Batch equivalent for the oracle:
    min-per-key over the same horizon."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    horizon: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval (event-time-bounded) inner join: pair each left
    event with right events of the same key whose timestamp falls in
    (left_ts, left_ts + horizon] — the click->purchase attribution shape.

    Both sides carry a watermark and the join condition bounds right_ts
    relative to left_ts, which is exactly what Structured Streaming needs to
    evict state: a buffered left row is droppable once the right watermark
    passes left_ts + horizon, so state is ~(arrival rate x (watermark +
    horizon)) per side, independent of stream length.  The output of the
    bounded-input run (availableNow) provably equals the batch self-join —
    which is the oracle."""
    l = left.withWatermark(left_ts, watermark)  # noqa: E741
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] > l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {horizon}"))
    )
    return l.join(r, cond)


DEBOUNCE_OUTPUT = "user_id bigint, event_type string, ts_us bigint"
DEBOUNCE_STATE = "last_us bigint"


def debounce_stream(events: DataFrame, gap_seconds: int = 60) -> DataFrame:
    """Streaming telemetry DEBOUNCE via ``applyInPandasWithState``: per
    (user, event type) stream, emit an event iff it is the first seen or
    arrives more than ``gap_seconds`` after the PREVIOUS event (kept or
    not) — the stateful twin of the batch lag() pass in
    plans/registry_opsdiag.ts_event_debounce, with identical semantics.

    State per key is ONE int64 (the last seen event time) — O(active
    keys) however large the stream, the same survival property as the
    sessionizer.  Within a batch events process in timestamp order, so a
    single availableNow batch over a one-file source reproduces the batch
    operator exactly."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        user_id, event_type = key
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        ts_us.sort()
        last = state.get[0] if state.exists else None
        kept: list[int] = []
        for t in ts_us:
            if last is None or t - last > gap_us:
                kept.append(t)
            last = t
        if last is not None:
            state.update((last,))
        if kept:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(kept),
                    "event_type": [event_type] * len(kept),
                    "ts_us": kept,
                }
            )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        fn, DEBOUNCE_OUTPUT, DEBOUNCE_STATE, "append", GroupStateTimeout.NoTimeout
    )
