"""Exchange sizing: the size-aware shuffle of near-unique-key exact
aggregations, and the per-document fan-out (``fan_out``).

A reduce task that hash-aggregates a NEAR-UNIQUE key (zero/low reduction —
e.g. candidate-key profiling, where the grouping set IS the table's key)
must hold essentially its whole input in the hash map.  With the session's
fixed ``spark.sql.shuffle.partitions`` the per-task map grows linearly with
the corpus until it outruns the executor's execution-memory share and the
aggregate degrades into multi-pass sort-spill — measured on
``profile_candidate_keys``: 3.22x wall at sf1->sf3 and **4.78x at sf3->sf9**
under 32 fixed partitions (SCALE.md §48), i.e. the spill cascade compounds
per decade.  Re-running sf9 with 512 reduce tasks flattened it to 3.22x —
the work is linear; only the task sizing was broken.

``sized_shuffle_partitions`` therefore sizes such exchanges from the INPUT's
optimizer statistics (plan-time metadata, no job):

    n = clamp(ceil(stats_bytes / target), session_default, cap)

``target`` is in OPTIMIZER-STATS bytes — for a columnar parquet scan these
are compressed-file-derived, and the in-memory UnsafeRow hash map runs
~5-7x larger, so the 8 MiB default keeps each task's map at ~40-60 MB: 32
concurrent tasks stay comfortably inside a 5-6 GB execution region, and on
a real cluster the count simply grows with the data while per-task memory
stays constant — the property a fixed session constant can never give.
AQE cannot rescue the fixed-count plan by itself: it splits SKEWED
partitions, not uniformly-oversized ones, and coalesces only DOWN.

Scope: use this for exchanges feeding exact aggregates over near-unique
keys.  Ordinary aggregations (strong reduction) are fine at the session
default — partial aggregation collapses them map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# optimizer-stats bytes per reduce task (see module docstring for the
# stats-bytes -> in-memory multiplier reasoning)
TARGET_STATS_BYTES = 8 << 20
# guardrail against pathological (known but absurd) stats: 2^16 tasks x
# 8 MiB target ~ 512 GiB of scan stats, far past any single exchange this
# engine plans.  An UNKNOWN size never reaches it (see below).
MAX_SHUFFLE_PARTITIONS = 65_536


def sized_shuffle_partitions(
    df: DataFrame,
    target_stats_bytes: int = TARGET_STATS_BYTES,
    cap: int = MAX_SHUFFLE_PARTITIONS,
    upper_bound_bytes: int | None = None,
) -> int:
    """Reduce-task count for a near-unique-key exact aggregation over
    ``df``: each task sees ~``target_stats_bytes`` of optimizer-stats input,
    never fewer tasks than the session's ``spark.sql.shuffle.partitions``.

    Plan-time only — reads the optimized plan's size estimate (file sizes x
    column pruning for parquet scans); triggers no job.  The stats pass
    still costs an analyze+optimize round-trip per call (~0.3 s driver-side
    — the whole r8 profile_candidate_keys regression at sf0.1, where the
    answer is always the session default anyway).  Callers that know a
    cheap UPPER BOUND on the input (e.g. the source parquet's file size,
    one os.stat) pass it as ``upper_bound_bytes``: when the bound already
    cannot exceed ``target × session_default`` the sizing answer is the
    session default regardless of exact stats, so the pass is skipped —
    zero plan-time cost at toy scale, full sizing once the data is big
    enough for the pass to matter (round-8 verdict item 6).  An input whose
    size the optimizer cannot estimate gets the session default too."""
    session_default = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if (
        upper_bound_bytes is not None
        and upper_bound_bytes <= target_stats_bytes * session_default
    ):
        return session_default
    stats_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    # a relation that cannot estimate its size (an RDD-backed frame, e.g. a
    # local createDataFrame) reports spark.sql.defaultSizeInBytes: unknown,
    # not huge — sizing it to the cap would plan tens of thousands of tasks
    if stats_bytes >= df.sparkSession._jconf.defaultSizeInBytes():
        return session_default
    return max(session_default, min(cap, -(-stats_bytes // target_stats_bytes)))


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """``df`` hash-partitioned on ``key`` into ``defaultParallelism``
    partitions: the exchange in front of every CPU-bound per-document stage
    (a tokenize, shingle or hash regex chain).  A single-file input arrives
    as one or two scan partitions, and the stage above it otherwise runs on
    that many cores (measured 11.3x wall at 3x data on the sf3->sf9 probe,
    SCALE.md §49).

    * The partition count is explicit: AQE would coalesce a bare
      ``repartition(key)`` by its pre-explode bytes down to a task or two
      and serialise the CPU-bound stage again.
    * It hashes on the key, so a per-document aggregate downstream (any
      grouping whose keys include ``key``) is already satisfied and plans
      no second exchange.
    * Callers project ``df`` to the columns the stage reads (the id and the
      text) before the call and run the regex after it: a projection below
      the exchange evaluates map-side, at scan parallelism.

    The engine's only reader of ``defaultParallelism``."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
