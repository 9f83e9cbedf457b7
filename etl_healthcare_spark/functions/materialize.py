"""Cluster-safe frame materialization — the one gate every lineage-cutting
checkpoint in this engine goes through (round-10 verdict item 3).

Why a gate: the engine shares ~50 bounded intermediate frames (candidate
pairs, histograms, signatures, decision tables) across multiple consumers by
cutting lineage and pinning blocks.  ``DataFrame.localCheckpoint`` is the
right local mechanism — no driver round-trip, no external storage — but its
blocks live only on executors: on a 1000-executor cluster a single lost or
preempted executor invalidates the RDD and fails the query mid-run (guide
§5: "localCheckpoint() is a cheaper way to cut lineage when fault tolerance
of that intermediate is not critical").  At 100 TB preemption is routine,
so the backend must be selectable without touching fifty call sites:

* ``local``    (default) — ``localCheckpoint``: fastest, not fault-tolerant.
  Right for local[N] runs and the driver bench, where there is exactly one
  "executor" and it dying kills the app anyway.
* ``reliable`` — ``checkpoint``: blocks in the fault-tolerant checkpoint
  directory (``SPARK_GRAFT_CHECKPOINT_DIR``, default under /tmp locally; a
  DFS path on a cluster).  The 1000-executor default.

Both backends cut lineage, so ``materialize`` is the one eager gate.

Selection: the ``spark.graft.checkpoint.backend`` runtime conf if set, else
``$SPARK_GRAFT_CHECKPOINT``, else ``local``.  Call sites use
``df.transform(materialize)`` / ``df.transform(materialize_lazy)`` so the
chain style of the old method calls is preserved; the eager/lazy split is
the SCALE.md §50 race discipline — LAZY is safe only when the first
consumer is a lone sequential driver action (concurrent leaf stages race an
unmaterialized lazy persist and each recomputes it), and
``tests/test_materialize.py`` pins the allowlist of lazy sites.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _backend(df: DataFrame) -> str:
    return df.sparkSession.conf.get(
        "spark.graft.checkpoint.backend",
        os.environ.get("SPARK_GRAFT_CHECKPOINT", "local"),
    )


def _materialize(df: DataFrame, eager: bool) -> DataFrame:
    backend = _backend(df)
    if backend == "local":
        return df.localCheckpoint(eager=eager)
    if backend == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(
                os.environ.get(
                    "SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/etl_healthcare_spark_ckpt"
                )
            )
        return df.checkpoint(eager=eager)
    raise ValueError(f"unknown checkpoint backend {backend!r}: 'local' or 'reliable'")


def materialize(df: DataFrame) -> DataFrame:
    """EAGER materialization barrier: compute ``df`` now, pin the result,
    return a frame whose consumers read the pinned blocks.  Use whenever
    multiple consumers (or concurrent stages of one action) share the frame.
    Every backend cuts lineage, so the result is never evaluated twice: the
    store merge's write and commit log, the pipeline's gate counts and merged
    rows, a quarantine read before its path is rewritten and a ``uuid()``
    column each come from one evaluation."""
    return _materialize(df, eager=True)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """LAZY variant: blocks pin on first use, no extra job.  ONLY safe when
    the first consumer is a lone sequential driver action that touches every
    partition (SCALE.md §50) — a raced lazy persist recomputes per stage."""
    return _materialize(df, eager=False)
