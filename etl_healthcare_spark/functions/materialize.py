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
* ``disk``     — ``persist(StorageLevel.DISK_ONLY)`` (+ a materializing
  ``count()`` for the eager form): blocks are recomputable from lineage if
  an executor dies (the cache is an optimization, not a correctness
  dependency).  Lineage is NOT cut, so plans keep growing across iterative
  rounds — fine for the engine's bounded loops (CC converges in 2-4
  rounds), wrong for unbounded iteration.
* ``reliable`` — ``checkpoint``: blocks in the fault-tolerant checkpoint
  directory (``SPARK_GRAFT_CHECKPOINT_DIR``, default under /tmp locally; a
  DFS path on a cluster), lineage cut.  The 1000-executor default.

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


def _reliable_checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(
            os.environ.get(
                "SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/etl_healthcare_spark_ckpt"
            )
        )
    return df.checkpoint(eager=eager)


def _materialize(df: DataFrame, eager: bool) -> DataFrame:
    backend = _backend(df)
    if backend == "local":
        return df.localCheckpoint(eager=eager)
    if backend == "disk":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        if eager:
            out.count()  # materialize every partition now (cache stores full rows)
        return out
    if backend == "reliable":
        return _reliable_checkpoint(df, eager)
    raise ValueError(
        f"unknown checkpoint backend {backend!r}: 'local', 'disk' or 'reliable'"
    )


def materialize(df: DataFrame) -> DataFrame:
    """EAGER materialization barrier: compute ``df`` now, pin the result,
    return a frame whose consumers read the pinned blocks.  Use whenever
    multiple consumers (or concurrent stages of one action) share the frame."""
    return _materialize(df, eager=True)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """LAZY variant: blocks pin on first use, no extra job.  ONLY safe when
    the first consumer is a lone sequential driver action that touches every
    partition (SCALE.md §50) — a raced lazy persist recomputes per stage."""
    return _materialize(df, eager=False)


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialization that MUST also sever the plan from its sources.

    Required where a frame must not be evaluated a second time: by
    ParquetStateStore.merge, whose write and returned commit log must come
    from one evaluation (``dedup_batch`` may break a timestamp tie either
    way); by the streaming quarantine, whose frame is consumed after the path
    it was read from is rewritten; and by frames containing non-deterministic
    columns (uuid()), where any lineage-backed recompute silently changes
    values.  The ``disk`` backend's plain persist keeps lineage (block loss
    triggers re-evaluation), so this entry point maps disk -> reliable
    ``checkpoint`` instead; local/reliable behave as in ``materialize``."""
    if _backend(df) == "disk":
        return _reliable_checkpoint(df, eager=True)
    return _materialize(df, eager=True)
