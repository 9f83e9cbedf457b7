"""The cluster-safe checkpoint gate (round-10 verdict items 3-4, round-11).

Every lineage-cutting materialization in the engine must route through
``functions/materialize.py`` so the backend — ``localCheckpoint`` locally,
reliable ``checkpoint`` on a preemptible cluster — is one conf, not fifty
call-site edits.  Plus the SCALE.md §50 race lint
(round-10 verdict item 7): LAZY materialization is safe ONLY when the first
consumer is a lone sequential driver action; every lazy/persist site must be
on the reviewed allowlist below, so a new raced lazy persist fails CI
instead of silently recomputing per concurrent stage.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "etl_healthcare_spark"


def _sites(pattern: str) -> set[tuple[str, int]]:
    out = set()
    for p in PKG.rglob("*.py"):
        if "__pycache__" in str(p):
            continue
        rel = str(p.relative_to(PKG))
        for i, line in enumerate(p.read_text().split("\n"), 1):
            # crude comment strip: enough for this codebase's style, and a
            # call hidden behind a '#' wouldn't execute anyway
            if re.search(pattern, line.split("#", 1)[0]):
                out.add((rel, i))
    return out


def test_no_direct_localcheckpoint_outside_the_gate():
    """Only functions/materialize.py may call .localCheckpoint()/.checkpoint()
    — everything else goes through materialize()/materialize_lazy() so the
    backend stays conf-selectable."""
    offenders = {
        (f, i)
        for f, i in _sites(r"\.localCheckpoint\(|\.checkpoint\(")
        if f != "functions/materialize.py"
    }
    assert not offenders, f"route these through functions/materialize: {sorted(offenders)}"


def test_no_default_parallelism_outside_fan_out():
    """Only operators/exchange.py may read ``defaultParallelism``: every
    per-document stage fans out through ``exchange.fan_out``, so the
    partition-count rule lives in one place."""
    offenders = {(f, i) for f, i in _sites(r"defaultParallelism") if f != "operators/exchange.py"}
    assert not offenders, f"fan out through operators/exchange.fan_out: {sorted(offenders)}"


# SCALE.md §50: a lazy persist whose first consumer launches CONCURRENT leaf
# stages is raced — each stage recomputes the unmaterialized partitions.
# Lazy is allowed ONLY where the first consumer is a lone sequential driver
# action that touches every partition.  Each entry records that reviewed
# justification; adding a lazy site means reviewing it and extending this
# list (file, enclosing function, why-safe).
LAZY_ALLOWLIST = {
    # pq codebook subvectors: first consumer is the per-subspace k-means
    # seed collect loop — sequential driver actions
    ("operators/pq.py", "pq_codebook_and_codes"),
    # ivf_build_index quantized frame: first consumer is lloyd's seed
    # collect, a lone driver action that reads every partition of vecs
    ("operators/similarity.py", "ivf_build_index"),
    # frequent_pairs unified count table: first consumer is the broadcast
    # n_baskets subquery build — a lone driver-side action (SCALE.md §50
    # reviewed in r10; the sentinel/singles/pairs splits all read the
    # materialized blocks afterwards)
    ("operators/sequences.py", "frequent_pairs"),
}

# Plain .persist() (catalog cache, lineage retained) sites: same race rule
# applies to their first consumer.  Round-11: curation_e2e's q/ex_surv
# persists became eager materializations with riding Observations, so the
# set is empty — any new .persist() must be reviewed onto this list.
PERSIST_ALLOWLIST: set[tuple[str, str]] = set()


# Observation hazard: an Observation reports only
# when an action executes its node, and ``Observation.get`` blocks until it
# does — one that sits below an operator AQE replaces with an empty
# relation, or on a frame no action runs in full, hangs the driver.  Every
# ``.observe(`` site is reviewed onto this list (file, enclosing function,
# why it always reports).
OBSERVE_ALLOWLIST = {
    # gate counts at the top of the tagged batch's plan, executed by its
    # eager materialize before ``gates.get``
    ("pipeline.py", "run_batch_pipeline"),
    # written tenant set at the top of the write plan; the write runs it
    ("operators/persist.py", "_commit"),
    # touched tenants at the top of the ledger's plan, executed by its eager
    # materialize before the commit reads them
    ("operators/persist.py", "delete_subjects"),
    # dropped-bucket counters on the buckets' eager materialize, before the
    # cap filter that can drop every bucket
    ("operators/dedup.py", "_lsh_buckets"),
    # connected_components' convergence sum rides each label frame's eager
    # materialize
    ("operators/dedup.py", "pinned"),
    # pending count under one projection of the round's eager materialize
    ("operators/sequences.py", "tree_depth_doubling"),
    # raw/eval/quality/exact/near counts on the survivor frames' eager
    # materializes (raw and eval ride q's documents scan)
    ("plans/registry_curation.py", "curation_e2e"),
    # per-stage doc/token totals on the q/ex/cap eager materializes
    ("plans/registry_corpus.py", "training_prep_e2e"),
}


def _reviewed_sites(pattern: str) -> set[tuple[str, str]]:
    return {
        (f, _enclosing_function(PKG / f, i))
        for f, i in _sites(pattern)
        if f != "functions/materialize.py"
    }


def _enclosing_function(path: Path, lineno: int) -> str:
    import ast

    tree = ast.parse(path.read_text())
    best = ""
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.lineno <= lineno <= (node.end_lineno or node.lineno):
                best = node.name
    return best


@pytest.mark.parametrize(
    "pattern,allowlist",
    [
        (r"transform\(materialize_lazy\)", LAZY_ALLOWLIST),
        (r"\.persist\(\)", PERSIST_ALLOWLIST),
    ],
    ids=["lazy", "persist"],
)
def test_lazy_and_persist_sites_are_reviewed(pattern, allowlist):
    found = _reviewed_sites(pattern)
    assert found == allowlist, (
        "lazy/persist sites changed — review each against SCALE.md §50 "
        f"(first consumer must be a lone sequential driver action):\n{sorted(found ^ allowlist)}"
    )


def test_observe_sites_are_reviewed():
    found = _reviewed_sites(r"\.observe\(")
    assert found == OBSERVE_ALLOWLIST, (
        "Observation sites changed — review each: an action must execute the "
        f"observed node in full before its .get:\n{sorted(found ^ OBSERVE_ALLOWLIST)}"
    )


def test_backend_conf_selects_mechanism(spark, monkeypatch):
    from etl_healthcare_spark.functions.materialize import materialize

    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    key = "spark.graft.checkpoint.backend"
    try:
        # local (default): RDD-backed leaf, blocks pinned
        spark.conf.set(key, "local")
        out = materialize(df)
        assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
        assert out.count() == 10
        out.rdd.unpersist(False)
        # reliable: checkpointed leaf
        spark.conf.set(key, "reliable")
        out = materialize(df)
        assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
        assert out.count() == 10
        # any other backend, disk included, is an explicit error
        for junk in ("bogus", "disk"):
            spark.conf.set(key, junk)
            with pytest.raises(ValueError, match=f"{junk!r}: 'local' or 'reliable'"):
                materialize(df)
        # without the conf, the environment variable selects
        spark.conf.unset(key)
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "disk")
        with pytest.raises(ValueError, match="'disk': 'local' or 'reliable'"):
            materialize(df)
    finally:
        spark.conf.unset(key)


def test_results_identical_across_backends(spark):
    from etl_healthcare_spark.functions.materialize import materialize

    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    key = "spark.graft.checkpoint.backend"
    expect = sorted((r.id, r.k) for r in df.collect())
    try:
        for backend in ("local", "reliable"):
            spark.conf.set(key, backend)
            got = sorted((r.id, r.k) for r in materialize(df).collect())
            assert got == expect, backend
    finally:
        spark.conf.unset(key)
        spark.catalog.clearCache()
