"""Fuzzy entity matching — approximate string join with rare-q-gram
blocking (the record-linkage / entity-resolution operator; no reference
analog — the reference matches on exact keys only, north-star layer).

The classic scale problem: an edit-distance join is a cross product unless
blocked.  The standard blocking is q-GRAM OVERLAP (two strings within edit
distance k share at least one q-gram once they are longer than q*(k+1)), but
common grams (shared prefixes, boilerplate) degenerate to all-pairs.  So the
candidate generator keys on RARE grams only: grams whose clean-side document
frequency exceeds ``max_gram_df`` are dropped from BOTH sides — the same
frequent-key cap as the minhash mega-bucket cap (operators/dedup.py), applied
identically in the DuckDB oracle so capped semantics are what gets verified.

Pipeline (all key-grained shuffles, no window over the full corpus):
  1. explode distinct q-grams of each side's normalized name;
  2. clean-side gram frequencies (partial-aggregated, vocab-sized) filter
     both gram streams to rare grams;
  3. candidates = distinct (dirty, clean) pairs sharing a rare gram;
  4. verify: levenshtein(dirty, clean) <= k — integer metric, identical in
     Java and DuckDB (spot-verified incl. the substitution/deletion mix);
  5. best match per dirty row = exact lexicographic argmin on
     (distance, clean_id) — two-phase hash argmax (operators/argmax.py).

Recall bound: a true match is found iff the pair shares >= 1 rare gram;
with mutations bounded by k and the rarity cap sized above the expected
duplicate-group size, misses require k edits to land on ALL distinctive
grams — the verify step then reports distance but never fabricates a match.

Rarity-cap scaling (round-10, closing the round-9 "known weak" item): an
ABSOLUTE df cap silently zeroes recall as the corpus grows — gram document
frequencies grow linearly with the clean side, and the sf9 synthetic
customer table measured ZERO grams under df 64: every candidate vanished.
The cap is therefore DERIVED FROM THE GRAM-DF DISTRIBUTION by default:

    effective_cap = max(max_gram_df,  df at the ``rare_df_pct``-th
                                      percentile of gram-TYPE df)

computed with exact integer arithmetic (min df whose cumulative type count
satisfies ``100*cum >= pct*total`` — identical in the DuckDB oracle, so
capped semantics stay the verified semantics).  Guarantees: at least
``rare_df_pct`` percent of clean-side gram types always survive the gate,
so recall can never silently collapse to 0; on natural (Heaps-law) corpora
the low percentile sits at df 1-4, far under the floor, so the floor
dominates and candidate volume is unchanged.  On TEMPLATED corpora (every
gram frequent — e.g. 'Customer#%09d' synthetics) the cap rises with the
corpus and candidate volume approaches sum(df^2) over the rarest decile:
that is the unavoidable price of non-zero recall when no distinctive grams
exist, and is a property of the corpus, not the plan (same class as the
bounded-vocab LSH density of SCALE.md §48 — the probe harness measures
linkage on Heaps-law names for exactly this reason).  ``rare_df_pct=None``
restores the absolute-cap behavior.

The quantile costs no extra corpus-scale pass: the gram-df table (vocab-
sized) is localCheckpoint-ed once and feeds both the cap derivation (a
tiny df-distribution aggregate + cumulative window over |distinct df|
rows) and the rarity filter itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..functions.materialize import materialize
from .exchange import fan_out


def _grams(col, q: int = 3):
    """Distinct q-grams of the lowercased string (array column)."""
    s = F.lower(col)
    n = F.length(s)
    idx = F.sequence(F.lit(1), F.greatest(n - (q - 1), F.lit(0)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(s, i, q)))


def _scored_candidates(
    dirty: DataFrame,
    clean: DataFrame,
    dirty_id: str,
    dirty_name: str,
    clean_id: str,
    clean_name: str,
    max_dist: int = 2,
    q: int = 3,
    max_gram_df: int = 64,
    rare_df_pct: int | None = 10,
) -> DataFrame:
    """The candidate pipeline of :func:`fuzzy_match_join` up to the scored
    frame (did, dname, cid, cname, distance), UN-checkpointed — split out so
    plan tests can assert the rarity-gate shape (broadcast gate, hinted
    shuffle-hash candidate join) that fuzzy_match_join's checkpoint hides
    from the final consumer plan."""
    # fan both sides out BEFORE the gram explode: on 1-2 scan partitions the
    # explode, the df count and the joins ran on 1-2 of 32 cores (SCALE.md §49)
    dg = fan_out(dirty.select(F.col(dirty_id).alias("did"), F.col(dirty_name).alias("dname")), "did")
    dg = dg.withColumn("gram", F.explode(_grams(F.col("dname"), q)))
    cg = fan_out(clean.select(F.col(clean_id).alias("cid"), F.col(clean_name).alias("cname")), "cid")
    cg = cg.withColumn("gram", F.explode(_grams(F.col("cname"), q)))
    dfreq = cg.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    if rare_df_pct is None:
        rare = dfreq.where(F.col("df") <= max_gram_df).select("gram")
    else:
        # vocab-sized; checkpointed once, consumed by BOTH the cap branch
        # and the rarity filter, so the corpus-scale gram explode + partial
        # aggregation runs exactly once (not re-derived per consumer)
        dfreq = dfreq.transform(materialize)
        dist = dfreq.groupBy("df").agg(F.count(F.lit(1)).alias("c"))
        total = dist.agg(F.sum("c").alias("total"))
        from pyspark.sql import Window

        # exact discrete percentile: min df whose cumulative gram-type count
        # reaches pct% — `100*cum >= pct*total` is the integer form of
        # cum >= ceil(pct*total/100), replayed verbatim in the oracle.  The
        # cumulative window sorts |distinct df values| rows (a bounded,
        # aggregate-derived frame), never the corpus.
        wcum = Window.orderBy("df").rowsBetween(Window.unboundedPreceding, 0)
        cap_row = (
            dist.crossJoin(F.broadcast(total))
            .withColumn("cum", F.sum("c").over(wcum))
            .where(F.col("cum") * 100 >= F.col("total") * rare_df_pct)
            .agg(F.min("df").alias("qdf"))
        )
        rare = (
            dfreq.crossJoin(F.broadcast(cap_row))
            .where(
                F.col("df")
                <= F.greatest(
                    F.lit(max_gram_df).cast("long"), F.coalesce(F.col("qdf"), F.lit(0))
                )
            )
            .select("gram")
        )
    # BROADCAST the rare-gram set: joined by shuffle, BOTH exploded gram
    # streams (names × grams rows) would be shuffle-written in full before
    # the rarity filter ever ran — measured as the whole 11× sf3→sf9 wall
    # on the synthetic corpus where the filter keeps zero rows (SCALE.md
    # §49).  Broadcast turns the rarity gate into a map-side filter, so the
    # only corpus-scale shuffle left is the candidate gram join over rows
    # that SURVIVE it (≤ max_gram_df per gram on the clean side).  The
    # rare set is df-capped per gram but unbounded in gram count — callers
    # with pathological gram diversity should raise the driver's broadcast
    # threshold or pre-prune, documented above.
    # the candidate join is hinted shuffle_hash: with the checkpointed
    # gram-df table feeding `rare`, Catalyst loses the stats that used to
    # pick a hash join and falls back to SortMergeJoin — a SORT of both
    # surviving gram streams, the banned corpus-sort class (plan-pinned in
    # test_plans.py::test_fuzzy_match_rare_gram_gate_broadcasts)
    cand = (
        dg.join(F.broadcast(rare), "gram")
        .join(cg.join(F.broadcast(rare), "gram").hint("shuffle_hash"), "gram")
        .select("did", "dname", "cid", "cname")
        .distinct()
    )
    # bounded edit distance: the threshold form early-abandons once the
    # running distance exceeds max_dist (O(k*n) per pair instead of O(n^2))
    # and returns -1 above the bound — semantics identical to computing the
    # full distance and filtering <= max_dist
    return cand.withColumn(
        "distance", F.levenshtein(F.col("dname"), F.col("cname"), max_dist)
    ).where(F.col("distance") >= 0)


def fuzzy_match_join(
    dirty: DataFrame,
    clean: DataFrame,
    dirty_id: str,
    dirty_name: str,
    clean_id: str,
    clean_name: str,
    max_dist: int = 2,
    q: int = 3,
    max_gram_df: int = 64,
    rare_df_pct: int | None = 10,
) -> DataFrame:
    """Best fuzzy match per dirty row.  Output (dirty_id, dirty_name,
    match_id, match_name, distance) — unmatched dirty rows are absent
    (left-anti recoverable by the caller).

    ``max_gram_df`` is the rarity-cap FLOOR; the effective cap is
    ``max(max_gram_df, df at the rare_df_pct-th percentile of gram-type
    df)``, derived from the clean side's gram-df distribution so recall
    survives corpus growth (module docstring).  ``rare_df_pct=None``
    restores the absolute cap."""
    # CHECKPOINTED (round-10): the argmin join-back consumes this frame from
    # BOTH sides of its join, and un-materialized lineage re-ran the whole
    # gram explode + rarity gate + candidate join + levenshtein once per
    # reference — the round-10 plan showed the pipeline FOUR times (16
    # parquet scans, 8 gram explodes in one plan; 59 exchanges -> 3 after).
    # The checkpointed frame is the capped candidate stream — the same rows
    # the argmin shuffles anyway.
    scored = _scored_candidates(
        dirty, clean, dirty_id, dirty_name, clean_id, clean_name,
        max_dist, q, max_gram_df, rare_df_pct,
    ).transform(materialize)
    # best candidate per dirty row = exact lexicographic argmin on
    # (distance, cid) — operators/argmax.py; cid is unique per candidate
    # pair (cand is distinct), so the order is total and cname rides the
    # winning row for free.  The min(struct(distance, cid, cname)) form had
    # a non-UnsafeRow-mutable buffer and planned SORTAGGREGATE over the
    # rare-gram candidate stream (the SCALE.md §48 super-linear class).
    # When cid is a non-negative int64 under 2^40 (the id domain every
    # caller here has; distance <= max_dist << 2^23), the pair packs
    # order-isomorphically into ONE BIGINT — distance * 2^40 + cid — so a
    # SINGLE argmin phase (one groups-sized HashAggregate + one join-back)
    # replaces the two-phase cascade; the domain is guarded with
    # raise_error, and non-integer cid falls back to the unpacked phases.
    from .argmax import argmin_rows

    try:
        cid_type = dict(scored.dtypes)["cid"]
        if cid_type in ("int", "bigint", "smallint", "tinyint"):
            packed = scored.withColumn(
                "__packed",
                F.expr(
                    f"CAST(distance AS BIGINT) * {1 << 40} + CASE WHEN cid < 0 OR "
                    f"cid >= {1 << 40} THEN raise_error('fuzzy_match_join: cid outside "
                    "[0, 2^40) breaks (distance, cid) packing') ELSE CAST(cid AS BIGINT) END"
                ),
            )
            best = argmin_rows(packed, ["did", "dname"], ["__packed"]).drop("__packed")
        else:
            best = argmin_rows(scored, ["did", "dname"], ["distance", "cid"])
        return best.select(
            F.col("did").alias(dirty_id),
            F.col("dname").alias(dirty_name),
            F.col("cid").alias("match_id"),
            F.col("cname").alias("match_name"),
            F.col("distance"),
        )
    except ValueError:  # non-fixed-width clean ids: struct-min fallback
        best = scored.groupBy("did", "dname").agg(
            F.min(F.struct(F.col("distance"), F.col("cid"), F.col("cname"))).alias("b")
        )
        return best.select(
            F.col("did").alias(dirty_id),
            F.col("dname").alias(dirty_name),
            F.col("b.cid").alias("match_id"),
            F.col("b.cname").alias("match_name"),
            F.col("b.distance").alias("distance"),
        )


def survivorship(
    records: DataFrame,
    clusters: DataFrame,
    id_col: str,
    longest: tuple[str, ...] = (),
    maxs: tuple[str, ...] = (),
    mins: tuple[str, ...] = (),
    node_col: str = "node",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """SURVIVORSHIP (golden-record build): one canonical record per entity
    cluster with field-level merge rules — the step after matching
    (fuzzy_match_join) and clustering (connected_components) that MDM and
    dedup pipelines end with: "we found these rows are the same entity; now
    emit the record we keep".  Rules: ``longest`` columns survive as the
    longest value (ties -> lexicographically largest — a total order both
    engines share), ``maxs``/``mins`` as plain max/min; the canonical id is
    the cluster's minimum id; n_members counts the cluster.

    Scale: one left join records->clusters on the record id (unclustered
    rows form singleton clusters via coalesce), then per-rule aggregation
    branches joined back on the clusters-sized key — no window, no
    per-cluster collect.

    Plan shape (round-9 fix): the previous single groupBy mixed
    max-over-(length, value) STRUCTS and min/max over STRINGS into one
    aggregate; those buffers are not UnsafeRow-mutable, so the whole node
    planned SORTAGGREGATE over the records⋈clusters stream — the plan class
    the sf3→sf9 probe measured at 4.70× per 3× data (SCALE.md §48).

    Round-10 pass structure (guide §8: decide on small rows, move big rows
    once): the old shape re-derived the records⋈clusters join from scratch
    for every consumer — the main aggregate, each ``longest`` argmax phase,
    and each string-rule distinct — i.e. ~4 corpus scans and 4 id-keyed
    shuffles per run, each dragging the payload columns along.  Now:
    (a) ONE NARROW decision frame (id, cluster, fixed-width rule columns,
    string rule columns, length-of-``longest`` columns — never the payload)
    is joined and checkpointed once; (b) every fixed-width rule AND each
    ``longest`` column's max length ride ONE HashAggregate over that frame
    (the argmax's phase-1 aggregate folded into the main pass); (c) each
    ``longest`` column then needs exactly ONE payload-carrying pass: the
    records column joins its cluster id and the (cluster, max-length) frame,
    and the lexicographic-largest pick aggregates the TIES-AT-MAX-LENGTH
    frame, ≈ 1 row per cluster, never the corpus; (d) string-typed
    ``maxs/mins`` pre-collapse to the DISTINCT (cluster, value) frame off
    the checkpointed narrow frame, so the closing min/max(string) sorts
    |clusters × field domain| rows, not the corpus.  Branch joins are
    shuffle-hash on the cluster key."""
    dtypes = dict(records.dtypes)
    _FIXED = ("int", "bigint", "smallint", "tinyint", "double", "float", "date", "boolean")

    def _is_fixed(c: str) -> bool:
        t = dtypes[c]
        return t in _FIXED or t.startswith("decimal") or t.startswith("timestamp")

    sized = clusters.select(F.col(node_col).alias("__node"), F.col(cluster_col))
    narrow_cols = [F.col(id_col)]
    narrow_cols += [F.col(c) for c in (*maxs, *mins) if c != id_col]
    narrow_cols += [F.length(F.col(c)).alias(f"__len_{c}") for c in longest]
    jn = (
        records.select(*narrow_cols)
        .join(sized.hint("shuffle_hash"), F.col(id_col) == F.col("__node"), "left")
        .withColumn("__cl", F.coalesce(F.col(cluster_col), F.col(id_col)))
        .transform(materialize)
    )

    # branch joins are records-cardinality on BOTH sides (singletons make
    # cluster_id ≈ one per record), so their shuffled-hash build side must
    # be task-size-bounded explicitly: AQE coalesces toward the 64 MB
    # advisory, whose ~5-7× in-memory hash relation outruns a 32-way
    # local executor's per-task budget — measured at sf27 as "Can't acquire
    # 134217728 bytes memory to build hash relation" (SCALE.md §49).  Size
    # the branch exchanges from the records stats (one plan-time pass,
    # shared by every branch); explicit repartition counts are preserved
    # by AQE, so per-task build memory stays constant at any corpus size.
    from .exchange import sized_shuffle_partitions

    nx = sized_shuffle_partitions(records)

    aggs = [
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_members"),
    ]
    for c in maxs:
        if _is_fixed(c):
            aggs.append(F.max(c).alias(f"{c}_max"))
    for c in mins:
        if _is_fixed(c):
            aggs.append(F.min(c).alias(f"{c}_min"))
    # the per-``longest`` max length rides the SAME aggregate (the argmax's
    # phase-1 pass folded in — one HashAggregate instead of one per column)
    for c in longest:
        aggs.append(F.max(f"__len_{c}").alias(f"__maxlen_{c}"))
    # pin the accumulator's partitioning ONCE: the shuffled-hash branch
    # joins below preserve the probe side's hash(cluster_id, nx)
    # partitioning, so only the first repartition materializes — the old
    # per-branch acc.repartition paid a full golden-record exchange per rule
    out = (
        jn.groupBy(F.col("__cl").alias("cluster_id"))
        .agg(*aggs)
        .repartition(nx, "cluster_id")
    )

    def _join_branch(acc: DataFrame, branch: DataFrame) -> DataFrame:
        return acc.join(
            branch.repartition(nx, "cluster_id").hint("shuffle_hash"),
            "cluster_id",
            "left",
        )

    for c in longest:
        # ONE payload-carrying pass per column: records ⋈ cluster id ⋈ the
        # (cluster, max length) frame keeps only the ties-at-max-length rows
        # (NULL lengths never equal the max, so NULL values lose and
        # all-NULL clusters surface as NULL via the left branch join —
        # identical to the old argmax semantics); ties -> lexicographically
        # largest via max(string) over the ≈ 1-row-per-cluster tied frame
        mx = out.select(
            F.col("cluster_id").alias("__mxcl"), F.col(f"__maxlen_{c}")
        )
        tied = (
            records.select(id_col, c, F.length(F.col(c)).alias("__len"))
            .join(sized.hint("shuffle_hash"), F.col(id_col) == F.col("__node"), "left")
            .withColumn("__cl", F.coalesce(F.col(cluster_col), F.col(id_col)))
            .join(
                mx.hint("shuffle_hash"),
                (F.col("__cl") == F.col("__mxcl"))
                & (F.col("__len") == F.col(f"__maxlen_{c}")),
            )
        )
        pick = tied.groupBy(F.col("__cl").alias("cluster_id")).agg(
            F.max(c).alias(f"{c}_survived")
        )
        out = _join_branch(out, pick)
    for c in maxs:
        if not _is_fixed(c):
            d = jn.select("__cl", c).distinct()
            pick = d.groupBy(F.col("__cl").alias("cluster_id")).agg(F.max(c).alias(f"{c}_max"))
            out = _join_branch(out, pick)
    for c in mins:
        if not _is_fixed(c):
            d = jn.select("__cl", c).distinct()
            pick = d.groupBy(F.col("__cl").alias("cluster_id")).agg(F.min(c).alias(f"{c}_min"))
            out = _join_branch(out, pick)
    return out.drop(*[f"__maxlen_{c}" for c in longest])
