"""Sequence / time-series / itemset operators: M4 downsampling, pointer-
doubling tree depth (recursive-CTE parity), frequent-pair co-occurrence
mining, and Markov-chain transition analysis.

North-star fit: these are the event-log and catalog analytics a training-data
pipeline runs next to curation — downsample telemetry for dashboards without
lying about extremes (M4), resolve hierarchy depth at scale without recursion
(pointer doubling), mine co-occurrence structure (frequent pairs / lift), and
model user-session dynamics (Markov transitions + stationary mass).

Cross-engine determinism follows plans/registry.py: values as floor-cents
int64, probabilities as ppm/ppb integers with floor division, timestamps as
epoch micros, every output totally ordered by the registry query.

Scale shapes:

* ``m4_downsample``: ONE shuffle — groupBy (series, bucket) whose six
  aggregates are all partial-aggregable (min/max over structs and ints).
  This is the M4 aggregation of Jugel et al. (VLDB 2014): per pixel bucket
  keep first/last/min/max, which suffices for pixel-perfect line rendering.
  100 TB of telemetry reduces map-side before anything moves.
* ``tree_depth_doubling``: pointer jumping — each round rewrites
  (node -> ancestor, depth) to (node -> ancestor^2, depth-sum) with ONE
  self-join, so a chain of depth d resolves in ceil(log2 d) rounds, not d
  (the reason Spark can't just WITH RECURSIVE: linear recursion would be d
  sequential joins).  localCheckpoint per round keeps lineage flat; the
  convergence probe is a single O(1) count.
* ``frequent_pairs``: pairs expand IN-TASK from per-basket sorted item
  arrays (``dedup.bucket_pairs``, the in-bucket expansion of dedup's LSH)
  — never a self-join of the exploded item table; volume is sum(|basket|^2),
  bounded by the basket-size cap, not |items|^2.
* ``markov_transitions`` / ``markov_stationary_ppb``: one window shuffle
  over the event log; the transition matrix that falls out is |states|^2 and
  broadcast into a fixed-iteration integer power iteration — exact int64
  arithmetic, so the stationary vector is a pure function of the log on any
  engine at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.packing import unpack_hi, unpack_lo
from ..functions.materialize import materialize, materialize_lazy
from .dedup import bucket_pairs

PPM = 1_000_000
PPB = 1_000_000_000


# ---------------------------------------------------------------------------
# M4 time-series downsampling
# ---------------------------------------------------------------------------


def m4_downsample(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    val_cents: str,
    id_col: str,
    bucket_us: int,
) -> DataFrame:
    """M4 downsample: per (series, time bucket) the first/last/min/max of the
    value plus the row count — the minimal aggregate set that renders the
    same polyline as the raw data at one bucket per pixel.

    ``val_cents`` is a SQL expression producing an exact int64 value with
    |value| < 5·10^12 (runtime-guarded).  First/last are argmin/argmax by
    (ts, value) — a total order on what M4 renders (two ticks in the same
    microsecond with the same value are interchangeable), so ties cannot
    make the result partitioning-dependent, and the whole thing stays
    partial-aggregable (no window, no join).

    Plan shape (round-9 fix): the argmin/argmax is min/max over ONE
    DECIMAL(38,0) packing ``tus·10^13 + (vc + 5·10^12)`` — order-isomorphic
    with (tus, vc) because the offset value term is non-negative and below
    the multiplier.  The struct min/max form this replaces has a
    non-UnsafeRow-mutable buffer and silently planned SORTAGGREGATE — a
    per-partition sort of the full telemetry stream, the plan class the
    sf3→sf9 probe measured super-linear (SCALE.md §48); decimals are
    UnsafeRow-mutable, so the packed form is one HashAggregate with
    map-side combine.  (``id_col`` is retained for API stability; the
    (ts, value) order no longer needs a row-id tiebreak.)

    Negative (pre-1970) timestamps: the packed first/last DECODE uses
    pmod/exact-division (functions/packing.py), so they round-trip exactly.
    Bucket ASSIGNMENT stays truncating ``div`` — the same semantics as the
    DuckDB oracle's ``//`` (both truncate toward zero, verified), so both
    engines agree on all inputs; bucket 0 spans (-bucket_us, bucket_us) in
    that regime, a documented boundary convention, not a decode error.
    """
    OFF = 5_000_000_000_000  # value offset: vc ∈ (-5e12, 5e12) → term ∈ [0, 1e13)
    K = 10_000_000_000_000
    b = df.select(
        F.col(series_col).alias("series"),
        (F.unix_micros(F.col(ts_col))).alias("tus"),
        F.expr(val_cents).alias("vc"),
    ).withColumn("bucket", F.expr(f"tus div {bucket_us}"))
    packed = F.expr(
        f"CAST(tus AS DECIMAL(38,0)) * {K} + (CASE WHEN abs(vc) >= {OFF} THEN "
        f"raise_error('m4_downsample: |value| >= 5e12 overflows the ts*1e13+value packing') "
        f"ELSE vc END + {OFF})"
    )
    return (
        b.groupBy("series", "bucket")
        .agg(
            F.min(packed).alias("pf"),
            F.max(packed).alias("pl"),
            F.min("vc").alias("v_min_c"),
            F.max("vc").alias("v_max_c"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "series",
            "bucket",
            # pmod/exact-div decode: negative-timestamp-safe (functions/packing.py)
            unpack_hi("pf", K).alias("t_first_us"),
            (unpack_lo("pf", K) - F.lit(OFF)).alias("v_first_c"),
            unpack_hi("pl", K).alias("t_last_us"),
            (unpack_lo("pl", K) - F.lit(OFF)).alias("v_last_c"),
            "v_min_c",
            "v_max_c",
            "n",
        )
    )


def m4_oracle_sql(events_cte: str, bucket_us: int) -> str:
    """DuckDB twin.  ``events_cte`` must define b(series, tus, rid, vc)."""
    return f"""
    WITH {events_cte},
    r AS (
      SELECT series, tus // {bucket_us} AS bucket, tus, vc,
             row_number() OVER (PARTITION BY series, tus // {bucket_us}
                                ORDER BY tus, vc) AS rn_a,
             row_number() OVER (PARTITION BY series, tus // {bucket_us}
                                ORDER BY tus DESC, vc DESC) AS rn_d
      FROM b
    )
    SELECT series, bucket,
           max(CASE WHEN rn_a = 1 THEN tus END) AS t_first_us,
           max(CASE WHEN rn_a = 1 THEN vc END) AS v_first_c,
           max(CASE WHEN rn_d = 1 THEN tus END) AS t_last_us,
           max(CASE WHEN rn_d = 1 THEN vc END) AS v_last_c,
           min(vc) AS v_min_c, max(vc) AS v_max_c,
           count(*) AS n
    FROM r GROUP BY series, bucket
    ORDER BY series, bucket
    """


# ---------------------------------------------------------------------------
# pointer-doubling tree depth (WITH RECURSIVE parity)
# ---------------------------------------------------------------------------


def tree_depth_doubling(parents: DataFrame, node_col: str = "node", parent_col: str = "parent", max_rounds: int = 40) -> DataFrame:
    """(node, root, depth) for a forest given parent pointers — Spark's
    answer to ``WITH RECURSIVE``: pointer jumping squares the ancestor
    pointer every round (anc <- anc(anc), depth <- depth + depth(anc)), so
    depth-d chains converge in ceil(log2 d) self-joins instead of d.

    Roots are rows with parent == node (depth 0, contribute 0 on jump, so
    converged state is a fixpoint).  The convergence probe is one count of
    not-yet-rooted rows per round — O(1) rows to the driver, same discipline
    as connected_components (operators/dedup.py:518).  One eager
    ``materialize`` per round keeps each join reading pinned state, not the
    doubled plan.
    """
    from pyspark.sql import Observation

    state = parents.select(
        F.col(node_col).alias("node"),
        F.col(parent_col).alias("anc"),
        F.when(F.col(parent_col) == F.col(node_col), F.lit(0)).otherwise(F.lit(1)).cast("long").alias("depth"),
    ).transform(materialize)
    for _ in range(max_rounds):
        # the convergence probe rides the SAME action that materializes the
        # round (Observation on the checkpoint), not a separate count job:
        # a row advanced iff the joined ancestor contributed nonzero depth —
        # only root state rows carry depth 0, so pending==0 is the fixpoint
        obs = Observation()
        joined = state.alias("a").join(
            state.select(
                F.col("node").alias("j_node"),
                F.col("anc").alias("j_anc"),
                F.col("depth").alias("j_depth"),
            ).alias("b"),
            F.col("a.anc") == F.col("b.j_node"),
        ).observe(obs, F.coalesce(F.sum((F.col("j_depth") > 0).cast("long")), F.lit(0)).alias("pending"))
        state = joined.select(
            F.col("a.node").alias("node"),
            F.col("b.j_anc").alias("anc"),
            (F.col("a.depth") + F.col("b.j_depth")).alias("depth"),
        ).transform(materialize)
        if obs.get["pending"] == 0:
            break
    return state.select("node", F.col("anc").alias("root"), "depth")


def tree_depth_oracle_sql(nodes_cte: str) -> str:
    """DuckDB twin via WITH RECURSIVE.  ``nodes_cte`` must define
    nodes(node, parent); the walk stops at the self-parent root."""
    return f"""
    WITH RECURSIVE {nodes_cte},
    walk AS (
      SELECT node, node AS cur, CAST(0 AS BIGINT) AS depth FROM nodes
      UNION ALL
      SELECT w.node, n.parent, w.depth + 1
      FROM walk w JOIN nodes n ON w.cur = n.node
      WHERE n.parent <> w.cur
    ),
    fin AS (
      SELECT w.node, w.cur AS root, w.depth
      FROM walk w JOIN nodes n ON w.cur = n.node
      WHERE n.parent = w.cur
    )
    SELECT node, root, depth FROM fin ORDER BY node
    """


# ---------------------------------------------------------------------------
# frequent-pair co-occurrence mining (market-basket, with lift)
# ---------------------------------------------------------------------------


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
    max_basket: int = 64,
    broadcast_supports: bool = True,
) -> DataFrame:
    """(i, j, support, lift_ppm) for unordered item pairs co-occurring in
    >= min_support baskets, i < j.

    Pairs are generated in-task from each basket's sorted distinct item
    array by ``bucket_pairs`` (the dedup LSH pair expansion), and the basket
    count, item supports, and pair supports all come out of ONE aggregate:
    each basket emits a sentinel (null, null), its singles (x, null), and
    its pairs (x, y) into one unioned stream, so the count groupBy collapses
    map-side to the co-occurrence vocabulary (~|V|^2/2 groups) and the only
    frame reused downstream — checkpointed once — is that aggregate,
    bounded at ANY corpus size.  The previous shape localCheckpointed the
    CAPPED BASKET FRAME (corpus-sized: 45M rows x item arrays at sf3) for
    three consumers; under the fixed 8 GB executor budget its cached
    blocks starved the unified memory region and the sf1->sf3 probe died
    with AGGREGATE_OUT_OF_MEMORY — the round-6 3.77x ratio was this
    defect's shadow, not contention (SCALE.md §43).  Rule repeated from
    dedup_containment: never pin a corpus-linear frame to executor memory;
    cache only aggregation-descended bounded frames.

    Baskets above ``max_basket`` distinct items are truncation-free
    DROPPED (counted nowhere — supports included, matching the oracle's
    kept-basket semantics), the d^2 guard: a single degenerate basket of
    1e5 items would otherwise expand 5e9 pairs in one task.  lift_ppm =
    support * n_baskets * 1e6 div (supp_i * supp_j), exact int64
    (support <= n_baskets <= 2^31 keeps the product in range).

    ``broadcast_supports=True`` fits coarse/bounded item vocabularies (the
    registry's 211 items); for open vocabularies pass False and the
    support joins pin shuffle-hash instead — the per-item support table is
    aggregation-descended, so leaving the choice to the static estimator
    risks broadcasting a vocabulary-sized frame (SCALE.md §11).
    """
    items = df.select(F.col(basket_col).alias("bk"), F.col(item_col).alias("item"))
    item_t = dict(items.dtypes)["item"]
    null_item = F.lit(None).cast(item_t)
    baskets = (
        items.groupBy("bk")
        .agg(F.array_sort(F.collect_set("item")).alias("its"))
        .where(F.size("its") <= max_basket)
    )
    # the sentinel (null, null) and the singles (x, null) are one explode of
    # [null, *its]; the pairs (x, y), x < y, are bucket_pairs of the sorted
    # array
    marks = baskets.select(
        F.explode(F.concat(F.array(null_item), F.col("its"))).alias("i"), null_item.alias("j")
    )
    pairs = bucket_pairs(baskets.select(F.col("its").alias("ds")), "i", "j")
    counted = (
        marks.unionByName(pairs)
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize_lazy)
    )
    n_baskets = counted.where(F.col("i").isNull() & F.col("j").isNull()).select(
        F.col("c").alias("nb")
    )
    item_supp = counted.where(F.col("i").isNotNull() & F.col("j").isNull()).select(
        "i", F.col("c").alias("supp")
    )
    pair_counts = (
        counted.where(F.col("j").isNotNull())
        .select("i", "j", F.col("c").alias("support"))
        .where(F.col("support") >= min_support)
    )
    si = item_supp.select("i", F.col("supp").alias("supp_i"))
    sj = item_supp.select(F.col("i").alias("j"), F.col("supp").alias("supp_j"))
    if broadcast_supports:
        si, sj = F.broadcast(si), F.broadcast(sj)
    else:
        si, sj = si.hint("shuffle_hash"), sj.hint("shuffle_hash")
    return (
        pair_counts.join(si, "i")
        .join(sj, "j")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "i",
            "j",
            "support",
            F.expr(f"(support * nb * {PPM}) div (supp_i * supp_j)").alias("lift_ppm"),
        )
    )


def frequent_pairs_oracle_sql(items_cte: str, min_support: int, max_basket: int = 64) -> str:
    """DuckDB twin.  ``items_cte`` must define it(bk, item), already distinct
    per (bk, item)."""
    return f"""
    WITH {items_cte},
    keep AS (
      SELECT bk FROM it GROUP BY bk HAVING count(*) <= {max_basket}
    ),
    itk AS (SELECT it.bk, it.item FROM it JOIN keep USING (bk)),
    nb AS (SELECT count(DISTINCT bk) AS nb FROM itk),
    supp AS (SELECT item, count(*) AS s FROM itk GROUP BY item),
    p AS (
      SELECT a.item AS i, b.item AS j, count(*) AS support
      FROM itk a JOIN itk b ON a.bk = b.bk AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING count(*) >= {min_support}
    )
    SELECT p.i, p.j, p.support,
           (p.support * nb.nb * {PPM}) // (si.s * sj.s) AS lift_ppm
    FROM p
    CROSS JOIN nb
    JOIN supp si ON si.item = p.i
    JOIN supp sj ON sj.item = p.j
    """


# ---------------------------------------------------------------------------
# Markov transitions + integer power iteration
# ---------------------------------------------------------------------------


def markov_transitions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    id_col: str,
) -> DataFrame:
    """(prev, cur, n, p_ppm): empirical first-order transition counts and
    row-normalized ppm probabilities over per-key event sequences ordered by
    (ts, id) — one window shuffle keyed on ``key_col``, then a tiny
    |states|^2 aggregate.  p_ppm = n * 1e6 div rowtotal(prev), exact."""
    w = W.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    pairs = (
        df.select(
            F.lag(F.col(state_col)).over(w).alias("prev"),
            F.col(state_col).alias("cur"),
        )
        .where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.select(
        "prev",
        "cur",
        "n",
        F.expr(f"(n * {PPM}) div (sum(n) OVER (PARTITION BY prev))").alias("p_ppm"),
    )


def markov_transitions_oracle_sql(events_cte: str) -> str:
    """DuckDB twin.  ``events_cte`` must define e(k, tus, rid, st)."""
    return f"""
    WITH {events_cte},
    seq AS (
      SELECT lag(st) OVER (PARTITION BY k ORDER BY tus, rid) AS prev, st AS cur
      FROM e
    ),
    t AS (
      SELECT prev, cur, count(*) AS n FROM seq WHERE prev IS NOT NULL
      GROUP BY prev, cur
    )
    SELECT prev, cur, n,
           CAST((n * {PPM}) // (sum(n) OVER (PARTITION BY prev)) AS BIGINT) AS p_ppm
    FROM t ORDER BY prev, cur
    """


def markov_stationary_ppb(transitions: DataFrame, iters: int = 12, max_states: int = 1000) -> DataFrame:
    """(state, mass_ppb) after ``iters`` exact-integer power iterations of
    v' = v P from a uniform start — v in parts-per-billion, P in ppm, each
    step sum(v_i * p_ppm) div 1e6 in int64 (max |v|*|p| = 1e15 per term, so
    a 1000-state chain still fits int64 headroom).

    The cluster's job is the corpus-sized transition COUNT (the window
    shuffle in markov_transitions); the recurrence itself runs over the
    |states|^2 matrix, which is bounded by the state vocabulary — so it is
    driver-collected (the declared-bounded-fetch precedent of IVF centroids,
    operators/similarity.py) and iterated in exact Python ints rather than
    spending one Spark round-trip per 5-row matrix-vector product (measured
    3.4 s -> 0.6 s at sf0.1; the distributed-loop shape, when state count
    genuinely needs a cluster, is pagerank_ppm).  Fixed iteration count +
    floor division = bit-identical to the oracle's unrolled CTEs.  Mass
    leaks at most 1 ppb per state per round to flooring — deterministic,
    and irrelevant to ranking use."""
    from pyspark.sql.types import LongType, StructField, StructType

    rows = transitions.select("prev", "cur", "p_ppm").collect()
    states = sorted({r.prev for r in rows} | {r.cur for r in rows})
    assert len(states) <= max_states, f"state vocabulary {len(states)} exceeds the declared driver bound"
    v = {s: PPB // len(states) for s in states}
    for _ in range(iters):
        nv: dict = {}
        for r in rows:
            if r.prev in v:
                nv[r.cur] = nv.get(r.cur, 0) + v[r.prev] * r.p_ppm
        v = {c: x // PPM for c, x in nv.items()}
    schema = StructType(
        [
            StructField("state", transitions.schema["prev"].dataType),
            StructField("mass_ppb", LongType()),
        ]
    )
    spark = transitions.sparkSession
    return spark.createDataFrame([(s, v[s]) for s in sorted(v)], schema)


def markov_stationary_oracle_sql(events_cte: str, iters: int = 12) -> str:
    """DuckDB twin with the power iteration unrolled (recursive CTEs cannot
    carry the aggregate-per-round shape directly)."""
    head = f"""
    WITH {events_cte},
    seq AS (
      SELECT lag(st) OVER (PARTITION BY k ORDER BY tus, rid) AS prev, st AS cur
      FROM e
    ),
    tc AS (
      SELECT prev, cur, count(*) AS n FROM seq WHERE prev IS NOT NULL
      GROUP BY prev, cur
    ),
    t AS (
      SELECT prev, cur, (n * {PPM}) // (sum(n) OVER (PARTITION BY prev)) AS p_ppm
      FROM tc
    ),
    s AS (SELECT prev AS state FROM t UNION SELECT cur FROM t),
    v0 AS (SELECT state, CAST({PPB} // (SELECT count(*) FROM s) AS BIGINT) AS v FROM s)
    """
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(
            f""",
    v{k} AS (
      SELECT t.cur AS state, CAST(sum(v{k - 1}.v * t.p_ppm) // {PPM} AS BIGINT) AS v
      FROM t JOIN v{k - 1} ON t.prev = v{k - 1}.state GROUP BY t.cur
    )"""
        )
    return head + "".join(rounds) + f"\n    SELECT state, v AS mass_ppb FROM v{iters} ORDER BY state"
