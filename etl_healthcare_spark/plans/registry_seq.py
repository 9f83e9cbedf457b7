"""Round-4 sequence/itemset batch: M4 time-series downsampling, recursive-CTE
parity via pointer doubling, frequent-pair co-occurrence mining with lift, and
Markov-chain transition analysis with an exact-integer stationary vector.

All queries follow the registry's cross-engine determinism conventions
(integer/ppm arithmetic, epoch-micros timestamps, total tiebreaks — see
plans/registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import _t, register

# ---------------------------------------------------------------------------
# time series: M4 downsampling (Jugel et al., VLDB 2014)
# ---------------------------------------------------------------------------

_M4_BUCKET_US = 6 * 3600 * 1_000_000  # 6-hour pixel buckets

_M4_CTE = """b AS (
      SELECT event_type AS series, epoch_us(ts) AS tus, event_id AS rid,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    )"""


def _m4_oracle() -> str:
    from ..operators.sequences import m4_oracle_sql

    return m4_oracle_sql(_M4_CTE, _M4_BUCKET_US)


@register(
    "ts_m4_downsample",
    sql=_m4_oracle(),
    doc="M4 downsampling: per (series, 6h bucket) first/last/min/max value + "
    "count — the minimal aggregate set that renders the identical polyline at "
    "one bucket per pixel (Jugel et al., VLDB 2014).  ONE shuffle; all six "
    "aggregates partial-aggregable (first/last via struct min/max on the "
    "(ts, id) total order), so 100 TB of telemetry combines map-side.  The "
    "dashboard-read layer the reference delegates to managed metrics "
    "(services/health-api/src/handler.ts:82-130) re-expressed as an exact "
    "engine aggregate.",
)
def ts_m4_downsample(spark, sf_dir):
    from ..operators.sequences import m4_downsample

    return m4_downsample(
        _t(spark, sf_dir, "events"),
        "event_type",
        "ts",
        "CAST(floor(value * 100) AS BIGINT)",
        "event_id",
        _M4_BUCKET_US,
    )


# ---------------------------------------------------------------------------
# hierarchy: transitive closure depth via pointer doubling
# ---------------------------------------------------------------------------

_TREE_CTE = """nodes AS (
      SELECT c_custkey AS node,
             CASE WHEN c_custkey = 1 THEN 1
                  ELSE greatest(1, c_custkey - 1 - (c_custkey % 37)) END AS parent
      FROM customer
    )"""


def _tree_oracle() -> str:
    from ..operators.sequences import tree_depth_oracle_sql

    return tree_depth_oracle_sql(_TREE_CTE)


@register(
    "rec_tree_depth",
    sql=_tree_oracle(),
    doc="Recursive-CTE parity: depth-to-root for every node of a synthetic "
    "customer hierarchy (parent = k - 1 - k%37, a DAG onto custkey 1 with "
    "~k/19 average depth — hundreds of levels at sf1).  Spark has no WITH "
    "RECURSIVE; linear recursion would be depth-many sequential joins, so "
    "the operator POINTER-DOUBLES (anc <- anc(anc), depth-sum) and resolves "
    "depth-d chains in ceil(log2 d) self-joins with localCheckpoint per "
    "round and an O(1) convergence probe.  The DuckDB oracle walks the real "
    "WITH RECURSIVE, so the log-round machinery is checked against the "
    "textbook definition row-for-row.",
)
def rec_tree_depth(spark, sf_dir):
    from ..operators.sequences import tree_depth_doubling

    c = _t(spark, sf_dir, "customer")
    parents = c.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") == 1, F.lit(1))
        .otherwise(F.greatest(F.lit(1), F.col("c_custkey") - 1 - (F.col("c_custkey") % 37)))
        .cast("long")
        .alias("parent"),
    )
    return tree_depth_doubling(parents)


# ---------------------------------------------------------------------------
# itemsets: frequent co-occurring part pairs with lift
# ---------------------------------------------------------------------------

_PAIRS_MIN_SUPPORT = 8
_PAIRS_MAX_BASKET = 64

_PAIRS_CTE = """it AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey % 211 AS item FROM lineitem
    )"""


def _pairs_oracle() -> str:
    from ..operators.sequences import frequent_pairs_oracle_sql

    return frequent_pairs_oracle_sql(_PAIRS_CTE, _PAIRS_MIN_SUPPORT, _PAIRS_MAX_BASKET)


@register(
    "mine_frequent_pairs",
    sql=_pairs_oracle(),
    doc="Market-basket frequent pairs over coarsened parts-per-order with "
    "exact integer lift: pairs expand IN-TASK from per-basket sorted item "
    "arrays (operators/dedup.py::bucket_pairs, the LSH expansion) — never a "
    "self-join of the exploded item table — so volume is sum(|basket|^2) "
    "under the basket cap, not |items|^2.  Item supports and the basket "
    "count ride broadcasts onto the pair counts.  Output is bounded by the "
    "coarse item vocabulary (211^2/2) at ANY scale factor.",
)
def mine_frequent_pairs(spark, sf_dir):
    from ..operators.sequences import frequent_pairs

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("bk"), (F.col("l_partkey") % 211).alias("item")
    )
    return frequent_pairs(li, "bk", "item", _PAIRS_MIN_SUPPORT, _PAIRS_MAX_BASKET)


# ---------------------------------------------------------------------------
# sequences: Markov transitions + stationary mass
# ---------------------------------------------------------------------------

_MARKOV_CTE = """e AS (
      SELECT user_id AS k, epoch_us(ts) AS tus, event_id AS rid, event_type AS st
      FROM events
    )"""


def _markov_oracle() -> str:
    from ..operators.sequences import markov_transitions_oracle_sql

    return markov_transitions_oracle_sql(_MARKOV_CTE)


@register(
    "seq_markov_transitions",
    sql=_markov_oracle(),
    doc="First-order Markov transition matrix over per-user event sequences "
    "ordered by (ts, event_id): ONE window shuffle keyed on user, then a "
    "|states|^2 aggregate.  Probabilities as row-normalized ppm integers "
    "(n * 1e6 div rowtotal) — exact on both engines.  The session-dynamics "
    "profile a curation pipeline uses to spot bot-like event streams.",
)
def seq_markov_transitions(spark, sf_dir):
    from ..operators.sequences import markov_transitions

    return markov_transitions(_t(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id")


_STATIONARY_ITERS = 12


def _stationary_oracle() -> str:
    from ..operators.sequences import markov_stationary_oracle_sql

    return markov_stationary_oracle_sql(_MARKOV_CTE, _STATIONARY_ITERS)


@register(
    "seq_markov_stationary",
    sql=_stationary_oracle(),
    doc="Stationary event-type mass via 12 exact-integer power iterations of "
    "v' = vP (v in ppb, P in ppm, floor division) from a uniform start — "
    "bit-identical on any engine at any parallelism, same rationale as "
    "pagerank_ppm (operators/graph.py:33).  The corpus-sized work is the "
    "transition-count shuffle; the |states|^2 recurrence runs driver-side "
    "over the declared-bounded collected matrix (operators/sequences.py "
    "docstring).  The DuckDB oracle unrolls the 12 rounds as chained CTEs, "
    "so the loop is checked against the closed-form recurrence.",
)
def seq_markov_stationary(spark, sf_dir):
    from ..operators.sequences import markov_stationary_ppb, markov_transitions

    t = markov_transitions(_t(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id")
    return markov_stationary_ppb(t, _STATIONARY_ITERS)


# ---------------------------------------------------------------------------
# attribution: equal-split multi-touch credit within a lookback window
# ---------------------------------------------------------------------------

_ATTR_LOOKBACK_S = 1800


@register(
    "seq_attribution_linear",
    sql=f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) // 1000000 AS tsec
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT event_id, user_id, event_type, tsec,
             count(*) FILTER (WHERE event_type = 'click')
               OVER (PARTITION BY user_id ORDER BY tsec
                     RANGE BETWEEN {_ATTR_LOOKBACK_S} PRECEDING AND 1 PRECEDING)
               AS n_touches
      FROM e
    )
    SELECT event_id AS purchase_id, user_id, CAST(n_touches AS BIGINT) AS n_touches,
           CAST(CASE WHEN n_touches > 0 THEN 1000000 // n_touches ELSE 0 END AS BIGINT)
             AS credit_each_ppm,
           CAST(CASE WHEN n_touches > 0 THEN 1000000 % n_touches ELSE 1000000 END AS BIGINT)
             AS residual_ppm
    FROM w WHERE event_type = 'purchase'
    """,
    doc="LINEAR multi-touch ATTRIBUTION: every purchase splits 1e6 ppm of "
    "credit equally across the user's clicks in the 30-minute lookback "
    "(integer division; the residual ppm is emitted explicitly — by "
    "convention it goes to the earliest touch, and emitting it keeps the "
    "arithmetic exact instead of hiding a float split).  Shape: ONE "
    "user-keyed shuffle where a RANGE-frame window counts lookback clicks "
    "— no self-join, no pair expansion, so a user with 1e6 events costs "
    "one sorted pass, not 1e12 pairs.  The marketing/conversion analytics "
    "family (first/last-touch are j5b/j5d; this is the shared-credit "
    "variant).",
)
def seq_attribution_linear(spark, sf_dir):
    from pyspark.sql import Window as _W

    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isin("click", "purchase"))
    e = ev.select(
        "event_id",
        "user_id",
        "event_type",
        (F.unix_micros("ts") / F.lit(1_000_000)).cast("long").alias("tsec"),
    )
    w = (
        _W.partitionBy("user_id")
        .orderBy("tsec")
        .rangeBetween(-_ATTR_LOOKBACK_S, -1)
    )
    touched = e.withColumn(
        "n_touches",
        F.count(F.when(F.col("event_type") == "click", 1)).over(w),
    )
    return touched.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("n_touches").cast("long").alias("n_touches"),
        F.when(F.col("n_touches") > 0, F.expr("1000000 div n_touches"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("credit_each_ppm"),
        F.when(F.col("n_touches") > 0, F.expr("1000000 % n_touches"))
        .otherwise(F.lit(1_000_000))
        .cast("long")
        .alias("residual_ppm"),
    )
