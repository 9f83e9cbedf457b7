"""Round-4 operational-diagnostics batch: telemetry event debouncing, the
day-over-day delta attribution report (which slice explains the move), and
the language-ID confusion matrix grading the heuristic classifier against
the declared label.

These are the three reports an on-call data engineer opens in order: the
debounce pass de-noises double-fired telemetry before counts mean anything,
the attribution report turns "volume moved 12% yesterday" into a ranked
list of the slices that moved it (the Adtributor question), and the
confusion matrix says whether an in-pipeline model's labels can be trusted
where gold labels exist.  The reference emits raw telemetry and stores
declared language fields (libs/obs/metrics.ts, normalize handler) but has
no de-noising, attribution, or model-vs-label audit.

Exactness: gap comparisons in integer microseconds, deltas and shares as
cross-multiplied ppm with HUGEINT/decimal(38) products, confusion counts
plain integers — nothing floats across engines.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .registry import _t, register

PPM = 1_000_000

_GAP_US = 60_000_000  # debounce threshold: 60 seconds


@register(
    "ts_event_debounce",
    sql=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS t
      FROM events
    ),
    g AS (
      SELECT user_id, event_type, t,
             lag(t) OVER (PARTITION BY user_id, event_type ORDER BY t) AS prev_t
      FROM e
    ),
    k AS (
      SELECT event_type,
             CASE WHEN prev_t IS NULL OR t - prev_t > {_GAP_US}
                  THEN 1 ELSE 0 END AS keep
      FROM g
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(keep) AS BIGINT) AS n_debounced,
           CAST(CAST(sum(keep) AS HUGEINT) * {PPM} // count(*) AS BIGINT)
             AS kept_share_ppm
    FROM k GROUP BY event_type
    """,
    doc="TELEMETRY DEBOUNCE (the de-noising pass before any counter is "
    "trusted): within each (user, event type) stream, an event fires the "
    "debouncer only if it is the first or arrives more than 60 s after "
    "its predecessor — double-clicks, retry storms, and at-least-once "
    "redelivery collapse to one.  Gap arithmetic in integer microseconds "
    "(epoch_us == unix_micros, the registry timestamp rule).  Shape: ONE "
    "window partitioned by the HIGH-CARDINALITY (user_id, event_type) "
    "key — parallel across users at any scale, no global order — then a "
    "partial-aggregable per-type rollup.  The stateless batch twin of "
    "stream_dedup's watermarked exactly-once pass.",
)
def ts_event_debounce(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    w = W.partitionBy("user_id", "event_type").orderBy("t")
    g = e.select("event_type", "t", F.lag("t").over(w).alias("prev_t"))
    k = g.select(
        "event_type",
        (F.col("prev_t").isNull() | (F.col("t") - F.col("prev_t") > _GAP_US))
        .cast("long")
        .alias("keep"),
    )
    agg = k.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"), F.sum("keep").alias("n_kept")
    )
    return agg.select(
        "event_type",
        "n_total",
        "n_kept",
        (F.col("n_total") - F.col("n_kept")).alias("n_debounced"),
        F.expr(f"CAST(CAST(n_kept AS DECIMAL(38,0)) * {PPM} div n_total AS BIGINT)").alias(
            "kept_share_ppm"
        ),
    )


@register(
    "ts_delta_attribution",
    sql=f"""
    WITH daily AS (
      SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
             sum(CAST(floor(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ),
    lastdays AS (
      SELECT day_us, dense_rank() OVER (ORDER BY day_us DESC) AS r
      FROM (SELECT DISTINCT day_us FROM daily)
    ),
    two AS (
      SELECT d.event_type,
             sum(CASE WHEN l.r = 1 THEN x ELSE 0 END) AS x_last,
             sum(CASE WHEN l.r = 2 THEN x ELSE 0 END) AS x_prev
      FROM daily d JOIN lastdays l ON d.day_us = l.day_us AND l.r <= 2
      GROUP BY 1
    ),
    delta AS (
      SELECT event_type, x_last, x_prev, x_last - x_prev AS delta,
             sum(x_last - x_prev) OVER () AS total_delta
      FROM two
    )
    SELECT event_type,
           CAST(x_prev AS BIGINT) AS prev_cents,
           CAST(x_last AS BIGINT) AS last_cents,
           CAST(delta AS BIGINT) AS delta_cents,
           CAST(CAST(delta AS HUGEINT) * {PPM}
                // nullif(CAST(total_delta AS HUGEINT), 0) AS BIGINT)
             AS delta_share_ppm,
           CAST(row_number() OVER (ORDER BY abs(delta) DESC, event_type)
                AS BIGINT) AS rnk
    FROM delta
    """,
    doc="DAY-OVER-DAY DELTA ATTRIBUTION (the Adtributor question: volume "
    "moved — WHICH slice moved it): per event type, yesterday-vs-prior "
    "daily cents, the exact delta, each slice's signed share of the "
    "total move in ppm, and a deterministic |delta|-ranked order.  The "
    "two comparison days are discovered FROM the data (dense_rank over "
    "the distinct-day frame), so the report needs no date parameter at "
    "any scale.  Shape: one partial-aggregable groupBy to the "
    "(day, type) frame; day ranking, the two-day pivot, and the share "
    "windows all run on that metadata-sized frame.  The drill-down "
    "ts_cusum_changepoint hands off to once it has located WHEN.",
)
def ts_delta_attribution(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
            "event_type",
        )
        .agg(F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias("x"))
    )
    days = daily.select("day_us").distinct()
    lastdays = days.select(
        "day_us",
        F.dense_rank().over(W.partitionBy(F.lit(0)).orderBy(F.col("day_us").desc())).alias("r"),
    ).where(F.col("r") <= 2)
    two = (
        daily.join(F.broadcast(lastdays), "day_us")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("r") == 1, F.col("x")).otherwise(F.lit(0))).alias("x_last"),
            F.sum(F.when(F.col("r") == 2, F.col("x")).otherwise(F.lit(0))).alias("x_prev"),
        )
    )
    wall = W.partitionBy(F.lit(0))
    delta = two.select(
        "event_type",
        "x_last",
        "x_prev",
        (F.col("x_last") - F.col("x_prev")).alias("delta"),
        F.sum(F.col("x_last") - F.col("x_prev")).over(wall).alias("total_delta"),
    )
    return delta.select(
        "event_type",
        F.col("x_prev").cast("long").alias("prev_cents"),
        F.col("x_last").cast("long").alias("last_cents"),
        F.col("delta").cast("long").alias("delta_cents"),
        F.expr(
            f"CAST(CAST(delta AS DECIMAL(38,0)) * {PPM}"
            f" div nullif(CAST(total_delta AS DECIMAL(38,0)), 0) AS BIGINT)"
        ).alias("delta_share_ppm"),
        F.row_number()
        .over(W.partitionBy(F.lit(0)).orderBy(F.abs("delta").desc(), "event_type"))
        .cast("long")
        .alias("rnk"),
    )


def _langid_confusion_oracle() -> str:
    from .registry_llm import _langid_oracle

    return f"""
    WITH pred AS ({_langid_oracle()}),
    cm AS (
      SELECT lang_actual AS actual, lang_pred AS pred, count(*) AS n
      FROM pred GROUP BY 1, 2
    )
    SELECT actual, pred, CAST(n AS BIGINT) AS n,
           CAST(sum(n) OVER (PARTITION BY actual) AS BIGINT) AS support,
           CAST(sum(n) OVER (PARTITION BY pred) AS BIGINT) AS pred_total,
           CAST(CAST(n AS HUGEINT) * 1000000
                // CAST(sum(n) OVER (PARTITION BY actual) AS HUGEINT) AS BIGINT)
             AS recall_ppm,
           CAST(CAST(n AS HUGEINT) * 1000000
                // CAST(sum(n) OVER (PARTITION BY pred) AS HUGEINT) AS BIGINT)
             AS precision_ppm
    FROM cm
    """


@register(
    "text_langid_confusion",
    sql=_langid_confusion_oracle(),
    doc="LANGUAGE-ID CONFUSION MATRIX: the stopword-marker classifier "
    "(text_langid) graded against the corpus's DECLARED lang column — "
    "unlike eval_confusion_multiclass's synthetic judge, this audits a "
    "real in-pipeline model against real labels, per (actual, predicted) "
    "cell with exact-ppm recall and precision.  The 'und' column prices "
    "the classifier's abstention mass; off-diagonal cells say which "
    "marker lists collide.  Shape: the scoring is map-only (marker "
    "counts fused into the scan), ONE partial-aggregable groupBy "
    "collapses to <=25 cells, both normalizing windows run on that "
    "frame.  The trust gate before langid-based filtering (the CCNet "
    "pipeline step) is allowed to drop documents.",
)
def text_langid_confusion(spark, sf_dir):
    from ..functions.text import lang_guess

    docs = _t(spark, sf_dir, "documents")
    # actual and predicted both come off the same row: fuse into ONE
    # map-only select (no doc_id join back to the label column)
    cm = (
        docs.select(F.col("lang").alias("actual"), lang_guess(F.col("text")).alias("pred"))
        .groupBy("actual", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = cm.select(
        "actual",
        "pred",
        "n",
        F.sum("n").over(W.partitionBy("actual")).alias("support"),
        F.sum("n").over(W.partitionBy("pred")).alias("pred_total"),
    )
    return w.select(
        "actual",
        "pred",
        "n",
        "support",
        "pred_total",
        F.expr(f"n * {PPM} div support").alias("recall_ppm"),
        F.expr(f"n * {PPM} div pred_total").alias("precision_ppm"),
    )


# ---------------------------------------------------------------------------
# J12: point-in-time join against the SCD2 dimension
# ---------------------------------------------------------------------------


@register(
    "j12_pit_scd2",
    sql="""
    WITH dim AS (
      SELECT user_id,
             epoch_us(ts) AS valid_from_us,
             coalesce(epoch_us(lead(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)),
                      9223372036854775807) AS valid_to_us,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS attr_cents
      FROM events WHERE user_id < 20 AND event_id % 5 = 0
    ),
    fact AS (
      SELECT event_id AS fact_id, user_id, epoch_us(ts) AS fact_us,
             CAST(floor(value * 100) AS BIGINT) AS fact_cents
      FROM events WHERE user_id < 20 AND event_id % 5 <> 0
    )
    SELECT f.fact_id, f.user_id, f.fact_us, f.fact_cents,
           d.valid_from_us, d.attr_cents
    FROM fact f
    LEFT JOIN dim d
      ON f.user_id = d.user_id
     AND f.fact_us >= d.valid_from_us AND f.fact_us < d.valid_to_us
    """,
    doc="J12 POINT-IN-TIME JOIN (the warehouse question u6_scd2_intervals "
    "exists to answer): every fact row picks up the dimension attribute "
    "that was valid AT ITS OWN timestamp — dimension-change events build "
    "[valid_from, valid_to) intervals via one lead() window (open current "
    "row capped at +inf so it matches all later facts), then facts LEFT "
    "join on the user key with the interval containment as the residual "
    "condition.  Because SCD2 intervals partition time, each fact matches "
    "AT MOST one row — no fan-out — and facts before the first change "
    "surface with NULL attributes instead of silently dropping (the "
    "left-join-vs-inner trap in PIT backfills).  Shape: the join is "
    "EQUI on user_id (SMJ/SHJ, fully shuffled-parallel); the interval "
    "test rides as a post-join filter, never a range-only join.  "
    "Complements j5b_asof_join: as-of picks nearest-before by sort, PIT "
    "consumes a PERSISTED interval dimension — the shape a 100 TB "
    "warehouse actually materializes.",
)
def j12_pit_scd2(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.where(F.col("event_id") % 5 == 0)
        .select(
            "user_id",
            F.unix_micros("ts").alias("valid_from_us"),
            F.coalesce(
                F.unix_micros(F.lead("ts").over(w)), F.lit(9223372036854775807)
            ).alias("valid_to_us"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("attr_cents"),
        )
    )
    fact = ev.where(F.col("event_id") % 5 != 0).select(
        F.col("event_id").alias("fact_id"),
        "user_id",
        F.unix_micros("ts").alias("fact_us"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("fact_cents"),
    )
    cond = (
        (fact["user_id"] == dim["user_id"])
        & (fact["fact_us"] >= dim["valid_from_us"])
        & (fact["fact_us"] < dim["valid_to_us"])
    )
    return fact.join(dim, cond, "left").select(
        "fact_id",
        fact["user_id"].alias("user_id"),
        "fact_us",
        "fact_cents",
        "valid_from_us",
        "attr_cents",
    )


# ---------------------------------------------------------------------------
# U10: right-to-be-forgotten delete propagation audit
# ---------------------------------------------------------------------------


@register(
    "u10_delete_propagation",
    sql="""
    WITH dl AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 3
    ),
    ev AS (
      SELECT count(*) AS purged,
             (SELECT count(*) FROM events) - count(*) AS retained
      FROM events WHERE user_id IN (SELECT user_id FROM dl)
    ),
    cu AS (
      SELECT count(*) AS purged,
             (SELECT count(*) FROM customer) - count(*) AS retained
      FROM customer WHERE c_custkey IN (SELECT user_id FROM dl)
    ),
    od AS (
      SELECT count(*) AS purged,
             (SELECT count(*) FROM orders) - count(*) AS retained
      FROM orders WHERE o_custkey IN (SELECT user_id FROM dl)
    )
    SELECT 'events' AS table_name, CAST(purged AS BIGINT) AS n_purged,
           CAST(retained AS BIGINT) AS n_retained FROM ev
    UNION ALL
    SELECT 'customer', CAST(purged AS BIGINT), CAST(retained AS BIGINT) FROM cu
    UNION ALL
    SELECT 'orders', CAST(purged AS BIGINT), CAST(retained AS BIGINT) FROM od
    """,
    doc="U10 RIGHT-TO-BE-FORGOTTEN DELETE PROPAGATION: a deletion list "
    "(every ~97th user) is swept across the three tables that key on the "
    "subject — events by user_id, customer by custkey, orders by the "
    "customer FK — and the audit reports exact purge/retain counts per "
    "table, the evidence record a GDPR/CCPA erasure run must produce "
    "BEFORE the destructive rewrite executes.  Shape: the deletion list "
    "is id-only and BROADCAST; each table answers with one semi-join "
    "count + one total count fused into the same scan — at 100 TB each "
    "table is read once, and the rewrite this plans (anti-join + "
    "per-tenant commit) is ParquetStateStore.delete_subjects in "
    "operators/persist.py.  Completes the privacy family: "
    "privacy_k_anonymity measures disclosure risk, this executes the "
    "subject's remedy.",
)
def u10_delete_propagation(spark, sf_dir):
    dl = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") % 97 == 3)
        .select("user_id")
        .distinct()
    )
    out = []
    for tname, key in (("events", "user_id"), ("customer", "c_custkey"), ("orders", "o_custkey")):
        t = _t(spark, sf_dir, tname)
        hit = t.join(F.broadcast(dl), t[key] == dl["user_id"], "left_semi").agg(
            F.count(F.lit(1)).alias("n_purged")
        )
        tot = t.agg(F.count(F.lit(1)).alias("n_total"))
        out.append(
            hit.crossJoin(tot).select(
                F.lit(tname).alias("table_name"),
                "n_purged",
                (F.col("n_total") - F.col("n_purged")).alias("n_retained"),
            )
        )
    r = out[0]
    for q in out[1:]:
        r = r.unionByName(q)
    return r


# ---------------------------------------------------------------------------
# streaming twin of the debounce (stateful, applyInPandasWithState)
# ---------------------------------------------------------------------------


@register(
    "stream_debounce",
    sql="""
    WITH g AS (
      SELECT user_id, event_type, epoch_us(ts) AS t,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts) AS prev
      FROM events
    )
    SELECT user_id, event_type, t AS ts_us
    FROM g WHERE prev IS NULL OR t - prev > 60000000
    """,
    doc="STREAMING DEBOUNCE (§2.12, the stateful twin of "
    "ts_event_debounce): applyInPandasWithState keyed by (user, event "
    "type) holding ONE int64 of state — the last seen event time — emits "
    "exactly the events the batch lag() pass keeps.  Source written as "
    "ONE file so availableNow is a single deterministic batch; the "
    "emitted row SET is tie-invariant (equal-timestamp events keep "
    "exactly one representative whichever arrives first), so the batch "
    "window oracle hash-checks the streaming operator — the batch==stream "
    "proof for the de-noising pass.  State is O(active keys) at any "
    "stream volume (streaming/pipeline.debounce_stream).",
)
def stream_debounce(spark, sf_dir):
    import tempfile
    import uuid

    from ..streaming.pipeline import debounce_stream

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    d = tempfile.mkdtemp(prefix="stream_deb_")
    ev.coalesce(1).write.mode("overwrite").parquet(f"{d}/src")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/src")
    out = debounce_stream(stream, gap_seconds=60)
    name = f"deb_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("user_id", "event_type", "ts_us")


# ---------------------------------------------------------------------------
# label-propagation communities over the near-duplicate graph
# ---------------------------------------------------------------------------


def _lpa_oracle() -> str:
    from ..operators.graph import label_propagation_oracle_sql
    from .registry_scale import _pairs_cte

    return label_propagation_oracle_sql(_pairs_cte(), rounds=2)


@register(
    "graph_label_propagation",
    sql=_lpa_oracle(),
    doc="LABEL-PROPAGATION COMMUNITIES (Raghavan et al. 2007) over the "
    "minhash-LSH near-duplicate graph: 2 synchronous rounds of "
    "majority-vote label adoption with a deterministic (count desc, "
    "label asc) tie-break, so the community assignment is a pure "
    "function of the graph — the float-free LPA that usually cannot be "
    "oracle-checked.  Distinct from dedup_cc_clusters (min-propagation "
    "merges everything reachable; majority voting splits chains at weak "
    "cuts) and graph_pagerank (centrality, not membership).  Shape per "
    "round: one O(edges)-to-O(nodes) join + one (node, label) count + "
    "one per-node rank<=1, labels localCheckpointed per round (the "
    "pagerank discipline — round r+1 never re-runs round r's lineage).  "
    "Oracle unrolls both rounds as chained CTEs "
    "(operators/graph.label_propagation).",
)
def graph_label_propagation(spark, sf_dir):
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.graph import label_propagation

    pairs = minhash_lsh_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", bands=4, rows=4)
    return label_propagation(pairs, "doc_a", "doc_b", rounds=2)


# ---------------------------------------------------------------------------
# SQL front door: running totals + share-of-running via window text
# ---------------------------------------------------------------------------

_SQL_RUNNING = """
    WITH daily AS (
      SELECT {epoch_us}(date_trunc('day', ts)) AS day_us,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM {events} GROUP BY 1
    )
    SELECT day_us, CAST(cents AS BIGINT) AS day_cents,
           CAST(sum(cents) OVER (ORDER BY day_us
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS running_cents,
           CAST(sum(cents) OVER (ORDER BY day_us
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                {div} count(*) OVER (ORDER BY day_us
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ma7_cents_floor
    FROM daily
"""


@register(
    "sql_running_total",
    sql=_SQL_RUNNING.format(events="events", epoch_us="epoch_us", div="//"),
    doc="The SQL FRONT DOOR, window-function edition (completing the trio "
    "with sql_topn_hours' rank and sql_pivot_daily's PIVOT): spark.sql() "
    "text computes the daily running revenue total and a trailing 7-day "
    "moving average over the aggregated daily frame — running windows in "
    "SQL text plan identically to the DataFrame API's (one partial agg "
    "-> one exchange -> Window on O(days) rows).  the moving average is sum div "
    "count over the SAME frame — avg() would route through DOUBLE and "
    "drift an ulp between engines (measured: the first cut hash-"
    "mismatched), integer division cannot.",
)
def sql_running_total(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_sqlrt_v")
    return spark.sql(
        _SQL_RUNNING.format(events="events_sqlrt_v", epoch_us="unix_micros", div="div")
    )
