"""Round-4 quality/maintenance batch: snapshot diff, incremental join-MV
maintenance, a Deequ/dbt-style expectations report, log-free per-document
keyword extraction, and a hostile-content JSONL round trip.

All queries follow the registry's cross-engine determinism conventions
(integer/ppm arithmetic, sha256-only hashing, total tiebreaks — see
plans/registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .registry import _t, register
from ..functions.materialize import materialize

PPM = 1_000_000

# ---------------------------------------------------------------------------
# U8: snapshot diff
# ---------------------------------------------------------------------------


@register(
    "u8_snapshot_diff",
    sql="""
    WITH a AS (
      SELECT event_id AS k, CAST(floor(value * 100) AS BIGINT) AS v
      FROM events WHERE event_id % 17 <> 0
    ),
    b AS (
      SELECT event_id AS k,
             CAST(floor(value * 100) AS BIGINT)
               + CASE WHEN event_id % 23 = 0 THEN 100 ELSE 0 END AS v
      FROM events WHERE event_id % 19 <> 0
    ),
    j AS (
      SELECT coalesce(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.v <> b.v THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT change, count(*) AS n, min(k) AS key_min, max(k) AS key_max
    FROM j GROUP BY change
    """,
    doc="U8 SNAPSHOT DIFF (operators/maintenance.snapshot_diff): two event "
    "snapshots (divergent row sets + revised values) classified "
    "added/removed/changed/unchanged off ONE full-outer key join — the "
    "audit/CDC-validation/backfill-scoping primitive.  Classification and "
    "the per-class rollup are map-side on top of the join; output is "
    "O(#classes).  Values compared in exact floor-cents int64.",
)
def u8_snapshot_diff(spark, sf_dir):
    from ..operators.maintenance import snapshot_diff

    ev = _t(spark, sf_dir, "events")
    vc = F.expr("CAST(floor(value * 100) AS BIGINT)")
    a = ev.where(F.col("event_id") % 17 != 0).select("event_id", vc.alias("v"))
    b = ev.where(F.col("event_id") % 19 != 0).select(
        "event_id",
        (vc + F.when(F.col("event_id") % 23 == 0, F.lit(100)).otherwise(F.lit(0))).alias("v"),
    )
    return snapshot_diff(a, b, "event_id", "v")


# ---------------------------------------------------------------------------
# U9: incremental join-MV maintenance
# ---------------------------------------------------------------------------


@register(
    "u9_incremental_join_mv",
    sql="""
    SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment AS segment,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="U9 incremental JOIN-MV maintenance (operators/maintenance."
    "incremental_join_mv): a stored orders-customer MV holds STALE prices "
    "for the 1-in-101 delta keys; maintenance evicts those keys with a "
    "BROADCAST anti-join and unions the re-enriched delta (delta side "
    "broadcast into the dimension join) — history never reshuffles to "
    "apply a 1% delta, the join twin of u5_incremental_agg's algebraic "
    "partial merge.  The oracle RECOMPUTES the join from scratch with true "
    "prices: hash equality is the maintenance-correctness proof.",
)
def u9_incremental_join_mv(spark, sf_dir):
    from ..operators.maintenance import incremental_join_mv

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    is_delta = F.col("o_orderkey") % 101 == 0
    stale = orders.select(
        "o_orderkey",
        "o_custkey",
        (cents - F.when(is_delta, F.lit(50)).otherwise(F.lit(0))).alias("price_cents"),
    )
    mv_base = stale.join(cust, stale["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "c_custkey", F.col("c_mktsegment").alias("segment"), "price_cents"
    )
    delta = orders.where(is_delta).select(
        "o_orderkey", "o_custkey", cents.alias("price_cents")
    )
    dim = cust.select("c_custkey", F.col("c_mktsegment").alias("segment"))
    return incremental_join_mv(
        mv_base.select("o_orderkey", "c_custkey", "segment", "price_cents"),
        delta,
        dim,
        "o_orderkey",
        "o_custkey",
        "c_custkey",
    )


# ---------------------------------------------------------------------------
# expectations: the dbt-tests / Deequ constraint suite as one report
# ---------------------------------------------------------------------------


@register(
    "profile_expectations",
    sql="""
    WITH checks AS (
      SELECT 'orders_pk_unique' AS check_name,
             (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS metric
      UNION ALL
      SELECT 'customer_name_not_null',
             (SELECT count(*) FROM customer WHERE c_name IS NULL)
      UNION ALL
      SELECT 'orders_status_in_o_f',
             (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O','F'))
      UNION ALL
      SELECT 'lineitem_qty_1_to_50',
             (SELECT count(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50)
      UNION ALL
      SELECT 'lineitem_fk_orders',
             (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    )
    SELECT check_name, CAST(metric AS BIGINT) AS metric,
           CASE WHEN metric = 0 THEN 'pass' ELSE 'fail' END AS status
    FROM checks ORDER BY check_name
    """,
    doc="EXPECTATIONS REPORT — the dbt-tests / AWS-Deequ constraint suite "
    "(unique key, not-null, accepted values, range, relationship) evaluated "
    "as ONE engine query: each table scanned once with conditional "
    "aggregates (three orders checks share a scan), the referential check "
    "is a left-anti count, and the five 1-row frames union into the "
    "(check, metric, pass/fail) report.  Includes a deliberately failing "
    "check (status domain {O,F} while the data carries P) so the fail path "
    "is exercised, not just asserted.",
)
def profile_expectations(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    o_checks = orders.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("orders_pk_unique"),
        F.sum((~F.col("o_orderstatus").isin("O", "F")).cast("long")).alias("orders_status_in_o_f"),
    )
    c_checks = cust.agg(F.sum(F.col("c_name").isNull().cast("long")).alias("customer_name_not_null"))
    l_checks = li.agg(
        F.sum(((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")).alias("lineitem_qty_1_to_50")
    )
    fk = (
        li.join(orders.select("o_orderkey"), li["l_orderkey"] == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("lineitem_fk_orders"))
    )
    wide = o_checks.crossJoin(c_checks).crossJoin(l_checks).crossJoin(fk)
    names = [
        "customer_name_not_null",
        "lineitem_fk_orders",
        "lineitem_qty_1_to_50",
        "orders_pk_unique",
        "orders_status_in_o_f",
    ]
    stack = ", ".join(f"'{n}', {n}" for n in names)
    return (
        wide.select(F.expr(f"stack({len(names)}, {stack}) AS (check_name, metric)"))
        .select(
            "check_name",
            F.col("metric").cast("long").alias("metric"),
            F.when(F.col("metric") == 0, F.lit("pass")).otherwise(F.lit("fail")).alias("status"),
        )
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# text: per-document keyword extraction (log-free tf-idf surrogate)
# ---------------------------------------------------------------------------


@register(
    "text_doc_keywords",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      FROM documents
    ),
    tf AS (
      SELECT doc_id, t, count(*) AS tf FROM tok WHERE length(t) >= 3
      GROUP BY doc_id, t
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    nd AS (SELECT count(*) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.t AS term, tf.tf,
             CAST((tf.tf * nd.nd * {PPM}) // dfreq.df AS BIGINT) AS score_ppm
      FROM tf JOIN dfreq ON tf.t = dfreq.t CROSS JOIN nd
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_ppm DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf, score_ppm FROM ranked WHERE rn <= 3
    """,
    doc="Per-document KEYWORD extraction: top-3 terms by the log-free "
    "tf-idf surrogate score_ppm = tf * N * 1e6 div df — same ranking as "
    "tf * (N/df) but exact int64, so every rank position is "
    "engine-reproducible (log-based idf would hash-drift in the last ulp).  "
    "Shape: explode -> partial-aggregated (doc,term) tf -> vocabulary-sized "
    "df aggregate joined back on the term (shuffle-hash: both sides "
    "aggregation-descended) -> per-doc WindowGroupLimit rank<=3 with a "
    "total (score desc, term asc) tiebreak.  The keyword sidecar a search/"
    "RAG corpus ships with each document.",
)
def text_doc_keywords(spark, sf_dir):
    from ..functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t")).where(
        F.length("t") >= 3
    )
    # checkpointed: the df aggregation and the scoring join both consume tf
    # — un-materialized, each re-ran the corpus tokenize + explode +
    # aggregate (2 full passes; round-10, same fix as search.index_build)
    tf = (
        tok.groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(materialize)
    )
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    # df is vocabulary-sized and aggregation-descended: Spark's static
    # estimate would broadcast it (the SCALE.md §11 failure) — pin the
    # term join to shuffle-hash
    scored = (
        tf.join(dfreq.hint("shuffle_hash"), "t")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.col("t").alias("term"),
            "tf",
            F.expr(f"(tf * nd * {PPM}) div df").alias("score_ppm"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score_ppm").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "score_ppm")
    )


# ---------------------------------------------------------------------------
# IO: hostile-content JSONL round trip (nested struct + escapes)
# ---------------------------------------------------------------------------


@register(
    "io_jsonl_roundtrip",
    sql="""
    SELECT doc_id,
           text || chr(34) || chr(92) || chr(10) || chr(9)
                || coalesce(lang, '') AS hostile,
           lang AS m_lang, n_chars AS m_chars,
           length(text) AS t_len
    FROM documents WHERE doc_id < 2000
    """,
    doc="JSONL ROUND TRIP under hostile content: every document gets a "
    "double quote, a backslash, a newline, and a tab appended — the four "
    "characters JSON must escape — plus a NESTED struct column, written "
    "through Spark's JSON-lines writer and read back with an explicit "
    "schema.  The oracle computes the same strings and struct fields "
    "directly (no file IO): a lossless round trip hash-matches, any "
    "escaping or nested-field bug cannot.  Completes the format-fidelity "
    "triangle with io_csv_roundtrip (text/quoting) and io_orc_roundtrip "
    "(columnar).",
)
def io_jsonl_roundtrip(spark, sf_dir):
    import tempfile as _tf

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    hostile = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit('"\\\n\t'), F.coalesce(F.col("lang"), F.lit(""))
        ).alias("hostile"),
        F.struct(F.col("lang"), F.col("n_chars")).alias("meta"),
        F.length("text").cast("long").alias("t_len"),
    )
    d = _tf.mkdtemp(prefix="jsonl_rt_")
    hostile.write.mode("overwrite").json(f"{d}/docs_jsonl")
    back = spark.read.schema(
        "doc_id long, hostile string, meta struct<lang:string,n_chars:long>, t_len long"
    ).json(f"{d}/docs_jsonl")
    return back.select(
        "doc_id",
        "hostile",
        F.col("meta.lang").alias("m_lang"),
        F.col("meta.n_chars").alias("m_chars"),
        "t_len",
    )


# ---------------------------------------------------------------------------
# G30: cardinality-capped rollup (top-k per group + OTHER bucket)
# ---------------------------------------------------------------------------


@register(
    "g30_topk_other_rollup",
    sql="""
    WITH per_cust AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey AS ck, count(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT segment, ck, n,
             row_number() OVER (PARTITION BY segment
                                ORDER BY n DESC, ck) AS rn
      FROM per_cust
    )
    SELECT segment,
           CASE WHEN rn <= 3 THEN CAST(ck AS VARCHAR) ELSE 'OTHER' END AS who,
           CAST(sum(n) AS BIGINT) AS n_orders,
           count(*) AS n_members
    FROM ranked GROUP BY 1, 2
    """,
    doc="Cardinality-capped dashboard rollup: per market segment the top-3 "
    "customers by order count stay named, everything else folds into one "
    "OTHER bucket — the standard move that keeps a grouped result set "
    "BOUNDED (k+1 rows per group) no matter how many distinct members the "
    "data grows at 100 TB.  Shape: one (segment, customer) partial-agg "
    "shuffle, a per-segment rank window REUSING that partitioning, then the "
    "k+1 regroup; total (count desc, key) tiebreak keeps every rank "
    "engine-reproducible.",
)
def g30_topk_other_rollup(spark, sf_dir):
    # the OTHER bucket comes from SUBTRACTION (segment totals minus the
    # top-3 slice), not from labeling every member row through a rank
    # window: a `CASE WHEN rn <= 3` over all rows defeats Spark's
    # WindowGroupLimit rewrite and full-sorts each segment's entire member
    # list — at 100 TB that is |customers|/|segments| rows per sort task.
    # With a bare rank<=k filter the window runs as per-partition size-3
    # heaps (plan-tested below), and the totals are one partial-aggregable
    # groupBy.
    from pyspark.sql import Window as _W

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per_cust = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("o_custkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = _W.partitionBy("segment").orderBy(F.col("n").desc(), F.col("ck"))
    top3 = per_cust.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    named = top3.select(
        "segment", F.col("ck").cast("string").alias("who"),
        F.col("n").alias("n_orders"), F.lit(1).cast("long").alias("n_members"),
    )
    totals = per_cust.groupBy("segment").agg(
        F.sum("n").alias("tot_n"), F.count(F.lit(1)).alias("tot_m")
    )
    top_sums = top3.groupBy("segment").agg(
        F.sum("n").alias("top_n"), F.count(F.lit(1)).alias("top_m")
    )
    other = (
        totals.join(F.broadcast(top_sums), "segment")
        .where(F.col("tot_m") > F.col("top_m"))
        .select(
            "segment",
            F.lit("OTHER").alias("who"),
            (F.col("tot_n") - F.col("top_n")).alias("n_orders"),
            (F.col("tot_m") - F.col("top_m")).alias("n_members"),
        )
    )
    return named.unionByName(other)


# ---------------------------------------------------------------------------
# G31: heavy hitters via two-phase bucket pruning
# ---------------------------------------------------------------------------

_HH_THRESHOLD = 40
_HH_BUCKETS = 1024


@register(
    "g31_heavy_hitters",
    sql=f"""
    SELECT l_partkey AS key, count(*) AS n
    FROM lineitem GROUP BY l_partkey HAVING count(*) >= {_HH_THRESHOLD}
    """,
    doc="Heavy hitters by TWO-PHASE bucket pruning: phase 1 counts the "
    f"{_HH_BUCKETS} hash buckets of the key (a bounded-size aggregate no "
    "matter the key cardinality), phase 2 exact-counts ONLY rows whose "
    "bucket total reached the threshold (broadcast semi-join on the hot "
    "bucket list).  Sound because bucket_count >= key_count — a heavy key "
    "can never hide in a cold bucket (no false negatives; false-positive "
    "buckets just do extra exact work).  At 100 TB this turns a "
    "full-key-cardinality shuffle into a bounded bucket agg + a shuffle of "
    "only the candidate rows.  Honest caveat: pruning has POWER only while "
    "threshold >> total_rows/buckets (else every bucket is hot and phase 2 "
    "degenerates to the naive aggregation — still correct, never worse); "
    "deploying at larger n means scaling the threshold or the bucket "
    "count with it.  The oracle is the naive full GROUP BY HAVING — "
    "equality proves the pruning lossless.",
)
def g31_heavy_hitters(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("key"))
    bucketed = li.withColumn("bk", F.col("key") % _HH_BUCKETS)
    hot = (
        bucketed.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") >= _HH_THRESHOLD)
        .select("bk")
    )
    return (
        bucketed.join(F.broadcast(hot), "bk", "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= _HH_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# ML prep: winsorized aggregation (clamp at exact rank percentiles)
# ---------------------------------------------------------------------------


@register(
    "ml_winsorize_agg",
    sql="""
    WITH c AS (
      SELECT l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             l_orderkey * 10 + l_linenumber AS rid
      FROM lineitem
    ),
    r AS (
      SELECT flag, cents,
             row_number() OVER (PARTITION BY flag ORDER BY cents, rid) AS rn,
             count(*) OVER (PARTITION BY flag) AS n
      FROM c
    ),
    b AS (
      SELECT flag, cents, rn, n,
             max(CASE WHEN rn = greatest(1, n // 10) THEN cents END)
               OVER (PARTITION BY flag) AS lo,
             max(CASE WHEN rn = n - greatest(1, n // 10) + 1 THEN cents END)
               OVER (PARTITION BY flag) AS hi
      FROM r
    )
    SELECT flag, CAST(max(n) AS BIGINT) AS n,
           max(lo) AS lo_cents, max(hi) AS hi_cents,
           CAST(sum(least(greatest(cents, lo), hi)) AS BIGINT) AS wsum_cents
    FROM b GROUP BY flag
    """,
    doc="WINSORIZED aggregation — the ML-feature-prep clamp: per return "
    "flag, prices below the exact rank-P10 value (rank = max(1, n div 10)) "
    "or above the mirrored rank-P90 value are CLAMPED to the bound, then "
    "summed — robust location without discarding rows (g24_trimmed_mean "
    "drops the tails; winsorizing keeps their count weight).  Rank bounds "
    "are order statistics (value at rank r = min v with cumcount(v) >= r), "
    "so both engines pick bit-identical bounds.  Shape: the SCALE.md §16 "
    "histogram rule — ONE partial-aggregable (group, value) count, the "
    "cumulative window runs over the AGGREGATED value histogram (|distinct "
    "values| rows per group, never a 3-partition row-level window over the "
    "raw data), the 3-row bounds broadcast back, and the clamp+sum is "
    "map-side into the closing aggregate.  The oracle derives the same "
    "bounds from the raw row-level rank window — two constructions, one "
    "hash.",
)
def ml_winsorize_agg(spark, sf_dir):
    from pyspark.sql import Window as _W

    li = _t(spark, sf_dir, "lineitem")
    c = li.select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    hist = c.groupBy("flag", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = _W.partitionBy("flag").orderBy("cents").rowsBetween(_W.unboundedPreceding, 0)
    wall = _W.partitionBy("flag")
    h = hist.select(
        "flag",
        "cents",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    lo_rank = F.greatest(F.lit(1), F.expr("n div 10"))
    hi_rank = F.col("n") - F.greatest(F.lit(1), F.expr("n div 10")) + 1
    bounds = h.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") >= lo_rank, F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("cum") >= hi_rank, F.col("cents"))).alias("hi"),
    )
    # clamp+sum off the HISTOGRAM, not the raw rows: sum(clamp(cents)) over
    # rows == sum(cnt * clamp(cents)) over the (flag, cents) histogram, so
    # the second corpus scan the row-level form paid (lineitem read twice;
    # round-10 plan showed two parquet scans) collapses into the one
    # histogram pass — the closing aggregate now runs over |distinct cents|
    # rows and the shared hist subtree is exchange-reused (guide §2.4).
    return (
        hist.join(F.broadcast(bounds), "flag")
        .groupBy("flag")
        .agg(
            F.max("n").alias("n"),
            F.max("lo").alias("lo_cents"),
            F.max("hi").alias("hi_cents"),
            F.sum(
                F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")) * F.col("cnt")
            ).alias("wsum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# profile: freshness / timeliness check
# ---------------------------------------------------------------------------

_FRESH_SLA_US = 6 * 3600 * 1_000_000


@register(
    "profile_freshness",
    sql=f"""
    WITH per_type AS (
      SELECT event_type, max(epoch_us(ts)) AS last_us FROM events GROUP BY 1
    ),
    g AS (SELECT max(last_us) AS wm FROM per_type)
    SELECT event_type, last_us, g.wm - last_us AS staleness_us,
           CASE WHEN g.wm - last_us > {_FRESH_SLA_US} THEN 'stale' ELSE 'fresh' END AS status
    FROM per_type CROSS JOIN g
    """,
    doc="FRESHNESS / timeliness check — the data-quality dimension the "
    "expectations report doesn't cover: per event type the newest event "
    "time, its lag behind the global watermark, and a 6h-SLA status.  One "
    "partial-aggregable max per type (O(#types) rows) + a 1-row watermark "
    "broadcast; at 100 TB this is a statistics-only pass on any store that "
    "keeps per-file max(ts) (the zone-map companion of "
    "layout_zonemap_prune).",
)
def profile_freshness(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(F.max(F.unix_micros("ts")).alias("last_us"))
    wm = per_type.agg(F.max("last_us").alias("wm"))
    return per_type.crossJoin(F.broadcast(wm)).select(
        "event_type",
        "last_us",
        (F.col("wm") - F.col("last_us")).alias("staleness_us"),
        F.when(F.col("wm") - F.col("last_us") > _FRESH_SLA_US, F.lit("stale"))
        .otherwise(F.lit("fresh"))
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# layout: dynamic partition pruning
# ---------------------------------------------------------------------------


@register(
    "layout_dpp_join",
    sql="""
    WITH dim AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS smonth,
             CASE WHEN strftime(o_orderdate, '%Y-%m') LIKE '%-03' THEN 1 ELSE 0 END AS pick
      FROM orders
    )
    SELECT strftime(l_shipdate, '%Y-%m') AS smonth,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS sum_cents,
           count(*) AS n
    FROM lineitem
    JOIN dim ON dim.smonth = strftime(l_shipdate, '%Y-%m') AND dim.pick = 1
    GROUP BY 1
    """,
    doc="DYNAMIC PARTITION PRUNING (operators/bucketing.dpp_month_join): "
    "lineitem written partitionBy(ship month) once, joined to an "
    "orders-derived month dim filtered to March months — the fact scan's "
    "PartitionFilters carries a dynamicpruningexpression subquery "
    "(plan-tested), so only the dim-selected months' files open.  THE "
    "run-time companion of static partition pruning: at 100 TB a "
    "date-partitioned fact joined to a filtered dim reads only the "
    "surviving partitions, and the filter month set is discovered from the "
    "dim at execution, not compile, time.  The oracle joins the raw tables "
    "directly — layout must change the PLAN, never the rows.",
)
def layout_dpp_join(spark, sf_dir):
    import tempfile as _tf

    from ..operators.bucketing import dpp_month_join

    li = _t(spark, sf_dir, "lineitem")
    fact = li.select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.date_format("l_shipdate", "yyyy-MM").alias("smonth"),
    )
    dim = (
        _t(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("smonth"))
        .distinct()
        .withColumn("pick", F.col("smonth").endswith("-03").cast("int"))
    )
    return dpp_month_join(spark, fact, dim, _tf.mkdtemp(prefix="dpp_"))


# ---------------------------------------------------------------------------
# multimodal: AVI/RIFF video container walk
# ---------------------------------------------------------------------------


@register(
    "mm_avi_info",
    sql="""
    WITH vid AS (
      SELECT doc_id, 32 + doc_id % 48 AS w, 24 + doc_id % 36 AS h,
             1 + doc_id % 10 AS n, 33366 + doc_id % 1000 AS uspf
      FROM documents WHERE doc_id < 800
    ),
    d AS (
      SELECT doc_id,
             CAST(sum(8 + 2 * (i % 3)) AS BIGINT) AS movi_bytes
      FROM (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM vid)
      GROUP BY doc_id
    )
    SELECT vid.doc_id AS id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(n AS INT) AS total_frames, CAST(uspf AS BIGINT) AS us_per_frame,
           CAST(n AS INT) AS n_movi_chunks, d.movi_bytes
    FROM vid JOIN d ON vid.doc_id = d.doc_id
    """,
    doc="AVI/RIFF VIDEO container walk on REAL bytes — the video-modality "
    "probe completing the image (PNG/TIFF) / audio (WAV) / animation (GIF) "
    "triangle: synth_avi emits complete RIFF trees (avih main header, "
    "strh/strf stream headers, per-frame '00dc' movi chunks with true size "
    "fields) and avi_info walks the chunk tree — descending LISTs by type, "
    "honoring RIFF word alignment, counting video-data chunks and summing "
    "their sizes without decoding (operators/multimodal.avi_container_info)."
    "  The oracle predicts every field arithmetically, so a tree-walk bug "
    "cannot hash-match.  Map-only at any scale.",
)
def mm_avi_info(spark, sf_dir):
    from ..operators.multimodal import avi_container_info, synth_avi

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 800)
    d = F.col("doc_id")
    media = docs.select(
        "doc_id",
        synth_avi(
            F.lit(32) + d % 48,
            F.lit(24) + d % 36,
            F.lit(1) + d % 10,
            F.lit(33366) + d % 1000,
        ).alias("payload"),
    )
    return avi_container_info(media, "doc_id", "payload")


# ---------------------------------------------------------------------------
# streaming: M4 downsampling as a watermarked streaming aggregation
# ---------------------------------------------------------------------------


@register(
    "stream_m4_windowed",
    sql="""
    WITH b AS (
      SELECT event_type AS series, epoch_us(ts) AS tus, event_id AS rid,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    r AS (
      SELECT series, tus // 21600000000 AS bucket, tus, vc,
             row_number() OVER (PARTITION BY series, tus // 21600000000
                                ORDER BY tus, vc) AS rn_a,
             row_number() OVER (PARTITION BY series, tus // 21600000000
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
    """,
    doc="§2.12 streaming M4: the ts_m4_downsample aggregate executed as a "
    "Structured Streaming job (file source, availableNow, complete mode) — "
    "the DECIMAL(38,0)-packed first/last (same ts·10^13+value atom and "
    "(ts, value) tie order as the batch operator, operators/sequences.py) "
    "survive streaming state because min/max over one fixed-width atom are "
    "ordinary mergeable aggregates, so the live dashboard M4 equals the "
    "batch M4 bit-for-bit (the oracle is the batch derivation).  The "
    "telemetry pipeline's read path and its backfill provably agree.",
)
def stream_m4_windowed(spark, sf_dir):
    import tempfile as _tf
    import uuid as _uuid

    ev = _t(spark, sf_dir, "events")
    d = _tf.mkdtemp(prefix="stream_m4_")
    ev.write.mode("overwrite").parquet(f"{d}/src")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/src")
    OFF, K = 5_000_000_000_000, 10_000_000_000_000
    b = stream.select(
        F.col("event_type").alias("series"),
        F.unix_micros(F.col("ts")).alias("tus"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("vc"),
    ).withColumn("bucket", F.expr("tus div 21600000000"))
    packed = F.expr(f"CAST(tus AS DECIMAL(38,0)) * {K} + (vc + {OFF})")
    agg = b.groupBy("series", "bucket").agg(
        F.min(packed).alias("pf"),
        F.max(packed).alias("pl"),
        F.min("vc").alias("v_min_c"),
        F.max("vc").alias("v_max_c"),
        F.count(F.lit(1)).alias("n"),
    )
    name = f"sm4_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    from ..functions.packing import unpack_hi, unpack_lo

    return spark.table(name).select(
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


# ---------------------------------------------------------------------------
# sampling: exact Neyman stratified allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


@register(
    "sample_neyman_alloc",
    sql=f"""
    WITH s AS (
      SELECT l_returnflag AS flag, l_linestatus AS status,
             CAST(count(*) AS HUGEINT) AS nh,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) AS sx,
             sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
                 * CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)) AS sxx
      FROM lineitem GROUP BY 1, 2
    ),
    v AS (
      SELECT flag, status, nh,
             CAST(floor(sqrt(CAST((nh * sxx - sx * sx) // (nh * nh) AS DOUBLE))) AS HUGEINT) AS sh
      FROM s
    ),
    w AS (
      SELECT flag, status, nh, sh, nh * sh AS wh,
             (SELECT sum(nh * sh) FROM v) AS wtot
      FROM v
    ),
    fl AS (
      SELECT flag, status, nh, sh,
             ({_NEYMAN_BUDGET} * wh) // wtot AS base,
             ({_NEYMAN_BUDGET} * wh) % wtot AS rem
      FROM w
    ),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, flag, status) AS rr,
             (SELECT {_NEYMAN_BUDGET} - sum(base) FROM fl) AS leftover
      FROM fl
    )
    SELECT flag, status, CAST(nh AS BIGINT) AS nh, CAST(sh AS BIGINT) AS sh,
           CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM rk
    """,
    doc="EXACT Neyman stratified-sampling allocation (survey-optimal: "
    f"n_h proportional to N_h * S_h) of a {_NEYMAN_BUDGET}-row budget across the "
    "(returnflag, linestatus) strata: per-stratum variance from one "
    "decimal(38) power-sum scan, S_h = floor(sqrt(variance)) — IEEE sqrt "
    "is correctly rounded and the operand is < 2^53, so both engines floor "
    "the SAME double — and the largest-remainder method settles the "
    "integer seats with a total (remainder desc, stratum) tiebreak.  One "
    "scan + one 6-row window; the allocation the stratified sampler "
    "(sample_stratified) should be fed at 100 TB instead of equal rates.",
)
def sample_neyman_alloc(spark, sf_dir):
    from pyspark.sql import Window as _W

    li = _t(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    d38 = "decimal(38,0)"
    s = li.select(
        F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status"), cents.alias("c")
    ).groupBy("flag", "status").agg(
        F.count(F.lit(1)).cast(d38).alias("nh"),
        F.sum(F.col("c").cast(d38)).alias("sx"),
        F.sum(F.col("c").cast(d38) * F.col("c").cast(d38)).alias("sxx"),
    )
    var = F.expr("(nh * sxx - sx * sx) div (nh * nh)")
    v = s.select(
        "flag",
        "status",
        "nh",
        F.floor(F.sqrt(var.cast("double"))).cast(d38).alias("sh"),
    )
    wtot = F.sum(F.expr("nh * sh")).over(_W.partitionBy())
    w = v.select(
        "flag",
        "status",
        "nh",
        "sh",
        F.expr("nh * sh").alias("wh"),
        wtot.alias("wtot"),
    )
    fl = w.select(
        "flag",
        "status",
        "nh",
        "sh",
        F.expr(f"({_NEYMAN_BUDGET} * wh) div wtot").alias("base"),
        F.expr(f"({_NEYMAN_BUDGET} * wh) % wtot").alias("rem"),
    )
    wp = _W.partitionBy()
    rk = fl.select(
        "flag",
        "status",
        "nh",
        "sh",
        "base",
        F.row_number().over(_W.orderBy(F.col("rem").desc(), F.col("flag"), F.col("status"))).alias("rr"),
        (F.lit(_NEYMAN_BUDGET) - F.sum("base").over(wp)).alias("leftover"),
    )
    return rk.select(
        "flag",
        "status",
        F.col("nh").cast("long").alias("nh"),
        F.col("sh").cast("long").alias("sh"),
        (F.col("base") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)).cast("long").alias("alloc"),
    )


# ---------------------------------------------------------------------------
# profile: JSON key/type inference via the VARIANT type
# ---------------------------------------------------------------------------

_JSON_CLASS_SPARK = """CASE
  WHEN st = 'BIGINT' THEN 'int'
  WHEN st = 'STRING' THEN 'string'
  WHEN st = 'BOOLEAN' THEN 'bool'
  WHEN st = 'DOUBLE' OR st LIKE 'DECIMAL%' THEN 'number'
  WHEN st LIKE 'ARRAY%' THEN 'array'
  WHEN st LIKE 'OBJECT%' OR st LIKE 'STRUCT%' THEN 'object'
  WHEN st = 'VOID' THEN 'null'
  ELSE 'other' END"""


@register(
    "profile_json_types",
    sql="""
    WITH src AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN '{"id": ' || doc_id || ', "name": "' || coalesce(lang, 'xx')
                         || '", "score": ' || (doc_id % 7) || '.5, "tags": [1,2], "active": true}'
               WHEN 1 THEN '{"id": ' || doc_id || ', "name": null, "score": ' || doc_id % 100 || '}'
               WHEN 2 THEN '{"id": "' || doc_id || '", "extra": {"a": 1}}'
               ELSE '{"id": ' || doc_id || ', "active": false, "tags": []}'
             END AS j
      FROM documents WHERE doc_id < 5000
    ),
    kv AS (
      SELECT k AS key, coalesce(json_type(j::JSON, '$.' || k), 'NULL') AS t
      FROM src, unnest(json_keys(j::JSON)) AS u(k)
    )
    SELECT key,
           CASE
             WHEN t IN ('UBIGINT', 'BIGINT') THEN 'int'
             WHEN t = 'VARCHAR' THEN 'string'
             WHEN t = 'BOOLEAN' THEN 'bool'
             WHEN t = 'DOUBLE' THEN 'number'
             WHEN t = 'ARRAY' THEN 'array'
             WHEN t = 'OBJECT' THEN 'object'
             WHEN t = 'NULL' THEN 'null'
             ELSE 'other' END AS vtype,
           count(*) AS n
    FROM kv GROUP BY 1, 2
    """,
    doc="JSON SCHEMA-DRIFT profiling via Spark's VARIANT type: payloads "
    "parse once with parse_json, LATERAL variant_explode yields (key, "
    "variant value) rows, and schema_of_variant classifies each value — "
    "the schema-on-read inference step semi-structured ingest runs before "
    "committing a table schema, and the drift monitor that catches a "
    "producer switching id from int to string (planted here: shape 2 does "
    "exactly that).  Both engines normalize their native type names to one "
    "canonical class set, so the comparison is engine-neutral.  Shape: "
    "map-side parse+explode into ONE partial-aggregable (key, type) "
    "count; output is vocabulary-sized.",
)
def profile_json_types(spark, sf_dir):
    import uuid as _uuid

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 5000)
    d = F.col("doc_id")
    j = (
        F.when(d % 4 == 0, F.concat(
            F.lit('{"id": '), d.cast("string"),
            F.lit(', "name": "'), F.coalesce(F.col("lang"), F.lit("xx")),
            F.lit('", "score": '), (d % 7).cast("string"),
            F.lit('.5, "tags": [1,2], "active": true}'),
        ))
        .when(d % 4 == 1, F.concat(
            F.lit('{"id": '), d.cast("string"),
            F.lit(', "name": null, "score": '), (d % 100).cast("string"), F.lit("}"),
        ))
        .when(d % 4 == 2, F.concat(
            F.lit('{"id": "'), d.cast("string"), F.lit('", "extra": {"a": 1}}'),
        ))
        .otherwise(F.concat(
            F.lit('{"id": '), d.cast("string"), F.lit(', "active": false, "tags": []}'),
        ))
    )
    name = f"json_src_{_uuid.uuid4().hex[:8]}"
    docs.select(j.alias("j")).createOrReplaceTempView(name)
    return spark.sql(f"""
      SELECT key, {_JSON_CLASS_SPARK} AS vtype, count(*) AS n
      FROM (
        SELECT t.key, schema_of_variant(t.value) AS st
        FROM {name}, LATERAL variant_explode(parse_json(j)) AS t
      )
      GROUP BY key, vtype
    """)


# ---------------------------------------------------------------------------
# U11: snapshot time travel (versioned reads off the atomic snapshot store)
# ---------------------------------------------------------------------------


@register(
    "u11_time_travel",
    sql="""
    WITH e AS (
      SELECT event_id AS id, CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events WHERE event_id < 20000
    ),
    m AS (
      SELECT id, vc,
             CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END AS in1,
             CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END AS in2,
             CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END AS in3
      FROM e
    )
    SELECT 1 AS snap, count(*) AS n,
           CAST(sum(vc) AS BIGINT) AS sum_v,
           CAST(sum(in1) AS BIGINT) AS sum_ver
    FROM m WHERE in1 = 1
    UNION ALL
    SELECT 2, count(*),
           CAST(sum(CASE WHEN in2 = 1 THEN vc + 5 ELSE vc END) AS BIGINT),
           CAST(sum(in1 + in2) AS BIGINT)
    FROM m WHERE in1 = 1 OR in2 = 1
    UNION ALL
    SELECT 3, count(*),
           CAST(sum(CASE WHEN in3 = 1 THEN vc + 9
                         WHEN in2 = 1 THEN vc + 5 ELSE vc END) AS BIGINT),
           CAST(sum(in1 + in2 + in3) AS BIGINT)
    FROM m WHERE in1 = 1 OR in2 = 1 OR in3 = 1
    """,
    doc="U11 TIME TRAVEL: three deterministic batches merge into the "
    "versioned state store (operators/persist.ParquetStateStore: per-tenant "
    "commit directories + a manifest per version + POSIX-atomic pointer "
    "flip, the native stand-in for a Delta/Iceberg commit), then every "
    "historical version is read back "
    "via read(version=v) and summarized — row count, value mass, and the "
    "sum of per-entity VERSION counters, which count exactly how many "
    "batches touched each key.  The oracle reconstructs all three "
    "overlays arithmetically from the batch predicates, so a merge-order "
    "or snapshot-isolation bug cannot hash-match.  The lakehouse read "
    "path (AS OF semantics) the reference delegates to its store's "
    "backups.",
)
def u11_time_travel(spark, sf_dir):
    import tempfile as _tf

    from ..operators.persist import ParquetStateStore

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 20000)
    vc = F.expr("CAST(floor(value * 100) AS BIGINT)")

    def batch(pred, ik, delta):
        return ev.where(pred).select(
            F.lit("T").alias("tenantId"),
            F.lit("obs").alias("entityType"),
            F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("entityId"),
            F.lit(ik).alias("idempotencyKey"),
            # the store's observation layout sorts by (patientId, time)
            F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("patientId"),
            (vc + delta).alias("v_cents"),
            F.col("ts").alias("effectiveDateTime"),
        )

    store = ParquetStateStore(spark, _tf.mkdtemp(prefix="snap_tt_"))
    store.merge(batch(F.col("event_id") % 2 == 0, "b1", 0), "2024-02-01T00:00:00Z", order_col="effectiveDateTime")
    store.merge(batch(F.col("event_id") % 3 == 0, "b2", 5), "2024-02-02T00:00:00Z", order_col="effectiveDateTime")
    store.merge(batch(F.col("event_id") % 5 == 0, "b3", 9), "2024-02-03T00:00:00Z", order_col="effectiveDateTime")
    snaps = [
        store.read(version=v).agg(
            F.lit(v).alias("snap"),
            F.count(F.lit(1)).alias("n"),
            F.sum("v_cents").alias("sum_v"),
            F.sum("version").alias("sum_ver"),
        )
        for v in (1, 2, 3)
    ]
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# multimodal: MP4 / ISO-BMFF box walk
# ---------------------------------------------------------------------------


@register(
    "mm_mp4_boxes",
    sql="""
    SELECT doc_id AS id,
           'isom' AS brand,
           CAST(1000 + doc_id % 9000 AS BIGINT) AS timescale,
           CAST(30000 + doc_id % 60000 AS BIGINT) AS duration,
           CAST(1 + doc_id % 3 AS BIGINT) AS track_id,
           CAST(16 + doc_id % 128 AS INT) AS width,
           CAST(16 + (3 * doc_id) % 96 AS INT) AS height,
           CAST(3 AS INT) AS n_top_boxes,
           CAST(doc_id % 64 AS BIGINT) AS mdat_bytes
    FROM documents WHERE doc_id < 800
    """,
    doc="MP4/ISO-BMFF BOX WALK on REAL bytes — the BIG-endian container "
    "twin of mm_avi_info's little-endian RIFF walk, together covering "
    "both byte-order conventions video containers use: synth_mp4 emits "
    "spec-sized ftyp/moov(mvhd+trak(tkhd))/mdat trees with true box "
    "sizes, and mp4_info walks them — largesize (64-bit) and to-EOF "
    "boxes handled, moov/trak descended, 16.16 fixed-point track "
    "dimensions truncated to pixels, mdat payload bytes summed without "
    "touching sample data (operators/multimodal.mp4_container_info).  "
    "The oracle predicts every field arithmetically, so a walk bug "
    "cannot hash-match.  Map-only at any scale.",
)
def mm_mp4_boxes(spark, sf_dir):
    from ..operators.multimodal import mp4_container_info, synth_mp4

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 800)
    d = F.col("doc_id")
    media = docs.select(
        "doc_id",
        synth_mp4(
            F.lit(1000) + d % 9000,
            F.lit(30000) + d % 60000,
            F.lit(1) + d % 3,
            F.lit(16) + d % 128,
            F.lit(16) + (3 * d) % 96,
            d % 64,
        ).alias("payload"),
    )
    return mp4_container_info(media, "doc_id", "payload")


# ---------------------------------------------------------------------------
# IO: gzip-compressed JSONL round trip (the landing-zone codec)
# ---------------------------------------------------------------------------


@register(
    "io_jsonl_gzip_roundtrip",
    sql="""
    SELECT doc_id,
           text || chr(34) || chr(92) || chr(10) || coalesce(lang, '') AS hostile,
           lang, n_chars,
           length(text) AS t_len
    FROM documents WHERE doc_id < 2000
    """,
    doc="GZIP JSONL ROUND TRIP: the same hostile-content payload as "
    "io_jsonl_roundtrip written with codec=gzip and read back — landing "
    "zones overwhelmingly deliver .jsonl.gz, and the codec changes the "
    "split story (gzip is NOT splittable: one file = one task, so a 100 "
    "TB gzip landing must arrive as MANY files to parallelize — the "
    "docstring constraint this query exists to pin).  The write "
    "repartitions to 8 files so the read-back genuinely exercises "
    "multi-file parallelism over compressed parts.  Oracle computes the "
    "strings directly; a lossless codec round trip hash-matches.",
)
def io_jsonl_gzip_roundtrip(spark, sf_dir):
    import tempfile as _tf

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    hostile = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit('"\\\n'), F.coalesce(F.col("lang"), F.lit(""))).alias(
            "hostile"
        ),
        "lang",
        "n_chars",
        F.length("text").cast("long").alias("t_len"),
    )
    d = _tf.mkdtemp(prefix="jsonl_gz_")
    hostile.repartition(8).write.mode("overwrite").option("compression", "gzip").json(
        f"{d}/docs"
    )
    return spark.read.schema(hostile.schema).json(f"{d}/docs")


# ---------------------------------------------------------------------------
# multimodal: ZIP central-directory walk (trailer-directed)
# ---------------------------------------------------------------------------


@register(
    "mm_zip_central_dir",
    sql="""
    WITH z AS (
      SELECT doc_id, 1 + doc_id % 3 AS n FROM documents WHERE doc_id < 800
    ),
    e AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM z
    ),
    s AS (
      SELECT doc_id, max(n) AS n,
             sum(4 + (doc_id + i) % 8) AS usum,
             sum(30 + 2 + 4 + (doc_id + i) % 8) AS cd_off
      FROM e GROUP BY doc_id
    )
    SELECT doc_id AS id,
           CAST(n AS INT) AS n_entries,
           CAST(usum AS BIGINT) AS sum_usize,
           CAST(usum AS BIGINT) AS sum_csize,
           'f0' AS first_name,
           'f' || CAST(n - 1 AS VARCHAR) AS last_name,
           CAST(cd_off AS BIGINT) AS cd_offset
    FROM s
    """,
    doc="ZIP CENTRAL-DIRECTORY WALK on REAL bytes — the ARCHIVE genre, and "
    "the first TRAILER-DIRECTED parse in the multimodal family: unlike "
    "every header-first walk (PNG/TIFF/AVI/MP4/DICOM), ZIP's metadata "
    "lives at the END, so the walker scans the tail for the EOCD magic "
    "(comment-tolerant), reads the central-directory offset/count from "
    "it, and only then walks entries forward — exactly how HTTP-range "
    "readers list a remote archive without downloading it.  synth_zip "
    "emits complete STORED archives (true local-header offsets in every "
    "CD entry, true EOCD counts/sizes); the oracle predicts entry "
    "counts, size sums, names, and the CD offset arithmetically "
    "(operators/multimodal.zip_central_dir).  Map-only at any scale.",
)
def mm_zip_central_dir(spark, sf_dir):
    from ..operators.multimodal import synth_zip, zip_central_dir

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 800)
    d = F.col("doc_id")
    media = docs.select(
        "doc_id", synth_zip(d, (F.lit(1) + d % 3).cast("int")).alias("payload")
    )
    return zip_central_dir(media, "doc_id", "payload")
