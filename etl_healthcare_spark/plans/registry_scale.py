"""Registry batch: corpus-scale analytics operators — BM25 full-text
relevance, one-pass column profiling, HyperLogLog distinct sketches,
integer-space k-means clustering, exact z-score anomaly flags, and Z-order
layout keys.

Each is the kind of operator a 100 TB training-data pipeline leans on daily
(search/inspect/cluster/monitor/layout) and each keeps the repo-wide
determinism rules (registry.py header): integer or single-IEEE-op math only,
sha256 as the only hash, total tiebreak orders — so every one of them
hash-compares against its DuckDB twin, including the APPROXIMATE sketch
(the sketch's bits are defined by sha256, not by engine internals).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datasets import load_table
from ..functions.text import tokens
from ..operators.anomaly import zscore_flags, zscore_oracle_sql
from ..operators.bucketing import morton_key, morton_key_sql
from ..operators.clustering import (
    auto_cluster_count,
    kmeans_int8,
    kmeans_oracle_sql,
    semantic_keep,
    semantic_oracle_sql,
)
from ..operators.profile import profile_columns, profile_oracle_sql
from ..operators.search import bm25_oracle_sql, bm25_topk
from ..operators.sketch import A_LIT, M, RANK_CAP, hll_distinct, hll_oracle_sql
from .registry import register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


BM25_TERMS = ["spark", "merge", "customer", "window"]

PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


@register(
    "search_bm25",
    sql=bm25_oracle_sql(BM25_TERMS, k=15),
    doc="BM25 full-text relevance top-k over the documents corpus: per-doc "
    "term frequencies from the token array (map-only — no posting-list "
    "shuffle), one O(1)-row corpus-stats aggregate broadcast back, ln-free "
    "rational idf and fixed-association double sums so raw scores "
    "hash-compare (operators/search.py).",
)
def search_bm25(spark, sf_dir):
    return bm25_topk(_t(spark, sf_dir, "documents"), BM25_TERMS, k=15)


@register(
    "profile_table",
    sql=profile_oracle_sql("orders", PROFILE_COLS),
    doc="One-pass dataset profiling of the orders table: per-column "
    "null count, exact distinct, min/max in a single wide aggregate "
    "unpivoted via stack — the table is scanned once however many columns "
    "are profiled (operators/profile.py; exact multi-distinct costs an "
    "Expand — the HLL sketch is the one-pass-at-scale alternative).",
)
def profile_table(spark, sf_dir):
    return profile_columns(_t(spark, sf_dir, "orders"), PROFILE_COLS)


@register(
    "sketch_hll_distinct",
    sql=f"""
    WITH exact AS (
      SELECT lang AS grp, count(DISTINCT tok) AS exact_distinct
      FROM (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
            FROM documents)
      GROUP BY 1
    ),
    hll AS (
      {hll_oracle_sql("grp", "tok", "items AS (SELECT lang AS grp, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)")}
    )
    SELECT hll.grp, hll.used_registers, hll.s_scaled, hll.hll_estimate,
           exact.exact_distinct
    FROM hll JOIN exact ON hll.grp = exact.grp
    """,
    doc="HyperLogLog distinct-token sketch per language, built from sha256 "
    "bits so the APPROXIMATE estimate is still bit-identical across engines "
    "and hash-checkable (operators/sketch.py).  Registers merge by MAX — a "
    "one-pass distributed aggregate shuffling <= groups x 256 rows at any "
    "corpus size; the exact count (shuffles every distinct value) rides "
    "along to show the accuracy (~6.5% at m=256).",
)
def sketch_hll_distinct(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    items = docs.select(F.col("lang"), F.explode(tokens(F.col("text"))).alias("tok"))
    hll = hll_distinct(items, "lang", "tok")
    exact = items.groupBy(F.col("lang").alias("grp")).agg(
        F.count_distinct("tok").alias("exact_distinct")
    )
    return hll.join(exact, "grp")


@register(
    "cluster_kmeans",
    sql=kmeans_oracle_sql(k=8, rounds=1),
    doc="k-means corpus clustering in quantized int8 space (k=8, one Lloyd "
    "round): every distance an exact integer, centroids exact floor-means, "
    "ties to the smallest centroid id — deterministic on any engine, unlike "
    "float k-means (operators/clustering.py: kmeans_int8 runs lloyd).  "
    "Assignment is nearest_centroid: the collected k-row centroid table "
    "rides the task closure and each Arrow batch argmins an exact int64 "
    "GEMM (map-only); the update is one skinny (cluster, pos) shuffle with "
    "map-side combine, collected.",
)
def cluster_kmeans(spark, sf_dir):
    return kmeans_int8(_t(spark, sf_dir, "embeddings"), "embedding", "vec_id", k=8, rounds=1)


@register(
    "dedup_semantic",
    sql=semantic_oracle_sql(k="auto", rounds=1, tau_num=45, tau_den=100),
    doc="SemDeDup semantic dedup (Abbas et al., arXiv:2303.09540): k-means "
    "topic clusters block the corpus, pairwise cosine runs ONLY within a "
    "cluster, and the larger id of every near-dup pair (cos >= 0.45 over "
    "CENTERED int8 codes) is dropped — survivors returned with their "
    "cluster.  All-integer math (cross-multiplied int64 squares, no "
    "sqrt/float boundary) makes the result engine-independent.  k is NOT a "
    "constant: k = ceil(n/2500) floored at 8 (auto_cluster_count — one "
    "bounded driver-side count() to size it), holding mean cluster size "
    "constant so total pair work is LINEAR in the corpus and parallelism "
    "grows with it; the round-6 sf1.0 sweep caught the fixed-k=8 version "
    "running 2.5e9 pairs on 8 tasks.  Every sf <= 0.1 still resolves to "
    "k=8, so small-sf results are unchanged "
    "(operators/clustering.py: semantic_dedup_pairs/semantic_keep; the "
    "per-cluster int64-GEMM Arrow kernel is the oversized-cluster path and "
    "agrees bit-for-bit with this pure-Catalyst shape).",
)
def dedup_semantic(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    k = auto_cluster_count(n)
    # Pair kernel: the pure-Catalyst self-join (the driver-checked plan at
    # small sf) evaluates 3 interpreted zip_with folds per candidate pair —
    # ~µs each, fine at <=2e6 pairs, a wall at sf1.0's 2.7e8.  Past the small
    # tier, switch to the per-cluster int64-GEMM Arrow kernel (vectorized
    # ~ns/pair); the two kernels agree BIT-FOR-BIT (integer math, pytest
    # test_semantic_pair_kernels_agree_bit_for_bit), so the switch can never
    # change results — measured >13x at sf1.0: 106 s arrow vs a 22-minute
    # expr run that never finished (SCALE.md §40).
    # The kernel selects only the pair scorer: the assignment is always
    # lloyd's nearest_centroid GEMM (a crossJoin n x k row stream with
    # k = ceil(n/2500) was quadratic in the corpus, SCALE.md §46).
    kernel = "expr" if n <= 20_000 else "arrow"
    return semantic_keep(
        emb, "embedding", "vec_id", k=k, rounds=1, tau_num=45, tau_den=100, kernel=kernel
    )


@register(
    "anomaly_zscore",
    sql=zscore_oracle_sql("events", "event_type", "value", "event_id", z=3),
    doc="Z-score anomaly flags (value > mean + 3 sample stddevs within the "
    "event type) decided by exact integer cross-multiplication in "
    "decimal(38,0)/HUGEINT — no division, no sqrt, no float boundary "
    "jitter (operators/anomaly.py).  One tiny (n, sum, sum-of-squares) "
    "moment sketch per group, broadcast back over a map-only flagging pass.",
)
def anomaly_zscore(spark, sf_dir):
    return zscore_flags(_t(spark, sf_dir, "events"), "event_type", "value", "event_id", z=3)


@register(
    "layout_zorder",
    sql=f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           {morton_key_sql("l_partkey", "l_suppkey", bits=11)} AS zvalue
    FROM lineitem
    ORDER BY zvalue, l_orderkey, l_linenumber
    LIMIT 100
    """,
    doc="Z-order (Morton) layout key over lineitem (l_partkey, l_suppkey): "
    "bit-interleaved int64 curve index as a pure column expression — sort "
    "the write on it and every parquet file covers a tight rectangle in "
    "BOTH keys, so footer min/max stats prune scans filtered on either "
    "(the Delta OPTIMIZE ZORDER idea without the table format; "
    "operators/bucketing.py zorder_layout).",
)
def layout_zorder(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    z = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        morton_key(F.col("l_partkey"), F.col("l_suppkey"), bits=11).alias("zvalue"),
    )
    return z.orderBy("zvalue", "l_orderkey", "l_linenumber").limit(100)


from ..operators.anomaly import ewma_latest, ewma_oracle_sql  # noqa: E402
from ..operators.sketch import (  # noqa: E402
    countmin_estimates,
    countmin_oracle_sql,
    histogram_oracle_sql,
    histogram_quantiles,
)

CM_CANDIDATES = ["the", "spark", "merge", "customer", "qqqabsent"]


@register(
    "sketch_countmin",
    sql=countmin_oracle_sql(
        "items AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS item FROM documents)",
        CM_CANDIDATES,
    ),
    doc="Count-min frequency sketch (d=4 x w=256, sha256 buckets) over the "
    "token stream with exact counts alongside: the APPROXIMATE upper-bound "
    "estimates are bit-identical across engines because the bucket bits are "
    "sha256's, not engine-internal (operators/sketch.py).  Counters merge "
    "by element-wise SUM — the streaming/sharded property; the sketch is "
    "d x w rows however long the stream.",
)
def sketch_countmin(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    items = docs.select(F.explode(tokens(F.col("text"))).alias("item"))
    return countmin_estimates(items, "item", CM_CANDIDATES)


@register(
    "sketch_histogram_quantiles",
    sql=histogram_oracle_sql("events", "event_type", "value", bin_cents=500),
    doc="Mergeable fixed-bin histogram quantiles per event type: integer "
    "cents // 500 bins aggregate to a tiny histogram (one skinny shuffle), "
    "p50/p90/p99 read off the cumulative counts at rank ceil(p*n/100) — "
    "deterministic approx-percentile with error exactly one bin width, "
    "unlike approx_percentile's engine-internal sketch "
    "(operators/sketch.py:histogram_quantiles).",
)
def sketch_histogram_quantiles(spark, sf_dir):
    return histogram_quantiles(_t(spark, sf_dir, "events"), "event_type", "value", bin_cents=500)


@register(
    "w8_ewma",
    sql=ewma_oracle_sql("events", "event_type", "ts", "value", "event_id", k=16),
    doc="Exact dyadic EWMA (alpha=1/2, last 16 points) per event type: "
    "power-of-two weights turn exponential smoothing into int64 arithmetic "
    "closed by one IEEE division — bit-identical across engines, free of "
    "the accumulation-order drift of float-recursive smoothing "
    "(operators/anomaly.py:ewma_latest).  A row_number window bounds "
    "per-key state to K rows before any aggregation.",
)
def w8_ewma(spark, sf_dir):
    return ewma_latest(_t(spark, sf_dir, "events"), "event_type", "ts", "value", "event_id", k=16)


import tempfile  # noqa: E402


@register(
    "stream_anomaly_moments",
    sql="""
    SELECT event_type AS grp, count(*) AS n,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS s,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
               * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS q
    FROM events GROUP BY 1
    """,
    doc="§2.12 streaming face of the anomaly moment sketch: the exact "
    "(n, sum, sum-of-squares) int64-cents aggregate maintained "
    "incrementally by Structured Streaming (file source, availableNow, "
    "complete mode) with O(groups) state — after the full stream it "
    "provably equals the batch aggregate, so live z-score flagging reads "
    "a sketch that is always exact for the seen prefix "
    "(operators/anomaly.group_moments over the stream).",
)
def stream_anomaly_moments(spark, sf_dir):
    import uuid

    from ..operators.anomaly import group_moments

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    d = tempfile.mkdtemp(prefix="stream_moments_")
    ev.write.mode("overwrite").parquet(f"{d}/src")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/src")
    agg = group_moments(stream, "event_type", "value")
    name = f"smo_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register(
    "g8c_grouping_sets",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) / 100.0
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="Explicit GROUPING SETS (the general form of g8 rollup / g8b cube) "
    "with grouping() disambiguation of NULL group keys — one Expand + one "
    "aggregate exchange, exact cents sums.  Completes the §2.4 grouped-"
    "aggregation surface: groupBy, rollup, cube, grouping sets, pivot, "
    "unpivot.",
)
def g8c_grouping_sets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    gid = (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")).cast("long")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / 100.0).alias("total_price"),
        )
    )


@register(
    "io_orc_roundtrip",
    sql="""
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) / 100.0
             AS revenue
    FROM lineitem GROUP BY 1
    """,
    doc="Columnar-format interchange: lineitem written to ORC and read back "
    "(schema, values, and pushdown-capable layout preserved), proven by "
    "aggregating the roundtripped copy against the parquet-sourced oracle.  "
    "ORC rides the same DataSource V2 scan machinery (footer stats, "
    "predicate pushdown, vectorized reader) — the engine is "
    "format-agnostic where the reference is locked to its own files.",
)
def io_orc_roundtrip(spark, sf_dir):
    import tempfile as _tf

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    d = _tf.mkdtemp(prefix="orc_rt_")
    li.write.mode("overwrite").orc(f"{d}/lineitem_orc")
    back = spark.read.orc(f"{d}/lineitem_orc")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents).cast("double") / 100.0).alias("revenue"),
    )


from ..operators.graph import pagerank_oracle_sql, pagerank_ppm  # noqa: E402


def _pairs_cte() -> str:
    from .registry_llm import _minhash_ctes

    return f"{_minhash_ctes()},\n    pairs AS (SELECT doc_a, doc_b FROM lsh_pairs)"


@register(
    "graph_pagerank",
    sql=pagerank_oracle_sql(_pairs_cte(), iters=2),
    doc="Integer-exact PageRank (damping 0.85, 2 iterations, ranks in ppm) "
    "over the minhash-LSH near-duplicate graph: centrality ranks boilerplate "
    "template hubs that exact dedup cannot see.  Floor-division contributions "
    "and integer sums make the iterative algorithm a pure function of the "
    "graph — bit-identical on any engine or parallelism, unlike float "
    "PageRank (operators/graph.py).  One contribution shuffle per round "
    "with map-side combine; companion to dedup_cc_clusters' reachability.",
)
def graph_pagerank(spark, sf_dir):
    from ..operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", bands=4, rows=4)
    return pagerank_ppm(pairs, "doc_a", "doc_b", iters=2)


@register(
    "decontam_bloom",
    sql="""
    WITH tok AS (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                 FROM documents),
    idx AS (SELECT doc_id, source, t,
                   unnest(generate_series(1, greatest(len(t) - 4, 0))) AS j
            FROM tok WHERE len(t) >= 5),
    sh AS (SELECT DISTINCT doc_id, source,
                  t[j] || ' ' || t[j+1] || ' ' || t[j+2] || ' ' || t[j+3] || ' ' || t[j+4] AS s
           FROM idx),
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
    corpus AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
    bloom AS (
      SELECT DISTINCT pos FROM (
        SELECT ('0x' || substr(sha256('b0:' || s), 1, 5))::BIGINT AS pos FROM eval_sh
        UNION ALL SELECT ('0x' || substr(sha256('b1:' || s), 1, 5))::BIGINT FROM eval_sh
        UNION ALL SELECT ('0x' || substr(sha256('b2:' || s), 1, 5))::BIGINT FROM eval_sh
        UNION ALL SELECT ('0x' || substr(sha256('b3:' || s), 1, 5))::BIGINT FROM eval_sh
      )
    ),
    -- the 4 probes unnest into rows and COUNT via a plain join: the
    -- correlated-scalar-subquery form was not decorrelated by DuckDB and
    -- ground >2h at sf0.3 (same twin-side pathology class as u7_cdc_apply);
    -- identical semantics, hash-verified against the unchanged engine side
    probes AS (
      SELECT c.doc_id, c.s,
             ('0x' || substr(sha256('b' || CAST(u.k AS VARCHAR) || ':' || c.s), 1, 5))::BIGINT
               AS pos
      FROM corpus c, unnest([0, 1, 2, 3]) AS u(k)
    ),
    screened AS (
      SELECT p.doc_id, p.s, count(b.pos) = 4 AS might
      FROM probes p LEFT JOIN bloom b USING (pos)
      GROUP BY p.doc_id, p.s
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_shingles,
             CAST(sum(CASE WHEN might THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
      FROM screened GROUP BY doc_id
    ),
    exact AS (SELECT c.doc_id, count(*) AS n_hits
              FROM corpus c JOIN eval_sh e USING (s) GROUP BY c.doc_id)
    SELECT p.doc_id, p.n_shingles, coalesce(x.n_hits, 0) AS n_hits, p.n_bloom_hits,
           (1000000 * coalesce(x.n_hits, 0)) // p.n_shingles AS contam_ppm,
           (1000000 * p.n_bloom_hits) // p.n_shingles AS bloom_ppm
    FROM per_doc p LEFT JOIN exact x USING (doc_id)
    """,
    doc="Bloom-filter decontamination pre-screen (k=4 sha256 positions in a "
    "2^20-bit space) next to the exact 5-gram check: zero false negatives "
    "by construction (asserted per-row by the oracle compare), measurable "
    "false-positive overhead, and the broadcast side shrinks from every "
    "eval shingle STRING to <= 2^20 set-bit longs "
    "(operators/bloom.py).  Even the false positives are bit-identical "
    "across engines, so the approximate screen hash-checks.",
)
def decontam_bloom(spark, sf_dir):
    from ..operators.bloom import bloom_contamination

    docs = _t(spark, sf_dir, "documents")
    return bloom_contamination(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        "text",
        "doc_id",
        k=5,
    )


@register(
    "stream_hll_registers",
    sql=f"""
    WITH items AS (
      SELECT lang AS grp, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT grp,
             substr(sha256(CAST(tok AS VARCHAR)), 1, 2) AS register,
             ('0x' || substr(sha256(CAST(tok AS VARCHAR)), 3, 13))::BIGINT AS v
      FROM items
    )
    SELECT grp, register,
           max(CASE WHEN v = 0 THEN 40 ELSE least(53 - length(bin(v)), 40) END) AS rank
    FROM hashed GROUP BY 1, 2
    """,
    doc="§2.12 streaming face of the HLL sketch: per-(group, register) MAX "
    "rank maintained incrementally by Structured Streaming — MAX is "
    "algebraic, so state is O(groups x 256) forever and the complete-mode "
    "output provably equals the batch register table "
    "(operators/sketch.py:hll_registers over a stream).  Live approximate "
    "distinct counts with exactly-once semantics.",
)
def stream_hll_registers(spark, sf_dir):
    import uuid

    from ..operators.sketch import hll_registers

    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    d = tempfile.mkdtemp(prefix="stream_hll_")
    docs.write.mode("overwrite").parquet(f"{d}/src")
    stream = spark.readStream.schema(docs.schema).parquet(f"{d}/src")
    items = stream.select(F.col("lang"), F.explode(tokens(F.col("text"))).alias("tok"))
    regs = hll_registers(items, "lang", "tok")
    name = f"shl_{uuid.uuid4().hex[:8]}"
    q = (
        regs.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register(
    "io_schema_evolution",
    sql="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
    FROM orders
    """,
    doc="Schema evolution on read: two parquet batches written with "
    "DIFFERENT schemas (v1 lacks o_orderstatus; v2 adds it), unioned by "
    "spark.read.option('mergeSchema') — missing columns null-fill, shared "
    "columns align by name.  The ETL reality of a 100 TB landing zone "
    "whose producers upgrade midstream; the reference pins one DTO schema "
    "(services/normalize/handler.ts) and cannot express this.",
)
def io_schema_evolution(spark, sf_dir):
    import tempfile as _tf

    o = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    v1 = o.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", cents.alias("price_cents"))
    v2 = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", cents.alias("price_cents"), F.col("o_orderstatus")
    )
    d = _tf.mkdtemp(prefix="schema_evo_")
    v1.write.mode("overwrite").parquet(f"{d}/t/batch=1")
    v2.write.mode("overwrite").parquet(f"{d}/t/batch=2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{d}/t")
        .select("o_orderkey", "price_cents", "o_orderstatus")
    )


@register(
    "u6_scd2_intervals",
    sql="""
    SELECT user_id, event_id,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
             AS valid_to_us,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_cents,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN TRUE ELSE FALSE END AS is_current
    FROM events
    WHERE user_id < 20
    """,
    doc="SCD type-2 dimension build: each per-user change event becomes a "
    "[valid_from, valid_to) interval via one lead() window, the open "
    "interval flagged current — the warehouse-standard history table the "
    "versioned state store (operators/persist.py) serves point-in-time "
    "reads from.  One hash shuffle on the dimension key; timestamps "
    "emitted as epoch_us per the repo determinism rules.",
)
def u6_scd2_intervals(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_cents"),
        nxt.isNull().alias("is_current"),
    )


from ..operators.pq import pq_adc_topk, pq_oracle_sql  # noqa: E402


@register(
    "sim_pq_topk",
    sql=pq_oracle_sql(query_id=0, k_top=10),
    doc="Product quantization ANN (Jegou et al. 2011): int8-space k-means "
    "per 8-dim subspace (16 centroids, one Lloyd round) compresses every "
    "64-dim embedding to 8 nibble codes (32x); query-time ADC sums "
    "per-subspace distances from a broadcast (M x K) lookup table and "
    "scans CODES, not vectors.  All-integer training, encoding, and "
    "distances make the whole index construction bit-identical across "
    "engines — an oracle-checkable PQ, which float PQ can never be "
    "(operators/pq.py).  exact_d2 rides along so recall is inspectable.",
)
def sim_pq_topk(spark, sf_dir):
    return pq_adc_topk(_t(spark, sf_dir, "embeddings"), "embedding", "vec_id", query_id=0, k_top=10)


@register(
    "g15_funnel",
    sql="""
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
    FROM stages
    """,
    doc="Ordered funnel conversion (view -> click -> purchase): one "
    "conditional-min aggregate per user collapses the event log to first-"
    "touch timestamps, then strict ordering predicates count each stage — "
    "the standard product-analytics query as ONE shuffle on user_id plus an "
    "O(1) rollup; NULL first-touches fail the strict comparisons, so "
    "missing stages drop out without special-casing.",
)
def g15_funnel(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    stages = ev.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(viewed.cast("long")).alias("viewed"),
        F.sum(clicked.cast("long")).alias("clicked_after_view"),
        F.sum(purchased.cast("long")).alias("purchased_after_click"),
    )


@register(
    "g16_retention_cohorts",
    sql="""
    WITH firsts AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             datediff('week', f.cohort_week, date_trunc('week', e.ts)) AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT epoch_us(cohort_week) AS cohort_week_us, week_offset,
           count(*) AS active_users
    FROM activity GROUP BY 1, 2
    """,
    doc="Retention cohort matrix: users bucketed by first-activity week, "
    "then distinct (user, week-offset) activity counted per cohort — the "
    "standard growth-analytics triangle.  Two shuffles (first-touch per "
    "user, then the cohort rollup over pre-deduplicated skinny rows); the "
    "broadcastable first-touch table keys the fact-side join.  Weeks via "
    "date_trunc + integer week difference, emitted as epoch_us.",
)
def g16_retention_cohorts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    activity = (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_week",
            ((F.unix_date(F.to_date(F.date_trunc("week", F.col("ts"))))
              - F.unix_date(F.to_date(F.col("cohort_week")))) / 7).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.unix_micros("cohort_week").alias("cohort_week_us"), "week_offset"
    ).agg(F.count(F.lit(1)).alias("active_users"))


@register(
    "g18_regression_stats",
    sql="""
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS y
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag, l_linestatus,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
             sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
      FROM base GROUP BY 1, 2
    ),
    dd AS (
      SELECT *,
             n*sxy - sx*sy AS dxy,
             n*sxx - sx*sx AS dxx,
             n*syy - sy*sy AS dyy,
             sy*(n*sxx - sx*sx) - (n*sxy - sx*sy)*sx AS inum
      FROM s
    ),
    rr AS (
      SELECT *, abs(dxy) // n AS rxy, dxx // n AS rxx, dyy // n AS ryy FROM dd
    )
    SELECT l_returnflag, l_linestatus,
           CAST(n AS BIGINT) AS n,
           CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
           CAST(CASE WHEN dxy > 0 THEN 1 WHEN dxy < 0 THEN -1 ELSE 0 END AS BIGINT)
             AS slope_sign,
           CAST((1000000 * abs(dxy)) // nullif(dxx, 0) AS BIGINT) AS slope_abs_ppm,
           CAST(CASE WHEN inum > 0 THEN 1 WHEN inum < 0 THEN -1 ELSE 0 END AS BIGINT)
             AS intercept_sign,
           CAST(abs(inum) // nullif(n * dxx, 0) AS BIGINT) AS intercept_abs,
           CAST((1000000 * rxy * rxy) // nullif(rxx * ryy, 0) AS BIGINT) AS corr2_ppm
    FROM rr
    """,
    doc="G18 grouped regression/correlation — the ANSI REGR_SLOPE / "
    "REGR_INTERCEPT / CORR aggregate surface, integer-exact: power sums in "
    "decimal(38)/hugeint, outputs as sign + ppm-magnitude integer divisions "
    "(float CORR would never hash-match across engines; measured 1-ulp "
    "hugeint->double disagreement rules out even the exact-sum cast).  "
    "x = quantity units, y = whole dollars; corr^2 moments n-reduced for "
    "decimal(38) headroom to ~1e9 rows/group.  One partial-aggregable "
    "groupBy, no joins (operators/stats.grouped_regression).",
)
def g18_regression_stats(spark, sf_dir):
    from ..operators.stats import grouped_regression

    li = _t(spark, sf_dir, "lineitem")
    x = F.expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)")
    y = F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100")
    return grouped_regression(
        li.select("l_returnflag", "l_linestatus", x.alias("x"), y.alias("y")),
        F.col("x"), F.col("y"), ["l_returnflag", "l_linestatus"],
    )


@register(
    "sketch_hll_merge",
    sql=f"""
    WITH items AS (
      SELECT lang, source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    ranked AS (
      SELECT lang, source,
             substr(sha256(CAST(tok AS VARCHAR)), 1, 2) AS register,
             CASE WHEN ('0x' || substr(sha256(CAST(tok AS VARCHAR)), 3, 13))::BIGINT = 0
                  THEN {RANK_CAP}
                  ELSE least(53 - length(bin(
                         ('0x' || substr(sha256(CAST(tok AS VARCHAR)), 3, 13))::BIGINT)),
                       {RANK_CAP}) END AS rank
      FROM items
    ),
    fine AS (
      SELECT lang, source, register, max(rank) AS rank FROM ranked GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT lang AS grp, register, max(rank) AS rank FROM fine GROUP BY 1, 2
    ),
    direct AS (
      SELECT lang AS grp, register, max(rank) AS rank FROM ranked GROUP BY 1, 2
    ),
    est_m AS (
      SELECT grp, count(*) AS used_registers,
             sum(1::BIGINT << (48 - rank)) AS s_used
      FROM merged GROUP BY 1
    ),
    est_d AS (
      SELECT grp, sum(1::BIGINT << (48 - rank)) AS s_used
      FROM direct GROUP BY 1
    )
    SELECT m.grp, m.used_registers,
           CAST(m.s_used + ({M} - m.used_registers) * (1::BIGINT << 48) AS BIGINT)
             AS s_scaled,
           {A_LIT!r} / CAST(m.s_used + ({M} - m.used_registers) * (1::BIGINT << 48)
                              AS DOUBLE) AS hll_estimate,
           {A_LIT!r} / CAST(d.s_used + ({M} - m.used_registers) * (1::BIGINT << 48)
                              AS DOUBLE) AS direct_estimate,
           (m.s_used = d.s_used) AS merge_exact
    FROM est_m m JOIN est_d d USING (grp)
    """,
    doc="HLL register MERGE — the property that makes the sketch a "
    "distributed tree aggregate: per-(lang, source) shard registers combine "
    "by element-wise MAX into per-lang registers, and the merged estimate "
    "EQUALS the direct single-pass estimate (merge_exact rides along, "
    "asserted true for every group by the value hash).  At 100 TB this is "
    "shard -> executor -> global rollup with <= groups x 256 rows at each "
    "level (operators/sketch.merge_registers).",
)
def sketch_hll_merge(spark, sf_dir):
    from ..operators.sketch import hll_estimate, hll_registers, merge_registers

    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        F.concat(F.col("lang"), F.lit("|"), F.col("source")).alias("shard"),
        F.col("lang"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    fine = hll_registers(items, "shard", "tok")
    merged = merge_registers(fine, F.split(F.col("grp"), r"\|")[0])
    est_m = hll_estimate(merged)
    direct = hll_estimate(hll_registers(items, "lang", "tok")).select(
        F.col("grp"),
        F.col("hll_estimate").alias("direct_estimate"),
        F.col("s_scaled").alias("_s_d"),
    )
    return (
        est_m.join(direct, "grp")
        .withColumn("merge_exact", F.col("s_scaled") == F.col("_s_d"))
        .drop("_s_d")
    )


@register(
    "j7_fuzzy_match_join",
    sql="""
    WITH dirty AS (
      SELECT c_custkey AS did,
             CASE WHEN c_custkey % 3 = 0
                  THEN substr(c_name, 1, 14) || 'x' || substr(c_name, 16)
                  ELSE c_name END AS dname
      FROM customer
    ),
    cg AS (
      SELECT c_custkey AS cid, c_name AS cname,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(length(c_name) - 3, 0)),
               i -> substr(lower(c_name), CAST(i AS INTEGER), 4)))) AS gram
      FROM customer
    ),
    dg AS (
      SELECT did, dname,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(length(dname) - 3, 0)),
               i -> substr(lower(dname), CAST(i AS INTEGER), 4)))) AS gram
      FROM dirty
    ),
    dfreq AS (
      SELECT gram, count(*) AS df FROM cg GROUP BY 1
    ),
    dist AS (
      SELECT df, count(*) AS c FROM dfreq GROUP BY 1
    ),
    capq AS (
      -- df at the 10th percentile of gram-TYPE df, exact integer
      -- arithmetic (100*cum >= pct*total == cum >= ceil(pct*total/100)),
      -- identical to the engine's derivation (operators/linkage.py)
      SELECT min(df) AS qdf FROM (
        SELECT df, sum(c) OVER (ORDER BY df) AS cum,
               sum(c) OVER () AS total
        FROM dist
      ) WHERE cum * 100 >= total * 10
    ),
    rare AS (
      SELECT gram FROM dfreq, capq
      WHERE df <= greatest(CAST(32 AS BIGINT), coalesce(qdf, 0))
    ),
    cand AS (
      SELECT DISTINCT d.did, d.dname, c.cid, c.cname
      FROM (SELECT dg.* FROM dg JOIN rare USING (gram)) d
      JOIN (SELECT cg.* FROM cg JOIN rare USING (gram)) c USING (gram)
    ),
    scored AS (
      SELECT *, levenshtein(dname, cname) AS distance FROM cand
      WHERE levenshtein(dname, cname) <= 2
    )
    SELECT did, dname,
           min(struct_pack(d := distance, cid := cid, cname := cname)).cid
             AS match_id,
           min(struct_pack(d := distance, cid := cid, cname := cname)).cname
             AS match_name,
           min(struct_pack(d := distance, cid := cid, cname := cname)).d
             AS distance
    FROM scored GROUP BY 1, 2
    """,
    doc="J7 fuzzy entity-match join: every 3rd customer name gets a planted "
    "substitution, then dirty names re-link to the catalog by edit distance "
    "<= 2 with RARE-4-gram blocking.  The rarity cap is DERIVED: "
    "max(floor 32, df at the 10th percentile of gram-type df) — mirrored "
    "exactly in the oracle, so the capped semantics are what is verified, "
    "and recall cannot silently zero as gram dfs grow with the corpus "
    "(round-9 weak item; operators/linkage.py module docstring).  Best "
    "match = exact MIN over (distance, id) structs.  All shuffles are "
    "gram-/pair-grained; levenshtein is integer and engine-identical "
    "(operators/linkage.fuzzy_match_join).",
)
def j7_fuzzy_match_join(spark, sf_dir):
    from ..operators.linkage import fuzzy_match_join

    cust = _t(spark, sf_dir, "customer")
    dirty = cust.select(
        F.col("c_custkey").alias("did"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.substring(F.col("c_name"), 1, 14), F.lit("x"),
                F.expr("substr(c_name, 16)"),
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("dname"),
    )
    return fuzzy_match_join(
        dirty, cust, "did", "dname", "c_custkey", "c_name",
        max_dist=2, q=4, max_gram_df=32, rare_df_pct=10,
    )
