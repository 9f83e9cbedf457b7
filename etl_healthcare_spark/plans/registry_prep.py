"""Round-4 training-prep batch: corpus novelty scoring, token-budget shard
cutting, duplicate-cluster downweighting, referential-integrity auditing,
embedding-space drift, common-neighbor link prediction, tolerance as-of
joins, and streaming windowed top-k.

These extend the curation/training-prep loop outward: novelty and cluster
weights are the dedup-AWARE sampling signals (score instead of drop), token
shards materialize a curriculum into fixed-budget files, FK orphans and
embedding drift are the data-quality gates run before a corpus snapshot is
blessed, common neighbors is the graph twin of related_docs, and the
tolerance as-of closes the pandas merge_asof / kdb aj surface over j5b.

All queries follow the registry's cross-engine determinism conventions
(integer/ppm/decimal(38,0) arithmetic, sha256-only hashing, total tiebreaks —
see plans/registry.py docstring).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from .registry import _t, _wipe_stale_store_keys, register

# ---------------------------------------------------------------------------
# corpus: per-document n-gram novelty vs first occurrence
# ---------------------------------------------------------------------------


def _novelty_oracle() -> str:
    from ..operators.textops import novelty_oracle_sql

    return novelty_oracle_sql(k=5)


@register(
    "corpus_novelty",
    sql=_novelty_oracle(),
    doc="Per-doc n-gram NOVELTY (operators/textops.novelty_scores): the ppm "
    "share of a document's distinct 5-gram spans whose corpus-wide first "
    "occurrence (min doc id) is the document itself — the freshness signal "
    "dedup-aware samplers weight by, scored against the WHOLE corpus with "
    "zero pair generation.  Map-side array_distinct span sets, one "
    "partial-aggregable first-occurrence groupBy, one span-keyed "
    "shuffle-hash join back, one per-doc rollup.  Exact integer ppm.",
)
def corpus_novelty(spark, sf_dir):
    from ..operators.textops import novelty_scores

    return novelty_scores(_t(spark, sf_dir, "documents"), "text", "doc_id", k=5)


# ---------------------------------------------------------------------------
# sampling: contiguous token-budget shard cutting
# ---------------------------------------------------------------------------

_SHARD_BUDGET = 5_000
_TOKENS_SQL = "len(regexp_extract_all(lower(text), '[a-z0-9]+'))"


def _token_shards_oracle() -> str:
    from ..operators.sampling import token_shards_oracle_sql

    return token_shards_oracle_sql("doc_id", _TOKENS_SQL, _SHARD_BUDGET)


@register(
    "sample_token_shards",
    sql=_token_shards_oracle(),
    doc="Token-budget shard cutting (operators/sampling.token_shards): walk "
    "the corpus in doc-id order and start a new shard each time the running "
    "token total crosses the budget — the 'cut this curriculum into "
    "~1B-token files' step.  The global cumulative sum is EXACT with no "
    "global sort: coarse id buckets aggregate once, the bucket prefix runs "
    "in a window over the aggregated bucket frame and broadcasts back, and "
    "the within-bucket window never holds more than bucket_span rows.  The "
    "oracle derives the same offsets from a row-level global window.",
)
def sample_token_shards(spark, sf_dir):
    from ..functions.text import tokens
    from ..operators.sampling import token_shards

    docs = _t(spark, sf_dir, "documents")
    return token_shards(
        docs, "doc_id", F.size(tokens(F.col("text"))), budget=_SHARD_BUDGET
    )


# ---------------------------------------------------------------------------
# sampling: duplicate-cluster downweighting
# ---------------------------------------------------------------------------


def _cluster_weight_oracle() -> str:
    from .registry_llm import _minhash_oracle

    return f"""
    WITH RECURSIVE pairs AS (
      {_minhash_oracle()}
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.b AS node, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    clusters AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id),
    sized AS (SELECT c.node, s.cluster_size FROM clusters c JOIN sizes s USING (cluster_id))
    SELECT d.doc_id,
           coalesce(z.cluster_size, 1) AS cluster_size,
           1000000 // coalesce(z.cluster_size, 1) AS weight_ppm
    FROM documents d LEFT JOIN sized z ON d.doc_id = z.node
    """


@register(
    "sample_cluster_weighted",
    sql=_cluster_weight_oracle(),
    doc="Duplicate-cluster DOWNWEIGHTING (operators/sampling.cluster_weights "
    "over minhash-LSH connected components): every doc's sampling weight is "
    "1e6 div |its duplicate cluster| (1e6 when unclustered) — the soft "
    "alternative to dedup_keep_list's hard drop: each duplicate FAMILY "
    "contributes ~one doc of expected training mass but keeps its internal "
    "variety.  Cluster sizes are one partial-aggregable groupBy over the "
    "pair-bounded CC assignment; all joins shuffle-hash (aggregation-"
    "descended estimates never broadcast).  Oracle = the dedup_cc_clusters "
    "recursive CTE extended with the size/weight join.",
)
def sample_cluster_weighted(spark, sf_dir):
    from ..operators.dedup import connected_components, minhash_lsh_pairs
    from ..operators.sampling import cluster_weights

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", bands=4, rows=4)
    return cluster_weights(docs, connected_components(pairs, "doc_a", "doc_b"), "doc_id")


# ---------------------------------------------------------------------------
# profiling: referential-integrity audit
# ---------------------------------------------------------------------------

_FK_RELATIONS = [
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
]


def _fk_oracle() -> str:
    from ..operators.profile import fk_orphans_oracle_sql

    return fk_orphans_oracle_sql(_FK_RELATIONS)


@register(
    "profile_fk_orphans",
    sql=_fk_oracle(),
    doc="Referential-integrity AUDIT (operators/profile.fk_orphans): for "
    "each declared FK relationship across the TPC-H star (lineitem->orders/"
    "part/supplier, orders->customer, customer->nation), the child rows "
    "whose key resolves to no parent plus the distinct orphaned key count — "
    "dbt's `relationships` test / Deequ's isContainedIn as one engine "
    "query.  Per relation: one column-pruned scan into a (key, count) "
    "histogram, then ALL THREE counts from one pass via a merge-hinted "
    "LEFT join onto the distinct parent keys (the round-10 shape — the "
    "broadcast anti-join form OOM'd the driver at sf3 when Catalyst "
    "broadcast-planned the 45M-key orders side; SCALE.md §50).",
)
def profile_fk_orphans(spark, sf_dir):
    from ..operators.profile import fk_orphans

    # one DataFrame OBJECT per table, so relations sharing a table reuse the
    # same scan node.  fk_orphans itself scans once PER RELATION into a
    # (key, cnt) histogram — the grouping-sets fusion across lineitem's three
    # FKs was probed at sf3 (106 s vs 55.7 s) and rejected; see
    # operators/profile.fk_orphans and OPTIMIZATION_r10.md.
    tables = {
        t: _t(spark, sf_dir, t)
        for rel in _FK_RELATIONS
        for t in (rel[1], rel[3])
    }
    return fk_orphans(
        [
            (name, tables[child], ckey, tables[parent], pkey)
            for name, child, ckey, parent, pkey in _FK_RELATIONS
        ]
    )


# ---------------------------------------------------------------------------
# profiling: embedding-space drift between corpus slices
# ---------------------------------------------------------------------------


def _edrift_oracle() -> str:
    from ..operators.profile import embedding_drift_oracle_sql

    return embedding_drift_oracle_sql("label = 0", scale=1_000)


@register(
    "profile_embedding_drift",
    sql=_edrift_oracle(),
    doc="Embedding-space DRIFT between corpus slices (operators/profile."
    "embedding_drift): per-dimension centroid delta between label=0 and the "
    "rest, exact integer ppm on the 1/1000 quantization grid via "
    "cross-multiplied decimal(38,0)/HUGEINT — the vector-space companion to "
    "profile_drift_tvd, run before trusting an ANN index on a new slice.  "
    "ONE posexplode into one partial-aggregable groupBy(dim); output is "
    "|dims| rows; cos(centroid_a, centroid_b) is recoverable from the "
    "emitted sums (cosine is scale-invariant).",
)
def profile_embedding_drift(spark, sf_dir):
    from ..operators.profile import embedding_drift

    return embedding_drift(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id", F.col("label") == 0
    )


# ---------------------------------------------------------------------------
# graph: common-neighbor link prediction
# ---------------------------------------------------------------------------

# fixed o_orderkey window (the j8 rule): pair DENSITY, not the algorithm,
# explodes with sf — the registry probes a constant subgraph at every sf
_CN_EDGES_SQL = """raw AS (
      SELECT o_orderkey % 211 AS s, (o_orderkey * 7 + o_custkey) % 211 AS t
      FROM orders WHERE o_orderkey % 29 = 0 AND o_orderkey < 150000
    )"""


def _cn_oracle() -> str:
    from ..operators.graph import common_neighbors_oracle_sql

    return common_neighbors_oracle_sql(_CN_EDGES_SQL, max_deg=64, min_cn=2)


@register(
    "graph_common_neighbors",
    sql=_cn_oracle(),
    doc="LINK PREDICTION by common-neighbor count (operators/graph."
    "common_neighbors, Liben-Nowell & Kleinberg): every non-adjacent node "
    "pair sharing >= 2 neighbors, scored by shared-neighbor count.  "
    "Candidates expand IN-BUCKET from per-apex neighbor lists (the "
    "dedup_minhash_lsh rule) with hub apexes above deg 64 excluded "
    "(documented d^2 cap), one pair groupBy, one anti-join against the "
    "canonical edge list.  The oracle derives the same pairs via a wedge "
    "self-join — two constructions, one hash.",
)
def graph_common_neighbors(spark, sf_dir):
    from ..operators.graph import common_neighbors

    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderkey") % 29 == 0) & (F.col("o_orderkey") < 150000)
    )
    edges = o.select(
        (F.col("o_orderkey") % 211).alias("a"),
        ((F.col("o_orderkey") * 7 + F.col("o_custkey")) % 211).alias("b"),
    )
    return common_neighbors(edges, "a", "b", max_deg=64, min_cn=2)


# ---------------------------------------------------------------------------
# joins: as-of with tolerance (backward and forward)
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 120_000_000  # 2 minutes


def _asof_tol_oracle(direction: str) -> str:
    from ..operators.intervals import asof_tolerance_oracle_sql

    return asof_tolerance_oracle_sql(
        "SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'",
        "SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'",
        "user_id",
        "ts",
        "event_id",
        "click_id",
        _ASOF_TOL_US,
        direction,
    )


@register(
    "j5c_asof_tolerance",
    sql=_asof_tol_oracle("backward"),
    doc="J5c as-of join with MATCH TOLERANCE (operators/intervals."
    "asof_tolerance_join): each purchase matched to the latest prior click "
    "of the same user ONLY if within 2 minutes — misses emitted as NULL "
    "rows, the pandas merge_asof(tolerance=...) surface.  Union+window with "
    "an explicit right-id tiebreak (equal-timestamp matches are a total "
    "order), one shuffle on user_id; the oracle re-derives every match via "
    "a correlated LATERAL argmax.",
)
def j5c_asof_tolerance(spark, sf_dir):
    from ..operators.intervals import asof_tolerance_join

    ev = _t(spark, sf_dir, "events")
    return asof_tolerance_join(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"), "ts"
        ),
        "user_id",
        "ts",
        "event_id",
        "click_id",
        _ASOF_TOL_US,
        "backward",
    )


@register(
    "j5d_asof_forward",
    sql=_asof_tol_oracle("forward"),
    doc="J5d FORWARD as-of with tolerance: each purchase matched to the "
    "EARLIEST click at-or-after it within 2 minutes (the 'next reaction' "
    "direction kdb aj / pandas direction='forward' serve) — same "
    "union+window shape as j5c with the frame flipped to lookahead "
    "first(ignoreNulls).",
)
def j5d_asof_forward(spark, sf_dir):
    from ..operators.intervals import asof_tolerance_join

    ev = _t(spark, sf_dir, "events")
    return asof_tolerance_join(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"), "ts"
        ),
        "user_id",
        "ts",
        "event_id",
        "click_id",
        _ASOF_TOL_US,
        "forward",
    )


# ---------------------------------------------------------------------------
# streaming: windowed top-k
# ---------------------------------------------------------------------------


@register(
    "stream_topk_windowed",
    sql="""
    WITH counts AS (
      SELECT epoch_us(date_trunc('minute', ts)) AS minute_us, user_id,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT minute_us, user_id, n,
             row_number() OVER (PARTITION BY minute_us
                                ORDER BY n DESC, user_id ASC) AS rk
      FROM counts
    )
    SELECT minute_us, user_id, n, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3
    """,
    doc="§2.12 streaming TOP-K: per-minute top-3 users by event count — the "
    "watermarked windowed count runs as a Structured Streaming job (file "
    "source, availableNow, complete mode; state evicted past the "
    "watermark), and the rank closes over the materialized sink (streaming "
    "aggregations cannot nest a rank — the sink-side WindowGroupLimit is "
    "the standard serving pattern).  Output provably equals the batch "
    "windowed top-k.",
)
def stream_topk_windowed(spark, sf_dir):
    import uuid

    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="stream_topk_")
    ev.write.mode("overwrite").parquet(f"{d}/src")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/src")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("minute"), "user_id", "n")
    )
    name = f"stk_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(name)
    rk = F.row_number().over(
        Window.partitionBy("minute").orderBy(F.desc("n"), F.asc("user_id"))
    )
    return (
        out.withColumn("rk", rk)
        .where(F.col("rk") <= 3)
        .select(F.unix_micros("minute").alias("minute_us"), "user_id", "n", "rk")
    )


# ---------------------------------------------------------------------------
# multimodal: PNG chunk walk (metadata sidecar extraction)
# ---------------------------------------------------------------------------


@register(
    "mm_png_chunks",
    sql="""
    WITH img AS (
      SELECT doc_id, 1 + doc_id % 4 AS n_text FROM documents WHERE doc_id < 800
    ),
    kv AS (
      SELECT doc_id,
             string_agg('k' || i || '=' || repeat('x', CAST(1 + (doc_id + i) % 5 AS INTEGER)),
                        ';' ORDER BY i) AS text_kv
      FROM (SELECT doc_id, unnest(generate_series(1, n_text)) AS i FROM img)
      GROUP BY doc_id
    )
    SELECT img.doc_id AS id,
           CAST(3 + n_text AS INTEGER) AS n_chunks,
           CAST(n_text AS INTEGER) AS n_text,
           CAST(1 + img.doc_id % 7 AS BIGINT) AS idat_bytes,
           kv.text_kv
    FROM img JOIN kv ON img.doc_id = kv.doc_id
    """,
    doc="PNG chunk walk on REAL bytes (operators/multimodal.png_chunks): "
    "synth_png_with_chunks emits complete PNG streams (signature, IHDR, "
    "tEXt metadata chunks, IDAT stub, IEND — correct BE32 lengths "
    "throughout) and the Arrow kernel walks the length-prefixed chunk "
    "structure, splitting tEXt at the NUL into keyword=value pairs — the "
    "EXIF-class metadata-sidecar extraction multimodal ingest runs before "
    "any pixel decode.  The oracle predicts every field (chunk counts, "
    "IDAT byte totals, the joined kv string) arithmetically, so a walk bug "
    "cannot hash-match.  Map-only at any scale.",
)
def mm_png_chunks(spark, sf_dir):
    from ..operators.multimodal import png_chunks, synth_png_with_chunks

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 800)
    d = F.col("doc_id")
    media = docs.select(
        "doc_id",
        synth_png_with_chunks(d, F.lit(16) + d % 64, F.lit(12) + d % 48, F.lit(1) + d % 4).alias(
            "payload"
        ),
    )
    return png_chunks(media, "doc_id", "payload")


# ---------------------------------------------------------------------------
# aggregation: exact interpolated median (2x in cents)
# ---------------------------------------------------------------------------


def _median_interp_oracle() -> str:
    from ..operators.stats import median_interp2_oracle_sql

    return median_interp2_oracle_sql("lineitem", "l_returnflag", "l_extendedprice")


@register(
    "g26_median_interp",
    sql=_median_interp_oracle(),
    doc="Exact INTERPOLATED median (operators/stats.median_interp2): "
    "percentile_cont(0.5) per returnflag emitted as TWICE the median in "
    "integer cents — the mean of the two middle order statistics doubled "
    "is an exact int64, which removes the float-blend last ulp that keeps "
    "interpolated quantiles out of cross-engine registries (g11_median is "
    "the rank-selected lower median; this closes the interpolated "
    "variant).  Histogram-REFINE shape (round-10, SCALE.md §50): one "
    "checkpointed (g, bin, v) value histogram; a bin-level cumulative "
    "window over the domain-bounded bin histogram locates both middle "
    "ranks' crossing bins in one exploded pass; an in-bin window over "
    "<= 500 distinct values refines — no corpus-sized window partition "
    "at any group cardinality.",
)
def g26_median_interp(spark, sf_dir):
    from ..operators.stats import median_interp2

    return median_interp2(_t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice")


# ---------------------------------------------------------------------------
# layout: zone-map pruning simulator (clustered vs scattered)
# ---------------------------------------------------------------------------

_ZM_LO, _ZM_HI, _ZM_SPAN, _ZM_FILES = 2_000_000, 2_500_000, 50_000, 200


def _zonemap_oracle() -> str:
    from ..operators.bucketing import zonemap_prune_oracle_sql

    return zonemap_prune_oracle_sql(
        "lineitem",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
        "l_orderkey * 10 + l_linenumber",
        _ZM_LO, _ZM_HI, _ZM_SPAN, _ZM_FILES,
    )


@register(
    "layout_zonemap_prune",
    sql=_zonemap_oracle(),
    doc="Zone-map pruning simulator (operators/bucketing.zonemap_prune): "
    "the min/max file statistics every columnar lake keeps, evaluated for "
    "the SAME lineitem data under a CLUSTERED layout (file = price-cents "
    "div 50000 — the sorted write) and a SCATTERED one (sha256(row key) "
    "mod 200 — the naive write) against one price-band predicate.  The "
    "2-row report quantifies exactly what layout_zorder / "
    "layout_range_bounds buy: the clustered layout skips ~90% of files "
    "unopened, the scattered one none.  One partial-aggregable groupBy per "
    "layout; exact integers.",
)
def layout_zonemap_prune(spark, sf_dir):
    from ..operators.bucketing import zonemap_prune

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rk", F.expr("l_orderkey * 10 + l_linenumber")
    )
    return zonemap_prune(
        li,
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        "rk",
        _ZM_LO, _ZM_HI, _ZM_SPAN, _ZM_FILES,
    )


# ---------------------------------------------------------------------------
# joins: bucketed co-located fact-to-fact join (zero-exchange)
# ---------------------------------------------------------------------------


@register(
    "j11_bucketed_join",
    sql="""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="J11 bucketed CO-LOCATED fact-to-fact join: both orders and lineitem "
    "are written bucketBy(orderkey) once (operators/bucketing.write_bucketed "
    "to a temp-path external table), then the orderkey join plans with ZERO "
    "exchange on either side — the write paid the shuffle once, every later "
    "join is free (THE 100 TB fact-to-fact strategy; SortMergeJoin hint "
    "pins the shape so a small-SF broadcast cannot hide the co-location — "
    "plan-tested).  The oracle is the plain join+agg: bucketing must change "
    "the PLAN, never the rows.  The bucketed store is WRITE-ONCE per source "
    "dataset (same discipline as q2_partitioned_store): its path and table "
    "names are keyed on (sf_dir, orders+lineitem size+mtime), a complete "
    "store is reused — re-registered in a fresh session's catalog without "
    "rewriting — and stale keys are wiped before a new write.  Repeated "
    "bench/probe runs previously leaked a full bucketed copy of both "
    "tables per invocation (uuid-named mkdtemp).",
)
def j11_bucketed_join(spark, sf_dir):
    import hashlib
    import os
    import shutil

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    sta = os.stat(os.path.join(sf_dir, "orders.parquet"))
    stb = os.stat(os.path.join(sf_dir, "lineitem.parquet"))
    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|{sta.st_size}|{sta.st_mtime_ns}"
        f"|{stb.st_size}|{stb.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), "etl_spark_bucketed_join")
    d = os.path.join(root, key)
    ta, tb = f"bj_orders_{key}", f"bj_lineitem_{key}"

    def _register(table, df, path, bucket_col):
        """External bucketed-table DDL over EXISTING files — a fresh session
        has the parquet but not the catalog entry carrying the bucket spec."""
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({bucket_col}) SORTED BY ({bucket_col}) INTO 8 BUCKETS "
            f"LOCATION '{path}'"
        )

    if all(os.path.exists(os.path.join(d, t, "_SUCCESS")) for t in ("orders", "lineitem")):
        if not spark.catalog.tableExists(ta):
            _register(ta, o, f"{d}/orders", "o_orderkey")
        if not spark.catalog.tableExists(tb):
            _register(tb, li, f"{d}/lineitem", "l_orderkey")
    else:
        # wipe ONLY stale generations of THIS source (keys whose marker
        # names the same sf_dir): a blanket rmtree(root) deleted every
        # other source's store too, so alternating bench/probe sf_dirs
        # rewrote both multi-GB stores per alternation, and a concurrent
        # session on another sf_dir could lose its store mid-job.  Dirs
        # without a marker are left alone — they may be a concurrent
        # session's in-progress write.
        _wipe_stale_store_keys(root, d, os.path.abspath(sf_dir))
        for t in (ta, tb):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "_SF_DIR"), "w") as fh:
            fh.write(os.path.abspath(sf_dir))
        (
            o.write.mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", f"{d}/orders").saveAsTable(ta)
        )
        (
            li.write.mode("overwrite")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", f"{d}/lineitem").saveAsTable(tb)
        )
    j = (
        spark.table(ta)
        .hint("merge")
        .join(spark.table(tb), F.col("o_orderkey") == F.col("l_orderkey"))
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# multimodal: TIFF/EXIF IFD walk (both byte orders)
# ---------------------------------------------------------------------------


@register(
    "mm_tiff_exif",
    sql="""
    SELECT doc_id AS id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(3 + doc_id % 2 AS INTEGER) AS n_entries,
           CAST(16 + doc_id % 64 AS INTEGER) AS width,
           CAST(12 + doc_id % 48 AS INTEGER) AS height,
           CAST(1 + doc_id % 8 AS INTEGER) AS orientation
    FROM documents WHERE doc_id < 800
    """,
    doc="TIFF/EXIF IFD walk on REAL bytes (operators/multimodal.tiff_ifd): "
    "synth_tiff emits complete minimal TIFF containers — little-endian "
    "'II' for even ids, big-endian 'MM' for odd, so the walker's endian "
    "handling is genuinely exercised — and the Arrow kernel verifies magic "
    "42, follows the IFD0 offset, and reads each 12-byte entry's SHORT "
    "value left-justified per byte order, extracting ImageWidth/Length and "
    "Orientation (THE tag image pipelines must honor before any resize; "
    "mm_resize_plan consumes it).  Oracle predicts every field "
    "arithmetically.  Map-only at any scale.",
)
def mm_tiff_exif(spark, sf_dir):
    from ..operators.multimodal import synth_tiff, tiff_ifd

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 800)
    d = F.col("doc_id")
    media = docs.select(
        "doc_id", synth_tiff(d, F.lit(16) + d % 64, F.lit(12) + d % 48).alias("payload")
    )
    return tiff_ifd(media, "doc_id", "payload")


# ---------------------------------------------------------------------------
# query surface: SQL-text PIVOT front door
# ---------------------------------------------------------------------------


@register(
    "sql_pivot_daily",
    sql="""
    SELECT epoch_us(date_trunc('day', ts)) AS day_us,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
    doc="SQL-text PIVOT front door: Spark SQL's native PIVOT clause over a "
    "registered view (daily event counts fanned into one column per event "
    "type) — the second SQL-surface proof next to sql_topn_hours, covering "
    "the relational-pivot syntax users bring from warehouses.  The oracle "
    "is the deliberately-different conditional-aggregation derivation, so "
    "the PIVOT rewrite itself is what gets cross-checked.  Plans to the "
    "same partial-aggregated two-phase shape as g10_pivot.",
)
def sql_pivot_daily(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_pivot_v")
    return spark.sql(
        """
        SELECT unix_micros(day) AS day_us,
               coalesce(click, 0L) AS click, coalesce(view, 0L) AS view,
               coalesce(purchase, 0L) AS purchase
        FROM (SELECT date_trunc('day', ts) AS day, event_type FROM events_pivot_v)
        PIVOT (count(*) FOR event_type IN ('click' AS click, 'view' AS view,
                                           'purchase' AS purchase))
        """
    )


# ---------------------------------------------------------------------------
# entity resolution: survivorship (golden-record build)
# ---------------------------------------------------------------------------


def _survivorship_oracle() -> str:
    from .registry_llm import _minhash_oracle

    return f"""
    WITH RECURSIVE pairs AS (
      {_minhash_oracle()}
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.b AS node, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    clusters AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT coalesce(z.cluster_id, d.doc_id) AS cluster_id,
           min(d.doc_id) AS canonical_id,
           count(*) AS n_members,
           max(struct_pack(l := length(d.text), v := d.text)).v AS text_survived,
           max(d.n_chars) AS n_chars_max,
           min(d.lang) AS lang_min
    FROM documents d LEFT JOIN clusters z ON d.doc_id = z.node
    GROUP BY 1
    """


@register(
    "link_survivorship",
    sql=_survivorship_oracle(),
    doc="SURVIVORSHIP / golden-record build (operators/linkage.survivorship "
    "over minhash-LSH connected components): one canonical record per "
    "duplicate cluster with field-level merge rules — text survives as the "
    "longest value (ties lexicographically largest), n_chars as max, lang "
    "as min, canonical id = cluster minimum — the step MDM and dedup "
    "pipelines end with after match (j7) and cluster (dedup_cc_clusters).  "
    "One record->cluster left join (singletons via coalesce) + ONE "
    "partial-aggregable groupBy; every rule is an ordinary aggregate, no "
    "window, no per-cluster collect.",
)
def link_survivorship(spark, sf_dir):
    from ..operators.dedup import connected_components, minhash_lsh_pairs
    from ..operators.linkage import survivorship

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", bands=4, rows=4)
    return survivorship(
        docs,
        connected_components(pairs, "doc_a", "doc_b"),
        "doc_id",
        longest=("text",),
        maxs=("n_chars",),
        mins=("lang",),
    )


# ---------------------------------------------------------------------------
# sampling: greedy k-center diversity coreset
# ---------------------------------------------------------------------------


def _kcenter_oracle() -> str:
    from ..operators.clustering import kcenter_oracle_sql

    return kcenter_oracle_sql(k=8)


@register(
    "sample_kcenter",
    sql=_kcenter_oracle(),
    doc="Greedy K-CENTER diversity coreset (operators/clustering."
    "kcenter_assign, Gonzalez 1985): 8 farthest-point rounds over the exact "
    "int8 code grid pick maximally-spread exemplars (the opposite selection "
    "pressure from prototype_prune's density-seeking prototypes), then "
    "every point is assigned to its nearest center by exact integer "
    "squared L2.  Each round is one map-only least() update against a "
    "broadcast-literal center + a 1-row argmax; the oracle unrolls the 8 "
    "rounds as CTEs — a total (mind2 DESC, id ASC) order both engines "
    "replay bit-for-bit.",
)
def sample_kcenter(spark, sf_dir):
    from ..operators.clustering import kcenter_assign

    return kcenter_assign(_t(spark, sf_dir, "embeddings"), "embedding", "vec_id", k=8)


# ---------------------------------------------------------------------------
# io: CSV round trip with hostile content (quotes, commas, newlines)
# ---------------------------------------------------------------------------


@register(
    "io_csv_roundtrip",
    sql="""
    SELECT doc_id,
           text || '",' || chr(10) || coalesce(lang, '') AS hostile,
           length(text || '",' || chr(10) || coalesce(lang, '')) AS n_chars
    FROM documents WHERE doc_id < 2000
    """,
    doc="CSV ROUND TRIP under hostile content: every document gets a quote, "
    "a comma, and an embedded NEWLINE appended, is written through Spark's "
    "CSV writer (default RFC-4180 quoting) and read back with "
    "multiLine=true + escape='\"' — the fidelity check that catches the "
    "classic CSV corruption family (split rows at embedded newlines, "
    "double-quote mangling).  The oracle computes the SAME hostile strings "
    "directly (no file IO): if the round trip is lossless the hash "
    "matches; any quoting bug cannot.  Complements io_orc_roundtrip "
    "(columnar) with the text-format edge cases.",
)
def io_csv_roundtrip(spark, sf_dir):
    import tempfile as _tf

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    hostile = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit('",\n'), F.coalesce(F.col("lang"), F.lit(""))
        ).alias("hostile"),
    )
    d = _tf.mkdtemp(prefix="csv_rt_")
    # Spark's CSV WRITER trims leading/trailing whitespace by default
    # (ignoreLeading/TrailingWhiteSpace default TRUE on write, unlike read):
    # a value ENDING in the embedded newline (null lang -> '' suffix) loses
    # it silently.  Caught by the round-6 sf1.0 sweep on data with null
    # langs; fidelity requires turning the trimming off explicitly.
    (
        hostile.write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(f"{d}/docs_csv")
    )
    back = spark.read.option("header", True).option("multiLine", True).option(
        "escape", '"'
    ).schema("doc_id long, hostile string").csv(f"{d}/docs_csv")
    return back.select(
        "doc_id", "hostile", F.length("hostile").cast("long").alias("n_chars")
    )
