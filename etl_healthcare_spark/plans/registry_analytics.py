"""Round-3 analytics batch: graph triangles, grid-blocked interval joins,
DSIR importance resampling, cross-corpus dedup, model-based quality scoring,
key-skew diagnosis, and frame-level audio features.

All queries follow the registry's cross-engine determinism conventions
(integer/ppm arithmetic, sha256-only hashing, total tiebreaks — see
plans/registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import _t, register
from ..functions.materialize import materialize

# ---------------------------------------------------------------------------
# graph: triangle counting (degree-oriented wedge closing)
# ---------------------------------------------------------------------------

_TRI_EDGES_SQL = """raw AS (
      SELECT o_orderkey % 61 AS s, (o_orderkey * 7 + o_custkey) % 61 AS t
      FROM orders WHERE o_orderkey % 3 = 0
    )"""


def _tri_oracle() -> str:
    from ..operators.graph import triangle_oracle_sql

    return triangle_oracle_sql(_TRI_EDGES_SQL)


@register(
    "graph_triangles",
    sql=_tri_oracle(),
    doc="Per-node triangle counts via DEGREE-ORIENTED wedge closing (Suri & "
    "Vassilvitskii): orient edges low-rank -> high-rank, form wedges only at "
    "the low endpoint, close with a hash join.  Wedge volume is bounded by "
    "m^1.5 regardless of hub degrees — the naive wedge count is d_hub^2.  "
    "Exact integer counts; the oracle counts u<v<w triples directly, so the "
    "orientation machinery cannot hide a double-count.",
)
def graph_triangles(spark, sf_dir):
    from ..operators.graph import triangle_counts

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 == 0)
    edges = o.select(
        (F.col("o_orderkey") % 61).alias("a"),
        ((F.col("o_orderkey") * 7 + F.col("o_custkey")) % 61).alias("b"),
    )
    return triangle_counts(edges, "a", "b")


# ---------------------------------------------------------------------------
# joins: interval overlap with grid-cell blocking
# ---------------------------------------------------------------------------

# o_orderkey < 150000 pins the interval set to the sf0.1 workload at any
# larger sf: overlap PAIR count grows quadratically with interval density
# (measured 511M pairs at sf1.0 unbounded — the result itself, not the
# algorithm, explodes), so the registry query probes a fixed window while
# the operator stays unbounded.
_IV_SQL = """iv AS (
      SELECT o_orderkey AS id,
             datediff('day', DATE '1992-01-01', o_orderdate) AS s,
             datediff('day', DATE '1992-01-01', o_orderdate) + o_orderkey % 15 AS e
      FROM orders WHERE o_orderkey % 37 = 0 AND o_orderkey < 150000
    )"""


def _iv_oracle() -> str:
    from ..operators.intervals import interval_overlap_oracle_sql

    return interval_overlap_oracle_sql(_IV_SQL)


@register(
    "j8_interval_overlap",
    sql=_iv_oracle(),
    doc="Interval-overlap self-join with GRID-CELL blocking "
    "(operators/intervals.py): explode each interval to its 16-day cells, "
    "equi-join on the cell id, verify the true overlap, and count each pair "
    "only in the cell containing max(start) — duplicate-free with NO "
    "distinct.  The naive non-equi join is a cartesian at scale; this is one "
    "cell-keyed hash join whose cost is sum(|cell|^2), a density property.  "
    "The oracle runs the plain predicate join, so the blocking must lose no "
    "pair and invent none.",
)
def j8_interval_overlap(spark, sf_dir):
    from ..operators.intervals import interval_overlap_pairs

    o = _t(spark, sf_dir, "orders").where((F.col("o_orderkey") % 37 == 0) & (F.col("o_orderkey") < 150000))
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
    iv = o.select(
        F.col("o_orderkey").alias("id"),
        day.alias("start_day"),
        (day + F.col("o_orderkey") % 15).alias("end_day"),
    )
    return interval_overlap_pairs(iv, "id", "start_day", "end_day", cell_days=16)


# ---------------------------------------------------------------------------
# sampling: DSIR importance resampling toward a target slice
# ---------------------------------------------------------------------------


def _dsir_oracle() -> str:
    from ..operators.sampling import dsir_oracle_sql

    return dsir_oracle_sql("lang = 'en'", salt="dsir", gain=4)


@register(
    "sample_dsir",
    sql=_dsir_oracle(),
    doc="DSIR-style importance resampling (Xie et al. 2302.03169) in exact "
    "integer ppm: per-token smoothed target-share from ONE conditional-sum "
    "groupBy, per-doc integer mean, acceptance by a deterministic "
    "sha256-ppm draw against the gained importance — every non-target doc's "
    "fate is a pure integer function of (corpus, salt).  Here the target "
    "slice is lang='en'; candidates are the other languages.",
)
def sample_dsir(spark, sf_dir):
    from ..operators.sampling import dsir_resample

    docs = _t(spark, sf_dir, "documents").withColumn("is_en", F.col("lang") == "en")
    return dsir_resample(docs, "text", "doc_id", "is_en", salt="dsir", gain=4)


# ---------------------------------------------------------------------------
# dedup: cross-corpus (bipartite) minhash candidates
# ---------------------------------------------------------------------------


def _cross_oracle() -> str:
    from .registry_llm import _minhash_ctes

    # doc_id < 50000 pins the oracle-checked window to the sf0.1 corpus at
    # any larger sf (the DuckDB twin recomputes ~200M seeded sha256 digests
    # per 500k docs — the oracle's cost, not the operator's); sf <= 0.1 is
    # unaffected (max doc_id 4999).
    return f"""
    WITH {_minhash_ctes(src="(SELECT doc_id, text FROM documents WHERE doc_id < 50000)")},
    side AS (SELECT doc_id, source LIKE 'src1%' AS is_ref FROM documents WHERE doc_id < 50000)
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.key = b.key
    JOIN side sa ON sa.doc_id = a.doc_id
    JOIN side sb ON sb.doc_id = b.doc_id
    WHERE NOT sa.is_ref AND sb.is_ref
      AND NOT EXISTS (SELECT 1 FROM big_buckets g
                      WHERE g.band = a.band AND g.key = a.key)
    """


@register(
    "dedup_cross_corpus",
    sql=_cross_oracle(),
    doc="BIPARTITE minhash dedup — which NEW docs near-duplicate the "
    "REFERENCE corpus (here: sources src1*) — one shared minhash pipeline "
    "over the tagged union, pairs expand in-task as refs x news per LSH "
    "bucket, never same-side and never a self-join "
    "(operators/dedup.minhash_cross_pairs).  The cross-dump dedup every "
    "incremental training run performs.",
)
def dedup_cross_corpus(spark, sf_dir):
    from ..operators.dedup import minhash_cross_pairs

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 50000)
        .withColumn("is_ref", F.col("source").startswith("src1"))
    )
    return minhash_cross_pairs(docs, "text", "doc_id", "is_ref")


# ---------------------------------------------------------------------------
# text: hashed-feature linear quality classifier
# ---------------------------------------------------------------------------


def _clf_oracle() -> str:
    from ..operators.textops import hashed_linear_oracle_sql

    return hashed_linear_oracle_sql(n_buckets=1024)


@register(
    "text_classifier_score",
    sql=_clf_oracle(),
    doc="fastText-style hashed linear quality classifier "
    "(operators/textops.hashed_linear_score): sha256 feature hashing into "
    "1024 buckets, int64 dot product with a deterministic weight scramble, "
    "sign label.  Map-only inference — the exact plan shape a trained "
    "broadcast weight table would use; zero shuffle before the result.",
)
def text_classifier_score(spark, sf_dir):
    from ..operators.textops import hashed_linear_score

    return hashed_linear_score(_t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# ops: join/agg key skew diagnosis
# ---------------------------------------------------------------------------


def _skew_oracle() -> str:
    from ..operators.profile import key_skew_oracle_sql

    return key_skew_oracle_sql("events", "user_id", top_n=10)


@register(
    "profile_key_skew",
    sql=_skew_oracle(),
    doc="Key-skew diagnosis for shuffle planning "
    "(operators/profile.key_skew_profile): top-10 hottest events.user_id "
    "values with corpus share and multiple-of-mean in integer ppm — the "
    "numbers that decide broadcast vs salting vs AQE skew-join before a "
    "100 TB shuffle is launched.  One partial-aggregated groupBy + "
    "TakeOrderedAndProject.",
)
def profile_key_skew(spark, sf_dir):
    from ..operators.profile import key_skew_profile

    return key_skew_profile(_t(spark, sf_dir, "events"), "user_id", top_n=10)


# ---------------------------------------------------------------------------
# multimodal: frame-level audio energy / silence detection
# ---------------------------------------------------------------------------


@register(
    "mm_audio_windows",
    sql="""
    WITH src AS (SELECT doc_id FROM documents WHERE doc_id < 400),
    wav AS (
      SELECT doc_id, 32 + (doc_id % 8) * 8 AS n, doc_id % 251 AS seed FROM src
    ),
    s AS (
      SELECT doc_id, j, j // 8 AS win,
             (j * 73 + seed) % 65536
               - CASE WHEN (j * 73 + seed) % 65536 >= 32768 THEN 65536 ELSE 0 END AS v
      FROM (SELECT doc_id, seed, unnest(generate_series(0, n - 1)) AS j FROM wav)
    )
    SELECT doc_id AS id, CAST(win AS INT) AS win, CAST(count(*) AS INT) AS n_samples,
           CAST(sum(v * v) AS BIGINT) AS energy, CAST(max(abs(v)) AS INT) AS peak,
           sum(v * v) < 1000000 * count(*) AS is_silence
    FROM s GROUP BY doc_id, win
    """,
    doc="Frame-level audio features on REAL decoded PCM16 bytes "
    "(operators/multimodal.audio_window_energy): per-8-sample window energy, "
    "peak, and an integer cross-multiply silence flag, computed inside the "
    "Arrow-batched mapInPandas kernel from genuinely synthesized WAV "
    "payloads.  The oracle regenerates every sample arithmetically, so a "
    "chunk-walk / endianness / sign bug cannot hash-match.  The frame "
    "fan-out multiplies rows inside the task, not across a shuffle.",
)
def mm_audio_windows(spark, sf_dir):
    from ..operators.multimodal import audio_window_energy, synth_wav_with_samples

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    d = F.col("doc_id")
    media = docs.select(
        "doc_id",
        synth_wav_with_samples(
            F.lit(8000), F.lit(1), F.lit(32) + (d % 8) * 8, d % 251
        ).alias("payload"),
    )
    return audio_window_energy(media, "doc_id", "payload", win=8)


# ---------------------------------------------------------------------------
# multimodal: perceptual-hash image dedup (real aHash over real BMP bytes)
# ---------------------------------------------------------------------------


@register(
    "mm_phash_pairs",
    sql="""
    WITH src AS (SELECT doc_id FROM documents WHERE doc_id < 600),
    img AS (
      SELECT doc_id, 8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 4) AS h,
             doc_id % 5 AS seed
      FROM src
    ),
    px AS (
      SELECT doc_id, w, h, seed, unnest(generate_series(0, w * h - 1)) AS p FROM img
    ),
    g AS (
      SELECT doc_id,
             ((3 * p * 37 + seed) % 256 + ((3 * p + 1) * 37 + seed) % 256
              + ((3 * p + 2) * 37 + seed) % 256) // 3 AS gray,
             ((p // w) * 8 // h) * 8 + (p % w) * 8 // w AS cell
      FROM px
    ),
    cells AS (SELECT doc_id, cell, sum(gray) AS cs, count(*) AS cn FROM g GROUP BY 1, 2),
    tot AS (SELECT doc_id, sum(gray) AS ts, count(*) AS n FROM g GROUP BY 1),
    h AS (
      SELECT c.doc_id,
             string_agg(CASE WHEN c.cs * t.n > t.ts * c.cn THEN '1' ELSE '0' END,
                        '' ORDER BY c.cell) AS ahash
      FROM cells c JOIN tot t ON c.doc_id = t.doc_id GROUP BY c.doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             length(list_filter(generate_series(1, 64),
                    i -> substr(a.ahash, i, 1) <> substr(b.ahash, i, 1))) AS hamming
      FROM h a JOIN h b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    """,
    doc="Perceptual-hash IMAGE dedup on REAL decoded bytes: ahash64 computes "
    "the genuine average-hash (8x8 cell means vs global mean, integer "
    "cross-multiplies) from complete synthesized 24-bpp BMPs inside the "
    "Arrow kernel, then Hamming-LSH blocking (4 bands of 16 bits) finds "
    "near-identical images.  By pigeonhole the blocked pairs at distance "
    "<= 3 EQUAL the naive all-pairs join the oracle runs — blocking is "
    "provably lossless at the threshold, and the oracle recomputes every "
    "pixel, every hash bit, and every Hamming distance arithmetically "
    "(operators/multimodal.ahash64 / ahash_near_pairs).",
)
def mm_phash_pairs(spark, sf_dir):
    from ..operators.multimodal import ahash_near_pairs, image_ahash, synth_bmp_with_pixels

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 600)
    d = F.col("doc_id")
    media = docs.select(
        "doc_id",
        synth_bmp_with_pixels(
            F.lit(8) * (F.lit(1) + d % 3), F.lit(8) * (F.lit(1) + d % 4), d % 5
        ).alias("payload"),
    )
    return ahash_near_pairs(image_ahash(media, "doc_id", "payload"))


# ---------------------------------------------------------------------------
# search: inverted-index build/probe split with partition pruning
# ---------------------------------------------------------------------------

_PROBE_TERMS = ["spark", "merge", "vector"]


def _index_probe_oracle() -> str:
    from ..operators.search import index_probe_oracle_sql

    return index_probe_oracle_sql(_PROBE_TERMS, k=10)


@register(
    "search_index_probe",
    sql=_index_probe_oracle(),
    doc="Inverted-index BUILD/PROBE split (the served-search layout, "
    "companion to sim_ivf_probe): postings written partitionBy(sha-bucket "
    "of term) once, then the probe computes the query terms' buckets FROM "
    "THE QUERY ALONE and scans only those partitions (PartitionFilters on "
    "bucket — plan-tested), scoring with the integer idf surrogate "
    "1e6 DIV (1+df) denormalized onto the postings at build time.  The "
    "oracle recomputes build+probe straight off the corpus "
    "(operators/search.index_build / index_probe).",
)
def search_index_probe(spark, sf_dir):
    import tempfile

    from ..operators.search import index_build, index_probe

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="inv_idx_")
    index_build(docs, "text", "doc_id", d)
    return index_probe(spark, d, _PROBE_TERMS, k=10)


# ---------------------------------------------------------------------------
# anomalies: robust IQR outlier profile (rank-exact quartiles)
# ---------------------------------------------------------------------------


def _iqr_oracle() -> str:
    from ..operators.anomaly import iqr_oracle_sql

    return iqr_oracle_sql(
        "events", "event_type", "CAST(floor(value * 100) AS BIGINT)", "event_id"
    )


@register(
    "anomaly_iqr",
    sql=_iqr_oracle(),
    doc="Tukey-fence outlier profile per event type on RANK-EXACT quartiles "
    "(value at rank ceil(p*n) — no interpolation, no float quantile drift) "
    "with 3x-IQR fences as integer cross-multiplies "
    "(operators/anomaly.iqr_outlier_stats).  The robust complement of "
    "anomaly_zscore: immune to the outliers it is hunting.  One window "
    "shuffle + one group aggregate; |groups| rows out.",
)
def anomaly_iqr(spark, sf_dir):
    from ..operators.anomaly import iqr_outlier_stats

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v_cents"),
    )
    return iqr_outlier_stats(ev, "event_type", "v_cents", "event_id")


# ---------------------------------------------------------------------------
# streaming: stream-static enrichment join
# ---------------------------------------------------------------------------


@register(
    "stream_static_join",
    sql="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.event_type
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="§2.12 stream-static enrichment: the events STREAM (file source, "
    "availableNow) joins the static customer dimension — the canonical "
    "enrich-on-ingest shape.  The static side is broadcast per micro-batch "
    "(no stream state at all, unlike stream-stream joins), so at 100 TB/day "
    "the cost is the stream scan alone.  Bounded input makes the streamed "
    "result provably equal the batch join the oracle runs.",
)
def stream_static_join(spark, sf_dir):
    import tempfile
    import uuid

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    d = tempfile.mkdtemp(prefix="stream_ssj2_")
    ev.write.mode("overwrite").parquet(f"{d}/src")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/src")
    out = stream.join(
        F.broadcast(cust), stream["user_id"] == cust["c_custkey"]
    ).select("event_id", "user_id", "segment", "event_type")
    name = f"ssx_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


# ---------------------------------------------------------------------------
# sketches: join-cardinality estimation from count-min inner products
# ---------------------------------------------------------------------------


def _join_size_oracle() -> str:
    from ..operators.sketch import countmin_join_size_oracle_sql

    return countmin_join_size_oracle_sql(
        "la AS (SELECT o_custkey AS item FROM orders)",
        "rb AS (SELECT user_id AS item FROM events)",
    )


@register(
    "sketch_join_size",
    sql=_join_size_oracle(),
    doc="Equi-join cardinality estimation from two count-min sketches "
    "(inner product of counter rows, min over depth — Cormode & "
    "Muthukrishnan): the broadcast/salt/pre-agg planning decision for a "
    "100 TB join made from two KB-sized mergeable sketches "
    "(operators/sketch.countmin_join_size).  Output (est, exact, err_ppm) "
    "with est >= exact one-sided error, the exact product computed "
    "alongside as the verification twin.",
)
def sketch_join_size(spark, sf_dir):
    from ..operators.sketch import countmin_join_size

    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    return countmin_join_size(orders, "o_custkey", events, "user_id")


# ---------------------------------------------------------------------------
# layout: deterministic range-partition boundary planning
# ---------------------------------------------------------------------------


def _range_bounds_oracle() -> str:
    from ..operators.bucketing import range_bounds_oracle_sql

    return range_bounds_oracle_sql(
        "lineitem", "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
        n_parts=8, bin_width=50000,
    )


@register(
    "layout_range_bounds",
    sql=_range_bounds_oracle(),
    doc="Balanced range-partition boundaries from a fixed-bin histogram "
    "(operators/bucketing.range_bounds) — the deterministic replacement for "
    "repartitionByRange's reservoir sample when planning sorted/bucketed "
    "layouts: one |bins|-row aggregate however large the corpus, split "
    "points read off the cumulative histogram, boundary precision exactly "
    "one bin width.  Two runs (or two engines) produce identical bounds, "
    "so incremental writes land in stable partitions.",
)
def layout_range_bounds(spark, sf_dir):
    from ..operators.bucketing import range_bounds

    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents")
    )
    return range_bounds(li, "cents", n_parts=8, bin_width=50000)


# ---------------------------------------------------------------------------
# sampling: deterministic weighted sample (integer Efraimidis-Spirakis)
# ---------------------------------------------------------------------------


def _weighted_oracle() -> str:
    from ..operators.sampling import weighted_sample_oracle_sql

    return weighted_sample_oracle_sql("documents", "doc_id", "n_chars", k=100)


@register(
    "sample_weighted",
    sql=_weighted_oracle(),
    doc="Weighted sampling without replacement, deterministic (integer "
    "Efraimidis-Spirakis: priority = sha256-draw DIV weight, keep the k "
    "smallest — operators/sampling.weighted_sample).  Longer documents are "
    "proportionally likelier; the winner set is a pure function of "
    "(salt, ids, weights), identical across runs, engines, and partition "
    "counts.  Map-only priorities + TakeOrderedAndProject.",
)
def sample_weighted(spark, sf_dir):
    from ..operators.sampling import weighted_sample

    return weighted_sample(_t(spark, sf_dir, "documents"), "doc_id", "n_chars", k=100)


# ---------------------------------------------------------------------------
# text: BPE vocabulary induction (tokenizer training at corpus scale)
# ---------------------------------------------------------------------------


def _bpe_oracle() -> str:
    from ..operators.textops import bpe_oracle_sql

    return bpe_oracle_sql(rounds=3)


@register(
    "text_bpe_train",
    sql=_bpe_oracle(),
    doc="EXACT BPE vocabulary induction (Sennrich et al. 1508.07909) — the "
    "tokenizer-training step of an LLM data pipeline, engine-reproducible: "
    "3 merge rounds learned over the corpus word-frequency table with "
    "lexicographic tie-breaks, greedy left-to-right merging expressed "
    "RELATIONALLY (position windows + run-parity for the self-pair case) so "
    "the identical computation runs in DuckDB.  The only corpus-scale work "
    "is the initial token count; every round is vocab-grain, the top pair "
    "is a 1-row broadcast, state checkpoints per round "
    "(operators/textops.bpe_train).",
)
def text_bpe_train(spark, sf_dir):
    from ..operators.textops import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), "text", rounds=3)


def _bpe_apply_oracle() -> str:
    from ..operators.textops import bpe_apply_oracle_sql

    return bpe_apply_oracle_sql(rounds=3)


@register(
    "text_bpe_apply",
    sql=_bpe_apply_oracle(),
    doc="APPLY side of the BPE split: tokenize the corpus with the learned "
    "merges and report per-doc token/symbol counts — the context-window "
    "budgeting number.  Training is vocab-grain (see text_bpe_train); "
    "application is one corpus join against the word -> n_symbols table "
    "(operators/textops.bpe_apply), the same build/apply discipline as the "
    "ANN and inverted-index splits.",
)
def text_bpe_apply(spark, sf_dir):
    from ..operators.textops import bpe_apply

    return bpe_apply(_t(spark, sf_dir, "documents"), "text", "doc_id", rounds=3)


# ---------------------------------------------------------------------------
# sketches: KMV/theta set-overlap estimation
# ---------------------------------------------------------------------------


def _kmv_oracle() -> str:
    from ..operators.sketch import kmv_overlap_oracle_sql

    return kmv_overlap_oracle_sql(
        "la AS (SELECT user_id AS item FROM events WHERE event_type = 'click')",
        "rb AS (SELECT user_id AS item FROM events WHERE event_type = 'purchase')",
        k=64,
    )


@register(
    "sketch_kmv_overlap",
    sql=_kmv_oracle(),
    doc="Audience-overlap estimation from KMV (theta) sketches — the set "
    "intersection HLL cannot express: k minimum sha256 values per side, "
    "theta from the union sketch, intersection counted among common "
    "survivors below theta (operators/sketch.kmv_overlap).  sha256 order "
    "statistics make both sketches, theta, and the single-division "
    "estimates bit-identical in DuckDB; exact union/intersection computed "
    "alongside.  Two 100 TB key sets compare through 2k longs.",
)
def sketch_kmv_overlap(spark, sf_dir):
    from ..operators.sketch import kmv_overlap

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    return kmv_overlap(clicks, "user_id", purchases, "user_id", k=64)


# ---------------------------------------------------------------------------
# multimodal: animated-GIF container walk (frame count + duration)
# ---------------------------------------------------------------------------


@register(
    "mm_gif_frames",
    sql="""
    WITH vid AS (
      SELECT doc_id, 16 + doc_id % 64 AS w, 12 + doc_id % 48 AS h,
             1 + doc_id % 12 AS n
      FROM documents WHERE doc_id < 800
    ),
    d AS (
      SELECT doc_id, CAST(sum(4 + i % 3) AS BIGINT) AS total_delay_cs
      FROM (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM vid)
      GROUP BY doc_id
    )
    SELECT vid.doc_id AS id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(n AS INT) AS n_frames, d.total_delay_cs
    FROM vid JOIN d ON vid.doc_id = d.doc_id
    """,
    doc="Animated-GIF container walk on REAL bytes (the video-metadata "
    "probe): synth_gif emits complete GIF89a streams (screen descriptor, "
    "per-frame Graphic Control Extensions with varying delays, image "
    "descriptors, LZW sub-blocks), and gif_frame_info walks the block "
    "structure — skipping color tables by flag bits and sub-blocks by "
    "length prefixes, never decompressing — to count frames and sum "
    "durations (operators/multimodal.gif_frames).  The oracle predicts "
    "every field arithmetically, so a block-walk bug cannot hash-match.  "
    "Map-only at any scale.",
)
def mm_gif_frames(spark, sf_dir):
    from ..operators.multimodal import gif_frames, synth_gif

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 800)
    d = F.col("doc_id")
    media = docs.select(
        "doc_id",
        synth_gif(F.lit(16) + d % 64, F.lit(12) + d % 48, F.lit(1) + d % 12).alias("payload"),
    )
    return gif_frames(media, "doc_id", "payload")


# ---------------------------------------------------------------------------
# search: positional phrase matching
# ---------------------------------------------------------------------------

_PHRASE = ["table", "hash"]


def _phrase_oracle() -> str:
    from ..operators.search import phrase_oracle_sql

    return phrase_oracle_sql(_PHRASE)


@register(
    "search_phrase",
    sql=_phrase_oracle(),
    doc="Exact phrase search via POSITIONAL token joins — the query a "
    "positional inverted index serves (operators/search.phrase_match): "
    "tokens exploded with positions, one (doc, position+offset) hash join "
    "per phrase gap, restricted to the phrase terms' postings before any "
    "join.  Adjacency is tokenizer-defined, identical in the oracle; "
    "output is (doc, n_hits) over distinct starting positions.",
)
def search_phrase(spark, sf_dir):
    from ..operators.search import phrase_match

    return phrase_match(_t(spark, sf_dir, "documents"), _PHRASE)


# ---------------------------------------------------------------------------
# aggregation: sliding-window DISTINCT counts (the window family's gap)
# ---------------------------------------------------------------------------


@register(
    "g20_sliding_distinct",
    sql="""
    WITH ev AS (
      SELECT (epoch_us(ts) // 900000000) * 900000000 AS q, user_id FROM events
    ),
    cover AS (
      SELECT DISTINCT q - u.k * 900000000 AS win_start_us, user_id
      FROM ev, (SELECT unnest(generate_series(0, 3)) AS k) u
    )
    SELECT win_start_us, count(*) AS n_distinct_users
    FROM cover GROUP BY 1
    """,
    doc="Sliding-window DISTINCT user counts (1h window, 15min slide): "
    "Spark windows cannot take COUNT(DISTINCT), so each event expands to "
    "its 4 covering windows in-task (explode — row fan-out before any "
    "shuffle), the (window, user) pairs dedupe once, and one count per "
    "window closes it.  Two key-grained shuffles regardless of event "
    "volume; the slide/width ratio bounds the fan-out constant (an event "
    "covers exactly width/slide windows).",
)
def g20_sliding_distinct(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    q = (F.unix_micros("ts") / 900_000_000).cast("long") * 900_000_000
    covered = ev.select(
        F.explode(F.sequence(q - 3 * 900_000_000, q, F.lit(900_000_000))).alias("win_start_us"),
        "user_id",
    )
    return (
        covered.distinct()
        .groupBy("win_start_us")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
    )


# ---------------------------------------------------------------------------
# similarity: multi-probe LSH + exact re-rank (two-stage retrieval)
# ---------------------------------------------------------------------------


def _multiprobe_oracle() -> str:
    from ..operators.similarity import multiprobe_oracle_sql

    return multiprobe_oracle_sql(query_id=0, plane_lo=1, plane_hi=8, k=5)


@register(
    "sim_multiprobe",
    sql=_multiprobe_oracle(),
    doc="MULTI-PROBE LSH retrieval (Lv et al.) + exact re-rank — the "
    "two-stage production shape: probe the query's integer-exact hyperplane "
    "bucket AND all Hamming-1 neighbors (where boundary neighbors fall), "
    "re-rank the candidate union by int64-dot/sqrt scores "
    "(operators/similarity.multiprobe_topk).  Raises recall to 9-bucket "
    "coverage while reading 9/256 of a bucket-partitioned corpus; every "
    "bucket bit and score is bit-identical in DuckDB.",
)
def sim_multiprobe(spark, sf_dir):
    from ..operators.similarity import multiprobe_topk

    emb = _t(spark, sf_dir, "embeddings")
    rows = emb.where(F.col("vec_id").between(1, 8)).orderBy("vec_id").select("embedding").collect()
    planes = [list(r[0]) for r in rows]
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    return multiprobe_topk(emb.where(F.col("vec_id") != 0), "embedding", "vec_id", qvec, planes, k=5)


# ---------------------------------------------------------------------------
# curation: model-based quality funnel (the round-3 scorer chain composed)
# ---------------------------------------------------------------------------


def _quality_funnel_oracle() -> str:
    from ..operators.textops import hashed_linear_oracle_sql, lm_bigram_oracle_sql

    clf = hashed_linear_oracle_sql(n_buckets=1024)
    lm = lm_bigram_oracle_sql()
    return f"""
    WITH clf AS ({clf}),
    lm AS ({lm}),
    s1 AS (SELECT doc_id FROM documents),
    s2 AS (SELECT doc_id FROM s1 WHERE doc_id IN (SELECT doc_id FROM clf WHERE positive)),
    s3 AS (SELECT doc_id FROM s2 WHERE doc_id IN
             (SELECT doc_id FROM lm WHERE lm_score_ppm >= 1500)),
    s4 AS (SELECT s3.doc_id FROM s3 JOIN documents d ON d.doc_id = s3.doc_id
           WHERE d.n_chars >= 100)
    SELECT 1 AS stage_ord, 'raw' AS stage, (SELECT count(*) FROM s1) AS n_docs
    UNION ALL SELECT 2, 'classifier', (SELECT count(*) FROM s2)
    UNION ALL SELECT 3, 'lm_score', (SELECT count(*) FROM s3)
    UNION ALL SELECT 4, 'length', (SELECT count(*) FROM s4)
    """


@register(
    "curation_quality_funnel",
    sql=_quality_funnel_oracle(),
    doc="MODEL-BASED quality funnel — the scorer chain composed end-to-end "
    "(companion to curation_e2e's dedup chain): hashed linear classifier "
    "sign gate -> corpus-bigram-LM score floor -> length floor, reported as "
    "the attrition funnel (stage, n_docs).  Each stage is the registry "
    "operator itself (text_classifier_score, text_lm_score); survivors "
    "chain by left-semi joins, counts are O(1)-output aggregates.",
)
def curation_quality_funnel(spark, sf_dir):
    from ..operators.textops import hashed_linear_score, lm_bigram_scores

    docs = _t(spark, sf_dir, "documents")
    clf = hashed_linear_score(docs, "text", "doc_id")
    s2 = docs.join(clf.where(F.col("positive")).select("doc_id"), "doc_id", "left_semi")
    lm = lm_bigram_scores(docs, "text", "doc_id")
    # EAGER checkpoint: the lm_score count and the length-stage count start
    # in concurrent stages and raced the lazy persist, re-running the
    # bigram scorer per consumer (round-10 dedup_ngram_jaccard class)
    s3 = s2.join(
        lm.where(F.col("lm_score_ppm") >= 1500).select("doc_id"), "doc_id", "left_semi"
    ).transform(materialize)
    s4 = s3.where(F.col("n_chars") >= 100)
    stages = [("raw", docs), ("classifier", s2), ("lm_score", s3), ("length", s4)]
    out = None
    for i, (name, sdf) in enumerate(stages, 1):
        row = sdf.agg(F.count("*").alias("n_docs")).select(
            F.lit(i).alias("stage_ord"), F.lit(name).alias("stage"), F.col("n_docs")
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# anomalies: seasonality-aware volume baseline
# ---------------------------------------------------------------------------


def _seasonal_oracle() -> str:
    from ..operators.anomaly import seasonal_oracle_sql

    return seasonal_oracle_sql("events", "ts", "event_type")


@register(
    "anomaly_seasonal",
    sql=_seasonal_oracle(),
    doc="Seasonality-aware volume anomalies "
    "(operators/anomaly.seasonal_baseline_flags): each (event_type, hour) "
    "count compares against the rank-exact MEDIAN of the same hour-of-day — "
    "the robust diurnal baseline a global mean gets wrong twice.  Flags are "
    "integer cross-multiplies (2*cnt vs 4*med / 1*med); one bucket-count "
    "aggregation, one per-(group, hod) window, one join back.",
)
def anomaly_seasonal(spark, sf_dir):
    from ..operators.anomaly import seasonal_baseline_flags

    return seasonal_baseline_flags(_t(spark, sf_dir, "events"), "ts", "event_type")


# ---------------------------------------------------------------------------
# source-level minhash similarity matrix
# ---------------------------------------------------------------------------


def _src_sig_sql() -> str:
    width, slices, n = 12, 5, 16
    cols = ",\n             ".join(
        f"min(substr(sha256('{i // slices}:' || s), {1 + width * (i % slices)}, {width})) AS mh{i}"
        for i in range(n)
    )
    return f"""toks AS (
      SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    idx AS (SELECT source, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS j
            FROM toks WHERE len(t) >= 3),
    shingle AS (SELECT source, t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS s FROM idx),
    sig AS (
      SELECT source,
             {cols}
      FROM shingle GROUP BY source
    )"""


@register(
    "sketch_source_similarity",
    sql=f"""
    WITH {_src_sig_sql()}
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({" + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(16))}
             AS BIGINT) AS n_agree,
           CAST(({" + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(16))})
                * 1000000 // 16 AS BIGINT) AS jaccard_est_ppm
    FROM sig a JOIN sig b ON a.source < b.source
    """,
    doc="SOURCE-LEVEL MINHASH SIMILARITY MATRIX: one 16-hash minhash "
    "signature per SOURCE (min over the union of its documents' shingles "
    "— a multiset min equals the set min, so no per-doc dedup pass), "
    "then every source pair's signature-agreement Jaccard estimate in "
    "exact ppm.  The corpus-vs-corpus overlap view (how much does crawl "
    "A duplicate crawl B?) that drives dedup budgeting BEFORE any "
    "pairwise doc work is spent — the same estimator dedup_scored_pairs "
    "uses per document pair, lifted to the source grain where the "
    "signature table is |sources| x 16 strings.  Shape: one partial-"
    "aggregable min-aggregate collapses the corpus to the |sources|-row "
    "signature frame; the pair join runs on that frame (25 rows -> 10 "
    "pairs).  Mergeable like every sketch here: region signatures "
    "min-combine to global ones.",
)
def sketch_source_similarity(spark, sf_dir):
    from ..operators.dedup import minhash_signatures

    n = 16
    # a source's signature is the minhash of the union of its documents'
    # shingles: minhash_signatures keyed on the source, not the doc
    sig = minhash_signatures(_t(spark, sf_dir, "documents"), "text", "source", n=n, width=12)
    a = sig.select(F.col("doc").alias("source_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n)])
    b = sig.select(F.col("doc").alias("source_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n)])
    agree = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(n))
    return (
        a.join(b, F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            agree.alias("n_agree"),
            F.expr(
                "CAST(("
                + " + ".join(f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(n))
                + ") * 1000000 div 16 AS BIGINT)"
            ).alias("jaccard_est_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# corpus vocabulary growth (Heaps' law curve)
# ---------------------------------------------------------------------------


@register(
    "text_vocab_growth",
    sql="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS j
            FROM toks WHERE len(t) >= 3),
    sh AS (SELECT doc_id, t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS s FROM idx),
    firsts AS (
      SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
    ),
    b AS (
      SELECT length(bin(first_doc + 1)) - 1 AS bucket,
             count(*) AS new_terms
      FROM firsts GROUP BY 1
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(new_terms AS BIGINT) AS new_terms,
           CAST(sum(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS vocab_size
    FROM b
    """,
    doc="VOCABULARY GROWTH CURVE (Heaps' law) over 3-token SHINGLES: how "
    "many NEW shingles each power-of-two doc-index bucket introduces and "
    "the cumulative shingle vocabulary — single tokens saturate the "
    "closed synthetic vocabulary within the first documents (a 3-row "
    "degenerate curve, found the hard way), while shingle variety is "
    "combinatorial and keeps growing, the same reason "
    "search_related_docs blocks on shingles.  The "
    "sublinear curve that says when a corpus stops teaching a tokenizer "
    "new text (flat tail = diminishing data value, the question behind "
    "every 'do we need more of this source' call; pairs with "
    "corpus_novelty's per-document view).  First occurrence needs NO "
    "ordered scan: min(doc_id) per shingle IS the first occurrence under "
    "doc-id order, one partial-aggregable groupBy; the log2 "
    "buckets (length(bin(first_doc+1))-1, the graph_degree_hist trick) "
    "and cumulative sum run on the O(log corpus) frame — log-spaced "
    "buckets resolve the fast early growth a linear decile split "
    "collapses into one row.  Exact at any scale — the "
    "vocabulary frame is the only wide state and it is the thing being "
    "measured.",
)
def text_vocab_growth(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions.text import word_shingles

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("s"))
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    b = (
        firsts.select((F.length(F.bin(F.col("first_doc") + 1)) - 1).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = W.partitionBy(F.lit(0)).orderBy("bucket")
    return b.select(
        "bucket",
        "new_terms",
        F.sum("new_terms").over(w).cast("long").alias("vocab_size"),
    )
