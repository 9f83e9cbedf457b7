"""Product quantization (PQ) for embedding compression + fast approximate
distance — the codebook layer inside IVF-PQ indexes (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011; north-star
LLM-pipeline layer, no reference analog).

Pipeline: int8-quantize each embedding per dimension (operators/quantize.
quantized_vectors), split the D dims into M subspaces, run k-means per
subspace in EXACT integer space (seeds = the K lowest ids' subvectors, one
Lloyd round — same determinism argument as operators/clustering.kmeans_int8),
and encode every vector as M small centroid ids.  64 float32 dims become
M=8 nibble-sized codes: 32x compression.  Query-time ADC (asymmetric
distance computation) sums per-subspace distances from a query to each
code's centroid — a (M x K)-entry lookup table instead of a D-dim scan per
vector.

Determinism: distances, floor-mean centroid updates, argmin tiebreaks
(dist, centroid id) and the ADC sums are ALL exact int64 arithmetic — the
codes and approximate distances are bit-identical on any engine, so the
whole PQ index construction is oracle-checkable (float PQ could never be).

Scale shape: codebook training groups by (subspace, centroid) — K x M tiny
groups with map-side combine; encoding joins each vector's subvectors
against the broadcast (M x K)-row codebook; ADC scans CODES (M ints/vector),
not vectors, and the final top-k is a TakeOrdered heap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .quantize import quantized_vectors
from ..functions.materialize import materialize_lazy


def _sub_long(vecs: DataFrame, sub_dims: int) -> DataFrame:
    """(id, m, pos, q) long form with subspace id m = pos // sub_dims."""
    ex = vecs.select("id", F.posexplode("qv").alias("pos", "q"))
    return ex.select(
        "id", (F.col("pos") / sub_dims).cast("long").alias("m"), "pos", "q"
    )


def pq_codebook_and_codes(
    df: DataFrame, vec_col: str, id_col: str, sub_dims: int = 8, k: int = 16
) -> tuple[DataFrame, DataFrame]:
    """Returns (codebook, codes):
    codebook — (m, cid, pos, c): per-subspace centroid components after one
    Lloyd round from the K lowest-id seeds;
    codes    — (id, m, cid): each vector's nearest centroid per subspace.
    """
    vecs = quantized_vectors(df, vec_col, id_col)
    sub = _sub_long(vecs, sub_dims).transform(materialize_lazy)
    seeds = sub.select("id").distinct().orderBy("id").limit(k)
    c0 = (
        sub.join(seeds, "id")
        .select("m", F.col("id").alias("cid"), "pos", F.col("q").alias("c"))
    )

    def assign(centroids: DataFrame) -> DataFrame:
        # guard the packing domain on the K×M-row centroid side (free), so
        # the (d2, cid) argmin can run as min over ONE packed BIGINT —
        # min(struct(d2, cid)) has a non-UnsafeRow-mutable buffer and planned
        # SORTAGGREGATE over the n×M×K distance stream (the SCALE.md §48
        # super-linear class); d2 ≤ sub_dims·255² < 2^20, so the packed
        # order is isomorphic with (d2, cid) and the agg hashes.
        guarded = centroids.withColumn(
            "cid",
            F.when(
                (F.col("cid") < 0) | (F.col("cid") > F.lit((1 << 32) - 1)),
                F.raise_error(F.lit("pq assign: cid outside [0, 2^32) breaks d2*2^32+cid packing")),
            ).otherwise(F.col("cid")),
        )
        d = (
            sub.alias("s")
            .join(F.broadcast(guarded).alias("c"), (F.col("s.m") == F.col("c.m")) & (F.col("s.pos") == F.col("c.pos")))
            .groupBy(F.col("s.id").alias("id"), F.col("s.m").alias("m"), F.col("c.cid").alias("cid"))
            .agg(F.sum((F.col("s.q") - F.col("c.c")) * (F.col("s.q") - F.col("c.c"))).alias("d2"))
        )
        best = d.groupBy("id", "m").agg(
            F.min(F.col("d2") * F.lit(1 << 32).cast("long") + F.col("cid")).alias("packed")
        )
        return best.select(
            "id",
            "m",
            (F.col("packed") % F.lit(1 << 32).cast("long")).alias("cid"),
            F.expr(f"packed div {1 << 32}").alias("d2"),
        )

    a1 = assign(c0)
    c1 = (
        sub.join(a1.select("id", "m", "cid"), ["id", "m"])
        .groupBy("m", "cid", "pos")
        .agg(F.expr("sum(q) div count(1)").alias("c"))  # exact floor-mean (q >= 0)
    )
    codes = assign(c1).select("id", "m", "cid")
    return c1, codes


def pq_adc_topk(
    df: DataFrame, vec_col: str, id_col: str, query_id: int, k_top: int = 10,
    sub_dims: int = 8, k: int = 16,
) -> DataFrame:
    """Approximate top-k neighbors of `query_id` by ADC over PQ codes, with
    the exact int8-space distance alongside (recall is inspectable).  Output
    (id, adc_d2, exact_d2) ordered by (adc_d2, id)."""
    codebook, codes = pq_codebook_and_codes(df, vec_col, id_col, sub_dims, k)
    vecs = quantized_vectors(df, vec_col, id_col)
    sub = _sub_long(vecs, sub_dims)
    qsub = sub.where(F.col("id") == query_id).select("m", "pos", F.col("q").alias("qq"))
    # the (M x K) ADC lookup table: distance from the query's subvector to
    # every centroid — tiny, built with one broadcast join
    lut = (
        codebook.alias("c")
        .join(F.broadcast(qsub).alias("q"), (F.col("c.m") == F.col("q.m")) & (F.col("c.pos") == F.col("q.pos")))
        .groupBy(F.col("c.m").alias("m"), F.col("c.cid").alias("cid"))
        .agg(F.sum((F.col("q.qq") - F.col("c.c")) * (F.col("q.qq") - F.col("c.c"))).alias("d2"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "cid"])
        .groupBy("id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    # exact int8-space distance for the same pairs (recall ride-along)
    qfull = sub.where(F.col("id") == query_id).select("pos", F.col("q").alias("qq"))
    exact = (
        sub.join(F.broadcast(qfull), "pos")
        .groupBy("id")
        .agg(F.sum((F.col("q") - F.col("qq")) * (F.col("q") - F.col("qq"))).alias("exact_d2"))
    )
    return (
        # shuffle-hash, not sort-merge: both sides are n-row aggregated
        # frames; an SMJ would sort the corpus-sized frames just to join ids
        adc.join(exact.hint("shuffle_hash"), "id")
        .where(F.col("id") != query_id)
        .orderBy("adc_d2", "id")
        .limit(k_top)
    )


def pq_oracle_sql(query_id: int, k_top: int = 10, sub_dims: int = 8, k: int = 16,
                  src: str = "embeddings") -> str:
    """DuckDB twin: same quantization, subspace split, seeded k-means round,
    floor-mean update, (d2, cid) tiebreaks, ADC lookup and final order."""
    return f"""
    WITH raw AS (
      SELECT vec_id AS id, unnest(embedding) AS xf,
             generate_subscripts(embedding, 1) AS pos0
      FROM {src}
    ),
    ex AS (SELECT id, pos0 - 1 AS pos, CAST(xf AS DOUBLE) AS x FROM raw),
    stats AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
    q AS (
      SELECT e.id, e.pos, e.pos // {sub_dims} AS m,
        CASE WHEN s.mx = s.mn THEN 0
             ELSE least(CAST(floor((e.x - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT), 255)
        END AS q
      FROM ex e JOIN stats s ON e.pos = s.pos
    ),
    seeds AS (SELECT DISTINCT id FROM q ORDER BY id LIMIT {k}),
    c0 AS (SELECT q.m, q.id AS cid, q.pos, q.q AS c FROM q JOIN seeds ON q.id = seeds.id),
    d1 AS (
      SELECT q.id, q.m, c0.cid, sum((q.q - c0.c) * (q.q - c0.c)) AS d2
      FROM q JOIN c0 ON q.m = c0.m AND q.pos = c0.pos
      GROUP BY q.id, q.m, c0.cid
    ),
    a1 AS (
      SELECT id, m, cid,
             row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
      FROM d1
    ),
    c1 AS (
      SELECT q.m, a1.cid, q.pos, CAST(floor(sum(q.q) * 1.0 / count(*)) AS BIGINT) AS c
      FROM q JOIN a1 ON q.id = a1.id AND q.m = a1.m AND a1.rn = 1
      GROUP BY q.m, a1.cid, q.pos
    ),
    d2s AS (
      SELECT q.id, q.m, c1.cid, sum((q.q - c1.c) * (q.q - c1.c)) AS d2
      FROM q JOIN c1 ON q.m = c1.m AND q.pos = c1.pos
      GROUP BY q.id, q.m, c1.cid
    ),
    codes AS (
      SELECT id, m, cid FROM (
        SELECT id, m, cid,
               row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
        FROM d2s
      ) WHERE rn = 1
    ),
    qsub AS (SELECT m, pos, q AS qq FROM q WHERE id = {query_id}),
    lut AS (
      SELECT c1.m, c1.cid, sum((qsub.qq - c1.c) * (qsub.qq - c1.c)) AS d2
      FROM c1 JOIN qsub ON c1.m = qsub.m AND c1.pos = qsub.pos
      GROUP BY c1.m, c1.cid
    ),
    adc AS (
      SELECT codes.id, CAST(sum(lut.d2) AS BIGINT) AS adc_d2
      FROM codes JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
      GROUP BY codes.id
    ),
    qfull AS (SELECT pos, q AS qq FROM q WHERE id = {query_id}),
    exact AS (
      SELECT q.id, CAST(sum((q.q - qfull.qq) * (q.q - qfull.qq)) AS BIGINT) AS exact_d2
      FROM q JOIN qfull ON q.pos = qfull.pos
      GROUP BY q.id
    )
    SELECT adc.id, adc.adc_d2, exact.exact_d2
    FROM adc JOIN exact ON adc.id = exact.id
    WHERE adc.id <> {query_id}
    ORDER BY adc.adc_d2, adc.id
    LIMIT {k_top}
    """
