"""Embedding quantization for similarity search at scale (north-star
capability per BASELINE.json — no reference analog).

Scalar int8 quantization: per-dimension corpus min/max → each float32
component maps to floor((x - mn) * 255 / (mx - mn)) in [0, 255].  This is
the standard memory-4x-reduction step in front of an IVF/LSH index (see
operators/similarity.py): 100 TB of float32 embeddings become 25 TB of
codes plus an ndims-row stats table.

One code grid: ``quantized_vectors`` is the int8 code of every embedding,
the input of the integer k-means (operators/clustering.py), PQ
(operators/pq.py) and the IVF/k-NN operators (operators/similarity.py);
``int8_quantize`` is its comma-joined projection.  The stats come from
``dimension_stats`` (one ndims-group aggregate, collected); the encode is a
map-only per-row ``transform``.

Cross-engine determinism: float32 → float64 casts are exact, min/max are
order-independent, and the quantize expression is a fixed parse tree of
IEEE-754 double ops — bit-identical in Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dimension_stats(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Per-dimension (pos, mn, mx) over the corpus — one partial-aggregated
    shuffle of ndims groups, independent of corpus size."""
    ex = df.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "x")).withColumn(
        "x", F.col("x").cast("double")
    )
    return ex.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))


def quantized_vectors(df: DataFrame, vec_col: str, id_col: str, center: int = 0) -> DataFrame:
    """(id, qv array<long>) — the int8 code of each embedding, as an array;
    a NULL embedding gets a NULL code.

    ``center`` shifts every code by -center (e.g. 128 → codes in
    [-128, 127]).  A common integer shift changes NO pairwise L2 distance
    (so k-means clustering is identical), but it re-centers dot products:
    cosine over centered codes tracks true float cosine, where cosine over
    the raw non-negative [0, 255] codes is compressed into [0.85, 1.0]
    (measured on testdata) and cannot separate near-dups from the bulk.
    """
    # The stats frame is DIM-bounded (one row per dimension), so it is
    # collected to the driver and re-enters as literal arrays; quantization
    # is then a per-row ``transform`` with zero shuffles, instead of a
    # broadcast join onto the 64x-exploded corpus and a collect_list
    # regroup of it.
    stats = {r["pos"]: (r["mn"], r["mx"]) for r in dimension_stats(df, vec_col, id_col).collect()}
    mns = F.array(*[F.lit(stats[p][0]) for p in sorted(stats)])
    mxs = F.array(*[F.lit(stats[p][1]) for p in sorted(stats)])

    def _code(x, i):
        mn = F.element_at(mns, i + 1)
        mx = F.element_at(mxs, i + 1)
        q = F.when(mx == mn, F.lit(0).cast("long")).otherwise(
            F.least(
                F.floor((x.cast("double") - mn) * F.lit(255.0) / (mx - mn)),
                F.lit(255).cast("long"),
            )
        )
        return q - F.lit(int(center)) if center else q

    return df.select(
        F.col(id_col).alias("id"), F.transform(F.col(vec_col), _code).alias("qv")
    )


def int8_quantize(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, n_dims, code) with code = comma-joined int8 components in
    dimension order: a projection of quantized_vectors, map-only after the
    one ndims-row stats collect.  A NULL or empty embedding has no row."""
    qv = F.col("qv")
    return (
        quantized_vectors(df, vec_col, id_col)
        .where(F.size(qv) > 0)
        .select(
            F.col("id").alias(id_col),
            F.size(qv).alias("n_dims"),
            F.concat_ws(",", qv.cast("array<string>")).alias("code"),
        )
    )


def l2_normalize(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Unit-normalize embeddings (cosine becomes plain dot product
    downstream).  Map-only array expressions, no shuffle, no Python.

    Cross-engine bit-exactness: the sum of squares is a LEFT FOLD in array
    order (``F.aggregate`` with 0.0 init == DuckDB ``list_reduce``; 0.0 + x
    is exact), sqrt and each division are single correctly-rounded IEEE ops,
    and the emitted check column quantizes to ppm ints so the oracle
    hash-compares integers, not float formatting."""
    xd = lambda x: x.cast("double")  # noqa: E731
    sumsq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: xd(x) * xd(x)), F.lit(0.0), lambda a, b: a + b
    )
    norm = F.sqrt(sumsq)
    code = F.concat_ws(
        ",",
        F.transform(F.col(vec_col), lambda x: F.floor(xd(x) / norm * F.lit(1000000.0)).cast("string")),
    )
    return df.select(
        F.col(id_col),
        F.size(F.col(vec_col)).alias("n_dims"),
        code.alias("unit_ppm_code"),
    )
