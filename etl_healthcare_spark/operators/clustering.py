"""Corpus clustering over embeddings — k-means in QUANTIZED integer space
(north-star LLM-pipeline layer; no reference analog).  Topic-bucketing a
100 TB corpus (for mixture balancing, dedup blocking, or IVF coarse cells)
does not need float centroids: cluster the int8 codes.

Why integer space: float k-means is not reproducible across engines (sum
order changes the centroid in the last bits, which can flip assignments of
boundary points), so it could only ever be a rows-only check.  In int8 space
every distance is an EXACT integer (sum of squared int differences — order-
free), every centroid component is an exact floor-mean integer, and argmin
ties break on centroid id: the whole algorithm is deterministic on any
engine, which is what makes `cluster_kmeans` hash-checkable against DuckDB.

Scale shape (the standard distributed k-means):
  * quantization: operators/quantize.quantized_vectors — one ndims-group
    aggregate (collected), then a map-only encode;
  * assignment: ``nearest_centroid`` — the k-row centroid table is collected
    (bounded, guarded by _guard_collect_k) and rides the task closure; each
    Arrow batch argmins an exact int64 GEMM — map-only, no shuffle, no n x k
    row stream, whatever the corpus size;
  * centroid update: posexplode + groupBy (cluster, pos) — ONE shuffle of
    n x ndims skinny rows with full partial aggregation (map-side combine
    reduces to k x ndims per partition);
  * rounds: ``lloyd`` — a driver-side for-loop of update + assignment, the
    same shape Spark MLlib uses.  kmeans_int8, the SemDeDup blocking, the
    IVF index build and the blocked k-NN join all run it.

A NULL code (a NULL embedding) is never a seed or a centroid member; it
gets a NULL cluster and dist2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.materialize import materialize
from ..functions.vectors import int_dot
from .quantize import quantized_vectors


def _dist2(a, b):
    """Exact integer squared L2 between two long arrays (order-free sum)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0).cast("long"), lambda acc, d: acc + d)


def nearest_centroid(vecs: DataFrame, centroid_rows, block: int = 8192) -> DataFrame:
    """(id, qv, cluster, dist2): each code's nearest centroid by exact
    squared L2, ties to the smallest centroid id.  ``vecs`` is (id, qv);
    ``centroid_rows`` are collected (cid, cv) rows.

    The k-row centroid table (k x 64 longs — k grows only as n/2500 under
    the SemDeDup contract, ~123 KB at sf3) rides the task closure; each
    Arrow batch computes d2 = |v|^2 - 2 v.C + |C|^2 exactly in int64 (codes
    <= 255 keep every term far inside int64) and argmins it.  Centroids are
    sorted by cid and np.argmin returns the FIRST minimum, so a tie goes to
    the smallest cid.  This replaced a crossJoin(broadcast(centroids)) whose
    n x k row stream, with k = ceil(n/2500), was quadratic in the corpus
    (SCALE.md §46).

    A NULL code gets a NULL cluster and dist2; a code of any other length
    than the centroids', or with a NULL element, raises ValueError naming
    its row id."""
    _guard_collect_k(len(centroid_rows))
    id_t = dict(vecs.dtypes)["id"]
    schema = f"id {id_t}, qv array<bigint>, cluster bigint, dist2 bigint"
    rows = sorted(centroid_rows, key=lambda r: r["cid"])
    if not rows:
        # the kernel would np.AxisError on the 1-D C=np.array([])
        return vecs.sparkSession.createDataFrame([], schema)
    cids = [int(r["cid"]) for r in rows]
    cvs = [[int(x) for x in r["cv"]] for r in rows]
    n_dims = len(cvs[0])

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.array(cvs, dtype=np.int64)
        c2 = (C * C).sum(axis=1)
        cid_arr = np.array(cids, dtype=np.int64)
        for pdf in batches:
            n = len(pdf)
            live = pdf["qv"].notna().to_numpy()
            out_c = np.zeros(n, dtype=np.int64)
            out_d = np.zeros(n, dtype=np.int64)
            if live.any():
                codes = pdf["qv"][live]
                ok = codes.map(len).to_numpy() == n_dims
                if ok.all():
                    # a NULL element arrives as NaN in a float64 array
                    mf = np.array(codes.tolist(), dtype=np.float64)
                    ok = np.isfinite(mf).all(axis=1)
                if not ok.all():
                    bad = pdf["id"][live][~ok].tolist()[0]
                    raise ValueError(
                        f"nearest_centroid: row {bad!r} is not a {n_dims}-dim code without NULLs"
                    )
                m, rows_at = mf.astype(np.int64), np.flatnonzero(live)
                for lo in range(0, len(m), block):
                    mb, at = m[lo : lo + block], rows_at[lo : lo + block]
                    d2 = (mb * mb).sum(axis=1)[:, None] - 2 * (mb @ C.T) + c2[None, :]
                    j = d2.argmin(axis=1)
                    out_c[at] = cid_arr[j]
                    out_d[at] = d2[np.arange(len(mb)), j]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "qv": pdf["qv"],
                    "cluster": pd.arrays.IntegerArray(out_c, ~live),
                    "dist2": pd.arrays.IntegerArray(out_d, ~live),
                }
            )

    return vecs.mapInPandas(assign, schema=schema)


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: element-wise floor-mean of members (exact integers)."""
    ex = assigned.select("cluster", F.posexplode("qv").alias("pos", "q"))
    means = ex.groupBy("cluster", "pos").agg(
        # true floor (not cast-truncation) so centered codes (negatives,
        # quantized_vectors center=128) floor-mean identically to DuckDB;
        # for the non-negative raw codes floor == truncation, so
        # cluster_kmeans results are unchanged.
        F.floor(F.sum("q") / F.count(F.lit(1))).alias("c")
    )
    return means.groupBy("cluster").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]).alias("cv")
    ).select(F.col("cluster").alias("cid"), "cv")


def lloyd(vecs: DataFrame, k: int, rounds: int):
    """Deterministic integer Lloyd k-means over (id, qv) codes.

    Seeds = the codes of the k lowest ids with a non-NULL code; each of the
    ``rounds`` rounds is one floor-mean update (_update, collected) and one
    nearest_centroid assignment.  Returns ``(centroid_rows, assigned)``:
    the collected (cid, cv) rows the last assignment used, and that
    assignment (id, qv, cluster, dist2).  Every quantity is an exact
    integer, so results are engine-independent."""
    rows = (
        vecs.where(F.col("qv").isNotNull())
        .orderBy("id")
        .limit(k)
        .select(F.col("id").alias("cid"), F.col("qv").alias("cv"))
        .collect()
    )
    assigned = nearest_centroid(vecs, rows)
    for _ in range(rounds):
        rows = _update(assigned).collect()
        assigned = nearest_centroid(vecs, rows)
    return rows, assigned


def kmeans_int8(
    df: DataFrame, vec_col: str, id_col: str, k: int = 8, rounds: int = 1
) -> DataFrame:
    """Deterministic k-means over int8 codes: ``lloyd`` from the k smallest
    ids' codes; returns the final (id, cluster, dist2) assignment."""
    _, assigned = lloyd(quantized_vectors(df, vec_col, id_col), k, rounds)
    return assigned.select("id", "cluster", "dist2")


# SemDeDup pair cost is n^2/k spread over k cluster tasks; holding the MEAN
# CLUSTER SIZE constant (k = ceil(n/target)) makes total pair work LINEAR in
# the corpus (n x target/2 candidate pairs) and parallelism grow with it —
# the "k grows with the corpus" scale contract, caught as a real blocker by
# the round-6 full-registry sf1.0 sweep (k=8 over 200k vectors = 2.5e9 pairs
# on 8-way parallelism).  8 is the floor so small corpora keep the historic
# shape (every sf <= 0.1 has n <= 20000 -> k = 8, results unchanged).
SEMANTIC_TARGET_CLUSTER_SIZE = 2500


def auto_cluster_count(n_rows: int, target: int = SEMANTIC_TARGET_CLUSTER_SIZE) -> int:
    """Blocking-cluster count for a corpus of ``n_rows`` embeddings."""
    return max(8, -(-int(n_rows) // target))


# nearest_centroid collects the k-row centroid table to the driver each
# round (k x 64 longs ~ 0.5 KB/row).  That is the deliberate bounded
# collect of the SemDeDup design — but "bounded" stops being true somewhere:
# at k = ceil(n/2500), 250M vectors -> k = 100k (~50 MB, fine); 1B -> k = 400k
# (~200 MB closure shipped to EVERY task each round, not fine).  Past this
# threshold the flat centroid table must become a distributed IVF coarse
# quantizer: train ~sqrt(k) super-centroids, partition centroids by
# super-cell, and assign via two-level lookup (probe the super-cell, then
# argmin inside it) — the same index shape operators/similarity.py already
# builds for sim_ivf_topk.  Guarded so the failure mode is this error, not
# a driver OOM mid-job.
SEMANTIC_MAX_COLLECT_K = 131_072


def _guard_collect_k(k: int) -> None:
    if k > SEMANTIC_MAX_COLLECT_K:
        raise ValueError(
            f"centroid count k={k} exceeds the driver-collect "
            f"ceiling ({SEMANTIC_MAX_COLLECT_K}): ~{k * 520 // 2**20} MB of "
            "centroids would ship in every task closure each round. At this "
            "corpus size (k = ceil(n/2500) -> n > ~327M vectors) migrate the "
            "flat centroid table to the IVF coarse-quantizer layout: train "
            "~sqrt(k) super-centroids, partitionBy(super_cell) the centroid "
            "table, and assign via two-level probe+argmin (see "
            "operators/similarity.py ivf_index/ivf_topk for the index shape)."
        )


def _cluster_assignments(df: DataFrame, vec_col: str, id_col: str, k: int, rounds: int) -> DataFrame:
    """The SemDeDup blocking assignment (id, qv, cluster): ``lloyd`` over
    the centered codes, computed ONCE and checkpointed.  The pair stage
    consumes it as BOTH self-join sides and the keep stage anti-joins
    against it — without the checkpoint Spark re-runs the whole iterative
    k-means lineage once per consumer, ~4x the work at any scale.  Size is
    n x (64-long array) — distributed, never collected; only the k-row
    centroid tables are (bounded — k = ceil(n/2500))."""
    # pin the codes ONCE: lloyd drives 1 + rounds driver collects (seed,
    # per-round centroids) plus the final checkpoint off this frame, and
    # each would otherwise re-run the quantize pass from scratch
    vecs = quantized_vectors(df, vec_col, id_col, center=128).transform(materialize)
    _, assigned = lloyd(vecs, k, rounds)
    return assigned.select("id", "qv", "cluster").transform(materialize)


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    rounds: int = 1,
    tau_num: int = 45,
    tau_den: int = 100,
    kernel: str = "expr",
    gemm_block: int = 4096,
    _assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means topic clusters as the
    blocking key, pairwise cosine ONLY within a cluster (Abbas et al.,
    "SemDeDup", arXiv:2303.09540 — cluster embeddings, then prune
    within-cluster ε-balls).  No reference analog; north-star LLM-pipeline
    layer like operators/dedup.py.

    Everything is integer-exact, so the result is engine-independent and
    hash-checkable: codes are CENTERED int8 (quantized_vectors center=128 —
    same clusters as the raw codes, truer cosines), the near-dup test
    ``cos(a,b) >= tau_num/tau_den`` is decided by cross-multiplied int64
    squares (dot>0 AND dot^2*tau_den^2 >= tau_num^2*|a|^2*|b|^2) — no sqrt,
    no float boundary.  Bounds: dim 64 x 128^2 -> dot <= 2^20, dot^2*den^2
    <= 2^54 — comfortably inside int64 on both engines.

    Scale shape: the cluster id is the blocking key, so pair cost is
    n^2/k spread over k independent tasks — at 100 TB, k grows with the
    corpus (SemDeDup uses ~100k clusters for billions of docs) and the
    cluster id becomes a written partition column, exactly like the LSH
    bucket in operators/dedup.embedding_lsh_dedup_pairs.  The assignment is
    always _cluster_assignments (one path); ``kernel`` selects only the pair
    scorer.  ``kernel="expr"`` (default, registered) is the pure-Catalyst
    self-join — zero Python; ``kernel="arrow"`` is the per-cluster int64
    GEMM (groupBy(cluster).applyInPandas) for oversized clusters — and
    because the math is INTEGER, the two kernels agree bit-for-bit
    (asserted in tests), unlike the float GEMM where only gap-separated
    thresholds are safe.  A NULL embedding (NULL cluster) never pairs.

    Returns (id_a, id_b, cluster) with id_a < id_b.
    """
    assigned = (
        _assigned
        if _assigned is not None
        else _cluster_assignments(df, vec_col, id_col, k, rounds)
    ).where(F.col("cluster").isNotNull())
    # one cluster-keyed shuffle for the self-pairing; the fold/GEMM below is
    # the only per-pair work
    if kernel == "expr":
        a = assigned.select(F.col("id").alias("id_a"), F.col("qv").alias("qa"), "cluster")
        b = assigned.select(F.col("id").alias("id_b"), F.col("qv").alias("qb"), "cluster")
        dot = int_dot(F.col("qa"), F.col("qb"))
        naa = int_dot(F.col("qa"), F.col("qa"))
        nbb = int_dot(F.col("qb"), F.col("qb"))
        return (
            a.join(b, "cluster")
            .where(F.col("id_a") < F.col("id_b"))
            .where(
                (dot > 0)
                & (dot * dot * F.lit(tau_den * tau_den) >= F.lit(tau_num * tau_num) * naa * nbb)
            )
            .select("id_a", "id_b", "cluster")
        )
    if kernel != "arrow":
        raise ValueError(f"unknown kernel {kernel!r}: 'expr' or 'arrow'")
    import numpy as np
    import pandas as pd

    t2n, t2d = tau_num * tau_num, tau_den * tau_den

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy()
        m = np.array(pdf["qv"].tolist(), dtype=np.int64)
        n2 = (m * m).sum(axis=1)
        out_a, out_b = [], []
        for lo in range(0, len(ids), gemm_block):
            hi = min(lo + gemm_block, len(ids))
            d = m[lo:hi] @ m.T  # exact int64 GEMM
            ok = (d > 0) & (d * d * t2d >= t2n * np.outer(n2[lo:hi], n2))
            ia, ib = np.where(ok)
            keep = ids[lo + ia] < ids[ib]
            out_a.append(ids[lo + ia][keep])
            out_b.append(ids[ib][keep])
        empty = np.array([], dtype=np.int64)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else empty,
                "id_b": np.concatenate(out_b) if out_b else empty,
                "cluster": pdf["cluster"].iloc[0],
            }
        )

    return (
        assigned.select("id", "qv", "cluster")
        .groupBy("cluster")
        .applyInPandas(score, "id_a long, id_b long, cluster long")
    )


def semantic_keep(df: DataFrame, vec_col: str, id_col: str, **kw) -> DataFrame:
    """SemDeDup keep-list: survivors after dropping the LARGER id of every
    within-cluster near-dup pair (deterministic tie-free rule; the kept doc
    is each ε-group's minimum id).  Returns (id, cluster).

    The clustering assignment is computed once (checkpointed) and shared by
    the pair stage and the final anti-join — see _cluster_assignments."""
    assigned = _cluster_assignments(df, vec_col, id_col, kw.get("k", 8), kw.get("rounds", 1))
    pairs = semantic_dedup_pairs(df, vec_col, id_col, _assigned=assigned, **kw)
    drop = pairs.select(F.col("id_b").alias("id")).distinct()
    return assigned.select("id", "cluster").join(drop, "id", "left_anti")


_SEMANTIC_BASE = """
    WITH raw AS (
      SELECT vec_id AS id, unnest(embedding) AS xf,
             generate_subscripts(embedding, 1) AS pos
      FROM {src}
    ),
    ex AS (SELECT id, pos, CAST(xf AS DOUBLE) AS x FROM raw),
    stats AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
    q AS (
      SELECT e.id, e.pos,
        CASE WHEN s.mx = s.mn THEN 0
             ELSE least(CAST(floor((e.x - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT), 255)
        END - 128 AS q
      FROM ex e JOIN stats s ON e.pos = s.pos
    ),
    seeds AS (SELECT DISTINCT id FROM q ORDER BY id LIMIT {k}),
    c0 AS (SELECT q.id AS cid, q.pos, q.q AS c FROM q JOIN seeds ON q.id = seeds.id),
    d1 AS (
      SELECT q.id, c0.cid, CAST(sum((q.q - c0.c) * (q.q - c0.c)) AS BIGINT) AS d2
      FROM q JOIN c0 ON q.pos = c0.pos GROUP BY q.id, c0.cid
    ),
    a1 AS (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM d1),
    c1 AS (
      SELECT a1.cid AS cl, q.pos, CAST(floor(sum(q.q) * 1.0 / count(*)) AS BIGINT) AS c
      FROM a1 JOIN q ON a1.id = q.id AND a1.rn = 1 GROUP BY a1.cid, q.pos
    ),
    d2s AS (
      SELECT q.id, c1.cl, CAST(sum((q.q - c1.c) * (q.q - c1.c)) AS BIGINT) AS d2
      FROM q JOIN c1 ON q.pos = c1.pos GROUP BY q.id, c1.cl
    ),
    a2 AS (SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rn FROM d2s),
    asg AS (SELECT id, cl FROM a2 WHERE rn = 1),
    codes AS (SELECT id, list(q ORDER BY pos) AS qv FROM q GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, aa.cl AS cluster
      FROM asg aa JOIN asg bb ON aa.cl = bb.cl AND aa.id < bb.id
      JOIN codes a ON a.id = aa.id JOIN codes b ON b.id = bb.id
      WHERE CAST(list_inner_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[])) AS BIGINT) > 0
        AND CAST(list_inner_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[])) AS BIGINT)
          * CAST(list_inner_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[])) AS BIGINT)
          * {t2d}
          >= {t2n}
          * CAST(list_inner_product(CAST(a.qv AS DOUBLE[]), CAST(a.qv AS DOUBLE[])) AS BIGINT)
          * CAST(list_inner_product(CAST(b.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[])) AS BIGINT)
    )
"""


def semantic_oracle_sql(
    k: int | str = 8,
    rounds: int = 1,
    tau_num: int = 45,
    tau_den: int = 100,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of semantic_keep (same quantization/centering, seeds,
    floor-means, integer distances and cross-multiplied cosine test).  Every
    list_inner_product here is EXACT: centered-code products <= 2^14, sums
    <= 2^20 — double arithmetic on integers far below 2^53, cast back to
    BIGINT before the (potentially > 2^53) cross-multiplies.

    ``k="auto"`` mirrors auto_cluster_count: the seed LIMIT becomes a scalar
    subquery ceil(n/SEMANTIC_TARGET_CLUSTER_SIZE) floored at 8, so the twin
    stays valid at every scale factor without a baked-in literal."""
    assert rounds == 1, "oracle is written for the registered rounds=1 shape"
    if k == "auto":
        k = (
            "(SELECT greatest(8, CAST(ceil(count(DISTINCT id) / "
            f"{SEMANTIC_TARGET_CLUSTER_SIZE}.0) AS BIGINT)) FROM q)"
        )
    base = _SEMANTIC_BASE.format(src=src, k=k, t2n=tau_num * tau_num, t2d=tau_den * tau_den)
    return (
        base
        + """
    SELECT asg.id, asg.cl AS cluster
    FROM asg
    WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = asg.id)
    """
    )


def kmeans_oracle_sql(k: int = 8, rounds: int = 1, src: str = "embeddings") -> str:
    """DuckDB twin of kmeans_int8 (same quantization, seeds, floor-means,
    integer distances, and (dist2, cid) tiebreak)."""
    assert rounds == 1, "oracle is written for the registered rounds=1 shape"
    return f"""
    WITH raw AS (
      SELECT vec_id AS id, unnest(embedding) AS xf,
             generate_subscripts(embedding, 1) AS pos
      FROM {src}
    ),
    ex AS (SELECT id, pos, CAST(xf AS DOUBLE) AS x FROM raw),
    stats AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
    q AS (
      SELECT e.id, e.pos,
        CASE WHEN s.mx = s.mn THEN 0
             ELSE least(CAST(floor((e.x - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT), 255)
        END AS q
      FROM ex e JOIN stats s ON e.pos = s.pos
    ),
    seeds AS (SELECT DISTINCT id FROM q ORDER BY id LIMIT {k}),
    c0 AS (SELECT q.id AS cid, q.pos, q.q AS c FROM q JOIN seeds ON q.id = seeds.id),
    d1 AS (
      SELECT q.id, c0.cid, CAST(sum((q.q - c0.c) * (q.q - c0.c)) AS BIGINT) AS d2
      FROM q JOIN c0 ON q.pos = c0.pos
      GROUP BY q.id, c0.cid
    ),
    a1 AS (
      SELECT id, cid, d2,
             row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
      FROM d1
    ),
    c1 AS (
      SELECT a1.cid AS cluster, q.pos,
             CAST(floor(sum(q.q) * 1.0 / count(*)) AS BIGINT) AS c
      FROM a1 JOIN q ON a1.id = q.id AND a1.rn = 1
      GROUP BY a1.cid, q.pos
    ),
    d2s AS (
      SELECT q.id, c1.cluster, CAST(sum((q.q - c1.c) * (q.q - c1.c)) AS BIGINT) AS d2
      FROM q JOIN c1 ON q.pos = c1.pos
      GROUP BY q.id, c1.cluster
    ),
    a2 AS (
      SELECT id, cluster, d2,
             row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn
      FROM d2s
    )
    SELECT id, cluster, d2 AS dist2 FROM a2 WHERE rn = 1
    """


def kcenter_assign(df: DataFrame, vec_col: str, id_col: str, k: int = 8) -> DataFrame:
    """Greedy K-CENTER (farthest-point traversal, Gonzalez 1985) over int8
    codes — the DIVERSITY coreset selector: each round adds the point
    farthest from every center chosen so far, giving the classic
    2-approximation to the k-center cover.  Training-data use: pick k
    maximally-spread exemplars (dedup-aware seed set, eval-panel
    selection), the opposite selection pressure from
    prototype_prune's density-seeking prototypes.

    Determinism: codes are the exact int8 grid (quantized_vectors), every
    distance is exact integer squared L2, the seed is the lowest id, each
    round's pick maximizes (min-distance-to-centers, then LOWEST id) — a
    total order both engines replay bit-for-bit; the oracle unrolls the k
    rounds as CTEs.

    Scale: the code frame is checkpointed once; each of the k rounds is one
    map-only least() update against a BROADCAST-LITERAL center plus one
    1-row argmax aggregate (k tiny driver fetches, like the IVF centroid
    loads); the final assignment is nearest_centroid over the k collected
    centers.  Output (id, center_id, d2) for every point; a NULL embedding
    is never a center and gets a NULL center_id and d2."""
    vecs = quantized_vectors(df, vec_col, id_col).transform(materialize)
    coded = vecs.where(F.col("qv").isNotNull())

    def lit_qv(xs):
        return F.array(*[F.lit(int(x)) for x in xs])

    seed = coded.orderBy("id").limit(1).select("id", "qv").collect()[0]
    centers = [(int(seed["id"]), [int(x) for x in seed["qv"]])]
    cur = coded.select("id", "qv", _dist2(F.col("qv"), lit_qv(centers[0][1])).alias("mind2"))
    for _ in range(k - 1):
        pick = cur.agg(
            F.max(
                F.struct(
                    F.col("mind2"), (-F.col("id")).alias("nid"), F.col("qv").alias("qv")
                )
            ).alias("p")
        ).collect()[0]["p"]
        cid, cqv = -int(pick["nid"]), [int(x) for x in pick["qv"]]
        centers.append((cid, cqv))
        cur = cur.select(
            "id",
            "qv",
            F.least(F.col("mind2"), _dist2(F.col("qv"), lit_qv(cqv))).alias("mind2"),
        )
    assigned = nearest_centroid(vecs, [{"cid": cid, "cv": cqv} for cid, cqv in centers])
    return assigned.select(
        F.col("id").alias(id_col), F.col("cluster").alias("center_id"), F.col("dist2").alias("d2")
    )


def kcenter_oracle_sql(k: int = 8, src: str = "embeddings") -> str:
    """DuckDB twin of kcenter_assign: the k greedy rounds unrolled as CTEs
    over the identical int8 code grid (same codes as _int8_kmeans_ctes)."""
    parts = [
        f"""raw AS (
      SELECT vec_id AS id, unnest(embedding) AS xf,
             generate_subscripts(embedding, 1) AS pos
      FROM {src}
    ),
    ex AS (SELECT id, pos, CAST(xf AS DOUBLE) AS x FROM raw),
    stats AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
    q AS (
      SELECT e.id, e.pos,
        CASE WHEN s.mx = s.mn THEN 0
             ELSE least(CAST(floor((e.x - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT), 255)
        END AS q
      FROM ex e JOIN stats s ON e.pos = s.pos
    ),
    cen1 AS (SELECT pos, q AS c FROM q WHERE id = (SELECT min(id) FROM q)),
    ids1 AS (SELECT (SELECT min(id) FROM q) AS cid),
    md1 AS (
      SELECT q.id, CAST(sum((q.q - cen1.c) * (q.q - cen1.c)) AS BIGINT) AS mind2
      FROM q JOIN cen1 USING (pos) GROUP BY q.id
    )"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f"""pick{i} AS (SELECT id FROM md{i - 1} ORDER BY mind2 DESC, id ASC LIMIT 1),
    cen{i} AS (SELECT pos, q AS c FROM q WHERE id = (SELECT id FROM pick{i})),
    nd{i} AS (
      SELECT q.id, CAST(sum((q.q - cen{i}.c) * (q.q - cen{i}.c)) AS BIGINT) AS d2
      FROM q JOIN cen{i} USING (pos) GROUP BY q.id
    ),
    md{i} AS (
      SELECT m.id, least(m.mind2, n.d2) AS mind2
      FROM md{i - 1} m JOIN nd{i} n USING (id)
    )"""
        )
    centers_union = " UNION ALL ".join(
        ["SELECT cid FROM ids1"] + [f"SELECT id AS cid FROM pick{i}" for i in range(2, k + 1)]
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    centers AS ({centers_union}),
    cend AS (SELECT c.cid, q2.pos, q2.q AS c FROM centers c JOIN q q2 ON q2.id = c.cid),
    alld AS (
      SELECT q.id, cend.cid, CAST(sum((q.q - cend.c) * (q.q - cend.c)) AS BIGINT) AS d2
      FROM q JOIN cend ON q.pos = cend.pos
      GROUP BY q.id, cend.cid
    )
    SELECT id AS vec_id, cid AS center_id, d2
    FROM (SELECT id, cid, d2,
                 row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
          FROM alld)
    WHERE rn = 1
    """
    )
