"""Similarity search over embedding columns (north-star capability per
BASELINE.json / SURVEY §7.1 step 10 — no reference analog).

* brute-force cosine top-k — the exact baseline: broadcast the query vector,
  one scan, TakeOrderedAndProject.  Linear in corpus size but embarrassingly
  parallel; the right tool up to ~10^8 vectors per query batch.
* LSH-bucketed ANN — the scale path: random-hyperplane signatures partition
  the corpus; a query probes only its bucket (and optionally neighbors).
  Bucketing is a one-off layout cost (write bucketed/partitioned by bucket
  id); per-query work drops to corpus/2^bits.

Vector math is native `aggregate`/`zip_with` (functions/vectors.py) — JVM-side,
codegen'd, no Python round trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine, hyperplane_bucket
from ..functions.materialize import materialize, materialize_lazy
from .clustering import _dist2, lloyd
from .quantize import quantized_vectors


def _query_rows(vecs: DataFrame, id_col: str, query_pred) -> DataFrame:
    """Rows of ``vecs`` (internal columns ``id``, ...) matching ``query_pred``,
    with the predicate evaluated against the CALLER's ``id_col`` name: the
    natural call site writes ``F.col("vec_id") % 97 == 0`` (the name it
    actually passed as id_col), not the operator's private ``id`` alias."""
    if id_col == "id":
        return vecs.where(query_pred)
    return (
        vecs.withColumnRenamed("id", id_col)
        .where(query_pred)
        .withColumnRenamed(id_col, "id")
    )


def topk_cosine(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine; deterministic under score ties via id order."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(F.col(id_col).alias("id"), cosine(F.col(vec_col), q).alias("cos"))
    return scored.orderBy(F.col("cos").desc(), F.col("id")).limit(k)


def bucketed_vectors(df: DataFrame, vec_col: str, id_col: str, planes: list[list[float]]) -> DataFrame:
    """Attach the hyperplane-LSH bucket id.  At 100 TB this frame is written
    ``partitionBy("bucket")`` so queries prune to one partition."""
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )


def ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 5,
) -> DataFrame:
    """ANN: exact cosine, restricted to the query's LSH bucket."""
    import math

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    qbucket = "".join("1" if dot(query_vec, p) >= 0 else "0" for p in planes)
    b = bucketed_vectors(df, vec_col, id_col, planes).where(F.col("bucket") == qbucket)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        b.select("id", cosine(F.col("vec"), q).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("id"))
        .limit(k)
    )


def _lit_vec(v: list[float]):
    return F.array(*[F.lit(float(x)) for x in v])


def assign_cells(df: DataFrame, vec_col: str, id_col: str, centroids: list[list[float]]) -> DataFrame:
    """(id, vec, cell): nearest-centroid assignment by cosine, ties to the
    lowest cell id.  The centroid set is a tiny literal (nlist x dim), so
    assignment is map-only — no shuffle, no join."""
    v = F.col(vec_col).cast("array<double>")
    scores = [cosine(v, _lit_vec(c)) for c in centroids]
    pick = F.array_max(
        F.array(*[F.struct(s.alias("s"), F.lit(-j).alias("nc")) for j, s in enumerate(scores)])
    )
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), (-pick["nc"]).alias("cell")
    )


def ivf_cells(
    df: DataFrame, vec_col: str, id_col: str, nlist: int = 8, iters: int = 2
) -> list[list[float]]:
    """Deterministic k-means-lite coarse quantizer: seeds = the ``nlist``
    lowest-id non-NULL vectors, then ``iters`` Lloyd rounds (map-only
    assignment, one (cell, pos) shuffle for the means).  Each round fetches nlist x dim
    doubles to the driver — O(small), like the hyperplane fetch.  At 100 TB
    the cell id becomes a partition column written once (index build); probes
    then prune to nprobe partitions."""
    seeds = (
        df.where(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(nlist)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    centroids = [list(r[0]) for r in seeds]
    for _ in range(iters):
        a = assign_cells(df, vec_col, id_col, centroids)
        rows = (
            a.select("cell", F.posexplode(F.col("vec").cast("array<double>")).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("centroid"))
        ).collect()
        got = {r.cell: list(r.centroid) for r in rows}
        centroids = [got.get(j, centroids[j]) for j in range(nlist)]  # empty cell keeps its seed
    return centroids


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    nlist: int = 8,
    nprobe: int = 2,
    k: int = 10,
    iters: int = 2,
) -> DataFrame:
    """IVF ANN: k-means cells, probe the ``nprobe`` nearest cells to the
    query, exact cosine top-k inside the probed cells only — per-query work
    is ~corpus * nprobe/nlist.

    Exactness gate: with ``nprobe == nlist`` the probe set covers every cell,
    so the result MUST equal exact brute-force top-k for ANY data — that
    configuration verifies the assignment/probe/score/union machinery against
    the brute-force oracle (and is immune to float jitter in centroid means,
    since membership no longer matters).  Partial probe is the scale path;
    its recall depends on how clustered the corpus is (tested on planted
    clusters in test_llm_ops)."""
    import math

    centroids = ivf_cells(df, vec_col, id_col, nlist, iters)

    def cosp(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb) if na > 0 and nb > 0 else 0.0

    order = sorted(range(len(centroids)), key=lambda j: (-cosp(query_vec, centroids[j]), j))
    probed = order[: max(1, min(nprobe, len(centroids)))]
    cand = assign_cells(df, vec_col, id_col, centroids).where(F.col("cell").isin(probed))
    q = _lit_vec(query_vec)
    return (
        cand.select("id", cosine(F.col("vec").cast("array<double>"), q).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("id"))
        .limit(k)
    )


def ivf_build_index(df: DataFrame, vec_col: str, id_col: str, index_dir: str, k: int = 8) -> None:
    """IVF index BUILD — the write-once phase of the build/probe split.

    Assigns every vector to an integer-exact k-means cell
    (operators/clustering.lloyd, one round — kmeans_int8 semantics: int8
    codes, seeds = k lowest ids, (dist2, cid) tiebreaks — deterministic on
    any engine) and writes the corpus ``partitionBy("cell")`` plus the
    centroid table the last assignment used.  At 100 TB this runs once;
    every probe then prunes to nprobe partition directories instead of
    scanning the corpus (see ivf_probe).  A NULL embedding lands in the
    NULL cell, which no probe reads.
    Layout: ``{index_dir}/vectors`` (id, qv, cell=...), ``{index_dir}/centroids``.
    """
    # LAZY checkpoint: lloyd's seed collect, both assignments and the index
    # write all consume the quantized frame.  Lazy because its first
    # consumer, lloyd's seed collect, is a lone sequential driver action
    # that touches every partition — no concurrent stage can race the
    # persist, and no extra blocking job is launched.
    vecs = quantized_vectors(df, vec_col, id_col).transform(materialize_lazy)
    centroid_rows, assigned = lloyd(vecs, k, rounds=1)
    (
        assigned.select("id", "qv", F.col("cluster").alias("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(index_dir + "/vectors")
    )
    (
        df.sparkSession.createDataFrame(centroid_rows, "cid bigint, cv array<bigint>")
        .write.mode("overwrite")
        .parquet(index_dir + "/centroids")
    )


def ivf_probe(
    spark, index_dir: str, query_id: int, nprobe: int = 2, k_top: int = 10
) -> DataFrame:
    """IVF index PROBE — the read-side phase: rank the (tiny, k-row) centroid
    table by exact integer distance to the query's code, then scan ONLY the
    ``nprobe`` nearest cell partitions (partition pruning — the plan shows
    ``PartitionFilters: [cell IN (...)]``; at 100 TB this is the difference
    between reading nprobe/nlist of the corpus and all of it).  Exact int8
    squared-L2 top-k inside the probed cells; output (id, dist2) ordered by
    (dist2, id) — every quantity an exact integer, so the whole probe is
    oracle-checkable."""
    vectors = spark.read.parquet(index_dir + "/vectors")
    cents = spark.read.parquet(index_dir + "/centroids").collect()  # k rows — O(small)
    qrow = vectors.where((F.col("id") == query_id) & F.col("qv").isNotNull()).select("qv").head()
    if qrow is None:  # a query without a code has no neighbours
        return vectors.select("id", F.lit(None).cast("long").alias("dist2")).limit(0)
    qcode = list(qrow[0])

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    order = sorted((d2(qcode, list(r.cv)), r.cid) for r in cents)
    probed = [cid for _, cid in order[: max(1, nprobe)]]
    qlit = F.array(*[F.lit(int(x)) for x in qcode])
    return (
        vectors.where(F.col("cell").isin(probed))
        .where(F.col("id") != query_id)
        .select("id", _dist2(F.col("qv"), qlit).alias("dist2"))
        .orderBy("dist2", "id")
        .limit(k_top)
    )


def knn_blocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_pred,
    k: int = 3,
    ncells: int = 8,
    nprobe: int = 4,
) -> DataFrame:
    """BLOCKED k-NN join — the large-query-batch shape knn_join documents:
    both sides share integer-exact IVF cells, the pairing joins ON THE CELL
    KEY (a hash join, never a nested-loop over the full cross product), and
    the per-query top-k is one window.  Each query probes its ``nprobe``
    nearest cells, so pair cost is |Q| x |corpus| x nprobe/ncells spread over
    cell-keyed tasks; at 100 TB the corpus side is the partitioned IVF index
    (ivf_build_index) and each cell task reads one partition.

    ``query_pred`` is a Column predicate over the caller's ``id_col`` column
    selecting the query batch OUT OF the corpus — both sides must share one
    int8 quantization grid (separate grids would put queries in a different
    metric space than the corpus they probe).

    Metric: exact int8-space squared L2 (same as ivf_probe) — every distance,
    assignment, and tiebreak is exact integer arithmetic, so the blocked join
    is hash-checkable cross-engine.  Output (query_id, neighbor_id, n_rank).
    Recall vs the exact metric is 1.0 whenever the true top-k live in probed
    cells (tested against brute force in tests/test_llm_ops.py)."""
    from pyspark.sql import Window

    vecs = quantized_vectors(df, vec_col, id_col).transform(materialize)  # reused 3 ways
    centroid_rows, assigned = lloyd(vecs, ncells, rounds=1)
    members = assigned.select(
        F.col("id").alias("neighbor_id"), F.col("qv").alias("nqv"), F.col("cluster").alias("cell")
    )
    # each query with a code probes its nprobe nearest cells (by exact int
    # distance to the broadcast centroid rows lloyd's last assignment used)
    centroids = df.sparkSession.createDataFrame(centroid_rows, "cid bigint, cv array<bigint>")
    qvecs = _query_rows(vecs, id_col, query_pred).where(F.col("qv").isNotNull())
    qcells = (
        qvecs.crossJoin(F.broadcast(centroids))
        .select(
            F.col("id").alias("query_id"),
            F.col("qv").alias("qqv"),
            F.col("cid").alias("cell"),
            _dist2(F.col("qv"), F.col("cv")).alias("cd2"),
        )
    )
    w_probe = Window.partitionBy("query_id").orderBy("cd2", "cell")
    probes = (
        qcells.withColumn("p_rank", F.row_number().over(w_probe))
        .where(F.col("p_rank") <= nprobe)
        .select("query_id", "qqv", "cell")
    )
    scored = members.join(F.broadcast(probes), "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", _dist2(F.col("nqv"), F.col("qqv")).alias("dist2"))
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        scored.withColumn("n_rank", F.row_number().over(w))
        .where(F.col("n_rank") <= k)
        .select("query_id", "neighbor_id", "n_rank")
    )


def _int8_kmeans_ctes(k: int, src: str = "embeddings") -> str:
    """Shared DuckDB CTE chain reproducing quantized_vectors + one-Lloyd-round
    integer k-means (same semantics as operators/clustering.kmeans_oracle_sql):
    ends with ``cells`` (id, cluster) and ``d2s`` (id, cluster, d2 — the exact
    distance of every id's code to every final centroid) and ``q``
    (id, pos, q) for downstream exact-distance math."""
    return f"""raw AS (
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
    cells AS (
      SELECT id, cluster FROM (
        SELECT id, cluster, row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn
        FROM d2s
      ) WHERE rn = 1
    )"""


def ivf_probe_oracle_sql(
    query_id: int = 0, nprobe: int = 2, k_top: int = 10, k: int = 8, src: str = "embeddings"
) -> str:
    """DuckDB twin of ivf_build_index + ivf_probe: same quantization, k-means
    cells, probed-cell selection (d2, cluster tiebreak), exact int distances,
    and (dist2, id) final order."""
    return f"""
    WITH {_int8_kmeans_ctes(k, src)},
    probed AS (
      SELECT cluster FROM d2s WHERE id = {query_id}
      ORDER BY d2, cluster LIMIT {nprobe}
    ),
    qfull AS (SELECT pos, q AS qq FROM q WHERE id = {query_id}),
    dist AS (
      SELECT q.id, CAST(sum((q.q - qfull.qq) * (q.q - qfull.qq)) AS BIGINT) AS dist2
      FROM q JOIN qfull ON q.pos = qfull.pos
      GROUP BY q.id
    )
    SELECT d.id, d.dist2
    FROM dist d
    JOIN cells ON d.id = cells.id
    JOIN probed ON cells.cluster = probed.cluster
    WHERE d.id <> {query_id}
    ORDER BY d.dist2, d.id
    LIMIT {k_top}
    """


def knn_blocked_oracle_sql(
    max_query_id: int, k: int = 3, ncells: int = 8, nprobe: int = 4, src: str = "embeddings"
) -> str:
    """DuckDB twin of knn_blocked with queries = ids < max_query_id and the
    corpus = all vectors: same cells, per-query probe ranking, exact int
    distances, (dist2, neighbor) window tiebreaks."""
    return f"""
    WITH {_int8_kmeans_ctes(ncells, src)},
    qd AS (  -- every query's exact distance to every final centroid
      SELECT id AS query_id, cluster, d2 FROM d2s WHERE id < {max_query_id}
    ),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT query_id, cluster,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, cluster) AS p_rank
        FROM qd
      ) WHERE p_rank <= {nprobe}
    ),
    pairs AS (
      SELECT p.query_id, m.id AS neighbor_id
      FROM probes p JOIN cells m ON m.cluster = p.cluster
      WHERE m.id <> p.query_id
    ),
    dist AS (
      SELECT pr.query_id, pr.neighbor_id,
             CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS dist2
      FROM pairs pr
      JOIN q a ON a.id = pr.neighbor_id
      JOIN q b ON b.id = pr.query_id AND b.pos = a.pos
      GROUP BY pr.query_id, pr.neighbor_id
    )
    SELECT query_id, neighbor_id, n_rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY dist2, neighbor_id) AS n_rank
      FROM dist
    ) WHERE n_rank <= {k}
    """


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Exact k-NN JOIN: for EVERY query vector, its top-k cosine neighbors in
    the corpus (the batch form of topk_cosine — one query vector there, a
    whole query table here).  Output: (query_id, neighbor_id, n_rank).

    Shape: the query side broadcasts (a query batch is small next to the
    corpus), the cross pairing is a BroadcastNestedLoopJoin evaluated in-task
    (never a shuffled CartesianProduct), and the per-query top-k is one
    window keyed on the query id — so corpus rows stream once, and the only
    shuffle is |queries| * |corpus| scored pairs hashed on query id.  At
    larger query batches, block both sides first (share an LSH bucket /
    IVF cell — see ann_topk / ivf_topk) and apply the same window.

    Cross-engine determinism: the score is dot/|corpus vec| (query norm is
    rank-invariant within a query) with the sum computed as a 0.0-init LEFT
    FOLD in array order == DuckDB list_reduce (bit-exact), so the (score
    DESC, neighbor id) tiebreak totally orders rows identically in both
    engines; only ids and ranks are emitted."""
    from pyspark.sql import Window

    from ..functions.vectors import dot_fixed

    xd = lambda x: x.cast("double")  # noqa: E731
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # dim known -> unrolled arithmetic (functions/vectors.dot_fixed).
    # CAVEAT measured at sf1.0: the unrolled form only wins inside
    # whole-stage codegen (hash-join pair streams, e.g. dedup blocking);
    # under THIS operator's BroadcastNestedLoopJoin the projection is
    # evaluated interpreted and 64 boxed getItems run ~4x SLOWER than the
    # single fold — so the registry query deliberately does NOT pass dim
    # here, while range_search/hard_negatives (cross join + codegen
    # filter) do
    if dim:
        sumsq = dot_fixed(F.col(vec_col), F.col(vec_col), dim)
    else:
        sumsq = F.aggregate(
            F.transform(F.col(vec_col), lambda x: xd(x) * xd(x)), F.lit(0.0), lambda a, b: a + b
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.sqrt(sumsq).alias("nrm"),
    )
    if dim:
        dot = dot_fixed(F.col("qv"), F.col("cv"), dim)
    else:
        dot = F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: xd(x) * xd(y)),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", (dot / F.col("nrm")).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("n_rank", F.row_number().over(w))
        .where(F.col("n_rank") <= k)
        .select("query_id", "neighbor_id", "n_rank")
    )


def multiprobe_topk(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    qvec: list[float],
    planes: list[list[float]],
    k: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """MULTI-PROBE LSH retrieval + exact re-rank — the production two-stage
    shape (Lv et al., multi-probe LSH): probe the query's hyperplane bucket
    AND every Hamming-1 neighbor bucket (the buckets a near-boundary
    neighbor most likely fell into), then re-rank the united candidate set
    by exact similarity.  Recall rises from 1-bucket coverage to
    (n_planes+1)-bucket coverage while still touching (b+1)/2^b of the
    corpus — the standard recall/cost dial when a single probe misses
    boundary neighbors, without rebuilding the index at a lower b.

    Cross-engine exactness end to end: buckets are signs of INT64 dots on
    the 1e-6 grid (hyperplane_bucket_exact), the probe set is a literal IN
    list derived from the SAME integer arithmetic on the query, and the
    re-rank score is int64_dot(v_q, q_q) / sqrt(int64_dot(v_q, v_q)) — two
    IEEE double ops over exact integers, bit-identical in DuckDB.

    At 100 TB the bucket is a partition column (see sim_ivf_probe) and a
    multi-probe reads b+1 partitions instead of 1."""
    import math

    from ..functions.vectors import hyperplane_bucket_exact, int_dot, quantize_vec

    qq = [int(math.floor(float(x) * scale)) for x in qvec]
    qp = [[int(math.floor(float(x) * scale)) for x in p] for p in planes]
    qbucket = "".join(
        "1" if sum(a * b for a, b in zip(qq, pp)) >= 0 else "0" for pp in qp
    )
    probes = [qbucket] + [
        qbucket[:i] + ("0" if qbucket[i] == "1" else "1") + qbucket[i + 1 :]
        for i in range(len(qbucket))
    ]
    b = corpus.withColumn("__bucket", hyperplane_bucket_exact(F.col(vec_col), planes, scale))
    qlit = F.array(*[F.lit(v) for v in qq])
    qv = quantize_vec(F.col(vec_col), scale)
    score = int_dot(qv, qlit).cast("double") / F.sqrt(int_dot(qv, qv).cast("double"))
    return (
        b.where(F.col("__bucket").isin(probes))
        .select(F.col(id_col).alias("id"), F.col("__bucket").alias("bucket"), score.alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def multiprobe_oracle_sql(
    query_id: int, plane_lo: int, plane_hi: int, k: int = 5, scale: int = 1_000_000
) -> str:
    """DuckDB twin of multiprobe_topk with planes/query taken from the
    embeddings table (same convention as sim_ann_lsh)."""
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * {scale})) AS qv
      FROM embeddings
    ),
    planes AS (SELECT vec_id AS pid, qv AS qp FROM q WHERE vec_id BETWEEN {plane_lo} AND {plane_hi}),
    bk AS (
      SELECT q.vec_id, q.qv,
             string_agg(CASE WHEN list_inner_product(q.qv, p.qp) >= 0
                             THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS bucket
      FROM q CROSS JOIN planes p GROUP BY q.vec_id, q.qv
    ),
    qb AS (SELECT bucket AS qbucket, qv AS qq FROM bk WHERE vec_id = {query_id})
    SELECT b.vec_id AS id, b.bucket,
           list_inner_product(b.qv, qb.qq) / sqrt(list_inner_product(b.qv, b.qv)) AS score
    FROM bk b CROSS JOIN qb
    WHERE length(list_filter(generate_series(1, length(b.bucket)),
                 i -> substr(b.bucket, i, 1) <> substr(qb.qbucket, i, 1))) <= 1
      AND b.vec_id <> {query_id}
    ORDER BY score DESC, b.vec_id ASC LIMIT {k}
    """


def range_search(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    query_pred,
    tau_ppm: int = 200_000,
    scale: int = 1_000,
    dim: int | None = None,
) -> DataFrame:
    """RADIUS (range) search: every corpus vector whose cosine with a query
    vector is >= tau — the "all neighbors within a threshold" companion to
    top-k (top-k bounds the COUNT, range search bounds the QUALITY; retrieval
    filtering and near-dup audits want the latter).

    Exactness: vectors quantize to the 1/scale grid (floor — int64 codes),
    and the threshold test is the fully cross-multiplied integer predicate

        dot > 0  AND  dot^2 * 1e12 >= tau_ppm^2 * |v|^2 * |q|^2

    promoted to decimal(38,0)/HUGEINT (dot^2 * 1e12 peaks ~4e27 at dim 64) —
    no sqrt, no division, no float boundary: the emitted pair set is a pure
    function of the data on any engine.

    Scale shape: the query batch (a predicate over the corpus) broadcasts;
    the scan is MAP-ONLY — no shuffle at all, every corpus partition filters
    against the in-memory query list and emits qualifying pairs.  Linear in
    |corpus| x |queries|; for large query batches, block both sides by LSH
    bucket first (multiprobe_topk) and apply the same integer predicate.
    """
    from ..functions.vectors import int_dot, quantize_vec

    from ..functions.vectors import int_dot_fixed

    # norms are per-ROW constants: computing them before the cross join runs
    # the fold n + |Q| times instead of 2 x n x |Q| times — at sf1.0 this
    # was most of the pair-scan cost.  (dim is accepted for the unrolled
    # int_dot_fixed path, but measured A/B it is a WASH at sf1.0 and a
    # clear LOSS at sf0.1 — the cross-join projection evaluates outside
    # whole-stage codegen, so the registry query uses the fold)
    vecs = corpus.select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col), scale).alias("qv")
    ).withColumn("n2v", int_dot(F.col("qv"), F.col("qv")))
    queries = _query_rows(vecs, id_col, query_pred).select(
        F.col("id").alias("query_id"),
        F.col("qv").alias("qq"),
        F.col("n2v").alias("n2q"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pairs = vecs.crossJoin(F.broadcast(queries)).where(F.col("id") != F.col("query_id"))
    dot = (
        int_dot_fixed(F.col("qv"), F.col("qq"), dim)
        if dim
        else int_dot(F.col("qv"), F.col("qq"))
    )
    scored = pairs.select("query_id", "id", dot.alias("dot"), "n2v", "n2q")
    keep = (F.col("dot") > 0) & (
        dec(F.col("dot")) * dec(F.col("dot")) * F.lit(10**12).cast("decimal(38,0)")
        >= F.lit(tau_ppm * tau_ppm).cast("decimal(38,0)") * dec(F.col("n2v")) * dec(F.col("n2q"))
    )
    return scored.where(keep).select("query_id", "id", "dot")


def range_search_oracle_sql(
    query_mod: int,
    tau_ppm: int = 200_000,
    scale: int = 1_000,
    src: str = "embeddings",
    max_query_id: int | None = None,
) -> str:
    """DuckDB twin of range_search with queries = vec_id % query_mod == 0
    (below max_query_id when given — the sf-invariant bounded batch)."""
    qbound = f" AND id < {max_query_id}" if max_query_id is not None else ""
    return f"""
    WITH v AS (
      SELECT vec_id AS id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
      FROM {src}
    ),
    q AS (SELECT id AS query_id, qv AS qq FROM v WHERE id % {query_mod} = 0{qbound}),
    pairs AS (
      SELECT q.query_id, v.id,
             CAST(list_inner_product(v.qv, q.qq) AS BIGINT) AS dot,
             CAST(list_inner_product(v.qv, v.qv) AS BIGINT) AS n2v,
             CAST(list_inner_product(q.qq, q.qq) AS BIGINT) AS n2q
      FROM v CROSS JOIN q WHERE v.id <> q.query_id
    )
    SELECT query_id, id, dot FROM pairs
    WHERE dot > 0
      AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * CAST(1000000000000 AS HUGEINT)
          >= CAST({tau_ppm * tau_ppm} AS HUGEINT) * CAST(n2v AS HUGEINT) * CAST(n2q AS HUGEINT)
    """


def ann_recall_report(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    query_pred,
    planes: list[list[float]],
    k: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """INDEX QUALITY measurement: recall@k of single-bucket hyperplane-LSH
    retrieval against exact search, per query — the self-evaluation every
    ANN deployment needs before trusting probes at scale (SCALE.md's IVF
    recall gate, expressed as a first-class query instead of a test).

    Both rankings use the SAME deterministic metric (multiprobe_topk's:
    int64 dot on the 1/scale grid divided by the int-exact corpus norm — two
    IEEE ops over exact integers, bit-identical cross-engine) so the recall
    number isolates BUCKETING loss, not metric drift.  Exact ranks come from
    a window over the broadcast query batch x corpus; ANN ranks from the
    same scored pairs restricted to bucket equality.  recall_ppm = 1e6 *
    |exact_topk ∩ ann_topk| / k (denominator k even when the bucket holds
    fewer than k candidates — the standard definition).

    One scored-pair shuffle keyed on query id, two windows, one semi-join;
    |Q| x |corpus| pairs total, the same cost class as knn_join's baseline.
    """
    import math

    from pyspark.sql import Window

    from ..functions.vectors import hyperplane_bucket_exact, int_dot, quantize_vec

    b = corpus.select(
        F.col(id_col).alias("id"),
        quantize_vec(F.col(vec_col), scale).alias("qv"),
        hyperplane_bucket_exact(F.col(vec_col), planes, scale).alias("bucket"),
    )
    queries = _query_rows(b, id_col, query_pred).select(
        F.col("id").alias("query_id"), F.col("qv").alias("qq"), F.col("bucket").alias("qbucket")
    )
    pairs = b.crossJoin(F.broadcast(queries)).where(F.col("id") != F.col("query_id"))
    score = int_dot(F.col("qv"), F.col("qq")).cast("double") / F.sqrt(
        int_dot(F.col("qv"), F.col("qv")).cast("double")
    )
    scored = pairs.select(
        "query_id", "id", score.alias("s"), (F.col("bucket") == F.col("qbucket")).alias("same")
    )
    w_exact = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("id"))
    exact = (
        scored.withColumn("r", F.row_number().over(w_exact))
        .where(F.col("r") <= k)
        .select("query_id", "id")
    )
    w_ann = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("id"))
    ann = (
        scored.where(F.col("same"))
        .withColumn("r", F.row_number().over(w_ann))
        .where(F.col("r") <= k)
        .select("query_id", "id")
    )
    hits = exact.join(ann, ["query_id", "id"], "left_semi").groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    n_ann = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ann"))
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .join(n_ann, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_ann"), F.lit(0)).alias("n_ann"),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.expr(f"(1000000 * coalesce(n_hits, 0)) div {k}").alias("recall_ppm"),
        )
    )


def ann_recall_oracle_sql(
    query_mod: int,
    plane_lo: int,
    plane_hi: int,
    k: int = 10,
    scale: int = 1_000_000,
    max_query_id: int | None = None,
) -> str:
    """DuckDB twin of ann_recall_report: queries = vec_id % query_mod == 0
    (below max_query_id when given), planes = embeddings rows
    plane_lo..plane_hi (multiprobe conventions)."""
    qbound = f" AND vec_id < {max_query_id}" if max_query_id is not None else ""
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * {scale})) AS qv
      FROM embeddings
    ),
    planes AS (SELECT vec_id AS pid, qv AS qp FROM v WHERE vec_id BETWEEN {plane_lo} AND {plane_hi}),
    bk AS (
      SELECT v.vec_id, v.qv,
             string_agg(CASE WHEN list_inner_product(v.qv, p.qp) >= 0
                             THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS bucket
      FROM v CROSS JOIN planes p GROUP BY v.vec_id, v.qv
    ),
    q AS (SELECT vec_id AS query_id, qv AS qq, bucket AS qbucket
          FROM bk WHERE vec_id % {query_mod} = 0{qbound}),
    scored AS (
      SELECT q.query_id, b.vec_id AS id,
             list_inner_product(b.qv, q.qq) / sqrt(list_inner_product(b.qv, b.qv)) AS s,
             b.bucket = q.qbucket AS same
      FROM bk b CROSS JOIN q WHERE b.vec_id <> q.query_id
    ),
    exact AS (
      SELECT query_id, id FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id ORDER BY s DESC, id) AS r
        FROM scored
      ) WHERE r <= {k}
    ),
    ann AS (
      SELECT query_id, id FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id ORDER BY s DESC, id) AS r
        FROM scored WHERE same
      ) WHERE r <= {k}
    ),
    hits AS (
      SELECT e.query_id, count(*) AS n_hits
      FROM exact e JOIN ann a ON e.query_id = a.query_id AND e.id = a.id
      GROUP BY e.query_id
    ),
    na AS (SELECT query_id, count(*) AS n_ann FROM ann GROUP BY query_id)
    SELECT q.query_id, coalesce(na.n_ann, 0) AS n_ann,
           coalesce(hits.n_hits, 0) AS n_hits,
           (1000000 * coalesce(hits.n_hits, 0)) // {k} AS recall_ppm
    FROM q
    LEFT JOIN hits ON q.query_id = hits.query_id
    LEFT JOIN na ON q.query_id = na.query_id
    """


def hard_negatives(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    query_pred,
    lo_ppm: int = 300_000,
    hi_ppm: int = 800_000,
    k: int = 5,
    scale: int = 1_000,
    dim: int | None = None,
) -> DataFrame:
    """Contrastive-training pair mining: for each anchor (query) vector, the
    top-k corpus vectors whose cosine falls in the HARD-NEGATIVE band
    [lo, hi) — similar enough to be informative, dissimilar enough to not be
    a positive/near-duplicate (the standard negative-mining recipe for
    embedding finetuning and reranker distillation; the hi bound is what
    separates this from plain top-k, which would mine duplicates).

    Exactness: band membership is two fully cross-multiplied integer
    predicates over 1/scale-grid codes in decimal(38,0) —

        cos >= lo  <=>  dot > 0 AND dot^2 * 1e12 >= lo_ppm^2 * |v|^2 * |q|^2
        cos <  hi  <=>  NOT(dot > 0 AND dot^2 * 1e12 >= hi_ppm^2 * ...)

    — and in-band candidates rank per anchor by the sqrt-free monotone
    surrogate (dot^2 * 1e6) div |v|^2 (valid because dot > 0 in band and
    |q|^2 is constant per anchor; the 1e6 multiplier keeps the quotient
    <= 1e6 * |q|^2 ~ 6e13, inside int64 where 1e12 would overflow),
    tiebroken (surrogate DESC, id ASC): the mined pair set is a pure
    function of the data on any engine.

    Scale shape = range_search: the anchor batch broadcasts, the scan is
    map-only; the only shuffle is the per-anchor top-k rank window, which
    runs as WindowGroupLimit over the band-filtered (small) pair stream.
    For unbounded anchor batches, block both sides by IVF cell first
    (knn_join_blocked) and apply the same band predicates."""
    from pyspark.sql import Window

    from ..functions.vectors import int_dot, quantize_vec

    # per-row norms hoisted above the cross join (range_search's rule): one
    # interpreted int_dot fold per corpus row / per anchor, not per pair.
    # dim/int_dot_fixed: see range_search's caveat — fold wins here too
    vecs = corpus.select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col), scale).alias("qv")
    ).withColumn("n2v", int_dot(F.col("qv"), F.col("qv")))
    queries = _query_rows(vecs, id_col, query_pred).select(
        F.col("id").alias("anchor_id"),
        F.col("qv").alias("qq"),
        F.col("n2v").alias("n2q"),
    )
    from ..functions.vectors import int_dot_fixed

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pairs = vecs.crossJoin(F.broadcast(queries)).where(F.col("id") != F.col("anchor_id"))
    pair_dot = (
        int_dot_fixed(F.col("qv"), F.col("qq"), dim)
        if dim
        else int_dot(F.col("qv"), F.col("qq"))
    )
    scored = pairs.select(
        "anchor_id",
        "id",
        pair_dot.alias("dot"),
        "n2v",
        "n2q",
    )
    lhs = dec(F.col("dot")) * dec(F.col("dot")) * F.lit(10**12).cast("decimal(38,0)")
    at_least = lambda t: (F.col("dot") > 0) & (  # noqa: E731
        lhs >= F.lit(t * t).cast("decimal(38,0)") * dec(F.col("n2v")) * dec(F.col("n2q"))
    )
    band = scored.where(at_least(lo_ppm) & ~at_least(hi_ppm))
    surrogate = F.expr("CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000 div n2v AS BIGINT)")
    ranked = band.select(
        "anchor_id", "id", "dot", surrogate.alias("rank_key")
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("anchor_id").orderBy(F.desc("rank_key"), F.asc("id"))
        ),
    )
    return ranked.where(F.col("rk") <= k).select(
        "anchor_id", F.col("id").alias("negative_id"), "dot", "rank_key", "rk"
    )


def hard_negatives_oracle_sql(
    query_mod: int,
    lo_ppm: int = 300_000,
    hi_ppm: int = 800_000,
    k: int = 5,
    scale: int = 1_000,
    src: str = "embeddings",
    max_query_id: int | None = None,
) -> str:
    """DuckDB twin of hard_negatives."""
    qbound = f" AND id < {max_query_id}" if max_query_id is not None else ""
    h = "CAST({} AS HUGEINT)"
    return f"""
    WITH v AS (
      SELECT vec_id AS id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
      FROM {src}
    ),
    q AS (SELECT id AS anchor_id, qv AS qq FROM v WHERE id % {query_mod} = 0{qbound}),
    pairs AS (
      SELECT q.anchor_id, v.id,
             CAST(list_inner_product(v.qv, q.qq) AS BIGINT) AS dot,
             CAST(list_inner_product(v.qv, v.qv) AS BIGINT) AS n2v,
             CAST(list_inner_product(q.qq, q.qq) AS BIGINT) AS n2q
      FROM v CROSS JOIN q WHERE v.id <> q.anchor_id
    ),
    band AS (
      SELECT anchor_id, id, dot, n2v,
             (dot > 0 AND {h.format('dot')} * {h.format('dot')} * 1000000000000::HUGEINT
                          >= {lo_ppm * lo_ppm}::HUGEINT * {h.format('n2v')} * {h.format('n2q')}) AS ge_lo,
             (dot > 0 AND {h.format('dot')} * {h.format('dot')} * 1000000000000::HUGEINT
                          >= {hi_ppm * hi_ppm}::HUGEINT * {h.format('n2v')} * {h.format('n2q')}) AS ge_hi
      FROM pairs
    ),
    ranked AS (
      SELECT anchor_id, id, dot,
             {h.format('dot')} * {h.format('dot')} * 1000000::HUGEINT // {h.format('n2v')} AS rank_key,
             row_number() OVER (
               PARTITION BY anchor_id
               ORDER BY {h.format('dot')} * {h.format('dot')} * 1000000::HUGEINT // {h.format('n2v')} DESC, id ASC
             ) AS rk
      FROM band WHERE ge_lo AND NOT ge_hi
    )
    SELECT anchor_id, id AS negative_id, dot,
           CAST(rank_key AS BIGINT) AS rank_key, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= {k}
    """


def mrl_rerank(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    prefix_dim: int = 16,
    shortlist: int = 50,
    k: int = 10,
    scale: int = 1_000,
) -> DataFrame:
    """MATRYOSHKA two-stage retrieval (Kusupati et al. 2022, "Matryoshka
    Representation Learning", arXiv:2205.13147): rank the corpus COARSELY on
    the first ``prefix_dim`` dimensions (MRL-trained embeddings pack the
    most information into the prefix), keep a ``shortlist``, then re-rank
    the shortlist EXACTLY on the full vector and emit the top ``k`` — the
    standard adaptive-retrieval funnel that cuts per-candidate compute
    dim/prefix_dim-fold at scan time.

    Both stages are sqrt-free signed integer cosine surrogates
    (s = sign(dot) * (dot^2 * 1e6 div |v|^2) over the 1/scale grid, in
    decimal(38,0); |q| constant per stage so the surrogate is monotone in
    cosine; zero-norm prefixes score 0) — every rank position is a pure
    function of the data, bit-identical in the oracle.

    Scale shape: the query is a broadcast literal, the coarse stage is a
    MAP-ONLY scan closed by one TakeOrderedAndProject heap (no global
    sort); the fine stage touches ``shortlist`` rows — driver-sized, like
    the IVF probe's candidate set.  At 100 TB the prefix would be stored as
    its own (written) column so the coarse scan reads prefix bytes only;
    here the slice happens in-task, which keeps the compute claim but not
    the IO claim.
    """
    from ..functions.vectors import quantize_vec

    q_full = [int(__import__("math").floor(float(x) * scale)) for x in query_vec]
    q_pre = q_full[:prefix_dim]
    n2q_pre = sum(v * v for v in q_pre)
    n2q_full = sum(v * v for v in q_full)
    assert n2q_pre > 0 and n2q_full > 0, "query vector must have nonzero norm"

    def surrogate(dot_col: str, n2_col: str) -> str:
        mag = f"CAST(CAST({dot_col} AS DECIMAL(38,0)) * {dot_col} * 1000000 div {n2_col} AS BIGINT)"
        return (
            f"CASE WHEN {n2_col} = 0 THEN 0 "
            f"WHEN {dot_col} >= 0 THEN {mag} ELSE -{mag} END"
        )

    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col), scale).alias("qv")
    )
    pre_arr = F.array(*[F.lit(v) for v in q_pre])
    dot_int = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    coarse = vecs.select(
        "vec_id",
        "qv",
        dot_int(F.slice(F.col("qv"), 1, prefix_dim), pre_arr).alias("dc"),
        dot_int(F.slice(F.col("qv"), 1, prefix_dim), F.slice(F.col("qv"), 1, prefix_dim)).alias(
            "n2p"
        ),
    ).withColumn("coarse_key", F.expr(surrogate("dc", "n2p")))
    short = coarse.orderBy(F.desc("coarse_key"), F.asc("vec_id")).limit(shortlist)

    full_arr = F.array(*[F.lit(v) for v in q_full])
    fine = short.select(
        "vec_id",
        "coarse_key",
        dot_int(F.col("qv"), full_arr).alias("df_"),
        dot_int(F.col("qv"), F.col("qv")).alias("n2f"),
    ).withColumn("fine_key", F.expr(surrogate("df_", "n2f")))

    from pyspark.sql import Window

    rk = F.row_number().over(Window.orderBy(F.desc("fine_key"), F.asc("vec_id")))
    return (
        fine.withColumn("rk", rk)
        .where(F.col("rk") <= k)
        .select("vec_id", "coarse_key", "fine_key", "rk")
    )


def mrl_rerank_oracle_sql(
    query_id: int = 0,
    prefix_dim: int = 16,
    shortlist: int = 50,
    k: int = 10,
    scale: int = 1_000,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of mrl_rerank with the query vector taken from row
    ``query_id`` of the same table (as the registry caller does)."""
    surr = (
        "CASE WHEN {n2} = 0 THEN 0 WHEN {d} >= 0 "
        "THEN CAST(CAST({d} AS HUGEINT) * {d} * 1000000 // {n2} AS BIGINT) "
        "ELSE -CAST(CAST({d} AS HUGEINT) * {d} * 1000000 // {n2} AS BIGINT) END"
    )
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
      FROM {src}
    ),
    q AS (SELECT qv AS qq FROM v WHERE vec_id = {query_id}),
    coarse AS (
      SELECT v.vec_id, v.qv,
             CAST(list_inner_product(v.qv[1:{prefix_dim}], q.qq[1:{prefix_dim}]) AS BIGINT) AS dc,
             CAST(list_inner_product(v.qv[1:{prefix_dim}], v.qv[1:{prefix_dim}]) AS BIGINT) AS n2p
      FROM v CROSS JOIN q
      WHERE v.vec_id <> {query_id}
    ),
    keyed AS (
      SELECT vec_id, qv, {surr.format(d="dc", n2="n2p")} AS coarse_key FROM coarse
    ),
    short AS (
      SELECT * FROM keyed ORDER BY coarse_key DESC, vec_id ASC LIMIT {shortlist}
    ),
    fine AS (
      SELECT s.vec_id, s.coarse_key,
             CAST(list_inner_product(s.qv, q.qq) AS BIGINT) AS df_,
             CAST(list_inner_product(s.qv, s.qv) AS BIGINT) AS n2f
      FROM short s CROSS JOIN q
    ),
    fkeyed AS (
      SELECT vec_id, coarse_key, {surr.format(d="df_", n2="n2f")} AS fine_key FROM fine
    )
    SELECT vec_id, coarse_key, fine_key, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY fine_key DESC, vec_id ASC) AS rk
          FROM fkeyed)
    WHERE rk <= {k}
    """
