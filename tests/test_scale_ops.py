"""Scale-analytics operators: BM25 ranks planted relevance, profiling counts
exactly, HLL lands within its error bound and merges by MAX, int8 k-means
recovers planted clusters, z-score flags planted spikes, Morton keys
interleave correctly."""

import math

import pytest
from pyspark.sql import functions as F

from etl_healthcare_spark.operators.anomaly import zscore_flags
from etl_healthcare_spark.operators.bucketing import morton_key
from etl_healthcare_spark.operators.clustering import kmeans_int8
from etl_healthcare_spark.operators.profile import profile_columns
from etl_healthcare_spark.operators.search import bm25_scores, bm25_topk
from etl_healthcare_spark.operators.sketch import hll_distinct, hll_estimate, hll_registers


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_ranks_term_dense_doc_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark shuffle"),        # dense in the query term
            (2, "spark appears once here with lots of other words padding it out"),
            (3, "no relevant content at all"),
            (4, "spark shuffle spark"),              # dense + short
        ],
        ["doc_id", "text"],
    )
    hits = bm25_topk(docs, ["spark"], k=10).collect()
    ids = [r.id for r in hits]
    assert 3 not in ids  # no match -> no hit
    assert ids[0] in (1, 4)  # term-dense short docs outrank the padded one
    assert ids.index(2) == len(ids) - 1


def test_bm25_rare_term_outweighs_common(spark):
    # "rare" appears in 1 of 4 docs, "common" in all: a doc matching only
    # "rare" must outscore a doc matching only "common" (idf dominance)
    docs = spark.createDataFrame(
        [
            (1, "common rare"),
            (2, "common alpha beta"),
            (3, "common gamma delta"),
            (4, "common epsilon zeta"),
        ],
        ["doc_id", "text"],
    )
    scores = {r.id: r.score for r in bm25_topk(docs, ["rare", "common"], k=10).collect()}
    assert scores[1] > scores[2]


def test_bm25_corpus_without_tokens_scores_zero(spark):
    # total length l = 0: the "" doc's tf normaliser would divide 0 by 0
    docs = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    scores = {r.id: (r.score, r.score0) for r in bm25_scores(docs, ["spark"], per_term=True).collect()}
    assert scores[2] == (0.0, 0.0)
    assert bm25_topk(docs, ["spark"], k=10).collect() == []


# ---------------------------------------------------------------------------
# profiling
# ---------------------------------------------------------------------------


def test_profile_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")], ["k", "s"]
    )
    prof = {r.column_name: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert prof["k"].n_rows == 4
    assert prof["k"].n_null == 1 and prof["k"].n_distinct == 2
    assert prof["k"].min_s == "1" and prof["k"].max_s == "2"
    assert prof["s"].n_null == 1 and prof["s"].n_distinct == 2
    assert prof["s"].min_s == "a" and prof["s"].max_s == "b"


# ---------------------------------------------------------------------------
# HLL sketch
# ---------------------------------------------------------------------------


def test_hll_estimate_within_error_bound(spark):
    n = 5000
    df = spark.range(n).select(F.lit("g").alias("grp"), F.col("id").alias("item"))
    row = hll_distinct(df, "grp", "item").collect()[0]
    # m=256 -> standard error 6.5%; allow 4 sigma
    assert abs(row.hll_estimate - n) / n < 0.26
    assert row.used_registers <= 256


def test_hll_registers_merge_by_max(spark):
    """Sharded registers combined by MAX == registers of the union — the
    property that makes the sketch a distributed one-pass aggregate."""
    a = spark.range(0, 3000).select(F.lit("g").alias("grp"), F.col("id").alias("item"))
    b = spark.range(2000, 6000).select(F.lit("g").alias("grp"), F.col("id").alias("item"))
    merged = (
        hll_registers(a, "grp", "item")
        .union(hll_registers(b, "grp", "item"))
        .groupBy("grp", "register")
        .agg(F.max("rank").alias("rank"))
    )
    direct = hll_registers(a.union(b), "grp", "item")
    est_merged = hll_estimate(merged).collect()[0]
    est_direct = hll_estimate(direct).collect()[0]
    assert est_merged.s_scaled == est_direct.s_scaled
    assert est_merged.hll_estimate == est_direct.hll_estimate


def test_hll_duplicates_do_not_move_estimate(spark):
    once = spark.range(500).select(F.lit("g").alias("grp"), F.col("id").alias("item"))
    thrice = once.union(once).union(once)
    assert (
        hll_distinct(once, "grp", "item").collect()[0].s_scaled
        == hll_distinct(thrice, "grp", "item").collect()[0].s_scaled
    )


# ---------------------------------------------------------------------------
# int8 k-means
# ---------------------------------------------------------------------------


def test_kmeans_recovers_planted_clusters(spark):
    # two tight blobs in 4-d; k=2 must split them exactly
    rows = []
    for i in range(10):
        rows.append((i, [float(10 + i % 3), 10.0, 0.0, 0.0]))
    for i in range(10, 20):
        rows.append((i, [0.0, 0.0, float(10 + i % 3), 10.0]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    assigned = kmeans_int8(df, "embedding", "vec_id", k=2, rounds=2).collect()
    clusters = {r.id: r.cluster for r in assigned}
    blob1 = {clusters[i] for i in range(10)}
    blob2 = {clusters[i] for i in range(10, 20)}
    assert len(blob1) == 1 and len(blob2) == 1 and blob1 != blob2


def test_kmeans_is_deterministic(spark):
    df = (
        spark.range(50)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: F.conv(F.substring(F.sha2(F.concat_ws(":", F.col("id").cast("string"), i.cast("string")), 256), 1, 4), 16, 10).cast("float"),
            ).alias("embedding"),
        )
    )
    r1 = sorted((r.id, r.cluster, r.dist2) for r in kmeans_int8(df, "embedding", "vec_id", k=4).collect())
    r2 = sorted((r.id, r.cluster, r.dist2) for r in kmeans_int8(df, "embedding", "vec_id", k=4).collect())
    assert r1 == r2


# ---------------------------------------------------------------------------
# SemDeDup semantic dedup
# ---------------------------------------------------------------------------


def _planted_near_dups(spark):
    """Two topic blobs; within blob A, vectors 0/1 are near-identical (a
    semantic dup) while the rest are spread; blob B has no dups."""
    rows = [
        (0, [100.0, 100.0, 0.0, 0.0]),
        (1, [101.0, 100.0, 0.0, 0.0]),   # near-dup of 0
        (2, [100.0, 0.0, 0.0, 0.0]),     # same topic, different direction
        (3, [0.0, 100.0, 0.0, 0.0]),
        (10, [0.0, 0.0, 100.0, 50.0]),
        (11, [0.0, 0.0, 50.0, 100.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_semantic_dedup_drops_only_planted_dup(spark):
    from etl_healthcare_spark.operators.clustering import semantic_keep

    kept = semantic_keep(
        _planted_near_dups(spark), "embedding", "vec_id", k=2, rounds=1, tau_num=99, tau_den=100
    ).collect()
    ids = sorted(r.id for r in kept)
    # the higher id of the near-identical pair (1) is pruned; all else kept
    assert ids == [0, 2, 3, 10, 11]


def test_auto_cluster_count_holds_mean_cluster_size_constant():
    """The SemDeDup scale contract: k = ceil(n/2500) floored at 8, so total
    within-cluster pair work stays LINEAR in the corpus.  Every driver sf
    (<= 20000 embeddings) must keep the historic k=8 so small-sf oracle
    hashes are unchanged; big corpora must grow k proportionally."""
    from etl_healthcare_spark.operators.clustering import auto_cluster_count

    assert auto_cluster_count(500) == 8      # sf0.001
    assert auto_cluster_count(2000) == 8     # sf0.01
    assert auto_cluster_count(20000) == 8    # sf0.1 (exactly at the floor)
    assert auto_cluster_count(20001) == 9    # first corpus past the floor
    assert auto_cluster_count(200000) == 80  # sf1.0
    assert auto_cluster_count(2_000_000) == 800
    # mean cluster size is bounded by the target for any corpus past the floor
    for n in (50_000, 1_000_000, 123_456_789):
        assert n / auto_cluster_count(n) <= 2500


def _hashed_vectors(spark, n, dims=8, lo=0):
    """``n`` deterministic pseudo-random embeddings with ids lo..lo+n-1:
    each component is an integer 0..65535 taken from sha256(id:i)."""
    return spark.range(lo, lo + n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dims)),
            lambda i: F.conv(
                F.substring(
                    F.sha2(F.concat_ws(":", F.col("id").cast("string"), i.cast("string")), 256),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("float"),
        ).alias("embedding"),
    )


def _python_int8_lloyd(vecs, k, rounds):
    """Reference integer k-means over {id: [float]}: the per-dimension
    min/max int8 grid, seeds = the k lowest ids, floor-mean updates,
    nearest centroid by (squared L2, centroid id).  Returns {id: (cluster,
    dist2)}."""
    ids = sorted(vecs)
    dims = len(vecs[ids[0]])
    mn = [min(vecs[i][d] for i in ids) for d in range(dims)]
    mx = [max(vecs[i][d] for i in ids) for d in range(dims)]
    code = {
        i: [
            0 if mx[d] == mn[d] else min(math.floor((vecs[i][d] - mn[d]) * 255.0 / (mx[d] - mn[d])), 255)
            for d in range(dims)
        ]
        for i in ids
    }

    def assign(cents):
        out = {}
        for i in ids:
            out[i] = min(
                (sum((a - b) * (a - b) for a, b in zip(code[i], cv)), cid) for cid, cv in cents.items()
            )[::-1]
        return out

    got = assign({i: code[i] for i in ids[:k]})
    for _ in range(rounds):
        members = {}
        for i, (cid, _) in got.items():
            members.setdefault(cid, []).append(code[i])
        cents = {
            cid: [sum(m[d] for m in ms) // len(ms) for d in range(dims)] for cid, ms in members.items()
        }
        got = assign(cents)
    return got


def test_kmeans_int8_equals_python_integer_lloyd(spark):
    """kmeans_int8 (lloyd: k lowest-id seeds, floor-mean updates, the int64
    GEMM nearest_centroid) equals a pure-Python integer Lloyd over the same
    int8 grid, cluster ids and distances, across two rounds."""
    df = _hashed_vectors(spark, 120)
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in df.collect()}
    want = _python_int8_lloyd(vecs, k=5, rounds=2)
    got = {
        r.id: (r.cluster, r.dist2)
        for r in kmeans_int8(df, "embedding", "vec_id", k=5, rounds=2).collect()
    }
    assert got == want and len(got) == 120 and len({c for c, _ in got.values()}) > 1


def test_null_embedding_is_never_seed_member_or_neighbour(spark, tmp_path):
    """A NULL embedding at the lowest and at the highest id: it is never a
    seed, a centroid member, a neighbour or a query with neighbours, it gets
    a NULL cluster, and every other row's answer equals the run without it."""
    from etl_healthcare_spark.operators.clustering import kcenter_assign, semantic_keep
    from etl_healthcare_spark.operators.similarity import ivf_build_index, ivf_probe, knn_blocked

    clean = _hashed_vectors(spark, 60, lo=1)
    nulls = spark.createDataFrame([(0, None), (61, None)], "vec_id long, embedding array<float>")
    dirty = clean.unionByName(nulls)

    def split(rows, key, *vals):
        by_id = {r[key]: tuple(r[v] for v in vals) for r in rows}
        return {i: v for i, v in by_id.items() if i not in (0, 61)}, [by_id.get(i) for i in (0, 61)]

    # k-means: NULL rows are assigned NULL, the others as without them
    runs = [kmeans_int8(d, "embedding", "vec_id", k=3, rounds=2).collect() for d in (clean, dirty)]
    want, _ = split(runs[0], "id", "cluster", "dist2")
    got, null_rows = split(runs[1], "id", "cluster", "dist2")
    assert got == want and len({c for c, _ in want.values()}) == 3
    assert null_rows == [(None, None), (None, None)]

    # k-center: a NULL row is never a center
    runs = [kcenter_assign(d, "embedding", "vec_id", k=4).collect() for d in (clean, dirty)]
    want, _ = split(runs[0], "vec_id", "center_id", "d2")
    got, null_rows = split(runs[1], "vec_id", "center_id", "d2")
    assert got == want and null_rows == [(None, None), (None, None)]

    # SemDeDup keep-list, both pair kernels: the NULL rows never pair
    for kernel in ("expr", "arrow"):
        kw = dict(k=4, rounds=1, tau_num=30, tau_den=100, kernel=kernel)
        runs = [semantic_keep(d, "embedding", "vec_id", **kw).collect() for d in (clean, dirty)]
        want, _ = split(runs[0], "id", "cluster")
        got, null_rows = split(runs[1], "id", "cluster")
        assert got == want and len(want) < 60, kernel
        assert null_rows == [(None,), (None,)], kernel

    # blocked k-NN: the NULL query has no neighbours and is nobody's neighbour
    def knn(d):
        rows = knn_blocked(d, "embedding", "vec_id", F.col("vec_id") < 10, k=3).collect()
        return sorted((r.query_id, r.neighbor_id, r.n_rank) for r in rows)

    want, got = knn(clean), knn(dirty)
    assert got == want and len(want) == 27

    # IVF index: same cells and centroids; a NULL query probes nothing
    def ivf(d, name):
        path = str(tmp_path / name)
        ivf_build_index(d, "embedding", "vec_id", path, k=4)
        cells = spark.read.parquet(path + "/vectors").collect()
        cents = sorted((r.cid, list(r.cv)) for r in spark.read.parquet(path + "/centroids").collect())
        probe = [(r.id, r.dist2) for r in ivf_probe(spark, path, query_id=1, nprobe=2, k_top=5).collect()]
        return cells, cents, probe, path

    c_cells, c_cents, c_probe, _ = ivf(clean, "clean")
    d_cells, d_cents, d_probe, d_path = ivf(dirty, "dirty")
    want, _ = split(c_cells, "id", "cell")
    got, null_rows = split(d_cells, "id", "cell")
    assert got == want and null_rows == [(None,), (None,)]
    assert d_cents == c_cents and d_probe == c_probe and len(c_probe) == 5
    assert ivf_probe(spark, d_path, query_id=0).count() == 0


def test_nearest_centroid_rejects_ragged_and_null_element_codes(spark):
    """A code of another length than the centroids', or with a NULL
    element, raises a ValueError naming its row id."""
    from etl_healthcare_spark.operators.clustering import nearest_centroid

    cents = [{"cid": 0, "cv": [0, 0]}, {"cid": 1, "cv": [9, 9]}]
    ok = spark.createDataFrame([(1, [1, 2]), (2, None)], "id long, qv array<bigint>")
    assert sorted(map(tuple, nearest_centroid(ok, cents).select("id", "cluster", "dist2").collect())) == [
        (1, 0, 5),
        (2, None, None),
    ]
    for bad in ([1, 2, 3], [1, None]):
        vecs = spark.createDataFrame([(1, [1, 2]), (7, bad)], "id long, qv array<bigint>")
        with pytest.raises(Exception, match=r"ValueError: nearest_centroid: row 7 "):
            nearest_centroid(vecs, cents).collect()


def test_semantic_collect_k_guard_raises_with_migration_note():
    """Past the driver-collect ceiling the arrow path must fail with the
    documented IVF-coarse-quantizer migration pointer, not a driver OOM
    (round-7 verdict item 5)."""
    from etl_healthcare_spark.operators.clustering import (
        SEMANTIC_MAX_COLLECT_K,
        _guard_collect_k,
    )

    _guard_collect_k(SEMANTIC_MAX_COLLECT_K)  # at the ceiling: fine
    with pytest.raises(ValueError, match="IVF coarse-quantizer"):
        _guard_collect_k(SEMANTIC_MAX_COLLECT_K + 1)


def test_assign_arrow_empty_centroids_returns_empty(spark):
    """An empty centroid table must early-return an empty typed frame — the
    numpy kernel would AxisError on a 1-D empty C matrix (round-7 advice)."""
    from etl_healthcare_spark.operators.clustering import nearest_centroid

    vecs = spark.range(0).select(
        F.col("id"), F.array(F.lit(1).cast("bigint")).alias("qv")
    )
    out = nearest_centroid(vecs, [])
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "qv", "cluster", "dist2"]


def test_semantic_pair_kernels_agree_bit_for_bit(spark):
    """Integer math means the Catalyst self-join and the per-cluster int64
    GEMM Arrow kernel must produce IDENTICAL pairs — not just gap-separated
    ones like the float GEMM."""
    from etl_healthcare_spark.operators.clustering import semantic_dedup_pairs

    df = spark.range(80).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: F.conv(
                F.substring(
                    F.sha2(F.concat_ws(":", F.col("id").cast("string"), i.cast("string")), 256),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("float"),
        ).alias("embedding"),
    )
    kw = dict(k=4, rounds=1, tau_num=30, tau_den=100)
    expr = sorted(
        (r.id_a, r.id_b, r.cluster)
        for r in semantic_dedup_pairs(df, "embedding", "vec_id", kernel="expr", **kw).collect()
    )
    gemm = sorted(
        (r.id_a, r.id_b, r.cluster)
        for r in semantic_dedup_pairs(df, "embedding", "vec_id", kernel="arrow", **kw).collect()
    )
    assert expr == gemm and len(expr) > 0


# ---------------------------------------------------------------------------
# z-score anomalies
# ---------------------------------------------------------------------------


def test_zscore_flags_planted_spike_only(spark):
    base = [(i, "g", 10.0 + (i % 5) * 0.1) for i in range(100)]
    spike = [(100, "g", 500.0)]
    df = spark.createDataFrame(base + spike, ["event_id", "event_type", "value"])
    flags = zscore_flags(df, "event_type", "value", "event_id", z=3).collect()
    assert [r.id for r in flags] == [100]


def test_zscore_no_flags_on_uniform_group(spark):
    # uniform distribution: max |z| ~ 1.73 < 3 -> nothing flags
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(100)], ["event_id", "event_type", "value"]
    )
    assert zscore_flags(df, "event_type", "value", "event_id", z=3).count() == 0


# ---------------------------------------------------------------------------
# Morton keys
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "x,y,expected",
    [
        (0, 0, 0),
        (1, 0, 1),       # x bits land on even positions
        (0, 1, 2),       # y bits on odd
        (3, 3, 15),      # 0b11 interleaved with 0b11 = 0b1111
        (5, 3, 0b011011),  # x=101, y=011 -> y2x2 y1x1 y0x0 = 01 10 11
    ],
)
def test_morton_interleaves_bits(spark, x, y, expected):
    row = spark.range(1).select(morton_key(F.lit(x), F.lit(y), bits=10).alias("z")).collect()[0]
    assert row.z == expected


def test_morton_locality_prunes_both_dims(spark):
    """Rows sorted by z-value and chunked: each chunk's (x, y) bounding box
    is tight in BOTH dimensions — the footer-stat pruning property."""
    df = spark.range(1024).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
    )
    z = df.select("x", "y", morton_key(F.col("x"), F.col("y"), bits=5).alias("z"))
    rows = sorted((r.z, r.x, r.y) for r in z.collect())
    # 16 chunks of 64 rows = the 8x8 z-curve cells: each spans exactly 8x8
    for c in range(16):
        chunk = rows[c * 64 : (c + 1) * 64]
        xs = [r[1] for r in chunk]
        ys = [r[2] for r in chunk]
        assert max(xs) - min(xs) == 7 and max(ys) - min(ys) == 7


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def test_countmin_estimate_upper_bounds_exact(spark):
    from etl_healthcare_spark.operators.sketch import countmin_estimates

    rows = [("a",)] * 50 + [("b",)] * 10 + [(f"noise{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, ["item"])
    est = {r.item: (r.est, r.exact) for r in countmin_estimates(df, "item", ["a", "b", "zzz"]).collect()}
    assert est["a"][1] == 50 and est["b"][1] == 10 and est["zzz"][1] == 0
    # count-min never underestimates
    for e, x in est.values():
        assert e >= x


def test_countmin_tables_merge_by_sum(spark):
    from etl_healthcare_spark.operators.sketch import countmin_table
    from pyspark.sql import functions as F2

    a = spark.createDataFrame([(f"x{i % 17}",) for i in range(300)], ["item"])
    b = spark.createDataFrame([(f"y{i % 13}",) for i in range(300)], ["item"])
    merged = (
        countmin_table(a, "item")
        .unionByName(countmin_table(b, "item"))
        .groupBy("row", "bucket")
        .agg(F2.sum("cnt").alias("cnt"))
    )
    direct = countmin_table(a.unionByName(b), "item")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


# ---------------------------------------------------------------------------
# histogram quantiles
# ---------------------------------------------------------------------------


def test_histogram_quantiles_bound_true_percentile(spark):
    from etl_healthcare_spark.operators.sketch import histogram_quantiles

    # values 0.00 .. 99.99 in cents -> exact percentiles known
    df = spark.createDataFrame(
        [(i, "g", i / 100.0) for i in range(10000)], ["event_id", "event_type", "value"]
    )
    row = histogram_quantiles(df, "event_type", "value", bin_cents=500).collect()[0]
    assert row.n == 10000
    # true p50 = 50.00 (rank 5000 -> cents 4999); bin lower edge within one bin
    assert 4999 - 500 < row.q50_lo_cents <= 4999
    assert 8999 - 500 < row.q90_lo_cents <= 8999
    assert 9899 - 500 < row.q99_lo_cents <= 9899


# ---------------------------------------------------------------------------
# EWMA
# ---------------------------------------------------------------------------


def test_ewma_weights_newest_most(spark):
    from etl_healthcare_spark.operators.anomaly import ewma_latest
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, "k", t0 + dt.timedelta(minutes=i), 10.0) for i in range(20)]
    rows.append((99, "k", t0 + dt.timedelta(hours=10), 100.0))  # newest spike
    df = spark.createDataFrame(rows, ["event_id", "key", "ts", "value"])
    row = ewma_latest(df, "key", "ts", "value", "event_id", k=16).collect()[0]
    # newest point has weight 1/2: ewma ~ 0.5*100 + 0.5*10 = 55 (truncation -> slightly less)
    assert row.n_used == 16
    assert 54.9 * 100 < row.ewma_cents < 55.0 * 100


def test_ewma_constant_series_converges_to_value(spark):
    from etl_healthcare_spark.operators.anomaly import ewma_latest
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, "k", t0 + dt.timedelta(minutes=i), 42.0) for i in range(30)],
        ["event_id", "key", "ts", "value"],
    )
    row = ewma_latest(df, "key", "ts", "value", "event_id", k=16).collect()[0]
    # sum of 16 dyadic weights = 1 - 2^-16: exact expected value
    assert row.ewma_cents == 4200 * (1 - 2 ** -16)


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def test_pagerank_hub_outranks_leaves(spark):
    from etl_healthcare_spark.operators.graph import pagerank_ppm

    # star: node 0 at the center of 5 leaves, plus one detached pair
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(10, 11)], ["doc_a", "doc_b"]
    )
    ranks = {r.node: r.rank_ppm for r in pagerank_ppm(pairs, iters=2).collect()}
    assert ranks[0] > max(ranks[i] for i in range(1, 6))  # hub dominates
    assert ranks[10] == ranks[11]  # symmetric pair ties exactly
    assert all(r >= 150_000 for r in ranks.values())  # damping floor


def test_pagerank_deterministic_under_repartition(spark):
    from etl_healthcare_spark.operators.graph import pagerank_ppm

    pairs = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(20) if i != (i * 7 + 1) % 20],
        ["doc_a", "doc_b"],
    )
    a = sorted(map(tuple, pagerank_ppm(pairs, iters=2).collect()))
    b = sorted(map(tuple, pagerank_ppm(pairs.repartition(13), iters=2).collect()))
    assert a == b  # integer math: partitioning cannot move a single ppm


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def test_bloom_screen_has_no_false_negatives(spark):
    from etl_healthcare_spark.operators.bloom import bloom_build, bloom_screen

    members = spark.createDataFrame([(f"item{i}",) for i in range(50)], ["s"])
    bloom = bloom_build(members, "s")
    probes = spark.createDataFrame(
        [(f"item{i}",) for i in range(50)] + [(f"other{i}",) for i in range(200)], ["s"]
    )
    out = {r.s: r.might_contain for r in bloom_screen(probes, "s", bloom).collect()}
    # every true member must pass the screen
    assert all(out[f"item{i}"] for i in range(50))
    # false-positive rate stays near the theoretical (1-e^{-kn/m})^k ~ 1e-13
    fp = sum(out[f"other{i}"] for i in range(200))
    assert fp == 0
    # a member probed twice passes twice: one output row per probe row
    twice = spark.createDataFrame([("item7",), ("item7",), ("other0",), (None,)], "s string")
    got = sorted(bloom_screen(twice, "s", bloom).collect(), key=lambda r: (r.s is not None, r.s or ""))
    assert [(r.s, r.might_contain) for r in got] == [
        (None, False), ("item7", True), ("item7", True), ("other0", False)
    ]


def test_bloom_contamination_upper_bounds_exact(spark):
    from etl_healthcare_spark.operators.bloom import bloom_contamination
    from etl_healthcare_spark.operators.dedup import ngram_contamination

    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # fully contaminated
            (2, "one two three four five six seven eight nine ten"),  # clean
            (3, "alpha beta gamma delta epsilon zeta eta"),  # repeated doc_id
            (3, "alpha beta gamma delta epsilon zeta eta"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in bloom_contamination(corpus, eval_df, "text", "doc_id").collect()}
    assert rows[1].contam_ppm == 1_000_000 and rows[1].bloom_ppm == 1_000_000
    assert rows[2].contam_ppm == 0 and rows[2].bloom_ppm == 0
    assert (rows[3].n_hits, rows[3].n_bloom_hits, rows[3].bloom_ppm) == (6, 6, 1_000_000)
    exact = ngram_contamination(corpus, eval_df, "text", "doc_id").collect()
    assert {r.doc_id: (r.n_shingles, r.n_hits) for r in exact} == {
        d: (r.n_shingles, r.n_hits) for d, r in rows.items()
    }
    for r in rows.values():  # bloom never under-reports
        assert r.bloom_ppm >= r.contam_ppm


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def test_pq_codes_shape_and_range(spark):
    from etl_healthcare_spark.operators.pq import pq_codebook_and_codes

    df = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: F.conv(
                F.substring(F.sha2(F.concat_ws(":", F.col("id").cast("string"), i.cast("string")), 256), 1, 4),
                16, 10,
            ).cast("float"),
        ).alias("embedding"),
    )
    codebook, codes = pq_codebook_and_codes(df, "embedding", "vec_id", sub_dims=4, k=8)
    rows = codes.collect()
    # every vector gets exactly one code per subspace (16 dims / 4 = 4)
    per_vec = {}
    for r in rows:
        per_vec.setdefault(r.id, []).append((r.m, r.cid))
    assert all(len(v) == 4 for v in per_vec.values())
    assert all(0 <= m < 4 for v in per_vec.values() for m, _ in v)
    # codebook: centroid components stay in int8 range
    assert all(0 <= r.c <= 255 for r in codebook.collect())


def test_pq_adc_finds_planted_near_neighbor(spark):
    from etl_healthcare_spark.operators.pq import pq_adc_topk

    # vec 1 is a tiny perturbation of vec 0; the rest are far away
    rows = [(0, [10.0] * 8), (1, [10.5] * 8)]
    for i in range(2, 30):
        rows.append((i, [float(100 + (i * 13) % 50 + j) for j in range(8)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    top = pq_adc_topk(df, "embedding", "vec_id", query_id=0, k_top=3, sub_dims=4, k=4).collect()
    assert top[0].id == 1  # the planted neighbor wins ADC
    assert top[0].exact_d2 <= min(r.exact_d2 for r in top[1:])
