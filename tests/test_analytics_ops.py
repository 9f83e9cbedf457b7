"""Planted-data semantics + plan-shape tests for the round-3 analytics batch:
triangles, interval joins, DSIR, cross-corpus dedup, hashed classifier,
skew profiling, audio windows."""

import struct

from pyspark.sql import functions as F

from etl_healthcare_spark.operators.dedup import minhash_cross_pairs
from etl_healthcare_spark.operators.graph import triangle_counts
from etl_healthcare_spark.operators.intervals import interval_overlap_pairs
from etl_healthcare_spark.operators.multimodal import audio_window_energy
from etl_healthcare_spark.operators.profile import key_skew_profile
from etl_healthcare_spark.operators.sampling import dsir_resample
from etl_healthcare_spark.operators.textops import hashed_linear_score


# --- triangles --------------------------------------------------------------


def test_triangle_counts_k4_plus_path(spark):
    """K4 has C(4,3)=4 triangles, every vertex in 3; a pendant path adds
    none.  Duplicate + reversed edges must not double-count."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(b, a) for a, b in k4] + [(3, 10), (10, 11)] + k4[:2]
    df = spark.createDataFrame(edges, "a: long, b: long")
    got = {r["node"]: r["tri_count"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_hub_star_has_none(spark):
    """A star (hub + leaves) is triangle-free — the degree orientation must
    not fabricate wedges into triangles."""
    df = spark.createDataFrame([(0, i) for i in range(1, 20)], "a: long, b: long")
    assert triangle_counts(df).count() == 0


# --- interval overlap -------------------------------------------------------


def test_interval_overlap_matches_naive(spark):
    """Grid blocking (including multi-cell intervals) must equal the naive
    O(n^2) predicate join — no lost pairs, no duplicates."""
    iv = [
        (1, 0, 40),    # spans 3 cells of 16
        (2, 10, 20),   # overlaps 1
        (3, 39, 60),   # overlaps 1 (end-touch at 40 counts: inclusive)
        (4, 41, 41),   # disjoint from 1, inside 3
        (5, 100, 110), # isolated
        (6, 0, 40),    # identical to 1
    ]
    df = spark.createDataFrame(iv, "id: long, start_day: long, end_day: long")
    got = {
        (r["id_a"], r["id_b"]): r["overlap_days"]
        for r in interval_overlap_pairs(df).collect()
    }
    rows = {(a, s, e) for a, s, e in iv}
    want = {}
    for a, sa, ea in sorted(rows):
        for b, sb, eb in sorted(rows):
            if a < b and sa <= eb and sb <= ea:
                want[(a, b)] = min(ea, eb) - max(sa, sb) + 1
    assert got == want
    assert got[(1, 3)] == 2  # [39, 40]
    assert got[(1, 6)] == 41


def test_interval_overlap_joins_on_cell_not_cartesian(spark):
    df = spark.createDataFrame(
        [(i, i * 3, i * 3 + 10) for i in range(50)], "id: long, start_day: long, end_day: long"
    )
    plan = interval_overlap_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


# --- DSIR -------------------------------------------------------------------


def test_dsir_scores_target_like_docs_higher(spark):
    rows = (
        [(i, "the quick brown fox jumps", True) for i in range(20)]
        + [(100, "the quick brown fox jumps", False)]  # pure target-speak
        + [(101, "zzz qqq xxx vvv kkk", False)]  # tokens never in target
        + [(102, "the quick zzz qqq xxx", False)]  # mixed
    )
    df = spark.createDataFrame(rows, "doc_id: long, text: string, tgt: boolean")
    got = {r["doc_id"]: r for r in dsir_resample(df, "text", "doc_id", "tgt").collect()}
    assert set(got) == {100, 101, 102}  # target docs score, never surface
    assert got[100]["importance_ppm"] > got[102]["importance_ppm"] > got[101]["importance_ppm"]
    assert got[101]["accept_ppm"] == 0  # far below neutral -> clamped out
    assert not got[101]["kept"]
    assert got[100]["accept_ppm"] == 1_000_000
    assert got[100]["kept"]


# --- cross-corpus dedup -----------------------------------------------------


def test_cross_pairs_only_cross_side(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, True),
        (2, base + " lambda", False),   # near-dup of ref 1
        (3, base + " mu", False),       # near-dup of ref 1
        (10, "totally different words about spark shuffles and joins", False),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, is_ref: boolean")
    pairs = {(r["new_id"], r["ref_id"]) for r in
             minhash_cross_pairs(df, "text", "doc_id", "is_ref").collect()}
    assert (2, 1) in pairs and (3, 1) in pairs
    # docs 2 and 3 share bands with each other too — but same-side pairs
    # must never surface, nor any pair touching the unrelated doc
    assert all(ref == 1 for _, ref in pairs)
    assert all(new in (2, 3) for new, _ in pairs)


# --- hashed linear classifier ----------------------------------------------


def test_hashed_linear_score_is_deterministic_sum(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello hello world"), (3, "")],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in hashed_linear_score(df, "text", "doc_id").collect()}
    assert 3 not in out  # empty docs drop
    # doubling a token moves the score by exactly its weight
    w_hello = out[2]["score"] - out[1]["score"]
    one = hashed_linear_score(
        spark.createDataFrame([(9, "hello")], "doc_id: long, text: string"),
        "text", "doc_id").collect()[0]
    assert one["score"] == w_hello
    assert out[1]["n_tokens"] == 2 and out[2]["n_tokens"] == 3
    assert out[1]["positive"] == (out[1]["score"] > 0)


# --- key skew profile -------------------------------------------------------


def test_key_skew_profile_planted_hot_key(spark):
    rows = [(7,)] * 60 + [(1,)] * 20 + [(k,) for k in range(100, 120)]
    df = spark.createDataFrame(rows, "k: long")
    out = key_skew_profile(df, "k", top_n=3).collect()
    assert [r["key"] for r in out] == [7, 1, 100]
    top = out[0]
    assert top["cnt"] == 60
    assert top["share_ppm"] == 1_000_000 * 60 // 100
    assert top["x_mean_ppm"] == 1_000_000 * 60 * 22 // 100


# --- audio windows ----------------------------------------------------------


def _wav(samples):
    data = struct.pack(f"<{len(samples)}h", *samples)
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def test_audio_window_energy_hand_built(spark):
    samples = [0] * 8 + [1000] * 8 + [30000, -30000] + [5] * 3  # 19 samples
    df = spark.createDataFrame([(1, bytearray(_wav(samples)))], "id: long, payload: binary")
    out = {r["win"]: r for r in audio_window_energy(df, "id", "payload", win=8).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0]["energy"] == 0 and out[0]["is_silence"]
    assert out[1]["energy"] == 8 * 1000 * 1000 and not out[1]["is_silence"]
    assert out[2]["n_samples"] == 5  # tail window is short, never padded
    assert out[2]["energy"] == 2 * 30000 * 30000 + 3 * 25
    assert out[2]["peak"] == 30000


def test_audio_window_energy_skips_non_wav(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"BMnot-a-wav")), (2, None)], "id: long, payload: binary"
    )
    assert audio_window_energy(df, "id", "payload").count() == 0


# --- perceptual hash --------------------------------------------------------


def _bmp(w, h, pixel_bytes):
    assert len(pixel_bytes) == 3 * w * h and w % 4 == 0
    hdr = b"BM" + struct.pack("<I", 54 + len(pixel_bytes)) + b"\x00" * 4 + struct.pack("<I", 54)
    dib = struct.pack("<IiiHH", 40, w, h, 1, 24) + b"\x00" * 24
    return hdr + dib + bytes(pixel_bytes)


def test_ahash64_halves(spark):
    """Top stored-half bright, bottom dark -> exactly the 32 bright-cell bits
    set; constant image -> all zero (strict > mean)."""
    from etl_healthcare_spark.operators.multimodal import ahash64

    w = h = 8
    dark_rows, bright_rows = [10] * (3 * w * 4), [200] * (3 * w * 4)
    img = _bmp(w, h, dark_rows + bright_rows)
    got = ahash64(img)
    assert got == "0" * 32 + "1" * 32  # stored rows 4..7 = cells 32..63
    assert ahash64(_bmp(w, h, [77] * (3 * w * h))) == "0" * 64
    assert ahash64(b"not an image") is None


def test_ahash_near_pairs_blocking_equals_naive(spark):
    """A 2-bit perturbation pairs up; a 20-bit one must not (and the blocked
    join must equal the naive threshold join on these hashes)."""
    from etl_healthcare_spark.operators.multimodal import ahash_near_pairs

    base = "01" * 32
    two_flips = "10" + base[2:]
    many_flips = ("10" * 10) + base[20:]
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, two_flips), (4, many_flips)], "id: long, ahash: string"
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in ahash_near_pairs(df).collect()}
    assert got == {(1, 2): 0, (1, 3): 2, (2, 3): 2}


def test_mm_phash_kernel_matches_oracle_construction(spark):
    """The registry query's kernel hash on real bytes == the arithmetic
    reconstruction, for one spot-checked doc shape."""
    from etl_healthcare_spark.operators.multimodal import image_ahash, synth_bmp_with_pixels

    d = spark.range(7, 8).select(
        F.col("id").alias("doc_id"),
        synth_bmp_with_pixels(
            F.lit(8) * (F.lit(1) + F.col("id") % 3), F.lit(8) * (F.lit(1) + F.col("id") % 4), F.col("id") % 5
        ).alias("payload"),
    )
    got = image_ahash(d, "doc_id", "payload").collect()[0]["ahash"]
    w, h, seed = 8 * (1 + 7 % 3), 8 * (1 + 7 % 4), 7 % 5
    cs, cn, tot = [0] * 64, [0] * 64, 0
    for p in range(w * h):
        gray = sum(((3 * p + c) * 37 + seed) % 256 for c in range(3)) // 3
        cell = ((p // w) * 8 // h) * 8 + (p % w) * 8 // w
        cs[cell] += gray
        cn[cell] += 1
        tot += gray
    want = "".join("1" if cs[c] * w * h > tot * cn[c] else "0" for c in range(64))
    assert got == want


# --- inverted index ---------------------------------------------------------


def test_index_probe_prunes_bucket_partitions(spark, tmp_path):
    from etl_healthcare_spark.operators.search import index_build, index_probe

    docs = spark.createDataFrame(
        [(1, "spark merge rows"), (2, "spark spark spark"), (3, "unrelated words here")],
        "doc_id: long, text: string",
    )
    d = str(tmp_path / "idx")
    index_build(docs, "text", "doc_id", d)
    probe = index_probe(spark, d, ["spark", "merge"], k=10)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    got = {r["doc"]: r for r in probe.collect()}
    assert set(got) == {1, 2}
    # df(spark)=2, df(merge)=1 -> w(spark)=333333, w(merge)=500000
    assert got[2]["score"] == 3 * 333333
    assert got[1]["score"] == 333333 + 500000
    assert got[1]["n_terms_hit"] == 2


# --- IQR outliers -----------------------------------------------------------


def test_iqr_outlier_stats_planted(spark):
    from etl_healthcare_spark.operators.anomaly import iqr_outlier_stats

    vals = list(range(1, 12)) + [1000, -1000]  # 13 rows; q1 rank 4, q3 rank 9(->10? n=13)
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], "grp: string, event_id: long, v: long"
    )
    out = iqr_outlier_stats(df, "grp", "v", "event_id").collect()[0]
    n = 13
    s = sorted(vals)
    q1, med, q3 = s[(n + 3) // 4 - 1], s[(n + 1) // 2 - 1], s[(3 * n + 3) // 4 - 1]
    assert (out["q1"], out["med"], out["q3"]) == (q1, med, q3)
    assert out["iqr"] == q3 - q1
    assert out["n_low"] == 1 and out["n_high"] == 1


# --- count-min join size ----------------------------------------------------


def test_countmin_join_size_overestimates_exact(spark):
    from etl_healthcare_spark.operators.sketch import countmin_join_size

    left = spark.createDataFrame([(k,) for k in [1, 1, 1, 2, 3]], "k: long")
    right = spark.createDataFrame([(k,) for k in [1, 2, 2, 9]], "k: long")
    out = countmin_join_size(left, "k", right, "k").collect()[0]
    assert out["exact"] == 3 * 1 + 1 * 2  # k=1: 3x1, k=2: 1x2
    assert out["est"] >= out["exact"]  # CM error is one-sided
    assert out["err_ppm"] == 1_000_000 * (out["est"] - out["exact"]) // out["exact"]


def test_countmin_join_size_disjoint_keys(spark):
    from etl_healthcare_spark.operators.sketch import countmin_join_size

    left = spark.createDataFrame([(1,), (2,)], "k: long")
    right = spark.createDataFrame([(8,), (9,)], "k: long")
    out = countmin_join_size(left, "k", right, "k").collect()[0]
    assert out["exact"] == 0 and out["err_ppm"] is None
    assert out["est"] >= 0


# --- range bounds -----------------------------------------------------------


def test_range_bounds_balanced_quartiles(spark):
    from etl_healthcare_spark.operators.bucketing import range_bounds

    # 400 rows uniform over [0, 400) with bin width 10 -> splits at 100/200/300
    df = spark.createDataFrame([(i,) for i in range(400)], "v: long")
    out = {r["split_idx"]: r["bound"] for r in range_bounds(df, "v", 4, 10).collect()}
    assert out == {1: 99, 2: 199, 3: 299}


def test_range_bounds_skewed_mass(spark):
    from etl_healthcare_spark.operators.bucketing import range_bounds

    # 90% of mass in bin 0 -> every split lands on bin 0's upper edge
    df = spark.createDataFrame([(1,)] * 90 + [(1000,)] * 10, "v: long")
    out = {r["split_idx"]: r["bound"] for r in range_bounds(df, "v", 4, 10).collect()}
    assert out == {1: 9, 2: 9, 3: 9}


# --- weighted sample --------------------------------------------------------


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from etl_healthcare_spark.operators.sampling import weighted_sample

    rows = [(i, 1 if i < 500 else 1000) for i in range(520)]
    df = spark.createDataFrame(rows, "id: long, w: long")
    got1 = [r["id"] for r in weighted_sample(df, "id", "w", 10).collect()]
    got2 = [r["id"] for r in weighted_sample(df.repartition(7), "id", "w", 10).collect()]
    assert got1 == got2  # partitioning-independent
    # the 20 heavy rows are 1000x likelier: expect the winners to be mostly heavy
    heavy = sum(1 for i in got1 if i >= 500)
    assert heavy >= 8
    zero = spark.createDataFrame([(1, 0)], "id: long, w: long")
    assert weighted_sample(zero, "id", "w", 5).count() == 0  # zero weight never sampled


# --- BPE --------------------------------------------------------------------


def test_bpe_greedy_merge_semantics(spark):
    """Self-pair runs must merge greedily left-to-right: 'aaaa' -> two 'aa',
    'aaa' -> 'aa'+'a'; counting includes overlapping positions."""
    from etl_healthcare_spark.operators.textops import bpe_train

    df = spark.createDataFrame([(1, "aaaa aaa")], "doc_id: long, text: string")
    out = {r["round"]: r for r in bpe_train(df, "text", rounds=2).collect()}
    assert (out[1]["a"], out[1]["b"], out[1]["cnt"]) == ("a", "a", 5)  # 3 + 2 overlapping
    # after merging: aaaa -> [aa, aa], aaa -> [aa, a]; pairs: (aa,aa)=1, (aa,a)=1
    assert (out[2]["a"], out[2]["b"]) == ("aa", "a")  # tie 1 vs 1 -> lexicographic


def test_bpe_tiebreak_and_chain(spark):
    """Adjacent merges must not cascade within a round: 'abab' merges both
    ab occurrences (disjoint), and round 2 sees the merged symbols."""
    from etl_healthcare_spark.operators.textops import bpe_train

    df = spark.createDataFrame([(1, "abab abab abab")], "doc_id: long, text: string")
    out = {r["round"]: r for r in bpe_train(df, "text", rounds=2).collect()}
    assert (out[1]["a"], out[1]["b"], out[1]["cnt"]) == ("a", "b", 6)  # 2 per word x 3
    assert (out[2]["a"], out[2]["b"], out[2]["cnt"]) == ("ab", "ab", 3)


# --- KMV overlap ------------------------------------------------------------


def test_kmv_overlap_estimates_track_exact(spark):
    """Two 600-key sets sharing 200 keys: estimates within 25% of exact, and
    the sketch is partitioning-independent."""
    from etl_healthcare_spark.operators.sketch import kmv_overlap

    a = spark.createDataFrame([(i,) for i in range(600)], "k: long")
    b = spark.createDataFrame([(i,) for i in range(400, 1000)], "k: long")
    out = kmv_overlap(a, "k", b, "k", k=256).collect()[0]
    assert out["exact_union"] == 1000 and out["exact_inter"] == 200
    assert abs(out["est_union"] - 1000) / 1000 < 0.25
    assert abs(out["est_inter"] - 200) / 200 < 0.25
    out2 = kmv_overlap(a.repartition(7), "k", b.repartition(5), "k", k=256).collect()[0]
    assert out2["est_union"] == out["est_union"] and out2["est_inter"] == out["est_inter"]


def test_kmv_overlap_disjoint_sets(spark):
    from etl_healthcare_spark.operators.sketch import kmv_overlap

    a = spark.createDataFrame([(i,) for i in range(100)], "k: long")
    b = spark.createDataFrame([(i,) for i in range(1000, 1100)], "k: long")
    out = kmv_overlap(a, "k", b, "k", k=64).collect()[0]
    assert out["exact_inter"] == 0 and out["est_inter"] == 0.0


# --- GIF container walk -----------------------------------------------------


def test_gif_frame_info_hand_built():
    """Hand-assembled GIF with a global color table, two frames with
    different delays, a comment extension, and a local color table — every
    skip path exercised."""
    from etl_healthcare_spark.operators.multimodal import gif_frame_info

    gct = bytes(3 * 4)  # flags declare a 4-entry global table
    frame1 = (b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # GCE delay 10
              + b"\x2c" + struct.pack("<HHHH", 0, 0, 5, 3) + b"\x81"  # local table flag, 4 entries
              + bytes(3 * 4)  # local color table
              + b"\x02\x02\x44\x44\x00")  # LZW: min code + 2-byte sub-block
    comment = b"\x21\xfe\x03abc\x00"
    frame2 = (b"\x21\xf9\x04\x00\x07\x00\x00\x00"  # delay 7
              + b"\x2c" + struct.pack("<HHHH", 0, 0, 5, 3) + b"\x00"
              + b"\x02\x01\x44\x00")
    gif = (b"GIF89a" + struct.pack("<HH", 5, 3) + b"\x81\x00\x00" + gct
           + frame1 + comment + frame2 + b"\x3b")
    assert gif_frame_info(gif) == (5, 3, 2, 17)
    assert gif_frame_info(b"notagif") is None
    assert gif_frame_info(gif[:20]) is None or gif_frame_info(gif[:20])[2] == 0


# --- multi-probe LSH --------------------------------------------------------


def test_multiprobe_recall_superset_of_single_probe(spark):
    """Multi-probe candidates strictly contain the single-bucket probe's,
    and with enough planted boundary structure the top-k re-rank equals
    exact brute force restricted to the probed buckets."""
    import random

    from etl_healthcare_spark.operators.similarity import multiprobe_topk

    rng = random.Random(7)
    dim = 8
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = []
    for i in range(60):
        noise = [rng.uniform(-0.4, 0.4) for _ in range(dim)]
        rows.append((i, [b + n for b, n in zip(base, noise)]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    planes = [v for _, v in rows[1:5]]
    got = multiprobe_topk(df.where(F.col("vec_id") != 0), "embedding", "vec_id",
                          rows[0][1], planes, k=10).collect()
    assert len(got) == 10
    buckets = {r["bucket"] for r in got}
    # candidates may span several probed buckets; each is within hamming 1
    import math
    qq = [math.floor(x * 1e6) for x in rows[0][1]]
    qb = "".join("1" if sum(a * math.floor(p * 1e6) for a, p in zip(qq, pl)) >= 0 else "0"
                 for pl in planes)
    for b in buckets:
        assert sum(x != y for x, y in zip(b, qb)) <= 1
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)


def test_source_similarity_identical_sources_agree_fully(spark, tmp_path):
    from etl_healthcare_spark.plans.registry import REGISTRY

    docs = [
        (1, "alpha beta gamma delta epsilon zeta", "s1"),
        (2, "alpha beta gamma delta epsilon zeta", "s2"),  # s2 == s1 content
        (3, "one two three four five six seven", "s3"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string, source string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = {
        (r.source_a, r.source_b): r
        for r in REGISTRY["sketch_source_similarity"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    # identical shingle sets -> identical signatures -> 16/16 agreement
    assert out[("s1", "s2")].n_agree == 16
    assert out[("s1", "s2")].jaccard_est_ppm == 10**6
    # disjoint shingle sets -> agreement only by 48-bit collision (none here)
    assert out[("s1", "s3")].n_agree == 0
    assert out[("s2", "s3")].jaccard_est_ppm == 0


def test_vocab_growth_buckets_and_cumsum(spark, tmp_path):
    docs = [
        # doc 0 introduces 2 shingles (4 tokens -> 2 trigram shingles)
        (0, "a b c d"),
        # doc 1 repeats doc 0's shingles exactly -> introduces 0
        (1, "a b c d"),
        # doc 2 introduces 1 new shingle
        (2, "x y z"),
        # doc 5 introduces 1 (bucket floor(log2(6)) = 2)
        (5, "p q r"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    from etl_healthcare_spark.plans.registry import REGISTRY

    out = {r.bucket: r for r in REGISTRY["text_vocab_growth"].fn(spark, str(tmp_path)).collect()}
    # first_doc+1 of: 'a b c','b c d' -> 1 (bucket 0); 'x y z' -> 3
    # (bucket 1); 'p q r' -> 6 (bucket 2)
    assert set(out) == {0, 1, 2}
    assert out[0].new_terms == 2 and out[0].vocab_size == 2
    assert out[1].new_terms == 1 and out[1].vocab_size == 3
    assert out[2].new_terms == 1 and out[2].vocab_size == 4
