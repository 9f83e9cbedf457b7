"""LLM-pipeline operators: dedup finds planted duplicates, ANN agrees with
brute force on its bucket, multimodal plumbing produces the contract schema."""

import pytest
from pyspark.sql import functions as F

from etl_healthcare_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from etl_healthcare_spark.operators.multimodal import attach_media_meta, decode_features
from etl_healthcare_spark.operators.similarity import ann_topk, topk_cosine
from etl_healthcare_spark.operators.textops import language_id, text_stats

BASE = "the quick brown fox jumps over the lazy dog and then runs far away home"
NEAR = BASE.replace("lazy", "sleepy")  # one token changed
OTHER = "completely different content about spark shuffles and parquet row groups entirely"


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE, "en"), (2, BASE, "en"), (3, NEAR, "en"), (4, OTHER, "en")],
        ["doc_id", "text", "lang"],
    )


def test_exact_dedup_finds_planted_dup(spark):
    groups = exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_keep = {g.keep_id: g.dup_count for g in groups}
    assert by_keep[1] == 2  # docs 1+2 identical
    assert by_keep[3] == 1 and by_keep[4] == 1


def test_minhash_lsh_finds_near_dup(spark):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(_docs(spark), "text", "doc_id").collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # one-token edit shares bands
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_identical_fingerprints(spark):
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(_docs(spark), "text", "doc_id").collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[4]
    assert set(fps[1]) <= {"0", "1"} and len(fps[1]) == 16


def test_ngram_jaccard_scores(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), "text", "doc_id", "lang", threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical
    assert 0.5 < pairs[(1, 3)] < 1.0  # near-dup
    assert (1, 4) not in pairs


def test_embedding_near_dup_and_topk(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.999, 0.04, 0.0], 0),   # near-dup of 1
            (3, [0.0, 1.0, 0.0], 0),
            (4, [0.0, 0.0, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = embedding_near_dup_pairs(emb, "embedding", "vec_id", block_col="label", threshold=0.95).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]

    top = topk_cosine(emb, "embedding", "vec_id", [1.0, 0.0, 0.0], k=2).collect()
    assert [t.id for t in top] == [1, 2]


def test_ann_matches_bruteforce_in_bucket(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = [list(r[0]) for r in emb.where(F.col("vec_id").between(1, 8)).orderBy("vec_id").select("embedding").collect()]
    q = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    got = {r.id for r in ann_topk(emb.where(F.col("vec_id") != 0), "embedding", "vec_id", q, planes, k=5).collect()}
    assert len(got) >= 1  # query's own bucket is non-empty at this SF
    brute = {r.id for r in topk_cosine(emb.where(F.col("vec_id") != 0), "embedding", "vec_id", q, k=500).collect()}
    assert got <= brute


def test_text_stats_and_langid(spark):
    docs = _docs(spark)
    stats = {r.doc_id: r for r in text_stats(docs, "text", "doc_id").collect()}
    assert stats[1].n_tokens == len(BASE.split())
    assert stats[1].n_chars == len(BASE)
    assert abs(stats[1].alpha_ratio + stats[1].digit_ratio - 1.0) > 0  # spaces exist
    lang = {r.doc_id: r.lang_pred for r in language_id(docs, "text", "doc_id").collect()}
    assert lang[1] == "en"  # 'the'/'and' markers present


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame([(1, bytearray(b"\x89PNG-fake-bytes")), (2, bytearray(b""))], "id long, payload binary")
    meta = attach_media_meta(df, "payload", modality="image", mime="image/png").select("id", "media_meta.*").collect()
    m = {r.id: r for r in meta}
    assert m[1].modality == "image" and m[1].byte_len == 15 and len(m[1].sha256) == 64
    assert m[2].byte_len == 0

    decoded = {r.id: r for r in decode_features(df, "id", "payload", kernel="fake").collect()}
    assert decoded[1].byte_len == 15 and decoded[1].feat_dim == 64
    assert decoded[1].feat_mean is not None and decoded[2].feat_mean is None

    # pseudo-features must be requested explicitly — no silent fake kernel
    with pytest.raises(TypeError):
        decode_features(df, "id", "payload")
    with pytest.raises(ValueError):
        decode_features(df, "id", "payload", kernel="pil")


def _png(w, h):
    import struct

    return (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR" + struct.pack(">II", w, h)
        + b"\x08\x02\x00\x00\x00" + b"\x00\x00\x00\x00"
    )


def _wav(sr, ch, bits=16):
    import struct

    fmt = struct.pack("<HHIIHH", 1, ch, sr, sr * ch * bits // 8, ch * bits // 8, bits)
    return b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt \
        + b"data" + struct.pack("<I", 0)


def test_parse_media_header_real_formats():
    """The header parser reads genuine container bytes — including ones
    produced by other writers (struct-packed here), not just our synth_*."""
    import struct

    from etl_healthcare_spark.operators.multimodal import parse_media_header

    assert parse_media_header(_png(640, 480)) == ("png", 640, 480, None, None, None)
    assert parse_media_header(_wav(44100, 2)) == ("wav", None, None, 44100, 2, 16)
    # BMP with negative (top-down) height normalizes to positive
    bmp = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + struct.pack("<Iii", 40, 800, -600) \
        + struct.pack("<HH", 1, 24) + b"\x00" * 24
    assert parse_media_header(bmp) == ("bmp", 800, 600, None, None, None)
    assert parse_media_header(b"GIF89a" + struct.pack("<HH", 320, 200)) == (
        "gif", 320, 200, None, None, None,
    )
    # JPEG: SOI + APP0 skipped, SOF0 carries height/width big-endian
    jpeg = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF" \
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 1080, 1920) + b"\x03"
    assert parse_media_header(jpeg) == ("jpeg", 1920, 1080, None, None, None)
    # WAV whose fmt chunk comes after a LIST chunk (chunk-walk, not fixed offset)
    wav2 = b"RIFF" + struct.pack("<I", 50) + b"WAVE" + b"LIST" + struct.pack("<I", 4) + b"INFO" \
        + b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    assert parse_media_header(wav2) == ("wav", None, None, 8000, 1, 16)
    # malformed payloads degrade, never raise
    for junk in (None, b"", b"BM", b"\x89PNG\r\n\x1a\n short", b"RIFFxxxxWAVE", b"\xff\xd8\xff"):
        assert parse_media_header(junk)[0] == "unknown"


def test_decode_media_meta_roundtrips_synth_payloads(spark):
    """Spark-synthesized header bytes parse back to the exact metadata they
    were built from — the end-to-end contract mm_header_decode hash-checks."""
    from etl_healthcare_spark.operators.multimodal import (
        decode_media_meta,
        synth_bmp,
        synth_png,
        synth_wav,
    )

    base = spark.range(3).select(F.col("id").alias("doc_id"))
    media = base.select(
        "doc_id",
        F.when(F.col("doc_id") == 0, synth_png(F.lit(123), F.lit(456)))
        .when(F.col("doc_id") == 1, synth_bmp(F.lit(1920), F.lit(1080)))
        .otherwise(synth_wav(F.lit(22050), F.lit(2)))
        .alias("payload"),
    )
    rows = {r.id: r for r in decode_media_meta(media, "doc_id", "payload").collect()}
    assert (rows[0].kind, rows[0].width, rows[0].height) == ("png", 123, 456)
    assert (rows[1].kind, rows[1].width, rows[1].height) == ("bmp", 1920, 1080)
    assert (rows[2].kind, rows[2].sample_rate, rows[2].channels, rows[2].bits) == ("wav", 22050, 2, 16)
    # synth payloads are byte-exact canonical sizes
    assert rows[0].byte_len == 33 and rows[1].byte_len == 54 and rows[2].byte_len == 44


def test_multimodal_resize_and_frames(spark):
    from etl_healthcare_spark.operators.multimodal import resize_plan, sample_frames

    img = spark.createDataFrame(
        [(1, 448, 336), (2, 100, 50), (3, 224, 224)], "id long, w int, h int"
    )
    r = {x.id: x for x in resize_plan(img, "id", "w", "h", max_side=224).collect()}
    assert (r[1].new_width, r[1].new_height) == (224, 168)  # scaled, aspect kept
    assert (r[2].new_width, r[2].new_height) == (100, 50)  # under cap: unchanged
    assert (r[3].new_width, r[3].new_height) == (224, 224)  # at cap: unchanged

    vid = spark.createDataFrame([(7, 2, 24)], "id long, dur int, fps int")
    frames = sample_frames(vid, "id", "dur", "fps", max_frames=8).collect()
    assert len(frames) == 8  # 48 frames, stride 6 -> 8 samples
    assert [f.frame_idx for f in frames] == [0, 6, 12, 18, 24, 30, 36, 42]
    assert frames[1].ts_s == 6 / 24 and len(frames[0].frame_sha) == 64


# --- the Arrow kernel contract ----------------------------------------------

# kernel -> (declared schema, the non-NULL fields of the row a NULL or junk
# payload maps to; None for a fan-out kernel, which maps it to no row)
_PAYLOAD_KERNELS = {
    "decode_media_meta": ("MEDIA_HEADER_SCHEMA", {"kind": "unknown"}),
    "pixel_sample_stats": ("PIXEL_STATS_SCHEMA", {"kind": "unknown"}),
    "image_ahash": ("AHASH_SCHEMA", {}),
    "gif_frames": ("GIF_FRAMES_SCHEMA", {}),
    "png_chunks": ("PNG_CHUNKS_SCHEMA", {}),
    "tiff_ifd": ("TIFF_IFD_SCHEMA", {}),
    "avi_container_info": ("AVI_INFO_SCHEMA", {}),
    "dicom_tags": ("DICOM_INFO_SCHEMA", {}),
    "mp4_container_info": ("MP4_INFO_SCHEMA", {}),
    "zip_central_dir": ("ZIP_INFO_SCHEMA", {}),
    "audio_window_energy": ("AUDIO_WINDOW_SCHEMA", None),
    "audio_autocorr": ("AUDIO_AUTOCORR_SCHEMA", None),
}
# the two geometry kernels read typed columns, not a payload
_GEOMETRY_KERNELS = {
    "resize_plan": ("RESIZED_SCHEMA", "id long, w int, h int", ("w", "h")),
    "sample_frames": ("FRAME_SCHEMA", "id long, dur int, fps int", ("dur", "fps")),
}


@pytest.mark.parametrize(
    "name,case",
    [(k, c) for k in _PAYLOAD_KERNELS for c in ("null", "junk", "empty")]
    + [(k, c) for k in _GEOMETRY_KERNELS for c in ("null", "empty")],
)
def test_kernel_contract_null_junk_and_empty_input(spark, name, case):
    """Every Arrow kernel: a NULL or an undecodable payload gives one row of
    NULL fields (a fan-out kernel gives none), never an error; a NULL in
    either input of a geometry kernel gives no row (its schema declares
    every field non-nullable); an empty input gives an empty frame with the
    declared schema."""
    from etl_healthcare_spark.operators import multimodal as mm

    kernel = getattr(mm, name)
    if name in _GEOMETRY_KERNELS:
        schema_name, ddl, cols = _GEOMETRY_KERNELS[name]
        rows = [] if case == "empty" else [(1, None, 30), (2, 30, None), (3, None, None)]
        out = kernel(spark.createDataFrame(rows, ddl), "id", *cols)
        non_null = None
    else:
        schema_name, non_null = _PAYLOAD_KERNELS[name]
        payload = {"null": None, "junk": bytearray(b"junk")}.get(case)
        rows = [] if case == "empty" else [(1, payload)]
        out = kernel(spark.createDataFrame(rows, "id long, payload binary"), "id", "payload")
    schema = getattr(mm, schema_name)
    assert out.schema == schema
    got = [r.asDict() for r in out.collect()]
    if case == "empty" or non_null is None:
        assert got == []
        return
    expect = {f.name: None for f in schema.fields} | {"id": 1} | non_null
    if name == "decode_media_meta":
        expect["byte_len"] = 0 if payload is None else len(payload)
    assert got == [expect]


def test_wav_data_chunk_before_fmt_is_skipped_by_every_reader(spark):
    """A `data` chunk ahead of the PCM16 `fmt` chunk is not sample data:
    pixel_sample_stats and both audio kernels read the first `data` chunk
    after that `fmt`, so the stats and the windows describe the same
    samples; the header parser still finds the `fmt` chunk."""
    import struct

    from etl_healthcare_spark.operators.multimodal import (
        audio_autocorr,
        audio_window_energy,
        parse_media_header,
        pixel_sample_stats,
    )

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body

    before, after = [1, 2, 3], [10, -20, 30, 40]
    body = (
        b"WAVE"
        + chunk(b"data", struct.pack("<3h", *before))
        + chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))
        + chunk(b"data", struct.pack("<4h", *after))
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    assert parse_media_header(wav) == ("wav", None, None, 8000, 1, 16)

    df = spark.createDataFrame([(1, bytearray(wav))], "id long, payload binary")
    st = pixel_sample_stats(df, "id", "payload").collect()[0]
    assert (st.kind, st.n_vals, st.sum_val, st.min_val, st.max_val) == ("wav", 4, 60, -20, 40)
    (w,) = audio_window_energy(df, "id", "payload", win=8).collect()
    assert (w.win, w.n_samples, w.energy, w.peak) == (0, 4, 3000, 40)
    lags = {r.lag: (r.n_terms, r.r) for r in audio_autocorr(df, "id", "payload", max_lag=1).collect()}
    assert lags == {0: (4, 3000), 1: (3, 10 * -20 + -20 * 30 + 30 * 40)}


def test_minhash_lsh_mega_bucket_capped_and_counted(spark):
    """A boilerplate cluster (many identical docs) lands every member in the
    same (band, key) buckets; uncapped that expands n^2/2 pairs in ONE task.
    The cap drops those buckets — bounded expansion — while the Observation
    reports exactly what was dropped (no silent caps), and ordinary near-dup
    pairs outside the cluster are unaffected."""
    from pyspark.sql import Observation

    boiler = [(100 + i, "standard licence header text repeated verbatim on every page", "en")
              for i in range(40)]
    docs = spark.createDataFrame(
        [(1, BASE, "en"), (2, BASE, "en"), (3, NEAR, "en"), *boiler],
        ["doc_id", "text", "lang"],
    )
    obs = Observation("lsh")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", max_bucket=10, observation=obs
        ).collect()
    }
    # the 40-doc boilerplate cluster is capped out: no pair touches it
    assert not any(a >= 100 or b >= 100 for a, b in pairs)
    # normal near-dups still found
    assert (1, 2) in pairs
    # counters: 4 bands x 1 oversize bucket each, 40 docs per bucket
    assert obs.get["dropped_buckets"] == 4
    assert obs.get["dropped_docs"] == 160
    assert obs.get["max_bucket_seen"] == 40


def test_minhash_lsh_counters_report_when_every_bucket_is_dropped(spark):
    """The cap drops every bucket, so no pair survives: the counters must
    still report the dropped buckets (the case they exist for), with the
    same figures as when one ordinary pair survives the cap."""
    from pyspark.sql import Observation

    boiler = [(100 + i, "standard licence header text repeated verbatim on every page", "en")
              for i in range(40)]
    docs = spark.createDataFrame([(1, OTHER, "en"), *boiler], ["doc_id", "text", "lang"])
    obs = Observation("lsh_all_dropped")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", max_bucket=10, observation=obs).collect()
    assert pairs == []
    assert obs.get == {"dropped_buckets": 4, "dropped_docs": 160, "max_bucket_seen": 40}


def test_minhash_lsh_cap_default_leaves_small_corpora_unchanged(spark):
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(_docs(spark), "text", "doc_id", max_bucket=None).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(_docs(spark), "text", "doc_id").collect()
    }
    assert uncapped == capped


def test_ngram_jaccard_verify_matches_blocked_form_on_candidates(spark):
    """Verification over an explicit pair list computes the same exact jaccard
    as the blocked all-pairs form restricted to those pairs."""
    from etl_healthcare_spark.operators.dedup import ngram_jaccard_verify

    docs = _docs(spark)
    brute = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", "lang", threshold=0.0).collect()
    }
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["doc_a", "doc_b"])
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_verify(docs, pairs, "text", "doc_id", threshold=0.0).collect()
    }
    # (1, 4) shares no shingle -> no intersection row, same as the blocked form
    assert set(got) == {(1, 2), (1, 3)}
    for k, v in got.items():
        assert abs(v - brute[k]) == 0.0


def test_ngram_jaccard_max_df_drops_only_common_shingles(spark):
    """With max_df high enough to keep every shingle the capped result equals
    the uncapped one; with max_df=1 no shared shingle survives, so no pairs."""
    docs = _docs(spark)
    base = {
        (r.doc_a, r.doc_b): r.inter
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", "lang", threshold=0.0).collect()
    }
    hi = {
        (r.doc_a, r.doc_b): r.inter
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", "lang", threshold=0.0, max_df=100
        ).collect()
    }
    assert hi == base
    lo = ngram_jaccard_pairs(docs, "text", "doc_id", "lang", threshold=0.0, max_df=1).collect()
    assert lo == []


def _clustered_vectors(spark, per_cluster=40, dim=12):
    """3 planted clusters along orthogonal axes, ids interleaved so the
    k-means seeds (lowest ids) span every cluster."""
    rows = []
    for i in range(per_cluster * 3):
        c = i % 3
        v = [0.0] * dim
        v[c] = 1.0
        v[3 + (i % (dim - 3))] += 0.05 * ((i % 7) - 3) / 3.0  # small deterministic jitter
        rows.append((i, c, v))
    return spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<double>")


def test_ivf_full_probe_equals_exact_topk(spark):
    """nprobe == nlist covers every cell: IVF must reproduce brute-force
    top-k on ANY data — the machinery exactness gate sim_ivf_topk registers."""
    from etl_healthcare_spark.operators.similarity import ivf_topk

    df = _clustered_vectors(spark)
    q = [1.0] + [0.02] * 11
    exact = [r.id for r in topk_cosine(df, "embedding", "vec_id", q, k=10).collect()]
    ivf = [r.id for r in ivf_topk(df, "embedding", "vec_id", q, nlist=3, nprobe=3, k=10).collect()]
    assert ivf == exact


def test_ivf_full_probe_skips_null_embedding_seed(spark):
    """A NULL embedding at the lowest id is never a seed: full probe still
    equals brute-force top-k."""
    from etl_healthcare_spark.operators.similarity import ivf_topk

    df = _clustered_vectors(spark, per_cluster=10).withColumn(
        "embedding", F.when(F.col("vec_id") != 0, F.col("embedding"))
    )
    q = [1.0] + [0.02] * 11
    exact = [r.id for r in topk_cosine(df, "embedding", "vec_id", q, k=10).collect()]
    ivf = [r.id for r in ivf_topk(df, "embedding", "vec_id", q, nlist=3, nprobe=3, k=10).collect()]
    assert ivf == exact


def test_ivf_partial_probe_full_recall_on_clustered_data(spark):
    """On clustered data (the real-corpus case) one probed cell of three
    already holds every true neighbor: recall@10 == 1.0 at nprobe=1, with
    2/3 of the corpus never scored."""
    from etl_healthcare_spark.operators.similarity import ivf_topk

    df = _clustered_vectors(spark)
    q = [1.0] + [0.02] * 11
    exact = {r.id for r in topk_cosine(df, "embedding", "vec_id", q, k=10).collect()}
    ivf = {r.id for r in ivf_topk(df, "embedding", "vec_id", q, nlist=3, nprobe=1, k=10).collect()}
    assert ivf == exact  # recall@10 == 1.0


def test_ivf_probe_matches_brute_force_within_probed_cells(spark, tmp_path):
    """Build/probe split: the probe over the written partitioned index must
    equal brute-force int8-L2 top-k restricted to the probed cells — and the
    scan must touch only nprobe cell directories."""
    from etl_healthcare_spark.operators.quantize import quantized_vectors
    from etl_healthcare_spark.operators.similarity import ivf_build_index, ivf_probe

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = str(tmp_path / "idx")
    ivf_build_index(emb, "embedding", "vec_id", d, k=8)
    got = ivf_probe(spark, d, query_id=0, nprobe=2, k_top=10).collect()
    assert len(got) == 10
    # brute force in the same metric over the probed cells only
    idx = spark.read.parquet(d + "/vectors")
    probed = {r.cell for r in idx.join(
        spark.createDataFrame([(r.id,) for r in got], "id long"), "id").select("cell").collect()}
    assert len(probed) <= 2, "results must come from at most nprobe cells"
    qv = dict(quantized_vectors(emb, "embedding", "vec_id").collect())
    q0 = qv[0]
    in_cells = {r.id for r in idx.where(F.col("cell").isin(list(probed))).select("id").collect()}
    brute = sorted(
        ((sum((a - b) * (a - b) for a, b in zip(qv[i], q0)), i) for i in in_cells if i != 0)
    )[:10]
    assert [i for _, i in brute] == [r.id for r in got]


def _knn_blocked_recall(spark, emb, ncells, nprobe, n_queries=16, k=3):
    from etl_healthcare_spark.operators.quantize import quantized_vectors
    from etl_healthcare_spark.operators.similarity import knn_blocked

    got = knn_blocked(
        emb, "embedding", "vec_id", F.col("vec_id") < n_queries, k=k, ncells=ncells, nprobe=nprobe
    ).collect()
    qv = dict(quantized_vectors(emb, "embedding", "vec_id").collect())
    hits = total = 0
    for qid in range(n_queries):
        if qid not in qv:
            continue
        mine = {r.neighbor_id for r in got if r.query_id == qid}
        brute = sorted(
            ((sum((a - b) * (a - b) for a, b in zip(qv[i], qv[qid])), i) for i in qv if i != qid)
        )[:k]
        truth = {i for _, i in brute}
        hits += len(mine & truth)
        total += len(truth)
    return hits / total


def test_knn_blocked_full_recall_on_testdata_with_wide_probe(spark):
    """On the (near-random, hence worst-case for blocking) testdata
    embeddings, widening the probe recovers recall 1.0 vs brute-force
    int8-L2 k-NN — the nprobe knob reaches exactness."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert _knn_blocked_recall(spark, emb, ncells=8, nprobe=7) == 1.0
    # the registered scale shape (nprobe=4 of 8) still recovers most truth
    assert _knn_blocked_recall(spark, emb, ncells=8, nprobe=4) >= 0.75


def test_knn_blocked_full_recall_on_clustered_data_with_narrow_probe(spark):
    """On clustered data (the real-corpus case) a 2-of-3-cell probe already
    achieves recall 1.0 — the blocking wins exactly when the corpus has
    structure, which is what IVF assumes."""
    emb = _clustered_vectors(spark).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    assert _knn_blocked_recall(spark, emb, ncells=3, nprobe=2, n_queries=6) == 1.0


def test_decode_pixel_samples_bmp_row_padding_and_wav_sign():
    """decode_pixel_samples against hand-built bytes: a 24-bpp BMP whose
    width is NOT a multiple of 4 (rows padded to a 4-byte stride — padding
    bytes must not leak into the stats) and a PCM16 WAV with negative
    samples (sign/endianness)."""
    import struct as st

    from etl_healthcare_spark.operators.multimodal import decode_pixel_samples

    # BMP 2x2 @24bpp: row data 6 bytes -> stride 8 (2 pad bytes of 0xFF that
    # must be ignored).  Pixel bytes: row0 = 1..6, row1 = 7..12.
    w, h = 2, 2
    stride = 8
    header = (
        b"BM" + st.pack("<I", 54 + stride * h) + b"\x00" * 4 + st.pack("<I", 54)
        + st.pack("<I", 40) + st.pack("<ii", w, h) + st.pack("<HH", 1, 24)
        + st.pack("<I", 0) + b"\x00" * 20
    )
    rows = bytes(range(1, 7)) + b"\xff\xff" + bytes(range(7, 13)) + b"\xff\xff"
    kind, n, s, mn, mx = decode_pixel_samples(header + rows)
    assert (kind, n, s, mn, mx) == ("bmp", 12, sum(range(1, 13)), 1, 12)

    # WAV with samples [-32768, -1, 0, 32767]
    samples = [-32768, -1, 0, 32767]
    data = b"".join(st.pack("<h", v) for v in samples)
    wav = (
        b"RIFF" + st.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + st.pack("<I", 16) + st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        + b"data" + st.pack("<I", len(data)) + data
    )
    kind, n, s, mn, mx = decode_pixel_samples(wav)
    assert (kind, n, s, mn, mx) == ("wav", 4, -2, -32768, 32767)

    # compressed/foreign payloads degrade, never raise
    assert decode_pixel_samples(b"\x89PNG\r\n\x1a\x00junk")[0] == "unknown"
    assert decode_pixel_samples(None)[0] == "unknown"


# ---------------------------------------------------------------------------
# bigram-LM quality scoring
# ---------------------------------------------------------------------------


def test_lm_score_ranks_natural_below_unnatural(spark):
    """Docs re-using corpus-frequent bigrams score high; a doc of bigrams
    never seen elsewhere scores near the smoothing floor."""
    from etl_healthcare_spark.operators.textops import lm_bigram_scores

    corpus = [(i, "the cat sat on the mat and the cat ran") for i in range(8)]
    corpus.append((100, "zq xv wk jj qqq zzz pp ww ee rr"))  # unseen bigrams
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    scores = {
        r.doc_id: r.lm_score_ppm
        for r in lm_bigram_scores(df, "text", "doc_id").collect()
    }
    # the outlier doc still contributes its OWN counts to the corpus model
    # (self-training), so its score is low but not near-zero
    assert scores[100] < scores[0] / 2
    assert all(scores[i] == scores[0] for i in range(8))  # identical docs tie


def test_lm_score_smoothing_never_zero_and_short_docs_dropped(spark):
    from etl_healthcare_spark.operators.textops import lm_bigram_scores

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "")], ["doc_id", "text"]
    )
    rows = lm_bigram_scores(df, "text", "doc_id").collect()
    got = {r.doc_id: (r.n_bigrams, r.lm_score_ppm) for r in rows}
    assert set(got) == {1}  # <2 tokens -> no bigrams -> not scored
    n_bigrams, ppm = got[1]
    assert n_bigrams == 1 and ppm > 0  # add-one smoothing floors above zero


def test_embedding_lsh_bucket_gemm_kernel_matches_expression(spark):
    """Round-11: the arrow path's bucket bits come from an int64 numpy GEMM
    (np.floor-quantize + sign) instead of hyperplane_bucket_exact's
    interpreted folds.  Both must emit IDENTICAL buckets and pair sets —
    the quantize/dot arithmetic is exact integers on both paths."""
    from etl_healthcare_spark.operators.dedup import embedding_lsh_dedup_pairs

    df = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: (
                F.conv(
                    F.substring(
                        F.sha2(
                            F.concat_ws(":", F.col("id").cast("string"), i.cast("string")), 256
                        ),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("float")
                / F.lit(65535.0)
                - F.lit(0.5)
            ),
        ).alias("embedding"),
    )
    planes = [list(r[0]) for r in df.where("vec_id between 1 and 4").orderBy("vec_id").select("embedding").collect()]
    kw = dict(threshold=-0.5, dim=8)  # permissive: every in-bucket pair emits
    expr = sorted(
        (r.id_a, r.id_b, r.bucket)
        for r in embedding_lsh_dedup_pairs(
            df, "embedding", "vec_id", planes, kernel="expr", **kw
        ).collect()
    )
    gemm = sorted(
        (r.id_a, r.id_b, r.bucket)
        for r in embedding_lsh_dedup_pairs(
            df, "embedding", "vec_id", planes, kernel="arrow", **kw
        ).collect()
    )
    assert expr == gemm and len(expr) > 0

    # a NULL vector: the all-"0" bucket and no pair on both kernels
    ddl = "vec_id long, embedding array<float>"
    with_null = df.union(spark.createDataFrame([(60, None)], ddl))
    pairs = {
        k: sorted(
            (r.id_a, r.id_b, r.bucket)
            for r in embedding_lsh_dedup_pairs(with_null, "embedding", "vec_id", planes, kernel=k, **kw).collect()
        )
        for k in ("expr", "arrow")
    }
    assert pairs["expr"] == pairs["arrow"] == expr
    # a NULL, NaN or infinite element, or a short vector: the arrow kernel
    # names the row (under ANSI the expression kernel raises on ±inf, and
    # Arrow delivers a NULL element as NaN)
    bad = [None, float("nan"), float("inf"), float("-inf")]
    for i, vec in enumerate([[0.1] * 7 + [x] for x in bad] + [[0.1] * 7]):
        row = spark.createDataFrame([(1000 + i, vec)], ddl)
        with pytest.raises(Exception, match=f"row {1000 + i} is not a finite 8-dim vector"):
            embedding_lsh_dedup_pairs(df.union(row), "embedding", "vec_id", planes, kernel="arrow", **kw).collect()
