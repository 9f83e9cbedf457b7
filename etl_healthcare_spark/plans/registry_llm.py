"""Registry batch: LLM-data-pipeline operators (north star in BASELINE.json)
— dedup (exact / minhash-LSH / simhash / n-gram Jaccard / embedding cosine),
similarity search (brute-force + LSH-ANN), text analysis (lang-ID, quality,
tokens, fingerprint), multimodal binary stats.

Oracle notes: DuckDB's list_cosine_similarity computes in float32 while our
engine folds in float64, so cosine queries compare ID sets with thresholds
placed in distribution gaps (margin >> 1e-6), never raw scores.  Everything
else is sha256/int-exact and hash-compares directly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datasets import load_table
from ..functions.text import LANG_MARKERS, tokens
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_dup_groups,
)
from ..operators.similarity import ann_topk, topk_cosine
from ..operators.textops import (
    fingerprints,
    language_id,
    lm_bigram_oracle_sql,
    lm_bigram_scores,
    text_stats,
    token_counts,
)
from .registry import register
from ..functions.materialize import materialize


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    sql="""
    SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup: sha256 content groups, deterministic keeper = min id; "
    "one shuffle on the hash key at any scale.",
)
def dedup_exact(spark, sf_dir):
    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


def _minhash_ctes(bands: int = 4, rows: int = 4, width: int = 12, src: str = "documents") -> str:
    """The shared CTE chain (toks -> shingles -> mh signatures -> band keys ->
    candidate pairs) — composed into different final SELECTs by the LSH-pair,
    connected-components, keep-list, scored-pair, and e2e-funnel oracles.
    `src` is the (doc_id, text) relation the chain reads.

    Mirrors the engine's mega-bucket cap (operators/dedup.py DEFAULT_MAX_BUCKET):
    buckets larger than the cap are excluded from pair expansion in BOTH
    engines, so the oracle compare exercises the capped semantics."""
    from ..operators.dedup import DEFAULT_MAX_BUCKET
    n = bands * rows
    slices = 64 // width  # disjoint digest slices = independent hash fns
    mh_cols = ",\n        ".join(
        f"min(substr(sha256('{i // slices}:' || s), {1 + width * (i % slices)}, {width})) AS mh{i}"
        for i in range(n)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, {expr} AS key FROM mh".format(
            b=b, expr=" || ".join(f"mh{i}" for i in range(b * rows, (b + 1) * rows))
        )
        for b in range(bands)
    )
    return f"""toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    ),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS j
            FROM toks WHERE len(t) >= 3),
    shingle AS (SELECT doc_id, t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS s FROM idx),
    mh AS (
      SELECT doc_id,
        {mh_cols}
      FROM shingle GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    big_buckets AS (
      SELECT band, key FROM bands GROUP BY 1, 2 HAVING count(*) > {DEFAULT_MAX_BUCKET}
    ),
    lsh_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE NOT EXISTS (SELECT 1 FROM big_buckets g
                        WHERE g.band = a.band AND g.key = a.key)
    )"""


def _minhash_oracle(bands: int = 4, rows: int = 4, width: int = 12) -> str:
    return f"""
    WITH {_minhash_ctes(bands, rows, width)}
    SELECT doc_a, doc_b FROM lsh_pairs
    """


@register(
    "dedup_minhash_lsh",
    sql=_minhash_oracle(),
    doc="MinHash+LSH near-dup candidates: 3-word shingles -> 16 sha256-derived "
    "minhashes -> 4 bands x 4 rows -> bucket self-join.  Scale shape: shuffle "
    "on (band, key); join cost bounded by bucket sizes, never all-pairs.",
)
def dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", bands=4, rows=4)


def _simhash_oracle_bits() -> str:
    bits = " || ".join(
        "CASE WHEN sum(CASE WHEN substr(sha256(tok), {i}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
        "THEN '1' ELSE '0' END".format(i=i)
        for i in range(1, 17)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    fp AS (
      SELECT doc_id, {bits} AS simhash
      FROM toks GROUP BY doc_id
    )
    SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM fp GROUP BY 1 HAVING count(*) > 1
    """


@register(
    "dedup_simhash",
    sql=_simhash_oracle_bits(),
    doc="SimHash near-dup groups: 16-bit majority-vote fingerprint from "
    "sha256 token bits; identical fingerprints = candidate dups (one shuffle "
    "on the fingerprint).",
)
def dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.size(tokens(F.col("text"))) > 0)
    return simhash_dup_groups(docs, "text", "doc_id")


def _ngram_jaccard_verify_oracle() -> str:
    """Exact Jaccard over LSH candidate pairs: reuses the minhash CTE chain
    (`shingle` carries per-doc shingles with dups; dedupe for the set math)."""
    return f"""
    WITH {_minhash_ctes()},
    sh AS (SELECT DISTINCT doc_id, s AS shingle FROM shingle),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS inter
      FROM lsh_pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter, sa.n_shingles AS na, sb.n_shingles AS nb,
           CAST(inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - inter) >= 0.2
    """


@register(
    "dedup_ngram_jaccard",
    sql=_ngram_jaccard_verify_oracle(),
    doc="n-gram Jaccard near-dup VERIFICATION over LSH candidates: exact "
    "distinct-3-shingle intersection computed only for pairs sharing a "
    "minhash band (capped buckets).  The 100 TB shape — no shingle posting "
    "list is self-joined, cost is O(|candidates| x shingles/doc); jaccard = "
    "single int-ratio division (cross-engine exact).",
)
def dedup_ngram_jaccard(spark, sf_dir):
    from ..operators.dedup import ngram_jaccard_verify

    docs = _t(spark, sf_dir, "documents")
    # EAGER: the verify join consumes pairs from concurrent stages, which
    # raced the lazy persist and re-ran the LSH pipeline per consumer —
    # A/B probed 6.58 -> 2.38 s min-of-5 at sf0.1 (round-10)
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", bands=4, rows=4).transform(materialize)
    return ngram_jaccard_verify(docs, pairs, "text", "doc_id", threshold=0.2)


@register(
    "dedup_embedding_cosine",
    sql="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE a.vec_id < 5000 AND b.vec_id < 5000
      AND list_cosine_similarity(a.embedding, b.embedding) >= 0.402
    """,
    doc="Embedding-cosine near-dup pairs, label-blocked — the small-scale "
    "verification-stage demo (a label block grows with the corpus; the "
    "PRODUCTION shape is dedup_embedding_lsh, which blocks on the "
    "integer-exact hyperplane-LSH bucket).  Threshold 0.402 sits in a "
    "distribution gap (neighbors 0.3983 / 0.4071) so float32-vs-float64 "
    "engine differences cannot flip membership; scores deliberately omitted.",
)
def dedup_embedding_cosine(spark, sf_dir):
    from ..operators.dedup import embedding_near_dup_pairs

    # bounded demo: vec_id < 5000 covers EVERY vector at the driver SFs
    # (<= 2000 rows, results and hashes unchanged) while keeping the
    # label-block quadratic in check at validation scale — a label block
    # over the full corpus is 2e9 pairs at sf1.0, which is exactly why the
    # production shape is dedup_embedding_lsh
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5000)
    pairs = embedding_near_dup_pairs(
        emb, "embedding", "vec_id", block_col="label", threshold=0.402, dim=64
    )
    lab = emb.select(F.col("vec_id").alias("id_a"), "label")
    return pairs.join(lab, "id_a").select("id_a", "id_b", "label")


@register(
    "dedup_embedding_lsh",
    sql="""
    WITH q AS (
      SELECT vec_id, embedding,
             CAST(list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS DOUBLE[]) AS qv
      FROM embeddings
    ),
    planes AS (SELECT vec_id AS pid, qv AS qp FROM q WHERE vec_id BETWEEN 1 AND 8),
    bk AS (
      SELECT q.vec_id, q.embedding,
             string_agg(CASE WHEN list_inner_product(q.qv, p.qp) >= 0
                             THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS bucket
      FROM q CROSS JOIN planes p GROUP BY q.vec_id, q.embedding
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket
    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.411
    """,
    doc="Embedding-cosine near-dup pairs at PRODUCTION blocking: the pairwise "
    "self-join is keyed on the integer-exact hyperplane-LSH bucket (8 "
    "data-derived planes -> 256 buckets), so pair cost is n^2/2^b spread over "
    "independent per-bucket tasks — the 100 TB shape, vs label blocking which "
    "grows a block linearly with the corpus.  Bucket bits are signs of INT64 "
    "dots on a 1e-6 grid (functions/vectors.hyperplane_bucket_exact): both "
    "engines compute them bit-identically, where a float32-vs-float64 inner "
    "product could flip a near-orthogonal sign (observed |dot| ~ 4e-7 on "
    "testdata).  Threshold 0.411 sits in a cosine-distribution gap at every "
    "local sf (neighbors 0.4089 / 0.4127 at sf0.1), so float score drift "
    "cannot flip membership; scores deliberately omitted from the compare.",
)
def dedup_embedding_lsh(spark, sf_dir):
    from ..operators.dedup import embedding_lsh_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    rows = emb.where(F.col("vec_id").between(1, 8)).orderBy("vec_id").select("embedding").collect()
    planes = [list(r[0]) for r in rows]
    return embedding_lsh_dedup_pairs(
        emb, "embedding", "vec_id", planes, threshold=0.411, dim=64
    ).select("id_a", "id_b", "bucket")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@register(
    "sim_topk_cosine",
    sql="""
    SELECT vec_id
    FROM embeddings
    WHERE vec_id <> 0
    ORDER BY list_cosine_similarity(
      embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC,
      vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-k (exact ANN baseline): broadcast query "
    "vector, one scan, TakeOrderedAndProject — embarrassingly parallel.  "
    "ID-set compare (scores are float32 in the oracle engine).",
)
def sim_topk_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    corpus = emb.where(F.col("vec_id") != 0)
    return topk_cosine(corpus, "embedding", "vec_id", list(qvec), k=10).select(
        F.col("id").alias("vec_id")
    )


@register(
    "sim_ann_lsh",
    sql="""
    WITH planes AS (
      SELECT vec_id AS pid, embedding AS p FROM embeddings WHERE vec_id BETWEEN 1 AND 8
    ),
    bucketed AS (
      SELECT e.vec_id, e.embedding,
             string_agg(CASE WHEN list_inner_product(e.embedding, p.p) >= 0
                             THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, e.embedding
    ),
    qb AS (SELECT bucket FROM bucketed WHERE vec_id = 0)
    SELECT b.vec_id
    FROM bucketed b, qb
    WHERE b.bucket = qb.bucket AND b.vec_id <> 0
    ORDER BY list_cosine_similarity(
      b.embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC,
      b.vec_id
    LIMIT 5
    """,
    doc="LSH-bucketed ANN (the scale path): 8 data-derived hyperplanes give "
    "256 buckets; query probes only its bucket (corpus/256 per probe at "
    "100 TB when the layout is partitioned by bucket).",
)
def sim_ann_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    rows = emb.where(F.col("vec_id").between(1, 8)).orderBy("vec_id").select("embedding").collect()
    planes = [list(r[0]) for r in rows]
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    corpus = emb.where(F.col("vec_id") != 0)
    return ann_topk(corpus, "embedding", "vec_id", qvec, planes, k=5).select(
        F.col("id").alias("vec_id")
    )


def _sim_ivf_probe_sql():
    from ..operators.similarity import ivf_probe_oracle_sql

    return ivf_probe_oracle_sql(query_id=0, nprobe=2, k_top=10, k=8)


@register(
    "sim_ivf_probe",
    sql=_sim_ivf_probe_sql(),
    doc="IVF index BUILD/PROBE split (the 100 TB ANN shape): "
    "ivf_build_index writes the corpus partitionBy(cell) ONCE under "
    "integer-exact k-means cells (operators/clustering semantics), then "
    "ivf_probe ranks the k-row centroid table against the query and scans "
    "ONLY the nprobe nearest cell partitions — the plan shows "
    "PartitionFilters on cell, so at scale a probe reads nprobe/nlist of the "
    "corpus, not all of it.  Exact int8 L2 top-k inside probed cells; all "
    "integer arithmetic, hash-checked against a DuckDB twin of the full "
    "build+probe.",
)
def sim_ivf_probe(spark, sf_dir):
    import tempfile

    from ..operators.similarity import ivf_build_index, ivf_probe

    emb = _t(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="ivf_idx_")
    ivf_build_index(emb, "embedding", "vec_id", d, k=8)
    return ivf_probe(spark, d, query_id=0, nprobe=2, k_top=10)


def _sim_knn_blocked_sql():
    from ..operators.similarity import knn_blocked_oracle_sql

    return knn_blocked_oracle_sql(max_query_id=16, k=3, ncells=8, nprobe=4)


@register(
    "sim_knn_blocked",
    sql=_sim_knn_blocked_sql(),
    doc="BLOCKED k-NN join for large query batches (the scale path of "
    "sim_knn_join): queries and corpus share integer-exact IVF cells, each "
    "query probes its 4 nearest of 8 cells, the pairing is a HASH join keyed "
    "on the cell id (never a nested loop over the cross product), and the "
    "per-query top-3 is one window.  Pair cost |Q| x |corpus| x nprobe/ncells "
    "spread over cell-keyed tasks; exact int8 L2 metric, fully "
    "oracle-checked.  Recall vs brute force asserted in tests/test_llm_ops.",
)
def sim_knn_blocked(spark, sf_dir):
    from ..operators.similarity import knn_blocked

    emb = _t(spark, sf_dir, "embeddings")
    return knn_blocked(emb, "embedding", "vec_id", F.col("vec_id") < 16, k=3, ncells=8, nprobe=4)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    sql="""
    SELECT doc_id,
           length(text) AS n_chars,
           len(list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0)) AS n_tokens,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS n_punct,
           CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0 END AS alpha_ratio,
           CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0 END AS digit_ratio,
           CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) ELSE 0 END AS punct_ratio,
           CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0 END AS upper_ratio
    FROM documents
    """,
    doc="Per-document quality metrics: char/token/alpha/digit/punct counts + "
    "ratios (single int-ratio divisions, cross-engine exact).",
)
def q_text_stats(spark, sf_dir):
    return text_stats(_t(spark, sf_dir, "documents"), "text", "doc_id")


# mean add-one bigram ppm sits at ~34k on testdata (vocab ~30 -> uniform
# bigram ~ 33k ppm); < 32000 flags the ~5% least-natural tail.  The flag is
# an exact integer comparison, so there is no boundary risk at any sf.
LM_LOW_PPM = 32000


@register(
    "text_lm_score",
    sql=lm_bigram_oracle_sql(low_ppm=LM_LOW_PPM),
    doc="CCNet-style LM quality scoring (Wenzek et al., arXiv:1911.00359): "
    "an add-one-smoothed bigram model trained on the corpus itself scores "
    "every document by its mean bigram probability (integer ppm — a true "
    "log-perplexity would hinge on engine-variant ln() ulps, the ppm mean "
    "ranks identically for filtering and is exactly reproducible).  "
    "Train = one map-side-combined bigram count; score = one (w1,w2) "
    "shuffle join + per-doc integer mean (operators/textops.py: "
    "lm_bigram_scores).  low_quality flags the unnatural tail.",
)
def text_lm_score(spark, sf_dir):
    return lm_bigram_scores(_t(spark, sf_dir, "documents"), "text", "doc_id", low_ppm=LM_LOW_PPM)


def _langid_oracle() -> str:
    score_cols = []
    for lang, words in LANG_MARKERS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), x -> x IN ({inlist}))) AS score_{lang}"
        )
    langs = list(LANG_MARKERS)
    m = ", ".join(f"score_{lang}" for lang in langs)
    first_max = " ".join(
        f"WHEN score_{lang} = greatest({m}) THEN '{lang}'" for lang in langs
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, lang, {", ".join(score_cols)}
      FROM documents
    )
    SELECT doc_id, lang AS lang_actual, {m},
           CASE WHEN greatest({m}) <= 0 THEN 'und' {first_max} END AS lang_pred
    FROM scored
    """


@register(
    "text_langid",
    sql=_langid_oracle(),
    doc="Language ID: stopword-marker scores per language, argmax with "
    "first-wins tie-break (n-gram heuristic langid; scores exact ints).",
)
def q_text_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = language_id(docs, "text", "doc_id")
    return out.join(docs.select("doc_id", F.col("lang").alias("lang_actual")), "doc_id").select(
        "doc_id", "lang_actual", *[f"score_{lang}" for lang in LANG_MARKERS], "lang_pred"
    )


@register(
    "text_tokens",
    sql="""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0)) AS n_tokens_ws,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_tokens_bpe
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex tokens "
    "(alphanumeric runs + isolated punctuation).",
)
def q_text_tokens(spark, sf_dir):
    return token_counts(_t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "text_fingerprint",
    sql="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS j
            FROM toks WHERE len(t) >= 5),
    sh AS (SELECT doc_id, t[j] || ' ' || t[j+1] || ' ' || t[j+2] || ' ' || t[j+3] || ' ' || t[j+4] AS s
           FROM idx)
    SELECT doc_id, min(substr(sha256(s), 1, 16)) AS fingerprint
    FROM sh GROUP BY doc_id
    """,
    doc="Document fingerprint: min sha256-substring over 5-word shingles "
    "(winnowing-style; stable under small edits).",
)
def q_text_fingerprint(spark, sf_dir):
    # fingerprints is NULL exactly for a doc below k tokens (no shingle)
    fp = fingerprints(_t(spark, sf_dir, "documents"), "text", "doc_id", k=5)
    return fp.where(F.col("fingerprint").isNotNull())


# ---------------------------------------------------------------------------
# multimodal binary stats
# ---------------------------------------------------------------------------


@register(
    "mm_binary_stats",
    sql="""
    SELECT doc_id,
           'text' AS modality,
           octet_length(encode(text)) AS byte_len,
           sha256(text) AS payload_sha,
           lower(substr(hex(encode(text)), 1, 8)) AS magic_prefix
    FROM documents
    """,
    doc="Multimodal binary-column stats: opaque payload treated as bytes — "
    "byte length, content sha, magic-bytes prefix (the typed-metadata layer "
    "of operators/multimodal.py; header-level decode is mm_header_decode).",
)
def q_mm_binary_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    b = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.lit("text").alias("modality"),
        F.octet_length(b).cast("long").alias("byte_len"),
        F.sha2(b, 256).alias("payload_sha"),
        F.lower(F.substring(F.hex(b), 1, 8)).alias("magic_prefix"),
    )


@register(
    "mm_header_decode",
    sql="""
    SELECT doc_id AS id,
           CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 54 ELSE 44 END AS byte_len,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS kind,
           CASE WHEN doc_id % 3 < 2 THEN CAST(64 + doc_id % 512 AS INT) END AS width,
           CASE WHEN doc_id % 3 < 2 THEN CAST(48 + doc_id % 384 AS INT) END AS height,
           CASE WHEN doc_id % 3 = 2 THEN CAST(8000 + (doc_id % 8) * 4000 AS INT) END AS sample_rate,
           CASE WHEN doc_id % 3 = 2 THEN CAST(1 + doc_id % 2 AS INT) END AS channels,
           CASE WHEN doc_id % 3 = 2 THEN CAST(16 AS INT) END AS bits
    FROM documents WHERE doc_id < 3000
    """,
    doc="REAL multimodal header decode: genuine PNG/BMP/WAV container bytes "
    "are synthesized per document (operators/multimodal.synth_*), then "
    "parse_media_header extracts width/height/sample-rate from the raw bytes "
    "inside the Arrow-batched mapInPandas kernel (decode_media_meta) — the "
    "oracle predicts every field arithmetically, so a parser bug cannot "
    "hash-match.  Map-only at any scale.",
)
def q_mm_header_decode(spark, sf_dir):
    from ..operators.multimodal import decode_media_meta, synth_bmp, synth_png, synth_wav

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 3000)
    d = F.col("doc_id")
    w, h = F.lit(64) + d % 512, F.lit(48) + d % 384
    sr, ch = F.lit(8000) + (d % 8) * 4000, F.lit(1) + d % 2
    media = docs.select(
        "doc_id",
        F.when(d % 3 == 0, synth_png(w, h))
        .when(d % 3 == 1, synth_bmp(w, h))
        .otherwise(synth_wav(sr, ch))
        .alias("payload"),
    )
    return decode_media_meta(media, "doc_id", "payload")


@register(
    "mm_pixel_stats",
    sql="""
    WITH src AS (SELECT doc_id FROM documents WHERE doc_id < 1500),
    bmp AS (
      SELECT doc_id, 4 * (1 + doc_id % 4) AS w, 3 + doc_id % 5 AS h, doc_id % 251 AS seed
      FROM src WHERE doc_id % 2 = 0
    ),
    bmp_idx AS (
      SELECT doc_id, seed, unnest(generate_series(0, 3 * w * h - 1)) AS i FROM bmp
    ),
    bmp_stats AS (
      SELECT doc_id, count(*) AS n_vals, CAST(sum((i * 37 + seed) % 256) AS BIGINT) AS sum_val,
             min((i * 37 + seed) % 256) AS min_val, max((i * 37 + seed) % 256) AS max_val
      FROM bmp_idx GROUP BY doc_id
    ),
    wav AS (
      SELECT doc_id, 16 + (doc_id % 16) * 4 AS n, doc_id % 251 AS seed
      FROM src WHERE doc_id % 2 = 1
    ),
    wav_idx AS (  -- stored uint16 u; its int16 reading is u - 65536 iff u >= 32768
      SELECT doc_id,
             (j * 73 + seed) % 65536
               - CASE WHEN (j * 73 + seed) % 65536 >= 32768 THEN 65536 ELSE 0 END AS v
      FROM (SELECT doc_id, seed, unnest(generate_series(0, n - 1)) AS j FROM wav)
    ),
    wav_stats AS (
      SELECT doc_id, count(*) AS n_vals, CAST(sum(v) AS BIGINT) AS sum_val,
             min(v) AS min_val, max(v) AS max_val
      FROM wav_idx GROUP BY doc_id
    )
    SELECT doc_id AS id, 'bmp' AS kind, n_vals, sum_val, min_val, max_val,
           CAST(sum_val AS DOUBLE) / n_vals AS mean_val
    FROM bmp_stats
    UNION ALL
    SELECT doc_id, 'wav', n_vals, sum_val, min_val, max_val,
           CAST(sum_val AS DOUBLE) / n_vals
    FROM wav_stats
    """,
    doc="REAL pixel/sample-level multimodal decode (no media libs needed for "
    "uncompressed formats): complete 24-bpp BMPs and PCM16 WAVs are "
    "synthesized with genuine pixel/sample data following an arithmetic "
    "pattern, then decode_pixel_samples parses the actual bytes — header "
    "offsets, row strides, signed little-endian samples — inside the "
    "Arrow-batched mapInPandas kernel and emits count/sum/min/max/mean.  The "
    "oracle regenerates the same values with generate_series, so a decoder "
    "bug (stride, offset, sign, endianness) cannot hash-match.  This retires "
    "kernel='fake' for the two formats pure Python can decode.",
)
def q_mm_pixel_stats(spark, sf_dir):
    from ..operators.multimodal import (
        pixel_sample_stats,
        synth_bmp_with_pixels,
        synth_wav_with_samples,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1500)
    d = F.col("doc_id")
    payload = F.when(
        d % 2 == 0,
        synth_bmp_with_pixels(F.lit(4) * (F.lit(1) + d % 4), F.lit(3) + d % 5, d % 251),
    ).otherwise(
        synth_wav_with_samples(F.lit(8000), F.lit(1), F.lit(16) + (d % 16) * 4, d % 251)
    )
    media = docs.select("doc_id", payload.alias("payload"))
    return pixel_sample_stats(media, "doc_id", "payload")


@register(
    "mm_resize_plan",
    sql="""
    WITH img AS (
      SELECT doc_id AS id,
             CAST(64 + doc_id % 512 AS INT) AS width,
             CAST(48 + doc_id % 384 AS INT) AS height
      FROM documents WHERE doc_id < 2000
    )
    SELECT id, width, height,
           CASE WHEN greatest(width, height) > 224
                THEN CAST(floor(width * 224 / greatest(width, height)) AS INT)
                ELSE width END AS new_width,
           CASE WHEN greatest(width, height) > 224
                THEN CAST(floor(height * 224 / greatest(width, height)) AS INT)
                ELSE height END AS new_height
    FROM img
    """,
    doc="Multimodal image resize: dimensions come from a REAL header decode "
    "(synthesized PNG bytes -> decode_media_meta parses IHDR), then the "
    "aspect-preserving fit into 224px is computed inside the mapInPandas "
    "batch a PIL kernel would occupy (operators/multimodal.resize_plan); "
    "the oracle derives the same dimensions arithmetically, so both the "
    "parser and the geometry are checked.",
)
def q_mm_resize_plan(spark, sf_dir):
    from ..operators.multimodal import decode_media_meta, resize_plan, synth_png

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    d = F.col("doc_id")
    img = docs.select(
        "doc_id", synth_png(F.lit(64) + d % 512, F.lit(48) + d % 384).alias("payload")
    )
    meta = decode_media_meta(img, "doc_id", "payload")
    return resize_plan(meta, "id", "width", "height", max_side=224)


@register(
    "mm_frame_sample",
    sql="""
    WITH vid AS (
      SELECT doc_id AS id,
             1 + doc_id % 30 AS duration_s,
             CASE WHEN doc_id % 2 = 0 THEN 30 ELSE 24 END AS fps
      FROM documents WHERE doc_id < 300
    ),
    f AS (
      SELECT id, fps, duration_s * fps AS n_frames,
             greatest(1, (duration_s * fps) // 8) AS stride,
             unnest(generate_series(0, 7)) AS i
      FROM vid
    )
    SELECT id, i * stride AS frame_idx,
           CAST(i * stride AS DOUBLE) / fps AS ts_s,
           sha256(CAST(id AS VARCHAR) || ':' || CAST(i * stride AS VARCHAR)) AS frame_sha
    FROM f WHERE i * stride < n_frames
    """,
    doc="Multimodal video frame sampling: <=8 evenly-strided frame indices "
    "per clip fanned out one-row-per-frame inside mapInPandas "
    "(operators/multimodal.sample_frames) — the ffmpeg select-filter analog; "
    "index arithmetic is exact, frame decode is a sha256 stand-in.",
)
def q_mm_frame_sample(spark, sf_dir):
    from ..operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    vid = docs.select(
        "doc_id",
        (F.lit(1) + F.col("doc_id") % 30).alias("duration_s"),
        F.when(F.col("doc_id") % 2 == 0, 30).otherwise(24).alias("fps"),
    )
    return sample_frames(vid, "doc_id", "duration_s", "fps", max_frames=8)


@register(
    "text_rolling_hash",
    sql="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 regexp_extract_all(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' '), '.'),
                 c -> CAST(ascii(c) AS BIGINT))),
             (acc, x) -> (acc * 1000003 + x) % 2147483647) AS rhash
    FROM documents WHERE doc_id < 2000
    """,
    doc="Rabin-Karp rolling hash of the normalized token stream "
    "(functions/text.rolling_hash): polynomial fold in int64, in-task, no "
    "shuffle — the incremental document fingerprint whose chunked form "
    "serves streaming dedup; bit-identical fold in both engines.",
)
def q_text_rolling_hash(spark, sf_dir):
    from ..functions.text import rolling_hash

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    return docs.select("doc_id", rolling_hash(F.col("text")).alias("rhash"))


# ---------------------------------------------------------------------------
# blocking-scheme quality: pair completeness x reduction ratio
# ---------------------------------------------------------------------------


@register(
    "link_blocking_quality",
    sql=f"""
    WITH {_minhash_ctes()},
    h AS (SELECT doc_id, sha256(text) AS h FROM documents),
    gold AS (
      SELECT coalesce(sum(k * (k - 1) // 2), 0) AS n_gold
      FROM (SELECT count(*) AS k FROM h GROUP BY h)
    ),
    cand AS (
      SELECT count(*) AS n_cand,
             coalesce(sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END), 0) AS n_cov
      FROM lsh_pairs p
      JOIN h ha ON p.doc_a = ha.doc_id
      JOIN h hb ON p.doc_b = hb.doc_id
    ),
    nd AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM documents)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n * (n - 1) // 2 AS BIGINT) AS total_pairs,
           CAST(n_gold AS BIGINT) AS n_gold_pairs,
           CAST(n_cand AS BIGINT) AS n_candidate_pairs,
           CAST(n_cov AS BIGINT) AS n_gold_covered,
           CAST(n_cov * 1000000 // nullif(n_gold, 0) AS BIGINT)
             AS pair_completeness_ppm,
           CAST((n * (n - 1) // 2 - n_cand) * 1000000
                // (n * (n - 1) // 2) AS BIGINT) AS reduction_ratio_ppm
    FROM gold CROSS JOIN cand CROSS JOIN nd
    """,
    doc="BLOCKING-SCHEME QUALITY REPORT (the two numbers every entity-"
    "resolution textbook grades a blocker on): PAIR COMPLETENESS — of the "
    "gold duplicate pairs (documents sharing a sha256, the same ground "
    "truth dedup_exact keys on), what fraction co-occurs in at least one "
    "minhash-LSH bucket — and REDUCTION RATIO — what fraction of the "
    "n*(n-1)/2 all-pairs space the blocker never generates.  Identical "
    "texts share every band key, so completeness only drops where the "
    "mega-bucket cap drops a bucket — the report makes that safety "
    "valve's recall cost VISIBLE instead of silent.  Shape: gold needs "
    "NO pair expansion (sum k*(k-1)/2 over hash groups); candidate pairs "
    "come from the capped in-bucket expansion (one shuffle); the "
    "coverage check joins pairs to the doc-hash frame twice (shuffle-"
    "hash, both sides id-keyed); three 1-row frames cross-join at the "
    "end.  The gate to run before swapping LSH parameters at 100 TB.",
)
def link_blocking_quality(spark, sf_dir):
    from ..functions.hashing import sha256_hex

    docs = _t(spark, sf_dir, "documents")
    # checkpointed: the gold-pair count, BOTH coverage join sides, and the
    # doc count all consume the (id, sha256) frame — un-materialized, each
    # re-ran the corpus sha256 pass (round-10 plan: 5 scans of documents,
    # 3 of them under sha256 projections; now 1 + the LSH pipeline's own)
    hashed = docs.select("doc_id", sha256_hex(F.col("text")).alias("h")).transform(materialize)
    gold = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(F.coalesce(F.sum(F.expr("k * (k - 1) div 2")), F.lit(0)).alias("n_gold"))
    )
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", bands=4, rows=4)
    ha = hashed.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("h", "ha")
    hb = hashed.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("h", "hb")
    cand = (
        pairs.join(ha.hint("shuffle_hash"), "doc_a")
        .join(hb.hint("shuffle_hash"), "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.coalesce(F.sum((F.col("ha") == F.col("hb")).cast("long")), F.lit(0)).alias(
                "n_cov"
            ),
        )
    )
    # hashed is 1:1 with docs, so the doc count reads the checkpointed
    # frame instead of re-scanning the corpus
    nd = hashed.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    out = gold.crossJoin(cand).crossJoin(nd)
    total = "CAST(n * (n - 1) div 2 AS BIGINT)"
    return out.select(
        F.col("n").cast("long").alias("n_docs"),
        F.expr(total).alias("total_pairs"),
        F.col("n_gold").cast("long").alias("n_gold_pairs"),
        F.col("n_cand").cast("long").alias("n_candidate_pairs"),
        F.col("n_cov").cast("long").alias("n_gold_covered"),
        F.expr("CAST(n_cov * 1000000 div nullif(n_gold, 0) AS BIGINT)").alias(
            "pair_completeness_ppm"
        ),
        F.expr(f"CAST(({total} - n_cand) * 1000000 div {total} AS BIGINT)").alias(
            "reduction_ratio_ppm"
        ),
    )
