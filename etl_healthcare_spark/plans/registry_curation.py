"""Registry batch: training-data curation operators (north star per
BASELINE.json, beyond the reference's surface) — duplicate-cluster
connected components, deterministic hash sampling / splits, corpus-relative
rare-token quality, and int8 embedding quantization.

Determinism conventions per plans/registry.py: sha256-only randomness,
integer-exact or fixed-parse-tree IEEE double arithmetic, hex-string
comparisons instead of hex→int casts (lexicographic == numeric at fixed
width), recursive min-label CTE as the DuckDB twin of the iterative
connected-components join loop.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datasets import load_table
from ..operators.dedup import connected_components, minhash_lsh_pairs
from ..operators.quantize import int8_quantize
from ..operators.sampling import hash_fraction_hex, hash_split, stratified_sample
from ..operators.textops import rare_token_ratio
from .registry import register
from .registry_llm import _minhash_oracle
from ..functions.materialize import materialize


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# duplicate clusters = connected components over LSH candidate pairs
# ---------------------------------------------------------------------------


@register(
    "dedup_cc_clusters",
    sql=f"""
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
    )
    SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
    """,
    doc="Whole duplicate clusters from minhash-LSH pairs: iterative min-label "
    "propagation (one shuffle join per round, rounds = cluster diameter); "
    "oracle = recursive min-reachable-id CTE over the identical pair SQL.",
)
def dedup_cc_clusters(spark, sf_dir):
    pairs = minhash_lsh_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", bands=4, rows=4)
    return connected_components(pairs, "doc_a", "doc_b")


# ---------------------------------------------------------------------------
# deterministic sampling / splits
# ---------------------------------------------------------------------------

_RATES = {"en": 0.5, "zh": 0.25}
_DEFAULT_RATE = 0.125
_SALT = "strat1"


def _bucket_sql(salt: str) -> str:
    return f"substr(sha256('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 8)"


@register(
    "sample_stratified",
    sql=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_bucket_sql(_SALT)} <
      CASE lang WHEN 'en' THEN '{hash_fraction_hex(0.5)}'
                WHEN 'zh' THEN '{hash_fraction_hex(0.25)}'
                ELSE '{hash_fraction_hex(_DEFAULT_RATE)}' END
    """,
    doc="Per-language hash sampling (en 50%, zh 25%, rest 12.5%): pure "
    "projection+filter, no shuffle, reproducible across runs/engines/cluster "
    "sizes because the keep decision is sha256(salt, id), never rand().",
)
def sample_stratified(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "doc_id", "lang", _RATES, _DEFAULT_RATE, _SALT).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "sample_hash_split",
    sql=f"""
    WITH s AS (
      SELECT lang,
        CASE WHEN {_bucket_sql("split1")} < '{hash_fraction_hex(0.98)}' THEN 'train'
             WHEN {_bucket_sql("split1")} < '{hash_fraction_hex(0.99)}' THEN 'val'
             ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, count(*) AS n_docs
    FROM s GROUP BY lang, split
    """,
    doc="Deterministic 98/1/1 train/val/test assignment by hash bucket; a "
    "doc's split never changes as the corpus grows (no train/test leakage "
    "across incremental curation runs).",
)
def sample_hash_split(spark, sf_dir):
    docs = hash_split(_t(spark, sf_dir, "documents"), "doc_id", "split1", train=0.98, val=0.01)
    return docs.groupBy("lang", "split").agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# corpus-relative quality: rare-token share
# ---------------------------------------------------------------------------


@register(
    "text_rare_tokens",
    sql="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    dfreq AS (
      SELECT tok FROM (SELECT tok, count(DISTINCT doc_id) AS df_count
                       FROM toks GROUP BY tok)
      WHERE df_count <= 2
    ),
    per_doc AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
    rare AS (
      SELECT t.doc_id, count(*) AS n_rare FROM toks t JOIN dfreq d USING (tok)
      GROUP BY t.doc_id
    )
    SELECT p.doc_id, p.n_tokens, coalesce(r.n_rare, 0) AS n_rare,
           (1000000 * coalesce(r.n_rare, 0)) // p.n_tokens AS rare_ppm
    FROM per_doc p LEFT JOIN rare r ON p.doc_id = r.doc_id
    """,
    doc="Per-doc share of token occurrences with corpus document-frequency "
    "<= 2 — the integer-exact stand-in for a perplexity quality filter.  Two "
    "token-keyed aggregations (both partial-aggregated) + one join; rare_ppm "
    "is exact integer math.",
)
def text_rare_tokens(spark, sf_dir):
    return rare_token_ratio(_t(spark, sf_dir, "documents"), "text", "doc_id", max_doc_freq=2)


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------


@register(
    "sim_int8_quant",
    sql="""
    WITH raw AS (
      SELECT vec_id, unnest(embedding) AS xf,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    ex AS (SELECT vec_id, pos, CAST(xf AS DOUBLE) AS x FROM raw),
    stats AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
    q AS (
      SELECT e.vec_id, e.pos,
        CASE WHEN s.mx = s.mn THEN 0
             ELSE least(CAST(floor((e.x - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT), 255)
        END AS q
      FROM ex e JOIN stats s ON e.pos = s.pos
    )
    SELECT vec_id, count(*) AS n_dims,
           string_agg(CAST(q AS VARCHAR), ',' ORDER BY pos) AS code
    FROM q GROUP BY vec_id
    """,
    doc="Scalar int8 quantization of the embedding corpus: per-dimension "
    "min/max (one tiny ndims-group aggregation, broadcast back) then a "
    "fixed-parse-tree IEEE quantize — 4x memory cut in front of IVF/LSH "
    "search, bit-identical across engines.",
)
def sim_int8_quant(spark, sf_dir):
    return int8_quantize(_t(spark, sf_dir, "embeddings"), "embedding", "vec_id")


# ---------------------------------------------------------------------------
# final dedup decision + benchmark decontamination
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_list",
    sql=f"""
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
    cl AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
           coalesce(cl.cluster_id, d.doc_id) = d.doc_id AS kept
    FROM documents d LEFT JOIN cl ON d.doc_id = cl.node
    """,
    doc="End-to-end corpus dedup decision: every doc labeled with its LSH "
    "duplicate cluster and kept = (doc is the min-id keeper); singletons "
    "keep themselves.  Cluster map is broadcast-sized at low dup rates.",
)
def dedup_keep_list_q(spark, sf_dir):
    from ..operators.dedup import dedup_keep_list

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", bands=4, rows=4)
    return dedup_keep_list(docs, "doc_id", connected_components(pairs, "doc_a", "doc_b"))


def _contam_shingle_cte(k: int = 5) -> str:
    expr = " || ' ' || ".join(f"t[j+{i}]" for i in range(k)).replace("t[j+0]", "t[j]")
    return f"""
    tok AS (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
            FROM documents),
    idx AS (SELECT doc_id, source, t,
                   unnest(generate_series(1, greatest(len(t) - {k - 1}, 0))) AS j
            FROM tok WHERE len(t) >= {k}),
    sh AS (SELECT DISTINCT doc_id, source, {expr} AS s FROM idx)
    """


@register(
    "decontam_ngram",
    sql=f"""
    WITH {_contam_shingle_cte(5)},
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
    corpus AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
    total AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
    hits AS (SELECT c.doc_id, count(*) AS n_hits
             FROM corpus c JOIN eval_sh e USING (s) GROUP BY c.doc_id)
    SELECT t.doc_id, t.n_shingles, coalesce(h.n_hits, 0) AS n_hits,
           (1000000 * coalesce(h.n_hits, 0)) // t.n_shingles AS contam_ppm
    FROM total t LEFT JOIN hits h USING (doc_id)
    """,
    doc="Benchmark decontamination (source='src0' plays the eval set): per "
    "corpus doc, the share of its distinct 5-gram shingles found anywhere in "
    "the benchmark.  Eval shingles broadcast (benchmarks are MBs vs corpus "
    "TBs); exact integer ppm.",
)
def decontam_ngram(spark, sf_dir):
    from ..operators.dedup import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    return ngram_contamination(
        docs.where(F.col("source") != "src0"), docs.where(F.col("source") == "src0"),
        "text", "doc_id", k=5,
    )


# ---------------------------------------------------------------------------
# sequence packing, normalization, corpus dashboard
# ---------------------------------------------------------------------------


@register(
    "pack_sequences",
    sql="""
    WITH t AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             // 2048 AS seq_bin
    FROM t
    """,
    doc="Sequence packing: contiguous 2048-token context-window bins per "
    "language in deterministic doc_id order — one window cumsum; packing is "
    "independent across window partitions, so it parallelizes by lang/"
    "source/date-bucket at scale.",
)
def pack_sequences_q(spark, sf_dir):
    from ..operators.textops import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), "text", "doc_id", "lang", budget=2048)


@register(
    "text_normalize",
    sql="""
    WITH c AS (
      SELECT doc_id, text,
             trim(regexp_replace(regexp_replace(text, '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                                 '\\s+', ' ', 'g')) AS cleaned
      FROM documents
    )
    SELECT doc_id, length(text) AS n_chars, length(cleaned) AS clean_chars,
           cleaned <> text AS changed, sha256(cleaned) AS clean_hash
    FROM c
    """,
    doc="Canonical text cleanup (strip control chars -> collapse whitespace "
    "-> trim) ahead of shingling/hashing; map-only JVM regex, re-hashed so "
    "exact dedup keys on the canonical form.  Control chars are stripped "
    "FIRST so the engines' \\s dialect gap (\\x0b) never matters.",
)
def text_normalize_q(spark, sf_dir):
    from ..operators.textops import normalize_text

    return normalize_text(_t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "corpus_stats",
    sql="""
    WITH base AS (
      SELECT doc_id, lang, source,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
             sha256(text) AS h
      FROM documents
    ),
    core AS (
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             count(DISTINCT source) AS n_sources
      FROM base GROUP BY lang
    ),
    dups AS (
      SELECT lang, CAST(sum(c - 1) AS BIGINT) AS n_dup_docs FROM (
        SELECT lang, h, count(*) AS c FROM base GROUP BY lang, h
      ) WHERE c > 1 GROUP BY lang
    ),
    vocab AS (
      SELECT lang, count(*) AS vocab_size FROM (
        SELECT DISTINCT lang,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
      ) GROUP BY lang
    )
    SELECT c.lang, c.n_docs, c.total_tokens, c.n_sources,
           coalesce(d.n_dup_docs, 0) AS n_dup_docs, v.vocab_size
    FROM core c LEFT JOIN dups d USING (lang) LEFT JOIN vocab v USING (lang)
    """,
    doc="Per-language corpus dashboard: doc count, token mass, source "
    "spread, exact-dup count, vocab size.  All partial-aggregable; vocab is "
    "a two-level agg (distinct (lang, token) first) to avoid Expand.",
)
def corpus_stats_q(spark, sf_dir):
    from ..operators.textops import corpus_stats

    return corpus_stats(_t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# scored minhash pairs (Jaccard estimate from signature agreement)
# ---------------------------------------------------------------------------


def _minhash_scored_oracle(bands: int = 4, rows: int = 4) -> str:
    from .registry_llm import _minhash_ctes

    n = bands * rows
    match_expr = " + ".join(f"CASE WHEN x.mh{i} = y.mh{i} THEN 1 ELSE 0 END" for i in range(n))
    return f"""
    WITH {_minhash_ctes(bands, rows)}
    SELECT doc_a, doc_b, n_match, (1000000 * n_match) // {n} AS est_jaccard_ppm
    FROM (
      SELECT p.doc_a, p.doc_b, {match_expr} AS n_match
      FROM lsh_pairs p
      JOIN mh x ON p.doc_a = x.doc_id
      JOIN mh y ON p.doc_b = y.doc_id
    )
    """


@register(
    "dedup_minhash_scored",
    sql=_minhash_scored_oracle(),
    doc="LSH candidate pairs with their minhash Jaccard estimate (agreeing "
    "signature slots / n, exact integer ppm) — the cheap verification score "
    "before full-shingle Jaccard.  Signatures materialize once and are "
    "reused for band keys and both sides of the scoring join.",
)
def dedup_minhash_scored(spark, sf_dir):
    from ..operators.dedup import minhash_scored_pairs

    return minhash_scored_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", bands=4, rows=4)


@register(
    "sim_l2_normalize",
    sql="""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_reduce(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
      FROM embeddings
    )
    SELECT vec_id, len(embedding) AS n_dims,
           array_to_string(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) / nrm * 1000000.0) AS BIGINT)), ',')
             AS unit_ppm_code
    FROM n
    """,
    doc="L2 unit-normalization of the embedding corpus (cosine -> dot "
    "product downstream): map-only, zero shuffle.  Sum-of-squares is a "
    "deterministic left fold in array order, so the engines agree bit-for-"
    "bit; output quantized to ppm ints for the hash compare.",
)
def sim_l2_normalize(spark, sf_dir):
    from ..operators.quantize import l2_normalize

    return l2_normalize(_t(spark, sf_dir, "embeddings"), "embedding", "vec_id")


@register(
    "text_token_topk",
    sql="""
    SELECT tok, count(*) AS n FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    )
    GROUP BY tok ORDER BY n DESC, tok LIMIT 20
    """,
    doc="Corpus Zipf head: top-20 tokens by occurrence — explode + one "
    "partial-aggregated shuffle on the token + TakeOrderedAndProject (never "
    "a global sort).  Total tiebreak (count desc, token asc) keeps the "
    "LIMIT deterministic.",
)
def text_token_topk(spark, sf_dir):
    from ..functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# within-doc repetition, cross-doc span overlap, quality gate, source capping
# ---------------------------------------------------------------------------


@register(
    "text_repetition",
    sql="""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    tri AS (
      SELECT doc_id, t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS s
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS j
            FROM tok WHERE len(t) >= 3)
    ),
    base AS (
      SELECT k.doc_id,
             coalesce(x.n3, 0) AS n_trigrams,
             coalesce(x.n3 - x.d3, 0) AS n_dup_tri
      FROM tok k LEFT JOIN (
        SELECT doc_id, count(*) AS n3, count(DISTINCT s) AS d3
        FROM tri GROUP BY doc_id
      ) x USING (doc_id)
    ),
    bg AS (
      SELECT doc_id, t[j] || ' ' || t[j+1] AS s
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 1, 0))) AS j
            FROM tok WHERE len(t) >= 2)
    ),
    top2 AS (
      SELECT doc_id, max(c) AS top_bigram_n, CAST(sum(c) AS BIGINT) AS n_bigrams
      FROM (SELECT doc_id, s, count(*) AS c FROM bg GROUP BY doc_id, s)
      GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_trigrams, b.n_dup_tri,
           (1000000 * b.n_dup_tri) // greatest(b.n_trigrams, 1) AS dup3_ppm,
           coalesce(t2.top_bigram_n, 0) AS top_bigram_n,
           coalesce(t2.n_bigrams, 0) AS n_bigrams,
           coalesce((1000000 * t2.top_bigram_n) // t2.n_bigrams, 0) AS top2_ppm
    FROM base b LEFT JOIN top2 t2 USING (doc_id)
    """,
    doc="Gopher-style repetition signals: duplicate-trigram share (pure "
    "in-task array math, zero shuffle) + top-bigram share (two partial-"
    "aggregated doc-keyed aggs); exact integer ppm "
    "(operators/textops.py:repetition_stats).",
)
def text_repetition(spark, sf_dir):
    from ..operators.textops import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "dedup_span_overlap",
    sql="""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    spans AS (
      SELECT DISTINCT doc_id,
        ('0x' || substr(sha256(t[j] || ' ' || t[j+1] || ' ' || t[j+2] || ' ' || t[j+3]
                      || ' ' || t[j+4]), 1, 12))::BIGINT AS h
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 4, 0))) AS j
            FROM tok WHERE len(t) >= 5)
    ),
    shared AS (
      SELECT h FROM (SELECT h, count(*) AS df_count FROM spans GROUP BY h)
      WHERE df_count >= 2
    ),
    per_doc AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id),
    hits AS (
      SELECT s.doc_id, count(*) AS n_shared
      FROM spans s JOIN shared USING (h) GROUP BY s.doc_id
    )
    SELECT p.doc_id, p.n_spans, coalesce(x.n_shared, 0) AS n_shared,
           (1000000 * coalesce(x.n_shared, 0)) // p.n_spans AS shared_ppm
    FROM per_doc p LEFT JOIN hits x USING (doc_id)
    """,
    doc="Cross-document repeated-span share: per doc, the fraction of its "
    "distinct 5-gram spans occurring in >= 2 docs — the sub-document dedup "
    "signal whole-doc minhash misses.  Distinct (doc, span-hash) pairs only; "
    "span-frequency table partial-aggregated, rejoined as a LEFT SEMI "
    "(operators/textops.py:span_overlap).",
)
def dedup_span_overlap(spark, sf_dir):
    from ..operators.textops import span_overlap

    return span_overlap(_t(spark, sf_dir, "documents"), "text", "doc_id", k=5)


@register(
    "text_quality_gate",
    sql="""
    WITH m AS (
      SELECT doc_id,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        x -> length(x) > 0)) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
      CASE WHEN n_tokens < 20 THEN 'too_short'
           WHEN n_chars > 100000 THEN 'too_long'
           WHEN (n_alpha + n_digit) < 2 * n_tokens
             OR (n_alpha + n_digit) > 12 * n_tokens THEN 'mean_word_len'
           WHEN 10 * n_alpha < 6 * n_chars THEN 'low_alpha'
      END AS reject_reason,
      CASE WHEN n_tokens < 20 THEN 'too_short'
           WHEN n_chars > 100000 THEN 'too_long'
           WHEN (n_alpha + n_digit) < 2 * n_tokens
             OR (n_alpha + n_digit) > 12 * n_tokens THEN 'mean_word_len'
           WHEN 10 * n_alpha < 6 * n_chars THEN 'low_alpha'
      END IS NULL AS kept
    FROM m
    """,
    doc="First-failing-rule quality gate (Gopher-ish): too_short -> too_long "
    "-> mean_word_len in [2,12] -> low_alpha, all integer cross-multiplies "
    "over exact char-class counts — map-only, bit-identical across engines "
    "(operators/textops.py:quality_gate).",
)
def text_quality_gate(spark, sf_dir):
    from ..operators.textops import quality_gate

    return quality_gate(_t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "sample_source_cap",
    sql="""
    WITH cnt AS (SELECT source, count(*) AS src_n FROM documents GROUP BY source)
    SELECT doc_id, source,
      (src_n <= 15) OR
      (substr(sha256('cap1:' || CAST(doc_id AS VARCHAR)), 1, 8)
         < printf('%08x', (15 * 4294967296) // src_n)) AS kept
    FROM documents JOIN cnt USING (source)
    """,
    doc="Domain rebalancing: cap every source at ~15 docs by hash-"
    "downsampling over-represented sources (rate = cap/count), computed at "
    "runtime from a tiny broadcast count table; keep decision is a pure "
    "function of (salt, doc_id, counts) — reproducible across engines and "
    "cluster sizes (operators/sampling.py:source_cap).",
)
def sample_source_cap(spark, sf_dir):
    from ..operators.sampling import source_cap

    return source_cap(_t(spark, sf_dir, "documents"), "doc_id", "source", cap=15, salt="cap1")


def _temperature_sql():
    from ..operators.sampling import temperature_oracle_sql

    return temperature_oracle_sql("doc_id", "lang", salt="temp1")


@register(
    "sample_temperature",
    sql=_temperature_sql(),
    doc="Temperature-balanced language mixture at T=2: keep rate "
    "sqrt(n_min/n_lang) per language, so expected kept counts are the "
    "geometric mean sqrt(n_min*n_lang) — the exponentiated-sampling recipe "
    "multilingual training uses, downsampling-only.  T=2 keeps every "
    "double op a correctly-rounded sqrt/divide (identical association "
    "order in the oracle), thresholds compare as fixed-width hex against "
    "the sha256 bucket; one tiny broadcast count table over a map-only "
    "keep decision (operators/sampling.py:temperature_sample).",
)
def sample_temperature(spark, sf_dir):
    from ..operators.sampling import temperature_sample

    return temperature_sample(_t(spark, sf_dir, "documents"), "doc_id", "lang", salt="temp1")


# ---------------------------------------------------------------------------
# the composed curation pipeline (flagship: the operators chained end-to-end)
# ---------------------------------------------------------------------------


def _funnel_oracle() -> str:
    from .registry_llm import _minhash_ctes

    shingle5 = "t[j] || ' ' || t[j+1] || ' ' || t[j+2] || ' ' || t[j+3] || ' ' || t[j+4]"
    return f"""
    WITH RECURSIVE
    corpus AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
    qm AS (
      SELECT doc_id, text,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        x -> length(x) > 0)) AS n_tokens
      FROM corpus
    ),
    q AS (
      SELECT doc_id, text FROM qm
      WHERE NOT (n_tokens < 20 OR n_chars > 100000
                 OR (n_alpha + n_digit) < 2 * n_tokens
                 OR (n_alpha + n_digit) > 12 * n_tokens
                 OR 10 * n_alpha < 6 * n_chars)
    ),
    exk AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY sha256(text)),
    ex_surv AS (SELECT q.doc_id, q.text FROM q
                WHERE q.doc_id IN (SELECT doc_id FROM exk)),
    {_minhash_ctes(src="ex_surv")},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
              UNION SELECT doc_b, doc_a FROM lsh_pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.b AS node, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    cl AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
    nd_surv AS (
      SELECT s.doc_id, s.text FROM ex_surv s LEFT JOIN cl ON s.doc_id = cl.node
      WHERE coalesce(cl.cluster_id, s.doc_id) = s.doc_id
    ),
    ev_tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
               FROM documents WHERE source = 'src0'),
    ev_idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS j
               FROM ev_tok WHERE len(t) >= 5),
    ev_sh AS (SELECT DISTINCT {shingle5} AS s FROM ev_idx),
    c_tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM nd_surv),
    c_idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS j
              FROM c_tok WHERE len(t) >= 5),
    c_sh AS (SELECT DISTINCT doc_id, {shingle5} AS s FROM c_idx),
    tot AS (SELECT doc_id, count(*) AS n_sh FROM c_sh GROUP BY doc_id),
    hits AS (SELECT c.doc_id, count(*) AS n_hits
             FROM c_sh c JOIN ev_sh e USING (s) GROUP BY c.doc_id),
    final AS (
      SELECT s.doc_id FROM nd_surv s
      LEFT JOIN tot ON s.doc_id = tot.doc_id
      LEFT JOIN hits ON s.doc_id = hits.doc_id
      WHERE tot.doc_id IS NULL
         OR (1000000 * coalesce(hits.n_hits, 0)) // tot.n_sh < 500000
    )
    SELECT 1 AS stage_ord, 'raw' AS stage, (SELECT count(*) FROM documents) AS n_docs
    UNION ALL SELECT 2, 'eval_holdout', (SELECT count(*) FROM corpus)
    UNION ALL SELECT 3, 'quality', (SELECT count(*) FROM q)
    UNION ALL SELECT 4, 'exact_dedup', (SELECT count(*) FROM ex_surv)
    UNION ALL SELECT 5, 'near_dedup', (SELECT count(*) FROM nd_surv)
    UNION ALL SELECT 6, 'decontam', (SELECT count(*) FROM final)
    """


@register(
    "curation_e2e",
    sql=_funnel_oracle(),
    doc="The composed curation pipeline, end-to-end: eval holdout (src0) -> "
    "quality gate -> exact dedup (min-id keeper per sha256) -> minhash-LSH "
    "near-dup keep-list (connected components over candidate pairs of the "
    "SURVIVING set) -> 5-gram benchmark decontamination (>=50% contaminated "
    "shingles dropped).  Returns the attrition funnel (stage, n_docs).  The "
    "quality gate is a row-wise predicate (textops.quality_reason IS NULL) "
    "on the documents scan; the near-dup stage drops the non-keeper cluster "
    "members with one anti-join.  Survivor frames are eagerly materialized "
    "once per stage and every count but the last rides a materialization "
    "as an Observation (raw and eval_holdout on the scan that feeds the "
    "quality stage); the output is one count over the decontaminated "
    "frame, exploded into the six funnel rows.",
)
def curation_e2e(spark, sf_dir):
    from pyspark.sql import Observation

    from ..operators.dedup import ngram_contamination
    from ..operators.textops import quality_reason

    docs = _t(spark, sf_dir, "documents")
    is_eval = F.col("source") == "src0"
    eval_df = docs.where(is_eval)
    # EAGER materialization of every survivor frame: each feeds concurrent
    # leaf stages of a later action (the exact-dedup key derivation beside
    # the survivor semi-join, contam's tokenize pass beside the decontam
    # anti-join), the SCALE.md §50 race class.  Eager gives each frame one
    # single-consumer materialization job, which also makes the riding
    # Observations exactly-once (a raced recompute would double-count).
    n_of = F.count(F.lit(1)).alias("n")
    obs_in, obs_q, obs_ex, obs_nd = Observation(), Observation(), Observation(), Observation()
    q = (
        docs.observe(obs_in, n_of, F.count(F.when(~is_eval, 1)).alias("corpus"))
        .where(~is_eval & quality_reason(F.col("text")).isNull())
        .observe(obs_q, n_of)
        .transform(materialize)
    )
    exk = (
        q.groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    ex_surv = q.join(exk, "doc_id", "left_semi").observe(obs_ex, n_of).transform(materialize)
    clusters = connected_components(minhash_lsh_pairs(ex_surv, "text", "doc_id", bands=4, rows=4))
    # a cluster keeps its min id: drop the members labelled with another id
    dropped = clusters.where(F.col("node") != F.col("cluster_id")).select(F.col("node").alias("doc_id"))
    nd_surv = ex_surv.join(dropped, "doc_id", "left_anti").observe(obs_nd, n_of).transform(materialize)
    contam = ngram_contamination(nd_surv, eval_df, "text", "doc_id", k=5)
    final = nd_surv.join(
        contam.where(F.col("contam_ppm") >= 500000).select("doc_id"), "doc_id", "left_anti"
    )
    counts = [
        ("raw", F.lit(obs_in.get["n"])),
        ("eval_holdout", F.lit(obs_in.get["corpus"])),
        ("quality", F.lit(obs_q.get["n"])),
        ("exact_dedup", F.lit(obs_ex.get["n"])),
        ("near_dedup", F.lit(obs_nd.get["n"])),
        ("decontam", F.col("n")),
    ]
    return final.agg(n_of).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("stage_ord"), F.lit(name).alias("stage"), n.cast("long").alias("n_docs")
                    )
                    for i, (name, n) in enumerate(counts, 1)
                ]
            )
        )
    )


@register(
    "sim_knn_join",
    sql="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 20),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
        sqrt(list_reduce(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, neighbor_id,
        list_reduce(list_transform(generate_series(1, len(qv)),
              i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)),
            (x, y) -> x + y) / nrm AS score
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, n_rank
    FROM (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id) AS n_rank
          FROM scored)
    WHERE n_rank <= 3
    """,
    doc="Exact k-NN join (top-3 cosine neighbors for every query vector, "
    "vec_id < 20 as the query batch): query side broadcast, in-task "
    "BroadcastNestedLoopJoin pairing, one window on query_id — bit-exact "
    "left-fold dot product makes the rank tiebreak deterministic across "
    "engines (operators/similarity.py:knn_join).",
)
def sim_knn_join(spark, sf_dir):
    from ..operators.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    return knn_join(emb.where(F.col("vec_id") < 20), emb, "embedding", "vec_id", k=3)


# ---------------------------------------------------------------------------
# PII redaction / sentence-level dedup / URL decomposition (curation breadth)
# ---------------------------------------------------------------------------


@register(
    "text_pii_redact",
    sql=r"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' at 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) AS t
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                              '[EMAIL]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
             '\+\d[\d-]{7,}\d', '[PHONE]', 'g') AS redacted,
           len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
             AS n_email,
           len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
           len(regexp_extract_all(t, '\+\d[\d-]{7,}\d')) AS n_phone
    FROM seeded
    """,
    doc="PII redaction (curation gate): e-mail / IPv4 / phone patterns "
    "replaced by typed placeholders with exact per-kind match counts — "
    "deterministic PII is seeded per document so the redactor provably "
    "fires; patterns restricted to the Java-regex/RE2 common subset; "
    "map-only, no shuffle (operators/textops.redact_pii).",
)
def q_text_pii_redact(spark, sf_dir):
    from ..operators.textops import redact_pii

    d = F.col("doc_id")
    seeded = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), d.cast("string"), F.lit("@example.com or +1-555-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
            F.lit(" at 10.0."), (d % 256).cast("string"), F.lit("."), (d % 100).cast("string"),
        ).alias("t"),
    )
    return redact_pii(seeded, "t", "doc_id")


@register(
    "dedup_sentence_level",
    sql=r"""
    WITH seeded AS (
      SELECT doc_id,
             substr(text, 1, 40) || '. '
               || CASE WHEN doc_id % 3 = 0
                       THEN 'this boilerplate sentence appears in many documents. '
                       ELSE '' END
               || 'unique sentence identifier ' || doc_id || ' end' AS t
      FROM documents
    ),
    sent AS (
      SELECT DISTINCT doc_id AS doc, sha256(trim(s)) AS h
      FROM seeded, unnest(string_split_regex(t, '\.\s+')) AS u(s)
      WHERE len(trim(s)) >= 20
    ),
    freq AS (SELECT h, count(DISTINCT doc) AS ndocs FROM sent GROUP BY 1)
    SELECT doc, count(*) AS n_sentences,
           CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_duped,
           CAST((1000000 * sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS dup_ppm
    FROM sent JOIN freq USING (h)
    GROUP BY 1
    """,
    doc="Cross-document sentence-level dedup stats (the CCNet/Gopher "
    "boilerplate signal): sentences hashed corpus-wide, per-document duped "
    "fraction as exact ppm.  A boilerplate sentence is planted in every "
    "third document so the signal is non-vacuous; two shuffles total "
    "(hash-frequency groupBy + per-doc rollup) at any corpus size "
    "(operators/textops.sentence_dup_stats).",
)
def q_dedup_sentence_level(spark, sf_dir):
    from ..operators.textops import sentence_dup_stats

    d = F.col("doc_id")
    seeded = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 40), F.lit(". "),
            F.when(d % 3 == 0, F.lit("this boilerplate sentence appears in many documents. "))
            .otherwise(F.lit("")),
            F.lit("unique sentence identifier "), d.cast("string"), F.lit(" end"),
        ).alias("t"),
    )
    return sentence_dup_stats(seeded, "t", "doc_id")


@register(
    "text_url_extract",
    sql="""
    WITH seeded AS (
      SELECT doc_id,
             'https://' || source || '.news.example.com/articles/' || doc_id
               || '?ref=feed' AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
           regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                          '([^.]+\\.[^.]+)$', 1) AS domain
    FROM seeded
    """,
    doc="URL decomposition for per-domain curation (caps, blocklists, "
    "domain dedup keys): scheme/host/path/registrable-domain via "
    "regexp_extract in the Java/RE2 common subset — map-only "
    "(operators/textops.url_parts).",
)
def q_text_url_extract(spark, sf_dir):
    from ..operators.textops import url_parts

    seeded = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".news.example.com/articles/"),
            F.col("doc_id").cast("string"), F.lit("?ref=feed"),
        ).alias("url"),
    )
    return url_parts(seeded, "url", "doc_id")


@register(
    "text_line_dedup",
    sql=r"""
    WITH seeded AS (
      SELECT doc_id,
             substr(text, 1, 40)
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || 'this boilerplate line appears in many documents'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN chr(10) || 'subscribe to our newsletter for updates today'
                       ELSE '' END
               || chr(10) || 'unique line ' || doc_id AS t
      FROM documents
    ),
    lines AS (
      SELECT doc_id, u.s.pos AS pos, u.s.line AS line,
             sha256(trim(u.s.line)) AS h,
             length(trim(u.s.line)) >= 10 AS eligible
      FROM seeded,
           unnest(list_transform(string_split(t, chr(10)),
                  (x, i) -> struct_pack(pos := i, line := x))) AS u(s)
    ),
    dup AS (
      SELECT h FROM (
        SELECT h, count(DISTINCT doc_id) AS nd FROM lines WHERE eligible GROUP BY 1
      ) WHERE nd > 1
    ),
    flagged AS (
      SELECT l.*, (d.h IS NULL OR NOT l.eligible) AS keep
      FROM lines l LEFT JOIN dup d USING (h)
    )
    SELECT doc_id,
           coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), '')
             AS clean_text,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped
    FROM flagged
    GROUP BY 1
    """,
    doc="Corpus-level duplicate-LINE removal that REWRITES documents — the "
    "CCNet dedup pass (Wenzek et al. 1911.00359 §3.1), where "
    "dedup_sentence_level only measures: lines hashed corpus-wide, eligible "
    "lines (trimmed length >= 10) appearing in >= 2 documents stripped, "
    "survivors reassembled in order.  Two boilerplate lines are planted "
    "(every 3rd / every 5th doc) so the rewrite is non-vacuous.  Scale: the "
    "drop-list is filtered to frequency > 1 INSIDE the aggregation, so it "
    "is boilerplate-sized and broadcasts; two line-grain shuffles total "
    "(operators/textops.line_dedup_clean).",
)
def q_text_line_dedup(spark, sf_dir):
    from ..operators.textops import line_dedup_clean

    d = F.col("doc_id")
    nl = F.lit("\n")
    seeded = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 40),
            F.when(
                d % 3 == 0,
                F.concat(nl, F.lit("this boilerplate line appears in many documents")),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.concat(nl, F.lit("subscribe to our newsletter for updates today")),
            ).otherwise(F.lit("")),
            nl, F.lit("unique line "), d.cast("string"),
        ).alias("t"),
    )
    return line_dedup_clean(seeded, "t", "doc_id")


@register(
    "sample_shard_export",
    sql="""
    WITH base AS (
      SELECT doc_id AS id,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
             sha256('shardsalt:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    sharded AS (
      SELECT id, n_tokens, h,
             ('0x' || substr(h, 1, 15))::BIGINT % 16 AS shard
      FROM base
    )
    SELECT shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, id) - 1 AS BIGINT)
             AS pos,
           id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
                  PARTITION BY shard ORDER BY h, id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS token_offset
    FROM sharded
    """,
    doc="Dataloader-shard export manifest: shard = sha256(salt:id) mod 16, "
    "in-shard position = hash order, cumulative token offset for resumable "
    "streaming.  Byte-identical across re-runs/engines/cluster sizes (no "
    "rand(), no global sort — a global row_number would single-partition "
    "bottleneck at 100 TB; the only shuffle is the per-shard window, and "
    "n_shards grows with the corpus) "
    "(operators/sampling.shard_export).",
)
def q_sample_shard_export(spark, sf_dir):
    from ..functions.text import tokens as _tok
    from ..operators.sampling import shard_export

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(_tok(F.col("text"))).alias("ntok")
    )
    return shard_export(docs, "doc_id", "ntok", n_shards=16, salt="shardsalt")


@register(
    "dedup_url_canonical",
    sql=r"""
    WITH seeded AS (
      SELECT doc_id,
        CASE doc_id % 3
          WHEN 0 THEN 'https://www.shop.example.com:443/items/' || (doc_id // 6)
                        || '/?utm_source=a&ref=x'
          WHEN 1 THEN 'HTTPS://Shop.Example.Com/items/' || (doc_id // 6)
                        || '?fbclid=zzz'
          ELSE 'https://shop.example.com/items/' || (doc_id // 6)
                 || '/other?page=2&utm_medium=m'
        END AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id AS id, url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_replace(regexp_replace(
          lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
          ':(80|443)$', ''), '^www\.', '') AS host,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
        regexp_extract(url, '\?([^#]*)', 1) AS query
      FROM seeded
    ),
    canon AS (
      SELECT id, url,
        scheme || '://' || host
          || CASE WHEN length(path) > 1 THEN regexp_replace(path, '/$', '')
                  ELSE path END
          || CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
                  ELSE '' END AS canonical_url
      FROM (
        SELECT *, list_filter(string_split(query, '&'),
                 p -> length(p) > 0
                      AND NOT regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)(=|$)'))
               AS kept
        FROM parsed
      )
    ),
    hashed AS (
      SELECT id, url, canonical_url, sha256(canonical_url) AS canonical_hash
      FROM canon
    ),
    g AS (
      SELECT canonical_hash, min(id) AS keep_id, count(*) AS dup_count
      FROM hashed GROUP BY 1
    )
    SELECT id, url, canonical_url, canonical_hash, keep_id, dup_count
    FROM hashed JOIN g USING (canonical_hash)
    """,
    doc="URL canonicalization + canonical-key dedup — the no-fetch first "
    "pass of web-crawl curation: lowercase scheme/host, strip www./default "
    "ports/fragments/tracking params (utm_*, ref, fbclid, gclid), trim "
    "trailing slash; keeper = min id per canonical key.  Seeded URL "
    "variants collapse 4-ways and 2-ways so every rule is exercised.  "
    "Map-only parse; the canonical-key frequency table broadcasts back "
    "(operators/textops.canonicalize_urls).",
)
def q_dedup_url_canonical(spark, sf_dir):
    from ..operators.textops import canonicalize_urls

    d = F.col("doc_id")
    k = F.expr("doc_id div 6").cast("string")
    seeded = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            d % 3 == 0,
            F.concat(F.lit("https://www.shop.example.com:443/items/"), k,
                     F.lit("/?utm_source=a&ref=x")),
        )
        .when(
            d % 3 == 1,
            F.concat(F.lit("HTTPS://Shop.Example.Com/items/"), k, F.lit("?fbclid=zzz")),
        )
        .otherwise(
            F.concat(F.lit("https://shop.example.com/items/"), k,
                     F.lit("/other?page=2&utm_medium=m")),
        )
        .alias("url"),
    )
    return canonicalize_urls(seeded, "url", "doc_id")
