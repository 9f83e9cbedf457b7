"""Full-text relevance search (BM25-family) over the documents corpus
(north-star LLM-pipeline layer, SURVEY §7.1 step 10; no reference analog —
the reference's closest surface is the admin listing filter,
services/api-query/src/handler.ts:64-108, which is exact-match only).

Scale shape: scoring a fixed query against N docs is ONE map-only pass over
the corpus (per-doc term frequencies come from the already-materialized token
array — no explode, no posting-list shuffle) plus one O(1)-row corpus-stats
aggregate that broadcasts back.  At 100 TB this is scan-bound and
embarrassingly parallel; the only shuffle is the final top-k, which
TakeOrderedAndProject reduces to per-partition heaps + a driver merge.

Determinism: the classic BM25 idf is ln((N-df+.5)/(df+.5)); `ln` is libm-
dependent and NOT guaranteed bit-identical across engines, so we use the
ln-free rational idf  (2N-2df+1)/(2df+1)  — the same argument ratio without
the log (monotone in the standard idf, always positive).  Every factor is an
exact int64 ratio evaluated as ONE IEEE-754 double division, products are
single IEEE multiplications, and the per-term partial scores are summed in a
fixed left-associated order — bit-identical in any IEEE-754 engine, so the
oracle hash-compares raw double scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..functions.materialize import materialize
from .dedup import bucket_pairs
from .exchange import fan_out

# BM25 constants k1=1.2, b=0.75 as exact rationals: with dl/avgdl = dl*N/L,
#   tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))  ==  22*L*tf / (10*L*tf + 3*L + 9*dl*N)
# (multiply through by 10*L; 22 = 10*(k1+1), 10*k1*(1-b) = 3, 10*k1*b = 9).


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    per_term: bool = False,
) -> DataFrame:
    """Per-document BM25 score for a fixed bag of query terms.

    Returns (id, dl, tf_<term>..., score) — callers top-k or threshold it.

    ``per_term=True`` additionally emits ``score<i>`` columns, each the
    single-term BM25 of ``terms[i]`` alone.  Because n, l, df_i, tf_i and
    the expression tree are identical to a single-term run over the same
    corpus, ``score<i>`` is bit-identical to
    ``bm25_scores(docs, [terms[i]]).score`` — the one-tf-scan sharing that
    turns an N-query eval from N corpus tokenizations into one.
    """
    def eq_term(term: str):
        # single-parameter closure (a defaulted 2nd param would make Spark
        # bind it to the array index — see functions/text.py NOTE)
        def f(x):
            return x == F.lit(term)

        return f

    # checkpoint the skinny (id, dl, tf...) frame so the stats aggregate and
    # the scoring pass both read it instead of re-tokenizing the corpus
    toks = fan_out(docs.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
    )
    base = toks.select(
        "id",
        F.size("t").alias("dl"),
        *[F.size(F.filter("t", eq_term(term))).alias(f"tf{i}") for i, term in enumerate(terms)],
        # eager: the first consumer is the stats BROADCAST subquery; A/B
        # probed (search_eval_mrr sf0.1 1.69->1.52, text_stats 0.75->0.65
        # min-of-5; sf3 min 4.47->3.97) — same consumer pattern as
        # median_interp2's, where lazy lost 2.4x at sf3
    ).transform(materialize)
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("l"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}") for i in range(len(terms))],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def term_score(i: int):
        idf = ((2 * F.col("n") - 2 * F.col(f"df{i}") + 1).cast("double")) / (
            (2 * F.col(f"df{i}") + 1).cast("double")
        )
        tf, l = F.col(f"tf{i}"), F.col("l")
        # in a corpus without a single token (l = 0) every doc has dl = 0
        # and would divide 0 by 0: the (l = 0) term makes it 0 / 1 = 0.  For
        # l > 0 the divisor is >= 3l and the term adds 0.
        tfn = (22 * l * tf).cast("double") / (
            (10 * l * tf + 3 * l + 9 * F.col("dl") * F.col("n") + (l == 0).cast("long")).cast("double")
        )
        return idf * tfn

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)  # fixed left-associated sum order
    extra = (
        [term_score(i).alias(f"score{i}") for i in range(len(terms))] if per_term else []
    )
    return scored.select(
        "id", "dl", *[f"tf{i}" for i in range(len(terms))], score.alias("score"), *extra
    )


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10, **kw) -> DataFrame:
    """Top-k BM25 hits (docs matching >=1 term), total order via (score desc, id)."""
    s = bm25_scores(docs, terms, **kw)
    return (
        s.where(s["score"] > 0)
        .select("id", "score")
        .orderBy(F.col("score").desc(), F.col("id"))
        .limit(k)
    )


def bm25_oracle_sql(terms: list[str], k: int = 10, src: str = "documents") -> str:
    """The DuckDB twin of bm25_topk — identical arithmetic, identical
    association order, so raw double scores hash-compare."""
    tf_cols = ",\n             ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}" for i, t in enumerate(terms)
    )
    df_cols = ",\n             ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(terms))
    )
    term_exprs = [
        f"(CAST(2*n - 2*df{i} + 1 AS DOUBLE) / CAST(2*df{i} + 1 AS DOUBLE))"
        f" * (CAST(22*l*tf{i} AS DOUBLE) / CAST(10*l*tf{i} + 3*l + 9*dl*n + CAST(l = 0 AS BIGINT) AS DOUBLE))"
        for i in range(len(terms))
    ]
    score = " + ".join(term_exprs)  # SQL + is left-associative: same order
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    ),
    base AS (
      SELECT id, len(t) AS dl,
             {tf_cols}
      FROM toks
    ),
    stats AS (
      SELECT count(*) AS n, sum(dl) AS l,
             {df_cols}
      FROM base
    ),
    scored AS (
      SELECT id, {score} AS score FROM base, stats
    )
    SELECT id, score FROM scored WHERE score > 0
    ORDER BY score DESC, id LIMIT {k}
    """


def index_build(
    docs: DataFrame, text_col: str, id_col: str, index_dir: str, n_buckets: int = 16
) -> None:
    """Inverted-index BUILD — the write-once phase of the served-search
    split (companion to similarity.ivf_build_index; the scan-shaped
    bm25_scores stays the right tool for pipeline-side filtering, this is
    the layout a repeated-query workload wants).

    Postings (term, doc, tf, df) are written ``partitionBy(bucket)`` where
    bucket = sha256-hash of the term mod ``n_buckets`` — the partition key a
    probe can compute FROM THE QUERY ALONE, so a lookup prunes to the
    query's buckets without any directory listing.  df (document frequency)
    is denormalized onto each posting at build time: one extra column per
    row buys probe-time scoring with zero extra joins.

    Scale: one explode -> one (term, doc) groupBy (partial-aggregated), one
    term-keyed window for df, one range-free write.  Buckets are uniform by
    construction (sha256), so partitions are even however skewed the
    vocabulary is."""

    # checkpointed: the df aggregation AND the denormalizing join both
    # consume the (term, doc, tf) frame — un-materialized, each re-ran the
    # corpus tokenize + explode + aggregate (2 full passes; round-10).  The
    # frame is exactly the postings being written, so the materialization
    # is output-sized, not an extra copy class.  The fan-out by doc
    # satisfies the (term, doc) grouping, so the plan has ONE exchange and it
    # carries the raw text, not the exploded token stream (probed 0.50-0.67
    # -> 0.22-0.31 s min-of-6 for the tf frame at sf0.1).
    raw = docs.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__raw"))
    tf = (
        fan_out(raw, "doc")
        .select("doc", F.explode(tokens(F.col("__raw"))).alias("term"))
        .groupBy("term", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(materialize)
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    bucket = F.pmod(
        F.conv(F.substring(F.sha2(F.col("term"), 256), 1, 6), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    (
        tf.join(df_counts, "term")
        .withColumn("bucket", bucket)
        # cluster by the partition column before the write (guide §6): with
        # the tf frame now 32-way, every task would otherwise open a file
        # in every bucket directory (32 x n_buckets small files — probed as
        # a 2x slowdown of the whole build+probe at sf0.1); hash
        # distribution writes each bucket from few tasks and AQE sizes the
        # task count by bytes, which is also the 100 TB layout (file count
        # tracks data volume, not task x bucket cross product)
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(index_dir + "/postings")
    )


def index_probe(
    spark, index_dir: str, terms: list[str], k: int = 10, n_buckets: int = 16
) -> DataFrame:
    """Inverted-index PROBE: compute the query terms' buckets from sha256
    (identical arithmetic to the build — no catalog lookup), scan ONLY those
    bucket partitions (the plan shows PartitionFilters on bucket), and score
    docs by sum(tf * w(term)) with the integer idf surrogate
    w = 1e6 DIV (1 + df) — rare terms dominate, exactly and
    engine-reproducibly (a float ln() idf would drift).  Top-k closes with a
    (score desc, doc asc) total order."""
    import hashlib

    qbuckets = sorted(
        {int(hashlib.sha256(t.encode()).hexdigest()[:6], 16) % n_buckets for t in terms}
    )
    postings = spark.read.parquet(index_dir + "/postings")
    return (
        postings.where(F.col("bucket").isin(qbuckets))
        .where(F.col("term").isin(terms))
        .groupBy("doc")
        .agg(F.sum(F.expr("tf * (1000000 DIV (1 + df))")).alias("score"),
             F.count(F.lit(1)).alias("n_terms_hit"))
        .orderBy(F.desc("score"), F.asc("doc"))
        .limit(k)
    )


def index_probe_oracle_sql(terms: list[str], k: int = 10, src: str = "documents") -> str:
    """DuckDB twin of build+probe straight off the corpus: same tokenizer,
    tf/df, integer idf surrogate, and top-k tiebreak."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM {src}
    ),
    tf AS (SELECT term, doc, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
    SELECT tf.doc, CAST(sum(tf.tf * (1000000 // (1 + dfc.df))) AS BIGINT) AS score,
           count(*) AS n_terms_hit
    FROM tf JOIN dfc ON tf.term = dfc.term
    WHERE tf.term IN ({tlist})
    GROUP BY tf.doc
    ORDER BY score DESC, tf.doc ASC LIMIT {k}
    """


def phrase_match(docs: DataFrame, phrase: list[str], text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact PHRASE search via positional token joins — the query shape a
    positional inverted index serves: tokens exploded with positions, one
    equi-join per phrase gap on (doc, position+offset), so a k-word phrase
    is k-1 position-keyed hash joins over only the phrase terms' postings
    (term filters push into the scan; everything else never leaves it).

    Returns (id, n_hits) — documents containing the exact token sequence,
    with the number of distinct starting positions.  Token adjacency is
    defined by the engine tokenizer (regex token stream), identical in the
    oracle."""

    pos = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(F.col(text_col))).alias("p", "tok"),
    )
    first = pos.where(F.col("tok") == phrase[0]).select("doc", F.col("p").alias("p0"))
    out = first
    for i, term in enumerate(phrase[1:], start=1):
        nxt = pos.where(F.col("tok") == term).select(
            F.col("doc"), (F.col("p") - i).alias("p0")
        )
        out = out.join(nxt, ["doc", "p0"])
    return (
        out.groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def phrase_oracle_sql(phrase: list[str], src: str = "documents") -> str:
    """DuckDB twin of phrase_match."""
    joins = "\n      ".join(
        f"JOIN pos t{i} ON t{i}.doc = t0.doc AND t{i}.p = t0.p + {i} AND t{i}.tok = '{t}'"
        for i, t in enumerate(phrase[1:], start=1)
    )
    return f"""
    WITH pos AS (
      SELECT doc_id AS doc, i - 1 AS p, t[i] AS tok
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}),
           unnest(generate_series(1, len(t))) AS u(i)
    ),
    t0 AS (SELECT doc, p FROM pos WHERE tok = '{phrase[0]}')
    SELECT t0.doc, count(*) AS n_hits
    FROM t0
      {joins}
    GROUP BY t0.doc
    """


# ---------------------------------------------------------------------------
# more-like-this: top-k related documents via shared-rare-term postings
# ---------------------------------------------------------------------------


def related_docs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 4,
    max_df: int = 16,
    k: int = 5,
) -> DataFrame:
    """Content-based "related documents": for every document, the top-k
    other documents ranked by summed idf-weight of SHARED rare k-gram
    shingles — the recommendation / citation-suggestion shape, and the
    lexical complement to embedding k-NN (sim_knn_*).

    The blocking feature is a k-token SHINGLE, not a single token: shingle
    variety is combinatorial, so discriminative (low-df) features exist even
    over a closed vocabulary where every single token is stopword-frequency
    (any web-crawl corpus after normalization).  Candidate generation is
    posting-list self-pairing (``bucket_pairs``) restricted to
    2 <= df <= max_df: a shingle shared by df docs yields at most df^2
    ordered pairs, so total pair volume is bounded by max_df x |postings|
    — LINEAR in corpus size for fixed max_df (the same rare-feature-blocking
    guarantee as j7_fuzzy_match_join and dedup_containment; boilerplate-
    frequency shingles never pair anything).  Scoring reuses the index family's
    integer idf surrogate w = 1e6 DIV (1 + df) — exact, engine-
    reproducible, rare-feature-dominant.  Top-k per source doc closes with
    a (score desc, other asc) total order inside a rank window, which Spark
    executes as WindowGroupLimit (per-partition heaps, no full sort).

    Every join input here descends from an aggregation, so static size
    estimates are tiny and Spark would pick broadcasts that explode at
    corpus scale (the sf1.0 lesson, SCALE.md §11) — all pair joins carry
    explicit shuffle_hash hints."""
    from pyspark.sql import Window

    from ..functions.text import span_key, word_shingles

    # the fan-out by doc is one text-sized exchange, ~2 % of the posting/pair
    # shuffle volume this operator's own math bounds at ~45x the corpus
    raw = fan_out(docs.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__raw")), "doc")
    # shingles join/aggregate as 48-bit sha256-prefix int64 keys, not raw
    # strings: at corpus scale the posting shuffle is the dominant byte
    # volume and an 8-byte key beats a ~40-byte text shingle ~5x (collisions
    # across a corpus vocabulary are ~birthday(2^48) — the same contract as
    # the minhash/bloom slice hashing elsewhere)
    postings = raw.select(
        "doc", F.explode(F.transform(word_shingles(F.col("__raw"), shingle_k), span_key)).alias("g")
    )
    # pair generation is IN-BUCKET expansion (``bucket_pairs``, the
    # dedup_minhash_lsh shape), not a posting⋈df join followed by a
    # posting⋈posting self-join: one groupBy(g) collects each shingle's doc
    # list, the df gate keeps only 2 <= |list| <= max_df buckets, and the
    # <= max_df^2 pairs expand inside the task — the large posting list is
    # shuffled ONCE instead of three times (the join shape ran 58-64 s at
    # sf1.0; this shape measures ~41 s standalone at sf1.0, the pair shuffle
    # dominating)
    # collect_SET fuses the old explode->distinct->collect_list chain's two
    # shuffles into one: the per-(doc, g) dedup happens inside the same
    # aggregation that builds the posting list (partial sets merge map-side),
    # so the exploded shingle stream crosses the network once (guide §2.4).
    # Downstream is order-insensitive: each bucket pair carries its weight
    # w and is emitted in both orientations from one inline, so the array
    # order is never read and needs no sort.
    buckets = (
        postings.groupBy("g")
        .agg(F.collect_set("doc").alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_df))
        .select(F.expr("1000000 DIV (1 + size(ds))").alias("w"), "ds")
    )
    pairs = bucket_pairs(buckets, "x", "y").select(
        F.inline(
            F.array(
                F.struct(F.col("x").alias("a"), F.col("y").alias("b"), "w"),
                F.struct(F.col("y").alias("a"), F.col("x").alias("b"), "w"),
            )
        )
    )
    # ONE pair shuffle end-to-end: repartitioning the pair stream by `a`
    # alone satisfies BOTH the (a, b) aggregation's clustered distribution
    # (subset rule) and the top-k window's partitioning, so the ~45x-the-
    # corpus pair volume crosses the network once, not twice
    scored = (
        pairs.repartition(F.col("a"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("score"), F.count(F.lit(1)).alias("n_shared"))
    )
    rk = F.row_number().over(
        Window.partitionBy("a").orderBy(F.desc("score"), F.asc("b"))
    )
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") <= k)
        .select(F.col("a").alias(id_col), F.col("b").alias("related_id"), "score", "n_shared", "rk")
    )


def related_docs_oracle_sql(
    shingle_k: int = 4, max_df: int = 16, k: int = 5, src: str = "documents"
) -> str:
    """DuckDB twin of related_docs (same space-joined k-gram shingles, same
    48-bit sha256-prefix integer keys)."""
    grams = " || ' ' || ".join(f"t[j+{i}]" for i in range(shingle_k))
    return f"""
    WITH tok AS (
      SELECT doc_id AS doc, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    ),
    postings AS (
      SELECT DISTINCT doc,
             ('0x' || substr(sha256({grams}), 1, 12))::BIGINT AS g
      FROM (SELECT doc, t, unnest(generate_series(1, greatest(len(t) - {shingle_k - 1}, 0))) AS j
            FROM tok WHERE len(t) >= {shingle_k})
    ),
    dfc AS (
      SELECT g, 1000000 // (1 + count(*)) AS w FROM postings
      GROUP BY g HAVING count(*) BETWEEN 2 AND {max_df}
    ),
    rare AS (SELECT p.doc, p.g, dfc.w FROM postings p JOIN dfc USING (g)),
    scored AS (
      SELECT l.doc AS a, r.doc AS b, CAST(sum(l.w) AS BIGINT) AS score,
             count(*) AS n_shared
      FROM rare l JOIN rare r ON l.g = r.g AND l.doc <> r.doc
      GROUP BY 1, 2
    )
    SELECT a AS doc_id, b AS related_id, score, n_shared, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY a ORDER BY score DESC, b ASC) AS rk
          FROM scored)
    WHERE rk <= {k}
    """
