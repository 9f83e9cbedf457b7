"""Text analysis operators over the documents table (north-star capability
per BASELINE.json / SURVEY §7.1 step 10 — no reference analog): language ID,
quality scoring, token counting, document fingerprinting.
All native column expressions (functions/text.py)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    lang_guess,
    lang_scores,
    quality_metrics,
    span_key,
    token_count_bpe,
    token_count_ws,
    tokens,
    word_shingles,
)
from ..functions.materialize import materialize
from .dedup import bucket_pairs
from .exchange import fan_out


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality metrics; ratios are single double divisions of
    exact ints (cross-engine bit-exact)."""
    m = quality_metrics(F.col(text_col))
    guard = lambda num: F.when(m["n_chars"] > 0, num / m["n_chars"]).otherwise(F.lit(0.0))  # noqa: E731
    return df.select(
        F.col(id_col),
        m["n_chars"].alias("n_chars"),
        m["n_tokens_ws"].alias("n_tokens"),
        m["n_alpha"].alias("n_alpha"),
        m["n_digit"].alias("n_digit"),
        m["n_punct"].alias("n_punct"),
        guard(m["n_alpha"]).alias("alpha_ratio"),
        guard(m["n_digit"]).alias("digit_ratio"),
        guard(m["n_punct"]).alias("punct_ratio"),
        guard(m["n_upper"]).alias("upper_ratio"),
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-score language guess + per-language scores."""
    scores = lang_scores(F.col(text_col))
    return df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in scores],
        lang_guess(F.col(text_col)).alias("lang_pred"),
    )


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        token_count_ws(F.col(text_col)).alias("n_tokens_ws"),
        token_count_bpe(F.col(text_col)).alias("n_tokens_bpe"),
    )


def fingerprints(df: DataFrame, text_col: str, id_col: str, k: int = 5) -> DataFrame:
    """Per doc, the min 16-hex sha256 prefix over its k-word shingles; NULL
    for a doc below k tokens."""
    raw = fan_out(df.select(F.col(id_col), F.col(text_col).alias("__raw")), id_col)
    hashed = F.transform(
        word_shingles(F.col("__raw"), k), lambda s: F.substring(F.sha2(s, 256), 1, 16)
    )
    return raw.select(F.col(id_col), F.array_min(hashed).alias("fingerprint"))


def rare_token_ratio(df: DataFrame, text_col: str, id_col: str, max_doc_freq: int = 2) -> DataFrame:
    """Corpus-relative quality signal: per document, the share of token
    occurrences whose corpus-wide DOCUMENT frequency is <= max_doc_freq.
    High rare-token share flags OCR noise / gibberish / boilerplate-free
    junk — the cheap integer-exact stand-in for an LM perplexity filter
    (libm log() is not bit-stable across engines; this is).

    Two aggregations + one join, all keyed on the token: doc-frequency table
    (partial-aggregated, vocab-sized) joined back to the exploded token
    stream.  rare_ppm is exact integer math (x*1e6 div n)."""
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    docfreq = (
        toks.distinct().groupBy("tok").agg(F.count("*").alias("df_count")).where(F.col("df_count") <= max_doc_freq)
    )
    per_doc = toks.groupBy(id_col).agg(F.count("*").alias("n_tokens"))
    rare = toks.join(docfreq, "tok").groupBy(id_col).agg(F.count("*").alias("n_rare"))
    return (
        per_doc.join(rare, id_col, "left")
        .withColumn("n_rare", F.coalesce(F.col("n_rare"), F.lit(0)))
        .withColumn("rare_ppm", F.expr("(1000000 * n_rare) div n_tokens"))
    )


def pack_sequences(df: DataFrame, text_col: str, id_col: str, part_col: str, budget: int = 2048) -> DataFrame:
    """Sequence packing for training: assign each document to a contiguous
    token-budget bin (context window) within its partition column, in
    deterministic id order.  bin = tokens-before div budget — a single
    window cumsum, no shuffle beyond the window partitioning.

    At 100 TB the partition column (lang/source/date-bucket) bounds each
    window partition; packing is embarrassingly parallel across them.  The
    in-partition ORDER BY id is the determinism contract: re-runs, engines,
    and cluster sizes all produce identical bins."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = F.size(tokens(F.col(text_col)))
    return (
        df.select(F.col(id_col), F.col(part_col), n_tok.alias("n_tokens"))
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("seq_bin", F.expr(f"cum_before div {budget}"))
        .drop("cum_before")
    )


def normalize_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Canonical text cleanup ahead of shingling/hashing: strip control
    characters, collapse whitespace runs, trim.  Pure map-side column
    expressions (JVM regex); the cleaned text is re-hashed so downstream
    exact-dedup keys on the canonical form."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "
        )
    )
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        F.length(cleaned).alias("clean_chars"),
        (cleaned != F.col(text_col)).alias("changed"),
        F.sha2(cleaned, 256).alias("clean_hash"),
    )


def corpus_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-language corpus dashboard: doc count, token mass, source spread,
    exact-dup count, vocabulary size.  Everything is a partial-aggregable
    count/sum; vocab is a two-level agg (distinct (lang, token) first) so no
    Expand blow-up on the token stream."""
    base = df.select(
        F.col(id_col), F.col("lang"), F.col("source"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
        F.sha2(F.col(text_col), 256).alias("h"),
    )
    core = base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )
    dups = (
        base.groupBy("lang", "h").agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .groupBy("lang").agg(F.sum(F.col("c") - 1).alias("n_dup_docs"))
    )
    vocab = (
        df.select(F.col("lang"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .distinct()
        .groupBy("lang").agg(F.count("*").alias("vocab_size"))
    )
    return (
        core.join(dups, "lang", "left").join(vocab, "lang", "left")
        .withColumn("n_dup_docs", F.coalesce(F.col("n_dup_docs"), F.lit(0)))
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style within-document repetition signals: the duplicate-trigram
    share (trigram occurrences beyond the first, over all trigrams) and the
    top-bigram share (occurrences of the single most frequent bigram, over
    all bigrams).  Highly repetitive docs (boilerplate, SEO spam, template
    churn) spike on both; the thresholds live in downstream gates.

    The duplicate-trigram side is pure array math in the task (size minus
    size(array_distinct)) — zero shuffle.  The top-bigram side needs a
    per-(doc, bigram) histogram, so it explodes and aggregates twice, both
    partial-aggregated on keys that include the doc id (no skew: a document's
    bigrams all live in one group family).  Ratios are exact integer ppm."""
    text = F.coalesce(F.col(text_col), F.lit(""))  # a NULL text has no n-grams
    tri = word_shingles(text, 3)
    base = df.select(
        F.col(id_col),
        F.size(tri).alias("n_trigrams"),
        (F.size(tri) - F.size(F.array_distinct(tri))).alias("n_dup_tri"),
    ).withColumn("dup3_ppm", F.expr("(1000000 * n_dup_tri) div greatest(n_trigrams, 1)"))
    top2 = (
        df.select(F.col(id_col), F.explode(word_shingles(text, 2)).alias("big"))
        .groupBy(id_col, "big")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
        .withColumn("top2_ppm", F.expr("(1000000 * top_bigram_n) div n_bigrams"))
    )
    return (
        base.join(top2, id_col, "left")
        .withColumn("top_bigram_n", F.coalesce(F.col("top_bigram_n"), F.lit(0)))
        .withColumn("n_bigrams", F.coalesce(F.col("n_bigrams"), F.lit(0)))
        .withColumn("top2_ppm", F.coalesce(F.col("top2_ppm"), F.lit(0)))
    )


def span_overlap(df: DataFrame, text_col: str, id_col: str, k: int = 5) -> DataFrame:
    """Cross-document repeated-span share: per document, the fraction of its
    DISTINCT k-gram spans that also occur in at least one other document —
    the sub-document dedup signal (quotations, syndicated boilerplate,
    near-dup tails that whole-doc minhash misses).

    Same two-aggregation shape as rare_token_ratio, but keyed on a 48-bit
    sha256-prefix int64 span hash instead of the raw token (8-byte shuffle
    keys, same contract as related_docs): the span-frequency table is
    partial-aggregated and vocabulary-sized, and only distinct (doc, span)
    pairs flow into it, so a pathological doc repeating one span a million
    times contributes one row.  Exact integer ppm."""
    spans = df.select(
        F.col(id_col), F.explode(F.transform(word_shingles(F.col(text_col), k), span_key)).alias("h")
    ).distinct()
    shared = spans.groupBy("h").agg(F.count("*").alias("df_count")).where(F.col("df_count") >= 2)
    per_doc = spans.groupBy(id_col).agg(F.count("*").alias("n_spans"))
    hits = spans.join(shared, "h", "left_semi").groupBy(id_col).agg(
        F.count("*").alias("n_shared")
    )
    return (
        per_doc.join(hits, id_col, "left")
        .withColumn("n_shared", F.coalesce(F.col("n_shared"), F.lit(0)))
        .withColumn("shared_ppm", F.expr("(1000000 * n_shared) div n_spans"))
    )


def quality_reason(text: Column) -> Column:
    """The first failing rule of the document quality gate, NULL for a kept
    doc: too_short -> too_long -> mean_word_len out of [2, 12] ->
    low_alpha, evaluated in that fixed order.  Every rule is an integer
    cross-multiply over quality_metrics counts — no float ratios, so the
    decision is bit-identical across engines.  ``quality_reason(t).isNull()``
    is the keep predicate: a row-wise filter, no second scan or join."""
    m = quality_metrics(text)
    n_tok = m["n_tokens_ws"]
    alnum = m["n_alpha"] + m["n_digit"]
    return (
        F.when(n_tok < 20, F.lit("too_short"))
        .when(m["n_chars"] > 100000, F.lit("too_long"))
        .when((alnum < 2 * n_tok) | (alnum > 12 * n_tok), F.lit("mean_word_len"))
        .when(10 * m["n_alpha"] < 6 * m["n_chars"], F.lit("low_alpha"))
    )


def quality_gate(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """First-failing-rule document quality gate (the curation twin of
    operators/validate.py's DTO gate): one row per document with its counts,
    ``reject_reason`` (quality_reason) and ``kept``.  A map-only projection."""
    m = quality_metrics(F.col(text_col))
    reason = quality_reason(F.col(text_col))
    return df.select(
        F.col(id_col),
        m["n_chars"].alias("n_chars"),
        m["n_tokens_ws"].alias("n_tokens"),
        reason.alias("reject_reason"),
        reason.isNull().alias("kept"),
    )


def lm_bigram_scores(
    df: DataFrame, text_col: str, id_col: str, low_ppm: int | None = None
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al.,
    arXiv:1911.00359 train an LM on a reference corpus and rank documents by
    perplexity; here the LM is a bigram model trained on the corpus ITSELF —
    self-perplexity, the standard in-pipeline proxy).  No reference analog;
    north-star LLM-pipeline layer.

    Integer-exact so the scores hash-compare across engines: the add-one
    smoothed bigram probability is kept in ppm via integer division
    (1e6*(c2+1)) DIV (c1+V), and a document's score is the integer mean of
    its bigram ppms — natural text re-uses corpus-frequent bigrams (high
    ppm), keyboard mash / boilerplate / wrong-language text does not.  A
    true log-perplexity needs ln(), whose last-ulp differs by engine; the
    ppm mean ranks documents the same way for filtering purposes and is
    exactly reproducible.

    Shape at 100 TB: one explode -> groupBy(w1,w2) with full map-side
    combine for counts (bigram table << corpus), prefix counts and the
    1-row vocab aggregate derived from it; scoring is ONE shuffle join of
    doc-bigrams against the count table on (w1,w2) then a per-doc integer
    sum — no driver-side state, no floats, no UDFs.

    Returns (doc_id-named id col, n_bigrams, lm_score_ppm[, low_quality]).
    """
    toks = df.select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("t"))
    vstats = toks.select(F.explode("t").alias("w")).agg(
        F.count_distinct("w").alias("V")
    )
    bi = toks.where(F.size("t") >= 2).select(
        "__id",
        F.explode(
            F.expr("transform(sequence(1, size(t)-1), i -> struct(t[i-1] AS w1, t[i] AS w2))")
        ).alias("b"),
    ).select("__id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    probs = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vstats))
        .withColumn("p_ppm", F.expr("(1000000 * (c2 + 1)) DIV (c1 + V)"))
        .select("w1", "w2", "p_ppm")
    )
    per_doc = (
        bi.join(probs, ["w1", "w2"])
        .groupBy("__id")
        .agg(F.sum("p_ppm").alias("s"), F.count(F.lit(1)).alias("n_bigrams"))
        .select(
            F.col("__id").alias(id_col),
            "n_bigrams",
            F.expr("s DIV n_bigrams").alias("lm_score_ppm"),
        )
    )
    if low_ppm is not None:
        per_doc = per_doc.withColumn("low_quality", F.col("lm_score_ppm") < F.lit(int(low_ppm)))
    return per_doc


def lm_bigram_oracle_sql(low_ppm: int | None = None, src: str = "documents") -> str:
    """DuckDB twin of lm_bigram_scores: same tokenization regex, same
    add-one ppm integer division, same integer mean."""
    low = (
        f", lm_score_ppm < {int(low_ppm)} AS low_quality" if low_ppm is not None else ""
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    ),
    v AS (SELECT count(DISTINCT w) AS V FROM (SELECT unnest(t) AS w FROM toks)),
    bi AS (
      SELECT id, t[i - 1] AS w1, t[i] AS w2
      FROM (SELECT id, t FROM toks WHERE len(t) >= 2),
           unnest(generate_series(2, len(t))) AS u(i)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
    probs AS (
      SELECT c2.w1, c2.w2,
             (1000000 * (c2.c2 + 1)) // (c1.c1 + v.V) AS p_ppm
      FROM c2 JOIN c1 ON c2.w1 = c1.w1 CROSS JOIN v
    ),
    scored AS (
      SELECT bi.id, CAST(sum(p.p_ppm) AS BIGINT) AS s, count(*) AS n_bigrams
      FROM bi JOIN probs p ON bi.w1 = p.w1 AND bi.w2 = p.w2
      GROUP BY bi.id
    )
    SELECT id AS doc_id, n_bigrams, s // n_bigrams AS lm_score_ppm{low}
    FROM scored
    """


# --- PII redaction -----------------------------------------------------------

# Patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, \b word boundaries only.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "IP": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "PHONE": r"\+\d[\d-]{7,}\d",
}


def redact_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Map-only PII scrub: e-mail / IPv4 / phone patterns replaced by typed
    placeholders, with exact per-kind match counts (counted BEFORE
    replacement, so overlapping classes report what each pattern saw).
    Native regexp_replace/regexp_extract_all — no Python, no shuffle;
    embarrassingly parallel at any corpus size."""
    t = F.col(text_col)
    counts = {
        kind: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }
    red = t
    for kind, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"[{kind}]")
    return df.select(
        F.col(id_col),
        red.alias("redacted"),
        counts["EMAIL"].alias("n_email"),
        counts["IP"].alias("n_ip"),
        counts["PHONE"].alias("n_phone"),
    )


def sentence_dup_stats(df: DataFrame, text_col: str, id_col: str, min_len: int = 20) -> DataFrame:
    """Cross-document sentence-level dedup stats (the CCNet/Gopher boilerplate
    signal): split to sentences, hash each, count how many of a document's
    sentences appear in >= 2 documents.  Two shuffles total — one groupBy on
    the sentence hash (corpus-wide frequency) and one per-doc rollup; the
    frequency table joins back by hash.  dup_ppm is exact integer math."""
    sent = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), r"\.\s+")).alias("s"),
    ).select("doc", F.trim(F.col("s")).alias("s")).where(F.length("s") >= min_len)
    sent = sent.select("doc", F.sha2(F.col("s"), 256).alias("h")).distinct()
    freq = sent.groupBy("h").agg(F.count_distinct("doc").alias("ndocs"))
    per_doc = (
        sent.join(freq, "h")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_sentences"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias("n_duped"),
        )
        .withColumn("dup_ppm", F.expr("(1000000 * n_duped) div n_sentences"))
    )
    return per_doc


def url_parts(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """URL decomposition with native regexp_extract (identical under Java and
    RE2): scheme, host, path, and the registrable-domain-ish last two host
    labels — the key a per-domain cap/dedup stage groups on.  Map-only."""
    u = F.col(url_col)
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    return df.select(
        F.col(id_col),
        F.regexp_extract(u, r"^([a-z][a-z0-9+.-]*)://", 1).alias("scheme"),
        host.alias("host"),
        F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1).alias("path"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias("domain"),
    )


def line_dedup_clean(
    df: DataFrame, text_col: str, id_col: str, min_len: int = 10, max_doc_freq: int = 1
) -> DataFrame:
    """Corpus-level duplicate-LINE removal — the CCNet deduplication pass
    (Wenzek et al., arXiv:1911.00359 §3.1: hash every line/paragraph
    corpus-wide, strip the frequent ones) that actually REWRITES documents,
    where sentence_dup_stats only measures.  No reference analog; north-star
    LLM-pipeline layer.

    Rules: a line is *eligible* when its trimmed length >= ``min_len``
    (short/empty structural lines are never dropped and never counted);
    an eligible line is dropped when its corpus-wide distinct-document
    frequency exceeds ``max_doc_freq``.  Survivors are reassembled in
    original line order.  Output (doc_id, clean_text, n_kept, n_dropped).

    Scale shape: (1) one partial-aggregated groupBy on the line hash — the
    result is FILTERED to frequency > max_doc_freq before it leaves the
    aggregation, so the drop-list is boilerplate-sized, not corpus-sized,
    and broadcasts; (2) one groupBy(doc) reassembly of line-grain rows.
    Two line-grain shuffles at any corpus size, no window, no Python.
    All counts exact ints; sha256 line keys are collision-safe."""
    pos, line = "__ld_pos", "__ld_line"
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias(pos, line),
    ).withColumn("__h", F.sha2(F.trim(F.col(line)), 256)).withColumn(
        "__eligible", F.length(F.trim(F.col(line))) >= min_len
    )
    droplist = (
        lines.where(F.col("__eligible"))
        .select("doc_id", "__h")
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("__nd"))
        .where(F.col("__nd") > max_doc_freq)
        .select("__h", F.lit(1).alias("__dup"))
    )
    flagged = lines.join(F.broadcast(droplist), "__h", "left").withColumn(
        "__keep", F.col("__dup").isNull() | ~F.col("__eligible")
    )
    kept_struct = F.when(F.col("__keep"), F.struct(F.col(pos), F.col(line)))
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                # collect_list drops the nulls the when() leaves for removed lines
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s[line],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.when(F.col("__keep"), 1)).alias("n_kept"),
        F.count(F.when(~F.col("__keep"), 1)).alias("n_dropped"),
    )


def canonicalize_urls(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """URL canonicalization + canonical-key dedup info — the first pass of
    web-crawl curation (URL-level dedup precedes any content hashing because
    it needs no fetch).  Pure regex/array column expressions in the Java/RE2
    common subset; map-only except the final canonical-key groupBy join.

    Rules (each deterministic, order-independent):
      * scheme and host lowercased; leading ``www.`` dropped
      * default ports ``:80`` / ``:443`` stripped
      * fragment dropped
      * tracking params dropped (utm_*, ref, fbclid, gclid), others kept in
        original order; ``?`` dropped when no params survive
      * trailing ``/`` stripped from non-root paths

    Output (id, url, canonical_url, canonical_hash, keep_id, dup_count):
    keep_id = min id per canonical key (the deterministic keeper), dup_count
    = group size.  The frequency table is canonical-key-grained and joins
    back broadcast at realistic dup rates."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(
        F.regexp_replace(hostport, r":(80|443)$", ""), r"^www\.", ""
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path_c = F.when(
        (F.length(path) > 1), F.regexp_replace(path, r"/$", "")
    ).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~p.rlike(r"^(utm_[^=]*|ref|fbclid|gclid)(=|$)"),
    )
    qs = F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
        F.lit("")
    )
    canon = F.concat(scheme, F.lit("://"), host, path_c, qs)
    base = df.select(F.col(id_col).alias("id"), u.alias("url"), canon.alias("canonical_url"))
    base = base.withColumn("canonical_hash", F.sha2(F.col("canonical_url"), 256))
    groups = base.groupBy("canonical_hash").agg(
        F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count")
    )
    return base.join(F.broadcast(groups), "canonical_hash").select(
        "id", "url", "canonical_url", "canonical_hash", "keep_id", "dup_count"
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """fastText-style linear quality classifier over HASHED token features —
    the standard "model-based quality filter" slot in a curation pipeline
    (classifier score -> keep/drop), with the inference plumbing real and the
    weights a deterministic stand-in (no trained artifact ships with the
    repo; swap `w(bucket)` for a broadcast weight table in production — the
    plan shape is identical: map-only, zero shuffle before the final
    aggregation).

    Feature hashing: bucket(t) = first-6-hex(sha256(t)) mod n_buckets — the
    hashing-trick projection (Weinberger et al.) that fixes the feature width
    regardless of vocabulary, exactly reproducible in any engine.  The
    stand-in weights are a Knuth-multiplicative scramble of the bucket id
    into [-1000, 1000]: w(b) = (b * 2654435761) % 2001 - 1000.

    Score = sum over the token stream of w(bucket(t)) (multiplicity kept:
    it is the dot product of the hashed count vector with w); label = score
    > 0.  Everything int64; n_buckets * 2654435761 stays far under 2^63.

    Returns (id, n_tokens, score, positive).
    """

    toks = df.select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("t"))
    w = (
        "transform(t, tok -> "
        f"(pmod(cast(conv(substring(sha2(tok, 256), 1, 6), 16, 10) AS bigint), {n_buckets})"
        " * 2654435761) % 2001 - 1000)"
    )
    scored = toks.where(F.size("t") > 0).select(
        F.col("__id").alias(id_col),
        F.size("t").alias("n_tokens"),
        F.aggregate(F.expr(w), F.lit(0).cast("long"), lambda acc, x: acc + x).alias("score"),
    )
    return scored.withColumn("positive", F.col("score") > 0)


def hashed_linear_oracle_sql(n_buckets: int = 1024, src: str = "documents") -> str:
    """DuckDB twin of hashed_linear_score: same hash-bucket projection and
    scramble weights, summed per token occurrence."""
    return f"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM {src}
    ),
    scored AS (
      SELECT id, count(*) AS n_tokens,
             CAST(sum(
               ((('0x' || substr(sha256(tok), 1, 6))::BIGINT % {n_buckets})
                 * 2654435761) % 2001 - 1000
             ) AS BIGINT) AS score
      FROM toks GROUP BY id
    )
    SELECT id AS doc_id, n_tokens, score, score > 0 AS positive FROM scored
    """


def _bpe_one_round(state: DataFrame, rnd: int):
    """One BPE round over the (w, f, syms) word-frequency state: count
    adjacent symbol pairs (weighted by word frequency), pick the top pair
    (count desc, then lexicographic — total order), and merge it greedily
    left-to-right in every word.  Returns (new_state, merge_row_df).

    The greedy non-overlapping merge is expressed RELATIONALLY (position
    explode + three window layers) instead of a sequential fold, so the
    identical computation runs in DuckDB: a position starts a merge iff the
    raw pair matches AND (for the self-pair a==b case) its offset inside the
    maximal run of a's is even — provably the set of positions left-to-right
    greedy picks; a position is consumed iff its predecessor started a merge.
    """
    from pyspark.sql import Window

    pairs = (
        state.where(F.size("syms") >= 2)
        .select(
            "f",
            F.explode(
                F.expr("transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS a, syms[i+1] AS b))")
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("f").alias("cnt"))
    )
    top = pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1)

    pos = (
        state.select("w", "f", F.posexplode("syms").alias("i", "s"))
        .crossJoin(F.broadcast(top.select(F.col("a").alias("ta"), F.col("b").alias("tb"))))
    )
    ww = Window.partitionBy("w").orderBy("i")
    before = ww.rowsBetween(Window.unboundedPreceding, -1)
    l1 = pos.select(
        "w", "f", "i", "s", "ta", "tb",
        F.lead("s").over(ww).alias("nxt"),
        F.last(F.when(F.col("s") != F.col("ta"), F.col("i")), ignorenulls=True)
        .over(before)
        .alias("prev_non_a"),
    )
    l2 = l1.select(
        "w", "f", "i", "s", "ta", "tb",
        (
            (F.col("s") == F.col("ta"))
            & (F.col("nxt") == F.col("tb"))
            & (
                (F.col("ta") != F.col("tb"))
                | (((F.col("i") - F.coalesce(F.col("prev_non_a"), F.lit(-1)) - 1) % 2) == 0)
            )
        ).alias("valid"),
    )
    l3 = l2.select(
        "w", "f", "i", "valid",
        F.when(F.col("valid"), F.concat("ta", "tb")).otherwise(F.col("s")).alias("out"),
        F.coalesce(F.lag("valid").over(ww), F.lit(False)).alias("consumed"),
    )
    new_state = (
        l3.where(~F.col("consumed"))
        .groupBy("w", "f")
        .agg(F.sort_array(F.collect_list(F.struct("i", "out"))).alias("po"))
        .select("w", "f", F.expr("transform(po, x -> x.out)").alias("syms"))
        .transform(materialize)
    )
    merge_row = top.select(F.lit(rnd).alias("round"), "a", "b", "cnt")
    return new_state, merge_row


def bpe_train(df: DataFrame, text_col: str, rounds: int = 3, max_word_len: int = 16) -> DataFrame:
    """BPE vocabulary induction (Sennrich et al., arXiv:1508.07909) over the
    corpus — EXACT and engine-reproducible: the learned merges are a pure
    integer function of the word-frequency table, with ties broken
    lexicographically, so Spark and the DuckDB oracle learn the SAME
    vocabulary (no reference analog; north-star LLM-pipeline layer — the
    tokenizer-training step of a data pipeline).

    Convention (documented, mirrored in the oracle): symbols start as the
    characters of each lowercased alphanumeric token (no end-of-word
    marker); pair counting weights every adjacent position by word
    frequency (overlapping included); merging is greedy left-to-right
    non-overlapping; one merge learned per round.

    Scale: the ONLY corpus-scale work is the initial token count — one
    explode + partial-aggregated groupBy.  Every round then runs at
    VOCAB grain (distinct words x word length), orders of magnitude
    smaller; the top pair is a 1-row broadcast (never a driver collect),
    and the state is checkpointed per round to keep lineage flat.

    Returns (round, a, b, cnt): the merge learned in each round.
    """

    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.length("w") <= max_word_len)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(
            "w", "f",
            F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))").alias("syms"),
        )
        .transform(materialize)
    )
    state, merge_rows = words, []
    for r in range(1, rounds + 1):
        state, mr = _bpe_one_round(state, r)
        merge_rows.append(mr)
    out = merge_rows[0]
    for mr in merge_rows[1:]:
        out = out.unionByName(mr)
    return out


def _bpe_ctes(rounds: int = 3, max_word_len: int = 16, src: str = "documents") -> str:
    """The unrolled DuckDB CTE chain shared by the train and apply oracles:
    identical word table, pair counting, tiebreak, and relational greedy
    merge per round."""
    ctes = [f"""words0 AS (
      SELECT w, count(*) AS f,
             list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)) AS syms
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM {src})
      WHERE length(w) <= {max_word_len} GROUP BY w
    )"""]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""pc{r} AS (
      SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(f) AS BIGINT) AS cnt
      FROM (SELECT f, syms, unnest(generate_series(1, len(syms) - 1)) AS i
            FROM words{p} WHERE len(syms) >= 2)
      GROUP BY 1, 2
    )""")
        ctes.append(f"""top{r} AS (SELECT a, b, cnt FROM pc{r} ORDER BY cnt DESC, a, b LIMIT 1)""")
        ctes.append(f"""pos{r} AS (
      SELECT w, f, i, syms[i] AS s, t.a AS ta, t.b AS tb
      FROM (SELECT w, f, syms, unnest(generate_series(1, len(syms))) AS i FROM words{p})
      CROSS JOIN top{r} t
    )""")
        ctes.append(f"""l1_{r} AS (
      SELECT w, f, i, s, ta, tb,
             lead(s) OVER (PARTITION BY w ORDER BY i) AS nxt,
             last_value(CASE WHEN s <> ta THEN i END IGNORE NULLS)
               OVER (PARTITION BY w ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_non_a
      FROM pos{r}
    )""")
        ctes.append(f"""l2_{r} AS (
      SELECT w, f, i, s, ta, tb,
             (s = ta AND nxt = tb AND
              (ta <> tb OR (i - coalesce(prev_non_a, 0) - 1) % 2 = 0)) AS valid
      FROM l1_{r}
    )""")
        ctes.append(f"""l3_{r} AS (
      SELECT w, f, i, valid,
             CASE WHEN valid THEN ta || tb ELSE s END AS out,
             coalesce(lag(valid) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
      FROM l2_{r}
    )""")
        ctes.append(f"""words{r} AS (
      SELECT w, f, list_transform(
               list_sort(list(struct_pack(i := i, o := out))), x -> x.o) AS syms
      FROM l3_{r} WHERE NOT consumed GROUP BY w, f
    )""")
    return ",\n    ".join(ctes)


def bpe_oracle_sql(rounds: int = 3, max_word_len: int = 16, src: str = "documents") -> str:
    """DuckDB twin of bpe_train."""
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS round, a, b, cnt FROM top{r}" for r in range(1, rounds + 1)
    )
    return "WITH " + _bpe_ctes(rounds, max_word_len, src) + f"\n    {unions}"


def bpe_apply(df: DataFrame, text_col: str, id_col: str, rounds: int = 3, max_word_len: int = 16) -> DataFrame:
    """APPLY side of the BPE split: tokenize the corpus with the merges
    bpe_train learned, reporting per-document token and symbol counts (the
    compression the vocabulary buys — the number that drives context-window
    budgeting).  Mirrors the build/probe discipline of sim_ivf_probe /
    search_index_probe: training is vocab-grain, application is one
    corpus-scale join against the (word -> n_symbols) table.

    Words longer than ``max_word_len`` fall back to character count
    (untrained words tokenize symbol-per-char), declared in the oracle too.

    Returns (id, n_tokens, n_symbols) with n_symbols <= total chars.
    """

    state = None
    # re-run the training to materialize the final word -> |syms| table;
    # rounds are vocab-grain (see bpe_train), so this costs the train pass
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.length("w") <= max_word_len)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(
            "w", "f",
            F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))").alias("syms"),
        )
        .transform(materialize)
    )
    state = words
    for r in range(1, rounds + 1):
        state, _ = _bpe_one_round(state, r)
    wlen = state.select("w", F.size("syms").alias("n_syms"))
    doc_words = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("w")
    )
    return (
        doc_words.join(wlen, "w", "left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("n_syms"), F.length("w"))).alias("n_symbols"),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "n_symbols")
    )


def bpe_apply_oracle_sql(rounds: int = 3, max_word_len: int = 16, src: str = "documents") -> str:
    """DuckDB twin of bpe_apply: the train CTE chain + the corpus join."""
    return f"""WITH {_bpe_ctes(rounds, max_word_len, src)},
    wlen AS (SELECT w, len(syms) AS n_syms FROM words{rounds}),
    dw AS (
      SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM {src}
    )
    SELECT dw.id AS doc_id, count(*) AS n_tokens,
           CAST(sum(coalesce(wlen.n_syms, length(dw.w))) AS BIGINT) AS n_symbols
    FROM dw LEFT JOIN wlen ON dw.w = wlen.w
    GROUP BY dw.id
    """


def _doc_span_keys(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(doc_id, hs): each doc's k-gram span keys in text order, one row per
    doc, fanned out by doc (``fan_out``) before the shingle+sha256 chain:
    the callers checkpoint these per-doc arrays, and every downstream stage
    inherits their partitioning."""
    raw = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__raw"))
    return fan_out(raw, "doc_id").select(
        "doc_id", F.transform(word_shingles(F.col("__raw"), k), span_key).alias("hs")
    )


def _rare_span_pairs(spans: DataFrame, max_span_df: int) -> DataFrame:
    """(a, b), a < b: the distinct doc pairs sharing a RARE span.  ``spans``
    is (doc_id, h) with one row per distinct (doc, span); each span with
    2 <= document frequency <= ``max_span_df`` collects its sorted doc list
    and ``bucket_pairs`` expands it in-task, so pair volume is bounded by
    max_span_df x |spans| — never an open posting self-join."""
    buckets = (
        spans.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_span_df))
    )
    return bucket_pairs(buckets.select("ds"), "a", "b").distinct()


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    max_span_df: int = 8,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: n-gram CONTAINMENT C = |A∩B| / min(|A|,|B|)
    over candidate pairs — the metric that catches a short document embedded
    verbatim inside a long one, which symmetric Jaccard structurally misses
    (a 100-gram quote inside a 10k-gram page has J ≈ 0.01 but C = 1.0).
    Broder's containment companion to dedup_ngram_jaccard.

    Blocking (the scale story): candidate pairs come ONLY from RARE shared
    k-gram spans (2 <= document frequency <= ``max_span_df``), expanded
    IN-BUCKET from each rare span's collected doc list (_rare_span_pairs,
    the dedup_minhash_lsh shape — never an open self-join), so pair volume is
    bounded by sum over rare spans of df^2 <= max_span_df * |spans|, linear
    in corpus size.  The intersection then runs candidate-bounded and
    MAP-SIDE: each doc's distinct span set is collected ONCE into a per-doc
    array (a row is its own document — the same payload the token array
    already was), the candidate list hash-joins the two arrays in by doc id,
    and |A∩B| is one in-task array_intersect — no join back onto the
    exploded span stream (the join-back shape shuffled ~|avg spans per doc|
    x |candidates| rows and was the sf1.0 hot spot, 40 s -> ~14 s).  Exact
    integer ppm; distinct (doc, span) pairs only.  Span keys are 48-bit
    sha256-prefix int64 (8 bytes vs a 16-byte hex string — same contract as
    related_docs/minhash slicing).
    """
    # each doc's DISTINCT span set needs no shuffle at all — array_distinct
    # over the doc's own shingle list is map-side (the old explode+distinct
    # shuffled the full span stream); the small per-doc frame (~1 row/doc)
    # is materialized once and feeds all three consumers below
    arrs = (
        _doc_span_keys(df, text_col, id_col, k)
        .select("doc_id", F.array_distinct("hs").alias("hs"))
        .transform(materialize)
    )
    cand = _rare_span_pairs(arrs.select("doc_id", F.explode("hs").alias("h")), max_span_df)
    # both array joins are hinted MERGE: every input descends from an
    # aggregation, so its STATIC size estimate is tiny and Spark would pick
    # a broadcast that OOMs the driver at corpus scale (the sf1.0 lesson).
    # shuffle_hash was the round-3 choice; the round-6 sf3 probe showed its
    # build side (per-doc span ARRAYS / the pair stream — both linear in
    # the corpus) outgrowing per-task execution memory at a fixed partition
    # count ("Can't acquire 512MB to build hash relation").  Sort-merge
    # keeps the no-broadcast guarantee AND degrades gracefully (sort
    # spills to disk instead of failing) at any data:partitions ratio.
    aa = arrs.select(F.col("doc_id").alias("a"), F.col("hs").alias("hs_a"))
    bb = arrs.select(F.col("doc_id").alias("b"), F.col("hs").alias("hs_b"))
    return (
        cand.hint("merge")
        .join(aa, "a")
        .hint("merge")
        .join(bb, "b")
        .select(
            "a",
            "b",
            F.size("hs_a").cast("long").alias("n_a"),
            F.size("hs_b").cast("long").alias("n_b"),
            F.size(F.array_intersect("hs_a", "hs_b")).cast("long").alias("n_inter"),
        )
        .select(
            "a",
            "b",
            "n_a",
            "n_b",
            "n_inter",
            F.expr("(1000000 * n_inter) div least(n_a, n_b)").alias("containment_ppm"),
        )
    )


def containment_oracle_sql(k: int = 5, max_span_df: int = 8, src: str = "documents") -> str:
    """DuckDB twin of containment_pairs."""
    grams = " || ' ' || ".join(f"t[j+{i}]" for i in range(k))
    return f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    ),
    spans AS (
      SELECT DISTINCT doc_id, ('0x' || substr(sha256({grams}), 1, 12))::BIGINT AS h
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - {k - 1}, 0))) AS j
            FROM tok WHERE len(t) >= {k})
    ),
    per_doc AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id),
    rare AS (
      SELECT h FROM (SELECT h, count(*) AS df_count FROM spans GROUP BY h)
      WHERE df_count BETWEEN 2 AND {max_span_df}
    ),
    r AS (SELECT s.doc_id, s.h FROM spans s JOIN rare USING (h)),
    cand AS (
      SELECT DISTINCT r1.doc_id AS a, r2.doc_id AS b
      FROM r r1 JOIN r r2 ON r1.h = r2.h AND r1.doc_id < r2.doc_id
    ),
    inter AS (
      SELECT c.a, c.b, count(*) AS n_inter
      FROM cand c
      JOIN spans sa ON sa.doc_id = c.a
      JOIN spans sb ON sb.doc_id = c.b AND sb.h = sa.h
      GROUP BY c.a, c.b
    )
    SELECT i.a, i.b, pa.n_spans AS n_a, pb.n_spans AS n_b, i.n_inter,
           (1000000 * i.n_inter) // least(pa.n_spans, pb.n_spans) AS containment_ppm
    FROM inter i
    JOIN per_doc pa ON pa.doc_id = i.a
    JOIN per_doc pb ON pb.doc_id = i.b
    """


def chi2_keyness(
    df: DataFrame,
    text_col: str,
    id_col: str,
    side_pred,
    min_total: int = 20,
    top_n: int = 50,
) -> DataFrame:
    """Chi-squared KEYNESS of every token between two corpus slices (the
    corpus-linguistics "what words characterize slice A vs the rest" test —
    the drift detector run between crawl snapshots / language slices before
    a training mix changes).  ``side_pred`` is a Column predicate over the
    input rows defining slice A.

    For token w with occurrence counts a (in A), b (in B), against slice
    totals NA, NB (c = NA-a, d = NB-b):

        chi2 = N * (a*d - b*c)^2 / ((a+b)(c+d)(a+c)(b+d)),  N = NA+NB

    computed EXACTLY: counts are int64, the numerator/denominator promote to
    decimal(38,0) (HUGEINT in the oracle — numerator peaks ~1e33 at sf1.0,
    far past int64), and the emitted statistic is the floor millis
    (num - num % den) / den — floor division spelled so both engines agree
    bit-for-bit.  Output: top ``top_n`` tokens by (chi2_milli DESC, token).

    Shape: ONE token-count aggregation with the side folded in as a
    conditional sum (partial-aggregable, vocabulary-sized result), a 1-row
    broadcast of the totals, map-only arithmetic, TakeOrderedAndProject.
    """

    tok = df.select(
        F.explode(tokens(F.col(text_col))).alias("token"),
        F.when(side_pred, F.lit(1)).otherwise(F.lit(0)).alias("in_a"),
    )
    counts = tok.groupBy("token").agg(
        F.sum("in_a").alias("a"),
        F.sum(F.lit(1) - F.col("in_a")).alias("b"),
    )
    totals = counts.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = counts.crossJoin(F.broadcast(totals)).where(F.col("a") + F.col("b") >= min_total)
    diff = dec(F.col("a")) * dec(F.col("nb") - F.col("b")) - dec(F.col("b")) * dec(
        F.col("na") - F.col("a")
    )
    num = F.lit(1000).cast("decimal(38,0)") * dec(F.col("na") + F.col("nb")) * diff * diff
    den = (
        dec(F.col("a") + F.col("b"))
        * dec(F.col("na") - F.col("a") + F.col("nb") - F.col("b"))
        * dec(F.col("na"))
        * dec(F.col("nb"))
    )
    out = j.select(
        "token",
        "a",
        "b",
        ((num - num % den) / den).cast("long").alias("chi2_milli"),
    )
    return out.orderBy(F.col("chi2_milli").desc(), F.col("token")).limit(top_n)


def chi2_keyness_oracle_sql(
    side_sql: str, min_total: int = 20, top_n: int = 50, src: str = "documents"
) -> str:
    """DuckDB twin of chi2_keyness; ``side_sql`` is the slice-A predicate."""
    return f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token,
             CASE WHEN {side_sql} THEN 1 ELSE 0 END AS in_a
      FROM {src}
    ),
    counts AS (
      SELECT token, sum(in_a) AS a, sum(1 - in_a) AS b FROM tok GROUP BY token
    ),
    totals AS (SELECT sum(a) AS na, sum(b) AS nb FROM counts)
    SELECT token, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(
             (CAST(1000 AS HUGEINT) * (na + nb)
              * (a * (nb - b) - b * (na - a)) * (a * (nb - b) - b * (na - a)))
             // ((a + b) * (na - a + nb - b) * na * nb)
           AS BIGINT) AS chi2_milli
    FROM counts, totals
    WHERE a + b >= {min_total}
    ORDER BY chi2_milli DESC, token LIMIT {top_n}
    """


def lm_trigram_backoff_scores(
    df: DataFrame, text_col: str, id_col: str, side_pred
) -> DataFrame:
    """CROSS-CORPUS trigram LM scoring with stupid backoff (Brants et al.,
    arXiv/EMNLP 2007 "Large Language Models in Machine Translation") — the
    shape CCNet actually runs: train the LM on a REFERENCE slice
    (``side_pred``), score the OTHER slice against it.  Unlike the
    self-trained bigram proxy (lm_bigram_scores), held-out scoring makes
    backoff real: a scored document's trigram may be absent from the
    reference, in which case the score backs off to the bigram, then the
    unigram, each step multiplied by alpha = 0.4.

    Integer-exact throughout: conditional probabilities live in ppm via
    floor division, the backoff multipliers are the exact rationals
    2/5 and 4/25 applied as integer cross-multiplies, unseen-everywhere
    trigrams score 0, and a document's score is the integer mean of its
    trigram scores — rank-equivalent to log-space stupid backoff for
    filtering, and bit-identical on any engine.

    Shape at 100 TB: three count aggregations over the train slice (each
    vocabulary-sized, full map-side combine), scoring is three LEFT joins of
    doc-trigrams against count tables keyed on token tuples, a 1-row total
    broadcast, one per-doc sum.  No floats, no UDFs, no driver state.

    Returns (id, n_trigrams, lm_bo_score_ppm) for scored-slice docs with
    >= 3 tokens.
    """
    # NULL-total predicate: a NULL side_pred row (e.g. NULL lang) must land
    # on the SCORED side, matching SQL's CASE WHEN ... ELSE — a bare boolean
    # filter would silently drop it from both slices (the cross-engine NULL
    # divergence the sf1.0 sweep caught in DSIR, and again here)
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.coalesce(side_pred.cast("boolean"), F.lit(False)).alias("__train"),
        tokens(F.col(text_col)).alias("t"),
    )
    train = toks.where(F.col("__train"))
    tri_of = lambda d: d.where(F.size("t") >= 3).select(  # noqa: E731
        "__id",
        F.explode(
            F.expr(
                "transform(sequence(2, size(t)-1), "
                "i -> struct(t[i-2] AS w1, t[i-1] AS w2, t[i] AS w3))"
            )
        ).alias("g"),
    ).select("__id", "g.w1", "g.w2", "g.w3")
    c3 = tri_of(train).groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    bi = train.where(F.size("t") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, size(t)-1), i -> struct(t[i-1] AS w1, t[i] AS w2))")
        ).alias("b")
    ).select("b.w1", "b.w2")
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = train.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c1")
    )
    tot = c1.agg(F.sum("c1").alias("T"))
    scored_tris = tri_of(toks.where(~F.col("__train")))
    j = (
        scored_tris.join(c3, ["w1", "w2", "w3"], "left")
        .join(
            c2.select(F.col("w1").alias("w1"), F.col("w2").alias("w2"), F.col("c2").alias("cp")),
            ["w1", "w2"],
            "left",
        )
        .join(
            c2.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("c2").alias("cb")),
            ["w2", "w3"],
            "left",
        )
        .join(c1.select(F.col("w").alias("w3"), F.col("c1").alias("cu")), "w3", "left")
        .join(c1.select(F.col("w").alias("w2"), F.col("c1").alias("cw2")), "w2", "left")
        .crossJoin(F.broadcast(tot))
    )
    score = (
        F.when(
            F.coalesce(F.col("c3"), F.lit(0)) > 0,
            F.expr("(1000000 * c3) DIV cp"),
        )
        .when(
            F.coalesce(F.col("cb"), F.lit(0)) > 0,
            F.expr("(2 * ((1000000 * cb) DIV cw2)) DIV 5"),
        )
        .when(
            F.coalesce(F.col("cu"), F.lit(0)) > 0,
            F.expr("(4 * ((1000000 * cu) DIV T)) DIV 25"),
        )
        .otherwise(F.lit(0))
    )
    return (
        j.select("__id", score.alias("s_ppm"))
        .groupBy("__id")
        .agg(F.sum("s_ppm").alias("s"), F.count(F.lit(1)).alias("n_trigrams"))
        .select(
            F.col("__id").alias(id_col),
            "n_trigrams",
            F.expr("s DIV n_trigrams").alias("lm_bo_score_ppm"),
        )
    )


def lm_trigram_backoff_oracle_sql(side_sql: str, src: str = "documents") -> str:
    """DuckDB twin of lm_trigram_backoff_scores; ``side_sql`` is the train
    slice predicate over the source table's columns."""
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, CASE WHEN {side_sql} THEN 1 ELSE 0 END AS train,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM {src}
    ),
    tri AS (
      SELECT id, train, t[i - 2] AS w1, t[i - 1] AS w2, t[i] AS w3
      FROM (SELECT id, train, t FROM toks WHERE len(t) >= 3),
           unnest(generate_series(3, len(t))) AS u(i)
    ),
    c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri WHERE train = 1 GROUP BY 1, 2, 3),
    bi AS (
      SELECT t[i - 1] AS w1, t[i] AS w2
      FROM (SELECT t FROM toks WHERE train = 1 AND len(t) >= 2),
           unnest(generate_series(2, len(t))) AS u(i)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
    c1 AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(t) AS w FROM toks WHERE train = 1) GROUP BY w
    ),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS T FROM c1),
    scored AS (
      SELECT s.id,
        CASE
          WHEN coalesce(c3.c3, 0) > 0 THEN (1000000 * c3.c3) // cp.c2
          WHEN coalesce(cb.c2, 0) > 0 THEN (2 * ((1000000 * cb.c2) // cw2.c1)) // 5
          WHEN coalesce(cu.c1, 0) > 0 THEN (4 * ((1000000 * cu.c1) // tot.T)) // 25
          ELSE 0
        END AS s_ppm
      FROM (SELECT * FROM tri WHERE train = 0) s
      LEFT JOIN c3 ON s.w1 = c3.w1 AND s.w2 = c3.w2 AND s.w3 = c3.w3
      LEFT JOIN c2 cp ON s.w1 = cp.w1 AND s.w2 = cp.w2
      LEFT JOIN c2 cb ON s.w2 = cb.w1 AND s.w3 = cb.w2
      LEFT JOIN c1 cu ON s.w3 = cu.w
      LEFT JOIN c1 cw2 ON s.w2 = cw2.w
      CROSS JOIN tot
    )
    SELECT id AS doc_id, count(*) AS n_trigrams,
           CAST(sum(s_ppm) AS BIGINT) // count(*) AS lm_bo_score_ppm
    FROM scored GROUP BY id
    """


def _fold_longest_runs(k: int):
    """Arrow kernel for longest_shared_run: per candidate pair, match the two
    positioned k-gram hash arrays through a dict (O(n_a + n_b + matches) —
    never the O(n_a * n_b) scan a native position filter would be), land every
    match on its diagonal d = j_a - j_b, and fold consecutive-j_a islands per
    diagonal in one sorted pass.  Exactly the gaps-and-islands window the
    relational shape computed, minus its two corpus-scale shuffles."""

    def fold(batches):
        import pandas as pd

        for pdf in batches:
            out_run, out_n = [], []
            for ha, hb in zip(pdf["hs_a"], pdf["hs_b"]):
                pos = {}
                for jb, h in enumerate(hb):
                    pos.setdefault(int(h), []).append(jb)
                matches = []
                for ja, h in enumerate(ha):
                    js = pos.get(int(h))
                    if js is not None:
                        for jb in js:
                            matches.append((ja - jb, ja))
                matches.sort()
                best = cur = 0
                prev_d = prev_j = None
                for d, ja in matches:
                    cur = cur + 1 if (d == prev_d and ja == prev_j + 1) else 1
                    if cur > best:
                        best = cur
                    prev_d, prev_j = d, ja
                out_run.append(best + k - 1)
                out_n.append(len(matches))
            yield pd.DataFrame(
                {
                    "a": pdf["a"],
                    "b": pdf["b"],
                    "max_run_tokens": pd.Series(out_run, dtype="int64", index=pdf.index),
                    "n_matches": pd.Series(out_n, dtype="int64", index=pdf.index),
                }
            )

    return fold


def longest_shared_run(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    max_span_df: int = 8,
) -> DataFrame:
    """LONGEST DUPLICATED TOKEN RUN between candidate document pairs — the
    substring-level dedup signal of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499): their suffix-array
    pass removes exact duplicated spans >= 50 tokens; this measures the same
    quantity pairwise.

    Method (gaps-and-islands over matching k-gram positions): every position
    pair with equal hashes lands on diagonal d = j_a - j_b, and a run of
    CONSECUTIVE shared k-grams on one diagonal is an island; the longest
    island of length L corresponds to a shared token run of L + k - 1.

    Shape (the round-7 rewrite, after the round-6 sf3 probe measured the
    relational form at 6.2x wall time on 3x data): candidate pairs come from
    rare shared spans (2 <= df <= ``max_span_df``) via IN-BUCKET expansion
    (_rare_span_pairs, as in containment_pairs — never an open posting
    self-join), each doc's POSITIONED hash array rides along the candidate
    row through two merge-hinted array joins, and the run detection folds
    IN-TASK over the two arrays (Arrow mapInPandas, dict-matched, one sorted
    diagonal pass).
    The old shape joined candidate pairs back onto the exploded position
    stream and windowed over the match rows — two shuffles whose volume
    (sum over pairs of per-doc positions, then per-pair matches) grows
    faster than the corpus; both are now in-task, so the only shuffles left
    are the bounded candidate build and the two per-doc-array merge joins,
    each linear in corpus + candidates.

    Emits (a, b, max_run_tokens, n_matches) per candidate pair, exact
    integers.  A doc repeating one k-gram m times contributes m x m' matches
    for that hash within a pair — bounded by the span-df cap upstream at
    corpus level; pathological within-pair repetition is a data-quality
    signal text_repetition already flags.
    """
    # positioned per-doc hash array (position = array index), ONE row per doc
    arrs = _doc_span_keys(df, text_col, id_col, k).transform(materialize)
    cand = _rare_span_pairs(
        arrs.select("doc_id", F.explode(F.array_distinct("hs")).alias("h")), max_span_df
    )
    # merge hints: see containment_pairs — the candidate list and the per-doc
    # array frames must never be broadcast (static estimates tiny, actual
    # sizes corpus-scale), and a shuffled-hash build of a corpus-linear side
    # outgrows fixed-partition task memory (round-6 sf3 probe); sort-merge
    # spills instead of failing
    aa = arrs.select(F.col("doc_id").alias("a"), F.col("hs").alias("hs_a"))
    bb = arrs.select(F.col("doc_id").alias("b"), F.col("hs").alias("hs_b"))
    paired = cand.hint("merge").join(aa, "a").hint("merge").join(bb, "b")
    id_t = dict(paired.dtypes)["a"]
    return paired.mapInPandas(
        _fold_longest_runs(k),
        schema=f"a {id_t}, b {id_t}, max_run_tokens bigint, n_matches bigint",
    )


def longest_run_oracle_sql(k: int = 5, max_span_df: int = 8, src: str = "documents") -> str:
    """DuckDB twin of longest_shared_run."""
    grams = " || ' ' || ".join(f"t[j+{i}]" for i in range(k))
    return f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    ),
    spans_pos AS (
      SELECT doc_id, j - 1 AS j, ('0x' || substr(sha256({grams}), 1, 12))::BIGINT AS h
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - {k - 1}, 0))) AS j
            FROM tok WHERE len(t) >= {k})
    ),
    spans AS (SELECT DISTINCT doc_id, h FROM spans_pos),
    rare AS (
      SELECT h FROM (SELECT h, count(*) AS df_count FROM spans GROUP BY h)
      WHERE df_count BETWEEN 2 AND {max_span_df}
    ),
    r AS (SELECT s.doc_id, s.h FROM spans s JOIN rare USING (h)),
    cand AS (
      SELECT DISTINCT r1.doc_id AS a, r2.doc_id AS b
      FROM r r1 JOIN r r2 ON r1.h = r2.h AND r1.doc_id < r2.doc_id
    ),
    matches AS (
      SELECT c.a, c.b, sa.j AS ja, sa.j - sb.j AS d
      FROM cand c
      JOIN spans_pos sa ON sa.doc_id = c.a
      JOIN spans_pos sb ON sb.doc_id = c.b AND sb.h = sa.h
    ),
    runs AS (
      SELECT a, b, d, isl, count(*) AS run_len
      FROM (
        SELECT a, b, d, ja,
               ja - row_number() OVER (PARTITION BY a, b, d ORDER BY ja) AS isl
        FROM matches
      ) GROUP BY a, b, d, isl
    )
    SELECT a, b, CAST(max(run_len) + {k - 1} AS BIGINT) AS max_run_tokens,
           CAST(sum(run_len) AS BIGINT) AS n_matches
    FROM runs GROUP BY a, b
    """


# ---------------------------------------------------------------------------
# RAG chunking: overlapping token windows
# ---------------------------------------------------------------------------


def chunk_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping token windows — the retrieval
    chunking pass that feeds an embedding index (window tokens per chunk,
    stride tokens between chunk starts, so consecutive chunks overlap by
    window - stride).

    Shape: tokenize once, then posexplode a sequence of chunk starts and
    slice the token array per start — the fan-out happens INSIDE the scan
    task (no shuffle anywhere; at 100 TB this is embarrassingly parallel
    and bounded by scan bandwidth, like every P-family parse).  Chunk ids
    are (doc_id, chunk_idx) — deterministic, so re-runs upsert cleanly into
    a chunk store keyed on them.  chunk_hash = sha256 of the space-joined
    window is the exact-dedup key for chunk-level dedup (boilerplate
    headers/footers collapse across documents before any embedding is paid
    for)."""

    assert stride > 0 and window > 0
    tok = df.select(F.col(id_col), tokens(F.col(text_col)).alias("t")).where(
        F.size("t") > 0
    )
    starts = F.sequence(F.lit(0), F.size("t") - 1, F.lit(stride))
    exploded = tok.select(
        F.col(id_col), F.col("t"), F.explode(starts).alias("start_tok")
    )
    chunk = F.slice(F.col("t"), F.col("start_tok") + 1, window)
    return exploded.select(
        F.col(id_col),
        F.expr(f"start_tok div {stride}").alias("chunk_idx"),
        F.col("start_tok"),
        F.size(chunk).alias("n_tok"),
        F.sha2(F.array_join(chunk, " "), 256).alias("chunk_hash"),
    )


def chunk_windows_oracle_sql(
    window: int = 64, stride: int = 48, src: str = "documents"
) -> str:
    """DuckDB twin of chunk_windows (range() is end-exclusive; list slicing
    is 1-based inclusive, clamped at the list end — both match Spark's
    sequence(0, n-1, stride) + slice(t, s+1, window))."""
    return f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    )
    SELECT doc_id,
           CAST(s // {stride} AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_tok,
           CAST(least({window}, len(t) - s) AS INTEGER) AS n_tok,
           sha256(array_to_string(t[s + 1 : s + {window}], ' ')) AS chunk_hash
    FROM (SELECT doc_id, t, unnest(range(0, len(t), {stride})) AS s
          FROM tok WHERE len(t) > 0)
    """


def novelty_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-document n-gram NOVELTY against corpus first occurrence: the share
    of a document's distinct k-gram spans whose earliest appearance (minimum
    doc id over the whole corpus) is the document itself — the freshness
    signal dedup-aware samplers weight by ("how much of this doc has the
    corpus already seen?"; near-1 novelty = genuinely new text, near-0 =
    reassembled boilerplate).  Complements containment_pairs: containment
    scores PAIRS, novelty scores each doc against the WHOLE corpus in one
    aggregate, no pair generation at all.

    Scale shape: each doc's distinct span set is map-side (array_distinct —
    containment_pairs' rule, no dedup shuffle); first occurrence is ONE
    partial-aggregable groupBy(span) min(doc id); the flag join back onto
    the span stream is span-keyed shuffle-hash (aggregation-descended size
    estimates must never broadcast — SCALE.md §11); the per-doc rollup is a
    second partial-aggregable groupBy.  Span keys are 48-bit sha256-prefix
    int64 (the minhash/related_docs contract).  Docs with fewer than ``k``
    tokens carry no spans and are excluded (documented; a zero-span doc has
    no defined novelty).  Exact integer ppm.
    """
    # the shingle+sha256 chain feeds BOTH the first-occurrence aggregate and
    # the flag join; materialize the small per-doc distinct-array frame once
    # (containment_pairs' rule: ~1 row/doc, expensive to compute, 2 consumers)
    arrs = (
        _doc_span_keys(df, text_col, id_col, k)
        .select("doc_id", F.array_distinct("hs").alias("hs"))
        .transform(materialize)
    )
    spans = arrs.select("doc_id", F.explode("hs").alias("h"))
    # no join back onto the span stream: a doc's first-occurrence count IS
    # the number of spans whose min-doc is that doc, so the whole answer is
    # two partial-aggregable groupBys (spans -> first occurrence -> count
    # per first doc) plus a doc-count-sized left join; n_spans comes free
    # from the checkpointed array frame
    first = spans.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    n_first = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_first")
    )
    return (
        arrs.select("doc_id", F.size("hs").cast("long").alias("n_spans"))
        .where(F.col("n_spans") > 0)
        .join(n_first.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce(F.col("n_first"), F.lit(0)).alias("n_first"),
            F.expr(
                "(1000000 * coalesce(n_first, 0)) div n_spans"
            ).alias("novelty_ppm"),
        )
    )


def novelty_oracle_sql(k: int = 5, src: str = "documents") -> str:
    """DuckDB twin of novelty_scores (same spans, same first-occurrence
    rule, derived through a row-level min window instead of the two-level
    aggregate — two independent derivations, one hash)."""
    grams = " || ' ' || ".join(f"t[j+{i}]" for i in range(k))
    return f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    ),
    spans AS (
      SELECT DISTINCT doc_id, ('0x' || substr(sha256({grams}), 1, 12))::BIGINT AS h
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - {k - 1}, 0))) AS j
            FROM tok WHERE len(t) >= {k})
    ),
    flagged AS (
      SELECT doc_id, h,
             (doc_id = min(doc_id) OVER (PARTITION BY h)) AS is_first
      FROM spans
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
           (1000000 * CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)) // count(*)
             AS novelty_ppm
    FROM flagged GROUP BY doc_id
    """
