"""Bloom-filter membership pre-screening — the classic big-data shape for
"does this item appear in that set?" at 100 TB (north-star LLM-pipeline
layer; companion to operators/dedup.ngram_contamination, which is the exact
check it accelerates).

A Bloom filter with k=4 sha256-derived positions in a 2^20-bit space answers
set membership with zero false NEGATIVES and a quantifiable false-positive
rate, using a constant-size structure however large the reference set grows.
At scale, the exact decontamination join must broadcast every distinct eval
shingle STRING; the Bloom pre-screen broadcasts only the set-bit positions
(<= k * |eval| longs, deduplicated — and bounded by 2^20 regardless), then
the exact join runs only on the tiny pre-screened survivor set.

Determinism: positions are sha256 bits (5 hex chars = exactly 20 bits), set
membership is an equi-join, the hit rule is "all k positions set" — the whole
screen, INCLUDING its false positives, is bit-identical on any engine, so
the oracle hash-checks the approximate operator (same discipline as
operators/sketch.py).  Spark's own BloomFilterMightContain cannot promise
that (engine-internal hashing) — same reason approx_count_distinct is only
ever rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import doc_shingles, shingle_set

K_HASHES = 4
M_BITS = 20  # 2^20-bit space: 5 hex chars of the digest, exactly


def bloom_positions(item: Column) -> Column:
    """Array of K_HASHES positions in [0, 2^M_BITS) for one item."""
    return F.array(
        *[
            F.conv(F.substring(F.sha2(F.concat(F.lit(f"b{i}:"), item), 256), 1, 5), 16, 10).cast(
                "long"
            )
            for i in range(K_HASHES)
        ]
    )


def bloom_build(items: DataFrame, item_col: str) -> DataFrame:
    """The filter: the distinct set-bit positions of every item — a
    single-column long table, <= min(k * |items|, 2^20) rows, broadcast-sized
    by construction."""
    return (
        items.select(F.explode(bloom_positions(F.col(item_col))).alias("pos")).distinct()
    )


def bloom_screen(candidates: DataFrame, item_col: str, bloom: DataFrame) -> DataFrame:
    """Candidates annotated with might_contain: true iff ALL k positions are
    set.  No false negatives; false positives at the standard (1-e^{-kn/m})^k
    rate.  One broadcast left join per position against the distinct set
    bits, so each candidate row stays one row and is screened on its own,
    however often it repeats — no aggregate, no join back."""
    out = candidates.select("*", bloom_positions(F.col(item_col)).alias("_pos"))
    might_contain = F.lit(True)
    for i in range(K_HASHES):
        bit = F.broadcast(bloom.select(F.col("pos").alias(f"_set{i}")))
        out = out.join(bit, F.col("_pos")[i] == F.col(f"_set{i}"), "left")
        might_contain = might_contain & F.col(f"_set{i}").isNotNull()
    return out.select(*candidates.columns, might_contain.alias("might_contain"))


def bloom_contamination(
    corpus: DataFrame, eval_df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Per-doc decontamination screen: exact 5-gram contamination next to the
    Bloom pre-screen's verdict, so the false-positive overhead is measurable.
    Returns (id, n_shingles, n_hits, n_bloom_hits, contam_ppm, bloom_ppm).
    Both sides are shingled as in ngram_contamination, and so are the counts:
    the corpus shingle stream is read once, its exact hits marked by a
    broadcast left join and its Bloom verdicts by ``bloom_screen``, and one
    per-doc aggregate emits all three counts."""
    eval_sh = shingle_set(eval_df, text_col, k)
    marked = bloom_screen(
        doc_shingles(corpus, text_col, id_col, k).join(
            F.broadcast(eval_sh.withColumn("__hit", F.lit(1))), "s", "left"
        ),
        "s",
        bloom_build(eval_sh, "s"),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_hits"),
            F.count(F.when(F.col("might_contain"), 1)).alias("n_bloom_hits"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_hits",
            "n_bloom_hits",
            F.expr("(1000000 * n_hits) div n_shingles").alias("contam_ppm"),
            F.expr("(1000000 * n_bloom_hits) div n_shingles").alias("bloom_ppm"),
        )
    )
