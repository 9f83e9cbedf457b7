"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all shuffle-architected for 100 TB (north star in
BASELINE.json; not present in the reference — capability extension):

* exact        — sha256(content) groupBy; one shuffle on a 64-hex key.
* minhash-LSH  — shingle -> k minhashes -> banded keys -> bucket self-join.
  The self-join happens per (band, key) bucket, never all-pairs; bucket sizes
  are bounded by construction, so the join is linear-ish in candidates.
* simhash      — 16-bit fingerprint; near-dups share fingerprints (or differ
  in few bits); groupBy fingerprint is one shuffle.
* n-gram Jaccard — verification step on candidate pairs only (explode
  distinct shingles, join within blocking key, count intersections).
* embedding cosine — exact pairwise within blocking buckets (here: label) —
  the verification stage after ANN/LSH candidate generation.

All column-expression based (sha256 via ``sha2``), no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.text import simhash16, word_shingles
from ..functions.vectors import hyperplane_bucket_exact
from ..functions.materialize import materialize
from .exchange import fan_out


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups: keeper = min id per content hash; dup_count per
    group.  ``dropDuplicates`` is the keep-any variant; this form is
    deterministic and keeps the provenance count."""
    h = F.sha2(F.col(content_col), 256)
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 16, width: int = 12
) -> DataFrame:
    """(doc, mh0..mh{n-1}) minhash signature columns; empty-shingle docs are
    dropped.  The n hash functions are disjoint ``width``-hex slices of
    ``ceil(n*width/64)`` sha256 digests per shingle — independent under the
    random-oracle model, so 16 minhashes cost 4 sha256 calls (see
    minhash_bands notes)."""
    # the shingles are one regex (word_shingles, no lambda), so the explode,
    # the hashing and the per-doc min compile into one whole-stage code stage
    sh = doc_shingles(df.select(F.col(id_col).alias("doc"), text_col), text_col, "doc", 3)
    slices = 64 // width  # independent slices per sha256 hex digest
    # Slice the hex digest as BINARY before conv: its bytes are ASCII, so a
    # byte slice is the same text, but a binary substring is one array copy
    # where a string substring walks the UTF-8 characters one by one.
    digests = {
        g: F.sha2(F.concat(F.lit(f"{g}:"), F.col("s")), 256).cast("binary")
        for g in range((n + slices - 1) // slices)
    }
    # Aggregate the slices as BIGINTs, not hex strings: a min(string) buffer
    # is not UnsafeRow-mutable, so Spark plans the groupBy as SORTAGGREGATE —
    # a full sort of the exploded shingle stream (n x 16 x 12-char rows
    # through the sorter, n log n + spill), measured 4.7x wall at 3x data on
    # the sf3->sf9 probe (SCALE.md §48).  A 12-hex slice is 48 bits, exact in
    # a long; min over the numeric value picks the SAME winner as min over
    # the fixed-length lowercase-hex string (lexicographic == numeric there),
    # and the post-agg re-format emits the identical hex so every downstream
    # band key, pair, and oracle hash is unchanged — but the agg is now a
    # HashAggregate with map-side partial combine (plan-asserted).
    hashed = sh.select(
        "doc",
        *[
            F.conv(F.substring(digests[i // slices], 1 + width * (i % slices), width).cast("string"), 16, 10)
            .cast("long")
            .alias(f"h{i}")
            for i in range(n)
        ],
    )
    mins = hashed.groupBy("doc").agg(*[F.min(f"h{i}").alias(f"m{i}") for i in range(n)])
    return mins.select(
        "doc",
        *[F.lower(F.lpad(F.hex(F.col(f"m{i}")), width, "0")).alias(f"mh{i}") for i in range(n)],
    )


def minhash_bands(
    df: DataFrame, text_col: str, id_col: str, bands: int = 4, rows: int = 4, width: int = 12
) -> DataFrame:
    """(id, band, key) — one row per document per band; empty-shingle docs are
    dropped (they would otherwise all collide on the empty key).

    Shape chosen for scale: explode shingles once, then derive the
    ``bands*rows`` hash functions from ``ceil(n/5)`` sha256 digests per
    shingle — disjoint 12-hex slices of one 64-hex digest are independent
    hash functions under the random-oracle model, so 16 minhashes cost 4
    sha256 calls, not 16 (measured 4.8s -> ~2s at sf0.1; the earlier
    array-lambda-per-seed shape was 307s).  A single partial-aggregable
    groupBy(doc) takes the mins.  min over the distinct set == min over the
    multiset, so array_distinct before explode only shrinks the row count."""
    sig = minhash_signatures(df, text_col, id_col, n=bands * rows, width=width)
    return _band_keys(sig, bands, rows)


def _band_keys(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc, band, key) of a ``minhash_signatures`` frame: band b's key is
    the concatenation of signature slots b*rows .. (b+1)*rows - 1."""
    band_cols = [
        F.concat(*[F.col(f"mh{i}") for i in range(b * rows, (b + 1) * rows)]).alias(f"band{b}")
        for b in range(bands)
    ]
    stack_expr = ", ".join(f"'{b}', band{b}" for b in range(bands))
    return sig.select("doc", *band_cols).selectExpr("doc", f"stack({bands}, {stack_expr}) AS (band, key)")


# LSH bucket cap: a (band, key) bucket of n docs expands to n*(n-1)/2 pairs
# IN ONE TASK, so a degenerate mega-bucket (boilerplate cluster: licence
# headers, templated pages) turns a linear stage quadratic at 100 TB.  Buckets
# beyond the cap are dropped from pair expansion — near-dup members of such
# clusters are still caught by exact_dedup (identical text) or by their other
# bands; the cap only bounds the worst case.  Never silent: pass an
# ``Observation`` to get dropped_buckets / dropped_docs counters (one
# materialisation of the buckets), and the default is deliberately
# conservative.
DEFAULT_MAX_BUCKET = 512


def _lsh_buckets(
    bands_df: DataFrame,
    max_bucket: int | None,
    observation=None,
) -> DataFrame:
    """(band, key, ds) buckets of size >= 2, capped at ``max_bucket`` docs.
    ``observation`` (a ``pyspark.sql.Observation``) is attached BEFORE the cap
    filter so the dropped-bucket counters see the oversize buckets, and the
    observed buckets are materialised: riding the caller's action instead,
    the counters sat in a stage that AQE replaces with an empty relation
    when the cap drops every bucket, and never reported."""
    buckets = (
        bands_df.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    if observation is not None:
        over = F.size("ds") > F.lit(max_bucket if max_bucket is not None else 2**31 - 1)
        buckets = buckets.observe(
            observation,
            F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias("dropped_buckets"),
            F.coalesce(F.sum(F.when(over, F.size("ds")).otherwise(0)), F.lit(0)).alias("dropped_docs"),
            F.coalesce(F.max(F.size("ds")), F.lit(0)).alias("max_bucket_seen"),
        ).transform(materialize)
    if max_bucket is not None:
        buckets = buckets.where(F.size("ds") <= max_bucket)
    return buckets


def bucket_pairs(buckets: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """The (a, b) = (ds[i], ds[j]) pairs, i < j, of each row's ``ds`` array,
    with every other column of ``buckets`` carried onto each pair: a
    posexplode, then an explode of the tail after each position.  Neither
    generator takes a lambda, so both compile into the whole-stage code
    around them, and no pair is built only to be filtered out.

    The engine's one in-bucket pair expansion.  Contract: the members of
    each ``ds`` array are unique, as they are at every call site, so a
    sorted ``ds`` gives a < b and a bucket of n members gives n(n-1)/2
    pairs.  No ``distinct``: a caller that needs set semantics across
    buckets adds it."""
    keep = [c for c in buckets.columns if c != "ds"]
    return buckets.select(*keep, "ds", F.posexplode("ds").alias("__i", a)).select(
        *keep, a, F.explode(F.slice("ds", F.col("__i") + 2, F.size("ds"))).alias(b)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    observation=None,
) -> DataFrame:
    """Candidate near-duplicate pairs (doc_a < doc_b) sharing >=1 LSH band.

    Pairs are generated inside each (band, key) bucket via groupBy +
    collect_list + ``bucket_pairs`` — NOT a self-join: a self-join would
    re-evaluate the whole minhash pipeline for both branches (measured 2x
    cost) and shuffle the bands twice.  One shuffle to buckets, pairs expand
    in-task.  Typical bucket sizes are bounded by LSH construction; degenerate
    mega-buckets (boilerplate clusters) are dropped at ``max_bucket`` docs so
    no task ever expands quadratically — see _lsh_buckets for the counters."""
    b = minhash_bands(df, text_col, id_col, bands, rows)
    buckets = _lsh_buckets(b, max_bucket, observation)
    return bucket_pairs(buckets.select("ds")).distinct()


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return fan_out(df.select(id_col, text_col), id_col).select(
        F.col(id_col), simhash16(F.col(text_col)).alias("simhash")
    )


def simhash_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Documents sharing an identical 16-bit simhash (candidate near-dups)."""
    fp = simhash_fingerprints(df, text_col, id_col)
    return (
        fp.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def doc_shingles(df: DataFrame, text_col: str, id_col: str, k: int, *carry: str) -> DataFrame:
    """(id, *carry, s): one row per distinct k-word shingle (``word_shingles``)
    of each document, the ``carry`` columns kept on every row.  The projected
    frame is fanned out by id (``fan_out``) and shingled after the exchange,
    so a per-document aggregate downstream needs no second exchange.  A
    document below k tokens, or with a NULL text, has no rows."""
    raw = df.select(id_col, *carry, F.col(text_col).alias("__raw"))
    return fan_out(raw, id_col).select(
        id_col, *carry, F.explode(F.array_distinct(word_shingles(F.col("__raw"), k))).alias("s")
    )


def shingle_set(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """(s): the distinct k-word shingles over every text of ``df`` — the eval
    side of the contamination operators.  Not fanned out: its rows feed a
    DISTINCT keyed on the shingle, which a doc-keyed exchange cannot serve."""
    raw = df.select(F.col(text_col).alias("__raw"))
    return raw.select(F.explode(F.array_distinct(word_shingles(F.col("__raw"), k))).alias("s")).distinct()


def _jaccard_tail(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """inter(doc_a, doc_b, inter) x sizes(doc, n_shingles) -> thresholded
    exact-Jaccard rows.  inter/union are exact ints; the ratio is a single
    double division — cross-engine bit-exact."""
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
    )
    return jac.where(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.2,
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Jaccard similarity over distinct k-word shingles for pairs within a
    blocking key.  The blocking key must keep per-(block, shingle) posting
    lists small — an LSH bucket id qualifies, a whole language does NOT (a
    stop-shingle shared by 1% of an English corpus is a quadratic posting
    list).  For coarse blocks pass ``max_df``: shingles whose document
    frequency within the block exceeds it are excluded from intersection
    counts (they carry no discriminating signal; sizes stay uncapped, so
    jaccard is a documented lower bound for pairs touching dropped shingles).
    For the exact production shape, verify LSH candidates instead:
    ``ngram_jaccard_verify(df, minhash_lsh_pairs(df, ...))``."""
    blocked = df.select(F.col(id_col).alias("doc"), F.col(block_col).alias("blk"), text_col)
    sh = doc_shingles(blocked, text_col, "doc", k, "blk")
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    joinable = sh
    if max_df is not None:
        rare = (
            sh.groupBy("blk", "s")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_df)
            .select("blk", "s")
        )
        joinable = sh.join(rare, ["blk", "s"], "left_semi")
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_tail(inter, sizes, threshold)


def ngram_jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.2,
    k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard restricted to a candidate-pair set (doc_a, doc_b)
    — the verification stage after LSH.  This is the 100 TB shape: the
    expensive exact intersection runs only on |candidates| pairs, every join
    keys on document ids (plus shingle on the already-pair-bounded side), and
    no shingle posting list is ever self-joined.  Cost is
    O(|pairs| x shingles/doc), independent of corpus-wide shingle skew."""
    sh = doc_shingles(df.select(F.col(id_col).alias("doc"), text_col), text_col, "doc", k)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    p = pairs.select("doc_a", "doc_b")
    a = sh.select(F.col("doc").alias("doc_a"), "s")
    b = sh.select(F.col("doc").alias("doc_b"), "s")
    inter = (
        p.join(a, "doc_a")
        .join(b, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_tail(inter, sizes, threshold)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str | None = None,
    threshold: float = 0.99,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine near-dup pairs within a blocking column (or all-pairs when
    None — verification-stage sizes only).  At scale, block by LSH bucket
    (similarity.hyperplane_bucket) so the self-join is per-bucket.

    Norms are computed ONCE per vector on the map side, so each pair costs a
    single dot fold + one divide — a pair-side cosine() would redo both
    sqrt-folds for every partner (measured ~3x slower at n^2 pair counts).
    dot/(na*nb) is the identical expression tree to cosine(), so scores and
    threshold membership are bit-unchanged.

    Pass ``dim`` when the embedding dimension is known: the per-pair dot then
    unrolls into indexed products (functions/vectors.dot_fixed) that compile
    through whole-stage codegen instead of the interpreted zip_with fold —
    ~order-of-magnitude faster on the pair join, bit-identical sums."""
    from ..functions.vectors import dot, dot_fixed, norm

    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    ]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    v = df.select(*cols)
    # fan the probe side out: when the other side broadcasts, the pair join's
    # parallelism is the STREAM side's partitioning — a single-file corpus
    # would evaluate all O(n^2/2^b) pair predicates in a handful of tasks
    # (measured: 4 tasks grinding at sf1.0).  The bucket rides along.
    a, b = fan_out(v, "id").alias("a"), v.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    pair_dot = (
        dot_fixed(F.col("a.vec"), F.col("b.vec"), dim) if dim else dot(F.col("a.vec"), F.col("b.vec"))
    )
    sim = pair_dot / (F.col("a.nrm") * F.col("b.nrm"))
    out = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim.alias("cos")]
    if block_col:
        out.append(F.col("a.blk").alias("bucket"))
    return a.join(b, cond).select(*out).where(F.col("cos") >= threshold)


def embedding_lsh_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    threshold: float = 0.99,
    scale: int = 1_000_000,
    dim: int | None = None,
    kernel: str = "arrow",
    gemm_block: int = 4096,
) -> DataFrame:
    """Embedding near-dup pairs at PRODUCTION blocking: block by the
    integer-exact hyperplane-LSH bucket (functions/vectors.
    hyperplane_bucket_exact), so pairwise cosine runs per bucket —
    corpus/2^bits rows each — never per label or corpus-wide.  With b planes
    the expected per-bucket size is n/2^b, so pair cost is n^2/2^b spread
    over 2^b independent tasks; at 100 TB the bucket id is the written
    partition column and each task reads one partition.

    ``kernel="arrow"`` (default): per-bucket numpy GEMM inside
    ``applyInPandas`` — a DECLARED Arrow slot (like the multimodal decode
    kernels).  This is the industry-standard embedding-dedup hot path:
    only the bucket's vectors cross Arrow (one row per vector, never per
    pair), the c_i x c_i similarity matrix is one BLAS matmul, and output
    rows are only the pairs above threshold.  Measured rationale: any
    per-pair Catalyst expression over 64 dims — the interpreted
    zip_with fold AND the unrolled codegen sum (whose generated method
    exceeds the JVM JIT's huge-method bytecode limit and therefore runs in
    the bytecode interpreter) — costs ~50-100x a GEMM at 10^8 pairs
    (observed: multi-minute stragglers at sf1.0 vs seconds of BLAS).
    Oversized buckets GEMM in ``gemm_block``-row stripes, so memory is
    bounded at block x bucket, not bucket^2.

    ``kernel="expr"``: the pure-expression self-join
    (embedding_near_dup_pairs) — zero Python, fine up to ~10^6 pairs.

    Score boundary safety: the two kernels may differ in the last float
    ulps (BLAS blocking vs left fold); registered thresholds sit in
    measured 1e-3-wide distribution gaps, so membership — and the emitted
    (id_a, id_b, bucket) rows — are identical.

    Input domain: a NULL vector lands in the all-"0" bucket and never pairs
    on both kernels (its dots and norm are NULL).  The arrow kernel raises a
    ValueError naming the row id for a vector holding a NULL, NaN or ±inf
    element, of the wrong dimension, or whose int64 dot could overflow:
    Arrow hands it NULL elements as NaN, so it cannot tell the two apart,
    and the expression kernel gives no defined bucket there either (under
    ANSI it raises ARITHMETIC_OVERFLOW on ±inf; NaN quantizes to 0 and a
    NULL element or a short vector zeroes every bit).

    Returns (id_a, id_b, cos, bucket)."""
    if kernel == "expr":
        b = df.withColumn("__lsh_bkt", hyperplane_bucket_exact(F.col(vec_col), planes, scale))
        return embedding_near_dup_pairs(
            b, vec_col, id_col, block_col="__lsh_bkt", threshold=threshold, dim=dim
        )
    if kernel != "arrow":
        raise ValueError(f"unknown kernel {kernel!r}: 'arrow' or 'expr'")
    import math

    import numpy as np
    import pandas as pd

    # Bucket bits via the SAME int64 GEMM kernel class as the scorer
    # (round-11): hyperplane_bucket_exact's 8 `aggregate(zip_with(...))`
    # folds are CodegenFallback — evaluated expression-interpreted per
    # element, they were over half this operator's wall time (probed
    # 1.69-2.65 s -> 0.43 s min-of-6 at sf0.1 for the bucket stage; the
    # unrolled-codegen form probed 2-3x SLOWER than the folds — the 512-term
    # method blows the JIT bytecode limit, the docstring's known failure
    # mode).  BIT-IDENTICAL integers: float32 -> float64 is exact, the
    # float64 multiply by `scale` of a <=24-bit-mantissa value is exact
    # (<=44 mantissa bits), np.floor == F.floor, and the int64 dot against
    # the SAME floor-quantized plane matrix stays < 2^53 at dim 64 — both
    # engines compute every sign identically (pinned by
    # tests/test_llm_ops.py's kernel-agreement case).
    qp_t = np.array(
        [[int(math.floor(float(x) * float(scale))) for x in p] for p in planes],
        dtype=np.int64,
    ).T  # dim x n_planes
    n_dims, n_planes = qp_t.shape
    abs_qp = np.abs(qp_t).astype(np.float64)

    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()

    def bucketize(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(__lsh_bkt=pd.Series([], dtype=object))
                continue
            live = pdf["__vec"].notna().to_numpy()
            # a NULL vector: every dot is NULL, so every bit is "0"
            bits = np.full((len(pdf), n_planes), "0")
            if live.any():
                ids, vecs = pdf["__id"][live].to_numpy(), pdf["__vec"][live]
                ok = vecs.map(len).to_numpy() == n_dims
                if ok.all():
                    q = np.floor(np.array(vecs.tolist(), dtype=np.float64) * float(scale))
                    # finite, and no partial dot can leave int64 (2^62 covers
                    # the float64 rounding of the bound itself)
                    with np.errstate(invalid="ignore"):
                        ok = np.isfinite(q).all(axis=1) & (np.abs(q) @ abs_qp < 2.0 ** 62).all(axis=1)
                if not ok.all():
                    raise ValueError(
                        f"embedding LSH arrow kernel: row {ids[~ok][0]!r} is not a finite "
                        f"{n_dims}-dim vector within the exact int64 range"
                    )
                bits[live] = np.where(q.astype(np.int64) @ qp_t >= 0, "1", "0")
            out = pdf.copy()
            out["__lsh_bkt"] = ["".join(r) for r in bits]
            yield out

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        bucket = pdf["__lsh_bkt"].iloc[0]
        pdf = pdf[pdf["__vec"].notna()]  # a NULL vector never pairs
        ids = pdf["__id"].to_numpy()
        m = np.array(pdf["__vec"].tolist(), dtype=np.float64).reshape(len(ids), n_dims)
        nrm = np.sqrt((m * m).sum(axis=1))
        out_a, out_b, out_c = [], [], []
        for lo in range(0, len(ids), gemm_block):
            hi = min(lo + gemm_block, len(ids))
            s = (m[lo:hi] @ m.T) / np.outer(nrm[lo:hi], nrm)
            ia, ib = np.where(s >= threshold)
            keep = ids[lo + ia] < ids[ib]  # id-ordered pairs, no self/dup
            out_a.append(ids[lo + ia][keep])
            out_b.append(ids[ib][keep])
            out_c.append(s[ia, ib][keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                "cos": np.concatenate(out_c) if out_c else np.array([], dtype=np.float64),
                "bucket": bucket,
            }
        )

    sel = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    b = sel.mapInPandas(
        bucketize, f"__id {id_t}, __vec {vec_t}, __lsh_bkt string"
    )
    return b.groupBy("__lsh_bkt").applyInPandas(
        score, "id_a long, id_b long, cos double, bucket string"
    )


def connected_components(pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 25) -> DataFrame:
    """Connected components over a candidate-pair edge list: label every node
    with the minimum reachable node id (= cluster id), so an LSH pair stage
    becomes whole duplicate CLUSTERS, not just pairwise hits.

    Min-label propagation to fixpoint: each round joins labels to the
    (symmetrized) edges and takes the min over the neighbours.  Rounds
    needed = graph diameter, which for near-dup clusters is tiny (dup groups
    are dense).  Each label frame is eagerly materialized with its sum(lbl)
    riding the same job as an Observation, so a round is one job chain and
    the plan does not grow with the rounds.  At 100 TB the same loop holds —
    each round is one shuffle join on node id — and pathological
    chain-shaped graphs can switch to large-star/small-star
    (connected_components_star), which squares the diameter away with the
    identical DataFrame-join building blocks.

    Returns (node, cluster_id) for every node that appears in >=1 pair.
    """
    # both orientations of every pair from ONE pass over the pairs (an
    # inline of a two-element array), so the upstream plan runs once.  No
    # distinct: a repeated edge only repeats a min, and LSH pairs are
    # distinct already
    edges = pairs.select(
        F.inline(
            F.array(
                F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
            )
        )
    ).transform(materialize)

    def pinned(labels: DataFrame):
        # the convergence probe rides the labels' eager materialization as an
        # Observation: sum(lbl) arrives with the pinned blocks, no extra job
        obs = Observation()
        out = labels.observe(obs, F.sum("lbl").alias("s")).transform(materialize)
        return out, obs.get["s"]

    # seed labels with the ONE-HOP minimum (min of self and all neighbors)
    # instead of self: near-dup clusters are near-cliques (LSH expands
    # all-pairs inside a bucket), so for a clique this seed IS the fixpoint
    # and the loop exits after a single confirming round.
    labels, prev_sum = pinned(
        edges.select(F.col("a").alias("node"), F.least("a", "b").alias("lbl"))
        .groupBy("node")
        .agg(F.min("lbl").alias("lbl"))
    )
    # A round takes each node's min over its neighbours' labels only: from
    # the one-hop seed on, some neighbour of every node already holds a label
    # at most its own (the node's label came from a neighbour, or it is the
    # node's id and every neighbour took that id or less in the seed), so the
    # {self} term of the min never wins and the union with the old labels is
    # not needed.  Labels never increase, so sum(lbl) falls until the
    # fixpoint: a round that leaves the sum unchanged moved no label.  An
    # empty pair set sums to NULL twice and exits the same way.
    for _ in range(max_iter):
        labels, cur_sum = pinned(
            edges.join(labels, edges["a"] == labels["node"])
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("lbl").alias("lbl"))
        )
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("node"), F.col("lbl").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    return_rounds: bool = False,
):
    """Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
    — the chain-safe fallback connected_components' docstring cites.

    Min-label propagation needs diameter-many rounds, so a path-shaped
    candidate graph (chained near-dups: A~B~C~...) degrades to O(n) shuffles.
    The star operators square the diameter away: large-star hangs every
    neighbor v > u under m = min(N(u) ∪ {u}); small-star re-hangs the small
    neighbors; each round is two groupBy+join shuffles on node id (the same
    building blocks as the min-label loop) and the edge set converges to
    per-component stars rooted at the component minimum in O(log n) rounds
    (property-tested on path graphs in tests/test_property.py).

    Returns (node, cluster_id) — identical labels to connected_components
    (cluster id = component minimum), so the two methods are interchangeable
    under any oracle.  ``return_rounds=True`` returns (labels, rounds) for
    round-complexity assertions."""
    p = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).transform(materialize)
    nodes = p.select("a").union(p.select("b")).distinct().transform(materialize)
    edges = (
        p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )

    def _sig(e: DataFrame):
        # O(1)-output convergence probe: multiset fingerprint of the edge set
        r = e.agg(
            F.count("*").alias("n"),
            F.sum("a").alias("sa"),
            F.sum("b").alias("sb"),
            # xor, not sum: a full-range int64 hash sum overflows under ANSI;
            # edges are distinct so xor is an exact set fingerprint
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).collect()[0]
        return (r.n, r.sa, r.sb, r.h)

    def large_star(e: DataFrame) -> DataFrame:
        m = e.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        j = e.join(m, "a")
        out = j.where(F.col("b") > F.col("a")).select(F.col("b").alias("a"), F.col("m").alias("b"))
        return out.where(F.col("a") != F.col("b")).distinct()

    def small_star(e: DataFrame) -> DataFrame:
        # orient every edge large->small, then hang each node's small
        # neighbors (and itself) under the minimum
        o = e.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        m = o.groupBy("a").agg(F.min("b").alias("m"))
        j = o.join(m, "a")
        out = j.select(F.col("b").alias("a"), F.col("m").alias("b")).union(
            m.select(F.col("a"), F.col("m").alias("b"))
        )
        return out.where(F.col("a") != F.col("b")).distinct()

    rounds = 0
    sig = _sig(edges)
    for _ in range(max_iter):
        # symmetrize for large-star (it reasons over full neighborhoods)
        sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
        edges = small_star(large_star(sym)).transform(materialize)
        rounds += 1
        new_sig = _sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    # converged: edges are (node, component-min) stars; roots carry themselves
    parents = edges.groupBy("a").agg(F.min("b").alias("lbl")).select(
        F.col("a").alias("node"), "lbl"
    )
    labels = (
        nodes.select(F.col("a").alias("node"))
        .join(parents, "node", "left")
        .select("node", F.coalesce("lbl", F.col("node")).alias("cluster_id"))
    )
    return (labels, rounds) if return_rounds else labels


def dedup_keep_list(df: DataFrame, id_col: str, clusters: DataFrame) -> DataFrame:
    """The final curation decision: every document labeled with its duplicate
    cluster and a kept flag (keeper = min id in cluster; singletons keep
    themselves).  One left join of the corpus against the (much smaller)
    cluster map — the map side is broadcastable whenever the dup rate is low,
    which is the common 100 TB case."""
    cl = clusters.select(F.col("node"), F.col("cluster_id"))
    joined = df.join(cl, df[id_col] == cl["node"], "left")
    cid = F.coalesce(cl["cluster_id"], df[id_col])
    return joined.select(
        df[id_col], cid.alias("cluster_id"), (cid == df[id_col]).alias("kept")
    )


def ngram_contamination(
    corpus: DataFrame, eval_df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    DISTINCT k-word shingles appear anywhere in the eval/benchmark set.
    contam_ppm is exact integer math; docs shorter than k tokens are out of
    scope (no shingles).

    Scale shape: the eval set's distinct shingles are tiny next to the corpus
    (benchmarks are MBs, corpora are TBs) — broadcast them, so the corpus
    pass is one scan + broadcast-hash semi-count, no corpus shuffle besides
    the per-doc count."""
    corpus_sh = doc_shingles(corpus, text_col, id_col, k)
    eval_sh = shingle_set(eval_df, text_col, k)
    # ONE corpus pass (round-10): the old total/hits branches each re-ran
    # the corpus tokenize + shingle explode (the regex-heavy stage) and then
    # joined the two per-doc counts back together.  A broadcast LEFT join
    # marks eval shingles in-stream, so one aggregate emits both counts —
    # count(*) is the shingle total, count(marker) the non-null hits — and
    # the total⋈hits join disappears with the second pass.
    marked = corpus_sh.join(
        F.broadcast(eval_sh.withColumn("__hit", F.lit(1))), "s", "left"
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_hits"),
        )
        .withColumn("contam_ppm", F.expr("(1000000 * n_hits) div n_shingles"))
    )


def minhash_scored_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 4,
    rows: int = 4,
    width: int = 12,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    observation=None,
) -> DataFrame:
    """LSH candidate pairs WITH their minhash Jaccard estimate: n_match =
    number of agreeing signature slots, est_jaccard_ppm = n_match/n exact
    integer ppm — the standard verify-cheaply-before-expensive-Jaccard
    refinement.

    The signature table is materialized once (localCheckpoint) and reused
    three ways — band keys, then two sides of the scoring join — instead of
    re-running the shingle+hash pipeline per use.  Pair generation stays the
    in-bucket ``bucket_pairs`` shape of minhash_lsh_pairs; the scoring join
    keys on doc id against the (corpus-sized but narrow) signature table."""
    n = bands * rows
    sig = minhash_signatures(df, text_col, id_col, n=n, width=width).transform(materialize)
    buckets = _lsh_buckets(_band_keys(sig, bands, rows), max_bucket, observation)
    pairs = bucket_pairs(buckets.select("ds")).distinct()
    a = sig.select(F.col("doc").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n)])
    b = sig.select(F.col("doc").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n)])
    n_match = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(n))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_match", n_match)
        .withColumn("est_jaccard_ppm", F.expr(f"(1000000 * n_match) div {n}"))
        .select("doc_a", "doc_b", "n_match", "est_jaccard_ppm")
    )


def minhash_cross_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ref_col: str,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """BIPARTITE near-dup candidates: (new_id, ref_id) pairs where a NEW
    document shares >=1 LSH band with a REFERENCE-corpus document (``ref_col``
    boolean column).  The cross-corpus dedup every training run needs —
    "which candidate docs duplicate something already in the training set /
    eval set / previous dump" — without ever pairing new-vs-new or
    ref-vs-ref (no reference analog; north-star layer).

    Shape: ONE minhash pipeline over the tagged union (not one per side —
    the shingle/hash scan is the dominant cost and is shared), one bucket
    shuffle, then pairs expand in-task as refs x news per bucket, skipping
    same-side combinations entirely.  The mega-bucket cap bounds the worst
    case exactly like minhash_lsh_pairs.
    """
    tagged = df.select(
        F.struct(
            F.col(ref_col).cast("boolean").cast("int").alias("r"),
            F.col(id_col).alias("i"),
        ).alias("__sid"),
        F.col(text_col).alias("__text"),
    )
    b = minhash_bands(tagged, "__text", "__sid", bands, rows)
    buckets = _lsh_buckets(b, max_bucket)
    refs = F.filter(F.col("ds"), lambda d: d["r"] == 1)
    news = F.filter(F.col("ds"), lambda d: d["r"] == 0)
    pairs = F.flatten(
        F.transform(
            news,
            lambda nw: F.transform(
                refs, lambda r: F.struct(nw["i"].alias("new_id"), r["i"].alias("ref_id"))
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.new_id").alias("new_id"), F.col("p.ref_id").alias("ref_id"))
        .distinct()
    )
