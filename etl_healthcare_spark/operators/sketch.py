"""Mergeable distinct-count sketches (HyperLogLog) built from first
principles on sha256 — the cardinality layer a 100 TB corpus dashboard needs
(north-star LLM-pipeline layer; no reference analog — the reference's stats
are exact counts over tenant-sized data, services/health-api/src/handler.ts).

Why not approx_count_distinct: Spark's HLL++ sketch is engine-internal and
non-reproducible across engines, so it can only ever be a rows-only check
(see g5b_approx_quantiles).  This sketch is defined purely in terms of
sha256 bits, so Spark and DuckDB compute IDENTICAL registers, identical
scaled sums, and (single IEEE division) identical raw estimates — a fully
hash-checkable approximate operator.

Construction (classic Flajolet m=256):
  h          = sha256(item)
  register   = first 2 hex chars (0..255)
  rank       = leading-zero count of the next 52 bits + 1, capped at 40
  registers  = MAX(rank) per (group, register)          [mergeable: MAX]
  S_scaled   = sum over registers of 2^(48-rank)        [int64-exact: <= 2^56]
  estimate   = alpha_m * m^2 * 2^48 / S_scaled          [one double division]

Merge property: registers from disjoint shards combine by element-wise MAX —
the same groupBy().agg(max) shape at any tree depth, which is what makes the
sketch a one-pass distributed aggregate at 100 TB (exact distinct needs a
full shuffle of every distinct value; the sketch shuffles at most
group x 256 rows).  `No small-range linear-counting correction is applied
(it needs ln, which is not bit-stable across engines) — raw HLL only,
documented accuracy ~1.04/sqrt(256) = 6.5%.`
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import span_key

M = 256  # registers
ALPHA = 0.7213 / (1 + 1.079 / M)  # standard bias constant for m >= 128
A_LIT = ALPHA * M * M * float(1 << 48)  # one double literal, repr-exact in SQL
RANK_CAP = 40


def hll_registers(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """(group, register, rank) with rank = MAX over the group's items."""
    h = F.sha2(F.col(item_col).cast("string"), 256)
    base = df.select(
        F.col(group_col).alias("grp"),
        F.substring(h, 1, 2).alias("register"),
        F.conv(F.substring(h, 3, 13), 16, 10).cast("long").alias("v"),  # next 52 bits
    )
    # leading zeros in the 52-bit window = 52 - bitlength(v); rank = lz + 1
    bitlen = F.length(F.expr("bin(v)"))
    rank = F.when(F.col("v") == 0, F.lit(RANK_CAP)).otherwise(
        F.least(F.lit(53) - bitlen, F.lit(RANK_CAP))
    )
    return (
        base.select("grp", "register", rank.alias("rank"))
        .groupBy("grp", "register")
        .agg(F.max("rank").alias("rank"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """(grp, used_registers, s_scaled, hll_estimate) from a register table."""
    # SQL-form shiftleft: the pyspark wrapper requires a literal int shift,
    # the SQL function accepts an expression
    term = F.expr("shiftleft(CAST(1 AS BIGINT), 48 - rank)")
    return (
        registers.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("used_registers"),
            F.sum(term).alias("s_used"),
        )
        .select(
            "grp",
            "used_registers",
            # empty registers contribute 2^-0 = 1 each -> 2^48 scaled
            (F.col("s_used") + (F.lit(M) - F.col("used_registers")) * F.lit(1 << 48)).alias("s_scaled"),
        )
        .select(
            "grp",
            "used_registers",
            "s_scaled",
            (F.lit(A_LIT) / F.col("s_scaled").cast("double")).alias("hll_estimate"),
        )
    )


def hll_distinct(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """One-stop per-group raw-HLL distinct estimate."""
    return hll_estimate(hll_registers(df, group_col, item_col))


def hll_oracle_sql(group_col: str, item_col: str, src_cte: str) -> str:
    """DuckDB twin: identical sha256-derived registers, identical integer
    scaled sum, identical single-division estimate.  `src_cte` must define a
    relation `items({group_col}, {item_col})`."""
    return f"""
    WITH {src_cte},
    hashed AS (
      SELECT {group_col} AS grp,
             substr(sha256(CAST({item_col} AS VARCHAR)), 1, 2) AS register,
             ('0x' || substr(sha256(CAST({item_col} AS VARCHAR)), 3, 13))::BIGINT AS v
      FROM items
    ),
    ranked AS (
      SELECT grp, register,
             CASE WHEN v = 0 THEN {RANK_CAP}
                  ELSE least(53 - length(bin(v)), {RANK_CAP}) END AS rank
      FROM hashed
    ),
    regs AS (
      SELECT grp, register, max(rank) AS rank FROM ranked GROUP BY 1, 2
    ),
    summed AS (
      SELECT grp, count(*) AS used_registers,
             sum(1::BIGINT << (48 - rank)) AS s_used
      FROM regs GROUP BY 1
    )
    SELECT grp, used_registers,
           CAST(s_used + ({M} - used_registers) * (1::BIGINT << 48) AS BIGINT) AS s_scaled,
           {A_LIT!r} / CAST(s_used + ({M} - used_registers) * (1::BIGINT << 48) AS DOUBLE)
             AS hll_estimate
    FROM summed
    """


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable frequency estimates
# ---------------------------------------------------------------------------
#
# Like the HLL above, the sketch is defined purely by sha256 bits, so the
# approximate counters (and therefore the min-estimate) are bit-identical on
# any engine — an oracle-checkable approximate operator.  Counters merge by
# element-wise SUM across shards/batches (the streaming property).  Scale
# shape: one groupBy((row, bucket)) with full partial aggregation — the
# sketch table is d x w rows per group regardless of stream length; point
# queries then broadcast-join it.

CM_DEPTH = 4  # independent hash rows
CM_WIDTH = 256  # buckets per row (2 hex chars)


def _cm_bucket(item, row: int):
    """Bucket of `item` in hash row `row`: 2 hex chars of seeded sha256."""
    return F.substring(F.sha2(F.concat(F.lit(f"cm{row}:"), item.cast("string")), 256), 1, 2)


def countmin_table(df: DataFrame, item_col: str) -> DataFrame:
    """(row, bucket, cnt) counters over the item stream."""
    rows = [
        df.select(F.lit(r).alias("row"), _cm_bucket(F.col(item_col), r).alias("bucket"))
        for r in range(CM_DEPTH)
    ]
    u = rows[0]
    for x in rows[1:]:
        u = u.unionByName(x)
    return u.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def countmin_estimates(df: DataFrame, item_col: str, candidates: list[str]) -> DataFrame:
    """(item, est, exact): count-min upper-bound estimate (min over the
    depth rows' counters) next to the exact count for each candidate item.
    The candidate frame is CM_DEPTH x |candidates| rows — broadcast side."""
    sk = countmin_table(df, item_col)
    cand = None
    for r in range(CM_DEPTH):
        part = (
            df.sparkSession.createDataFrame([(c,) for c in candidates], ["item"])
            .select("item", F.lit(r).alias("row"), _cm_bucket(F.col("item"), r).alias("bucket"))
        )
        cand = part if cand is None else cand.unionByName(part)
    # LEFT join from the candidates: an empty bucket is a 0 counter, which
    # must drive the min-estimate to 0 (absent items), not drop the row
    est = (
        cand.join(sk, ["row", "bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est"))
    )
    exact = (
        df.where(F.col(item_col).isin(candidates))
        .groupBy(F.col(item_col).alias("item"))
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return est.join(exact, "item", "left").select(
        "item", "est", F.coalesce("exact", F.lit(0)).alias("exact")
    )


def countmin_oracle_sql(item_expr_cte: str, candidates: list[str]) -> str:
    """DuckDB twin.  `item_expr_cte` must define items(item)."""
    cand_rows = ", ".join(f"('{c}')" for c in candidates)
    row_union = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS row, substr(sha256('cm{r}:' || CAST(item AS VARCHAR)), 1, 2) AS bucket FROM items"
        for r in range(CM_DEPTH)
    )
    cand_union = "\n      UNION ALL\n      ".join(
        f"SELECT item, {r} AS row, substr(sha256('cm{r}:' || item), 1, 2) AS bucket FROM cand"
        for r in range(CM_DEPTH)
    )
    return f"""
    WITH {item_expr_cte},
    hashed AS (
      {row_union}
    ),
    sk AS (SELECT row, bucket, count(*) AS cnt FROM hashed GROUP BY 1, 2),
    cand(item) AS (VALUES {cand_rows}),
    cand_b AS (
      {cand_union}
    ),
    est AS (
      SELECT cand_b.item, min(coalesce(sk.cnt, 0)) AS est
      FROM cand_b LEFT JOIN sk ON sk.row = cand_b.row AND sk.bucket = cand_b.bucket
      GROUP BY 1
    ),
    exact AS (
      SELECT item, count(*) AS exact FROM items
      WHERE item IN (SELECT item FROM cand) GROUP BY 1
    )
    SELECT est.item, est.est, coalesce(exact.exact, 0) AS exact
    FROM est LEFT JOIN exact ON est.item = exact.item
    """


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantiles — mergeable, integer-exact
# ---------------------------------------------------------------------------
#
# The deterministic counterpart to approx_percentile: equal-width integer
# bins (cents // bin_width) aggregate to a tiny mergeable histogram per
# group; a quantile is then the lower edge of the first bin whose cumulative
# count reaches ceil(p * n).  Everything is integer, the error bound is
# exactly the bin width, and histograms from shards merge by summing bin
# counts.  One skinny (grp, bin) shuffle at any scale.


def histogram_quantiles(
    df: DataFrame, group_col: str, value_col: str, bin_cents: int = 500, ps=(50, 90, 99)
) -> DataFrame:
    """(grp, n, q<p>_lo_cents... ) — per-group histogram-quantile lower edges."""
    v = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    hist = (
        df.select(F.col(group_col).alias("grp"), (v / F.lit(bin_cents)).cast("long").alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window as W

    cum = hist.select(
        "grp",
        "bin",
        F.sum("cnt").over(W.partitionBy("grp").orderBy("bin")).alias("cum"),
        F.sum("cnt").over(W.partitionBy("grp")).alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    for p in ps:
        # target rank ceil(p*n/100) as exact ints: (p*n + 99) div 100
        target = ((F.lit(p) * F.col("n") + 99) / 100).cast("long")
        aggs.append(
            (F.min(F.when(F.col("cum") >= target, F.col("bin"))) * bin_cents).alias(
                f"q{p}_lo_cents"
            )
        )
    return cum.groupBy("grp").agg(*aggs)


def histogram_oracle_sql(
    table: str, group_col: str, value_col: str, bin_cents: int = 500, ps=(50, 90, 99)
) -> str:
    qs = ",\n           ".join(
        f"min(CASE WHEN cum >= ({p} * n + 99) // 100 THEN bin END) * {bin_cents} AS q{p}_lo_cents"
        for p in ps
    )
    return f"""
    WITH src AS (
      SELECT {group_col} AS grp,
             CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT) // {bin_cents} AS bin
      FROM {table}
    ),
    hist AS (SELECT grp, bin, count(*) AS cnt FROM src GROUP BY 1, 2),
    cum AS (
      SELECT grp, bin,
             sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY grp) AS n
      FROM hist
    )
    SELECT grp, CAST(max(n) AS BIGINT) AS n,
           {qs}
    FROM cum GROUP BY grp
    """


def merge_registers(registers: DataFrame, coarse_grp) -> DataFrame:
    """Merge a register table UP a grouping level: element-wise MAX of ranks
    under the coarser key — the HLL merge property that makes the sketch a
    tree aggregate (shard registers -> executor merge -> global merge, each
    level the same groupBy(max), <= groups x 256 rows moving at any depth).
    ``coarse_grp`` is a Column mapping the fine ``grp`` to its parent key."""
    return (
        registers.select(coarse_grp.alias("grp"), "register", "rank")
        .groupBy("grp", "register")
        .agg(F.max("rank").alias("rank"))
    )


def countmin_join_size(
    left: DataFrame, left_key: str, right: DataFrame, right_key: str
) -> DataFrame:
    """Equi-join CARDINALITY estimation from two count-min sketches — the
    planning primitive behind "should this join broadcast / salt / pre-agg":
    |A join B| = sum_k a_k * b_k, and the inner product of two CM rows is an
    upper bound on it (Cormode & Muthukrishnan §4.2), with the min over the
    depth rows the usable estimate.  Both sketches are d x w counter tables
    (constant size regardless of input), so two 100 TB fact tables can be
    "join-sized" from KB-scale state — and per-batch sketches merge by SUM,
    so the estimate maintains incrementally where the exact product needs a
    re-join per batch.

    Output one row: (est, exact, err_ppm) — est >= exact always (one-sided
    CM error); err_ppm = (est - exact) ppm of exact.  The exact product is
    computed alongside (two |keys|-row aggs + one join) as the verification
    twin, mirroring countmin_estimates."""
    la = countmin_table(left, left_key).withColumnRenamed("cnt", "ca")
    rb = countmin_table(right, right_key).withColumnRenamed("cnt", "cb")
    # inner join: only colliding buckets contribute to a row's dot product.
    # A depth row with NO collisions has dot 0 — it must drive the min to 0,
    # not vanish (min over surviving rows would overestimate; with all rows
    # collision-free the min would be NULL).
    est = (
        la.join(rb, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
        .agg(F.min("dot").alias("mind"), F.count(F.lit(1)).alias("nrows"))
        .select(
            F.when(F.col("nrows") < CM_DEPTH, F.lit(0).cast("long"))
            .otherwise(F.col("mind"))
            .alias("est")
        )
    )
    lc = left.groupBy(F.col(left_key).alias("k")).agg(F.count(F.lit(1)).alias("na"))
    rc = right.groupBy(F.col(right_key).alias("k")).agg(F.count(F.lit(1)).alias("nb"))
    exact = (
        lc.join(rc, "k")
        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0).cast("long")).alias("exact"))
    )
    return est.crossJoin(exact).select(
        "est",
        "exact",
        F.expr("CASE WHEN exact = 0 THEN NULL ELSE (1000000 * (est - exact)) DIV exact END").alias("err_ppm"),
    )


def countmin_join_size_oracle_sql(left_cte: str, right_cte: str) -> str:
    """DuckDB twin.  The CTEs must define la(item) and rb(item)."""
    rows_l = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS row, substr(sha256('cm{r}:' || CAST(item AS VARCHAR)), 1, 2) AS bucket FROM la"
        for r in range(CM_DEPTH)
    )
    rows_r = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS row, substr(sha256('cm{r}:' || CAST(item AS VARCHAR)), 1, 2) AS bucket FROM rb"
        for r in range(CM_DEPTH)
    )
    return f"""
    WITH {left_cte},
    {right_cte},
    ba AS (SELECT row, bucket, count(*) AS ca FROM ({rows_l}) GROUP BY 1, 2),
    bb AS (SELECT row, bucket, count(*) AS cb FROM ({rows_r}) GROUP BY 1, 2),
    dots AS (
      SELECT ba.row, CAST(sum(ba.ca * bb.cb) AS BIGINT) AS dot
      FROM ba JOIN bb ON ba.row = bb.row AND ba.bucket = bb.bucket
      GROUP BY ba.row
    ),
    est AS (
      SELECT CASE WHEN count(*) < {CM_DEPTH} THEN 0
                  ELSE CAST(min(dot) AS BIGINT) END AS est
      FROM dots
    ),
    lc AS (SELECT item AS k, count(*) AS na FROM la GROUP BY 1),
    rc AS (SELECT item AS k, count(*) AS nb FROM rb GROUP BY 1),
    ex AS (
      SELECT CAST(coalesce(sum(lc.na * rc.nb), 0) AS BIGINT) AS exact
      FROM lc JOIN rc ON lc.k = rc.k
    )
    SELECT est.est, ex.exact,
           CASE WHEN ex.exact = 0 THEN NULL
                ELSE (1000000 * (est.est - ex.exact)) // ex.exact END AS err_ppm
    FROM est CROSS JOIN ex
    """


KMV_SCALE = 1 << 48  # hash domain: 12 hex chars = 48 bits


def kmv_overlap(
    left: DataFrame, left_key: str, right: DataFrame, right_key: str, k: int = 256
) -> DataFrame:
    """Set-overlap estimation from two KMV (theta) sketches — the set
    operation HLL cannot do: registers union by MAX but never intersect.
    A KMV sketch keeps the k minimum sha256 values of the distinct key set;
    the k-th minimum theta estimates density ((k-1) * 2^48 / theta distinct
    values), and two sketches intersect by counting common survivors below
    the union sketch's theta (the Data Sketches theta-intersection rule).

    Deterministic: sha256 order statistics have exactly one value per set,
    so Spark and DuckDB compute IDENTICAL sketches, thetas, and estimates
    (single IEEE division at the end) — an oracle-checkable approximate set
    algebra.  Sketch size k bounds all state: two 100 TB key sets compare
    through 2k longs.

    Scale: per side one distinct + TakeOrdered(k) (per-partition heaps);
    the k-row sketches then broadcast everywhere.  Output one row:
    (theta_u, est_union, est_inter, exact_union, exact_inter) with exact
    twins computed alongside for verification."""
    def h(df, key):
        return df.select(span_key(F.col(key).cast("string")).alias("h")).distinct()

    ha, hb = h(left, left_key), h(right, right_key)
    kha = ha.orderBy("h").limit(k)
    khb = hb.orderBy("h").limit(k)
    u = kha.unionByName(khb).distinct().orderBy("h").limit(k)
    theta = u.agg(F.max("h").alias("theta_u"), F.count(F.lit(1)).alias("ku"))
    inter_hits = (
        u.join(F.broadcast(kha), "h", "left_semi")
        .join(F.broadcast(khb), "h", "left_semi")
        .crossJoin(F.broadcast(theta))
        .where(F.col("h") < F.col("theta_u"))  # strictly below theta: the k-th value itself is the boundary
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = (
        ha.join(hb, "h", "full_outer")
        .agg(F.count(F.lit(1)).alias("exact_union"))
        .crossJoin(ha.join(hb, "h", "left_semi").agg(F.count(F.lit(1)).alias("exact_inter")))
    )
    return (
        theta.crossJoin(inter_hits)
        .crossJoin(exact)
        .select(
            "theta_u",
            (F.lit(float(KMV_SCALE)) * (F.col("ku") - 1) / F.col("theta_u").cast("double")).alias("est_union"),
            (F.lit(float(KMV_SCALE)) * F.col("n_inter") / F.col("theta_u").cast("double")).alias("est_inter"),
            "exact_union",
            "exact_inter",
        )
    )


def kmv_overlap_oracle_sql(left_cte: str, right_cte: str, k: int = 256) -> str:
    """DuckDB twin.  CTEs must define la(item) and rb(item)."""
    return f"""
    WITH {left_cte},
    {right_cte},
    ha AS (SELECT DISTINCT ('0x' || substr(sha256(CAST(item AS VARCHAR)), 1, 12))::BIGINT AS h FROM la),
    hb AS (SELECT DISTINCT ('0x' || substr(sha256(CAST(item AS VARCHAR)), 1, 12))::BIGINT AS h FROM rb),
    kha AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
    khb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
    u AS (SELECT DISTINCT h FROM (SELECT h FROM kha UNION ALL SELECT h FROM khb)
          ORDER BY h LIMIT {k}),
    theta AS (SELECT max(h) AS theta_u, count(*) AS ku FROM u),
    hits AS (
      SELECT count(*) AS n_inter
      FROM u CROSS JOIN theta
      WHERE u.h < theta.theta_u
        AND EXISTS (SELECT 1 FROM kha WHERE kha.h = u.h)
        AND EXISTS (SELECT 1 FROM khb WHERE khb.h = u.h)
    ),
    ex AS (
      SELECT (SELECT count(*) FROM (SELECT h FROM ha UNION SELECT h FROM hb)) AS exact_union,
             (SELECT count(*) FROM ha WHERE EXISTS (SELECT 1 FROM hb WHERE hb.h = ha.h)) AS exact_inter
    )
    SELECT theta.theta_u,
           {float(KMV_SCALE)!r} * (theta.ku - 1) / CAST(theta.theta_u AS DOUBLE) AS est_union,
           {float(KMV_SCALE)!r} * hits.n_inter / CAST(theta.theta_u AS DOUBLE) AS est_inter,
           ex.exact_union, ex.exact_inter
    FROM theta CROSS JOIN hits CROSS JOIN ex
    """
