"""Bucketed (co-located) table layout — the shuffle-free join path
(SCALE.md §4; the scale generalization of the reference's precomputed GSI
access paths, SURVEY §4).

At 100 TB the dominant recurring cost of fact-to-fact joins is the shuffle.
Bucketing both sides into the same number of buckets on the join key writes
the shuffle once, at load time; every subsequent join on that key sort-merges
bucket-to-bucket with ZERO Exchange in the plan (asserted in
tests/test_bucketed_join.py).  The state store's tenant partitioning plus
in-file sort (operators/persist.py) is the same idea for point/range reads;
bucketing is the analog for repeated equi-joins — e.g. observations ⋈
patients, embeddings ⋈ dedup-verdicts in the LLM pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame bucketed (and in-bucket sorted) on the join key.

    Bucket count rule of thumb: total size / target task size (128-256 MB);
    both join sides MUST use the same count for co-located execution.
    """
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    w = w.sortBy(*(sort_cols or bucket_cols))
    w.saveAsTable(table)


# ---------------------------------------------------------------------------
# Z-order (Morton) layout keys — multi-dimensional data clustering
# ---------------------------------------------------------------------------
#
# A table range-partitioned/sorted on ONE key prunes scans on that key only.
# Interleaving the bits of two keys into a single Morton code and sorting on
# it co-locates rows that are close in BOTH dimensions, so min/max footer
# stats prune scans filtered on either key (the Delta/Iceberg OPTIMIZE ZORDER
# idea, reproduced as a plain column expression + sortWithinPartitions —
# no table format required).  Pure integer bit math: engine-independent.

from pyspark.sql import Column  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from ..functions.materialize import materialize


def morton_key(x: Column, y: Column, bits: int = 10) -> Column:
    """Interleave the low `bits` of x (even positions) and y (odd): an exact
    int64 Z-curve index, as a fixed fold of shift/and/or ops."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def morton_key_sql(x: str, y: str, bits: int = 10) -> str:
    """The DuckDB twin expression of morton_key (same shifts, same sum)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x}::BIGINT >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y}::BIGINT >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_layout(df: DataFrame, x_col: str, y_col: str, bits: int = 10) -> DataFrame:
    """Attach the z-value and return the frame sorted for writing: repartition
    by z-range then sort within partitions — each output file then covers a
    tight (x, y) rectangle, giving footer-stat pruning on both columns."""
    z = df.withColumn("zvalue", morton_key(F.col(x_col), F.col(y_col), bits))
    return z.repartitionByRange(F.col("zvalue")).sortWithinPartitions("zvalue")


def range_bounds(
    df: DataFrame, value_col: str, n_parts: int, bin_width: int
) -> DataFrame:
    """Balanced RANGE-PARTITION boundaries from a fixed-bin histogram — the
    deterministic version of what repartitionByRange's reservoir sampling
    decides, exposed as a plannable operator (write-layout planning for
    sorted/bucketed output; companion to zorder_layout).

    One skinny (bin) aggregation (map-side combined, |bins| rows however big
    the corpus), then the k-1 split points are read off the cumulative
    histogram: split i = the lowest bin whose cumulative count reaches
    ceil(i*n/k).  Boundary precision is one bin width — the planner
    tradeoff, stated rather than hidden in a sample.  All integer; unlike a
    sampled boundary set, two runs (or two engines) produce THE SAME bounds,
    so incremental writes land in stable partitions.

    Output (split_idx 1..k-1, bound) where bound is the bin's inclusive
    upper edge in value units.  Values must be NON-NEGATIVE: Spark's DIV
    truncates toward zero while SQL // floors, so negative inputs would bin
    differently across engines — shift the domain first."""
    from pyspark.sql import Window

    bins = (
        df.select(F.expr(f"CAST({value_col} DIV {bin_width} AS BIGINT)").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select("bin", F.sum("cnt").over(w).alias("cum"))
    total = bins.agg(F.sum("cnt").alias("n"))
    splits = (
        cum.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "cum",
            F.explode(F.sequence(F.lit(1), F.lit(n_parts - 1))).alias("split_idx"),
            F.col("n"),
        )
        .where(F.col("cum") >= F.expr(f"((split_idx * n) + {n_parts} - 1) DIV {n_parts}"))
        .groupBy("split_idx")
        .agg(F.min("bin").alias("bin"))
        .select("split_idx", ((F.col("bin") + 1) * bin_width - 1).alias("bound"))
    )
    return splits


def range_bounds_oracle_sql(
    table: str, value_expr: str, n_parts: int, bin_width: int, where: str = "TRUE"
) -> str:
    """DuckDB twin of range_bounds."""
    return f"""
    WITH bins AS (
      SELECT ({value_expr}) // {bin_width} AS bin, count(*) AS cnt
      FROM {table} WHERE {where} GROUP BY 1
    ),
    cum AS (
      SELECT bin, sum(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM bins
    ),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM bins),
    hits AS (
      SELECT s.i AS split_idx, min(c.bin) AS bin
      FROM cum c
      CROSS JOIN t
      JOIN (SELECT unnest(generate_series(1, {n_parts - 1})) AS i) s
        ON c.cum >= ((s.i * t.n) + {n_parts} - 1) // {n_parts}
      GROUP BY s.i
    )
    SELECT split_idx, (bin + 1) * {bin_width} - 1 AS bound FROM hits
    """


def compaction_plan(
    df: DataFrame,
    part_col: str,
    ts_col: str,
    payload_col: str,
    target_bytes: int = 262_144,
    row_overhead: int = 64,
) -> DataFrame:
    """Small-file COMPACTION planner: bin-pack a partition's hourly micro-files
    into ~``target_bytes`` output files WITHOUT breaking the time order — the
    maintenance job every streaming sink needs (each 5 s micro-batch writes a
    sliver; a month later the table is a million tiny files and every scan is
    metadata-bound).

    Packing rule: within a partition, walk files in time order and assign
    bin = floor(preceding_cumulative_bytes / target) — next-fit packing that
    KEEPS CONSECUTIVE HOURS IN THE SAME OUTPUT FILE, so the compacted file's
    min/max footer stats still cover a tight time range and timestamp
    predicates keep pruning (size-sorted first-fit would pack January next to
    June and destroy that).  Bins can overflow target by at most one file —
    the price of never splitting a file.

    Exact integers throughout (bytes = payload length + fixed row overhead);
    one count aggregation + one per-partition ordered window — the same
    topology as w3_moving_avg, skew-bounded by the time range.
    """
    from pyspark.sql import Window

    files = df.groupBy(
        F.col(part_col).alias("part_key"), F.date_trunc("hour", F.col(ts_col)).alias("bucket")
    ).agg(
        (F.sum(F.length(F.col(payload_col))) + F.lit(row_overhead) * F.count(F.lit(1))).alias(
            "bytes"
        )
    )
    w = Window.partitionBy("part_key").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum_prev = F.coalesce(F.sum("bytes").over(w), F.lit(0)).alias("cum_prev")
    return (
        files.select("part_key", "bucket", "bytes", cum_prev)
        .select(
            "part_key",
            F.unix_micros(F.col("bucket")).alias("bucket_us"),
            "bytes",
            F.expr(f"cum_prev div {target_bytes}").alias("bin"),
        )
    )


def compaction_oracle_sql(
    table: str,
    part_col: str,
    ts_col: str,
    payload_col: str,
    target_bytes: int = 262_144,
    row_overhead: int = 64,
) -> str:
    """DuckDB twin of compaction_plan."""
    return f"""
    WITH files AS (
      SELECT {part_col} AS part_key, date_trunc('hour', {ts_col}) AS bucket,
             sum(length({payload_col})) + {row_overhead} * count(*) AS bytes
      FROM {table} GROUP BY 1, 2
    )
    SELECT part_key, epoch_us(bucket) AS bucket_us, CAST(bytes AS BIGINT) AS bytes,
           CAST(coalesce(sum(bytes) OVER (
                  PARTITION BY part_key ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {target_bytes} AS BIGINT) AS bin
    FROM files
    """


def zonemap_prune(
    df: DataFrame,
    value_col,
    id_col,
    lo: int,
    hi: int,
    file_span: int,
    n_files: int,
) -> DataFrame:
    """ZONE-MAP pruning simulator: the min/max file statistics every
    columnar lake (parquet row groups, Delta/Iceberg file stats) keeps,
    evaluated for the SAME data under two layouts — CLUSTERED (file =
    value div file_span, the sorted/Z-ordered write) and SCATTERED (file =
    sha256(id) mod n_files, the naive hash write) — against one literal
    predicate ``value BETWEEN lo AND hi``.  The output quantifies what the
    layout buys: files whose [min, max] envelope misses the predicate are
    skipped without being opened, so the clustered layout prunes almost
    everything and the scattered one almost nothing — THE reason
    layout_zorder / layout_range_bounds exist.

    One partial-aggregable groupBy per layout (|files| rows out), a
    map-only prune flag, a 2-row summary.  Exact integers end-to-end."""
    val = value_col if not isinstance(value_col, str) else F.col(value_col)
    scattered = (
        F.conv(F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1, 6), 16, 10)
        .cast("long") % n_files
    )
    base = df.select(
        val.cast("long").alias("v"), scattered.alias("scattered_file")
    ).withColumn("clustered_file", F.expr(f"v div {file_span}"))
    # ONE corpus pass (round-10): the per-layout groupBys each re-scanned
    # the source.  count/min/max decompose, so both layouts' per-file stats
    # regroup from one (clustered_file, scattered_file) histogram —
    # |files_c x files_s|-bounded, checkpointed for its two consumers.
    h2 = (
        base.groupBy("clustered_file", "scattered_file")
        .agg(
            F.count(F.lit(1)).alias("n2"),
            F.min("v").alias("mn2"),
            F.max("v").alias("mx2"),
        )
        .transform(materialize)
    )
    out = []
    for layout in ("clustered", "scattered"):
        per_file = h2.groupBy(F.col(f"{layout}_file").alias("f")).agg(
            F.sum("n2").alias("n_rows"),
            F.min("mn2").alias("vmin"),
            F.max("mx2").alias("vmax"),
        )
        pruned = per_file.withColumn(
            "pruned", (F.col("vmax") < F.lit(lo)) | (F.col("vmin") > F.lit(hi))
        )
        out.append(
            pruned.agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum(F.col("pruned").cast("long")).alias("n_pruned_files"),
                F.sum("n_rows").alias("n_rows_total"),
                F.sum(F.when(F.col("pruned"), F.col("n_rows")).otherwise(F.lit(0))).alias(
                    "n_rows_skipped"
                ),
            ).select(F.lit(layout).alias("layout"), "n_files", "n_pruned_files",
                     "n_rows_total", "n_rows_skipped")
        )
    return out[0].unionByName(out[1])


def zonemap_prune_oracle_sql(
    table: str, value_sql: str, id_sql: str, lo: int, hi: int, file_span: int, n_files: int
) -> str:
    """DuckDB twin of zonemap_prune."""
    return f"""
    WITH base AS (
      SELECT CAST({value_sql} AS BIGINT) AS v,
             ('0x' || substr(sha256(CAST({id_sql} AS VARCHAR)), 1, 6))::BIGINT % {n_files}
               AS scattered_file,
             CAST({value_sql} AS BIGINT) // {file_span} AS clustered_file
      FROM {table}
    ),
    stats AS (
      SELECT 'clustered' AS layout, clustered_file AS f, count(*) AS n_rows,
             min(v) AS vmin, max(v) AS vmax
      FROM base GROUP BY 2
      UNION ALL
      SELECT 'scattered', scattered_file, count(*), min(v), max(v)
      FROM base GROUP BY 2
    )
    SELECT layout,
           count(*) AS n_files,
           CAST(sum(CASE WHEN vmax < {lo} OR vmin > {hi} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pruned_files,
           CAST(sum(n_rows) AS BIGINT) AS n_rows_total,
           CAST(sum(CASE WHEN vmax < {lo} OR vmin > {hi} THEN n_rows ELSE 0 END) AS BIGINT)
             AS n_rows_skipped
    FROM stats GROUP BY layout
    """


def dpp_month_join(spark, fact_src: DataFrame, dim_src: DataFrame, out_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING demonstration: the fact is written
    partitionBy(ship month) once, then joined to a month dimension filtered
    at runtime — Catalyst inserts a dynamicpruningexpression subquery into
    the fact scan's PartitionFilters, so only the dimension-selected months'
    files are ever opened (plan-tested).  THE mechanism that makes
    "join a 100 TB date-partitioned fact to a filtered dim" read 1% of the
    fact: the partition filter is discovered from the dim AT RUN TIME, not
    by the optimizer's static pruning.

    ``fact_src`` must provide (cents, smonth); ``dim_src`` provides
    (smonth, pick).  The build write is the once-per-layout cost, same
    discipline as search_index_probe / j11_bucketed_join."""

    fact_src.write.partitionBy("smonth").mode("overwrite").parquet(f"{out_dir}/fact")
    fact = spark.read.parquet(f"{out_dir}/fact")
    return (
        fact.join(dim_src.where(F.col("pick") == 1), "smonth")
        .groupBy("smonth")
        .agg(F.sum("cents").alias("sum_cents"), F.count(F.lit(1)).alias("n"))
    )
