"""Loaders for the driver's synthetic tables and the events->observations recast.

The reference's serving store is keyed ``TENANT#<t> / ENTITY#<type>#<id>``
(services/persist/handler.ts:20-26).  For oracle-checkable serving queries we
recast the synthetic ``events`` stream as an observations fact table with the
same logical shape: tenant = hash-bucket of user, patient = user, code =
event_type, effective = ts.  The recast is pure column arithmetic so the DuckDB
oracle can state the identical mapping in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _swap_ntz(dt: T.DataType) -> tuple[T.DataType, bool]:
    """Recursively replace TIMESTAMP_NTZ with TimestampType anywhere in a
    type tree (struct/array/map included).  Returns (new_type, changed)."""
    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType(), True
    if isinstance(dt, T.ArrayType):
        el, ch = _swap_ntz(dt.elementType)
        return T.ArrayType(el, dt.containsNull), ch
    if isinstance(dt, T.MapType):
        kt, ck = _swap_ntz(dt.keyType)
        vt, cv = _swap_ntz(dt.valueType)
        return T.MapType(kt, vt, dt.valueContainsNull), ck or cv
    if isinstance(dt, T.StructType):
        fields, ch = [], False
        for f in dt.fields:
            ft, c = _swap_ntz(f.dataType)
            ch = ch or c
            fields.append(T.StructField(f.name, ft, f.nullable, f.metadata))
        return T.StructType(fields), ch
    return dt, False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table, normalizing timestamp physical types.

    SIDE EFFECT on the caller's session (deliberate, harness-wide): pins
    ``spark.sql.session.timeZone=UTC`` — every registry query's oracle compare
    assumes UTC wall-clock semantics (unix_micros == DuckDB epoch_us on the
    naive parquet value), and date/time functions (to_date, date_format,
    window) must agree between a batch run and the oracle regardless of how
    the caller built the session.  Pinned unconditionally (not only when an
    NTZ column is present) so the guarantee also covers legacy
    TIMESTAMP(NANOS) testdata; a caller needing a non-UTC session should use
    its own loader.  Also sets ``spark.sql.legacy.parquet.nanosAsLong`` for
    the events table (older testdata wrote TIMESTAMP(NANOS) parquet)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # older driver testdata wrote TIMESTAMP(NANOS) parquet; set the
        # runtime conf so any caller-provided session can read it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong it surfaces as a
    # bigint of epoch-nanos — convert to TimestampType at microsecond grain
    # (integer division: ns magnitudes exceed double's exact range).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # current driver testdata writes tz-less timestamp[us] parquet, which Spark
    # surfaces as TIMESTAMP_NTZ.  Normalize to TimestampType so downstream
    # epoch/tz functions (unix_micros, window, to_date) resolve; under the UTC
    # pin above the NTZ->LTZ cast is the identity on the wall clock.  The walk
    # is recursive (struct/array/map), so an NTZ nested inside a complex
    # column normalizes too — not just top-level dtypes.
    casts = {}
    for field in df.schema.fields:
        new_type, changed = _swap_ntz(field.dataType)
        if changed:
            casts[field.name] = F.col(field.name).cast(new_type)
    if casts:
        df = df.withColumns(casts)
    return df


def observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events recast as the observation fact table (see module docstring).

    SQL twin (DuckDB):
        SELECT 't' || CAST(user_id % 10 AS VARCHAR) AS tenantId,
               'p' || CAST(user_id AS VARCHAR)      AS patientId,
               event_type                            AS code,
               value,
               '1'                                   AS unit,
               ts                                    AS effectiveDateTime,
               event_id                              AS obsId
        FROM events
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("t"), (F.col("user_id") % 10).cast("string")).alias("tenantId"),
        F.concat(F.lit("p"), F.col("user_id").cast("string")).alias("patientId"),
        F.col("event_type").alias("code"),
        F.col("value"),
        F.lit("1").alias("unit"),
        F.col("ts").alias("effectiveDateTime"),
        F.col("event_id").alias("obsId"),
        F.col("props"),
    )


OBSERVATIONS_ORACLE_CTE = """
obs AS (
  SELECT 't' || CAST(user_id % 10 AS VARCHAR) AS tenantId,
         'p' || CAST(user_id AS VARCHAR)      AS patientId,
         event_type                           AS code,
         value,
         '1'                                  AS unit,
         ts                                   AS effectiveDateTime,
         event_id                             AS obsId,
         props
  FROM events
)
"""
