"""Local correctness harness mimicking the driver's DuckDB-oracle compare.

Usage: python tools/check.py [sf_dir] [query ...]
Runs each registry query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names (sorted), and an
order-insensitive value hash (rows stringified, sorted).
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402


def norm_cell(v):
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if v is None or v != v:  # NaN
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(v)
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, list[str], str, list[str]]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted("|".join(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), cols, h, rows


def main():
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir = args.pop(0)
    from etl_healthcare_spark.plans.registry import REGISTRY
    from etl_healthcare_spark.session import get_spark

    names = args or list(REGISTRY)
    spark = get_spark("check")

    con = duckdb.connect()
    # A runaway oracle (e.g. a recursive-CTE CC twin materializing the
    # reachability frontier at sf1.0) must fail ITS query, not OOM-kill the
    # whole sweep worker: cap DuckDB and give it a spill directory.
    con.execute(f"SET memory_limit='{os.environ.get('CHECK_DUCKDB_MEM', '24GB')}'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        qd = REGISTRY[name]
        try:
            sdf = qd.fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: SPARK ERROR {str(e)[:300]}", flush=True)
            n_fail += 1
            continue
        if qd.sql is None:
            print(f"rows  {name}: rows-only check, {len(sdf)} rows", flush=True)
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(qd.sql).df()
        except Exception as e:
            print(f"FAIL  {name}: ORACLE ERROR {str(e)[:300]}", flush=True)
            n_fail += 1
            continue
        sn, sc, sh, srows = frame_hash(sdf)
        on, oc, oh, orows = frame_hash(odf)
        if sc != oc:
            print(f"FAIL  {name}: columns spark={sc} oracle={oc}", flush=True)
            n_fail += 1
        elif sn != on:
            print(f"FAIL  {name}: rowcount spark={sn} oracle={on}", flush=True)
            only_s = [r for r in srows if r not in set(orows)][:3]
            only_o = [r for r in orows if r not in set(srows)][:3]
            print(f"      spark-only: {only_s}\n      oracle-only: {only_o}")
            n_fail += 1
        elif sh != oh:
            print(f"FAIL  {name}: value hash spark={sh} oracle={oh} ({sn} rows)", flush=True)
            only_s = [r for r in srows if r not in set(orows)][:3]
            only_o = [r for r in orows if r not in set(srows)][:3]
            print(f"      spark-only: {only_s}\n      oracle-only: {only_o}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {sn} rows hash={sh}", flush=True)
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
