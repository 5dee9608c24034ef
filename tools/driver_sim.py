"""Simulate the harness driver end-to-end against __spark_entry__.py.

Builds a PLAIN SparkSession (driver defaults, not our tuned factory),
runs entry(), then every queries() entry at the given SF dir, compares
each against oracle_sql() via DuckDB exactly like the driver's t2 gate
(row count + sorted column names + order-insensitive value comparison).

Usage: python tools/driver_sim.py [sf_dir] [--window N]
(--window N restricts the run to the FIRST N queries() entries in dict
 order — the slice the real driver's correctness gate records; for a
 hostile-timezone probe, set the TZ env var before launching:
 TZ=Pacific/Kiritimati python tools/driver_sim.py)
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def main() -> int:
    argv = list(sys.argv[1:])
    window = 0
    if "--window" in argv:
        i = argv.index("--window")
        window = int(argv[i + 1])
        del argv[i : i + 2]
    only: list[str] = []
    if "--only" in argv:  # comma-separated query names (r15 iteration aid)
        i = argv.index("--only")
        only = [s for s in argv[i + 1].split(",") if s]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    # the console progress bar is off so that no `[Stage …]` bar shares
    # a terminal line with a query's OK/FAIL line; it changes no result
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from etl_dag_spark.session import quiet_benign_logs

    quiet_benign_logs(spark)  # known-benign accumulator-teardown noise
    print(f"driver-sim: session tz={spark.conf.get('spark.sql.session.timeZone')}")

    import __spark_entry__ as ent

    t0 = time.time()
    edf = ent.entry(spark)
    rows = edf.count()
    print(f"entry(): {rows} rows, schema={edf.schema.simpleString()[:100]} [{time.time()-t0:.1f}s]")
    assert rows > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )

    from etl_dag_spark.operators.hierarchy import release_persisted

    queries, oracles = ent.queries(), ent.oracle_sql()
    if window:
        queries = dict(list(queries.items())[:window])
        print(f"driver-sim: restricted to first {len(queries)} entries (driver window)")
    if only:
        queries = {n: queries[n] for n in only}
        print(f"driver-sim: restricted to {sorted(queries)} (--only)")
    n_pass = n_fail = 0
    for name, fn in sorted(queries.items()):
        t0 = time.time()
        try:
            try:
                spdf = fn(spark, sf_dir).toPandas()
            finally:
                # even a failed query must not leak its frontier caches
                # into the next query's timing/memory
                release_persisted()
            if name not in oracles:
                print(f"  {name}: rows-only, {len(spdf)} rows [{time.time()-t0:.1f}s]")
                n_pass += 1
                continue
            ddf = con.execute(oracles[name]).fetchdf()
            status = []
            if len(spdf) != len(ddf):
                status.append(f"rowcount {len(spdf)} vs {len(ddf)}")
            if sorted(spdf.columns) != sorted(ddf.columns):
                status.append(f"cols {sorted(spdf.columns)} vs {sorted(ddf.columns)}")
            if not status:
                s, d = normalize(spdf), normalize(ddf)
                for col in s.columns:
                    bad = [
                        (i, x, y)
                        for i, (x, y) in enumerate(zip(s[col], d[col]))
                        if not values_equal(x, y)
                    ]
                    if bad:
                        status.append(f"col {col}: {len(bad)} mismatches e.g. {bad[0]}")
                        break
            if status:
                print(f"  {name}: FAIL ({'; '.join(status)}) [{time.time()-t0:.1f}s]")
                n_fail += 1
            else:
                print(f"  {name}: OK {len(spdf)} rows [{time.time()-t0:.1f}s]")
                n_pass += 1
        except Exception as exc:  # noqa: BLE001
            print(f"  {name}: ERROR {type(exc).__name__}: {exc}")
            n_fail += 1
    print(f"driver-sim: {n_pass} ok, {n_fail} fail at {sf_dir}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
