#!/usr/bin/env python
"""Local replica of the round driver's correctness gate: run every
registered query on a bare SparkSession (no engine session defaults) and
compare against its DuckDB oracle — row count + column names +
order-insensitive values.

Usage:  python tools/check_correctness.py [sf_dir]     (default sf0.01)
Exit code 0 iff every oracle-backed query matches and none are zero-row.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle import duckdb_conn, normalize  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # deliberately NOT the engine's get_session: the driver uses a bare one.
    # SPARK_GRAFT_CHECK_MEM raises the single-JVM heap for above-gate SF
    # sweeps (e.g. sf0.1, where dedup_simhash's ~30M-row internal pair set
    # legitimately exceeds the 1 GiB default of a bare local session);
    # leave it unset to mimic the driver's gate exactly.
    builder = SparkSession.builder.master("local[8]").appName("check")
    if os.environ.get("SPARK_GRAFT_CHECK_MEM"):
        builder = builder.config(
            "spark.driver.memory", os.environ["SPARK_GRAFT_CHECK_MEM"]
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    conn = duckdb_conn(sf_dir)

    print("entry rows:", len(entrymod.entry(spark).collect()), flush=True)
    oracles = entrymod.oracle_sql()
    failures: list[str] = []
    zero_rows: list[str] = []
    for name, fn in entrymod.queries().items():
        spark_pdf = fn(spark, sf_dir).toPandas()
        if len(spark_pdf) == 0:
            zero_rows.append(name)
        if name in oracles:
            oracle_pdf = conn.execute(oracles[name]).fetchdf()
            left, right = normalize(spark_pdf), normalize(oracle_pdf)
            ok = len(spark_pdf) == len(oracle_pdf) and left.equals(right)
            print(
                f"{name}: spark={len(spark_pdf)} oracle={len(oracle_pdf)} match={ok}",
                flush=True,
            )
            if not ok:
                failures.append(name)
        else:
            print(f"{name}: rows-only rows={len(spark_pdf)}", flush=True)

    print("FAILURES:", failures or "none")
    print("zero-row queries:", zero_rows or "none")
    spark.stop()
    return 1 if (failures or zero_rows) else 0


if __name__ == "__main__":
    raise SystemExit(main())
