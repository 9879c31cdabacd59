"""Local replica of the driver's Spark-vs-DuckDB differential check.

Mirrors the contract described in ``__spark_entry__.py``: run the Spark
query and the oracle SQL on the same parquet tables, then compare
row count + column names + order-insensitive values.  This generalizes the
reference's only correctness mechanism — the serial-Dijkstra differential
test at ``/root/reference/sample_apps/shortest_path/main.cpp:200-209``.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from firebird_mapreduce_spark.sources.readers import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for table in TABLES:
        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.exists(path):
            conn.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
            )
    return conn


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, values stringified (floats via
    repr of float64, timestamps via ISO), rows sorted."""
    out = pd.DataFrame()
    for col in sorted(df.columns):
        series = df[col]
        if pd.api.types.is_datetime64_any_dtype(series):
            out[col] = pd.to_datetime(series).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(series):
            out[col] = series.astype("float64").map(
                lambda v: "nan" if (v is None or (isinstance(v, float) and math.isnan(v))) else repr(v)
            )
        else:
            out[col] = series.map(lambda v: "NULL" if v is None else str(v))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_df, oracle_pdf: pd.DataFrame, name: str = "?") -> None:
    """Assert the Spark result matches the oracle result (order-insensitive)."""
    spark_pdf = spark_df.toPandas()
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != oracle {sorted(oracle_pdf.columns)}"
    )
    left = normalize(spark_pdf)
    right = normalize(oracle_pdf)
    if not left.equals(right):
        diff_mask = (left != right).any(axis=1)
        sample = pd.concat(
            [left[diff_mask].head(5).add_suffix("_spark"),
             right[diff_mask].head(5).add_suffix("_oracle")],
            axis=1,
        )
        raise AssertionError(f"{name}: value mismatch, first diffs:\n{sample}")
