"""JDBC source/sink coverage: round-trip a dimension through an RDBMS
endpoint and read it back as a PARTITIONED, FILTER-PUSHED parallel scan.

The reference engine's only input surface is an in-memory vector
(``/root/reference/firebird.h:174-179``); a production successor ingests
dimension data from operational databases, and Spark's JDBC connector is
that path.  What the declared query demonstrates (and the plan test
pins):

- **Partitioned parallel read**: ``partitionColumn/lowerBound/upperBound/
  numPartitions`` splits the table into N range-bounded SELECTs executed
  as N tasks — the only way a JDBC read scales past one connection.  At
  100 TB you never JDBC-scan a fact table, but a sharded dim pull uses
  exactly this shape (bounds from ``MIN``/``MAX`` or the shard map).
- **Filter pushdown**: predicates compile into the remote WHERE clause
  (``PushedFilters: [*GreaterThanOrEqual(...)]`` — the ``*`` marks
  source-evaluated), so the database does the filtering, not Spark.

The endpoint here is Derby EMBEDDED (bundled with Spark's JVM) — a
single-JVM stand-in that exercises the identical connector code paths;
on a real cluster the URL points at an actual database server, since an
embedded store is not reachable from executor JVMs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_table

_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _jdbc_url(spark: SparkSession, tag: str) -> str:
    from ..operators.relational import drop_generations, warehouse_path

    warehouse = warehouse_path(spark)
    os.makedirs(warehouse, exist_ok=True)
    # the endpoint and its ._loaded marker are one generation of the
    # jdbc_dim_ stem: other corpora's go
    keep = f"jdbc_dim_{tag}"
    drop_generations(spark, "jdbc_dim_", keep=keep)
    return f"jdbc:derby:{os.path.join(warehouse, '_' + keep)};create=true"


def ensure_jdbc_nation(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """One-time load of nation into the embedded Derby endpoint
    (idempotent per corpus via the shared content tag).  Returns
    (url, table)."""
    from ..operators.relational import corpus_tag

    url = _jdbc_url(spark, corpus_tag(sf_dir, "nation"))
    table = "nation"
    marker = url.split("jdbc:derby:", 1)[1].split(";", 1)[0] + "._loaded"
    if not os.path.exists(marker):
        (
            load_table(spark, sf_dir, "nation")
            .write.mode("overwrite")
            .format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("driver", _DERBY_DRIVER)
            .save()
        )
        with open(marker, "w") as fh:
            fh.write("ok\n")
    return url, table


def jdbc_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: nation round-tripped through the JDBC endpoint,
    read back as a 4-way range-partitioned parallel scan with the
    ``n_regionkey >= 2`` predicate pushed into the remote WHERE clause,
    then aggregated per region.  The oracle computes the same aggregate
    over the raw parquet — a connector must never change answers."""
    url, table = ensure_jdbc_nation(spark, sf_dir)
    dim = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", _DERBY_DRIVER)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0")
        .option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
    )
    return (
        dim.filter(F.col("n_regionkey") >= 2)
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_name"),
        )
    )
