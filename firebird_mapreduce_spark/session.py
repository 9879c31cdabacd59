"""SparkSession construction with scale-sane defaults.

The reference engine's only parallelism knobs are thread counts and a map
chunk size (``/root/reference/firebird.h:139-173``).  Spark's equivalents are
session-level configs; we pin the ones that matter for both local testing and
a 1000-executor cluster:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast conversion) — the single highest-leverage setting at 100 TB.
- Arrow on — every pandas UDF / ``applyInPandas`` hop is Arrow-batched.
- ``spark.sql.shuffle.partitions`` sized for the local harness; on a real
  cluster AQE coalescing makes the static value mostly irrelevant.
- Session timezone pinned to UTC so timestamp semantics are reproducible
  and match the DuckDB oracle.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; every one of these is
# either harmless or beneficial unchanged on a large cluster because AQE
# re-plans partition counts at runtime.
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # 10 MB default is conservative; dims like region/nation/part are tiny
    # even at sf100 — let the planner broadcast aggressively.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # keep parquet scans well-split at scale
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.parquet.filterPushdown": "true",
    # Python data sources (sources/edgelist_source.py) absorb filters in
    # their read loop; Spark 4.1 gates that, and a reader implementing
    # pushFilters fails with the gate closed
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def get_session(app_name: str = "firebird-mapreduce-spark", **overrides: str) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    defaults to ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    confs = {**_DEFAULT_CONFS, **overrides}
    for key, value in confs.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


@contextmanager
def session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the ``with`` body and restore them (unset if
    previously unset) on success AND failure — the one save/restore of
    session-global confs: a reader or job must not leave them mutated,
    or later unrelated reads in the same session change behaviour."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
