"""Storage-layout operators: Z-order keys, partitioned layouts and
bucketed-table compaction.

The reference engine has no storage layer (in-memory vectors,
``firebird.h:174-179``); at the 100 TB target, file layout IS a query
operator — the difference between a scan touching 2% or 100% of row
groups for the same predicate.  This module provides the declared
Z-order (Morton-interleave) key queries, the Hive-partitioned events
layout behind the DPP join, and the compaction of the folded bucketed
state tables; SCALE.md "Storage layout: Z-order writes" records the
row-group pruning a Z-ordered write buys.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# serializes compact_bucketed_table's session-global conf save/restore
# window (see its docstring)
_AUTO_BUCKETED_SCAN_LOCK = threading.Lock()

# the most files any one bucket of a folded state table may hold before
# maybe_compact_bucketed_table rewrites it to one file per bucket
COMPACTION_THRESHOLD = 4

# the writer bucket id in a bucketed part file's name (``_NNNNN.cNNN``)
BUCKET_FILE_PAT = re.compile(r"_(\d{5})\.c\d+")

from ..functions.zorder import z2, z3, z4
from ..session import session_confs
from ..sources import load_table


def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key over events' (user_id, floor(value)) — the 2-D sort
    key a layout write clusters on.  Pure codegen projection (five
    shift/or/mask steps per dimension, no UDF, zero exchanges); the
    DuckDB oracle recomputes the identical bit arithmetic via
    ``functions.zorder.z2_sql``.

    At 100 TB the two dimensions are first quantile-bucketed to 16 bits;
    this corpus's domains (user_id ≤ 149, value < 491) already fit raw.
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "user_id",
        F.floor("value").cast("long").alias("value_bucket"),
        z2(F.col("user_id"), F.floor("value").cast("long")).alias("zkey"),
    )


def zorder3_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D Z-order key over events' (user_id, floor(value), 16-bit md5
    bucket of event_type) — real lakehouse layouts cluster 3+ columns
    (Delta OPTIMIZE ZORDER BY takes up to ~4 usefully).  Same pure-codegen
    discipline as the 2-D key: the Morton-3D spread is five shift/or/mask
    steps per dimension (public magic-number sequence), no UDF, zero
    exchanges; the DuckDB oracle recomputes the identical bit pipeline via
    ``functions.zorder.z3_sql``.  Measured 3-D pruning table (each
    dimension's selectivity under the 3-D layout vs a linear sort) in
    SCALE.md "Storage layout: Z-order writes"."""
    events = load_table(spark, sf_dir, "events")
    type_bucket = F.conv(
        F.substring(F.md5(F.col("event_type")), 1, 4), 16, 10
    ).cast("long")
    return events.select(
        "event_id",
        "user_id",
        F.floor("value").cast("long").alias("value_bucket"),
        type_bucket.alias("type_bucket"),
        z3(
            F.col("user_id"),
            F.floor("value").cast("long"),
            type_bucket,
        ).alias("zkey"),
    )


def zorder4_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-D Z-order key over events' (user_id, floor(value), 15-bit md5
    bucket of event_type, hour-of-day) — the upper end of useful
    clustering arity (Delta's OPTIMIZE ZORDER BY guidance tops out
    around 4 columns; each added dimension dilutes every dimension's
    prefix, measured in SCALE.md).  The 60-bit key composes two 2-D
    Morton words (15 bits per dimension — a 16th would put dimension
    d's top bit on the BIGINT sign and break key ordering); EVERY
    emitted dimension column is masked to those same 15 bits AT
    DERIVATION, so each is exactly what the key clusters on — an
    unmasked column would silently alias x and x+32768 in the key the
    moment a domain outgrows 15 bits (at production scale the raw
    domains are quantile-bucketed first, per the 2-D docstring).  Pure
    codegen, zero exchanges; the DuckDB oracle recomputes the identical
    pair-composition via ``functions.zorder.z4_sql``."""
    events = load_table(spark, sf_dir, "events")

    def mask15(c):
        return c.cast("long").bitwiseAND(F.lit(0x7FFF))

    user_bucket = mask15(F.col("user_id"))
    value_bucket = mask15(F.floor("value"))
    type_bucket = mask15(
        F.conv(F.substring(F.md5(F.col("event_type")), 1, 4), 16, 10)
    )
    hour_bucket = mask15(F.hour("ts"))
    return events.select(
        "event_id",
        user_bucket.alias("user_bucket"),
        value_bucket.alias("value_bucket"),
        type_bucket.alias("type_bucket"),
        hour_bucket.alias("hour_bucket"),
        z4(user_bucket, value_bucket, type_bucket, hour_bucket).alias("zkey"),
    )


def ensure_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-time Hive-partitioned layout for events (``partitionBy
    (event_type)``), idempotent per corpus via the same content-tag +
    stale-cleanup machinery as the bucketed layouts."""
    from .relational import corpus_tag, ensure_layout_table

    return ensure_layout_table(
        spark,
        "events_part_",
        corpus_tag(sf_dir, "events"),
        lambda: load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value", "event_type"
        ),
        lambda w: w.partitionBy("event_type"),
    )


def ensure_event_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized event-type dimension (event_type → category) written
    once per corpus.  It MUST be a stored table, not an expression: a
    ``CASE WHEN`` category would be constant-folded by Catalyst and the
    fact's partition filter derived statically (verified — the optimizer
    rewrites the dim filter to ``event_type = 'purchase'`` and prunes at
    compile time), which is exactly what production dims cannot offer —
    there the attribute is data, and pruning can only happen at runtime.
    """
    from .relational import corpus_tag, ensure_layout_table

    return ensure_layout_table(
        spark,
        "event_dim_",
        corpus_tag(sf_dir, "events"),
        lambda: load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn(
            "category",
            F.when(F.col("event_type") == "purchase", "conversion").otherwise(
                "engagement"
            ),
        ),
        lambda w: w,
    )


def dpp_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a Hive-partitioned fact: events
    laid out ``partitionBy(event_type)`` (one-time write, content-tag
    idempotent like the bucketed layouts), joined to a STORED dimension
    table whose selective predicate (``category = 'conversion'``) is on
    a non-partition data column — static pruning cannot apply (the
    optimizer cannot know which event_types survive without reading the
    dim), so Spark injects the runtime ``dynamicpruningexpression``
    subquery, fed by the reused broadcast of the filtered dim, into the
    fact scan's PartitionFilters.  At 100 TB this is THE mechanism that
    keeps date/tenant-partitioned fact scans proportional to the dim
    filter instead of the table: the 2-of-3-partitions-skipped plan here
    is the same plan that skips 363 of 365 date partitions in production
    (plan-asserted in tests/test_plans.py).  The DuckDB oracle computes
    the identical join over the raw table — results are
    layout-independent by construction."""
    fact = ensure_partitioned_events(spark, sf_dir)
    dim = ensure_event_dim(spark, sf_dir)
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("category") == "conversion")),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def _table_parquet_files(spark: SparkSession, tbl: str) -> list[str]:
    """Names of the parquet files under managed table ``tbl``'s warehouse
    directory, listed recursively through the warehouse's own Hadoop
    FileSystem (``relational.hadoop_fs``), so the counters below read the
    same files on ``file:`` and on ``hdfs://`` warehouses.  A table with
    no directory has no files."""
    from .relational import hadoop_fs, warehouse_entry

    fs, root = hadoop_fs(spark, warehouse_entry(spark, tbl.lower()))
    if not fs.exists(root):
        return []
    files, names = fs.listFiles(root, True), []
    while files.hasNext():
        name = files.next().getPath().getName()
        if name.endswith(".parquet"):
            names.append(name)
    return names


def bucketed_table_file_count(spark: SparkSession, tbl: str) -> int:
    """Parquet file count of a managed bucketed table — the fragmentation
    metric ``compact_bucketed_table`` exists to bound (and the number the
    compaction test asserts on)."""
    return len(_table_parquet_files(spark, tbl))


def bucket_fragmentation(spark: SparkSession, tbl: str) -> int:
    """MAX parquet files in any single bucket of a managed bucketed
    table — the per-screen cost metric threshold-driven compaction
    watches (a screen touching bucket b opens ``fragmentation(b)``
    files; the worst bucket bounds the tail).  Bucket ids parse from
    the writer's ``_NNNNN.cNNN`` filename component; files without one
    (none, for a bucketed writer) pool under a sentinel bucket."""
    counts: dict[int, int] = {}
    for f in _table_parquet_files(spark, tbl):
        m = BUCKET_FILE_PAT.search(f)
        b = int(m.group(1)) if m else -1
        counts[b] = counts.get(b, 0) + 1
    return max(counts.values(), default=0)


def maybe_compact_bucketed_table(
    spark: SparkSession, tbl: str, n_buckets: int, key_cols: list[str]
) -> bool:
    """Threshold-driven compaction cadence (VERDICT r9 item 4): compact
    ``tbl`` only when some bucket holds MORE than
    ``COMPACTION_THRESHOLD`` files, so a daily-crawl fold pays the
    O(state) rewrite every ~``COMPACTION_THRESHOLD`` ingests instead of
    every ingest — between compactions a screen pays at most that many
    file opens per bucket touched, the bounded read amplification the
    threshold trades against write cost.  Returns whether a compaction
    ran.  Same caller contract as ``compact_bucketed_table`` (see its
    Contract paragraph)."""
    if bucket_fragmentation(spark, tbl) <= COMPACTION_THRESHOLD:
        return False
    compact_bucketed_table(spark, tbl, n_buckets, key_cols)
    return True


def compact_bucketed_table(
    spark: SparkSession, tbl: str, n_buckets: int, key_cols: list[str]
) -> int:
    """Compact a managed BUCKETED table to one file per bucket,
    preserving the bucketing metadata its consumers' zero-exchange plans
    depend on.

    The folded incremental state tables (``operators.fold``) grow
    by O(batch) bucket files per ingest: after K ingests every bucket is
    K-way fragmented, and each day's screen pays K file opens per bucket
    touched — the small-files decay curve, on the tables that live
    longest.  The cure is a ZERO-SHUFFLE rewrite: with the bucketed
    scan FORCED for the pass (``autoBucketedScan`` reads a bucketed
    table as plain file splits when no operator needs the distribution,
    interleaving buckets across tasks — that would yield tasks×buckets
    output files), each scan partition is exactly one bucket's K files,
    the ``repartition(n_buckets, key_cols)`` is satisfied by the scan's
    own HashPartitioning and elided (it is the safety net if bucket
    metadata were ever absent — bucket id and hash partition id share
    the Murmur3-pmod assignment), and the bucketed writer emits ONE
    file per non-empty bucket (asserted in test_bucketing.py).
    Compacting K-fragmented state is therefore one map-side read+write
    of the state — no exchange at any size.

    Swap semantics: the rewrite lands in ``<tbl>__compact`` ALONGSIDE
    the live table (readers of ``tbl`` are unaffected while it runs),
    then DROP + RENAME cut over.  Returns the post-compaction file
    count.

    Contract — CALLER MUST GUARD THE CRASH WINDOW: a crash between the
    DROP and the RENAME leaves ``tbl`` absent (the Hive catalog has no
    atomic two-table swap, so some one-statement absence window exists
    under any statement ordering), and a crash before the DROP strands
    a full-size ``<tbl>__compact``.  Every caller must therefore (a)
    treat tableExists(tbl)==False as rebuild-from-source — the
    ``_ensure_folded_state`` marker/tableExists guard, or a declared
    query's drop-and-reseed-per-replay lifecycle — and (b) drop a
    stale ``<tbl>__compact`` on entry (``_ensure_folded_state`` sweeps
    it; this function also clears it at its own start).  Do NOT call
    this on a table whose only copy of the data has no rebuild path.

    Thread safety (ADVICE r11): the forced-scan pass get/set/restores
    the SESSION-GLOBAL ``autoBucketedScan`` conf, so two concurrent
    compactions could interleave the restore (one scan un-forced, the
    conf stranded).  A module-level lock serializes the conf window —
    callers may compact different tables from threads safely."""
    tmp = f"{tbl}__compact"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    auto = {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
    with _AUTO_BUCKETED_SCAN_LOCK, session_confs(spark, auto):
        (
            spark.table(tbl)
            .repartition(n_buckets, *key_cols)
            .write.bucketBy(n_buckets, *key_cols)
            .sortBy(*key_cols)
            .saveAsTable(tmp)
        )
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {tbl}")
    return bucketed_table_file_count(spark, tbl)
