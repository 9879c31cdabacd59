"""Storage-layout operators: Z-order writes and the pruning they buy.

The reference engine has no storage layer (in-memory vectors,
``firebird.h:174-179``); at the 100 TB target, file layout IS a query
operator — the difference between a scan touching 2% or 100% of row
groups for the same predicate.  This module provides the Z-order
(Morton-interleave) layout write and the declared key-computation
query; ``tools/measure_zorder.py`` measures the row-group pruning it
buys and SCALE.md records the numbers.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# serializes compact_bucketed_table's session-global conf save/restore
# window (see its docstring)
_AUTO_BUCKETED_SCAN_LOCK = threading.Lock()

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
    SCALE.md via ``tools/measure_zorder.py --three``."""
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


def compact_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    preserve_sort: list[str] | None = None,
) -> int:
    """Compact a small-files parquet directory to ~``target_bytes`` files.

    The small-files problem is the silent scan killer at 100 TB: a
    streaming sink or over-parallel write leaves thousands of KB-sized
    files, and every query then pays per-file open/footer costs that
    dwarf the data read (plus driver memory for the file index).
    Compaction = read → ``repartition(ceil(bytes/target))`` → rewrite.

    The new file count comes from the CURRENT on-disk byte size (cheap
    driver-side tree walk, no data read — subdirectories count too, so
    Hive-partitioned layouts size correctly), so the pass sizes itself.
    With ``preserve_sort`` the rewrite range-partitions + sorts on those
    columns instead of round-robin, keeping row-group min/max clustering
    (e.g. after a Z-order write, pass the z-key-producing columns'
    sort to keep pruning).  Returns the new file count.

    Swap semantics are SINGLE-WRITER, NO-CONCURRENT-READER: the rewrite
    lands in ``<path>_compact_tmp`` and is swapped in via two renames,
    between which ``path`` briefly does not exist (local filesystems have
    no atomic directory exchange; a production lakehouse does this swap
    through a table-format commit instead).  The pass is crash-safe for
    the *data*: on entry it recovers a ``<path>_compact_old`` stranded by
    a prior crash (restoring it if the second rename never landed,
    deleting it if it did) — though a crash that ALSO orphans the lock
    below needs that lock removed first (the error reports whether its
    holder is still alive, so that is an informed delete).
    Single-writer is ENFORCED, not assumed: the whole pass — including
    the crash recovery, which would otherwise race a concurrent
    invocation's in-flight tmp/old directories — runs under an
    ``O_EXCL`` ``<path>_compact.lock`` (the ``versioned.py`` pattern:
    pid@host recorded, holder liveness probed by the shared
    ``_describe_lock_holder``), so a second concurrent compaction of
    the same path fails loudly with ``ConcurrentCommitError`` instead
    of corrupting the first one's recovery state.
    """
    import math
    import os
    import shutil
    import socket

    from ..sources.versioned import (
        ConcurrentCommitError,
        VersionedParquetTable,
    )

    lock = path.rstrip("/") + "_compact.lock"
    try:
        lock_fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"another compaction holds {lock} "
            f"({VersionedParquetTable._describe_lock_holder(lock)}); "
            "compact_files is single-writer per path — delete the lock "
            "only if the holder is dead"
        ) from None
    try:
        os.write(lock_fd, f"{os.getpid()}@{socket.gethostname()}".encode())

        old = path.rstrip("/") + "_compact_old"
        tmp = path.rstrip("/") + "_compact_tmp"
        if os.path.exists(old):
            if os.path.exists(path):
                # Prior run completed the swap but died before cleanup.
                shutil.rmtree(old)
            else:
                # Prior run crashed between the two renames: restore.
                os.rename(old, path)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)

        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        n_out = max(1, math.ceil(total / target_bytes))
        df = spark.read.parquet(path)
        if preserve_sort:
            out = df.repartitionByRange(
                n_out, *preserve_sort
            ).sortWithinPartitions(*preserve_sort)
        else:
            out = df.repartition(n_out)
        out.write.mode("overwrite").parquet(tmp)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        return n_out
    finally:
        os.close(lock_fd)
        os.unlink(lock)


def bucketed_table_file_count(spark: SparkSession, tbl: str) -> int:
    """Parquet file count of a managed bucketed table — the fragmentation
    metric ``compact_bucketed_table`` exists to bound (and the number the
    compaction test asserts on)."""
    import os

    from .relational import warehouse_path

    root = os.path.join(warehouse_path(spark), tbl.lower())
    n = 0
    for _dir, _sub, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def bucket_fragmentation(spark: SparkSession, tbl: str) -> int:
    """MAX parquet files in any single bucket of a managed bucketed
    table — the per-screen cost metric threshold-driven compaction
    watches (a screen touching bucket b opens ``fragmentation(b)``
    files; the worst bucket bounds the tail).  Bucket ids parse from
    the writer's ``_NNNNN.cNNN`` filename component; files without one
    (none, for a bucketed writer) pool under a sentinel bucket."""
    import os
    import re

    from .relational import warehouse_path

    root = os.path.join(warehouse_path(spark), tbl.lower())
    pat = re.compile(r"_(\d{5})\.c\d+")
    counts: dict[int, int] = {}
    for _dir, _sub, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                m = pat.search(f)
                b = int(m.group(1)) if m else -1
                counts[b] = counts.get(b, 0) + 1
    return max(counts.values(), default=0)


def maybe_compact_bucketed_table(
    spark: SparkSession,
    tbl: str,
    n_buckets: int,
    key_cols: list[str],
    threshold: int = 4,
) -> bool:
    """Threshold-driven compaction cadence (VERDICT r9 item 4): compact
    ``tbl`` only when some bucket holds MORE than ``threshold`` files,
    so a daily-crawl fold pays the O(state) rewrite every ~``threshold``
    ingests instead of every ingest — between compactions a screen pays
    at most ``threshold`` file opens per bucket touched, the bounded
    read amplification the threshold trades against write cost.
    Returns whether a compaction ran.  Same caller contract as
    ``compact_bucketed_table`` (see its Contract paragraph)."""
    if bucket_fragmentation(spark, tbl) <= threshold:
        return False
    compact_bucketed_table(spark, tbl, n_buckets, key_cols)
    return True


def compact_bucketed_table(
    spark: SparkSession, tbl: str, n_buckets: int, key_cols: list[str]
) -> int:
    """Compact a managed BUCKETED table to one file per bucket,
    preserving the bucketing metadata its consumers' zero-exchange plans
    depend on — ``compact_files``'s discipline for the
    ``saveAsTable``-managed case.

    The folded incremental state tables (``_ensure_folded_state``) grow
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


def write_zordered(
    df: DataFrame,
    a_col: str,
    b_col: str,
    path: str,
    num_files: int = 8,
) -> None:
    """Write ``df`` Z-ordered on ``(a_col, b_col)``: range-partition by
    the interleaved key (so each output file owns a contiguous Z-range —
    an axis-aligned rectangle family of the 2-D space), sort within
    partitions (so row groups inside a file cluster too), drop the key.

    This is the write-side half of Z-order pruning: parquet min/max
    stats per row group do the read-side half for free in ANY engine
    (Spark scan pushdown, DuckDB zone maps), no index structure needed.
    """
    write_zordered_nd(df, [a_col, b_col], path, num_files)


def write_zordered_nd(
    df: DataFrame,
    cols: list[str],
    path: str,
    num_files: int = 8,
) -> None:
    """N-dimensional Z-order write (2-4 columns): same
    range-partition-by-interleaved-key + sort-within recipe as the 2-D
    form, with the Morton key picked by arity (``z2``/``z3``/``z4`` —
    note ``z4`` keeps 15 bits per dimension; see its docstring)."""
    keyers = {2: z2, 3: z3, 4: z4}
    if len(cols) not in keyers:
        raise ValueError(f"z-order supports 2-4 columns, got {len(cols)}")
    keyed = df.withColumn("__zkey", keyers[len(cols)](*[F.col(c) for c in cols]))
    (
        keyed.repartitionByRange(num_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
