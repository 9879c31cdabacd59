"""Relational operator catalog (SURVEY §2.C / §2.D).

The reference implements none of these natively — its engine is the bare
map/group/reduce loop (``/root/reference/firebird.h:182-231``) and its README
lists even splitter/partition/merge as unsupported
(``/root/reference/README.txt:51-58``).  Each function below is the classic
MapReduce formulation of a relational operator re-expressed directly in
DataFrame ops so Catalyst handles pushdown / pruning / join selection.

Every query callable takes ``(spark, sf_dir)`` and returns an *unordered*
DataFrame (the reference's output contract, ``README.txt:54-58``); the
driver's oracle compare is order-insensitive.

Float discipline for oracle hash-stability: monetary/quantity sums are
computed as DECIMAL(18,2) (exact, order-independent — a double sum's low
bits depend on reduction order) and cast to DOUBLE at the end; averages are
derived from the exact decimal sum divided by the count.  The DuckDB oracle
SQL does the identical cast sequence.
"""

from __future__ import annotations

import os

import pandas as pd  # noqa: F401  (module-level so pandas_udf type hints resolve under `from __future__ import annotations`)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table


# ---------------------------------------------------------------------------
# scan / project / filter  (A1 + §2.C projection/filter rows)
# ---------------------------------------------------------------------------

def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection over a parquet scan.  The reference's 'scan' is a typed
    array walk (``firebird.h:188-196``); here column pruning reaches the
    parquet reader (ReadSchema shows only the two columns)."""
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + project; the predicate is pushed into the parquet scan
    (PushedFilters: [GreaterThan(l_quantity,30.0)]) — at 100 TB this is the
    difference between reading one column chunk statistics and reading
    everything.  Conditional-emit pattern in the reference:
    ``shortest_path/main.cpp:41-43``."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.filter(F.col("l_quantity") > 30.0).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


def flatmap_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-emit map (A2: one input record -> 0..n outputs,
    ``firebird.h:239-242``) as explode(split(...)) — stays entirely in
    whole-stage codegen, no Python in the loop."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )


# ---------------------------------------------------------------------------
# aggregation  (B1/B2 + §2.C aggregation rows)
# ---------------------------------------------------------------------------

def numbercount_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``number_count`` benchmark workload at its exact
    published scale: 10,000,000 ints over 100 keys
    (``/root/reference/sample_apps/number_count/main.cpp:23-29``; BASELINE
    row 1).  The reference seeds ``rand()``; here the values come from a
    Knuth multiplicative hash of the row id so Spark and the DuckDB oracle
    generate identical data with a pseudo-random key distribution.
    Ignores ``sf_dir`` — the workload is self-generating by design."""
    ids = spark.range(10_000_000)
    value = ((F.col("id") * 2654435761) % 4294967296) % 100
    return ids.select(value.cast("int").alias("value")).groupBy("value").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``number_count`` sample (map emits (value,1), reduce counts:
    ``/root/reference/sample_apps/number_count/main.cpp:8-21``) over the
    events table.  Spark adds map-side partial aggregation the reference
    lacks (no combiner: ``README.txt:53``)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical MapReduce program: tokenize (flatMap) + count-by-key."""
    tokens = flatmap_tokenize(spark, sf_dir)
    return tokens.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))


def group_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min-by-key — the ``shortest_path`` reduce
    (``/root/reference/sample_apps/shortest_path/main.cpp:48-56``).  min/max
    are order-insensitive so no decimal discipline is needed."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_orderkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )


def group_sum_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate fold per key (A5).  Sums use exact
    DECIMAL(18,2) so the result is bit-identical regardless of partition
    count / reduction order; averages derive from the exact sums."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_price = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).alias("_sq"),
        F.sum(price).alias("_sp"),
        F.sum(disc_price).alias("_sdp"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sp").cast("double").alias("sum_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        (F.col("_sq").cast("double") / F.col("cnt")).alias("avg_qty"),
        (F.col("_sp").cast("double") / F.col("cnt")).alias("avg_price"),
        "cnt",
    )


def distinct_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct — emit (record, null) / reduce-emit-once in MapReduce
    terms; Spark plans it as a hash aggregate with partial dedup map-side."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_custkey").distinct()


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets/rollup — the multi-emit-of-coarser-keys MapReduce
    pattern (§2.C), native in Spark as ``rollup``."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(price).alias("_sp"), F.count(F.lit(1)).alias("cnt"))
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_sp").cast("double").alias("sum_price"),
            "cnt",
        )
    )


# ---------------------------------------------------------------------------
# joins  (§2.C join rows)
# ---------------------------------------------------------------------------

def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping combinations in
    one pass — the multi-emit-of-coarser-keys MapReduce pattern taken to
    its full lattice."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.sum(price).alias("_sp"), F.count(F.lit(1)).alias("cnt"))
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_sp").cast("double").alias("sum_price"),
            "cnt",
        )
    )


def bucketed_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi (band) join via bucketization — the classic MapReduce
    theta-join technique (map each row to coarse buckets, verify the exact
    predicate reduce-side).  Pairs of suppliers whose account balances are
    within 250.0 of each other: bucket by floor(bal/250); a pair within the
    band is always in the same or adjacent bucket, so joining each left row
    to buckets {b-1, b, b+1} (explode of 3) + exact verify finds every pair
    while the shuffle stays keyed — never a cartesian product.  At 100 TB
    the bucket width trades replication factor against verify selectivity.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    width = 250.0
    a = supplier.select(
        F.col("s_suppkey").alias("a_id"),
        F.col("s_acctbal").alias("a_bal"),
        F.explode(
            F.array(
                F.floor(F.col("s_acctbal") / width) - 1,
                F.floor(F.col("s_acctbal") / width),
                F.floor(F.col("s_acctbal") / width) + 1,
            )
        ).alias("bkt"),
    )
    b = supplier.select(
        F.col("s_suppkey").alias("b_id"),
        F.col("s_acctbal").alias("b_bal"),
        F.floor(F.col("s_acctbal") / width).alias("bkt"),
    )
    return (
        a.join(b, "bkt")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_bal") - F.col("b_bal")) <= width)
        )
        .select("a_id", "b_id")
        .distinct()
    )


def grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate (UDAF tier): per-event-type mean absolute
    deviation of ``value``, via a pandas GROUPED_AGG UDF — an aggregate the
    built-in catalog lacks.  Arrow-batched; one value per group.  Rounded
    to 6 dp so numpy's pairwise summation and the oracle's sequential sum
    agree."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mad(values: pd.Series) -> float:
        return float((values - values.mean()).abs().mean())

    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(mad("value"), 6).alias("value_mad")
    )


def reduce_side_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic reduce-side equi-join (tag records by source, group by key,
    pair in reduce).  Spark plans big-big joins as sort-merge / shuffled-hash
    with AQE picking at runtime; both sides shuffle on the join key only."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(customer, orders.o_custkey == customer.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


def runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim big-big join — the shape Spark's RUNTIME BLOOM
    FILTER (SPARK-32268 row-level runtime filtering) exists for: when
    the dim is too big to broadcast, the filtered dim side's join keys
    are folded into a bloom filter (partial → merged
    ``bloom_filter_agg``) and ``might_contain(xxhash64(l_orderkey))``
    is pushed onto the FACT scan, discarding non-joining rows before
    the shuffle instead of after the sort-merge.  The row-level sibling
    of ``dpp_join_events``' partition-level pruning, and the declarative
    successor of hand-built semi-join reductions.

    The query itself is pure dataflow — locally Catalyst broadcasts the
    tiny filtered dim and needs no bloom; the at-scale plan (broadcast
    off, application-side threshold crossed, as a 100 TB lineitem would)
    is pinned in ``tests/test_plans.py``: might_contain on the fact
    scan, bloom_filter_agg on the dim side, identical results either
    way."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (
                        F.lit(1).cast("decimal(18,2)")
                        - F.col("l_discount").cast("decimal(4,2)")
                    )
                ).cast("decimal(28,4)")
            )
            .cast("double")
            .alias("revenue"),
        )
    )


def broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side join with a replicated small table — the analogue of the
    reference sharing the read-only ``graph`` pointer across threads
    (``shortest_path/main.cpp:60``).  ``F.broadcast`` forces it explicitly:
    no shuffle of the big side at all.  region is 5 rows at any SF."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner"
    ).select("n_nationkey", "n_name", "r_name")


_CORPUS_TAG_CACHE: dict[tuple, str] = {}


def corpus_tag(sf_dir: str, *tables: str) -> str:
    """Content tag (md5 of the source parquet bytes) for idempotent
    one-time layout writes: the same corpus reuses the layout, a
    regenerated corpus gets a fresh table name and the stale one is
    dropped by ``ensure_layout_table``.  Memoized per (path, mtime,
    size) so layout queries that run every bench/driver round do not
    re-read and re-hash the source bytes once the layout exists — a
    changed corpus changes the stat signature and misses the cache."""
    import hashlib

    tags = []
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
        tag = _CORPUS_TAG_CACHE.get(key)
        if tag is None:
            with open(path, "rb") as fh:
                tag = hashlib.md5(fh.read()).hexdigest()
            _CORPUS_TAG_CACHE[key] = tag
        tags.append(tag)
    return hashlib.md5("|".join(tags).encode()).hexdigest()[:8]


def warehouse_uri(spark: SparkSession) -> str:
    """``spark.sql.warehouse.dir`` with its URI scheme kept (``file:/…``,
    ``hdfs://nn/…``): the form a Hadoop FileSystem call needs, which
    resolves a scheme-less path against ``fs.defaultFS`` instead."""
    return spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")


def warehouse_path(spark: SparkSession) -> str:
    """Local filesystem path of ``spark.sql.warehouse.dir``.  Drops the
    scheme: only for local-file code (the embedded JDBC endpoint);
    remote-aware code uses ``warehouse_uri`` and ``warehouse_entry``."""
    from urllib.parse import urlparse

    return urlparse(warehouse_uri(spark)).path


# Stems of RETIRED generations, which no build writes again: the r8
# sampled-fit redesign retired the full-corpus-fit PQ code table and its
# centroid artifact, and the shared folded media asset-id rule retired
# the tworound crawl's mmr2_ fold generation.  Every sweep drops them.
RETIRED_STEMS = ("kmx_pq_", "kmxc_pq16x16_", "mmr2_")


def hadoop_fs(spark: SparkSession, uri: str):
    """``(FileSystem, Path)`` of ``uri`` through Hadoop — the filesystem
    Spark itself reads and writes ``uri`` with, on ``file:`` and remote
    warehouses alike.  On ``file:`` it is the raw local filesystem, so a
    marker written through it gets no ``.crc`` sibling."""
    path = spark._jvm.org.apache.hadoop.fs.Path(uri)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return (fs.getRawFileSystem() if fs.getScheme() == "file" else fs), path


def warehouse_entry(spark: SparkSession, name: str) -> str:
    """URI of the warehouse entry ``name``, with the warehouse's scheme."""
    return f"{warehouse_uri(spark).rstrip('/')}/{name}"


def drop_generations(
    spark: SparkSession, stem: str, keep: str | None = None
) -> None:
    """The one sweep of persisted generations ``<stem><corpus tag>``.

    Drops every catalog table named ``stem*`` except ``keep``, and every
    warehouse entry named ``stem*`` or ``_stem*`` — tables, fold
    ``_…_folded`` and jdbc ``._loaded`` markers, ``__compact``
    leftovers, report sinks — whose name, without one leading ``_``,
    does not start with ``keep``.  A stale entry outlives the in-memory
    catalog: a fresh session does not list it, and ``saveAsTable`` onto
    it fails with LOCATION_ALREADY_EXISTS.  Entries are listed and
    deleted through the Hadoop FileSystem of ``warehouse_uri``, so one
    rule holds on ``file:`` and on ``hdfs://``.  Every sweep also drops
    ``RETIRED_STEMS`` whole.

    Runs on the calling thread only: never from ``fold_trigger``'s pool
    or a ``foreachBatch`` callback (``_apply_trigger``), which would
    race the catalog with the stream's own writes."""
    stems = (stem, *RETIRED_STEMS)
    tables = spark.catalog.listTables(pattern="|".join(f"{s}*" for s in stems))
    for t in tables:
        if t.name.startswith(stems) and t.name != keep:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    names = ",".join(f"{u}{s}*" for s in stems for u in ("", "_"))
    fs, pattern = hadoop_fs(spark, warehouse_entry(spark, f"{{{names}}}"))
    for path in (e.getPath() for e in fs.globStatus(pattern) or []):
        name = path.getName().removeprefix("_")
        if keep is None or not name.startswith(keep):
            fs.delete(path, True)


# (applicationId, table) pairs this process has already built-or-found:
# skip the per-call sweep (``drop_generations``; its catalog listing
# measured ~1.8 s/query on the r8 PQ serving path, which makes 7 ensure
# calls).  The fast path still confirms the
# table EXISTS (one cheap RPC), so an in-process drop — the folded-state
# crash-guard rebuild — falls through to the full path.  Session-scoped
# by applicationId: a new session re-verifies once, and the stale-corpus
# drop logic still runs on each table's FIRST encounter per session.
_LAYOUT_READY: set[tuple[str, str]] = set()


def ensure_layout_table(
    spark: SparkSession,
    prefix: str,
    tag: str,
    build,
    configure_writer,
) -> DataFrame:
    """Idempotent pay-the-write-once machinery shared by every physical
    layout (bucketed, Hive-partitioned): write ``build()`` as
    ``{prefix}{tag}`` with ``configure_writer`` applied if it does not
    exist, dropping stale same-prefix tables from older corpora and
    orphaned warehouse entries (``drop_generations``)."""
    tbl = f"{prefix}{tag}"
    key = (spark.sparkContext.applicationId, tbl)
    if key in _LAYOUT_READY:
        if spark.catalog.tableExists(tbl):
            return spark.table(tbl)
        _LAYOUT_READY.discard(key)  # dropped in-process — rebuild below
    exists = spark.catalog.tableExists(tbl)
    drop_generations(spark, prefix, keep=tbl if exists else None)
    if not exists:
        configure_writer(build().write.mode("overwrite")).saveAsTable(tbl)
    _LAYOUT_READY.add(key)
    return spark.table(tbl)


def ensure_bucketed_table(
    spark: SparkSession,
    prefix: str,
    tag: str,
    n_buckets: int,
    key_cols: list[str],
    build,
) -> DataFrame:
    """Bucketed+sorted layout via :func:`ensure_layout_table` — the
    pay-the-shuffle-once machinery of ``bucketed_join_orders`` and
    ``dedup_exact_bucketed``."""
    return ensure_layout_table(
        spark,
        prefix,
        tag,
        build,
        lambda w: w.bucketBy(n_buckets, *key_cols).sortBy(*key_cols),
    )


def bucketed_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join + same-key aggregation with ZERO
    exchanges — the pre-shuffle layout strategy for REPEATED big-big
    joins at scale (the shuffle is paid once at write time and amortized
    over every subsequent join; at 100 TB you bucket the fact tables on
    their join key at ingest and every downstream join/agg on that key
    runs shuffle-free).

    First call per (session, corpus) writes both sides
    ``bucketBy(8, custkey).sortBy`` into the warehouse — idempotent via a
    content tag (source parquet md5), with stale-corpus tables dropped —
    then the join AND the per-customer aggregation both consume the
    bucketed layout: Spark plans SortMergeJoin over the pre-sorted
    buckets and partial-aggregates within the same partitioning, so
    ``count_exchanges == 0`` end-to-end (asserted in
    tests/test_bucketing.py).  The bench entry's per-run array makes the
    amortization visible: run 0 carries the one-time write, runs 1+ are
    the repeated-join cost (SCALE.md).  Decimal-exact revenue per the
    engine's aggregate discipline."""
    tag = corpus_tag(sf_dir, "orders", "customer")
    orders = ensure_bucketed_table(
        spark,
        "orders_bkt_",
        tag,
        8,
        ["o_custkey"],
        lambda: load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
    )
    customer = ensure_bucketed_table(
        spark,
        "customer_bkt_",
        tag,
        8,
        ["c_custkey"],
        lambda: load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name"
        ),
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left-semi + left-anti with a tag column: customers with vs without
    orders.  Semi/anti never materialize right-side columns, so the shuffle
    carries keys only — the cheapest existence check at scale."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey")
        .withColumn("tag", F.lit("has_orders"))
    )
    without_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey")
        .withColumn("tag", F.lit("no_orders"))
    )
    return with_orders.unionByName(without_orders)


def range_join_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range join: pairs of events by the same user within 60 s
    (follow-up events).  The equi component (user_id) keys the shuffle, the
    range predicate is applied inside the join — the scale-sane shape for
    theta joins (pure cross-range joins get bucketized first; cf. the
    theta-join-on-MapReduce literature, PAPERS.md)."""
    events = load_table(spark, sf_dir, "events")
    a = events.select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("a_event"),
        F.col("ts").alias("a_ts"),
        F.col("event_type").alias("a_type"),
    )
    b = events.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_event"),
        F.col("ts").alias("b_ts"),
    )
    pairs = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 60 SECONDS")),
        "inner",
    )
    return pairs.groupBy("a_type").agg(F.count(F.lit(1)).alias("pair_cnt"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Generic as-of join (latest right row with ``right_ts <= left_ts`` per
    key) — an operator Spark lacks natively.  Implemented the scalable way:
    union the two tagged streams, single shuffle on the key, one windowed
    pass with ``last(..., ignorenulls)`` — O(n log n) per key and **no**
    row explosion, unlike the naive inequality join whose intermediate is
    |left|x|matching right|.

    Right-side rows sort before left-side rows at equal timestamps so an
    exactly-simultaneous right row is visible to the left row (<= semantics).
    Left rows with no prior right row come back with NULL value columns.
    """
    lhs = left.select(
        F.col(left_on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        "*",
    )
    rhs_cols = [F.col(c).alias(f"_v_{c}") for c in value_cols]
    rhs = right.select(
        F.col(right_on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *rhs_cols,
    )
    merged = lhs.unionByName(rhs, allowMissingColumns=True)
    # deterministic tiebreak inside equal (_ts, _side): last value col wins
    order = [F.col("_ts").asc(), F.col("_side").asc()] + [
        F.col(f"_v_{c}").asc_nulls_first() for c in value_cols
    ]
    win = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        "*",
        *[
            F.last(f"_v_{c}", ignorenulls=True).over(win).alias(f"_asof_{c}")
            for c in value_cols
        ],
    )
    out = filled.filter(F.col("_side") == 1).drop(
        "_k", "_ts", "_side", *[f"_v_{c}" for c in value_cols]
    )
    for c in value_cols:
        out = out.withColumnRenamed(f"_asof_{c}", c)
    return out


def asof_purchase_prior_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join applied: for each 'purchase' event, the latest 'click' by
    the same user at or before the purchase time (attribution-style lookup;
    non-vacuous on the corpus — both streams live in the same time range)."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    joined = asof_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="click_user",
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["click_id"],
    )
    # match the inner-join oracle: drop purchases with no prior click
    return joined.filter(F.col("click_id").isNotNull()).select(
        "purchase_id", "click_id"
    )


# ---------------------------------------------------------------------------
# sort / top-k / window  (§2.C rows)
# ---------------------------------------------------------------------------

def left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with empty-side handling (§2.C outer-join row):
    every customer with their high-value orders (> 300k), order columns
    NULL for customers that have none — the reduce-side join variant where
    an empty right bucket still emits.  (Restricted to high-value orders
    because at every SF all customers have *some* order; unrestricted,
    the NULL path would never execute and the query would not actually
    test outer semantics.)"""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000.0
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left"
    ).select("c_custkey", "o_orderkey", "o_totalprice")


def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over two aggregated views: per-user event activity
    vs per-customer order totals — rows survive from either side."""
    events = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("uid"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("uid"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return events.join(orders, "uid", "full").select("uid", "n_events", "n_orders")


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window functions: previous and next event type per user in
    time order (deterministic via the event_id tiebreak)."""
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return events.select(
        "event_id",
        "user_id",
        F.lag("event_type", 1).over(win).alias("prev_type"),
        F.lead("event_type", 1).over(win).alias("next_type"),
    )


def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving aggregate: average of the last 3 event values per user
    (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), the running-state-in-reduce
    MapReduce pattern as a one-shuffle window."""
    events = load_table(spark, sf_dir, "events")
    win = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(win), 6).alias("moving_avg"),
    )


def argmax_order_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max without a self-join: each customer's most expensive order
    via ``max_by`` over a (price, key) struct — one aggregation, no window,
    no join; the struct tiebreak keeps it deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.max_by(
            F.col("o_orderkey"),
            F.struct(F.col("o_totalprice"), F.col("o_orderkey")),
        ).alias("top_orderkey"),
        F.max("o_totalprice").alias("top_price"),
    )


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: per-partition local top-k then a single k-merge —
    Spark's ``TakeOrderedAndProject`` does exactly the MapReduce local-top-k
    pattern.  o_orderkey tiebreak keeps the result deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed ranking: first 3 orders per customer.  MapReduce shape:
    group by partition key, sort in reduce, scan with running state —
    Spark's window exec does it with a single shuffle+sort.  o_orderkey
    tiebreak removes row_number nondeterminism on date ties."""
    orders = load_table(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(win).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


def tumbling_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation — the batch-equivalent form of a streaming
    tumbling window (same code runs under Structured Streaming, see
    ``streaming.jobs``)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("hour_start"), "cnt")
    )


def sliding_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: 1-hour windows every 15 minutes, so each
    event lands in exactly 4 overlapping windows — the window family
    tumbling can't express (trend smoothing, rate-over-trailing-hour
    refreshed sub-hourly).  Same ``F.window`` runs unchanged under
    Structured Streaming.

    Spark's slide alignment is epoch-based (window start =
    ``floor(ts/slide)·slide − k·slide``), which the oracle reproduces
    with integer epoch-microsecond arithmetic; the 4× row fan-out happens
    inside the generated window expression before the partial aggregate,
    so the shuffle still carries only (window, partial-count) pairs."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "cnt")
    )


def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: hypertable-style continuous rollup with gap filling
    and LOCF — hourly per-type counts over the FULL [min, max] hour span,
    zero-filling the 215 empty (type, hour) buckets the raw groupBy never
    emits, plus last-observation-carried-forward of the bucket max.

    The spine (distinct types × hour sequence) is generated, not stored:
    one single-row bounds aggregate explodes into the hour axis — at any
    scale the spine is |types| × span/granularity rows, independent of
    event volume, so it is always the broadcast side of the fill join.
    LOCF is ``last(ignorenulls)`` over an UNBOUNDED PRECEDING frame —
    per-partition streaming state, no second shuffle (the fill join
    already partitioned by type).  ``max`` is the carried value because it
    is reduction-order-exact on doubles (a double SUM would hash-drift;
    DECIMAL is the documented alternative)."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("max_val"))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "hour_start"
        )
    )
    types = events.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(hours))
    filled = spine.join(hourly, ["event_type", "hour_start"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "hour_start",
        F.coalesce(F.col("n"), F.lit(0)).alias("cnt"),
        F.col("n").isNull().alias("is_gap"),
        F.last("max_val", ignorenulls=True).over(w).alias("locf_max"),
    )


# ---------------------------------------------------------------------------
# set ops / scalar functions  (§2.C rows)
# ---------------------------------------------------------------------------

def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect / except as tagged union — customer keys that did and did
    not place orders, via set operators (vs the join formulation in
    ``semi_anti_join``; both are listed §2.C capabilities)."""
    cust_keys = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    order_keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    both = cust_keys.intersect(order_keys).withColumn("tag", F.lit("both"))
    only_cust = cust_keys.exceptAll(order_keys.distinct()).withColumn(
        "tag", F.lit("customer_only")
    )
    return both.unionByName(only_cust)


def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/date/math/JSON function surface (the reference's
    equivalent is 'arbitrary C++ in map()').  All JVM-side built-ins —
    no Python UDFs in the hot path."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.upper(F.col("o_orderstatus")).alias("status_u"),
        F.length(F.col("o_orderpriority")).alias("prio_len"),
        # decimal multiply keeps the value exact on both engines; double
        # round() half-rule differences (HALF_UP vs round-half-away on the
        # scaled double) would flip ~x.xx5 boundaries otherwise
        (
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("0.1").cast("decimal(2,1)")
        )
        .cast("double")
        .alias("tithe"),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("prio_code"),
    )


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: pull a field out of a JSON string column."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k_val"),
    )


def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: for each nation, its top-2 customers by
    balance — the per-row-subquery shape SQL users reach for before
    discovering window functions.  Catalyst decorrelates the LATERAL
    into a ranked join (same physical family as the window spelling),
    so declaring it this way costs nothing at scale; DuckDB runs the
    identical statement.  Deterministic total order via the
    (balance DESC, custkey) tie-break."""
    for t in ("nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"lat_{t}")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM lat_nation n,
        LATERAL (SELECT c_custkey, c_acctbal FROM lat_customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        """
    )


def variant_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4's VARIANT type: ``parse_json``
    shreds the JSON string into the binary variant encoding ONCE, then
    typed ``variant_get`` path extractions read it without re-parsing —
    the upgrade over per-access ``get_json_object`` string parsing
    (``json_extract_events``) when several fields are pulled from the
    same payload.  At 100 TB, store the column AS variant in parquet and
    the parse cost moves to ingest; every downstream query pays only the
    binary path walk.  Aggregated per extracted value so the oracle is a
    compact deterministic summary (DuckDB extracts the same paths from
    the JSON text)."""
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "event_id",
        F.parse_json(F.col("props")).alias("v"),
    )
    return (
        v.select(
            F.variant_get("v", "$.k", "bigint").alias("k_val"),
            "event_id",
        )
        .groupBy("k_val")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per-user event counts, one column per event
    type.  The explicit category list keeps the plan single-pass (without
    it Spark first runs a distinct-values job) and makes the output schema
    static — a requirement at scale where a surprise category would change
    the schema mid-pipeline."""
    events = load_table(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # absent combinations pivot to NULL; the oracle's FILTER counts give 0
    return pivoted.na.fill(0, subset=list(EVENT_TYPES))


def unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long): lineitem measure columns into
    (metric, value) rows — the inverse transform, 4x row expansion with no
    shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )


def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg): nation names per
    region, sorted then joined.  Expressed as
    ``array_join(array_sort(collect_list(...)))`` — the explicit sort makes
    the result deterministic despite ``collect_list``'s unspecified order
    (the same reason the reference's output is unordered,
    ``README.txt:54-58``)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


def ntile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: quartile bucket (NTILE) and
    percent_rank of each customer by total order spend."""
    orders = load_table(spark, sf_dir, "orders")
    totals = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("spend")
    )
    win = Window.orderBy(F.col("spend").desc(), F.col("o_custkey").asc())
    return totals.select(
        "o_custkey",
        "spend",
        F.ntile(4).over(win).alias("quartile"),
        F.round(F.percent_rank().over(win), 6).alias("pct_rank"),
    )


def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / p90 per key.  Exact percentiles need the full sorted
    value set per key (not map-side combinable) — the aggregation class
    where skew salting does NOT apply and memory per key is the limit; at
    100 TB you reach for ``approx_percentile`` (t-digest, combinable)
    instead, kept here as the exactness baseline.  Spark's interpolation
    matches DuckDB's ``quantile_cont`` bit-for-bit."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.median("value").alias("med"),
        F.percentile("value", F.lit(0.9)).alias("p90"),
    )


def approx_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median / p90 per key — the 100 TB percentile path.

    ``percentile_approx`` maintains a bounded quantile sketch
    (Greenwald-Khanna style) that is map-side combinable: memory per key is
    O(accuracy), independent of group size, where the exact twin
    (``percentile_stats``) must buffer every value of a key on one task.
    Sketch outputs are engine-specific, so the driver records the weaker
    rows-only check; ``tests/test_properties.py`` asserts the approximation
    lands within the exact answer's neighborhood at accuracy=10000."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("med_approx"),
        F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("p90_approx"),
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general grouping lattice of which
    rollup/cube are special cases: here the two one-dimension marginals
    plus the grand total, WITHOUT the (flag, status) detail rows a cube
    would add.  Spark expands the sets into one pass with a grouping-id
    (single Expand + aggregate, no union of scans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def global_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure global sort with a dense global rank, computed scalably.

    ``row_number() OVER (ORDER BY ...)`` forces every row through ONE task
    — the non-scalable spelling.  This plan instead:
    1. range-repartitions + sorts within partitions on the full sort key
       (Spark's distributed sort: sampled range boundaries, disjoint
       ordered partitions);
    2. counts rows per partition (one cheap job over ≤ #partitions rows of
       metadata);
    3. adds ``rank = offset[partition] + local_index`` via ``mapInPandas``
       — zero additional shuffles, constant memory.
    The key (o_totalprice DESC, o_orderkey ASC) is a total order, so the
    rank is well-defined regardless of where sampling places partition
    boundaries.  The rank column also makes the driver's order-insensitive
    hash compare actually verify the ORDER — a sorted output alone would
    hash identically in any order (the vacuous-match trap)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # localCheckpoint: the sorted layout is consumed twice (count job +
    # rank job); materializing it once also pins the sampled range
    # boundaries so both jobs see identical partitioning.
    arranged = (
        orders.repartitionByRange(
            32, F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
        )
        .sortWithinPartitions(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in arranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets = {}
    running = 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]

    def add_rank(batches):
        seen = 0
        part_offset = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if part_offset is None:
                part_offset = offsets.get(int(pdf["_pid"].iloc[0]), 0)
            pdf = pdf.copy()
            pdf["rnk"] = range(part_offset + seen + 1, part_offset + seen + 1 + len(pdf))
            seen += len(pdf)
            yield pdf[["o_orderkey", "o_totalprice", "rnk"]]

    return arranged.mapInPandas(
        add_rank, schema="o_orderkey bigint, o_totalprice double, rnk bigint"
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate count-distinct per event type.  Sketch
    values are engine-specific, so the driver records the weaker rows-only
    check for this one (no oracle_sql entry)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )

def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group: variance, stddev, and the
    quantity↔price correlation, derived from EXACT decimal moment sums.

    Spark has the built-ins (``stddev_samp`` / ``var_samp`` / ``corr`` /
    ``covar_samp`` — single-pass co-moment merges, the right call in a
    normal pipeline), but their double accumulators are reduction-order
    dependent: the last bits drift with partition count, so a cross-engine
    hash compare on them is a coin flip.  The engine's float discipline
    (module header) applies: accumulate the raw moments Σx, Σx², Σxy as
    DECIMAL — exact and order-independent, since 2-dp inputs make x² and
    x·y exact 4-dp values — then derive the statistics with one identical
    double-arithmetic expression on each engine.  A property test pins the
    derived values to Spark's built-ins within 1e-9, so the built-in path
    is verified too.

    Map-side partial aggregation applies to the decimal sums exactly as to
    any algebraic fold — this is also the *scalable* spelling."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sx"),
        F.sum((q * q).cast("decimal(28,4)")).alias("sxx"),
        F.sum(p).alias("sy"),
        F.sum((p * p).cast("decimal(28,4)")).alias("syy"),
        F.sum((q * p).cast("decimal(28,4)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var_qty = (sxx - sx * sx / n) / (n - F.lit(1.0))
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return sums.select(
        "l_returnflag",
        F.col("n").alias("cnt"),
        F.round(sx / n, 6).alias("mean_qty"),
        F.round(var_qty, 6).alias("var_qty"),
        F.round(F.sqrt(var_qty), 6).alias("std_qty"),
        F.round(corr, 6).alias("corr_qty_price"),
    )


def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / filtered aggregation — SQL's ``FILTER (WHERE ...)`` and
    ``count_if``: per order priority, how many orders are open, how many are
    high-value, and the revenue of only the open ones.  Expressed as
    aggregates over ``CASE WHEN`` projections, which Catalyst folds into the
    same partial-aggregate pipeline as unconditional sums (one scan, one
    shuffle — a FILTER clause never justifies a second pass)."""
    orders = load_table(spark, sf_dir, "orders")
    is_open = F.col("o_orderstatus") == "O"
    price = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(is_open, 1)).alias("n_open"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_high_value"),
        F.sum(F.when(is_open, price)).cast("double").alias("open_revenue"),
    )


def revenue_share_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's total revenue
    — aggregate once, then a window SUM over the region partition divides
    the already-reduced rows (25 rows carry the window, never the fact
    table).  Share is ONE double division of two exact decimal sums, so
    it is reduction-order independent and hash-exact cross-engine
    (decimal/decimal division would hit engine-specific result-scale
    rules; double division of exact operands is IEEE-identical)."""
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(28,4)")
    per_nation = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(revenue).alias("rev"))
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w).cast("double"), 6
        ).alias("share"),
    )


def tpch_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composite query (TPC-H Q5 shape, minus supplier): revenue
    by nation for one region and one order-date year across a 5-table join
    — the end-to-end plan the single operators audit in isolation.

    Declared star-shaped and left to Catalyst: the two big tables
    (lineitem ⋈ orders) hash-join on the shuffled order key; customer
    arrives via its own key shuffle; nation and region are broadcast
    (plan-asserted in tests/test_plans.py) so the dimension filters prune
    rows BEFORE the expensive joins — predicate pushdown moves
    ``r_name = 'ASIA'`` and the date range into the scans.  Revenue uses
    exact decimal arithmetic: price (2 dp) × (1 − discount (2 dp)) is an
    exact 4-dp product, summed as DECIMAL(28,4)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(28,4)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def tpch_q5_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: the Q5-shaped flagship written as ONE
    ``spark.sql`` statement over temp views registered from the same
    adaptive readers (footer-sniffing timestamp handling and all) — the
    API a SQL-first user of the engine gets, compiled by the same
    Catalyst into the same broadcast-dim/shuffle-fact plan as the
    DataFrame spelling (equality pinned in tests/test_plans.py).
    EUROPE/1995 so the result set is distinct evidence from
    ``tpch_revenue_by_nation``'s ASIA/1996.  Broadcast hints are the SQL
    spelling of ``F.broadcast``; revenue arithmetic is the exact-decimal
    house form."""
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q5_{t}")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(n, r) */
               n.n_name,
               CAST(sum(CAST(
                   CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2))
                      - CAST(l.l_discount AS DECIMAL(4,2)))
                   AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM q5_lineitem l
        JOIN q5_orders o   ON l.l_orderkey = o.o_orderkey
        JOIN q5_customer c ON o.o_custkey = c.c_custkey
        JOIN q5_nation n   ON c.c_nationkey = n.n_nationkey
        JOIN q5_region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
          AND o.o_orderdate >= '1995-01-01'
          AND o.o_orderdate < '1996-01-01'
        GROUP BY n.n_name
        """
    )


def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) — the canonical scan-dominated
    aggregate: one predicate, one groupBy over two low-cardinality flags,
    eight aggregates.  The whole query is a single map-side-combined
    shuffle over ~6 groups; at 100 TB it is bandwidth-bound on the
    parquet scan with the shipdate predicate and 7-column ReadSchema
    pushed to the reader — the shape Catalyst + whole-stage codegen
    exist for (no joins, no skew, partial agg collapses each task to a
    handful of rows).

    Exact-decimal discipline: every per-row product is computed at a
    precision that provably fits 38 digits in BOTH engines before the
    explicit cast, so no product is ever silently rescaled:
    ep(18,2) x (1-disc)(19,2) is decimal(38,4) — at the cap but exact,
    scale preserved — then cast to decimal(28,4) (values are ~1e6, far
    inside 24 integer digits); charge = disc_price(28,4) x
    (1+tax)(7,2) is decimal(36,6) exact, cast to decimal(38,6).  The
    sums are therefore reduction-order-independent; averages divide the
    exact decimal sum by the count in double, rounded 6 dp.  Mirrors the
    reference's aggregate loop (``firebird.h:205-218``) at the
    relational level."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = (ep * (one - disc)).cast("decimal(28,4)")
    charge = (disc_price * (F.lit(1).cast("decimal(6,2)") + tax)).cast(
        "decimal(38,6)"
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("_sq"),
            F.sum(ep).alias("_sbp"),
            F.sum(disc_price).alias("_sdp"),
            F.sum(charge).alias("_sc"),
            F.sum(disc).alias("_sd"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_sq").cast("double").alias("sum_qty"),
            F.col("_sbp").cast("double").alias("sum_base_price"),
            F.col("_sdp").cast("double").alias("sum_disc_price"),
            F.col("_sc").cast("double").alias("sum_charge"),
            F.round(
                F.col("_sq").cast("double") / F.col("count_order"), 6
            ).alias("avg_qty"),
            F.round(
                F.col("_sbp").cast("double") / F.col("count_order"), 6
            ).alias("avg_price"),
            F.round(
                F.col("_sd").cast("double") / F.col("count_order"), 6
            ).alias("avg_disc"),
            "count_order",
        )
    )


def tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) — the canonical
    filter → join → join → aggregate → top-k pipeline: BUILDING-segment
    customers x orders before the cutoff x lineitems shipped after it,
    revenue per order, top 10.

    Plan shape at scale: the segment-filtered customer projection is
    BROADCAST into orders (dim-sized), the surviving orders then join
    lineitem on the shuffle (fact x fact — the one unavoidable exchange),
    and the final ordering is TakeOrderedAndProject (per-partition heaps
    + driver merge, never a global sort).  Top-k over a double needs a
    deterministic total order for the oracle: ties break by
    (o_orderdate, l_orderkey), the unique key making the cut stable in
    both engines."""
    cutoff = "1998-03-15"
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff)
    )
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = (ep * (one - disc)).cast("decimal(28,4)")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(
            F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey")
        )
        .limit(10)
    )


def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe expressions — Spark 4 runs with
    ``spark.sql.ansi.enabled=true``, where division by zero and
    malformed casts are runtime ERRORS; ``try_divide`` / ``try_cast``
    are the per-expression escape that yields NULL instead, the
    contract a pipeline uses for dirty columns it cannot pre-validate.
    (This engine hit the ANSI hazard for real: ``split(bigram)[1]``
    ANSI-errors when Catalyst inlines it past a null-filter — see
    ``text.py``.)

    Per priority group: rows whose divisor hit zero (try_divide →
    NULL), rows whose cast of the full priority string failed
    (try_cast → NULL — the leading digit extracted with substring DOES
    cast), and min/max of the successful quotients rounded to 6 dp
    (selection aggregates — order-independent, no double summation).
    The oracle spells the identical semantics with CASE + TRY_CAST."""
    orders = load_table(spark, sf_dir, "orders")
    div = F.try_divide(
        F.col("o_totalprice"), (F.col("o_custkey") % 7).cast("double")
    )
    full_cast = F.expr("try_cast(o_orderpriority AS int)")
    digit_cast = F.expr("try_cast(substring(o_orderpriority, 1, 1) AS int)")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(div.isNull().cast("long")).alias("n_div_null"),
        F.sum(full_cast.isNull().cast("long")).alias("n_cast_null"),
        F.min(digit_cast).alias("priority_digit"),
        F.round(F.min(div), 6).alias("min_quotient"),
        F.round(F.max(div), 6).alias("max_quotient"),
    )


def tpch_q18_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer) — the HAVING-filter shape: keep
    only orders whose total line quantity exceeds the threshold, then
    enrich with customer and rank by price.  Quantity threshold 250
    (~top 1.5% of orders on this corpus; the spec's 300 would select
    almost nothing at the synthetic line-count distribution).

    Plan: one map-side-combined groupBy(l_orderkey) with the HAVING
    filter applied to the aggregate (the selective step — survivors are
    ~1% of orders), then two keyed joins and TakeOrderedAndProject.
    The aggregate side shrinks before either join, so at scale both
    joins see only the filtered survivors on one side; quantity sums
    are exact DECIMAL(18,2) and the top-100 cut tiebreaks on the unique
    o_orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"))
        .filter(F.col("_sq") > 250)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("_sq").cast("double").alias("total_qty"),
        )
        .orderBy(
            F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")
        )
        .limit(100)
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per stage,
    the number of users whose FIRST qualifying event strictly follows
    their previous stage's first event — the product-analytics staple
    (strict sequencing, not mere co-occurrence: a purchase BEFORE the
    first post-view click does not convert).

    Each step must land within a 1-HOUR conversion window of the
    previous anchor — without the window the synthetic corpus converts
    every user at every stage (~67 events/user), which would make the
    query vacuous as sequencing evidence; with it the populations
    shrink stage over stage and an ordering bug shows up as a count
    shift.

    Dataflow: each stage is a keyed min-timestamp aggregate joined to
    the previous stage's per-user anchor — three groupBys and two joins,
    ALL keyed on user_id, so at scale every exchange is the same hash
    partitioning and AQE reuses it; stage populations only shrink.  The
    final report is three single-row counts unioned — driver-sized.
    Timestamps compare strictly (>); both engines evaluate at
    microsecond precision so the comparison can never straddle a
    truncation boundary."""
    events = load_table(spark, sf_dir, "events")
    v, c, p = funnel_stages(events)
    return (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit("view").alias("stage"), "n_users")
        .unionAll(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("view>click").alias("stage"), "n_users"
            )
        )
        .unionAll(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("view>click>purchase").alias("stage"), "n_users"
            )
        )
    )


def funnel_stages(
    events: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The funnel's stage dataflow over an ARBITRARY events frame —
    factored out of :func:`funnel_conversion` so the crafted-boundary
    tests (tests/test_analytics.py) drive the PRODUCTION stage logic,
    not a replica that could silently drift from it."""
    hour = F.expr("INTERVAL 1 HOUR")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + hour)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + hour)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return v, c, p


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the ISO week of their
    FIRST event; for every (cohort_week, week_offset) cell, the number
    of distinct cohort members active that many weeks later — the
    companion analytics staple to :func:`funnel_conversion` (funnels
    measure ordered progression, cohorts measure return behavior).

    Dataflow: one keyed min-ts aggregate (cohort assignment), one
    distinct over (user, active_week) — both shuffles on user_id so the
    partitioning is reused by the join — then a count-distinct over the
    tiny (cohort, offset) grid.  ``date_trunc('week', …)`` starts weeks
    on ISO Monday in BOTH engines; offsets are exact multiples of 7
    days, so the integer division is exact."""
    events = load_table(spark, sf_dir, "events")
    return (
        retention_grid(events)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col("user_id")).alias("n_active"))
    )


def retention_grid(events: DataFrame) -> DataFrame:
    """(user_id, cohort_week, week_offset) rows over an ARBITRARY events
    frame — factored out of :func:`retention_cohorts` so the crafted
    ISO-week-alignment test drives the PRODUCTION offset logic."""
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return active.join(first, "user_id").select(
        "user_id",
        "cohort_week",
        (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
    )


def batch_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization via the built-in
    ``F.session_window`` groupBy — the BATCH spelling of the streaming
    sessionizer (``streaming/jobs.py::session_window_stream_query``
    covers the same surface under micro-batch state merge; this is the
    one-shot backfill form a pipeline runs over historical data).
    30-minute gap — distinct evidence from the streaming query's
    10-minute sessions.

    Spark merges an event into its user's current session while its time
    is inside [start, last+gap] INCLUSIVE — an event at exactly
    last+gap still merges (proven on a crafted boundary in
    tests/test_analytics.py; the oracle's new-session flag is therefore
    the STRICT ``>``); session_end = last event + gap.  The oracle
    reproduces that relationally (lag → new-session flag → running
    session id — the gaps-and-islands form).  One shuffle
    on user_id; per-session value totals are exact DECIMAL(18,2) before
    the final double cast.  At 100 TB this is the same cost envelope as
    any keyed aggregate — the session merge is a per-key sorted pass
    inside the shuffle partition, never a cross-key barrier."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sv"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            F.col("_sv").cast("double").alias("sum_value"),
        )
    )


def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, how many events (and the max
    value seen) in the trailing 30 minutes INCLUDING the current row — the
    event-time sliding statistic (rate limiting, burst detection) where a
    ROWS frame is wrong because event spacing is irregular.

    The frame is declared over epoch MICROSECONDS (``unix_micros``), not a
    seconds cast: the source timestamps are nanosecond-precision, and a
    truncating seconds cast would put sub-second neighbors at distance 0,
    silently widening the frame.  Selection aggregates (count, max) keep
    the result independent of within-frame evaluation order; the window
    shuffles once on user_id like any partitioned window."""
    events = load_table(spark, sf_dir, "events")
    micros = F.unix_micros(F.col("ts"))
    win = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-30 * 60 * 1_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(win).alias("n_trailing_30m"),
        F.max("value").over(win).alias("max_val_30m"),
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    dedupe_updates: bool = True,
) -> DataFrame:
    """MERGE/upsert without a table format: update-wins full-outer merge of
    ``updates`` into ``base`` on ``key_cols`` — the CDC apply step a
    lakehouse runs per batch.  Non-key columns must match by name; for each
    key present in both, the update's row wins; keys only in one side pass
    through.

    Duplicate update keys: SQL MERGE *raises* when several update rows hit
    one target row; a silent full-outer join instead fans the target out,
    duplicating keys with an unspecified winner (ADVICE round 2).  With
    ``dedupe_updates`` (the default) the updates are first reduced to one
    row per key with a deterministic documented tie-break — greatest value
    tuple, comparing the non-key columns in ``base``'s column order, NULLs
    last — which requires the value columns to be orderable types.  Pass
    ``dedupe_updates=False`` only when the caller guarantees key-unique
    updates (the SQL MERGE precondition) and wants to skip the extra
    update-side shuffle; the shuffle is on the (small) update batch, never
    on ``base``.

    Plan shape: ONE full-outer shuffle join on the key (both sides
    hash-partitioned; at scale, bucketing both tables by the merge key
    makes this a zero-exchange sort-merge), then a coalesce projection —
    no window, no union-distinct.  With a transactional format (Delta/
    Iceberg) this same plan is what MERGE INTO compiles to; here the
    result is returned for the caller to write atomically."""
    value_cols = [c for c in base.columns if c not in key_cols]
    if dedupe_updates and value_cols:
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc_nulls_last() for c in value_cols]
        )
        updates = (
            updates.withColumn("_mu_rn", F.row_number().over(w))
            .filter(F.col("_mu_rn") == 1)
            .drop("_mu_rn")
        )
    elif dedupe_updates:
        # key-only table: duplicate updates are exact duplicates
        updates = updates.dropDuplicates(key_cols)
    # _u_present is the match marker: key columns can be NULL (the join is
    # eqNullSafe, so NULL keys DO match), which makes "update-side key is
    # not null" the wrong update-detection test — a NULL-keyed update
    # would silently lose.  A literal TRUE on the update side is non-null
    # exactly when the full-outer join found an update row.
    u = updates.select(
        *[F.col(c).alias(f"_u_{c}") for c in key_cols],
        *[F.col(c).alias(f"_uv_{c}") for c in value_cols],
        F.lit(True).alias("_u_present"),
    )
    cond = None
    for k in key_cols:
        clause = base[k].eqNullSafe(F.col(f"_u_{k}"))
        cond = clause if cond is None else cond & clause
    merged = base.join(u, cond, "full_outer")
    return merged.select(
        *[
            F.coalesce(base[k], F.col(f"_u_{k}")).alias(k)
            for k in key_cols
        ],
        *[
            F.when(F.col("_u_present").isNotNull(), F.col(f"_uv_{c}"))
            .otherwise(base[c])
            .alias(c)
            for c in value_cols
        ],
    )


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: apply a deterministic change batch to ``orders`` —
    every third order arrives re-priced (+10, exact decimal) and
    force-closed, and a synthetic late-arriving order (key -1) is
    inserted.  Exercises all three MERGE outcomes: matched-update,
    unmatched-passthrough, and insert."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("F").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") + F.lit(10))
        .cast("double")
        .alias("o_totalprice"),
    )
    late = spark.createDataFrame(
        [(-1, "O", 100.0)], "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
    )
    # dedupe_updates=False: the change batch is key-unique BY CONSTRUCTION
    # (a filter of the key-unique orders table plus one fresh key), so the
    # plan stays the pure one-join shape (asserted window-free in
    # tests/test_plans.py)
    return merge_upsert(
        orders, changes.unionByName(late), ["o_orderkey"], dedupe_updates=False
    )


def above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: correlated scalar subquery, decorrelated — each
    customer compared against THEIR nation's average balance
    (``WHERE c_acctbal > (SELECT avg(...) WHERE same nation)``).  The
    classic optimizer rewrite is what this plan states directly: one
    partial-aggregated per-nation average (25 rows), broadcast back onto
    the customer table, filter — the correlated probe becomes a map-side
    hash join instead of a per-row subquery execution.  At 100 TB the
    aggregate is the only shuffle and its output is dimension-sized.

    Averages derive from exact DECIMAL sums (house discipline) so the
    filter threshold is bit-identical cross-engine; the comparison uses
    the UNROUNDED average (ties are exact-equality events on identical
    doubles, excluded by ``>`` on both sides identically), the output
    column rounds to the 6-dp grid."""
    cust = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    avgs = cust.groupBy("c_nationkey").agg(
        (F.sum(bal).cast("double") / F.count(F.lit(1))).alias("nation_avg")
    )
    return (
        cust.join(F.broadcast(avgs), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.round("nation_avg", 6).alias("nation_avg"),
        )
    )


def merge_additive(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """ADDITIVE merge — the apply step of incremental materialized-
    aggregate maintenance: for each key, the new value of every
    ``sum_cols`` column is base + update (either side absent counts as
    zero), keys from either side pass through.  The streaming recipe
    this powers: pre-aggregate each micro-batch (count/sum per key,
    algebraic aggregates only), then fold the batch delta into the
    stored aggregate — state is aggregate-sized, never event-sized.

    PRECONDITION: ``updates`` is key-unique (one pre-aggregated row per
    key) — the caller aggregates its batch first; and ``sum_cols`` are
    ALGEBRAIC aggregates (counts, sums, decimal-exact) — averages and
    percentiles are not additive and must be derived from stored sums
    at read time.

    Summed columns are cast back to the UPDATES-side dtype after the
    add: decimal addition widens precision per Spark's rules, and an
    unchecked widen-per-merge would drift the stored schema a little
    every batch until it hits DECIMAL(38).
    """
    b, u = base.alias("b"), updates.alias("u")
    cond = None
    for k in key_cols:
        c = F.col(f"b.{k}").eqNullSafe(F.col(f"u.{k}"))
        cond = c if cond is None else (cond & c)
    update_types = dict(updates.dtypes)
    out = [
        F.coalesce(F.col(f"b.{k}"), F.col(f"u.{k}")).alias(k)
        for k in key_cols
    ]
    for c in sum_cols:
        out.append(
            (
                F.coalesce(F.col(f"b.{c}"), F.lit(0))
                + F.coalesce(F.col(f"u.{c}"), F.lit(0))
            )
            .cast(update_types[c])
            .alias(c)
        )
    return b.join(u, cond, "full_outer").select(*out)
