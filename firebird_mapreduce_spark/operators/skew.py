"""Skew-mitigation operators: salted two-stage aggregation.

At 100 TB the failure mode of ``groupBy(hot_key)`` is a handful of reducer
partitions holding most of the data (the events table's 5 event types over
32+ cores is exactly this shape: ≤5 of N reduce tasks do all the work).
Salting splits each hot key into ``salt_buckets`` sub-keys for a first
partial aggregation, then combines the partials — both stages get uniform
partitions, at the cost of one extra (tiny) shuffle.

Spark's AQE skew handling covers *join* skew automatically; aggregation
skew is mostly solved by map-side partial aggregation already, so explicit
salting matters for the cases partials can't compress: ``collect_list``/
``collect_set`` reduces, exact percentile/median per key, and grouped-map
pandas UDFs (``applyInPandas``) where one group = one task — there the salt
is the only thing standing between you and a straggler executor.

The salt must be deterministic-per-row but need not be stable across runs:
any uniform function works because it is aggregated away in stage 2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table


def _salt(df: DataFrame, salt_buckets: int) -> Column:
    """Uniform deterministic salt from the full row content.

    The caller MUST keep at least one row-unique column in ``df``: hashing
    only the group key makes the salt constant per key and the whole
    mitigation a silent no-op (every hot key still lands in one bucket,
    and the output is identical so no correctness check catches it)."""
    return F.pmod(F.hash(*df.columns), F.lit(salt_buckets))


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation for algebraic folds.

    ``aggs`` maps output column -> (input column, fn) with fn in
    {sum, count, min, max}; each is combinable so stage-2 re-folds the
    stage-1 partials (count re-folds with sum).
    """
    stage1_exprs = []
    stage2_exprs = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            stage1_exprs.append(F.count(F.lit(1)).alias(f"_p_{out}"))
            stage2_exprs.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "sum":
            stage1_exprs.append(F.sum(col).alias(f"_p_{out}"))
            stage2_exprs.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "min":
            stage1_exprs.append(F.min(col).alias(f"_p_{out}"))
            stage2_exprs.append(F.min(f"_p_{out}").alias(out))
        elif fn == "max":
            stage1_exprs.append(F.max(col).alias(f"_p_{out}"))
            stage2_exprs.append(F.max(f"_p_{out}").alias(out))
        else:
            raise ValueError(f"non-combinable aggregate: {fn}")
    salted = df.withColumn("_salt", _salt(df, salt_buckets))
    partial = salted.groupBy(*key_cols, "_salt").agg(*stage1_exprs)
    return partial.groupBy(*key_cols).agg(*stage2_exprs)


def skewed_event_fact(
    spark: SparkSession, sf_dir: str, pad_blocks: int = 0
) -> DataFrame:
    """The events table re-keyed onto a DELIBERATELY power-law key:
    ~90% of rows collapse onto skew_key 0, the rest spread over the
    nation-key range — the classic hot-key fact shape (one celebrity
    user, one default partition value).

    ``pad_blocks`` > 0 appends that many md5 blocks (32 incompressible
    hex chars each) per row, used by the plan test to make the hot
    partition's *compressed shuffle bytes* exceed AQE's skew threshold at
    sf0.001 — shuffle sizes are measured after compression, so a
    compressible pad (or a pruned-away column) demonstrates nothing."""
    events = load_table(spark, sf_dir, "events")
    cols = [
        F.col("event_id"),
        F.when(F.col("user_id") % 10 == 9, F.col("user_id") % 25)
        .otherwise(F.lit(0))
        .alias("skew_key"),
    ]
    if pad_blocks:
        cols.append(
            F.concat_ws(
                "",
                *[
                    F.md5(F.concat(F.col("event_id").cast("string"), F.lit(str(i))))
                    for i in range(pad_blocks)
                ],
            ).alias("pad")
        )
    return events.select(*cols)


def skew_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: the hot-key fact joined to the ``nation`` dim on
    the skewed key.  Two legitimate scale answers exist and BOTH are
    exercised:

    - natural plan (this query as declared): the dim is tiny, so the
      planner broadcasts it — broadcast beats skew-splitting whenever one
      side fits, because a map-side join has no skewed shuffle at all;
    - when neither side broadcasts (the 100 TB fact⋈fact case),
      AQE's skew-join split carves the hot partition into per-map chunks
      at runtime — forced and plan-asserted in
      tests/test_plans.py::test_aqe_skew_join_splits_hot_partition
      (``SortMergeJoin(skew=true)``, ``AQEShuffleRead .. skewed``).

    The oracle checks the join result itself, so the demonstration rides
    on externally-verified semantics either way."""
    fact = skewed_event_fact(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    return fact.join(
        nation, fact.skew_key == nation.n_nationkey
    ).select("event_id", "skew_key", "n_name")


def salted_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: the ``number_count`` histogram under extreme key
    skew (5 event types across all cores), computed with explicit salting.
    Result is identical to the unsalted ``group_count`` — the oracle
    checks exactly that."""
    events = load_table(spark, sf_dir, "events")
    # event_id is kept in the projection ONLY to feed the salt: hashing
    # just the group key would make _salt constant per key (each hot key
    # still in exactly one stage-1 bucket — a no-op mitigation).  With the
    # row-unique event_id in the hash, every key spreads across all
    # salt_buckets stage-1 groups; test_properties asserts the stage-1
    # group count actually exceeds the key cardinality.
    return salted_agg(
        events.select("event_type", "event_id"),
        ["event_type"],
        {"cnt": ("event_type", "count")},
        salt_buckets=16,
    )

def skewed_rank(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    num_partitions: int = 32,
    rank_col: str = "rnk",
) -> DataFrame:
    """``row_number() OVER (PARTITION BY key ORDER BY order)`` computed
    skew-safely — the key-splitting + offset-stitching follow-up
    SCALE.md's window section documents (rank cannot use two-stage
    salting: it needs the key's total order, so a salted regroup would
    have to re-sort the hot key in one task anyway).

    The non-scalable spelling puts each partition key in ONE window
    task — a single hot key (one user with 10^9 events) becomes a
    straggler no salt can fix.  This plan instead lets the hot key SPAN
    range partitions and stitches ranks across them:

    1. range-repartition + sort on (key, order): Spark's sampled range
       boundaries cut the hot key into several consecutive ordered
       partitions (the same machinery as ``relational.global_sort_rank``,
       generalized per-key);
    2. one ``mapInPandas`` pass assigns LOCAL per-key ranks, vectorized
       (sortedness means only a batch's first key can carry a count in
       from the previous batch, and only its last key carries out);
    3. per-(partition, key) row counts — a tiny stats table, one row per
       key-span — get prefix-summed into offsets by a window OVER THE
       STATS (partitioned by key: thousands of rows, not the data);
    4. a broadcast join adds each span's offset; rank = offset + local.

    Total cost: one range shuffle of the data + one broadcast of
    key-span stats; no per-key single task anywhere.  ``order_cols``
    must be a TOTAL order within each key (add a unique tiebreak
    column), exactly as for any deterministic row_number.  Differential
    vs the window spelling + span assertion in tests/test_mapreduce.py.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    arrange_cols = [F.col(c) for c in (*key_cols, *order_cols)]
    arranged = (
        df.repartitionByRange(num_partitions, *arrange_cols)
        .sortWithinPartitions(*arrange_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin sampled boundaries: stats and
        # rank passes must see the identical partitioning
    )
    # a FRESH StructType — StructType.add would mutate the DataFrame's
    # cached schema object and corrupt arranged.columns
    out_schema = StructType(
        list(arranged.schema.fields) + [StructField("_lrank", LongType())]
    )

    def add_local_rank(batches):
        carry_key, carry_n = None, 0
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            lrank = pdf.groupby(list(key_cols), sort=False).cumcount() + 1
            first_key = tuple(pdf.iloc[0][list(key_cols)])
            if carry_key == first_key:
                # sorted input: only the first key group can continue a
                # group from the previous batch
                mask = (pdf[list(key_cols)] == pdf.iloc[0][list(key_cols)]).all(
                    axis=1
                )
                lrank = lrank + mask.astype("int64") * carry_n
            last_key = tuple(pdf.iloc[-1][list(key_cols)])
            carry_key, carry_n = last_key, int(
                lrank[
                    (pdf[list(key_cols)] == pdf.iloc[-1][list(key_cols)]).all(
                        axis=1
                    )
                ].iloc[-1]
            )
            pdf["_lrank"] = lrank.astype("int64")
            yield pdf

    local = arranged.mapInPandas(add_local_rank, schema=out_schema)
    stats = arranged.groupBy("_pid", *key_cols).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    span_w = (
        Window.partitionBy(*key_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = stats.select(
        "_pid",
        *key_cols,
        F.coalesce(F.sum("_cnt").over(span_w), F.lit(0)).alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), ["_pid", *key_cols])
        .withColumn(rank_col, (F.col("_lrank") + F.col("_offset")).cast("long"))
        .drop("_pid", "_lrank", "_offset")
    )


def skewed_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query (oracle-backed): per-event-type ``row_number`` over
    the events table via ``skewed_rank`` — the skew-safe spelling.  The
    events corpus is the canonical hot-key shape (5 event types over all
    rows), so the naive ``Window.partitionBy(event_type)`` puts ~20% of
    the table in each of 5 single tasks; here every key SPANS range
    partitions and ranks are stitched from broadcast span offsets (see
    ``skewed_rank``).  (ts, event_id) is a total order within each key —
    event_id is unique — so the rank is deterministic and the DuckDB
    window oracle reproduces it exactly."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    ranked = skewed_rank(
        events, key_cols=["event_type"], order_cols=["ts", "event_id"]
    )
    return ranked.select("event_id", "event_type", "rnk")
