"""Tests for the user-defined map/reduce escape hatch — the engine's
successor to the reference's virtual-function API (firebird.h:248-249)."""

from __future__ import annotations

from pyspark.sql import functions as F

from firebird_mapreduce_spark.mapreduce import (
    count_by_key,
    iterate_until_fixpoint,
    map_only,
    map_reduce,
)
from firebird_mapreduce_spark.operators import skew as K
from tests.conftest import SF_SMOKE


def test_map_reduce_multi_emit_wordcount(spark):
    """flatMap-style multi-emit map (A2) + multi-row reduce (A5)."""
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c")], "doc_id bigint, text string"
    )

    def map_fn(chunk):
        for text in chunk["text"]:
            for tok in text.split():
                yield {"token": tok, "one": 1}

    def reduce_fn(key, group):
        yield {"token": key[0], "cnt": len(group)}

    out = map_reduce(
        docs, map_fn, "token string, one int", ["token"], reduce_fn,
        "token string, cnt long",
    )
    assert {(r["token"], r["cnt"]) for r in out.collect()} == {
        ("a", 2), ("b", 2), ("c", 1),
    }


def test_map_reduce_empty_emit(spark):
    """A map that emits nothing for some chunks must not break batching."""
    df = spark.createDataFrame([(i,) for i in range(100)], "v int").repartition(8)

    def map_fn(chunk):
        for v in chunk["v"]:
            if v % 50 == 0:
                yield {"k": v % 2, "v": v}

    def reduce_fn(key, group):
        yield {"k": key[0], "total": int(group["v"].sum())}

    out = map_reduce(df, map_fn, "k int, v int", ["k"], reduce_fn, "k int, total long")
    assert {(r["k"], r["total"]) for r in out.collect()} == {(0, 50)}


def test_map_only_flatmap(spark):
    df = spark.createDataFrame([("x y",)], "s string")
    out = map_only(
        df,
        lambda chunk: (
            {"tok": t} for s in chunk["s"] for t in s.split()
        ),
        "tok string",
    )
    assert sorted(r["tok"] for r in out.collect()) == ["x", "y"]


def test_count_by_key_matches_sql(spark):
    df = spark.createDataFrame([(1,), (1,), (2,)], "k int")
    out = {(r["k"], r["count"]) for r in count_by_key(df, "k").collect()}
    assert out == {(1, 2), (2, 1)}


def test_iterate_until_fixpoint_terminates(spark):
    """The driver's contract: the static operand is materialised once and
    sized (rows, and 1 round partition at this size), the state counts up
    to its cap and then stops improving, and the driver stops at the first
    probe that sees no improved row — so the terminating round depends on
    the probe cadence, while the result does not."""
    cap = 5
    seen = []

    def step(state, static):
        seen.append(static)
        nxt = F.col("v") + 1
        return state.select(
            F.least(nxt, F.lit(cap)).alias("v"), (nxt <= cap).alias("improved")
        )

    def initial(static_df):
        return static_df.filter("id = 0").select(
            F.col("id").alias("v"), F.lit(True).alias("improved")
        )

    # rounds 0..4 improve (v = 1..5); round 5 is the first with none
    for every, last_round in ((1, 5), (2, 5), (4, 7)):
        trace: list = []
        seen.clear()
        final = iterate_until_fixpoint(
            step, initial, spark.range(10), max_iterations=20,
            checkpoint_every=every, trace=trace,
        )
        assert [r["v"] for r in final.collect()] == [cap]
        assert [it for it, _, _ in trace] == list(
            range(every - 1, last_round + 1, every)
        )
        assert trace[-1][2] == 0 and all(n == 1 for _, _, n in trace[:-1])
        assert len(seen) == last_round + 1
        # one materialised operand, handed to every round
        assert len({id(s.df) for s in seen}) == 1
        assert {(s.rows, s.partitions) for s in seen} == {(10, 1)}
    # a cap on rounds stops the driver even without convergence
    trace = []
    final = iterate_until_fixpoint(
        step, initial, spark.range(10), max_iterations=3, trace=trace
    )
    assert [r["v"] for r in final.collect()] == [3]
    assert [it for it, _, _ in trace] == [0, 1, 2]


def test_salted_agg_equals_plain(spark):
    from firebird_mapreduce_spark.sources import load_table

    events = load_table(spark, SF_SMOKE, "events")
    plain = {
        (r["event_type"], r["cnt"], r["vmin"])
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("value").alias("vmin"))
        .collect()
    }
    salted = {
        (r["event_type"], r["cnt"], r["vmin"])
        for r in K.salted_agg(
            events.select("event_type", "value"),
            ["event_type"],
            {"cnt": ("event_type", "count"), "vmin": ("value", "min")},
        ).collect()
    }
    assert salted == plain


def test_salt_spreads_hot_keys(spark):
    """The mitigation must actually mitigate: with a row-unique column in
    the projection, stage-1 (key, salt) group count far exceeds the key
    cardinality — a constant-per-key salt (the silent no-op failure mode)
    would make them equal."""
    from firebird_mapreduce_spark.sources import load_table

    events = load_table(spark, SF_SMOKE, "events")
    projected = events.select("event_type", "event_id")  # as salted_group_count does
    n_keys = projected.select("event_type").distinct().count()
    stage1_groups = (
        projected.withColumn("_salt", K._salt(projected, 16))
        .groupBy("event_type", "_salt")
        .count()
    )
    assert stage1_groups.count() > 2 * n_keys
    # and every hot key individually spreads across multiple salt buckets
    per_key = {
        r["event_type"]: r["n_buckets"]
        for r in stage1_groups.groupBy("event_type")
        .agg(F.countDistinct("_salt").alias("n_buckets"))
        .collect()
    }
    assert all(n > 1 for n in per_key.values()), per_key


def test_salted_collect_list_complete(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(100)] + [("b", 1)], "k string, v int"
    )
    out = {r["k"]: sorted(r["v_list"]) for r in K.salted_collect_list(df, ["k"], "v").collect()}
    assert out["a"] == list(range(100))
    assert out["b"] == [1]


def test_merge_upsert_three_outcomes(spark):
    """MERGE semantics: matched keys take update values, unmatched base
    rows pass through untouched, update-only keys insert."""
    from firebird_mapreduce_spark.operators.relational import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, s STRING, v DOUBLE"
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (9, "new", 1.0)], "k INT, s STRING, v DOUBLE"
    )
    got = {r["k"]: (r["s"], r["v"]) for r in merge_upsert(base, updates, ["k"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 9: ("new", 1.0)}


def test_merge_upsert_duplicate_update_keys_single_winner(spark):
    """Duplicate keys in the update batch must NOT fan the target out
    (SQL MERGE raises there; this engine deterministically picks one).
    The documented tie-break takes the greatest value tuple in base
    column order, NULLs last — here (\"Z\", 50.0) beats (\"A\", 99.0) on
    the first value column."""
    from firebird_mapreduce_spark.operators.relational import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k INT, s STRING, v DOUBLE"
    )
    updates = spark.createDataFrame(
        [(2, "A", 99.0), (2, "Z", 50.0), (2, None, 1.0)], "k INT, s STRING, v DOUBLE"
    )
    merged = merge_upsert(base, updates, ["k"])
    assert merged.count() == 2  # no fan-out
    got = {r["k"]: (r["s"], r["v"]) for r in merged.collect()}
    assert got == {1: ("a", 10.0), 2: ("Z", 50.0)}


def test_merge_upsert_null_key_update_wins(spark):
    """The join is eqNullSafe, so a NULL key is a real key: a NULL-keyed
    update must WIN against the NULL-keyed base row (regression: update
    detection via key-isNotNull silently dropped it)."""
    from firebird_mapreduce_spark.operators.relational import merge_upsert

    base = spark.createDataFrame(
        [(None, "a", 10.0), (2, "b", 20.0)], "k INT, s STRING, v DOUBLE"
    )
    updates = spark.createDataFrame(
        [(None, "A", 99.0)], "k INT, s STRING, v DOUBLE"
    )
    got = {r["k"]: (r["s"], r["v"]) for r in merge_upsert(base, updates, ["k"]).collect()}
    assert got == {None: ("A", 99.0), 2: ("b", 20.0)}


def test_skewed_rank_matches_window_and_splits_hot_key(spark):
    """skewed_rank (SCALE.md's rank-skew follow-up, closed in r4): the
    range-split + offset-stitch plan must equal the non-scalable
    row_number window spelling row-for-row on a corpus whose hot key
    holds ~77% of all rows — and that hot key must actually SPAN
    multiple range partitions (otherwise the test exercises nothing: a
    one-partition key is the plain per-key case)."""
    from pyspark.sql import Window

    n_hot, n_cold_users, n_cold_each = 20_000, 100, 60
    hot = spark.range(n_hot).select(
        F.lit(0).alias("user_id"),
        (F.col("id") * 37 % 9973).alias("value"),
        F.col("id").alias("event_id"),
    )
    cold = spark.range(n_cold_users * n_cold_each).select(
        (F.col("id") % n_cold_users + 1).alias("user_id"),
        (F.col("id") * 91 % 9973).alias("value"),
        (F.col("id") + n_hot).alias("event_id"),
    )
    df = hot.unionByName(cold)
    got = {
        (r["user_id"], r["event_id"]): r["rnk"]
        for r in K.skewed_rank(
            df, ["user_id"], ["value", "event_id"], num_partitions=8
        ).collect()
    }
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    want = {
        (r["user_id"], r["event_id"]): r["rnk"]
        for r in df.withColumn("rnk", F.row_number().over(w)).collect()
    }
    assert got == want
    # non-vacuity: the hot key spans >= 2 of the operator's range
    # partitions (replicates the operator's partitioning spec)
    spans = (
        df.repartitionByRange(8, F.col("user_id"), F.col("value"), F.col("event_id"))
        .withColumn("_pid", F.spark_partition_id())
        .filter(F.col("user_id") == 0)
        .select("_pid")
        .distinct()
        .count()
    )
    assert spans >= 2, spans


def test_map_in_arrow_tier_matches_codegen(spark):
    """The lowest-level Arrow escape hatch (``mapInArrow`` — RecordBatch
    in, RecordBatch out, no pandas materialization) completes the UDF
    tier ladder (codegen → pandas_udf → mapInPandas → mapInArrow): a
    batch-level computation must equal the codegen column expression
    exactly, and empty batches must pass through."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from firebird_mapreduce_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")

    def lengths(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pa.compute.utf8_length(batch.column("text")),
                ],
                names=["doc_id", "n_chars"],
            )

    arrow = docs.mapInArrow(lengths, "doc_id LONG, n_chars INT")
    codegen = docs.select("doc_id", F.length("text").alias("n_chars"))
    a = sorted((r.doc_id, r.n_chars) for r in arrow.collect())
    b = sorted((r.doc_id, r.n_chars) for r in codegen.collect())
    assert a == b and len(a) > 0


def test_cogroup_full_outer_semantics_with_unmatched_keys(spark):
    """Crafted input for the cogroup reducer: a key on the customer side
    only (no orders) must emit n_orders=0/total 0.0, a key on the orders
    side only must emit has_customer=False with its exact total, and a
    matched key reconciles both — the full-outer contract the sf corpus
    cannot exercise (every custkey matches there)."""
    from firebird_mapreduce_spark.mapreduce import (
        COGROUP_RECONCILE_SCHEMA,
        cogroup_customer_orders,
        make_cogroup_reconcile,
    )
    from firebird_mapreduce_spark.sources import load_table

    # the PRODUCTION reducer over crafted frames — a private copy here
    # would leave the real unmatched-key branches untested
    customer = spark.createDataFrame([(1,), (2,)], "c_custkey LONG")
    orders = spark.createDataFrame(
        [(2, 10.25), (2, 0.75), (3, 5.50)],
        "o_custkey LONG, o_totalprice DOUBLE",
    )
    out = (
        customer.groupBy("c_custkey")
        .cogroup(orders.groupBy("o_custkey"))
        .applyInPandas(make_cogroup_reconcile(), COGROUP_RECONCILE_SCHEMA)
    )
    got = sorted(map(tuple, out.collect()))
    assert got == [
        (1, True, 0, 0.0),
        (2, True, 2, 11.0),
        (3, False, 1, 5.5),
    ]
    # and the declared query runs over the real corpus (all matched)
    full = cogroup_customer_orders(spark, SF_SMOKE)
    assert full.filter("NOT has_customer").count() == 0
    assert full.count() == load_table(spark, SF_SMOKE, "customer").count()
