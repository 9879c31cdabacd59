"""Tests for the user-defined map/reduce escape hatch — the engine's
successor to the reference's virtual-function API (firebird.h:248-249)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import numpy as np
import pytest
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


# The emit normaliser's contract, pinned as the values Spark collects from
# the records a user callable emits.  Each case: (records emitted for a
# chunk whose column v holds [1, 2], output schema, expected rows for
# map_only, expected rows for map_reduce); an expected str is a fragment
# of the error Spark raises.  The two differ only where Spark itself does:
# mapInPandas ignores result columns past the schema's width, while
# applyInPandas rejects any extra column.
_EMIT_CASES = {
    "extra_key": (
        lambda c: [{"a": v, "x": "extra"} for v in c["v"]],
        "a int",
        [(1,), (2,)],
        "RESULT_COLUMN_NAMES_MISMATCH",
    ),
    "key_absent_everywhere": (
        lambda c: [{"a": v} for v in c["v"]],
        "a int, b int",
        "RESULT_COLUMN_NAMES_MISMATCH",
        "RESULT_COLUMN_NAMES_MISMATCH",
    ),
    "key_absent_from_first": (
        lambda c: [{"a": 1}, {"a": 2, "b": 20}],
        "a int, b int",
        [(1, None), (2, 20)],
        [(1, None), (2, 20)],
    ),
    "float_for_int": (
        lambda c: [{"a": float(v)} for v in c["v"]],
        "a int",
        [(1,), (2,)],
        [(1,), (2,)],
    ),
    "fractional_float_for_int": (
        lambda c: [{"a": v + 0.5} for v in c["v"]],
        "a int",
        "unsafe conversions",
        "unsafe conversions",
    ),
    "none": (
        lambda c: [{"a": None, "s": None}, {"a": 2, "s": "x"}],
        "a int, s string",
        [(None, None), (2, "x")],
        [(None, None), (2, "x")],
    ),
    "str_for_int": (
        lambda c: [{"a": str(v)} for v in c["v"]],
        "a int",
        [(1,), (2,)],
        [(1,), (2,)],
    ),
    "swapped_key_order": (
        lambda c: [{"s": "x", "a": v} for v in c["v"]],
        "a int, s string",
        [(1, "x"), (2, "x")],
        [(1, "x"), (2, "x")],
    ),
    "date_decimal_array": (
        lambda c: [
            {"d": dt.date(2024, 1, v), "m": Decimal("1.25") * v, "xs": [v, v + 1]}
            for v in c["v"]
        ],
        "d date, m decimal(10,2), xs array<int>",
        [
            (dt.date(2024, 1, 1), Decimal("1.25"), [1, 2]),
            (dt.date(2024, 1, 2), Decimal("2.50"), [2, 3]),
        ],
        [
            (dt.date(2024, 1, 1), Decimal("1.25"), [1, 2]),
            (dt.date(2024, 1, 2), Decimal("2.50"), [2, 3]),
        ],
    ),
    "naive_datetime": (
        lambda c: [{"t": dt.datetime(2024, 1, 1, 12, v)} for v in c["v"]],
        "t timestamp",
        [(dt.datetime(2024, 1, 1, 12, 1),), (dt.datetime(2024, 1, 1, 12, 2),)],
        [(dt.datetime(2024, 1, 1, 12, 1),), (dt.datetime(2024, 1, 1, 12, 2),)],
    ),
    "numpy_scalars": (
        lambda c: [
            {"a": v, "f": v / np.float32(2), "b": v > 1} for v in c["v"].to_numpy()
        ],
        "a long, f double, b boolean",
        [(1, 0.5, False), (2, 1.0, True)],
        [(1, 0.5, False), (2, 1.0, True)],
    ),
}


def _run_emit(spark, api: str, emit, schema: str) -> list[tuple]:
    """Run ``emit`` as the map of ``map_only`` or as the reduce of
    ``map_reduce`` over one chunk / one group holding v = [1, 2] in order,
    so the collected rows keep the emitted order."""
    df = spark.range(1, 3, numPartitions=1).selectExpr("CAST(id AS INT) AS v")
    if api == "map_only":
        out = map_only(df, lambda chunk: emit(chunk.sort_values("v")), schema)
    else:
        out = map_reduce(
            df, lambda chunk: ({"v": v, "k": 0} for v in chunk["v"]),
            "v int, k int", ["k"],
            lambda key, group: emit(group.sort_values("v")), schema,
        )
    return [tuple(r) for r in out.collect()]


@pytest.mark.parametrize("case", list(_EMIT_CASES))
@pytest.mark.parametrize("api", ["map_only", "map_reduce"])
def test_emit_normaliser_parity(spark, api, case):
    """map_only's map and map_reduce's reduce turn emitted dicts into the
    same rows and the same errors as ``pd.DataFrame.from_records`` did:
    columns are the emitted keys, a key missing from some records is null
    there, and coercion to the declared types (and its errors) is
    Spark's."""
    emit, schema, want_map_only, want_map_reduce = _EMIT_CASES[case]
    want = want_map_only if api == "map_only" else want_map_reduce
    if isinstance(want, str):
        with pytest.raises(Exception, match=want):
            _run_emit(spark, api, emit, schema)
    else:
        assert _run_emit(spark, api, emit, schema) == want


def test_columnar_emit_equals_dict_emit(spark):
    """A map or reduce that returns one pandas frame (columnar emit) gives
    the rows its per-record dict spelling gives."""
    import pandas as pd

    df = spark.range(200).selectExpr("CAST(id % 7 AS INT) AS k", "CAST(id AS INT) AS v")

    def map_dicts(chunk):
        for k, v in zip(chunk["k"], chunk["v"]):
            yield {"k": k, "v": v * 2}

    def map_frame(chunk):
        return pd.DataFrame({"k": chunk["k"], "v": chunk["v"] * 2})

    def reduce_dicts(key, group):
        yield {"k": key[0], "n": len(group), "total": int(group["v"].sum())}

    def reduce_frame(key, group):
        return pd.DataFrame(
            {"k": [key[0]], "n": [len(group)], "total": [group["v"].sum()]}
        )

    def run(map_fn, reduce_fn):
        out = map_reduce(
            df, map_fn, "k int, v int", ["k"], reduce_fn,
            "k int, n long, total long",
        )
        return sorted(map(tuple, out.collect()))

    want = run(map_dicts, reduce_dicts)
    assert len(want) == 7 and sum(n for _, n, _ in want) == 200
    assert run(map_frame, reduce_frame) == want
    assert run(map_frame, reduce_dicts) == want
    assert sorted(map(tuple, map_only(df, map_frame, "k int, v int").collect())) == (
        sorted(map(tuple, map_only(df, map_dicts, "k int, v int").collect()))
    )


def test_emit_frame_builds_uniform_dicts_without_from_records(monkeypatch):
    """A batch of dicts that all carry the same keys takes the Arrow path,
    not ``from_records``; its columns keep the first record's key order."""
    import pandas as pd

    from firebird_mapreduce_spark.mapreduce import make_emit_frame

    def refuse(*args, **kwargs):
        raise AssertionError("from_records called")

    monkeypatch.setattr(pd.DataFrame, "from_records", refuse)
    frame = make_emit_frame()(({"s": str(v), "a": v} for v in range(3)))
    assert list(frame.columns) == ["s", "a"]
    assert frame.to_dict("list") == {"s": ["0", "1", "2"], "a": [0, 1, 2]}


def test_map_reduce_closures_ship_without_the_package(spark, monkeypatch, tmp_path):
    """The map and reduce closures ``map_reduce`` hands to Spark pickle by
    value: loaded in a fresh interpreter that cannot import this package,
    they still run.  A normaliser pickled by reference (a module-level
    helper) fails here with ModuleNotFoundError."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    df = spark.range(4).selectExpr("CAST(id AS INT) AS v")
    frame_cls, grouped_cls = type(df), type(df.groupBy("v"))
    shipped = {}
    real_map, real_apply = frame_cls.mapInPandas, grouped_cls.applyInPandas

    def capture_map(self, func, schema, *args, **kwargs):
        shipped["map"] = func
        return real_map(self, func, schema, *args, **kwargs)

    def capture_apply(self, func, schema):
        shipped["reduce"] = func
        return real_apply(self, func, schema)

    monkeypatch.setattr(frame_cls, "mapInPandas", capture_map)
    monkeypatch.setattr(grouped_cls, "applyInPandas", capture_apply)

    def map_fn(chunk):
        for v in chunk["v"]:
            yield {"k": v % 2, "v": v}

    def reduce_fn(key, group):
        yield {"k": key[0], "n": len(group)}

    map_reduce(df, map_fn, "k int, v int", ["k"], reduce_fn, "k int, n long")
    pickled = tmp_path / "closures.pkl"
    pickled.write_bytes(cloudpickle.dumps((shipped["map"], shipped["reduce"])))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import os, sys
sys.path = [p for p in sys.path
            if os.path.abspath(p or os.getcwd()) != {repo!r}]
import importlib.util
assert importlib.util.find_spec("firebird_mapreduce_spark") is None
import pickle
import pandas as pd
map_c, reduce_c = pickle.loads(open({str(pickled)!r}, "rb").read())
mapped = pd.concat(map_c(iter([pd.DataFrame({{"v": [1, 2, 3]}})])))
print(mapped.to_dict("list"))
print(reduce_c((1,), mapped[mapped["k"] == 1]).to_dict("list"))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.splitlines() == [
        "{'k': [1, 0, 1], 'v': [1, 2, 3]}",
        "{'k': [1], 'n': [2]}",
    ]


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
