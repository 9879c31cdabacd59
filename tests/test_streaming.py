"""Batch-stream parity tests under MULTI-micro-batch replay: the same
transformations over readStream must produce the batch answers when the
corpus is replayed as 4 event-time-ordered micro-batches
(``maxFilesPerTrigger=1``), which makes cross-batch state carry-over and
watermark advancement real — a single availableNow batch exercises
neither.  Crafted-input tests pin the watermark semantics themselves:
a beyond-watermark late row is dropped, and an evicted dedup key
re-emits.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from firebird_mapreduce_spark.operators import relational as R
from firebird_mapreduce_spark.sources import load_table
from firebird_mapreduce_spark.streaming import (
    group_count_stream,
    run_stream_to_memory,
    session_window_stream,
    stream_events,
    stream_events_multibatch,
    stream_stream_join,
    streaming_dedup,
    tumbling_window_stream,
    user_running_counts_stream,
)
from tests.conftest import SF_SMOKE


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_group_count_parity_single_batch(spark):
    """The plain one-file source still replays correctly (and restores the
    nanosAsLong conf it flips — leaked state would silently change later
    batch reads' column types)."""
    stream = group_count_stream(stream_events(spark, SF_SMOKE))
    result = run_stream_to_memory(stream, "t_group_count_sb")
    batch = R.group_count(spark, SF_SMOKE)
    assert _rows(result, "event_type", "cnt") == _rows(batch, "event_type", "cnt")
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None


def test_group_count_parity_multibatch(spark):
    stream = group_count_stream(stream_events_multibatch(spark, SF_SMOKE))
    result = run_stream_to_memory(stream, "t_group_count_mb")
    batch = R.group_count(spark, SF_SMOKE)
    assert _rows(result, "event_type", "cnt") == _rows(batch, "event_type", "cnt")


def test_tumbling_window_parity_multibatch(spark):
    stream = tumbling_window_stream(stream_events_multibatch(spark, SF_SMOKE))
    result = run_stream_to_memory(stream, "t_tumbling_mb")
    batch = R.tumbling_window_count(spark, SF_SMOKE)
    assert _rows(result, "hour_start", "cnt") == _rows(batch, "hour_start", "cnt")


def test_session_window_multibatch_counts_all_events(spark):
    """Session state must MERGE across micro-batch boundaries: with the
    corpus split into 4 event-time-ordered batches, a session that spans a
    file boundary only stays whole if batch i+1's events extend the open
    session carried in state from batch i.  Every event landing in exactly
    one non-overlapping session is therefore a cross-batch-state check,
    not just an aggregation check."""
    stream = session_window_stream(
        stream_events_multibatch(spark, SF_SMOKE), gap="10 minutes"
    )
    result = run_stream_to_memory(stream, "t_sessions_mb")
    total_events = load_table(spark, SF_SMOKE, "events").count()
    agg = result.agg(F.sum("n_events").alias("s"), F.count(F.lit(1)).alias("n")).first()
    assert agg["s"] == total_events  # every event lands in exactly one session
    assert agg["n"] > 1  # and sessions actually split
    # sessions never overlap per user (checked driver-side: self-joining a
    # memory-sink view trips conflicting-reference resolution)
    sessions: dict[int, list[tuple]] = {}
    for r in result.collect():
        sessions.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"])
        )
    for spans in sessions.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2, f"overlapping sessions: {(s1, e1)} vs {(s2, _)}"


def test_streaming_dedup_multibatch_one_per_key(spark):
    """With a horizon covering the whole corpus span no key is ever
    evicted mid-replay, so 4-batch replay must still emit exactly one
    survivor per key (state carried across batches suppresses batch-2+
    re-arrivals of batch-1 keys)."""
    stream = streaming_dedup(
        stream_events_multibatch(spark, SF_SMOKE), horizon="45 days"
    )
    result = run_stream_to_memory(stream, "t_dedup_mb", output_mode="append")
    batch_keys = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert result.count() == batch_keys
    dupes = result.groupBy("user_id", "event_type").count().filter("count > 1").count()
    assert dupes == 0


def test_stream_stream_join_multibatch_matches_batch(spark):
    """The interval join buffers each side in state and evicts behind the
    watermark; with event-time-ordered batches the evictions are all safe
    (a click is dropped only after every purchase it could match has
    arrived), so the multi-batch pair set must equal the batch join."""
    stream = stream_stream_join(stream_events_multibatch(spark, SF_SMOKE))
    result = run_stream_to_memory(stream, "t_ssjoin_mb", output_mode="append")
    events = load_table(spark, SF_SMOKE, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("purchase_id", "click_id")
    assert _rows(result, "purchase_id", "click_id") == _rows(
        batch, "purchase_id", "click_id"
    )
    assert result.count() > 0  # non-vacuous: pairs actually exist


def test_stateful_running_counts_carry_state_across_batches(spark):
    """``applyInPandasWithState`` must carry GroupState between
    micro-batches: (a) more update rows than users proves the replay
    really ran multiple batches that each re-emitted touched users, and
    (b) the max update per user equals the batch count — which can only
    happen if each batch's update built on the carried total (a
    per-batch reset would plateau at the largest single-batch count)."""
    stream = user_running_counts_stream(stream_events_multibatch(spark, SF_SMOKE))
    result = run_stream_to_memory(stream, "t_running_mb", output_mode="update")
    n_users = load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    assert result.count() > n_users, "expected one update per touched user PER BATCH"
    final = result.groupBy("user_id").agg(F.max("total_events").alias("total"))
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("total"))
    )
    assert _rows(final, "user_id", "total") == _rows(batch, "user_id", "total")


def test_custom_sessionizer_matches_builtin(spark):
    """Differential test of two INDEPENDENT session implementations: the
    applyInPandasWithState sessionizer (explicit open-session GroupState
    carried across 4 micro-batches) must produce the exact session set of
    the built-in session_window operator.  Any cross-batch state bug —
    reset, failed merge at a batch boundary, gap off-by-one — diverges
    the two."""
    from firebird_mapreduce_spark.streaming.jobs import custom_session_query

    custom = custom_session_query(spark, SF_SMOKE)
    builtin = run_stream_to_memory(
        session_window_stream(
            stream_events_multibatch(spark, SF_SMOKE), gap="10 minutes"
        ),
        "t_cs_builtin",
    )
    cols = ("user_id", "session_start", "session_end", "n_events")
    assert _rows(custom, *cols) == _rows(builtin, *cols)
    assert custom.count() > 100  # non-vacuous


def test_session_timeout_append_emits_each_session_exactly_once(spark, tmp_path):
    """The declared append-mode sessionizer (stream_session_timeout):
    a session closed by a SUCCESSOR event and sessions closed by
    EVENT-TIME TIMEOUT must each appear exactly once in the append
    output, with the carried cross-batch count and last+gap extent —
    double emission, a missed timeout, or a state reset all fail.  The
    sentinel batches play the stream-end flush role the declared query
    gets from ``_events_split_dir(flush_batches=2)``."""
    from firebird_mapreduce_spark.streaming.jobs import (
        custom_session_timeout_stream,
    )

    d = _write_event_files(
        tmp_path,
        [
            [
                (1, "2024-03-01 10:00:00", 1, "click"),
                (2, "2024-03-01 10:02:00", 2, "click"),
            ],
            [(3, "2024-03-01 10:05:00", 1, "click")],  # extends session A
            [(4, "2024-03-01 12:00:00", 1, "click")],  # closes A, opens B
            [(5, "2024-03-02 10:00:00", -1, "flush")],  # wm advancer
            [(6, "2024-03-03 10:00:00", -2, "flush")],  # spacer: timeouts fire
        ],
    )
    result = run_stream_to_memory(
        custom_session_timeout_stream(_stream_crafted(spark, d)),
        "t_session_timeout_once",
        output_mode="append",
    ).filter(F.col("user_id") >= 0)
    rows = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in result.collect()
    )
    assert rows == [
        # session A: batch-1 start, batch-2 extension carried, closed by
        # the batch-3 successor — emitted once with n=2
        (1, "2024-03-01 10:00:00", "2024-03-01 10:15:00", 2),
        # session B: no successor — closed only by watermark timeout
        (1, "2024-03-01 12:00:00", "2024-03-01 12:10:00", 1),
        # user 2: single-event session, timeout-closed
        (2, "2024-03-01 10:02:00", "2024-03-01 10:12:00", 1),
    ]


def test_event_time_timeout_finalizes_state(spark, tmp_path):
    """The remaining stateful-API surface: ``GroupStateTimeout.
    EventTimeTimeout``.  A group whose state sets a timeout timestamp
    must get a final ``state.hasTimedOut`` invocation once the watermark
    passes it — here the operator emits a 'closed' row with the buffered
    count and clears state.  User 1 is touched in batch 1 only; batch 2's
    advancer pushes the watermark past user 1's timeout, so batch 3
    (spacer — timeouts fire a batch after the watermark reports, same lag
    as the late filter) delivers the timed-out callback.  The 'closed'
    emission carrying the batch-1 count proves both the timeout firing
    AND that the state it finalized had survived across batches."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    d = _write_event_files(
        tmp_path,
        [
            [
                (1, "2024-03-01 10:00:00", 1, "click"),
                (2, "2024-03-01 10:01:00", 1, "click"),
            ],
            [(3, "2024-03-01 15:00:00", 2, "click")],  # wm advancer
            [(4, "2024-03-01 15:30:00", 3, "click")],  # spacer: timeout fires
        ],
    )
    out_schema = "user_id bigint, status string, n bigint"
    state_schema = "n long"

    def update(key, batches, state: GroupState):
        import pandas as _pd

        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield _pd.DataFrame(
                {"user_id": [key[0]], "status": ["closed"], "n": [n]}
            )
            return
        n = state.get[0] if state.exists else 0
        last_ms = 0
        for pdf in batches:
            n += len(pdf)
            last_ms = max(last_ms, max(int(t.value // 1_000_000) for t in pdf["ts"]))
        state.update((n,))
        # finalize once no event arrives for 2 hours of EVENT time: user
        # 1's timeout lands at 12:01, crossed when the 15:00 advancer
        # moves the watermark; users 2/3's timeouts are never reached
        # before the replay ends, so they stay open
        state.setTimeoutTimestamp(last_ms + 2 * 3600 * 1000)
        yield _pd.DataFrame({"user_id": [key[0]], "status": ["open"], "n": [n]})

    stream = (
        _stream_crafted(spark, d)
        .withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    result = run_stream_to_memory(stream, "t_ett", output_mode="update")
    rows = {(r["user_id"], r["status"]): r["n"] for r in result.collect()}
    assert rows.get((1, "open")) == 2  # batch-1 state built
    assert rows.get((1, "closed")) == 2  # timed out later WITH the carried count
    assert (2, "open") in rows and (3, "open") in rows
    # users whose timeout the watermark never crossed must NOT close
    assert (2, "closed") not in rows and (3, "closed") not in rows


# ---------------------------------------------------------------------------
# Crafted-input watermark semantics
# ---------------------------------------------------------------------------


def _write_event_files(tmp_path, batches):
    """Write one micros-parquet file per batch of (event_id, ts_iso,
    user_id, event_type) tuples, mtimes strictly increasing so the file
    stream replays them in the given order."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "crafted_events")
    os.makedirs(out, exist_ok=True)
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows]),
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [0.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        table = table.set_column(
            1, "ts", table.column("ts").cast(pa.timestamp("us"))
        )
        path = os.path.join(out, f"part_{i:03d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (base + i, base + i))
    return out


def _stream_crafted(spark, directory):
    from firebird_mapreduce_spark.streaming.jobs import _events_file_stream

    return _events_file_stream(
        spark, directory, "*.parquet", directory, max_files_per_trigger=1
    )


def test_late_row_beyond_watermark_is_dropped(spark, tmp_path):
    """THE watermark semantics test, on the operator where late-drop is a
    hard guarantee: a watermarked tumbling-window aggregation in APPEND
    mode.  (``dropDuplicatesWithinWatermark`` deliberately does NOT
    promise to drop late input — that relaxation is its documented
    difference from plain dedup, so it cannot pin this semantics.)

    Batch 1 puts one event in the 10:00 window and advances max event
    time to 13:30, moving the watermark to 11:30 — strictly past the
    10:00 window's 11:00 end.  The late 10:30 row arrives TWO batches
    later (after a spacer batch): measured behavior of this Spark version
    is that the late filter runs one batch behind the reported watermark,
    so a late row arriving in the very next batch after its advancer
    still slips through — the spacer makes the 11:30 watermark effective.
    The late row must then be DROPPED: the 10:00 window's count stays 1
    (admitting it would either bump the count to 2 or append a second
    10:00 emission, both caught by exact-list assertion).  The final
    17:30 advancer finalizes the 13:00/14:00 windows; its own window
    never finalizes before availableNow ends, so append never emits it —
    also asserted."""
    d = _write_event_files(
        tmp_path,
        [
            [
                (1, "2024-03-01 10:15:00", 1, "click"),
                (2, "2024-03-01 13:30:00", 2, "click"),  # wm -> 11:30
            ],
            [
                (3, "2024-03-01 14:00:00", 3, "click"),  # spacer batch
            ],
            [
                (4, "2024-03-01 10:30:00", 4, "click"),  # late: win end < wm
            ],
            [
                (5, "2024-03-01 17:30:00", 5, "click"),  # wm -> 15:30
            ],
        ],
    )
    windowed = (
        _stream_crafted(spark, d)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("hour_start"), "cnt")
    )
    result = run_stream_to_memory(windowed, "t_late_drop", output_mode="append")
    got = sorted((r["hour_start"].strftime("%H:%M"), r["cnt"]) for r in result.collect())
    assert got == [("10:00", 1), ("13:00", 1), ("14:00", 1)], got
    assert ("17:00", 1) not in got  # unfinalized window never emitted in append


def test_evicted_dedup_key_reemits_after_horizon(spark, tmp_path):
    """Watermark EVICTION test: ``dropDuplicatesWithinWatermark`` keeps a
    key's state until event time + horizon falls behind the watermark —
    user 1's 10:00 entry expires at 12:00.  Batch 2's 14:30 advancer
    pushes the watermark to 12:30 > 12:00, evicting user 1 at that
    batch's end; batch 3 is a spacer (eviction lands at batch end, so the
    re-arrival must come a full batch later); batch 4's user-1 re-arrival
    then re-emits.  Two survivors for one key is the *correct*
    bounded-state answer — and exactly why the whole-corpus oracle query
    uses a horizon wider than the corpus."""
    d = _write_event_files(
        tmp_path,
        [
            [(1, "2024-03-01 10:00:00", 1, "click")],
            [(2, "2024-03-01 14:30:00", 2, "click")],  # wm -> 12:30 > expiry 12:00
            [(3, "2024-03-01 15:00:00", 3, "click")],  # spacer: eviction visible
            [(4, "2024-03-01 15:30:00", 1, "click")],  # u1 again: re-emits
        ],
    )
    deduped = streaming_dedup(
        _stream_crafted(spark, d), subset=["user_id"], horizon="2 hours"
    )
    result = run_stream_to_memory(
        deduped.select("event_id", "user_id"), "t_evict_reemit", output_mode="append"
    )
    got = sorted((r["user_id"], r["event_id"]) for r in result.collect())
    assert got == [(1, 1), (1, 4), (2, 2), (3, 3)], got


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Stop/restart recovery — the production durability contract: a query
    killed after 2 of 4 micro-batches and restarted with the SAME
    checkpointLocation must (a) resume from the recorded offsets instead
    of re-reading consumed files, (b) restore the persisted watermark and
    window state, and (c) leave its durable append sink bit-identical to
    an uninterrupted run of the same replay.  If restart re-processed
    from scratch, state would reset, already-finalized windows would be
    re-emitted, and the sink comparison below would show duplicates."""
    import shutil

    from firebird_mapreduce_spark.streaming.jobs import (
        _events_file_stream,
        _events_split_dir,
    )

    split = _events_split_dir(spark, SF_SMOKE, n_files=4)
    parts = sorted(
        f for f in os.listdir(split)
        if f.endswith(".parquet") and f.startswith("part_")
    )
    assert len(parts) == 4

    def make_src(dest: str, names: list[str]) -> None:
        os.makedirs(dest, exist_ok=True)
        for i, name in enumerate(names):
            out = os.path.join(dest, name)
            shutil.copy(os.path.join(split, name), out)
            # keep the split dir's strictly-increasing mtime contract so
            # maxFilesPerTrigger=1 replays in event-time order
            os.utime(out, (1_700_000_000 + i, 1_700_000_000 + i))

    def run_to_parquet(src: str, sink: str, ckpt: str) -> None:
        stream = tumbling_window_stream(
            _events_file_stream(spark, src, "*.parquet", split,
                                max_files_per_trigger=1)
        )
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            q = (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)

    # uninterrupted reference run: all 4 batches, one process lifetime
    src_a = str(tmp_path / "src_a")
    make_src(src_a, parts)
    run_to_parquet(src_a, str(tmp_path / "sink_a"), str(tmp_path / "ckpt_a"))

    # interrupted run: 2 batches, stop, 2 more files arrive, restart
    src_b = str(tmp_path / "src_b")
    make_src(src_b, parts[:2])
    sink_b, ckpt_b = str(tmp_path / "sink_b"), str(tmp_path / "ckpt_b")
    run_to_parquet(src_b, sink_b, ckpt_b)
    make_src(src_b, parts)  # files 0/1 rewritten identically, 2/3 new
    run_to_parquet(src_b, sink_b, ckpt_b)

    a = _rows(spark.read.parquet(str(tmp_path / "sink_a")), "hour_start", "cnt")
    b = _rows(spark.read.parquet(sink_b), "hour_start", "cnt")
    assert len(b) == len(set(b)), "restart re-emitted finalized windows"
    assert a == b
    # restart must be an incremental read: the offsets log keeps growing
    # past the pre-restart batches instead of starting a fresh batch 0
    offsets_dir = os.path.join(ckpt_b, "offsets")
    n_batches = len(os.listdir(offsets_dir))
    assert n_batches >= 4, "restart collapsed the replay into one batch"


def test_versioned_cdc_sink_exactly_once_with_time_travel(spark, tmp_path):
    """foreachBatch CDC apply into the versioned parquet table: the
    4-batch event replay upserts one row per user (update-wins), so the
    final snapshot must equal the batch argmax-by-(ts,…) answer over the
    whole corpus; every micro-batch leaves a time-travelable snapshot;
    and re-delivering an already-applied batch id (the Structured
    Streaming retry case foreachBatch is documented to require
    idempotence for) is a no-op — at-least-once upgraded to
    exactly-once by the commit log."""
    from firebird_mapreduce_spark.sources.versioned import VersionedParquetTable
    from firebird_mapreduce_spark.streaming.jobs import (
        _events_file_stream,
        _events_split_dir,
    )

    split = _events_split_dir(spark, SF_SMOKE, n_files=4)
    stream = _events_file_stream(
        spark, split, "part_*.parquet", split, max_files_per_trigger=1
    ).select("user_id", "ts", "value")

    table = VersionedParquetTable(str(tmp_path / "users"), key_cols=["user_id"])
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        q = (
            stream.writeStream.foreachBatch(table.foreach_batch_writer())
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)

    assert table.latest_version() == 3  # one snapshot per micro-batch
    final = table.read(spark)

    # batch oracle: merge dedupe keeps the greatest (ts, value) tuple per
    # user within a batch, and later batches overwrite — over event-time-
    # ordered batches that composes to the global greatest (ts, value)
    from pyspark.sql import Window

    events = load_table(spark, SF_SMOKE, "events").select("user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc_nulls_last(), F.col("value").desc_nulls_last()
    )
    expect = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )
    assert _rows(final, "user_id", "ts", "value") == _rows(
        expect, "user_id", "ts", "value"
    )

    # time travel: every logged version is readable and row counts are
    # monotone (upserts never drop users)
    counts = [table.read(spark, v).count() for v in range(4)]
    assert counts == sorted(counts) and counts[-1] == final.count()

    # retry idempotence: re-deliver batch 0's data under its batch id
    batch0 = spark.read.schema(final.schema).parquet(
        os.path.join(split, "part_000.parquet")
    )
    assert table.apply_cdc_batch(batch0.select("user_id", "ts", "value"), 0) is False
    assert table.latest_version() == 3  # nothing re-applied

    # unknown version / empty table raise instead of returning half-state
    import pytest as _pytest

    with _pytest.raises(ValueError):
        table.read(spark, 99)
    empty = VersionedParquetTable(str(tmp_path / "none"), key_cols=["user_id"])
    with _pytest.raises(ValueError):
        empty.read(spark)


def test_custom_streaming_source_offsets_resume_exactly_once(spark, tmp_path):
    """Custom streaming source (Spark 4 DataSourceStreamReader) with real
    offset management: run 1 consumes the feed's first batch; a RESTART
    with the same checkpoint consumes exactly the next batch — no
    replays, no gaps — because Spark restores the committed offset and
    the source consults the external head instead of a reset counter.
    The payload is a pure function of the global row index, so the
    union of both runs must be exactly rows 0..2N-1, each once."""
    from firebird_mapreduce_spark.streaming.eventgen_source import (
        register,
        row_at,
    )

    register(spark)
    head = str(tmp_path / "head")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once() -> None:
        stream = (
            spark.readStream.format("eventgen")
            .option("rowsPerBatch", "300")
            .option("partitionsPerBatch", "3")
            .option("headFile", head)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = sorted(
        (r.event_id, r.user_id, r.event_type, r.value)
        for r in spark.read.parquet(sink).collect()
    )
    assert first == [row_at(i) for i in range(300)]

    run_once()  # restart: same checkpoint, feed advanced one more batch
    both = sorted(
        (r.event_id, r.user_id, r.event_type, r.value)
        for r in spark.read.parquet(sink).collect()
    )
    assert both == [row_at(i) for i in range(600)], (
        "restart must resume at the committed offset: no replay, no gap"
    )


def test_versioned_table_vacuum_bounds_disk_and_keeps_dedupe(spark, tmp_path):
    """Retention: vacuum removes old snapshots' DATA but keeps the full
    commit history, so (a) disk is bounded, (b) batch-id retry dedupe
    still sees vacuumed batches, and (c) time travel to a vacuumed
    version raises a clear error rather than a half-state."""
    import os as _os

    from firebird_mapreduce_spark.sources.versioned import VersionedParquetTable

    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=["k"])
    for b in range(4):
        df = spark.createDataFrame([(b, b * 10)], "k LONG, v LONG")
        assert t.apply_cdc_batch(df, b) is True
    assert t.latest_version() == 3

    removed = t.vacuum(keep_last=2)
    assert removed == [0, 1]
    dirs = {d for d in _os.listdir(str(tmp_path / "t")) if d.startswith("v")}
    assert dirs == {"v2", "v3"}
    # latest read unaffected; history intact; vacuumed read raises
    assert t.read(spark).count() == 4
    assert len(t.commits()) == 4
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(spark, 0)
    # retry of a vacuumed batch is STILL a no-op (log remembers it)
    df0 = spark.createDataFrame([(0, 0)], "k LONG, v LONG")
    assert t.apply_cdc_batch(df0, 0) is False
    # vacuum is idempotent
    assert t.vacuum(keep_last=2) == []


def test_versioned_table_concurrent_commit_fails_loudly(spark, tmp_path):
    """The commit log is single-writer: a second committer racing the
    read-modify-write must raise ConcurrentCommitError (lost log lines
    would silently break the batch-id exactly-once contract), and the
    lock must release on both the success and failure paths."""
    import os as _os

    from firebird_mapreduce_spark.sources.versioned import (
        ConcurrentCommitError,
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=["k"])
    df = spark.createDataFrame([(1, 10)], "k LONG, v LONG")
    assert t.apply_cdc_batch(df, 0) is True

    lock = str(tmp_path / "t" / "_commits.lock")
    fd = _os.open(lock, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
    try:
        with pytest.raises(ConcurrentCommitError):
            t.apply_cdc_batch(spark.createDataFrame([(2, 20)], "k LONG, v LONG"), 1)
        with pytest.raises(ConcurrentCommitError):
            t.vacuum(keep_last=0)
    finally:
        _os.close(fd)
        _os.unlink(lock)
    # lock released by the raced committer's failure path → next commit lands
    assert t.apply_cdc_batch(spark.createDataFrame([(2, 20)], "k LONG, v LONG"), 1)
    assert len(t.commits()) == 2 and not _os.path.exists(lock)

    # staleness diagnosis: the error distinguishes a live holder from a
    # dead one via the pid@host the lock records (SIGKILL between os.open
    # and the finally block leaves an orphan; ADVICE r5)
    import socket as _socket

    host = _socket.gethostname()
    with open(lock, "w") as fh:  # live holder: this very process
        fh.write(f"{_os.getpid()}@{host}")
    # the message must hedge: os.kill(pid, 0) proves a process with that
    # pid exists, not that it is the recorded holder (pids recycle)
    with pytest.raises(ConcurrentCommitError, match="recycled pid"):
        t.vacuum(keep_last=0)
    with open(lock, "w") as fh:  # dead holder: pid from a spent fork
        pid = _os.fork()
        if pid == 0:
            _os._exit(0)
        _os.waitpid(pid, 0)
        fh.write(f"{pid}@{host}")
    with pytest.raises(ConcurrentCommitError, match="DEAD"):
        t.vacuum(keep_last=0)
    with open(lock, "w") as fh:  # remote holder: liveness unknowable here
        fh.write("12345@some-other-host")
    with pytest.raises(ConcurrentCommitError, match="liveness unknown"):
        t.vacuum(keep_last=0)
    _os.unlink(lock)
    # a REAL acquisition records this process as the holder
    assert t.apply_cdc_batch(spark.createDataFrame([(3, 30)], "k LONG, v LONG"), 2)
    assert not _os.path.exists(lock)


def test_crash_between_sink_commit_and_offset_commit_replays_range(
    spark, tmp_path
):
    """The ugliest failure window for the custom source's half-open-range
    contract: the batch's SINK commit lands (parquet `_spark_metadata`
    entry written) but the process dies before the checkpoint's offset
    COMMIT (`commits/N`) — simulated by deleting `commits/1` after a
    clean run.  On restart Spark must re-execute batch 1 over the exact
    recorded range [start, end) from `offsets/1` (NOT re-plan it via
    `latestOffset`, which has feed-advancing side effects), and the file
    sink's metadata log must dedupe the replayed writes.  The union of
    all three runs must be exactly rows 0..899, each once — no gap at
    the crashed batch, no duplicate from its replay."""
    from firebird_mapreduce_spark.streaming.eventgen_source import (
        register,
        row_at,
    )

    register(spark)
    head = str(tmp_path / "head")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once() -> None:
        stream = (
            spark.readStream.format("eventgen")
            .option("rowsPerBatch", "300")
            .option("partitionsPerBatch", "3")
            .option("headFile", head)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # batch 0: rows [0, 300)
    run_once()  # batch 1: rows [300, 600)
    assert os.path.exists(os.path.join(ckpt, "commits", "1"))
    # crash window: sink metadata for batch 1 is durable, offset commit
    # is not (drop the local-FS checksum sidecar too — a lost commit on a
    # real DFS has no orphan crc, and Hadoop's ChecksumFileSystem turns a
    # stale one into a spurious FileAlreadyExistsException on recovery)
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert os.path.exists(os.path.join(sink, "_spark_metadata", "1"))

    run_once()  # recovery: replay batch 1 from offsets/1 — nothing else
    got = sorted(
        (r.event_id, r.user_id, r.event_type, r.value)
        for r in spark.read.parquet(sink).collect()
    )
    assert got == [row_at(i) for i in range(600)], (
        "recovered batch must reuse the recorded [300,600) range exactly "
        "once — a re-planned range would leave a gap, a non-deduping "
        "sink a duplicate"
    )
    # the replay never consulted latestOffset: the external feed's head
    # is untouched, so the recovery could not have advanced past the
    # crashed batch or double-advanced the feed
    assert open(head).read().strip() == "600"

    run_once()  # next trigger advances the feed normally: batch 2
    got = sorted(
        (r.event_id, r.user_id, r.event_type, r.value)
        for r in spark.read.parquet(sink).collect()
    )
    assert got == [row_at(i) for i in range(900)]


def test_rocksdb_and_hdfs_state_stores_produce_identical_sessions(spark):
    """State-store provider A/B: the applyInPandasWithState sessionizer
    replayed over 4 micro-batches must produce the identical session set
    on the default HDFS-backed (heap) provider and on RocksDB — the
    production provider `run_stream_to_memory` now defaults to (off-heap
    state is the only posture that survives 100 TB/day session
    cardinality).  State round-trips through a completely different
    serialization path per provider, so any encoder asymmetry diverges
    the outputs."""
    from firebird_mapreduce_spark.streaming.jobs import (
        ROCKSDB_PROVIDER,
        custom_session_stream,
    )

    cols = ("user_id", "session_start", "session_end", "n_events")
    out = {}
    for label, provider in (
        ("hdfs", None),
        ("rocksdb", ROCKSDB_PROVIDER),
    ):
        df = run_stream_to_memory(
            custom_session_stream(stream_events_multibatch(spark, SF_SMOKE)),
            f"t_provider_{label}",
            output_mode="update",
            state_store_provider=provider,
        )
        # update mode re-emits open sessions per batch: keep the final row
        # per (user, session_start) like custom_session_query does
        pdf = df.toPandas()
        pdf = (
            pdf.sort_values(["user_id", "session_start", "session_end"])
            .groupby(["user_id", "session_start"], as_index=False)
            .last()
        )
        out[label] = sorted(map(tuple, pdf[list(cols)].itertuples(index=False)))
    assert out["hdfs"] == out["rocksdb"]
    assert len(out["rocksdb"]) > 100  # non-vacuous


def test_tws_processor_matches_independent_sessionization():
    """The transformWithStateInPandas SessionProcessor's
    ``handleInputRows``, driven directly with a fake ValueState across
    THREE micro-batches (the protobuf runtime its real handle needs is
    absent in this container), must reproduce an independently computed
    single-pass sessionization — including a session spanning a batch
    boundary, an exactly-at-gap MERGE (closed boundary, matching the
    built-in session_window — see tests/test_analytics.py), and a
    gap+1µs split."""
    import pandas as pd

    from firebird_mapreduce_spark.streaming.jobs import (
        make_session_processor,
    )

    gap_us = 10 * 60 * 1_000_000
    base = 1_700_000_000_000_000  # event-time micros

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def getValueState(self, name, schema, ttlDurationMs=None):
            return FakeValueState()

    proc = make_session_processor(gap_us)
    proc.init(FakeHandle())

    batches = [
        [base, base + gap_us - 1],          # one open session
        [base + 2 * gap_us - 2],            # extends it across the boundary
        # == gap still MERGES (closed boundary); the +1 then SPLITS
        [base + 3 * gap_us - 2, base + 4 * gap_us - 1],
    ]
    emitted = []
    for b in batches:
        pdf = pd.DataFrame({"ts": [pd.Timestamp(t * 1000) for t in b]})
        for out in proc.handleInputRows((7,), iter([pdf]), None):
            emitted.append(out)
    final = (
        pd.concat(emitted)
        .sort_values(["session_start", "session_end"])
        .groupby(["user_id", "session_start"], as_index=False)
        .last()
    )
    # independent expectation: single pass over ALL events
    all_ts = sorted(t for b in batches for t in b)
    sessions, cur = [], [all_ts[0]]
    for t in all_ts[1:]:
        if t - cur[-1] <= gap_us:  # closed boundary, like the built-in
            cur.append(t)
        else:
            sessions.append(cur)
            cur = [t]
    sessions.append(cur)
    expect = [
        (7, s[0], s[-1] + gap_us, len(s)) for s in sessions
    ]
    got = [
        (
            r.user_id,
            r.session_start.value // 1000,
            r.session_end.value // 1000,
            r.n_events,
        )
        for r in final.itertuples(index=False)
    ]
    assert got == expect
    # the boundary cases actually fired: batch 2 EXTENDED the carried
    # session, the ==gap delta MERGED (4 events), the +1µs delta SPLIT
    assert [n for _, _, _, n in expect] == [4, 1]


def test_tws_sessionizer_matches_groupstate_e2e(spark):
    """Full-replay parity of the v2 transformWithStateInPandas
    sessionizer against the GroupState spelling — runs only where the
    v2 state IPC's protobuf runtime exists."""
    pytest.importorskip("google.protobuf")
    from firebird_mapreduce_spark.streaming.jobs import (
        custom_session_query,
        tws_session_query,
    )

    a = _rows(tws_session_query(spark, SF_SMOKE))
    b = _rows(custom_session_query(spark, SF_SMOKE))
    assert a == b and len(a) > 100


def test_versioned_table_schema_evolution_per_snapshot(spark, tmp_path):
    """Schema evolution across versions: each version is a self-contained
    snapshot, so a later commit may ADD a column — the latest read serves
    the new schema while time travel to an old version returns exactly
    the schema that version was written with (no cross-version merge
    surprises, the contract real table formats call per-snapshot
    schema)."""
    from firebird_mapreduce_spark.sources.versioned import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=["k"])
    t.commit(spark.createDataFrame([(1, 10)], "k LONG, v LONG"), batch_id=0)
    t.commit(
        spark.createDataFrame(
            [(1, 10, "x"), (2, 20, "y")], "k LONG, v LONG, tag STRING"
        ),
        batch_id=1,
    )
    latest = t.read(spark)
    assert set(latest.columns) == {"k", "v", "tag"}
    assert latest.count() == 2
    v0 = t.read(spark, 0)
    assert set(v0.columns) == {"k", "v"}
    assert [tuple(r) for r in v0.collect()] == [(1, 10)]


def test_additive_batch_retry_cannot_double_add(spark, tmp_path):
    """The additive merge's exactly-once contract is CORRECTNESS, not
    hygiene: re-delivering an applied batch id must be a no-op (a
    double-applied delta silently corrupts every total), a NEW batch id
    with the same data must add, keys only in the delta must appear,
    and every refresh leaves a time-travelable snapshot."""
    from firebird_mapreduce_spark.sources.versioned import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "agg"), key_cols=["k"])
    d1 = spark.createDataFrame([("a", 2, 10.0), ("b", 1, 5.0)],
                               "k STRING, n LONG, s DOUBLE")
    d2 = spark.createDataFrame([("a", 3, 1.5), ("c", 1, 2.0)],
                               "k STRING, n LONG, s DOUBLE")
    assert t.apply_additive_batch(d1, 0, ["n", "s"]) is True
    assert t.apply_additive_batch(d2, 1, ["n", "s"]) is True
    # retry of batch 1: MUST be skipped
    assert t.apply_additive_batch(d2, 1, ["n", "s"]) is False
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == [("a", 5, 11.5), ("b", 1, 5.0), ("c", 1, 2.0)]
    # same data under a NEW batch id is a legitimate second delta
    assert t.apply_additive_batch(d2, 2, ["n", "s"]) is True
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == [("a", 8, 13.0), ("b", 1, 5.0), ("c", 2, 4.0)]
    # time travel to the pre-third-delta aggregate
    v1 = sorted(map(tuple, t.read(spark, 1).collect()))
    assert v1 == [("a", 5, 11.5), ("b", 1, 5.0), ("c", 1, 2.0)]
    # schema stays fixed across merges (no decimal widening drift)
    assert dict(t.read(spark).dtypes) == {"k": "string", "n": "bigint",
                                          "s": "double"}


def test_merge_additive_differential_vs_global_aggregate(spark):
    """Differential property: folding ANY sequence of pre-aggregated
    deltas through merge_additive must equal the one-shot aggregate over
    the concatenated raw rows — across deltas with disjoint, overlapping,
    and NULL keys (eqNullSafe must treat NULL as a real key, not drop
    the row like a plain equi-join would)."""
    import random

    from firebird_mapreduce_spark.operators.relational import merge_additive

    rnd = random.Random(11)
    keys = ["a", "b", "c", None]
    batches = []
    for _ in range(5):
        rows = [
            (rnd.choice(keys), rnd.randrange(1, 5), float(rnd.randrange(100)))
            for _ in range(rnd.randrange(1, 8))
        ]
        batches.append(rows)
    schema = "k STRING, n LONG, s DOUBLE"
    acc = None
    for rows in batches:
        delta = (
            spark.createDataFrame(rows, schema)
            .groupBy("k")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
        acc = delta if acc is None else merge_additive(acc, delta, ["k"], ["n", "s"])
    flat = [r for rows in batches for r in rows]
    expect = (
        spark.createDataFrame(flat, schema)
        .groupBy("k")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )
    got = sorted(
        ((r.k, r.n, round(r.s, 6)) for r in acc.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    want = sorted(
        ((r.k, r.n, round(r.s, 6)) for r in expect.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == want and len(got) == 4


def test_eventgen_to_versioned_additive_sink_exactly_once_after_crash(
    spark, tmp_path
):
    """End-to-end exactly-once across BOTH mechanisms at once: the custom
    eventgen source's half-open offset ranges AND the versioned table's
    batch-id dedupe.  A crash window is simulated where the sink's
    additive apply is durable but the checkpoint's offset commit is not
    (commits/0 deleted) — the restarted query REPLAYS batch 0 with the
    same batch id, the additive sink must skip it (a double-add corrupts
    totals), and the next trigger's batch 1 must apply.  Final totals
    equal the exact aggregate of rows 0..399, each counted once."""
    from firebird_mapreduce_spark.sources.versioned import (
        VersionedParquetTable,
    )
    from firebird_mapreduce_spark.streaming.eventgen_source import (
        register,
        row_at,
    )

    register(spark)
    head = str(tmp_path / "head")
    ckpt = str(tmp_path / "ckpt")
    table = VersionedParquetTable(str(tmp_path / "agg"), key_cols=["event_type"])

    def apply(batch_df, batch_id):
        delta = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
        table.apply_additive_batch(delta, batch_id, ["n", "s"])

    def run_once():
        stream = (
            spark.readStream.format("eventgen")
            .option("rowsPerBatch", "200")
            .option("partitionsPerBatch", "2")
            .option("headFile", head)
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # batch 0: rows [0, 200), applied to the table
    assert table.latest_version() == 0
    # crash window: additive apply durable, offset commit lost
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)

    run_once()  # recovery: REPLAYS batch 0 — the sink must skip it
    assert table.latest_version() == 0, (
        "replayed batch 0 must be deduped by batch id, not re-added"
    )
    run_once()  # batch 1: rows [200, 400)
    got = sorted(map(tuple, table.read(spark).collect()))
    import collections
    from decimal import Decimal

    n = collections.Counter()
    s = collections.Counter()
    for i in range(400):
        _, _, et, v = row_at(i)
        n[et] += 1
        s[et] += Decimal(repr(v))
    expect = sorted((et, n[et], float(s[et])) for et in n)
    assert [(k, a, float(b)) for k, a, b in got] == expect


def test_vacuum_zero_and_additive_batch_normalization(spark, tmp_path):
    """Two hardening pins from review: (a) vacuum(keep_last=0) must drop
    EVERY version's data (log[-0:] slices the whole log — the classic
    negative-slice footgun would make it a silent no-op); (b) the FIRST
    additive batch is normalized like every later one — extra columns
    projected away and duplicate keys collapsed additively — so v0's
    shape cannot drift from later versions and a duplicate v0 key cannot
    double-match every subsequent full-outer merge."""
    from firebird_mapreduce_spark.sources.versioned import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "agg"), key_cols=["k"])
    # first batch violates the pre-aggregated contract on purpose:
    # duplicate key + an extra column
    messy = spark.createDataFrame(
        [("a", 1, 10.0, "junk"), ("a", 2, 5.0, "junk"), ("b", 1, 1.0, "x")],
        "k STRING, n LONG, s DOUBLE, extra STRING",
    )
    assert t.apply_additive_batch(messy, 0, ["n", "s"]) is True
    v0 = t.read(spark)
    assert set(v0.columns) == {"k", "n", "s"}  # extra projected away
    assert sorted(map(tuple, v0.collect())) == [("a", 3, 15.0), ("b", 1, 1.0)]
    d2 = spark.createDataFrame([("a", 1, 1.0)], "k STRING, n LONG, s DOUBLE")
    assert t.apply_additive_batch(d2, 1, ["n", "s"]) is True
    assert sorted(map(tuple, t.read(spark).collect())) == [
        ("a", 4, 16.0),
        ("b", 1, 1.0),
    ]
    removed = t.vacuum(keep_last=0)
    assert removed == [0, 1], "keep_last=0 must vacuum EVERYTHING"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vacuumed"):
        t.read(spark)


def test_stream_dedup_incremental_equals_batch_twin(spark):
    """The streaming incremental-dedup loop must equal
    ``dedup_incremental_tworound`` ROW-FOR-ROW (same semantics, same
    oracle — the execution engine is the only difference), which
    certifies the cross-trigger fold: ingest 2's +300000 copies of
    ingest-1 survivors flag as dups ONLY if batch 1's fold was visible
    to batch 2's screen (the relation-cache staleness this query's
    refreshTable exists for), and the replay is deterministic."""
    from firebird_mapreduce_spark.operators.dedup import (
        dedup_incremental_tworound,
    )
    from firebird_mapreduce_spark.streaming.jobs import (
        stream_dedup_incremental_query,
    )
    from tests.conftest import SF_SMOKE

    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    streamed = rows(stream_dedup_incremental_query(spark, SF_SMOKE))
    batch = rows(dedup_incremental_tworound(spark, SF_SMOKE))
    assert streamed == batch
    # the fold probe is non-vacuous: some +300000 doc is flagged exact
    assert any(
        r[0] == 2 and r[1] >= 300000 and r[2] for r in streamed
    ), "no ingest-2 copy of an ingest-1 survivor was flagged"


def test_strinc_report_sink_immune_to_fold(spark):
    """The per-batch report is COMMITTED parquet, so its content must
    not change when the state tables are folded again afterwards
    (write -> fold -> read == write -> read).  A lazily-captured report
    would re-screen against the mutated state here and differ — the
    exact read-your-own-writes hazard the sink exists to close."""
    from firebird_mapreduce_spark.operators.relational import corpus_tag
    from firebird_mapreduce_spark.streaming.jobs import (
        stream_dedup_incremental_query,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    df = stream_dedup_incremental_query(spark, SF_SMOKE)
    before = sorted(map(tuple, df.collect()))
    # an out-of-band "fold": append a synthetic hash row to the state
    # table the screens probed — if the report were lazy over state,
    # re-collecting df would recompute against this mutated table
    htbl = f"strinc_hash_16x4_{corpus_tag(SF_SMOKE, 'documents')}"
    (
        spark.range(1)
        .select(F.md5(F.lit("__fold_immunity_probe__")).alias("h"))
        .write.mode("append")
        .bucketBy(8, "h")
        .sortBy("h")
        .saveAsTable(htbl)
    )
    spark.catalog.refreshTable(htbl)
    after = sorted(map(tuple, df.collect()))
    assert after == before


def test_strinc_retry_batch_is_noop(spark):
    """A foreachBatch RETRY of an already-committed batch_id must be a
    complete no-op: no re-screen (it would read post-fold state and
    produce wrongly-screened report rows) and no re-fold.  Proven by
    re-invoking ``_strinc_apply_batch`` with the same batch_id but a
    DIFFERENT batch — if the guard failed, the report content and the
    state row counts would both move."""
    import os
    import shutil

    from firebird_mapreduce_spark.operators.relational import warehouse_path
    from firebird_mapreduce_spark.streaming.jobs import _strinc_apply_batch
    from pyspark.sql import functions as F

    htbl, btbl = "test_strinc_retry_hash", "test_strinc_retry_bands"
    report_dir = os.path.join(warehouse_path(spark), "test_strinc_retry_rep")
    shutil.rmtree(report_dir, ignore_errors=True)
    docs = spark.createDataFrame(
        [(i, f"seed document {i} " + "tok " * 20) for i in range(20)],
        "doc_id bigint, text string",
    )
    from firebird_mapreduce_spark.operators.dedup import banded_signatures

    for tbl, keys, base in (
        (htbl, ["h"], docs.select(F.md5("text").alias("h")).distinct()),
        (
            btbl,
            ["band", "sig"],
            banded_signatures(docs, 16, 4).select("band", "sig").distinct(),
        ),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(
            os.path.join(warehouse_path(spark), tbl), ignore_errors=True
        )
        base.write.bucketBy(8, *keys).sortBy(*keys).saveAsTable(tbl)
    batch = spark.createDataFrame(
        [(100, "fresh document alpha " + "tok " * 20)],
        "doc_id bigint, text string",
    )
    _strinc_apply_batch(spark, batch, 0, report_dir, htbl, btbl, 16, 4)
    rep_path = os.path.join(report_dir, "batch_00000")
    first = sorted(map(tuple, spark.read.parquet(rep_path).collect()))
    h_n, b_n = spark.table(htbl).count(), spark.table(btbl).count()
    assert h_n == 21, "the fold after the first apply must have landed"
    # the retry: same batch_id, different content — must change NOTHING
    retry = spark.createDataFrame(
        [(999, "a different retry payload " + "tok " * 20)],
        "doc_id bigint, text string",
    )
    _strinc_apply_batch(spark, retry, 0, report_dir, htbl, btbl, 16, 4)
    assert (
        sorted(map(tuple, spark.read.parquet(rep_path).collect())) == first
    ), "retry re-screened: report content moved"
    assert spark.table(htbl).count() == h_n, "retry re-folded hashes"
    assert spark.table(btbl).count() == b_n, "retry re-folded bands"
    for tbl in (htbl, btbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(report_dir, ignore_errors=True)


def test_stream_ingest_multimodal_equals_batch_twin(spark):
    """The streaming multimodal crawl must equal
    ``ingest_tworound_multimodal`` ROW-FOR-ROW (same semantics, same
    oracle — the execution engine is the only difference), which
    certifies the cross-trigger ALL-TIER fold: ingest 2's planted
    repeats of ingest-1 keeps flag on the text, semantic, image AND
    audio tiers only because batch 1's nine state appends were visible
    to batch 2's screens (relation-cache refresh across all nine
    tables), the delivery→media-fixture/embedding pairing inferred
    from the batch's id range picked the right assets per trigger, and
    the per-trigger drift columns came from the score state as of each
    trigger."""
    from firebird_mapreduce_spark.operators.pipeline import (
        ingest_tworound_multimodal,
    )
    from firebird_mapreduce_spark.streaming.jobs import (
        stream_ingest_multimodal_query,
    )
    from tests.conftest import SF_SMOKE

    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    streamed = rows(stream_ingest_multimodal_query(spark, SF_SMOKE))
    batch = rows(ingest_tworound_multimodal(spark, SF_SMOKE))
    assert streamed == batch
    # row: (ingest, doc_id, exact, near, semantic, image, audio,
    #       disposition, drift_ratio, refit_recommended)
    by = {(r[0], r[1]): r for r in streamed}
    media2 = [d for d in range(256) if (2, d + 700000) in by]
    assert media2, "no media-carrying ingest-2 docs at this SF"
    # all four folds non-vacuous in the streamed result
    assert any(by[(2, d + 700000)][2] and by[(2, d + 700000)][6]
               for d in media2 if d % 8 == 6), "text+audio fold not proven"
    assert any(by[(2, d + 700000)][4]
               for d in media2 if d % 8 == 6), "semantic fold not proven"
    assert any(by[(2, d + 700000)][5]
               for d in media2 if d % 8 == 7), "image fold not proven"
    # drift surfaced through the stream: one quiet pair per trigger
    drift = {(r[0], r[8], r[9]) for r in streamed}
    assert len(drift) == 2 and all(not f for _, _, f in drift), drift


def test_strinc_long_crawl_cadence_and_fragmentation(spark):
    """The LONG-CRAWL soak (r10 bound, r11 cadence — VERDICT r10 item
    5): EIGHT consecutive micro-batch folds through
    ``_strinc_apply_batch`` with deliveries wide enough to touch every
    bucket each day, tracking the hash table's worst-bucket file count
    after every fold.  Pins the whole cadence, not just the endpoint:
    fragmentation climbs +1 per fold from the 1-file seed, never
    exceeds threshold+1 (the one transient fold that trips the
    rewrite), compaction fires EXACTLY when the threshold is crossed —
    folds 4 and 8 for threshold 4, i.e. every ~threshold ingests — and
    each compaction restores one file per bucket.  Without the in-loop
    ``maybe_compact_bucketed_table`` the per-bucket open count grows
    linearly with crawl age; with a broken append repartition it blows
    past the threshold on day one."""
    import os
    import shutil

    from firebird_mapreduce_spark.operators.dedup import banded_signatures
    from firebird_mapreduce_spark.operators.layout import bucket_fragmentation
    from firebird_mapreduce_spark.operators.relational import warehouse_path
    from firebird_mapreduce_spark.streaming.jobs import _strinc_apply_batch
    from pyspark.sql import functions as F

    htbl, btbl = "test_strinc_crawl_hash", "test_strinc_crawl_bands"
    report_dir = os.path.join(warehouse_path(spark), "test_strinc_crawl_rep")
    shutil.rmtree(report_dir, ignore_errors=True)
    docs = spark.createDataFrame(
        [(i, f"seed document {i} " + "tok " * 20) for i in range(20)],
        "doc_id bigint, text string",
    )
    for tbl, keys, base in (
        (htbl, ["h"], docs.select(F.md5("text").alias("h")).distinct()),
        (
            btbl,
            ["band", "sig"],
            banded_signatures(docs, 16, 4).select("band", "sig").distinct(),
        ),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(
            os.path.join(warehouse_path(spark), tbl), ignore_errors=True
        )
        # seed at one file per bucket (the stream seeder discipline)
        base.repartition(8, *keys).write.bucketBy(8, *keys).sortBy(
            *keys
        ).saveAsTable(tbl)
    days = 8
    frag_curve = []
    for day in range(days):
        # 40 fresh docs/day → 40 distinct hashes → every one of the 8
        # buckets receives rows, so the append adds exactly one file
        # to every bucket and the cadence is deterministic
        batch = spark.createDataFrame(
            [
                (1000 + day * 100 + j, f"day {day} doc {j} " + "tok " * 20)
                for j in range(40)
            ],
            "doc_id bigint, text string",
        )
        _strinc_apply_batch(spark, batch, day, report_dir, htbl, btbl, 16, 4)
        frag_curve.append(bucket_fragmentation(spark, htbl))
    # threshold 4: 1-file seed → 2,3,4 (skip: not past threshold),
    # 5 → rewrite → 1; then 2,3,4, 5 → rewrite → 1
    assert frag_curve == [2, 3, 4, 1, 2, 3, 4, 1], frag_curve
    assert max(frag_curve) <= 5, "transient fragmentation past threshold+1"
    compactions = sum(
        1
        for prev, cur in zip([1] + frag_curve, frag_curve)
        if cur < prev
    )
    assert compactions == days // 4, (
        f"{compactions} compactions in {days} folds — cadence is not "
        "every ~threshold ingests"
    )
    frag_b = bucket_fragmentation(spark, btbl)
    assert 0 < frag_b <= 5, f"{btbl}: fragmentation {frag_b}"
    # all eight reports committed, each batch-sized
    n_rep = spark.read.parquet(os.path.join(report_dir, "batch_*")).count()
    assert n_rep == days * 40
    for tbl in (htbl, btbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(report_dir, ignore_errors=True)


def test_snapshot_seeder_contract_and_hadoop_copy_path(spark, tmp_path):
    """r12 (VERDICT r11 item 2 + ADVICE low): the state-snapshot seeder
    must (a) REJECT a base that is not a bare scan of an identically
    bucketed table — a derived frame or a differently bucketed base
    would commit a snapshot whose bucket metadata lies about its files
    — and (b) copy through the scheme-aware Hadoop FileSystem API on
    non-local URIs (POSIX shutil on an hdfs:// path would silently
    target the driver's local disk).  The Hadoop path is exercised
    directly with file: URIs — same API objects, local backing."""
    from firebird_mapreduce_spark.streaming.jobs import (
        _hadoop_copy_files,
        _snapshot_bucketed_state,
    )

    # (a) a bare parquet write has no writer bucket id in its filenames
    plain = os.path.join(str(tmp_path), "plain")
    spark.range(10).selectExpr("id AS h").write.parquet(plain)
    base = spark.read.parquet(plain)
    with pytest.raises(ValueError, match="writer bucket id"):
        _snapshot_bucketed_state(spark, base, "snap_contract_probe", ("h",))
    assert not spark.catalog.tableExists("snap_contract_probe")

    # (a') a base bucketed WIDER than the snapshot spec fails too
    spark.sql("DROP TABLE IF EXISTS snap_wide_base")
    (
        spark.range(64)
        .selectExpr("CAST(id AS STRING) AS h")
        .repartition(16, "h")
        .write.bucketBy(16, "h")
        .sortBy("h")
        .saveAsTable("snap_wide_base")
    )
    try:
        with pytest.raises(ValueError, match="writer bucket id"):
            _snapshot_bucketed_state(
                spark, spark.table("snap_wide_base"), "snap_probe2", ("h",)
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_wide_base")

    # (b) the Hadoop copy path moves bytes and preserves names
    src_dir = tmp_path / "hsrc"
    src_dir.mkdir()
    (src_dir / "part-0_00003.c000.parquet").write_bytes(b"payload")
    dst_dir = tmp_path / "hdst"
    _hadoop_copy_files(
        spark,
        [f"file:{src_dir}/part-0_00003.c000.parquet"],
        f"file:{dst_dir}",
    )
    copied = dst_dir / "part-0_00003.c000.parquet"
    assert copied.read_bytes() == b"payload"


def test_snapshot_seeder_keeps_remote_warehouse_scheme(spark, monkeypatch, tmp_path):
    """On a non-``file:`` warehouse the seeder's destination keeps the
    URI scheme: the stale table directory is deleted and the files are
    copied through the Hadoop FileSystem API at ``hdfs://…/<table>``, not
    at a scheme-less path that would resolve against ``fs.defaultFS`` or
    the driver's local disk.  The Hadoop calls are recorded, not run; the
    delete helper itself is exercised on a ``file:`` directory."""
    from firebird_mapreduce_spark.streaming import jobs

    calls = []
    # the path part sits under tmp_path, so a scheme-dropping regression
    # writes there, not at the host's root
    warehouse = f"hdfs://namenode:8020{tmp_path}/warehouse"
    monkeypatch.setattr(R, "warehouse_uri", lambda spark: warehouse + "/")
    monkeypatch.setattr(
        jobs, "_hadoop_delete", lambda spark, uri: calls.append(("delete", uri))
    )
    monkeypatch.setattr(
        jobs,
        "_hadoop_copy_files",
        lambda spark, files, dst: calls.append(("copy", sorted(files), dst)),
    )
    spark.sql("DROP TABLE IF EXISTS snap_uri_base")
    (
        spark.range(16)
        .selectExpr("CAST(id AS STRING) AS h")
        .repartition(8, "h")
        .write.bucketBy(8, "h")
        .sortBy("h")
        .saveAsTable("snap_uri_base")
    )
    try:
        base = spark.table("snap_uri_base")
        jobs._snapshot_bucketed_state(spark, base, "snap_uri_probe", ("h",))
        dst = f"{warehouse}/snap_uri_probe"
        assert calls == [
            ("delete", dst),
            ("copy", sorted(base.inputFiles()), dst),
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_uri_probe")
        spark.sql("DROP TABLE IF EXISTS snap_uri_base")

    monkeypatch.undo()
    stale = tmp_path / "stale"
    (stale / "sub").mkdir(parents=True)
    (stale / "sub" / "part-0.parquet").write_bytes(b"x")
    jobs._hadoop_delete(spark, f"file:{stale}")
    assert not stale.exists()
    jobs._hadoop_delete(spark, f"file:{stale}")  # absent is fine


def test_doc_split_fixture_tracks_world_function_source(spark):
    """The document stream split is signed by the source of the world
    function that shapes its rows: the same salt and splits with a world
    whose source differs must rebuild, not serve the old world's rows
    under a marker that only tracked the corpus bytes."""
    import shutil

    import pyarrow.parquet as pq

    from firebird_mapreduce_spark.streaming.jobs import _doc_batches_split_dir

    def world_a(sp, sd):
        return sp.range(4).selectExpr("id AS doc_id", "'a' AS text")

    def world_b(sp, sd):
        return sp.range(4).selectExpr("id AS doc_id", "'b' AS text")

    splits = ((0, 2), (2, None))
    out = _doc_batches_split_dir(spark, SF_SMOKE, "world_src_test", world_a, splits)
    try:
        assert (
            _doc_batches_split_dir(spark, SF_SMOKE, "world_src_test", world_b, splits)
            == out
        )
        rows = [
            (f, r["doc_id"], r["text"])
            for f in sorted(os.listdir(out))
            if f.endswith(".parquet")
            for r in pq.read_table(os.path.join(out, f)).to_pylist()
        ]
        assert sorted(rows) == [
            ("ingest_000.parquet", 0, "b"),
            ("ingest_000.parquet", 1, "b"),
            ("ingest_001.parquet", 2, "b"),
            ("ingest_001.parquet", 3, "b"),
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_mm_split_fixture_signs_the_pipeline_module(spark, monkeypatch):
    """The multimodal crawl's stream split is shaped by the two delivery
    functions in ``operators/pipeline.py``, so that module's source must be
    among the split's signature inputs — an edit to either delivery then
    rebuilds the split instead of serving it stale."""
    import inspect

    from firebird_mapreduce_spark.streaming import jobs

    seen = {}

    def fake_materialise(kind, key, suffix, files, write, **kw):
        seen.update(kw)
        return "unused"

    monkeypatch.setattr(jobs, "materialise", fake_materialise)
    jobs._mm_split_dir(spark, SF_SMOKE)
    sources = {os.path.normpath(inspect.getsourcefile(obj)) for obj in seen["code"]}
    assert any(
        p.endswith(os.path.join("operators", "pipeline.py")) for p in sources
    ), sources
