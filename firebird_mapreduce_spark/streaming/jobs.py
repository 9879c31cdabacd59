"""Streaming jobs: file-source event stream, windowed aggregations, and a
custom stateful operator via ``applyInPandasWithState`` (the streaming
analogue of the reference's user-defined ``reduce``,
``/root/reference/firebird.h:249``).

Scale notes: these jobs run identically against Kafka/file sources on a
cluster; watermarks bound state (an unwatermarked windowed agg leaks state
forever), ``availableNow`` gives the batch-replay mode used in tests, and
stateful operators run on the RocksDB state store provider by default
(``run_stream_to_memory``; off-heap state is the production posture —
outputs are provider-independent, A/B-pinned in tests/test_streaming.py,
throughput delta in SCALE.md).

The two incremental crawls (``stream_dedup_incremental``,
``stream_ingest_multimodal``) run on one replay driver,
``_crawl_replay`` (snapshot-seeded state, a reset report sink, a
one-file-per-trigger split stream), and one per-trigger protocol,
``_apply_trigger`` (retry guard, commit before fold); each trigger
folds through ``operators.fold``.  Every foreachBatch replay, the
additive materialised views' included, runs through ``_drain`` (an
``availableNow`` run under a scratch checkpoint that is removed).
"""

from __future__ import annotations

import inspect
import os
import sys
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import session_confs
from ..sources.fixtures import materialise

# events stream schemas: ``ts`` is read as raw int64 when the parquet
# stores TIMESTAMP(NANOS) (Spark cannot scan nanos natively — converted
# with integer division exactly like sources.readers.load_table), and as a
# plain timestamp when it stores micros.  The unit is detected from the
# parquet footer per source dir, NOT hardcoded: the corpus generator has
# shipped both units across rounds, and a hardcoded ``div 1000`` applied
# to micros silently shifts every event to 1970.
_EVENTS_NANOS_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)
_EVENTS_MICROS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def _events_file_stream(
    spark: SparkSession,
    directory: str,
    glob: str,
    probe_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Build the events file-stream with footer-detected ``ts`` handling.
    ``probe_path`` is the file (or dir) whose parquet footer decides the
    timestamp unit.  The ``nanosAsLong`` conf a nanos scan needs at
    execution time is set (and restored) by ``run_stream_to_memory``, not
    here: a plan builder must not mutate session state it cannot restore
    (same discipline as ``sources.readers.load_table``)."""
    from ..sources.readers import _timestamp_col_classes

    nanos = "ts" in _timestamp_col_classes(probe_path)[0]
    reader = spark.readStream.schema(
        _EVENTS_NANOS_SCHEMA if nanos else _EVENTS_MICROS_SCHEMA
    ).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(directory)
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a single-file stream — same rows and the same
    ``ts`` semantics the batch path sees (unit-adaptive, see
    ``_events_file_stream``)."""
    # the file stream source requires a *directory*; glob-filter the one
    # table out of the corpus dir instead of pointing at the file
    return _events_file_stream(
        spark, sf_dir, "events.parquet", os.path.join(sf_dir, "events.parquet")
    )


def _events_split_dir(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    flush_batches: int = 0,
) -> str:
    """Materialize the events table as ``n_files`` event-time-ordered
    parquet files with strictly increasing mtimes, so a file stream with
    ``maxFilesPerTrigger=1`` replays them as ``n_files`` successive
    micro-batches in event-time order — the multi-batch harness that makes
    cross-batch state carry-over and watermark advancement real (a single
    availableNow batch never exercises either).

    Event-time ordering is the semantic contract: file i holds strictly
    older rows than file i+1, so no row is ever behind the watermark its
    predecessors advanced — exactly the arrival pattern of a healthy
    production source.  (Deliberately LATE arrivals are crafted per-test,
    not here.)

    ``flush_batches`` > 0 appends that many single-row SENTINEL batches
    (user_id −1, −2, …; event time far past the corpus) after the data
    batches — the stream-end flush an event-time-timeout consumer needs:
    the first sentinel advances the watermark beyond every data session's
    timeout, the second is the spacer batch in which the (one-batch-
    lagged) timeout callbacks actually fire.  Sentinel users are
    negative, so consumers filter ``user_id >= 0``.  Production analogue:
    a source heartbeat/punctuation event."""
    src = os.path.join(sf_dir, "events.parquet")

    def write(out_dir: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        table = pq.read_table(src)
        # ts-major, event_id-minor sort: deterministic file boundaries
        order = pc.sort_indices(
            table, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
        table = table.take(order)
        n = table.num_rows
        base_mtime = os.path.getmtime(src)
        for i in range(n_files):
            lo = (n * i) // n_files
            hi = (n * (i + 1)) // n_files
            path = os.path.join(out_dir, f"part_{i:03d}.parquet")
            # parquet format 2.6 (the pyarrow default) round-trips the
            # source's timestamp physical type, so the split files carry the
            # original table's exact ts unit (the stream reader re-detects it
            # from the split dir's own footer either way)
            pq.write_table(table.slice(lo, hi - lo), path)
            # strictly increasing mtimes: FileStreamSource orders files by
            # modification time, which fixes the batch order
            os.utime(path, (base_mtime + i, base_mtime + i))
        if flush_batches:
            import datetime

            import pyarrow as pa

            max_ts = pc.max(table.column("ts")).as_py()
            for i in range(flush_batches):
                if isinstance(max_ts, int):  # TIMESTAMP(NANOS) read as int64
                    flush_ts = max_ts + (30 + i) * 86_400 * 1_000_000_000
                else:
                    flush_ts = max_ts + datetime.timedelta(days=30 + i)
                row = {
                    "event_id": -1_000_000 - i,
                    "ts": flush_ts,
                    "user_id": -(i + 1),
                    "event_type": "flush",
                    "value": 0.0,
                    "props": "{}",
                }
                flush_tbl = pa.Table.from_pylist(
                    [{k: row.get(k) for k in table.schema.names}],
                    schema=table.schema,
                )
                path = os.path.join(out_dir, f"flush_{i:03d}.parquet")
                pq.write_table(flush_tbl, path)
                os.utime(
                    path, (base_mtime + n_files + i, base_mtime + n_files + i)
                )

    files = [f"part_{i:03d}.parquet" for i in range(n_files)]
    files += [f"flush_{i:03d}.parquet" for i in range(flush_batches)]
    return materialise(
        "events_split",
        (sf_dir, n_files, flush_batches),
        ".parquet",
        files,
        write,
        spec=(n_files, flush_batches),
        code=(sys.modules[__name__],),
        corpus=(sf_dir, "events"),
    )


def stream_events_multibatch(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """The events table as a file stream that replays in ``n_files``
    micro-batches (``maxFilesPerTrigger=1`` over the event-time-ordered
    split of ``_events_split_dir``) — the source all declared streaming
    queries run on, so their driver correctness rows certify cross-batch
    state carry-over and watermark advancement, not just single-batch
    replay."""
    split_dir = _events_split_dir(spark, sf_dir, n_files)
    return _events_file_stream(
        spark, split_dir, "*.parquet", split_dir, max_files_per_trigger=1
    )


def group_count_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``relational.group_count`` — byte-for-byte the
    same transformation, now over an unbounded source."""
    return events.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


def tumbling_window_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``relational.tumbling_window_count``; the
    watermark lets Spark drop state for windows more than 2 hours behind
    the max seen event time (late data beyond that is discarded)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("hour_start"), "cnt")
    )


def session_window_stream(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows: activity bursts per user separated by ``gap`` of
    silence — the dynamic-window shape tumbling windows can't express."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def user_running_counts_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-user event counter carried across micro-batches — arbitrary user
    state the built-in aggregations can't hold (the streaming form of the
    reference's mutable per-key reduce state, re-expressed as explicit
    managed state instead of shared memory)."""
    out_schema = "user_id bigint, total_events bigint"
    state_schema = "total bigint"

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        for pdf in batches:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "total_events": [total]})

    return (
        events.select("user_id", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def make_session_fold(gap_us: int):
    """The sessionizer's per-key per-batch fold behind
    ``custom_session_stream``'s ``applyInPandasWithState`` update, built
    by a factory so tests drive it directly on plain lists.  Returned as
    closures DEFINED INSIDE this factory so
    cloudpickle ships them to executors BY VALUE — a module-level helper
    would pickle by *reference* and require this repo on executor
    sys.path (same discipline as ``operators.multimodal``).

    ``fold(ts_us, prev)``: sort the batch's event-time micros, extend or
    close the carried open session, return (rows to emit = closed +
    open, new open state).  ``frame(user_id, rows)``: the emission
    DataFrame with session_end = last event + gap.

    Boundary rule: an event at EXACTLY last+gap still merges (closed
    interval — ``t - last <= gap``), matching Spark's built-in
    ``session_window``, which was empirically shown to absorb an event
    landing exactly on the session end (tests/test_analytics.py).  A
    strict ``<`` here would silently diverge from the built-in spelling
    on exact-gap ties."""

    def fold(ts_us, prev):
        ts_us = sorted(ts_us)
        start, last, n = prev if prev is not None else (None, None, 0)
        closed = []
        for t in ts_us:
            if start is None:
                start, last, n = t, t, 1
            elif t - last <= gap_us:
                last, n = t, n + 1
            else:
                closed.append((start, last, n))
                start, last, n = t, t, 1
        return closed + ([(start, last, n)] if n else []), (start, last, n)

    def frame(user_id, rows):
        import pandas as _pd

        return _pd.DataFrame(
            {
                "user_id": [user_id] * len(rows),
                "session_start": [_pd.Timestamp(s * 1000) for s, _, _ in rows],
                "session_end": [
                    _pd.Timestamp(e * 1000 + gap_us * 1000) for _, e, _ in rows
                ],
                "n_events": [c for _, _, c in rows],
            }
        )

    return fold, frame


def custom_session_stream(events: DataFrame, gap_minutes: int = 10) -> DataFrame:
    """Session windows implemented as a CUSTOM stateful operator
    (``applyInPandasWithState``) instead of the built-in
    ``session_window`` — the strongest form of the reference's
    user-defined ``reduce`` (``/root/reference/firebird.h:249``; mutable
    per-key state as in ``shortest_path/main.cpp:54``) re-expressed as
    managed streaming state: the
    per-user GroupState carries the OPEN session (start, last event, n)
    across micro-batches, closes it when a later event arrives beyond the
    gap, and re-emits the still-open session's latest extent each batch.

    Emission contract (what makes this externally checkable): every
    closed session is emitted once, final; the open session is emitted
    every batch it grows.  Under event-time-ordered replay a session's
    START never changes once created, so (user_id, session_start) is a
    stable key and the LAST emission per key (max end/count) is the final
    session set — reduced in ``custom_session_query`` and compared
    hash-exact against the SAME DuckDB oracle as the built-in
    ``session_window_stream``: two independent implementations, one
    external answer.

    Scale: state is one tiny tuple per active user (bounded by user
    cardinality, not event volume); each batch shuffles only its touched
    users — identical profile to the built-in operator's state store.
    """
    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint"
    )
    state_schema = "start_us long, last_us long, n long"
    gap_us = gap_minutes * 60 * 1_000_000
    # factory-built closures ship BY VALUE — the update closure stays
    # fully self-contained on executors without this repo on sys.path
    fold, frame = make_session_fold(gap_us)

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ts_us: list[int] = []
        for pdf in batches:
            # event-time micros; arrival order within a batch is arbitrary
            ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
        prev = state.get if state.exists else None
        rows, new_state = fold(ts_us, prev)
        state.update(new_state)
        yield frame(key[0], rows)

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def custom_session_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the custom-state sessionizer replayed over 4
    micro-batches, reduced to final sessions (last emission per stable
    (user_id, session_start) key — see ``custom_session_stream``) and
    hash-compared against the same relational oracle as the built-in
    session window.  A state reset at any batch boundary, a mis-merged
    boundary session, or a gap-comparison off-by-one all produce a
    different session set and fail the hash."""
    global _REPLAY_COUNTER
    _REPLAY_COUNTER += 1
    result = run_stream_to_memory(
        custom_session_stream(stream_events_multibatch(spark, sf_dir)),
        f"q_stream_custom_sessions_{_REPLAY_COUNTER}",
        output_mode="update",
    )
    return result.groupBy("user_id", "session_start").agg(
        F.max("session_end").alias("session_end"),
        F.max("n_events").alias("n_events"),
    )


def custom_session_timeout_stream(
    events: DataFrame, gap_minutes: int = 10
) -> DataFrame:
    """The PRODUCTION sessionizer shape: append-mode
    ``applyInPandasWithState`` with ``GroupStateTimeout.EventTimeTimeout``
    — every session is emitted EXACTLY ONCE, when it becomes final, and
    never revised:

    - closed-by-successor: a later event of the same user at ≥ gap
      distance finalizes the open session inside the data callback;
    - closed-by-timeout: a session with no successor finalizes in the
      ``state.hasTimedOut`` callback once the WATERMARK crosses
      ``last_event + gap`` (``setTimeoutTimestamp``, reset on every
      extension) — the path ``stream_session_custom`` (update-mode,
      NoTimeout) doesn't exercise, previously pinned only by
      ``test_event_time_timeout_finalizes_state``.

    Exactly-once emission holds because Spark invokes a group EITHER with
    data (hasTimedOut False — successor logic closes) OR with a fired
    timeout (no data), never both in one batch, and both paths remove or
    overwrite the finalized extent atomically in state.

    Scale: identical state profile to ``custom_session_stream`` (one
    tuple per active user), PLUS state is now self-evicting — idle users'
    state is deleted at timeout instead of living forever, which is the
    difference between bounded and unbounded state at 100 TB/day.

    Stream-end flush: event-time timeouts only fire while batches run,
    so the replay appends two sentinel batches (``flush_batches=2`` —
    advancer + spacer, the one-batch watermark lag) whose far-future
    events push every data session past its timeout; consumers filter
    the negative sentinel user ids out."""
    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint"
    )
    state_schema = "start_us long, last_us long, n long"
    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def frame(rows: list[tuple[int, int, int]]) -> _pd.DataFrame:
            return _pd.DataFrame(
                {
                    "user_id": [key[0]] * len(rows),
                    "session_start": [_pd.Timestamp(s * 1000) for s, _, _ in rows],
                    "session_end": [
                        _pd.Timestamp(e * 1000 + gap_us * 1000) for _, e, _ in rows
                    ],
                    "n_events": [c for _, _, c in rows],
                }
            )

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield frame([(start, last, n)])
            return
        ts_us: list[int] = []
        for pdf in batches:
            ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
        ts_us.sort()
        start, last, n = state.get if state.exists else (None, None, 0)
        closed: list[tuple[int, int, int]] = []
        for t in ts_us:
            if start is None:
                start, last, n = t, t, 1
            # closed boundary (<=): exact-gap ties merge, matching the
            # built-in session_window and make_session_fold
            elif t - last <= gap_us:
                last, n = t, n + 1
            else:
                closed.append((start, last, n))
                start, last, n = t, t, 1
        state.update((start, last, n))
        # finalize via watermark: timeout at last_event + gap, event-time
        # ms.  CEILING of the sub-ms micros (-(-last // 1000)): a floor
        # would arm the timeout up to 999µs before last+gap, so a session
        # could finalize early and an on-time event inside that window —
        # including the exact-gap tie the <= branch above exists to
        # merge — would wrongly start a new session
        state.setTimeoutTimestamp(-(-last // 1000) + gap_us // 1000)
        yield frame(closed)

    return (
        events.select("user_id", "ts")
        .withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_session_timeout_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (oracle-backed): the append-mode event-time-timeout
    sessionizer replayed over 4 data batches + 2 sentinel flush batches.
    NO final-state reduction is applied — the append output IS the
    final session set, each session emitted once (closed by successor or
    by watermark-crossing timeout), so hash-equality with the SAME
    relational session oracle as ``stream_session_window`` /
    ``stream_session_custom`` certifies the timeout finalization path
    end-to-end: a timeout that never fired would MISS every user's last
    session, a double emission would duplicate a key, and a state reset
    at a batch boundary would split sessions — all hash mismatches."""
    global _REPLAY_COUNTER
    _REPLAY_COUNTER += 1
    split_dir = _events_split_dir(spark, sf_dir, n_files=4, flush_batches=2)
    events = _events_file_stream(
        spark, split_dir, "*.parquet", split_dir, max_files_per_trigger=1
    )
    result = run_stream_to_memory(
        custom_session_timeout_stream(events),
        f"q_stream_session_timeout_{_REPLAY_COUNTER}",
        output_mode="append",
    )
    return result.filter(F.col("user_id") >= 0)


def streaming_dedup(
    events: DataFrame,
    subset: list[str] | None = None,
    horizon: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    streaming twin of ``relational.distinct_dedup``.  The watermark bounds
    the dedup state: at 100 TB/day of events an unbounded ``dropDuplicates``
    state grows forever; within-watermark semantics trade exactness beyond
    the horizon for bounded memory.  A key idle longer than ``horizon`` is
    evicted and its next arrival re-emits — demonstrated under multi-batch
    replay in tests/test_streaming.py."""
    return events.withWatermark("ts", horizon).dropDuplicatesWithinWatermark(
        subset or ["user_id", "event_type"]
    )


def stream_stream_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same user's
    clicks from the preceding 30 minutes — the streaming form of
    ``relational.range_join_sessionize``.  Both sides carry watermarks and
    the join condition bounds event-time distance, so each side's buffered
    state is evictable; an unbounded-interval stream-stream join never
    frees state."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("purchase_id", "click_id")


def stream_static_enrich(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the event
    stream joins against a STATIC dimension snapshot (customer) — the
    most common production streaming shape (fact stream × slowly-changing
    dimension) and the one join form that needs NO state at all: the
    static side is re-planned into each micro-batch, no watermark, no
    buffering, nothing to evict.  The dimension is explicitly
    ``broadcast()`` — at 100 TB/day of events the stream side never
    shuffles for this join; a dimension too big to broadcast would
    instead be bucketed on the join key at write time.  Inner join:
    events without a dimension row are dropped (the corpus' user_id
    range is a subset of custkey, so nothing drops here — row count
    stays meaningful)."""
    dim = customer.select("c_custkey", "c_mktsegment")
    return events.join(
        F.broadcast(dim), events.user_id == dim.c_custkey, "inner"
    ).select("event_id", "user_id", "c_mktsegment")


_REPLAY_COUNTER = 0


def stream_group_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the streaming group-count replayed to completion over
    4 micro-batches — must equal the batch ``group_count`` exactly (same
    oracle SQL).  Complete mode re-emits the full aggregate each batch; the
    final table is the last batch's state, i.e. the whole corpus."""
    global _REPLAY_COUNTER
    _REPLAY_COUNTER += 1
    return run_stream_to_memory(
        group_count_stream(stream_events_multibatch(spark, sf_dir)),
        f"q_stream_group_count_{_REPLAY_COUNTER}",
    )


def stream_tumbling_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: streaming tumbling-window counts replayed to
    completion over 4 micro-batches — equals batch
    ``tumbling_window_count`` (complete mode retains every window's state
    across batches, so the final emission covers the whole corpus)."""
    global _REPLAY_COUNTER
    _REPLAY_COUNTER += 1
    return run_stream_to_memory(
        tumbling_window_stream(stream_events_multibatch(spark, sf_dir)),
        f"q_stream_tumbling_{_REPLAY_COUNTER}",
    )


def session_window_stream_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: 10-minute-gap session windows per user, replayed to
    completion over 4 micro-batches — session state MERGES across batch
    boundaries (an open session from batch i absorbs batch i+1's events
    within gap), so hash-equality with the batch-relational oracle is a
    real cross-batch-state check.  The oracle reproduces Spark's session
    semantics relationally: a new session starts when the gap since the
    previous event of the same user is STRICTLY GREATER than 10 minutes
    (an event at exactly last+gap still merges — the closed-boundary
    rule proven empirically in tests/test_analytics.py), and
    ``session_end = last event + gap``."""
    global _REPLAY_COUNTER
    _REPLAY_COUNTER += 1
    return run_stream_to_memory(
        session_window_stream(stream_events_multibatch(spark, sf_dir), gap="10 minutes"),
        f"q_stream_sessions_{_REPLAY_COUNTER}",
    )


def stateful_running_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the ``applyInPandasWithState`` per-user running
    counter replayed over 4 micro-batches.  Each batch emits every touched
    user's updated total from carried GroupState, so the per-user MAX over
    all updates is the final state — equal to the batch per-user count
    (that equality is the oracle, and with multi-batch replay it certifies
    that state actually survives batch boundaries: a counter that reset
    per batch would undercount every multi-batch user)."""
    global _REPLAY_COUNTER
    _REPLAY_COUNTER += 1
    result = run_stream_to_memory(
        user_running_counts_stream(stream_events_multibatch(spark, sf_dir)),
        f"q_stream_running_{_REPLAY_COUNTER}",
        output_mode="update",
    )
    # final-state reduction: the last (max) update per user is the total
    return result.groupBy("user_id").agg(
        F.max("total_events").alias("total_events")
    )


def stream_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: streaming within-watermark dedup replayed over 4
    micro-batches, projected to the KEY COLUMNS ONLY — the representative
    row ``dropDuplicatesWithinWatermark`` keeps per key is arbitrary
    (first arrival wins, which varies with partitioning), so the
    deterministic, oracle-comparable statement is the surviving key set:
    exactly ``SELECT DISTINCT user_id, event_type``.

    The horizon is 45 DAYS — longer than the corpus' 30-day span — by
    construction: within-watermark dedup equals global DISTINCT exactly
    when no key is ever evicted mid-replay, so the equality this oracle
    asserts is only well-defined for a horizon covering the replayed
    window.  The production-shaped short horizon (keys re-emit after 2
    idle hours) is pinned by test_streaming.py's eviction test, where the
    re-emission is the *expected* output, not a mismatch."""
    global _REPLAY_COUNTER
    _REPLAY_COUNTER += 1
    deduped = streaming_dedup(
        stream_events_multibatch(spark, sf_dir), horizon="45 days"
    )
    return run_stream_to_memory(
        deduped.select("user_id", "event_type"),
        f"q_stream_dedup_{_REPLAY_COUNTER}",
        output_mode="append",
    )


def stream_stream_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the purchase⋈click interval join replayed over 4
    micro-batches.  Event-time-ordered batches mean no row ever arrives
    behind the watermark, and a buffered click is evicted only once the
    watermark passes the last purchase time it could match (c_ts + 30 min
    < p_ts watermark requires max event time > c_ts + 1.5 h, by which
    point every matching purchase has arrived) — so the emitted pair set
    equals the batch interval join even though both sides' state IS being
    evicted as the replay advances.  That equality is the oracle
    (micros-truncated timestamps on the DuckDB side, matching the
    nanos→micros source conversion)."""
    global _REPLAY_COUNTER
    _REPLAY_COUNTER += 1
    return run_stream_to_memory(
        stream_stream_join(stream_events_multibatch(spark, sf_dir)),
        f"q_stream_ssjoin_{_REPLAY_COUNTER}",
        output_mode="append",
    )


def stream_static_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the stream-static enrichment join replayed over 4
    micro-batches in append mode.  Stateless per-batch semantics mean the
    union of batch outputs equals the batch join exactly — that equality
    is the oracle (and the non-trivial claim under replay is that each
    micro-batch re-resolves the same static snapshot)."""
    global _REPLAY_COUNTER
    _REPLAY_COUNTER += 1
    from ..sources import load_table

    customer = load_table(spark, sf_dir, "customer")
    return run_stream_to_memory(
        stream_static_enrich(stream_events_multibatch(spark, sf_dir), customer),
        f"q_stream_static_{_REPLAY_COUNTER}",
        output_mode="append",
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_stream_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_store_provider: str | None = ROCKSDB_PROVIDER,
) -> DataFrame:
    """Execute a streaming DataFrame to completion over the available data
    (``availableNow`` trigger) into an in-memory table and return it as a
    batch DataFrame — the test/replay harness for streaming jobs.

    Stateful operators run on the **RocksDB state store** by default: the
    default HDFS-backed provider keeps every key's state as JVM objects on
    the executor heap, which at 100 TB/day session cardinality is an OOM,
    while RocksDB spills to local SSD and keeps the heap flat — the
    production setting (outputs are provider-independent; pinned by an A/B
    test, throughput delta in SCALE.md).  Pass ``state_store_provider=None``
    for the session default.

    The ``nanosAsLong`` legacy conf the events scan needs is flipped only
    for the lifetime of the replay and then restored — microbatch scans
    consult it at execution time, which happens entirely inside
    ``start()``..``awaitTermination()``.  Same save/restore for the state
    store provider (it, too, is read at query start)."""
    spark = df.sparkSession
    confs = {"spark.sql.legacy.parquet.nanosAsLong": "true"}
    if state_store_provider is not None:
        confs["spark.sql.streaming.stateStore.providerClass"] = (
            state_store_provider
        )
    with session_confs(spark, confs):
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name)


def _additive_mv_replay(
    spark: SparkSession,
    sf_dir: str,
    *,
    prefix: str,
    key_cols: list[str],
    sum_cols: list[str],
    delta_fn,
    select_fn,
    schema: str,
) -> DataFrame:
    """Shared harness of the additive materialized-view queries
    (``stream_incremental_agg_query``, ``stream_table_fingerprint_query``):
    replay the 4-batch event stream, fold ``delta_fn(batch_df)`` — a
    PRE-AGGREGATED one-row-per-key delta — into a versioned table via
    ``apply_additive_batch`` (batch-id dedupe: a retried additive delta
    would silently corrupt totals), then return ``select_fn`` over the
    stored state as a local DataFrame.

    The versioned table lives in a scratch directory for the replay
    only: the final state is VIEW-sized, so it is collected and the
    scratch dir (snapshots + checkpoint) removed — a declared query must
    not leak disk per invocation.  One harness, two queries: a fix to
    the conf handling, checkpointing, or cleanup applies to both by
    construction."""
    import shutil
    import tempfile

    from ..sources.versioned import VersionedParquetTable

    base = tempfile.mkdtemp(prefix=prefix)
    try:
        table = VersionedParquetTable(
            os.path.join(base, "state"), key_cols=key_cols
        )

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            table.apply_additive_batch(delta_fn(batch_df), batch_id, sum_cols)

        events = stream_events_multibatch(spark, sf_dir)
        with session_confs(
            spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}
        ):
            _drain(events, apply, prefix)
        rows = select_fn(table.read(spark)).collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _drain(stream: DataFrame, apply, prefix: str) -> None:
    """Run ``apply(batch_df, batch_id)`` as the ``foreachBatch`` sink
    over everything ``stream`` holds now (``availableNow``), with its
    checkpoint in a scratch directory removed afterwards — a declared
    query must not leak disk per invocation.  The one scratch-checkpoint
    run every foreachBatch replay uses."""
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix=prefix)
    try:
        (
            stream.writeStream.foreachBatch(apply)
            .option("checkpointLocation", os.path.join(scratch, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def stream_incremental_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: incremental materialized-view maintenance.  The
    4-batch event replay pre-aggregates each micro-batch (count +
    DECIMAL-exact value sum per event_type) and folds the delta into a
    versioned aggregate table via ``apply_additive_batch`` — so after
    the replay the stored aggregate must equal the one-shot batch
    aggregate over the whole corpus, which is exactly what the DuckDB
    oracle computes.  This is the streaming recipe that keeps a
    dashboard/feature table fresh at 100 TB/day: per-batch state is
    aggregate-sized (one row per key), every refresh is a snapshot
    commit (time travel for free), and the batch-id log makes sink
    retries no-ops — an additive double-apply would corrupt totals
    silently, so exactly-once here is correctness, not hygiene."""
    return _additive_mv_replay(
        spark,
        sf_dir,
        prefix="fb_incr_agg_",
        key_cols=["event_type"],
        sum_cols=["n_events", "_sum_value"],
        delta_fn=lambda batch_df: batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sum_value"),
        ),
        select_fn=lambda df: df.select(
            "event_type",
            "n_events",
            F.col("_sum_value").cast("double").alias("sum_value"),
        ),
        schema="event_type string, n_events long, sum_value double",
    )


def stream_table_fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: a CONTINUOUSLY MAINTAINED replication checksum —
    the streaming composition of ``operators.integrity.table_fingerprint``
    (commutative md5-sum content checksum) with the incremental-MV
    harness above.

    Why it composes at all: the fingerprint is an algebraic SUM, so each
    micro-batch's delta — ``(n_rows, Σ row_fingerprint)`` over just that
    batch's rows — folds additively into O(1) stored state (batch-id
    dedupe: a sink retry double-adding a delta would corrupt the
    checksum silently, so exactly-once is correctness).  After the
    4-batch event-time replay the stored pair must equal the one-shot
    fingerprint over the whole table, which is exactly what the DuckDB
    oracle computes — at 100 TB/day this is how a replication pipeline
    keeps a live checksum without ever rescanning the table: per-batch
    cost O(batch), validation cost O(1).

    Row identity comes from ``integrity.events_row_fingerprint`` — ONE
    canonicalization shared by the batch fingerprint, this stream, and
    both engines' oracles, so "same row" can never mean different things
    on different paths."""
    from ..operators.integrity import events_row_fingerprint

    return _additive_mv_replay(
        spark,
        sf_dir,
        prefix="fb_stream_fp_",
        key_cols=["table_name"],
        sum_cols=["n_rows", "fp"],
        delta_fn=lambda batch_df: batch_df.agg(
            F.lit("events").alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(events_row_fingerprint()).alias("fp"),
        ),
        select_fn=lambda df: df.select(
            "table_name",
            "n_rows",
            F.col("fp").cast("string").alias("fingerprint"),
        ),
        schema="table_name string, n_rows long, fingerprint string",
    )


def _docs_split_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the tworound document INGESTS as a 2-file stream
    source: file 0 = ingest 1 (doc_id in [100000, 200000)), file 1 =
    ingest 2 (doc_id >= 200000) — the batch CONTENT comes from
    ``operators.dedup.tworound_documents`` (one derivation — the
    streaming twin must never re-spell the fixture)."""
    from ..operators.dedup import tworound_documents

    return _doc_batches_split_dir(
        spark,
        sf_dir,
        "docsplit",
        tworound_documents,
        ((100000, 200000), (200000, None)),
    )


def _mm_split_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the unified crawl's two deliveries as a 2-file stream
    source: file 0 = delivery 1 (doc_id in [600000, 700000)), file 1 =
    delivery 2 (doc_id >= 700000), the content from
    ``operators.pipeline.ingest_deliveries_docs``."""
    from ..operators.pipeline import ingest_deliveries_docs

    return _doc_batches_split_dir(
        spark,
        sf_dir,
        "mmsplit",
        ingest_deliveries_docs,
        ((600000, 700000), (700000, None)),
    )


def _doc_batches_split_dir(
    spark: SparkSession,
    sf_dir: str,
    salt: str,
    world_fn,
    splits: tuple[tuple[int, int | None], ...],
) -> str:
    """Materialize a derived document universe as an N-file stream
    source: file i holds ``world_fn(spark, sf_dir)`` restricted to the
    i-th doc_id range, with strictly increasing mtimes so a
    ``maxFilesPerTrigger=1`` file stream replays them as successive
    micro-batches in delivery order — the ``_events_split_dir``
    discipline on the documents table, shared by every streaming twin
    of a multi-ingest batch query (one world derivation per pair — the
    streaming spelling must never re-spell the fixture).  Written via
    single-partition Spark writes."""
    import glob as _glob
    import shutil

    def write(out_dir: str) -> None:
        world = world_fn(spark, sf_dir)
        base_mtime = os.path.getmtime(os.path.join(sf_dir, "documents.parquet"))
        for i, (lo, hi) in enumerate(splits):
            batch = world.filter(F.col("doc_id") >= lo)
            if hi is not None:
                batch = batch.filter(F.col("doc_id") < hi)
            tmp = os.path.join(out_dir, f"_tmp_{i}")
            batch.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            path = os.path.join(out_dir, f"ingest_{i:03d}.parquet")
            shutil.move(part, path)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(path, (base_mtime + i, base_mtime + i))

    return materialise(
        "docs_split",
        (salt, sf_dir),
        ".parquet",
        [f"ingest_{i:03d}.parquet" for i in range(len(splits))],
        write,
        spec=splits,
        code=(sys.modules[__name__], world_fn, inspect.getmodule(world_fn)),
        corpus=(sf_dir, "documents"),
    )


def _apply_trigger(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    report_dir: str,
    step,
) -> None:
    """The per-trigger protocol both streaming crawls share.  ``step``
    takes the checkpointed batch and returns ``(report, fold)``: the
    screen against the state tables AS OF NOW, and the fold to run once
    the report is committed.

    - Retry guard: a batch_id whose report already carries ``_SUCCESS``
      is a complete no-op.  Its report committed before the failure, so
      the fold may or may not have run; a re-screen would read post-fold
      state, and re-folding set-shaped state is harmless, so both skip.
    - The batch is checkpointed eagerly: the screen, the commit and the
      fold all read one materialisation of it.
    - COMMIT before fold: the report is written with ``ingest =
      batch_id + 1`` before any append mutates state, which pins the
      screen to pre-fold state and keeps per-doc rows executor-side (no
      driver collect); the fold reads the committed report back."""
    from ..operators.relational import hadoop_fs

    bdir = f"{report_dir}/batch_{batch_id:05d}"
    fs, success = hadoop_fs(spark, f"{bdir}/_SUCCESS")
    if fs.exists(success):
        return
    rep, fold = step(batch_df.localCheckpoint(eager=True))
    (
        rep.select(F.lit(batch_id + 1).cast("int").alias("ingest"), "*")
        .write.mode("overwrite")
        .parquet(bdir)
    )
    fold(spark.read.parquet(bdir).drop("ingest"))


def _crawl_replay(
    spark: SparkSession,
    name: str,
    tag: str,
    state: dict,
    bases: tuple[DataFrame, ...],
    split_dir: str,
    apply,
    columns: tuple[str, ...],
) -> DataFrame:
    """The replay driver both streaming crawls share: drop every
    generation of each state stem and of the ``<name>_report_`` sink
    stem (``drop_generations``: a replay on one corpus leaves nothing of
    another behind), seed every state table as a file-level snapshot of
    its day-0 base (one file per bucket, so replay-0 fragmentation
    starts at 1 and the compaction threshold counts ingests;
    ``_snapshot_bucketed_state``), replay the split one file per
    trigger (``maxFilesPerTrigger=1``) through ``apply(batch_df,
    batch_id, report_dir)`` under ``_drain``, and read the committed
    reports back lazily — only what the CALLER collects ever crosses to
    the driver.  The sink is a warehouse entry with the warehouse's
    scheme, beside the state tables."""
    from ..operators.relational import drop_generations, warehouse_entry

    stems = [tbl.removesuffix(tag) for tbl in state] + [f"{name}_report_"]
    for stem in stems:
        drop_generations(spark, stem)
    for (tbl, tier), base in zip(state.items(), bases):
        _snapshot_bucketed_state(spark, base, tbl, tier.keys)
    report_dir = warehouse_entry(spark, f"{name}_report_{tag}")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    _drain(stream, lambda df, bid: apply(df, bid, report_dir), f"fb_{name}_")
    return spark.read.parquet(f"{report_dir}/batch_*").select(*columns)


def _strinc_apply_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    report_dir: str,
    htbl: str,
    btbl: str,
) -> None:
    """One micro-batch of the continuous incremental-dedup loop: screen
    the batch against the text state tables, commit the report, fold
    the kept docs' hashes and bands (``_apply_trigger``'s protocol).
    Module-level rather than a closure so the retry contract is
    directly unit-testable (tests/test_streaming.py)."""
    from ..operators.dedup import _screen_batch
    from ..operators.fold import TEXT, Delivery, fold_trigger

    def step(bdf: DataFrame):
        rep = _screen_batch(bdf, spark.table(htbl), spark.table(btbl))
        return rep, lambda committed: fold_trigger(
            spark,
            dict(zip((htbl, btbl), TEXT)),
            Delivery.text(bdf),
            committed.filter(F.col("kept")).select("doc_id"),
        )

    _apply_trigger(spark, batch_df, batch_id, report_dir, step)


def stream_dedup_incremental_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declared query: the incremental-dedup LOOP as a STRUCTURED
    STREAMING job — ``dedup_incremental_tworound``'s exact semantics
    (and therefore its exact ORACLE) executed by ``foreachBatch`` over
    a two-file document stream: each micro-batch screens against the
    bucketed state tables AS OF ITS TRIGGER, and its kept docs' hashes
    and band signatures append back into them before the next batch
    fires — so ingest 2's copies of ingest-1 survivors are flagged
    precisely because batch 1's fold committed between triggers (the
    tworound contract, continuous edition).

    Mechanics the batch spelling doesn't exercise live in the shared
    trigger protocol (``_apply_trigger``: report COMMITTED before the
    fold, whose ``_SUCCESS`` doubles as the retry guard) and replay
    driver (``_crawl_replay``: fresh day-0 snapshot per replay, scratch
    checkpoint removed afterwards, lazy read-back of the reports).

    At 100 TB this is the continuous crawl: the screen's per-trigger
    cost is O(batch) against pre-bucketed state, the report write is a
    distributed O(batch) sink (never a driver collect), the fold
    appends O(kept) bucket files (compaction cadence per
    ``compact_bucketed_table``), and exactly-once comes from the
    checkpoint + the batch_id-keyed report commit + idempotent
    distinct-append (a batch is replayed only until its report
    commits; state re-appends of already-present rows are harmless for
    SET-shaped state)."""
    from ..operators.dedup import _text_state_tables
    from ..operators.fold import TEXT, tables
    from ..operators.relational import corpus_tag

    tag = corpus_tag(sf_dir, "documents")
    state = tables("strinc_", tag, TEXT)
    htbl, btbl = state

    def apply(batch_df: DataFrame, batch_id: int, report_dir: str) -> None:
        _strinc_apply_batch(spark, batch_df, batch_id, report_dir, htbl, btbl)

    return _crawl_replay(
        spark,
        "strinc",
        tag,
        state,
        _text_state_tables(spark, sf_dir),
        _docs_split_dir(spark, sf_dir),
        apply,
        ("ingest", "doc_id", "is_exact_dup", "is_near_dup", "kept"),
    )


def _snapshot_bucketed_state(
    spark: SparkSession, base: DataFrame, tbl: str, keys: tuple[str, ...]
) -> None:
    """Seed one replay state table as a FILE-LEVEL snapshot of its day-0
    base table (r11 optimization, guide §2.4 / §6): the base is already a
    bucketed table whose bucket assignment is a pure function of the key
    — so re-reading it through a repartition + bucketed write per replay
    recomputed byte-identical files through a full shuffle, every run.
    Instead: create an EMPTY table with the same schema and bucket spec
    (metadata only — bucket ids live in the part-file NAMES, which the
    copy preserves), then copy the base's data files in.  Measured 7×
    cheaper per table on a 100k row probe and plan-equivalent downstream
    (bucket metadata verified: the seeded table still joins
    exchange-free and accepts bucketed appends; the per-replay
    fresh-state semantics are unchanged — the snapshot holds exactly
    the rows the old seeder wrote).

    r12 hardening (VERDICT r11 item 2 + ADVICE low):

    - FILESYSTEM-AGNOSTIC: the copy routes through the Hadoop
      ``FileUtil`` API (``_hadoop_copy_files``) whenever the source or
      the destination is not ``file:`` (HDFS/S3 — the 100 TB posture);
      ``shutil`` would target the driver's local disk there.  When both
      sides are local it copies with ``shutil``: about 4× cheaper than
      the Hadoop copy on a ``file:`` warehouse (0.51 s vs 1.99 s for a
      72-file ``stream_ingest_multimodal`` seed, sf0.01, 4 cores), and
      every streaming replay on the default warehouse seeds this way.
      The empty table is created by DDL (``CLUSTERED BY``), not an
      empty-DataFrame write — no Spark job per table.
    - The caller has dropped every generation of the table's stem
      (``_crawl_replay``'s ``drop_generations``), so the catalog name
      and the warehouse directory are free.  The destination keeps the
      warehouse URI's scheme (``warehouse_entry``), and the copy gets
      the full-scheme path.
    - What is checked: every copied file must parse a writer bucket id
      (``layout.BUCKET_FILE_PAT``) below ``fold.N_BUCKETS`` from its
      ``inputFiles()`` name, so an unbucketed base or one bucketed wider
      fails loudly.  Nothing checks that ``base`` is a bare scan: a
      filtered or projected frame over a table bucketed this way passes,
      and the snapshot copies its whole files."""
    import shutil
    from urllib.parse import urlparse

    from ..operators.fold import N_BUCKETS
    from ..operators.layout import BUCKET_FILE_PAT
    from ..operators.relational import warehouse_entry

    src_files = base.inputFiles()
    for f in src_files:
        m = BUCKET_FILE_PAT.search(os.path.basename(f))
        if not m or int(m.group(1)) >= N_BUCKETS:
            raise ValueError(
                f"_snapshot_bucketed_state({tbl}): base file {f} does not "
                f"carry a writer bucket id < {N_BUCKETS} — the base must "
                "be a bare scan of a table bucketed with the same spec "
                "as the snapshot"
            )
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in base.schema.fields
    )
    key_list = ", ".join(f"`{k}`" for k in keys)
    spark.sql(
        f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({key_list}) SORTED BY ({key_list}) "
        f"INTO {N_BUCKETS} BUCKETS"
    )
    dst = warehouse_entry(spark, tbl)
    if all(urlparse(u).scheme in ("", "file") for u in (dst, *src_files)):
        dst_path = urlparse(dst).path
        os.makedirs(dst_path, exist_ok=True)
        for f in src_files:
            shutil.copy(urlparse(f).path, dst_path)
    else:
        _hadoop_copy_files(spark, src_files, dst)
    spark.catalog.refreshTable(tbl)


def _hadoop_copy_files(
    spark: SparkSession, src_files: list[str], dst_dir: str
) -> None:
    """Copy one table's files (one source FileSystem) into ``dst_dir``
    through the Hadoop FileSystem API — the scheme-aware path
    ``_snapshot_bucketed_state`` takes when a side is not ``file:``.
    Each side is on the FileSystem ``relational.hadoop_fs`` resolves for
    its URI: HDFS/S3 as Spark reads them, and on ``file:`` the raw local
    filesystem, so a copy writes no ``.crc`` siblings.  One
    ``FileUtil.copy`` call takes the whole file array: py4j resolves
    every JVM name per access, so a per-file call costs ~30 gateway
    round trips."""
    from ..operators.relational import hadoop_fs

    jvm = spark._jvm
    dst_fs, dst_path = hadoop_fs(spark, dst_dir)
    dst_fs.mkdirs(dst_path)
    if not src_files:
        return
    Path = jvm.org.apache.hadoop.fs.Path
    srcs = spark.sparkContext._gateway.new_array(Path, len(src_files))
    for i, f in enumerate(src_files):
        srcs[i] = Path(f)
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        hadoop_fs(spark, src_files[0])[0],
        srcs,
        dst_fs,
        dst_path,
        False,  # deleteSource
        True,  # overwrite
        spark._jsc.hadoopConfiguration(),
    )


def _strmm_apply_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    report_dir: str,
    sf_dir: str,
    tag: str,
    cent: DataFrame,
) -> None:
    """One micro-batch of the continuous MULTIMODAL crawl: infer which
    delivery this is from the batch's own id range (never from
    batch_id — a restarted stream renumbers batches, the id range is
    content), load that delivery's media fingerprints and batch
    vectors, run all FIVE incremental screens against the nine state
    tables AS OF NOW (``_multimodal_screen`` +
    ``_crawl_semantic_parts``, the same shared functions both batch
    spellings use), evaluate the IN-LOOP drift trigger against the
    score state as of this trigger, then commit and fold every tier
    through ``_apply_trigger``'s protocol.  ``cent`` is the persisted
    centroid frame the query resolves once, outside the stream."""
    from ..operators.fold import TIERS, Delivery, fold_trigger, tables
    from ..operators.multimodal import (
        _ingest2_audio_batch_fixture_dir,
        _ingest2_image_batch_fixture_dir,
        _ingest_audio_batch_fixture_dir,
        _ingest_image_batch_fixture_dir,
    )
    from ..operators.pipeline import (
        _crawl_semantic_parts,
        _media_batch_fps,
        _multimodal_screen,
        ingest2_embedding_batch,
        ingest_embedding_batch,
    )
    from ..operators.similarity import _drift_trigger_frame

    def step(bdf: DataFrame):
        # delivery inference: one driver-sized scalar (an aggregate,
        # never per-doc rows) — ingest 1 lives at +600000, ingest 2 at
        # +700000
        id_base = (bdf.agg(F.min("doc_id")).first()[0] // 100000) * 100000
        if id_base == 600000:
            img_dir = _ingest_image_batch_fixture_dir(spark, sf_dir)
            aud_dir = _ingest_audio_batch_fixture_dir(spark, sf_dir)
            bvecs = ingest_embedding_batch(spark, sf_dir)
        else:
            img_dir = _ingest2_image_batch_fixture_dir(spark, sf_dir)
            aud_dir = _ingest2_audio_batch_fixture_dir(spark, sf_dir)
            bvecs = ingest2_embedding_batch(spark, sf_dir)
        img_fps = _media_batch_fps(spark, img_dir, "png")
        aud_fps = _media_batch_fps(spark, aud_dir, "wav")
        state = tables("strmm_", tag, TIERS)
        th, tb, ih, ib, ah, ab, sb, sv, ss = map(spark.table, state)
        assign, keys, sem_rep = _crawl_semantic_parts(bvecs, cent, sb, sv)
        # the in-loop drift trigger: this delivery's enrollment vs the
        # STORED score state as of this trigger (two 1-row aggregates)
        drift = _drift_trigger_frame(ss, assign)
        rep = _multimodal_screen(
            bdf,
            (th, tb),
            (ih, ib),
            (ah, ab),
            img_fps,
            aud_fps,
            id_base,
            sem_rep=sem_rep,
        ).crossJoin(drift)
        delivery = Delivery(
            bdf, id_base, img_fps, aud_fps, bvecs, assign, keys
        )
        return rep, lambda committed: fold_trigger(
            spark,
            state,
            delivery,
            committed.filter(F.col("disposition") == "kept").select("doc_id"),
        )

    _apply_trigger(spark, batch_df, batch_id, report_dir, step)


def stream_ingest_multimodal_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declared query: the unified multimodal crawl LOOP as a
    STRUCTURED STREAMING job — ``ingest_tworound_multimodal``'s exact
    semantics (and therefore its exact ORACLE) executed by
    ``foreachBatch`` over a two-delivery document stream: each
    micro-batch runs all FIVE tiers' incremental screens (exact text
    hash, MinHash-LSH bands, SemDeDup embedding screen, image
    perceptual hash, audio energy fingerprint) against the nine
    bucketed state tables AS OF ITS TRIGGER, evaluates the IN-LOOP
    drift trigger against the stored score state (VERDICT r10 item 6 —
    the streaming report rows carry drift_ratio/refit_recommended),
    and its kept docs' rows — text md5 + band sigs, SRP band keys +
    vectors + stored enrollments, image hashes + band keys, audio
    fingerprints + band keys — append back before the next trigger
    fires.  Ingest 2's planted repeats of ingest-1 keeps (d%8==6 text
    + audio re-record + embedding verbatim, d%8==7 image retouch,
    d%8==3 d>=256 embedding near-copy) flag as dups precisely because
    batch 1's all-tier fold committed between triggers — the tworound
    contract at integration width, continuous edition.

    Streaming mechanics are the shared trigger protocol and replay
    driver (``_apply_trigger``, ``_crawl_replay``).  The delivery's
    media fixture pair is inferred from the batch's own id range, not
    from batch_id — content decides, so a restarted stream that
    renumbers batches still screens each delivery against the right
    assets.

    At 100 TB this is the production crawl loop entire: per trigger,
    O(batch) screens against six pre-bucketed states, map-only media
    decodes of the delivery's own files, O(kept) state appends, and a
    distributed report sink — no corpus-sized pass and no driver-sized
    per-doc data anywhere."""
    from ..operators.dedup import _text_state_tables
    from ..operators.fold import TIERS, tables
    from ..operators.multimodal import _afp_state_tables, _phash_state_tables
    from ..operators.relational import corpus_tag
    from ..operators.similarity import _semantic_state_tables

    tag = corpus_tag(sf_dir, "documents")
    # the semantic builder also ensures the shared centroid table the
    # per-batch enrollment reads (pay-once, outside the stream); the
    # resolved centroid frame is passed into every trigger
    _, _, cent, semb0, semv0, sems0 = _semantic_state_tables(spark, sf_dir)
    day0 = (
        *_text_state_tables(spark, sf_dir),
        *_phash_state_tables(spark, sf_dir),
        *_afp_state_tables(spark, sf_dir),
        semb0,
        semv0,
        sems0,
    )

    def apply(batch_df: DataFrame, batch_id: int, report_dir: str) -> None:
        _strmm_apply_batch(
            spark, batch_df, batch_id, report_dir, sf_dir, tag, cent
        )

    return _crawl_replay(
        spark,
        "strmm",
        tag,
        tables("strmm_", tag, TIERS),
        day0,
        _mm_split_dir(spark, sf_dir),
        apply,
        (
            "ingest",
            "doc_id",
            "is_exact_dup",
            "is_near_dup",
            "is_semantic_dup",
            "is_image_dup",
            "is_audio_dup",
            "disposition",
            "drift_ratio",
            "refit_recommended",
        ),
    )
