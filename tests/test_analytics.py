"""Crafted-boundary tests for the r5 event-analytics queries.

The oracle parity sweeps prove Spark == DuckDB on the corpus; these
tests prove the SEMANTICS are the intended ones on inputs built to sit
exactly on the decision boundaries (a parity test cannot distinguish
"both engines agree on the right rule" from "both agree on the same
wrong rule" — a crafted expectation can).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

BASE = dt.datetime(2024, 1, 1, 12, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (i, ts, user, etype, 1.0)
            for i, (user, etype, ts) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def _funnel_over(spark, df):
    """Drive the PRODUCTION stage dataflow (relational.funnel_stages)
    over a crafted frame — not a replica that could drift."""
    from firebird_mapreduce_spark.operators.relational import funnel_stages

    v, c, p = funnel_stages(df)
    return (
        {r.user_id for r in v.collect()},
        {r.user_id for r in c.collect()},
        {r.user_id for r in p.collect()},
    )


def test_funnel_boundaries(spark):
    m = dt.timedelta(minutes=1)
    h = dt.timedelta(hours=1)
    us = dt.timedelta(microseconds=1)
    rows = [
        # user 1: clean conversion — view, click +1m, purchase +2m
        (1, "view", BASE),
        (1, "click", BASE + m),
        (1, "purchase", BASE + 2 * m),
        # user 2: purchase BEFORE the first post-view click — ordered
        # semantics must exclude the purchase stage
        (2, "view", BASE),
        (2, "purchase", BASE + m),
        (2, "click", BASE + 2 * m),
        # user 3: click exactly at +1h — inclusive boundary (<=) keeps it
        (3, "view", BASE),
        (3, "click", BASE + h),
        # user 4: click at +1h + 1µs — outside the window
        (4, "view", BASE),
        (4, "click", BASE + h + us),
        # user 5: click at the SAME instant as the view — strict > drops it
        (5, "view", BASE),
        (5, "click", BASE),
        # user 6: click with no prior view — never enters the funnel
        (6, "click", BASE),
        # user 7: first click inside the window, purchase within 1h of
        # that click but >1h after the view — still converts (the window
        # anchors on the previous STAGE, not the funnel start)
        (7, "view", BASE),
        (7, "click", BASE + 50 * m),
        (7, "purchase", BASE + 100 * m),
    ]
    views, clicks, purchases = _funnel_over(spark, _events(spark, rows))
    assert views == {1, 2, 3, 4, 5, 7}
    assert clicks == {1, 2, 3, 7}
    assert purchases == {1, 7}


def test_session_window_gap_boundary(spark):
    """Spark's built-in session_window merges an event at EXACTLY
    last+gap (closed boundary) — discovered by this test; the oracles
    and the custom stateful folds implement the same rule (strict >
    splits).  One microsecond past the gap splits."""
    m = dt.timedelta(minutes=1)
    us = dt.timedelta(microseconds=1)
    rows = [
        (1, "view", BASE),
        (1, "view", BASE + 29 * m),           # merges (gap 29m < 30m)
        (1, "view", BASE + 59 * m),           # merges (gap 30m EXACTLY)
        (1, "view", BASE + 89 * m + us),      # gap 30m + 1µs -> NEW
        (2, "view", BASE),                    # other user: own session
    ]
    df = _events(spark, rows)
    sessions = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
        .collect()
    )
    by_user = {}
    for r in sessions:
        by_user.setdefault(r.user_id, []).append((r.s, r.e, r.n))
    assert len(by_user[2]) == 1 and by_user[2][0][2] == 1
    u1 = sorted(by_user[1])
    assert len(u1) == 2, f"expected exactly the +1µs event to split: {u1}"
    # first session: 3 events incl. the exact-gap tie,
    # end = last event (59m) + 30m = 89m
    assert u1[0][2] == 3 and u1[0][1] == BASE + 89 * m
    # second session: the past-the-gap event alone
    assert u1[1][0] == BASE + 89 * m + us and u1[1][2] == 1


def test_custom_session_fold_matches_builtin_boundary():
    """make_session_fold (behind the GroupState sessionizer
    ``stream_session_custom``) must implement the SAME closed-boundary
    rule as the built-in session_window: an exact-gap tie merges,
    gap+1µs splits."""
    from firebird_mapreduce_spark.streaming.jobs import make_session_fold

    gap_us = 30 * 60 * 1_000_000
    base = 1_700_000_000_000_000
    fold, _ = make_session_fold(gap_us)
    rows, _state = fold(
        [base, base + gap_us, base + 2 * gap_us + 1], None
    )
    # exact-gap tie merged (2 events), +1µs split into a new session
    assert [(s, e, n) for s, e, n in rows] == [
        (base, base + gap_us, 2),
        (base + 2 * gap_us + 1, base + 2 * gap_us + 1, 1),
    ]


def test_retention_offset_is_iso_week_aligned(spark):
    """A user first active on a Sunday and again the following Monday is
    offset 1 (ISO weeks run Monday-Sunday), even though only one day
    elapsed — the cohort definition is calendar-week, not 7-day bucket."""
    from firebird_mapreduce_spark.operators.relational import retention_grid

    sunday = dt.datetime(2024, 1, 7, 10, 0, 0)   # ISO week starting 1 Jan
    monday = dt.datetime(2024, 1, 8, 10, 0, 0)   # next ISO week
    df = _events(spark, [(1, "view", sunday), (1, "view", monday)])
    grid = retention_grid(df).collect()
    assert sorted(r.week_offset for r in grid) == [0, 1]


def test_asof_join_tie_semantics(spark):
    """as-of attribution boundaries: a click at the SAME instant as the
    purchase attributes (<= semantics — the right side sorts before the
    left at equal ts); among two simultaneous candidate clicks the
    larger event_id wins (the documented deterministic tiebreak, same
    as the oracle's ORDER BY c.ts DESC, c.event_id DESC); a click 1µs
    AFTER the purchase never attributes."""
    from firebird_mapreduce_spark.operators.relational import asof_join

    us = dt.timedelta(microseconds=1)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: click at the exact purchase instant -> attributed
        (1, "click", BASE),
        (1, "purchase", BASE),
        # user 2: two clicks at the same ts before the purchase -> the
        # larger click event_id must win deterministically
        (2, "click", BASE),
        (2, "click", BASE),
        (2, "purchase", BASE + m),
        # user 3: only click is 1µs after the purchase -> NULL (dropped)
        (3, "purchase", BASE),
        (3, "click", BASE + us),
    ]
    df = _events(spark, rows)
    purchases = df.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = df.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    out = (
        asof_join(
            purchases,
            clicks,
            left_on="user_id",
            right_on="click_user",
            left_ts="ts",
            right_ts="click_ts",
            value_cols=["click_id"],
        )
        .filter(F.col("click_id").isNotNull())
        .select("purchase_id", "user_id", "click_id")
        .collect()
    )
    by_user = {r.user_id: r.click_id for r in out}
    ids = {
        (u, e, t): i for i, (u, e, t) in enumerate(rows)
    }
    assert by_user[1] == ids[(1, "click", BASE)]
    # the two user-2 clicks are rows 2 and 3; the larger id (3) wins
    assert by_user[2] == 3
    assert 3 not in by_user, "a click after the purchase must not attribute"


def test_range_interval_window_includes_exact_boundary(spark):
    """RANGE BETWEEN 30 MIN PRECEDING AND CURRENT ROW is inclusive on
    both edges: an event exactly 30 minutes older is inside the frame,
    one 30min+1µs older is outside."""
    m = dt.timedelta(minutes=1)
    us = dt.timedelta(microseconds=1)
    rows = [
        (1, "view", BASE - 30 * m),        # exactly 30 min before anchor
        (1, "view", BASE),                 # anchor
        (2, "view", BASE - 30 * m - us),   # 30 min + 1µs before anchor
        (2, "view", BASE),                 # anchor
    ]
    df = _events(spark, rows)
    from pyspark.sql import Window

    micros = F.unix_micros(F.col("ts"))
    win = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-30 * 60 * 1_000_000, 0)
    )
    got = {
        (r.user_id, r.ts): r.n
        for r in df.select(
            "user_id", "ts", F.count(F.lit(1)).over(win).alias("n")
        ).collect()
    }
    assert got[(1, BASE)] == 2, "exact 30-min-old event must be in frame"
    assert got[(2, BASE)] == 1, "30min+1µs-old event must be outside"
