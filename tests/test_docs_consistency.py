"""Docs must not drift from the registry: COVERAGE.md / README.md quote
query counts that have gone stale three times already this round."""

from __future__ import annotations

import os
import re

import __spark_entry__ as entrymod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_counts_match_registry():
    n_queries = len(entrymod.queries())
    n_oracle = len(entrymod.oracle_sql())
    text = open(os.path.join(ROOT, "COVERAGE.md")).read()
    match = re.search(r"(\d+) queries in `queries\(\)`; (\d+) oracle-backed", text)
    assert match, "COVERAGE.md totals line missing"
    assert int(match.group(1)) == n_queries, "COVERAGE.md query count stale"
    assert int(match.group(2)) == n_oracle, "COVERAGE.md oracle count stale"
    readme = open(os.path.join(ROOT, "README.md")).read()
    match = re.search(r"\((\d+) registered queries, (\d+) oracle-backed", readme)
    assert match and int(match.group(1)) == n_queries, "README count stale"
    assert int(match.group(2)) == n_oracle
    running = readme.split("## Running", 1)[1].split("```")[1]
    scripts = re.findall(r"\btools/\S+\.py\b", running)
    assert scripts, "README Running block names no tools/ script"
    for path in scripts:
        assert os.path.exists(os.path.join(ROOT, path)), f"README names missing {path}"
    survey = open(os.path.join(ROOT, "SURVEY.md")).read()
    match = re.search(r"(\d+) queries, (\d+) oracle-backed", survey)
    assert match and int(match.group(1)) == n_queries, "SURVEY count stale"
    assert int(match.group(2)) == n_oracle, "SURVEY oracle count stale"


def test_every_oracle_has_a_query():
    queries = entrymod.queries()
    for name in entrymod.oracle_sql():
        assert name in queries, f"oracle_sql has {name} but queries() does not"


def test_every_query_named_in_coverage():
    """COVERAGE.md is the inventory→query map: every registered query name
    must literally appear in it (backticked), so the map cannot silently
    omit an operator."""
    text = open(os.path.join(ROOT, "COVERAGE.md")).read()
    for name in entrymod.queries():
        assert f"`{name}`" in text, f"COVERAGE.md does not mention `{name}`"


def test_driver_window_covers_every_query():
    """Round-11 invariant — the evidence floor ADVANCES to r8 (VERDICT
    r10 item 1: the full remaining r7-era cohort sits in this window, so
    r7 rows are no longer needed by any query): (1) every REGISTERED
    query has a driver row in r8 ∪ r9 ∪ r10 ∪ this round's 50-query
    window; (2) every ORACLE-BACKED query has a hash row in that union.
    The two r10 late registrations rotated into window positions 1-2
    for their FIRST driver rows, emptying the pending list.  Queries
    whose RESULTS or LIFECYCLE changed this round (the semantic tier in
    the three unified-crawl queries; stream_dedup_incremental's
    repartition-first fold appends) must sit IN the window — their
    older rows certify a different computation.  (The driver checks
    only the first 50 registered queries per round.)"""
    import json

    queries = list(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    window = queries[:50]
    assert window == entrymod._DRIVER_WINDOW
    assert len(set(window)) == 50
    rounds = [
        json.load(open(os.path.join(ROOT, f"CORRECTNESS_r{n:02d}.json")))
        for n in (8, 9, 10)
    ]
    driver_rows = set().union(*rounds)
    hash_green = set().union(
        *({k for k, v in r.items() if v.get("hash_match")} for r in rounds)
    )
    assert entrymod._PENDING_NEXT_WINDOW == [], (
        "r11 contract: the pending list is empty — additions displace "
        "group-(e) re-checks instead of waiting"
    )
    assert window[:2] == ["hybrid_retrieval_rrf", "embedding_sq8_knn"], (
        "the r10 late registrations must lead the r11 window "
        "(their first driver rows)"
    )
    for changed in (
        "ingest_screen_multimodal",
        "ingest_tworound_multimodal",
        "stream_ingest_multimodal",
        "stream_dedup_incremental",
    ):
        assert changed in window, f"{changed} changed in r11 but not in window"
    for name in queries:
        assert name in driver_rows or name in window, (
            f"{name} has no driver row newer than r7"
        )
        if name in oracles:
            assert name in hash_green or name in window, (
                f"{name} is oracle-backed but has no r8+ hash-green "
                "driver row"
            )


def test_bench_headline_entries_are_registered():
    """Every bench HEADLINE entry must resolve in queries() — bench.py
    indexes the registry directly, so a renamed/unregistered query would
    only fail at driver bench time otherwise."""
    import bench

    queries = entrymod.queries()
    for name in bench.HEADLINE:
        assert name in queries, f"bench entry {name} not in queries()"


def test_bench_stdout_line_fits_driver_capture():
    """The driver records only the LAST 2000 chars of bench stdout and
    json-parses them; r5/r6 shipped ~6.7 KB lines that truncated
    (VERDICT r6 what's-wrong #1).  Worst-case render of the current
    HEADLINE set (including the r11 swing field) must fit with
    margin."""
    import bench

    worst = {name: 999.999 for name in bench.HEADLINE}
    line = bench.summary_line(
        99999.999, worst, 5, "BENCH_local_latest.json", 0.1, 99.999
    )
    assert len(line) + 1 <= 2000, f"bench stdout line {len(line)} chars"
    import json

    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert parsed["swing"] == 99.999


def test_bench_controls_pinned_and_current():
    """The r11 swing-adjudication controls (VERDICT r10 item 3): every
    control is a registered, oracle-backed, HEADLINE-resident query
    with a pinned positive reference time and a pinned source hash; no
    control's code has changed since its reference was pinned (a change
    invalidates the pin — re-measure and re-pin in the same commit);
    and the detection actually detects (a planted wrong hash surfaces
    exactly that query)."""
    import bench

    queries = entrymod.queries()
    oracles = set(entrymod.oracle_sql())
    assert set(bench.CONTROL_SOURCE_MD5) == set(bench.CONTROLS)
    for name, ref in bench.CONTROLS.items():
        assert name in queries and name in oracles, f"control {name} unknown"
        assert name in bench.HEADLINE, f"control {name} must be timed"
        assert name not in bench.RETIRED, f"control {name} retired"
        assert ref > 0
    assert bench.stale_controls() == [], (
        "a control's code changed without re-pinning its reference"
    )
    victim = sorted(bench.CONTROLS)[0]
    planted = dict(bench.CONTROL_SOURCE_MD5, **{victim: "0" * 32})
    assert bench.stale_controls(planted) == [victim]


def test_bench_rotation_policy_capacity_and_registry():
    """The r9 rotation policy (VERDICT r8 item 5): retirees stay
    registered and oracle-checked (only the timing slot is released),
    never overlap HEADLINE, and the surviving set must render at >= 2-dp
    display precision inside the 2000-char capture for the realistic
    worst case (every query under 100 s at 2 dp) — the headroom that
    lets next round's additions land without another precision rung."""
    import json

    import bench

    queries = entrymod.queries()
    oracles = set(entrymod.oracle_sql())
    assert not set(bench.RETIRED) & set(bench.HEADLINE)
    for name, reason in bench.RETIRED.items():
        assert name in queries, f"retired {name} left the registry"
        assert name in oracles, f"retired {name} lost its oracle"
        assert reason, f"retired {name} has no family-collateral reason"
    two_dp = {name: 99.99 for name in bench.HEADLINE}
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": 9999.99,
            "unit": "sec",
            "queries": two_dp,
            "runs_per_query": 5,
            "detail": "BENCH_local_latest.json",
            "sf": 0.1,
        },
        separators=(",", ":"),
    )
    assert len(line) + 1 <= 1950, (
        f"2-dp render is {len(line)} chars — retire more entries "
        "before adding new ones"
    )


def test_bench_retirement_reentry_branch():
    """The rotation policy's RE-ENTRY branch (r10 — VERDICT r9 item 7):
    the retirement table records each retiree's query-source md5, and a
    retiree whose code changes must re-enter HEADLINE.  Both sides: the
    live repo has no stale retirees (every retiree's source still
    matches its recorded hash — otherwise this build fails until the
    query re-enters), and the detection actually detects (a planted
    wrong hash surfaces exactly that query)."""
    import bench

    assert set(bench.RETIRED_SOURCE_MD5) == set(bench.RETIRED), (
        "every retiree needs a recorded source hash, and only retirees"
    )
    stale = bench.stale_retirees()
    assert stale == [], (
        f"retired queries changed without re-entering HEADLINE: {stale}"
    )
    victim = sorted(bench.RETIRED)[0]
    planted = dict(bench.RETIRED_SOURCE_MD5, **{victim: "0" * 32})
    assert bench.stale_retirees(planted) == [victim], (
        "the re-entry detector failed to flag a changed retiree"
    )


def test_bench_code_hash_ignores_docstrings_and_comments():
    """The staleness hash watches code, not prose: a docstring- or
    comment-only edit of a control's function hashes equal, and changing
    one literal in its body hashes different."""
    import inspect

    import bench

    fn = entrymod.queries()["dedup_audio_fingerprint"]
    src = inspect.getsource(fn)
    first = inspect.getdoc(fn).splitlines()[0]
    body = "    fixture = _afp_fixture_dir(spark, sf_dir)\n"
    group = r'\.wav$", 1)'
    variants = {
        "docstring": src.replace(first, "A reworded docstring line.", 1),
        "comment": src.replace(body, "    # an added comment\n" + body, 1),
        "literal": src.replace(group, group.replace("1", "2"), 1),
    }
    assert all(v != src for v in variants.values())
    assert bench.query_source_md5("dedup_audio_fingerprint") == bench.code_md5(src)
    assert bench.code_md5(variants["docstring"]) == bench.code_md5(src)
    assert bench.code_md5(variants["comment"]) == bench.code_md5(src)
    assert bench.code_md5(variants["literal"]) != bench.code_md5(src)
