"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``firebird_mapreduce_spark``; this module is only
the registry.  Column names/types are aligned between the Spark callables
and the oracle SQL (the driver sorts columns by name before hashing), and
float-producing aggregates use exact DECIMAL arithmetic on both sides so
hashes are reduction-order-independent (see
``firebird_mapreduce_spark/operators/relational.py`` module docstring).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from firebird_mapreduce_spark.mapreduce import (
    cogroup_customer_orders,
    mapreduce_group_count,
)
from firebird_mapreduce_spark.operators import dedup as D
from firebird_mapreduce_spark.operators import frequency as FQ
from firebird_mapreduce_spark.operators import graph as G
from firebird_mapreduce_spark.operators import integrity as IG
from firebird_mapreduce_spark.operators import layout as L
from firebird_mapreduce_spark.operators import multimodal as M
from firebird_mapreduce_spark.operators import pipeline as P
from firebird_mapreduce_spark.operators import relational as R
from firebird_mapreduce_spark.operators import similarity as S
from firebird_mapreduce_spark.operators import skew as K
from firebird_mapreduce_spark.operators import text as T
from firebird_mapreduce_spark.sources import jdbc as JD
from firebird_mapreduce_spark.streaming import jobs as SJ
from firebird_mapreduce_spark.streaming.eventgen_source import (
    stream_custom_source_query as _stream_custom_source,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the TPC-H Q1-shaped
    multi-aggregate (SURVEY §2.D ``group_sum_avg``) — scan → pushdown
    projection → partial+final hash aggregate."""
    return R.group_sum_avg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    ORDER IS LOAD-BEARING: the round driver's correctness gate checks the
    first 50 registered queries.  ``_DRIVER_WINDOW`` below pins positions
    1-50 for ROUND 11: the two r10 LATE registrations LEAD
    (``hybrid_retrieval_rrf``, ``embedding_sq8_knn`` — the only
    registered queries with zero driver rows; VERDICT r10 item 1), then
    the queries whose results or lifecycle changed this round (the
    three unified-crawl queries gained the SEMANTIC tier;
    ``stream_dedup_incremental``'s fold appends repartition-first),
    then the r11 additions (first driver rows, zero deferral), then
    the FULL remaining r7-era cohort (21 queries — the evidence floor
    advances to r8), then re-checks of the oldest remaining (r8-era)
    evidence.  The r8-era queries left un-re-checked are the ones with
    the strongest collateral — an oracle-twin or near-twin already
    re-checked; named in the window comment.  The union
    r8 ∪ r9 ∪ r10 ∪ this window gives EVERY registered query a driver
    row no older than r8, and every oracle-backed query a hash row in
    that union (tests/test_docs_consistency.py asserts the invariant).
    The full registry stays under the local gate regardless
    (tests/test_oracle_parity.py + tools/check_correctness.py).
    """
    registry = {
        # ---- registry (grouped by family; FINAL ORDER comes from
        # _DRIVER_WINDOW — queries() reorders so positions 1-50 are
        # exactly the pinned window, everything else follows) ----
        # scan / filter / flatMap
        "filter_predicate": R.filter_predicate,
        "flatmap_tokenize": R.flatmap_tokenize,
        # aggregation / grouping lattice / percentiles
        "group_count": R.group_count,
        "numbercount_10m": R.numbercount_10m,
        "group_min": R.group_min,
        "group_sum_avg": R.group_sum_avg,
        "rollup_revenue": R.rollup_revenue,
        "grouping_sets_revenue": R.grouping_sets_revenue,
        "percentile_stats": R.percentile_stats,
        "pivot_events": R.pivot_events,
        "string_agg_nations": R.string_agg_nations,
        # window / rank / sort / top-k
        "global_sort_rank": R.global_sort_rank,
        "topk_orders": R.topk_orders,
        "argmax_order_per_cust": R.argmax_order_per_cust,
        "window_rank": R.window_rank,
        "window_lag_lead": R.window_lag_lead,
        "tumbling_window_count": R.tumbling_window_count,
        "sliding_window_count": R.sliding_window_count,
        # composite flagship (TPC-H Q5 shape: 5-table join + decimal agg)
        "tpch_revenue_by_nation": R.tpch_revenue_by_nation,
        # joins
        "reduce_side_join": R.reduce_side_join,
        "left_outer_join": R.left_outer_join,
        "full_outer_join": R.full_outer_join,
        "broadcast_join": R.broadcast_join,
        "semi_anti_join": R.semi_anti_join,
        "range_join_sessionize": R.range_join_sessionize,
        "asof_purchase_prior_click": R.asof_purchase_prior_click,
        "bucketed_theta_join": R.bucketed_theta_join,
        # r5: selective-dim big-big join; the at-scale runtime-bloom-
        # filtered plan (might_contain on the fact scan) is pinned in
        # tests/test_plans.py
        "runtime_bloom_join": R.runtime_bloom_join,
        # set ops / scalar fns / UDAF
        "set_ops_customers": R.set_ops_customers,
        "scalar_functions": R.scalar_functions,
        "grouped_agg_udaf": R.grouped_agg_udaf,
        # skew
        "skew_join_events": K.skew_join_events,
        # (registered late in r4 → driver slots at the r5 rotation; local
        # parity gate covers them now — see _PENDING_NEXT_WINDOW)
        "skewed_rank_events": K.skewed_rank_events,
        "bucketed_join_orders": R.bucketed_join_orders,
        "quality_filter_c4": P.quality_filter_c4,
        "stream_static_join": SJ.stream_static_join_query,
        "embedding_kmeans_exact": S.embedding_kmeans_exact,
        "lang_mix_downsample": P.lang_mix_downsample,
        "lang_mix_temperature": P.lang_mix_temperature,
        "above_avg_balance": R.above_avg_balance,
        "unigram_logprob": T.unigram_logprob,
        "zorder_key_events": L.zorder_key_events,
        "profile_events": P.profile_events,
        "tpch_q5_sql": R.tpch_q5_sql,
        "tpch_q1_pricing": R.tpch_q1_pricing,
        "tpch_q3_topk": R.tpch_q3_topk,
        "tpch_q18_topk": R.tpch_q18_topk,
        "try_arithmetic": R.try_arithmetic,
        "batch_session_window": R.batch_session_window,
        "funnel_conversion": R.funnel_conversion,
        "retention_cohorts": R.retention_cohorts,
        "stream_custom_source": _stream_custom_source,
        "variant_extract_events": R.variant_extract_events,
        "curation_pipeline": P.curation_pipeline,
        "lateral_topk_per_nation": R.lateral_topk_per_nation,
        # iterative graph
        "sssp_fixpoint": G.sssp_fixpoint,
        "connected_components": G.connected_components_query,
        "triangle_count": G.triangle_count,
        # streaming with unique oracles (session windows, custom state)
        "stream_session_window": SJ.session_window_stream_query,
        "stream_running_count": SJ.stateful_running_count_query,
        # text analysis (north star)
        "doc_length_stats": T.doc_length_stats,
        "token_count": T.token_count,
        "text_quality": T.text_quality,
        "lang_id": T.lang_id,
        "udtf_chunk_documents": T.udtf_chunk_documents,
        "doc_fingerprint": T.doc_fingerprint,
        # deduplication (north star)
        "dedup_exact_hash": D.dedup_exact_hash,
        "dedup_ngram_jaccard": D.dedup_ngram_jaccard,
        "dedup_minhash_lsh": D.dedup_minhash_lsh,
        "dedup_simhash": D.dedup_simhash,
        "dedup_cluster_cc": D.dedup_cluster_cc,
        # similarity search (north star)
        "embedding_knn": S.embedding_knn,
        "embedding_knn_ivf": S.embedding_knn_ivf,
        "embedding_neardup_topk": S.embedding_neardup_topk,
        # multimodal (north star)
        "binary_meta": M.binary_meta,
        "binary_file_meta": M.binary_file_meta,
        "image_decode": M.image_decode,
        "audio_decode": M.audio_decode,
        "stream_session_custom": SJ.custom_session_query,
        # append-mode event-time-timeout sessionizer (r4): each session
        # emitted exactly once, finalized by successor or watermark
        # timeout — same oracle, third independent implementation
        "stream_session_timeout": SJ.stream_session_timeout_query,
        # ---- later registrations (window membership is decided by
        # _DRIVER_WINDOW, not by position in this dict) ----
        # oracle-backed additions & round-1-verified variants (all under
        # the local full-registry gate)
        "stats_moments": R.stats_moments,
        "conditional_agg": R.conditional_agg,
        "timeseries_gapfill": R.timeseries_gapfill,
        "revenue_share_window": R.revenue_share_window,
        "vector_stats": S.vector_stats,
        "bigram_topk": T.bigram_topk,
        "stream_dedup": SJ.stream_dedup_query,
        "stream_stream_join": SJ.stream_stream_join_query,
        "window_range_interval": R.window_range_interval,
        "merge_upsert_orders": R.merge_upsert_orders,
        "pii_redact": P.pii_redact,
        "contamination_check": P.contamination_check,
        "inverted_index": P.inverted_index,
        "tfidf_top_terms": P.tfidf_top_terms,
        "stratified_sample": P.stratified_sample,
        "quality_topk_per_lang": P.quality_topk_per_lang,
        "pack_training_chunks": P.pack_training_chunks,
        "text_repetition": T.text_repetition,
        "deterministic_split": T.deterministic_split,
        "embedding_lsh_ann": S.embedding_lsh_ann,
        "embedding_lsh_ann_multi": S.embedding_lsh_ann_multi,
        "frame_sample": M.frame_sample,
        "scan_project": R.scan_project,
        "word_count": R.word_count,
        "distinct_dedup": R.distinct_dedup,
        "cube_revenue": R.cube_revenue,
        "unpivot_lineitem": R.unpivot_lineitem,
        "json_extract_events": R.json_extract_events,
        "ntile_ranks": R.ntile_ranks,
        "window_moving_avg": R.window_moving_avg,
        # oracle-duplicate twins (re-check group_count / tumbling oracles)
        "mapreduce_group_count": mapreduce_group_count,
        "salted_group_count": K.salted_group_count,
        "stream_group_count": SJ.stream_group_count_query,
        "connected_components_star": G.connected_components_star_query,
        "stream_tumbling_window": SJ.stream_tumbling_window_query,
        # rows-only by design (sketches / scale workloads whose oracle
        # would be a serial graph algorithm)
        "sssp_syn18k": G.sssp_syn18k,
        # oracle-backed late in r4 (12-dp-quantized rounds, see graph.py)
        "pagerank_nations": G.pagerank_nations,
        "approx_percentile_stats": R.approx_percentile_stats,
        "approx_distinct_users": R.approx_distinct_users,
        "lang_id_chargram": T.lang_id_chargram,
        "dedup_simhash64": D.dedup_simhash64,
        # oracle-backed since r4: REAL PNG decode feeds the features
        "image_features": M.image_features,
        "embedding_kmeans": S.embedding_kmeans,
        # r5: IVF with the k-means fit as its coarse quantizer — the
        # kmeans_fit -> IVF composition, oracle-backed via the exact
        # decimal schedule (VERDICT r4 item 3)
        "embedding_knn_ivf_fitted": S.embedding_knn_ivf_fitted,
        # r5: zero-exchange dedup over the content-hash-bucketed layout
        # (pay the text_hash shuffle once at write; VERDICT r4 item 4)
        "dedup_exact_bucketed": D.dedup_exact_bucketed,
        # r5: 3-D Morton key (VERDICT r4 item 6) — same codegen bit
        # pipeline discipline as the 2-D key, oracle via z3_sql
        "zorder3_key_events": L.zorder3_key_events,
        # r5: runtime dynamic partition pruning over a Hive-partitioned
        # fact + stored dim (plan-asserted dynamicpruningexpression)
        "dpp_join_events": L.dpp_join_events,
        # r5: 4-D Morton key (pair-composed, 15 bits/dim), oracle z4_sql
        "zorder4_key_events": L.zorder4_key_events,
        # r5: interpolated bigram LM (the n-gram generalization of
        # unigram_logprob; lambda backoff makes higher orders usable)
        "bigram_logprob": T.bigram_logprob,
        "bm25_topk": T.bm25_topk,
        # r5: JDBC connector round-trip (embedded Derby endpoint;
        # partitioned parallel read + remote filter pushdown)
        "jdbc_roundtrip_nation": JD.jdbc_roundtrip_nation,
        # r5: co-grouped reduce over two sources (join-in-the-reducer)
        "cogroup_customer_orders": cogroup_customer_orders,
        # r5: Spark 4 WITH RECURSIVE (shared-statement oracle); the
        # declarative twin of the driver-looped fixpoint operators
        "recursive_cte_reachability": G.recursive_cte_reachability,
        # r5: incremental materialized-view maintenance (foreachBatch
        # additive merge into a scratch versioned aggregate table)
        "stream_incremental_agg": SJ.stream_incremental_agg_query,
        # r5: train->test n-gram leakage audit over the hash split
        "split_leakage_check": P.split_leakage_check,
        "split_leakage_after_dedup": P.split_leakage_after_dedup,
        # r5: Misra-Gries candidates + exact recount — sub-linear-shuffle
        # heavy hitters (the viable spelling when key cardinality is huge)
        "heavy_hitters_tokens": FQ.heavy_hitters_tokens,
        # r5: sub-document (paragraph-level) dedup — global first
        # occurrence wins, documents reassembled from surviving chunks
        "dedup_paragraphs": D.dedup_paragraphs,
        # r5: new-batch-vs-corpus incremental dedup (exact-hash screen +
        # LSH band membership probe — the daily-ingest production shape)
        "dedup_incremental": D.dedup_incremental,
        # r5: same screens over corpus-side state materialized as
        # bucketed tables — per-ingest cost O(batch), corpus shuffle-free
        "dedup_incremental_bucketed": D.dedup_incremental_bucketed,
        # r5: entity resolution — distance-1 name pairs via
        # deletion-neighborhood blocking (100% recall, never all-pairs)
        "fuzzy_match_names": D.fuzzy_match_names,
        # r5: commutative content checksum per table — the cross-engine
        # replication validation surface (order/partition independent)
        "table_fingerprint": IG.table_fingerprint,
        # r5: keyed snapshot diff — WHERE two table versions differ
        # (inserted / deleted / changed), the fingerprint's companion
        "snapshot_diff": IG.snapshot_diff,
        # r5: continuously-maintained replication checksum — per-batch
        # fingerprint deltas folded additively, O(1) validation state
        "stream_table_fingerprint": SJ.stream_table_fingerprint_query,
        # r6: SemDeDup semantic dedup — the embedding tier of the dedup
        # ladder (exact → n-gram → MinHash → SimHash → semantic):
        # exact-k-means clusters bound the search space, SRP banding
        # de-quadratifies within clusters, exact-cosine keep-min-id
        "dedup_semantic": S.dedup_semantic,
        # r6: two consecutive ingests with ingest-1 survivors FOLDED
        # into the bucketed corpus state between them (append-only
        # O(batch) state update) — ingest 2's exact copies of ingest-1
        # docs prove the fold, closing dedup_incremental_bucketed's loop
        "dedup_incremental_tworound": D.dedup_incremental_tworound,
        # r6: multi-probe fitted IVF — the cure for the r5 single-probe
        # recall finding: exact-decimal query→centroid scores pick the
        # nprobe=3 nearest clusters, union reranked (recall 0.3→0.8)
        "embedding_knn_ivf_multiprobe": S.embedding_knn_ivf_multiprobe,
        # r6: heavy hitters whose key cardinality (~23k 8-grams) forces
        # the Misra-Gries compression path in every partition — the
        # driver-facing case for the algorithm, not just the easy one
        "heavy_hitters_mixed": FQ.heavy_hitters_mixed,
        # r6: snapshot diff over bucketed (key, hash) snapshot tables —
        # the zero-exchange daily-diff layout its docstring prescribed,
        # now demonstrated (plan pinned in test_bucketing.py)
        "snapshot_diff_bucketed": IG.snapshot_diff_bucketed,
        # r6: the cluster-split cure as a declared query — each vector
        # enrolls in its 2 nearest final clusters for candidate
        # generation; flags every planted pair at every SF measured
        "dedup_semantic_multiassign": S.dedup_semantic_multiassign,
        # r7: image near-dup via perceptual hash — the multimodal tier of
        # the dedup ladder: REAL PNG decode → mean-pooled 56-bit dHash →
        # 14-bit band blocking (pigeonhole-complete at Hamming <= 3) →
        # exact bit_count(xor) verify; fixture pixels derive from doc_id
        # arithmetic so the oracle re-derives every hash relationally
        "dedup_images_phash": M.dedup_images_phash,
        # r7: FastSS at its k=2 operating point — depth-2 deletion
        # neighborhoods, one key equi-join, exact levenshtein-in-[1,2]
        # verify; sampled catalog so the bench measures blocking, not
        # answer-writing (the r6 verdict's finding on the k=1 number)
        "fuzzy_match_names_k2": D.fuzzy_match_names_k2,
        # r7: the vector tier's maintenance loop closed — two embedding
        # ingests enroll ASSIGN-ONLY into the persisted k-means index,
        # survivors fold into bucketed band/vector state, ingest 2's
        # copies of ingest-1 survivors prove the fold (VERDICT r6 item 2)
        "dedup_semantic_incremental": S.dedup_semantic_incremental,
        # r7: product quantization for IVF candidates — 16 sub-codebooks
        # from ONE exact fit (subspace-indicator purity), 8-byte codes
        # (64x), exact-decimal ADC top-C + exact rerank (VERDICT r6 item 3)
        "embedding_knn_ivfpq": S.embedding_knn_ivfpq,
        # r7: the production-width curation funnel — near-dedup and
        # benchmark decontamination inserted between exact dedup and
        # language mixing, per-language attrition for all six stages
        "curation_pipeline_full": P.curation_pipeline_full,
        # r7: the image ingest screen — a new batch of images probes the
        # corpus's PERSISTED phash state (bucketed hash + band tables),
        # never re-hashing or self-joining the corpus; the multimodal
        # twin of dedup_incremental, promoted late-r7 (the r6
        # multiassign precedent)
        "dedup_images_phash_incremental": M.dedup_images_phash_incremental,
        # r8: the PQ tier's maintenance loop — ingest 1 PQ-encoded
        # ASSIGN-ONLY against the persisted sampled-fit sub-codebooks and
        # coarse-enrolled, codes + cells FOLDED into bucketed state under
        # the crash guard, and a deterministic sample of ingest 2 runs
        # the IVF+PQ probe against the folded state: odd queries find
        # their ingest-1 parents precisely because the fold happened
        # (VERDICT r7 item 1 — the incremental family's last member)
        "embedding_knn_ivfpq_incremental": S.embedding_knn_ivfpq_incremental,
        # r8: the dedup ladder's last multimodal tier — audio near-dup
        # via a 56-bit band-energy fingerprint over REAL decoded PCM
        # (RIFF walk + frame parse), sharing the image tier's banding +
        # exact-Hamming machinery (phash_pairs); gain shifts land at
        # distance 0, one-window edits at <= 2 (VERDICT r7 item 4)
        "dedup_audio_fingerprint": M.dedup_audio_fingerprint,
        # r8: drift -> refit -> swap — the index lifecycle closed: the
        # mean-shifted batch blows out enrollment distance against the
        # v1 corpus index (ratio ~18, trigger fires), v2 refits over
        # corpus ∪ batch alongside the live index as one more index
        # table, and the batch re-enrolls in-distribution (ratio ~1);
        # both index versions stay readable (pinned in test_llm_ops.py)
        "semantic_index_refit": S.semantic_index_refit,
        # r8: the multimodal funnel — curation_pipeline_full's six text
        # stages plus an image near-dup screen (real PNG decode +
        # perceptual hash, the dedup_images_phash machinery shared
        # verbatim) between text near-dedup and decontamination, with
        # per-language attrition for all seven stages (VERDICT r7 item 6)
        "curation_pipeline_multimodal": P.curation_pipeline_multimodal,
        # r11: the NINE-stage funnel — the multimodal funnel plus the
        # SemDeDup stage the unified crawl gained this round (4-doc
        # vector families, assign-only enrollment, SRP banding,
        # exact-cosine keep-min-id — dedup_semantic's machinery),
        # inserted after text near-dedup, before the media screens
        "curation_pipeline_semantic": P.curation_pipeline_semantic,
        # r8 (late): the audio tier's daily-crawl screen — corpus
        # fingerprints persist as the SAME two bucketed state tables as
        # the image tier, new clips probe by band membership via the
        # SHARED _hash_incremental_screen; completes the incremental
        # family across every modality
        "dedup_audio_fingerprint_incremental":
            M.dedup_audio_fingerprint_incremental,
        # r9: the PQ codebook lifecycle closed — the drift trigger reads
        # the persisted code table's encode dist2, the mean-shifted
        # batch blows it out against v1 (ratio ~31), v2 sub-codebooks
        # refit over corpus ∪ batch under the SAME sampled-fit
        # discipline into one more index table, and the batch re-encodes
        # in-distribution (ratio ~1.08)
        "pq_index_refit": S.pq_index_refit,
        # r9 (semantic tier r11): the daily-crawl integration — ONE
        # multimodal batch runs every tier's incremental screen (exact
        # hash, LSH bands, SemDeDup embedding screen, image phash,
        # audio fingerprint) against each tier's persisted state
        # tables in one pass, unified per-doc disposition with pinned
        # precedence exact > near > semantic > image > audio > kept,
        # plus the delivery-level in-loop drift columns
        "ingest_screen_multimodal": P.ingest_screen_multimodal,
        # r9 (late; semantic tier r11): the unified crawl LOOP — two
        # consecutive multimodal deliveries with the per-tier state
        # FOLDED between them across all nine bucketed state tables
        # (compacted after the fold); ingest 2's planted repeats of
        # ingest-1 keeps prove the text fold (exact), the semantic
        # fold (verbatim + near-copy embeddings), the image fold and
        # the audio fold in one oracle-backed report with per-ingest
        # drift columns
        "ingest_tworound_multimodal": P.ingest_tworound_multimodal,
        # r9 (late): the incremental-dedup loop as a STRUCTURED
        # STREAMING job — foreachBatch over a two-file document stream,
        # each micro-batch screening against the bucketed state as of
        # its trigger and folding its keeps back in before the next
        # fires; dedup_incremental_tworound's semantics (and oracle)
        # verbatim, continuous edition
        "stream_dedup_incremental": SJ.stream_dedup_incremental_query,
        # r10 (semantic tier r11): the unified multimodal crawl as a
        # STRUCTURED STREAMING job — foreachBatch over two multimodal
        # deliveries, all FIVE tiers' screens per trigger against the
        # nine bucketed state tables, all-tier folds between triggers,
        # in-loop drift columns per trigger, per-batch report sink
        # (pre-fold pin + retry no-op, no driver collect);
        # ingest_tworound_multimodal's semantics (and oracle) verbatim
        "stream_ingest_multimodal": SJ.stream_ingest_multimodal_query,
        # r10: hybrid retrieval — BM25 sparse top-20 (bm25_topk's scored
        # core shared verbatim) ⊕ exact-cosine dense top-20
        # (embedding_knn's ranking), fused with reciprocal-rank fusion
        # k=60; both arms TakeOrderedAndProject cuts, ranks assigned on
        # the k-row frames, exact-decimal fusion terms
        "hybrid_retrieval_rrf": S.hybrid_retrieval_rrf,
        # r10: int8 scalar-quantized ANN — per-vector symmetric SQ8
        # codes (map-only codegen quantization, 1 byte/dim), exact
        # BIGINT integer dot product, one rounded final rescale; the
        # serving tier between raw float32 kNN and IVFPQ
        "embedding_sq8_knn": S.embedding_sq8_knn,
        # r11: hybrid RRF with the dense arm SERVED from the persisted
        # SQ8 code table — top-40 integer-dot candidates + exact rerank
        # to 20, bit-equal to the brute arm (containment pinned), same
        # fusion spine shared verbatim
        "hybrid_retrieval_rrf_ann": S.hybrid_retrieval_rrf_ann,
        # r11: the SQ8 serving tier's maintenance loop — map-only batch
        # quantization folded into the bucketed code table (<= 1
        # file/bucket), sampled ingest-2 queries probe the folded state
        "embedding_sq8_knn_incremental": S.embedding_sq8_knn_incremental,
    }
    ordered = {name: registry[name] for name in _DRIVER_WINDOW}
    ordered.update((k, v) for k, v in registry.items() if k not in ordered)
    return ordered


# Positions 1-50 of the registry for ROUND 11 (see queries() docstring).
# Groups:
# (a) the two r10 LATE registrations LEAD — the only registered queries
#     with zero driver rows (they sat in _PENDING_NEXT_WINDOW under the
#     local parity gate; VERDICT r10 item 1: first driver rows, now);
# (b) queries whose RESULTS or LIFECYCLE changed this round, so their
#     older rows certify a different computation: the three unified-
#     crawl queries gained the SEMANTIC tier (new is_semantic_dup +
#     drift columns, five screens, eight/nine state tables);
#     stream_dedup_incremental's fold appends now repartition-first
#     (rows identical, one delta exchange fewer per trigger);
# (c) the r11 additions — first driver rows, zero deferral;
# (d) the 21 r7-era queries (the whole remaining r7 cohort) — after
#     this round NO registered query's newest driver row is older than
#     r8 (the evidence floor advances one round again);
# (e) re-checks of the oldest remaining (r8-era) evidence, chosen for
#     machinery NOT otherwise re-checked this window.  The r8-era
#     queries left at r8 evidence, with their collateral:
#       filter_predicate / flatmap_tokenize — scan_project re-checked
#         here (same pushdown scan); word_count r10-green;
#       above_avg_balance — group_sum_avg re-checked here (same
#         grouped-agg path); conditional_agg r10-green;
#       argmax_order_per_cust — group_min r9-green (min-struct argmax);
#         window_rank r10-green;
#       window_lag_lead — revenue_share_window re-checked here;
#         window_moving_avg / window_rank / window_range_interval
#         r10-green over the same Window machinery;
#       pivot_events in, cube_revenue out — grouping_sets_revenue and
#         rollup r9/r10-green cover the lattice; pivot is its own op;
#       heavy_hitters_mixed — heavy_hitters_tokens r10-green (same
#         Misra-Gries path, easier keyspace);
#       lateral_topk_per_nation / quality_filter_c4 / profile_events —
#         quality_topk_per_lang re-checked here (grouped top-k);
#         curation funnels r10-green run the same rule gate;
#       salted_group_count / skewed_rank_events — skew_join_events
#         re-checked here (the skew family's join member);
#       sssp_syn18k — sssp_fixpoint re-checked here (same relaxation
#         loop; syn18k additionally benched every round);
#       connected_components_star — connected_components r10-green;
#       tpch_revenue_by_nation — tpch_q5_sql r9-green (same query, SQL
#         spelling); the Q1/Q3/Q18 flagships r9/r10-green;
#       unigram_logprob / bigram_topk — bigram_logprob r10-green (the
#         interpolated generalization);
#       binary_meta — binary_file_meta r10-green (DataSource twin);
#       dedup_exact_bucketed in (state-table layout underlies every
#         fold); dedup_incremental_bucketed out — dedup_incremental
#         r10-green + the tworound loop r10-green probe the same state;
#       fuzzy_match_names — fuzzy_match_names_k2 r10-green;
#       embedding_knn_ivf_fitted / embedding_lsh_ann_multi /
#         embedding_neardup_topk — embedding_knn_ivf / embedding_lsh_ann
#         re-checked here; multiprobe r9-green; the banding machinery
#         underlies the semantic screens re-checked in group (b);
#         (ivf_fitted and lsh_ann_multi ceded their (e) slots to the
#         two r11 additions — first-row evidence outranks a re-check);
#       dedup_audio_fingerprint_incremental — dedup_audio_fingerprint
#         re-checked here; the unified crawl (group b) runs the audio
#         screen + fold verbatim;
#       stream_dedup / stream_running_count / stream_session_timeout /
#         stream_static_join — stream_session_window and
#         stream_stream_join re-checked here; the foreachBatch loops in
#         group (b) are the heavier stateful paths (stream_running_count
#         ceded its (e) slot to curation_pipeline_semantic — first-row
#         evidence outranks a re-check; its applyInPandasWithState
#         machinery is r8-green and stream_session_custom r9-green runs
#         the same state-store path);
#       json_extract_events in; variant_extract_events r9-green;
#       zorder3_key_events — zorder_key_events / zorder4 r9-green.
# Result: every registered query has a driver row in r8 ∪ r9 ∪ r10 ∪
# this window, every oracle-backed one a hash row in that union, and
# every operator added this round gets first-row evidence
# (tests/test_docs_consistency.py asserts the invariant).
_DRIVER_WINDOW = [
    # (a) the r10 late registrations — first driver rows
    "hybrid_retrieval_rrf",
    "embedding_sq8_knn",
    # (b) changed this round — old rows stale
    "ingest_screen_multimodal",
    "ingest_tworound_multimodal",
    "stream_ingest_multimodal",
    "stream_dedup_incremental",
    # (c) the r11 additions — first driver rows, zero deferral
    "hybrid_retrieval_rrf_ann",
    "embedding_sq8_knn_incremental",
    "curation_pipeline_semantic",
    # (d) the full remaining r7-era cohort — floor advances to r8
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "deterministic_split",
    "embedding_kmeans",
    "embedding_knn",
    "frame_sample",
    "group_count",
    "group_sum_avg",
    "inverted_index",
    "pack_training_chunks",
    "percentile_stats",
    "quality_topk_per_lang",
    "reduce_side_join",
    "revenue_share_window",
    "scan_project",
    "stats_moments",
    "topk_orders",
    "triangle_count",
    "tumbling_window_count",
    "vector_stats",
    # (e) oldest-evidence re-checks (newest driver row is r8-era)
    "approx_distinct_users",
    "broadcast_join",
    "bucketed_join_orders",
    "bucketed_theta_join",
    "dedup_audio_fingerprint",
    "dedup_exact_bucketed",
    "embedding_kmeans_exact",
    "embedding_knn_ivfpq",
    "full_outer_join",
    "json_extract_events",
    "merge_upsert_orders",
    "pagerank_nations",
    "pivot_events",
    "semantic_index_refit",
    "set_ops_customers",
    "skew_join_events",
    "sssp_fixpoint",
    "stream_custom_source",
    "stream_session_window",
    "stream_stream_join",
]


# Queries registered AFTER the current window was pinned at its 50-slot
# capacity (the driver hash-checks only positions 1-50 per round); each
# is covered by the LOCAL parity gate (tests/test_oracle_parity.py,
# tools/check_correctness.py) until its rotation slot.  EMPTY for r11:
# the two r10 late registrations rotated into window positions 1-2, and
# every r11 addition was registered while window capacity remained (new
# registrations displace group-(e) re-checks, never wait).  The
# mechanism stays so any future overflow is visible, never silent.
_PENDING_NEXT_WINDOW: list[str] = []


# Char-trigram language-ID oracle, generated from the SAME profile table
# the pandas classifier scores with (operators.text._PROFILES) so the two
# can never drift.  Occurrence counting via replace-shrinkage
# ((len - len(remove-all)) / 3) equals pandas' leftmost-non-overlapping
# str.count for literal patterns; the tie-break CASE mirrors the
# strictly-greater update order en → fr → de with 'und' when all zero.
def _lang_id_chargram_sql() -> str:
    from firebird_mapreduce_spark.operators.text import _PROFILES

    def score(grams: tuple[str, ...]) -> str:
        return " + ".join(
            f"(length(t) - length(replace(t, '{g}', ''))) // 3" for g in grams
        )

    en, fr, de = (score(_PROFILES[lang]) for lang in ("en", "fr", "de"))
    return f"""
        WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t
                   FROM documents),
        s AS (SELECT doc_id, {en} AS en, {fr} AS fr, {de} AS de FROM p)
        SELECT doc_id,
               CASE WHEN de > en AND de > fr AND de > 0 THEN 'de'
                    WHEN fr > en AND fr > 0 THEN 'fr'
                    WHEN en > 0 THEN 'en'
                    ELSE 'und' END AS lang_pred,
               CAST(CASE WHEN de > en AND de > fr AND de > 0 THEN de
                         WHEN fr > en AND fr > 0 THEN fr
                         WHEN en > 0 THEN en
                         ELSE 0 END AS DOUBLE) AS score
        FROM s
    """


# Canonical row rendering for the integrity oracles (table_fingerprint,
# snapshot_diff) — the SQL mirror of operators/integrity.py's rules: one
# helper so the two oracles (and any future one) cannot drift on what
# "the same row" means.
def _canon_sql(*cols: str) -> str:
    """'|'-joined NULL-sentineled canonical string of pre-rendered VARCHAR
    column expressions."""
    return " || '|' || ".join(f"coalesce({c}, '<NULL>')" for c in cols)


def _int_sql(c: str) -> str:
    return f"CAST({c} AS VARCHAR)"


def _cents_sql(c: str) -> str:
    return f"CAST(CAST(round({c} * 100) AS BIGINT) AS VARCHAR)"


def _ts_sql(c: str) -> str:
    return f"strftime({c}, '%Y-%m-%d %H:%M:%S')"


def _fp_sql(table: str, canon: str) -> str:
    """One fingerprint CTE body: COUNT + commutative 60-bit md5 SUM,
    shipped as VARCHAR (38 digits exceed int64)."""
    return f"""
                SELECT '{table}' AS table_name,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(SUM(CAST(CAST('0x' || substr(md5(
                           {canon}
                       ), 1, 15) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS fingerprint
                FROM {table}"""


_ORDERS_CONTENT_CANON = _canon_sql(
    _int_sql("o_custkey"),
    "o_orderstatus",
    _cents_sql("o_totalprice"),
    _ts_sql("o_orderdate"),
    "o_orderpriority",
)


# MinHash-LSH signature/banding CTE chain, shared verbatim by the
# ``dedup_minhash_lsh`` (pair) and ``dedup_cluster_cc`` (component) oracles
# so the two stay in exact lockstep with each other and with
# ``operators.dedup.minhash_signatures``.
_MINHASH_CTES = """docs AS ({docs}),
            sh AS (
                SELECT doc_id,
                       list_transform(range(1, greatest(len(tk) - 1, 1)),
                                      i -> array_to_string(tk[i:i+2], ' ')) AS shl
                FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM docs)),
            hs AS (
                SELECT doc_id,
                       list_transform(shl, s ->
                           md5('0|' || s) || md5('1|' || s)
                           || md5('2|' || s) || md5('3|' || s)) AS hm
                FROM sh),
            mh AS (
                SELECT doc_id,
                       list_transform(range(0, 16),
                           j -> list_min(list_transform(hm,
                                h -> substr(h, j * 8 + 1, 8)))) AS sig
                FROM hs),
            banded AS (
                SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') AS bsig
                FROM mh, LATERAL (SELECT unnest(range(0, 4)) AS b))"""


# Z-order key oracle, generated from the SAME magic-number spread steps
# the Spark column expression uses (functions.zorder._SPREAD_STEPS) so
# the two bit pipelines can never drift.
def _zorder4_key_sql() -> str:
    from firebird_mapreduce_spark.functions.zorder import z4_sql

    # every dimension masked to 15 bits like the Spark side: each
    # emitted column must be exactly what the z4 key clusters on
    ub = "(user_id & 32767)"
    vb = "(CAST(floor(value) AS BIGINT) & 32767)"
    tb = "(CAST('0x' || substr(md5(event_type), 1, 4) AS BIGINT) & 32767)"
    hb = "(CAST(hour(ts) AS BIGINT) & 32767)"
    zkey = z4_sql(ub, vb, tb, hb)
    return f"""
        SELECT event_id,
               {ub} AS user_bucket,
               {vb} AS value_bucket,
               {tb} AS type_bucket,
               {hb} AS hour_bucket,
               {zkey} AS zkey
        FROM events
    """


def _zorder3_key_sql() -> str:
    from firebird_mapreduce_spark.functions.zorder import z3_sql

    tb = "CAST('0x' || substr(md5(event_type), 1, 4) AS BIGINT)"
    zkey = z3_sql("user_id", "CAST(floor(value) AS BIGINT)", tb)
    return f"""
        SELECT event_id, user_id,
               CAST(floor(value) AS BIGINT) AS value_bucket,
               {tb} AS type_bucket,
               {zkey} AS zkey
        FROM events
    """


def _zorder_key_sql() -> str:
    from firebird_mapreduce_spark.functions.zorder import z2_sql

    zkey = z2_sql("user_id", "CAST(floor(value) AS BIGINT)")
    return f"""
        SELECT event_id, user_id,
               CAST(floor(value) AS BIGINT) AS value_bucket,
               {zkey} AS zkey
        FROM events
    """


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (same column names,
    same types: counts cast to BIGINT, decimal aggregates cast to DOUBLE).

    Intentionally absent (rows-only checks): ``approx_distinct_users`` and
    ``approx_percentile_stats`` (sketch values are engine-specific).
    ``dedup_simhash64`` and ``lang_id_chargram`` were upgraded to
    oracle-backed in round 3 — md5 bit votes and replace-shrinkage
    trigram counts ARE SQL-expressible; ``image_features`` in round 4,
    when it moved off the FakeDecoder onto the real PNG codec (features
    re-derived from the same doc_id arithmetic as ``image_decode``).
    """
    oracles = {
        "scan_project": "SELECT r_regionkey, r_name FROM region",
        "filter_predicate": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem WHERE l_quantity > 30.0
        """,
        "flatmap_tokenize": """
            SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
        """,
        "group_count": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY event_type
        """,
        "numbercount_10m": """
            SELECT CAST(((id * 2654435761) % 4294967296) % 100 AS INT) AS value,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM range(10000000) t(id)
            GROUP BY 1
        """,
        "word_count": """
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
            GROUP BY token
        """,
        "group_min": """
            SELECT l_orderkey, min(l_extendedprice) AS min_price
            FROM lineitem GROUP BY l_orderkey
        """,
        "group_sum_avg": """
            WITH t AS (
                SELECT l_returnflag, l_linestatus,
                       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
                       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
                       SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS sdp,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM lineitem GROUP BY l_returnflag, l_linestatus)
            SELECT l_returnflag, l_linestatus,
                   CAST(sq AS DOUBLE) AS sum_qty,
                   CAST(sp AS DOUBLE) AS sum_price,
                   CAST(sdp AS DOUBLE) AS sum_disc_price,
                   CAST(sq AS DOUBLE) / cnt AS avg_qty,
                   CAST(sp AS DOUBLE) / cnt AS avg_price,
                   cnt
            FROM t
        """,
        "distinct_dedup": "SELECT DISTINCT o_custkey FROM orders",
        "rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "percentile_stats": """
            SELECT event_type, median(value) AS med,
                   quantile_cont(value, 0.9) AS p90
            FROM events GROUP BY event_type
        """,
        "string_agg_nations": """
            SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
            FROM nation GROUP BY n_regionkey
        """,
        "ntile_ranks": """
            WITH t AS (
                SELECT o_custkey,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
                FROM orders GROUP BY o_custkey)
            SELECT o_custkey, spend,
                   CAST(ntile(4) OVER w AS INT) AS quartile,
                   round(percent_rank() OVER w, 6) AS pct_rank
            FROM t
            WINDOW w AS (ORDER BY spend DESC, o_custkey ASC)
        """,
        "pivot_events": """
            SELECT user_id,
                   CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
                   CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
                   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
                   CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
                   CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
            FROM events GROUP BY user_id
        """,
        "unpivot_lineitem": """
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                   l_quantity AS value FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        """,
        "mapreduce_group_count": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY event_type
        """,
        "salted_group_count": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY event_type
        """,
        # ~90% of rows collapse onto skew_key 0 (the hot-key fact shape);
        # the join result is the oracle contract, the AQE skew-split plan
        # is asserted separately in tests/test_plans.py
        "skew_join_events": """
            SELECT event_id,
                   CASE WHEN user_id % 10 = 9 THEN user_id % 25
                        ELSE 0 END AS skew_key,
                   n_name
            FROM events
            JOIN nation ON n_nationkey = CASE WHEN user_id % 10 = 9
                                              THEN user_id % 25 ELSE 0 END
        """,
        "reduce_side_join": """
            SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "left_outer_join": """
            SELECT c_custkey, o_orderkey, o_totalprice
            FROM customer LEFT JOIN
                 (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
              ON o.o_custkey = c_custkey
        """,
        "full_outer_join": """
            WITH e AS (SELECT user_id AS uid, CAST(count(*) AS BIGINT) AS n_events
                       FROM events GROUP BY user_id),
                 o AS (SELECT o_custkey AS uid, CAST(count(*) AS BIGINT) AS n_orders
                       FROM orders GROUP BY o_custkey)
            SELECT COALESCE(e.uid, o.uid) AS uid, n_events, n_orders
            FROM e FULL OUTER JOIN o ON e.uid = o.uid
        """,
        "broadcast_join": """
            SELECT n_nationkey, n_name, r_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
        """,
        "semi_anti_join": """
            SELECT c_custkey, 'has_orders' AS tag FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            UNION ALL
            SELECT c_custkey, 'no_orders' AS tag FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        # NOTE on date_trunc('microseconds', ...): events.ts is stored with
        # true NANOsecond precision, which Spark cannot represent (the
        # reader truncates to microseconds).  Any oracle predicate or sort
        # comparing raw ts must truncate the DuckDB side identically or a
        # value within 1us of a boundary flips between engines.
        "range_join_sessionize": """
            SELECT a.event_type AS a_type, CAST(count(*) AS BIGINT) AS pair_cnt
            FROM (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts
                  FROM events) a
            JOIN (SELECT user_id, date_trunc('microseconds', ts) AS ts
                  FROM events) b
              ON a.user_id = b.user_id
             AND b.ts > a.ts
             AND b.ts <= a.ts + INTERVAL 60 SECOND
            GROUP BY a.event_type
        """,
        "asof_purchase_prior_click": """
            WITH e AS (SELECT event_id, user_id, event_type,
                              date_trunc('microseconds', ts) AS ts
                       FROM events)
            SELECT purchase_id, click_id FROM (
                SELECT p.event_id AS purchase_id, c.event_id AS click_id,
                       row_number() OVER (
                           PARTITION BY p.event_id
                           ORDER BY c.ts DESC, c.event_id DESC) AS rn
                FROM e p
                JOIN e c ON c.user_id = p.user_id
                        AND c.event_type = 'click'
                        AND c.ts <= p.ts
                WHERE p.event_type = 'purchase')
            WHERE rn = 1
        """,
        "topk_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "argmax_order_per_cust": """
            SELECT o_custkey, top_orderkey, top_price FROM (
                SELECT o_custkey, o_orderkey AS top_orderkey,
                       max(o_totalprice) OVER (PARTITION BY o_custkey) AS top_price,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
                FROM orders)
            WHERE rn = 1
        """,
        "window_lag_lead": """
            SELECT event_id, user_id,
                   lag(event_type, 1) OVER w AS prev_type,
                   lead(event_type, 1) OVER w AS next_type
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY date_trunc('microseconds', ts), event_id)
        """,
        "window_moving_avg": """
            SELECT event_id, user_id,
                   round(avg(value) OVER (
                       PARTITION BY user_id
                       ORDER BY date_trunc('microseconds', ts), event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
            FROM events
        """,
        "window_rank": """
            SELECT o_custkey, o_orderkey, rn FROM (
                SELECT o_custkey, o_orderkey,
                       CAST(row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
                FROM orders)
            WHERE rn <= 3
        """,
        "tumbling_window_count": """
            SELECT date_trunc('hour', ts) AS hour_start,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1
        """,
        # epoch-aligned hopping windows: every event belongs to exactly 4
        # (1h window, 15m slide); start_k = floor15(ts) - k*15m for
        # k = 0..3, in integer epoch-micros (micros-truncated ts matches
        # the Spark reader's precision)
        "sliding_window_count": """
            SELECT make_timestamp(
                       (epoch_us(date_trunc('microseconds', ts)) // 900000000)
                       * 900000000 - k * 900000000) AS window_start,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events, LATERAL (SELECT unnest(range(0, 4)) AS k)
            GROUP BY 1
        """,
        "timeseries_gapfill": """
            WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour_start,
                       CAST(count(*) AS BIGINT) AS n, max(value) AS max_val
                FROM events GROUP BY 1, 2),
            bounds AS (
                SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
                       CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
                FROM events),
            hours AS (
                SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                    AS hour_start
                FROM bounds),
            spine AS (
                SELECT t.event_type, h.hour_start
                FROM (SELECT DISTINCT event_type FROM events) t
                CROSS JOIN hours h)
            SELECT s.event_type, s.hour_start,
                   COALESCE(h.n, 0) AS cnt,
                   h.n IS NULL AS is_gap,
                   last_value(h.max_val IGNORE NULLS) OVER (
                       PARTITION BY s.event_type ORDER BY s.hour_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS locf_max
            FROM spine s
            LEFT JOIN hourly h USING (event_type, hour_start)
        """,
        "stream_group_count": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY event_type
        """,
        "stream_tumbling_window": """
            SELECT date_trunc('hour', ts) AS hour_start,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1
        """,
        "sssp_fixpoint": G.SSSP_ORACLE_SQL,
        # identical statement on both engines (UNION ALL recursion,
        # hop-bounded — see RECURSIVE_REACH_SQL_TEMPLATE)
        "recursive_cte_reachability": G.RECURSIVE_REACH_ORACLE_SQL,
        "connected_components": G.CONNECTED_COMPONENTS_ORACLE_SQL,
        # oracle-backed late in r4 (after the 50-slot window was pinned):
        # 10 unrolled PageRank rounds with round(·,12) re-quantization on
        # both sides makes the float fixpoint bit-reproducible — see
        # graph.pagerank round_to; joins the driver window at the r5
        # rotation (_PENDING_NEXT_WINDOW), local parity gate covers it now
        "pagerank_nations": G.PAGERANK_ORACLE_SQL,
        # skew-safe per-key rank: (ts, event_id) is a total order within
        # each event_type, so the stitched rank equals the window spelling
        "skewed_rank_events": """
            SELECT event_id, event_type,
                   CAST(row_number() OVER (
                        PARTITION BY event_type ORDER BY ts, event_id
                   ) AS BIGINT) AS rnk
            FROM events
        """,
        # the bucketed layout changes the PLAN (zero exchanges), never the
        # answer: same join+agg as the plain spelling
        "bucketed_join_orders": """
            SELECT o_custkey AS c_custkey,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY o_custkey
        """,
        # C4-style rule gate: thresholds compare the ROUNDED features so
        # both engines' double arithmetic is bit-identical
        "quality_filter_c4": """
            WITH f AS (
                SELECT doc_id,
                       CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                           AS n_words,
                       round(CAST(len(replace(text, ' ', '')) AS DOUBLE)
                             / len(string_split(lower(text), ' ')), 6)
                           AS mean_word_len,
                       round(CAST(len(list_filter(
                                 string_split(lower(text), ' '),
                                 t -> t IN ('the','a','of','to','and')))
                             AS DOUBLE)
                             / len(string_split(lower(text), ' ')), 6)
                           AS stop_ratio
                FROM documents)
            SELECT doc_id, n_words, mean_word_len, stop_ratio,
                   (n_words >= 30 AND mean_word_len <= 5.0
                    AND stop_ratio >= 0.03) AS keep
            FROM f
        """,
        # stream-static enrichment: stateless per-batch join == batch join
        "stream_static_join": """
            SELECT event_id, user_id, c_mktsegment
            FROM events JOIN customer ON user_id = c_custkey
        """,
        # bit-reproducible Lloyd's k-means: exact decimal sums remove both
        # reduction-order dependencies (centroid mean, distance sum), so
        # 3 unrolled CTE rounds replicate the Spark schedule exactly
        "embedding_kmeans_exact": S.KMEANS_EXACT_ORACLE_SQL,
        # IVF probe on the fitted quantizer: same exact schedule, then
        # probe the query's own cluster + exact-cosine rerank (r5)
        "embedding_knn_ivf_fitted": S.KNN_IVF_FITTED_ORACLE_SQL,
        # SemDeDup (r6): exact-k-means chain over the augmented corpus,
        # salted SRP banding keyed (cluster, table, sig), rounded-cosine
        # threshold, keep-min-id disposition — all three stages replayed
        "dedup_semantic": S.DEDUP_SEMANTIC_ORACLE_SQL,
        # multi-probe fitted IVF (r6): final-centroid recompute + exact
        # decimal query scores + (dist2, cluster)-ordered 3-cluster probe
        "embedding_knn_ivf_multiprobe": S.KNN_IVF_MULTIPROBE_ORACLE_SQL,
        # multi-assignment SemDeDup (r6): the same chain with the
        # QUALIFY-rank-<=2 membership CTEs — the split cure hash-checked
        "dedup_semantic_multiassign": S.DEDUP_SEMANTIC_MULTIASSIGN_ORACLE_SQL,
        # correlated scalar subquery, written in its decorrelated form on
        # both sides (CTE aggregate + join); filter on the UNROUNDED avg
        "above_avg_balance": """
            WITH a AS (
                SELECT c_nationkey,
                       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                           / count(*) AS nation_avg
                FROM customer GROUP BY c_nationkey)
            SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
                   round(a.nation_avg, 6) AS nation_avg
            FROM customer c JOIN a USING (c_nationkey)
            WHERE c.c_acctbal > a.nation_avg
        """,
        # unigram LM quality score: per-token log-probs rounded to 9 dp
        # and summed as exact DECIMAL(18,9); only the final mean is float
        "unigram_logprob": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(str_split(lower(text), ' ')) AS token
                FROM documents
            ),
            model AS (
                SELECT token, count(*) AS cnt FROM toks GROUP BY token
            ),
            lp AS (
                SELECT token,
                       CAST(round(ln(CAST(cnt AS DOUBLE)
                                     / (SELECT CAST(sum(cnt) AS DOUBLE)
                                        FROM model)), 9)
                            AS DECIMAL(18,9)) AS lp
                FROM model
            )
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   round(CAST(sum(l.lp) AS DOUBLE) / count(*), 6)
                       AS logprob_score
            FROM toks t JOIN lp l USING (token)
            GROUP BY t.doc_id
        """,
        # dynamic mix rebalance: computed per-lang rates (min_count /
        # lang_count), md5-prefix membership — identical IEEE arithmetic
        "lang_mix_downsample": """
            WITH counts AS (
                SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
            ),
            cuts AS (
                SELECT lang,
                       CAST(floor(
                            CAST((SELECT min(n_lang) FROM counts) AS DOUBLE)
                            / n_lang * 4294967296.0) AS BIGINT) AS cut
                FROM counts
            ),
            k AS (
                SELECT d.lang, d.doc_id,
                       (CAST('0x' || substr(
                            md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) < c.cut) AS kept
                FROM documents d JOIN cuts c USING (lang)
            )
            SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept,
                   min(CASE WHEN kept THEN doc_id END) AS min_kept,
                   max(CASE WHEN kept THEN doc_id END) AS max_kept
            FROM k GROUP BY lang
        """,
        # temperature mixing at α=0.5: sqrt is correctly rounded under
        # IEEE so the cut is bit-identical in both engines
        "lang_mix_temperature": """
            WITH counts AS (
                SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
            ),
            cuts AS (
                SELECT lang,
                       CAST(floor(
                            sqrt(CAST((SELECT min(n_lang) FROM counts)
                                      AS DOUBLE) / n_lang)
                            * 4294967296.0) AS BIGINT) AS cut
                FROM counts
            ),
            k AS (
                SELECT d.lang, d.doc_id,
                       (CAST('0x' || substr(
                            md5('mixtemp|' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) < c.cut) AS kept
                FROM documents d JOIN cuts c USING (lang)
            )
            SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept,
                   min(CASE WHEN kept THEN doc_id END) AS min_kept,
                   max(CASE WHEN kept THEN doc_id END) AS max_kept
            FROM k GROUP BY lang
        """,
        # the custom applyInPandasWithState sessionizer must reproduce the
        # built-in session_window's exact session set — two independent
        # implementations, one external answer (same SQL as
        # stream_session_window)
        "stream_session_custom": """
            WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts
                       FROM events),
            m AS (SELECT user_id, ts,
                         CASE WHEN lag(ts) OVER w IS NULL
                                   OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                              THEN 1 ELSE 0 END AS new_s
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m)
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 10 MINUTE AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        # append-mode event-time-timeout sessionizer: the append output IS
        # the final session set (no reduction), so the same session SQL
        # certifies the timeout finalization path — a timeout that never
        # fired would miss every user's last session
        "stream_session_timeout": """
            WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts
                       FROM events),
            m AS (SELECT user_id, ts,
                         CASE WHEN lag(ts) OVER w IS NULL
                                   OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                              THEN 1 ELSE 0 END AS new_s
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m)
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 10 MINUTE AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        # the star-contraction implementation must reproduce the identical
        # component map (its equality to label propagation is the claim)
        "connected_components_star": G.CONNECTED_COMPONENTS_ORACLE_SQL,
        "triangle_count": G.TRIANGLE_COUNT_ORACLE_SQL,
        "cube_revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "grouping_sets_revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        # derived-statistics discipline: exact decimal moment sums, then ONE
        # identical double expression on each engine (module docstring of
        # operators/relational.py; built-ins verified against this in
        # tests/test_properties.py)
        "stats_moments": """
            WITH s AS (
                SELECT l_returnflag,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                       CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                                     * CAST(l_quantity AS DECIMAL(18,2))
                                     AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                     * CAST(l_extendedprice AS DECIMAL(18,2))
                                     AS DECIMAL(28,4))) AS DOUBLE) AS syy,
                       CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                                     * CAST(l_extendedprice AS DECIMAL(18,2))
                                     AS DECIMAL(28,4))) AS DOUBLE) AS sxy
                FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag,
                   n AS cnt,
                   round(sx / CAST(n AS DOUBLE), 6) AS mean_qty,
                   round((sxx - sx * sx / CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) - 1.0), 6) AS var_qty,
                   round(sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                              / (CAST(n AS DOUBLE) - 1.0)), 6) AS std_qty,
                   round((CAST(n AS DOUBLE) * sxy - sx * sy)
                         / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                            * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6)
                       AS corr_qty_price
            FROM s
        """,
        "conditional_agg": """
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END)
                        AS BIGINT) AS n_open,
                   CAST(count(CASE WHEN o_totalprice > 200000 THEN 1 END)
                        AS BIGINT) AS n_high_value,
                   CAST(SUM(CASE WHEN o_orderstatus = 'O'
                                 THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                        AS DOUBLE) AS open_revenue
            FROM orders GROUP BY o_orderpriority
        """,
        "tpch_revenue_by_nation": """
            SELECT n_name,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                 * (CAST(1 AS DECIMAL(18,2))
                                    - CAST(l_discount AS DECIMAL(4,2)))
                                 AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "revenue_share_window": """
            WITH per_nation AS (
                SELECT r_name, n_name,
                       SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                * (CAST(1 AS DECIMAL(18,2))
                                   - CAST(l_discount AS DECIMAL(4,2)))
                                AS DECIMAL(28,4))) AS rev
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                GROUP BY r_name, n_name)
            SELECT r_name, n_name,
                   CAST(rev AS DOUBLE) AS revenue,
                   round(CAST(rev AS DOUBLE)
                         / CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE),
                         6) AS share
            FROM per_nation
        """,
        # the rank column makes the order itself hash-verifiable (the
        # driver compare is order-insensitive, so a bare sorted output
        # would vacuously match in any order)
        "global_sort_rank": """
            SELECT o_orderkey, o_totalprice,
                   CAST(row_number() OVER (
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
            FROM orders
        """,
        # Spark session_window semantics relationally: an event extends
        # its user's current session while it is within gap of the
        # previous event INCLUSIVE (an event at exactly last+gap merges —
        # proven empirically in tests/test_analytics.py, hence the strict
        # > in the new-session flag); session_end = last event + gap.
        # Timestamps truncated to microseconds on the DuckDB side.
        "stream_session_window": """
            WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts
                       FROM events),
            m AS (SELECT user_id, ts,
                         CASE WHEN lag(ts) OVER w IS NULL
                                   OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                              THEN 1 ELSE 0 END AS new_s
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m)
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 10 MINUTE AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        # ordered funnel: strict sequencing — each stage's first event
        # must follow the previous stage's first event within the 1-hour
        # conversion window
        "funnel_conversion": """
            WITH e AS (SELECT user_id, event_type,
                              date_trunc('microseconds', ts) AS ts
                       FROM events),
            v AS (SELECT user_id, min(ts) AS t_view FROM e
                  WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, min(e.ts) AS t_click
                  FROM e JOIN v USING (user_id)
                  WHERE e.event_type = 'click' AND e.ts > v.t_view
                    AND e.ts <= v.t_view + INTERVAL 1 HOUR
                  GROUP BY e.user_id),
            p AS (SELECT e.user_id, min(e.ts) AS t_purchase
                  FROM e JOIN c USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
                    AND e.ts <= c.t_click + INTERVAL 1 HOUR
                  GROUP BY e.user_id)
            SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
            UNION ALL
            SELECT 'view>click', CAST(count(*) AS BIGINT) FROM c
            UNION ALL
            SELECT 'view>click>purchase', CAST(count(*) AS BIGINT) FROM p
        """,
        # weekly retention cohorts: ISO-Monday week truncation in both
        # engines; offsets exact multiples of 7 days
        "retention_cohorts": """
            WITH e AS (SELECT user_id,
                              date_trunc('microseconds', ts) AS ts
                       FROM events),
            f AS (SELECT user_id,
                         date_trunc('week', min(ts)) AS cohort_week
                  FROM e GROUP BY user_id),
            a AS (SELECT DISTINCT user_id,
                         date_trunc('week', ts) AS active_week
                  FROM e)
            SELECT f.cohort_week,
                   CAST(date_diff('day', f.cohort_week, a.active_week) / 7
                        AS INT) AS week_offset,
                   CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
            FROM a JOIN f USING (user_id)
            GROUP BY f.cohort_week, week_offset
        """,
        # batch session_window groupBy: same relational session semantics
        # as the streaming oracle, 30-minute gap, exact-decimal value sums
        "batch_session_window": """
            WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts,
                              value
                       FROM events),
            m AS (SELECT user_id, ts, value,
                         CASE WHEN lag(ts) OVER w IS NULL
                                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                              THEN 1 ELSE 0 END AS new_s
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts, value,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m)
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        # 4-batch replay: the MAX update per user (reduced in the query)
        # is the final carried GroupState — equal to the batch count
        "stream_running_count": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS total_events
            FROM events GROUP BY user_id
        """,
        # files on disk are REAL PNGs whose dimensions and constant gray
        # level derive from doc_id arithmetic (operators.multimodal.
        # _png_dims), so the DECODED outputs re-derive relationally — a
        # decoder that misparsed IHDR or skipped unfiltering would
        # hash-mismatch
        "image_decode": """
            SELECT doc_id AS asset_id,
                   CAST(8 + doc_id % 24 AS INT) AS width,
                   CAST(8 + (doc_id * 7) % 24 AS INT) AS height,
                   CAST(doc_id % 256 AS INT) AS mean_level
            FROM documents WHERE doc_id < 48
        """,
        # image_features = the decoded pixels' features: brightness is the
        # decoded mean 8-bit level / 255, aspect the decoded w/h — both
        # re-derivable from the same _png_dims arithmetic (no 6-dp tie is
        # reachable: d/255 terminates only at d=0 and w/h denominators
        # carry no 5^7, so F.round and DuckDB round agree exactly)
        "image_features": """
            SELECT doc_id AS asset_id,
                   CAST(8 + doc_id % 24 AS INT) AS width,
                   CAST(8 + (doc_id * 7) % 24 AS INT) AS height,
                   round((doc_id % 256) / 255.0, 6) AS brightness,
                   round(CAST(8 + doc_id % 24 AS DOUBLE)
                         / CAST(8 + (doc_id * 7) % 24 AS DOUBLE), 6) AS aspect_ratio
            FROM documents WHERE doc_id < 48
        """,
        # real WAV decode: RIFF/fmt/data parse + PCM frames; fixture
        # square waves derive from doc_id arithmetic (multimodal._wav_props)
        "audio_decode": """
            SELECT doc_id AS asset_id,
                   CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
                   CAST(256 + (doc_id % 512) AS INT) AS n_samples,
                   CAST((doc_id % 100) * 100 AS INT) AS mean_abs
            FROM documents WHERE doc_id < 48
        """,
        # files on disk are the UTF-8 text of docs with doc_id < 64
        # (deterministic fixture), so length and md5 re-derive from the
        # documents table
        "binary_file_meta": """
            SELECT doc_id AS asset_id,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   md5(text) AS content_md5
            FROM documents WHERE doc_id < 64
        """,
        "bucketed_theta_join": """
            SELECT DISTINCT a.s_suppkey AS a_id, b.s_suppkey AS b_id
            FROM supplier a JOIN supplier b
              ON a.s_suppkey < b.s_suppkey
             AND abs(a.s_acctbal - b.s_acctbal) <= 250.0
        """,
        "grouped_agg_udaf": """
            SELECT e.event_type, round(avg(abs(e.value - m.mv)), 6) AS value_mad
            FROM events e
            JOIN (SELECT event_type, avg(value) AS mv
                  FROM events GROUP BY event_type) m USING (event_type)
            GROUP BY e.event_type
        """,
        "set_ops_customers": """
            SELECT custkey, 'both' AS tag FROM (
                SELECT c_custkey AS custkey FROM customer
                INTERSECT SELECT o_custkey FROM orders)
            UNION ALL
            SELECT custkey, 'customer_only' AS tag FROM (
                SELECT c_custkey AS custkey FROM customer
                EXCEPT SELECT o_custkey FROM orders)
        """,
        "scalar_functions": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(month(o_orderdate) AS INT) AS o_month,
                   upper(o_orderstatus) AS status_u,
                   CAST(length(o_orderpriority) AS INT) AS prio_len,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)) AS DOUBLE) AS tithe,
                   substring(o_orderpriority, 1, 1) AS prio_code
            FROM orders
        """,
        "json_extract_events": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
            FROM events
        """,
        # ---- text analysis ----
        "doc_length_stats": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
                   CAST(min(n_chars) AS BIGINT) AS min_chars,
                   CAST(max(n_chars) AS BIGINT) AS max_chars
            FROM documents GROUP BY lang
        """,
        "token_count": """
            SELECT doc_id,
                   CAST(len(string_split(lower(text), ' ')) AS INT) AS ws_tokens,
                   CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT)
                       AS bpe_ish_tokens
            FROM documents
        """,
        "text_quality": """
            WITH c AS (
                SELECT doc_id, n_chars,
                       len(toks) AS n_tok,
                       len(list_filter(toks, t -> t IN
                           ('the','a','an','and','or','of','to','in','is','it'))) AS stop_cnt,
                       length(lt) - length(regexp_replace(lt, '[^a-z0-9 ]', '', 'g')) AS punct_cnt,
                       length(lt) AS n_len
                FROM (SELECT doc_id, n_chars, lower(text) AS lt,
                             string_split(lower(text), ' ') AS toks
                      FROM documents))
            SELECT doc_id,
                   CAST(n_tok AS INT) AS n_tokens,
                   CAST(stop_cnt AS INT) AS stopword_cnt,
                   round(CAST(stop_cnt AS DOUBLE) / n_tok, 6) AS stopword_ratio,
                   round(least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
                         + (CAST(stop_cnt AS DOUBLE) / n_tok) * 0.4
                         + (1.0 - CAST(punct_cnt AS DOUBLE) / n_len) * 0.2, 6)
                       AS quality_score
            FROM c
        """,
        "lang_id_chargram": _lang_id_chargram_sql(),
        "zorder_key_events": _zorder_key_sql(),
        "zorder3_key_events": _zorder3_key_sql(),
        "zorder4_key_events": _zorder4_key_sql(),
        # bigram LM: exact-integer ratios into ln(), 9-dp DECIMAL
        # log-probs, identical interpolation literals (0.9 / 0.1) — the
        # same exactness discipline as unigram_logprob
        # the stored aggregate after the 4-batch additive replay must
        # equal the one-shot batch aggregate over the whole corpus
        # the cure's oracle composes the minhash CTEs (over the RAW
        # corpus), the recursive component walk, survivor selection, and
        # the same leakage CTEs
        "split_leakage_after_dedup": f"""
            WITH RECURSIVE {{_MINHASH_RAW}},
            pairs AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM banded a
                JOIN banded b ON a.b = b.b AND a.bsig = b.bsig
                            AND a.doc_id < b.doc_id),
            edges AS (SELECT a_id AS s, b_id AS d FROM pairs
                      UNION SELECT b_id, a_id FROM pairs),
            walk(src, dst) AS (
                SELECT s, d FROM edges
                UNION
                SELECT w.src, e.d FROM walk w JOIN edges e ON w.dst = e.s),
            clusters AS (
                SELECT docs.doc_id,
                       least(docs.doc_id,
                             coalesce(min(w.dst), docs.doc_id)) AS cluster_id
                FROM docs LEFT JOIN walk w ON w.src = docs.doc_id
                GROUP BY docs.doc_id),
            survivors AS (SELECT DISTINCT cluster_id AS doc_id FROM clusters),
            d2 AS (SELECT d.doc_id, d.text FROM documents d
                   JOIN survivors USING (doc_id)),
            tk2 AS (SELECT doc_id,
                           substr(md5('split1' || '|'
                                      || CAST(doc_id AS VARCHAR)), 1, 2)
                               AS pfx,
                           string_split(lower(text), ' ') AS tk
                    FROM d2),
            lab AS (SELECT doc_id,
                           CASE WHEN pfx < 'cc' THEN 'train'
                                WHEN pfx < 'e6' THEN 'val'
                                ELSE 'test' END AS split, tk
                    FROM tk2),
            grams AS (SELECT doc_id, split,
                             unnest(list_transform(
                                 range(1, greatest(len(tk) - 6, 1)),
                                 i -> array_to_string(tk[i:i+7], ' ')))
                                 AS g
                      FROM lab WHERE len(tk) >= 8),
            train_g AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
            test_g AS (SELECT DISTINCT doc_id, g FROM grams
                       WHERE split = 'test')
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_leaked
            FROM test_g t LEFT JOIN train_g tg USING (g)
            GROUP BY t.doc_id
        """.replace(
            "{_MINHASH_RAW}",
            _MINHASH_CTES.format(docs="SELECT doc_id, text FROM documents"),
        ),
        "split_leakage_check": """
            WITH tk AS (SELECT doc_id,
                               substr(md5('split1' || '|'
                                          || CAST(doc_id AS VARCHAR)), 1, 2)
                                   AS pfx,
                               string_split(lower(text), ' ') AS tk
                        FROM documents),
            lab AS (SELECT doc_id,
                           CASE WHEN pfx < 'cc' THEN 'train'
                                WHEN pfx < 'e6' THEN 'val'
                                ELSE 'test' END AS split, tk
                    FROM tk),
            grams AS (SELECT doc_id, split,
                             unnest(list_transform(
                                 range(1, greatest(len(tk) - 6, 1)),
                                 i -> array_to_string(tk[i:i+7], ' ')))
                                 AS g
                      FROM lab WHERE len(tk) >= 8),
            train_g AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
            test_g AS (SELECT DISTINCT doc_id, g FROM grams
                       WHERE split = 'test')
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_leaked
            FROM test_g t LEFT JOIN train_g tg USING (g)
            GROUP BY t.doc_id
        """,
        "stream_incremental_agg": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_value
            FROM events GROUP BY event_type
        """,
        "cogroup_customer_orders": """
            WITH o AS (SELECT o_custkey AS custkey,
                              CAST(count(*) AS BIGINT) AS n_orders,
                              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                   AS DOUBLE) AS total_price
                       FROM orders GROUP BY o_custkey),
            c AS (SELECT c_custkey AS custkey FROM customer)
            SELECT COALESCE(c.custkey, o.custkey) AS custkey,
                   c.custkey IS NOT NULL AS has_customer,
                   COALESCE(o.n_orders, 0) AS n_orders,
                   COALESCE(o.total_price, 0.0) AS total_price
            FROM c FULL JOIN o ON c.custkey = o.custkey
        """,
        "jdbc_roundtrip_nation": """
            SELECT n_regionkey,
                   CAST(count(*) AS BIGINT) AS n_nations,
                   min(n_name) AS first_name
            FROM nation
            WHERE n_regionkey >= 2
            GROUP BY n_regionkey
        """,
        "bigram_logprob": """
            WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
                        FROM documents),
            toks AS (SELECT doc_id, unnest(tk) AS token FROM tk),
            bg AS (SELECT doc_id,
                          unnest(list_transform(
                              range(1, greatest(len(tk), 1)),
                              i -> array_to_string(tk[i:i+1], ' ')))
                              AS bigram
                   FROM tk),
            bi AS (SELECT bigram, count(*) AS c_bi,
                          string_split(bigram, ' ')[1] AS w1,
                          string_split(bigram, ' ')[2] AS w2
                   FROM bg GROUP BY bigram),
            ctx AS (SELECT w1, sum(c_bi) AS c_ctx FROM bi GROUP BY w1),
            uni AS (SELECT token, count(*) AS c_uni FROM toks
                    GROUP BY token),
            lp AS (SELECT b.bigram,
                          CAST(round(ln(
                              0.9 * (CAST(b.c_bi AS DOUBLE)
                                     / CAST(c.c_ctx AS DOUBLE))
                              + 0.1 * (CAST(u.c_uni AS DOUBLE)
                                       / (SELECT CAST(sum(c_uni) AS DOUBLE)
                                          FROM uni))), 9)
                               AS DECIMAL(18,9)) AS lp
                   FROM bi b JOIN ctx c USING (w1)
                   JOIN uni u ON u.token = b.w2)
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(CAST(sum(l.lp) AS DOUBLE) / count(*), 6)
                       AS logprob_score
            FROM bg g JOIN lp l USING (bigram)
            GROUP BY g.doc_id
        """,
        # BM25: identical parenthesized double operation order as the
        # Spark projection; contributions rounded to 9 dp and summed as
        # DECIMAL so the top-10 cut orders on an exact value
        "bm25_topk": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(lower(text), ' ')) AS token
                        FROM documents),
            pd AS (SELECT doc_id, count(*) AS dl,
                          sum(CASE WHEN token = 'hash' THEN 1 ELSE 0 END) AS tf_hash,
                          sum(CASE WHEN token = 'join' THEN 1 ELSE 0 END) AS tf_join,
                          sum(CASE WHEN token = 'scan' THEN 1 ELSE 0 END) AS tf_scan
                   FROM tk GROUP BY doc_id),
            st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
                          sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
                          sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
                          sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS df_scan
                   FROM pd),
            sc AS (SELECT doc_id,
                          (CASE WHEN tf_hash > 0 THEN CAST(round(
                               round(ln((CAST(n_docs AS DOUBLE) - CAST(df_hash AS DOUBLE) + 0.5)
                                        / (CAST(df_hash AS DOUBLE) + 0.5) + 1.0), 9)
                               * (CAST(tf_hash AS DOUBLE) * 2.2)
                               / (CAST(tf_hash AS DOUBLE)
                                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                                           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 9)
                               AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END)
                          + (CASE WHEN tf_join > 0 THEN CAST(round(
                               round(ln((CAST(n_docs AS DOUBLE) - CAST(df_join AS DOUBLE) + 0.5)
                                        / (CAST(df_join AS DOUBLE) + 0.5) + 1.0), 9)
                               * (CAST(tf_join AS DOUBLE) * 2.2)
                               / (CAST(tf_join AS DOUBLE)
                                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                                           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 9)
                               AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END)
                          + (CASE WHEN tf_scan > 0 THEN CAST(round(
                               round(ln((CAST(n_docs AS DOUBLE) - CAST(df_scan AS DOUBLE) + 0.5)
                                        / (CAST(df_scan AS DOUBLE) + 0.5) + 1.0), 9)
                               * (CAST(tf_scan AS DOUBLE) * 2.2)
                               / (CAST(tf_scan AS DOUBLE)
                                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                                           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 9)
                               AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END)
                              AS total
                   FROM pd, st)
            SELECT doc_id, CAST(total AS DOUBLE) AS score
            FROM sc WHERE total > 0
            ORDER BY total DESC, doc_id ASC
            LIMIT 10
        """,
        # the bloom filter is a runtime plan optimization, never a
        # semantics change — the oracle is the plain join
        "runtime_bloom_join": """
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_items,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                 * (CAST(1 AS DECIMAL(18,2))
                                    - CAST(l_discount AS DECIMAL(4,2)))
                                 AS DECIMAL(28,4))) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY o_orderpriority
        """,
        # DPP: the layout (partitioned fact + stored dim) changes the
        # PLAN, never the answer — the oracle computes the same join over
        # the raw table with the dim derived inline
        "dpp_join_events": """
            WITH dim AS (
                SELECT DISTINCT event_type,
                       CASE WHEN event_type = 'purchase' THEN 'conversion'
                            ELSE 'engagement' END AS category
                FROM events)
            SELECT e.event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
                       AS total_value
            FROM events e JOIN dim d USING (event_type)
            WHERE d.category = 'conversion'
            GROUP BY e.event_type
        """,
        # correlated LATERAL: identical statement runs on DuckDB
        "lateral_topk_per_nation": """
            SELECT n.n_name, t.c_custkey, t.c_acctbal
            FROM nation n,
            LATERAL (SELECT c_custkey, c_acctbal FROM customer c
                     WHERE c.c_nationkey = n.n_nationkey
                     ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        """,
        # end-to-end curation funnel: the same quality/dedup/mix stage
        # expressions as the individual oracles, replayed as one CTE chain
        "curation_pipeline": """
            WITH corpus AS (
                SELECT doc_id, text, lang FROM documents
                UNION ALL
                SELECT doc_id + 200000, text, lang FROM documents
            ),
            q AS (
                SELECT doc_id, text, lang,
                       (CAST(len(string_split(lower(text), ' ')) AS BIGINT) >= 30
                        AND round(CAST(len(replace(text, ' ', '')) AS DOUBLE)
                              / len(string_split(lower(text), ' ')), 6) <= 5.0
                        AND round(CAST(len(list_filter(
                                  string_split(lower(text), ' '),
                                  t -> t IN ('the','a','of','to','and')))
                              AS DOUBLE)
                              / len(string_split(lower(text), ' ')), 6) >= 0.03)
                           AS keep
                FROM corpus
            ),
            kept AS (SELECT * FROM q WHERE keep),
            surv AS (
                SELECT md5(text) AS h, min(doc_id) AS doc_id
                FROM kept GROUP BY 1
            ),
            uniq AS (
                SELECT s.doc_id, k.lang
                FROM surv s JOIN kept k USING (doc_id)
            ),
            counts AS (SELECT lang, count(*) AS n_uniq FROM uniq GROUP BY lang),
            cuts AS (
                SELECT lang,
                       CAST(floor(
                            CAST((SELECT min(n_uniq) FROM counts) AS DOUBLE)
                            / n_uniq * 4294967296.0) AS BIGINT) AS cut
                FROM counts
            ),
            staged AS (
                SELECT u.lang, u.doc_id,
                       (CAST('0x' || substr(
                            md5('mix|' || CAST(u.doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) < c.cut) AS fin
                FROM uniq u JOIN cuts c USING (lang)
            ),
            base AS (
                SELECT lang, count(*) AS n_corpus,
                       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_quality
                FROM q GROUP BY lang
            )
            SELECT b.lang, b.n_corpus, b.n_quality,
                   coalesce(f.n_unique, 0) AS n_unique,
                   coalesce(f.n_final, 0) AS n_final,
                   f.min_final, f.max_final
            FROM base b LEFT JOIN (
                SELECT lang, count(*) AS n_unique,
                       CAST(sum(CASE WHEN fin THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_final,
                       min(CASE WHEN fin THEN doc_id END) AS min_final,
                       max(CASE WHEN fin THEN doc_id END) AS max_final
                FROM staged GROUP BY lang) f USING (lang)
        """,
        # VARIANT-typed extraction summarized per value (DuckDB reads the
        # same paths from the JSON text)
        "variant_extract_events": """
            SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
                   count(*) AS n_events,
                   min(event_id) AS min_event,
                   max(event_id) AS max_event
            FROM events
            GROUP BY 1
        """,
        # custom streaming source: the payload is a pure function of the
        # row index, so a range expression regenerates the batch exactly
        "stream_custom_source": """
            SELECT i AS event_id,
                   i % 50 AS user_id,
                   CASE i % 3 WHEN 0 THEN 'click'
                              WHEN 1 THEN 'view'
                              ELSE 'purchase' END AS event_type,
                   CAST(i % 100 AS DOUBLE) / 2 AS value
            FROM (SELECT unnest(range(0, 1000)) AS i)
        """,
        # the SQL-surface flagship: same decimal-exact Q5 arithmetic,
        # EUROPE/1995 (distinct evidence from tpch_revenue_by_nation)
        "tpch_q5_sql": """
            SELECT n.n_name,
                   CAST(sum(CAST(
                       CAST(l.l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l.l_discount AS DECIMAL(4,2)))
                       AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
              AND o.o_orderdate >= '1995-01-01'
              AND o.o_orderdate < '1996-01-01'
            GROUP BY n.n_name
        """,
        # TPC-H Q1: same per-row decimal casts as the Spark side so every
        # product is exact before the sum (see operators.relational)
        "tpch_q1_pricing": """
            WITH x AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(l_quantity AS DECIMAL(18,2)) AS qty,
                       CAST(l_extendedprice AS DECIMAL(18,2)) AS ep,
                       CAST(l_discount AS DECIMAL(4,2)) AS disc,
                       CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2))
                               - CAST(l_discount AS DECIMAL(4,2)))
                            AS DECIMAL(28,4)) AS disc_price,
                       CAST(l_tax AS DECIMAL(4,2)) AS tax
                FROM lineitem
                WHERE l_shipdate <= '1998-09-02'
            )
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(qty) AS DOUBLE) AS sum_qty,
                   CAST(sum(ep) AS DOUBLE) AS sum_base_price,
                   CAST(sum(disc_price) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST(disc_price
                                 * (CAST(1 AS DECIMAL(6,2)) + tax)
                                 AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
                   round(CAST(sum(qty) AS DOUBLE) / count(*), 6) AS avg_qty,
                   round(CAST(sum(ep) AS DOUBLE) / count(*), 6) AS avg_price,
                   round(CAST(sum(disc) AS DOUBLE) / count(*), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM x
            GROUP BY l_returnflag, l_linestatus
        """,
        # ANSI try_* semantics: NULL-on-failure spelled as CASE +
        # TRY_CAST; min/max of quotients are selection aggregates, so no
        # double-sum reduction-order hazard
        "try_arithmetic": """
            WITH x AS (
                SELECT o_orderpriority,
                       CASE WHEN o_custkey % 7 = 0 THEN NULL
                            ELSE o_totalprice
                                 / CAST(o_custkey % 7 AS DOUBLE) END AS d,
                       TRY_CAST(o_orderpriority AS INT) AS fc,
                       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS dc
                FROM orders
            )
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_div_null,
                   CAST(sum(CASE WHEN fc IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_cast_null,
                   min(dc) AS priority_digit,
                   round(min(d), 6) AS min_quotient,
                   round(max(d), 6) AS max_quotient
            FROM x GROUP BY o_orderpriority
        """,
        # Two-pass exact heavy hitters: the oracle is the plain
        # GROUP BY ... HAVING spelling with the identical integer-exact
        # threshold ceil(3N/100) — the MG candidate pass is a superset
        # by construction so the outputs must coincide exactly
        "heavy_hitters_tokens": """
            WITH tok AS (
                SELECT unnest(string_split(lower(text), ' ')) AS token
                FROM documents
            ),
            tot AS (SELECT count(*) AS n FROM tok)
            SELECT token,
                   CAST(count(*) AS BIGINT) AS cnt,
                   round(count(*) / (SELECT n FROM tot), 6) AS share
            FROM tok
            GROUP BY token
            HAVING count(*) >= (3 * (SELECT n FROM tot) + 99) // 100
        """,
        # forced-compression variant: the same HAVING spelling over the
        # mixed 8-gram ∪ token stream (integer-exact ceil(N/100)); the
        # MG summaries compress thousands of times per partition but
        # candidacy stays a superset, so the outputs must coincide
        "heavy_hitters_mixed": """
            WITH tk AS (
                SELECT string_split(lower(text), ' ') AS tk FROM documents
            ),
            g AS (
                SELECT array_to_string(tk[i:i+7], ' ') AS gram
                FROM tk,
                     LATERAL (SELECT unnest(range(1, greatest(len(tk) - 6, 1))) AS i)
                UNION ALL
                SELECT unnest(tk) FROM tk
            ),
            tot AS (SELECT count(*) AS n FROM g)
            SELECT gram,
                   CAST(count(*) AS BIGINT) AS cnt,
                   round(count(*) / (SELECT n FROM tot), 6) AS share
            FROM g
            GROUP BY gram
            HAVING count(*) >= ((SELECT n FROM tot) + 99) // 100
        """,
        # commutative content checksum: md5 over the identical canonical
        # row string (ints as decimal text, money doubles as exact cents,
        # timestamps as wall-clock seconds, NULL as '<NULL>'), first 15
        # hex chars as a 60-bit integer, SUMmed — order/partition
        # independent, so the DuckDB run IS the second replica being
        # validated against the Spark run
        "table_fingerprint": f"""
            WITH n AS ({_fp_sql("nation", _canon_sql(
                _int_sql("n_nationkey"), "n_name", _int_sql("n_regionkey")))}),
            c AS ({_fp_sql("customer", _canon_sql(
                _int_sql("c_custkey"), "c_name", _int_sql("c_nationkey"),
                _cents_sql("c_acctbal"), "c_mktsegment"))}),
            o AS ({_fp_sql("orders", _canon_sql(
                _int_sql("o_orderkey")) + " || '|' || " + _ORDERS_CONTENT_CANON)})
            SELECT * FROM n UNION ALL SELECT * FROM c UNION ALL SELECT * FROM o
        """,
        # keyed snapshot diff: snapshot B's mutation recipe (delete mod 97,
        # reprice mod 101, re-insert mod 103 under the collision-free
        # negative key namespace -(key+1)) is planted in
        # the query and mirrored verbatim here; content identity is the
        # SAME canonicalization as the fingerprint (shared helper)
        "snapshot_diff": f"""
            WITH b AS (
                SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 101 = 0
                            THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT -(o_orderkey + 1), o_custkey, o_orderstatus,
                       o_totalprice, o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 103 = 0),
            ah AS (SELECT o_orderkey AS k,
                          md5({_ORDERS_CONTENT_CANON}) AS h FROM orders),
            bh AS (SELECT o_orderkey AS k,
                          md5({_ORDERS_CONTENT_CANON}) AS h FROM b)
            SELECT coalesce(ah.k, bh.k) AS o_orderkey,
                   CASE WHEN ah.k IS NULL THEN 'inserted'
                        WHEN bh.k IS NULL THEN 'deleted'
                        ELSE 'changed' END AS change_type
            FROM ah FULL OUTER JOIN bh ON ah.k = bh.k
            WHERE ah.k IS NULL OR bh.k IS NULL OR ah.h <> bh.h
        """,
        # identical semantics over the bucketed snapshot-hash layout —
        # the oracle is the same statement (layout changes the plan,
        # never the answer; the dedup_exact_bucketed idiom)
        "snapshot_diff_bucketed": f"""
            WITH b AS (
                SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 101 = 0
                            THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT -(o_orderkey + 1), o_custkey, o_orderstatus,
                       o_totalprice, o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 103 = 0),
            ah AS (SELECT o_orderkey AS k,
                          md5({_ORDERS_CONTENT_CANON}) AS h FROM orders),
            bh AS (SELECT o_orderkey AS k,
                          md5({_ORDERS_CONTENT_CANON}) AS h FROM b)
            SELECT coalesce(ah.k, bh.k) AS o_orderkey,
                   CASE WHEN ah.k IS NULL THEN 'inserted'
                        WHEN bh.k IS NULL THEN 'deleted'
                        ELSE 'changed' END AS change_type
            FROM ah FULL OUTER JOIN bh ON ah.k = bh.k
            WHERE ah.k IS NULL OR bh.k IS NULL OR ah.h <> bh.h
        """,
        # the continuously-maintained streaming checksum must equal the
        # one-shot fingerprint of the whole table (additive SUM folded
        # per micro-batch == SUM over all rows); canonicalization is the
        # SQL mirror of integrity.events_row_fingerprint
        "stream_table_fingerprint": f"""
            WITH events_canon AS ({_fp_sql("events", _canon_sql(
                _int_sql("event_id"),
                "strftime(ts, '%Y-%m-%d %H:%M:%S.%f')",
                _int_sql("user_id"),
                "event_type",
                _int_sql("CAST(round(value * 1000000) AS BIGINT)"),
                "props"))})
            SELECT table_name, n_rows, fingerprint FROM events_canon
        """,
        # full FastSS deletion-neighborhood blocking replayed identically
        # over the SAMPLED catalog (every 7th customer — the r7 k=2 cure
        # applied to k=1 in r8): planted single-deletion variants
        # (k % 91 == 0, char at (k % len)+1 removed), keys = identity +
        # each single deletion, join on the key, dedupe pairs, verify
        # distance == 1
        "fuzzy_match_names": """
            WITH names AS (
                SELECT c_custkey AS k, c_name AS name FROM customer
                WHERE c_custkey % 7 = 0
                UNION ALL
                SELECT c_custkey + 1000000,
                       substr(c_name, 1, c_custkey % length(c_name))
                       || substr(c_name, (c_custkey % length(c_name)) + 2)
                FROM customer WHERE c_custkey % 91 = 0
            ),
            keyed AS (
                SELECT k, name,
                       CASE WHEN CAST(i AS INT) = 0 THEN name
                            ELSE substr(name, 1, CAST(i AS INT) - 1)
                                 || substr(name, CAST(i AS INT) + 1)
                       END AS bkey
                FROM names,
                     LATERAL (SELECT unnest(range(0, length(name) + 1)) AS i)
            )
            SELECT DISTINCT a.k AS a_custkey, b.k AS b_custkey
            FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.k < b.k
            WHERE levenshtein(a.name, b.name) = 1
        """,
        # TPC-H Q18 at threshold 250 (the spec's 300 is nearly empty on
        # this corpus); unique-orderkey tiebreak makes the cut stable
        "tpch_q18_topk": """
            WITH big AS (
                SELECT l_orderkey,
                       sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
                FROM lineitem GROUP BY l_orderkey
                HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
            )
            SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                   o.o_totalprice, CAST(b.sq AS DOUBLE) AS total_qty
            FROM orders o
            JOIN big b ON o.o_orderkey = b.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderdate ASC,
                     o.o_orderkey ASC
            LIMIT 100
        """,
        # TPC-H Q3: deterministic top-10 via the unique (date, orderkey)
        # tiebreak on both engines
        "tpch_q3_topk": """
            SELECT l.l_orderkey,
                   o.o_orderdate,
                   o.o_orderpriority,
                   CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                 * (CAST(1 AS DECIMAL(18,2))
                                    - CAST(l.l_discount AS DECIMAL(4,2)))
                                 AS DECIMAL(28,4))) AS DOUBLE) AS revenue
            FROM customer c
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < '1998-03-15'
              AND l.l_shipdate > '1998-03-15'
            GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
            ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
            LIMIT 10
        """,
        # per-column profiling report: formatters chosen per type so both
        # engines emit identical text (see operators.pipeline.profile_events)
        "profile_events": """
            SELECT 'event_id' AS col_name,
                   count(*) - count(event_id) AS null_cnt,
                   count(DISTINCT event_id) AS distinct_cnt,
                   CAST(min(event_id) AS VARCHAR) AS min_str,
                   CAST(max(event_id) AS VARCHAR) AS max_str
            FROM events
            UNION ALL
            SELECT 'ts', count(*) - count(ts), count(DISTINCT ts),
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f'),
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f')
            FROM events
            UNION ALL
            SELECT 'user_id', count(*) - count(user_id),
                   count(DISTINCT user_id),
                   CAST(min(user_id) AS VARCHAR),
                   CAST(max(user_id) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'event_type', count(*) - count(event_type),
                   count(DISTINCT event_type),
                   min(event_type), max(event_type)
            FROM events
            UNION ALL
            SELECT 'value', count(*) - count(value),
                   count(DISTINCT value),
                   printf('%.2f', min(value)), printf('%.2f', max(value))
            FROM events
            UNION ALL
            SELECT 'props', count(*) - count(props),
                   count(DISTINCT props),
                   min(props), max(props)
            FROM events
        """,
        "lang_id": """
            SELECT doc_id,
                   CASE WHEN contains(p, ' the ') OR contains(p, ' and ') THEN 'en'
                        WHEN contains(p, ' le ') OR contains(p, ' la ') THEN 'fr'
                        WHEN contains(p, ' der ') OR contains(p, ' und ') THEN 'de'
                        ELSE 'und' END AS lang_pred
            FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents)
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   list_min(list_transform(
                       list_transform(range(1, greatest(len(tk) - 1, 1)),
                                      i -> array_to_string(tk[i:i+2], ' ')),
                       s -> md5(s))) AS fingerprint
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents)
        """,
        "udtf_chunk_documents": """
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   array_to_string(tk[i*20+1 : i*20+20], ' ') AS chunk_text
            FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
                 LATERAL (SELECT unnest(range(0,
                     CAST(ceil(len(tk) / 20.0) AS BIGINT))) AS i)
        """,
        # surviving-key set of the within-watermark streaming dedup (the
        # kept representative row is arrival-order-dependent; the key set
        # is the deterministic contract)
        "stream_dedup": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        # 4-batch event-time-ordered replay: no row arrives behind the
        # watermark and state evicts only after its match horizon passes,
        # so the streamed interval join equals the batch interval join
        "stream_stream_join": """
            SELECT p.event_id AS purchase_id, c.event_id AS click_id
            FROM (SELECT event_id, user_id,
                         date_trunc('microseconds', ts) AS ts
                  FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT event_id, user_id,
                         date_trunc('microseconds', ts) AS ts
                  FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL 30 MINUTE
        """,
        # per-occurrence bigrams (no DISTINCT — frequency counting), ties at
        # the top-25 cut broken lexicographically on both engines
        "bigram_topk": """
            SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT array_to_string(tk[i:i+1], ' ') AS bigram
                  FROM (SELECT string_split(lower(text), ' ') AS tk FROM documents),
                       LATERAL (SELECT unnest(range(1, greatest(len(tk), 1))) AS i))
            GROUP BY bigram
            ORDER BY cnt DESC, bigram ASC LIMIT 25
        """,
        # ---- deduplication (augmented corpus: original ∪ planted copies) ----
        "dedup_exact_hash": f"""
            WITH docs AS ({D.AUGMENTED_DOCS_SQL})
            SELECT md5(text) AS text_hash,
                   CAST(min(doc_id) AS BIGINT) AS keep_id,
                   CAST(count(*) AS BIGINT) AS dup_cnt
            FROM docs GROUP BY md5(text)
        """,
        # sub-document (paragraph-level) dedup: global first occurrence by
        # (doc_id, chunk_idx) wins — 20-token chunks, the same sub-unit as
        # udtf_chunk_documents; fully-deduped docs stay visible via the
        # left join + coalesce (n_kept = 0), never silently dropped
        "dedup_paragraphs": f"""
            WITH docs AS ({D.AUGMENTED_DOCS_SQL}),
            tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM docs),
            chunks AS (
                SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                       array_to_string(tk[i*20+1 : i*20+20], ' ') AS chunk
                FROM tk, LATERAL (SELECT unnest(range(0,
                    CAST(ceil(len(tk) / 20.0) AS BIGINT))) AS i)),
            kept AS (
                SELECT doc_id, chunk_idx, chunk FROM (
                    SELECT doc_id, chunk_idx, chunk,
                           row_number() OVER (PARTITION BY md5(chunk)
                                              ORDER BY doc_id, chunk_idx) AS rn
                    FROM chunks) WHERE rn = 1),
            agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       string_agg(chunk, ' ' ORDER BY chunk_idx) AS kept_text
                FROM kept GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(ceil(len(t.tk) / 20.0) AS BIGINT) AS n_chunks,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(a.kept_text, '') AS kept_text
            FROM tk t LEFT JOIN agg a USING (doc_id)
        """,
        # incremental ingest dedup: new batch (planted copies) screened
        # against the existing corpus (originals) — exact-hash membership
        # plus any-band LSH collision, the SAME banding CTEs as
        # dedup_minhash_lsh but joined corpus-vs-batch instead of self
        "dedup_incremental": f"""
            WITH {_MINHASH_CTES.format(docs=D.AUGMENTED_DOCS_SQL)},
            corpus_banded AS (
                SELECT DISTINCT b, bsig FROM banded WHERE doc_id < 100000),
            near AS (
                SELECT DISTINCT n.doc_id
                FROM banded n JOIN corpus_banded c
                  ON n.b = c.b AND n.bsig = c.bsig
                WHERE n.doc_id >= 100000),
            corpus_h AS (
                SELECT DISTINCT md5(text) AS h FROM docs WHERE doc_id < 100000),
            new_docs AS (
                SELECT doc_id, md5(text) AS h FROM docs WHERE doc_id >= 100000)
            SELECT nd.doc_id,
                   (ch.h IS NOT NULL) AS is_exact_dup,
                   (nr.doc_id IS NOT NULL) AS is_near_dup,
                   (ch.h IS NULL AND nr.doc_id IS NULL) AS kept
            FROM new_docs nd
            LEFT JOIN corpus_h ch ON nd.h = ch.h
            LEFT JOIN near nr ON nd.doc_id = nr.doc_id
        """,
        # identical semantics over the bucketed corpus-side layout — the
        # oracle is the same statement (layout changes the plan, never
        # the answer; same idiom as dedup_exact_bucketed)
        "dedup_incremental_bucketed": f"""
            WITH {_MINHASH_CTES.format(docs=D.AUGMENTED_DOCS_SQL)},
            corpus_banded AS (
                SELECT DISTINCT b, bsig FROM banded WHERE doc_id < 100000),
            near AS (
                SELECT DISTINCT n.doc_id
                FROM banded n JOIN corpus_banded c
                  ON n.b = c.b AND n.bsig = c.bsig
                WHERE n.doc_id >= 100000),
            corpus_h AS (
                SELECT DISTINCT md5(text) AS h FROM docs WHERE doc_id < 100000),
            new_docs AS (
                SELECT doc_id, md5(text) AS h FROM docs WHERE doc_id >= 100000)
            SELECT nd.doc_id,
                   (ch.h IS NOT NULL) AS is_exact_dup,
                   (nr.doc_id IS NOT NULL) AS is_near_dup,
                   (ch.h IS NULL AND nr.doc_id IS NULL) AS kept
            FROM new_docs nd
            LEFT JOIN corpus_h ch ON nd.h = ch.h
            LEFT JOIN near nr ON nd.doc_id = nr.doc_id
        """,
        # two ingests with the fold replayed as pure SQL: state2 = day-0
        # state ∪ ingest-1 survivors' hashes/bands (UNION dedupes like
        # the distinct-append), so the fold's semantics are hash-checked
        # even though the oracle has no table mechanics
        "dedup_incremental_tworound": f"""
            WITH {_MINHASH_CTES.format(docs=D.TWOROUND_DOCS_SQL)},
            corpus_banded AS (
                SELECT DISTINCT b, bsig FROM banded WHERE doc_id < 100000),
            corpus_h AS (
                SELECT DISTINCT md5(text) AS h FROM docs WHERE doc_id < 100000),
            b1 AS (
                SELECT doc_id, md5(text) AS h FROM docs
                WHERE doc_id >= 100000 AND doc_id < 200000),
            near1 AS (
                SELECT DISTINCT n.doc_id
                FROM banded n JOIN corpus_banded c
                  ON n.b = c.b AND n.bsig = c.bsig
                WHERE n.doc_id >= 100000 AND n.doc_id < 200000),
            r1 AS (
                SELECT b1.doc_id,
                       (ch.h IS NOT NULL) AS is_exact_dup,
                       (nr.doc_id IS NOT NULL) AS is_near_dup,
                       (ch.h IS NULL AND nr.doc_id IS NULL) AS kept
                FROM b1
                LEFT JOIN corpus_h ch ON b1.h = ch.h
                LEFT JOIN near1 nr ON b1.doc_id = nr.doc_id),
            kept1 AS (SELECT doc_id FROM r1 WHERE kept),
            h2 AS (
                SELECT h FROM corpus_h
                UNION
                SELECT md5(d.text) FROM docs d JOIN kept1 USING (doc_id)),
            bands2 AS (
                SELECT b, bsig FROM corpus_banded
                UNION
                SELECT n.b, n.bsig FROM banded n JOIN kept1 USING (doc_id)),
            b2 AS (
                SELECT doc_id, md5(text) AS h FROM docs
                WHERE doc_id >= 200000),
            near2 AS (
                SELECT DISTINCT n.doc_id
                FROM banded n JOIN bands2 c ON n.b = c.b AND n.bsig = c.bsig
                WHERE n.doc_id >= 200000),
            r2 AS (
                SELECT b2.doc_id,
                       (ch.h IS NOT NULL) AS is_exact_dup,
                       (nr.doc_id IS NOT NULL) AS is_near_dup,
                       (ch.h IS NULL AND nr.doc_id IS NULL) AS kept
                FROM b2
                LEFT JOIN h2 ch ON b2.h = ch.h
                LEFT JOIN near2 nr ON b2.doc_id = nr.doc_id)
            SELECT 1 AS ingest, * FROM r1
            UNION ALL
            SELECT 2 AS ingest, * FROM r2
        """,
        # identical semantics over the bucketed layout — the oracle is the
        # same aggregation (bucketing changes the plan, not the answer)
        "dedup_exact_bucketed": f"""
            WITH docs AS ({D.AUGMENTED_DOCS_SQL})
            SELECT md5(text) AS text_hash,
                   CAST(min(doc_id) AS BIGINT) AS keep_id,
                   CAST(count(*) AS BIGINT) AS dup_cnt
            FROM docs GROUP BY md5(text)
        """,
        # stop-shingle pruning in lockstep with the Spark side: shingles
        # with document frequency > max(5, n_docs div 600) are dropped
        # before the self-join AND before the per-doc size counts (integer
        # `div` arithmetic on both engines — a float 0.01-style fraction
        # would diverge: DuckDB treats the literal as DECIMAL, Spark as
        # DOUBLE).
        "dedup_ngram_jaccard": f"""
            WITH docs AS ({D.AUGMENTED_DOCS_SQL}),
            sh AS (
                SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM docs),
                     LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, 1))) AS i)),
            stats AS (SELECT count(*) AS n_docs FROM docs),
            dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
            keep AS (SELECT shingle FROM dfreq, stats
                     WHERE df <= greatest(5, n_docs // 600)),
            shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
            SELECT a_id, b_id,
                   round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a_id
            JOIN sizes sb ON sb.doc_id = b_id
            WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.6
        """,
        "dedup_minhash_lsh": f"""
            WITH {_MINHASH_CTES.format(docs=D.AUGMENTED_DOCS_SQL)}
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM banded a
            JOIN banded b ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id
        """,
        # cluster semantics: reachability over the LSH candidate-pair graph
        # (identical pair CTEs as dedup_minhash_lsh), cluster_id = min
        # reachable doc_id including self; singletons keep their own id.
        # The recursive walk is the oracle-side transitive closure — fine at
        # sf0.01 where clusters are the planted triples; the Spark side is
        # the scalable min-label-propagation fixpoint.
        "dedup_cluster_cc": f"""
            WITH RECURSIVE {_MINHASH_CTES.format(docs=D.AUGMENTED_DOCS_SQL)},
            pairs AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM banded a
                JOIN banded b ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
            edges AS (SELECT a_id AS s, b_id AS d FROM pairs
                      UNION SELECT b_id, a_id FROM pairs),
            walk(src, dst) AS (
                SELECT s, d FROM edges
                UNION
                SELECT w.src, e.d FROM walk w JOIN edges e ON w.dst = e.s)
            SELECT docs.doc_id,
                   least(docs.doc_id, coalesce(min(w.dst), docs.doc_id)) AS cluster_id
            FROM docs LEFT JOIN walk w ON w.src = docs.doc_id
            GROUP BY docs.doc_id
        """,
        # production-width 64-bit simhash recomputed bit-for-bit in SQL:
        # hex nibble i//4 of md5(token), bit (3 - i%4) within it, MSB
        # first — exactly numpy's unpackbits order on the first 8 digest
        # bytes; bit 0 is masked off (signed-BIGINT guard), so the sum
        # runs i = 1..63 with weight 2^(63-i)
        "dedup_simhash64": """
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(1, 64), i ->
                       CASE WHEN list_sum(list_transform(tk, tok ->
                                CASE WHEN (CAST(('0x' || substr(md5(tok),
                                                CAST(i // 4 AS INT) + 1, 1))
                                           AS INT)
                                           >> CAST(3 - i % 4 AS INT)) & 1 = 1
                                THEN 1 ELSE -1 END)) > 0
                       THEN CAST(power(2, 63 - i) AS BIGINT) ELSE 0 END))
                       AS BIGINT) AS simhash64
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
                  FROM documents)
        """,
        # the oracle states the CLEAN semantics (every pair within hamming
        # 3, no blocking restriction): the Spark side's multi-band
        # multi-probe blocking is lossless, so it must reproduce this
        # all-pairs definition exactly.  All-pairs is fine for the oracle
        # at sf0.01 (DuckDB, 1500 docs).
        "dedup_simhash": f"""
            WITH docs AS ({D.AUGMENTED_DOCS_SQL}),
            sig AS (
                SELECT doc_id, CAST(list_sum(list_transform(range(1, 17), i ->
                    CASE WHEN list_sum(list_transform(tk, tok ->
                             CASE WHEN substr(md5(tok), i, 1) IN
                                  ('8','9','a','b','c','d','e','f')
                             THEN 1 ELSE -1 END)) > 0
                    THEN CAST(power(2, i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sh
                FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM docs)),
            pairs AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id
                FROM sig a
                JOIN sig b ON a.doc_id < b.doc_id
                WHERE bit_count(xor(a.sh, b.sh)) <= 3),
            ends AS (
                SELECT a_id AS doc_id FROM pairs
                UNION ALL
                SELECT b_id AS doc_id FROM pairs)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_neardups
            FROM ends GROUP BY doc_id
        """,
        # ---- similarity search (double-cast is load-bearing:
        #      list_cosine_similarity on FLOAT[] does float arithmetic and
        #      diverges from the engine's double fold at 6 dp) ----
        "embedding_knn": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS sim
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY sim DESC, vec_id LIMIT 10
        """,
        "embedding_knn_ivf": """
            WITH c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec
                       FROM embeddings WHERE vec_id < 10),
            assigned AS (
                SELECT vec_id, embedding, c_id AS bucket FROM (
                    SELECT e.vec_id, e.embedding, c.c_id,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_cosine_similarity(
                                   e.embedding::DOUBLE[], c.c_vec), 6) DESC,
                                   c.c_id ASC) AS rn
                    FROM embeddings e, c)
                WHERE rn = 1),
            q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            qb AS (SELECT bucket FROM assigned WHERE vec_id = 0)
            SELECT a.vec_id,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], q.qv), 6) AS sim
            FROM assigned a, q, qb
            WHERE a.bucket = qb.bucket AND a.vec_id <> 0
            ORDER BY sim DESC, a.vec_id LIMIT 10
        """,
        # Banded near-dup mining: candidates share (label, table, 8-bit
        # SRP signature) for any of 8 md5-parity tables (the identical
        # hyperplane regeneration as embedding_lsh_ann_multi's oracle),
        # deduped, then exact-cosine reranked — the banding IS the
        # declared semantics (same contract as dedup_minhash_lsh), so the
        # oracle replays it instead of scanning all within-label pairs.
        "embedding_neardup_topk": """
            WITH sigs AS (
                SELECT vec_id, label, tt.t AS tbl,
                       CAST(list_sum(list_transform(range(0, 8), p ->
                           CASE WHEN round(list_sum(list_transform(range(0, 64),
                               j -> embedding[j+1]::DOUBLE *
                                    (CASE WHEN substr(md5(tt.t::VARCHAR || '|'
                                                        || p::VARCHAR || '|'
                                                        || j::VARCHAR), 1, 1)
                                          IN ('8','9','a','b','c','d','e','f')
                                     THEN 1.0 ELSE -1.0 END))), 6) > 0
                           THEN CAST(power(2, p) AS BIGINT) ELSE 0 END))
                           AS BIGINT) AS sig
                FROM embeddings CROSS JOIN range(0, 8) tt(t)),
            cand AS (
                SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
                FROM sigs a
                JOIN sigs b ON a.label = b.label AND a.tbl = b.tbl
                           AND a.sig = b.sig AND a.vec_id < b.vec_id)
            SELECT c.a_id, c.b_id,
                   round(list_cosine_similarity(
                       ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS sim
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.a_id
            JOIN embeddings eb ON eb.vec_id = c.b_id
            -- zero-norm vectors excluded like the Spark side: their
            -- cosine is NaN here vs NULL there, which sort to opposite
            -- ends under ORDER BY sim DESC
            WHERE list_sum(list_transform(ea.embedding::DOUBLE[], x -> x*x)) > 0
              AND list_sum(list_transform(eb.embedding::DOUBLE[], x -> x*x)) > 0
            ORDER BY sim DESC, a_id, b_id LIMIT 50
        """,
        # MERGE outcomes: matched rows take the update's values, unmatched
        # base rows pass through, update-only keys insert
        "merge_upsert_orders": """
            WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                          FROM orders),
            changes AS (
                SELECT o_orderkey, 'F' AS o_orderstatus,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10
                            AS DOUBLE) AS o_totalprice
                FROM base WHERE o_orderkey % 3 = 0
                UNION ALL
                SELECT -1, 'O', 100.0),
            merged AS (
                SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
                       CASE WHEN c.o_orderkey IS NOT NULL
                            THEN c.o_orderstatus ELSE b.o_orderstatus
                       END AS o_orderstatus,
                       CASE WHEN c.o_orderkey IS NOT NULL
                            THEN c.o_totalprice ELSE b.o_totalprice
                       END AS o_totalprice
                FROM base b FULL OUTER JOIN changes c
                  ON b.o_orderkey = c.o_orderkey)
            SELECT * FROM merged
        """,
        # RANGE frame over epoch-microseconds on both engines (a seconds
        # cast would widen the frame for sub-second neighbors); selection
        # aggregates only, so within-frame order is irrelevant
        "window_range_interval": """
            WITH e AS (SELECT event_id, user_id, value,
                              date_trunc('microseconds', ts) AS ts
                       FROM events)
            SELECT event_id, user_id,
                   CAST(count(*) OVER w AS BIGINT) AS n_trailing_30m,
                   max(value) OVER w AS max_val_30m
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING
                               AND CURRENT ROW)
        """,
        "deterministic_split": """
            SELECT lang,
                   CASE WHEN substr(md5('split1|' || doc_id), 1, 2) < 'cc'
                        THEN 'train'
                        WHEN substr(md5('split1|' || doc_id), 1, 2) < 'e6'
                        THEN 'val' ELSE 'test' END AS split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS min_doc,
                   CAST(max(doc_id) AS BIGINT) AS max_doc
            FROM documents GROUP BY 1, 2
        """,
        "text_repetition": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                FROM documents),
            tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
            ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                          count(*) AS n_distinct_tokens, max(c) AS top_tok
                   FROM tc GROUP BY doc_id),
            grams AS (
                SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g
                FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
                      FROM documents),
                     LATERAL (SELECT unnest(range(1, greatest(len(tk), 1))) AS i)),
            gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
            gs AS (SELECT doc_id, sum(c) AS n_bigrams,
                          count(*) AS n_distinct_bigrams
                   FROM gc GROUP BY doc_id)
            SELECT ts.doc_id, ts.n_tokens,
                   round(CAST(ts.n_distinct_tokens AS DOUBLE) / ts.n_tokens, 6)
                       AS distinct_tok_ratio,
                   round(CAST(ts.top_tok AS DOUBLE) / ts.n_tokens, 6)
                       AS top_tok_frac,
                   round(CAST(gs.n_distinct_bigrams AS DOUBLE) / gs.n_bigrams, 6)
                       AS distinct_bigram_ratio
            FROM ts LEFT JOIN gs ON ts.doc_id = gs.doc_id
        """,
        # ±1 hyperplanes regenerated from md5 parity; projections rounded
        # at 6 dp before the sign test on both engines; multi-probe =
        # exact bucket + 8 hamming-1 neighbors
        "embedding_lsh_ann": """
            WITH sigs AS (
                SELECT vec_id, embedding,
                       CAST(list_sum(list_transform(range(0, 8), p ->
                           CASE WHEN round(list_sum(list_transform(range(0, 64),
                               j -> embedding[j+1]::DOUBLE *
                                    (CASE WHEN substr(md5(p::VARCHAR || '|'
                                                        || j::VARCHAR), 1, 1)
                                          IN ('8','9','a','b','c','d','e','f')
                                     THEN 1.0 ELSE -1.0 END))), 6) > 0
                           THEN CAST(power(2, p) AS BIGINT) ELSE 0 END))
                           AS BIGINT) AS sig
                FROM embeddings),
            q AS (SELECT sig AS qsig, embedding::DOUBLE[] AS qv
                  FROM sigs WHERE vec_id = 0),
            probes AS (
                SELECT qsig AS s FROM q
                UNION ALL
                SELECT CAST(xor(qsig, CAST(power(2, i) AS BIGINT)) AS BIGINT)
                FROM q, range(0, 8) t(i))
            SELECT s.vec_id,
                   round(list_cosine_similarity(s.embedding::DOUBLE[], q.qv), 6)
                       AS sim
            FROM sigs s, q
            WHERE s.sig IN (SELECT s FROM probes) AND s.vec_id <> 0
            ORDER BY sim DESC, s.vec_id LIMIT 10
        """,
        # L=8 independent SRP tables (planes salted by table index in the
        # md5 derivation); candidates are the union of per-table probes
        # (exact bucket + 8 hamming-1 + 28 hamming-2 neighbors each),
        # deduped before the exact-cosine rerank — the 1-(1-P)^L recall
        # amplifier at its measured recall-0.94 surface point (r4
        # default; cheaper points one argument away, surface in SCALE.md)
        "embedding_lsh_ann_multi": """
            WITH sigs AS (
                SELECT vec_id, tt.t AS tbl,
                       CAST(list_sum(list_transform(range(0, 8), p ->
                           CASE WHEN round(list_sum(list_transform(range(0, 64),
                               j -> embedding[j+1]::DOUBLE *
                                    (CASE WHEN substr(md5(tt.t::VARCHAR || '|'
                                                        || p::VARCHAR || '|'
                                                        || j::VARCHAR), 1, 1)
                                          IN ('8','9','a','b','c','d','e','f')
                                     THEN 1.0 ELSE -1.0 END))), 6) > 0
                           THEN CAST(power(2, p) AS BIGINT) ELSE 0 END))
                           AS BIGINT) AS sig
                FROM embeddings CROSS JOIN range(0, 8) tt(t)),
            q AS (SELECT tbl, sig AS qsig FROM sigs WHERE vec_id = 0),
            qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
            probes AS (
                SELECT tbl, qsig AS s FROM q
                UNION ALL
                SELECT tbl, CAST(xor(qsig, CAST(power(2, i) AS BIGINT)) AS BIGINT)
                FROM q CROSS JOIN range(0, 8) r(i)
                UNION ALL
                SELECT tbl, CAST(xor(xor(qsig, CAST(power(2, i) AS BIGINT)),
                                     CAST(power(2, j) AS BIGINT)) AS BIGINT)
                FROM q CROSS JOIN range(0, 8) ri(i) CROSS JOIN range(0, 8) rj(j)
                WHERE i < j),
            cands AS (
                SELECT DISTINCT s.vec_id
                FROM sigs s JOIN probes p ON s.tbl = p.tbl AND s.sig = p.s
                WHERE s.vec_id <> 0)
            SELECT c.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6)
                       AS sim
            FROM cands c
            JOIN embeddings e ON e.vec_id = c.vec_id
            CROSS JOIN qv
            ORDER BY sim DESC, c.vec_id LIMIT 10
        """,
        "vector_stats": """
            SELECT vec_id,
                   CAST(len(embedding) AS INT) AS n_dims,
                   round(list_min(embedding::DOUBLE[]), 6) AS vmin,
                   round(list_max(embedding::DOUBLE[]), 6) AS vmax,
                   round(list_sum(embedding::DOUBLE[]) / len(embedding), 6) AS vmean,
                   round(sqrt(list_dot_product(embedding::DOUBLE[],
                                               embedding::DOUBLE[])), 6) AS l2
            FROM embeddings
        """,
        # frames = byte windows (offset i*256, length 64) of the UTF-8
        # payload; corpus is pure ASCII so substr-by-char == slice-by-byte
        "frame_sample": """
            SELECT doc_id AS asset_id,
                   CAST(i AS INT) AS frame_idx,
                   md5(substr(text, i * 256 + 1, 64)) AS frame_md5
            FROM (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
                 LATERAL (SELECT unnest(range(0,
                     CASE WHEN octet_length(encode(text)) >= 64
                          THEN (octet_length(encode(text)) - 64) // 256 + 1
                          ELSE 0 END)) AS i)
        """,
        # ---- multimodal ----
        "binary_meta": """
            SELECT doc_id AS asset_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   md5(text) AS content_md5
            FROM documents
        """,
        # ---- training-data pipeline (operators/pipeline.py) ----
        # Planted-positive constructions are mirrored exactly from the
        # Spark side (see the module docstring on vacuity).
        "pii_redact": f"""
            WITH aug AS (
                SELECT doc_id, text
                    || CASE WHEN doc_id % 7 = 0
                            THEN ' contact user' || doc_id || '@example.com now'
                            ELSE '' END
                    || CASE WHEN doc_id % 11 = 0
                            THEN ' ssn 123-45-6789 on file' ELSE '' END AS text
                FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(text, '{{EMAIL}}', '[EMAIL]', 'g'),
                                  '{{SSN}}', '[ID]', 'g') AS redacted,
                   CAST(len(regexp_extract_all(text, '{{EMAIL}}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text, '{{SSN}}')) AS BIGINT) AS n_id
            FROM aug
        """.replace("{EMAIL}", P.EMAIL_RE).replace("{SSN}", P.SSN_RE),
        "contamination_check": """
            WITH probe AS (SELECT text FROM documents WHERE doc_id = 0),
            corpus AS (
                SELECT d.doc_id,
                       CASE WHEN d.doc_id % 13 = 0
                            THEN d.text || ' ' || substr(p.text, 1, 80)
                            ELSE d.text END AS text
                FROM documents d CROSS JOIN probe p
                WHERE d.doc_id > 0),
            pg AS (
                SELECT DISTINCT g AS shingle FROM (
                    SELECT unnest(list_transform(range(1, greatest(len(t) - 6, 1)),
                               i -> array_to_string(t[i:i+7], ' '))) AS g
                    FROM (SELECT string_split(lower(text), ' ') AS t FROM probe))),
            cg AS (
                SELECT DISTINCT doc_id, g AS shingle FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, greatest(len(t) - 6, 1)),
                               i -> array_to_string(t[i:i+7], ' '))) AS g
                    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
                          FROM corpus)))
            SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_ngrams
            FROM cg c JOIN pg USING (shingle)
            GROUP BY c.doc_id
        """,
        "inverted_index": """
            WITH pairs AS (
                SELECT DISTINCT doc_id, tok FROM (
                    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                    FROM documents)
                WHERE tok <> '')
            SELECT tok AS term, CAST(count(*) AS BIGINT) AS df,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
            FROM pairs GROUP BY tok
        """,
        "tfidf_top_terms": """
            WITH pairs AS (
                SELECT doc_id, tok AS term FROM (
                    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                    FROM documents)
                WHERE tok <> ''),
            tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                   FROM pairs GROUP BY doc_id, term),
            dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                      FROM (SELECT DISTINCT doc_id, term FROM pairs)
                      GROUP BY term),
            n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                  FROM documents),
            scored AS (
                SELECT t.doc_id, t.term, t.tf, d.df,
                       CAST(t.tf * n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE) AS tfidf
                FROM tf t JOIN dfreq d USING (term) CROSS JOIN n)
            SELECT doc_id, term, tf, df, tfidf FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
                FROM scored)
            WHERE rn = 1
        """,
        "stratified_sample": """
            WITH s AS (
                SELECT lang, doc_id,
                       substr(md5('samp|' || doc_id), 1, 2) AS pfx,
                       CASE WHEN lang = 'en' THEN '33'
                            WHEN lang = 'de' THEN '80'
                            ELSE 'cc' END AS cut
                FROM documents)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
                   CAST(sum(CASE WHEN pfx < cut THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_sampled,
                   min(CASE WHEN pfx < cut THEN doc_id END) AS min_kept,
                   max(CASE WHEN pfx < cut THEN doc_id END) AS max_kept
            FROM s GROUP BY lang
        """,
        "pack_training_chunks": """
            WITH t AS (
                SELECT doc_id,
                       substr(md5('shard|' || doc_id), 1, 1) AS shard,
                       len(string_split(lower(text), ' ')) AS n_tok
                FROM documents),
            c AS (
                SELECT shard, doc_id, n_tok,
                       sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
                FROM t)
            SELECT shard, CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS chunk,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS chunk_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM c GROUP BY shard, chunk
        """,
        # r7: perceptual-hash image dedup — the oracle re-derives every
        # asset's 56-bit dHash relationally from the md5 grid arithmetic
        # (multimodal._phash_grid) and replays the band join + Hamming
        # verify, so a decoder that misparsed/mis-pooled/mis-packed
        # hash-mismatches
        "dedup_images_phash": M.DEDUP_IMAGES_PHASH_ORACLE_SQL,
        # r7: FastSS k=2 — sampled catalog + both plant classes, depth-2
        # deletion neighborhoods via nested list_transform lambdas, same
        # levenshtein-in-[1,2] verification
        "fuzzy_match_names_k2": D.FUZZY_MATCH_NAMES_K2_ORACLE_SQL,
        # r7: the vector tier's two-ingest maintenance loop — the k-means
        # chain + final-centroid recompute + assign-only enrollment +
        # SRP banding screens + the fold (state2 = corpus ∪ survivors)
        # replayed as pure SQL, the tworound contract
        "dedup_semantic_incremental": S.DEDUP_SEMANTIC_INCREMENTAL_ORACLE_SQL,
        # r7: IVFPQ — coarse chain and prefix-renamed sub-codebook chain
        # side by side, exact-decimal ADC sums, (adc, vec_id) top-C cut,
        # exact rerank
        "embedding_knn_ivfpq": S.KNN_IVFPQ_ORACLE_SQL,
        # r7: the six-stage funnel; the banding block is the SAME
        # _MINHASH_CTES as dedup_minhash_lsh's oracle so the near-dedup
        # stage cannot drift from the standalone operator
        "curation_pipeline_full": P.curation_pipeline_full_oracle_sql(
            _MINHASH_CTES
        ),
        # r7: the image ingest screen — both fixture families' grids
        # re-derived relationally, corpus-vs-batch band membership join,
        # exact Hamming verify, min-partner disposition
        "dedup_images_phash_incremental":
            M.DEDUP_IMAGES_PHASH_INCREMENTAL_ORACLE_SQL,
        # r8: the PQ maintenance loop — coarse chain + sampled PQ chain
        # (the shared IVFPQ CTE helpers), b1's assign-only coarse + PQ
        # encodings, the fold (state = corpus ∪ b1), the sampled
        # ingest-2 ADC probe with (adc, id) top-1
        "embedding_knn_ivfpq_incremental":
            S.KNN_IVFPQ_INCREMENTAL_ORACLE_SQL,
        # r8: audio fingerprints re-derived relationally from the
        # window-amplitude arithmetic (energy CTE -> adjacent
        # comparisons -> power-of-two sum), same band join + Hamming
        # verify as the image-tier oracle
        "dedup_audio_fingerprint": M.DEDUP_AUDIO_FINGERPRINT_ORACLE_SQL,
        # r8: drift -> refit — corpus chain and corpus∪batch chain side
        # by side (the two-chain trick), four same-generation enrollment
        # means, ratios + the refit flag
        "semantic_index_refit": S.SEMANTIC_INDEX_REFIT_ORACLE_SQL,
        # r8: the multimodal funnel — the full-funnel oracle with the
        # image stage's grids re-derived relationally (salt "phf",
        # base doc = doc_id - doc_id%4) inside the same CTE chain;
        # r9 adds the audio stage (salt "auf" energies, same base/pert
        # rule) one stage later — the eight-stage funnel
        "curation_pipeline_multimodal": P.curation_pipeline_full_oracle_sql(
            _MINHASH_CTES, image_stage=True, audio_stage=True
        ),
        # r11: the nine-stage funnel — the same builder with the
        # semantic stage's family-vector derivation + the shared
        # k-means/SRP/match CTE helpers spliced between nd and the
        # image stage (MATERIALIZED: the chain would otherwise be
        # re-inlined per downstream reference of `sem`)
        "curation_pipeline_semantic": P.curation_pipeline_full_oracle_sql(
            _MINHASH_CTES,
            image_stage=True,
            audio_stage=True,
            semantic_stage=True,
        ),
        # r8 (late): the audio ingest screen — both clip families'
        # energies re-derived relationally, corpus-vs-batch band
        # membership join, exact Hamming verify, min-partner disposition
        "dedup_audio_fingerprint_incremental":
            M.DEDUP_AUDIO_FP_INCREMENTAL_ORACLE_SQL,
        # r9: the PQ refit — corpus sub-codebook chain and corpus∪batch
        # chain side by side (both over their deterministic fit
        # samples), final sub-centroid recomputes, four assign-only
        # encode means, ratios + the refit flag
        "pq_index_refit": S.PQ_INDEX_REFIT_ORACLE_SQL,
        # r9: the unified ingest screen — the dedup_incremental text
        # oracle over corpus ∪ the multimodal batch, plus both media
        # tiers' state families AND batch assets re-derived relationally
        # with the same band-membership + Hamming screens, precedence
        # CASE at the end
        "ingest_screen_multimodal": P.ingest_screen_oracle_sql(
            _MINHASH_CTES
        ),
        # r9 (late): the unified loop — both screens AND all three
        # modality folds replayed as pure SQL (state2 = day-0 ∪ the
        # keeps' rows per tier), the tworound contract at integration
        # width
        "ingest_tworound_multimodal": P.ingest_tworound_oracle_sql(
            _MINHASH_CTES
        ),
        "quality_topk_per_lang": """
            WITH c AS (
                SELECT doc_id, n_chars,
                       len(toks) AS n_tok,
                       len(list_filter(toks, t -> t IN
                           ('the','a','an','and','or','of','to','in','is','it'))) AS stop_cnt,
                       length(lt) - length(regexp_replace(lt, '[^a-z0-9 ]', '', 'g')) AS punct_cnt,
                       length(lt) AS n_len
                FROM (SELECT doc_id, n_chars, lower(text) AS lt,
                             string_split(lower(text), ' ') AS toks
                      FROM documents)),
            q AS (
                SELECT doc_id,
                       round(least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
                             + (CAST(stop_cnt AS DOUBLE) / n_tok) * 0.4
                             + (1.0 - CAST(punct_cnt AS DOUBLE) / n_len) * 0.2, 6)
                           AS quality_score
                FROM c),
            j AS (SELECT d.lang, q.doc_id, q.quality_score
                  FROM q JOIN documents d USING (doc_id))
            SELECT lang, doc_id, quality_score, CAST(rn AS INT) AS rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY lang ORDER BY quality_score DESC, doc_id ASC) AS rn
                FROM j)
            WHERE rn <= 3
        """,
        # r10: BM25 CTE chain shared with bm25_topk + the embedding_knn
        # cosine ranking, both ranked at depth 20, full-outer RRF fusion
        # on exact DECIMAL(18,9) 1/(60+rank) terms
        "hybrid_retrieval_rrf": S.HYBRID_RETRIEVAL_RRF_ORACLE_SQL,
        # r10: SQ8 — same quantization spelling (round(x·127/max|x|)),
        # exact BIGINT code dot product, one mirrored final rescale
        "embedding_sq8_knn": S.EMBEDDING_SQ8_KNN_ORACLE_SQL,
        # r11: the ANN-served RRF's oracle IS the brute oracle — the
        # SQ8 top-40 candidate cut + exact rerank is bit-equal to the
        # brute dense arm whenever exact-top-20 ⊆ sq8-top-40
        # (containment pinned in test_llm_ops.py), which is exactly
        # the recall regression a rows-only check would hide
        "hybrid_retrieval_rrf_ann": S.HYBRID_RETRIEVAL_RRF_ORACLE_SQL,
        # r11: SQ8 maintenance loop — shared _INC batch SQL, the fold
        # as pure SQL (state = corpus ∪ b1), per-query top-10 QUALIFY
        "embedding_sq8_knn_incremental": S.SQ8_KNN_INCREMENTAL_ORACLE_SQL,
    }
    # the streaming twins share their batch loops' oracles VERBATIM —
    # same semantics (and therefore the same hash), different execution
    # engine, which is exactly the claim each query makes
    oracles["stream_dedup_incremental"] = oracles[
        "dedup_incremental_tworound"
    ]
    oracles["stream_ingest_multimodal"] = oracles[
        "ingest_tworound_multimodal"
    ]
    return oracles
