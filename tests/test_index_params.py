"""The persisted index tier's parameters are module constants of
``operators.similarity``, not per-call arguments: its entry points take
only their data arguments (plus the few dials two callers really set to
different values), and the table-name segments derive from the
constants.  Pure signature/string checks — no Spark session."""

from __future__ import annotations

import ast
import inspect

from firebird_mapreduce_spark.operators import similarity as S

DATA_ONLY = {
    "ensure_kmeans_exact_table": ("spark", "sf_dir", "source_name", "emb"),
    "ensure_centroid_table": ("spark", "sf_dir", "source_name", "emb", "assign"),
    "ensure_pq_centroid_table": ("spark", "sf_dir", "emb"),
    "ensure_pq_codes_table": ("spark", "sf_dir", "emb"),
    "encode_pq_batch": ("spark", "sf_dir", "batch"),
    "_kmeans_exact_assign": ("emb",),
    "_semantic_state_tables": ("spark", "sf_dir"),
    "_drift_trigger_frame": ("fit_side", "batch_side"),
    "semantic_param_tag": (),
    "embedding_kmeans_exact": ("spark", "sf_dir"),
    "embedding_knn_ivf_fitted": ("spark", "sf_dir"),
    "dedup_semantic": ("spark", "sf_dir", "nassign"),
    "dedup_semantic_incremental": ("spark", "sf_dir"),
    "embedding_knn_ivf_multiprobe": ("spark", "sf_dir", "nprobe"),
    "embedding_knn_ivfpq": ("spark", "sf_dir", "nprobe", "n_candidates"),
    "embedding_knn_ivfpq_incremental": ("spark", "sf_dir"),
    "semantic_index_drift": ("spark", "sf_dir"),
    "semantic_index_refit": ("spark", "sf_dir"),
    "pq_index_refit": ("spark", "sf_dir"),
    "embedding_sq8_knn_incremental": ("spark", "sf_dir"),
    "crawl_semantic_ctes_pre": ("b1_sql",),
    "crawl_semantic_drift_cte": ("fit", "bat"),
    "crawl_semantic_ctes_post": ("b2_sql", "kept_cte"),
    "_dedup_semantic_oracle_sql": ("nassign",),
}

KNOBS = {
    "k", "iterations", "threshold", "refit_ratio", "m", "ksub",
    "pq_iterations", "nprobe", "n_candidates", "query_mod", "dims",
}
# (function, defaulted knob) pairs that stay: the two exact-k-means
# schedules serve the coarse fit (10x3) and the PQ fit (256x3); the
# recall dials are swept by tools/measure_ivf*.py; the rest are generic
# operators
KEPT = {
    ("cosine_topk", "k"),
    ("kmeans_fit", "k"),
    ("kmeans_fit", "iterations"),
    ("_kmeans_exact_fit", "k"),
    ("_kmeans_exact_fit", "iterations"),
    ("_kmeans_exact_cte_chain", "k"),
    ("_kmeans_exact_cte_chain", "iterations"),
    ("embedding_knn_ivf_multiprobe", "nprobe"),
    ("embedding_knn_ivfpq", "nprobe"),
    ("embedding_knn_ivfpq", "n_candidates"),
}


def test_index_entry_points_take_only_data_arguments():
    for name, params in DATA_ONLY.items():
        got = tuple(inspect.signature(getattr(S, name)).parameters)
        assert got == params, f"{name}{got} != {params}"
    oracles = [n for n in dir(S) if n.startswith("_") and n.endswith("_oracle_sql")]
    assert len(oracles) >= 10, oracles
    for name in oracles:
        if name not in DATA_ONLY:
            params = tuple(inspect.signature(getattr(S, name)).parameters)
            assert params == (), f"{name}{params} takes parameters"


def test_defaulted_index_knobs_are_only_the_kept_dials():
    tree = ast.parse(inspect.getsource(S))
    slots = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            pos = a.posonlyargs + a.args
            defaulted = pos[len(pos) - len(a.defaults):] if a.defaults else []
            defaulted += [
                x for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            slots |= {(node.name, x.arg) for x in defaulted if x.arg in KNOBS}
    assert slots == KEPT, sorted(slots ^ KEPT)


def test_table_name_segments_derive_from_the_constants():
    assert (S.N_CENTROIDS, S.KMEANS_ITERATIONS) == (10, 3)
    assert (S.PQ_M, S.PQ_KSUB, S.PQ_ITERATIONS, S.PQ_DSUB) == (16, 16, 3, 4)
    assert S._COARSE_TAG == "10x3"
    assert S._PQ_TAG == "16x16x3"
    assert S.semantic_param_tag() == "10x3x0p9"
