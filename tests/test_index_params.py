"""The persisted index tier's parameters are module constants of
``operators.similarity``, and the MinHash text tier's are constants of
``operators.dedup``, not per-call arguments: their entry points take
only their data arguments, and the table-name segments derive from the
constants.  Pure signature/string checks — no Spark session."""

from __future__ import annotations

import ast
import inspect
import textwrap

import __spark_entry__ as entrymod
from firebird_mapreduce_spark.operators import dedup as D
from firebird_mapreduce_spark.operators import fold
from firebird_mapreduce_spark.operators import multimodal as M
from firebird_mapreduce_spark.operators import pipeline as P
from firebird_mapreduce_spark.operators import similarity as S
from firebird_mapreduce_spark.operators import text as T
from firebird_mapreduce_spark.streaming import jobs as SJ

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
    "embedding_knn_ivf_multiprobe": ("spark", "sf_dir"),
    "embedding_knn_ivfpq": ("spark", "sf_dir"),
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
# rest are generic operators (the IVF recall dials are the constants
# IVF_NPROBE and PQ_CANDIDATES)
KEPT = {
    ("cosine_topk", "k"),
    ("kmeans_fit", "k"),
    ("kmeans_fit", "iterations"),
    ("_kmeans_exact_fit", "k"),
    ("_kmeans_exact_fit", "iterations"),
    ("_kmeans_exact_cte_chain", "k"),
    ("_kmeans_exact_cte_chain", "iterations"),
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


# the registered queries that run the MinHash banding
MINHASH_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_cluster_cc",
    "dedup_incremental",
    "dedup_incremental_bucketed",
    "dedup_incremental_tworound",
    "split_leakage_after_dedup",
    "ingest_screen_multimodal",
    "ingest_tworound_multimodal",
    "stream_dedup_incremental",
    "stream_ingest_multimodal",
)


# every function that ran the MinHash (k, bands) through its signature
MINHASH_FUNCTIONS = (
    D.minhash_signatures,
    D._minhash_signatures_sql,
    D.dedup_minhash_lsh,
    D.banded_signatures,
    D.minhash_pairs,
    D.dedup_incremental,
    D.dedup_incremental_bucketed,
    D._screen_batch,
    D._text_state_tables,
    D.dedup_incremental_tworound,
    fold.prefixes,
    fold.tables,
    fold.Delivery.text,
    P.ingest_screen_multimodal,
    P._multimodal_screen,
    P.ingest_tworound_multimodal,
    SJ._strinc_apply_batch,
    SJ.stream_dedup_incremental_query,
    SJ._strmm_apply_batch,
    SJ.stream_ingest_multimodal_query,
)


def _params(fn_node) -> list[str]:
    a = fn_node.args
    return [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]


def test_no_minhash_parameter_slots():
    """No function on the MinHash path, nor any closure nested in one,
    takes a ``k`` or ``bands`` parameter, and ``fold.Delivery`` carries
    no such field."""
    slots = []
    for fn in MINHASH_FUNCTIONS:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                slots += [
                    (fn.__qualname__, node.name, p)
                    for p in _params(node)
                    if p in ("k", "bands")
                ]
    assert slots == [], slots
    assert not {"k", "bands"} & set(fold.Delivery._fields)


def test_minhash_name_segments_derive_from_the_constants():
    assert (D.MINHASH_K, D.MINHASH_BANDS) == (16, 4)
    assert D._MINHASH_TAG == "16x4"
    assert fold.prefixes("inc2_", fold.TEXT) == [
        "inc2_hash_16x4_",
        "inc2_bands_16x4_",
    ]


def test_minhash_entry_points_take_only_data_arguments():
    queries = entrymod.queries()
    for name in MINHASH_QUERIES:
        got = tuple(inspect.signature(queries[name]).parameters)
        assert got == ("spark", "sf_dir"), f"{name}{got}"


def test_dedup_ladder_slots_are_constants():
    """The dedup ladder's never-set column, window and n-gram slots are
    gone: each function takes only its data arguments."""
    data_only = {
        M.extract_image_features: ("df",),
        M.decode_png_features: ("df",),
        M.phash_hashes: ("assets",),
        M.audio_fingerprints: ("assets",),
        M.sample_frames: ("df",),
        M.phash_pairs: ("hashes",),
        D._doc_shingles: ("docs",),
        D.simhash64_signatures: ("df",),
        D.simhash64_pandas: ("df",),
        T.lang_id_chargram_pandas: ("df",),
        P.quality_topk_per_lang: ("spark", "sf_dir"),
        P.pack_training_chunks: ("spark", "sf_dir"),
        P.contamination_check: ("spark", "sf_dir"),
        P.split_leakage_check: ("spark", "sf_dir"),
        P.split_leakage_after_dedup: ("spark", "sf_dir"),
    }
    for fn, params in data_only.items():
        got = tuple(inspect.signature(fn).parameters)
        assert got == params, f"{fn.__name__}{got} != {params}"
