#!/usr/bin/env python
"""Decompose the unified-crawl screen's warm-run cost (r11 optimization
round): time each tier's screen and each semantic sub-part separately
with the noop sink, min-of-N, against pre-ensured day-0 state — the
guide §1 "measure first" breakdown that decides where the crawl family's
seconds actually go.

Usage: python tools/measure_crawl_parts.py [sf_dir] [runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from firebird_mapreduce_spark.session import get_session  # noqa: E402


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def timeit(spark, label: str, build, runs: int) -> list[float]:
    samples = []
    for _ in range(runs):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        noop(build())
        samples.append(round(time.perf_counter() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    print(f"{min(samples):8.3f}  {label}  runs={samples}")
    return samples


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_session("measure-crawl-parts")
    spark.sparkContext.setLogLevel("ERROR")

    from firebird_mapreduce_spark.operators.dedup import (
        _screen_batch,
        _text_state_tables,
    )
    from firebird_mapreduce_spark.operators.multimodal import (
        _afp_state_tables,
        _hash_incremental_screen,
        _ingest_audio_batch_fixture_dir,
        _ingest_image_batch_fixture_dir,
        _phash_state_tables,
    )
    from firebird_mapreduce_spark.operators.pipeline import (
        _crawl_semantic_parts,
        _media_batch_fps,
        ingest_batch_docs,
        ingest_embedding_batch,
    )
    from firebird_mapreduce_spark.operators.similarity import (
        NEARDUP_TABLES,
        _assign_to_centroids,
        _drift_trigger_frame,
        _quantized_components,
        _semantic_state_tables,
        _sig_keys,
        _with_srp_sigs,
    )

    # ensure all day-0 state once (untimed)
    batch = ingest_batch_docs(spark, sf_dir)
    th, tb = _text_state_tables(spark, sf_dir, 16, 4)
    ih, ib = _phash_state_tables(spark, sf_dir)
    ah, ab = _afp_state_tables(spark, sf_dir)
    _, _, cent, semb, semv, sems = _semantic_state_tables(spark, sf_dir)
    img_dir = _ingest_image_batch_fixture_dir(spark, sf_dir)
    aud_dir = _ingest_audio_batch_fixture_dir(spark, sf_dir)
    noop(_screen_batch(batch, th, tb, 16, 4))  # warmup

    timeit(spark, "text_screen", lambda: _screen_batch(batch, th, tb, 16, 4), runs)
    timeit(
        spark,
        "image_screen",
        lambda: _hash_incremental_screen(
            ih, ib, _media_batch_fps(spark, img_dir, "png")
        ),
        runs,
    )
    timeit(
        spark,
        "audio_screen",
        lambda: _hash_incremental_screen(
            ah, ab, _media_batch_fps(spark, aud_dir, "wav")
        ),
        runs,
    )

    bvecs = ingest_embedding_batch(spark, sf_dir)
    timeit(spark, "sem_batch_vecs_only", lambda: bvecs, runs)
    timeit(
        spark,
        "sem_assign_only",
        lambda: _assign_to_centroids(_quantized_components(bvecs), cent),
        runs,
    )
    timeit(
        spark,
        "sem_srp_sigs_only",
        lambda: _with_srp_sigs(bvecs, NEARDUP_TABLES),
        runs,
    )

    def sem_keys():
        assign = _assign_to_centroids(_quantized_components(bvecs), cent)
        return _sig_keys(
            _with_srp_sigs(bvecs, NEARDUP_TABLES).join(
                assign.select("vec_id", "cluster"), "vec_id"
            ),
            "cluster",
            NEARDUP_TABLES,
        )

    timeit(spark, "sem_keys", sem_keys, runs)
    timeit(
        spark,
        "sem_full_parts_rep",
        lambda: _crawl_semantic_parts(bvecs, cent, semb, semv)[2],
        runs,
    )

    def drift_only():
        a1 = _assign_to_centroids(_quantized_components(bvecs), cent)
        return _drift_trigger_frame(sems, a1)

    timeit(spark, "sem_drift", drift_only, runs)

    from firebird_mapreduce_spark.operators.pipeline import (
        ingest_screen_multimodal,
    )

    timeit(
        spark,
        "full_screen_query",
        lambda: ingest_screen_multimodal(spark, sf_dir),
        runs,
    )
    spark.stop()


if __name__ == "__main__":
    main()
