"""Unit tests for the LLM-pipeline operators (dedup / similarity / text /
multimodal) beyond the driver's oracle checks: planted-duplicate recall,
signature properties, and the stubbed multimodal pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firebird_mapreduce_spark.functions.hashing import shingles, tokens
from firebird_mapreduce_spark.operators import dedup as D
from firebird_mapreduce_spark.operators import multimodal as M
from firebird_mapreduce_spark.operators import similarity as S
from firebird_mapreduce_spark.operators import text as T
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",)], "text string"
    ).select(shingles(tokens(F.col("text")), 3).alias("sh"))
    rows = [r["sh"] for r in df.collect()]
    assert rows[0] == ["a b c", "b c d"]
    assert rows[1] == []  # fewer than n tokens -> empty, not [1,0]-descending
    assert rows[2] == []


def test_exact_dedup_finds_planted_copies(spark):
    result = D.dedup_exact_hash(spark, SF_SMOKE)
    counts = result.groupBy("dup_cnt").count().collect()
    by_cnt = {r["dup_cnt"]: r["count"] for r in counts}
    # every original has an exact copy planted, so exactly 500 groups have
    # dup_cnt >= 2 (one group reaches 3: a near-copy that happens to equal
    # another document's text); near-copies otherwise hash alone
    assert sum(n for cnt, n in by_cnt.items() if cnt >= 2) == 500
    assert all(r["keep_id"] < 200000 for r in result.collect())


def test_jaccard_finds_near_copies(spark):
    pairs = D.dedup_ngram_jaccard(spark, SF_SMOKE).collect()
    # original <-> exact copy is jaccard 1.0 over surviving shingles
    exact_pairs = [p for p in pairs if p["b_id"] == p["a_id"] + 200000]
    assert all(p["jaccard"] == 1.0 for p in exact_pairs)
    # stop-shingle pruning (τ=5 at this scale on a 31-word vocabulary —
    # the worst case for df-pruning) costs a measured 490/500 exact and
    # 438/500 near-copy recall at sf0.001; on Zipfian natural text τ only
    # removes function-word n-grams.  A doc whose every shingle is hot
    # (all-stop) drops out entirely — exact copies of those are still
    # caught by dedup_exact_hash.
    assert len(exact_pairs) >= 480
    near_pairs = [p for p in pairs if p["b_id"] == p["a_id"] + 100000]
    assert len(near_pairs) >= 420


def test_jaccard_stop_shingle_prunes_hot_shingle(spark):
    """Planted hot shingle: a 3-gram present in EVERY doc must be dropped
    by df-pruning — the pair join stays bounded by the rare shingles and
    the hot shingle contributes nothing to intersections or sizes."""
    # 30 unrelated docs that all share the hot prefix "x y z"; doc i then
    # continues with 3 unique tokens -> without pruning every doc pair
    # shares "x y z" (435 candidate pairs); with pruning (df=30 > τ=5)
    # the hot shingle dies and NO pair shares a surviving shingle.
    docs = spark.createDataFrame(
        [(i, f"x y z u{i} v{i} w{i}") for i in range(30)],
        "doc_id bigint, text string",
    )
    assert D.ngram_jaccard_pairs(docs, threshold=0.01).count() == 0
    # two planted near-dups sharing their RARE tail still pair up: their
    # jaccard over surviving shingles is high while the hot head is gone
    docs2 = docs.union(
        spark.createDataFrame(
            [(100, "a b c d e"), (101, "a b c d f")],
            "doc_id bigint, text string",
        )
    )
    pairs = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs2, threshold=0.01).collect()
    }
    assert (100, 101) in pairs and pairs[(100, 101)] == 0.5  # 2 of 4 shingles shared
    assert all(a in (100,) for a, _ in pairs)  # hot-shingle docs never pair


def test_minhash_lsh_recall_on_planted_dups(spark):
    cands = {
        (r["a_id"], r["b_id"])
        for r in D.dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    # exact copies have identical signatures -> always candidates
    exact_recall = sum(1 for d in range(500) if (d, d + 200000) in cands) / 500
    assert exact_recall == 1.0
    # near copies: high jaccard -> banding should catch a strong majority
    near_recall = sum(1 for d in range(500) if (d, d + 100000) in cands) / 500
    assert near_recall > 0.6


def test_simhash_planted_dups_zero_hamming(spark):
    pairs = D.simhash_pairs(spark, SF_SMOKE).collect()
    ham = {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs}
    assert ham.get((0, 200000)) == 0  # identical text -> identical signature
    near_hits = [h for (a, b), h in ham.items() if b == a + 100000]
    assert len(near_hits) >= 400  # near copies mostly within hamming 3


def test_simhash64_properties(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zzz qqq xxx www")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r["simhash64"] for r in D.simhash64_pandas(docs).collect()}
    assert rows[1] == rows[2]  # deterministic: same text -> same signature
    assert rows[1] != rows[3]
    assert all(0 <= v < 2**63 for v in rows.values())


def test_simhash64_codegen_matches_pandas_bitforbit(spark):
    """The registered codegen tier (explode → md5 flat projection →
    63 partial-agg bit votes) must equal the Arrow UDF-tier demo on every
    document, including the empty-text one-empty-token edge and repeated
    tokens — this differential is what licenses re-tiering the production
    query off per-token Python (VERDICT r3 item 2)."""
    docs = D.augmented_documents(spark, SF_SMOKE)
    sql_sigs = {
        r["doc_id"]: r["simhash64"]
        for r in D.simhash64_signatures(docs).collect()
    }
    pd_sigs = {
        r["doc_id"]: r["simhash64"] for r in D.simhash64_pandas(docs).collect()
    }
    assert sql_sigs == pd_sigs and len(sql_sigs) == 1500
    edge = spark.createDataFrame(
        [(1, ""), (2, "solo"), (3, "a b a b a"), (4, "x " * 50 + "y")],
        "doc_id bigint, text string",
    )
    assert {r["doc_id"]: r["simhash64"] for r in D.simhash64_signatures(edge).collect()} == {
        r["doc_id"]: r["simhash64"] for r in D.simhash64_pandas(edge).collect()
    }


def test_knn_vs_ivf_same_bucket_consistency(spark):
    exact = [r["vec_id"] for r in S.embedding_knn(spark, SF_SMOKE).collect()]
    ivf = [r["vec_id"] for r in S.embedding_knn_ivf(spark, SF_SMOKE).collect()]
    assert len(exact) == 10
    # IVF probes one bucket: its results are a subset of the full corpus
    # ranking restricted to that bucket — every IVF hit must appear in the
    # exact ranking of its own bucket; sanity: both contain vec_id>0 only
    assert all(v != 0 for v in exact + ivf)


def test_lang_id_chargram_runs_vectorized(spark):
    out = T.lang_id_chargram(spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) == 500
    assert {r["lang_pred"] for r in rows} <= {"en", "fr", "de", "und"}


def test_multimodal_pipeline_stub(spark):
    """The FakeDecoder plumbing demo (codec-less formats) — the declared
    image_features query now runs the REAL PNG decoder, covered by
    test_image_features_real_decode below."""
    feats = M.fake_image_features(spark, SF_SMOKE).collect()
    assert len(feats) > 100
    assert all(16 <= r["width"] < 80 and 16 <= r["height"] < 80 for r in feats)
    # deterministic fake: same input -> same features
    feats2 = M.fake_image_features(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))


def test_image_features_real_decode(spark):
    """image_features (oracle-backed r4) must derive every feature from
    the DECODED pixels of the real PNG fixtures: dimensions equal the
    doc_id arithmetic, brightness the constant gray level / 255, aspect
    the decoded w/h — all to the engine's 6-dp rounding."""
    from firebird_mapreduce_spark.operators.similarity import _py_round6

    rows = {r["asset_id"]: r for r in M.image_features(spark, SF_SMOKE).collect()}
    assert len(rows) == 48
    for doc_id, r in rows.items():
        w, h, level = M._png_dims(doc_id)
        assert (r["width"], r["height"]) == (w, h)
        assert r["brightness"] == _py_round6(level / 255.0)
        assert r["aspect_ratio"] == _py_round6(w / h)


def test_binary_file_source_reads_real_files(spark):
    """binary_file_meta must go through the actual binaryFile source over
    files on disk (not bytes manufactured in-plan): fixture files exist,
    every asset id maps to a document, and md5(content) equals md5 of the
    source text."""
    import hashlib
    import os

    out = {r["asset_id"]: r for r in M.binary_file_meta(spark, SF_SMOKE).collect()}
    assert len(out) == 64 and set(out) == set(range(64))
    fixture = M._binary_fixture_dir(spark, SF_SMOKE)
    assert os.path.isdir(fixture)
    docs = {
        r["doc_id"]: r["text"]
        for r in M.load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 64)
        .collect()
    }
    for aid, row in out.items():
        payload = docs[aid].encode("utf-8")
        assert row["n_bytes"] == len(payload)
        assert row["content_md5"] == hashlib.md5(payload).hexdigest()


def test_binary_fixture_prunes_stale_assets(spark):
    """A leftover asset file outside the expected id set (stale n_assets,
    regenerated corpus) must be pruned on rebuild — stale files would be
    globbed by binary_file_meta and break the doc_id<64 oracle row count
    (ADVICE round 2)."""
    import os

    fixture = M._binary_fixture_dir(spark, SF_SMOKE)
    stale = os.path.join(fixture, "asset_99999.bin")
    with open(stale, "wb") as fh:
        fh.write(b"stale payload")
    fixture2 = M._binary_fixture_dir(spark, SF_SMOKE)
    assert fixture2 == fixture
    assert not os.path.exists(stale)
    assert M.binary_file_meta(spark, SF_SMOKE).count() == 64


def test_asset_marker_signature_tracks_encoder_source(tmp_path):
    """The fixture marker is keyed on the encoder's source: an edited
    encoder changes the signature, so the writer re-encodes instead of
    serving stale asset bytes under an old marker."""
    import importlib.util

    from firebird_mapreduce_spark.functions import png, wav
    from firebird_mapreduce_spark.sources.fixtures import signature

    assets = [(10, 1, 0, "ph"), (11, 1, 1, "ph")]
    path = tmp_path / "encoder.py"

    def sig_of(body):
        path.write_text(f"def encode(x):\n    return {body}\n")
        spec = importlib.util.spec_from_file_location("encoder", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return signature(assets, (mod,))

    assert sig_of("x + 1") == sig_of("x + 1")
    assert sig_of("x + 1") != sig_of("x * 2 + 1")
    assert signature(assets, (png,)) != signature(assets, (wav,))
    assert signature(assets, (png,)) != signature(assets[:1], (png,))


def test_fixture_rebuilds_after_a_failed_write(tmp_path, monkeypatch):
    """A writer that crashes part-way must not leave a fixture the next
    call serves: with one file missing the builder rewrites under the
    same signature, the encoder writes a half-made first file and then
    raises, and the following call must rebuild that file."""
    import os
    import shutil

    from firebird_mapreduce_spark.functions import png

    sf_dir, ids = str(tmp_path), [0, 1, 2, 3]  # sf_dir only tags the dir
    out = M._funnel_image_fixture_dir(sf_dir, ids)
    try:
        first = os.path.join(out, "asset_0000000.png")
        with open(first, "rb") as fh:
            good = fh.read()
        os.remove(first)
        calls = []

        def crash(*args, **kwargs):
            calls.append(args)
            if len(calls) > 1:
                raise RuntimeError("writer crashed")
            return b"half-written"

        monkeypatch.setattr(png, "png_encode", crash)
        with pytest.raises(RuntimeError, match="writer crashed"):
            M._funnel_image_fixture_dir(sf_dir, ids)
        monkeypatch.undo()
        assert M._funnel_image_fixture_dir(sf_dir, ids) == out
        with open(first, "rb") as fh:
            assert fh.read() == good
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_multimodal_decoder_gate():
    assert M.decoder_available("image") is False  # no PIL in container
    assert M.decoder_available("png") is True  # pure-stdlib codec always ships
    with pytest.raises(NotImplementedError):
        M.FakeDecoder.image_features(None)


def test_png_codec_roundtrip_all_filters():
    """The pure PNG codec must survive encode→decode bit-exactly with the
    mixed filter cycle (every unfilter path: None/Sub/Up/Average/Paeth),
    and reject corrupted chunks (CRC check is real)."""
    import random

    from firebird_mapreduce_spark.functions.png import png_decode, png_encode

    rng = random.Random(13)
    rgb = bytes(rng.randrange(256) for _ in range(21 * 9 * 3))
    blob = png_encode(21, 9, rgb, filter_mode="mixed")
    assert png_decode(blob) == (21, 9, rgb)
    corrupted = blob[:40] + bytes([blob[40] ^ 0xFF]) + blob[41:]
    with pytest.raises(ValueError):
        png_decode(corrupted)


def test_codecs_raise_valueerror_on_truncated_and_oversized_lengths():
    """Malformed LENGTH fields must surface as the documented ValueError,
    never struct.error/IndexError: truncated mid-chunk, an oversized
    declared chunk length, a short IHDR/fmt payload."""
    import struct

    from firebird_mapreduce_spark.functions.png import png_decode, png_encode
    from firebird_mapreduce_spark.functions.wav import wav_decode, wav_encode

    blob = png_encode(4, 3, bytes(4 * 3 * 3))
    with pytest.raises(ValueError):
        png_decode(blob[: len(blob) - 7])  # truncated inside IEND chunk
    with pytest.raises(ValueError):
        png_decode(blob[:10])  # truncated inside a chunk header
    # declared chunk length far beyond the buffer
    oversized = blob[:8] + struct.pack(">I", 2**24) + blob[12:]
    with pytest.raises(ValueError):
        png_decode(oversized)

    wblob = wav_encode(8000, [1, -2, 3])
    with pytest.raises(ValueError):
        wav_decode(wblob[: len(wblob) - 3])  # truncated inside data chunk
    # oversized fmt length field
    fmt_pos = wblob.index(b"fmt ")
    oversized_w = (
        wblob[: fmt_pos + 4] + struct.pack("<I", 2**24) + wblob[fmt_pos + 8 :]
    )
    with pytest.raises(ValueError):
        wav_decode(oversized_w)
    # fmt chunk declared shorter than the 16-byte PCM header
    short_fmt = wblob[: fmt_pos + 4] + struct.pack("<I", 8) + wblob[fmt_pos + 8 :]
    with pytest.raises(ValueError):
        wav_decode(short_fmt)


def test_png_codec_matches_pillow_when_available():
    """When Pillow is importable the two decoders must agree on the same
    bytes — skipped cleanly in codec-less containers."""
    PIL = pytest.importorskip("PIL.Image")
    import io
    import random

    from firebird_mapreduce_spark.functions.png import png_encode

    rng = random.Random(29)
    rgb = bytes(rng.randrange(256) for _ in range(16 * 11 * 3))
    blob = png_encode(16, 11, rgb, filter_mode="mixed")
    img = PIL.open(io.BytesIO(blob)).convert("RGB")
    assert (img.width, img.height) == (16, 11)
    assert img.tobytes() == rgb


def test_wav_codec_roundtrip_and_chunk_walk():
    """The pure WAV codec must round-trip PCM-16 exactly and tolerate
    extra RIFF chunks between fmt and data (real-world files carry LIST/
    fact chunks); corrupt container raises."""
    import struct

    from firebird_mapreduce_spark.functions.wav import wav_decode, wav_encode

    samples = [0, 100, -100, 32767, -32768, 7]
    blob = wav_encode(22050, samples)
    assert wav_decode(blob) == (22050, 1, samples)
    # splice a LIST chunk before data: chunk walk must skip it
    fmt_end = blob.index(b"data")
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    spliced = blob[:fmt_end] + extra + blob[fmt_end:]
    spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert wav_decode(spliced) == (22050, 1, samples)
    with pytest.raises(ValueError):
        wav_decode(b"nonsense bytes here")


def test_audio_decode_real_wav_pipeline(spark):
    """End-to-end REAL audio decode: binaryFile scan over on-disk WAV
    fixtures → RIFF/PCM parse in Arrow batches → per-asset rate/count/
    amplitude equal to the doc_id arithmetic that generated the waves."""
    out = {r["asset_id"]: r for r in M.audio_decode(spark, SF_SMOKE).collect()}
    assert set(out) == set(range(48))
    for doc_id, row in out.items():
        rate, n, amp = M._wav_props(doc_id)
        assert (row["sample_rate"], row["n_samples"], row["mean_abs"]) == (
            rate,
            n,
            amp,
        )


def test_image_decode_real_png_pipeline(spark):
    """End-to-end REAL decode: binaryFile scan over on-disk PNG fixtures →
    Arrow-batched decode → per-asset dims/level equal to the doc_id
    arithmetic that generated the pixels.  This is a real parse (CRCs,
    zlib inflate, per-row unfiltering with cycled filters), not byte
    bookkeeping."""
    out = {r["asset_id"]: r for r in M.image_decode(spark, SF_SMOKE).collect()}
    assert set(out) == set(range(48))
    for doc_id, row in out.items():
        w, h, level = M._png_dims(doc_id)
        assert (row["width"], row["height"], row["mean_level"]) == (w, h, level)


def test_dedup_cluster_groups_planted_copies(spark):
    """Cluster semantics: every planted EXACT copy (identical signature)
    must land in its original's cluster; near-copies usually do (LSH
    recall); cluster_id is always the component minimum (≤ doc_id)."""
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dedup_cluster_cc(spark, SF_SMOKE).collect()
    }
    originals = [d for d in clusters if d < 100000]
    assert originals and all(clusters[d] <= d for d in clusters)
    for d in originals:
        assert clusters[d + 200000] == clusters[d], d
    near_hits = sum(clusters[d + 100000] == clusters[d] for d in originals)
    assert near_hits >= 0.9 * len(originals)


def test_lsh_ann_results_are_true_neighbors(spark):
    """LSH-ANN sanity: every returned similarity must equal the brute-force
    cosine for that vec (same arithmetic), results are a subset of the
    corpus, and the probe returns a non-trivial candidate set."""
    ann = S.embedding_lsh_ann(spark, SF_SMOKE).collect()
    assert 1 <= len(ann) <= 10
    brute = {
        r["vec_id"]: r["sim"]
        for r in S.cosine_topk(
            S.load_table(spark, SF_SMOKE, "embeddings").filter("vec_id <> 0"),
            S._query_vector(spark, SF_SMOKE, 0),
            k=10_000,
        ).collect()
    }
    for r in ann:
        assert r["sim"] == brute[r["vec_id"]], r


def test_lsh_ann_multi_true_neighbors_and_recall_dominates(spark):
    """Multi-table LSH sanity: similarities equal brute-force cosine
    (bit-exact — pins the vectorized signature path's arithmetic to the
    column path's), and the L=4 union must retrieve at least as many of
    the true top-10 as any strictly smaller prefix of the same tables
    (monotonicity of the union — the amplification direction, without
    depending on one query's luck)."""
    multi = S.embedding_lsh_ann_multi(spark, SF_SMOKE).collect()
    assert 1 <= len(multi) <= 10
    brute = {
        r["vec_id"]: r["sim"]
        for r in S.cosine_topk(
            S.load_table(spark, SF_SMOKE, "embeddings").filter("vec_id <> 0"),
            S._query_vector(spark, SF_SMOKE, 0),
            k=10_000,
        ).collect()
    }
    for r in multi:
        assert r["sim"] == brute[r["vec_id"]], r
    top10 = set(sorted(brute, key=lambda v: (-brute[v], v))[:10])
    hits4 = {r["vec_id"] for r in multi} & top10
    hits1 = {
        r["vec_id"] for r in S.embedding_lsh_ann_multi(spark, SF_SMOKE, n_tables=1).collect()
    } & top10
    assert len(hits4) >= len(hits1)
    # radius-2 probes are a strict superset of radius-1 probes, so the
    # returned top-10 must dominate rank-by-rank (explicit configs — the
    # registered default is already L=8/r=2 as of r4)
    r1 = [
        r["sim"]
        for r in S.embedding_lsh_ann_multi(spark, SF_SMOKE, probe_radius=1).collect()
    ]
    r2 = [
        r["sim"]
        for r in S.embedding_lsh_ann_multi(spark, SF_SMOKE, probe_radius=2).collect()
    ]
    for i, s1 in enumerate(r1):
        assert i < len(r2) and r2[i] >= s1, (i, s1, r2)


def test_probe_signatures_radius_semantics():
    """probe_radius=0 means EXACT-bucket only (1 probe), 1 adds the 8
    hamming-1 neighbors, 2 the further 28 hamming-2 ones; anything else
    is rejected — pins the ADVICE fix where radius 0 silently behaved as
    radius 1."""
    import pytest as _pytest

    assert S._probe_signatures(0b1010, 0) == [0b1010]
    r1 = S._probe_signatures(0b1010, 1)
    assert len(r1) == 1 + 8 and len(set(r1)) == 9
    r2 = S._probe_signatures(0b1010, 2)
    assert len(r2) == 1 + 8 + 28 and set(r1) <= set(r2)
    with _pytest.raises(ValueError):
        S._probe_signatures(0b1010, 3)
    with _pytest.raises(ValueError):
        S._probe_signatures(0b1010, -1)


def test_frame_sample_ascii_precondition_and_fanout(spark):
    """frame_sample's oracle equates char-substr with byte-slice, which
    requires a pure-ASCII corpus — assert that precondition, and the 1→N
    fan-out: every video asset with ≥64 payload bytes emits
    (len-64)//256 + 1 frames, each digest the md5 of its byte window."""
    import hashlib

    docs = M.load_table(spark, SF_SMOKE, "documents")
    non_ascii = docs.filter(
        F.length(F.encode(F.col("text"), "UTF-8")) != F.length(F.col("text"))
    ).count()
    assert non_ascii == 0
    frames = M.frame_sample(spark, SF_SMOKE).collect()
    texts = {
        r["doc_id"]: r["text"].encode()
        for r in docs.filter(F.col("doc_id") % 3 == 2).collect()
    }
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r["asset_id"], []).append(r)
    for aid, blob in texts.items():
        want = max((len(blob) - 64) // 256 + 1, 0) if len(blob) >= 64 else 0
        got = by_asset.get(aid, [])
        assert len(got) == want, aid
        for r in got:
            window = blob[r["frame_idx"] * 256 : r["frame_idx"] * 256 + 64]
            assert r["frame_md5"] == hashlib.md5(window).hexdigest()


def test_kmeans_properties(spark):
    """Lloyd's algorithm invariants on the embeddings table: assignments
    conserve N across <= k clusters, inertia is non-increasing in
    iteration count, and the declared query is stable across reruns."""
    from pyspark.sql import functions as F

    from firebird_mapreduce_spark.operators.similarity import (
        embedding_kmeans,
        kmeans_fit,
    )
    from firebird_mapreduce_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()

    def inertia(iters: int) -> float:
        assigned, _ = kmeans_fit(emb, k=10, iterations=iters)
        return assigned.agg(F.sum("dist2")).first()[0]

    i1, i4 = inertia(1), inertia(4)
    assert i4 <= i1 * (1 + 1e-9), (i1, i4)

    rows = embedding_kmeans(spark, SF_SMOKE).collect()
    assert sum(r.n_vectors for r in rows) == n
    assert 1 <= len(rows) <= 10
    assert all(r.min_dist2 >= 0 for r in rows)
    # deterministic across reruns in one session
    again = embedding_kmeans(spark, SF_SMOKE).collect()
    assert sorted((r.cluster, r.n_vectors) for r in rows) == sorted(
        (r.cluster, r.n_vectors) for r in again
    )


def test_kmeans_exact_moves_assignments_and_conserves_n(spark):
    """The bit-reproducible k-means must do real clustering work, not
    just echo its seed: final cluster sizes differ from the uniform
    ``vec_id % k`` seeding (which the oracle would match vacuously if
    zero iterations ran), N is conserved, and inertia is positive."""
    from firebird_mapreduce_spark.operators.similarity import (
        embedding_kmeans_exact,
    )
    from firebird_mapreduce_spark.sources import load_table

    n = load_table(spark, SF_SMOKE, "embeddings").count()
    rows = embedding_kmeans_exact(spark, SF_SMOKE).collect()
    assert sum(r.n_vectors for r in rows) == n
    sizes = sorted(r.n_vectors for r in rows)
    # uniform seed puts exactly n/k everywhere; iterations must break it
    assert sizes != [n // len(rows)] * len(rows), "assignments never moved"
    assert all(r.inertia > 0 for r in rows)


def test_unigram_logprob_semantics(spark):
    """The unigram LM score must be a real mean log-probability: strictly
    negative (no token covers the whole corpus), bounded below by the
    rarest token's log-prob, token counts agreeing with token_count's
    whitespace accounting, and docs dominated by the corpus's most common
    token must outscore docs of hapax tokens."""
    scored = T.unigram_logprob(spark, SF_SMOKE)
    tc = T.token_count(spark, SF_SMOKE)
    joined = scored.join(tc, "doc_id").collect()
    assert len(joined) > 0
    assert all(r.n_tokens == r.ws_tokens for r in joined)
    assert all(r.logprob_score < 0 for r in joined)
    # bound: every mean log-prob lies within [ln(1/total), ln(max/total)]
    from firebird_mapreduce_spark.functions.hashing import tokens as tok

    docs = T.load_table(spark, SF_SMOKE, "documents")
    toks = docs.select(F.explode(tok(F.col("text"))).alias("t"))
    total = toks.count()
    cnts = [r.c for r in toks.groupBy("t").agg(F.count("*").alias("c")).collect()]
    import math

    lo = math.log(min(cnts) / total) - 1e-6
    hi = math.log(max(cnts) / total) + 1e-6
    assert all(lo <= r.logprob_score <= hi for r in joined), (lo, hi)


def test_neardup_topk_banded_candidates_subset_of_exact(spark):
    """The banded near-dup miner must (a) emit pairs that are genuine
    within-block pairs with exactly the exact spelling's sims (candidate
    generation narrows, never alters, the pair set), (b) keep the
    ordering/tie-break contract, and (c) show the sub-quadratic plan: a
    TakeOrderedAndProject rerank fed by a candidate join keyed on the
    signature, not a label-only blowup."""
    from firebird_mapreduce_spark.operators.similarity import (
        embedding_neardup_exact,
        embedding_neardup_topk,
    )
    from tests.conftest import SF_SMOKE
    from tests.test_plans import plan_string

    banded = embedding_neardup_topk(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in plan_string(banded, "simple")
    got = banded.collect()
    assert len(got) == 50
    sims = [r.sim for r in got]
    assert sims == sorted(sims, reverse=True)
    # every banded pair must carry the exact pair sim: rebuild the exact
    # all-pairs map (tiny at smoke scale) and compare values
    exact_all = {
        (r.a_id, r.b_id): r.sim
        for r in embedding_neardup_exact(spark, SF_SMOKE).limit(50).collect()
    }
    overlap = [r for r in got if (r.a_id, r.b_id) in exact_all]
    for r in overlap:
        assert r.sim == exact_all[(r.a_id, r.b_id)]
    # candidate generation prunes: the banded top-50's weakest pair can
    # not beat the exact top-50's strongest (it's a subset of all pairs)
    assert got[0].sim <= max(exact_all.values())


def test_ivf_fitted_probes_single_cluster_and_reranks_exactly(spark):
    """The fitted-quantizer IVF must (a) return top-10 drawn ONLY from
    the query's own k-means cluster, (b) rerank those candidates by the
    exact cosine (values must match brute force for the same vec_ids),
    and (c) exclude the query vector itself."""
    from pyspark.sql import functions as F

    from firebird_mapreduce_spark.operators.similarity import (
        QUERY_VEC_ID,
        _kmeans_exact_assign,
        _query_vector,
        _py_cosine,
        _py_round6,
        embedding_knn_ivf_fitted,
    )
    from firebird_mapreduce_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    got = embedding_knn_ivf_fitted(spark, SF_SMOKE).collect()
    assert len(got) == 10
    assert QUERY_VEC_ID not in {r.vec_id for r in got}
    assign = {
        r.vec_id: r.cluster
        for r in _kmeans_exact_assign(
            load_table(spark, SF_SMOKE, "embeddings")
        ).collect()
    }
    qc = assign[QUERY_VEC_ID]
    assert all(assign[r.vec_id] == qc for r in got)
    # exact-cosine rerank: recompute each returned sim on the driver
    q = _query_vector(spark, SF_SMOKE, QUERY_VEC_ID)
    emb = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id").isin([r.vec_id for r in got]))
        .collect()
    }
    for r in got:
        assert r.sim == _py_round6(_py_cosine(q, emb[r.vec_id]))


def test_dedup_then_split_cures_leakage(spark):
    """The detector/cure pair must tell a consistent story on this
    corpus: the raw split leaks 8-grams from train into some test docs
    (near-duplicates straddling the hash split), and applying the
    MinHash-cluster dedup BEFORE splitting strictly reduces the leaked
    test-doc count — the quantified justification for dedup-then-split
    ordering."""
    from firebird_mapreduce_spark.operators.pipeline import (
        split_leakage_after_dedup,
        split_leakage_check,
    )

    before = split_leakage_check(spark, SF_ORACLE).toPandas()
    after = split_leakage_after_dedup(spark, SF_ORACLE).toPandas()
    leaked_before = int((before.n_leaked > 0).sum())
    leaked_after = int((after.n_leaked > 0).sum())
    assert leaked_before > 0, "detector must be non-vacuous on this corpus"
    assert leaked_after < leaked_before
    # survivors are a subset of the corpus' test docs
    assert len(after) <= len(before)


def _write_docs_corpus(tmp_path, texts):
    """Minimal sf_dir with a documents.parquet for crafted-corpus tests —
    the production load_table path reads it like the driver's testdata."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}
    )
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/documents.parquet", index=False)
    return sf_dir


def test_dedup_paragraphs_boundary_cases(spark, tmp_path):
    """Crafted chunk-boundary semantics for the paragraph-level dedup:
    - a near copy whose 3 dropped tokens fall EXACTLY on a chunk boundary
      (len % 20 == 3) keeps nothing — every surviving chunk aligns;
    - a near copy whose truncation lands mid-chunk keeps only its
      shortened tail chunk;
    - boilerplate (one chunk shared by two DISTINCT docs) survives only in
      the lower-doc_id document — the global first-occurrence rule;
    - exact copies keep nothing; no document row vanishes from the report.
    """
    w = lambda a, b: " ".join(f"w{i}" for i in range(a, b))
    texts = [
        w(0, 43),            # doc 0: chunks [0:20],[20:40],[40:43]
        w(100, 125),         # doc 1: chunks [100:120],[120:125]
        w(100, 120) + " " + w(300, 310),  # doc 2: chunk0 == doc 1's chunk0
    ]
    sf_dir = _write_docs_corpus(tmp_path, texts)
    out = {
        r["doc_id"]: r
        for r in D.dedup_paragraphs(spark, sf_dir).collect()
    }
    # every augmented doc is reported (3 originals + 3 near + 3 exact)
    assert len(out) == 9
    # originals: doc 0 and doc 1 keep everything
    assert (out[0]["n_chunks"], out[0]["n_kept"]) == (3, 3)
    assert (out[1]["n_chunks"], out[1]["n_kept"]) == (2, 2)
    # doc 2 loses the boilerplate chunk to doc 1 (first occurrence),
    # keeps its distinct tail
    assert (out[2]["n_chunks"], out[2]["n_kept"]) == (2, 1)
    assert out[2]["kept_text"] == w(300, 310)
    # near copy of doc 0: 40 tokens = 2 chunks, both align with doc 0
    assert (out[100000]["n_chunks"], out[100000]["n_kept"]) == (2, 0)
    assert out[100000]["kept_text"] == ""
    # near copy of doc 1: 22 tokens — chunk0 aligns, truncated tail differs
    assert (out[100001]["n_chunks"], out[100001]["n_kept"]) == (2, 1)
    assert out[100001]["kept_text"] == w(120, 122)
    # exact copies keep nothing
    for i in (200000, 200001, 200002):
        assert out[i]["n_kept"] == 0 and out[i]["kept_text"] == ""


def test_dedup_incremental_dispositions(spark):
    """Every planted exact copy is flagged exact (and therefore near);
    near copies are caught by the LSH band screen; `kept` is exactly the
    complement of the two screens; and the smoke corpus exercises all
    three disposition classes (exact, near-only, kept)."""
    rows = D.dedup_incremental(spark, SF_SMOKE).collect()
    n_docs = (
        D.augmented_documents(spark, SF_SMOKE)
        .filter(F.col("doc_id") < 100000)
        .count()
    )
    assert len(rows) == 2 * n_docs  # one disposition per new-batch doc
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        assert r["kept"] == (not r["is_exact_dup"] and not r["is_near_dup"])
        if r["is_exact_dup"]:
            # identical text => identical signature => every band collides
            assert r["is_near_dup"]
    # planted exact copies are all exact dups
    assert all(
        by_id[i + 200000]["is_exact_dup"] for i in range(n_docs)
    )
    assert any(
        r["is_near_dup"] and not r["is_exact_dup"] for r in rows
    ), "no near-only disposition — the LSH screen is vacuous"
    assert any(r["kept"] for r in rows), "no survivor — the batch screen is vacuous"


def test_tworound_ingest2_sees_ingest1_survivors(spark):
    """The fold contract: a document KEPT in ingest 1 must be flagged
    exact-dup when its identical copy arrives in ingest 2 — exactly the
    property a stale-state implementation (screening ingest 2 against
    day-0 state) gets wrong.  Conversely a +300000 copy whose ingest-1
    twin was rejected is an exact dup only if the twin itself was
    (its text already lived in the corpus); and ingest 2 keeps nothing —
    every one of its documents is a copy of something already seen."""
    rows = D.dedup_incremental_tworound(spark, SF_SMOKE).collect()
    r1 = {r["doc_id"]: r for r in rows if r["ingest"] == 1}
    r2 = [r for r in rows if r["ingest"] == 2]
    assert any(r["kept"] for r in r1.values()), "no ingest-1 survivor"
    assert not any(r["kept"] for r in r2), "ingest 2 kept a pure copy"
    for r in r2:
        if r["doc_id"] < 300000:
            continue  # +200000 copies of originals: day-0 exact dups
        twin = r1[r["doc_id"] - 200000]
        expect = twin["kept"] or twin["is_exact_dup"]
        assert r["is_exact_dup"] == expect, (
            f"{r['doc_id']}: exact_dup={r['is_exact_dup']} but twin "
            f"kept={twin['kept']} exact={twin['is_exact_dup']} — the "
            "fold did not reach ingest 2"
        )


def test_dedup_semantic_disposition_properties(spark):
    """SemDeDup pipeline invariants on the planted corpus:

    - every original is kept (nothing natural sits at cosine >= 0.9, and
      an original always precedes its planted twin in id order);
    - every flagged duplicate's dup_of is exactly its original twin (the
      only pairs above threshold are (i, i+100000));
    - >= 95% of planted copies are flagged, and EVERY miss is a cluster
      split (the twin landed in a different k-means cluster — the
      inherent SemDeDup within-cluster restriction), never a banding
      miss: at cosine ~0.9988 the 8-table SRP retrieval probability is
      1 - 0.12^8, so a same-cluster miss would mean broken banding."""
    rows = S.dedup_semantic(spark, SF_SMOKE).collect()
    by_id = {r["vec_id"]: r for r in rows}
    originals = [r for r in rows if r["vec_id"] < 100000]
    planted = [r for r in rows if r["vec_id"] >= 100000]
    assert len(originals) == len(planted) > 0
    assert all(r["kept"] and r["dup_of"] is None for r in originals)
    flagged = [r for r in planted if not r["kept"]]
    assert all(r["dup_of"] == r["vec_id"] - 100000 for r in flagged)
    assert len(flagged) >= 0.95 * len(planted)
    for r in planted:
        if r["kept"]:
            twin = by_id[r["vec_id"] - 100000]
            assert r["cluster"] != twin["cluster"], (
                f"{r['vec_id']} missed while sharing cluster "
                f"{r['cluster']} — a banding miss, not a cluster split"
            )


def test_kmeans_index_table_equals_fresh_fit(spark):
    """The persisted exact-k-means index must be row-identical to a
    fresh run of the fit it caches — the determinism that makes
    pay-once-and-reuse safe (a nondeterministic fit would make the
    first caller's luck everyone's answer)."""
    from firebird_mapreduce_spark.operators.similarity import (
        _kmeans_exact_fit,
        ensure_kmeans_exact_table,
    )
    from firebird_mapreduce_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cached = ensure_kmeans_exact_table(spark, SF_SMOKE, "raw", emb)
    fresh = _kmeans_exact_fit(emb)[0]
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(cached) == rows(fresh) and cached.count() > 0
    # the SECOND index artifact (r7): the persisted centroid table must
    # equal a fresh recompute over the stored assignment, value for
    # value — serving plans read it instead of running a corpus-sized
    # aggregate per query
    from firebird_mapreduce_spark.operators.similarity import (
        _exact_centroids,
        _quantized_components,
        ensure_centroid_table,
    )

    cent_cached = ensure_centroid_table(spark, SF_SMOKE, "raw", emb, cached)
    cent_fresh = _exact_centroids(
        _quantized_components(emb), cached.select("vec_id", "cluster")
    )
    assert rows(cent_cached) == rows(cent_fresh) and cent_cached.count() > 0


def test_dedup_semantic_multi_assignment_recovers_cluster_splits(spark):
    """The nassign cure: every planted pair nassign=1 misses is a
    cluster split (asserted above), and enrolling each vector in its 2
    nearest clusters for candidate generation must recover ALL of them
    (500/500 measured at sf0.001 and sf0.01) without losing anything —
    the flagged set strictly grows, dup_of stays the twin, and the
    reported cluster column stays the primary assignment."""
    r1 = {r["vec_id"]: r for r in S.dedup_semantic(spark, SF_SMOKE).collect()}
    r2 = {
        r["vec_id"]: r
        for r in S.dedup_semantic(spark, SF_SMOKE, nassign=2).collect()
    }
    planted = [v for v in r1 if v >= 100000]
    flagged1 = {v for v in planted if not r1[v]["kept"]}
    flagged2 = {v for v in planted if not r2[v]["kept"]}
    assert flagged1 < flagged2 or (
        flagged1 == flagged2 == set(planted)
    ), "nassign=2 must recover split pairs (or nothing was split)"
    assert flagged2 == set(planted), (
        f"nassign=2 still misses {sorted(set(planted) - flagged2)}"
    )
    assert all(r2[v]["dup_of"] == v - 100000 for v in flagged2)
    assert all(r2[v]["cluster"] == r1[v]["cluster"] for v in r1), (
        "multi-assignment must not change the reported primary cluster"
    )


def test_fuzzy_match_names_equals_brute_force(spark):
    """Recall proof for the full FastSS deletion-neighborhood blocking:
    the blocked pair set must equal the ALL-PAIRS levenshtein==1 set
    computed independently in Python (the quadratic spelling the
    operator exists to avoid) over the SAME planted catalog — and that
    expected set must contain BOTH edit classes (same-length
    substitutions and length-±1 insert/delete pairs), or the r5→r6
    generalization (identity + deletion keys instead of position masks)
    would be vacuously green."""
    import pandas as pd

    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")[
        ["c_custkey", "c_name"]
    ].sort_values("c_custkey")
    rows = [
        (int(k), n)
        for k, n in zip(cust.c_custkey, cust.c_name)
        if int(k) % 7 == 0  # the r8 sampled catalog
    ]
    # replicate the planted single-deletion variants (91 = 7·13 keeps
    # the plant inside the sample)
    for k, n in list(rows):
        if k % 91 == 0:
            p = k % len(n)  # 0-based index of the removed char
            rows.append((k + 1000000, n[:p] + n[p + 1 :]))
    rows.sort()

    def lev(a, b):  # full DP edit distance — indel pairs need the real thing
        if len(a) > len(b):
            a, b = b, a
        prev = list(range(len(a) + 1))
        for j, cb in enumerate(b, 1):
            cur = [j]
            for i, ca in enumerate(a, 1):
                cur.append(
                    min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    by_key = dict(rows)
    expected = {
        (ka, kb)
        for i, (ka, na) in enumerate(rows)
        for kb, nb in rows[i + 1 :]
        if abs(len(na) - len(nb)) <= 1 and lev(na, nb) == 1
    }
    sub_pairs = {
        (a, b) for a, b in expected if len(by_key[a]) == len(by_key[b])
    }
    indel_pairs = expected - sub_pairs
    assert sub_pairs, "no substitution pairs — catalog degenerate"
    assert indel_pairs, "no insert/delete pairs — the planting is vacuous"
    got = {
        (r["a_custkey"], r["b_custkey"])
        for r in D.fuzzy_match_names(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_phash_pairs_equal_brute_force_and_planted_classes(spark):
    """Recall proof for the banded perceptual-hash image dedup: the
    blocked pair set must equal ALL-PAIRS Hamming <= 3 over hashes
    recomputed independently in Python from the fixture arithmetic —
    and contain every planted near-copy class: brightness shifts at
    distance 0 (dHash's shift invariance) and one-block retouches at
    distance <= 2, with NO unrelated pair flagged."""
    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    doc_ids = sorted(int(d) for d in docs.doc_id if d < M._PHASH_BASE)
    assets = [(d * 10, d, 0) for d in doc_ids]
    assets += [(d * 10 + 1, d, 1) for d in doc_ids if d % 4 == 0]
    assets += [(d * 10 + 2, d, 2) for d in doc_ids if d % 8 == 0]

    def dhash(doc_id, pert):
        grid = M._phash_grid(doc_id, pert)
        ph = 0
        for by in range(8):
            for bx in range(7):
                if grid[by][bx + 1] > grid[by][bx]:
                    ph |= 1 << (by * 7 + bx)
        return ph

    hashes = {aid: dhash(d, p) for aid, d, p in assets}
    ids = sorted(hashes)
    expected = {
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(hashes[a] ^ hashes[b]).count("1") <= M._PHASH_THRESHOLD
    }
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in M.dedup_images_phash(spark, SF_SMOKE).collect()
    }
    assert got == expected
    pairs = {(a, b): h for a, b, h in got}
    bright = {(d * 10, d * 10 + 1) for d in doc_ids if d % 4 == 0}
    bumps = {(d * 10, d * 10 + 2) for d in doc_ids if d % 8 == 0}
    assert bright and bumps, "planting degenerate at this SF"
    assert all(pairs.get(p) == 0 for p in bright), "brightness not invariant"
    assert all(pairs.get(p, 99) <= 2 for p in bumps), "retouch pair missed"
    same_doc = bright | bumps | {(d * 10 + 1, d * 10 + 2) for d in doc_ids if d % 8 == 0}
    unrelated = set(pairs) - same_doc
    assert not unrelated, f"unrelated images flagged as near-dups: {unrelated}"


def test_fuzzy_match_names_k2_equals_brute_force(spark):
    """Recall proof for the depth-2 deletion neighborhood (FastSS k=2):
    the blocked pair set must equal ALL-PAIRS levenshtein in [1,2] over
    the same planted catalog — and the expected set must contain
    length-gap-2 pairs (the double-deletion plants), or the k=2
    generalization would be vacuously green on a fixed-width catalog."""
    import pandas as pd

    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")[
        ["c_custkey", "c_name"]
    ].sort_values("c_custkey")
    rows = [
        (int(k), n)
        for k, n in zip(cust.c_custkey, cust.c_name)
        if k % 7 == 0  # the sampled catalog (see fuzzy_matching_names_k2)
    ]
    for k, n in list(rows):
        if k % 91 == 0:
            p = k % len(n)
            rows.append((k + 1000000, n[:p] + n[p + 1 :]))
        if k % 77 == 0:
            p = k % len(n)
            n1 = n[:p] + n[p + 1 :]
            q = (k * 7) % len(n1)
            rows.append((k + 2000000, n1[:q] + n1[q + 1 :]))
    rows.sort()

    def lev(a, b):
        if len(a) > len(b):
            a, b = b, a
        prev = list(range(len(a) + 1))
        for j, cb in enumerate(b, 1):
            cur = [j]
            for i, ca in enumerate(a, 1):
                cur.append(
                    min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    expected = {
        (ka, kb, lev(na, nb))
        for i, (ka, na) in enumerate(rows)
        for kb, nb in rows[i + 1 :]
        if abs(len(na) - len(nb)) <= 2 and 1 <= lev(na, nb) <= 2
    }
    gap2 = {(a, b) for a, b, _ in expected if b >= 2000000}
    assert gap2, "no double-deletion plants in range — planting vacuous"
    got = {
        (r["a_custkey"], r["b_custkey"], r["dist"])
        for r in D.fuzzy_match_names_k2(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_semantic_incremental_fold_flags_survivor_copies(spark):
    """The maintenance property a stale vector index gets wrong: ingest
    2's near-copies of ingest-1 SURVIVORS (the +400000 odd ids, perturbed
    copies of batch1's negated vectors) must be flagged — and their
    dup_of must point INTO batch1 (ids >= 200000), which is only possible
    because the survivors' banding keys and vectors were folded into the
    state between the ingests.  Day-0 corpus state contains no vector
    within cosine 0.9 of a negated embedding."""
    rows = S.dedup_semantic_incremental(spark, SF_SMOKE).collect()
    r1 = [r for r in rows if r["ingest"] == 1]
    r2 = [r for r in rows if r["ingest"] == 2]
    assert len(r1) == len(r2) > 0
    # ingest 1: every negated (odd-source) vector is genuinely new
    odd1 = [r for r in r1 if (r["vec_id"] - 200000) % 2 == 1]
    assert odd1 and all(r["kept"] for r in odd1), "negated vectors not new?"
    # ingest 2, odd class: flagged via the fold, partner inside batch1
    odd2 = [r for r in r2 if (r["vec_id"] - 400000) % 2 == 1]
    flagged = [r for r in odd2 if not r["kept"]]
    assert len(flagged) >= 0.9 * len(odd2), (
        f"fold probe failed: only {len(flagged)}/{len(odd2)} flagged"
    )
    assert all(200000 <= r["dup_of"] < 300000 for r in flagged), (
        "a flagged survivor-copy matched something other than batch1 state"
    )
    # ingest 2, even class: near-copies of corpus vectors — partners are
    # day-0 corpus ids, EXCEPT when the corpus pair missed banding but the
    # batch1 even copy both evaded ingest 1's screen (got folded) and
    # catches here: then the partner is that folded evader (>= 200000),
    # which is still fold-correct state, not a bug
    kept1_ids = {r["vec_id"] for r in r1 if r["kept"]}
    even2 = [r for r in r2 if (r["vec_id"] - 400000) % 2 == 0]
    even_flagged = [r for r in even2 if not r["kept"]]
    assert len(even_flagged) >= 0.9 * len(even2)
    assert all(
        r["dup_of"] < 100000 or r["dup_of"] in kept1_ids for r in even_flagged
    )


def test_semantic_index_drift_detects_distribution_flip(spark):
    """The refit trigger: batch1 carries the negated half (a worst-case
    distribution flip vs the fitted corpus), so its mean enrollment
    dist2 must sit measurably above the fit-time mean."""
    row = S.semantic_index_drift(spark, SF_SMOKE).first()
    assert row["n_fit"] > 0 and row["n_batch"] > 0
    assert row["batch_mean_dist2"] > row["fit_mean_dist2"], (
        f"drift invisible: batch {row['batch_mean_dist2']} "
        f"vs fit {row['fit_mean_dist2']}"
    )
    assert row["drift_ratio"] > 1.0


def test_semantic_index_refit_swap_and_time_travel(spark):
    """The drift→refit lifecycle contract beyond the oracle: (a) the
    drifted batch fires the trigger against v1 and is back
    in-distribution against v2; (b) the swap is a versioned-table
    cutover — exactly two commits, re-running the query commits nothing
    new (idempotent), BOTH versions stay readable after the cutover
    (time travel) and hold different centroids (the refit actually
    moved the index)."""
    import os

    from firebird_mapreduce_spark.operators.relational import (
        corpus_tag,
        warehouse_path,
    )
    from firebird_mapreduce_spark.sources.versioned import (
        VersionedParquetTable,
    )

    rows = {
        r["version"]: r
        for r in S.semantic_index_refit(spark, SF_SMOKE).collect()
    }
    assert rows[1]["refit_recommended"] and rows[1]["drift_ratio"] > 10
    assert not rows[2]["refit_recommended"]
    assert abs(rows[2]["drift_ratio"] - 1.0) < 0.05
    tag = corpus_tag(SF_SMOKE, "embeddings")
    vt = VersionedParquetTable(
        os.path.join(warehouse_path(spark), f"semidx_10x3_{tag}"),
        ["cluster", "d"],
    )
    assert len(vt.commits()) == 2
    S.semantic_index_refit(spark, SF_SMOKE).collect()
    assert len(vt.commits()) == 2, "re-run must not re-commit"
    v0 = {(r["cluster"], r["d"]): r["m"] for r in vt.read(spark, 0).collect()}
    v1 = {(r["cluster"], r["d"]): r["m"] for r in vt.read(spark, 1).collect()}
    assert v0 and v1 and v0 != v1, "refit did not change the centroids"


def test_pq_codes_subspace_pure_and_rerank_exact(spark):
    """PQ invariants: (1) the single shared fit never mixes subspaces —
    every sub-vector's code cluster satisfies cluster % m == subspace
    (the indicator-dimension argument in _pq_subvectors); (2) the
    declared query's top-10 similarities are EXACT cosines (the rerank
    contract): every returned (vec_id, sim) must equal the brute-force
    score for that vec_id."""
    from firebird_mapreduce_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    pq = S.ensure_pq_codes_table(spark, SF_SMOKE, emb)
    assert (
        pq.filter((F.col("vec_id") % S.PQ_M) != (F.col("cluster") % S.PQ_M)).count()
        == 0
    )
    # codes cover every (vector, subspace)
    n_vecs = emb.count()
    assert pq.count() == n_vecs * S.PQ_M
    exact = {
        r["vec_id"]: r["sim"]
        for r in S.cosine_topk(
            emb.filter(F.col("vec_id") != S.QUERY_VEC_ID),
            S._query_vector(spark, SF_SMOKE, S.QUERY_VEC_ID),
            k=n_vecs,
        ).collect()
    }
    got = S.embedding_knn_ivfpq(spark, SF_SMOKE).collect()
    assert len(got) == 10
    for r in got:
        assert exact[r["vec_id"]] == r["sim"], "rerank sim is not exact"


def test_audio_fingerprint_matches_brute_force(spark):
    """The audio tier must equal the brute-force all-pairs Hamming check
    over fingerprints recomputed in Python from the fixture's amplitude
    arithmetic — with the GAIN copies at distance 0 (energy-contour
    scale invariance) and the one-window edits at <= 2."""
    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    doc_ids = sorted(int(d) for d in docs.doc_id if d < M._AFP_BASE)

    def fp(doc_id, pert):
        amps = M._afp_amplitudes(doc_id, pert)
        out = 0
        for w in range(len(amps) - 1):
            if amps[w + 1] > amps[w]:
                out |= 1 << w
        return out

    clips = {d * 10: fp(d, 0) for d in doc_ids}
    clips |= {d * 10 + 1: fp(d, 1) for d in doc_ids if d % 4 == 0}
    clips |= {d * 10 + 2: fp(d, 2) for d in doc_ids if d % 8 == 0}
    ids = sorted(clips)
    expected = {
        (a, b): bin(clips[a] ^ clips[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(clips[a] ^ clips[b]).count("1") <= M._PHASH_THRESHOLD
    }
    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in M.dedup_audio_fingerprint(spark, SF_SMOKE).collect()
    }
    assert got == expected
    gains = {p: h for p, h in got.items() if p[1] % 10 == 1}
    assert gains and all(h == 0 for h in gains.values()), (
        "a gain-shifted copy moved the fingerprint"
    )
    edits = {p: h for p, h in got.items() if p[1] % 10 == 2}
    assert edits and all(h <= 2 for h in edits.values())
    # the amplitude arithmetic in _afp_amplitudes and the decoded-PCM
    # fingerprint agree exactly (square wave + even window => mean|s| is
    # the amplitude), so the python replica above IS the decode contract


def test_afp_incremental_screen_matches_brute_force(spark):
    """The audio ingest screen must equal the brute-force batch×corpus
    Hamming check over fingerprints recomputed in Python from both
    fixture families' amplitude arithmetic — every planted one-window
    re-record (doc_id % 3 == 0) flagged AGAINST ITS BASE, every
    salt-decorrelated new clip kept."""
    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    doc_ids = sorted(int(d) for d in docs.doc_id if d < M._AFP_BASE)

    def fp(doc_id, pert, salt):
        amps = M._afp_amplitudes(doc_id, pert, salt)
        out = 0
        for w in range(len(amps) - 1):
            if amps[w + 1] > amps[w]:
                out |= 1 << w
        return out

    corpus = {d * 10: fp(d, 0, "au") for d in doc_ids}
    corpus |= {d * 10 + 1: fp(d, 1, "au") for d in doc_ids if d % 4 == 0}
    corpus |= {d * 10 + 2: fp(d, 2, "au") for d in doc_ids if d % 8 == 0}
    batch = {
        d * 10 + 5: fp(d, 3, "au") if d % 3 == 0 else fp(d, 0, "aub")
        for d in doc_ids
    }
    expected = {}
    for bid, bh in batch.items():
        partners = [
            aid
            for aid, ah in corpus.items()
            if bin(ah ^ bh).count("1") <= M._PHASH_THRESHOLD
        ]
        expected[bid] = min(partners) if partners else None
    got = {
        r["asset_id"]: r["dup_of"]
        for r in M.dedup_audio_fingerprint_incremental(
            spark, SF_SMOKE
        ).collect()
    }
    assert got == expected
    plants = {d * 10 + 5 for d in doc_ids if d % 3 == 0}
    assert plants and all(got[b] == (b - 5) for b in plants)
    news = set(batch) - plants
    assert news and all(got[b] is None for b in news)


def test_phash_incremental_screen_matches_brute_force(spark):
    """The image ingest screen must equal the brute-force batch×corpus
    Hamming check over hashes recomputed in Python from both fixture
    families' arithmetic — with every planted retouch (doc_id % 3 == 0)
    flagged AGAINST ITS BASE and every salt-decorrelated new image
    kept."""
    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    doc_ids = sorted(int(d) for d in docs.doc_id if d < M._PHASH_BASE)

    def dhash(doc_id, pert, salt):
        grid = M._phash_grid(doc_id, pert, salt)
        ph = 0
        for by in range(8):
            for bx in range(7):
                if grid[by][bx + 1] > grid[by][bx]:
                    ph |= 1 << (by * 7 + bx)
        return ph

    corpus = {d * 10: dhash(d, 0, "ph") for d in doc_ids}
    corpus |= {d * 10 + 1: dhash(d, 1, "ph") for d in doc_ids if d % 4 == 0}
    corpus |= {d * 10 + 2: dhash(d, 2, "ph") for d in doc_ids if d % 8 == 0}
    batch = {
        d * 10 + 5: dhash(d, 3, "ph") if d % 3 == 0 else dhash(d, 0, "phb")
        for d in doc_ids
    }
    expected = {}
    for bid, bh in batch.items():
        partners = [
            aid
            for aid, ah in corpus.items()
            if bin(ah ^ bh).count("1") <= M._PHASH_THRESHOLD
        ]
        expected[bid] = min(partners) if partners else None
    got = {
        r["asset_id"]: r["dup_of"]
        for r in M.dedup_images_phash_incremental(spark, SF_SMOKE).collect()
    }
    assert got == expected
    plants = {d * 10 + 5 for d in doc_ids if d % 3 == 0}
    assert plants and all(got[b] == (b - 5) for b in plants), (
        "a planted retouch missed its corpus base"
    )
    news = set(batch) - plants
    assert news and all(got[b] is None for b in news), (
        "a salt-decorrelated new image was falsely flagged"
    )


def test_ivfpq_incremental_probe_finds_folded_batch(spark):
    """The PQ maintenance loop's fold proof (the tworound shape): every
    ODD ingest-2 probe query is a near-copy of an ingest-1 NEGATED
    vector, so its ADC nearest neighbor must be that b1 parent (id
    q - 200000, in the 2xxxxx range) — findable ONLY because ingest 1's
    codes and coarse cells were folded into the bucketed state; every
    EVEN query is a near-copy of its corpus source and resolves there.
    A stale-state index (corpus-only codes) would send the odd queries
    to some corpus id instead."""
    got = {
        r["q_id"]: r["nn_id"]
        for r in S.embedding_knn_ivfpq_incremental(spark, SF_SMOKE).collect()
    }
    assert got, "no probe queries"
    odd = {q: n for q, n in got.items() if q % 2 == 1}
    even = {q: n for q, n in got.items() if q % 2 == 0}
    assert odd and all(n == q - 200000 for q, n in odd.items()), odd
    assert even and all(n == q - 400000 for q, n in even.items()), even


def test_pq_assign_arrays_equals_exploded_assign(spark):
    """The array-form assign-only encoder (the cheap full-corpus path —
    no N·m·dims·k exploded join) must be VALUE-IDENTICAL to the exploded
    ``_assign_to_centroids`` spelling on the same centroids: same argmin
    cluster AND the same exact-decimal dist2 (the fixed-width chained
    adds equal the grouped decimal sum)."""
    from firebird_mapreduce_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent = S.ensure_pq_centroid_table(spark, SF_SMOKE, emb)
    sub = S._pq_subvectors(emb.filter(F.col("vec_id") < 40))
    arrays = {
        r["vec_id"]: (r["cluster"], str(r["dist2"]))
        for r in S._pq_assign_arrays(sub, cent).collect()
    }
    exploded = {
        r["vec_id"]: (r["cluster"], str(r["dist2"]))
        for r in S._assign_to_centroids(
            S._quantized_components(sub), cent
        ).collect()
    }
    assert arrays == exploded and len(arrays) == 40 * S.PQ_M


def test_encode_pq_batch_locality_and_purity(spark):
    """Incremental PQ encoding invariants: (a) codes stay subspace-pure
    and cover every (vector, subspace); (b) encoding is LOCAL per
    subspace — a batch vector that perturbs ONE dimension of a corpus
    vector (+0.05 at vec_id % 64) may change AT MOST the one subspace
    that owns that dimension relative to the source vector's own
    assign-only re-encode.  Locality is what makes appending
    incrementally-encoded codes into the index trustworthy between
    refits."""
    from firebird_mapreduce_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    corpus, b1, _ = S.incremental_embedding_batches(spark, SF_SMOKE)
    near = b1.filter((F.col("vec_id") - 200000) % 2 == 0)  # the +0.05 halves
    batch_codes = {
        (r["vec_id"], r["s"]): r["cluster"]
        for r in S.encode_pq_batch(spark, SF_SMOKE, near).collect()
    }
    base_codes = {
        (r["vec_id"], r["s"]): r["cluster"]
        for r in S.encode_pq_batch(spark, SF_SMOKE, corpus).collect()
    }
    n_vecs = emb.count()
    assert len(base_codes) == n_vecs * S.PQ_M
    assert all(c % S.PQ_M == s for (_, s), c in batch_codes.items())
    d_sub = 64 // S.PQ_M
    for src_id in {v for v, _ in base_codes}:
        bid = src_id + 200000
        if (bid, 0) not in batch_codes:
            continue
        diffs = [
            s
            for s in range(S.PQ_M)
            if batch_codes[(bid, s)] != base_codes[(src_id, s)]
        ]
        owner = (src_id % 64) // d_sub
        assert len(diffs) <= 1 and all(s == owner for s in diffs), (
            f"non-local encode: vec {src_id} diffs {diffs}, owner {owner}"
        )


def test_pq_index_refit_swap_and_time_travel(spark):
    """The PQ codebook lifecycle contract beyond the oracle (the
    semantic_index_refit pins, PQ edition): (a) the mean-shifted batch
    fires the trigger against the v1 sub-codebooks and re-encodes
    in-distribution against v2; (b) the swap is a versioned-table
    cutover — exactly two commits, idempotent re-run, BOTH versions
    readable after the cutover and holding different centroids; (c)
    both versions' codebooks stay subspace-COVERING — every subspace
    retains at least one centroid (a refit that emptied a whole
    subspace would silently serve no ADC lookups for those code
    positions) and every present centroid carries all d_sub+1 dims;
    individual clusters MAY empty under the sampled fit (the graceful
    degradation ensure_pq_centroid_table documents)."""
    import os

    from firebird_mapreduce_spark.operators.relational import (
        corpus_tag,
        warehouse_path,
    )
    from firebird_mapreduce_spark.sources.versioned import (
        VersionedParquetTable,
    )

    rows = {
        r["version"]: r for r in S.pq_index_refit(spark, SF_SMOKE).collect()
    }
    assert rows[1]["refit_recommended"] and rows[1]["drift_ratio"] > 10
    assert not rows[2]["refit_recommended"]
    assert abs(rows[2]["drift_ratio"] - 1.0) < 0.15
    m, ksub = S.PQ_M, S.PQ_KSUB
    assert rows[1]["n_fit"] > 0 and rows[1]["n_batch"] % m == 0
    tag = corpus_tag(SF_SMOKE, "embeddings")
    vt = VersionedParquetTable(
        os.path.join(warehouse_path(spark), f"pqidx_{m}x{ksub}x3_{tag}"),
        ["cluster", "d"],
    )
    assert len(vt.commits()) == 2
    S.pq_index_refit(spark, SF_SMOKE).collect()
    assert len(vt.commits()) == 2, "re-run must not re-commit"
    v0 = {(r["cluster"], r["d"]): r["m"] for r in vt.read(spark, 0).collect()}
    v1 = {(r["cluster"], r["d"]): r["m"] for r in vt.read(spark, 1).collect()}
    assert v0 and v1 and v0 != v1, "refit did not move the codebooks"
    d_sub = 64 // m
    for v in (v0, v1):
        clusters = {c for c, _ in v}
        assert {c % m for c in clusters} == set(range(m)), (
            "a subspace lost all its centroids"
        )
        assert len(v) == len(clusters) * (d_sub + 1), (
            "a centroid lost dimensions"
        )


def test_ingest_screen_dispositions_and_precedence(spark):
    """The unified ingest screen's planted residue classes (base docs
    d < 256): d%8==0 docs are exact-text AND image-dup and report
    'exact' (exact > image pinned IN DATA, not just in the CASE order);
    d%8==1 docs are audio-dups reporting 'near' where the text screen
    fired (near > audio); d%16==2 docs are SEMANTIC near-copies AND
    image-dups and report 'semantic' (the r11 tier's precedence over
    media, in data); d%16==10 is the image tier's own disposition;
    d%8==3 the audio tier's; d%8==5 near-text AND (mostly) semantic —
    'near' with the semantic boolean proving text > embedding; d%8 in
    (6,7) pass every screen.  Every disposition class must be
    non-vacuously populated, and the delivery-level drift columns are
    one constant quiet pair."""
    from firebird_mapreduce_spark.operators.pipeline import (
        ingest_screen_multimodal,
    )

    rows = {
        r["doc_id"] - 600000: r
        for r in ingest_screen_multimodal(spark, SF_SMOKE).collect()
    }
    media = {d: r for d, r in rows.items() if d < 256}
    assert media, "no media-carrying batch docs at this SF"
    seen = {r["disposition"] for r in rows.values()}
    assert seen == {"exact", "near", "semantic", "image", "audio", "kept"}, (
        seen
    )
    # the precedence CASE holds row-for-row: disposition is the FIRST
    # true boolean in exact > near > semantic > image > audio order
    for d, r in rows.items():
        expected = next(
            (
                name
                for name, flag in (
                    ("exact", r["is_exact_dup"]),
                    ("near", r["is_near_dup"]),
                    ("semantic", r["is_semantic_dup"]),
                    ("image", r["is_image_dup"]),
                    ("audio", r["is_audio_dup"]),
                )
                if flag
            ),
            "kept",
        )
        assert r["disposition"] == expected, (d, r)
    near_and_audio = 0
    sem2 = []
    sem5 = []
    for d, r in media.items():
        if d % 8 == 0:
            assert r["is_exact_dup"] and r["is_image_dup"]
        elif d % 8 == 1:
            assert r["is_audio_dup"] and not r["is_exact_dup"]
            near_and_audio += int(r["is_near_dup"])
        elif d % 16 == 2:
            # semantic near-copy + image dup; the SRP banding (the
            # semantics, ~93% recall at cosine 0.99) may miss a few —
            # flagged docs show semantic > image IN DATA
            assert r["is_image_dup"], (d, r)
            assert not r["is_exact_dup"] and not r["is_near_dup"], (d, r)
            sem2.append(r["is_semantic_dup"])
        elif d % 16 == 10:
            # negated vector: genuinely new, never semantic
            assert r["is_image_dup"] and not r["is_semantic_dup"], (d, r)
        elif d % 8 == 3:
            assert r["is_audio_dup"] and not r["is_image_dup"]
        elif d % 8 == 5:
            assert not r["is_exact_dup"], (d, r)
            sem5.append(r["is_semantic_dup"])
        elif d % 8 in (6, 7):
            assert r["disposition"] == "kept", (d, r)
    assert near_and_audio > 0, "near > audio precedence never exercised"
    assert sum(sem2) >= 0.75 * len(sem2) > 0, "semantic tier under-recalling"
    assert sum(sem5) >= 0.75 * len(sem5) > 0, "near>semantic never exercised"
    # non-media batch docs can only be text or semantic dispositions
    assert all(
        not (r["is_image_dup"] or r["is_audio_dup"])
        for d, r in rows.items()
        if d >= 256
    )
    # the in-loop drift trigger: one constant, quiet pair per delivery
    drift = {
        (r["drift_ratio"], r["refit_recommended"]) for r in rows.values()
    }
    assert len(drift) == 1, drift
    ratio, flag = next(iter(drift))
    assert not flag and 0.5 < ratio < S.REFIT_RATIO, drift


def test_ingest_tworound_fold_proofs_all_tiers(spark):
    """The unified crawl loop's fold contracts (base docs d < 256):
    every d%8==6 ingest-2 doc repeats its DETERMINISTICALLY-KEPT
    ingest-1 twin's text, re-records its clip AND repeats its embedding
    verbatim, so it must flag is_exact_dup AND is_audio_dup AND
    is_semantic_dup — THREE folds proven on one doc, with disposition
    'exact' showing the precedence; every d%8==7 doc carries a retouch
    of its kept twin's image — is_image_dup, 'image'; d%16==2 and
    d%8==5 docs carry fresh perturbed near-copies of CORPUS vectors —
    'semantic' against the corpus part of the folded state; d%8==3
    docs carry a near-copy of their ingest-1 twin's EMBEDDING, and the
    twin's fate depends on the AUDIO screen: d < 256 twins were
    audio-rejected (never folded) so the probe finds nothing — 'kept';
    d >= 256 twins were kept and folded — 'semantic' (the cross-tier
    coupling a stale-state implementation gets wrong); everything else
    is fresh half-flipped and stays kept.  The NINE folded state
    tables hold day-0 rows + the keeps' delta and stay within the
    compaction threshold per bucket — the r10 cadence contract."""
    from firebird_mapreduce_spark.operators import fold
    from firebird_mapreduce_spark.operators.layout import (
        bucket_fragmentation,
    )
    from firebird_mapreduce_spark.operators.multimodal import (
        _afp_state_tables,
        _phash_state_tables,
    )
    from firebird_mapreduce_spark.operators.pipeline import (
        ingest_tworound_multimodal,
    )
    from firebird_mapreduce_spark.operators.relational import corpus_tag

    out = ingest_tworound_multimodal(spark, SF_SMOKE).collect()
    r1 = {r["doc_id"] - 600000: r for r in out if r["ingest"] == 1}
    r2 = {r["doc_id"] - 700000: r for r in out if r["ingest"] == 2}
    assert set(r1) == set(r2)
    media = [d for d in r2 if d < 256]
    assert media, "no media-carrying docs at this SF"
    sem_corpus = []
    for d in media:
        if d % 8 == 6:
            # the embedding repeats VERBATIM (cosine 1.0 → identical
            # SRP signatures in every table — the semantic fold proof
            # is deterministic, unlike the perturbed classes)
            assert r1[d]["disposition"] == "kept", (d, r1[d])
            assert r2[d]["is_exact_dup"] and r2[d]["is_audio_dup"], r2[d]
            assert r2[d]["is_semantic_dup"], r2[d]
            assert r2[d]["disposition"] == "exact", r2[d]
        elif d % 8 == 7:
            assert r1[d]["disposition"] == "kept", (d, r1[d])
            assert r2[d]["is_image_dup"], r2[d]
            assert not r2[d]["is_exact_dup"], r2[d]
            assert r2[d]["disposition"] == "image", r2[d]
        elif d % 16 == 2 or d % 8 == 5:
            # perturbed corpus near-copies: semantic against the
            # corpus rows of the folded state (banding-recall
            # tolerance as in the screen test), fresh y-text
            assert r2[d]["disposition"] in ("semantic", "kept"), (d, r2[d])
            sem_corpus.append(r2[d]["is_semantic_dup"])
        elif d % 8 == 3:
            # twin was audio-rejected (d < 256) => its vector never
            # folded => the near-copy probe finds nothing
            assert r1[d]["disposition"] == "audio", (d, r1[d])
            assert r2[d]["disposition"] == "kept", (d, r2[d])
        else:
            # fresh text + fresh media + half-flipped vector: no tier
            assert r2[d]["disposition"] == "kept", (d, r2[d])
    # non-media docs: the text and semantic folds can still reach them
    sem_folded = []
    for d, r in r2.items():
        if d >= 256:
            if d % 8 == 6:
                assert r["disposition"] == "exact", (d, r)
            elif d % 8 == 3:
                # the ingest-1 twin WAS kept out here (no audio asset
                # past 256) and folded — the semantic FOLD proof; its
                # absence (a stale state) would leave every one kept
                sem_folded.append(r["is_semantic_dup"])
                assert r["disposition"] in ("semantic", "kept"), (d, r)
            elif d % 16 == 2 or d % 8 == 5:
                sem_corpus.append(r["is_semantic_dup"])
                assert r["disposition"] in ("semantic", "kept"), (d, r)
            else:
                assert r["disposition"] == "kept", (d, r)
    assert sum(sem_corpus) >= 0.75 * len(sem_corpus) > 0
    assert sum(sem_folded) >= 0.75 * len(sem_folded) > 0, (
        "the semantic fold proof failed — ingest-2 near-copies of "
        "folded ingest-1 vectors were not flagged"
    )
    tag = corpus_tag(SF_SMOKE, "documents")
    folded = fold.tables("mmr3_", tag, fold.TIERS)
    assert len(folded) == 9
    for t in folded:
        frag = bucket_fragmentation(spark, t)
        assert 0 < frag <= 4, f"{t}: fragmentation {frag} past threshold"
    # the folded media assets carry the shared asset-id rule: the
    # ingest-1 keeps' rows enter the image and audio hash states keyed
    # doc_id*10 + 3 (the corpus rows keep their own doc*10 + 0/1/2 ids)
    kept_media = {
        (d + 600000) * 10 + 3 for d in media if r1[d]["disposition"] == "kept"
    }
    assert kept_media
    day0 = dict(zip(("imgh", "audh"), (_phash_state_tables, _afp_state_tables)))
    for t, tier in folded.items():
        if tier.stem in day0:
            state = day0[tier.stem](spark, SF_SMOKE)[0]
            base = {r[0] for r in state.select("asset_id").collect()}
            ids = {r[0] for r in spark.table(t).select("asset_id").collect()}
            assert ids - base == kept_media, (t, sorted(ids - base)[:5])


def test_drift_trigger_evaluated_inside_loops(spark):
    """The in-loop drift surfacing (r10 — VERDICT r9 item 3), both
    sides of the trigger:

    (a) the loops' own in-distribution batches report drift_ratio ≈ 1
        and refit_recommended False on every row (one constant pair per
        ingest — the trigger fires on distribution shifts, not on
        healthy crawls);
    (b) a PLANTED drifted ingest (the mean-shifted batch every refit
        query uses) evaluated through the same trigger expression
        against the same STORED score baseline blows the ratio out and
        fires the flag."""
    import firebird_mapreduce_spark.operators.similarity as S
    from firebird_mapreduce_spark.operators.relational import corpus_tag
    from firebird_mapreduce_spark.sources import load_table

    out = S.dedup_semantic_incremental(spark, SF_SMOKE)
    pairs = {
        r["ingest"]: r
        for r in out.select(
            "ingest", "drift_ratio", "refit_recommended"
        ).distinct().collect()
    }
    assert set(pairs) == {1, 2}, "drift columns not constant per ingest"
    for i in (1, 2):
        assert not pairs[i]["refit_recommended"], pairs[i]
        assert 0.5 < pairs[i]["drift_ratio"] < S.REFIT_RATIO, pairs[i]
    pq = {
        tuple(r)
        for r in S.embedding_knn_ivfpq_incremental(spark, SF_SMOKE)
        .select("drift_ratio", "refit_recommended")
        .distinct()
        .collect()
    }
    assert len(pq) == 1 and not next(iter(pq))[1], pq

    # (b) planted drift through the SAME trigger + stored baseline the
    # loop evaluates (the semv_score_ table the loop run above ensured)
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    assign = S.ensure_kmeans_exact_table(spark, SF_SMOKE, "raw", emb)
    cent = S.ensure_centroid_table(spark, SF_SMOKE, "raw", emb, assign)
    tag = corpus_tag(SF_SMOKE, "embeddings")
    baseline = spark.table(f"semv_score_{S.N_CENTROIDS}x3_{tag}")
    drifted = S._assign_to_centroids(
        S._quantized_components(S.drifted_embedding_batch(spark, SF_SMOKE)),
        cent,
    )
    flag = S._drift_trigger_frame(baseline, drifted).collect()[0]
    assert flag["refit_recommended"], flag
    assert flag["drift_ratio"] > S.REFIT_RATIO, flag


def test_sq8_codes_bounded_and_recall_vs_exact(spark):
    """SQ8 contract: codes ∈ [-127, 127] by construction (|x| <= max|x|)
    and the quantized top-10 keeps >= 8/10 of the exact cosine top-10 —
    the ~1% recall loss the 4x compression buys (measured 9-10/10 at
    sf0.001/0.01/0.1; pinned with headroom)."""
    from firebird_mapreduce_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    coded = emb.select(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
        ).alias("maxabs"),
        F.col("embedding"),
    ).filter(F.col("maxabs") > 0)
    bad = coded.select(
        F.exists(
            F.transform(
                "embedding",
                lambda x: F.round(
                    x.cast("double") * F.lit(127.0) / F.col("maxabs"), 0
                ).cast("int"),
            ),
            lambda c: (c > 127) | (c < -127),
        ).alias("oob")
    ).filter("oob")
    assert bad.count() == 0
    exact = {r["vec_id"] for r in S.embedding_knn(spark, SF_SMOKE).collect()}
    sq8 = {r["vec_id"] for r in S.embedding_sq8_knn(spark, SF_SMOKE).collect()}
    assert len(sq8) == 10 and 0 not in sq8
    assert len(exact & sq8) >= 8


def test_hybrid_rrf_fuses_both_arms(spark):
    """RRF contract: the fused list contains rank-1 of BOTH arms (each
    scores 1/61, beating any single-arm rank >= 2), any doc present in
    both arms outranks every single-arm doc it ties or beats per-arm,
    and the fused ordering is by the exact 2-term decimal sum."""
    rows = S.hybrid_retrieval_rrf(spark, SF_ORACLE).collect()
    assert len(rows) == 10
    by_doc = {r["doc_id"]: r for r in rows}
    sparse_r1 = [d for d, r in by_doc.items() if r["sparse_rank"] == 1]
    dense_r1 = [d for d, r in by_doc.items() if r["dense_rank"] == 1]
    assert sparse_r1 and dense_r1, "rank-1 of each arm must survive fusion"
    both = [r for r in rows if r["sparse_rank"] and r["dense_rank"]]
    single = [r for r in rows if not (r["sparse_rank"] and r["dense_rank"])]
    # at sf0.01 the corpus plants docs scoring in both arms; any such doc
    # sums two terms and must outrank every single-arm doc in the output
    if both and single:
        assert min(b["rrf_score"] for b in both) > max(
            s["rrf_score"] for s in single
        )
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_hybrid_rrf_ann_bit_equal_via_candidate_containment(spark):
    """The ANN-served RRF's correctness argument (r11), both halves:
    (a) CONTAINMENT — the exact dense top-RRF_DEPTH ids are all inside
    the SQ8 top-RRF_ANN_CAND candidate cut (recall@20-in-40 = 1.0 on
    this corpus: the sq8 misses sit within rank 12 per the measurement
    in SCALE.md "Similarity search"), which is the precondition under which the
    exact rerank makes the served arm bit-equal to the brute arm; and
    (b) the consequence — ``hybrid_retrieval_rrf_ann`` returns EXACTLY
    ``hybrid_retrieval_rrf``'s rows, so the brute oracle legitimately
    serves as the ANN spelling's oracle (rows-only would hide exactly
    a containment regression)."""
    from firebird_mapreduce_spark.sources import load_table

    for sf_dir in (SF_SMOKE, SF_ORACLE):
        emb = load_table(spark, sf_dir, "embeddings")
        query = S._query_vector(spark, sf_dir, S.QUERY_VEC_ID)
        exact20 = {
            r["vec_id"]
            for r in S.cosine_topk(
                emb.filter(F.col("vec_id") != S.QUERY_VEC_ID),
                query,
                S.RRF_DEPTH,
            ).collect()
        }
        cand40 = {
            r["vec_id"]
            for r in S.sq8_score_topk(
                S.ensure_sq8_codes_table(spark, sf_dir),
                S.QUERY_VEC_ID,
                S.RRF_ANN_CAND,
            ).collect()
        }
        missing = exact20 - cand40
        assert not missing, f"{sf_dir}: exact-top-20 ids {missing} not in sq8-top-40"
        brute = sorted(map(tuple, S.hybrid_retrieval_rrf(spark, sf_dir).collect()))
        served = sorted(
            map(tuple, S.hybrid_retrieval_rrf_ann(spark, sf_dir).collect())
        )
        assert brute == served, f"{sf_dir}: served fusion diverged from brute"


def test_sq8_incremental_fold_and_serving(spark):
    """The SQ8 maintenance loop (r11): odd sampled ingest-2 queries are
    near-copies of ingest-1's NEGATED survivors, so their top-1 must be
    the ingest-1 parent (+200000) — findable ONLY because the fold
    appended b1's codes into the bucketed state (a stale corpus-only
    state ranks nothing above ~0.47 cosine for them); even queries'
    top-1 stays in their near-copy family (the corpus source or its b1
    twin — both at cosine ~0.998).  State accounting: corpus rows + b1
    rows exactly once, and the fold's append left at most the
    compaction threshold's files per bucket."""
    from firebird_mapreduce_spark.operators.layout import bucket_fragmentation
    from firebird_mapreduce_spark.operators.relational import corpus_tag
    from firebird_mapreduce_spark.sources import load_table

    out = S.embedding_sq8_knn_incremental(spark, SF_SMOKE).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append((r["sim_sq8"], r["vec_id"]))
    assert by_q and all(len(v) == 10 for v in by_q.values())
    for q_id, v in by_q.items():
        top1 = max(v)[1]
        base = q_id - 400000
        if base % 2 == 1:
            assert top1 == base + 200000, (
                f"odd query {q_id}: top-1 {top1} is not its folded "
                "ingest-1 parent — the fold proof failed"
            )
        else:
            assert top1 in (base, base + 200000), (q_id, top1)
    n_corpus = load_table(spark, SF_SMOKE, "embeddings").count()
    tag = corpus_tag(SF_SMOKE, "embeddings")
    state = spark.table(f"sq8inc_codes_{tag}")
    assert state.count() == 2 * n_corpus, "state != corpus ∪ b1"
    frag = bucket_fragmentation(spark, f"sq8inc_codes_{tag}")
    assert 0 < frag <= 4, f"sq8inc fold fragmentation {frag}"


def test_assign_arrays_matches_exploded_spelling(spark):
    """The r11 MAP-ONLY enrollment (``_assign_to_centroids_arrays``) must
    be VALUE-IDENTICAL — cluster, exact decimal dist2, schema — to the
    exploded groupBy spelling it replaced in every serving path (the
    ``_pq_assign_arrays`` equality discipline on the full-dimension
    assign): the decimal(37,15) fold accumulator must reproduce the
    grouped F.sum bit-for-bit, and the struct argmin the grouped
    min-struct tie-breaking."""
    from firebird_mapreduce_spark.operators.pipeline import (
        ingest_embedding_batch,
    )
    from firebird_mapreduce_spark.operators.similarity import (
        _assign_to_centroids,
        _assign_to_centroids_arrays,
        _quantized_components,
        _semantic_state_tables,
    )

    cent = _semantic_state_tables(spark, SF_SMOKE)[2]
    for vecs in (
        ingest_embedding_batch(spark, SF_SMOKE),
        S.load_table(spark, SF_SMOKE, "embeddings").select(
            "vec_id", "embedding"
        ),
    ):
        old = _assign_to_centroids(_quantized_components(vecs), cent)
        new = _assign_to_centroids_arrays(vecs, cent)
        assert old.schema.simpleString() == new.schema.simpleString()
        assert new.count() == old.count() > 0
        mism = (
            old.alias("o")
            .join(new.alias("n"), "vec_id")
            .filter(
                (F.col("o.cluster") != F.col("n.cluster"))
                | (~F.col("o.dist2").eqNullSafe(F.col("n.dist2")))
            )
            .count()
        )
        assert mism == 0
