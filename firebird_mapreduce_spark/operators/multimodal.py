"""Multimodal column plumbing (north-star extension): image/audio/video
payloads as opaque ``binary`` columns with typed metadata, processed by
Arrow-batched pandas functions over ``mapInPandas``.

The decode step itself is STUBBED — the container has no image/audio
codecs — behind ``decoder_available()`` / ``FakeDecoder``: the Spark-side
plumbing (schema, partitioning, UDF signature, Arrow batch shape) is real
and tested; swapping the fake for Pillow/ffmpeg is a one-function change
on executors.

Scale notes: binary payloads dominate row size, so (a) metadata-only
queries must never deserialize ``content`` — keep metadata in ordinary
columns, not inside the blob; (b) ``spark.sql.files.maxPartitionBytes``
governs scan parallelism for ``binaryFile`` sources; (c) decode fan-out
should run ``mapInPandas`` with small Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch``) to bound executor
memory — 1000 × 10 MB images per batch is an OOM, not a tuning problem.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import png, wav
from ..sources import load_table
from ..sources.fixtures import materialise
from ..sources.readers import read_binary_dir

# Schema for a multimodal asset table: metadata columns first (queryable
# without touching bytes), payload last.
ASSET_SCHEMA = (
    "asset_id bigint, modality string, media_type string, "
    "width int, height int, duration_ms int, content binary"
)


def decoder_available(modality: str) -> bool:
    """True when a real codec for ``modality`` is importable on executors.

    ``"png"`` is always available: the engine ships a pure-stdlib PNG
    codec (``functions.png`` — zlib inflate + full unfilter), so PNG
    decode is real even in a container with no image libraries.  The
    ``"image"`` gate remains Pillow (arbitrary formats)."""
    if modality == "png":
        return True
    try:
        if modality == "image":
            import PIL  # noqa: F401
            return True
        if modality in ("audio", "video"):
            import av  # noqa: F401
            return True
    except ImportError:
        return False
    return False


class FakeDecoder:
    """Deterministic stand-in decoder: derives pseudo-features from the
    byte content so the full pipeline (schema, batching, grouping) runs and
    is testable without codecs.  Raises for modalities it cannot fake."""

    @staticmethod
    def image_features(content: bytes) -> tuple[int, int, float]:
        if content is None:
            raise NotImplementedError("real image decode requires Pillow on executors")
        # fake width/height/brightness from byte stats — deterministic
        n = len(content)
        width = 16 + (n % 64)
        height = 16 + ((n // 64) % 64)
        brightness = (sum(content[:256]) % 256) / 255.0 if n else 0.0
        return width, height, brightness


def extract_image_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Real pipeline shape: ``mapInPandas`` so each task streams batches —
    constant memory regardless of table size.  Uses the real decoder when
    available, the deterministic fake otherwise.
    """
    out_schema = "asset_id bigint, width int, height int, brightness double"

    # NOTE: the closure must be fully self-contained — cloudpickle
    # serializes module-level classes/functions from importable modules by
    # *reference*, and executors may not have this repo on sys.path when
    # the driver runs from another cwd.  Nested functions serialize by
    # value, so the decode logic is duplicated here from
    # FakeDecoder.image_features (kept in sync by test_multimodal_*).
    def decode(content: bytes) -> tuple[int, int, float]:
        if content is None:
            raise NotImplementedError(
                "real image decode requires Pillow on executors"
            )
        n = len(content)
        width = 16 + (n % 64)
        height = 16 + ((n // 64) % 64)
        brightness = (sum(content[:256]) % 256) / 255.0 if n else 0.0
        return width, height, brightness

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode(c) for c in pdf[content_col]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "brightness": [f[2] for f in feats],
                }
            )

    return df.mapInPandas(run, schema=out_schema)


def synthetic_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manufacture a multimodal asset table from ``documents`` (the corpus
    ships no binary fixture): text bytes become the payload, metadata is
    derived deterministically.  Exercises BinaryType end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


def binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: metadata over binary payloads — byte length and
    content hash — computed entirely JVM-side (never deserializing into
    Python).  md5 over the bytes equals DuckDB's md5 over the source
    varchar (both hash the UTF-8 byte sequence)."""
    assets = synthetic_assets(spark, sf_dir)
    return assets.select(
        "asset_id",
        "modality",
        F.length(F.col("content")).alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# assets per on-disk media fixture: documents with doc_id below these
_BINARY_ASSETS = 64
_PNG_ASSETS = 48
_WAV_ASSETS = 48


def _binary_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """One ``.bin`` file per document with ``doc_id < _BINARY_ASSETS``,
    bytes = the UTF-8 text, so the DuckDB oracle reproduces every file's
    length and md5 from the ``documents`` table."""

    def write(out_dir: str) -> None:
        rows = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _BINARY_ASSETS)
            .select("doc_id", "text")
            .collect()  # _BINARY_ASSETS tiny rows — fixture setup, not a data path
        )
        for row in rows:
            name = f"asset_{int(row['doc_id']):05d}.bin"
            with open(os.path.join(out_dir, name), "wb") as fh:
                fh.write(row["text"].encode("utf-8"))

    ids = _fixture_doc_ids(spark, sf_dir, _BINARY_ASSETS)
    return materialise(
        "binary",
        (sf_dir,),
        ".bin",
        [f"asset_{d:05d}.bin" for d in ids],
        write,
        spec=sorted(ids),
        code=(sys.modules[__name__],),
        corpus=(sf_dir, "documents"),
    )


def binary_file_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: metadata over REAL files read through Spark's
    ``binaryFile`` source (``sources.read_binary_dir``) — the actual
    multimodal ingestion point, not bytes manufactured in-plan.  The asset
    id is parsed from the file name; length and md5 are computed JVM-side
    on the ``content`` column.  At scale the same plan reads an object
    store prefix; ``spark.sql.files.maxPartitionBytes`` governs split
    parallelism and the ``path``/``length`` metadata columns are readable
    without fetching payload bytes."""
    fixture = _binary_fixture_dir(spark, sf_dir)
    files = read_binary_dir(spark, fixture, glob="*.bin")
    return files.select(
        F.regexp_extract(F.col("path"), r"asset_(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("asset_id"),
        F.length(F.col("content")).alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


def fake_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FakeDecoder pipeline over the synthetic image subset — kept as
    the documented plumbing demo for modalities with NO in-container
    codec (JPEG/MP3/video): schema, batching, and grouping are real,
    only the decode kernel is the deterministic stand-in.  The declared
    ``image_features`` query runs the REAL PNG decoder below (r4,
    VERDICT r3 item 3)."""
    assets = synthetic_assets(spark, sf_dir).filter(F.col("modality") == "image")
    return extract_image_features(assets)


# ---------------------------------------------------------------------------
# REAL image decode: deterministic PNG fixtures + an actual decoder
# (pure-stdlib PNG codec always; Pillow preferred when importable)
# ---------------------------------------------------------------------------


def _png_dims(doc_id: int) -> tuple[int, int, int]:
    """Deterministic (width, height, gray level) per asset — arithmetic a
    SQL oracle can re-derive, so the DECODED dimensions are externally
    checkable against files the decoder has actually parsed."""
    return 8 + doc_id % 24, 8 + (doc_id * 7) % 24, doc_id % 256


def _png_payload(doc_id: int) -> bytes:
    w, h, level = _png_dims(doc_id)
    return png.png_encode(w, h, bytes([level]) * (w * h * 3), filter_mode="mixed")


def _png_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize deterministic REAL PNG files (one per doc_id <
    ``_PNG_ASSETS``): valid signature, CRC-checked chunks, zlib IDAT, and
    a per-row filter cycle (0..4) so decoding must run every unfilter
    path.  Dimensions and the constant gray level derive from doc_id
    (``_png_dims``), which is what makes the decode oracle-checkable."""
    ids = _fixture_doc_ids(spark, sf_dir, _PNG_ASSETS)
    payloads = {f"asset_{d:05d}.png": (d,) for d in ids}
    return _asset_fixture("png", sf_dir, ".png", payloads, _png_payload, png)


def decode_png_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """REAL decode over PNG payloads: parse → inflate → unfilter → pixel
    stats, Arrow-batched via ``mapInPandas`` (same bounded-batch shape as
    ``extract_image_features``).  Pillow is used when importable on the
    executor (arbitrary formats); otherwise the engine's pure-stdlib PNG
    codec decodes — so this path never needs the fake.

    The codec travels BY VALUE inside the serialized closure
    (``cloudpickle.register_pickle_by_value`` on ``functions.png``), so
    executors need neither this repo on sys.path nor any image library —
    the same self-containment discipline as the inline closures above,
    without duplicating a 150-line codec."""
    out_schema = "asset_id bigint, width int, height int, mean_level int"

    from pyspark import cloudpickle

    from ..functions import png as _png_module

    cloudpickle.register_pickle_by_value(_png_module)
    png_decode = _png_module.png_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            from PIL import Image  # noqa: F401 — preferred when present
            import io

            def decode(blob: bytes) -> tuple[int, int, int]:
                img = Image.open(io.BytesIO(blob)).convert("RGB")
                px = img.tobytes()
                return img.width, img.height, sum(px) // len(px)

        except ImportError:

            def decode(blob: bytes) -> tuple[int, int, int]:
                w, h, rgb = png_decode(blob)
                return w, h, sum(rgb) // len(rgb)

        for pdf in batches:
            feats = [decode(bytes(c)) for c in pdf[content_col]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "mean_level": [f[2] for f in feats],
                }
            )

    return df.mapInPandas(run, schema=out_schema)


def image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: REAL image decode end-to-end — on-disk PNG files
    ingested through the ``binaryFile`` source, decoded (inflate +
    unfilter + pixel fold) in Arrow batches, emitting per-asset
    dimensions and mean 8-bit level.  Oracle-checkable because the
    fixture's dimensions/level derive from doc_id arithmetic
    (``_png_dims``): the oracle recomputes them relationally, so a
    decoder that misparsed IHDR, inflated wrongly, or skipped unfiltering
    would hash-mismatch.  At scale this is the standard multimodal
    ingestion plan: binaryFile scan split by ``maxPartitionBytes``,
    decode fan-out in bounded Arrow batches, metadata columns never
    touching payload bytes."""
    fixture = _png_fixture_dir(spark, sf_dir)
    files = read_binary_dir(spark, fixture, glob="*.png")
    assets = files.select(
        F.regexp_extract(F.col("path"), r"asset_(\d+)\.png$", 1)
        .cast("bigint")
        .alias("asset_id"),
        "content",
    )
    return decode_png_features(assets)


def image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query (oracle-backed since r4, previously the FakeDecoder
    stub): image FEATURE EXTRACTION over real on-disk PNGs — binaryFile
    scan → actual decode (zlib inflate + all-five unfilter via the
    pure-stdlib codec, Pillow when importable) → per-image features:
    decoded dimensions, brightness (mean 8-bit RGB level / 255), and
    aspect ratio.  Every feature is computed FROM THE DECODED PIXELS, and
    the fixture's pixels derive from doc_id arithmetic (``_png_dims``),
    so the DuckDB oracle re-derives the expected features relationally —
    a decoder that misparsed IHDR, mis-inflated, or skipped an unfilter
    pass hash-mismatches.  The FakeDecoder pipeline survives only as
    ``fake_image_features``, the plumbing demo for formats with no
    in-container codec.  At 100 TB this is the canonical
    training-data image pass: split-parallel binary scan, bounded Arrow
    decode batches, features land in ordinary columns for downstream
    filtering without re-touching payload bytes."""
    feats = image_decode(spark, sf_dir)
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round(F.col("mean_level") / F.lit(255.0), 6).alias("brightness"),
        F.round(
            F.col("width").cast("double") / F.col("height").cast("double"), 6
        ).alias("aspect_ratio"),
    )


def _wav_props(doc_id: int) -> tuple[int, int, int]:
    """Deterministic (sample_rate, n_samples, amplitude) per asset —
    doc_id arithmetic a SQL oracle re-derives.  Samples alternate
    ±amplitude (a square wave), so mean |sample| equals the amplitude
    exactly in integer arithmetic."""
    return 8000 + (doc_id % 8) * 1000, 256 + (doc_id % 512), (doc_id % 100) * 100


def _wav_payload(doc_id: int) -> bytes:
    rate, n, amp = _wav_props(doc_id)
    return wav.wav_encode(rate, [amp if i % 2 == 0 else -amp for i in range(n)])


def _wav_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize deterministic REAL WAV files (RIFF/fmt/data chunks,
    16-bit PCM square waves, ``_wav_props``) for doc_id < ``_WAV_ASSETS``."""
    ids = _fixture_doc_ids(spark, sf_dir, _WAV_ASSETS)
    payloads = {f"asset_{d:05d}.wav": (d,) for d in ids}
    return _asset_fixture("wav", sf_dir, ".wav", payloads, _wav_payload, wav)


def audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: REAL audio decode end-to-end — on-disk WAV files
    through the ``binaryFile`` source, RIFF chunk walk + PCM frame parse
    in Arrow batches, emitting per-asset sample rate, sample count, and
    mean |amplitude|.  Oracle-checkable because the fixture square waves
    derive from doc_id arithmetic (``_wav_props``).  Same closure
    discipline as ``decode_png_features``: the codec travels by value, so
    bare executors decode with stdlib only."""
    from pyspark import cloudpickle

    from ..functions import wav as _wav_module

    cloudpickle.register_pickle_by_value(_wav_module)
    wav_decode = _wav_module.wav_decode

    fixture = _wav_fixture_dir(spark, sf_dir)
    files = read_binary_dir(spark, fixture, glob="*.wav")
    assets = files.select(
        F.regexp_extract(F.col("path"), r"asset_(\d+)\.wav$", 1)
        .cast("bigint")
        .alias("asset_id"),
        "content",
    )
    out_schema = "asset_id bigint, sample_rate int, n_samples int, mean_abs int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, blob in zip(pdf["asset_id"], pdf["content"]):
                rate, _, samples = wav_decode(bytes(blob))
                mean_abs = sum(abs(s) for s in samples) // len(samples)
                rows.append((asset_id, rate, len(samples), mean_abs))
            yield pd.DataFrame(
                rows, columns=["asset_id", "sample_rate", "n_samples", "mean_abs"]
            )

    return assets.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# Image near-dup: perceptual hash (dHash) over decoded pixels — the
# multimodal tier of the dedup ladder (VERDICT r6 item 1)
# ---------------------------------------------------------------------------

# dHash geometry: images are 32x32 RGB, mean-pooled 4x4 into an 8x8 grid,
# hashed as 8 rows x 7 left-to-right comparisons = 56 bits — deliberately
# under 63 so the packed hash stays positive in a signed BIGINT on both
# engines (bit 63 would wrap Spark's shiftleft and overflow DuckDB's sum).
_PHASH_BASE = 256  # base assets: documents with doc_id < this
_PHASH_SIDE = 32
_PHASH_GRID = 8
_PHASH_BITS = 56
_PHASH_BANDS = 4  # 4 disjoint 14-bit bands
_PHASH_THRESHOLD = 3  # pairs at Hamming <= 3 are near-dups


def _phash_grid(doc_id: int, pert: int, salt: str = "ph") -> list[list[int]]:
    """The 8x8 block-gray grid for one fixture asset — md5-derived per
    cell (the ``_srp_weights`` idiom: reproducible on any engine with
    md5, and DECORRELATED across assets — a first cut used multiplicative
    hashing of ``seed + bx + 8*by``, whose grids are all shifts of one
    sequence, putting ~150 unrelated pairs at Hamming 0):

      g(bx,by)  = md5("{salt}|doc_id|bx|by")[:4 hex] % 200
      pert 1    = +1 everywhere   (global brightness shift: every strict
                  comparison is preserved, so the dHash is IDENTICAL —
                  the invariance that makes dHash a *perceptual* hash)
      pert 2    = +37 at (bx,by) = (4,3)  (one block retouched: only the
                  two comparisons that touch the block can flip, so the
                  Hamming distance to the base is <= 2)
      pert 3    = +19 at (bx,by) = (5,2)  (a second retouch site — the
                  incremental batch's near-copy class, <= 2 bits from
                  the base AND from every other base perturbation)

    ``salt`` decorrelates whole asset families: the incremental batch's
    genuinely-new images use "phb", giving hashes independent of every
    "ph" corpus asset.  Values stay in [0, 236] so nothing wraps a
    byte."""
    import hashlib

    grid = [
        [
            int(
                hashlib.md5(
                    f"{salt}|{doc_id}|{bx}|{by}".encode()
                ).hexdigest()[:4],
                16,
            )
            % 200
            for bx in range(8)
        ]
        for by in range(8)
    ]
    if pert == 1:
        grid = [[g + 1 for g in row] for row in grid]
    elif pert == 2:
        grid[3][4] += 37
    elif pert == 3:
        grid[2][5] += 19
    return grid


def _phash_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the perceptual-hash fixture: one 32x32 RGB PNG per
    asset, pixels constant over each 4x4 block at the ``_phash_grid``
    gray level (RGB = (g,g,g)), encoded with the cycling filter mode so
    decode runs every unfilter path.  Assets: every document with
    doc_id < ``_PHASH_BASE`` contributes a base image (id = doc_id*10);
    every 4th also a brightness-shifted near-copy (id+1) and every 8th a
    one-block retouch (id+2) — the planted near-dup classes."""
    doc_ids = _phash_doc_ids(spark, sf_dir)
    assets = [(d * 10, d, 0, "ph") for d in doc_ids]
    assets += [(d * 10 + 1, d, 1, "ph") for d in doc_ids if d % 4 == 0]
    assets += [(d * 10 + 2, d, 2, "ph") for d in doc_ids if d % 8 == 0]
    return _phash_assets_dir("phash", sf_dir, assets)


_FIXTURE_IDS_CACHE: dict[tuple, list[int]] = {}


def _fixture_doc_ids(spark: SparkSession, sf_dir: str, below: int) -> list[int]:
    """The document ids a fixture derives its assets from — ONE collect
    loop shared by every media fixture builder (binary, PNG, WAV, phash,
    audio fingerprint), so a future change to the id rule cannot silently
    desynchronize a fixture from its oracle's ids CTE.  A tiny driver
    fetch by construction, never a data path.  Memoized per
    (path, mtime, size, below) — the ``corpus_tag`` stat-signature
    discipline — so repeated fixture ensures in one process stop
    paying a Spark job each (r12: every media-query CONSTRUCTION was
    re-collecting the same id list)."""
    path = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size, below)
    ids = _FIXTURE_IDS_CACHE.get(key)
    if ids is None:
        ids = [
            int(r["doc_id"])
            for r in load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < below)
            .select("doc_id")
            .collect()
        ]
        _FIXTURE_IDS_CACHE[key] = ids
    return ids


def _phash_doc_ids(spark: SparkSession, sf_dir: str) -> list[int]:
    return _fixture_doc_ids(spark, sf_dir, _PHASH_BASE)


def _asset_fixture(
    kind: str, sf_dir: str, suffix: str, payloads: dict, encode, codec
) -> str:
    """``.fixtures/<kind>_<tag>`` through ``sources.fixtures.materialise``:
    one file per ``payloads`` entry (name -> ``encode(*args)``), signed by
    the entries, the ``codec`` module's source and this module's (the
    payload functions, sample generators and their constants)."""

    def write(out_dir: str) -> None:
        for name, args in payloads.items():
            with open(os.path.join(out_dir, name), "wb") as fh:
                fh.write(encode(*args))

    return materialise(
        kind,
        (sf_dir,),
        suffix,
        payloads,
        write,
        spec=sorted(payloads.items()),
        code=(codec, sys.modules[__name__]),
    )


def _phash_payload(doc_id: int, pert: int, salt: str) -> bytes:
    grid = _phash_grid(doc_id, pert, salt)
    rgb = bytearray()
    for y in range(_PHASH_SIDE):
        for x in range(_PHASH_SIDE):
            g = grid[y // 4][x // 4]
            rgb += bytes((g, g, g))
    return png.png_encode(_PHASH_SIDE, _PHASH_SIDE, bytes(rgb), filter_mode="mixed")


def _phash_assets_dir(
    kind: str, sf_dir: str, assets: list[tuple[int, int, int, str]]
) -> str:
    """One ``_phash_payload`` PNG per (asset_id, doc_id, pert, salt) row."""
    payloads = {f"asset_{aid:07d}.png": (d, pert, salt) for aid, d, pert, salt in assets}
    return _asset_fixture(kind, sf_dir, ".png", payloads, _phash_payload, png)


def phash_hashes(assets: DataFrame, content_col: str = "content") -> DataFrame:
    """(asset_id, phash): the 56-bit dHash computed FROM DECODED PIXELS —
    binary payload → PNG parse/inflate/unfilter → per-pixel gray
    ((r+g+b)//3) → 4x4 mean pooling to the 8x8 grid (integer sum//16) →
    row-wise left<right comparisons packed little-endian by position
    (pos = by*7 + bx).  Arrow-batched ``mapInPandas`` with the codec
    shipped by value (``decode_png_features``'s closure discipline), so
    the hash is a real decode product, not filename arithmetic."""
    from pyspark import cloudpickle

    from ..functions import png as _png_module

    cloudpickle.register_pickle_by_value(_png_module)
    png_decode = _png_module.png_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def hash_one(blob: bytes) -> int:
            w, h, rgb = png_decode(bytes(blob))
            gw, gh = w // 4, h // 4
            grid = [[0] * gw for _ in range(gh)]
            for by in range(gh):
                for bx in range(gw):
                    s = 0
                    for y in range(by * 4, by * 4 + 4):
                        base = (y * w + bx * 4) * 3
                        for x in range(4):
                            o = base + x * 3
                            s += (rgb[o] + rgb[o + 1] + rgb[o + 2]) // 3
                    grid[by][bx] = s // 16
            ph = 0
            for by in range(gh):
                for bx in range(gw - 1):
                    if grid[by][bx + 1] > grid[by][bx]:
                        ph |= 1 << (by * (gw - 1) + bx)
            return ph

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "phash": [hash_one(c) for c in pdf[content_col]],
                }
            )

    return assets.mapInPandas(run, schema="asset_id bigint, phash bigint")


def phash_pairs(hashes: DataFrame, threshold: int = _PHASH_THRESHOLD) -> DataFrame:
    """All asset pairs at Hamming distance <= ``threshold`` WITHOUT an
    all-pairs join: the 56-bit hash splits into ``_PHASH_BANDS`` disjoint
    14-bit bands (``_phash_band_keys`` — the ONE banding rule, shared
    with the incremental probe) and candidates must collide on at least
    one whole band — with threshold 3 < 4 bands the pigeonhole
    guarantees a true pair has some untouched band, so recall is 100% by
    construction (the ``dedup_simhash`` blocking argument at 56 bits).
    Distinct candidates are then exactly verified with
    ``bit_count(xor)`` — all JVM codegen."""
    keyed = _phash_band_keys(hashes)
    cand = (
        keyed.withColumnRenamed("asset_id", "a_id")
        .join(keyed.withColumnRenamed("asset_id", "b_id"), ["band", "bval"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    return (
        cand.join(
            hashes.select(
                F.col("asset_id").alias("a_id"), F.col("phash").alias("a_hash")
            ),
            "a_id",
        )
        .join(
            hashes.select(
                F.col("asset_id").alias("b_id"), F.col("phash").alias("b_hash")
            ),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a_hash").bitwiseXOR(F.col("b_hash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= threshold)
    )


def dedup_images_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: IMAGE near-duplicate detection via perceptual hash
    — the multimodal tier of the dedup ladder (exact → n-gram → MinHash →
    SimHash → semantic → **perceptual**): on-disk PNGs through the
    ``binaryFile`` source, REAL decode (inflate + all-five unfilter), a
    dHash over the mean-pooled gray grid, banded blocking, exact Hamming
    verification.  Finds every planted near-copy class: the global
    brightness shift lands at distance 0 (dHash's comparison structure is
    shift-invariant — the property that makes it perceptual) and the
    one-block retouch at distance <= 2; unrelated images sit near
    distance 28 (56 Bernoulli(~.5) bits), so threshold 3 separates
    cleanly — measured, with banding recall vs brute force, in
    tools/measure_phash.py / SCALE.md.

    Oracle-checkable end to end because the fixture pixels derive from
    doc_id arithmetic (``_phash_grid``): the DuckDB twin re-derives every
    asset's 56-bit hash RELATIONALLY (grid CTE → comparison bits →
    power-of-two sum) and replays the same band join + Hamming filter —
    a decoder that misparsed, mis-pooled, or mis-packed hash-mismatches
    (the ``image_features`` trick, r4, applied to hashing).

    At 100 TB: hashing is a map-only decode pass (bounded Arrow batches
    over binaryFile splits); the only shuffles are the 4-key-per-asset
    band join — Σ_bucket |bucket|², never N² — and the pair distinct.
    The same plan dedups a billion thumbnails: store (asset_id, phash)
    as a bucketed table and new crawls probe it incrementally exactly
    like ``dedup_incremental``'s hash screen."""
    fixture = _phash_fixture_dir(spark, sf_dir)
    files = read_binary_dir(spark, fixture, glob="*.png")
    assets = files.select(
        F.regexp_extract(F.col("path"), r"asset_(\d+)\.png$", 1)
        .cast("bigint")
        .alias("asset_id"),
        "content",
    )
    return phash_pairs(phash_hashes(assets))


def _phash_batch_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """The incremental INGEST fixture: one new image per corpus document
    (id = doc_id*10 + 5) — every 3rd a near-copy of its base (the pert-3
    one-block retouch, <= 2 bits from every base-family hash), the rest
    genuinely new images (the "phb" md5 salt decorrelates them from the
    whole corpus).  Separate directory from the corpus fixture so the
    batch scan never re-reads corpus files."""
    doc_ids = _phash_doc_ids(spark, sf_dir)
    assets = [
        (d * 10 + 5, d, 3, "ph") if d % 3 == 0 else (d * 10 + 5, d, 0, "phb")
        for d in doc_ids
    ]
    return _phash_assets_dir("phashb", sf_dir, assets)


def _phash_band_keys(hashes: DataFrame) -> DataFrame:
    """(band, bval, asset_id): the exploded banding keys both the
    self-join pair miner and the batch-vs-state membership probe join
    on — one extraction so the bucketing rule cannot drift (the
    ``banded_signatures`` discipline, hash-domain edition)."""
    width = _PHASH_BITS // _PHASH_BANDS
    return hashes.select(
        "asset_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bval"),
                    )
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("asset_id", F.col("bv.band").alias("band"), F.col("bv.bval").alias("bval"))


def _media_state_tables(
    spark: SparkSession,
    sf_dir: str,
    fixture_dir: str,
    suffix: str,
    hash_prefix: str,
    band_prefix: str,
) -> tuple[DataFrame, DataFrame]:
    """One media tier's persisted corpus state — the (asset_id, phash)
    hash table bucketed by id and the exploded (band, bval, asset_id)
    banding table bucketed by its join key — built from ONE corpus
    decode+fingerprint pass (memoized + checkpointed, the
    measure_afp.py discipline, so a cold warehouse never decodes the
    corpus assets twice) and shared by the incremental screens and the
    unified ingest queries, so they all probe literally the same
    tables.  One helper for both modalities: the image and audio tiers
    differ only in fixture, codec and table names."""
    from .relational import corpus_tag, ensure_bucketed_table

    fingerprint = phash_hashes if suffix == "png" else audio_fingerprints
    tag = corpus_tag(sf_dir, "documents")
    fps_cache: list[DataFrame] = []

    def corpus_fps() -> DataFrame:
        if not fps_cache:
            files = read_binary_dir(spark, fixture_dir, glob=f"*.{suffix}")
            fps_cache.append(
                fingerprint(
                    files.select(
                        F.regexp_extract(
                            F.col("path"), rf"asset_(\d+)\.{suffix}$", 1
                        )
                        .cast("bigint")
                        .alias("asset_id"),
                        "content",
                    )
                ).localCheckpoint(eager=True)
            )
        return fps_cache[0]

    state_hashes = ensure_bucketed_table(
        spark, hash_prefix, tag, 8, ["asset_id"], corpus_fps
    )
    state_bands = ensure_bucketed_table(
        spark,
        band_prefix,
        tag,
        8,
        ["band", "bval"],
        lambda: _phash_band_keys(corpus_fps()),
    )
    return state_hashes, state_bands


def _phash_state_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The IMAGE tier's persisted corpus state (see
    ``_media_state_tables``)."""
    return _media_state_tables(
        spark,
        sf_dir,
        _phash_fixture_dir(spark, sf_dir),
        "png",
        "phash_hashes_",
        "phash_bands_",
    )


def dedup_images_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IMAGE ingest dedup — ``dedup_incremental``'s daily-
    crawl shape on the multimodal tier: a NEW batch of images screens
    against the EXISTING corpus's persisted perceptual-hash state, never
    re-hashing or self-joining the corpus.

      state    the corpus fixture is decoded ONCE and persisted as two
               bucketed tables (``ensure_bucketed_table``, pay-once per
               corpus): the (asset_id, phash) hash table bucketed by id
               — the rerank's a-side — and the exploded (band, bval,
               asset_id) banding table bucketed by its join key;
      batch    the ingest directory's images are decoded per call (a
               batch's hashes are independent rows — map-only), banded,
               and PROBED against the state band table on (band, bval)
               — a batch×state membership join;
      verify   candidates fetch the state hash bucketed by id and the
               exact ``bit_count(xor) <= 3`` decides; each flagged
               image reports its smallest state partner.

    Output: (asset_id, kept, dup_of) for every batch image.  Every 3rd
    batch image is a planted one-block retouch of its corpus base
    (flagged, dup_of = the base); the rest are genuinely new (the md5
    salt decorrelates them — kept).  The oracle replays both fixture
    families' grid arithmetic, the banding, and the screen relationally
    — same contract as ``dedup_images_phash``.

    At 100 TB this is the daily thumbnail crawl: hash state lives as
    bucketed warehouse tables maintained by O(batch) appends (the
    ``_ensure_folded_state`` machinery applies verbatim when ingests
    chain), each day's screen costs O(|batch| + matched buckets), and
    the corpus is never rescanned."""
    state_hashes, state_bands = _phash_state_tables(spark, sf_dir)
    batch_dir = _phash_batch_fixture_dir(spark, sf_dir)
    batch = phash_hashes(
        read_binary_dir(spark, batch_dir, glob="*.png").select(
            F.regexp_extract(F.col("path"), r"asset_(\d+)\.png$", 1)
            .cast("bigint")
            .alias("asset_id"),
            "content",
        )
    ).localCheckpoint(eager=False)  # consumed by the probe AND the report
    return _hash_incremental_screen(state_hashes, state_bands, batch)


def _hash_incremental_screen(
    state_hashes: DataFrame, state_bands: DataFrame, batch: DataFrame
) -> DataFrame:
    """The batch×state membership screen shared by the IMAGE and AUDIO
    incremental tiers (their state schemas are identical — one blocking
    rule across modalities): the batch's band keys probe the state band
    table on (band, bval), candidates verify exactly
    (``bit_count(xor) <= 3``) against the bucketed state hash table, and
    each flagged batch asset reports its smallest state partner.
    Output: (asset_id, kept, dup_of) for every batch asset.

    r12 shape (guide §2.4, VERDICT r11 item 8): the batch hash rides
    THROUGH the band probe as ``b_hash``, so the verify needs no join
    back to the batch, and the candidate ``.distinct()`` is gone — a
    pair colliding on several bands reaches the Hamming filter up to
    ``_PHASH_BANDS`` times, which the final ``min(a_id)`` aggregate
    absorbs (dedup-invariant), trading a bounded ≤4× verify fan-in for
    TWO fewer exchanges per tier (the unified screen's pinned count
    dropped 26 → 22, test_bucketing.py; output pinned against brute
    force in tests/test_llm_ops.py's incremental-screen tests).  The
    rerank bound at scale is unchanged in kind: band-collision volume
    was always the screen's cost driver, the distinct only
    deduplicated it after the first shuffle."""
    matched = (
        _phash_band_keys_with_hash(batch)
        .join(
            state_bands.withColumnRenamed("asset_id", "a_id"),
            ["band", "bval"],
        )
        .join(
            state_hashes.select(
                F.col("asset_id").alias("a_id"), F.col("phash").alias("a_hash")
            ),
            "a_id",
        )
        .filter(
            F.bit_count(F.col("a_hash").bitwiseXOR(F.col("b_hash")))
            <= _PHASH_THRESHOLD
        )
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
        .withColumnRenamed("b_id", "asset_id")
    )
    return batch.select("asset_id").join(matched, "asset_id", "left").select(
        "asset_id", F.col("dup_of").isNull().alias("kept"), "dup_of"
    )


def _phash_band_keys_with_hash(hashes: DataFrame) -> DataFrame:
    """(band, bval, b_id, b_hash): ``_phash_band_keys`` with the source
    hash carried through the explode — the batch side of the
    incremental screen, where keeping ``phash`` on the key rows saves
    the verify's join back to the batch (one exchange)."""
    width = _PHASH_BITS // _PHASH_BANDS
    return hashes.select(
        F.col("asset_id").alias("b_id"),
        F.col("phash").alias("b_hash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bval"),
                    )
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select(
        "b_id",
        "b_hash",
        F.col("bv.band").alias("band"),
        F.col("bv.bval").alias("bval"),
    )


# DuckDB twin of dedup_images_phash: re-derive each asset's 56-bit dHash
# relationally from the _phash_grid arithmetic (grid CTE -> row-wise
# comparison bits -> exact power-of-two sum; 2^55 and the 56-bit sum both
# fit BIGINT), then the same 14-bit band join + Hamming <= 3 verify.
DEDUP_IMAGES_PHASH_ORACLE_SQL = f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_PHASH_BASE}),
assets AS (
    SELECT doc_id * 10 AS id, doc_id, 0 AS pert FROM ids
    UNION ALL
    SELECT doc_id * 10 + 1, doc_id, 1 FROM ids WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id * 10 + 2, doc_id, 2 FROM ids WHERE doc_id % 8 = 0
),
grid AS (
    SELECT a.id, bx.i AS bx, by.i AS by,
           CAST('0x' || substr(md5('ph|' || CAST(a.doc_id AS VARCHAR) || '|'
                                  || CAST(bx.i AS VARCHAR) || '|'
                                  || CAST(by.i AS VARCHAR)), 1, 4) AS BIGINT) % 200
           + CASE WHEN a.pert = 1 THEN 1
                  WHEN a.pert = 2 AND bx.i = 4 AND by.i = 3 THEN 37
                  ELSE 0 END AS g
    FROM assets a, range(0, {_PHASH_GRID}) bx(i), range(0, {_PHASH_GRID}) by(i)
),
hashes AS (
    SELECT l.id,
           CAST(sum(CASE WHEN r.g > l.g
                         THEN CAST(power(2, l.by * 7 + l.bx) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS phash
    FROM grid l JOIN grid r ON r.id = l.id AND r.by = l.by AND r.bx = l.bx + 1
    GROUP BY l.id
),
banded AS (
    SELECT id, phash, b.b AS band,
           (phash // CAST(power(2, b.b * 14) AS BIGINT)) % 16384 AS bval
    FROM hashes, range(0, {_PHASH_BANDS}) b(b)
)
SELECT DISTINCT a.id AS a_id, b.id AS b_id,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM banded a JOIN banded b ON a.band = b.band AND a.bval = b.bval AND a.id < b.id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_THRESHOLD}
"""

# DuckDB twin of dedup_images_phash_incremental: both fixture families'
# grids re-derived relationally (the batch's pert-3 retouch and "phb"
# salt included), corpus-vs-batch band membership join, exact Hamming
# verify, min-partner disposition per batch image.
DEDUP_IMAGES_PHASH_INCREMENTAL_ORACLE_SQL = f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_PHASH_BASE}),
corpus AS (
    SELECT doc_id * 10 AS id, doc_id, 0 AS pert, 'ph' AS salt FROM ids
    UNION ALL
    SELECT doc_id * 10 + 1, doc_id, 1, 'ph' FROM ids WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id * 10 + 2, doc_id, 2, 'ph' FROM ids WHERE doc_id % 8 = 0
),
batch AS (
    SELECT doc_id * 10 + 5 AS id, doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 0 END AS pert,
           CASE WHEN doc_id % 3 = 0 THEN 'ph' ELSE 'phb' END AS salt
    FROM ids
),
allassets AS (
    SELECT id, doc_id, pert, salt, 'c' AS side FROM corpus
    UNION ALL
    SELECT id, doc_id, pert, salt, 'b' FROM batch
),
grid AS (
    SELECT a.id, a.side, bx.i AS bx, by.i AS by,
           CAST('0x' || substr(md5(a.salt || '|' || CAST(a.doc_id AS VARCHAR)
                                  || '|' || CAST(bx.i AS VARCHAR) || '|'
                                  || CAST(by.i AS VARCHAR)), 1, 4) AS BIGINT) % 200
           + CASE WHEN a.pert = 1 THEN 1
                  WHEN a.pert = 2 AND bx.i = 4 AND by.i = 3 THEN 37
                  WHEN a.pert = 3 AND bx.i = 5 AND by.i = 2 THEN 19
                  ELSE 0 END AS g
    FROM allassets a, range(0, {_PHASH_GRID}) bx(i), range(0, {_PHASH_GRID}) by(i)
),
hashes AS (
    SELECT l.id, l.side,
           CAST(sum(CASE WHEN r.g > l.g
                         THEN CAST(power(2, l.by * 7 + l.bx) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS phash
    FROM grid l JOIN grid r ON r.id = l.id AND r.side = l.side
                           AND r.by = l.by AND r.bx = l.bx + 1
    GROUP BY l.id, l.side
),
banded AS (
    SELECT id, side, phash, b.b AS band,
           (phash // CAST(power(2, b.b * 14) AS BIGINT)) % 16384 AS bval
    FROM hashes, range(0, {_PHASH_BANDS}) b(b)
),
cand AS (
    SELECT DISTINCT s.id AS a_id, bt.id AS b_id
    FROM banded bt JOIN banded s
      ON s.band = bt.band AND s.bval = bt.bval
     AND s.side = 'c' AND bt.side = 'b'
),
matched AS (
    SELECT c.b_id AS asset_id, min(c.a_id) AS dup_of
    FROM cand c
    JOIN hashes ha ON ha.id = c.a_id AND ha.side = 'c'
    JOIN hashes hb ON hb.id = c.b_id AND hb.side = 'b'
    WHERE bit_count(xor(ha.phash, hb.phash)) <= {_PHASH_THRESHOLD}
    GROUP BY c.b_id
)
SELECT b.id AS asset_id, m.dup_of IS NULL AS kept, m.dup_of
FROM batch b LEFT JOIN matched m ON m.asset_id = b.id
"""



def _funnel_image_fixture_dir(sf_dir: str, doc_ids: list[int]) -> str:
    """One PNG per DOCUMENT (``doc_ids``: doc_id < ``_PHASH_BASE``) for the
    multimodal curation funnel: doc d's image derives from base_doc =
    d - d%4 with pert = d%4 under the "phf" salt — every 4-doc group
    shares one base image family (pert 1 = the brightness shift, hash
    IDENTICAL to the base; perts 2/3 = one-block retouches <= 2 bits),
    so each group is an image near-dup cluster while different groups
    stay md5-decorrelated.  The funnel's image stage must therefore
    keep ~1 doc per surviving group.  Same grid arithmetic
    (``_phash_grid``) and writer as the dedup fixtures, so the oracle
    re-derives every hash relationally."""
    assets = [(d, d - d % 4, d % 4, "phf") for d in doc_ids]
    return _phash_assets_dir("phf", sf_dir, assets)


# ---------------------------------------------------------------------------
# Audio near-dup: band-energy fingerprint over DECODED PCM frames — the
# last multimodal tier of the dedup ladder (VERDICT r7 item 4).  The
# phash recipe transplanted to audio: fixture samples derived from doc_id
# arithmetic so DuckDB re-derives every fingerprint relationally, banded
# blocking, exact Hamming verify.
# ---------------------------------------------------------------------------

_AFP_BASE = 256  # base assets: documents with doc_id < this
_AFP_WINDOWS = 57  # 56 adjacent-energy comparisons -> 56-bit fingerprint
_AFP_WIN = 16  # samples per window (even, so the square wave's mean|s| is exact)
_AFP_RATE = 8000


def _afp_amplitudes(doc_id: int, pert: int, salt: str = "au") -> list[int]:
    """Per-window square-wave amplitudes for one fixture asset —
    md5-derived per window (the ``_phash_grid`` idiom: reproducible on
    any engine with md5, decorrelated across assets and windows):

      a(w)    = md5("{salt}|doc_id|w")[:4 hex] % 2000
      pert 1  = ×2 everywhere  (a GAIN shift: every strict energy
                comparison is preserved, so the fingerprint is
                IDENTICAL — the invariance that makes an energy-contour
                fingerprint perceptual rather than sample-exact)
      pert 2  = +700 at window 13  (one window re-recorded loudly:
                only the two comparisons touching it can flip — Hamming
                <= 2 — and at ~1/3 of the amplitude range the edit
                usually flips at least one, so the class is visibly
                non-vacuous)
      pert 3  = +700 at window 29  (a second edit site — the
                incremental batch's near-copy class, <= 2 bits from the
                base AND from its gain copy)

    Amplitudes stay <= 3998 after the gain shift, well inside int16.
    ``salt`` decorrelates whole clip families: the incremental batch's
    genuinely-new clips use "aub"."""
    import hashlib

    amps = [
        int(hashlib.md5(f"{salt}|{doc_id}|{w}".encode()).hexdigest()[:4], 16)
        % 2000
        for w in range(_AFP_WINDOWS)
    ]
    if pert == 1:
        amps = [a * 2 for a in amps]
    elif pert == 2:
        amps[13] += 700
    elif pert == 3:
        amps[29] += 700
    return amps


def _afp_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the audio-fingerprint fixture: one REAL WAV (RIFF/
    fmt/data, 16-bit PCM) per asset — 57 windows × 16 samples of
    alternating ±amplitude, so each window's decoded mean |sample|
    equals its ``_afp_amplitudes`` value exactly in integer arithmetic.
    Assets mirror the phash families: every doc_id < ``_AFP_BASE``
    contributes a base clip (id = doc_id*10), every 4th also a
    gain-shifted copy (id+1) and every 8th a one-window edit (id+2)."""
    doc_ids = _fixture_doc_ids(spark, sf_dir, _AFP_BASE)
    assets = [(d * 10, d, 0, "au") for d in doc_ids]
    assets += [(d * 10 + 1, d, 1, "au") for d in doc_ids if d % 4 == 0]
    assets += [(d * 10 + 2, d, 2, "au") for d in doc_ids if d % 8 == 0]
    return _afp_assets_dir("afp", sf_dir, assets)


def _afp_payload(doc_id: int, pert: int, salt: str) -> bytes:
    amps = _afp_amplitudes(doc_id, pert, salt)
    samples = [a if i % 2 == 0 else -a for a in amps for i in range(_AFP_WIN)]
    return wav.wav_encode(_AFP_RATE, samples)


def _afp_assets_dir(
    kind: str, sf_dir: str, assets: list[tuple[int, int, int, str]]
) -> str:
    """One ``_afp_payload`` WAV per (asset_id, doc_id, pert, salt) row."""
    payloads = {f"asset_{aid:07d}.wav": (d, pert, salt) for aid, d, pert, salt in assets}
    return _asset_fixture(kind, sf_dir, ".wav", payloads, _afp_payload, wav)


def audio_fingerprints(assets: DataFrame, content_col: str = "content") -> DataFrame:
    """(asset_id, phash): the 56-bit band-energy fingerprint computed
    FROM DECODED PCM — RIFF chunk walk → 16-bit frames → per-window mean
    |sample| (integer) → adjacent-window energy comparisons packed
    little-endian (bit w set iff e[w+1] > e[w]).  The column is named
    ``phash`` deliberately: the fingerprint shares the 56-bit/4-band
    geometry, so the banding + exact-Hamming pair miner
    (``phash_pairs``/``_phash_band_keys``) is literally shared with the
    image tier — one blocking rule, two modalities.  Arrow-batched
    ``mapInPandas`` with the codec shipped by value."""
    from pyspark import cloudpickle

    from ..functions import wav as _wav_module

    cloudpickle.register_pickle_by_value(_wav_module)
    wav_decode = _wav_module.wav_decode
    win = _AFP_WIN

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fingerprint(blob: bytes) -> int:
            _, _, samples = wav_decode(bytes(blob))
            n_win = len(samples) // win
            energies = [
                sum(abs(s) for s in samples[w * win : (w + 1) * win]) // win
                for w in range(n_win)
            ]
            fp = 0
            for w in range(n_win - 1):
                if energies[w + 1] > energies[w]:
                    fp |= 1 << w
            return fp

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "phash": [fingerprint(c) for c in pdf[content_col]],
                }
            )

    return assets.mapInPandas(run, schema="asset_id bigint, phash bigint")


def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: AUDIO near-duplicate detection via band-energy
    fingerprint — the dedup ladder's last multimodal tier (exact →
    n-gram → MinHash → SimHash → semantic → image-perceptual →
    **audio**): on-disk WAVs through the ``binaryFile`` source, REAL
    PCM decode, a 56-bit energy-contour fingerprint, then the SAME
    banded blocking + exact Hamming verify as the image tier
    (``phash_pairs`` — pigeonhole-complete at Hamming <= 3).  Planted
    perturbation classes behave as a perceptual fingerprint must: the
    GAIN shift lands at distance 0 (energy contour is scale-invariant)
    and the one-window edit at distance <= 2; unrelated clips sit near
    distance 28 (56 Bernoulli(~.5) bits), measured with banding recall
    vs brute force in tools/measure_afp.py / SCALE.md.

    Oracle-checkable end to end because the fixture amplitudes derive
    from doc_id arithmetic (``_afp_amplitudes``): the DuckDB twin
    re-derives every clip's fingerprint RELATIONALLY (window-amplitude
    CTE → adjacent comparisons → power-of-two sum) and replays the band
    join + Hamming filter — a decoder that misparsed chunks, dropped
    frames, or mis-averaged windows hash-mismatches.

    At 100 TB: fingerprinting is a map-only decode pass over binaryFile
    splits; shuffles are the 4-key-per-clip band join (Σ|bucket|²,
    never N²) and the pair distinct.  The incremental daily-crawl shape
    is ``dedup_images_phash_incremental``'s batch×state membership
    probe verbatim — the state tables have identical schemas."""
    fixture = _afp_fixture_dir(spark, sf_dir)
    files = read_binary_dir(spark, fixture, glob="*.wav")
    assets = files.select(
        F.regexp_extract(F.col("path"), r"asset_(\d+)\.wav$", 1)
        .cast("bigint")
        .alias("asset_id"),
        "content",
    )
    return phash_pairs(audio_fingerprints(assets))


def _afp_batch_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """The audio incremental INGEST fixture: one new clip per corpus
    document (id = doc_id*10 + 5) — every 3rd a one-window re-record of
    its base (pert 3: +700 at window 29, <= 2 bits from every
    base-family fingerprint), the rest genuinely new clips (the "aub"
    md5 salt decorrelates them from the whole corpus).  Separate
    directory so the batch scan never re-reads corpus files — the
    ``_phash_batch_fixture_dir`` discipline on the audio tier."""
    doc_ids = _fixture_doc_ids(spark, sf_dir, _AFP_BASE)
    assets = [
        (d * 10 + 5, d, 3, "au") if d % 3 == 0 else (d * 10 + 5, d, 0, "aub")
        for d in doc_ids
    ]
    return _afp_assets_dir("afpb", sf_dir, assets)


def _funnel_audio_fixture_dir(sf_dir: str, doc_ids: list[int]) -> str:
    """One WAV per DOCUMENT (``doc_ids``: doc_id < ``_AFP_BASE``) for the
    multimodal curation funnel: doc d's clip derives from base_doc = d - d%8
    with pert = d%4 under the "auf" salt — every EIGHT-doc group shares one
    base clip family (pert 1 = the gain shift, fingerprint IDENTICAL to
    the base; perts 2/3 = one-window re-records <= 2 bits), while
    different groups stay md5-decorrelated.  The audio groups
    deliberately SPAN TWO image groups (image families are 4-doc,
    ``_funnel_image_fixture_dir``): with 4-doc audio groups the image
    stage would already have reduced every audio cluster to one
    survivor and the stage would be vacuous — at 8 docs the two image
    survivors of the span (d ≡ 0 and 4 mod 8, both pert 0 ⇒ identical
    fingerprints) collide in audio, so the stage verifiably drops rows
    the image stage could not.  Same amplitude arithmetic
    (``_afp_amplitudes``) and writer as the dedup fixtures, so the
    oracle re-derives every fingerprint relationally."""
    assets = [(d, d - d % 8, d % 4, "auf") for d in doc_ids]
    return _afp_assets_dir("auf", sf_dir, assets)


def _ingest_image_batch_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """The unified ingest screen's IMAGE delivery: one PNG per base doc
    (doc_id < ``_PHASH_BASE``, asset_id = doc_id) — docs with d % 8 in
    (0, 2) carry a pert-3 near-copy of their corpus base family (the
    "ph" salt, <= 2 bits from the state's base asset), the rest
    genuinely new images (the "igb" salt decorrelates them from the
    whole corpus).  The residue classes are chosen against the batch
    TEXT rule (d%4: 0 exact / 1 near / 2-3 new): d%8 == 2 is a NEW-text
    doc whose image flags — the image tier's own disposition — while
    d%8 == 0 is an EXACT-text doc whose image also flags, pinning the
    disposition precedence."""
    doc_ids = _fixture_doc_ids(spark, sf_dir, _PHASH_BASE)
    assets = [
        (d, d, 3, "ph") if d % 8 in (0, 2) else (d, d, 0, "igb")
        for d in doc_ids
    ]
    return _phash_assets_dir("igb", sf_dir, assets)


def _ingest_audio_batch_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """The unified ingest screen's AUDIO delivery: one WAV per base doc
    (asset_id = doc_id) — docs with d % 8 in (1, 3) carry a pert-3
    one-window re-record of their corpus base clip (the "au" salt,
    <= 2 bits from the state), the rest genuinely new clips ("agb"
    salt).  d%8 == 3 is a NEW-text doc (audio is the only tier that
    flags it); d%8 == 1 is a NEAR-text doc whose audio also flags —
    the near > audio precedence pin."""
    doc_ids = _fixture_doc_ids(spark, sf_dir, _AFP_BASE)
    assets = [
        (d, d, 3, "au") if d % 8 in (1, 3) else (d, d, 0, "agb")
        for d in doc_ids
    ]
    return _afp_assets_dir("agb", sf_dir, assets)


def _ingest2_image_batch_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """The unified tworound loop's SECOND image delivery: docs with
    d % 8 == 7 carry a pert-2 one-block retouch of the "igb" family —
    i.e. of the image their own INGEST-1 doc delivered (d%8 == 7 docs
    are deterministically kept in ingest 1: new text, new media), so
    the batch-2 image flags IFF ingest 1's image was folded into the
    state — the fold probe, image edition.  The rest are genuinely new
    ("igb2" salt)."""
    doc_ids = _fixture_doc_ids(spark, sf_dir, _PHASH_BASE)
    assets = [
        (d, d, 2, "igb") if d % 8 == 7 else (d, d, 0, "igb2")
        for d in doc_ids
    ]
    return _phash_assets_dir("igb2", sf_dir, assets)


def _ingest2_audio_batch_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """The unified tworound loop's SECOND audio delivery: docs with
    d % 8 == 6 carry a pert-2 one-window re-record of the "agb" family
    (their own deterministically-kept ingest-1 clip) — the audio fold
    probe; the rest genuinely new ("agb2" salt)."""
    doc_ids = _fixture_doc_ids(spark, sf_dir, _AFP_BASE)
    assets = [
        (d, d, 2, "agb") if d % 8 == 6 else (d, d, 0, "agb2")
        for d in doc_ids
    ]
    return _afp_assets_dir("agb2", sf_dir, assets)


def _afp_state_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The AUDIO tier's persisted corpus state — identical schemas to
    the image tier's (see ``_media_state_tables``)."""
    return _media_state_tables(
        spark,
        sf_dir,
        _afp_fixture_dir(spark, sf_dir),
        "wav",
        "afp_hashes_",
        "afp_bands_",
    )


def dedup_audio_fingerprint_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental AUDIO ingest dedup — the daily-crawl screen on the
    audio tier, completing the incremental family across every modality
    (text, vectors, PQ codes, images, now audio): the corpus's
    fingerprints persist ONCE as the same two bucketed state tables as
    the image tier ((asset_id, phash) by id + (band, bval, asset_id) by
    join key — IDENTICAL schemas, one state layout for both
    modalities), and each new batch of clips decodes only its own
    files, bands, and probes the state by band membership — the
    batch×state screen is ``_hash_incremental_screen``, shared function
    not shared pattern.

    Output: (asset_id, kept, dup_of) for every batch clip.  Every 3rd
    batch clip is a planted one-window re-record of its corpus base
    (flagged, dup_of = the base); the rest are salt-decorrelated new
    clips (kept).  The oracle replays both fixture families' amplitude
    arithmetic, the banding, and the screen relationally.

    At 100 TB this is the podcast/speech crawl: fingerprint state grows
    by O(batch) bucket appends (``_ensure_folded_state`` when ingests
    chain), each day's screen costs O(|batch| + matched buckets), and
    the corpus is never re-decoded."""
    state_hashes, state_bands = _afp_state_tables(spark, sf_dir)
    batch_dir = _afp_batch_fixture_dir(spark, sf_dir)
    batch = audio_fingerprints(
        read_binary_dir(spark, batch_dir, glob="*.wav").select(
            F.regexp_extract(F.col("path"), r"asset_(\d+)\.wav$", 1)
            .cast("bigint")
            .alias("asset_id"),
            "content",
        )
    ).localCheckpoint(eager=False)
    return _hash_incremental_screen(state_hashes, state_bands, batch)


# DuckDB twin of dedup_audio_fingerprint_incremental: both clip
# families' energies re-derived relationally (the batch's pert-3 second
# edit site and "aub" salt included), corpus-vs-batch band membership
# join, exact Hamming verify, min-partner disposition per batch clip.
DEDUP_AUDIO_FP_INCREMENTAL_ORACLE_SQL = f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_AFP_BASE}),
corpus AS (
    SELECT doc_id * 10 AS id, doc_id, 0 AS pert, 'au' AS salt FROM ids
    UNION ALL
    SELECT doc_id * 10 + 1, doc_id, 1, 'au' FROM ids WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id * 10 + 2, doc_id, 2, 'au' FROM ids WHERE doc_id % 8 = 0
),
batch AS (
    SELECT doc_id * 10 + 5 AS id, doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 0 END AS pert,
           CASE WHEN doc_id % 3 = 0 THEN 'au' ELSE 'aub' END AS salt
    FROM ids
),
allclips AS (
    SELECT id, doc_id, pert, salt, 'c' AS side FROM corpus
    UNION ALL
    SELECT id, doc_id, pert, salt, 'b' FROM batch
),
en AS (
    SELECT a.id, a.side, w.i AS w,
           (CAST('0x' || substr(md5(a.salt || '|'
                                  || CAST(a.doc_id AS VARCHAR) || '|'
                                  || CAST(w.i AS VARCHAR)), 1, 4) AS BIGINT)
            % 2000)
           * (CASE WHEN a.pert = 1 THEN 2 ELSE 1 END)
           + (CASE WHEN a.pert = 2 AND w.i = 13 THEN 700
                   WHEN a.pert = 3 AND w.i = 29 THEN 700
                   ELSE 0 END) AS e
    FROM allclips a, range(0, {_AFP_WINDOWS}) w(i)
),
hashes AS (
    SELECT l.id, l.side,
           CAST(sum(CASE WHEN r.e > l.e
                         THEN CAST(power(2, l.w) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS phash
    FROM en l JOIN en r ON r.id = l.id AND r.side = l.side
                       AND r.w = l.w + 1
    GROUP BY l.id, l.side
),
banded AS (
    SELECT id, side, phash, b.b AS band,
           (phash // CAST(power(2, b.b * 14) AS BIGINT)) % 16384 AS bval
    FROM hashes, range(0, {_PHASH_BANDS}) b(b)
),
cand AS (
    SELECT DISTINCT s.id AS a_id, bt.id AS b_id
    FROM banded bt JOIN banded s
      ON s.band = bt.band AND s.bval = bt.bval
     AND s.side = 'c' AND bt.side = 'b'
),
matched AS (
    SELECT c.b_id AS asset_id, min(c.a_id) AS dup_of
    FROM cand c
    JOIN hashes ha ON ha.id = c.a_id AND ha.side = 'c'
    JOIN hashes hb ON hb.id = c.b_id AND hb.side = 'b'
    WHERE bit_count(xor(ha.phash, hb.phash)) <= {_PHASH_THRESHOLD}
    GROUP BY c.b_id
)
SELECT b.id AS asset_id, m.dup_of IS NULL AS kept, m.dup_of
FROM batch b LEFT JOIN matched m ON m.asset_id = b.id
"""


# DuckDB twin of dedup_audio_fingerprint: re-derive each clip's 56-bit
# energy fingerprint relationally from the _afp_amplitudes arithmetic
# (window-amplitude CTE -> adjacent comparisons -> exact power-of-two
# sum), then the same 14-bit band join + Hamming <= 3 verify as the
# image-tier oracle.
DEDUP_AUDIO_FINGERPRINT_ORACLE_SQL = f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_AFP_BASE}),
assets AS (
    SELECT doc_id * 10 AS id, doc_id, 0 AS pert FROM ids
    UNION ALL
    SELECT doc_id * 10 + 1, doc_id, 1 FROM ids WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id * 10 + 2, doc_id, 2 FROM ids WHERE doc_id % 8 = 0
),
en AS (
    SELECT a.id, w.i AS w,
           (CAST('0x' || substr(md5('au|' || CAST(a.doc_id AS VARCHAR) || '|'
                                  || CAST(w.i AS VARCHAR)), 1, 4) AS BIGINT)
            % 2000)
           * (CASE WHEN a.pert = 1 THEN 2 ELSE 1 END)
           + (CASE WHEN a.pert = 2 AND w.i = 13 THEN 700 ELSE 0 END) AS e
    FROM assets a, range(0, {_AFP_WINDOWS}) w(i)
),
hashes AS (
    SELECT l.id,
           CAST(sum(CASE WHEN r.e > l.e
                         THEN CAST(power(2, l.w) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS phash
    FROM en l JOIN en r ON r.id = l.id AND r.w = l.w + 1
    GROUP BY l.id
),
banded AS (
    SELECT id, phash, b.b AS band,
           (phash // CAST(power(2, b.b * 14) AS BIGINT)) % 16384 AS bval
    FROM hashes, range(0, {_PHASH_BANDS}) b(b)
)
SELECT DISTINCT a.id AS a_id, b.id AS b_id,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM banded a JOIN banded b ON a.band = b.band AND a.bval = b.bval AND a.id < b.id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_THRESHOLD}
"""


def sample_frames(
    df: DataFrame,
    frame_len: int = 64,
    stride: int = 256,
    content_col: str = "content",
) -> DataFrame:
    """Frame sampling over video payloads — the 1→N multimodal explode
    (decode a container, emit every k-th frame) with the real pipeline's
    batch shape: ``mapInPandas`` streams Arrow batches and yields multiple
    output rows per asset, so memory is bounded by batch size × frame
    size, never by a whole video.  With no codec in the container the
    "frames" are deterministic byte windows (offset i·stride, length
    frame_len) and the per-frame feature is their md5 — the plumbing
    (schema, fan-out, batching) is exactly what a real decoder drops into.
    """
    out_schema = "asset_id bigint, frame_idx int, frame_md5 string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, digests = [], [], []
            for asset_id, content in zip(pdf["asset_id"], pdf[content_col]):
                blob = bytes(content or b"")
                n_frames = max((len(blob) - frame_len) // stride + 1, 0)
                for i in range(n_frames):
                    ids.append(asset_id)
                    idxs.append(i)
                    digests.append(
                        hashlib.md5(blob[i * stride : i * stride + frame_len]).hexdigest()
                    )
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": idxs, "frame_md5": digests}
            )

    return df.mapInPandas(run, schema=out_schema)


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: frame sampling over the synthetic corpus' video
    assets.  Oracle-checkable because the fake frames are byte windows and
    the corpus is pure ASCII (char slice == byte slice, asserted in
    tests), so DuckDB reproduces each frame digest with substr+md5."""
    assets = synthetic_assets(spark, sf_dir).filter(F.col("modality") == "video")
    return sample_frames(assets)
