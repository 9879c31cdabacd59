"""The crawl fold: what one delivery's kept documents add to each tier's
bucketed state, spelled once for every incremental crawl.

The batch twins (``dedup_incremental_tworound``,
``dedup_semantic_incremental``, ``ingest_tworound_multimodal``) fold
through ``fold_batch`` and the streaming triggers
(``streaming.jobs._strinc_apply_batch`` / ``_strmm_apply_batch``)
through ``fold_trigger``; both build and append their deltas only here:

- ``TIERS`` is the tier spec — the nine crawl tiers (text hash and
  bands, image hash and bands, audio hash and bands, semantic bands,
  vectors and scores), each with its table stem, its bucket keys and
  how its delta is built from a ``Delivery`` and the kept doc ids.  The
  two text tiers are SETS (every column is a bucket key), so their
  deltas are deduplicated; every other delta is key-unique already.
- ``append_bucketed`` is the one bucketed append: repartition to the
  bucket spec (the same murmur3-pmod hash as bucket assignment, so one
  append adds at most one file per bucket and fragmentation counts
  folds, not the delta's partitioning), ``dropDuplicates`` for a set
  tier (it reuses that clustering: no second exchange), then a
  ``bucketBy``/``sortBy`` append that keeps the table's bucketing.
- ``settle`` runs after a trigger's folds, serially: threshold
  compaction (``layout.maybe_compact_bucketed_table``, which flips a
  session-global conf under ``layout._AUTO_BUCKETED_SCAN_LOCK``), then
  ``refreshTable`` — an append through a micro-batch's cloned session
  invalidates only that session's relation cache.

Folded media assets are keyed ``doc_id * 10 + 3``: slot 3 is unused by
the corpus fixture scheme (base/gain/retouch take 0/1/2) and the full
doc id keeps every delivery's folded assets disjoint, since the media
screen verifies state hashes by ``asset_id`` alone and one id must
never name two entities.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .layout import maybe_compact_bucketed_table
from .relational import (
    drop_warehouse_entries,
    ensure_layout_table,
    warehouse_path,
)

N_BUCKETS = 8


class Delivery(NamedTuple):
    """One delivery's batch-wide inputs to the fold; a tier's delta keeps
    the rows of the kept doc ids.  Media ``asset_id`` is ``doc_id -
    id_base``; a vector's ``vec_id`` is its doc id."""

    docs: DataFrame | None  # (doc_id, text)
    k: int
    bands: int
    id_base: int
    img: DataFrame | None  # (asset_id, phash)
    aud: DataFrame | None  # (asset_id, phash)
    vecs: DataFrame | None  # (vec_id, embedding)
    assign: DataFrame | None  # stored enrollments (vec_id, cluster, dist2)
    sem_keys: DataFrame | None  # SRP band keys (vec_id, blk, tbl, sig)

    @classmethod
    def text(cls, docs: DataFrame, k: int, bands: int) -> Delivery:
        return cls(docs, k, bands, 0, None, None, None, None, None)

    @classmethod
    def vectors(
        cls, vecs: DataFrame, assign: DataFrame, sem_keys: DataFrame
    ) -> Delivery:
        return cls(None, 0, 0, 0, None, None, vecs, assign, sem_keys)


class Tier(NamedTuple):
    stem: str  # formatted with k, bands and the semantic parameter tag
    keys: tuple[str, ...]
    delta: Callable[[Delivery, DataFrame], DataFrame]


def _kept_docs(d: Delivery, ids: DataFrame) -> DataFrame:
    return d.docs.join(ids, "doc_id")


def _text_bands(d: Delivery, ids: DataFrame) -> DataFrame:
    from .dedup import banded_signatures

    return banded_signatures(
        _kept_docs(d, ids), d.k, d.bands, checkpoint=False
    ).select("band", "sig")


def _folded_assets(fps: DataFrame, d: Delivery, ids: DataFrame) -> DataFrame:
    bases = ids.select((F.col("doc_id") - d.id_base).alias("asset_id"))
    return fps.join(bases, "asset_id").select(
        ((F.col("asset_id") + d.id_base) * 10 + 3).alias("asset_id"), "phash"
    )


def _asset_bands(fps: DataFrame, d: Delivery, ids: DataFrame) -> DataFrame:
    from .multimodal import _phash_band_keys

    return _phash_band_keys(_folded_assets(fps, d, ids))


def _kept_vectors(frame: DataFrame, ids: DataFrame) -> DataFrame:
    return frame.join(ids.select(F.col("doc_id").alias("vec_id")), "vec_id")


TIERS = (
    Tier(
        "hash_{k}x{bands}",
        ("h",),
        lambda d, ids: _kept_docs(d, ids).select(F.md5("text").alias("h")),
    ),
    Tier("bands_{k}x{bands}", ("band", "sig"), _text_bands),
    Tier("imgh", ("asset_id",), lambda d, ids: _folded_assets(d.img, d, ids)),
    Tier("imgb", ("band", "bval"), lambda d, ids: _asset_bands(d.img, d, ids)),
    Tier("audh", ("asset_id",), lambda d, ids: _folded_assets(d.aud, d, ids)),
    Tier("audb", ("band", "bval"), lambda d, ids: _asset_bands(d.aud, d, ids)),
    Tier(
        "semb_{sem}",
        ("blk", "tbl", "sig"),
        lambda d, ids: _kept_vectors(d.sem_keys, ids),
    ),
    Tier("semv_{sem}", ("vec_id",), lambda d, ids: _kept_vectors(d.vecs, ids)),
    Tier("sems_{sem}", ("vec_id",), lambda d, ids: _kept_vectors(d.assign, ids)),
)
TEXT = TIERS[:2]
SEMANTIC = TIERS[6:]


def prefixes(gen: str, tiers: Iterable[Tier], k: int, bands: int) -> list[str]:
    """Table prefixes of a crawl generation (``inc2_``, ``mmr3_``,
    ``strinc_``, ``strmm_``).  The stems carry every parameter that
    determines a folded table's contents — text (k, bands), the semantic
    tier's ``semantic_param_tag`` — so a changed constant renames the
    state instead of reusing state folded under the old one."""
    from .similarity import semantic_param_tag

    sem = semantic_param_tag()
    return [f"{gen}{t.stem.format(k=k, bands=bands, sem=sem)}_" for t in tiers]


def tables(
    gen: str, tag: str, tiers: Iterable[Tier], k: int, bands: int
) -> dict[str, Tier]:
    """Full table name → tier for one crawl generation over one corpus."""
    tiers = tuple(tiers)
    return {p + tag: t for p, t in zip(prefixes(gen, tiers, k, bands), tiers)}


def append_bucketed(
    delta: DataFrame, tbl: str, n_buckets: int, keys: Iterable[str]
) -> None:
    """The one bucketed append (see the module docstring)."""
    keys = list(keys)
    out = delta.repartition(n_buckets, *keys)
    if set(delta.columns) == set(keys):
        out = out.dropDuplicates(keys)
    (
        out.write.mode("append")
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(tbl)
    )


def settle(
    spark: SparkSession, n_buckets: int, state: dict[str, Iterable[str]]
) -> None:
    """After a trigger's folds: compact any table past the threshold,
    then make the fold visible to the outer session — serially."""
    for tbl, keys in state.items():
        maybe_compact_bucketed_table(spark, tbl, n_buckets, list(keys))
        spark.catalog.refreshTable(tbl)


def _ensure_folded_state(
    spark: SparkSession,
    prefix: str,
    tag: str,
    n_buckets: int,
    key_cols: list[str],
    build_base,
    build_delta,
) -> DataFrame:
    """Bucketed state table maintained by CREATE-then-APPEND: the base
    snapshot is written once at one file per bucket, then the ingest
    delta goes through ``append_bucketed`` — the per-ingest state-update
    cost is O(delta) data written, never a corpus rewrite — and the
    table settles (threshold compaction: base + one fold sits at two
    files per bucket and skips).  A fold-complete marker file guards
    the two-write sequence: a crash between base and delta leaves the
    marker missing, and the next call drops the half state and rebuilds
    instead of silently screening against a corpus snapshot that forgot
    the previous ingest.  A crash mid-compaction lands in the same
    rebuild path (the table is briefly absent; the marker is never
    touched by compaction), and a ``<tbl>__compact`` stranded by a crash
    before compaction's DROP is swept here, the one gate every consumer
    passes through.  A rebuild also removes every marker of the prefix,
    so no marker outlives its table."""
    tbl = f"{prefix}{tag}"
    marker = os.path.join(warehouse_path(spark), f"_{tbl}_folded")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__compact")
    if spark.catalog.tableExists(tbl) and not os.path.exists(marker):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if not spark.catalog.tableExists(tbl):
        # every tag's marker goes: this tag's is stale, and the build
        # below drops every other tag's table of the prefix
        drop_warehouse_entries(spark, (f"_{prefix}",))
        ensure_layout_table(
            spark,
            prefix,
            tag,
            lambda: build_base().repartition(n_buckets, *key_cols),
            lambda w: w.bucketBy(n_buckets, *key_cols).sortBy(*key_cols),
        )
        append_bucketed(build_delta(), tbl, n_buckets, key_cols)
        open(marker, "w").close()
        settle(spark, n_buckets, {tbl: key_cols})
    return spark.table(tbl)


def fold_batch(
    spark: SparkSession,
    tag: str,
    folds: Iterable[tuple[str, Tier, DataFrame]],
    delivery: Delivery,
    ids: DataFrame,
) -> list[DataFrame]:
    """A batch twin's fold: per (prefix, tier, day-0 base), the tier's
    own folded table = base + the kept rows' delta, crash-guarded."""
    return [
        _ensure_folded_state(
            spark,
            prefix,
            tag,
            N_BUCKETS,
            list(tier.keys),
            lambda base=base: base,
            lambda tier=tier: tier.delta(delivery, ids),
        )
        for prefix, tier, base in folds
    ]


def fold_trigger(
    spark: SparkSession,
    state: dict[str, Tier],
    delivery: Delivery,
    ids: DataFrame,
) -> None:
    """A streaming trigger's fold: every tier's append, then ``settle``.

    The appends are independent (distinct tables, every delta rooted at
    the committed report or the checkpointed batch), so they overlap
    from a pool of six: each is a small commit-latency-bound job that
    leaves most cores idle (fold phase 1.80 → 1.45 s/trigger over a
    width of 3 at sf0.1 on local[32]).  A crash mid-folds leaves a
    subset applied, as a serial loop would; the committed report skips
    the whole batch on retry either way."""
    deltas = {tbl: tier.delta(delivery, ids) for tbl, tier in state.items()}
    with ThreadPoolExecutor(max_workers=6) as pool:
        list(
            pool.map(
                lambda tbl: append_bucketed(
                    deltas[tbl], tbl, N_BUCKETS, state[tbl].keys
                ),
                state,
            )
        )
    settle(spark, N_BUCKETS, {tbl: tier.keys for tbl, tier in state.items()})
