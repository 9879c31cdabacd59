"""Bucketed co-located join: the pre-shuffle layout strategy for repeated
big-big joins at scale.  Writing both sides bucketed by the join key into
the warehouse lets Spark join them with ZERO exchanges — the shuffle is
paid once at write time and amortized over every subsequent join.  This
test proves the engine's layout path produces that plan."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from firebird_mapreduce_spark.plans import count_exchanges, plan_string
from firebird_mapreduce_spark.sources import load_table
from tests.conftest import SF_SMOKE


def _minhash_spread(batch) -> int:
    """1 iff the minhash kernel's scale-adaptive spread fires on ``batch``
    — fewer input partitions than ``defaultParallelism``, the rule
    ``operators.dedup.minhash_signatures`` applies — else 0, so a pin
    that counts the spread holds at any core count."""
    src = batch.select("doc_id", "text")
    return int(
        src.rdd.getNumPartitions() < batch.sparkSession.sparkContext.defaultParallelism
    )


def _assert_spread_split(df, fixed: int, spreads: int, plan: str) -> None:
    """Exact exchange pin for a plan whose kernels spread their input
    round-robin to ``defaultParallelism`` partitions: ``fixed`` exchanges
    that never depend on the core count, plus ``spreads``
    RoundRobinPartitioning(par) exchanges.  On one core a spread plans as
    SinglePartition, which ``count_exchanges`` does not count."""
    par = df.sparkSession.sparkContext.defaultParallelism
    found = [
        int(k)
        for k in re.findall(
            r"Exchange RoundRobinPartitioning\((\d+)\)", plan_string(df, "simple")
        )
    ]
    want = spreads if par > 1 else 0
    assert found == [par] * want, f"spreads={found} (expected {want} x {par})"
    n = count_exchanges(df)
    assert n == fixed + want, f"exchanges={n} (expected {fixed + want})\n{plan}"


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # spark.sql.warehouse.dir is a static conf (cannot change on a live
    # session); tables land in ./spark-warehouse, which is gitignored and
    # dropped below
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("orders_bkt")
    )
    (
        customer.write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("customer_bkt")
    )
    yield
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    orders = spark.table("orders_bkt")
    customer = spark.table("customer_bkt")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "c_name")
    plan = plan_string(joined, "simple")
    # co-located: both sides read pre-bucketed, no shuffle at all
    assert count_exchanges(joined) == 0, plan
    # and the result is still correct
    plain = (
        load_table(spark, SF_SMOKE, "orders")
        .join(
            load_table(spark, SF_SMOKE, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .count()
    )
    assert joined.count() == plain


def test_bucketed_join_orders_zero_exchange_and_correct(spark):
    """The bench entry's operator (relational.bucketed_join_orders):
    join AND same-key aggregation must both ride the bucketed layout —
    zero exchanges end-to-end — and equal the plain-parquet join+agg
    row-for-row.  Also pins write idempotence: a second call must reuse
    the warehouse tables (same plan, no rewrite)."""
    from firebird_mapreduce_spark.operators.relational import (
        bucketed_join_orders,
    )

    out = bucketed_join_orders(spark, SF_SMOKE)
    assert count_exchanges(out) == 0, plan_string(out, "simple")
    plain = (
        load_table(spark, SF_SMOKE, "orders")
        .join(
            load_table(spark, SF_SMOKE, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(out) == rows(plain)
    # idempotence: second call reuses the tables, still zero-exchange
    again = bucketed_join_orders(spark, SF_SMOKE)
    assert count_exchanges(again) == 0


def test_unbucketed_join_does_exchange(spark):
    """Control: the same join over plain parquet shuffles both sides."""
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    # disable auto-broadcast so the control shows the shuffle path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = orders.join(
            customer, orders.o_custkey == customer.c_custkey, "inner"
        ).select("o_orderkey", "c_name")
        assert count_exchanges(joined) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_bucket_layout_partition_prunes(spark, tmp_path):
    """SCALE.md's IVF claim made testable: with the assignment written
    ``partitionBy(bucket)``, a single-bucket probe becomes partition
    pruning — the scan's PartitionFilters carry the bucket predicate and
    only that directory is read."""
    import os

    from pyspark.sql import functions as F

    from firebird_mapreduce_spark.plans.audit import plan_string

    emb = spark.range(1000).select(
        F.col("id").alias("vec_id"), (F.col("id") % 10).alias("bucket")
    )
    path = str(tmp_path / "ivf_layout")
    emb.write.mode("overwrite").partitionBy("bucket").parquet(path)
    probe = spark.read.parquet(path).filter(F.col("bucket") == 3)
    plan = plan_string(probe)
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters", 1)[1][:200]
    assert probe.count() == 100
    # layout sanity: all ten partition directories exist on disk.  The
    # pruning evidence is the PartitionFilters clause above plus the row
    # count — DataFrame.inputFiles() can NOT prove pruning (it lists the
    # relation's full FileIndex before filter pushdown).
    inputs = {f for f in os.listdir(path) if f.startswith("bucket=")}
    assert len(inputs) == 10


def test_dedup_exact_bucketed_zero_exchange_matches_shuffle_spelling(spark):
    """The bucketed dedup must consume the content-hash bucketing with
    ZERO exchanges at query time (the shuffle was paid once at write),
    and equal dedup_exact_hash — the shuffle spelling — row-for-row."""
    from firebird_mapreduce_spark.operators.dedup import (
        dedup_exact_bucketed,
        dedup_exact_hash,
    )

    out = dedup_exact_bucketed(spark, SF_SMOKE)
    assert count_exchanges(out) == 0, plan_string(out, "simple")
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(out) == rows(dedup_exact_hash(spark, SF_SMOKE))
    # idempotence: second call reuses the warehouse table, still 0-exchange
    assert count_exchanges(dedup_exact_bucketed(spark, SF_SMOKE)) == 0


def test_dedup_incremental_bucketed_corpus_side_shuffle_free(spark):
    """The bucketed incremental-dedup variant must (a) equal the plain
    spelling row-for-row (layout never changes the answer), and (b) under
    the at-scale join strategy (broadcast off — a daily crawl is not
    broadcastable) plan its membership probes over the PRE-BUCKETED
    corpus tables: bucketed scans present, and strictly fewer exchanges
    than the plain spelling under the same strategy — the corpus side's
    shuffles are the ones that disappear."""
    from firebird_mapreduce_spark.operators.dedup import (
        augmented_documents,
        dedup_incremental,
        dedup_incremental_bucketed,
    )

    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(dedup_incremental_bucketed(spark, SF_SMOKE)) == rows(
        dedup_incremental(spark, SF_SMOKE)
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        bucketed = dedup_incremental_bucketed(spark, SF_SMOKE)
        plain = dedup_incremental(spark, SF_SMOKE)
        plan = plan_string(bucketed, "formatted")
        # BOTH corpus tables must be consumed through bucketed scans —
        # a regression that un-buckets either one drops this to 1
        assert plan.count("Bucketed: true") == 2, plan
        # exchange count pinned EXACTLY, not relatively: the four
        # batch-side shuffles (md5-probe side, banded-probe side, the
        # near-set distinct, the report join) plus the minhash kernel's
        # scale-adaptive round-robin spread iff it fires on this host
        # (r12: visible since the signature checkpoint left the
        # single-consumer probe path — batch-sized, and absent entirely
        # on pre-split production input) and NOTHING on the corpus
        # sides; the plain spelling's 6 includes the two corpus-side
        # shuffles this layout exists to eliminate.  A reintroduced
        # corpus-side Exchange fails the ==.
        batch = augmented_documents(spark, SF_SMOKE).filter(
            F.col("doc_id") >= 100000
        )
        _assert_spread_split(bucketed, 4, _minhash_spread(batch), plan)
        np_ = count_exchanges(plain)
        assert np_ == 6, f"plain={np_} (expected 6)"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_tworound_fold_appends_delta_and_stays_corpus_shuffle_free(spark):
    """The two-ingest fold (`dedup_incremental_tworound`):

    (a) the folded state tables hold EXACTLY day-0 rows + the ingest-1
        survivor delta — the CREATE-then-APPEND maintenance wrote O(batch)
        new rows, not a rewrite (row accounting against the shared day-0
        tables and the recomputed delta);
    (b) ingest 2's screens consume the folded state through bucketed
        scans with NO corpus-side Exchange under the at-scale
        no-broadcast strategy (the dedup_incremental_bucketed plan pin,
        applied to the folded tables);
    (c) a missing fold-complete marker (crash between base and delta
        writes) forces a rebuild instead of serving half state."""
    import os

    from firebird_mapreduce_spark.operators.dedup import (
        banded_signatures,
        dedup_incremental_tworound,
        tworound_documents,
    )
    from firebird_mapreduce_spark.operators.relational import (
        corpus_tag,
        warehouse_path,
    )

    result = dedup_incremental_tworound(spark, SF_SMOKE)
    tag = corpus_tag(SF_SMOKE, "documents")

    # (a) row accounting: folded = day-0 + distinct survivor delta
    kept1_ids = result.filter(
        (F.col("ingest") == 1) & F.col("kept")
    ).select("doc_id")
    kept1 = tworound_documents(spark, SF_SMOKE).join(kept1_ids, "doc_id")
    n_kept_hashes = kept1.select(F.md5("text")).distinct().count()
    n_kept_bands = (
        banded_signatures(kept1, 16, 4).select("band", "sig").distinct().count()
    )
    assert n_kept_hashes > 0, "no survivors — the fold is vacuous"
    assert (
        spark.table(f"inc2_hash_16x4_{tag}").count()
        == spark.table(f"corpus_hash_{tag}").count() + n_kept_hashes
    )
    assert (
        spark.table(f"inc2_bands_16x4_{tag}").count()
        == spark.table(f"corpus_bands_16x4_{tag}").count() + n_kept_bands
    )

    # (a') the fold's compact=True bounds per-bucket fragmentation at
    # the compaction threshold (r10: the CREATE+APPEND's two waves sit
    # UNDER the threshold, so the rewrite correctly skips — the cadence
    # contract; see test_maybe_compact_threshold_paths for both sides)
    from firebird_mapreduce_spark.operators.layout import (
        bucket_fragmentation,
    )

    for t in (f"inc2_hash_16x4_{tag}", f"inc2_bands_16x4_{tag}"):
        frag = bucket_fragmentation(spark, t)
        assert 0 < frag <= 4, f"{t} fragmented past threshold: {frag}"

    # (b) plan: folded tables bucketed-scanned, exchanges batch-side only
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        df = dedup_incremental_tworound(spark, SF_SMOKE)
        plan = plan_string(df, "formatted")
        assert plan.count("Bucketed: true") == 2, plan
        # ingest 2's four batch-side shuffles (md5-probe side,
        # banded-probe side, near-set distinct, report join) plus the
        # minhash kernel's scale-adaptive spread iff it fires on the
        # ingest-2 batch (see the dedup_incremental_bucketed pin);
        # ingest 1 rides its localCheckpoint.  A corpus-side Exchange
        # breaks ==.
        batch2 = tworound_documents(spark, SF_SMOKE).filter(
            F.col("doc_id") >= 200000
        )
        _assert_spread_split(df, 4, _minhash_spread(batch2), plan)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    # (c) crash window: marker gone => rebuild, same row accounting
    marker = os.path.join(
        warehouse_path(spark), f"_inc2_hash_16x4_{tag}_folded"
    )
    assert os.path.exists(marker)
    os.unlink(marker)
    before = spark.table(f"inc2_hash_16x4_{tag}").count()
    dedup_incremental_tworound(spark, SF_SMOKE)
    assert os.path.exists(marker), "rebuild must re-mark fold completion"
    assert spark.table(f"inc2_hash_16x4_{tag}").count() == before


def test_snapshot_diff_bucketed_zero_exchange_matches_plain(spark):
    """The bucketed snapshot diff must (a) equal the plain spelling
    row-for-row (layout never changes the answer) and (b) plan its one
    full-outer join over BOTH pre-bucketed snapshot-hash tables with
    ZERO exchanges under the at-scale no-broadcast strategy — the
    daily-diff layout its r5 docstring prescribed, demonstrated."""
    from firebird_mapreduce_spark.operators.integrity import (
        snapshot_diff,
        snapshot_diff_bucketed,
    )

    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(snapshot_diff_bucketed(spark, SF_SMOKE)) == rows(
        snapshot_diff(spark, SF_SMOKE)
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        df = snapshot_diff_bucketed(spark, SF_SMOKE)
        plan = plan_string(df, "formatted")
        assert plan.count("Bucketed: true") == 2, plan
        n = count_exchanges(df)
        assert n == 0, f"exchanges={n} (expected 0)\n{plan}"
        # non-vacuous: all three change classes present
        kinds = {r["change_type"] for r in df.collect()}
        assert kinds == {"inserted", "deleted", "changed"}
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_ivfpq_incremental_fold_state_and_plan(spark):
    """The PQ maintenance fold (`embedding_knn_ivfpq_incremental`):

    (a) the folded code state holds EXACTLY (corpus + batch)·m code rows
        and the cell state (corpus + batch) rows — O(batch) appends;
    (b) the steady probe plan under the at-scale no-broadcast strategy
        reads the two folded state tables AND the coarse centroid table
        through bucketed scans (the sub-centroid table is k·d rows and
        broadcast in the real plan; under no-broadcast the planner
        declines its bucketing) — remaining exchanges are batch-side
        aggregates (query enrollment, the ADC lookup table, the ADC sum
        and top-1), a daily batch job's shuffles, not corpus scans."""
    import firebird_mapreduce_spark.operators.similarity as S
    from firebird_mapreduce_spark.operators.relational import corpus_tag

    result = S.embedding_knn_ivfpq_incremental(spark, SF_SMOKE)
    assert result.count() > 0
    tag = corpus_tag(SF_SMOKE, "embeddings")
    n_corpus = load_table(spark, SF_SMOKE, "embeddings").count()
    m, ksub, pit = S.PQ_M, S.PQ_KSUB, S.PQ_ITERATIONS
    k, it = S.N_CENTROIDS, 3
    assert (
        spark.table(f"pqvinc_codes_{m}x{ksub}x{pit}_{tag}").count()
        == 2 * n_corpus * m
    )
    assert spark.table(f"pqvinc_cells_{k}x{it}_{tag}").count() == 2 * n_corpus
    # (a') the fold's compact=True bounds per-bucket fragmentation at
    # the compaction threshold (r10 cadence contract)
    from firebird_mapreduce_spark.operators.layout import (
        bucket_fragmentation,
    )

    for t in (
        f"pqvinc_codes_{m}x{ksub}x{pit}_{tag}",
        f"pqvinc_cells_{k}x{it}_{tag}",
    ):
        frag = bucket_fragmentation(spark, t)
        assert 0 < frag <= 4, f"{t}: fragmentation {frag}"

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        df = S.embedding_knn_ivfpq_incremental(spark, SF_SMOKE)
        plan = plan_string(df, "formatted")
        # r11: 3 -> 2 bucketed scans and 10 -> 9 exchanges — the coarse
        # centroid table no longer appears in the serving plan at all:
        # the Arrow enrollment kernel collects the k·d rows at plan
        # time (driver-sized at any corpus scale), so its scan AND its
        # join exchange both vanish; the two folded state tables stay
        # bucketed-scanned (the corpus side remains exchange-free)
        assert plan.count("Bucketed: true") == 2, plan
        # 9 on more than one core: 7 fixed plus two round-robin spreads
        _assert_spread_split(df, 7, 2, plan)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_semantic_incremental_fold_state_and_plan(spark):
    """The vector-tier fold (`dedup_semantic_incremental`):

    (a) the folded state tables hold EXACTLY the corpus rows + the
        ingest-1 survivor delta (band keys and vectors) — O(batch)
        appends, never a rewrite;
    (b) the steady-state plan under the at-scale no-broadcast strategy
        reads BOTH folded state tables through bucketed scans — the
        band membership probe and the rerank's a-side vector fetch are
        corpus-exchange-free (the two-sided rerank exists for exactly
        this; a corpus ∪ batch union would destroy the bucketing) — and
        since the centroid table became a persisted artifact the plan
        carries NO corpus-sized aggregate at all (4 bucketed scans:
        bands + vecs state, the assignment index, the centroid table).
        Remaining exchanges are batch-side aggregates — a daily BATCH
        job's shuffles, not per-query serving cost."""
    import firebird_mapreduce_spark.operators.similarity as S
    from firebird_mapreduce_spark.operators.relational import corpus_tag

    result = S.dedup_semantic_incremental(spark, SF_SMOKE)
    tag = corpus_tag(SF_SMOKE, "embeddings")
    k, it = S.N_CENTROIDS, 3
    # r8: the folded prefixes are keyed by every parameter that
    # determines their contents (ADVICE r7 medium item)
    ptag = f"{k}x{it}x{S._name_tag(S.SEMANTIC_THRESHOLD)}"

    # (a) row accounting: folded = corpus + survivor delta
    n_corpus = load_table(spark, SF_SMOKE, "embeddings").count()
    kept1 = result.filter((F.col("ingest") == 1) & F.col("kept"))
    n_kept = kept1.count()
    assert n_kept > 0, "no ingest-1 survivors — the fold is vacuous"
    assert (
        spark.table(f"semvf_vecs_{ptag}_{tag}").count() == n_corpus + n_kept
    )
    n_bands_state = spark.table(f"semvf_bands_{ptag}_{tag}").count()
    n_bands_day0 = spark.table(f"semv_bands_{k}x{it}_{tag}").count()
    assert n_bands_state == n_bands_day0 + n_kept * S.NEARDUP_TABLES

    # (b) steady-state plan: both folded tables bucketed-scanned
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        df = S.dedup_semantic_incremental(spark, SF_SMOKE)
        plan = plan_string(df, "formatted")
        # r10: 4 -> 5 — the in-loop drift trigger reads the persisted
        # score state through one more bucketed scan (the means
        # themselves scan without the bucket key — Bucketed: false).
        # r11: 5 -> 2 — the Arrow enrollment kernel collects the k·d
        # centroid table at plan time (driver-sized at any corpus
        # scale), so the centroid and assignment-index scans leave the
        # serving plan entirely; the two score tables feed 1-row mean
        # aggregates (Bucketed: false by design, asserted below) and
        # the two FOLDED state tables — the membership probe and the
        # rerank's a-side — remain bucketed-scanned: the corpus side is
        # still exchange-free
        assert plan.count("Bucketed: true") == 2, plan
        assert plan.count("Bucketed: false") == 2, plan
        # r8: 12 -> 10 — _assign_to_centroids now BROADCASTS the k·d
        # centroid side (its join key d has few distinct values, so the
        # old shuffle join both serialized and cost two exchanges).
        # r10: 10 -> 12 — the drift trigger's stored-dist2 means add
        # two single-partition aggregate exchanges (1-row frames, the
        # driver-sized aggregate class, never corpus reshuffles).
        # r11: 12 -> 11 — the ingest-2 enrollment's join/aggregate
        # exchanges collapse into the map-only kernel (its only
        # exchange is the scale-adaptive local spread of the batch).
        # The 11 is on more than one core: 8 fixed plus three
        # round-robin spreads of one-partition inputs.
        _assert_spread_split(df, 8, 3, plan)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_compact_bucketed_table_one_file_per_bucket(spark):
    """compact_bucketed_table's contract on a K-fragmented folded state
    table (r9 — VERDICT r8 item 2): pre-compaction the CREATE+APPEND
    left multiple file waves per bucket; post-compaction exactly one
    file per non-empty bucket, rows identical, bucketing metadata
    intact (zero-exchange group-by), and the fold-complete marker
    untouched — the crash-guard semantics survive compaction."""
    import os

    from firebird_mapreduce_spark.operators.dedup import (
        _ensure_folded_state,
    )
    from firebird_mapreduce_spark.operators.layout import (
        bucketed_table_file_count,
        compact_bucketed_table,
    )
    from firebird_mapreduce_spark.operators.relational import warehouse_path

    docs = spark.range(0, 2000).select(
        F.md5(F.col("id").cast("string")).alias("h"),
        (F.col("id") < 1000).alias("is_base"),
    )
    spark.sql("DROP TABLE IF EXISTS cmpt_h_t9")
    marker = os.path.join(warehouse_path(spark), "_cmpt_h_t9_folded")
    if os.path.exists(marker):
        os.unlink(marker)
    _ensure_folded_state(
        spark,
        "cmpt_h_",
        "t9",
        8,
        ["h"],
        lambda: docs.filter("is_base").select("h"),
        lambda: docs.filter("NOT is_base").select("h"),
    )
    pre = bucketed_table_file_count(spark, "cmpt_h_t9")
    assert pre > 8, f"fixture not fragmented: {pre} files"
    rows_pre = sorted(r.h for r in spark.table("cmpt_h_t9").collect())
    post = compact_bucketed_table(spark, "cmpt_h_t9", 8, ["h"])
    assert post <= 8, f"{post} files after compaction (expected <= 8)"
    rows_post = sorted(r.h for r in spark.table("cmpt_h_t9").collect())
    assert rows_pre == rows_post
    agg = spark.table("cmpt_h_t9").groupBy("h").count()
    assert count_exchanges(agg) == 0, plan_string(agg, "simple")
    assert os.path.exists(marker), "compaction must not touch the marker"
    spark.sql("DROP TABLE IF EXISTS cmpt_h_t9")
    os.unlink(marker)


def test_layout_sweep_removes_stale_dirs_and_files(spark, monkeypatch):
    """``ensure_layout_table``'s warehouse sweep removes every stale
    same-prefix entry, a leftover regular file as well as a directory,
    and keeps the current table when a new session first meets it."""
    import os
    import shutil

    from firebird_mapreduce_spark.operators import relational as R

    prefix = "fb_sweep_t_"
    root = R.warehouse_path(spark)
    stale_dir = os.path.join(root, f"{prefix}olddir")
    stale_file = os.path.join(root, f"{prefix}oldfile")
    os.makedirs(stale_dir, exist_ok=True)
    with open(os.path.join(stale_dir, "part-0.parquet"), "w") as fh:
        fh.write("stale")
    with open(stale_file, "w") as fh:
        fh.write("stale")
    try:
        R.ensure_layout_table(spark, prefix, "cur", lambda: spark.range(3), lambda w: w)
        assert not os.path.exists(stale_dir)
        assert not os.path.exists(stale_file)
        # a new session's first encounter sweeps again with the table live
        monkeypatch.setattr(R, "_LAYOUT_READY", set())
        with open(stale_file, "w") as fh:
            fh.write("stale")

        def no_rebuild():
            raise AssertionError("the current table must be kept")

        kept = R.ensure_layout_table(spark, prefix, "cur", no_rebuild, lambda w: w)
        assert kept.count() == 3
        assert not os.path.exists(stale_file)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}cur")
        shutil.rmtree(stale_dir, ignore_errors=True)
        if os.path.exists(stale_file):
            os.remove(stale_file)


def test_ingest_screen_exchanges_batch_side_only(spark):
    """The unified multimodal ingest screen (r9; semantic tier r11):
    the corpus state tables (text hash/bands, image hash/bands, audio
    hash/bands, semantic bands/vectors) are consumed through EIGHT
    bucketed scans with no corpus-side Exchange under the at-scale
    no-broadcast strategy (the semantic score table and the centroid
    table also appear, but only under 1-row drift/rerank aggregates
    where the planner rightly skips bucketed reading); the exchange
    count is pinned exactly — every one is batch-sized (probe sides,
    candidate distincts, report joins, the semantic screen's
    batch-side sig/rerank shuffles) or a 1-row drift aggregate, so
    total shuffle traffic is O(batch) regardless of corpus size.  (The
    enrollment's own exchanges sit behind the eager localCheckpoint —
    also batch-sized: a broadcast-centroid join + one batch groupBy.)

    26 → 22 in r12: the media screens' candidate ``.distinct()`` and
    their verify join back to the batch left the plan (the batch hash
    rides through the band probe — ``_hash_incremental_screen``), two
    exchanges per media tier."""
    from firebird_mapreduce_spark.operators.pipeline import (
        ingest_screen_multimodal,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        df = ingest_screen_multimodal(spark, SF_SMOKE)
        plan = plan_string(df, "formatted")
        assert plan.count("Bucketed: true") == 8, plan
        # 22 -> 23 with the r12 single-consumer checkpoint removal:
        # the text screen's kernel (and its scale-adaptive spread) now
        # rides the report job inline instead of hiding behind the
        # signature checkpoint — still batch-side only.  The spread is
        # a round-robin exchange only on more than one core.
        _assert_spread_split(df, 22, 1, plan)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_fastss_k2_index_join_zero_exchange(spark):
    """The persisted FastSS k=2 key index (r9): the self-join reads
    both sides from the bucketed key table with NO exchange under the
    at-scale no-broadcast strategy — the only shuffle is the
    verified-pair distinct (exchanges pinned at exactly 1) — and the
    pair set equals a fresh-explode spelling of the same join."""
    from firebird_mapreduce_spark.operators.dedup import fuzzy_match_names_k2

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        df = fuzzy_match_names_k2(spark, SF_SMOKE)
        plan = plan_string(df, "formatted")
        assert plan.count("Bucketed: true") == 2, plan
        n = count_exchanges(df)
        assert n == 1, f"exchanges={n} (expected 1: the pair distinct)\n{plan}"
        assert df.count() > 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_maybe_compact_threshold_paths(spark):
    """The compaction CADENCE contract (r10 — VERDICT r9 item 4), both
    sides: below the threshold the rewrite is SKIPPED (file layout
    untouched — a daily fold must not pay an O(state) rewrite daily);
    above it the rewrite runs and restores one file per bucket.  Rows
    identical and the crash-guard marker untouched on both paths."""
    import os

    from firebird_mapreduce_spark.operators.layout import (
        bucket_fragmentation,
        bucketed_table_file_count,
        maybe_compact_bucketed_table,
    )
    from firebird_mapreduce_spark.operators.relational import warehouse_path

    tbl = "cadence_h_t10"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    import shutil

    shutil.rmtree(
        os.path.join(warehouse_path(spark), tbl), ignore_errors=True
    )
    marker = os.path.join(warehouse_path(spark), f"_{tbl}_folded")
    open(marker, "w").close()

    def wave(lo: int, hi: int, mode: str) -> None:
        # single-task wave → exactly one file per bucket per wave, so
        # the fragmentation count below equals the wave count
        (
            spark.range(lo, hi)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .repartition(1)
            .write.mode(mode)
            .bucketBy(8, "h")
            .sortBy("h")
            .saveAsTable(tbl)
        )

    wave(0, 500, "overwrite")
    wave(500, 1000, "append")  # 2 waves: at-or-under threshold
    files_before = bucketed_table_file_count(spark, tbl)
    assert bucket_fragmentation(spark, tbl) <= 4
    assert maybe_compact_bucketed_table(spark, tbl, 8, ["h"]) is False
    assert bucketed_table_file_count(spark, tbl) == files_before, (
        "below-threshold fold paid a rewrite"
    )
    for i in range(2, 6):  # 4 more waves: some bucket exceeds 4 files
        wave(i * 500, (i + 1) * 500, "append")
    assert bucket_fragmentation(spark, tbl) > 4, "fixture not fragmented"
    rows_pre = sorted(r.h for r in spark.table(tbl).collect())
    assert maybe_compact_bucketed_table(spark, tbl, 8, ["h"]) is True
    assert bucket_fragmentation(spark, tbl) == 1, "not one file per bucket"
    assert sorted(r.h for r in spark.table(tbl).collect()) == rows_pre
    assert os.path.exists(marker), "cadence pass must not touch the marker"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    os.unlink(marker)


def test_state_append_adds_at_most_one_file_per_bucket(spark):
    """The r10 append discipline: a fold delta is repartitioned to the
    bucket spec before the bucketed write, so an append adds AT MOST
    ONE file per bucket REGARDLESS of the delta's upstream
    partitioning.  Without it a P-partition delta appends up to
    P×n_buckets files and ONE fold blows past the compaction
    threshold — the regression this guard exists to catch.  The delta
    here is deliberately 32-way partitioned upstream (the worst case a
    localCheckpoint-backed streaming micro-batch produces)."""
    import os
    import shutil

    from firebird_mapreduce_spark.operators.dedup import (
        _ensure_folded_state,
    )
    from firebird_mapreduce_spark.operators.layout import (
        bucket_fragmentation,
    )
    from firebird_mapreduce_spark.operators.relational import warehouse_path

    prefix, tag = "appendguard_h_", "t10"
    tbl = f"{prefix}{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(
        os.path.join(warehouse_path(spark), tbl), ignore_errors=True
    )
    marker = os.path.join(warehouse_path(spark), f"_{tbl}_folded")
    if os.path.exists(marker):
        os.unlink(marker)

    def rows(lo: int, hi: int):
        # 32-way upstream partitioning, the adversarial case
        return (
            spark.range(lo, hi)
            .repartition(32)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
        )

    out = _ensure_folded_state(
        spark,
        prefix,
        tag,
        8,
        ["h"],
        # base pinned to one file per bucket so the fragmentation
        # number below isolates what the DELTA added
        lambda: rows(0, 500).repartition(8, "h"),
        lambda: rows(500, 1000),
    )
    assert out.count() == 1000
    frag = bucket_fragmentation(spark, tbl)
    assert frag <= 2, (
        f"32-partition delta fragmented the state: {frag} files in some "
        "bucket after base (1 wave) + one delta — the bucket-spec "
        "repartition in _ensure_folded_state is not co-locating"
    )
