"""Scale-posture plan audits: assert Catalyst actually produces the plans
the operators were designed for (pushdown, pruning, broadcast, bounded
shuffles).  A silently de-optimized plan is a 10x regression at 100 TB."""

from __future__ import annotations

from firebird_mapreduce_spark.operators import relational as R
from firebird_mapreduce_spark.plans import (
    codegen_stages,
    count_exchanges,
    has_broadcast_hash_join,
    has_pushed_filter,
    plan_string,
    read_schema_columns,
    wholestage_codegen_count,
)
from tests.conftest import SF_SMOKE


def test_filter_pushed_to_parquet_scan(spark):
    df = R.filter_predicate(spark, SF_SMOKE)
    assert has_pushed_filter(df, "l_quantity")


def test_column_pruning_reaches_scan(spark):
    df = R.scan_project(spark, SF_SMOKE)
    schemas = read_schema_columns(df)
    assert schemas and set(schemas[0]) == {"r_regionkey", "r_name"}
    # Q1 shape reads only the 7 needed columns of lineitem's 11
    q1 = R.group_sum_avg(spark, SF_SMOKE)
    (q1_cols,) = read_schema_columns(q1)
    assert "l_orderkey" not in q1_cols and "l_shipdate" not in q1_cols


def test_small_dim_join_broadcasts(spark):
    df = R.broadcast_join(spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)
    assert count_exchanges(df) == 0  # no shuffle of either side


def test_aggregate_is_partial_then_final(spark):
    df = R.group_count(spark, SF_SMOKE)
    plan = plan_string(df, "simple")
    # two HashAggregates around one exchange = map-side combine present
    # (the upgrade over the reference's no-combiner design, firebird.h:42)
    assert plan.count("HashAggregate") >= 2
    assert count_exchanges(df) == 1


def test_q1_single_shuffle_and_codegen(spark):
    df = R.group_sum_avg(spark, SF_SMOKE)
    assert count_exchanges(df) == 1  # groupBy only; no extra repartitions
    # AQE shows codegen spans only on the finalized plan — execute first
    df.collect()
    assert wholestage_codegen_count(df) >= 1


def test_sq8_scoring_stage_code_is_query_independent(spark, tmp_path):
    """The SQ8 scan-side stage generates the same Java for every query:
    the query id reaches it as the broadcast row's ``q_id`` column, not as
    a literal, so a new query reuses the compiled scoring class."""
    import re

    from firebird_mapreduce_spark.operators.similarity import (
        sq8_codes,
        sq8_score_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    # a stored code table, as the persisted SQ8 index is, so the scan
    # side's filters compile into the scoring stage
    sq8_codes(emb).write.parquet(str(tmp_path / "codes"))
    coded = spark.read.parquet(str(tmp_path / "codes"))

    def scoring_stage(query_id):
        (stage,) = [
            (header, src)
            for header, src in codegen_stages(sq8_score_topk(coded, query_id, 3))
            if "BroadcastNestedLoopJoin" in header.splitlines()[0]
        ]
        return stage

    header, src = scoring_stage(3)
    assert re.search(r"vec_id#\d+L = q_id#\d+L", header.splitlines()[0])
    assert scoring_stage(17)[1] == src


def test_topk_uses_take_ordered(spark):
    df = R.topk_orders(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in plan_string(df, "simple")


def test_global_sort_rank_avoids_single_partition_window(spark):
    """The scalable global-rank plan must NOT be the row_number()-over-
    empty-partition spelling (every row through one task): no Window node
    anywhere, and the rank must still be the exact global order."""
    df = R.global_sort_rank(spark, SF_SMOKE)
    plan = plan_string(df, "simple")
    assert "Window" not in plan
    rows = df.collect()
    assert sorted(r["rnk"] for r in rows) == list(range(1, len(rows) + 1))
    by_rank = sorted(rows, key=lambda r: r["rnk"])
    for prev, cur in zip(by_rank, by_rank[1:]):
        assert (-prev["o_totalprice"], prev["o_orderkey"]) < (
            -cur["o_totalprice"],
            cur["o_orderkey"],
        )


def test_grouping_sets_single_pass(spark):
    """GROUPING SETS expands in one read (Expand + aggregate), not a union
    of per-set scans."""
    df = R.grouping_sets_revenue(spark, SF_SMOKE)
    plan = plan_string(df, "simple")
    assert "Expand" in plan
    assert plan.count("FileScan") == 1
    assert "Union" not in plan


def test_tpch_flagship_broadcasts_dims(spark):
    """The 5-table flagship must hash-join the two big tables and
    BROADCAST nation/region (no shuffle of a 25-row dim), with the region
    filter reaching its scan."""
    from firebird_mapreduce_spark.plans.audit import (
        count_exchanges,
        has_pushed_filter,
    )

    df = R.tpch_revenue_by_nation(spark, SF_SMOKE)
    plan = plan_string(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert has_pushed_filter(df, "r_name")
    # lineitem⋈orders key shuffle (2) + customer key shuffle (1) + final
    # groupBy (1): anything above means a dim got shuffle-joined
    assert count_exchanges(df) <= 4, plan


def test_bigram_topk_take_ordered_single_shuffle(spark):
    """Top-k n-gram sweep: partial-aggregated groupBy (one Exchange) and
    TakeOrderedAndProject — the full bigram universe is never globally
    sorted."""
    from firebird_mapreduce_spark.operators.text import bigram_topk
    from firebird_mapreduce_spark.plans.audit import count_exchanges

    df = bigram_topk(spark, SF_SMOKE)
    plan = plan_string(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert count_exchanges(df) <= 1, plan


def test_stats_moments_single_exchange(spark):
    """Decimal moment sums must ride one partial→final aggregate pair —
    a second shuffle would mean the moments didn't combine map-side."""
    from firebird_mapreduce_spark.plans.audit import count_exchanges

    assert count_exchanges(R.stats_moments(spark, SF_SMOKE)) == 1


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE must split the hot partition of a skewed shuffle join at
    runtime: with broadcast disabled (the fact⋈fact stand-in) and
    thresholds scaled to the sf0.001 fixture, the executed plan shows
    ``SortMergeJoin(skew=true)`` over an ``AQEShuffleRead`` marked
    ``skewed``.  Ingredients that make the demonstration real at tiny SF
    (each was verified to be load-bearing by removing it):
    - incompressible per-row pad carried THROUGH the join (shuffle sizes
      are post-compression, and a column not in the output is pruned out
      of the shuffle entirely);
    - a multi-mapper upstream (repartition(8)): skew splits are per-map
      chunks, so a single-map shuffle cannot split;
    - a plain-scan dim side: the rule only matches Sort-over-shuffle on
      both sides (an aggregate under the join breaks the pattern)."""
    from firebird_mapreduce_spark.operators.skew import skewed_event_fact
    from firebird_mapreduce_spark.sources import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = skewed_event_fact(spark, SF_SMOKE, pad_blocks=8).repartition(8)
        nation = load_table(spark, SF_SMOKE, "nation")
        joined = fact.join(
            nation, fact.skew_key == nation.n_nationkey
        ).select("event_id", "skew_key", "pad", "n_name")
        assert joined.count() == 1000  # AQE final plan needs an execution
        joined.collect()
        plan = plan_string(joined, "simple")
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan  # the AQEShuffleRead split marker
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def test_merge_upsert_no_window_no_union(spark):
    """The CDC merge is ONE full-outer join + projection: no Window, no
    union-distinct spelling."""
    df = R.merge_upsert_orders(spark, SF_SMOKE)
    plan = plan_string(df, "simple")
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "Window" not in plan


def test_gapfill_spine_broadcast_bounded_exchanges(spark):
    """The gap-fill spine (types × hour sequence) must be the broadcast
    side of the fill join — it is volume-independent — and the whole plan
    stays within the hourly-agg + window shuffles."""
    from firebird_mapreduce_spark.plans.audit import count_exchanges

    df = R.timeseries_gapfill(spark, SF_SMOKE)
    plan = plan_string(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert count_exchanges(df) <= 4, plan


def test_cc_round1_no_forced_frontier_broadcast(spark):
    """Round-2 verdict item 4: min-label CC's round-1 frontier is EVERY
    node, so the code must not carry a forced broadcast hint on it — the
    runtime (AQE) decides from actual sizes.  No broadcast hint may
    survive anywhere in the one-round logical plan."""
    from firebird_mapreduce_spark.operators.graph import (
        connected_components,
        derived_component_graph,
    )

    edges = derived_component_graph(spark, SF_SMOKE)
    df = connected_components(spark, edges, max_iterations=1)
    plan = plan_string(df, "extended")
    assert "ResolvedHint" not in plan and "UnresolvedHint" not in plan, plan


def test_sssp_round_reads_state_once(spark):
    """An SSSP round reads its state once: the state left-joins its
    out-edges (the relax) and every joined row feeds one aggregate, with
    no union of two state reads.  The nation graph is far under the
    broadcast threshold and sizes to one partition, so the join
    broadcasts its build side, the edges, and never sort-merges, and the
    aggregate sits behind one ``Coalesce 1`` with no shuffle: the edge
    ``BroadcastExchange`` is the plan's only exchange.  The fixpoint is
    Dijkstra-checked in test_graph.py."""
    import re

    from firebird_mapreduce_spark.operators.graph import (
        derived_nation_graph,
        sssp,
    )

    edges = derived_nation_graph(spark, SF_SMOKE)
    plan = plan_string(sssp(spark, edges, source=0, max_iterations=1), "simple")
    state_scans = re.findall(
        r"Scan ExistingRDD\[node#\d+L?,dist#\d+,improved#\d+\]", plan
    )
    assert len(state_scans) == 1, plan
    joins = re.findall(r"\w+Join \[[^\n]*", plan)
    assert len(joins) == 1, plan
    assert re.match(r"BroadcastHashJoin .*LeftOuter, BuildRight", joins[0]), plan
    # the build side is the last subtree printed
    build = plan[plan.index("BroadcastExchange") :]
    assert re.search(r"Scan ExistingRDD\[src#\d+L?,dst#", build), plan
    for absent in ("SortMergeJoin", "Union"):
        assert absent not in plan, (absent, plan)
    exchanges = re.findall(r"\w*Exchange ", plan)
    assert exchanges == ["BroadcastExchange "], plan
    assert plan.count("Coalesce 1") == 1, plan


def _round_agg_partitions(plan: str) -> list[int]:
    """Partition counts of the plan's explicit ``repartition(n, node)``
    exchanges (n = 1 plans as ``SinglePartition``).  An sssp round plans
    one only when its edges span more than one partition or are not
    broadcast; a one-partition broadcast round coalesces instead."""
    import re

    found = re.findall(
        r"Exchange (?:SinglePartition|hashpartitioning\(node#\d+L?, (\d+)\)), "
        r"REPARTITION_BY_NUM",
        plan,
    )
    return [int(n) if n else 1 for n in found]


def test_sssp_round_reads_materialised_edges_and_sizes_its_shuffle(
    spark, tmp_path
):
    """The fixpoint driver reads the edge table once per solve: after the
    first checkpoint a round's plan scans the materialised operand, never
    the edge-list file.  The round's aggregation shuffles into exactly the
    partition count the size rule gives — materialised edge bytes (rows ×
    32: an 8-byte row header plus src, dst and weight at 8 bytes each)
    over the advisory partition size, clamped to [1, shuffle partitions] —
    whatever the core count.  At one partition the broadcast round needs
    no shuffle at all: it coalesces to one partition instead."""
    import math

    from firebird_mapreduce_spark.operators.graph import sssp
    from firebird_mapreduce_spark.sources.readers import read_edge_list

    path = tmp_path / "small.graph"
    pairs = [(2, 0, 1), (2, 0, 10), (4, 0, 1), (4, 0, 1), (7, 0, 14), (8, 0, 9)]
    path.write_text(
        "10 6\n" + "".join(f"{s} {d} {w}\n" for s, d, w in pairs)
    )
    rows = 2 * len(pairs)  # the reader's undirected doubling
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key, None)
    try:
        for advisory in (None, "100b", "1b"):
            if advisory is not None:
                spark.conf.set(key, advisory)
            size = spark._jvm.org.apache.spark.network.util.JavaUtils
            want = max(
                1,
                min(cap, math.ceil(rows * 32 / size.byteStringAsBytes(
                    spark.conf.get(key)
                ))),
            )
            df = sssp(
                spark,
                read_edge_list(spark, str(path)),
                # from node 7 the round-1 probe still sees improved rows,
                # so round 2 plans over the round-1 checkpoint
                source=7,
                max_iterations=3,
            )
            plan = plan_string(df, "simple")
            assert "FileScan" not in plan, plan
            assert "Scan ExistingRDD" in plan, plan
            if advisory is None:
                assert want == 1, want
                assert _round_agg_partitions(plan) == [], plan
            else:
                assert set(_round_agg_partitions(plan)) == {want}, (
                    advisory,
                    plan,
                )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    # the sizes exercised: the default keeps a small graph on one
    # partition, and the clamp holds at the session's cap
    assert want == cap


def _broadcast_subtrees(plan: str) -> set[str]:
    """The distinct ``BroadcastExchange`` subtrees of a plan, with
    expression and plan ids stripped."""
    import re

    lines = plan.splitlines()
    found = set()
    for i, line in enumerate(lines):
        col = line.find("BroadcastExchange")
        if col < 0:
            continue
        subtree = [line[col:]]
        for below in lines[i + 1 :]:
            if len(below) - len(below.lstrip(" :")) < col:
                break
            subtree.append(below[col:])
        found.add(re.sub(r"#\d+L?|plan_id=\d+", "", "\n".join(subtree)))
    return found


def test_sssp_window_plans_no_shuffle(spark, monkeypatch):
    """A 2-round probe window over the nation graph (one broadcast
    partition) is one stage: the window statement the driver checkpoints
    plans no shuffle exchange, and both rounds broadcast the same edge
    subtree, so one broadcast serves the window.  Sized past one
    partition (a 1-byte advisory size) the same solve keeps its
    ``repartition(n, node)`` exchange."""
    from firebird_mapreduce_spark import mapreduce
    from firebird_mapreduce_spark.operators.graph import (
        derived_nation_graph,
        sssp,
    )
    from firebird_mapreduce_spark.session import session_confs

    edges = derived_nation_graph(spark, SF_SMOKE)
    checkpoint = mapreduce._observed_checkpoint

    def window_plan(confs: dict) -> str:
        plans = []

        def record(df, metric):
            plans.append(plan_string(df, "simple"))
            return checkpoint(df, metric)

        monkeypatch.setattr(mapreduce, "_observed_checkpoint", record)
        with session_confs(spark, confs):
            sssp(spark, edges, source=0, max_iterations=2, checkpoint_every=2)
        # plans[0] is the edge checkpoint, plans[1] the probed window
        assert len(plans) == 2, plans
        return plans[1]

    plan = window_plan({})
    assert "Exchange " not in plan.replace("BroadcastExchange ", ""), plan
    assert plan.count("BroadcastExchange ") == 2, plan
    assert len(_broadcast_subtrees(plan)) == 1, plan
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    plan = window_plan({key: "1b"})
    assert len(_round_agg_partitions(plan)) == 2, plan
    assert "REPARTITION_BY_NUM" in plan, plan


def test_kmeans_seed_init_scale_safe(spark):
    """Seed selection must not rank the full table through one task
    (round-2 verdict): no Window node, no SinglePartition exchange — just
    a k-key partial→final aggregate over a per-row hash bucket."""
    from firebird_mapreduce_spark.operators.similarity import (
        _kmeans_seed_centroids,
    )
    from firebird_mapreduce_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    seeds = _kmeans_seed_centroids(emb, 4, "vec_id", "embedding")
    plan = plan_string(seeds, "simple")
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    # array-typed min_by falls back to SortAggregate, but it must still be
    # the partial→final pair (map-side combine before the k-key exchange)
    assert "partial_min_by" in plan, plan
    rows = seeds.collect()
    assert 1 <= len(rows) <= 4
    assert len({r["cluster"] for r in rows}) == len(rows)


def test_kmeans_assignment_broadcasts_centroids(spark):
    """One k-means iteration's assignment joins vectors against the k·d
    centroid table via broadcast — a shuffle there would move the full
    vector table per iteration."""
    from firebird_mapreduce_spark.operators.similarity import kmeans_fit
    from firebird_mapreduce_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned, _ = kmeans_fit(emb, k=4, iterations=1)
    plan = plan_string(assigned, "simple")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_runtime_bloom_filter_prunes_big_join_side(spark):
    """Runtime row-level filtering (Spark 3.3+): on a shuffle join whose
    build side carries a selective filter, Catalyst injects a bloom
    filter built from the small side into the big side's scan, pruning
    shuffle input before the join.  The application-side threshold is
    10 GB by default, so at sf0.001 the injection must be coaxed with
    lowered thresholds — at the 100 TB target the DEFAULTS fire; this
    pins that the engine's join shapes are eligible (no UDF/barrier in
    the way), not the thresholds themselves."""
    from firebird_mapreduce_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        lineitem = load_table(spark, SF_SMOKE, "lineitem")
        df = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))
        plan = plan_string(df, "simple").lower()
        assert "bloomfilter" in plan or "might_contain" in plan, plan[:2000]
        rows = df.collect()
        assert rows and rows[0]["cnt"] > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sql_surface_q5_matches_dataframe_plan_and_values(spark):
    """The spark.sql spelling of the Q5 flagship must land on the same
    physical shape as the DataFrame spelling (broadcast dims, shuffled
    fact joins) and, run over the SAME region/year, the same values —
    proving the SQL surface is the DataFrame surface, one Catalyst in."""
    from pyspark.sql import functions as F

    from firebird_mapreduce_spark.sources import load_table

    df = R.tpch_q5_sql(spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)
    rows = {(r.n_name, round(r.revenue, 2), r.n_lines) for r in df.collect()}
    assert rows, "EUROPE/1995 slice must be non-empty"
    # independent DataFrame spelling of the same slice
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    cust = load_table(spark, SF_SMOKE, "customer")
    nation = load_table(spark, SF_SMOKE, "nation")
    region = load_table(spark, SF_SMOKE, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(28,4)")
    want = {
        (r.n_name, round(r.revenue, 2), r.n_lines)
        for r in (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg(
                F.sum(revenue).cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_lines"),
            )
            .collect()
        )
    }
    assert rows == want


def test_lateral_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL must not execute as a per-row subquery:
    Catalyst rewrites it to a ranked join whose WindowGroupLimit prunes
    each group to the top-k BEFORE the shuffle (map-side top-k — the
    property that makes the spelling safe at a billion customers), with
    the tiny nation side broadcast."""
    df = R.lateral_topk_per_nation(spark, SF_SMOKE)
    plan = plan_string(df, "simple")
    assert "WindowGroupLimit" in plan
    assert has_broadcast_hash_join(df)
    assert count_exchanges(df) == 1
    rows = df.collect()
    assert len(rows) == 50  # 25 nations x top-2


def test_z3_z4_match_reference_interleave_in_both_engines(spark):
    """The 3-D and 4-D Morton keys must be bit-identical to a plain
    per-bit reference interleave, in Spark AND DuckDB (the oracle uses
    the SQL twins), across random and boundary inputs — magic-number
    spreads are exactly the kind of code a single wrong mask silently
    corrupts."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from firebird_mapreduce_spark.functions.zorder import (
        z3,
        z3_sql,
        z4,
        z4_sql,
    )

    def ref(vals, bits):
        out = 0
        for i in range(bits):
            for d, v in enumerate(vals):
                out |= ((v >> i) & 1) << (i * len(vals) + d)
        return out

    rnd = random.Random(7)
    rows = [
        (
            rnd.randrange(65536),
            rnd.randrange(65536),
            rnd.randrange(65536),
            rnd.randrange(32768),
        )
        for _ in range(500)
    ] + [
        (0, 0, 0, 0),
        (65535, 65535, 65535, 32767),
        (1, 0, 0, 0),
        (0, 1, 0, 0),
        (0, 0, 1, 0),
        (0, 0, 0, 1),
    ]
    df = spark.createDataFrame(rows, "a LONG, b LONG, c LONG, d LONG")
    got = df.select(
        "a",
        "b",
        "c",
        "d",
        z3(F.col("a"), F.col("b"), F.col("c")).alias("z3"),
        z4(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("z4"),
    ).collect()
    for r in got:
        assert r.z3 == ref([r.a, r.b, r.c], 16)
        assert r.z4 == ref([r.a & 0x7FFF, r.b & 0x7FFF, r.c & 0x7FFF, r.d], 15)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT, c BIGINT, d BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    q = (
        f"SELECT a, b, c, d, {z3_sql('a', 'b', 'c')} AS z3, "
        f"{z4_sql('a', 'b', 'c', 'd')} AS z4 FROM t"
    )
    for a, b, c, d, x3, x4 in con.execute(q).fetchall():
        assert x3 == ref([a, b, c], 16)
        assert x4 == ref([a & 0x7FFF, b & 0x7FFF, c & 0x7FFF, d], 15)


def test_dpp_join_injects_runtime_partition_pruning(spark):
    """dpp_join_events must get RUNTIME partition pruning: the stored
    dim's category filter is data (not a foldable expression — a CASE
    dim verifiably gets constant-folded into a static partition filter,
    which is the non-demonstration), so the fact scan's PartitionFilters
    must carry a dynamicpruningexpression subquery fed by the broadcast
    dim, and the executed scan must read only the surviving partition's
    rows."""
    from firebird_mapreduce_spark.operators.layout import dpp_join_events

    df = dpp_join_events(spark, SF_SMOKE)
    plan = plan_string(df)
    assert "dynamicpruningexpression" in plan, plan
    assert has_broadcast_hash_join(df)
    # the pruning expression hangs off the partitioned FACT scan, not
    # the dim scan
    detail = plan.split("Scan parquet spark_catalog.default.events_part_", 2)[
        -1
    ].split("(2)")[0]
    assert "dynamicpruningexpression" in detail, plan
    # execution evidence: only the surviving partition's group comes back
    rows = df.collect()
    assert [r.event_type for r in rows] == ["purchase"]
    assert rows[0].n_events > 0


def test_runtime_bloom_filter_reduces_fact_scan_at_scale_shape(spark):
    """runtime_bloom_join under the at-scale planning shape (dim too big
    to broadcast, fact scan past the application-side threshold — both
    modeled by conf, exactly what a 100 TB lineitem presents): the plan
    must inject the row-level runtime filter — bloom_filter_agg over the
    filtered dim's keys, might_contain(xxhash64(l_orderkey)) pushed onto
    the FACT side before the join shuffle — and the result must be
    byte-identical to the default plan (a bloom filter may only discard
    rows the join would discard)."""
    from firebird_mapreduce_spark.operators.relational import (
        runtime_bloom_join,
    )

    baseline = sorted(map(tuple, runtime_bloom_join(spark, SF_SMOKE).collect()))
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = runtime_bloom_join(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        # the filter sits on the FACT (lineitem) side: it references
        # l_orderkey, not the dim key
        might = [ln for ln in plan.splitlines() if "might_contain" in ln]
        assert any("l_orderkey" in ln for ln in might), might
        assert sorted(map(tuple, df.collect())) == baseline
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def test_jdbc_read_is_partitioned_and_pushes_filter(spark):
    """The JDBC dim read must be a 4-way range-partitioned parallel scan
    with the predicate compiled into the remote WHERE clause (the `*`
    prefix marks source-evaluated filters) — a single-connection
    unfiltered pull is the classic JDBC scaling mistake."""
    from firebird_mapreduce_spark.sources.jdbc import jdbc_roundtrip_nation

    df = jdbc_roundtrip_nation(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "JDBCRelation" in ln]
    assert scan, plan
    assert "[numPartitions=4]" in scan[0]
    assert "*GreaterThanOrEqual(n_regionkey,2)" in scan[0], scan[0]
    rows = sorted((r.n_regionkey, r.n_nations) for r in df.collect())
    assert [k for k, _ in rows] == [2, 3, 4] and all(n == 5 for _, n in rows)


def test_join_strategy_hints_control_physical_operator(spark):
    """The engine's join-strategy surface: the SAME logical join compiles
    to SortMergeJoin / ShuffledHashJoin / BroadcastHashJoin purely by
    hint, with byte-identical results — at 100 TB picking the physical
    join per table-size regime is a first-class tuning lever (SMJ spills
    gracefully, SHJ skips both sorts when one side fits a task, BHJ
    skips the shuffle entirely), and this pins that the lever works."""
    from firebird_mapreduce_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")

    def joined(hint: str | None):
        dim = customer.hint(hint) if hint else customer
        return (
            orders.join(dim, orders.o_custkey == dim.c_custkey)
            .groupBy("c_nationkey")
            .agg({"o_totalprice": "count"})
        )

    plans = {
        h: plan_string(joined(h), "simple")
        for h in ("merge", "shuffle_hash", "broadcast")
    }
    assert "SortMergeJoin" in plans["merge"], plans["merge"]
    assert "ShuffledHashJoin" in plans["shuffle_hash"], plans["shuffle_hash"]
    assert "BroadcastHashJoin" in plans["broadcast"], plans["broadcast"]
    results = {
        h: sorted(map(tuple, joined(h).collect()))
        for h in ("merge", "shuffle_hash", "broadcast")
    }
    assert results["merge"] == results["shuffle_hash"] == results["broadcast"]
