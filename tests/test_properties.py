"""Property-based tests (hypothesis): the engine's operators against naive
reference implementations on adversarial random inputs — generalizing the
reference's differential-oracle habit beyond fixed fixtures."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from firebird_mapreduce_spark.mapreduce import map_reduce
from firebird_mapreduce_spark.operators.relational import asof_join

SPARK_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)
records = st.lists(st.tuples(keys, st.integers(-100, 100)), min_size=0, max_size=60)


@SPARK_SETTINGS
@given(data=records)
def test_map_reduce_count_matches_python(spark, data):
    if not data:
        return
    df = spark.createDataFrame(data, "k int, v int")

    def map_fn(chunk):
        for k in chunk["k"]:
            yield {"k": int(k), "one": 1}

    def reduce_fn(key, group):
        yield {"k": key[0], "cnt": len(group)}

    out = map_reduce(df, map_fn, "k int, one int", ["k"], reduce_fn, "k int, cnt long")
    got = {(r["k"], r["cnt"]) for r in out.collect()}
    want = {(k, c) for k, c in Counter(k for k, _ in data).items()}
    assert got == want


# as-of: left rows pick the latest right value at-or-before their ts
asof_inputs = st.tuples(
    st.lists(st.tuples(keys, st.integers(0, 50)), min_size=1, max_size=25),  # left (key, ts)
    st.lists(st.tuples(keys, st.integers(0, 50)), min_size=0, max_size=25),  # right (key, ts)
)


@SPARK_SETTINGS
@given(data=asof_inputs)
def test_asof_join_matches_naive(spark, data):
    left_rows, right_rows = data
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)], "lid int, k int, ts int"
    )
    right = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right_rows)], "rid int, rk int, rts int"
    )
    out = asof_join(
        left, right, left_on="k", right_on="rk", left_ts="ts", right_ts="rts",
        value_cols=["rid"],
    )
    got = {(r["lid"], r["rid"]) for r in out.collect()}

    # naive: max (rts, rid) among right rows with same key and rts <= ts
    want = set()
    for lid, (k, t) in enumerate(left_rows):
        cands = [
            (rts, rid)
            for rid, (rk, rts) in enumerate(right_rows)
            if rk == k and rts <= t
        ]
        want.add((lid, max(cands)[1] if cands else None))
    assert got == want


def test_approx_percentile_within_epsilon(spark):
    """The t-digest-style approx percentiles must land within the exact
    answer's neighborhood: at accuracy=10000 on ~2k values per key the
    rank error bound (1/accuracy) means the approx value sits between the
    exact neighbors of the target rank — asserted as a small relative
    error vs the exact median/p90."""
    from firebird_mapreduce_spark.operators.relational import (
        approx_percentile_stats,
        percentile_stats,
    )
    from tests.conftest import SF_SMOKE

    exact = {
        r["event_type"]: (r["med"], r["p90"])
        for r in percentile_stats(spark, SF_SMOKE).collect()
    }
    approx = {
        r["event_type"]: (r["med_approx"], r["p90_approx"])
        for r in approx_percentile_stats(spark, SF_SMOKE).collect()
    }
    assert set(exact) == set(approx)
    for key in exact:
        for got, want in zip(approx[key], exact[key]):
            assert abs(got - want) <= max(0.05, 0.05 * abs(want)), (key, got, want)


def test_stats_moments_pin_builtin_aggregates(spark):
    """The decimal-moment-derived statistics must agree with Spark's
    built-in var_samp/stddev_samp/corr to 1e-9 relative — proving the
    derivation is the same statistic, just reduction-order-exact."""
    from pyspark.sql import functions as F

    from firebird_mapreduce_spark.operators.relational import stats_moments
    from firebird_mapreduce_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    got = {r["l_returnflag"]: r for r in stats_moments(spark, SF_SMOKE).collect()}
    ref = {
        r["l_returnflag"]: r
        for r in load_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.var_samp("l_quantity").alias("v"),
            F.stddev_samp("l_quantity").alias("s"),
            F.corr("l_quantity", "l_extendedprice").alias("c"),
        )
        .collect()
    }
    assert set(got) == set(ref)
    for flag in got:
        for mine, builtin in [
            (got[flag]["var_qty"], ref[flag]["v"]),
            (got[flag]["std_qty"], ref[flag]["s"]),
            (got[flag]["corr_qty_price"], ref[flag]["c"]),
        ]:
            # query output is rounded at 6 dp: allow the half-quantum plus
            # a relative sliver for the built-in's reduction-order noise
            assert (
                abs(mine - builtin) <= 5.1e-7 + 1e-9 * abs(builtin)
            ), (flag, mine, builtin)


@SPARK_SETTINGS
@given(
    base=st.lists(st.tuples(keys, st.integers(-9, 9)), max_size=30),
    upd=st.lists(st.tuples(keys, st.integers(-9, 9)), max_size=12),
)
def test_merge_upsert_matches_dict_semantics(spark, base, upd):
    """merge_upsert vs the naive dict model: start from base keyed by k
    (last row per duplicate key unspecified — dedupe inputs first), apply
    updates, updates win."""
    from firebird_mapreduce_spark.operators.relational import merge_upsert

    base = list({k: (k, v) for k, v in base}.values())
    upd = list({k: (k, v) for k, v in upd}.values())
    if not base and not upd:
        return
    want = {k: v for k, v in base}
    want.update({k: v for k, v in upd})
    base_df = spark.createDataFrame(base or [(None, None)], "k INT, v INT").filter(
        "k IS NOT NULL" if not base else "1=1"
    )
    upd_df = spark.createDataFrame(upd or [(None, None)], "k INT, v INT").filter(
        "k IS NOT NULL" if not upd else "1=1"
    )
    got = {r["k"]: r["v"] for r in merge_upsert(base_df, upd_df, ["k"]).collect()}
    assert got == want


texts = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12).map(
        " ".join
    ),
    min_size=1,
    max_size=20,
)


@SPARK_SETTINGS
@given(docs=texts)
def test_pack_chunks_matches_serial_packer(spark, docs):
    """The window-cumsum chunk assignment must equal a serial Python
    packer: per shard, concatenate docs in doc_id order and slice every
    `context` tokens."""
    import hashlib
    from collections import defaultdict

    from firebird_mapreduce_spark.operators.pipeline import pack_chunks

    context = 8
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.shard, r.chunk): (r.n_docs, r.chunk_tokens, r.first_doc, r.last_doc)
        for r in pack_chunks(df, context).collect()
    }

    # serial reference
    shards = defaultdict(list)
    for i, t in rows:
        h = hashlib.md5(f"shard|{i}".encode()).hexdigest()[0]
        shards[h].append((i, len(t.lower().split(" "))))
    want: dict = {}
    for shard, members in shards.items():
        cum = 0
        for i, n_tok in sorted(members):
            cum += n_tok
            chunk = (cum - 1) // context
            key = (shard, chunk)
            n_docs, toks, first, last = want.get(key, (0, 0, i, i))
            want[key] = (n_docs + 1, toks + n_tok, min(first, i), max(last, i))
    assert got == want


@SPARK_SETTINGS
@given(docs=texts)
def test_ngram_overlap_matches_set_intersection(spark, docs):
    """Distributed n-gram overlap counting must equal Python set
    intersection (probe = doc 0, corpus = the rest)."""
    from firebird_mapreduce_spark.operators.pipeline import ngram_overlap

    n = 3
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    probe = df.filter(F.col("doc_id") == 0)
    corpus = df.filter(F.col("doc_id") > 0)
    got = {
        r.doc_id: r.n_contaminated_ngrams
        for r in ngram_overlap(corpus, probe, n).collect()
    }

    def grams(t: str) -> set:
        toks = t.lower().split(" ")
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    pg = grams(docs[0])
    want = {}
    for i, t in rows[1:]:
        hits = len(grams(t) & pg)
        if hits:
            want[i] = hits
    assert got == want


def test_decimal_sums_stable_across_partitioning(spark):
    """The reduction-order-independence claim, pinned: decimal-exact
    aggregates must produce IDENTICAL values whether computed over 1
    partition or 32 (double sums would drift in the low bits)."""
    from firebird_mapreduce_spark.operators.relational import group_sum_avg
    from tests.conftest import SF_SMOKE

    base = sorted(map(tuple, group_sum_avg(spark, SF_SMOKE).collect()))
    for n_parts in (1, 7, 32):
        df = group_sum_avg(spark, SF_SMOKE)
        # re-plan with a forced repartition upstream of the aggregate
        from firebird_mapreduce_spark.sources import load_table
        from pyspark.sql import functions as FF

        li = load_table(spark, SF_SMOKE, "lineitem").repartition(n_parts)
        li.createOrReplaceTempView("_li_rp")
        got = sorted(
            map(
                tuple,
                spark.sql(
                    """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM _li_rp GROUP BY l_returnflag, l_linestatus
            """
                ).collect(),
            )
        )
        # the decimal columns present in both must agree exactly
        base_map = {(r[0], r[1]): r for r in base}
        for row in got:
            b = base_map[(row[0], row[1])]
            assert row[2] in b and row[3] in b, (n_parts, row, b)


def test_oracle_compare_detects_mismatch(spark):
    """Meta-test: the differential harness itself must FAIL on a known
    value difference — guards the whole gate against a vacuous-pass bug
    in canonicalization."""
    import pandas as pd
    import pytest

    from tests.oracle import compare

    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "k long, v double")
    good = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    compare(df, good, "meta_ok")  # identical → passes
    for bad in (
        pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5000000001]}),  # value drift
        pd.DataFrame({"k": [1], "v": [1.5]}),  # row count
        pd.DataFrame({"k": [1, 2], "w": [1.5, 2.5]}),  # column name
    ):
        with pytest.raises(AssertionError):
            compare(df, bad, "meta_bad")


# ---------------------------------------------------------------------------
# Pure-stdlib codec round-trips (no Spark): the multimodal decode path's
# foundations under adversarial random inputs.
# ---------------------------------------------------------------------------

CODEC_SETTINGS = settings(max_examples=30, deadline=None)


@CODEC_SETTINGS
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    mode=st.sampled_from(["none", "mixed"]),
    data=st.data(),
)
def test_png_roundtrip_property(w, h, mode, data):
    """encode→decode must be the identity for every dimension and filter
    mode — 'mixed' cycles all five scanline filters, so Sub/Up/Average/
    Paeth unfiltering is exercised on arbitrary pixel data, including the
    1-pixel-wide column where every 'left' reference is the zero byte."""
    from firebird_mapreduce_spark.functions.png import png_decode, png_encode

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    assert png_decode(png_encode(w, h, rgb, filter_mode=mode)) == (w, h, rgb)


@CODEC_SETTINGS
@given(
    rate=st.integers(min_value=1, max_value=192_000),
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=400
    ),
)
def test_wav_roundtrip_property(rate, samples):
    """encode→decode identity across the full PCM-16 value range,
    including odd sample counts (RIFF word-alignment padding)."""
    from firebird_mapreduce_spark.functions.wav import wav_decode, wav_encode

    assert wav_decode(wav_encode(rate, samples)) == (rate, 1, samples)


@settings(max_examples=200, deadline=None)
@given(
    v=st.one_of(
        # |proj| is bounded by N_DIMS * max|x| in practice; above ~1e21
        # the Decimal rule itself overflows its 28-digit context, so the
        # domain is every magnitude a projection can reach
        st.floats(min_value=-1e15, max_value=1e15),
        st.floats(min_value=-1e-5, max_value=1e-5),
        # adversarial band straddling the half-up tie at 5e-7
        st.floats(min_value=4.9999e-7, max_value=5.0001e-7),
        st.sampled_from(
            [5e-7, 4.999999999999999e-7, 5.000000000000001e-7, 0.0, -5e-7, 1e-6]
        ),
    )
)
def test_round6_pos_fast_path_matches_decimal_rule(v):
    """The vectorized sign test in embedding_lsh_ann_multi's signature
    kernel (acc >= 5e-7 fast path + Decimal-only-in-tie-window slow
    path) must agree with the per-element shortest-repr Decimal rule for
    EVERY float — that agreement is what keeps the Arrow signature path
    bit-identical to the F.round column path and the DuckDB oracle."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    def round6_pos(x: float) -> bool:
        return (
            Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP) > 0
        )

    acc = np.array([v], dtype=np.float64)
    bit = acc >= 5e-07
    for i in np.flatnonzero(np.abs(acc - 5e-07) <= 1e-12):
        bit[i] = round6_pos(float(acc[i]))
    assert bool(bit[0]) == round6_pos(v), v


@SPARK_SETTINGS
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 3),          # key (few keys -> heavy collisions)
            st.integers(-50, 50),       # order value (ties likely)
        ),
        min_size=1,
        max_size=80,
    ),
    parts=st.integers(2, 6),
)
def test_skewed_rank_matches_window_on_random_inputs(spark, data, parts):
    """Randomized differential for the skew-safe rank: arbitrary key
    collisions, order-value ties (broken by the unique row id), and
    partition counts smaller/larger than the key count must all equal
    the row_number window spelling exactly."""
    from pyspark.sql import Window

    from firebird_mapreduce_spark.operators.skew import skewed_rank

    rows = [(k, v, i) for i, (k, v) in enumerate(data)]
    df = spark.createDataFrame(rows, "k int, v int, rid int")
    got = {
        r["rid"]: r["rnk"]
        for r in skewed_rank(
            df, ["k"], ["v", "rid"], num_partitions=parts
        ).collect()
    }
    w = Window.partitionBy("k").orderBy("v", "rid")
    want = {
        r["rid"]: r["rnk"]
        for r in df.withColumn("rnk", F.row_number().over(w)).collect()
    }
    assert got == want


def test_hll_sketches_merge_losslessly(spark):
    """Mergeability is THE distributed-scale property of the HLL sketch:
    at 1000 executors each shard sketches locally and only the fixed-size
    registers travel.  The DataSketches union at equal lgConfigK is a
    deterministic register-max, so unioning 7 per-shard sketches must
    give the IDENTICAL estimate to sketching the whole table in one pass
    — exact equality, not epsilon.  (approx_distinct_users' HLL++ is the
    same algebra internally; this pins the property on the API where the
    sketch is a first-class mergeable value.)"""
    from firebird_mapreduce_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    whole = events.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("est")
    ).collect()[0]["est"]
    shard_sketches = events.withColumn(
        "shard", F.pmod(F.col("event_id"), F.lit(7))
    ).groupBy("shard").agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    assert shard_sketches.count() == 7
    merged = shard_sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    assert whole == merged
    # and the estimate is a real approximation of the exact answer
    exact = events.select("user_id").distinct().count()
    assert abs(whole - exact) / exact < 0.05, (whole, exact)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_zorder_interleave_is_bijective_and_locality_preserving(spark, pairs):
    """The Morton key must be a bijection on 16-bit pairs (deinterleaving
    the even/odd bits recovers exactly the inputs — no collisions, so
    range-partitioning on z never merges distinct (a,b) cells), and
    block-local: pairs sharing their top k bits in BOTH dimensions share
    the top 2k bits of z (the prefix property that makes a z-range an
    axis-aligned rectangle — the entire basis of the pruning claim)."""
    from firebird_mapreduce_spark.functions.zorder import z2

    df = spark.createDataFrame(pairs, "a LONG, b LONG").select(
        "a", "b", z2(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        # deinterleave even bits -> a, odd bits -> b
        a = sum(((r.z >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r.a, r.b)
        for k in (4, 8):
            # prefix property: top-k bits of each dim determine top-2k of z
            za = sum((((r.a >> (16 - k + i)) & 1) << (2 * i) for i in range(k)))
            zb = sum((((r.b >> (16 - k + i)) & 1) << (2 * i + 1) for i in range(k)))
            assert (r.z >> (2 * (16 - k))) == za | zb


def test_count_min_sketch_is_partitioning_invariant(spark):
    """Count-min sketch as a distributed aggregate: the sketch is a
    commutative monoid (cell-wise adds), so the SAME seed over the SAME
    rows must yield BYTE-IDENTICAL sketches regardless of how the rows
    are partitioned — 1 partition vs 13 exercises completely different
    partial-aggregation merge trees.  A sketch whose bytes depended on
    partitioning would be useless as a map-side-combined aggregate at
    1000 executors."""
    from firebird_mapreduce_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events").select(
        F.col("user_id").cast("int").alias("u")
    )
    sketch = lambda df: df.agg(  # noqa: E731
        F.count_min_sketch("u", F.lit(0.005), F.lit(0.99), F.lit(12345)).alias("s")
    ).collect()[0]["s"]
    one = sketch(events.repartition(1))
    many = sketch(events.repartition(13))
    assert bytes(one) == bytes(many)
    assert len(bytes(one)) > 100  # real sketch payload, not a stub


def test_minhash_arrow_kernel_matches_sql_spelling(spark):
    """The r11 Arrow minhash kernel must be ROW-IDENTICAL to the
    relational explode → md5 → groupBy-min spelling it replaced (the
    spelling the DuckDB oracle replays): same signatures hash-for-hash,
    including the array-of-k-NULLs contract for < 3-token docs, and
    invariant to the input's partitioning (the kernel is per-doc pure,
    so the conditional spread must not change a single slice)."""
    from firebird_mapreduce_spark.operators.dedup import (
        _minhash_signatures_sql,
        minhash_signatures,
    )
    from firebird_mapreduce_spark.operators.pipeline import ingest_batch_docs
    from tests.conftest import SF_SMOKE

    docs = ingest_batch_docs(spark, SF_SMOKE).unionByName(
        spark.createDataFrame(
            [
                (1, "one two"),
                (2, None),
                (3, "a b c d"),
                # uppercase doc: the kernel must lowercase before
                # shingling (the tokens() contract) or its signatures
                # diverge from the SQL/oracle spelling
                (4, "The Quick Brown Fox JUMPS Over the LAZY dog"),
            ],
            "doc_id bigint, text string",
        )
    )
    old = _minhash_signatures_sql(docs)
    for variant in (docs, docs.repartition(7)):
        new = minhash_signatures(variant)
        assert new.count() == old.count()
        mismatches = (
            old.alias("o")
            .join(new.alias("n"), "doc_id")
            .filter(~F.col("o.mh").eqNullSafe(F.col("n.mh")))
            .count()
        )
        assert mismatches == 0
