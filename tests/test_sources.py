"""Source connector tests: edge-list text (the reference's graph
format), binary-file ingestion, and the corpus table reader."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from firebird_mapreduce_spark.sources import read_binary_dir
from firebird_mapreduce_spark.sources.readers import read_edge_list

# the reference's checked-in small.graph, byte for byte
# (/root/reference/sample_apps/shortest_path/small.graph)
SMALL_GRAPH_TEXT = "10 6\n2 0 1\n2 0 10\n4 0 1\n4 0 1\n7 0 14\n8 0 9\n"


def test_read_edge_list_reference_format(spark, tmp_path):
    path = tmp_path / "small.graph"
    path.write_text(SMALL_GRAPH_TEXT)
    edges = read_edge_list(spark, str(path))
    rows = edges.collect()
    # header dropped, 6 directed edges doubled to 12 (undirected,
    # mirroring main.cpp:92-93)
    assert len(rows) == 12
    assert edges.filter((F.col("src") == 0) & (F.col("dst") == 2)).count() == 2


def test_binary_dir_source(spark, tmp_path):
    (tmp_path / "img1.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "img2.bin").write_bytes(b"\x03\x04")
    (tmp_path / "skip.txt").write_text("no")
    df = read_binary_dir(spark, str(tmp_path), glob="*.bin")
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    assert set(rows) == {"img1.bin", "img2.bin"}
    assert rows["img1.bin"]["length"] == 3
    assert bytes(rows["img2.bin"]["content"]) == b"\x03\x04"


def test_nanos_conf_restored_after_load(spark):
    """load_table must not leak the session-global nanosAsLong flip: a
    later unrelated read in the same session would silently scan nanos
    columns as LONG (ADVICE round 1)."""
    from firebird_mapreduce_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    key = "spark.sql.legacy.parquet.nanosAsLong"
    df = load_table(spark, SF_SMOKE, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert spark.conf.get(key, None) is None  # restored (was unset)


def test_nanos_directory_table_converts(spark, tmp_path):
    """A nanos table laid out as a DIRECTORY of part-files (the normal
    Spark layout) must still get timestamp conversion — the schema probe
    falls back to the first part-file's footer (ADVICE round 1).  The
    nanos fixture is crafted here (cast up from the corpus): the corpus
    generator has shipped both nanos and micros data across rounds, so
    the nanos code path must stay covered regardless of what the current
    corpus happens to store."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from firebird_mapreduce_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    src = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    ts_idx = src.schema.get_field_index("ts")
    src = src.set_column(
        ts_idx, "ts", src.column("ts").cast(pa.timestamp("ns"))
    )
    assert str(src.schema.field("ts").type).startswith("timestamp[ns")
    table_dir = tmp_path / "events.parquet"
    table_dir.mkdir()
    half = len(src) // 2
    pq.write_table(src.slice(0, half), str(table_dir / "part-00000.parquet"))
    pq.write_table(src.slice(half), str(table_dir / "part-00001.parquet"))

    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() == len(src)
    # values survive the nanos→micros downshift: compare one row against
    # the micros/ntz-read original
    orig = load_table(spark, SF_SMOKE, "events")
    assert dict(orig.dtypes)["ts"] == "timestamp"  # ntz normalized too
    want = {(r["event_id"], r["ts"]) for r in orig.limit(50).collect()}
    got = {
        (r["event_id"], r["ts"])
        for r in df.filter(
            df.event_id.isin([e for e, _ in want])
        ).collect()
    }
    assert got == want


def test_xml_round_trip(spark, tmp_path):
    """Spark 4's built-in XML source: the nation table round-trips through
    row-tagged XML with values intact — the enterprise-feed ingest format
    the reference (in-memory vectors only) never had a reader for."""
    from firebird_mapreduce_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    nation = load_table(spark, SF_SMOKE, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "nation_xml")
    (
        nation.write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .mode("overwrite")
        .save(path)
    )
    back = spark.read.format("xml").option("rowTag", "nation").load(path)
    want = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in nation.collect()}
    got = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in back.collect()}
    assert got == want and len(got) == 25


def test_edgelist_datasource_partitioned_read_matches_csv_reader(spark, tmp_path):
    """The registered Python DataSource (Spark 4 plugin surface) must
    produce the exact multiset of the CSV-based reader across arbitrary
    byte-range splits: 1000 synthetic edges read with 7 partitions — so
    split boundaries land mid-line — equal the single-pass answer, and
    the header line never leaks through as an edge."""
    from firebird_mapreduce_spark.sources.edgelist_source import register

    register(spark)
    lines = ["1000 1000"] + [
        f"{i % 97} {(i * 7) % 89} {(i % 13) + 1}" for i in range(1000)
    ]
    path = tmp_path / "syn.graph"
    path.write_text("\n".join(lines) + "\n")

    ds = (
        spark.read.format("edgelist")
        .option("numPartitions", 7)
        .load(str(path))
    )
    assert ds.rdd.getNumPartitions() == 7
    got = sorted((r.src, r.dst, r.weight) for r in ds.collect())
    want = sorted(
        (r.src, r.dst, float(r.weight)) for r in read_edge_list(spark, str(path)).collect()
    )
    assert got == want and len(got) == 2000


def test_edgelist_datasource_filter_pushdown_absorbs_comparisons(spark, tmp_path):
    """pushFilters: simple comparisons are absorbed into the Python read
    loop (rows failing them never cross the Arrow boundary) and the
    filtered result is still exact; unsupported filters are yielded back
    for Spark to re-apply."""
    from pyspark.sql.datasource import EqualTo, IsNotNull

    from firebird_mapreduce_spark.sources.edgelist_source import (
        EdgeListReader,
        register,
    )

    register(spark)
    path = tmp_path / "small.graph"
    path.write_text(SMALL_GRAPH_TEXT)

    df = (
        spark.read.format("edgelist")
        .option("numPartitions", 3)
        .load(str(path))
        .filter("src = 0 AND weight > 1")
    )
    got = sorted((r.src, r.dst, r.weight) for r in df.collect())
    # directed edges all point at 0, so src=0 rows are the doubled halves
    assert got == [(0, 2, 10.0), (0, 7, 14.0), (0, 8, 9.0)]

    # unit-level: supported filters retained, unsupported yielded back
    reader = EdgeListReader({"path": str(path)})
    unsupported = list(
        reader.pushFilters([EqualTo(("src",), 0), IsNotNull(("dst",))])
    )
    assert [type(f) for f in unsupported] == [IsNotNull]
    assert reader.pushed == [(EqualTo, "src", 0)]


def test_edgelist_register_changes_no_session_conf(spark):
    """Registering the edge-list format only registers it: the Python
    filter-pushdown gate is an engine-session default, so a session that
    closed it keeps it closed after ``register``."""
    from firebird_mapreduce_spark.session import session_confs
    from firebird_mapreduce_spark.sources.edgelist_source import register

    key = "spark.sql.python.filterPushdown.enabled"
    with session_confs(spark, {key: "false"}):
        register(spark)
        assert spark.conf.get(key) == "false"


def test_corrupt_parquet_file_tolerated_when_configured(spark, tmp_path):
    """Operational ingestion posture: with
    ``spark.sql.files.ignoreCorruptFiles`` a scan survives a corrupt
    file in the directory and returns every row from the healthy files;
    with the default (false) the same scan fails loudly.  At 100 TB a
    single truncated object in a million-file lake is a WHEN, not an if
    — both behaviors (skip-and-continue vs fail-fast) must be the
    configured choice, never an accident."""
    import pytest

    d = tmp_path / "lake"
    spark.range(100).repartition(4).write.parquet(str(d))
    parts = sorted(p for p in os.listdir(d) if p.endswith(".parquet"))
    victim = os.path.join(str(d), parts[0])
    # count rows the victim holds, then smash its footer
    n_victim = spark.read.parquet(victim).count()
    with open(victim, "r+b") as f:
        f.truncate(8)  # keep the magic, destroy the footer
    # .crc sidecars would fail the local filesystem's checksum check
    # before the reader even sees the corrupt footer — remove them to
    # test the PARQUET-layer behavior
    for p in os.listdir(d):
        if p.endswith(".crc"):
            os.remove(os.path.join(str(d), p))
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
        with pytest.raises(Exception):
            spark.read.parquet(str(d)).count()
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        # schema stated explicitly: ignoreCorruptFiles governs DATA
        # reads, not schema inference — inference may still pick (and
        # choke on) the corrupt footer, and a production lake declares
        # its schema anyway
        got = spark.read.schema("id bigint").parquet(str(d)).count()
        assert got == 100 - n_victim, (
            f"expected the healthy files' {100 - n_victim} rows, got {got}"
        )
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_malformed_json_rows_permissive_vs_failfast(spark, tmp_path):
    """Schema-drifted / malformed JSON rows: PERMISSIVE mode lands them
    in ``_corrupt_record`` with NULL data columns (quarantine-and-
    continue), DROPMALFORMED silently drops them, FAILFAST raises —
    the three contracts an ingestion pipeline chooses between."""
    import pytest

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        "not json at all\n"
        '{"id": 3, "v": "c"}\n'
    )
    schema = "id bigint, v string, _corrupt_record string"
    perm = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()
    )
    rows = perm.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and bad[0].id is None
    assert bad[0]._corrupt_record.startswith("not json")
    perm.unpersist()

    dropped = (
        spark.read.schema("id bigint, v string")
        .option("mode", "DROPMALFORMED")
        .json(str(p))
        .collect()
    )
    assert sorted(r.id for r in dropped) == [1, 3]

    with pytest.raises(Exception):
        (
            spark.read.schema("id bigint, v string")
            .option("mode", "FAILFAST")
            .json(str(p))
            .collect()
        )
