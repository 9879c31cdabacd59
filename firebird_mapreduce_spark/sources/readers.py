"""Table readers: the corpus tables, the reference's edge-list format
and raw binary files.

Design notes for 100 TB:

- Always go through ``spark.read`` (DataSource V2) so predicate pushdown,
  column pruning and partition pruning stay available to Catalyst — never
  materialize on the driver.
- ``load_table`` returns the *unprojected* DataFrame; callers project
  (``select``) so pruning reaches the parquet scan (verify with
  ``plans.has_pushed_filter``).
- Other formats need no wrapper here: ``spark.read``/``DataFrame.write``
  already take csv, json, orc and parquet with their options.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_confs

# The full test corpus (TESTDATA.md): TPC-H-ish star schema + events stream
# + LLM-pipeline tables.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _timestamp_col_classes(path: str) -> tuple[list[str], bool]:
    """Classify a parquet table's timestamp columns from its footer:
    returns ``(nanos_cols, has_ntz)``.

    - ``nanos_cols``: columns stored as TIMESTAMP(NANOS) — Spark cannot
      scan those natively (PARQUET_TYPE_ILLEGAL), so the reader downshifts
      them via ``nanosAsLong``.
    - ``has_ntz``: any scannable timestamp column with
      ``isAdjustedToUTC=false`` — Spark would infer TIMESTAMP_NTZ for
      those, but this engine reads them as session-TZ TIMESTAMP (the
      session pins UTC, so values are identical) to keep one stable
      timestamp dtype across corpus generations: the generator has
      shipped both nanos (→ converted LTZ) and micros-NTZ data, and a
      dtype that flips per corpus would break oracle schema comparison.

    Footer metadata only: a driver-side read of a few KB regardless of
    table size.  ``path`` may be a single file or a directory of
    part-files (the normal Spark output layout, possibly with partition
    subdirectories): for a directory the first part-file's footer is read
    — all parts of one table share a schema.  Schema-read failures
    propagate rather than being swallowed: silently returning nothing
    would scan a nanos table as raw LONG and change column types without
    warning."""
    import pyarrow.parquet as pq

    candidate = path
    if os.path.isdir(path):
        candidate = None
        for root, dirs, files in os.walk(path):
            dirs.sort()
            parts = sorted(
                f for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if parts:
                candidate = os.path.join(root, parts[0])
                break
        if candidate is None:
            return [], False
    schema = pq.read_schema(candidate)
    nanos = [
        field.name
        for field in schema
        if str(field.type).startswith("timestamp[ns")
    ]
    has_ntz = any(
        str(field.type).startswith("timestamp[")
        and not str(field.type).startswith("timestamp[ns")
        and getattr(field.type, "tz", None) is None
        for field in schema
    )
    return nanos, has_ntz


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table from ``{sf_dir}/{name}.parquet``.

    Tables with nanosecond-precision timestamps are read via the
    ``nanosAsLong`` legacy mode and converted back to TIMESTAMP at
    microsecond precision with integer division (double division would lose
    precision: epoch-nanos ~1.7e18 exceeds a double's 53-bit exact range).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols, has_ntz = _timestamp_col_classes(path)
    if not nanos_cols and not has_ntz:
        return spark.read.parquet(path)
    # Both confs are session-global with no per-read option; schema
    # inference consults them eagerly when the DataFrame is created, so
    # they are flipped only around this read and then restored — a reader
    # must not permanently mutate session-global state (later unrelated
    # reads in the same session would silently change column types).
    # - nanosAsLong: lets the scan read TIMESTAMP(NANOS) as raw LONG.
    # - inferTimestampNTZ disabled: micros/millis NTZ columns scan as
    #   session-TZ TIMESTAMP (UTC session → identical values), keeping
    #   the dtype stable across corpus generations AT THE SCAN, so filter
    #   pushdown on timestamp columns survives (a post-scan cast would
    #   sit between the filter and the parquet reader).
    flips: dict[str, str] = {}
    if nanos_cols:
        flips["spark.sql.legacy.parquet.nanosAsLong"] = "true"
    if has_ntz:
        flips["spark.sql.parquet.inferTimestampNTZ.enabled"] = "false"
    with session_confs(spark, flips):
        df = spark.read.parquet(path)
        for col in nanos_cols:
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
        return df


def undirected(edges: DataFrame) -> DataFrame:
    """Mirror every edge: ``edges`` union its src/dst swap, every other
    column carried through — the reference loader's undirected doubling
    (``shortest_path/main.cpp:92-93``) as a column-swap union instead of a
    CSR build, so joins replace offset lookups."""
    rest = [c for c in edges.columns if c not in ("src", "dst")]
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *rest)
    )


def read_edge_list(spark: SparkSession, path: str) -> DataFrame:
    """Read a whitespace edge-list text file shaped like the reference's
    graph fixtures: a ``num_nodes num_edges`` header line followed by
    ``src dst weight`` triples (loader behavior mirrored from
    ``/root/reference/sample_apps/shortest_path/main.cpp:68-106``).

    Every edge is mirrored by :func:`undirected`, as the reference loader
    doubles it (``main.cpp:92-93``).
    """
    raw = (
        spark.read.option("sep", " ")
        .schema("src INT, dst INT, weight FLOAT")
        .csv(path)
    )
    # header row parses as (num_nodes, num_edges, NULL weight) — drop it
    return undirected(raw.filter(F.col("weight").isNotNull()))


def read_binary_dir(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal raw-bytes source: one row per file with ``path``,
    ``modificationTime``, ``length``, ``content:binary``.

    This is the ingestion point for image/audio/video payloads — downstream
    operators treat ``content`` as an opaque binary column with typed
    metadata (see ``operators.multimodal``).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
