"""Custom Python DataSource (Spark 4 API) for the reference's edge-list
text format — ``num_nodes num_edges`` header, then ``src dst weight``
lines (``/root/reference/sample_apps/shortest_path/main.cpp:68-106``).

``sources.readers.read_edge_list`` covers this format via the CSV
reader; this module re-implements it as a REGISTERED data source
(``spark.read.format("edgelist")``) to exercise the engine's
source-plugin surface the way a user would extend it for a format Spark
has no built-in reader for:

- **Partition-aware**: the file splits into byte ranges, each read task
  seeks to its range and applies the classic InputFormat line-boundary
  rule (a line belongs to the split containing its FIRST byte; a reader
  lands mid-line, backs up one byte, and discards through the next
  newline) — so a 100 GB edge file scans in parallel without a
  preparatory line count.
- **Filter pushdown** (Spark 4.1 ``pushFilters``): simple comparisons
  on src/dst/weight are fully absorbed into the Python read loop, so
  filtered rows never cross the Python→JVM Arrow boundary — the win
  pushdown exists for in a Python source.
- **Undirected**: every edge line yields its mirrored row too, as the
  reference loader doubles edges (``main.cpp:92-93``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

_COMPARATORS = {
    EqualTo: lambda v, c: v == c,
    GreaterThan: lambda v, c: v > c,
    GreaterThanOrEqual: lambda v, c: v >= c,
    LessThan: lambda v, c: v < c,
    LessThanOrEqual: lambda v, c: v <= c,
}


@dataclass
class _ByteRange(InputPartition):
    start: int
    end: int


class EdgeListDataSource(DataSource):
    """``spark.read.format("edgelist").option("numPartitions", 8)
    .load(path)`` → (src INT, dst INT, weight DOUBLE)."""

    @classmethod
    def name(cls) -> str:
        return "edgelist"

    def schema(self) -> str:
        return "src INT, dst INT, weight DOUBLE"

    def reader(self, schema) -> "EdgeListReader":
        return EdgeListReader(self.options)


class EdgeListReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("edgelist source requires a path")
        self.num_partitions = int(options.get("numPartitions", "4"))
        self.pushed: list[tuple[type, str, float]] = []

    def pushFilters(self, filters: Sequence[Filter]) -> Iterator[Filter]:
        for f in filters:
            kind = type(f)
            if (
                kind in _COMPARATORS
                and len(f.attribute) == 1
                and f.attribute[0] in ("src", "dst", "weight")
                and isinstance(f.value, (int, float))
            ):
                # fully absorbed: rows failing it never leave Python
                self.pushed.append((kind, f.attribute[0], f.value))
            else:
                yield f  # Spark re-applies what we don't handle

    def partitions(self) -> Sequence[_ByteRange]:
        size = os.path.getsize(self.path)
        n = max(1, min(self.num_partitions, size))
        step = size // n
        bounds = [i * step for i in range(n)] + [size]
        return [_ByteRange(bounds[i], bounds[i + 1]) for i in range(n)]

    def _keep(self, row: tuple[int, int, float]) -> bool:
        cols = {"src": row[0], "dst": row[1], "weight": row[2]}
        return all(
            _COMPARATORS[kind](cols[attr], val) for kind, attr, val in self.pushed
        )

    def read(self, partition: _ByteRange) -> Iterator[tuple]:
        with open(self.path, "rb") as fh:
            if partition.start == 0:
                fh.readline()  # header line: num_nodes num_edges — skip
            else:
                # line-boundary rule: back up one byte; if that byte is a
                # newline the line STARTING at partition.start is ours,
                # and the readline consumes only the newline — otherwise
                # it discards the partial line the previous split owns
                fh.seek(partition.start - 1)
                fh.readline()
            while True:
                line_start = fh.tell()
                if line_start >= partition.end:
                    break
                line = fh.readline()
                if not line:
                    break
                parts = line.split()
                if len(parts) != 3:
                    continue  # blank/trailing line
                src, dst, weight = int(parts[0]), int(parts[1]), float(parts[2])
                for row in ((src, dst, weight), (dst, src, weight)):
                    if self._keep(row):
                        yield row


def register(spark) -> None:
    """Idempotently register the format with a session.  Python-source
    filter pushdown ships flag-gated in Spark 4.1 and a reader that
    implements ``pushFilters`` hard-errors with the flag off; the engine
    session turns it on (``session._DEFAULT_CONFS``), so registering
    changes no session conf."""
    spark.dataSource.register(EdgeListDataSource)
