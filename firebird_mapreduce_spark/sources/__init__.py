"""Sources and sinks: typed table readers over the test corpus plus
generic parquet/csv/json/binary connectors.

The reference's only "source" is a caller-owned typed C array
(``/root/reference/firebird.h:167-170``; ``README.txt:53-54``).  Here the
source layer is Spark's DataSource V2 scans — which bring partitioned reads,
predicate pushdown, and column pruning for free.
"""

from .readers import (
    TABLES,
    load_table,
    load_tables,
    read_binary_dir,
    read_csv,
    read_json,
    read_parquet,
    undirected,
    write_parquet,
)

__all__ = [
    "TABLES",
    "load_table",
    "load_tables",
    "read_binary_dir",
    "read_csv",
    "read_json",
    "read_parquet",
    "undirected",
    "write_parquet",
]
