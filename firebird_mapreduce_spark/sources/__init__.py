"""Sources: typed table readers over the test corpus, the
reference's edge-list format, and a binary-file connector for media.

The reference's only "source" is a caller-owned typed C array
(``/root/reference/firebird.h:167-170``; ``README.txt:53-54``).  Here the
source layer is Spark's DataSource V2 scans — which bring partitioned reads,
predicate pushdown, and column pruning for free.
"""

from .readers import (
    TABLES,
    load_table,
    read_binary_dir,
    undirected,
)

__all__ = [
    "TABLES",
    "load_table",
    "read_binary_dir",
    "undirected",
]
