"""Plan inspection and scale-posture assertions."""

from .audit import (
    codegen_stages,
    count_exchanges,
    has_broadcast_hash_join,
    has_pushed_filter,
    plan_string,
    read_schema_columns,
    wholestage_codegen_count,
)

__all__ = [
    "plan_string",
    "has_pushed_filter",
    "has_broadcast_hash_join",
    "count_exchanges",
    "read_schema_columns",
    "wholestage_codegen_count",
    "codegen_stages",
]
