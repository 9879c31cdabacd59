"""Physical-plan auditing: the engine's "would this survive 100×?" gate.

The reference has no optimizer to audit (``/root/reference/firebird.h``
calls user functions straight from its loops; SURVEY §4.1); here Catalyst
does the planning and these helpers make its decisions *testable*:

- filters pushed into the parquet scan (``PushedFilters``),
- column pruning reaching the reader (``ReadSchema``),
- small dimensions broadcast (``BroadcastHashJoin``),
- shuffle counts (``Exchange``) bounded per query,
- expressions inside whole-stage codegen, and the Java each stage
  generates (``codegen_stages``).

``tests/test_plans.py`` asserts these on the declared queries, so a
regression that silently de-optimizes a plan (e.g. a UDF blocking
pushdown) fails CI instead of surfacing as a 10× slowdown at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (what ``df.explain(mode)`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True when a parquet scan reports a pushed filter mentioning
    ``fragment`` (e.g. a column name)."""
    plan = plan_string(df)
    for match in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if fragment in match.group(1):
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of each scan's ReadSchema — the column-pruning audit."""
    plan = plan_string(df)
    out = []
    for match in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [
            part.split(":")[0].strip()
            for part in match.group(1).split(",")
            if part.strip()
        ]
        out.append(cols)
    return out


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle boundaries in the plan.

    Counts only nodes whose operator name is exactly ``Exchange`` (a
    shuffle): the negative lookbehind excludes ``BroadcastExchange`` (moves
    only the small side) and ``ReusedExchange`` (re-reads an existing
    shuffle's output — no new data movement), both of which contain the
    substring.  ``Exchange SinglePartition`` (final single-row collapses)
    is excluded as before."""
    plan = plan_string(df, "simple")
    return len(re.findall(r"(?<![A-Za-z])Exchange (?!SinglePartition)", plan))


def wholestage_codegen_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans; wider/fewer is better."""
    plan = plan_string(df, "simple")
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def codegen_stages(df: DataFrame) -> list[tuple[str, str]]:
    """``(stage header, generated Java source)`` for every whole-stage
    codegen stage of ``df``'s executed plan.  Runs ``df.collect()`` first:
    under AQE the stages exist only in the finalised plan.  The header is
    the stage's subtree (join conditions included); equal sources for two
    plans mean the second reuses the first's compiled class."""
    df.collect()
    jvm = df._sc._jvm  # type: ignore[attr-defined]
    debug = getattr(jvm.org.apache.spark.sql.execution.debug, "package")
    seq = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
    return [(seq.apply(i)._1(), seq.apply(i)._2()) for i in range(seq.length())]
