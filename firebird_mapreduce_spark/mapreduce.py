"""The idiomatic Spark successor of the reference's ``MapReduceScheduler``.

The reference's entire API surface is: the user overrides two virtual
functions, ``map`` (multi-emit over an input chunk,
``/root/reference/firebird.h:248``, emit at ``:239-242``) and ``reduce``
(fold over one key's value list with multi-emit, ``firebird.h:249``,
driven at ``:214-226``); the scheduler chunks the input array
(``firebird.h:188-196``), groups intermediates by key (``firebird.h:84-95``,
``:202-208``) and concatenates per-thread outputs (``firebird.h:119-134``).

Spark mapping, stage by stage:

==========================  =======================================
reference stage             here
==========================  =======================================
chunked scan (A1)           DataFrame partitions (Arrow batches)
user map + emit (A2/A3)     ``mapInPandas`` — one pandas frame in,
                            0..n rows out == multi-emit flatMap
group-by-key merge (A4)     ``groupBy(*key_cols)`` shuffle
user reduce + emit (A5/A6)  ``applyInPandas`` (grouped map) — the
                            key is carried in the rows, removing the
                            reference's implicit ``keyForThreads``
                            hazard (``firebird.h:222-224``)
collect output (A7)         the returned DataFrame (unordered, same
                            contract as ``README.txt:54-58``)
==========================  =======================================

Emit: a user ``map`` or ``reduce`` returns either an iterable of dicts (one
per emitted record, the reference's per-call ``emit``) or one
``pd.DataFrame`` holding all its records (columnar emit, the cheap path for
a vectorised map).  Both go through one normaliser, ``make_emit_frame``: a
frame passes through, and a batch of uniform dicts is built column by column
through Arrow rather than record by record.

Scale notes: the reference merges all intermediates single-threaded on the
caller (``firebird.h:202-208``) and keeps every emitted value in memory with
no combiner (``firebird.h:42,59``; ``README.txt:53``).  Both bottlenecks
disappear here: the shuffle is distributed, and users who have an algebraic
fold should use plain ``groupBy().agg()`` (partial aggregation map-side) —
``map_reduce`` is the escape hatch for genuinely arbitrary per-key logic.
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable, Iterable, Iterator
from typing import Any, NamedTuple

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# What a user callable returns: 0..n emitted records, either as an
# iterable of dicts of column -> value (one per record, the compatibility
# path) or as one pandas frame (columnar emit, passed through as is).
Emitted = Iterable[dict[str, Any]] | pd.DataFrame
# A user map function: one input chunk (pandas frame) -> its emitted
# records.  This is the Arrow-era analogue of `map(const InputDataT*, UINT)`
# + `emit_intermediate`.
MapFn = Callable[[pd.DataFrame], Emitted]
# A user reduce function: (key tuple, all records for that key) -> its
# emitted records.  Analogue of `reduce(key, begin, end)` + `emit`.
ReduceFn = Callable[[tuple, pd.DataFrame], Emitted]


def map_reduce(
    df: DataFrame,
    map_fn: MapFn,
    map_schema: StructType | str,
    key_cols: list[str],
    reduce_fn: ReduceFn,
    reduce_schema: StructType | str,
) -> DataFrame:
    """Run a user-defined MapReduce job over ``df``.

    Both callables run Arrow-batched on executors; nothing touches the
    driver.  Each may emit an iterable of dicts or one ``pd.DataFrame``
    (see ``make_emit_frame``).  Prefer built-in ``groupBy().agg`` when the
    reduce is an algebraic fold — this function exists for the
    arbitrary-logic cases the reference's virtual-function API was built
    for.
    """

    to_frame = make_emit_frame()

    def _reduce(key: tuple, group: pd.DataFrame) -> pd.DataFrame:
        return to_frame(reduce_fn(key, group))

    mapped = df.mapInPandas(_make_map(map_fn), schema=map_schema)
    return mapped.groupBy(*key_cols).applyInPandas(_reduce, schema=reduce_schema)


def make_emit_frame() -> Callable[[Emitted], pd.DataFrame]:
    """Build the one record normaliser behind ``map_reduce``'s map and
    reduce and ``map_only``: a user callable's output in, the pandas frame
    Spark converts to Arrow out.

    A ``pd.DataFrame`` (columnar emit) passes through.  An iterable of
    dicts whose records all carry the first record's keys is built column
    by column through Arrow (``pa.array`` per key, then ``to_pandas``),
    about 3× cheaper than ``pd.DataFrame.from_records`` on a 10,000-row
    chunk; its columns are the keys in the first record's order, exactly
    what ``from_records`` makes.  Anything else — a record lacking one of
    the first record's keys (null there) or holding one it lacks, values
    Arrow cannot infer one type for — takes ``from_records`` itself.
    Either way column types are inferred from the Python values alone:
    coercion to the declared schema (and its errors) stays Spark's.

    A factory, so the nested function ships to executors by value inside
    the closures that call it: a module-level helper would be pickled by
    reference and need this package on every worker's path."""

    def to_frame(emitted: Emitted) -> pd.DataFrame:
        if isinstance(emitted, pd.DataFrame):
            return emitted
        records = list(emitted)
        if records and isinstance(records[0], dict):
            names = list(records[0])
            try:
                columns = [pa.array([r[n] for r in records]) for n in names]
                # every record holds the first's keys; an equal total
                # size means none holds another key
                if sum(map(len, records)) == len(names) * len(records):
                    return pa.Table.from_arrays(columns, names=names).to_pandas()
            except (KeyError, TypeError, OverflowError, pa.ArrowException):
                pass  # ragged keys, non-str keys or mixed value types
        return pd.DataFrame.from_records(records)

    return to_frame


def _make_map(map_fn: MapFn) -> Callable[[Iterator[pd.DataFrame]], Iterator]:
    """The ``mapInPandas`` body shared by ``map_reduce`` and ``map_only``:
    one user call per Arrow chunk, normalised, empty emits skipped."""
    to_frame = make_emit_frame()

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for chunk in batches:
            frame = to_frame(map_fn(chunk))
            if len(frame):
                yield frame

    return _map


class Static(NamedTuple):
    """A fixpoint's static operand (e.g. the edge table), materialised
    once per solve: the checkpointed frame, its row count, and the shuffle
    partition count sized from it for every round's aggregation."""

    df: DataFrame
    rows: int
    partitions: int


def _observed_checkpoint(df: DataFrame, metric) -> tuple[DataFrame, Any]:
    """Eager ``localCheckpoint`` whose materialising job also computes
    ``metric`` (an ``Observation``): one job, fully persisted, and the
    metric read on the driver without a second pass."""
    obs = Observation()
    df = df.observe(obs, metric.alias("m")).localCheckpoint(eager=True)
    return df, obs.get["m"]


def _round_partitions(df: DataFrame, rows: int) -> int:
    """Partitions for a round's aggregation: the operand's materialised
    bytes (``rows`` at Spark's per-row size estimate, an 8-byte header plus
    each field's default size) over the session's
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, clamped to
    ``[1, spark.sql.shuffle.partitions]`` — the reducer count follows the
    input's cardinality, not a constant."""
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    advisory = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    row_bytes = 8 + df._jdf.schema().defaultSize()
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, math.ceil(rows * row_bytes / advisory)))


def iterate_until_fixpoint(
    step_fn: Callable[[DataFrame, Static], DataFrame],
    initial: Callable[[DataFrame], DataFrame],
    static: DataFrame,
    max_iterations: int = 50,
    checkpoint_every: int = 1,
    trace: list | None = None,
) -> DataFrame:
    """Drive an iterate-to-fixpoint computation: the Spark analogue of the
    reference's load-once, feed-output-back-as-input loop (the
    ``shortest_path`` sample's ``main.cpp:68-106`` and ``:180-188``).

    ``static`` (the edge table) is checkpointed once, eagerly, and its
    row count observed on that same job; ``initial(static_df)`` builds the
    starting state.  Every round, ``step_fn(state, Static(...))`` maps the
    state to the next one; a state is ``(…, improved BOOLEAN)`` and the
    computation has converged when no row is improved (the reference's
    ``num == 0`` test).  Every ``checkpoint_every`` rounds the state is
    checkpointed eagerly with an ``Observation`` counting improved rows —
    the probe rides the checkpoint's own job, so lineage stays O(1) in the
    round count and each probe window costs one blocking job.  A step on
    a state with no improved row must change nothing (an empty frontier
    relaxes nothing), so rounds run past convergence inside a window leave
    the fixpoint unchanged and it does not depend on the cadence.

    ``trace``, when a list, receives one ``(iteration, window_seconds,
    n_improved)`` tuple per probe; ``iteration`` is the 0-based round the
    probe ran after.  Returns the final state, ``improved`` included.
    """
    window_t0 = time.perf_counter()
    static_df, rows = _observed_checkpoint(static, F.count(F.lit(1)))
    operand = Static(static_df, rows, _round_partitions(static_df, rows))
    state = initial(static_df).localCheckpoint(eager=True)
    for it in range(max_iterations):
        state = step_fn(state, operand)
        if (it + 1) % checkpoint_every:
            continue
        state, n_improved = _observed_checkpoint(
            state, F.sum(F.col("improved").cast("long"))
        )
        if trace is not None:
            now = time.perf_counter()
            trace.append((it, round(now - window_t0, 3), int(n_improved or 0)))
            window_t0 = now
        if not n_improved:
            break
    return state


def map_only(
    df: DataFrame,
    map_fn: MapFn,
    map_schema: StructType | str,
) -> DataFrame:
    """A map phase with no reduce — the degenerate job the reference supports
    by making ``reduce`` an identity emit.  Useful for flatMap-style record
    expansion with arbitrary Python logic."""
    return df.mapInPandas(_make_map(map_fn), schema=map_schema)


def mapreduce_group_count(spark, sf_dir: str) -> DataFrame:
    """Declared query: the reference's ``number_count`` program written
    against the user-defined map/reduce API (not the relational shortcut),
    proving the escape hatch end-to-end — map multi-emits ``(key, 1)``
    records from each Arrow chunk (the ``emit_intermediate`` pattern,
    ``/root/reference/firebird.h:239-242``), reduce folds one key's group
    and emits a single count row (``number_count/main.cpp:15-20``).

    ``count()`` here counts the grouped rows exactly as the reference
    counts its value list (``sum++`` per element), not a sum of values.
    """
    from .sources import load_table

    events = load_table(spark, sf_dir, "events")

    def map_fn(chunk: pd.DataFrame):
        for value in chunk["event_type"]:
            yield {"event_type": value, "one": 1}

    def reduce_fn(key: tuple, group: pd.DataFrame):
        yield {"event_type": key[0], "cnt": len(group)}

    return map_reduce(
        events.select("event_type"),
        map_fn,
        "event_type string, one int",
        ["event_type"],
        reduce_fn,
        "event_type string, cnt long",
    )


def count_by_key(df: DataFrame, *key_cols: str) -> DataFrame:
    """The reference's ``number_count`` sample as a one-liner: map emits
    ``(value, 1)`` and reduce counts the group
    (``/root/reference/sample_apps/number_count/main.cpp:8-21``).  Spark's
    ``groupBy().count()`` runs it with map-side partial aggregation — a
    strict upgrade over the reference's no-combiner design."""
    return df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("count"))


def cogroup_customer_orders(spark, sf_dir: str) -> DataFrame:
    """Co-grouped reduce over TWO sources — the generalization of the
    reference's single-source user ``reduce``
    (``/root/reference/firebird.h:249``) to the classic MapReduce
    "join in the reducer" pattern: both tables shuffle on the key and
    ONE Python function sees both key-aligned groups
    (``groupBy().cogroup().applyInPandas``).  Used here as a per-customer
    reconciliation: does the customer record exist, how many orders, and
    their exact total — full-outer semantics fall out naturally (a key
    present on either side reaches the reducer; pinned with crafted
    unmatched keys in tests/test_mapreduce.py).

    Prefer a relational join+agg when the logic is expressible (Catalyst
    optimizes it; this shape always shuffles both sides whole) — cogroup
    is the escape hatch for per-key logic a join cannot express.

    Exactness: the per-key total sums ``Decimal(repr(v))`` values —
    order-independent, so the result is stable under any row order the
    shuffle delivers; the oracle's DECIMAL(18,2) sum is the same number
    (prices are exact 2-dp).  Closure is self-contained (executors don't
    need this repo on sys.path)."""
    from .sources import load_table

    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    return (
        customer.groupBy("c_custkey")
        .cogroup(orders.groupBy("o_custkey"))
        .applyInPandas(make_cogroup_reconcile(), COGROUP_RECONCILE_SCHEMA)
    )


COGROUP_RECONCILE_SCHEMA = (
    "custkey long, has_customer boolean, n_orders long, total_price double"
)


def make_cogroup_reconcile():
    """The cogroup reducer, built in a factory so (a) the closure ships
    BY VALUE to executors and (b) tests exercise THIS function's
    unmatched-key branches with crafted inputs, not a private copy.
    ``repr(float(v))`` (not ``repr(v)``): pandas yields numpy scalars,
    whose NumPy-2 repr is ``np.float64(...)`` and would crash
    ``Decimal``; ``float()`` first is the numpy-version-proof spelling
    (same discipline as operators.similarity)."""

    def reconcile(key: tuple, left: pd.DataFrame, right: pd.DataFrame):
        from decimal import Decimal

        import pandas as _pd

        total = sum(
            (Decimal(repr(float(v))) for v in right["o_totalprice"]),
            Decimal(0),
        )
        return _pd.DataFrame(
            {
                "custkey": [key[0]],
                "has_customer": [len(left) > 0],
                "n_orders": [len(right)],
                "total_price": [float(total)],
            }
        )

    return reconcile
