"""Iterative graph operators — the Spark re-derivation of the reference's
``shortest_path`` sample app.

The reference runs SSSP as repeated MapReduce rounds over a frontier: map
relaxes out-edges of frontier nodes
(``/root/reference/sample_apps/shortest_path/main.cpp:32-46``), reduce takes
the min candidate distance per node (``main.cpp:48-56``), and the driver
feeds the output back as the next frontier until it is empty
(``main.cpp:180-188``).  Crucially it relies on a shared mutable ``dist[]``
array (``main.cpp:59-61``) — map reads it, reduce writes it — which only
works in shared memory.  Here that state becomes *data*: a
``distances(node, dist)`` DataFrame carried across iterations
(SURVEY §1.3), updated with one groupBy-min per round.

Scale posture: ``sssp``, ``connected_components`` and
``connected_components_star`` run on the one fixpoint driver,
``mapreduce.iterate_until_fixpoint``.  It reads the edge
table once per solve — an eager checkpoint, as the reference loads its
graph into memory once — so no round re-scans or re-unions the source.
Each round joins the improved nodes to their out-edges, then runs one
aggregation on ``node`` whose shuffle partition count the driver sizes
from the materialised edge bytes (1 for small graphs,
``spark.sql.shuffle.partitions`` at scale).  From the same bytes the
driver decides whether the edges fit the session's broadcast threshold;
if they do, an sssp round broadcasts them, and since the edge operand is
the same in every round, one broadcast serves a whole probe window.  An
sssp round whose edges are broadcast and size to one partition shuffles
nothing: it coalesces to one partition instead, so a whole probe window
runs as the edge broadcast plus one checkpoint stage.  The driver's
periodic eager checkpoint truncates lineage (otherwise plan size grows
linearly and the scheduler collapses long before data size matters) and
carries the convergence probe on the same job.

A round is written as ONE parsed statement (``spark.sql`` with the state
and the static operand bound as frames, ``{state}`` and ``{e}``; the
shuffle width goes in through a ``REPARTITION`` hint, or sssp's
one-partition ``COALESCE``).  On small graphs a round's cost is driver
time, not data: the same round spelled as a dozen DataFrame calls is a
few hundred py4j round trips, each new Dataset analysed eagerly, ~75 ms
per round on 4 cores.  ``spark.sql`` binds each
frame as a uniquely named temporary view and drops it once the statement
is analysed, so no view outlives the call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..mapreduce import Static, iterate_until_fixpoint
from ..sources import load_table, undirected


def _sql_round(spark: SparkSession, sql: str):
    """The fixpoint step that runs one round statement: ``sql`` parsed once
    per round with the state bound as ``{state}``, the static operand as
    ``{e}`` and its shuffle width as ``{n}``."""

    def step(state: DataFrame, static: Static) -> DataFrame:
        return spark.sql(sql, state=state, e=static.df, n=static.partitions)

    return step


# One sssp round over the bound frames {state} (node, dist, improved) and
# {e} (src, dst, weight), reading {state} once: each state row left-joins
# its out-edges when it improved, and every joined row emits itself
# (is_state) and the candidate it relaxes; a state row with no edge to
# relax emits a null candidate, which is dropped.  Both feed one
# min-aggregate behind the {exchange} hint — a state row repeated once per
# out-edge changes no min.  _old is the min over the state-tagged rows; a
# node improved if it is new (_old null) or its dist fell.  The join's
# build side is the static edge operand: sssp binds it with a broadcast
# hint when the driver sized it under the session's broadcast threshold
# (Static.broadcast), and as it is the same in every round, one broadcast
# serves a whole probe window.  {exchange} is REPARTITION({n}, node), the
# one shuffle, unless the broadcast edges size to one partition: then it
# is COALESCE(1), whose SinglePartition output already satisfies the
# aggregate, so the round plans no exchange and every round of a window
# runs in the checkpoint's one stage.  At n = 1 a repartition funnels the
# round through one reducer too, so coalescing loses no parallelism.
_SSSP_ROUND_SQL = """
SELECT node, dist, _old IS NULL OR dist < _old AS improved
FROM (
    SELECT node, min(cand) AS dist,
           min(CASE WHEN is_state THEN cand END) AS _old
    FROM (
        SELECT /*+ {exchange} */ * FROM (
            SELECT inline(array(
                named_struct('node', s.node, 'cand', s.dist, 'is_state', true),
                named_struct('node', e.dst, 'cand', s.dist + e.weight,
                             'is_state', false)
            ))
            FROM {state} s LEFT JOIN {e} e ON s.improved AND s.node = e.src
        )
        WHERE node IS NOT NULL
    )
    GROUP BY node
)
"""


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    max_iterations: int = 100,
    checkpoint_every: int = 2,
    trace: list | None = None,
) -> DataFrame:
    """Single-source shortest paths by frontier relaxation to fixpoint.

    Returns ``(node BIGINT, dist DOUBLE)`` for every reachable node.  The
    unreached sentinel (reference uses 2^30, ``main.cpp:11``) is expressed
    as absence — unreachable nodes simply have no row.

    Per-round dataflow (one MapReduce round of the reference):
      relaxed    = state ⟕ edges on improved ∧ node==src     (map: relax B3)
                   → per joined row, the state row and the candidate
                     (dst, dist + weight)
      state'     = min per node over both                    (reduce: min B2)
      frontier'  = the improved rows of state'

    A round reads its state once and merges with no union: the min over
    everything is the new dist, the min over the state-tagged rows the
    old one; improved ≡ new < old, or a newly reached node.  The edges
    are the join's build side, broadcast when the driver measured them
    under the session's broadcast threshold (``Static.broadcast``) and
    shuffled otherwise.  The min-aggregate shuffles on ``node`` into
    ``Static.partitions`` partitions, except when the edges are broadcast
    and size to one partition: then the round coalesces to one partition
    and shuffles nothing.

    A round is the one statement ``_SSSP_ROUND_SQL``.  The start row is
    built in the JVM (``range`` + literals): a frame from a Python list
    plans as a scan over a Python RDD, and checkpointing it runs a job
    whose tasks wait on forked Python workers — an sssp solve forks none.
    Its ``node`` is ``range``'s ``id``, not a literal: a literal ``node``
    lets constraint propagation add ``src <=> source`` to round 1's edge
    side, and window 1 would build a second edge broadcast.

    The loop, the checkpoint/probe cadence (``checkpoint_every``) and the
    ``trace`` hook are the driver's: see ``mapreduce.iterate_until_fixpoint``.
    """
    edges = edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("weight").cast("double"),
    )

    start = spark.range(source, source + 1, numPartitions=1).select(
        F.col("id").alias("node"),
        F.lit(0.0).alias("dist"),
        F.lit(True).alias("improved"),
    )

    def relax(state: DataFrame, static: Static) -> DataFrame:
        e = static.df.hint("broadcast") if static.broadcast else static.df
        one = static.broadcast and static.partitions == 1
        exchange = "COALESCE(1)" if one else "REPARTITION({n}, node)"
        sql = _SSSP_ROUND_SQL.replace("{exchange}", exchange)
        return spark.sql(sql, state=state, e=e, n=static.partitions)

    state = iterate_until_fixpoint(
        relax,
        lambda _: start,
        edges,
        max_iterations,
        checkpoint_every,
        trace,
    )
    return state.select("node", "dist")


def derived_nation_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deterministic small graph derived from the ``nation`` table (the
    corpus has no edge fixture): a ring over the 25 nation keys plus chords,
    weights from the key — connected, hand-checkable, and expressible in
    plain SQL for the DuckDB oracle.

    edges: (n, (n+1) mod 25, (n mod 7)+1)  ring
           (n, (n*2) mod 25, (n mod 5)+2)  chords
    """
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("n")
    )
    ring = nation.select(
        F.col("n").alias("src"),
        ((F.col("n") + 1) % 25).alias("dst"),
        ((F.col("n") % 7) + 1).cast("double").alias("weight"),
    )
    chords = nation.select(
        F.col("n").alias("src"),
        ((F.col("n") * 2) % 25).alias("dst"),
        ((F.col("n") % 5) + 2).cast("double").alias("weight"),
    )
    return undirected(ring.unionByName(chords).filter(F.col("src") != F.col("dst")))


def sssp_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query (SURVEY §2.D): SSSP from node 0 over the derived
    nation graph.  Distances are sums of small integer-valued doubles, so
    they are exact and hash-stable."""
    edges = derived_nation_graph(spark, sf_dir)
    return sssp(spark, edges, source=0).select(
        "node", F.col("dist").cast("double").alias("dist")
    )


def synthetic_edges(
    spark: SparkSession, n_nodes: int = 18263, n_edges: int = 23797
) -> DataFrame:
    """A deterministic pseudo-random DIRECTED edge table matching the
    published dimensions of the reference's ``syn.graph`` benchmark fixture
    (``sample_apps/shortest_path/syn.graph`` header: 18263 nodes, 23797
    edges, integer weights 1..99) — generated, not copied: endpoints come
    from Knuth-hash formulas over a ``range``, reproducible everywhere
    with no data file.  Distinct odd multipliers per field: a shared
    multiplier with different salts would make src/dst differ by a
    near-constant offset (a ring, not a random graph).  Average degree
    ~2.6 gives a giant component holding ~90% of nodes (node 0 included —
    asserted by the differential test) and ~40-70 relaxation rounds — a
    real iterative workload rather than scheduler noise."""

    def knuth(mult: int):
        return (F.col("id") * mult) % 4294967296

    return spark.range(n_edges).select(
        (knuth(2654435761) % n_nodes).cast("int").alias("src"),
        (knuth(2246822519) % n_nodes).cast("int").alias("dst"),
        ((knuth(3266489917) % 99) + 1).cast("double").alias("weight"),
    )


def sssp_syn18k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query (rows-only) and bench headline: SSSP over the
    syn.graph-scale synthetic graph — the workload the reference's own
    benchmark runs (``shortest_path/main.cpp:180-209``).  No SQL oracle:
    a bounded recursive-CTE walk explodes on an 18k-node weighted graph;
    ``tests/test_graph.py`` checks it against a serial Dijkstra instead
    (the reference's own differential method, main.cpp:200-209)."""
    return sssp(spark, undirected(synthetic_edges(spark)), source=0).select(
        "node", F.col("dist").cast("double").alias("dist")
    )


# One min-label round over {state} (node, lbl, improved) and {e} (src, dst):
# the improved nodes send their label along their out-edges, the messages
# min-aggregate behind the one REPARTITION({n}, node) exchange, and every
# node keeps the least of its label and its best message.  NO broadcast
# hint on the frontier: min-label propagation's round-1 frontier is EVERY
# node, and a forced broadcast there ships |V| rows to each executor, an
# OOM on a billion-node graph.  AQE sees the real frontier size at runtime and
# broadcasts the later (shrunken) frontiers on its own; the large early
# rounds take the shuffle join they need.
_CC_ROUND_SQL = """
SELECT s.node, least(s.lbl, b.cand) AS lbl,
       b.cand IS NOT NULL AND b.cand < s.lbl AS improved
FROM {state} s
LEFT JOIN (
    SELECT node, min(cand) AS cand
    FROM (
        SELECT /*+ REPARTITION({n}, node) */ e.dst AS node, f.lbl AS cand
        FROM (SELECT node, lbl FROM {state} WHERE improved) f
        JOIN {e} e ON f.node = e.src
    )
    GROUP BY node
) b ON s.node = b.node
"""


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iterations: int = 100,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Connected components by min-label propagation to fixpoint, on the
    same driver as ``sssp`` (``mapreduce.iterate_until_fixpoint``): every
    node starts labeled with itself; each round nodes adopt the smallest
    label among themselves and their neighbors; converged when no label
    changes.  Returns ``(node, component)`` where component is the
    smallest node id in the component.

    Rounds needed = graph diameter; ``connected_components_star`` is the
    O(log n)-round refinement for long-diameter graphs.
    """
    edges = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))

    def initial(e: DataFrame) -> DataFrame:
        # both endpoints: on already-undirected (doubled) input this is the
        # same set as src alone, but a raw directed list with dst-only nodes
        # still gets a row per node
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        return nodes.select(
            "node", F.col("node").alias("lbl"), F.lit(True).alias("improved")
        )

    state = iterate_until_fixpoint(
        _sql_round(spark, _CC_ROUND_SQL),
        initial,
        edges,
        max_iterations,
        checkpoint_every,
    )
    return state.select("node", F.col("lbl").alias("component"))


def derived_component_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately *disconnected* graph from the nation table: edges
    ``(n, (n+5) mod 25)`` link only nations of equal residue mod 5 — five
    5-cycles, so the expected components are the residue classes.  (The
    SSSP ring graph is connected, which would make a components query
    vacuous: one giant component proves nothing.)"""
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("n")
    )
    return undirected(
        nation.select(F.col("n").alias("src"), ((F.col("n") + 5) % 25).alias("dst"))
    )


def connected_components_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: components of the residue-class graph."""
    return connected_components(spark, derived_component_graph(spark, sf_dir))


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the SSSP ring+chord graph: the canonical
    multi-way self-join graph analytic.  Edges are canonicalized to
    ``src < dst`` and deduplicated, then two joins enumerate wedges and
    close them.  At scale the standard refinement is degree-ordering
    (orient edges from low- to high-degree node) so high-degree vertices
    never fan out — same join structure."""
    edges = derived_nation_graph(spark, sf_dir)
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    e1 = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = canon.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = canon.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")
    triangles = wedges.join(e3, ["x", "z"])
    return triangles.agg(F.count(F.lit(1)).alias("n_triangles"))


TRIANGLE_COUNT_ORACLE_SQL = """
WITH edges AS (
    SELECT src, dst FROM (
        SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nation
        UNION ALL
        SELECT n_nationkey AS src, (n_nationkey * 2) % 25 AS dst FROM nation
    ) WHERE src <> dst),
canon AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM canon e1
JOIN canon e2 ON e2.a = e1.b
JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
"""


CONNECTED_COMPONENTS_ORACLE_SQL = """
WITH RECURSIVE
edges AS (
    SELECT n_nationkey AS src, (n_nationkey + 5) % 25 AS dst FROM nation),
und AS (
    SELECT src, dst FROM edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, lbl) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(lbl) AS BIGINT) AS component
FROM reach GROUP BY node
"""


# DuckDB oracle for sssp_fixpoint: bounded-distance recursive relaxation.
# UNION (distinct) dedups (node, dist) states; the dist < 60 bound keeps
# cycle-extended paths finite.  Exact on integer-valued doubles.
SSSP_ORACLE_SQL = """
WITH RECURSIVE
edges AS (
    SELECT src, dst, weight FROM (
        SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst,
               CAST((n_nationkey % 7) + 1 AS DOUBLE) AS weight
        FROM nation
        UNION ALL
        SELECT n_nationkey AS src, (n_nationkey * 2) % 25 AS dst,
               CAST((n_nationkey % 5) + 2 AS DOUBLE) AS weight
        FROM nation
    ) WHERE src <> dst
),
undirected AS (
    SELECT src, dst, weight FROM edges
    UNION ALL
    SELECT dst AS src, src AS dst, weight FROM edges
),
walk(node, dist) AS (
    SELECT 0, CAST(0 AS DOUBLE)
    UNION
    SELECT u.dst, w.dist + u.weight
    FROM walk w JOIN undirected u ON u.src = w.node
    WHERE w.dist + u.weight < 60
)
SELECT CAST(node AS BIGINT) AS node, min(dist) AS dist
FROM walk GROUP BY node
"""


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    checkpoint_every: int = 4,
    round_to: int | None = None,
) -> DataFrame:
    """PageRank with a fixed iteration count — the canonical 'big sparse
    matvec per round' workload: contribs = ranks ⋈ edges (rank/outdegree
    to each neighbor), partial-aggregated sum per dst, affine update.

    Formula per round: rank'(v) = (1-d)/N + d·Σ_{u→v} rank(u)/outdeg(u);
    dangling-node mass is dropped (every node of the corpus graphs has
    out-edges, and the serial differential in tests/test_graph.py applies
    the identical rule).  At scale the edge table is the big operand —
    pre-partitioned/bucketed by src it never reshuffles; ranks (one row
    per node) shuffle once per round on the dst aggregation.  The static
    operand ``adj`` is materialised once, as the fixpoint driver does for
    SSSP/CC; the loop stays its own because it runs a fixed round count
    with NO convergence probe, truncating lineage with an every-k lazy
    checkpoint.  Float sums make the raw result reduction-order-dependent at
    the last ulp; ``round_to`` fixes that by re-quantizing the rank
    vector to a decimal grid after every affine update (a ≤5·10^-13
    per-round perturbation), which collapses reduction-order ulp noise
    and makes the per-round state — hence the final vector — bit-equal
    across engines.  ``pagerank_nations`` uses round_to=12 and is
    oracle-checked against a DuckDB unrolled-CTE replica of the same
    schedule; the unrounded form keeps the serial differential at 1e-9
    (tests/test_graph.py)."""
    edges = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # (src, dst, deg): static per-round operand, materialized once
    adj = edges.join(outdeg, "src").localCheckpoint(eager=True)
    base = (1.0 - damping) / n_nodes
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for it in range(iterations):
        # NO broadcast hint on ranks: unlike SSSP's shrinking frontier,
        # the rank vector is one row per node forever — at web scale it
        # must shuffle-join (co-located for free when adj is bucketed by
        # src); Catalyst still auto-broadcasts small graphs under the
        # threshold.
        contribs = ranks.join(adj, ranks.node == adj.src).select(
            "dst", (F.col("rank") / F.col("deg")).alias("c")
        )
        sums = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        updated = F.lit(base) + F.lit(damping) * F.coalesce("s", F.lit(0.0))
        if round_to is not None:
            updated = F.round(updated, round_to)
        ranks = nodes.join(
            sums, nodes.node == sums.dst, "left"
        ).select("node", updated.alias("rank"))
        if (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query (oracle-backed since r4): 10 PageRank rounds over
    the derived nation ring+chord graph, with the rank vector quantized
    to 12 decimal places after every round so the distributed float sums
    are bit-reproducible (see ``pagerank`` round_to).  The DuckDB oracle
    (``PAGERANK_ORACLE_SQL``) unrolls the identical 10-round schedule as
    chained CTEs over the same SQL-expressed graph; output ranks are
    rounded to the house 6-dp grid."""
    ranks = pagerank(spark, derived_nation_graph(spark, sf_dir), round_to=12)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_oracle_sql(iterations: int = 10) -> str:
    """DuckDB replica of ``pagerank_nations``: the derived nation graph
    spelled in SQL (same construction as SSSP_ORACLE_SQL, weights
    dropped — PageRank is unweighted and multi-edges count multiply,
    matching the Spark operand), then ``iterations`` unrolled CTE rounds
    of the identical affine update with the identical round(·, 12)
    re-quantization.  Chained CTEs rather than WITH RECURSIVE because
    the recursive term may reference the working table only once, and
    each round needs it twice (full node list + contribution sums)."""
    rounds = "".join(
        f""",
it{k} AS (
    SELECT n.node,
           round((1.0 - 0.85) / (SELECT count(*) FROM nodes)
                 + 0.85 * coalesce(c.s, 0.0), 12) AS rank
    FROM nodes n LEFT JOIN (
        SELECT a.dst AS node, sum(r.rank / a.deg) AS s
        FROM it{k - 1} r JOIN adj a ON r.node = a.src
        GROUP BY a.dst
    ) c USING (node)
)"""
        for k in range(1, iterations + 1)
    )
    return f"""
WITH edges0 AS (
    SELECT src, dst FROM (
        SELECT CAST(n_nationkey AS BIGINT) AS src,
               CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
        UNION ALL
        SELECT CAST(n_nationkey AS BIGINT) AS src,
               CAST((n_nationkey * 2) % 25 AS BIGINT) AS dst FROM nation
    ) WHERE src <> dst
),
edges AS (
    SELECT src, dst FROM edges0
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges0
),
nodes AS (
    SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL
        SELECT dst AS node FROM edges)
),
adj AS (
    SELECT e.src, e.dst, d.deg
    FROM edges e
    JOIN (SELECT src, count(*) AS deg FROM edges GROUP BY src) d USING (src)
),
it0 AS (
    SELECT node, 1.0 / (SELECT count(*) FROM nodes) AS rank FROM nodes
){rounds}
SELECT node, round(rank, 6) AS rank FROM it{iterations}
"""


PAGERANK_ORACLE_SQL = _pagerank_oracle_sql()


# One star-contraction round over {state} (node, parent, improved) and {e}
# (the symmetric edge list plus a self-pair per node): every node adopts
# the min parent among its neighbours' parents (min-aggregated behind the
# one REPARTITION({n}, node) exchange; its self-pair gives every node a
# candidate, so that join is inner), then the pointer doubles one hop,
# parent <- parent(parent).
_STAR_ROUND_SQL = """
WITH stepped AS (
    SELECT p.node, least(p.parent, b.cand) AS parent, p.parent AS old
    FROM {state} p
    JOIN (
        SELECT node, min(cand) AS cand
        FROM (
            SELECT /*+ REPARTITION({n}, node) */ e.src AS node,
                   q.parent AS cand
            FROM {e} e JOIN {state} q ON e.dst = q.node
        )
        GROUP BY node
    ) b ON p.node = b.node
)
SELECT s.node, coalesce(pp.parent, s.parent) AS parent,
       coalesce(pp.parent, s.parent) != s.old AS improved
FROM stepped s LEFT JOIN stepped pp ON s.parent = pp.node
"""


def connected_components_star(
    spark: SparkSession,
    edges: DataFrame,
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — the web-scale refinement SCALE.md names over
    min-label propagation, whose round count is the graph DIAMETER (a
    long path graph = thousands of rounds; star-contraction collapses it
    in a handful).

    State is a parent forest ``(node, parent, improved)`` on the same
    fixpoint driver as ``connected_components``
    (``mapreduce.iterate_until_fixpoint``).  Each round every node adopts
    the minimum parent among itself and all its neighbours' parents (a
    conservative union of the large-star and small-star moves: monotone,
    and it still doubles pointer shortcuts), then parents are compressed
    one hop (parent := parent's parent); ``improved`` is
    ``parent != old parent``.  Every step is a broadcast-free shuffle on
    the node key, partial-aggregated, O(E) per round.  The static operand
    is the symmetric non-self-loop edge list plus one ``(n, n)`` self-pair
    per endpoint, so ``initial`` derives every node from it — self-loop-
    and dst-only nodes included — and a self-pair never lowers a parent.
    Returns ``(node, component)`` with component = min node id, identical
    contract to ``connected_components`` (differential-tested against it).
    """
    edges = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    no_loop = edges.filter(F.col("src") != F.col("dst"))
    endpoints = edges.select(F.col("src").alias("n")).unionByName(
        edges.select(F.col("dst").alias("n"))
    )
    sym = (
        undirected(no_loop)
        .unionByName(
            endpoints.select(F.col("n").alias("src"), F.col("n").alias("dst"))
        )
        .distinct()
    )

    def initial(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("src").alias("node"))
            .distinct()
            .select(
                "node", F.col("node").alias("parent"), F.lit(True).alias("improved")
            )
        )

    state = iterate_until_fixpoint(
        _sql_round(spark, _STAR_ROUND_SQL), initial, sym, max_iterations
    )
    return state.select("node", F.col("parent").alias("component"))


def connected_components_star_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: star-contraction CC over the residue-class graph —
    same oracle as ``connected_components`` (equality of the two
    implementations IS the claim; also differential-tested on the 18k
    graph and a 400-node path in tests/test_graph.py)."""
    return connected_components_star(
        spark, derived_component_graph(spark, sf_dir)
    )


# Shared-statement recursive CTE (Spark 4 WITH RECURSIVE): the IDENTICAL
# SQL runs on Spark and DuckDB.  Spark's recursive CTEs support UNION ALL
# only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, verified), so unlike
# SSSP_ORACLE_SQL's dedup-terminated weighted walk this statement bounds
# the recursion by HOP COUNT — with UNION ALL every path is enumerated,
# and an additive-cost bound like dist<60 would enumerate exponentially
# many paths; hops<4 caps the tree at degree^4.  The {nation} placeholder
# is the per-engine table name.
RECURSIVE_REACH_SQL_TEMPLATE = """
WITH RECURSIVE
edges AS (
    SELECT src, dst FROM (
        SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst
        FROM {nation}
        UNION ALL
        SELECT n_nationkey AS src, (n_nationkey * 2) % 25 AS dst
        FROM {nation}
    ) WHERE src <> dst
),
undirected AS (
    SELECT src, dst FROM edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges
),
walk(node, hops) AS (
    SELECT 0, 0
    UNION ALL
    SELECT u.dst, w.hops + 1
    FROM walk w JOIN undirected u ON u.src = w.node
    WHERE w.hops < 4
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(hops) AS BIGINT) AS min_hops
FROM walk GROUP BY node
"""

RECURSIVE_REACH_ORACLE_SQL = RECURSIVE_REACH_SQL_TEMPLATE.format(
    nation="nation"
)


def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded BFS reachability as a Spark 4 RECURSIVE CTE — the
    declarative twin of the driver-looped :func:`sssp` fixpoint (three
    spellings of iteration now coexist: driver loop, unrolled CTE
    rounds in :func:`pagerank`, and true ``WITH RECURSIVE``).  The
    oracle is the SAME statement on DuckDB — a shared-statement oracle
    like ``tpch_q5_sql``.

    Scale posture: each recursion level is one (frontier ⋈ edges) +
    union — the same shuffle profile as one fixpoint round — but the
    engine controls materialization between levels
    (``spark.sql.cteRecursionLevelLimit`` guards runaway recursion,
    default 100).  UNION ALL semantics mean level k holds ALL k-hop
    paths, so recursive CTEs suit hop-bounded traversals; unbounded
    frontier algorithms stay on the driver-loop operator, whose
    union-aggregate merge and checkpoint cadence this module tunes."""
    from ..sources import load_table

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("rec_nation")
    return spark.sql(RECURSIVE_REACH_SQL_TEMPLATE.format(nation="rec_nation"))
