"""The benchmark's workloads: seeded inputs, one operation ("op") each, and
the check of every op's answer.

Each workload calls only the engine's public functions, on files written by
``gen.py`` from the run's seed.  A workload object is built once per run:

- ``prepare(tracer)`` writes the inputs and builds any one-time state;
- ``op(i, tracer)`` runs the i-th op and returns its answer as plain data;
  the first ``warmup_ops`` ops are untimed and close set-up;
- ``check(i, answer)`` compares that answer with an oracle computed here,
  outside the engine, and is called after the timed window;
- ``probe(tracer)`` forces each layer's input or output alone, and
  ``layer_metrics(...)`` reports the workload's own layer's metrics; both
  serve the traced run only.

Sizes are smaller than the reference fixtures so that one run holds its
warm-up and several timed ops; ``BENCHMARK.json`` gives each reason.
"""

from __future__ import annotations

import heapq
import os
import statistics

import numpy as np

import gen

# numbercount: the reference's number_count over ints in parquet.
NUMBERCOUNT_ROWS = 1_000_000
NUMBERCOUNT_KEYS = 100
# sssp: a small graph in the syn.graph text format; the op's cost is its
# rounds, not its data.
SSSP_NODES = 200
SSSP_EDGES = 1000
SSSP_ROUNDS = 10  # a common relaxation depth at this size
# serve: top-10 SQ8 queries over a 64-d embedding table, 4 closed-loop clients.
SERVE_ROWS = 20_000
SERVE_DIM = 64
SERVE_CLIENTS = 4
TOP_K = 10
PROBE_QUERIES = 5  # single-client queries the traced run times alone


def _noop(df) -> None:
    """Force ``df`` fully without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class NumberCount:
    """``number_count`` through the user map/reduce API: map emits
    ``(value, 1)`` per element, reduce counts one key's group."""

    clients = 1
    warmup_ops = 3
    rows_per_op = NUMBERCOUNT_ROWS

    def __init__(self, spark, inputs: str, seed: int):
        self.spark, self.seed = spark, seed
        self.path = os.path.join(inputs, "numbers.parquet")

    def prepare(self, tracer) -> None:
        with tracer.span("gen.write_ints"):
            values = gen.write_ints(
                self.path, self.seed, NUMBERCOUNT_ROWS, NUMBERCOUNT_KEYS
            )
        self.expected = np.bincount(values, minlength=NUMBERCOUNT_KEYS)
        with tracer.span("sources.read_parquet"):
            self.df = self.spark.read.parquet(self.path)

    def op(self, i: int, tracer) -> np.ndarray:
        from firebird_mapreduce_spark.mapreduce import map_reduce

        def map_fn(chunk):
            for value in chunk["value"]:
                yield {"value": value, "one": 1}

        def reduce_fn(key, group):
            yield {"value": key[0], "cnt": len(group)}

        with tracer.span("mapreduce.map_reduce"):
            job = map_reduce(
                self.df, map_fn, "value int, one int", ["value"], reduce_fn,
                "value int, cnt long",
            )
        with tracer.span("collect"):
            pdf = job.toPandas()
        counts = np.zeros(NUMBERCOUNT_KEYS, dtype=np.int64)
        counts[pdf["value"].to_numpy()] = pdf["cnt"].to_numpy()
        return counts if len(pdf) == NUMBERCOUNT_KEYS else None

    def check(self, i: int, answer) -> bool:
        return answer is not None and np.array_equal(answer, self.expected)

    def probe(self, tracer) -> None:
        from firebird_mapreduce_spark.mapreduce import count_by_key

        with tracer.span("sources.scan"):
            _noop(self.df)
        with tracer.span("mapreduce.count_by_key"):
            _noop(count_by_key(self.df, "value"))

    def layer_metrics(self, tracer, span_s, op_p50: float, samples) -> dict:
        return {
            "mapreduce.job_s": op_p50,
            "mapreduce.relational_s": span_s("mapreduce.count_by_key"),
        }


class Sssp:
    """Iterative single-source shortest paths over a seeded random graph,
    checked against a serial Dijkstra (the reference's own differential)."""

    clients = 1
    warmup_ops = 5

    def __init__(self, spark, inputs: str, seed: int):
        self.spark, self.seed = spark, seed
        self.path = os.path.join(inputs, "syn.graph")

    def prepare(self, tracer) -> None:
        with tracer.span("gen.write_edge_list"):
            src, dst, weight = gen.write_edge_list(
                self.path, self.seed, SSSP_NODES, SSSP_EDGES
            )
            self.source = gen.source_with_rounds(
                self.seed, SSSP_NODES, src, dst, weight, SSSP_ROUNDS
            )
        # directed edge rows after the reader's undirected doubling
        self.rows_per_op = 2 * len(src)
        self.expected = _dijkstra(SSSP_NODES, src, dst, weight, self.source)
        self.windows: list[list] = []

    def op(self, i: int, tracer) -> np.ndarray:
        from firebird_mapreduce_spark.operators.graph import sssp
        from firebird_mapreduce_spark.sources.readers import read_edge_list

        windows: list = []
        with tracer.span("sources.read_edge_list"):
            edges = read_edge_list(self.spark, self.path)
        with tracer.span("graph.sssp"):
            dist = sssp(self.spark, edges, self.source, trace=windows)
        with tracer.span("collect"):
            pdf = dist.toPandas()
        self.windows.append(windows)
        out = np.full(SSSP_NODES, np.inf)
        out[pdf["node"].to_numpy()] = pdf["dist"].to_numpy()
        return out

    def check(self, i: int, answer) -> bool:
        return np.array_equal(answer, self.expected)

    def probe(self, tracer) -> None:
        from firebird_mapreduce_spark.sources.readers import read_edge_list

        with tracer.span("sources.scan"):
            _noop(read_edge_list(self.spark, self.path))

    def layer_metrics(self, tracer, span_s, op_p50: float, samples) -> dict:
        """``windows`` holds one ``(iteration, window_s, n_improved)`` per
        convergence probe of each op, the warm-up ops first."""
        timed = self.windows[self.warmup_ops :]
        return {
            "graph.rounds": statistics.median(ws[-1][0] + 1 for ws in timed),
            "graph.window_s_p50": statistics.median(
                w[1] for ws in timed for w in ws
            ),
            "graph.reached_nodes": statistics.median(
                int(np.isfinite(a).sum()) for _, _, _, a in samples
            ),
        }


def _dijkstra(n, src, dst, weight, source) -> np.ndarray:
    adj: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for a, b, w in zip(src.tolist(), dst.tolist(), weight.tolist()):
        adj[a].append((b, float(w)))
        adj[b].append((a, float(w)))
    dist = np.full(n, np.inf)
    dist[source] = 0.0
    heap = [(0.0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for v, w in adj[u]:
            if d + w < dist[v]:
                dist[v] = d + w
                heapq.heappush(heap, (d + w, v))
    return dist


class Serve:
    """Concurrent top-10 SQ8 queries over the persisted SQ8 index, checked
    against an exact recomputation of the SQ8 score in numpy."""

    clients = SERVE_CLIENTS
    warmup_ops = 1 + 3 * SERVE_CLIENTS
    rows_per_op = SERVE_ROWS - 1  # every row but the query's own

    def __init__(self, spark, inputs: str, seed: int):
        self.spark, self.seed = spark, seed
        self.inputs = inputs

    def prepare(self, tracer) -> None:
        from firebird_mapreduce_spark.operators.similarity import (
            ensure_sq8_codes_table,
        )

        with tracer.span("gen.write_embeddings"):
            vecs = gen.write_embeddings(
                os.path.join(self.inputs, "embeddings.parquet"),
                self.seed, SERVE_ROWS, SERVE_DIM,
            )
        with tracer.span("similarity.ensure_sq8_codes_table"):
            self.coded = ensure_sq8_codes_table(self.spark, self.inputs)
        self.query_ids = np.random.default_rng([self.seed, 6]).integers(
            0, SERVE_ROWS, 100_000
        )
        self.maxabs, self.codes = _sq8_codes(vecs)

    def op(self, i: int, tracer) -> list:
        from firebird_mapreduce_spark.operators.similarity import sq8_score_topk

        qid = int(self.query_ids[i % len(self.query_ids)])
        with tracer.span("similarity.sq8_score_topk"):
            top = sq8_score_topk(self.coded, qid, TOP_K)
        with tracer.span("collect"):
            rows = top.collect()
        return [(r["vec_id"], r["sim_sq8"]) for r in rows]

    def check(self, i: int, answer) -> bool:
        qid = int(self.query_ids[i % len(self.query_ids)])
        want = self._exact_topk(qid)
        if [v for v, _ in answer] != [v for v, _ in want]:
            return False
        return all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(answer, want))

    def _exact_topk(self, qid: int) -> list:
        """The engine's SQ8 score recomputed exactly: an int64 dot product
        of the codes, one rescale by ``maxabs_a * maxabs_q / 127**2``
        rounded to 6 places; ranked by (score desc, vec_id asc)."""
        dots = self.codes @ self.codes[qid]
        sims = np.round(
            self.maxabs * self.maxabs[qid] * dots.astype(np.float64) / 16129.0, 6
        )
        ids = np.arange(len(sims))
        keep = ids != qid
        order = np.lexsort((ids[keep], -sims[keep]))[:TOP_K]
        return [(int(ids[keep][j]), float(sims[keep][j])) for j in order]

    def probe(self, tracer) -> None:
        from firebird_mapreduce_spark.operators.similarity import sq8_score_topk

        with tracer.span("sources.scan"):
            _noop(self.coded)
        for qid in self.query_ids[:PROBE_QUERIES].tolist():
            with tracer.span("similarity.query_alone"):
                sq8_score_topk(self.coded, qid, TOP_K).collect()

    def layer_metrics(self, tracer, span_s, op_p50: float, samples) -> dict:
        alone = [
            tracer.duration(s)
            for s in tracer.spans
            if s["name"] == "similarity.query_alone"
        ]
        return {
            "similarity.index_build_s": span_s("similarity.ensure_sq8_codes_table"),
            "similarity.query_s": statistics.median(alone),
            "similarity.rows_scored": self.rows_per_op,
        }


def _sq8_codes(vecs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-vector max|x| in double and int8 codes rounded half away from
    zero, the engine's quantization written out in numpy."""
    v = vecs.astype(np.float64)
    maxabs = np.abs(v).max(axis=1)
    scaled = v * 127.0 / maxabs[:, None]
    codes = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
    return maxabs, codes.astype(np.int64)


WORKLOADS = {"numbercount": NumberCount, "sssp": Sssp, "serve": Serve}
