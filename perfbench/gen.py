"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files, and the engine sees nothing but these files.
The sizes themselves live in ``workloads.py``, beside each workload.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_LABELS = 16  # embedding clusters


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def write_ints(path: str, seed: int, n_rows: int, n_keys: int) -> np.ndarray:
    """``number_count`` input: ``value INT`` uniform in ``[0, n_keys)``."""
    values = _rng(seed, 1).integers(0, n_keys, n_rows, dtype=np.int32)
    pq.write_table(pa.table({"value": values}), path, row_group_size=1 << 20)
    return values


def write_edge_list(
    path: str, seed: int, n_nodes: int, n_edges: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A random directed graph in the reference's ``syn.graph`` text format:
    a ``num_nodes num_edges`` header, then ``src dst weight`` lines with
    integer weights 1-99.  Self-loops are dropped before writing, so the
    header's edge count is exact."""
    rng = _rng(seed, 2)
    src = rng.integers(0, n_nodes, n_edges, dtype=np.int64)
    dst = rng.integers(0, n_nodes, n_edges, dtype=np.int64)
    weight = rng.integers(1, 100, n_edges, dtype=np.int64)
    keep = src != dst
    src, dst, weight = src[keep], dst[keep], weight[keep]
    body = np.column_stack([src, dst, weight])
    with open(path, "w") as fh:
        fh.write(f"{n_nodes} {len(src)}\n")
        np.savetxt(fh, body, fmt="%d")
    return src, dst, weight


def relaxation_rounds(
    n_nodes: int, src: np.ndarray, dst: np.ndarray, weight: np.ndarray, source: int
) -> int:
    """Rounds a synchronous Bellman-Ford from ``source`` takes over the
    undirected graph until no distance changes (the last, empty round
    included): the engine's frontier relaxation runs the same rounds."""
    a, b = np.concatenate([src, dst]), np.concatenate([dst, src])
    w = np.concatenate([weight, weight]).astype(np.float64)
    dist = np.full(n_nodes, np.inf)
    dist[source] = 0.0
    rounds = 0
    while True:
        rounds += 1
        new = dist.copy()
        np.minimum.at(new, b, dist[a] + w)
        if np.array_equal(new, dist):
            return rounds
        dist = new


def source_with_rounds(
    seed: int, n_nodes: int, src: np.ndarray, dst: np.ndarray,
    weight: np.ndarray, rounds: int,
) -> int:
    """A seeded source node from which relaxation takes exactly ``rounds``
    rounds (else the closest count found), so the op's round count, and with
    it its job count, does not change with the seed."""
    best, best_gap = 0, None
    for node in _rng(seed, 3).permutation(n_nodes).tolist():
        gap = abs(relaxation_rounds(n_nodes, src, dst, weight, node) - rounds)
        if gap == 0:
            return node
        if best_gap is None or gap < best_gap:
            best, best_gap = node, gap
    return best


def write_embeddings(path: str, seed: int, n_rows: int, dim: int) -> np.ndarray:
    """Embeddings table (``vec_id BIGINT, embedding ARRAY<FLOAT>,
    label INT``): clustered Gaussian vectors, so top-k answers are
    structured rather than uniform noise."""
    rng = _rng(seed, 5)
    centers = rng.normal(size=(N_LABELS, dim)).astype(np.float32)
    labels = rng.integers(0, N_LABELS, n_rows).astype(np.int32)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_rows, dim)).astype(
        np.float32
    )
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_rows * dim + 1, dim, dtype=np.int32)), flat
    )
    table = pa.table(
        {"vec_id": np.arange(n_rows, dtype=np.int64), "embedding": emb, "label": labels}
    )
    pq.write_table(table, path)
    return vecs
