"""Reference results computed without engine code: numpy, networkx and a
pure-Python xxhash64, plus a small per-seed cache for them.

Each reference takes a plain (src, dst) int64 edge list, as read from the
generated input parquet, and follows the documented semantics of the engine
call it checks.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

import numpy as np

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
SPARK_HASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxhash64(data: bytes, seed: int = SPARK_HASH_SEED) -> int:
    """XXH64 of ``data`` as a signed long, equal to Spark's ``xxhash64``
    of a string (UTF-8 bytes) or, for 8 little-endian bytes, of a long."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = _merge(h, x)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def xxhash64_long(v: int) -> int:
    return xxhash64(int(v).to_bytes(8, "little", signed=True))


def bucket_of(v: int, num_buckets: int) -> int:
    """Spark's ``pmod(xxhash64(v), num_buckets)`` for a long ``v``."""
    return xxhash64_long(v) % num_buckets


def vertex_index(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(sorted distinct vertex ids, src index, dst index)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src) :]


def pagerank(src: np.ndarray, dst: np.ndarray, iters: int, damping: float = 0.85):
    """(ids, ranks): fixed-count power iteration over the distinct endpoints,
    start 1/n, dangling mass spread uniformly."""
    ids, s, d = vertex_index(src, dst)
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    w = 1.0 / outdeg[s]
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        gathered = np.bincount(d, weights=pr[s] * w, minlength=n)
        pr = (1.0 - damping) / n + damping * (gathered + pr[dangling].sum() / n)
    return ids, pr


def components(src: np.ndarray, dst: np.ndarray):
    """(ids, labels): weak components by union-find, labelled by their
    smallest vertex id."""
    ids, s, d = vertex_index(src, dst)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(s.tolist(), d.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(x) for x in range(len(ids))], dtype=np.int64)
    return ids, ids[roots]


def label_propagation(src: np.ndarray, dst: np.ndarray, iters: int):
    """(ids, labels): synchronous label propagation on the undirected view;
    each vertex adopts the most frequent neighbour label, ties to the
    smallest label; a vertex without neighbours keeps its label."""
    ids, s, d = vertex_index(src, dst)
    und = np.unique(np.stack([np.concatenate([s, d]), np.concatenate([d, s])], axis=1), axis=0)
    u, v = und[:, 0], und[:, 1]
    labels = ids.copy()
    for _ in range(iters):
        pairs, counts = np.unique(
            np.stack([u, labels[v]], axis=1), axis=0, return_counts=True
        )
        # per vertex: count desc, then label asc; the first row wins
        order = np.lexsort((pairs[:, 1], -counts, pairs[:, 0]))
        pairs = pairs[order]
        first = np.ones(len(pairs), dtype=bool)
        first[1:] = pairs[1:, 0] != pairs[:-1, 0]
        new = labels.copy()
        new[pairs[first, 0]] = pairs[first, 1]
        labels = new
    return ids, labels


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple graph."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in zip(src.tolist(), dst.tolist()) if a != b)
    return sum(nx.triangles(g).values()) // 3


def edge_keys(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Sorted, distinct (src, dst) rows as one structured array, for exact
    set comparison."""
    rows = np.empty(len(src), dtype=[("s", np.int64), ("d", np.int64)])
    rows["s"], rows["d"] = src, dst
    return np.unique(rows)


def cached(path: str, compute: Callable[[], dict]) -> dict:
    """Load ``path`` (npz of arrays, plus JSON values under key ``_json``)
    or compute, store and return it."""
    if os.path.exists(path):
        with np.load(path, allow_pickle=False) as z:
            out = {k: z[k] for k in z.files if k != "_json"}
            out.update(json.loads(str(z["_json"])))
            return out
    out = compute()
    arrays = {k: v for k, v in out.items() if isinstance(v, np.ndarray)}
    extra = {k: v for k, v in out.items() if not isinstance(v, np.ndarray)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp.npz"
    np.savez(tmp, _json=np.array(json.dumps(extra)), **arrays)
    os.replace(tmp, path)
    return out
