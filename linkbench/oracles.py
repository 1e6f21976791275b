"""Independent numpy oracles for every output the benchmark checks.

None of these import the engine. Vertex ids on the ingest path are
Spark's ``xxhash64(url)`` (seed 42), reproduced here with a vectorized
XXH64 so the oracle can name the same vertices the engine does.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def _xxh64_fixed(buf: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of each row of a (n, length) uint8 array."""
    n, length = buf.shape
    seed = np.uint64(seed)
    lanes = np.ascontiguousarray(buf[:, : length & ~7]).view("<u8")
    pos = 0
    if length >= 32:
        v = [
            np.full(n, seed + _P1 + _P2, np.uint64),
            np.full(n, seed + _P2, np.uint64),
            np.full(n, seed, np.uint64),
            np.full(n, seed - _P1, np.uint64),
        ]
        while (pos + 4) * 8 <= length:
            for j in range(4):
                v[j] = _round(v[j], lanes[:, pos + j])
            pos += 4
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for j in range(4):
            h = (h ^ _round(np.zeros(n, np.uint64), v[j])) * _P1 + _P4
    else:
        h = np.full(n, seed + _P5, np.uint64)
    h = h + np.uint64(length)
    while pos < length // 8:
        h = _rotl(h ^ _round(np.zeros(n, np.uint64), lanes[:, pos]), 27) * _P1 + _P4
        pos += 1
    off = pos * 8
    if off + 4 <= length:
        w = np.ascontiguousarray(buf[:, off : off + 4]).view("<u4")[:, 0].astype(np.uint64)
        h = _rotl(h ^ (w * _P1), 23) * _P2 + _P3
        off += 4
    while off < length:
        h = _rotl(h ^ (buf[:, off].astype(np.uint64) * _P5), 11) * _P1
        off += 1
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return (h ^ (h >> np.uint64(32))).view(np.int64)


def xxhash64(strings: list[str], seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64(string_col)`` for each string, as int64."""
    enc = [s.encode() for s in strings]
    lens = np.fromiter((len(b) for b in enc), np.int64, len(enc))
    out = np.empty(len(enc), np.int64)
    with np.errstate(over="ignore"):
        for length in np.unique(lens):
            idx = np.flatnonzero(lens == length)
            buf = np.frombuffer(b"".join(enc[i] for i in idx), np.uint8)
            out[idx] = _xxh64_fixed(buf.reshape(len(idx), int(length)), seed)
    return out


def cc_labels(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Component of each vertex ``0..n-1`` as its minimum member, by
    min-hooking plus pointer jumping (a union-find with full path
    compression per pass)."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        pu, pv = parent[u], parent[v]
        lo, hi = np.minimum(pu, pv), np.maximum(pu, pv)
        live = lo != hi
        if not live.any():
            return parent
        np.minimum.at(parent, hi[live], lo[live])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def undirected_simple(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (lo, hi) pairs of an edge list, self-loops dropped."""
    lo, hi = np.minimum(u, v), np.maximum(u, v)
    keep = lo != hi
    pairs = np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def triangle_count(n: int, u: np.ndarray, v: np.ndarray) -> int:
    """Triangles of the undirected simple graph on ``0..n-1``: orient
    each edge toward the endpoint of higher (degree, id), enumerate
    wedges at each vertex's out-list and close them by key lookup."""
    a, b = undirected_simple(u, v)
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    rank = np.lexsort((np.arange(n), deg))
    pos = np.empty(n, np.int64)
    pos[rank] = np.arange(n)
    lo = np.where(pos[a] < pos[b], a, b)
    hi = np.where(pos[a] < pos[b], b, a)
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    starts = np.searchsorted(lo, np.arange(n + 1))
    outdeg = np.diff(starts)
    keys = np.sort(lo * n + hi)
    total = 0
    # wedges (x -> y, x -> z) at each x; chunk by vertex to bound memory
    for d in np.unique(outdeg[outdeg >= 2]):
        xs = np.flatnonzero(outdeg == d)
        nb = hi[starts[xs][:, None] + np.arange(d)]  # (len(xs), d)
        i, j = np.triu_indices(d, 1)
        y, z = nb[:, i].ravel(), nb[:, j].ravel()
        for k in (y * n + z, z * n + y):
            hit = np.searchsorted(keys, k)
            hit[hit == len(keys)] = 0
            total += int((keys[hit] == k).sum())
    return total


def pagerank_step(
    n: int, src: np.ndarray, dst: np.ndarray, r: np.ndarray, damping: float = 0.85
) -> np.ndarray:
    """One power-iteration step of uniform-teleport PageRank over vertices
    ``0..n-1``, dangling mass spread uniformly, by ``np.bincount``."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    contrib = np.bincount(dst, weights=r[src] / outdeg[src], minlength=n)
    return (1.0 - damping) / n + damping * (contrib + r[outdeg == 0].sum() / n)


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, iters: int) -> np.ndarray:
    """``iters`` power-iteration steps from the uniform start."""
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = pagerank_step(n, src, dst, r)
    return r


def label_propagation(n: int, u: np.ndarray, v: np.ndarray, max_iter: int) -> np.ndarray:
    """Synchronous LPA on the undirected simple graph: every vertex
    starts with its own id and takes the most frequent neighbour label,
    ties to the smallest label; vertices without neighbours keep theirs.
    Exactly ``max_iter`` rounds (rounds past a fixpoint are identity)."""
    a, b = undirected_simple(u, v)
    to = np.concatenate([a, b])
    frm = np.concatenate([b, a])
    lab = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        # labels are vertex indices, so (vertex, label) packs into one key
        key = to * n + lab[frm]
        uniq, cnt = np.unique(key, return_counts=True)
        vert, cand = uniq // n, uniq % n
        # best per vertex: max count, then min label
        order = np.lexsort((cand, -cnt, vert))
        first = np.ones(len(order), bool)
        first[1:] = vert[order[1:]] != vert[order[:-1]]
        nxt = lab.copy()
        nxt[vert[order[first]]] = cand[order[first]]
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return lab


def threshold(value: np.ndarray, lo: float) -> np.ndarray:
    """Foreground mask of a (slices, rows, cols) field under the
    reference's per-slice uint8 quantization: ``floor(255 v / max) >
    floor(255 lo / max)``, max taken per slice (0 treated as 1)."""
    mx = value.reshape(len(value), -1).max(axis=1)
    mx = np.where(mx == 0, 1.0, mx)[:, None, None]
    return np.floor(255.0 * value / mx) > np.floor(255.0 * lo / mx)


_FORWARD_26 = [(0, 0, 1), (0, 1, -1), (0, 1, 0), (0, 1, 1)] + [
    (1, dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)
]


def voxel_edges(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """26-connected (src, dst) voxel-id pairs of a foreground mask,
    voxel id = (slice * rows + row) * cols + col, no wrap-around."""
    ns, nr, nc = mask.shape
    ids = np.arange(mask.size, dtype=np.int64).reshape(mask.shape)
    us, vs = [], []
    for ds, dr, dc in _FORWARD_26:
        r0, r1 = max(0, -dr), nr - max(0, dr)
        c0, c1 = max(0, -dc), nc - max(0, dc)
        a = (slice(0, ns - ds), slice(r0, r1), slice(c0, c1))
        b = (slice(ds, ns), slice(r0 + dr, r1 + dr), slice(c0 + dc, c1 + dc))
        both = mask[a] & mask[b]
        us.append(ids[a][both])
        vs.append(ids[b][both])
    return np.concatenate(us), np.concatenate(vs)
