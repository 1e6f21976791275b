"""The vectorized oracles against plain-loop references on small inputs."""

import sys
from collections import Counter
from itertools import combinations
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from linkbench import gen, oracles  # noqa: E402


def _graph(seed, n=60, m=150):
    rng = np.random.default_rng(seed)
    return rng.integers(0, n, m), rng.integers(0, n, m), n


def _adj(u, v, n):
    adj = [set() for _ in range(n)]
    for a, b in zip(u.tolist(), v.tolist()):
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    return adj


@pytest.mark.parametrize("seed", range(5))
def test_cc_labels_match_bfs(seed):
    u, v, n = _graph(seed, m=60)
    adj = _adj(u, v, n)
    want = list(range(n))
    for s in range(n):
        stack, seen = [s], {s}
        while stack:
            for y in adj[stack.pop()]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        want[s] = min(seen)
    assert oracles.cc_labels(n, u, v).tolist() == want


@pytest.mark.parametrize("seed", range(5))
def test_triangle_count_matches_brute_force(seed):
    u, v, n = _graph(seed)
    adj = _adj(u, v, n)
    want = sum(
        1 for a, b, c in combinations(range(n), 3) if b in adj[a] and c in adj[a] and c in adj[b]
    )
    assert oracles.triangle_count(n, u, v) == want


@pytest.mark.parametrize("seed", range(5))
def test_label_propagation_matches_loop(seed):
    u, v, n = _graph(seed)
    adj = _adj(u, v, n)
    lab = list(range(n))
    for _ in range(4):
        nxt = lab[:]
        for x in range(n):
            if adj[x]:
                c = Counter(lab[y] for y in adj[x])
                nxt[x] = min(c, key=lambda k: (-c[k], k))
        lab = nxt
    assert oracles.label_propagation(n, u, v, 4).tolist() == lab


def test_pagerank_step_matches_loop():
    n, d = 300, 0.85
    src, dst = gen.page_links(n, 7)
    out = np.bincount(src, minlength=n)
    r = np.random.default_rng(0).random(n)
    r /= r.sum()
    contrib = [0.0] * n
    for a, b in zip(src.tolist(), dst.tolist()):
        contrib[b] += r[a] / out[a]
    dang = sum(r[x] for x in range(n) if out[x] == 0)
    want = [(1 - d) / n + d * (contrib[x] + dang / n) for x in range(n)]
    got = oracles.pagerank_step(n, src, dst, r)
    assert np.allclose(got, want, rtol=0, atol=1e-15)
    assert got.sum() == pytest.approx(1.0)


def test_pagerank_iterates_from_uniform():
    n = 300
    src, dst = gen.page_links(n, 7)
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        r = oracles.pagerank_step(n, src, dst, r)
    got = oracles.pagerank(n, src, dst, 5)
    assert np.array_equal(got, r)
    assert got.sum() == pytest.approx(1.0)


def test_voxel_edges_and_threshold():
    st = gen.storm_field(3, 10, 12, seed=5)
    mask = oracles.threshold(st.value, st.lo)
    mx = st.value.reshape(3, -1).max(axis=1)
    for s in range(3):
        want = np.floor(255.0 * st.value[s] / mx[s]) > np.floor(255.0 * st.lo / mx[s])
        assert (mask[s] == want).all()
    u, v = oracles.voxel_edges(mask)
    ns, nr, nc = mask.shape
    want = set()
    for s, r, c in zip(*np.nonzero(mask)):
        for ds in (-1, 0, 1):
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    t = (s + ds, r + dr, c + dc)
                    if (ds, dr, dc) != (0, 0, 0) and all(0 <= t[i] < mask.shape[i] for i in range(3)) and mask[t]:
                        a, b = (s * nr + r) * nc + c, (t[0] * nr + t[1]) * nc + t[2]
                        want.add((min(a, b), max(a, b)))
    got = set(zip(np.minimum(u, v).tolist(), np.maximum(u, v).tolist()))
    assert got == want and len(got) == len(u)


def test_xxhash64_reference_vectors():
    # XXH64 reference values (seed 0): empty input, and the 2**64 wrap
    # of Spark's signed result for it
    assert int(oracles.xxhash64([""], seed=0)[0]) == 0xEF46DB3751D8E999 - (1 << 64)
    # every length class (stripes, 8-byte words, 4-byte word, bytes)
    # hashes row-independently
    s = ["x" * k for k in range(0, 70)]
    one = [int(oracles.xxhash64([t])[0]) for t in s]
    assert oracles.xxhash64(s).tolist() == one
    assert len(set(one)) == len(one)
