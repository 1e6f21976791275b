"""Per-vertex score fixtures (SURVEY.md §5.2): small deterministic
graphs with independently computed expected values — union-find for
components, dense power iteration for PageRank (allclose 1e-6 per the
north rule), hand-counted triangles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ccl_spark.cc import connected_components
from ccl_spark.datagen import generate_pages, ground_truth_edges, url_of
from ccl_spark.edges import page_edges, url_id
from ccl_spark.lpa import label_propagation
from ccl_spark.pagerank import pagerank
from ccl_spark.triangles import triangle_count, triangles_per_vertex
from tests.oracles import numpy_pagerank, union_find_components

K4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
K3 = [(10, 11), (10, 12), (11, 12)]


def df_edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_cc_cliques_and_isolated(spark):
    e = df_edges(spark, K4 + K3)
    iso = spark.createDataFrame([(99,)], "vertex long")
    got = {r.vertex: r.component for r in connected_components(e, vertices=iso).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10, 99: 99}


def test_triangles_cliques(spark):
    e = df_edges(spark, K4 + K3)
    assert triangle_count(e) == 4 + 1
    per_v = {r.vertex: r.n_triangles for r in triangles_per_vertex(e).collect()}
    assert per_v == {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1, 12: 1}


def test_lpa_cliques(spark):
    e = df_edges(spark, K4 + K3)
    got = {r.vertex: r.label for r in label_propagation(e, max_iter=10).collect()}
    # within each clique all labels agree; cliques stay separate
    assert len({got[0], got[1], got[2], got[3]}) == 1
    assert len({got[10], got[11], got[12]}) == 1
    assert got[0] != got[10]


def test_pagerank_chain_with_dangling(spark):
    chain = [(i, i + 1) for i in range(6)]  # 6 is a dangling sink
    e = df_edges(spark, chain)
    got = {r.vertex: r.rank for r in pagerank(e, tol=1e-10).collect()}
    exp = numpy_pagerank(chain)
    assert got.keys() == exp.keys()
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_star_hub(spark):
    star = [(i, 1000) for i in range(1, 51)]  # 50 spokes -> hub (skew path)
    e = df_edges(spark, star)
    got = {r.vertex: r.rank for r in pagerank(e, tol=1e-10).collect()}
    exp = numpy_pagerank(star)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-6)


def test_synthetic_corpus_against_oracles(spark):
    """Seeded power-law corpus: edges must equal the href ground truth,
    and CC + PageRank must match the independent oracles."""
    v = 200
    pages = generate_pages(spark, v, seed=7)
    e = page_edges(pages).cache()

    gt_urls = ground_truth_edges(v, seed=7)
    gt_pairs = spark.createDataFrame(gt_urls, "su string, du string").select(
        url_id("su").alias("src"), url_id("du").alias("dst")
    )
    assert e.select("src", "dst").exceptAll(gt_pairs).count() == 0
    assert gt_pairs.exceptAll(e.select("src", "dst")).count() == 0

    pairs = [(r.src, r.dst) for r in e.collect()]
    exp_cc = union_find_components(pairs)
    # pure-distributed star fixpoint (local_finish_threshold=0) AND the
    # default hybrid (subcritical local finish) must both match the oracle
    got_cc = {
        r.vertex: r.component
        for r in connected_components(e, local_finish_threshold=0).collect()
    }
    assert got_cc == exp_cc
    got_hybrid = {r.vertex: r.component for r in connected_components(e).collect()}
    assert got_hybrid == exp_cc

    exp_pr = numpy_pagerank(pairs)
    got_pr = {r.vertex: r.rank for r in pagerank(e, tol=1e-9).collect()}
    assert got_pr.keys() == exp_pr.keys()
    for vtx in exp_pr:
        assert got_pr[vtx] == pytest.approx(exp_pr[vtx], abs=1e-6)


def test_cc_deterministic_across_parallelism(spark):
    """Same input, different partitioning -> identical output (the
    local[8]/local[32] determinism requirement, exercised via
    repartition since tests share one session)."""
    v = 150
    pages = generate_pages(spark, v, seed=11)
    e = page_edges(pages)
    a = connected_components(e.repartition(2)).collect()
    b = connected_components(e.repartition(17)).collect()
    assert sorted((r.vertex, r.component) for r in a) == sorted(
        (r.vertex, r.component) for r in b
    )


def test_personalized_pagerank(spark):
    # star: 0 -> {1, 2}, plus an island 5 -> 6 unreachable from seed 0
    e = spark.createDataFrame([(0, 1), (0, 2), (1, 0), (5, 6)], "src long, dst long")
    from ccl_spark.pagerank import pagerank

    pr = {r.vertex: r.rank for r in pagerank(e, tol=1e-12, seeds=[0]).collect()}
    # mass sums to 1, concentrates on the seed component, island gets 0
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-9)
    assert pr[5] == pytest.approx(0.0, abs=1e-12)
    assert pr[6] == pytest.approx(0.0, abs=1e-12)
    assert pr[0] > pr[1] == pr[2] > 0  # symmetry of 1 and 2
    # numpy oracle for the seeded recurrence
    import numpy as np

    verts = [0, 1, 2, 5, 6]
    idx = {v: i for i, v in enumerate(verts)}
    t = np.zeros(5)
    t[idx[0]] = 1.0
    out = {0: [1, 2], 1: [0], 5: [6]}
    r = t.copy()
    for _ in range(200):
        nxt = np.zeros(5)
        dang = sum(r[idx[v]] for v in verts if v not in out)
        for u, nbrs in out.items():
            for v in nbrs:
                nxt[idx[v]] += 0.85 * r[idx[u]] / len(nbrs)
        nxt += (0.15 + 0.85 * dang) * t
        r = nxt
    for v in verts:
        assert pr[v] == pytest.approx(r[idx[v]], abs=1e-9), v


def test_pagerank_incremental_fold_in(spark):
    """Incremental rank maintenance (verdict r4 #6): folding an edge
    batch into previously-converged ranks via warm_start converges to
    the SAME fixpoint as from-scratch (1e-6 parity); guard rails
    reject harness/tol=0 combinations."""
    import pytest as _pytest

    from ccl_spark.superstep import SuperstepHarness

    base = [(i, (i * 7 + 3) % 40) for i in range(80)]
    batch = [(2, 41), (41, 5), (7, 42)]  # new vertices + rewiring
    e_old = df_edges(spark, base)
    e_new = df_edges(spark, base + batch)

    prev = pagerank(e_old, tol=1e-9).localCheckpoint(eager=True)
    cold = {r.vertex: r.rank for r in pagerank(e_new, tol=1e-9).collect()}
    warm = {
        r.vertex: r.rank
        for r in pagerank(e_new, tol=1e-9, warm_start=prev).collect()
    }
    assert warm.keys() == cold.keys()
    for v in cold:
        assert warm[v] == pytest.approx(cold[v], abs=1e-6)
    assert sum(warm.values()) == pytest.approx(1.0, abs=1e-9)

    with _pytest.raises(ValueError, match="warm_start"):
        pagerank(e_new, tol=0.0, max_iter=5, warm_start=prev)
    with _pytest.raises(ValueError, match="warm_start"):
        pagerank(
            e_new, tol=1e-9, warm_start=prev,
            harness=SuperstepHarness(spark, "/tmp/never", algo="pr"),
        )


WEIGHTED = [
    (0, 1, 10.0),
    (0, 2, 1.0),  # 0 splits 10:1 between 1 and 2
    (1, 2, 5.0),
    (2, 0, 2.0),
    (2, 3, 2.0),  # 3 is dangling
]


def test_pagerank_weight_one_matches_unweighted(spark):
    pairs = [(u, v) for u, v, _ in WEIGHTED]
    e = df_edges(spark, pairs)
    ew = spark.createDataFrame(WEIGHTED, "src long, dst long, w double").withColumn(
        "w", F.lit(1.0)
    )
    plain = {r.vertex: r.rank for r in pagerank(e, tol=1e-10).collect()}
    wtd = {r.vertex: r.rank for r in pagerank(ew, tol=1e-10, weight="w").collect()}
    assert set(plain) == set(wtd)
    for v in plain:
        assert abs(plain[v] - wtd[v]) < 1e-12


def test_pagerank_weighted_vs_numpy(spark):
    from tests.oracles import numpy_pagerank_weighted

    ew = spark.createDataFrame(WEIGHTED, "src long, dst long, w double")
    got = {r.vertex: r.rank for r in pagerank(ew, tol=1e-10, weight="w").collect()}
    exp = numpy_pagerank_weighted(WEIGHTED)
    assert set(got) == set(exp)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-6


def test_pagerank_weighted_multigraph_presums(spark):
    """Parallel (src, dst) rows pre-sum into one weight."""
    from tests.oracles import numpy_pagerank_weighted

    dup = WEIGHTED + [(0, 1, 4.0)]  # 0->1 now 14.0 total
    merged = [(0, 1, 14.0)] + [t for t in WEIGHTED if t[:2] != (0, 1)]
    ew = spark.createDataFrame(dup, "src long, dst long, w double")
    got = {r.vertex: r.rank for r in pagerank(ew, tol=1e-10, weight="w").collect()}
    exp = numpy_pagerank_weighted(merged)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-6


def test_host_graph_contraction(spark):
    from ccl_spark.edges import host_graph

    rows = [
        ("https://A.Example.com/x", "http://b.example.com/y"),
        ("https://a.example.com:443/z", "http://B.EXAMPLE.COM/w"),  # same host pair
        ("https://a.example.com/1", "https://a.example.com/2"),  # self: dropped
        ("https://user@c.example.com/p", "https://a.example.com/"),  # userinfo
        ("not a url", "https://a.example.com/"),  # unparseable: dropped
    ]
    df = spark.createDataFrame(rows, "src_url string, dst_url string")
    got = {
        (r.src_host, r.dst_host): r.weight for r in host_graph(df).collect()
    }
    assert got == {
        ("a.example.com", "b.example.com"): 2,
        ("c.example.com", "a.example.com"): 1,
    }


def test_pivot_eccentricity_path(spark):
    from ccl_spark.betweenness import pivot_eccentricity

    # path 0-1-2-3-4: hub pivots (degree 2, id ASC) are 1,2; ecc(1)=3, ecc(2)=2
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {r.p: r.ecc for r in pivot_eccentricity(edges, n_pivots=2, max_depth=8).collect()}
    assert got == {1: 3, 2: 2}


def test_spam_mass_link_farm(spark):
    """A farm of pages pointing at a boosted target, unreachable from
    the trusted seed, earns spam mass ~1; the trusted cluster stays
    low. Values check against an independent numpy replay of BOTH
    fixed-iteration recurrences."""
    from ccl_spark.pagerank import spam_mass

    edges = [
        # trusted cluster around seed 0
        (0, 1), (1, 0), (0, 2), (2, 0), (1, 2),
        # link farm 10..13 boosting 15, plus 15's backlinks to the farm
        (10, 15), (11, 15), (12, 15), (13, 15),
        (15, 10), (15, 11),
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    n_iter = 80
    got = {
        r.vertex: (r.pr, r.tr, r.spam_mass)
        for r in spam_mass(e, trusted=[0], n_iter=n_iter).collect()
    }
    assert got[15][2] > 0.999  # farm target: rank without trust
    assert got[0][2] < 0.01  # the trusted seed itself

    # independent numpy replay of both recurrences
    import numpy as np

    verts = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out = np.zeros(n)
    for u, _ in edges:
        out[idx[u]] += 1
    d = 0.85
    for seeded in (False, True):
        t = (
            np.eye(n)[idx[0]]
            if seeded
            else np.full(n, 1.0 / n)
        )
        r = t.copy()
        for _ in range(n_iter):
            contrib = np.zeros(n)
            for u, v in edges:
                contrib[idx[v]] += r[idx[u]] / out[idx[u]]
            dang = r[out == 0].sum()
            r = (1 - d) * t + d * (contrib + dang * t)
        if seeded:
            tr_np = r
        else:
            pr_np = r
    for v in verts:
        pr, tr, sm = got[v]
        assert pr == pytest.approx(pr_np[idx[v]], abs=2e-6)
        assert tr == pytest.approx(tr_np[idx[v]], abs=2e-6)
        assert sm == pytest.approx(
            (pr_np[idx[v]] - tr_np[idx[v]]) / pr_np[idx[v]], abs=2e-6
        )


def _dumbbell_cliques(half: int):
    edges = []
    for base in (0, half):
        ids = list(range(base, base + half))
        for i in range(half):
            for j in range(i + 1, half):
                edges.append((ids[i], ids[j]))
    edges.append((half - 1, half))
    return edges


def test_spectral_bisection_recovers_clique_halves(spark):
    from ccl_spark.spectral import spectral_bisection

    edges = _dumbbell_cliques(12)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.vertex: (int(r.score), r.side) for r in spectral_bisection(df, rounds=10).collect()}

    # pure-Python exact-integer replay of the documented iteration
    import hashlib

    n = 24
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(adj[v]) for v in adj}
    c = 2 * max(deg.values())
    x = {
        v: int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) % 2001 - 1000
        for v in range(n)
    }
    for _ in range(10):
        y = {v: (c - deg[v]) * x[v] + sum(x[u] for u in adj[v]) for v in range(n)}
        x = {v: y[v] - y[0] for v in range(n)}
    S = sum(x.values())
    expect = {v: (x[v], int(n * x[v] > S)) for v in range(n)}
    assert got == expect

    # the split is exactly the two cliques
    sides = {v: s for v, (_, s) in got.items()}
    assert {sides[v] for v in range(12)} != {sides[v] for v in range(12, 24)}
    assert len({sides[v] for v in range(12)}) == 1
    assert len({sides[v] for v in range(12, 24)}) == 1

    # deterministic under repartition
    again = {
        r.vertex: (int(r.score), r.side)
        for r in spectral_bisection(df.repartition(7), rounds=10).collect()
    }
    assert again == got


def test_spectral_bisection_guards(spark):
    import pytest

    from ccl_spark.spectral import spectral_bisection

    df = spark.createDataFrame(_dumbbell_cliques(12), "src long, dst long")
    with pytest.raises(ValueError):
        spectral_bisection(df, rounds=0)
    with pytest.raises(ValueError):
        spectral_bisection(df, rounds=40)  # blows the decimal(38) budget
    empty = spark.createDataFrame([], "src long, dst long")
    assert spectral_bisection(empty).count() == 0


def test_algebraic_connectivity_estimate(spark):
    import hashlib

    import numpy as np

    from ccl_spark.spectral import algebraic_connectivity_estimate

    edges = _dumbbell_cliques(12)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = algebraic_connectivity_estimate(df, rounds=8).first().lambda2_est

    # exact python replay of the integer pipeline
    n = 24
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(adj[v]) for v in adj}
    c = 2 * max(deg.values())
    x = {
        v: int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) % 2001 - 1000
        for v in range(n)
    }
    for _ in range(8):
        yv = {v: (c - deg[v]) * x[v] + sum(x[u] for u in adj[v]) for v in range(n)}
        x = {v: yv[v] - yv[0] for v in range(n)}
    S = sum(x.values())
    y = {v: n * x[v] - S for v in range(n)}
    und = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    num = sum((y[a] - y[b]) ** 2 for a, b in und if a < b)
    den = sum(v * v for v in y.values())
    assert got == round(num / den, 6)

    # a genuine upper bound, close to the true lambda2 for this graph
    A = np.zeros((n, n))
    for a, b in edges:
        A[a, b] = A[b, a] = 1
    L = np.diag(A.sum(1)) - A
    lam2 = sorted(np.linalg.eigvalsh(L))[1]
    assert got >= lam2 - 1e-9
    assert got < lam2 * 1.5
