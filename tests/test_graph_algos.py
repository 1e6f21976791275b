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


def _py_ktruss(edges, k):
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        adj: dict[int, set[int]] = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {
            e: len(adj[e[0]] & adj[e[1]]) for e in es
        }
        keep = {e for e in es if sup[e] >= k - 2}
        if keep == es:
            return es
        es = keep


def test_ktruss_two_triangles_and_tail(spark):
    from ccl_spark.triangles import ktruss

    # two triangles sharing edge (1,2), plus a pendant path 4-5-6
    edges = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (4, 5), (5, 6), (2, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["a"], r["b"]) for r in ktruss(df, k=3).collect()}
    assert got == _py_ktruss(edges, 3)
    assert got == {(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)}
    # k=4: every edge needs 2 triangles; only the shared edge has 2,
    # but its triangles die with their other edges -> empty fixpoint
    assert ktruss(df, k=4).count() == 0


def test_ktruss_k4_clique(spark):
    from itertools import combinations

    from ccl_spark.triangles import ktruss

    # K5 survives k=4 (each edge in 3 triangles) plus a dangling wedge
    edges = list(combinations(range(5), 2)) + [(5, 6), (6, 7), (5, 7), (0, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["a"], r["b"]) for r in ktruss(df, k=4).collect()}
    assert got == _py_ktruss(edges, 4)
    assert got == set(combinations(range(5), 2))
    # the hanging triangle survives k=3 along with everything else
    got3 = {(r["a"], r["b"]) for r in ktruss(df, k=3).collect()}
    assert got3 == _py_ktruss(edges, 3)
    assert {(5, 6), (6, 7), (5, 7)} <= got3 and (0, 5) not in got3


def test_ktruss_matches_python_peel_random(spark):
    import random

    from ccl_spark.triangles import ktruss

    rng = random.Random(17)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (3, 4):
        got = {(r["a"], r["b"]) for r in ktruss(df, k=k).collect()}
        assert got == _py_ktruss(edges, k)


def test_ktruss_rejects_small_k(spark):
    from ccl_spark.triangles import ktruss

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        ktruss(df, k=2)


def test_katz_exact_small(spark):
    from ccl_spark.pagerank import katz_centrality

    # star 1->0, 2->0, 3->0 plus 0->1: hand-computed truncated Katz
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1)], "src long, dst long"
    )
    a = 1.0 / 16
    # closed-form for 2 rounds: x2(v) = 1 + a*indeg + a^2*(walks of len 2)
    got = {r.vertex: r.katz for r in katz_centrality(edges, n_iter=2, k=10).collect()}
    exp = {
        0: 1 + 3 * a + a * a,          # len-2 walks into 0: 0->1->0
        1: 1 + a + 3 * a * a,          # 1->0->1? no: walks ending at 1: x->0->1 for x in {1,2,3}
        2: 1.0,
        3: 1.0,
    }
    assert got == {v: round(x, 6) for v, x in exp.items()}


def test_katz_rejects_non_dyadic_alpha(spark):
    import pytest as _pytest

    from ccl_spark.pagerank import katz_centrality

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pytest.raises(ValueError):
        katz_centrality(edges, alpha=0.1)


def test_pivot_eccentricity_path(spark):
    from ccl_spark.betweenness import pivot_eccentricity

    # path 0-1-2-3-4: hub pivots (degree 2, id ASC) are 1,2; ecc(1)=3, ecc(2)=2
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {r.p: r.ecc for r in pivot_eccentricity(edges, n_pivots=2, max_depth=8).collect()}
    assert got == {1: 3, 2: 2}


def test_label_spreading_seeds_fixed_and_frontier(spark):
    from ccl_spark.lpa import label_spreading

    # path 0-1-2-3-4 with seeds 0->label 7 and 4->label 9: after 1
    # round only neighbors are labeled; seeds never change; the middle
    # vertex 2 sees both frontiers at round 2 and takes the SMALLER
    # label on the tie (7)
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0, 7), (4, 9)], "vertex long, label long")
    r1 = {r.vertex: r.label for r in label_spreading(e, seeds, n_iter=1).collect()}
    assert r1 == {0: 7, 4: 9, 1: 7, 3: 9}
    r2 = {r.vertex: r.label for r in label_spreading(e, seeds, n_iter=2).collect()}
    assert r2 == {0: 7, 4: 9, 1: 7, 3: 9, 2: 7}
    # majority beats tie-break: two label-9 neighbors outvote one 7
    e2 = spark.createDataFrame(
        [(10, 0), (10, 4), (10, 5)], "src long, dst long"
    )
    seeds2 = spark.createDataFrame(
        [(0, 7), (4, 9), (5, 9)], "vertex long, label long"
    )
    g = {r.vertex: r.label for r in label_spreading(e2, seeds2, n_iter=1).collect()}
    assert g[10] == 9


def test_ppr_batch_matches_single_seed_pagerank(spark):
    from ccl_spark.pagerank import pagerank, ppr_batch

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0)], "src long, dst long"
    )
    batch = ppr_batch(e, seeds=[0, 3], n_iter=6, k=4)
    got = {
        s: {(r.vertex, r.rank) for r in batch.filter(batch.seed == s).collect()}
        for s in (0, 3)
    }
    from pyspark.sql import functions as SF

    for s in (0, 3):
        # ppr_batch state is sparse (only reached vertices); the dense
        # single-seed ranking pads top-k with exact-0 rows — compare
        # the positive-mass rows
        single = (
            pagerank(e, tol=0.0, max_iter=6, seeds=[s])
            .filter(SF.col("rank") > 0)
            .select("vertex", SF.round("rank", 6).alias("rank"))
            .orderBy(SF.desc("rank"), SF.asc("vertex"))
            .limit(4)
        )
        exp = {(r.vertex, r.rank) for r in single.collect()}
        assert got[s] == exp, (s, got[s], exp)


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


def test_eigenvector_centrality_vs_numpy(spark):
    import random

    import numpy as np

    from ccl_spark.pagerank import eigenvector_centrality

    rng = random.Random(13)
    n = 25
    edges = [
        (a, b) for a in range(n) for b in range(n) if a != b and rng.random() < 0.15
    ]
    A = np.zeros((n, n), dtype=np.int64)
    for a, b in edges:
        A[a, b] = 1
    x = np.ones(n, dtype=np.int64)
    for _ in range(4):
        x = A.T @ x
    exp_score = np.round(x / max(x.max(), 1), 6)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = eigenvector_centrality(df, n_iter=4, k=n).collect()
    for r in got:
        assert r["walks"] == int(x[r["vertex"]])
        assert abs(r["score"] - float(exp_score[r["vertex"]])) < 1e-12
    # ordering: score desc then vertex asc
    keys = [(-r["score"], r["vertex"]) for r in got]
    assert keys == sorted(keys)


def test_eigenvector_centrality_star(spark):
    # hub receiving from 4 spokes: after k steps all walk mass is on
    # the hub (spokes have no in-edges)
    from ccl_spark.pagerank import eigenvector_centrality

    e = spark.createDataFrame([(i, 99) for i in range(1, 5)], "src long, dst long")
    rows = eigenvector_centrality(e, n_iter=1, k=10).collect()
    by_v = {r["vertex"]: r for r in rows}
    assert by_v[99]["walks"] == 4 and by_v[99]["score"] == 1.0
    assert all(by_v[v]["walks"] == 0 for v in range(1, 5))


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
