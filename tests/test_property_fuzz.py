"""Property-based fuzzing (hypothesis) against independent pure-Python
oracles — randomized edge/temporal inputs the hand-written cases never
cover: duplicate edges, self-loops, equal timestamps, NULL right-side
values, arbitrary snapshot splits."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ccl_spark.asof import asof_join
from ccl_spark.cc import connected_components
from ccl_spark.components import incremental_cc
from ccl_spark.dedup import dup_clusters
from tests.oracles import union_find_components

FUZZ = settings(
    max_examples=10,
    deadline=None,
    derandomize=True,  # stable CI: same cases every run
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

edges_strategy = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=1, max_size=30
)


@FUZZ
@given(edges=edges_strategy)
def test_cc_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.vertex: r.component
        for r in connected_components(df, local_finish_threshold=0).collect()
    }
    assert got == union_find_components(edges)


@FUZZ
@given(edges=edges_strategy, cut=st.integers(0, 21))
def test_incremental_cc_any_split_matches_full(spark, edges, cut):
    """Folding any prefix/suffix split of the edge set through
    incremental_cc equals from-scratch CC on the union."""
    first = [e for e in edges if e[0] < cut] or [edges[0]]
    second = [e for e in edges if e[0] >= cut]
    prev = connected_components(spark.createDataFrame(first, "src long, dst long"))
    if second:
        got_df = incremental_cc(
            prev, spark.createDataFrame(second, "src long, dst long")
        )
    else:
        got_df = prev
    got = {r.vertex: r.component for r in got_df.collect()}
    exp = union_find_components(first + second)
    assert got == exp


@FUZZ
@given(pairs=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=20))
def test_dup_clusters_matches_python_closure(spark, pairs):
    pairs = [(a, b) for a, b in pairs if a != b]
    if not pairs:
        pairs = [(0, 1)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r.doc_id: (r.cluster_id, r.keep) for r in dup_clusters(df).collect()
    }
    comp = union_find_components(pairs)
    assert got == {v: (c, int(v == c)) for v, c in comp.items()}


@FUZZ
@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=1, max_size=15),
    right=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.integers(0, 30),
            st.one_of(st.none(), st.integers(-5, 5)),
        ),
        min_size=0,
        max_size=15,
    ),
)
def test_asof_join_matches_brute_force(spark, left, right):
    """Backward-inclusive semantics incl. NULL values in the matched
    row, against a brute-force python oracle. Right is deduped per
    (k, t) (ties at equal timestamps are ambiguous in any engine)."""
    rd = {}
    for k, t, v in right:
        rd[(k, t)] = v  # last write wins = a deterministic dedup rule
    right_rows = [(k, t, v) for (k, t), v in rd.items()]
    ldf = spark.createDataFrame(left, "k long, t long")
    rdf = spark.createDataFrame(right_rows, "k long, t long, v long") if right_rows else (
        spark.createDataFrame([], "k long, t long, v long")
    )
    got = sorted(
        (r.k, r.t, r.v_asof)
        for r in asof_join(ldf, rdf, on="t", by="k").collect()
    )
    exp = []
    for k, t in left:
        cand = [(rt, v) for (rk, rt), v in rd.items() if rk == k and rt <= t]
        exp.append((k, t, max(cand)[1] if cand else None))
    assert got == sorted(exp)


@FUZZ
@given(edges=edges_strategy)
def test_mis_matches_python_luby(spark, edges):
    from ccl_spark.mis import maximal_independent_set

    from tests.test_mis import _py_mis

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["vertex"] for r in maximal_independent_set(df).collect()}
    assert got == _py_mis(edges, "mis")


@FUZZ
@given(edges=edges_strategy)
def test_sssp_matches_dijkstra(spark, edges):
    from ccl_spark.chains import sssp

    from tests.test_chains import _py_sssp

    # weights from the endpoint formula; source = min endpoint
    weights = [1 + (s + d) % 5 for s, d in edges]
    source = min(min(s, d) for s, d in edges)
    df = spark.createDataFrame(
        [(s, d, w) for (s, d), w in zip(edges, weights)],
        "src long, dst long, w long",
    )
    got = {
        r["vertex"]: r["dist"]
        for r in sssp(df, source, weight_col="w", check_every=3).collect()
    }
    # dedup semantics: sssp MINs over duplicate (s, d) rows the same
    # way dijkstra takes the lightest parallel edge
    best = {}
    for (s, d), w in zip(edges, weights):
        best[(s, d)] = min(w, best.get((s, d), 1 << 60))
    e2 = list(best)
    w2 = [best[e] for e in e2]
    assert got == _py_sssp(e2, source, w2)


@FUZZ
@given(edges=edges_strategy)
def test_boruvka_matches_kruskal_fuzz(spark, edges):
    import hashlib

    from ccl_spark.mst import boruvka_msf

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.u, r.v, r.w) for r in boruvka_msf(df).collect()}
    canon = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    exp = set()
    wedges = sorted(
        (
            int(hashlib.md5(f"{u},{v},mstw".encode()).hexdigest()[:13], 16),
            u,
            v,
        )
        for u, v in canon
    )
    for w, u, v in wedges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            exp.add((u, v, w))
    assert got == exp


@FUZZ
@given(edges=edges_strategy)
def test_core_numbers_matches_peel_fuzz(spark, edges):
    from ccl_spark.kcore import core_numbers
    from tests.test_kcore import _peel_coreness

    simple = [(u, v) for u, v in edges if u != v]
    if not simple:
        return
    df = spark.createDataFrame(simple, "src long, dst long")
    got = {r.vertex: r.core for r in core_numbers(df).collect()}
    assert got == _peel_coreness(simple)


@FUZZ
@given(edges=edges_strategy)
def test_matching_is_maximal_matching_fuzz(spark, edges):
    from ccl_spark.mis import maximal_matching

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.u, r.v) for r in maximal_matching(df).collect()}
    flat = [x for e in got for x in e]
    assert len(flat) == len(set(flat))  # a matching
    mv = set(flat)
    for u, v in edges:
        if u != v:
            assert u in mv or v in mv  # maximal
