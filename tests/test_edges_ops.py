from __future__ import annotations

from pyspark.sql import functions as F

from ccl_spark.cc import connected_components, connected_components_from_csr
from ccl_spark.datagen import generate_pages
from ccl_spark.edges import (
    csr_blocks,
    csr_to_edges,
    degrees,
    hub_vertices,
    page_edges,
    salted_in_degrees,
)


def test_salted_degrees_equal_plain(spark):
    e = page_edges(generate_pages(spark, 300, seed=4))
    plain = {r.vertex: r.in_deg for r in degrees(e).filter("in_deg > 0").collect()}
    salted = {r.vertex: r.in_deg for r in salted_in_degrees(e).collect()}
    assert salted == plain


def test_canonical_url(spark):
    from ccl_spark.edges import canonical_url

    cases = [
        ("HTTP://WWW.Example.COM/Path/To?Q=Mixed#frag", "http://www.example.com/Path/To?Q=Mixed"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("https://example.com:443", "https://example.com"),
        ("https://example.com:8443/a", "https://example.com:8443/a"),
        ("http://example.com/", "http://example.com"),
        ("http://example.com/a/", "http://example.com/a/"),  # deep path kept
        ("HTTPS://h.io:443/#x", "https://h.io"),
        ("relative/path#f", "relative/path"),  # no authority: fragment only
        ("http://example.com:8080/", "http://example.com:8080"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r.c for r in df.select(canonical_url("u").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_hub_vertices(spark):
    star = spark.createDataFrame(
        [(i, 1000) for i in range(1, 30)] + [(1, 2)], "src long, dst long"
    )
    hubs = {r.vertex: r.in_deg for r in hub_vertices(star, threshold=10).collect()}
    assert hubs == {1000: 29}


def test_csr_roundtrip(spark):
    """csr_blocks -> csr_to_edges is the identity on the edge set, and
    block metadata is conserved."""
    e = page_edges(generate_pages(spark, 300, seed=4)).select("src", "dst").distinct()
    csr = csr_blocks(e, n_blocks=8).cache()
    stats = csr.agg(F.sum("n_edges").alias("ne"), F.sum("n_src").alias("ns")).first()
    assert stats.ne == e.count()
    back = csr_to_edges(csr)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, e.collect()))


def test_cc_from_csr_matches_edge_cc(spark):
    """CSR blocks consumed by a real superstep: local numpy CC on the
    packed arrays + global fixpoint == edge-table CC."""
    e = page_edges(generate_pages(spark, 300, seed=4)).select("src", "dst")
    want = sorted(
        (r.vertex, r.component) for r in connected_components(e).collect()
    )
    got = sorted(
        (r.vertex, r.component)
        for r in connected_components_from_csr(csr_blocks(e, n_blocks=8)).collect()
    )
    assert got == want


def test_cc_from_csr_self_loop_only_vertex(spark):
    """A vertex whose only edge is a self-loop emits no pointer rows;
    it must still be labeled with itself when vertices=None (ADVICE r2)."""
    e = spark.createDataFrame([(1, 2), (7, 7)], "src long, dst long")
    got = {
        r.vertex: r.component
        for r in connected_components_from_csr(csr_blocks(e, n_blocks=4)).collect()
    }
    assert got == {1: 1, 2: 1, 7: 7}


def test_host_spam_signals_hand_computed(spark):
    from ccl_spark.edges import host_spam_signals

    pairs = [
        # farm: a<->b reciprocal pair + self links
        ("http://a.com/1", "http://b.com/x"),
        ("http://b.com/1", "http://a.com/y"),
        ("http://a.com/2", "http://a.com/self"),
        ("http://a.com/3", "http://a.com/self2"),
        # editorial: c links out to a and b, nobody links back
        ("http://c.com/1", "http://a.com/z"),
        ("http://c.com/2", "http://b.com/z"),
    ]
    df = spark.createDataFrame(pairs, "src_url string, dst_url string")
    got = {r.host: r for r in host_spam_signals(df).collect()}
    a, b, c = got["a.com"], got["b.com"], got["c.com"]
    assert a.n_links == 3 and a.self_ratio == round(2 / 3, 6)
    assert a.out_hosts == 1 and a.reciprocal_ratio == 1.0
    assert b.reciprocal_ratio == 1.0 and b.self_ratio == 0.0
    assert c.out_hosts == 2 and c.reciprocal_ratio == 0.0 and c.self_ratio == 0.0


def test_edge_embeddedness_bridges_and_triangles(spark):
    from ccl_spark.graphstats import edge_embeddedness

    # two triangles joined by a bridge 2-3
    raw = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {(r.u, r.v): r.embeddedness for r in edge_embeddedness(edges).collect()}
    assert len(got) == 7
    # triangle edges have 1 common neighbor; the bridge has 0
    assert got[(2, 3)] == 0
    for e in [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)]:
        assert got[e] == 1
