"""Degree-ordered triangle counting.

Classic two-join scheme: orient each undirected edge from the
lower-(degree, id) endpoint to the higher one; every triangle then has
exactly one wedge a->b, a->c with (b,c) also oriented — so it is
counted exactly once. Orienting by degree bounds each vertex's
out-neighborhood by O(sqrt(m)), which is what keeps the wedge join
tractable on power-law web graphs (hubs become high-rank and receive
edges instead of fanning out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _oriented(edges: DataFrame, src: str, dst: str) -> DataFrame:
    canon = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("v"))
        .unionByName(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    with_deg = canon.join(da, "a").join(db, "b")
    lo_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    return with_deg.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """All triangles as rows ``(x, y, z)`` (each exactly once)."""
    o = _oriented(edges, src, dst).localCheckpoint(eager=True)
    e1 = o.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    e2 = o.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    wedges = e1.join(e2, "x").filter(F.col("y") < F.col("z"))
    # close the wedge with an oriented edge in either (y,z) order;
    # (lo, hi) is a bijective reorientation of the distinct canonical
    # edge set, so (least, greatest) rows are distinct already — no
    # dedup exchange needed
    close = o.select(
        F.least("lo", "hi").alias("y"), F.greatest("lo", "hi").alias("z")
    )
    return wedges.join(close, ["y", "z"]).select("x", "y", "z")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> int:
    return triangles(edges, src, dst).count()


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """``(vertex, degree, n_triangles, coefficient)`` — local
    clustering coefficient 2T / (d(d-1)) over the undirected simple
    graph (0.0 when degree < 2). One degree aggregation joined onto
    triangles_per_vertex; both sides are |V|-row tables."""
    canon = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("vertex"))
        .unionByName(canon.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangles_per_vertex(edges, src, dst)
    d = F.col("degree").cast("double")
    coef = F.when(
        F.col("degree") >= 2, 2.0 * F.col("n_triangles") / (d * (d - 1.0))
    ).otherwise(F.lit(0.0))
    return (
        tri.join(deg, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("degree", F.lit(0)).alias("degree"),
            "n_triangles",
            F.round(coef, 6).alias("coefficient"),
        )
    )


def triangles_per_vertex(
    edges: DataFrame, src: str = "src", dst: str = "dst", vertices: DataFrame | None = None
) -> DataFrame:
    """``(vertex long, n_triangles long)`` including zero rows when
    ``vertices`` is given."""
    tri = triangles(edges, src, dst)
    corners = (
        tri.select(F.col("x").alias("vertex"))
        .unionByName(tri.select(F.col("y").alias("vertex")))
        .unionByName(tri.select(F.col("z").alias("vertex")))
    )
    counts = corners.groupBy("vertex").agg(F.count(F.lit(1)).alias("n_triangles"))
    if vertices is None:
        pairs = edges.select(F.col(src).cast("long").alias("vertex")).unionByName(
            edges.select(F.col(dst).cast("long").alias("vertex"))
        )
        vertices = pairs.distinct()
    else:
        vertices = vertices.select(F.col("vertex").cast("long"))
    return vertices.join(counts, "vertex", "left").select(
        "vertex", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def sampled_triangle_estimate(
    edges: DataFrame,
    sample_mod: int = 4,
    salt: str = "doulion",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DOULION triangle estimation (Tsourakakis et al., KDD 2009):
    sparsify the undirected edge set by keeping each edge with
    probability ``p = 1/sample_mod``, count triangles exactly on the
    sample, and scale by ``1/p^3``.

    This is the 100-TB shape for triangle statistics: the exact
    count's wedge join is quadratic in hub degree, and sampling at
    ``p`` cuts the wedge mass by ``p^2`` BEFORE the join — the
    estimator is unbiased with variance that vanishes on
    triangle-dense graphs (the KDD'09 analysis).  The coin is a
    deterministic md5 draw on the canonical edge key (the walks/MIS
    trick), so the sample — and therefore the estimate — replays
    bit-identically across engines and runs: ``estimate =
    n_triangles_sampled * sample_mod^3`` is exact integer arithmetic.

    Returns one row ``(n_edges_sampled, n_triangles_sampled,
    est_triangles)``.
    """
    canon = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("u"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    draw = F.expr(
        f"cast(conv(substring(md5(concat(cast(u as string), ',', "
        f"cast(v as string), ',{salt}')), 1, 15), 16, 10) as bigint)"
    )
    samp = canon.filter(draw % sample_mod == 0).localCheckpoint(eager=True)
    n_samp = samp.select(F.count(F.lit(1)).cast("long").alias("n_edges_sampled"))
    tri = triangles(samp, src="u", dst="v").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles_sampled")
    )
    return n_samp.crossJoin(tri).select(
        "n_edges_sampled",
        "n_triangles_sampled",
        (F.col("n_triangles_sampled") * F.lit(sample_mod**3))
        .cast("long")
        .alias("est_triangles"),
    )


def directed_triangle_census(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Cyclic vs transitive directed-triangle counts (the triad-census
    core for link graphs): ``n_cyclic`` = triples a→b→c→a (each
    3-cycle counted once), ``n_transitive`` = triples a→b→c with the
    shortcut a→c (each counted once per path it closes — the standard
    transitivity numerator for directed graphs).

    Two 3-way hash equi-joins over the distinct directed edge set —
    the directed analog of the wedge-close join; the same
    degree-skew argument applies (hub out-neighborhoods bound the
    fan-out, and the joins are edge-keyed so AQE skew-split covers
    the hot vertices).  Returns one row ``(n_cyclic, n_transitive)``.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ab = e.select(F.col("s").alias("a"), F.col("d").alias("b"))
    bc = e.select(F.col("s").alias("b"), F.col("d").alias("c"))
    ca = e.select(F.col("s").alias("c"), F.col("d").alias("a"))
    ac = e.select(F.col("s").alias("a"), F.col("d").alias("c"))
    cyc = (
        ab.join(bc, "b")
        .join(ca, ["c", "a"])
        .agg((F.count(F.lit(1)) / 3).cast("long").alias("n_cyclic"))
    )
    tra = (
        ab.join(bc, "b")
        .filter(F.col("a") != F.col("c"))
        .join(ac, ["a", "c"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitive"))
    )
    return cyc.crossJoin(tra)


TRIAD_TYPES = [
    "003", "012", "102", "021D", "021U", "021C", "111D", "111U",
    "030T", "030C", "201", "120D", "120U", "120C", "210", "300",
]


def triad_census(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Full Holland-Leinhardt 16-type triad census of a directed graph
    (MAN labels in igraph/statnet order: 003 ... 300), the standard
    structural signature of a web link graph.

    Scale design (Batagelj-Mrvar subtraction scheme): only triads with
    >=2 connected dyads are enumerated — open wedges (one self-join of
    the symmetric adjacency on the center, anti-joined against the
    support-pair table) and support triangles (two equi-joins over
    ``u<v<t``-ordered pairs).  Triads with exactly one connected dyad
    (types 012/102) come from the exact closed form
    ``sum over dyads of (n-2) - |N(u) u N(v) \\ {u,v}|`` where the union
    size needs only degrees and the per-edge common-neighbor count
    (one wedge join); the empty triad 003 is ``C(n,3)`` minus the rest.
    Nothing ever touches the O(n^3) triple space, and the joins are
    the same degree-bounded wedge joins as :func:`triangle_count`.

    The vertex universe is the set of endpoints appearing in ``edges``
    (isolated vertices contribute only to 003 and the closed-form
    classes; pass a padded edge list if they matter).  Counts are
    ``long``: the subtraction classes grow as O(n^3), which fits int64
    up to n ~ 3.8M vertices — past that, take the enumerated classes
    from this census (they are edge-bounded, not n-bounded) and report
    003/012/102 from the same closed forms in arbitrary-precision
    driver arithmetic.

    Returns 16 rows ``(triad_type, n)`` in canonical MAN order.
    """
    spark = edges.sparkSession
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    # one dyad row per connected unordered pair u<v:
    #   f = edge u->v present, b = edge v->u present, m = mutual
    dy = (
        e.select(
            F.least("s", "d").alias("u"),
            F.greatest("s", "d").alias("v"),
            F.when(F.col("s") < F.col("d"), 1).otherwise(0).alias("fw"),
            F.when(F.col("s") > F.col("d"), 1).otherwise(0).alias("bw"),
        )
        .groupBy("u", "v")
        .agg(F.max("fw").alias("f"), F.max("bw").alias("b"))
        .localCheckpoint(eager=True)
    )
    # symmetric adjacency with the dyad code relative to the left
    # vertex w: 2 = mutual, 1 = w->x only, 0 = x->w only
    rel_u = F.when(F.col("f") + F.col("b") == 2, 2).otherwise(F.col("f"))
    rel_v = F.when(F.col("f") + F.col("b") == 2, 2).otherwise(F.col("b"))
    adj = dy.select(
        F.col("u").alias("w"), F.col("v").alias("x"), rel_u.alias("rel")
    ).unionByName(
        dy.select(F.col("v").alias("w"), F.col("u").alias("x"), rel_v.alias("rel"))
    )

    # ---- triads with exactly 2 connected dyads: open wedges --------
    a1 = adj.select("w", F.col("x").alias("x1"), F.col("rel").alias("r1"))
    a2 = adj.select("w", F.col("x").alias("x2"), F.col("rel").alias("r2"))
    wedges = a1.join(a2, "w").filter(F.col("x1") < F.col("x2"))
    sup = dy.select(F.col("u").alias("x1"), F.col("v").alias("x2"))
    open_w = wedges.join(sup, ["x1", "x2"], "left_anti")
    lo = F.least("r1", "r2")
    hi = F.greatest("r1", "r2")
    wedge_type = (
        F.when((lo == 1) & (hi == 1), "021D")
        .when((lo == 0) & (hi == 0), "021U")
        .when((lo == 0) & (hi == 1), "021C")
        .when((lo == 0) & (hi == 2), "111D")
        .when((lo == 1) & (hi == 2), "111U")
        .otherwise("201")
    )
    wedge_counts = open_w.groupBy(wedge_type.alias("triad_type")).agg(
        F.count(F.lit(1)).alias("n")
    )

    # ---- triads with 3 connected dyads: support triangles ----------
    d_uv = dy.select(
        F.col("u"), F.col("v"), F.col("f").alias("f1"), F.col("b").alias("b1")
    )
    d_vt = dy.select(
        F.col("u").alias("v"), F.col("v").alias("t"),
        F.col("f").alias("f2"), F.col("b").alias("b2"),
    )
    d_ut = dy.select(
        F.col("u"), F.col("v").alias("t"),
        F.col("f").alias("f3"), F.col("b").alias("b3"),
    )
    tri = d_uv.join(d_vt, "v").join(d_ut, ["u", "t"])
    m1 = (F.col("f1") + F.col("b1") == 2).cast("int")
    m2 = (F.col("f2") + F.col("b2") == 2).cast("int")
    m3 = (F.col("f3") + F.col("b3") == 2).cast("int")
    nmut = m1 + m2 + m3
    # 1-mutual: B = the vertex outside the mutual dyad; count B's
    # outgoing arcs among the two asymmetric dyads
    out_b = (
        F.when(m1 == 1, F.col("b2") + F.col("b3"))
        .when(m2 == 1, F.col("f1") + F.col("f3"))
        .otherwise(F.col("b1") + F.col("f2"))
    )
    is_cycle = ((F.col("f1") == 1) & (F.col("f2") == 1) & (F.col("b3") == 1)) | (
        (F.col("b1") == 1) & (F.col("b2") == 1) & (F.col("f3") == 1)
    )
    tri_type = (
        F.when(nmut == 3, "300")
        .when(nmut == 2, "210")
        .when(
            nmut == 1,
            F.when(out_b == 2, "120D").when(out_b == 0, "120U").otherwise("120C"),
        )
        .otherwise(F.when(is_cycle, "030C").otherwise("030T"))
    )
    tri_counts = tri.groupBy(tri_type.alias("triad_type")).agg(
        F.count(F.lit(1)).alias("n")
    )

    # ---- exactly 1 connected dyad: closed-form subtraction ---------
    n_vertices = (
        adj.select(F.col("w").alias("vtx")).distinct().count()
    )
    deg = adj.groupBy(F.col("w").alias("vtx")).agg(F.count(F.lit(1)).alias("deg"))
    # common support neighbors per connected dyad via one wedge join
    cn = (
        a1.select("w", "x1")
        .join(a2.select("w", "x2"), "w")
        .filter(F.col("x1") < F.col("x2"))
        .join(sup, ["x1", "x2"], "left_semi")
        .groupBy(F.col("x1").alias("u"), F.col("x2").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    dy_only = (
        dy.join(cn, ["u", "v"], "left")
        .join(deg.select(F.col("vtx").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("vtx").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            F.when(F.col("f") + F.col("b") == 2, "102").otherwise("012").alias(
                "triad_type"
            ),
            (
                F.lit(n_vertices - 2)
                - (F.col("du") - 1)
                - (F.col("dv") - 1)
                + F.coalesce(F.col("common"), F.lit(0))
            ).alias("third"),
        )
        .groupBy("triad_type")
        .agg(F.sum("third").alias("n"))
    )

    counts = wedge_counts.unionByName(tri_counts).unionByName(dy_only)
    spine = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRIAD_TYPES)], "ord int, triad_type string"
    )
    total_c3 = n_vertices * (n_vertices - 1) * (n_vertices - 2) // 6
    tot = counts.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("tot"))
    return (
        spine.join(counts, "triad_type", "left")
        .crossJoin(tot)
        .select(
            "ord",
            "triad_type",
            F.when(
                F.col("triad_type") == "003", F.lit(total_c3) - F.col("tot")
            )
            .otherwise(F.coalesce(F.col("n"), F.lit(0)))
            .cast("long")
            .alias("n"),
        )
        .orderBy("ord")
        .drop("ord")
    )


def clique4_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Number of 4-cliques (K4) in the undirected simple graph — the
    next graphlet after triangles (dense-community / link-farm
    signal).  Each K4 ``u<v<t<w`` is counted once with ``w`` as its
    maximum vertex: candidates ``w`` extend a triangle from its
    MINIMUM-(degree, id) vertex (the Chiba-Nishizeki pivot — fan-out
    per triangle is bounded by the smallest incident degree, the
    arboricity discipline that keeps clique listing feasible on
    power-law graphs), then two hash semi-joins certify the remaining
    pairs.  Returns one row ``(n_k4 long)``.
    """
    tri = triangles(edges, src, dst).select(
        F.array_sort(F.array("x", "y", "z")).alias("s")
    ).select(
        F.col("s")[0].alias("u"), F.col("s")[1].alias("v"), F.col("s")[2].alias("t")
    )
    sup = (
        edges.select(
            F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        sup.select(F.col("a").alias("vx"))
        .unionByName(sup.select(F.col("b").alias("vx")))
        .groupBy("vx")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    with_deg = (
        tri.join(deg.select(F.col("vx").alias("u"), F.col("dg").alias("du")), "u")
        .join(deg.select(F.col("vx").alias("v"), F.col("dg").alias("dv")), "v")
        .join(deg.select(F.col("vx").alias("t"), F.col("dg").alias("dt")), "t")
    )
    pivot = F.expr(
        "least(struct(du as d, u as i), struct(dv as d, v as i),"
        " struct(dt as d, t as i)).i"
    )
    cand = (
        with_deg.select("u", "v", "t", pivot.alias("p"))
        .join(sup.select(F.col("a").alias("p"), F.col("b").alias("w")), "p")
        .filter(F.col("w") > F.col("t"))
    )
    for lo in ("u", "v", "t"):
        cand = cand.join(
            sup.select(F.col("a").alias(lo), F.col("b").alias("w")),
            [lo, "w"],
            "left_semi",
        )
    return cand.agg(F.count(F.lit(1)).cast("long").alias("n_k4"))


def _triad_combo_signatures() -> dict[str, dict[tuple[int, int, int], int]]:
    """For each triad type, how many of the 4^3 independent dyad-code
    assignments (M, A in either orientation, N per pair) produce it,
    bucketed by the (n_mutual, n_asym, n_null) signature — the
    coefficient table of the U|MAN expected-count polynomial
    (Holland & Leinhardt 1976).  Enumerated at call time with the
    same classification algebra as :func:`triad_census` (64 cases,
    driver-side, constant)."""
    from collections import defaultdict

    out: dict[str, dict[tuple[int, int, int], int]] = defaultdict(
        lambda: defaultdict(int)
    )
    # codes per canonical pair (u<v): 0 null, 1 u->v, 2 v->u, 3 mutual
    def bits(code):
        return {0: (0, 0), 1: (1, 0), 2: (0, 1), 3: (1, 1)}[code]

    for c1 in range(4):
        for c2 in range(4):
            for c3 in range(4):
                f1, b1 = bits(c1)
                f2, b2 = bits(c2)
                f3, b3 = bits(c3)
                m1, m2, m3 = int(c1 == 3), int(c2 == 3), int(c3 == 3)
                n1, n2, n3 = int(c1 == 0), int(c2 == 0), int(c3 == 0)
                nm, nn = m1 + m2 + m3, n1 + n2 + n3
                na = 3 - nm - nn
                if nn == 3:
                    tt = "003"
                elif nn == 2:
                    tt = "102" if nm == 1 else "012"
                elif nn == 1:
                    # center-relative codes of the two connected pairs
                    def rel(f, b):
                        return 2 if f and b else (1 if f else 0)

                    if n1 == 1:  # pairs (v,t), (u,t); center t
                        rs = sorted((rel(b2, f2), rel(b3, f3)))
                    elif n2 == 1:  # pairs (u,v), (u,t); center u
                        rs = sorted((rel(f1, b1), rel(f3, b3)))
                    else:  # pairs (u,v), (v,t); center v
                        rs = sorted((rel(b1, f1), rel(f2, b2)))
                    tt = {
                        (1, 1): "021D", (0, 0): "021U", (0, 1): "021C",
                        (0, 2): "111D", (1, 2): "111U", (2, 2): "201",
                    }[tuple(rs)]
                elif nm == 3:
                    tt = "300"
                elif nm == 2:
                    tt = "210"
                elif nm == 1:
                    if m1:
                        outb = b2 + b3
                    elif m2:
                        outb = f1 + f3
                    else:
                        outb = b1 + f2
                    tt = {2: "120D", 0: "120U", 1: "120C"}[outb]
                else:
                    cyc = (f1 and f2 and b3) or (b1 and b2 and f3)
                    tt = "030C" if cyc else "030T"
                out[tt][(nm, na, nn)] += 1
    return {k: dict(v) for k, v in out.items()}


def triad_significance(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    census: DataFrame | None = None,
) -> DataFrame:
    """Triad significance profile: observed census counts vs their
    expectation under the dyad-conditioned random graph (U|MAN —
    dyad codes drawn independently with the observed mutual/asym/null
    frequencies; the independence approximation is standard and exact
    in the n -> inf limit).  The observed/expected ratio is the motif
    profile of Milo et al. — transitive-triad excess is the classic
    web-graph signature.

    Expected counts are a closed-form polynomial in the dyad census:
    C(n,3) * sum over code assignments, with the 64-case coefficient
    table enumerated driver-side by the census's own classifier.
    One extra aggregate over the dyad table beyond
    :func:`triad_census`.  Returns 16 rows
    ``(triad_type, observed, expected, ratio)`` (6dp)."""
    obs = census if census is not None else triad_census(edges, src, dst)
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    dy = (
        e.select(
            F.least("s", "d").alias("u"),
            F.greatest("s", "d").alias("v"),
            F.when(F.col("s") < F.col("d"), 1).otherwise(0).alias("fw"),
            F.when(F.col("s") > F.col("d"), 1).otherwise(0).alias("bw"),
        )
        .groupBy("u", "v")
        .agg(F.max("fw").alias("f"), F.max("bw").alias("b"))
    )
    row = dy.agg(
        F.sum((F.col("f") + F.col("b") == 2).cast("long")).alias("m"),
        F.sum((F.col("f") + F.col("b") == 1).cast("long")).alias("a"),
    ).first()
    m, a = int(row.m or 0), int(row.a or 0)
    nv = (
        e.select(F.explode(F.array("s", "d")).alias("x")).distinct().count()
    )
    total_pairs = nv * (nv - 1) // 2
    total_triples = nv * (nv - 1) * (nv - 2) // 6
    pm = m / total_pairs if total_pairs else 0.0
    pa = a / total_pairs if total_pairs else 0.0
    pn = 1.0 - pm - pa
    sig = _triad_combo_signatures()
    expected = {
        tt: total_triples
        * sum(
            c * (pm ** nm) * ((pa / 2.0) ** na) * (pn ** nn)
            for (nm, na, nn), c in buckets.items()
        )
        for tt, buckets in sig.items()
    }
    spark = edges.sparkSession
    edf = spark.createDataFrame(
        [(tt, float(expected.get(tt, 0.0))) for tt in TRIAD_TYPES],
        "triad_type string, expected double",
    )
    return (
        obs.join(F.broadcast(edf), "triad_type")
        .select(
            "triad_type",
            F.col("n").alias("observed"),
            F.round("expected", 6).alias("expected"),
            F.round(
                F.when(F.col("expected") > 0, F.col("n") / F.col("expected"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("ratio"),
        )
    )
