"""Spectral graph bisection by integer-exact power iteration.

The Fiedler vector (eigenvector of the graph Laplacian's second-
smallest eigenvalue) is the classic balanced-min-cut relaxation — the
partition you want when co-locating a link graph across executors so
that joins and BSP supersteps shuffle as little as possible (compare
``graphstats.partition_cut``, which *measures* the cut a partitioner
achieves; this module *finds* a low-cut split).

Spark-first shape: the iteration is a per-round (join + aggregate)
over the edge table — the same BSP pattern as pagerank — with every
value an exact integer (``decimal(38,0)``), so results are
bit-reproducible across partitionings AND in ANSI SQL (DuckDB
HUGEINT).

Algorithm: power iteration on M = cI − L with c = 2·dmax ≥ λmax, so M
is PSD and its dominant non-constant eigendirection is the Fiedler
vector.  The constant mode (eigenvalue c) is removed EXACTLY each
round by anchor subtraction — x ← Mx − (Mx)(v0)·1 with v0 the minimum
vertex id — which is power iteration on the quotient space V/span(1)
(a floor-based mean deflation would leave an O(1) constant residue
that M re-amplifies by c per round and eventually dominates; anchor
subtraction has no such residue).  The final side test compares each
score against the mean without division: side(v) = [n·x(v) > Σx].

Values grow by ≈ (c − λ2) per round; with |x0| ≤ 1000 the iterate
needs 11 + rounds·log2(2·dmax) bits, checked against the decimal(38)
budget up front.  Convergence is governed by (c−λ3)/(c−λ2), so the
split locks in within a few rounds when clusters are internally dense
(λ3 large) and needs more rounds for weakly-knit clusters — ``rounds``
is the knob.

Reference parity: the reference exposes component/partition labeling
over grids and graphs (ccl_marker_stack.py run_ccl / marker relabel);
spectral bisection extends the same labeling surface with the
balanced-cut primitive a 1000-executor layout actually needs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ccl_spark.graphstats import _symmetrized

_DEC = "decimal(38,0)"


def spectral_bisection(
    edges: DataFrame,
    rounds: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Two-way spectral split of the undirected graph under ``edges``.

    Returns ``(vertex, score decimal(38,0), side int)`` — ``side`` is
    1 where n·score exceeds the score sum (the Fiedler sign split),
    and scores order vertices by their position along the Fiedler
    direction.  Deterministic: bit-identical across partitionings and
    replayable in ANSI SQL.
    """
    und, x, n = _fiedler_iterate(edges, rounds, src, dst, "spectral_bisection")
    if x is None:
        return edges.sparkSession.createDataFrame(
            [], f"vertex long, score {_DEC}, side int"
        )
    total = x.agg(F.sum("x").cast(_DEC).alias("sx"))
    return (
        x.crossJoin(F.broadcast(total))
        .select(
            "vertex",
            F.col("x").alias("score"),
            (F.lit(n) * F.col("x") > F.col("sx")).cast("int").alias("side"),
        )
    )


def _fiedler_iterate(
    edges: DataFrame, rounds: int, src: str, dst: str, who: str
):
    """Shared anchored power iteration: returns ``(und, x, n)`` with
    ``x`` the (vertex, deg, x) iterate after ``rounds`` — or
    ``(und, None, 0)`` on an empty graph."""
    if rounds < 1:
        raise ValueError(f"{who}: rounds must be >= 1")
    und = _symmetrized(edges, src, dst).localCheckpoint(eager=True)
    deg = und.groupBy(F.col("s").alias("vertex")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    stats = deg.agg(
        F.max("deg").alias("dmax"),
        F.count(F.lit(1)).alias("n"),
        F.min("vertex").alias("v0"),
    ).first()
    if stats.dmax is None:
        return und, None, 0
    dmax, n, v0 = int(stats.dmax), int(stats.n), int(stats.v0)
    c = 2 * dmax
    bits = 11 + rounds * math.log2(max(2 * dmax, 2))
    if bits > 120:
        raise ValueError(
            f"{who}: {rounds} rounds at dmax={dmax} needs "
            f"~{bits:.0f} bits > decimal(38) budget; lower rounds"
        )

    x = deg.select(
        "vertex",
        "deg",
        F.expr(
            "cast(pmod(cast(conv(substring(md5(cast(vertex as string)), 1, 15),"
            " 16, 10) as bigint), 2001) - 1000 as " + _DEC + ")"
        ).alias("x"),
    ).localCheckpoint(eager=True)

    for _ in range(rounds):
        nbr = (
            und.join(x.select(F.col("vertex").alias("d"), "x"), "d")
            .groupBy(F.col("s").alias("vertex"))
            .agg(F.sum("x").cast(_DEC).alias("nsum"))
        )
        y = x.join(nbr, "vertex").select(
            "vertex",
            "deg",
            ((F.lit(c) - F.col("deg")) * F.col("x") + F.col("nsum"))
            .cast(_DEC)
            .alias("y"),
        )
        anchor = y.filter(F.col("vertex") == v0).select(
            F.col("y").alias("y0")
        )
        x = (
            y.crossJoin(F.broadcast(anchor))
            .select(
                "vertex", "deg", (F.col("y") - F.col("y0")).cast(_DEC).alias("x")
            )
            .localCheckpoint(eager=True)
        )
    return und, x, n


def algebraic_connectivity_estimate(
    edges: DataFrame,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One-row ``(lambda2_est double)`` — the Rayleigh quotient of the
    graph Laplacian at the (mean-centered) spectral iterate:

        λ2 ≈ yᵀL y / yᵀy  with  y = n·x − Σx

    (x carries an arbitrary constant offset from anchoring; the
    numerator Σ_{u<v∈E}(y_u−y_v)² is offset-invariant but the
    denominator is not, so center exactly with integers first).  Both
    sums are exact decimal(38,0); only the final division is floating
    point, rounded to 6dp — so the estimate replays bit-for-bit in
    SQL.  An upper bound that tightens toward the true algebraic
    connectivity as ``rounds`` grows; the default 8 keeps the squared
    sums inside the decimal(38) budget for |x| up to ~2^48.
    """
    und, x, n = _fiedler_iterate(
        edges, rounds, src, dst, "algebraic_connectivity_estimate"
    )
    if x is None:
        return edges.sparkSession.createDataFrame([], "lambda2_est double")
    total = x.agg(F.sum("x").cast(_DEC).alias("sx"))
    y = (
        x.crossJoin(F.broadcast(total))
        .select(
            "vertex",
            (F.lit(n) * F.col("x") - F.col("sx")).cast(_DEC).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    num = (
        und.filter(F.col("s") < F.col("d"))
        .join(y.select(F.col("vertex").alias("s"), F.col("y").alias("ys")), "s")
        .join(y.select(F.col("vertex").alias("d"), F.col("y").alias("yd")), "d")
        .agg(
            F.sum(
                ((F.col("ys") - F.col("yd")) * (F.col("ys") - F.col("yd"))).cast(
                    _DEC
                )
            )
            .cast(_DEC)
            .alias("num")
        )
    )
    den = y.agg(
        F.sum((F.col("y") * F.col("y")).cast(_DEC)).cast(_DEC).alias("den")
    )
    return num.crossJoin(den).select(
        F.round(
            F.col("num").cast("double") / F.col("den").cast("double"), 6
        ).alias("lambda2_est")
    )
