"""HITS (Kleinberg hubs & authorities) by power iteration.

Per iteration: authority(v) = sum of hub over in-neighbors, then
L2-normalize; hub(u) = sum of authority over out-neighbors, then
L2-normalize.

Scale shape: the edge table is checkpointed once for the run, and
``iters_per_check=2`` fuses two full iterations per materialization,
so the edge-relation exchanges inside a job are shared by Catalyst's
ReusedExchange instead of being paid per iteration (6.8M edges, 10
iters: 75s -> 61s; k=3's plan depth erodes the gain back to 71s).
Each half-step is one equi-join + one map-side-combined groupBy sum;
the normalization scalar is a 1-row aggregate broadcast into the plan.

Iterations run in the shared superstep loop (superstep.run_supersteps).
Fixed-iteration mode (tol=0) replays a deterministic sequence, which
is what the driver-gate's chained-CTE oracle reproduces (block fusion
never changes the arithmetic or the iteration count); in that mode no
delta is measured at all — each block is one eager checkpoint. With
``tol > 0`` the max change over the block rides the same job, so
convergence may overshoot by up to k-1 iterations — never stop early.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .superstep import SuperstepHarness, run_supersteps


def _normalized(scores: DataFrame, col: str) -> DataFrame:
    nrm = scores.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n"))
    return scores.crossJoin(F.broadcast(nrm)).select(
        "vertex",
        F.when(F.col("_n") > 0, F.col(col) / F.col("_n"))
        .otherwise(F.lit(0.0))
        .alias(col),
    )


def _half_step(
    e: DataFrame, scores: DataFrame, verts: DataFrame, key: str, to: str, col: str, out: str
) -> DataFrame:
    """``out`` = normalized sum of ``col`` carried from each edge's
    ``key`` endpoint to its ``to`` endpoint."""
    raw = (
        e.join(scores.select(F.col("vertex").alias(key), col), key)
        .groupBy(F.col(to).alias("vertex"))
        .agg(F.sum(col).alias(out))
    )
    return _normalized(
        verts.join(raw, "vertex", "left").select(
            "vertex", F.coalesce(out, F.lit(0.0)).alias(out)
        ),
        out,
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    tol: float = 0.0,
    iters_per_check: int = 2,
    harness: SuperstepHarness | None = None,
) -> DataFrame:
    """Return ``(vertex long, hub double, authority double)``, both
    scores L2-normalized. ``tol > 0`` stops early when the max
    per-vertex change of both scores drops below it (checked once per
    fused block). ``harness`` checkpoints per-block state + lineage and
    resumes mid-algorithm (the deterministic iteration sequence makes a
    resumed run equal an uninterrupted one). Only the edge set is
    pinned: ``iters_per_check`` never changes the iterate sequence,
    and ``tol`` only decides when to stop."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def iterations(s: DataFrame, k: int, _prev: dict) -> DataFrame:
        out = s
        for _ in range(k):
            auth = _half_step(e, out, verts, "src", "dst", "hub", "authority")
            hub = _half_step(e, auth, verts, "dst", "src", "authority", "hub")
            out = out.select("vertex").join(hub, "vertex").join(auth, "vertex")
        if tol > 0:
            out = s.select(
                "vertex",
                F.col("hub").alias("old_hub"),
                F.col("authority").alias("old_authority"),
            ).join(out, "vertex")
        return out

    delta = F.max(
        F.greatest(
            F.abs(F.col("hub") - F.col("old_hub")),
            F.abs(F.col("authority") - F.col("old_authority")),
        )
    ).alias("delta")
    # init all-ones; the in-iteration normalization makes the sequence
    # of NORMALIZED scores independent of the initial scaling
    return run_supersteps(
        "hits",
        verts.select("vertex", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")),
        iterations,
        columns=("vertex", "hub", "authority"),
        max_iter=max_iter,
        per_block=max(int(iters_per_check), 1),
        metrics=[delta] if tol > 0 else [],
        stop=lambda m, _prev: tol > 0 and m["delta"] is not None and m["delta"] < tol,
        harness=harness,
        pin=(e, ("src", "dst"), ""),
    )


def salsa(
    edges: DataFrame,
    max_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """SALSA hub/authority scores (Lempel & Moran 2000): power
    iteration of the two bipartite random-walk chains.

    Authority chain: from authority k step back to a uniform
    in-neighbor i, then forward to a uniform out-neighbor of i; the
    hub chain is the mirror image.  Each iteration is therefore two
    edge-keyed equi-joins with degree division — the same
    one-exchange-per-hop shape as PageRank, never materializing the
    quadratic A^T·A.  Both chains start uniform and preserve total
    mass exactly, so the final normalization divides by the exact
    integer node count (bit-identical across engines) rather than a
    float sum.

    Returns ``(vertex, authority, hub)`` rounded to 6dp; vertices
    missing from a chain (no in-links / no out-links) carry 0.0.
    ``max_iter`` is a fixed iteration count — the chains converge
    geometrically and the oracle replays the identical rounds.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    od = e.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    idg = e.groupBy("d").agg(F.count(F.lit(1)).alias("idg"))

    # ---- authority chain ----
    a = idg.select(F.col("d").alias("v"), F.lit(1.0).alias("a"))
    for _ in range(max_iter):
        back = (
            e.join(idg, "d")
            .join(a, e["d"] == F.col("v"))
            .groupBy("s")
            .agg(F.sum(F.col("a") / F.col("idg")).alias("m"))
        )
        a = (
            e.join(od, "s")
            .join(back, "s")
            .groupBy(e["d"])
            .agg(F.sum(F.col("m") / F.col("od")).alias("a"))
            .select(F.col("d").alias("v"), "a")
            .localCheckpoint(eager=True)
        )

    # ---- hub chain (mirror) ----
    h = od.select(F.col("s").alias("v"), F.lit(1.0).alias("h"))
    for _ in range(max_iter):
        fwd = (
            e.join(od, "s")
            .join(h, e["s"] == F.col("v"))
            .groupBy("d")
            .agg(F.sum(F.col("h") / F.col("od")).alias("m"))
        )
        h = (
            e.join(idg, "d")
            .join(fwd, "d")
            .groupBy(e["s"])
            .agg(F.sum(F.col("m") / F.col("idg")).alias("h"))
            .select(F.col("s").alias("v"), "h")
            .localCheckpoint(eager=True)
        )

    n_a = idg.agg(F.count(F.lit(1)).alias("n_a"))
    n_h = od.agg(F.count(F.lit(1)).alias("n_h"))
    a_norm = a.crossJoin(F.broadcast(n_a)).select(
        "v", (F.col("a") / F.col("n_a")).alias("a")
    )
    h_norm = h.crossJoin(F.broadcast(n_h)).select(
        "v", (F.col("h") / F.col("n_h")).alias("h")
    )
    return (
        a_norm.join(h_norm, "v", "full_outer")
        .select(
            F.col("v").alias("vertex"),
            F.round(F.coalesce("a", F.lit(0.0)), 6).alias("authority"),
            F.round(F.coalesce("h", F.lit(0.0)), 6).alias("hub"),
        )
    )
