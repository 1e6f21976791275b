"""Synchronous label propagation (community detection).

Every vertex starts with its own id; each superstep all vertices adopt
the most frequent label among their neighbors simultaneously, with a
deterministic tie-break (smallest label) so output is identical at any
parallelism — the no-order-dependence discipline the reference's
sequential numbering forced is kept here by construction.

Per superstep: one join (labels onto the undirected neighbor table) +
one (u, label) count aggregation + one per-vertex min_by argmax — all
JVM-side hash aggregates with map-side partials, no sort. The
neighbor table is checkpointed once for the run. Rounds run in the
shared superstep loop (superstep.run_supersteps): one eager checkpoint
per round, with the changed-label count observed in the same job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .superstep import SuperstepHarness, run_supersteps


def _round(nbrs: DataFrame, score: Column):
    """Step plan of one synchronous round over the neighbor table
    ``(u, v[, w])``: every vertex adopts the label of its neighbors
    with the highest ``score`` aggregate (ties: smallest label)."""

    def round_plan(cur: DataFrame, _prev: dict) -> DataFrame:
        counts = (
            nbrs.join(cur, nbrs.v == cur.vertex)
            .groupBy("u", "label")
            .agg(score.alias("cnt"))
        )
        # argmax by (cnt DESC, label ASC) as a hash aggregate with
        # map-side partials instead of a row_number window — same
        # deterministic winner, no per-round sort (negating cnt, not
        # label: label ids are xxhash64 longs where Long.MIN_VALUE
        # would overflow under ANSI negation)
        best = counts.groupBy(F.col("u").alias("vertex")).agg(
            F.min_by("label", F.struct((-F.col("cnt")).alias("nc"), "label"))
            .alias("new_label")
        )
        return cur.join(best, "vertex", "left").select(
            "vertex",
            F.coalesce("new_label", "label").alias("label"),
            (F.coalesce("new_label", "label") != F.col("label")).alias("chg"),
        )

    return round_plan


def _until_no_change() -> dict:
    """Loop settings both variants share: labels in, labels out, stop
    at the first round that changes no label."""
    return dict(
        columns=("vertex", "label"),
        metrics=[F.count(F.when(F.col("chg"), 1)).alias("changed")],
        stop=lambda m, _prev: m["changed"] == 0,
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
    vertices: DataFrame | None = None,
    harness: SuperstepHarness | None = None,
) -> DataFrame:
    """Return ``(vertex long, label long)`` after at most ``max_iter``
    synchronous rounds (stops early when no label changes).

    ``harness`` checkpoints the labels every ``interval``-th round and
    resumes mid-algorithm: synchronous rounds are deterministic, so
    resuming from round t replays the identical label sequence a full
    run produces. Only the edge set is pinned."""
    pairs = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    nbrs = (
        pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = pairs.select(F.col("u").alias("vertex")).unionByName(
        pairs.select(F.col("v").alias("vertex"))
    )
    if vertices is not None:
        verts = verts.unionByName(vertices.select(F.col("vertex").cast("long")))
    verts = verts.distinct().localCheckpoint(eager=True)

    return run_supersteps(
        "lpa",
        verts.select("vertex", F.col("vertex").alias("label")),
        _round(nbrs, F.count(F.lit(1))),
        max_iter=max_iter,
        harness=harness,
        pin=(pairs, ("u", "v"), ""),
        **_until_no_change(),
    )


def weighted_label_propagation(
    edges: DataFrame,
    weight: str,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 5,
) -> DataFrame:
    """Synchronous WEIGHTED label propagation: each round a vertex
    adopts the label with the largest summed incident edge weight
    (weight-sum DESC, label ASC tie-break) — the variant used when
    link multiplicity or anchor quality should count, not just link
    existence.

    Multi-edges collapse by summing weights per undirected pair, and
    weights are cast to long — INTEGER weights make every per-label
    sum exact, so the synchronous sequence replays bit-identically in
    the chained-CTE oracle at any parallelism (the SSSP/louvain
    integer-exactness discipline).  Same per-round shape as
    :func:`label_propagation`: one join onto the pinned neighbor
    table + one count aggregate + one min_by argmax aggregate.  Stops
    early at a fixpoint
    (further rounds are identity, so a fixed-iteration oracle
    agrees).
    """
    pairs = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        F.col(weight).cast("long").alias("w"),
    )
    sym = (
        pairs.unionByName(
            pairs.select(
                F.col("v").alias("u"), F.col("u").alias("v"), F.col("w")
            )
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    nbrs = sym.localCheckpoint(eager=True)
    verts = (
        pairs.select(F.col("u").alias("vertex"))
        .unionByName(pairs.select(F.col("v").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return run_supersteps(
        "weighted_lpa",
        verts.select("vertex", F.col("vertex").alias("label")),
        _round(nbrs, F.sum("w")),
        max_iter=max_iter,
        **_until_no_change(),
    )
