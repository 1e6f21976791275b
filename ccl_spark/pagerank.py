"""Power-iteration PageRank with dangling-mass redistribution.

Semantics: damping d (default 0.85), uniform teleport, dangling pages'
rank mass redistributed uniformly each iteration, so sum(rank) == 1 at
every step. Convergence: max per-vertex |delta| < tol (north rule:
per-vertex scores allclose 1e-6 at convergence).

Scale design:
- One augmented edge table is built and checkpointed once per run: every
  distinct (src, dst[, w]) pair plus one self-row (v, v) per vertex.
  The self-rows carry each vertex's own state through the step, so a
  step is one equi-join of that table with the rank state and ONE
  groupBy(dst) that yields every vertex's next state: the summed
  contributions and, from the self-row, its old rank, degree and
  teleport weight. No second join against the state, no in-plan
  scalar aggregate, no cross join.
- The dangling mass is a scalar the loop already observes: it rides the
  step's checkpoint job next to ``delta`` (and the start state's
  checkpoint for the first step), and the next step reads it as a
  literal.
- One iteration per materialization (superstep.run_supersteps). At
  small sizes the planner broadcasts the table, so a step is 3 Spark
  jobs: the broadcast, the aggregate's shuffle map and the checkpoint.
  Bigger graphs, and inputs without a size estimate (rows parallelized
  from a Python list), take a shuffled join feeding the same single
  aggregate, whose map-side partial sums combine a hub's in-links
  before the shuffle. With a SuperstepHarness the ranks persist to
  parquet + lineage rows for mid-algorithm resume.

The reference has no PageRank; this generalizes its per-component
bookkeeping to per-vertex scores per the driver north_star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .superstep import SuperstepHarness, materialize, run_supersteps


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 300,
    vertices: DataFrame | None = None,
    harness: SuperstepHarness | None = None,
    seeds: list[int] | None = None,
    warm_start: DataFrame | None = None,
    weight: str | None = None,
) -> DataFrame:
    """Return ``(vertex long, rank double)``; ranks sum to 1.

    Each iteration is one join of the augmented edge table (see the
    module docstring) with the rank state and one aggregate, checkpointed
    with its ``delta`` and dangling mass observed in the same job.
    ``tol=0`` disables the convergence test and runs exactly
    ``max_iter`` iterations — fixed-iteration mode, used when an
    external oracle must reproduce the identical deterministic
    sequence. With ``tol > 0`` the run stops at the first iteration
    whose max per-vertex |delta| is below ``tol``.

    ``seeds`` switches to PERSONALIZED PageRank (the TrustRank shape):
    teleport and dangling mass go to the seed set uniformly instead of
    to all vertices — rank concentrates around the seeds, vertices
    unreachable from them converge to 0. The uniform path keeps its
    own arithmetic (teleport 1/n, dangling mass / n).

    ``warm_start`` (columns ``vertex, rank``) is INCREMENTAL RANK
    MAINTENANCE (verdict r4 #6): initialize from previously-converged
    ranks — typically of the graph before an edge batch was folded in
    — renormalized to sum 1 over the new vertex set (new vertices
    start at their teleport weight). Power iteration is a contraction
    to the unique fixpoint from any simplex start, so the result
    equals the from-scratch answer within the tolerance contract
    (parity-tested to 1e-6); the win is iteration COUNT — the warm
    iterate starts ~||delta|| from the fixpoint instead of ~1 away.
    Requires ``tol > 0`` (a fixed-iteration warm sequence has no
    oracle twin) and no harness (fold-ins are few-iteration jobs;
    resume pinning would have to pin the warm ranks themselves).

    ``weight`` names a positive edge-weight column and switches to
    WEIGHTED PageRank: a vertex's rank splits over its out-edges
    proportionally to weight (contrib = rank * w / sum-of-out-weights)
    instead of uniformly. This is the host-graph shape — a contracted
    web graph carries link multiplicities, and treating a 10 000-link
    neighbor the same as a 1-link neighbor discards exactly the signal
    the contraction kept. Parallel (src, dst) rows are pre-summed, so
    an uncontracted multigraph works too. Weights must be positive;
    a vertex whose out-weights sum to 0 is treated as dangling.

    ``harness`` checkpoints the rank state and resumes mid-algorithm
    (superstep.run_supersteps); the input edge set and the recurrence
    parameters (damping, seed set) are pinned, so resuming against a
    different graph or recurrence raises. ``tol`` is deliberately NOT
    pinned: it only decides when to stop, so resuming to a tighter
    tolerance is a legitimate continuation of the same recurrence. The
    dangling mass is re-derived from the resumed state, so a resumed
    run continues the same iterate sequence.
    """
    if weight is None:
        pairs = edges.select(
            F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
        ).distinct()
    else:
        pairs = (
            edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
                F.col(weight).cast("double").alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    verts = pairs.select(F.col("src").alias("vertex")).unionByName(
        pairs.select(F.col("dst").alias("vertex"))
    )
    if vertices is not None:
        verts = verts.unionByName(vertices.select(F.col("vertex").cast("long")))
    is_self = F.col("self")
    self_w = [] if weight is None else [F.lit(None).cast("double").alias("w")]
    # the augmented edge table: the distinct pairs plus one self-row per
    # vertex, checkpointed once for the run; the vertex count rides the
    # same job
    aug, m = materialize(
        pairs.withColumn("self", F.lit(False)).unionByName(
            verts.distinct().select(
                F.col("vertex").alias("src"),
                F.col("vertex").alias("dst"),
                *self_w,
                F.lit(True).alias("self"),
            )
        ),
        [F.count(F.when(is_self, 1)).alias("n")],
    )
    n = m["n"]
    if n == 0:
        return aug.select(F.col("src").alias("vertex"), F.lit(0.0).alias("rank"))

    pair_rows = aug.filter(~is_self)
    out_deg = pair_rows.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("deg") if weight is None else F.sum("w").alias("deg")
    )
    # teleport column: uniform 1/n, or 1/|seeds| on the seed set
    if seeds is not None:
        if not seeds:
            raise ValueError("pagerank: seeds must be non-empty when given")
        tele = F.when(
            F.col("vertex").isin(*[int(s) for s in seeds]),
            F.lit(1.0 / len(seeds)),
        ).otherwise(F.lit(0.0))
    else:
        tele = F.lit(1.0 / n)
    state = (
        aug.filter(is_self)
        .select(F.col("src").alias("vertex"))
        .join(out_deg, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            tele.alias("tele"),
            tele.alias("rank"),
        )
    )
    if warm_start is not None:
        if harness is not None:
            raise ValueError(
                "pagerank: warm_start does not support harness resume "
                "(the pin would have to include the warm ranks themselves); "
                "fold-ins are few-iteration jobs — run without a harness"
            )
        if tol <= 0:
            raise ValueError(
                "pagerank: warm_start requires tol > 0 (the warm iterate "
                "sequence has no fixed-iteration oracle twin)"
            )
        ws = warm_start.select(
            F.col("vertex").cast("long").alias("vertex"), F.col("rank").alias("_wr")
        )
        state = state.join(ws, "vertex", "left").select(
            "vertex", "deg", "tele", F.coalesce("_wr", F.col("rank")).alias("rank")
        )
        # renormalize onto the new graph's simplex: dropped vertices'
        # mass vanishes, new vertices enter at teleport weight — one
        # one-time 1-row aggregate, then the plain contraction runs
        tot = state.agg(F.sum("rank")).first()[0]
        if not tot or tot <= 0:
            raise ValueError("pagerank: warm_start ranks sum to zero")
        state = state.withColumn("rank", F.col("rank") / F.lit(float(tot)))

    base = (1.0 - damping) / n
    per_edge = (
        (F.col("rank") / F.col("deg"))
        if weight is None
        else (F.col("rank") * F.col("w") / F.col("deg"))
    )
    dangling = F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(F.lit(0.0)))

    def own(c: str):
        """The self-row's value of state column ``c``."""
        return F.max(F.when(is_self, F.col(c)))

    def step(s: DataFrame, prev: dict) -> DataFrame:
        # prev["dang"] is the dangling mass of ``s``, observed when ``s``
        # was checkpointed. Uniform mode spreads it as dang / n; seeded
        # mode multiplies it by the per-vertex teleport weight.
        contrib = F.coalesce("contrib", F.lit(0.0))
        if seeds is None:
            new_rank = F.lit(base) + F.lit(damping) * (contrib + F.lit(prev["dang"] / n))
        else:
            new_rank = F.lit(1.0 - damping) * F.col("tele") + F.lit(damping) * (
                contrib + F.lit(prev["dang"]) * F.col("tele")
            )
        return (
            aug.join(s.withColumnRenamed("vertex", "src"), "src")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(
                F.sum(F.when(~is_self, per_edge)).alias("contrib"),
                own("rank").alias("old"),
                own("deg").alias("deg"),
                own("tele").alias("tele"),
            )
            .select("vertex", "deg", "tele", "old", new_rank.alias("rank"))
        )

    sig_cols = ("src", "dst") if weight is None else ("src", "dst", "w")
    seeds_str = "" if seeds is None else ",".join(str(int(s)) for s in seeds)
    ranks = run_supersteps(
        "pagerank",
        state,
        step,
        columns=("vertex", "deg", "tele", "rank"),
        max_iter=max_iter,
        metrics=[
            F.max(F.abs(F.col("rank") - F.col("old"))).alias("delta"),
            dangling.alias("dang"),
        ],
        start_metrics=[dangling.alias("dang")],
        stop=lambda m, _prev: tol > 0 and m["delta"] < tol,
        harness=harness,
        pin=(pair_rows, sig_cols, f"damping/seeds={float(damping)}/{seeds_str}"),
        exhausted=None
        if tol == 0
        else f"pagerank: no convergence to {tol} in {max_iter} iterations",
    )
    return ranks.select("vertex", "rank")


def spam_mass(
    edges: DataFrame,
    trusted: list[int],
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """Relative spam mass (Gyöngyi, Garcia-Molina & Pedersen, VLDB
    2004 "Combating Web Spam with TrustRank"; spam-mass form per
    Gyöngyi et al. 2006): run uniform PageRank and TrustRank —
    personalized PageRank teleporting to the ``trusted`` seed set —
    then score every page by how much of its rank is NOT accounted
    for by trust flow::

        spam_mass(v) = (pr(v) - tr(v)) / pr(v)

    Both vectors sum to 1 (the engine normalizes dangling mass into
    the teleport), so they are directly comparable.  Near 0 ⇒ rank
    reachable from the trusted core; near 1 ⇒ rank manufactured
    outside it (link-farm shape); negative ⇒ trust flow exceeds
    uniform rank (the trusted core itself).  ``pr`` is strictly positive
    (uniform teleport floor), so the division is total.

    Two independent fixed-iteration power runs: each builds and
    checkpoints its own augmented edge table and shares nothing with
    the other, so the edge side is read and shuffled twice.  The ratio
    is taken on the UNROUNDED ranks (a 6dp pre-round would zero out
    small ranks on big graphs and 0/0 the ratio); reported columns
    round to 6dp.

    Returns ``(vertex long, pr double, tr double, spam_mass double)``.
    """
    pr = pagerank(edges, src=src, dst=dst, damping=damping, tol=0.0, max_iter=n_iter)
    tr = pagerank(
        edges,
        src=src,
        dst=dst,
        damping=damping,
        tol=0.0,
        max_iter=n_iter,
        seeds=list(trusted),
    )
    prr = pr.select("vertex", F.col("rank").alias("pr_raw"))
    trr = tr.select("vertex", F.col("rank").alias("tr_raw"))
    return prr.join(trr, "vertex").select(
        "vertex",
        F.round("pr_raw", 6).alias("pr"),
        F.round("tr_raw", 6).alias("tr"),
        F.round(
            (F.col("pr_raw") - F.col("tr_raw")) / F.col("pr_raw"), 6
        ).alias("spam_mass"),
    )
