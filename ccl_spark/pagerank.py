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

    def step(s: DataFrame, _k: int, prev: dict) -> DataFrame:
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


def katz_centrality(
    edges: DataFrame,
    alpha: float = 1.0 / 16,
    n_iter: int = 4,
    k: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Top-k vertices by truncated Katz centrality (Katz 1953):
    x₀ = 1,  x_{t+1}(v) = 1 + α · Σ_{u→v} x_t(u), i.e. after n_iter
    rounds x(v) = Σ_{ℓ≤n_iter} α^ℓ · (#walks of length ℓ ending at v)
    — the walk-counting cousin of PageRank that rewards being reachable
    by many short paths rather than by random-surfer mass.

    Determinism: ``alpha`` must be a (negative) power of two.  Every
    intermediate is then a dyadic rational that IEEE doubles represent
    exactly, so Spark's unordered partial sums and the SQL oracle's
    sequential sums produce bit-identical values — the same
    powers-of-two trick node2vec uses for its window cumsums.  The
    final (round(x, 6) DESC, vertex ASC) tie-break therefore selects
    identical rows on both engines.

    Execution shape: per round one edge-keyed equi-join against the
    O(|V|) score table and one groupBy sum (map-side partial) — the
    PageRank inner loop without the dangling/teleport bookkeeping.
    Fixed n_iter rounds, no convergence probe, each round's state
    localCheckpoint-ed so plan depth stays O(1).
    """
    import math

    frac = math.log2(1.0 / alpha)
    if frac != int(frac):
        raise ValueError(f"katz_centrality: alpha must be a power of two, got {alpha}")
    e = (
        edges.select(F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.col("s").alias("vertex"))
        .unionByName(e.select(F.col("d").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    x = verts.withColumn("x", F.lit(1.0))
    for _ in range(n_iter):
        contrib = (
            e.join(x.withColumnRenamed("vertex", "s"), "s")
            .groupBy(F.col("d").alias("vertex"))
            .agg(F.sum("x").alias("m"))
        )
        x = (
            verts.join(contrib, "vertex", "left")
            .select(
                "vertex",
                (F.lit(1.0) + F.lit(alpha) * F.coalesce("m", F.lit(0.0))).alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        x.select("vertex", F.round("x", 6).alias("katz"))
        .orderBy(F.desc("katz"), F.asc("vertex"))
        .limit(k)
    )


def ppr_batch(
    edges: DataFrame,
    seeds: list[int],
    damping: float = 0.85,
    n_iter: int = 8,
    k: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Batch personalized PageRank: ONE ranking per seed in a single
    job — ``(seed long, vertex long, rank double)`` top-k rows per
    seed after ``n_iter`` fixed iterations.  This is the related-pages
    / recommendations serving shape (Jeh & Widom 2003 scale the
    single-source case; batching seeds shares every edge scan).

    State is the SPARSE (seed, vertex, rank) table — only vertices a
    seed's probability has reached carry rows, so early iterations
    touch seed neighborhoods, not |seeds|x|V|.  Per iteration: one
    state⋈edges contribution join (keyed on the vertex), one per-seed
    dangling aggregate folded back into the seed (personalized
    teleport), one union + 2-row sum.  Dangling and teleport mass go
    to the owning seed, so each seed's ranking is an independent PPR
    — verified against pagerank(seeds=[s]) per seed in tests.
    Fixed iterations (no convergence probe) keep the sequence
    oracle-replayable; top-k ties break on (rank DESC, vertex)."""
    from pyspark.sql import Window

    e = (
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy(F.col("u").alias("vertex")).agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    ).localCheckpoint(eager=True)
    spark = edges.sparkSession
    seed_df = spark.createDataFrame(
        [(int(s),) for s in seeds], "seed long"
    ).localCheckpoint(eager=True)
    state = seed_df.select(
        "seed", F.col("seed").alias("vertex"), F.lit(1.0).alias("r")
    )
    d = float(damping)
    for _ in range(n_iter):
        dang = (
            state.join(outdeg, "vertex", "left")
            .filter(F.col("deg").isNull())
            .groupBy("seed")
            .agg(F.sum("r").alias("dg"))
        )
        contrib = (
            state.join(outdeg, "vertex")
            .join(e.withColumnRenamed("u", "vertex"), "vertex")
            .groupBy("seed", F.col("v").alias("vertex"))
            .agg(F.sum(F.col("r") / F.col("deg")).alias("c"))
        )
        state = (
            contrib.select("seed", "vertex", (F.lit(d) * F.col("c")).alias("r"))
            .unionByName(
                seed_df.join(dang, "seed", "left").select(
                    "seed",
                    F.col("seed").alias("vertex"),
                    (
                        F.lit(1.0 - d)
                        + F.lit(d) * F.coalesce("dg", F.lit(0.0))
                    ).alias("r"),
                )
            )
            .groupBy("seed", "vertex")
            .agg(F.sum("r").alias("r"))
            .localCheckpoint(eager=True)
        )
    w = Window.partitionBy("seed").orderBy(F.desc("rank"), F.asc("vertex"))
    return (
        state.select("seed", "vertex", F.round("r", 6).alias("rank"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


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


def eigenvector_centrality(
    edges: DataFrame,
    n_iter: int = 4,
    k: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Top-k vertices by truncated eigenvector centrality via
    integer-exact power iteration: x₀ = 1, x_{t+1}(v) = Σ_{u→v}
    x_t(u), so after n_iter rounds x(v) is the exact **count of
    n_iter-step walks ending at v** (a long, no float anywhere in the
    iteration); the centrality score is the single sup-norm
    normalization x / max(x) applied once at the end — one division
    and a round(6), so Spark's unordered partial sums and a SQL
    oracle's sequential sums agree bit-for-bit (the katz/node2vec
    exactness trick applied to the un-damped recurrence).

    Walk counts grow like λ₁^n_iter: int64 holds n·d_max^n_iter, which
    at web scale bounds n_iter ≈ 4-6 for hub degrees in the 10³-10⁴
    range — past that, switch the accumulator to decimal(38,0) or
    rescale by a power of two between rounds (both keep exactness).

    Execution shape per round: one edge-keyed equi-join against the
    O(|V|) count table and one groupBy sum with map-side partials —
    identical to the PageRank inner loop minus teleport bookkeeping;
    each round localCheckpoint-ed so plan depth stays O(1).
    Returns ``(vertex, walks, score)``, top-k by (score DESC, vertex).
    """
    e = (
        edges.select(F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.col("s").alias("vertex"))
        .unionByName(e.select(F.col("d").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    x = verts.withColumn("x", F.lit(1).cast("long"))
    for _ in range(n_iter):
        contrib = (
            e.join(x.withColumnRenamed("vertex", "s"), "s")
            .groupBy(F.col("d").alias("vertex"))
            .agg(F.sum("x").cast("long").alias("m"))
        )
        x = (
            verts.join(contrib, "vertex", "left")
            .select("vertex", F.coalesce("m", F.lit(0)).cast("long").alias("x"))
            .localCheckpoint(eager=True)
        )
    mx = x.agg(F.greatest(F.max("x"), F.lit(1)).alias("mx"))
    return (
        x.crossJoin(F.broadcast(mx))
        .select(
            "vertex",
            F.col("x").alias("walks"),
            F.round(F.col("x") / F.col("mx"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vertex"))
        .limit(k)
    )


def pagerank_residuals(
    edges: DataFrame,
    n_iter: int = 8,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Per-iteration PageRank convergence metrics: ``(iter int,
    residual_micro long, max_delta_micro long)`` — the L1 residual and
    max per-vertex delta of each power iteration, in exact integer
    micro-units (``floor(|r_k(v) - r_{k-1}(v)| * 1e6 + 0.5)`` summed
    as int64, so the metric is order-insensitive: Spark's unordered
    partial sums and a sequential SQL replay agree bit-for-bit).

    This is the convergence-metrics row the superstep harness records
    per checkpoint (superstep.py lineage), surfaced as a first-class
    query: run it on a schedule to pick the iteration budget, or
    compare residual curves across crawl snapshots.  Mirrors
    CCL-style iterate-to-convergence reporting (reference run logs
    expose per-sweep deltas); update arithmetic is the engine's
    weighted update (contrib = r * w / out-weight, dangling and
    teleport mass spread 1/n).

    Execution: one edge⋈rank join + one groupBy per iteration (each
    state eagerly checkpointed so plan depth stays O(1)); the per-
    iteration metric aggregates are DEFERRED 1-row frames unioned and
    collected in ONE job at the end — n_iter driver round-trips become
    one, and driver-side state is n_iter scalar rows, never the rank
    vector.
    """
    if n_iter <= 0:
        raise ValueError("pagerank_residuals: n_iter must be positive")
    w = (
        F.lit(1.0)
        if weight is None
        else F.col(weight).cast("double")
    )
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
            w.alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    spark = edges.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [], "iter int, residual_micro long, max_delta_micro long"
        )
    outdeg = e.groupBy(F.col("src").alias("vertex")).agg(
        F.sum("w").alias("deg")
    ).localCheckpoint(eager=True)
    d = float(damping)
    r = verts.select("vertex", F.lit(1.0 / n).alias("r")).localCheckpoint(
        eager=True
    )
    rows = []
    for k in range(1, n_iter + 1):
        dang = (
            r.join(outdeg, "vertex", "left")
            .where(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dg"))
        )
        contrib = (
            r.join(outdeg, "vertex")
            .join(e.withColumnRenamed("src", "vertex"), "vertex")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(F.sum(F.col("r") * F.col("w") / F.col("deg")).alias("c"))
        )
        r_new = (
            verts.join(contrib, "vertex", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "vertex",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (F.coalesce("c", F.lit(0.0)) + F.col("dg") / n)
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        delta = F.floor(
            F.abs(r_new["r"] - F.col("r_old")) * 1e6 + F.lit(0.5)
        ).cast("long")
        rows.append(
            r_new.join(r.withColumnRenamed("r", "r_old"), "vertex").agg(
                F.lit(k).cast("int").alias("iter"),
                F.sum(delta).alias("residual_micro"),
                F.max(delta).alias("max_delta_micro"),
            )
        )
        r = r_new
    out = rows[0]
    for m in rows[1:]:
        out = out.unionByName(m)
    return out
