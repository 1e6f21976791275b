"""Strongly connected components (directed) — the web bow-tie
decomposition (Broder et al., "Graph structure in the Web"): the giant
SCC is the web's core, and IN/OUT/tendrils hang off it.

Algorithm: iterative TRIM + forward-backward coloring, the standard
distributed SCC recipe (FW-BW-Trim; Slota et al., Orzan's coloring —
both public):

1. TRIM: a vertex with no in-edges or no out-edges (within the
   remaining graph) cannot sit on a directed cycle, so it is a
   singleton SCC; remove and repeat. This peels trees/paths in cheap
   rounds (one job each: the edge set is filtered to endpoints that
   have BOTH an in- and an out-edge, so isolated vertices fall out as
   "not an endpoint" with no per-vertex bookkeeping) and is what keeps
   the phase count low on web-shaped graphs. Trim terminates
   unconditionally: the edge count strictly decreases every round
   until the fixpoint round breaks the loop.
2. COLOR: propagate the minimum vertex id FORWARD to a fixpoint —
   color(v) = min id that can reach v. Each color class has one root
   r (color(r) == r).
3. CONFIRM: grow the set that can reach its root BACKWARD through
   same-color vertices; the grown set of color r is exactly SCC(r)
   (classic FW∩BW argument restricted to the color class).
4. Extract confirmed SCCs, remove their vertices, repeat from 1.

COLOR and CONFIRM are monotone fixpoints (labels only decrease / the
grown set only grows), so they are guaranteed to converge in at most
|V| rounds; they run with an effectively unbounded round budget and
RAISE if a generous backstop is ever exhausted (ADVICE r4: the old
max_iter-bounded loops silently fell through with a partial coloring,
mislabeling any SCC whose diameter exceeded the budget). ``max_iter``
bounds the number of OUTER phases only; every phase extracts at least
its color roots, so phases ≤ |V| and exhaustion raises.

Extracted batches fold into ONE checkpointed accumulator per phase
(not a per-trim-round plan union), so the final plan width is
O(phases) regardless of trim depth — a 10k-vertex path peels in ~5k
trim rounds but the label plan stays flat (ADVICE/verdict r4).

With a ``SuperstepHarness`` the accumulated ``(vertex, component)``
labels are persisted once per phase; a killed run resumes at the next
phase by anti-joining the remaining graph from the input (the
accumulator fully determines the remainder), guarded by the same
order-free edge signature pin as pagerank/hits/lpa resume.

Everything is DataFrame joins/aggregates with per-round
localCheckpoint; labels are canonical minimum member ids, so output is
deterministic at any parallelism and the driver gate checks it against
a DuckDB transitive-closure oracle (mutual reachability).

Scale shape: each trim round is one degree-aggregate + two semi-joins
materialized by a single count job; each color/confirm round is one
equi-join + one min-aggregate over the REMAINING edge set (which only
shrinks). Rounds are O(diameter) like PageRank's iterations; phases
are O(#SCC-diameter of the condensation) after trimming, small on web
graphs whose mass sits in one giant SCC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .superstep import (
    SuperstepHarness,
    edge_signature,
    materialize,
    pin_input_signature,
    signature_columns,
)

# backstop for the monotone inner fixpoints — convergence is guaranteed
# in <= |V| rounds, so hitting this means a logic bug, not a big graph
_INNER_BACKSTOP = 1_000_000


def _trim_fixpoint(e: DataFrame, n_edges: int) -> tuple[DataFrame, int]:
    """Filter ``e`` down to its directed (1,1)-core: the maximal
    subgraph where every vertex keeps at least one in- AND one
    out-edge. Everything peeled is acyclic fringe — singleton SCCs.
    One count job per peel level; terminates unconditionally (the edge
    count strictly decreases until the fixpoint round)."""
    while True:
        flat = e.select(
            F.col("u").alias("x"), F.lit(1).alias("o"), F.lit(0).alias("i")
        ).unionAll(e.select(F.col("v").alias("x"), F.lit(0).alias("o"), F.lit(1).alias("i")))
        cyc = (
            flat.groupBy("x")
            .agg(F.max("o").alias("o"), F.max("i").alias("i"))
            .filter((F.col("o") == 1) & (F.col("i") == 1))
            .select("x")
        )
        nxt = (
            e.join(cyc.select(F.col("x").alias("u")), "u", "left_semi")
            .join(cyc.select(F.col("x").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        n2 = nxt.count()  # materializes the lazy checkpoint — one job/round
        e = nxt
        if n2 == n_edges:
            return e, n2
        n_edges = n2


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    harness: SuperstepHarness | None = None,
) -> DataFrame:
    """Return ``(vertex long, component long)`` where ``component`` is
    the minimum vertex id of the vertex's strongly connected component
    (singletons label themselves). ``max_iter`` bounds outer phases
    (each extracts >= 1 SCC); exhaustion raises. ``harness`` persists
    the label accumulator once per phase and resumes a killed run
    mid-algorithm (same contract as cc/pagerank/lpa/hits)."""
    e0 = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts0 = (
        edges.select(F.col(src).cast("long").alias("vertex"))
        .unionByName(edges.select(F.col(dst).cast("long").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    done: DataFrame | None = None  # accumulated (vertex, component)
    verts, e = verts0, e0
    n_edges = e0.count()
    phase0 = 0
    if harness is not None:
        resumed = harness.latest()
        pin_input_signature(harness, resumed, edge_signature(e0, "u", "v"), "", "scc")
        if resumed is not None:
            phase0 = resumed[0]
            done = resumed[1].select("vertex", "component").localCheckpoint(eager=True)
            # the accumulator fully determines the remainder: extracted
            # SCCs never share an edge with a future SCC, so anti-join
            # recovers the exact remaining subproblem
            verts = verts0.join(done.select("vertex"), "vertex", "left_anti").localCheckpoint(
                eager=True
            )
            e = (
                e0.join(verts.select(F.col("vertex").alias("u")), "u", "left_semi")
                .join(verts.select(F.col("vertex").alias("v")), "v", "left_semi")
                .localCheckpoint(eager=True)
            )
            n_edges = e.count()

    converged = verts0.isEmpty() or (done is not None and verts.isEmpty())
    for phase in range(phase0, max_iter if not converged else phase0):
        t0 = harness.timer() if harness is not None else None
        # ---- TRIM: peel the acyclic fringe as singleton SCCs ----
        e, n_edges = _trim_fixpoint(e, n_edges)
        if n_edges == 0:
            # nothing cyclic remains: every remaining vertex is a singleton
            batch = verts.select("vertex", F.col("vertex").alias("component"))
            done = (
                batch if done is None else done.unionByName(batch)
            ).localCheckpoint(eager=True)
            if harness is not None:
                harness.record(superstep=phase, df=done, changed=0, delta=0.0, timer=t0)
            converged = True
            break
        survivors = (
            e.select(F.col("u").alias("vertex"))
            .unionByName(e.select(F.col("v").alias("vertex")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        trimmed = verts.join(survivors, "vertex", "left_anti").select(
            "vertex", F.col("vertex").alias("component")
        )
        verts = survivors

        # ---- COLOR: forward min-id propagation to fixpoint ----
        # each round's count+xor signature rides its own checkpoint job
        sig_cols = signature_columns(("vertex", "c"))
        color, sig = materialize(
            verts.select("vertex", F.col("vertex").alias("c")), sig_cols
        )
        for _ in range(_INNER_BACKSTOP):
            incoming = (
                e.join(color.select(F.col("vertex").alias("u"), "c"), "u")
                .groupBy(F.col("v").alias("vertex"))
                .agg(F.min("c").alias("inc"))
            )
            color, new_sig = materialize(
                color.join(incoming, "vertex", "left").select(
                    "vertex", F.least("c", F.coalesce("inc", "c")).alias("c")
                ),
                sig_cols,
            )
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"scc: COLOR fixpoint not reached in {_INNER_BACKSTOP} rounds"
            )

        # ---- CONFIRM: backward reachability to the root, same color ----
        ec = (
            e.join(color.select(F.col("vertex").alias("u"), F.col("c").alias("cu")), "u")
            .join(color.select(F.col("vertex").alias("v"), F.col("c").alias("cv")), "v")
            .filter(F.col("cu") == F.col("cv"))
            .select("u", "v")
            .localCheckpoint(eager=True)
        )  # edges inside one color class
        inset = color.filter(F.col("vertex") == F.col("c")).select(
            "vertex"
        )  # the roots
        inset = inset.localCheckpoint(eager=True)
        n_in = inset.count()
        for _ in range(_INNER_BACKSTOP):
            grown = (
                ec.join(inset.select(F.col("vertex").alias("v")), "v", "left_semi")
                .select(F.col("u").alias("vertex"))
                .unionByName(inset)
                .distinct()
                .localCheckpoint(eager=False)
            )
            n2 = grown.count()
            inset = grown
            if n2 == n_in:
                break
            n_in = n2
        else:
            raise RuntimeError(
                f"scc: CONFIRM fixpoint not reached in {_INNER_BACKSTOP} rounds"
            )

        scc = color.join(inset, "vertex", "left_semi").select(
            "vertex", F.col("c").alias("component")
        )
        # fold this phase's extractions into ONE checkpointed
        # accumulator — the plan width stays O(1) per phase no matter
        # how deep the trim peel went
        batch = trimmed.unionByName(scc)
        done = (batch if done is None else done.unionByName(batch)).localCheckpoint(
            eager=True
        )
        if harness is not None:
            harness.record(superstep=phase, df=done, changed=-1, delta=0.0, timer=t0)
        verts = verts.join(done.select("vertex"), "vertex", "left_anti").localCheckpoint(
            eager=True
        )
        if verts.isEmpty():
            converged = True
            break
        e = (
            e.join(verts.select(F.col("vertex").alias("u")), "u", "left_semi")
            .join(verts.select(F.col("vertex").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        n_edges = e.count()
    if not converged:
        raise RuntimeError(f"scc: not done in {max_iter} phases")

    if done is None:  # no vertices at all
        return verts0.select("vertex", F.col("vertex").alias("component"))
    return done


def _closure(e: DataFrame, seed: DataFrame, direction: str, max_iter: int) -> DataFrame:
    """Reachability closure of ``seed`` (column ``vertex``) over
    directed edges: 'forward' = vertices reachable FROM the seed,
    'backward' = vertices that can REACH it. Count-fixpoint loop of
    semi-join rounds (each round one equi-join over the edge table —
    O(diameter) rounds, the same bound as PageRank iterations)."""
    grown = seed.select("vertex").localCheckpoint(eager=True)
    n = grown.count()
    for _ in range(max_iter):
        if direction == "forward":
            step = e.join(
                grown.select(F.col("vertex").alias("u")), "u", "left_semi"
            ).select(F.col("v").alias("vertex"))
        else:
            step = e.join(
                grown.select(F.col("vertex").alias("v")), "v", "left_semi"
            ).select(F.col("u").alias("vertex"))
        nxt = grown.unionByName(step).distinct().localCheckpoint(eager=True)
        n2 = nxt.count()
        grown = nxt
        if n2 == n:
            return grown
        n = n2
    raise RuntimeError(f"closure: no fixpoint in {max_iter} rounds")


def bowtie(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al.):
    ``(vertex, region)`` with region in {'core', 'in', 'out', 'other'}
    — core = the LARGEST strongly connected component (ties broken by
    smallest label), 'in' = can reach the core, 'out' = reachable from
    the core, 'other' = tendrils + disconnected mass. Composes
    strongly_connected_components with two reachability closures;
    pass precomputed ``labels`` (``vertex, component`` for the SAME
    edge table) to skip the SCC phase — the shape a pipeline that
    already materialized SCC labels uses."""
    if labels is None:
        labels = strongly_connected_components(edges, src, dst, max_iter=max_iter)
    labels = labels.localCheckpoint(eager=True)
    core_row = (
        labels.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("component"))
        .first()
    )
    core = labels.filter(F.col("component") == core_row["component"]).select("vertex")
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out_set = _closure(e, core, "forward", max_iter)
    in_set = _closure(e, core, "backward", max_iter)
    return (
        labels.join(in_set.select("vertex", F.lit(1).alias("_in")), "vertex", "left")
        .join(out_set.select("vertex", F.lit(1).alias("_out")), "vertex", "left")
        .select(
            "vertex",
            F.when(F.col("component") == core_row["component"], F.lit("core"))
            .when(F.col("_in") == 1, F.lit("in"))
            .when(F.col("_out") == 1, F.lit("out"))
            .otherwise(F.lit("other"))
            .alias("region"),
        )
    )


def condensation_levels(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    labels: DataFrame | None = None,
) -> DataFrame:
    """``(component long, level long)`` — the SCC condensation DAG
    with each component's longest-path depth from the DAG's sources
    (level 0 = components with no incoming cross-component edge).
    This is the topological layering of a web graph: level orders the
    crawl/propagation frontier, and max(level) is the condensation
    depth that bounds every reachability fixpoint in this module.

    Evaluation is level-synchronous longest-path: a component resolves
    once ALL its predecessors are resolved, at 1 + max(pred level) —
    O(DAG depth) rounds, each one equi-join + one aggregate over the
    O(#components) condensation table (tiny next to the vertex set).
    Pass precomputed ``labels`` to skip the SCC phase.  Raises if the
    fixpoint does not resolve every component (impossible on a true
    DAG; guards a broken labels input with a cycle).
    """
    if labels is None:
        labels = strongly_connected_components(edges, src, dst, max_iter=max_iter)
    labels = labels.localCheckpoint(eager=True)
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    lab_u = labels.select(F.col("vertex").alias("u"), F.col("component").alias("cs"))
    lab_v = labels.select(F.col("vertex").alias("v"), F.col("component").alias("cd"))
    ce = (
        e.join(lab_u, "u")
        .join(lab_v, "v")
        .filter(F.col("cs") != F.col("cd"))
        .select(F.col("cs").alias("s"), F.col("cd").alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    comps = labels.select(F.col("component")).distinct().localCheckpoint(eager=True)
    n_pred = ce.groupBy(F.col("d").alias("component")).agg(
        F.count(F.lit(1)).alias("np")
    )
    resolved = (
        comps.join(n_pred, "component", "left_anti")
        .select("component", F.lit(0).cast("long").alias("level"))
        .localCheckpoint(eager=True)
    )
    n_total = comps.count()
    n_res = resolved.count()
    for _ in range(max_iter):
        if n_res == n_total:
            return resolved
        ready = (
            ce.join(
                resolved.select(F.col("component").alias("s"), "level"), "s"
            )
            .groupBy(F.col("d").alias("component"))
            .agg(
                F.count(F.lit(1)).alias("nr"),
                (F.max("level") + F.lit(1)).cast("long").alias("level"),
            )
            .join(n_pred, "component")
            .filter(F.col("nr") == F.col("np"))
            .join(resolved.select("component"), "component", "left_anti")
            .select("component", "level")
        )
        resolved = resolved.unionByName(ready).localCheckpoint(eager=True)
        n2 = resolved.count()
        if n2 == n_res:
            raise RuntimeError("condensation_levels: stuck (cycle in labels input?)")
        n_res = n2
    raise RuntimeError(f"condensation_levels: no fixpoint in {max_iter} rounds")
