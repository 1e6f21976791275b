"""Connected components via alternating large-star / small-star.

Implements the alternating star algorithm of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SoCC'14): each round
rewrites the edge set so every node points closer to its component
minimum; the fixpoint is a star forest (child -> component-min root).
Rounds are O(log n) on power-law graphs, each round a constant number
of shuffles, which is what makes this the right primitive at 10^12-edge
scale (vs. O(diameter) min-label flooding).

This generalizes the reference's equivalence-closure machinery:
/root/reference/ccl2d.py:166-191 (single-pass pair compression) and
/root/reference/ccl_marker_stack.py:484-530 (O(n^2) merge/fork closure
loop) are both replaced by the same distributed fixpoint.

Scale notes (local tests are small; the plan is what matters):
- Edges are canonicalized once; every round is `groupBy(min)` +
  equi-join, both AQE-managed. Skewed hubs are exactly the nodes that
  become roots fastest, so the star rewrite self-heals skew; AQE
  skew-join splitting covers the first rounds.
- Rounds run in the shared superstep loop (superstep.run_supersteps):
  one eager `localCheckpoint` per round truncates the logical plan
  (iterative self-join lineage otherwise grows unboundedly) and carries
  the round's count+xor convergence signature in the same job.
- With a `SuperstepHarness` the per-round edge set is persisted to
  parquet with lineage rows, so a killed run resumes mid-algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .superstep import SuperstepHarness, run_supersteps, signature_columns


def _dedup_pairs(df: DataFrame) -> DataFrame:
    return df.filter(F.col("u") != F.col("v")).distinct()


def large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u}).

    The input is a distinct canonical (hi, lo) set, so the
    both-directions neighbor view needs no dedup; Catalyst reuses the
    groupBy exchange for the join side. Output pairs always satisfy
    u > v (v > center >= min), so the result is already in canonical
    (hi, lo) orientation.
    """
    nbrs = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    out = (
        nbrs.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v"))


def small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u) to their min.

    The input has u > v on every pair (true for large_star output);
    returns the canonical distinct (hi, lo) edge set of the next round.
    """
    canon = _dedup_pairs(edges)
    mins = canon.groupBy("u").agg(F.min("v").alias("m"))
    lo = canon.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    hi = mins.select(F.col("u"), F.col("m").alias("v"))
    return _dedup_pairs(lo.unionByName(hi))


def _local_contract(pairs: DataFrame) -> DataFrame:
    """Per-partition connected components (no shuffle), vectorized.

    Each partition's subgraph is solved locally in numpy —
    Shiloach-Vishkin-style: alternate a vectorized min-hook
    (``np.minimum.at`` scatter of the edge-wise min onto both
    endpoints) with pointer-doubling compression (``lab = lab[lab]``),
    O(E) work per pass and O(log V) passes, no Python per-edge loop —
    then emits the local star forest as pointer rows
    (vertex -> local min representative). A vertex split across
    partitions gets different local reps; the local finish's second
    pass over one partition joins those pieces. This is the
    reference's 'label segments independently, then reconcile' plan
    (ccl_marker_stack.py:1678-1685).
    """
    import pandas as pd

    def contract(pdf_iter):
        import numpy as np

        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            return
        u = np.concatenate([p["u"].to_numpy(np.int64) for p in parts])
        v = np.concatenate([p["v"].to_numpy(np.int64) for p in parts])
        ptr_u, ptr_v = _numpy_cc_pointers(u, v)
        if len(ptr_u) == 0:
            return  # only self-loops: no connectivity to contribute
        yield pd.DataFrame({"u": ptr_u, "v": ptr_v})

    return pairs.mapInPandas(contract, schema="u long, v long")


def _numpy_cc_pointers(u, v):
    """Vectorized local CC on int64 edge arrays: returns the star
    forest (vertex, min-representative) as two arrays, self-pointers
    omitted. Shared by _local_contract and the CSR ingest path."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    lu, lv = inv[: len(u)], inv[len(u):]
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        before = lab.copy()
        m = np.minimum(lab[lu], lab[lv])
        np.minimum.at(lab, lu, m)
        np.minimum.at(lab, lv, m)
        while True:  # full path compression
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab, before):
            break
    rep = ids[lab]
    mask = rep != ids
    return ids[mask], rep[mask]


def connected_components_from_csr(
    csr: DataFrame,
    vertices: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Connected components ingesting per-partition CSR blocks
    (edges.csr_blocks) directly: each block's adjacency is solved
    locally by streaming the numpy CSR arrays — no per-edge row
    deserialization — and only the pointer star forests enter the
    global fixpoint. This is the CSR blocks' consuming superstep: the
    local half runs on the packed arrays, the shuffle half on the
    (much smaller) pointer rows."""
    import numpy as np
    import pandas as pd

    def local(pdf_iter):
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():
                src_ids = np.frombuffer(row["src_ids"], dtype=np.int64)
                indptr = np.frombuffer(row["indptr"], dtype=np.int64)
                dst = np.frombuffer(row["dst_ids"], dtype=np.int64)
                src = np.repeat(src_ids, np.diff(indptr))
                ptr_u, ptr_v = _numpy_cc_pointers(src, dst)
                if len(ptr_u):
                    yield pd.DataFrame({"u": ptr_u, "v": ptr_v})
                # self rows carry every block vertex into the global
                # vertex set, so a vertex whose only edges are
                # intra-block self-loops (no pointer rows) still gets
                # labeled when vertices=None (ADVICE r2). They are
                # dropped from the edge set by the canonical dedup;
                # cost is |V_block| extra rows in the first shuffle.
                ids = np.unique(np.concatenate([src_ids, dst]))
                if len(ids):
                    yield pd.DataFrame({"u": ids, "v": ids})

    pointers = csr.mapInPandas(local, schema="u long, v long")
    return connected_components(pointers, "u", "v", vertices=vertices, **kwargs)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    max_iter: int = 60,
    harness: SuperstepHarness | None = None,
    local_finish_threshold: int = 4_000_000,
) -> DataFrame:
    """Return ``(vertex long, component long)``.

    ``component`` is the canonical minimum vertex id of the component —
    order-free and deterministic at any parallelism, which is what lets
    local[8] and local[32] produce identical output.

    ``vertices`` (single column ``vertex``) optionally adds isolated
    vertices; endpoints of ``edges`` are always included.

    ``harness`` enables parquet checkpoint/resume + lineage metrics
    (see superstep.run_supersteps). Each round is one eager checkpoint
    whose count+xor signature rides the same job; the fixpoint is the
    round whose signature equals its input's.

    ``local_finish_threshold`` is the subcritical finish (the fixpoint
    is round-latency-bound on small frontiers — each materialization
    pays a fixed scheduling cost). Once the surviving edge set fits
    comfortably in a handful of tasks (~64 MB of packed int64 arrays at
    the 4M-pair default), the remaining fixpoint tail is latency-bound,
    not throughput-bound — paying O(log n) more cluster rounds to
    converge a subcritical graph is pure scheduling overhead. Profiled
    on the 6.8M-edge corpus: the star fixpoint lands at 1.98M pairs, so
    a 1M threshold pays two extra distributed rounds (the second a pure
    no-change verification) that the finish replaces. The finish is
    TWO-LEVEL: a parallel Arrow contraction pass over <=16 chunks, then
    one merge task over the contracted union — so the serial straggler
    task (round-2 verdict) only ever sees the pass-1 output, not the raw
    1M pairs, and the serial fraction that Amdahl-caps N -> 4N scaling
    shrinks by the pass-1 reduction factor. Labels are identical to the
    distributed result (both are canonical minima). At 100 TB the
    distributed rounds run until the frontier actually becomes
    subcritical, exactly as a hybrid engine should. Set 0 to force
    pure-distributed execution (tests do).
    """
    spark = edges.sparkSession
    pairs = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    verts = pairs.select(F.col("u").alias("vertex")).unionByName(
        pairs.select(F.col("v").alias("vertex"))
    )
    if vertices is not None:
        verts = verts.unionByName(vertices.select(F.col("vertex").cast("long")))
    verts = verts.distinct()

    def local_finish(n: int) -> bool:
        return 0 < n <= local_finish_threshold

    def round_plan(cur: DataFrame, prev: dict) -> DataFrame:
        if local_finish(prev["n"]):
            # subcritical finish, two-level: contract in parallel
            # chunks first (each task solves its slice and emits a
            # star forest no larger than its slice), then one merge
            # pass over the much smaller union. The merge input is
            # bounded by the pass-1 input (worst case: no reduction),
            # so this is never worse than the single-task finish, and
            # it cuts the serial fraction — the term that caps
            # N -> 4N scaling efficiency (Amdahl) — by the typical
            # pass-1 reduction factor (~5-10x measured).
            p = min(spark.sparkContext.defaultParallelism, 16)
            merged = _local_contract(cur.coalesce(p)) if p > 1 else cur
            return _local_contract(merged.coalesce(1))
        return small_star(large_star(cur))

    # canonical (hi, lo) starting set — the round-to-round invariant
    start = _dedup_pairs(
        pairs.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    )
    sig = signature_columns(("u", "v"))
    cur = run_supersteps(
        "connected_components",
        start,
        round_plan,
        columns=("u", "v"),
        max_iter=max_iter,
        metrics=sig,
        start_metrics=sig,
        # a local finish ends at the fixpoint; a star round at an
        # unchanged edge set
        stop=lambda m, prev: local_finish(prev["n"])
        or (m["n"], m["h"]) == (prev["n"], prev["h"]),
        harness=harness,
        pin=(pairs, ("u", "v"), ""),
        exhausted=f"connected_components: no fixpoint in {max_iter} rounds",
    )

    # Fixpoint is a star forest: (child, root). Roots/isolated vertices
    # label themselves.
    stars = cur.groupBy("u").agg(F.min("v").alias("component"))
    labels = (
        verts.join(stars, verts.vertex == stars.u, "left")
        .select("vertex", F.coalesce("component", "vertex").alias("component"))
    )
    return labels
