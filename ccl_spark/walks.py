"""Deterministic random-walk corpus generation (DeepWalk / node2vec
p=q=1 style; Perozzi et al. 2014).

The walk corpus — ``n_walks`` truncated walks of ``walk_len`` steps
from every vertex — is the standard input for skip-gram graph
embeddings.  Walks here are *deterministically pseudo-random*: the
step-t choice at a walk is ``H(start, rep, t, seed) mod deg(cur)``
with H = the first 15 hex digits of md5, a hash both Spark
(``conv(substring(md5(..)..)``) and ANSI-SQL engines (hex cast)
compute identically, so the full corpus is reproducible bit-for-bit
across engines, partitionings and retries — the property that makes
the operator testable and its output cacheable.

Execution shape (100-TB story):
- the adjacency is ranked once — ``(s, d, rank)`` via a per-vertex
  row_number window (partition key = the vertex, so a partition never
  exceeds one vertex's degree) plus a degree table;
- each step is two hash equi-joins keyed on the walk's current vertex
  (state ⋈ degree to draw the index, then ⋈ adjacency on
  (vertex, rank) to move) — state stays O(|V|·n_walks) rows with one
  growing string column, never materializing anything per-edge;
- walks run on the symmetrized graph, where every reachable vertex
  has degree ≥ 1, so walks never strand (no ragged-length handling);
- each step's state is ``localCheckpoint``-ed so plan depth stays
  O(1) per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ccl_spark.graphstats import _symmetrized


def _choice_expr(step: int, seed: int) -> F.Column:
    """Deterministic per-(walk, step) draw in [0, 2^60): md5 of the
    walk identity, first 15 hex digits as an integer — identical in
    Spark and DuckDB."""
    key = (
        "concat(cast(v0 as string), ',', cast(rep as string), "
        f"',', '{step}', ',', '{seed}')"
    )
    return F.expr(f"cast(conv(substring(md5({key}), 1, 15), 16, 10) as bigint)")


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    n_walks: int = 1,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """``n_walks`` deterministic uniform random walks of ``walk_len``
    steps from every vertex of the symmetrized graph.

    Returns ``(start, rep, walk)`` where ``walk`` is the
    space-joined vertex sequence (walk_len + 1 ids) — the text-line
    shape a skip-gram trainer consumes directly.
    ``checkpoint=False`` keeps the full join lineage in one plan
    (used by the plan audits; the default truncates per step).
    """
    und = _symmetrized(edges, src, dst).localCheckpoint(eager=True)
    w = Window.partitionBy("s").orderBy("d")
    adj = und.select(
        "s", "d", (F.row_number().over(w) - 1).alias("rank")
    ).localCheckpoint(eager=True)
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    state = (
        deg.select("s")
        .select(
            F.col("s").alias("v0"),
            F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("rep"),
        )
        .select(
            "v0",
            "rep",
            F.col("v0").alias("cur"),
            F.col("v0").cast("string").alias("walk"),
        )
    )
    for step in range(walk_len):
        drawn = (
            state.join(deg, state["cur"] == deg["s"])
            .withColumn("idx", _choice_expr(step, seed) % F.col("dg"))
            .select("v0", "rep", "cur", "walk", "idx")
        )
        state = (
            drawn.join(
                adj,
                (drawn["cur"] == adj["s"]) & (drawn["idx"] == adj["rank"]),
            )
            .select(
                "v0",
                "rep",
                F.col("d").alias("cur"),
                F.concat_ws(" ", "walk", F.col("d").cast("string")).alias("walk"),
            )
        )
        if checkpoint:
            state = state.localCheckpoint(eager=True)
    return state.select(
        F.col("v0").alias("start"), F.col("rep").cast("long").alias("rep"), "walk"
    )


def _unit_expr(step: int, seed: int) -> F.Column:
    """Deterministic per-(walk, step) uniform draw in [0, 1): 13 hex
    md5 digits (< 2^52) over 2^52 — exactly representable, identical
    in Spark and DuckDB."""
    key = (
        "concat(cast(v0 as string), ',', cast(rep as string), "
        f"',', '{step}', ',', '{seed}')"
    )
    return F.expr(
        f"cast(conv(substring(md5({key}), 1, 13), 16, 10) as double)"
        f" / {float(1 << 52)!r}"
    )


def node2vec_walks(
    edges: DataFrame,
    walk_len: int = 4,
    n_walks: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Second-order biased walks (node2vec; Grover & Leskovec 2016):
    after the uniform first step, the move from ``prev`` standing at
    ``cur`` weights each neighbor ``x`` of ``cur`` by 1/p if
    ``x == prev`` (return), 1 if ``x`` is adjacent to ``prev``
    (BFS-like), else 1/q (DFS-like), and draws from the weighted
    distribution.

    The draw is deterministic: r = U(start, rep, step, seed) · W with
    U an exact md5-derived dyadic rational and W the sequential
    cumulative-sum total, and the chosen neighbor is the one whose
    (prev-cumsum, cumsum] interval contains r.  With p and q powers of
    two the weights are exact binary fractions and the candidate-order
    cumulative sums are bit-identical across engines, so the oracle
    replays the walks exactly.

    Per step: one adjacency expansion keyed on the current vertex, one
    left join on (prev, candidate) for the BFS membership test, and
    one per-walk window cumsum — candidate mass is Σ deg(cur) rows,
    the same frontier⋈edges shape as every other traversal here.
    Returns ``(start, rep, walk)`` like :func:`random_walks`.
    """
    if walk_len < 1:
        raise ValueError("walk_len must be >= 1")
    und = _symmetrized(edges, src, dst).localCheckpoint(eager=True)
    w = Window.partitionBy("s").orderBy("d")
    adj = und.select(
        "s", "d", (F.row_number().over(w) - 1).alias("rank")
    ).localCheckpoint(eager=True)
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    starts = deg.select("s").select(
        F.col("s").alias("v0"),
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("rep"),
    )
    # step 0: uniform
    state = (
        starts.select("v0", "rep", F.col("v0").alias("cur"))
        .join(deg, F.col("cur") == deg["s"])
        .withColumn("idx", _choice_expr(0, seed) % F.col("dg"))
        .join(adj, (F.col("cur") == adj["s"]) & (F.col("idx") == adj["rank"]))
        .select(
            "v0",
            "rep",
            F.col("cur").alias("prev"),
            F.col("d").alias("cur2"),
            F.concat_ws(
                " ", F.col("v0").cast("string"), F.col("d").cast("string")
            ).alias("walk"),
        )
        .withColumnRenamed("cur2", "cur")
        .localCheckpoint(eager=True)
    )
    member = und.select(
        F.col("s").alias("prev"), F.col("d").alias("cand"), F.lit(1).alias("adj_pc")
    )
    for step in range(1, walk_len):
        cand = (
            state.join(und, state["cur"] == und["s"])
            .select("v0", "rep", "prev", "cur", "walk", F.col("d").alias("cand"))
            .join(member, ["prev", "cand"], "left")
            .withColumn(
                "wt",
                F.when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
                .when(F.col("adj_pc") == 1, F.lit(1.0))
                .otherwise(F.lit(1.0 / q)),
            )
        )
        ww = Window.partitionBy("v0", "rep").orderBy("cand")
        wall = Window.partitionBy("v0", "rep")
        scored = (
            cand.withColumn("cw", F.sum("wt").over(ww))
            .withColumn("pcw", F.lag("cw", 1, 0.0).over(ww))
            .withColumn("tot", F.max("cw").over(wall))
            .withColumn("r", _unit_expr(step, seed) * F.col("tot"))
        )
        state = (
            scored.filter((F.col("pcw") <= F.col("r")) & (F.col("r") < F.col("cw")))
            .select(
                "v0",
                "rep",
                F.col("cur").alias("prev"),
                F.col("cand").alias("cur"),
                F.concat_ws(" ", "walk", F.col("cand").cast("string")).alias("walk"),
            )
            .localCheckpoint(eager=True)
        )
    return state.select(
        F.col("v0").alias("start"), F.col("rep").cast("long").alias("rep"), "walk"
    )


def neighbor_sample(
    edges: DataFrame,
    seeds: list[int],
    fanouts: tuple[int, ...] = (3, 2),
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """GraphSAGE-style layered neighbor sampling (Hamilton et al.
    2017): from each seed, draw at most ``fanouts[h]`` neighbors per
    frontier vertex at hop ``h+1`` on the symmetrized graph, expanding
    hop by hop.

    Sampling is *deterministically pseudo-random*: neighbors of a
    vertex are ranked by ``md5(hop|src|dst)`` (a hash both Spark and
    ANSI SQL compute identically on the same concatenated string), so
    the sampled block is reproducible bit-for-bit across engines,
    partitionings and retries — every executor that re-runs a task
    draws the same neighborhood, which is what makes GNN minibatch
    shards cacheable and the operator oracle-testable.  Two seeds
    whose frontiers share a vertex share its sample (the rank is
    keyed on (hop, vertex), not on the seed), so hub work is done
    once per hop regardless of how many seeds reach the hub.

    Execution shape (100-TB story): per hop, one semi-join restricts
    the adjacency to frontier vertices *before* the ranking window
    runs (the window partition key is the vertex, so a partition
    never exceeds one vertex's degree), then one equi-join attributes
    sampled edges back to seeds.  State is O(#seeds x prod(fanouts))
    rows — never per-edge.

    Returns ``(seed, hop, src, dst)`` sampled edges, hop = 1-based.
    """
    und = _symmetrized(edges, src, dst).select(
        F.col("s").alias("e_src"), F.col("d").alias("e_dst")
    )
    spark = edges.sparkSession
    frontier = spark.createDataFrame(
        [(int(s), int(s)) for s in seeds], "seed long, node long"
    )
    out = None
    for hop, fan in enumerate(fanouts, 1):
        active = frontier.select(F.col("node").alias("e_src")).distinct()
        cand = und.join(active, "e_src", "left_semi")
        rn = F.row_number().over(
            Window.partitionBy("e_src").orderBy(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(str(hop)),
                        F.col("e_src").cast("string"),
                        F.col("e_dst").cast("string"),
                    )
                ),
                "e_dst",
            )
        )
        sampled = cand.withColumn("rn", rn).filter(F.col("rn") <= fan)
        hopped = (
            frontier.join(sampled, frontier.node == sampled.e_src)
            .select(
                "seed",
                F.lit(hop).cast("long").alias("hop"),
                F.col("e_src").alias("src"),
                F.col("e_dst").alias("dst"),
            )
            .distinct()
        )
        out = hopped if out is None else out.unionByName(hopped)
        frontier = hopped.select("seed", F.col("dst").alias("node")).distinct()
    return out


def _dist_dense_rank(df: DataFrame, order_cols: list[str], out_col: str) -> DataFrame:
    """Distributed ``dense_rank() OVER (ORDER BY order_cols)``:

    1. ``repartitionByRange(order_cols)`` — equal keys land in one
       partition, partitions are key-ordered (boundary sampling only
       moves partition EDGES, never the resulting rank values);
    2. per-partition distinct-key counts -> exclusive prefix offsets
       (the offsets window runs over one row PER PARTITION — bounded
       by the partition count, never by the data);
    3. per-partition ``dense_rank`` keyed by ``spark_partition_id()``
       plus the broadcast offset.

    Identical values to the single-reducer form (rank of a key =
    #distinct keys before it, partition-additive because ranges don't
    split keys); returns ``df`` columns plus ``out_col``.
    """
    sp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parted = df.repartitionByRange(max(sp, 1), *[F.col(c) for c in order_cols])
    # materialize ONCE: the count path and the rank path must see the
    # SAME partition boundaries — two independent range exchanges may
    # sample different boundary sets, which would make the offsets
    # inconsistent with the pids (checkpoint also pins the
    # nondeterministic spark_partition_id against retries)
    parted = parted.withColumn("_pid", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    # distinct keys as one struct: a key with a NULL column still counts,
    # as dense_rank ranks it (count_distinct over the bare columns would
    # skip it and shift every later partition's offset)
    cnt = parted.groupBy("_pid").agg(
        F.count_distinct(F.struct(*order_cols)).alias("_c")
    )
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    off = cnt.select(
        "_pid", F.coalesce(F.sum("_c").over(off_w), F.lit(0)).alias("_off")
    )
    lw = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        parted.join(F.broadcast(off), "_pid")
        .withColumn(out_col, (F.col("_off") + F.dense_rank().over(lw)).cast("long"))
        .drop("_pid", "_off")
    )


def edge_negatives(
    edges: DataFrame,
    k: int = 5,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic negative-edge sampling for link-prediction / GNN
    training: for every vertex, ``k`` md5-drawn candidate partners
    from the vertex universe, minus real edges and self-pairs — the
    standard negatives table next to the positive edge list.

    The draw is ``md5(u, j, seed) mod |V|`` indexed into the
    rank-ordered vertex table, so the sample is reproducible across
    engines and retries; collisions with real edges are removed by
    one anti-join (the candidate table is k|V| rows, never |V|^2).
    Some vertices may end with fewer than k negatives after the
    anti-join — by design (dense vertices have fewer non-edges), and
    the count is exact, not probabilistic.

    Returns ``(u, v, draw)`` — draw is the 0-based draw index that
    produced the pair, making the sample's provenance auditable.
    """
    und = _symmetrized(edges, src, dst)
    # dense vertex indexing via the distributed two-job ranking
    # (vertex ids are unique, so dense_rank == row_number) — no
    # unpartitioned window over V (r5 verdict ask #2)
    verts = _dist_dense_rank(
        und.select(F.col("s").alias("vertex")).distinct(), ["vertex"], "_r"
    ).select("vertex", (F.col("_r") - 1).alias("rank")).localCheckpoint(eager=True)
    n = verts.count()
    if n == 0:
        # empty edge set: no vertex universe to draw from (a pmod-by-
        # zero draw would error, ADVICE r5)
        return und.sparkSession.createDataFrame([], "u long, v long, draw long")
    draws = verts.select(F.col("vertex").alias("u")).crossJoin(
        F.broadcast(
            und.sparkSession.range(k).select(F.col("id").cast("long").alias("draw"))
        )
    )
    idx = F.expr(
        "pmod(cast(conv(substring(md5(concat(cast(u as string), ',', "
        f"cast(draw as string), ',{seed}')), 1, 15), 16, 10) as bigint), {n})"
    )
    # plain equi-join on the dense index: AQE broadcasts it when small;
    # at web scale it stays a hash join (a forced |V|-row broadcast
    # would hit the 8 GB relation cap)
    cand = draws.withColumn("rank", idx).join(verts, "rank").select(
        "u", F.col("vertex").alias("v"), "draw"
    )
    existing = und.select(F.col("s").alias("u"), F.col("d").alias("v"))
    return (
        cand.filter(F.col("u") != F.col("v"))
        .join(existing, ["u", "v"], "left_anti")
    )
