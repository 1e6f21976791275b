"""Capture .explain("formatted") plans for the r06-touched operators.

Usage: python tools/explain_r06.py <outdir> <suffix>
    e.g. python tools/explain_r06.py plans/r06 after

Run from the repo whose plans you want (the round-start tree for
_before, the optimized tree for _after).  Iterative algorithms
(pagerank/lpa/cc) materialize per round, so the informative plan is
the fused round BODY — captured here by reconstructing one round's
lazy plan exactly as the library builds it (noted in each file
header).
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import Window, functions as F  # noqa: E402

from ccl_spark.session import get_spark  # noqa: E402

OUT = Path(sys.argv[1] if len(sys.argv) > 1 else "plans/r06")
SUFFIX = sys.argv[2] if len(sys.argv) > 2 else "after"
SF_DIR = "/root/testdata/sf0.01"


def dump(name: str, df, header: str = "") -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    text = (f"# {header}\n" if header else "") + buf.getvalue()
    (OUT / f"{name}_{SUFFIX}.txt").write_text(text)
    print(f"wrote {name}_{SUFFIX}.txt")


def main() -> None:
    spark = get_spark("explain_r06")
    from ccl_spark.datagen import generate_pages
    from ccl_spark.edges import page_edges

    pages = generate_pages(spark, 10_000, seed=42)
    dump(
        "datagen_extract",
        page_edges(pages),
        "page_edges(pages) — the datagen_extract bench query body",
    )

    edges = page_edges(pages).localCheckpoint(eager=True)

    # --- lpa: one fused round body --------------------------------
    pairs = edges.select(F.col("src").cast("long").alias("u"), F.col("dst").cast("long").alias("v"))
    nbrs = (
        pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        pairs.select(F.col("u").alias("vertex"))
        .unionByName(pairs.select(F.col("v").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = verts.select("vertex", F.col("vertex").alias("label"))
    msgs = nbrs.join(cur, nbrs.v == cur.vertex).select("u", "label")
    counts = msgs.groupBy("u", "label").agg(F.count(F.lit(1)).alias("cnt"))
    try:  # after-shape (min_by aggregate)
        best = counts.groupBy(F.col("u").alias("vertex")).agg(
            F.min_by("label", F.struct((-F.col("cnt")).alias("nc"), "label")).alias("new_label")
        )
        import ccl_spark.lpa as _l  # assert shape matches the library
        assert "min_by" in open(_l.__file__).read()
    except AssertionError:  # before-shape (row_number window)
        w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("label"))
        best = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("vertex"), F.col("label").alias("new_label"))
        )
    nxt = cur.join(best, "vertex", "left").select(
        "vertex", F.coalesce("new_label", "label").alias("label")
    )
    dump("lpa_round", nxt, "one LPA round body (the per-superstep plan)")
    nbrs.unpersist()

    # --- betweenness: the symmetrize + one forward level ----------
    from ccl_spark.graphstats import _symmetrized

    und = _symmetrized(edges, "src", "dst")
    dump("betweenness_symmetrize", und, "_symmetrized(edges) — pin input of the pivot BFS")

    # --- near_dup_minhash (full query) -----------------------------
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from ccl_spark.dedup import near_duplicates, simhash

    dump(
        "near_dup_minhash",
        near_duplicates(docs, n=3, n_hashes=32, bands=16, threshold=0.8, log_dropped=False),
        "near_duplicates(...) — NOTE: verify stage only; the signature/"
        "banding pipeline materializes into the candidate checkpoint",
    )
    dump("simhash", simhash(docs), "simhash(docs) — untouched, for reference")

    # --- tokens_ids -------------------------------------------------
    from ccl_spark.textops import bpe_encode_docs, bpe_merges

    merges = [
        (r.lhs, r.rhs)
        for r in bpe_merges(docs, n_merges=8).orderBy("merge_rank").collect()
    ]
    dump("tokens_ids", bpe_encode_docs(docs, merges), "bpe_encode_docs(docs, merges)")

    # --- suffix_array: the per-round ranking plan --------------------
    small = docs.limit(50).localCheckpoint(eager=True)
    toks = small.select(
        F.col("doc_id").alias("pos"), F.col("text").alias("tok")
    ).localCheckpoint(eager=True)  # stand-in (pos, tok) stream for plan shape
    try:  # after-shape: distributed two-job ranking
        from ccl_spark.suffix import _dist_dense_rank

        ranked = _dist_dense_rank(toks, ["tok"], "r", materialize=False)
        hdr = ("suffix per-round ranking — distributed form (range exchange +"
               " pid-keyed dense_rank + broadcast offsets; materialize=False"
               " only so the checkpoint does not truncate the captured plan)")
    except (ImportError, TypeError):  # before-shape: unpartitioned window
        ranked = toks.select(
            "pos",
            F.dense_rank().over(Window.orderBy("tok")).cast("long").alias("r"),
        )
        hdr = "suffix per-round ranking — unpartitioned dense_rank window"
    dump("suffix_rank_round", ranked, hdr)

    # --- edge_negatives ---------------------------------------------
    from ccl_spark.walks import edge_negatives

    dump("edge_negatives", edge_negatives(edges.limit(5000)), "edge_negatives(edges)")

    # --- degree_tau: the pair-scan input above the exact threshold ---
    from ccl_spark.graphstats import degree_rank_correlation

    try:  # after-shape: sampled vertex universe above max_exact_vertices
        df = degree_rank_correlation(edges.limit(3000), max_exact_vertices=500)
        hdr = ("degree_rank_correlation with |V| above max_exact_vertices:"
               " the crossJoin input is the deterministic xxhash64 vertex"
               " sample (look for the pmod(xxhash64(vertex)) Filter)")
    except TypeError:  # before-shape: always the full all-pairs scan
        df = degree_rank_correlation(edges.limit(3000))
        hdr = "degree_rank_correlation — unconditional all-pairs crossJoin"
    dump("degree_tau", df, hdr)

    # --- ppr_sweep: the ranked-prefix construction (pre-checkpoint) --
    scored = spark.createDataFrame(
        [(i, i % 7 + 1, float((i * 37) % 100) / 100) for i in range(1000)],
        "vertex long, deg long, score double",
    )
    k_max = 20
    w_rank = Window.orderBy(F.desc("score"), F.asc("vertex"))
    import ccl_spark.graphstats as _gs

    if "limit(k_max)" in open(_gs.__file__).read():  # after-shape
        ranked = (
            scored.orderBy(F.desc("score"), F.asc("vertex"))
            .limit(k_max)
            .withColumn("rk", F.row_number().over(w_rank))
            .select("vertex", "deg", "rk")
        )
        hdr = ("ppr_sweep_cut ranked-prefix body — after: TakeOrdered(k_max)"
               " feeds the rank window, so the unpartitioned window sees at"
               " most k_max rows")
    else:  # before-shape
        ranked = (
            scored.withColumn("rk", F.row_number().over(w_rank))
            .filter(F.col("rk") <= k_max)
            .select("vertex", "deg", "rk")
        )
        hdr = ("ppr_sweep_cut ranked-prefix body — before: the unpartitioned"
               " rank window consumes the WHOLE scored vertex table")
    dump("ppr_sweep", ranked, hdr)
    spark.stop()


if __name__ == "__main__":
    main()
