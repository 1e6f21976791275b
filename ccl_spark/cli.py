"""spark-submit entry point.

Package and run:

    python tools/package.py                      # -> dist/ccl_spark.zip
    spark-submit --py-files dist/ccl_spark.zip \
        dist/main.py cc --edges s3://bucket/edges --out s3://bucket/components \
        --checkpoint s3://bucket/ckpt/run1 --resume

Subcommands: cc | pagerank | lpa | triangles | extract | dedup |
dedup-corpus (near-dup pairs -> transitive clusters -> deduped docs) |
curate (domain blocklist -> host LM-quality terciles -> keep
head+middle documents) |
tokenize (train BPE merges on the corpus, encode every document to
its token-id stream) | walks (deterministic DeepWalk/node2vec walk
corpus for skip-gram embedding training).
Every iterative job takes --checkpoint (superstep state + lineage) and
--resume (continue the latest complete superstep at that root) — the
north rule's mid-algorithm resumability.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def _edges(spark, path: str):
    return spark.read.parquet(path)


def main(argv: list[str] | None = None) -> int:
    # imports deferred so the zip can be imported without a live session
    from ccl_spark.cc import connected_components
    from ccl_spark.lpa import label_propagation
    from ccl_spark.pagerank import pagerank
    from ccl_spark.session import get_spark
    from ccl_spark.superstep import SuperstepHarness, fs_exists
    from ccl_spark.triangles import triangles_per_vertex

    p = argparse.ArgumentParser(prog="ccl_spark")
    p.add_argument(
        "algo",
        choices=[
            "cc", "pagerank", "lpa", "triangles", "extract", "dedup",
            "dedup-corpus", "tokenize", "walks", "curate",
        ],
    )
    p.add_argument("--edges", help="parquet edge table (src, dst)")
    p.add_argument("--pages", help="parquet pages table (extract)")
    p.add_argument("--docs", help="parquet documents table (dedup)")
    p.add_argument(
        "--blocklist",
        help="curate: parquet blocklist table with a 'domain' column",
    )
    p.add_argument(
        "--host-col", default="host", help="curate: host column of --docs"
    )
    p.add_argument(
        "--canonicalize",
        action="store_true",
        help="extract: canonical_url both endpoints before hashing",
    )
    p.add_argument("--threshold", type=float, default=0.8, help="dedup jaccard cutoff")
    p.add_argument("--merges", type=int, default=1000, help="tokenize: BPE merge rounds")
    p.add_argument("--walk-len", type=int, default=10, help="walks: steps per walk")
    p.add_argument("--n-walks", type=int, default=1, help="walks: walks per vertex")
    p.add_argument("--seed", type=int, default=42, help="walks: draw seed")
    p.add_argument("--p", type=float, default=None, help="walks: node2vec return parameter")
    p.add_argument("--q", type=float, default=None, help="walks: node2vec in-out parameter")
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", help="checkpoint/lineage root")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--run-id", default=None)
    p.add_argument("--interval", type=int, default=5)
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--max-iter", type=int, default=300)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    spark = get_spark(f"ccl_spark_{args.algo}", master=args.master)
    harness = None
    if args.checkpoint:
        harness = SuperstepHarness(
            spark, args.checkpoint, algo=args.algo, run_id=args.run_id, interval=args.interval
        )
        if not args.resume:
            # a fresh run must not silently adopt stale state
            if fs_exists(spark, f"{harness.root}/state"):
                print(
                    f"checkpoint root {args.checkpoint} has prior state; "
                    "pass --resume to continue it",
                    file=sys.stderr,
                )
                return 2

    if args.algo == "extract":
        from ccl_spark.edges import page_edges

        out = page_edges(spark.read.parquet(args.pages), canonicalize=args.canonicalize)
    elif args.algo == "dedup":
        from ccl_spark.dedup import near_duplicates

        out = near_duplicates(spark.read.parquet(args.docs), threshold=args.threshold)
    elif args.algo == "curate":
        # host-level curation: blocklist -> host LM-quality terciles on
        # the survivors -> keep head+middle documents
        from ccl_spark.edges import blocklist_filter
        from ccl_spark.textops import host_quality_buckets

        docs = spark.read.parquet(args.docs)
        if args.blocklist:
            bl = spark.read.parquet(args.blocklist)
            docs = (
                blocklist_filter(docs, bl, host_col=args.host_col)
                .filter("NOT blocked")
                .drop("blocked")
            )
        keep_hosts = (
            host_quality_buckets(docs, host_col=args.host_col)
            .filter("keep")
            .select(F.col("host").alias(args.host_col))
        )
        out = docs.join(F.broadcast(keep_hosts), args.host_col, "left_semi")
    elif args.algo == "dedup-corpus":
        # full pipeline: pairs -> transitive clusters -> min-id keep-set
        from ccl_spark.dedup import dedup_corpus

        out = dedup_corpus(spark.read.parquet(args.docs), threshold=args.threshold)
    elif args.algo == "tokenize":
        # train a BPE tokenizer on the corpus, then encode every
        # document to its token-id stream (the LLM-pipeline deliverable)
        from ccl_spark.textops import bpe_encode_docs, bpe_merges

        docs = spark.read.parquet(args.docs)
        merges = [
            (r.lhs, r.rhs)
            for r in bpe_merges(docs, n_merges=args.merges).orderBy("merge_rank").collect()
        ]
        out = bpe_encode_docs(docs, merges)
    elif args.algo == "walks":
        from ccl_spark.walks import node2vec_walks, random_walks

        e = _edges(spark, args.edges)
        if args.p is not None or args.q is not None:
            out = node2vec_walks(
                e, walk_len=args.walk_len, n_walks=args.n_walks,
                p=args.p or 1.0, q=args.q or 1.0, seed=args.seed,
            )
        else:
            out = random_walks(
                e, walk_len=args.walk_len, n_walks=args.n_walks, seed=args.seed
            )
    elif args.algo == "cc":
        out = connected_components(_edges(spark, args.edges), harness=harness)
    elif args.algo == "pagerank":
        out = pagerank(
            _edges(spark, args.edges),
            tol=args.tol,
            max_iter=args.max_iter,
            harness=harness,
        )
    elif args.algo == "lpa":
        out = label_propagation(
            _edges(spark, args.edges), max_iter=args.max_iter, harness=harness
        )
    else:
        out = triangles_per_vertex(_edges(spark, args.edges))

    out.write.mode("overwrite").parquet(args.out)
    print(f"{args.algo}: wrote {spark.read.parquet(args.out).count()} rows to {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
