"""Incremental PageRank maintenance measurement (round-4 verdict #6):
fold a ~1% edge batch into previously-converged ranks via warm_start
vs from-scratch on the merged
graph. 6.8M-edge shared corpus, local[32], min of reps; appends the
table to BENCH/BASELINE.md. The 1% batch is a deterministic hash split
(xxhash64(src,dst) % 100 == 0), so the run is reproducible.

Usage: python tools/bench_incremental.py [V] [reps]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> None:
    import os

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-shuffle")
    from pyspark.sql import functions as F

    from ccl_spark.pagerank import pagerank
    from ccl_spark.session import get_spark

    v = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    epath = f"/tmp/ccl_spark_scaling_edges_{v}"
    if not Path(epath, "_SUCCESS").exists():
        raise SystemExit(f"run bench_scaling.py first to generate {epath}")

    spark = get_spark("pr_incremental")
    edges = spark.read.parquet(epath).select("src", "dst").localCheckpoint(eager=True)
    batch_pred = F.pmod(F.xxhash64("src", "dst"), F.lit(100)) == 0
    old = edges.filter(~batch_pred).localCheckpoint(eager=True)
    n_all, n_old = edges.count(), old.count()

    # previously-converged ranks on the pre-batch graph (not timed:
    # this is the state a production pipeline already has on disk)
    prev = pagerank(old, tol=1e-6).localCheckpoint(eager=True)
    prev.count()

    def _settle():
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        time.sleep(1.0)

    def timed(fn):
        ts = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn().select(F.sum("rank")).first()
            ts.append(time.monotonic() - t0)
            _settle()
        return ts

    t_cold = timed(lambda: pagerank(edges, tol=1e-6))
    t_warm = timed(lambda: pagerank(edges, tol=1e-6, warm_start=prev))

    summary = {
        "edges": n_all,
        "batch_edges": n_all - n_old,
        "batch_pct": round(100 * (n_all - n_old) / n_all, 2),
        "reps": reps,
        "t_cold": round(min(t_cold), 2),
        "t_warm": round(min(t_warm), 2),
        "speedup_warm": round(min(t_cold) / min(t_warm), 2),
        "raw": {"cold": t_cold, "warm": t_warm},
    }
    print(json.dumps(summary))
    md = REPO / "BENCH" / "BASELINE.md"
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    with md.open("a") as f:
        f.write(
            f"\n## Incremental PageRank fold-in {stamp} "
            f"(edges={n_all}, batch={summary['batch_edges']} "
            f"({summary['batch_pct']}%), tol=1e-6, local[32], min of {reps})\n\n"
            "| mode | seconds | speedup vs cold |\n"
            "|---|---|---|\n"
            f"| from-scratch (cold) | {summary['t_cold']} | 1.0 |\n"
            f"| warm_start fold-in | {summary['t_warm']} | {summary['speedup_warm']} |\n\n"
        )
    spark.stop()


if __name__ == "__main__":
    main()
