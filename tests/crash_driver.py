"""Child driver for test_crash_resume.py: finishes one harness root that
an earlier process left behind, then runs one algorithm under a
harness that SIGKILLs this driver process at a chosen point.

    python tests/crash_driver.py WORK [--resume ALGO NAME] [--crash ALGO NAME POINT]

ALGO is ``cc`` or ``pagerank``; each NAME gets the harness root
WORK/NAME. Kill POINTs, all at superstep KILL_STEP:

- ``task``: inside a task of the state write (a UDF in the written
  state kills the driver);
- ``lineage``: after the state write, when the lineage write starts;
- ``mid``: inside the next superstep's job, after KILL_STEP committed.

Events go to WORK/NAME.log — ``record <step>`` before each checkpoint,
``start <step>`` where the run (re)starts — and the resumed result to
WORK/NAME.out (parquet). WORK/jvm.pid holds this driver's JVM pid.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import DataFrame, DataFrameWriter, functions as F  # noqa: E402

from ccl_spark.superstep import SuperstepHarness  # noqa: E402

KILL_STEP = 1
# a 16-vertex path (several star rounds) plus a small cyclic tangle with
# dangling vertices for PageRank
EDGES = [(i, i + 1) for i in range(15)] + [
    (100 + i, 100 + (i * 7 + 3) % 20) for i in range(30)
]


def run(algo: str, spark, harness: SuperstepHarness | None) -> DataFrame:
    from ccl_spark.cc import connected_components
    from ccl_spark.pagerank import pagerank

    edges = spark.createDataFrame(EDGES, "src long, dst long")
    if algo == "cc":
        return connected_components(edges, harness=harness, local_finish_threshold=0)
    return pagerank(edges, tol=0.0, max_iter=4, harness=harness)


def _killer(pid: int):
    def kill(_x):
        os.kill(pid, signal.SIGKILL)
        return True

    return F.udf(kill, "boolean")


class KillingHarness(SuperstepHarness):
    def __init__(self, spark, root: str, algo: str, log: str, point: str | None = None):
        super().__init__(spark, root, algo, interval=1)
        self.log, self.point, self.step = log, point, None

    def note(self, line: str) -> None:
        with open(self.log, "a") as fh:
            fh.write(line + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    def latest(self):
        out = super().latest()
        self.note(f"start {0 if out is None else out[0]}")
        return out

    def record(self, superstep, df, *args, **kwargs):
        self.step = superstep
        self.note(f"record {superstep}")
        kill = superstep == KILL_STEP
        if kill and self.point == "task":
            df = df.filter(_killer(os.getpid())(F.col(df.columns[0])))
        out = super().record(superstep, df, *args, **kwargs)
        if kill and self.point == "mid":
            out = out.filter(_killer(os.getpid())(F.col(out.columns[0])))
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("work")
    ap.add_argument("--resume", nargs=2, metavar=("ALGO", "NAME"))
    ap.add_argument("--crash", nargs=3, metavar=("ALGO", "NAME", "POINT"))
    args = ap.parse_args()

    from ccl_spark.session import get_spark

    spark = get_spark("crash_driver", master="local[2]", shuffle_partitions=4)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    Path(args.work, "jvm.pid").write_text(str(jvm_pid))

    def harness(algo: str, name: str, point: str | None = None) -> KillingHarness:
        root = os.path.join(args.work, name)
        return KillingHarness(spark, root, algo, f"{root}.log", point)

    if args.resume:
        algo, name = args.resume
        out = run(algo, spark, harness(algo, name))
        out.write.mode("overwrite").parquet(os.path.join(args.work, f"{name}.out"))
    if args.crash:
        algo, name, point = args.crash
        h = harness(algo, name, point)
        if point == "lineage":
            write = DataFrameWriter.parquet

            def parquet(self, path, *a, **kw):
                if "/lineage" in path and h.step == KILL_STEP:
                    os.kill(os.getpid(), signal.SIGKILL)
                return write(self, path, *a, **kw)

            DataFrameWriter.parquet = parquet
        run(algo, spark, h).count()
        raise SystemExit(f"{algo} finished without reaching kill point {point}")
    spark.stop()


if __name__ == "__main__":
    main()
