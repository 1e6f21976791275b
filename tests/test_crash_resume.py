"""Crash/resume proven by killing a real driver process.

Per algorithm, a chain of child drivers (tests/crash_driver.py) each
finishes the harness root the previous child left behind, in a fresh
process, and then SIGKILLs itself mid-run at one of three points: inside a state
write task, between the state write and the lineage write, and inside
the next superstep's job. CC and PageRank run under
``SuperstepHarness(interval=1)``; every resumed result must equal an
uninterrupted run, at most ``interval`` steps may be recomputed, and
every superstep must keep exactly one lineage row-set.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from itertools import product
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from tests.crash_driver import KILL_STEP, run

DRIVER = Path(__file__).resolve().parent / "crash_driver.py"
ALGOS = ("cc", "pagerank")
POINTS = ("task", "lineage", "mid")
INTERVAL = 1


def _alive(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().split(") ")[1][0] != "Z"
    except (FileNotFoundError, IndexError):
        return False


def _child(work: Path, args: list[str]) -> subprocess.CompletedProcess:
    proc = subprocess.run(
        [sys.executable, str(DRIVER), str(work), *args],
        capture_output=True,
        text=True,
        timeout=600,
    )
    # the killed driver's JVM exits once its stdin closes; wait for it so
    # no write of the dead run overlaps the next process
    pid = int((work / "jvm.pid").read_text())
    deadline = time.monotonic() + 60
    while _alive(pid) and time.monotonic() < deadline:
        time.sleep(0.2)
    if _alive(pid):
        os.kill(pid, signal.SIGKILL)
    return proc


def _runs(log: Path) -> list[tuple[int, list[int]]]:
    """(start step, recorded steps) of each run logged to ``log``."""
    runs = []
    for kind, step in (line.split() for line in log.read_text().splitlines()):
        if kind == "start":
            runs.append((int(step), []))
        else:
            runs[-1][1].append(int(step))
    return runs


def _chain(work: Path, algo: str) -> None:
    """Kill ``algo`` at each point in turn; every child first resumes
    the root the previous child left behind."""
    work.mkdir()
    prev = None
    for point in [*POINTS, None]:
        name = f"{algo}_{point}"
        args = (["--resume", algo, prev] if prev else []) + (
            ["--crash", algo, name, point] if point else []
        )
        proc = _child(work, args)
        assert proc.returncode == (-signal.SIGKILL if point else 0), proc.stderr[-4000:]
        prev = name


def test_killed_driver_resumes_cc_and_pagerank(spark, tmp_path):
    # the two chains share nothing, so they run side by side
    with ThreadPoolExecutor(2) as pool:
        chains = [pool.submit(_chain, tmp_path / algo, algo) for algo in ALGOS]
        for chain in chains:
            chain.result()

    expected = {
        "cc": {r.vertex: r.component for r in run("cc", spark, None).collect()},
        "pagerank": {r.vertex: r.rank for r in run("pagerank", spark, None).collect()},
    }
    for algo, point in product(ALGOS, POINTS):
        name, work = f"{algo}_{point}", tmp_path / algo
        (start, recorded), (resumed_at, _) = _runs(work / f"{name}.log")
        reached = max(recorded)
        assert start == 0 and reached == KILL_STEP, (name, start, recorded)
        # a step is committed only once its lineage is written: killed
        # before that, the resumed run redoes the step; killed in the
        # next step's job, it continues after it
        assert resumed_at == (KILL_STEP + 1 if point == "mid" else KILL_STEP), name
        assert reached + 1 - resumed_at <= INTERVAL, name

        lineage = spark.read.parquet(str(work / name / "lineage"))
        runs = {
            r.superstep: r.n
            for r in lineage.groupBy("superstep").agg(F.countDistinct("run_id").alias("n")).collect()
        }
        assert sorted(runs) == list(range(len(runs))), (name, runs)
        assert set(runs.values()) == {1}, (name, runs)

        out = spark.read.parquet(str(work / f"{name}.out"))
        if algo == "cc":
            assert {r.vertex: r.component for r in out.collect()} == expected["cc"], name
        else:
            got = {r.vertex: r.rank for r in out.collect()}
            assert got.keys() == expected["pagerank"].keys(), name
            v = sorted(got)
            np.testing.assert_allclose(
                [got[x] for x in v], [expected["pagerank"][x] for x in v], rtol=1e-6, atol=0
            )
