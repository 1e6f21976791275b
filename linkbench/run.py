"""Link-graph benchmark: one workload, one seed, one JSON result line.

    python3 linkbench/run.py --workload web_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root (the engine package ``ccl_spark`` must sit
next to this directory). Each run is a fresh process driving a fresh
Spark session at ``local[<cores>]``; one driver thread issues one job
after another (a closed loop, nothing concurrent).

1. prepare: generate the seeded input and its oracle answer (numpy, in
   a child process so the oracle's memory is not charged to this
   driver); both are cached under ``linkbench/_cache``.
2. set-up (``setup_s``): start the JVM and a session, materialize the
   input, run a small warm-up. It runs once, cold, as every run is a
   fresh process; its spread is taken across runs.
3. measure: repeat the workload's job until ``--seconds`` of wall time
   have passed (at least once); every public call's output is checked
   against the oracle after its repetition, outside the timing.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also writes
a Spark event log, derives per-module counters from it and prints
those instead (see spans.py); on ``web_crawl`` it adds the
``local[N]``/``local[1]`` PageRank pair that ``pagerank.scale_eff`` needs.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("web_crawl", "slice_stack")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this driver process and by the JVM with
    its descendants (the Arrow Python workers), reaped children
    included."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    tree, frontier = {jvm_pid}, [jvm_pid]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    own = resource.getrusage(resource.RUSAGE_SELF)
    return sum(ticks.get(p, 0) for p in tree) / tick + own.ru_utime + own.ru_stime


def _warm_up(spark) -> None:
    """Touch the JVM paths every workload uses once: shuffle, join,
    aggregate and local checkpoint. (The engine's first Arrow Python
    worker starts inside the first timed repetition that needs one.)"""
    from pyspark.sql import functions as F

    df = spark.range(20_000).select((F.col("id") % 97).alias("k"), "id")
    agg = df.groupBy("k").agg(F.min("id").alias("m"))
    df.join(agg, "k").localCheckpoint(eager=True).count()


def _shutdown_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    from pyspark import SparkContext

    from linkbench import spans as tr
    from linkbench import workloads as wl

    from ccl_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    cache = HERE / "_cache"
    work = HERE / "_work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log_dir = work / "eventlog"
    log_dir.mkdir()
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    size = wl.SIZES[workload][scale]

    t_start = time.perf_counter()
    subprocess.run(
        [sys.executable, "-c", "import sys; from linkbench.workloads import SIZES, prepare; "
         "w = sys.argv[1]; prepare(w, int(sys.argv[2]), SIZES[w][sys.argv[3]], sys.argv[4])",
         workload, str(seed), scale, str(cache)],
        cwd=HERE.parent, check=True,
    )
    data = wl.prepare(workload, seed, size, str(cache))  # cache hit
    phases = {"prepare": time.perf_counter() - t_start}

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        conf.update(tr.event_log_conf(str(log_dir)))
    tracer = tr.Tracer(lambda: SparkContext._active_spark_context)
    runner = wl.Runner(workload, data, tracer, str(work))

    def session(master: str):
        return get_spark("linkbench", master=master, extra_conf=conf)

    try:
        t0 = time.perf_counter()
        with tracer.span("session"):
            spark = session(f"local[{cores}]")
            tracer.attach()
            runner.load(spark)
            _warm_up(spark)
        setup_s = phases["setup"] = time.perf_counter() - t0

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        reps, cpu = [], []
        t_measure = time.perf_counter()
        while not reps or time.perf_counter() - t_measure < seconds:
            c0 = _cpu_s(jvm_pid)
            t0 = time.perf_counter()
            try:
                runner.rep()
            except Exception as e:  # counted as a failed call; stop measuring
                traceback.print_exc()
                runner.calls.append(wl.Call(f"{workload}.rep", False, repr(e)))
            reps.append(time.perf_counter() - t0)
            cpu.append(_cpu_s(jvm_pid) - c0)
            runner.run_checks()
            if any(not c.ok for c in runner.calls):
                break
        phases["measure"] = time.perf_counter() - t_measure
        peak_rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0
        job_s = statistics.median(reps)
        # whole-job times, not rates per input edge: the job's time is
        # mostly per-Spark-job overhead, so dividing by the edge count
        # (a few % different per seed) added spread across seeds
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (job_s, "s"),
            "job_cpu_s": (statistics.median(cpu), "s"),
        }
        if trace:
            layer = {}
            if workload == "web_crawl":
                layer["pagerank.scale_eff"] = runner.scale_eff(session, cores)
            spark = SparkContext._active_spark_context
            spark.stop()  # flushes the event logs
            logs = [tr.read_event_log(str(p)) for p in sorted(log_dir.iterdir())]
            layer.update(
                tr.module_metrics(
                    logs, tracer.spans, cores,
                    {"session": 1, **{m: len(reps) for m in tr.MODULES[1:]}},
                )
            )
            for key in wl.EXTRA_LAYER_METRICS:
                layer.setdefault(key, runner.extra.get(key, 0.0) / len(reps))
            layer["trace.job_s"] = job_s
            layer["trace.reps"] = len(reps)
            layer["process.peak_rss_mb"] = peak_rss_mb
            metrics = {k: (v, _unit(k)) for k, v in layer.items()}
    finally:
        t0 = time.perf_counter()
        _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        phases["shutdown"] = time.perf_counter() - t0

    for c in runner.calls:
        if not c.ok:
            print(f"FAILED {c.name}: {c.error}", file=sys.stderr)
    print(
        f"{workload} seed={seed} reps={[round(r, 2) for r in reps]} job_s={job_s:.3f} "
        f"job_cpu_s={statistics.median(cpu):.3f} "
        f"phases={ {k: round(v, 1) for k, v in phases.items()} }",
        file=sys.stderr,
    )
    # every repetition records at least one call (or its own failure)
    failed = sum(not c.ok for c in runner.calls)
    return {
        "correct": failed == 0,
        "attempted": len(runner.calls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _unit(name: str) -> str:
    metric = name.split(".", 1)[1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric in ("busy_frac", "skew", "scale_eff"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the smoke test")
    args = p.parse_args(argv)
    sys.path.insert(0, str(HERE.parent))
    try:
        import ccl_spark.session  # noqa: F401
    except ImportError as e:
        print(f"linkbench: the engine is not importable: {e}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
