"""The superstep loop shared by the iterative graph algorithms, and its
checkpoint / lineage / resume harness.

The reference propagates its label translations in one loop over the
stack (ccl_marker_stack.py:1645-1685) and tracked per-stage wall time
in a global stopwatch, with no resume story — a crash re-ran the whole
stack. Here ``run_supersteps`` is that one loop for CC, PageRank and
LPA; each algorithm supplies only its step plan. The loop owns resume,
input pinning, one materialization per step, checkpointing, the stop
test and the end-of-budget outcome.

Every k-th superstep (``SuperstepHarness.interval``) persists the
iteration state to parquet together with per-partition lineage rows
(superstep, partition_id, rows, wall_s, changed, delta, ts), so a
killed run restarts from the latest complete superstep, and the
lineage table doubles as the metrics/convergence log. Lineage rows
exist only for the checkpointed steps, every ``interval``-th: a
step in between observes its ``changed`` / ``delta`` but writes no
row, so PageRank's per-step convergence record (the lineage
``delta``) is complete only at ``interval=1``. An every-step record
without a harness is ROADMAP direction 4.

Layout under ``root``::

    state/step=<n>/...parquet        iteration state at superstep n;
                                     complete once its _SUCCESS exists
    lineage/superstep=<n>/...parquet metrics rows of superstep n
    input_sig.json                   input signature + parameters

A step commits in three moves: the state files (without a marker),
then the step's lineage (overwritten, so a recomputed step replaces
it), then the state's ``_SUCCESS`` marker. A kill anywhere leaves
either a complete step or one that ``latest()`` skips and the resumed
run rewrites — state and lineage alike.

At 100 TB this is an Iceberg table append; parquet with the same
layout stands in for it here, and the write pattern (immutable
per-superstep snapshots + a per-step metrics log) is the one Iceberg
snapshots give for free.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

# a state write leaves no _SUCCESS: the harness writes the marker itself,
# after the step's lineage, to commit the step
_NO_MARKER = ("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")


def _fs_path(spark: SparkSession, path: str):
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    return jvm_path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm_path  # noqa: SLF001


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (works for any configured scheme)."""
    fs, p = _fs_path(spark, path)
    return fs.exists(p)


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small file from the driver (no Spark job)."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(text.encode())
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, p = _fs_path(spark, path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")  # noqa: SLF001
    finally:
        stream.close()


def signature_columns(cols: Sequence[str]) -> list[Column]:
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h"),
    ]


def edge_signature(df: DataFrame, *cols: str) -> tuple[int, int]:
    """Order-free exact signature of a row set: (count, xor of row
    hashes) — overflow-free and cheap; the identity check pinned next
    to iterative-job checkpoints (see pin_input_signature)."""
    row = df.agg(*signature_columns(cols)).first()
    return (row["n"], row["h"])


def materialize(
    df: DataFrame, metrics: Sequence[Column] = (), columns: Sequence[str] | None = None
) -> tuple[DataFrame, dict]:
    """Eagerly checkpoint ``df`` (projected to ``columns``) in ONE job;
    the aggregate ``metrics`` ride that job as an Observation
    (CollectMetrics in its own tasks), so no second job scans the
    checkpointed output. Returns the checkpoint and the metric values."""
    obs = Observation() if metrics else None
    if obs is not None:
        df = df.observe(obs, *metrics)
    if columns is not None:
        df = df.select(*columns)
    out = df.localCheckpoint(eager=True)
    return out, (obs.get if obs is not None else {})


def pin_input_signature(
    harness: "SuperstepHarness",
    resumed: object,
    sig: tuple[int, int],
    params: str,
    what: str,
) -> None:
    """Validate (on resume) or persist (on a fresh run) an order-free
    input signature plus a parameter string next to the harness root,
    so resuming a checkpoint against a different edge table — or a
    different recurrence — raises instead of silently continuing the
    wrong computation. A root holding a checkpoint but no signature
    (written by an older version) also raises: nothing proves it
    belongs to this input. The signature is a small driver-written
    file, so pinning costs no Spark job beyond computing ``sig``."""
    spath = f"{harness.root}/input_sig.json"
    if resumed is None:
        _write_text(
            harness.spark,
            spath,
            json.dumps({"n": int(sig[0]), "h": int(sig[1]), "params": params}),
        )
        return
    advice = "clear the harness root (or use a new one) to start fresh"
    if not fs_exists(harness.spark, spath):
        raise ValueError(
            f"{what} resume: the checkpoint at {harness.root} has no "
            f"input signature, so its input cannot be checked; {advice}"
        )
    s = json.loads(_read_text(harness.spark, spath))
    if (s["n"], s["h"]) != (sig[0], sig[1]):
        raise ValueError(
            f"{what} resume: the edges argument does not match the edge "
            f"table this checkpoint was built from ({harness.root}); {advice}"
        )
    if s["params"] != params:
        raise ValueError(
            f"{what} resume: parameters do not match the run this checkpoint "
            f"was built from ({harness.root}: stored={s['params']!r}, "
            f"requested={params!r}); {advice}"
        )


def run_supersteps(
    what: str,
    start: DataFrame,
    block: Callable[[DataFrame, dict], DataFrame],
    *,
    columns: Sequence[str],
    max_iter: int,
    metrics: Sequence[Column] = (),
    start_metrics: Sequence[Column] = (),
    stop: Callable[[dict, dict], bool] | None = None,
    harness: "SuperstepHarness | None" = None,
    pin: tuple[DataFrame, Sequence[str], str] | None = None,
    exhausted: str | None = None,
) -> DataFrame:
    """Iterate ``state -> block(state, prev)`` from ``start`` for up
    to ``max_iter`` steps and return the final state (``columns``).

    - ``block`` builds the lazy plan of one step; ``prev`` holds the
      previous step's metrics. It may carry extra columns that
      ``metrics`` read; they are dropped before the checkpoint.
    - Each step is materialized once (see ``materialize``) with the
      aggregate ``metrics`` observed in the same job; ``stop(m, prev)``
      on the result ends the loop. ``start_metrics``, when given, are
      observed on a materialization of the start state; a start state
      observed to hold no rows (``n == 0``) is already a fixpoint.
    - With a ``harness``: resume from its newest complete checkpoint,
      pin the input through ``pin`` = (rows, signature columns,
      parameter string), and record each step's state and lineage
      (step n, counted from 0, is superstep n; the harness keeps every
      ``interval``-th). Lineage ``changed`` and ``delta`` come from the
      metrics of those names (-1 / 0.0 when absent).
    - Running out of ``max_iter`` without ``stop`` raises
      ``RuntimeError(exhausted)`` when given, else returns the state.
    """
    it, state = 0, start
    resumed = harness.latest() if harness is not None else None
    if resumed is not None:
        it, state = resumed[0], resumed[1].select(*columns)
    if harness is not None and pin is not None:
        rows, cols, params = pin
        pin_input_signature(harness, resumed, edge_signature(rows, *cols), params, what)
    prev: dict = {}
    if start_metrics:
        state, prev = materialize(state, start_metrics)
    if prev.get("n") == 0:
        return state
    while it < max_iter:
        t0 = harness.timer() if harness is not None else None
        nxt, m = materialize(block(state, prev), metrics, columns)
        if harness is not None:
            nxt = harness.record(
                superstep=it,
                df=nxt,
                changed=m.get("changed", -1),
                delta=m.get("delta") or 0.0,
                timer=t0,
            )
        it += 1
        state = nxt
        if stop is not None and stop(m, prev):
            return state
        prev = m
    if exhausted is not None:
        raise RuntimeError(exhausted)
    return state


class SuperstepHarness:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        algo: str,
        run_id: str | None = None,
        interval: int = 1,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.algo = algo
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.interval = max(int(interval), 1)

    # -- timing ----------------------------------------------------------
    def timer(self) -> float:
        return time.monotonic()

    # -- state -----------------------------------------------------------
    def _state_path(self, step: int) -> str:
        return f"{self.root}/state/step={step}"

    def _rows_per_file(self, path: str) -> dict[int, int]:
        """{write partition: rows} from the footers of the parquet files
        the state write committed — read on the driver, no Spark job."""
        jvm = self.spark._jvm  # noqa: SLF001
        conf = self.spark._jsc.hadoopConfiguration()  # noqa: SLF001
        fs, p = _fs_path(self.spark, path)
        rows: dict[int, int] = {}
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if not name.startswith("part-"):
                continue
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
            )
            try:
                part = int(name.split("-")[1])
                rows[part] = rows.get(part, 0) + reader.getRecordCount()
            finally:
                reader.close()
        return rows

    def record(
        self,
        superstep: int,
        df: DataFrame,
        changed: int,
        delta: float,
        timer: float | None = None,
    ) -> DataFrame:
        """Persist state + lineage for a completed superstep (two Spark
        jobs: the state write and the lineage write); return ``df``."""
        wall = time.monotonic() - timer if timer is not None else float("nan")
        if superstep % self.interval != 0:
            return df
        path = self._state_path(superstep)
        df.write.mode("overwrite").option(*_NO_MARKER).parquet(path)
        rows = self._rows_per_file(path)
        total = sum(rows.values())
        rows_per_sec = total / wall if wall == wall and wall > 0 else float("nan")
        self.spark.createDataFrame(
            [
                (
                    self.run_id,
                    self.algo,
                    part,
                    n,
                    int(changed),
                    float(delta),
                    float(wall),
                    float(rows_per_sec),
                )
                for part, n in sorted(rows.items())
            ],
            "run_id string, algo string, partition_id int, rows long, "
            "changed long, delta double, wall_s double, rows_per_sec double",
        ).withColumn("ts", F.current_timestamp()).write.mode("overwrite").parquet(
            f"{self.root}/lineage/superstep={superstep}"
        )
        # the marker commits the step and holds the state's schema, so a
        # resume reads the state without a schema-inference job
        _write_text(self.spark, f"{path}/_SUCCESS", df.schema.json())
        return df

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/lineage")

    def latest(self):
        """(next superstep, state DataFrame) of the newest complete
        checkpoint, or None. Completeness is judged by the _SUCCESS
        marker, which ``record`` writes last."""
        fs, root = _fs_path(self.spark, f"{self.root}/state")
        if not fs.exists(root):
            return None
        steps = []
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if name.startswith("step="):
                step = int(name.split("=", 1)[1])
                if fs_exists(self.spark, f"{self._state_path(step)}/_SUCCESS"):
                    steps.append(step)
        if not steps:
            return None
        path = self._state_path(max(steps))
        schema = _read_text(self.spark, f"{path}/_SUCCESS")
        reader = self.spark.read
        if schema:  # empty: written by Spark's committer, in an older root
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return max(steps) + 1, reader.parquet(path)
