"""The benchmark workloads.

Each workload has a ``prepare`` half (numpy only: generate the seeded
input, write it as parquet, compute the oracle answer, cache both by
workload, size and seed) and an engine half that loads the parquet,
runs one repetition of the timed job through public ``ccl_spark``
functions inside tracer spans, and checks every output against the
oracle. Outputs are materialized (``localCheckpoint``) inside the span
of the call that produced them, so each module's work lands in its own
span and job group.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from ccl_spark import datagen

from linkbench import gen, oracles

# full sizes are what the benchmark measures, bounded by the run budget
# (one cold repetition of each workload must fit in about a minute with
# session start-up), not by the engine; tiny sizes back the smoke test
SIZES = {
    "web_crawl": {"full": 10_000, "tiny": 400},  # pages
    "slice_stack": {"full": (8, 96, 96), "tiny": (4, 24, 24)},  # slices, rows, cols
}
# PageRank runs a fixed number of power iterations (the engine's
# ``tol=0`` mode): iterations to 1e-6 vary with the seed's graph (18 to
# 24, and 39 or more on a few slowly mixing seeds), which would make the
# work per run depend on the seed; 21 is the common count at 1e-6
PR_ITERS = 21
PR_RTOL = 1e-6
LPA_ITERS = 5
# layer counters only a workload can supply (the rest come from the
# event log); each reads zero on workloads that do not produce it
EXTRA_LAYER_METRICS = (
    "edges.edges_out",
    "cc.components",
    "triangles.count",
    "pagerank.scale_eff",
    "superstep.steps",
    "superstep.state_mb",
    "superstep.lineage_rows",
    "superstep.latest_s",
    "superstep.steps_recomputed",
    "superstep.resume_s",
)


class CheckFailed(Exception):
    pass


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _compress(src: np.ndarray, dst: np.ndarray):
    """Sorted distinct endpoint ids and the edge list re-indexed onto
    them (the engine's vertex set is exactly the edge endpoints)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


# -- prepare: inputs + oracles (no engine import) ------------------------


def _cached(path: str, make) -> dict[str, np.ndarray]:
    if not os.path.exists(path):
        arrays = make()
        tmp = path + ".tmp.npz"
        np.savez(tmp, **arrays)
        os.replace(tmp, path)
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


def prepare(name: str, seed: int, size, cache: str) -> dict:
    """Write the workload's input parquet and return its paths plus the
    oracle arrays; both are cached under ``cache``."""
    os.makedirs(cache, exist_ok=True)
    if name == "slice_stack":
        ns, nr, nc = size
        st = gen.storm_field(ns, nr, nc, seed)
        path = gen.grid_parquet(cache, st, seed)

        def make():
            mask = oracles.threshold(st.value, st.lo)
            u, v = oracles.voxel_edges(mask)
            cells = np.flatnonzero(mask)
            comp = oracles.cc_labels(mask.size, u, v)[cells]
            pairs = np.unique(np.stack([comp, cells // (nr * nc)], 1), axis=0)
            age_c, age = np.unique(pairs[:, 0], return_counts=True)
            return {
                "cells": cells,
                "edge_key": np.sort(np.minimum(u, v) * mask.size + np.maximum(u, v)),
                "comp": comp,
                "age_c": age_c,
                "age": age,
                "size": np.unique(comp, return_counts=True)[1],
                "lo": np.array(st.lo),
                "hi": np.array(st.value.max()),
            }

        key = f"oracle-{name}-{ns}x{nr}x{nc}-s{seed}.npz"
        return {"grid": path, "shape": size, **_cached(os.path.join(cache, key), make)}

    path = gen.pages_parquet(cache, size, seed)

    def make():
        urls = [datagen.url_of(i, gen.n_hosts(size)) for i in range(size)]
        hid = oracles.xxhash64(urls)
        if len(np.unique(hid)) != len(hid):
            raise ValueError("url hash collision; choose another seed")
        src, dst = gen.page_links(size, seed)
        hs, hd = hid[src], hid[dst]
        order = np.lexsort((hd, hs))
        # vertex indices follow ascending id, so "smallest index" is
        # "smallest id" for the CC minimum and the LPA tie-break
        ids, s, d = _compress(hs, hd)
        n = len(ids)
        return {
            "src": hs[order],
            "dst": hd[order],
            "vertex": ids,
            "comp": ids[oracles.cc_labels(n, s, d)],
            "triangles": np.array(oracles.triangle_count(n, s, d)),
            "rank": oracles.pagerank(n, s, d, PR_ITERS),
            "label": ids[oracles.label_propagation(n, s, d, LPA_ITERS)],
        }

    key = f"oracle-{name}-n{size}-s{seed}-pr{PR_ITERS}.npz"
    data = {"pages": path, **_cached(os.path.join(cache, key), make)}
    data["edges"] = gen.edges_parquet(
        cache, f"edges-n{size}-s{seed}", data["src"], data["dst"]
    )
    return data


# -- checks ------------------------------------------------------------------


def _sorted_pdf(df, by):
    return df.toPandas().sort_values(by, kind="stable")


def check_labels(df, col: str, vertex: np.ndarray, want: np.ndarray, what: str):
    pdf = _sorted_pdf(df, "vertex")
    _expect(np.array_equal(pdf["vertex"].to_numpy(), vertex), f"{what}: vertex set")
    _expect(np.array_equal(pdf[col].to_numpy(), want), f"{what}: labels")
    return pdf


def check_ranks(df, d: dict):
    """Ranks after ``PR_ITERS`` iterations from the uniform start must
    match the oracle's iterate to a relative ``PR_RTOL`` and sum to 1."""
    pdf = _sorted_pdf(df, "vertex")
    _expect(np.array_equal(pdf["vertex"].to_numpy(), d["vertex"]), "pagerank: vertex set")
    got = pdf["rank"].to_numpy()
    _expect(abs(got.sum() - 1.0) < 1e-9, "pagerank: ranks do not sum to 1")
    _expect(np.allclose(got, d["rank"], rtol=PR_RTOL, atol=0.0), "pagerank: ranks")


# -- engine half -------------------------------------------------------------


@dataclass
class Call:
    """Outcome of one public call: ``ok`` is False when it raised
    unexpectedly or its output failed the oracle check."""

    name: str
    ok: bool
    error: str = ""


class Runner:
    """Runs repetitions of one workload's timed job. ``calls`` collects
    every public call's outcome; ``extra`` the workload-specific layer
    counters (summed over repetitions)."""

    def __init__(self, name: str, data: dict, tracer, work_dir: str):
        self.name, self.data, self.tr = name, data, tracer
        self.work_dir = work_dir
        self.calls: list[Call] = []
        self.pending: list = []
        self.after: list = []  # untimed work queued by a repetition
        self.extra: dict[str, float] = {}

    def _add(self, key: str, value: float) -> None:
        self.extra[key] = self.extra.get(key, 0.0) + value

    def load(self, spark) -> None:
        """Input materialization: open the parquet and count it."""
        if self.name == "slice_stack":
            self.grid = spark.read.parquet(self.data["grid"])
            self.grid.count()
        else:
            self.pages = spark.read.parquet(self.data["pages"])
            self.pages.count()

    def rep(self) -> None:
        """One repetition of the timed job (checks run after timing)."""
        getattr(self, "_" + self.name)()

    def _call(self, name: str, fn, check=None):
        """Run ``fn`` in the module span ``name``; then (untimed) run
        ``check`` on its result. A raise in ``fn`` propagates (the rest of
        the repetition cannot run); a failed check is recorded."""
        with self.tr.span(name.split(".")[0]):
            out = fn()
        self.pending.append((name, out, check))
        return out

    def run_checks(self) -> None:
        for name, out, check in self.pending:
            try:
                if check is not None:
                    check(out)
                self.calls.append(Call(name, True))
            except CheckFailed as e:
                self.calls.append(Call(name, False, str(e)))
        self.pending = []
        for fn in self.after:
            fn()
        self.after = []

    # web_crawl: pages -> page_edges -> connected_components ->
    # triangle_count -> pagerank(21 iterations) -> label_propagation(5)
    def _web_crawl(self) -> None:
        from ccl_spark.cc import connected_components
        from ccl_spark.edges import page_edges
        from ccl_spark.lpa import label_propagation
        from ccl_spark.pagerank import pagerank
        from ccl_spark.triangles import triangle_count

        d = self.data

        def check_edges(e):
            pdf = _sorted_pdf(e.select("src", "dst"), ["src", "dst"])
            self._add("edges.edges_out", len(pdf))
            _expect(
                np.array_equal(pdf["src"].to_numpy(), d["src"])
                and np.array_equal(pdf["dst"].to_numpy(), d["dst"]),
                "page_edges: edge set",
            )

        e = self._call(
            "edges.page_edges",
            lambda: page_edges(self.pages).localCheckpoint(eager=True),
            check_edges,
        )
        self._call(
            "cc.connected_components",
            lambda: connected_components(e).localCheckpoint(eager=True),
            lambda lab: self._check_cc(lab, d["vertex"], d["comp"]),
        )

        def check_triangles(n):
            self._add("triangles.count", n)
            _expect(n == int(d["triangles"]), "triangle_count")

        self._call("triangles.triangle_count", lambda: triangle_count(e), check_triangles)
        self._call(
            "pagerank.pagerank",
            lambda: pagerank(e, tol=0.0, max_iter=PR_ITERS).localCheckpoint(eager=True),
            lambda r: check_ranks(r, d),
        )
        self._call(
            "lpa.label_propagation",
            lambda: label_propagation(e, max_iter=LPA_ITERS).localCheckpoint(eager=True),
            lambda lab: check_labels(lab, "label", d["vertex"], d["label"], "lpa"),
        )

    def _check_cc(self, labels, vertex, comp) -> None:
        pdf = check_labels(labels, "component", vertex, comp, "cc")
        self._add("cc.components", pdf["component"].nunique())

    # slice_stack: grid -> threshold_cells -> voxel_edges -> cc (killed
    # after its distributed round, resumed from the checkpoint) -> ages/sizes
    def _slice_stack(self) -> None:
        from pyspark.sql import functions as F

        from ccl_spark.cc import connected_components
        from ccl_spark.components import ages, component_sizes
        from ccl_spark.grids import threshold_cells, voxel_edges

        d = self.data
        ns, nr, nc = d["shape"]
        vid = (F.col("slice_id").cast("long") * nr + F.col("row")) * nc + F.col("col")

        def check_cells(cells):
            got = np.sort(cells.select(vid.alias("v")).toPandas()["v"].to_numpy())
            _expect(np.array_equal(got, d["cells"]), "threshold_cells: foreground")

        def check_edges(e):
            key = F.least("src", "dst") * (ns * nr * nc) + F.greatest("src", "dst")
            got = np.sort(e.select(key.alias("k")).toPandas()["k"].to_numpy())
            _expect(np.array_equal(got, d["edge_key"]), "voxel_edges: edge set")

        cells = self._call(
            "grids.threshold_cells",
            lambda: threshold_cells(
                self.grid, float(d["lo"]), float(d["hi"]), nr, nc
            ).localCheckpoint(eager=True),
            check_cells,
        )
        e = self._call(
            "grids.voxel_edges",
            lambda: voxel_edges(cells, nr, nc).localCheckpoint(eager=True),
            check_edges,
        )
        verts = cells.select(vid.alias("vertex"))
        labels = self._crash_resume_cc(e, verts)
        snap = labels.select(
            F.expr(f"vertex div {nr * nc}").cast("int").alias("snapshot_id"), "component"
        )

        def check_sizes(s):
            got = np.sort(s.toPandas()["n_vertices"].to_numpy())
            _expect(np.array_equal(got, np.sort(d["size"])), "component_sizes")

        self._call(
            "components.ages",
            lambda: ages(snap).localCheckpoint(eager=True),
            lambda a: _expect(
                np.array_equal(
                    _sorted_pdf(a, "component")[["component", "age"]].to_numpy(),
                    np.stack([d["age_c"], d["age"]], 1),
                ),
                "ages",
            ),
        )
        self._call(
            "components.component_sizes",
            lambda: component_sizes(labels).localCheckpoint(eager=True),
            check_sizes,
        )

    def _crash_resume_cc(self, e, verts):
        """Connected components under a SuperstepHarness, crashed and
        resumed. The local-finish threshold is half the input edge count,
        so, as on an input far above the engine's default threshold, the
        run starts with distributed large-star/small-star rounds (two on
        these lattices) and ends with the local finish. The crash is an
        iteration cap of 1: the call stops with round 0 checkpointed; a
        fresh harness on the same root resumes at round 1."""
        from ccl_spark.cc import connected_components

        from linkbench.harness import TracedHarness

        d = self.data
        finish = len(d["edge_key"]) // 2
        root = os.path.join(self.work_dir, "harness-cc")
        shutil.rmtree(root, ignore_errors=True)

        def cc(harness, **kw):
            return connected_components(
                e, vertices=verts, harness=harness, local_finish_threshold=finish, **kw
            )

        spark = self.grid.sparkSession
        killed = TracedHarness(self.tr, spark, root, "cc", interval=1)
        self._call(
            "cc.killed",
            lambda: _crashes(lambda: cc(killed, max_iter=1), "no fixpoint"),
            lambda crashed: _expect(
                crashed and killed.last_step == 0,
                "cc did not stop at the crash point with round 0 checkpointed",
            ),
        )
        resumed = TracedHarness(self.tr, spark, root, "cc", interval=1)
        t0 = time.perf_counter()
        labels = self._call(
            "cc.resumed",
            lambda: cc(resumed).localCheckpoint(eager=True),
            lambda lab: self._check_cc(lab, d["cells"], d["comp"]),
        )
        self._add("superstep.resume_s", time.perf_counter() - t0)
        self._add("superstep.steps_recomputed", killed.last_step + 1 - resumed.start_step)
        self._add("superstep.steps", killed.steps + resumed.steps)
        self._add("superstep.latest_s", killed.latest_s + resumed.latest_s)
        self.after.append(lambda: self._harness_stats(resumed, root))
        return labels

    def _harness_stats(self, harness, root: str) -> None:
        self._add("superstep.lineage_rows", harness.lineage().count())
        self._add("superstep.state_mb", _du(root) / 1e6)
        shutil.rmtree(root, ignore_errors=True)

    def scale_eff(self, session, cores: int) -> float:
        """``(t_local1 / t_localN) / N`` for PageRank on this run's edge
        table: one run each in a fresh ``local[N]`` and a fresh
        ``local[1]`` session of the already warm JVM, the edge table
        read and checkpointed before the clock starts. Jobs run in the
        ``scale`` group, which no module counter includes."""
        from ccl_spark.pagerank import pagerank

        times, spark = [], self.pages.sparkSession
        for n in (cores, 1):
            spark.stop()
            spark = session(f"local[{n}]")
            spark.sparkContext.setJobGroup("scale", "scale", False)
            edges = spark.read.parquet(self.data["edges"]).localCheckpoint(eager=True)
            t0 = time.perf_counter()
            ranks = pagerank(edges, tol=0.0, max_iter=PR_ITERS).localCheckpoint(eager=True)
            times.append(time.perf_counter() - t0)
            self.pending.append((f"pagerank.local{n}", ranks, lambda r: check_ranks(r, self.data)))
            self.run_checks()
        return (times[1] / times[0]) / cores


def _crashes(run, message: str) -> bool:
    """The crash: ``run`` caps the iteration budget, so the call stops
    with checkpoints on disk and raises for not converging (a
    RuntimeError carrying ``message``). Converging instead means the
    crash tested nothing; any other error propagates."""
    try:
        run()
    except RuntimeError as e:
        if message not in str(e):
            raise
        return True
    return False


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
    )
