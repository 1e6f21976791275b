"""Checkpoint/resume (north rule: any run resumes mid-algorithm) and
the lineage/metrics table."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ccl_spark.cc import connected_components
from ccl_spark.datagen import generate_pages
from ccl_spark.edges import page_edges
from ccl_spark.pagerank import pagerank
from ccl_spark.superstep import SuperstepHarness
from tests.oracles import numpy_pagerank, union_find_components


def test_cc_resumes_from_checkpoint(spark, tmp_path):
    pages = generate_pages(spark, 150, seed=13)
    e = page_edges(pages).cache()
    exp = union_find_components([(r.src, r.dst) for r in e.collect()])

    root = str(tmp_path / "cc_run")
    h1 = SuperstepHarness(spark, root, algo="cc", run_id="r1", interval=1)
    # kill the run mid-algorithm by capping iterations below the fixpoint
    # (local_finish_threshold=0 keeps the multi-round distributed loop —
    # the default hybrid would converge a graph this small in one step)
    with pytest.raises(RuntimeError):
        connected_components(e, max_iter=1, harness=h1, local_finish_threshold=0)
    lineage = h1.lineage()
    steps_before = lineage.agg(F.max("superstep")).first()[0]
    assert steps_before == 0

    # a fresh harness over the same root resumes and completes
    h2 = SuperstepHarness(spark, root, algo="cc", run_id="r2", interval=1)
    got = {
        r.vertex: r.component
        for r in connected_components(e, harness=h2, local_finish_threshold=0).collect()
    }
    assert got == exp
    lineage = h2.lineage()
    # resumed run recorded supersteps strictly after the killed run's
    assert lineage.filter(F.col("run_id") == "r2").agg(F.min("superstep")).first()[0] >= 1
    cols = set(lineage.columns)
    assert {"run_id", "algo", "superstep", "partition_id", "rows", "changed", "delta", "wall_s", "rows_per_sec", "ts"} <= cols


def test_pagerank_resumes_from_checkpoint(spark, tmp_path):
    pages = generate_pages(spark, 150, seed=13)
    e = page_edges(pages).cache()
    exp = numpy_pagerank([(r.src, r.dst) for r in e.collect()])

    root = str(tmp_path / "pr_run")
    h1 = SuperstepHarness(spark, root, algo="pagerank", run_id="r1", interval=1)
    with pytest.raises(RuntimeError):
        pagerank(e, tol=1e-10, max_iter=3, harness=h1)

    h2 = SuperstepHarness(spark, root, algo="pagerank", run_id="r2", interval=1)
    got = {r.vertex: r.rank for r in pagerank(e, tol=1e-10, harness=h2).collect()}
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-6)


def test_pagerank_resume_rejects_mismatched_edges(spark, tmp_path):
    pages = generate_pages(spark, 150, seed=13)
    e = page_edges(pages).cache()
    root = str(tmp_path / "pr_sig")
    h1 = SuperstepHarness(spark, root, algo="pagerank", run_id="r1", interval=1)
    with pytest.raises(RuntimeError):
        pagerank(e, tol=1e-10, max_iter=3, harness=h1)  # leaves a checkpoint

    other = page_edges(generate_pages(spark, 150, seed=99))
    h2 = SuperstepHarness(spark, root, algo="pagerank", run_id="r2", interval=1)
    with pytest.raises(ValueError, match="does not match"):
        pagerank(other, tol=1e-10, harness=h2)

    # the matching edge table still resumes fine
    h3 = SuperstepHarness(spark, root, algo="pagerank", run_id="r3", interval=1)
    assert pagerank(e, tol=1e-10, harness=h3).count() > 0

    # a checkpoint without an input signature (as an older version
    # wrote them) cannot be checked, so it is not resumed
    os.remove(f"{root}/input_sig.json")
    h4 = SuperstepHarness(spark, root, algo="pagerank", run_id="r4", interval=1)
    with pytest.raises(ValueError, match="no input signature"):
        pagerank(e, tol=1e-10, harness=h4)


def test_pagerank_resume_rejects_mismatched_params(spark, tmp_path):
    """Same edge table but different recurrence (seeds supplied, or a
    different damping) must be rejected — resuming would silently
    continue a different power iteration (ADVICE r3)."""
    pages = generate_pages(spark, 150, seed=13)
    e = page_edges(pages).cache()
    root = str(tmp_path / "pr_params")
    h1 = SuperstepHarness(spark, root, algo="pagerank", run_id="r1", interval=1)
    with pytest.raises(RuntimeError):
        pagerank(e, tol=1e-10, max_iter=3, harness=h1)  # leaves a checkpoint

    h2 = SuperstepHarness(spark, root, algo="pagerank", run_id="r2", interval=1)
    with pytest.raises(ValueError, match="damping/seeds"):
        pagerank(e, tol=1e-10, harness=h2, seeds=[0, 1])

    h3 = SuperstepHarness(spark, root, algo="pagerank", run_id="r3", interval=1)
    with pytest.raises(ValueError, match="damping/seeds"):
        pagerank(e, tol=1e-10, harness=h3, damping=0.5)


def test_pagerank_resume_rederives_dangling_mass(spark, tmp_path):
    """Each step reads the dangling mass observed when the previous state
    was checkpointed; a resumed run re-derives it from the resumed
    state, so 3 iterations then a resume to 8 equal 8 uninterrupted
    iterations."""
    # a cycle-rich core plus dangling sinks 100..103
    e = spark.createDataFrame(
        [(i, (i * 7 + 3) % 30) for i in range(30)]
        + [(i, 100 + i % 4) for i in range(0, 30, 3)],
        "src long, dst long",
    )
    want = {r.vertex: r.rank for r in pagerank(e, tol=0.0, max_iter=8).collect()}

    root = str(tmp_path / "pr_dang")
    h1 = SuperstepHarness(spark, root, algo="pagerank", run_id="r1", interval=1)
    pagerank(e, tol=0.0, max_iter=3, harness=h1)
    h2 = SuperstepHarness(spark, root, algo="pagerank", run_id="r2", interval=1)
    got = {
        r.vertex: r.rank
        for r in pagerank(e, tol=0.0, max_iter=8, harness=h2).collect()
    }
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-12, abs=0.0)
    r2 = h2.lineage().filter(F.col("run_id") == "r2")
    assert r2.agg(F.min("superstep")).first()[0] == 3


def test_lpa_resumes_from_checkpoint(spark, tmp_path):
    """LPA resume replays the identical synchronous round sequence:
    a run killed by a low max_iter cap, resumed under a fresh harness,
    must equal a single uninterrupted run."""
    from ccl_spark.lpa import label_propagation

    pages = generate_pages(spark, 150, seed=13)
    e = page_edges(pages).cache()
    full = {
        r.vertex: r.label
        for r in label_propagation(e, max_iter=8, rounds_per_check=1).collect()
    }

    root = str(tmp_path / "lpa_run")
    h1 = SuperstepHarness(spark, root, algo="lpa", run_id="r1", interval=1)
    label_propagation(e, max_iter=2, rounds_per_check=1, harness=h1)  # partial
    assert h1.lineage().agg(F.max("superstep")).first()[0] == 1

    h2 = SuperstepHarness(spark, root, algo="lpa", run_id="r2", interval=1)
    got = {
        r.vertex: r.label
        for r in label_propagation(
            e, max_iter=8, rounds_per_check=1, harness=h2
        ).collect()
    }
    assert got == full
    assert (
        h2.lineage().filter(F.col("run_id") == "r2").agg(F.min("superstep")).first()[0]
        >= 2
    )


def test_hits_resumes_from_checkpoint(spark, tmp_path):
    """HITS resume: a run capped at 2 of 6 iterations, resumed under a
    fresh harness, equals one uninterrupted 6-iteration run."""
    from ccl_spark.hits import hits

    pages = generate_pages(spark, 120, seed=13)
    e = page_edges(pages).cache()
    full = {
        r.vertex: (round(r.hub, 9), round(r.authority, 9))
        for r in hits(e, max_iter=6).collect()
    }

    root = str(tmp_path / "hits_run")
    h1 = SuperstepHarness(spark, root, algo="hits", run_id="r1", interval=1)
    hits(e, max_iter=2, harness=h1)  # partial
    h2 = SuperstepHarness(spark, root, algo="hits", run_id="r2", interval=1)
    got = {
        r.vertex: (round(r.hub, 9), round(r.authority, 9))
        for r in hits(e, max_iter=6, harness=h2).collect()
    }
    assert got == full


def test_scc_resumes_from_checkpoint(spark, tmp_path):
    """SCC resume: a run killed after phase 0 (outer budget exhausted)
    resumes from the persisted label accumulator and completes to the
    identical labels (verdict r4 #7)."""
    from ccl_spark.scc import strongly_connected_components

    # two 3-cycles with a one-way bridge: phase 0 extracts {1,2,3},
    # phase 1 extracts {10,11,12} -> max_iter=1 dies mid-algorithm
    edges = [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 12), (12, 10)]
    e = spark.createDataFrame(edges, "src long, dst long").cache()
    full = {
        r.vertex: r.component for r in strongly_connected_components(e).collect()
    }

    root = str(tmp_path / "scc_run")
    h1 = SuperstepHarness(spark, root, algo="scc", run_id="r1", interval=1)
    with pytest.raises(RuntimeError, match="not done in 1 phases"):
        strongly_connected_components(e, max_iter=1, harness=h1)
    assert h1.lineage().agg(F.max("superstep")).first()[0] == 0

    h2 = SuperstepHarness(spark, root, algo="scc", run_id="r2", interval=1)
    got = {
        r.vertex: r.component
        for r in strongly_connected_components(e, harness=h2).collect()
    }
    assert got == full
    assert (
        h2.lineage().filter(F.col("run_id") == "r2").agg(F.min("superstep")).first()[0]
        >= 1
    )


def test_scc_resume_rejects_mismatched_edges(spark, tmp_path):
    from ccl_spark.scc import strongly_connected_components

    edges = [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 12), (12, 10)]
    e = spark.createDataFrame(edges, "src long, dst long")
    root = str(tmp_path / "scc_sig")
    h1 = SuperstepHarness(spark, root, algo="scc", run_id="r1", interval=1)
    with pytest.raises(RuntimeError):
        strongly_connected_components(e, max_iter=1, harness=h1)

    other = spark.createDataFrame([(5, 6), (6, 5)], "src long, dst long")
    h2 = SuperstepHarness(spark, root, algo="scc", run_id="r2", interval=1)
    with pytest.raises(ValueError, match="does not match"):
        strongly_connected_components(other, harness=h2)


def test_hits_resume_rejects_mismatched_edges(spark, tmp_path):
    """ADVICE r4: resuming a hits checkpoint against a different edge
    table must raise, not silently iterate the wrong graph."""
    from ccl_spark.hits import hits

    e = page_edges(generate_pages(spark, 120, seed=13)).cache()
    root = str(tmp_path / "hits_sig")
    h1 = SuperstepHarness(spark, root, algo="hits", run_id="r1", interval=1)
    hits(e, max_iter=2, harness=h1)  # partial

    other = page_edges(generate_pages(spark, 120, seed=99))
    h2 = SuperstepHarness(spark, root, algo="hits", run_id="r2", interval=1)
    with pytest.raises(ValueError, match="does not match"):
        hits(other, max_iter=6, harness=h2)

    # the matching edge table still resumes fine
    h3 = SuperstepHarness(spark, root, algo="hits", run_id="r3", interval=1)
    assert hits(e, max_iter=6, harness=h3).count() > 0


def test_lpa_resume_rejects_mismatched_edges(spark, tmp_path):
    """ADVICE r4: same guard for label propagation."""
    from ccl_spark.lpa import label_propagation

    e = page_edges(generate_pages(spark, 120, seed=13)).cache()
    root = str(tmp_path / "lpa_sig")
    h1 = SuperstepHarness(spark, root, algo="lpa", run_id="r1", interval=1)
    label_propagation(e, max_iter=2, harness=h1)  # partial

    other = page_edges(generate_pages(spark, 120, seed=99))
    h2 = SuperstepHarness(spark, root, algo="lpa", run_id="r2", interval=1)
    with pytest.raises(ValueError, match="does not match"):
        label_propagation(other, max_iter=8, harness=h2)


def test_record_costs_at_most_two_jobs(spark, tmp_path):
    """One checkpoint launches the state write and the lineage write and
    nothing else: no re-read of the state, no per-partition count job
    (row counts come from the written files' parquet footers)."""
    sc = spark.sparkContext
    state = spark.range(200).repartition(3).localCheckpoint(eager=True)
    h = SuperstepHarness(spark, str(tmp_path / "jobs"), algo="jobs", run_id="r1")
    sc.setJobGroup("superstep-record-jobs", "one SuperstepHarness.record call")
    try:
        out = h.record(superstep=0, df=state, changed=0, delta=0.0, timer=h.timer())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("superstep-record-jobs")) <= 2
    assert out is state
    assert h.latest()[0] == 1
    lineage = h.lineage().collect()
    assert sorted(r.partition_id for r in lineage) == [0, 1, 2]
    assert sum(r.rows for r in lineage) == 200
    assert {(r.superstep, r.run_id) for r in lineage} == {(0, "r1")}
