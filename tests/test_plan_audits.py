"""Physical-plan audits as tests — the scale discipline enforced, not
just documented (ARCHITECTURE.md "Plan audits"):

- predicate + projection pushdown reach the parquet scan;
- the extraction/graph hot paths contain NO row-at-a-time Python
  (``BatchEvalPython``) — only whole-stage-codegen JVM stages and,
  where data must cross into numpy, Arrow ``mapInPandas``;
- a small CC frontier's star rounds plan as broadcast joins without a
  hint.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ccl_spark.cc import connected_components
from ccl_spark.datagen import generate_pages
from ccl_spark.edges import page_edges
from ccl_spark.lpa import label_propagation
from ccl_spark.pagerank import pagerank


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_scan_pushdown(spark, tmp_path):
    path = str(tmp_path / "edges_pq")
    spark.createDataFrame(
        [(i, i + 1, i % 7) for i in range(100)], "src long, dst long, salt int"
    ).write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("src") == 5).select("dst")
    plan = _executed(df)
    assert "PushedFilters: [IsNotNull(src), EqualTo(src,5)]" in plan
    # column pruning: the scan reads only the filter + projection
    # columns, never the unused salt column
    assert "ReadSchema: struct<src:bigint,dst:bigint>" in plan
    assert "salt" not in plan


def test_extraction_is_jvm_only(spark):
    pages = generate_pages(spark, 50, seed=3)
    plan = _executed(page_edges(pages))
    # the extraction path must never fall back to row-at-a-time Python
    assert "BatchEvalPython" not in plan
    # link extraction itself is a JVM Generate over regexp_extract_all
    assert "regexp_extract_all" in plan
    # the only Python in the plan is the Arrow datagen synthesis stage
    assert plan.count("MapInPandas") == 1


def test_graph_iteration_plans_no_row_python(spark):
    e = spark.createDataFrame(
        [(i, (i + 1) % 30) for i in range(30)], "src long, dst long"
    )
    labels = connected_components(e, local_finish_threshold=0)
    ranks = pagerank(e, tol=0.0, max_iter=2)
    for df in (labels, ranks):
        assert "BatchEvalPython" not in _executed(df)


def test_cc_small_frontier_broadcasts(spark):
    """A tiny canonical (u > v) edge set with a size estimate: the
    planner broadcasts the star round's mins table on its own."""
    from ccl_spark.cc import large_star

    e = spark.range(20).select(
        (F.col("id") + 1).alias("u"), F.col("id").alias("v")
    )
    assert "BroadcastHashJoin" in _executed(large_star(e))


def test_asof_join_single_shuffle_no_python(spark):
    """asof_join's plan promise: ONE hash exchange (the keyed window),
    no pair-explosion join, no Python stage."""
    from ccl_spark.asof import asof_join

    left = spark.range(1000).selectExpr("id % 50 as k", "id as t", "id * 2 as x")
    right = spark.range(300).selectExpr(
        "id % 50 as k", "id * 3 as t", "cast(id as double) as v"
    )
    plan = _executed(asof_join(left, right, on="t", by="k"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_adamic_adar_no_pair_explosion_join(spark):
    """adamic_adar's wedge generation must stay an equi-join on the
    shared-witness key — never a cartesian / nested-loop pair join —
    and the whole plan stays JVM-side."""
    from ccl_spark.graphstats import adamic_adar

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 60) for i in range(200)], "src long, dst long"
    )
    plan = _executed(adamic_adar(edges, k=10))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_tfidf_broadcasts_corpus_size(spark):
    from ccl_spark.textops import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(20)], "doc_id long, text string"
    )
    plan = _executed(tfidf_top_terms(docs))
    # the corpus-size one-row frame joins in as a broadcast, never a
    # shuffled cross join; everything stays JVM-side
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_walks_step_is_keyed_joins_no_python(spark):
    from ccl_spark.walks import random_walks

    e = spark.createDataFrame(
        [(i, (i + 1) % 20) for i in range(20)], "src long, dst long"
    )
    plan = _executed(random_walks(e, walk_len=2, checkpoint=False))
    # per-step moves are hash equi-joins on the walk's current vertex;
    # no row-at-a-time Python, no nested-loop fallback
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_sketch_and_index_plans_jvm_only(spark):
    from ccl_spark.sketch import bloom_build, cms_build
    from ccl_spark.textops import inverted_index

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(30)], "doc_id long, text string"
    )
    keys = spark.createDataFrame([(i,) for i in range(30)], "key long")
    for df in (
        cms_build(docs),
        bloom_build(keys),
        inverted_index(docs),
    ):
        plan = _executed(df)
        # hash/bucket/posting paths are pure JVM expressions
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_funnel_plan_no_event_self_join_explosion(spark):
    import datetime

    from ccl_spark.analytics import funnel_conversion

    rows = [
        (i % 5, datetime.datetime(2024, 1, 1, 0, i % 60), t)
        for i, t in enumerate(["view", "click", "purchase"] * 30)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    plan = _executed(funnel_conversion(df, ["view", "click", "purchase"]))
    # per-step state is user-keyed aggregates joined on the user —
    # never an unkeyed event-table self join
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_skipgram_single_equijoin_no_python(spark):
    from ccl_spark.cooc import pmi_topk, skipgram_pairs

    docs = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(20)], "doc_id long, text string"
    )
    plan = _executed(skipgram_pairs(docs, window=2))
    # pair extraction is ONE hash equi-join on (doc_id, pos) — never a
    # per-document quadratic non-equi self-join, never row Python
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) == 1
    assert "BatchEvalPython" not in plan
    # PMI adds only marginal aggregates + one broadcast scalar
    pmi_plan = _executed(pmi_topk(docs, window=2, min_count=1, k=5))
    assert "BatchEvalPython" not in pmi_plan
    assert "BroadcastExchange" in pmi_plan


def test_negatives_vocab_is_broadcast(spark):
    from ccl_spark.cooc import negative_samples

    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([("a", "b")], "center string, context string")
    plan = _executed(negative_samples(pairs, docs, k=3))
    # the cumulative vocab table reaches the draws via a broadcast
    # (range-condition join), never a shuffle of the pair stream
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_hll_register_plan_is_one_aggregate(spark):
    from ccl_spark.sketch import hll_build

    df = spark.range(0, 100).selectExpr("id AS v")
    plan = _executed(hll_build(df, "v"))
    # one partial+final aggregate pair over a projection: exactly one
    # exchange, no Python, output bounded by m regardless of input
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_core_numbers_round_no_python(spark):
    from ccl_spark.kcore import core_numbers

    e = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], "src long, dst long"
    )
    assert "BatchEvalPython" not in _executed(core_numbers(e))


def test_triad_census_no_python_no_cartesian(spark):
    from ccl_spark.triangles import triad_census

    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 40) for i in range(40)] + [(1, 2), (2, 1)],
        "src long, dst long",
    )
    plan = _executed(triad_census(e))
    assert "BatchEvalPython" not in plan
    # the only cartesian products are the 1-row total/spine combines;
    # wedge + triangle enumeration must be hash equi-joins
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_host_quality_cuts_are_aggregate_not_window(spark):
    from ccl_spark.textops import host_quality_buckets

    docs = spark.createDataFrame(
        [(f"d{i}", f"h{i % 4}", "the cat sat on the mat " * 3) for i in range(12)],
        "doc_id string, host string, text string",
    )
    plan = _executed(host_quality_buckets(docs, id_col="doc_id"))
    assert "BatchEvalPython" not in plan
    # bucket assignment must come from a broadcast 1-row percentile
    # aggregate, never a global NTILE window (single-task sort at
    # scale); " ntile(" can't false-match "percentile("
    assert " ntile(" not in plan.lower()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_chunk_dedup_single_hash_window(spark):
    from ccl_spark.dedup import chunk_dedup_corpus

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta " * 2) for i in range(6)],
        "doc_id long, text string",
    )
    plan = _executed(chunk_dedup_corpus(docs))
    assert "BatchEvalPython" not in plan
    # exactly one window keyed by chunk_hash (first-occurrence pick);
    # the per-doc boundary cumsum window is keyed by doc_id
    assert plan.count("row_number") >= 1


def test_priority_sample_is_take_ordered(spark):
    from ccl_spark.sampling import priority_sample

    docs = spark.createDataFrame(
        [(i, float(i % 5 + 1)) for i in range(200)], "doc_id long, w double"
    )
    plan = _executed(priority_sample(docs, "w", 10))
    assert "BatchEvalPython" not in plan
    # the k+1 selection must be a partial per-partition top-k, never a
    # global sort of the corpus
    assert "TakeOrderedAndProject" in plan


def test_fuzzy_match_no_cartesian(spark):
    from ccl_spark.textops import fuzzy_match

    a = spark.createDataFrame([(f"term{i}",) for i in range(50)], "term string")
    plan = _executed(fuzzy_match(a, a))
    assert "BatchEvalPython" not in plan
    # candidates come from the block-key equi-join, not a cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_linkpred_eval_no_all_pairs(spark):
    from ccl_spark.graphstats import link_prediction_eval

    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 40) for i in range(80)], "src long, dst long"
    )
    plan = _executed(link_prediction_eval(e, k=5))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_nb_classify_is_broadcast_and_jvm_only(spark):
    """Naive Bayes classify: the corpus is touched once; the model
    joins are BROADCAST hash joins (vocab x classes is model-sized,
    never shuffled against the corpus) and nothing falls back to
    row-at-a-time Python."""
    from ccl_spark.textops import naive_bayes_classify, naive_bayes_train

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common", "en" if i % 2 else "de")
         for i in range(40)],
        "doc_id long, text string, lang string",
    )
    cs, tc, v = naive_bayes_train(docs)
    plan = _executed(naive_bayes_classify(docs, cs, tc, v, 40))
    assert "BatchEvalPython" not in plan
    # class list rides a broadcast nested-loop cross join; the model
    # counts a broadcast hash join; nothing sort-merge-joins the corpus
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_ddsketch_build_single_exchange(spark):
    """The sketch build is one groupBy — exactly one shuffle exchange
    over the value stream, everything else codegen."""
    from ccl_spark.sketch import ddsketch_build

    vals = spark.createDataFrame(
        [("g", float(i % 97) + 0.5) for i in range(500)], "grp string, value double"
    )
    plan = _executed(ddsketch_build(vals, "grp", "value"))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_lp_features_single_wedge_aggregate(spark):
    """All five link-prediction features come out of ONE wedge
    aggregate: the plan contains exactly one HashAggregate pair keyed
    on (u, v) — not one aggregation per feature."""
    from ccl_spark.graphstats import link_prediction_features

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 23) for i in range(60)], "src long, dst long"
    )
    plan = _executed(link_prediction_features(edges, k=10))
    # ONE aggregate computes all three wedge sums together
    assert "functions=[count(1), sum((1.0 / ln" in plan
    assert "BatchEvalPython" not in plan


def _jobs_in_group(spark, group: str, run) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pagerank_iteration_costs_at_most_three_jobs(spark, monkeypatch):
    """A PageRank iteration is one join of the augmented edge table with
    the rank state plus one aggregate, checkpointed with its metrics in
    the same job: 4 more iterations cost at most 12 more Spark jobs (the
    broadcast, the shuffle map and the checkpoint each). The dangling
    mass is an observed scalar, so no step plan holds a cartesian
    product or a nested-loop join."""
    from ccl_spark import superstep

    plans = []
    real = superstep.materialize

    def spy(df, *args, **kwargs):
        plans.append(_executed(df))
        return real(df, *args, **kwargs)

    monkeypatch.setattr(superstep, "materialize", spy)
    # a cycle-rich core plus dangling sinks 100..103, built from ranges so
    # the planner knows the input's size, as it does for a parquet scan
    # (rows parallelized from a Python list carry no size estimate, and
    # the join then falls back to the shuffled plan)
    core = spark.range(30).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 30).alias("dst")
    )
    sinks = spark.range(0, 30, 3).select(
        F.col("id").alias("src"), (F.col("id") % 4 + 100).alias("dst")
    )
    e = core.unionByName(sinks)
    jobs = {
        k: _jobs_in_group(
            spark, f"pagerank-jobs-{k}", lambda k=k: pagerank(e, tol=0.0, max_iter=k)
        )
        for k in (2, 6)
    }
    assert jobs[6] - jobs[2] <= 12, jobs
    assert any("Join" in p for p in plans)
    for p in plans:
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_lpa_round_job_count(spark):
    """An LPA round is one superstep: its joins and aggregates plus the
    checkpoint that carries the changed-label count measure 6 Spark
    jobs, so 4 more rounds cost at most 24 more jobs. The input is a
    40-vertex path built from a range (so the planner has a size
    estimate); synchronous LPA swaps labels along a path and never
    settles, so every one of the 6 rounds runs."""
    path = spark.range(39).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    jobs = {
        k: _jobs_in_group(
            spark, f"lpa-jobs-{k}", lambda k=k: label_propagation(path, max_iter=k)
        )
        for k in (2, 6)
    }
    assert jobs[6] - jobs[2] <= 24, jobs
