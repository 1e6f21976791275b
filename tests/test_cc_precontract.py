"""CC must give the same labels on every input shape, including vertices
whose edges are split across partitions, with or without the
subcritical local finish."""

from __future__ import annotations

from ccl_spark.cc import connected_components
from ccl_spark.datagen import generate_pages
from ccl_spark.edges import page_edges


def _labels(df):
    return sorted((r.vertex, r.component) for r in df.collect())


def test_broadcast_threshold_and_local_finish_equal(spark):
    e = page_edges(generate_pages(spark, 300, seed=21)).repartition(7)
    base = _labels(connected_components(e, local_finish_threshold=0))
    # subcritical local finish (the default hybrid) agrees with the
    # pure-distributed fixpoint
    assert base == _labels(connected_components(e))


def test_precontract_cross_partition_chain(spark):
    # one long chain, one edge per partition: every merge crosses a
    # partition boundary
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    ).repartition(40)
    got = _labels(connected_components(chain, local_finish_threshold=0))
    assert got == [(i, 0) for i in range(41)]


def test_precontract_empty_and_isolated(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    iso = spark.createDataFrame([(5,)], "vertex long")
    got = _labels(connected_components(empty, vertices=iso))
    assert got == [(5, 5)]
