"""Round-6 optimization pins: every rewrite that changed an operator's
internals is held to (a) value-identity with the shape it replaced and
(b) where the point was plan shape, a physical-plan audit."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window, functions as F

from ccl_spark import datagen as dg
from ccl_spark.walks import _dist_dense_rank


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- datagen vectorization: batch output == scalar spec --------------


def test_gen_batch_matches_scalar_spec():
    v, n_hosts, seed = 500, 10, 42
    ids = list(range(0, 500, 3))
    pdf = pd.DataFrame({"id": ids})
    got = list(dg._gen_batch(iter([pdf]), v, seed, n_hosts))[0]
    base_ts = pd.Timestamp("2026-01-05", tz="UTC")
    arr = np.array(ids, dtype=np.uint64)
    langs = [dg._LANGS[int(h % len(dg._LANGS))] for h in dg._hash(seed, arr, 4)]
    for j, i in enumerate(ids):
        main = dg.page_main_text(i, seed)
        foot = dg.host_footer(i % n_hosts, seed)
        text = f"{main}\n{foot}" if foot else main
        links = dg.out_links_anchored(i, v, seed, n_hosts)
        anchors = "".join(f'<a href="{u}">{a}</a>' for u, a in links)
        foot_p = f"<p>{foot}</p>" if foot else ""
        html = (
            f"<html><head><title>page {i}</title></head>"
            f"<body><p>{main}</p>{foot_p}{anchors}</body></html>"
        )
        row = got.iloc[j]
        assert row["url"] == dg.url_of(i, n_hosts)
        assert row["warc_ts"] == base_ts + pd.Timedelta(seconds=int(i % 86400))
        assert row["html"] == html.encode("utf-8")
        assert row["text"] == text
        assert row["lang"] == langs[j]


def test_gen_batch_empty_batch():
    out = list(dg._gen_batch(iter([pd.DataFrame({"id": []})]), 100, 42, 5))
    assert out[0].empty


# --- distributed dense rank == single-reducer dense rank -------------


def test_dist_dense_rank_matches_window(spark):
    rows = [(i, (i * 7919) % 23, (i * 104729) % 5) for i in range(400)]
    # NULL keys in either column: dense_rank ranks them (NULLS FIRST), so
    # the per-partition offsets must count them too
    rows += [(400 + i, None if i % 2 else i % 3, None if i % 3 else 1) for i in range(12)]
    df = spark.createDataFrame(rows, "pos long, r long, r2 long")
    want = df.select(
        "pos",
        F.dense_rank().over(Window.orderBy("r", "r2")).cast("long").alias("dr"),
    )
    got = _dist_dense_rank(df, ["r", "r2"], "dr").select("pos", "dr")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_dist_dense_rank_single_key(spark):
    df = spark.createDataFrame([(i, 1) for i in range(50)], "pos long, r long")
    out = _dist_dense_rank(df, ["r"], "dr").select("dr").distinct().collect()
    assert [r["dr"] for r in out] == [1]


def test_suffix_rank_no_single_partition_over_stream(spark):
    # the per-round ranking must never funnel the STREAM through one
    # task: the dense_rank window is keyed by the range-partition id,
    # and the only SinglePartition exchange in the plan is the offsets
    # window over ONE ROW PER PARTITION (the convergence-scalar class)
    df = spark.createDataFrame(
        [(i, f"t{i % 17}") for i in range(300)], "pos long, tok string"
    )
    plan = _executed(_dist_dense_rank(df, ["tok"], "r"))
    # per-partition rank: windowspec partition clause = [_pid#N]
    assert "dense_rank" in plan and "], [_pid#" in plan
    assert plan.count("Exchange SinglePartition") == 1
    assert "HashAggregate(keys=[_pid#" in plan  # what that exchange carries


# --- page_edges hash-first dedup == string-dedup-then-hash -----------


def test_page_edges_hash_first_identical(spark):
    from ccl_spark.edges import page_edges, url_id, with_salt
    from ccl_spark.extract import extract_link_pairs

    pages = generate_pages = dg.generate_pages(spark, 400, seed=11)
    new = page_edges(pages)
    pairs = extract_link_pairs(pages)
    old = with_salt(
        pairs.select(
            url_id(F.col("src_url")).alias("src"),
            url_id(F.col("dst_url")).alias("dst"),
        ).distinct(),
        64,
    )
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0


# --- shingles: map-side per-doc dedup == post-explode distinct -------


def test_shingles_matches_exploded_distinct(spark):
    from ccl_spark.dedup import shingles

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x x x x"), (3, "one two three"), (4, "")],
        "doc_id long, text string",
    )
    got = shingles(docs, n=2)
    grams = F.expr(
        "transform(sequence(1, greatest(size(split(text, ' ')) - 2 + 1, 1)),"
        " i -> concat_ws(' ', slice(split(text, ' '), i, 2)))"
    )
    want = docs.select(
        F.col("doc_id").alias("id"), F.explode(grams).alias("shingle")
    ).distinct()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


# --- lpa min_by argmax == row_number window argmax -------------------


def test_lpa_argmax_matches_window(spark):
    counts = spark.createDataFrame(
        [(1, 10, 3), (1, 11, 3), (1, 12, 2), (2, 20, 1), (2, 19, 1), (3, 5, 9)],
        "u long, label long, cnt long",
    )
    w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("label"))
    want = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("u").alias("vertex"), F.col("label").alias("new_label"))
    )
    got = counts.groupBy(F.col("u").alias("vertex")).agg(
        F.min_by("label", F.struct((-F.col("cnt")).alias("nc"), "label")).alias(
            "new_label"
        )
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


# --- bpe positions: word-offset form == row_number form --------------


def test_bpe_positions_match_rownumber(spark):
    from ccl_spark.textops import bpe_encode_docs, bpe_merges

    docs = spark.createDataFrame(
        [(1, "low lower lowest low"), (2, "new newer new"), (3, "low new")],
        "doc_id long, text string",
    )
    merges = [
        (r.lhs, r.rhs)
        for r in bpe_merges(docs, n_merges=3).orderBy("merge_rank").collect()
    ]
    out = bpe_encode_docs(docs, merges)
    # positions must be 0..n-1 dense per doc and follow (wpos, spos)
    per_doc = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.min("pos").alias("mn"), F.max("pos").alias("mx")
    )
    for r in per_doc.collect():
        assert r["mn"] == 0 and r["mx"] == r["n"] - 1
    # reassembling doc 1's tokens in pos order must spell its words'
    # segmentation in order (end markers delimit words)
    toks = [
        r["token"]
        for r in out.filter("doc_id = 1").orderBy("pos").collect()
    ]
    joined = "".join(toks).replace("</w>", " ").strip()
    assert joined == "low lower lowest low"


# --- edge_negatives: empty input, and no unpartitioned window --------


def test_edge_negatives_empty(spark):
    from ccl_spark.walks import edge_negatives

    empty = spark.createDataFrame([], "src long, dst long")
    assert edge_negatives(empty).count() == 0


def test_edge_negatives_no_single_partition_over_vertices(spark):
    from ccl_spark.walks import edge_negatives

    e = spark.createDataFrame(
        [(i, (i + 1) % 40) for i in range(40)], "src long, dst long"
    )
    plan = _executed(edge_negatives(e))
    # the vertex table is ranked behind a checkpoint (the distributed
    # two-job ranking); the candidate plan itself must not funnel V
    # through one task
    assert "Exchange SinglePartition" not in plan


# --- robots RFC fixes (ADVICE r5): case + multi-agent groups ---------


def test_robots_preserves_path_case_and_multiagent_groups(spark):
    from ccl_spark.frontier import parse_robots_rules, robots_filter

    robots = spark.createDataFrame(
        [
            # mixed-case path must be matched case-sensitively
            ("a.com", "User-Agent: *\nDisallow: /Private"),
            # wildcard stacked with another agent in ONE group
            ("b.com", "User-agent: *\nUser-agent: otherbot\nDisallow: /x"),
            # wildcard group ends before badbot's: /y is NOT wildcard
            ("c.com", "User-agent: *\nDisallow: /a\nUser-agent: badbot\nDisallow: /y"),
            # mixed-case host normalized for the join
            ("D.COM", "User-agent: *\nDisallow: /z"),
        ],
        "host string, body string",
    )
    rules = {(r.host, r.path_prefix) for r in parse_robots_rules(robots).collect()}
    assert rules == {
        ("a.com", "/Private"),
        ("b.com", "/x"),
        ("c.com", "/a"),
        ("d.com", "/z"),
    }
    urls = spark.createDataFrame(
        [
            ("https://a.com/Private/doc",),  # blocked (case preserved)
            ("https://a.com/private/doc",),  # allowed (different path)
            ("https://b.com/x/1",),          # blocked (stacked-agent group)
            ("https://c.com/y",),            # allowed (badbot-only rule)
            ("https://c.com/a",),            # blocked
            ("https://d.com/z",),            # blocked (host case-normalized)
        ],
        "url string",
    )
    kept = {r.url for r in robots_filter(urls, parse_robots_rules(robots)).collect()}
    assert kept == {"https://a.com/private/doc", "https://c.com/y"}
