from __future__ import annotations

from pyspark.sql import functions as F

from ccl_spark.dedup import (
    minhash_index,
    near_duplicates,
    near_duplicates_fold,
)


# --------------------------------------------------------- MinHash fold


def _fold_docs(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    texts = {
        1: base + " a b",
        2: base + " c d",          # near-dup of 1
        3: "p q r s t u v w x y z",
        4: base + " e f",          # new batch: near-dup of 1 and 2
        8: base,                   # new batch: near-dup of all three
        12: "k l m n o p q r s",   # new batch: unrelated-ish
    }
    return spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )


def test_minhash_fold_equals_from_scratch(spark):
    docs = _fold_docs(spark)
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    sh, banded = minhash_index(old)
    pairs, all_sh, all_banded = near_duplicates_fold(sh, banded, new, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_duplicates(docs, threshold=0.5, pre_collapse=False).collect()
        if r.id_a % 4 == 0 or r.id_b % 4 == 0
    }
    assert got == full and got
    # the updated index equals a from-scratch index over old ∪ new
    sh2, banded2 = minhash_index(docs)
    assert all_sh.count() == sh2.count()
    assert all_sh.exceptAll(sh2).count() == 0
    assert all_banded.count() == banded2.count()
    assert all_banded.exceptAll(banded2).count() == 0


def test_minhash_fold_exact_dup_across_batches(spark):
    docs = spark.createDataFrame(
        [(1, "same text here okay"), (4, "same text here okay")],
        "doc_id long, text string",
    )
    sh, banded = minhash_index(docs.filter(F.col("doc_id") == 1))
    pairs, _, _ = near_duplicates_fold(
        sh, banded, docs.filter(F.col("doc_id") == 4), threshold=0.9
    )
    rows = pairs.collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0
    assert (rows[0].id_a, rows[0].id_b) == (1, 4)
