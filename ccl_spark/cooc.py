"""Word co-occurrence statistics: skipgram training pairs and PMI
collocations — the embedding-training prep stage of an LLM data
pipeline (word2vec-style (center, context) pair extraction, Mikolov
et al. 2013; pointwise mutual information per Church & Hanks 1990).

Reference scope: the reference engine's text path stops at per-page
token extraction (ccl/extract + tests); pair extraction over token
positions is the natural next stage for a corpus engine and is listed
in SURVEY §2's pipeline extensions.

Execution shape (100-TB story):
- tokens are posexploded once: (doc_id, pos, tok) — one narrow shuffle-
  free projection off the documents scan;
- context candidates are generated JVM-side as a 2·window array
  explode (pos ± off), then resolved by ONE hash equi-join on
  (doc_id, pos) — never a per-document quadratic self-join;
- pair counts are a map-side-combining groupBy on (center, context):
  Zipf skew on hot pairs is absorbed by the partial aggregation;
- PMI derives from the pair table alone (center/context marginals +
  one scalar total), so no second pass over the corpus; the scalar
  total joins in via a broadcast of one row.

Determinism: counts are exact integers; PMI is one double division +
one log, rounded to 6dp with a (score DESC, center ASC, context ASC)
tie-break so Spark and the SQL oracle select identical top-k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _positions(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, pos, tok) — whitespace tokens with their 0-based
    position (the same split(' ') tokenization as textops.token_count,
    so counts line up across the pipeline)."""
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )


def skipgram_pairs(
    docs: DataFrame,
    window: int = 2,
    min_count: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(center string, context string, cnt long)`` — co-occurrence
    counts of (center, context) token pairs within ``window`` positions
    of each other inside a document (both directions, the word2vec
    skipgram corpus).  ``min_count`` drops rare pairs."""
    toks = _positions(docs, id_col, text_col)
    offs = [o for o in range(-window, window + 1) if o != 0]
    cand = toks.select(
        "doc_id",
        F.col("tok").alias("center"),
        F.explode(F.array(*[F.col("pos") + F.lit(o) for o in offs])).alias("cpos"),
    )
    ctx = toks.select(
        "doc_id", F.col("pos").alias("cpos"), F.col("tok").alias("context")
    )
    return (
        cand.join(ctx, ["doc_id", "cpos"])
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def pmi_topk(
    docs: DataFrame,
    window: int = 2,
    min_count: int = 5,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations by pointwise mutual information
    PMI(a, b) = ln( P(a,b) / (P(a)·P(b)) ) computed over the skipgram
    pair table (marginals are the pair table's own row sums, the
    standard word2vec-context formulation).  Counts stay integer-exact
    until one double division + log; 6dp rounding + (pmi DESC, center,
    context) tie-break keeps the top-k engine-identical."""
    pairs = skipgram_pairs(
        docs, window=window, min_count=1, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=True)
    ca = pairs.groupBy("center").agg(F.sum("cnt").alias("ca"))
    cb = pairs.groupBy("context").agg(F.sum("cnt").alias("cb"))
    tot = pairs.agg(F.sum("cnt").cast("double").alias("t"))
    scored = (
        pairs.filter(F.col("cnt") >= min_count)
        .join(ca, "center")
        .join(cb, "context")
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            "cnt",
            F.round(
                F.log(
                    (F.col("cnt").cast("double") * F.col("t"))
                    / (F.col("ca").cast("double") * F.col("cb").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("center"), F.asc("context")
    ).limit(k)


def negative_samples(
    pairs: DataFrame,
    docs: DataFrame,
    k: int = 5,
    salt: str = "neg",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(center, context, i long, neg string)`` — k word2vec negative
    samples per (center, context) training pair, drawn from the corpus
    unigram distribution by deterministic md5 draws: draw i for a pair
    is ``md5(center|context|i|salt) mod total`` mapped through the
    unigram cumulative-count table (token intervals ordered by
    (cnt DESC, tok)).  Pure-function draws make the sample one specific
    set — reproducible across partitionings, retries, and engines (the
    SQL oracle replays it exactly), the same md5-draw trick as the
    DeepWalk walk corpus.

    Scale shape: the cumulative table is vocab-sized (min_count-capped
    upstream at corpus scale) and broadcast; each draw resolves by one
    broadcast interval probe, so the cost is O(pairs · k) with no
    shuffle beyond the pair table itself.  The unigram total is a
    single driver scalar (one agg).  Mikolov et al. 2013 draw from
    U(w)^0.75; this uses the raw counts so every weight stays integer-
    exact (the 3/4 power would break cross-engine bit-identity).
    """
    from pyspark.sql import Window

    toks = _positions(docs, id_col, text_col)
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("tok")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = uni.select(
        "tok",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long").alias("lo"),
    ).withColumn("hi", (F.col("lo") + F.col("cnt")).cast("long"))
    total = uni.agg(F.sum("cnt").cast("long").alias("t")).first()["t"]
    draws = pairs.select(
        "center",
        "context",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(k - 1).cast("long"))
        ).alias("i"),
    ).withColumn(
        "r",
        F.expr(
            f"cast(conv(substring(md5(concat(center, '|', context, '|',"
            f" cast(i as string), '|{salt}')), 1, 13), 16, 10) as bigint)"
            f" % cast({total} as bigint)"
        ),
    )
    return draws.join(
        F.broadcast(cum), (F.col("r") >= F.col("lo")) & (F.col("r") < F.col("hi"))
    ).select("center", "context", "i", F.col("tok").alias("neg"))


def textrank_keywords(
    docs: DataFrame,
    window: int = 2,
    n_iter: int = 4,
    k: int = 20,
    min_count: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the token co-occurrence graph, top-``k`` terms.

    Composition, not a new engine: the graph IS :func:`skipgram_pairs`
    (window co-occurrence counts, symmetric by construction), and the
    ranking IS :func:`ccl_spark.pagerank.pagerank` in fixed-iteration
    weighted mode (``tol=0`` so an external oracle can replay the
    identical sequence; rank splits over co-occurrence weight).

    Terms are dictionary-encoded to dense longs by sorted order before
    the iteration — integer keys shuffle cheaper than strings across
    ``n_iter`` rounds, and the dictionary is VOCABULARY-sized (≪
    corpus), so the single-partition ``row_number`` window that makes
    the encoding deterministic is a vocab-bounded sort, not a corpus
    sort.  The co-occurrence graph has no dangling vertices (pairs are
    symmetric), so the weighted update is pure edge-join arithmetic.

    Returns ``(keyword, rank)`` rounded to 6dp, deterministic
    (rank DESC, keyword ASC) top-k.
    """
    from pyspark.sql import Window

    from ccl_spark.pagerank import pagerank

    pairs = skipgram_pairs(
        docs, window=window, min_count=min_count, id_col=id_col, text_col=text_col
    )
    ids = (
        pairs.select(F.col("center").alias("term"))
        .distinct()
        .withColumn("vid", F.row_number().over(Window.orderBy("term")).cast("long"))
    )
    e = (
        pairs.join(ids.withColumnRenamed("term", "center"), "center")
        .withColumnRenamed("vid", "src")
        .join(
            ids.select(F.col("term").alias("context"), F.col("vid").alias("dst")),
            "context",
        )
        .select("src", "dst", F.col("cnt").cast("double").alias("w"))
    )
    pr = pagerank(e, tol=0.0, max_iter=n_iter, weight="w")
    return (
        pr.join(ids, pr["vertex"] == ids["vid"])
        .select(F.col("term").alias("keyword"), F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("keyword"))
        .limit(k)
    )
