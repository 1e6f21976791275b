"""Deduplication operators for webtext corpora.

- exact:   content-hash groupBy (one shuffle on the hash)
- minhash: word-shingle MinHash signatures + banded LSH bucketing;
  candidate pairs verified with exact n-gram Jaccard
- simhash: 64-bit near-dup fingerprint (per-bit weighted majorities)

Scale shape: signatures are ONE wide groupBy over the exploded shingle
table (n_hashes min-aggregates computed in a single shuffle, map-side
partial); LSH banding turns the quadratic all-pairs problem into
equi-join buckets — the only pairs ever materialized are same-bucket,
and the verify join touches only candidates. This is the standard
MinHash/LSH decomposition (Broder; Leskovec et al., Mining of Massive
Datasets) expressed as DataFrame ops.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(text_hash, n_docs, keep_doc_id, doc_ids) for groups with >1 doc."""
    return (
        docs.select(
            F.md5(F.col(text_col).cast("binary")).alias("text_hash"),
            F.col(id_col).cast("long").alias("id"),
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("id").alias("keep_doc_id"),
            F.sort_array(F.collect_list("id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) distinct word n-grams — JVM higher-order functions.

    Dedup is per-document (``id`` is unique per input row), so it runs
    map-side as ``array_distinct`` BEFORE the explode — identical rows
    to a post-explode ``distinct()`` with zero exchange (the corpus-wide
    shingle-string shuffle was the dominant cost of the MinHash
    pipeline; guide §2.4)."""
    grams = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(split({text_col}, ' ')) - {n} + 1, 1)),"
        f" i -> concat_ws(' ', slice(split({text_col}, ' '), i, {n}))))"
    )
    return docs.select(
        F.col(id_col).cast("long").alias("id"), F.explode(grams).alias("shingle")
    )


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 32
) -> DataFrame:
    """(id, sig array<long>) — one wide groupBy; hash family k is
    xxhash64 seeded by a literal column."""
    aggs = [
        F.min(F.xxhash64(F.lit(k), F.col("shingle"))).alias(f"h{k}")
        for k in range(n_hashes)
    ]
    wide = sh.groupBy("id").agg(*aggs)
    return wide.select("id", F.array(*[F.col(f"h{k}") for k in range(n_hashes)]).alias("sig"))




def _banded(sigs: DataFrame, bands: int) -> DataFrame:
    return sigs.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands} - 1),"
                f" b -> xxhash64(b, to_json(slice(sig, b * (size(sig) div {bands}) + 1,"
                f" size(sig) div {bands}))))"
            )
        ).alias("band", "bucket"),
    )


def cap_buckets(
    banded: DataFrame, max_bucket: int, keys: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split a (…, bucket-member) table into (kept, dropped-bucket stats).

    A same-bucket self-join is O(|bucket|^2): one degenerate bucket
    (boilerplate pages, empty docs) with 10^6 members would emit 10^12
    pair rows. Standard MMDS practice is to skip buckets above a size
    cap and account for them — ``dropped`` is the tiny per-bucket stats
    table (keys + n_members) for logging/metrics."""
    keys = keys or ["band", "bucket"]
    sizes = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_members"))
    ok = sizes.filter(F.col("n_members") <= max_bucket).select(*keys)
    dropped = sizes.filter(F.col("n_members") > max_bucket)
    return banded.join(ok, keys, "left_semi"), dropped


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 8, max_bucket: int | None = 100_000
) -> DataFrame:
    """Band the signature, bucket by band hash, emit same-bucket pairs
    (id_a < id_b). rows_per_band = len(sig) / bands. Buckets larger
    than ``max_bucket`` are skipped (see cap_buckets)."""
    banded = _banded(sigs, bands)
    if max_bucket is not None:
        banded, _ = cap_buckets(banded, max_bucket)
    a = banded.select(F.col("band"), F.col("bucket"), F.col("id").alias("id_a"))
    b = banded.select(F.col("band"), F.col("bucket"), F.col("id").alias("id_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard for given candidate pairs:
    (id_a, id_b, n_inter, n_union, jaccard).

    The shingle table is first restricted to ids that occur in
    ``pairs`` (semi-joins — identical results: other ids can never
    reach the output), so the heavy shingle-string exchanges of the
    verify joins carry only candidate documents, not the corpus."""
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = sh.join(ids, "id", "left_semi")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("id").alias("id_a"), "shingle")
    sb = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            (F.col("n_a") + F.col("n_b") - F.coalesce("n_inter", F.lit(0))).alias("n_union"),
            F.round(
                F.coalesce("n_inter", F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce("n_inter", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def collapse_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One representative (min id) per distinct text. Pre-collapsing
    exact duplicates before LSH is the first line of bucket-blowup
    defense: a corpus with 10^6 copies of one boilerplate page becomes
    a single LSH member (exact-dup groups are reported separately by
    exact_duplicates)."""
    return docs.groupBy(F.col(text_col).alias("text")).agg(
        F.min(F.col(id_col).cast("long")).alias("id")
    )


def near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket: int | None = 100_000,
    pre_collapse: bool = True,
    log_dropped: bool = True,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup: collapse exact dups -> shingle
    -> sign -> band -> candidates (bucket-capped) -> exact-Jaccard
    verify -> pairs above threshold. With ``pre_collapse`` the pair ids
    are the min-doc_id representatives of each distinct text."""
    if pre_collapse:
        reps = collapse_exact(docs, id_col, text_col)
        sh = shingles(reps, "id", "text", n).localCheckpoint(eager=True)
    else:
        sh = shingles(docs, id_col, text_col, n).localCheckpoint(eager=True)
    banded = _banded(minhash_signatures(sh, n_hashes), bands)
    if max_bucket is not None:
        if log_dropped:
            # materialize the banded table once so the dropped-bucket
            # count below doesn't re-execute the whole signature
            # pipeline as a second job (|docs| x bands small rows —
            # cheap to pin relative to recomputing 32 minhashes)
            banded = banded.localCheckpoint(eager=True)
        banded, dropped = cap_buckets(banded, max_bucket)
        if log_dropped:
            n_drop = dropped.count()
            if n_drop:
                import logging

                logging.getLogger(__name__).warning(
                    "near_duplicates: skipped %d oversized LSH buckets (> %d members)",
                    n_drop,
                    max_bucket,
                )
    a = banded.select("band", "bucket", F.col("id").alias("id_a"))
    b = banded.select("band", "bucket", F.col("id").alias("id_b"))
    cands = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        # materialized so jaccard_pairs' candidate-id semi-filter (and
        # its sa/sb joins) never re-run the signature/banding pipeline
        .distinct()
        .localCheckpoint(eager=True)
    )
    return jaccard_pairs(sh, cands).filter(F.col("jaccard") >= threshold)


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Collapse verified near-dup PAIRS into transitive dup CLUSTERS
    with a keep-set: ``(cluster_id, doc_id, keep)`` for every doc that
    appears in at least one pair. ``cluster_id`` is the canonical
    minimum doc id of the cluster and ``keep=1`` marks that one
    representative (min-id wins — deterministic at any parallelism),
    so ``filter(keep == 0)`` is exactly the removal list a training-
    data dedup pass applies to the corpus.

    This composes the pair-emitting operators (near_duplicates,
    simhash_near_pairs, embedding_near_duplicates) with the alternating-
    star union-find (cc.connected_components): A~B and B~C land in one
    cluster {A, B, C} even when A and C were never directly compared —
    the reference's merge/fork equivalence closure
    (ccl_marker_stack.py:484-530) applied to the pipeline's flagship
    dedup job. Scale shape: the pair table is tiny relative to the
    corpus (only verified dups), so the closure converges in a handful
    of star rounds; the output joins back to the corpus on doc_id."""
    from .cc import connected_components

    comp = connected_components(pairs, src=id_a, dst=id_b)
    return comp.select(
        F.col("component").alias("cluster_id"),
        F.col("vertex").alias("doc_id"),
        (F.col("vertex") == F.col("component")).cast("long").alias("keep"),
    )


def dedup_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **near_dup_kwargs,
) -> DataFrame:
    """End-to-end corpus dedup: near-dup pairs -> transitive clusters ->
    keep the min-id representative of each cluster plus every unpaired
    doc. Returns the deduplicated ``docs`` (same schema). Exact dups are
    collapsed inside near_duplicates (pre_collapse), so the pair ids
    are representatives already; docs whose text matches a removed
    representative are dropped via their text hash."""
    reps = collapse_exact(docs, id_col, text_col)  # (id = min doc per text, text)
    pairs = near_duplicates(docs, id_col, text_col, **near_dup_kwargs)
    drop = dup_clusters(pairs).filter(F.col("keep") == 0).select(
        F.col("doc_id").alias("id")
    )
    keep_ids = reps.join(drop, "id", "left_anti").select(
        F.col("id").alias(id_col)
    )
    # exact dups fall out too: only each text's min-id doc is a rep
    return docs.join(keep_ids, id_col, "left_semi")


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    threshold: float = 0.9,
    max_df: int | None = None,
    log_dropped: bool = True,
) -> DataFrame:
    """Substring-CONTAINMENT near-dup pairs — the asymmetric case
    Jaccard misses: a short doc quoted/embedded inside a long one has
    ``C(A,B) = |grams(A) ∩ grams(B)| / |grams(A)|`` near 1 while
    Jaccard stays near |A|/|B|. Returns
    ``(id_a, id_b, containment_a, containment_b)`` for ordered pairs
    (id_a < id_b) where EITHER direction reaches ``threshold`` —
    containment_a = fraction of A's char k-grams present in B.

    Shape: distinct whitespace-normalized char k-grams per doc, then an
    INVERTED-INDEX equi-join on the gram (only docs sharing a gram ever
    pair; work is sum over grams of df^2). On a web corpus the df
    distribution is Zipfian — boilerplate grams have huge df and
    quadratic bucket cost — so the scale path sets ``max_df`` to skip
    (and log) grams above it, exactly the cap_buckets defense the LSH
    operators use; ubiquitous grams carry no containment signal. With
    ``max_df=None`` the result is exact, which is what the driver-gate
    `containment` query checks against a DuckDB all-pairs oracle; at
    100 TB you would additionally xxhash64 the gram strings to shrink
    the shuffle (string grams kept here so the oracle shares no hash)."""
    grams = F.expr(
        f"transform(sequence(1, greatest(length(lower(regexp_replace({text_col},"
        f" '\\\\s+', ' '))) - {k} + 1, 1)),"
        f" i -> substring(lower(regexp_replace({text_col}, '\\\\s+', ' ')), i, {k}))"
    )
    g = (
        docs.select(F.col(id_col).cast("long").alias("id"), F.explode(grams).alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = g.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    if max_df is not None:
        g, dropped = cap_buckets(g, max_df, keys=["g"])
        if log_dropped:
            n_drop = dropped.count()
            if n_drop:
                import logging

                logging.getLogger(__name__).warning(
                    "containment_pairs: skipped %d grams with df > %d", n_drop, max_df
                )
    a = g.select(F.col("id").alias("id_a"), "g")
    b = g.select(F.col("id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    ca = F.round(F.col("n_inter").cast("double") / F.col("n_a"), 6)
    cb = F.round(F.col("n_inter").cast("double") / F.col("n_b"), 6)
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", ca.alias("containment_a"), cb.alias("containment_b"))
        .filter(
            (F.col("containment_a") >= threshold) | (F.col("containment_b") >= threshold)
        )
    )


def duplicated_ngrams(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated word-n-gram marking — the train-set
    decontamination / corpus-level n-gram dedup shape (GPT-3 appendix C
    overlap check; MassiveText 13-gram dedup): an n-gram is *shared*
    when it occurs in more than one document, and each document reports
    how much of it is covered by shared n-grams.

    Distinct (doc, gram) pairs shuffle on the 128-bit md5 of the gram,
    so shuffle bytes are bounded by the hash width, never the gram
    text; the per-gram document count is a partial-aggregating groupBy
    (hot boilerplate grams combine map-side). Nothing here is
    quadratic — cost is linear in total gram occurrences. Returns
    ``(doc_id, n_grams, n_shared, shared_frac)`` for every document
    (zero-gram docs report 0)."""
    from .textops import _word_ngrams

    base = docs.select(F.col(id_col).cast("long").alias(id_col))
    grams = (
        docs.select(
            F.col(id_col).cast("long").alias(id_col),
            F.explode(_word_ngrams(text_col, n)).alias("gram"),
        )
        .select(id_col, F.md5(F.col("gram")).alias("gh"))
        .distinct()
    )
    by_gram = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        grams.join(by_gram, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        F.round(
            F.coalesce("n_shared", F.lit(0)).cast("double")
            / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
            6,
        ).alias("shared_frac"),
    )


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over tokens: bit b of the fingerprint is the
    majority vote of bit b across token hashes."""
    toks = (
        docs.select(F.col(id_col).cast("long").alias("id"),
                    F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    wide = toks.groupBy("id").agg(*votes)
    fp = reduce(
        lambda acc, b: acc + F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(bits - 1),  # bit 63 would overflow signed long; keep 63 bits
        F.lit(0).cast("long"),
    )
    return wide.select(F.col("id").alias(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Candidate pairs with Hamming distance <= max_hamming, found by
    4-piece pigeonhole bucketing (any pair within distance 3 agrees on
    at least one 16-bit piece). Oversized buckets are skipped (see
    cap_buckets) — identical fingerprints should be pre-collapsed."""
    pieces = fps.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.posexplode(
            F.expr("transform(sequence(0, 3), p -> shiftright(simhash, p * 16) & 65535)")
        ).alias("piece", "val"),
    )
    if max_bucket is not None:
        pieces, _ = cap_buckets(pieces, max_bucket, keys=["piece", "val"])
    a = pieces.select("piece", "val", F.col("id").alias("id_a"), F.col("simhash").alias("fa"))
    b = pieces.select("piece", "val", F.col("id").alias("id_b"), F.col("simhash").alias("fb"))
    cand = (
        a.join(b, ["piece", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fa", "fb")
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def contamination(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination overlap (GPT-3 appendix C; the
    train-test leakage check every LLM data pipeline runs before
    training): for every (document, benchmark item) pair sharing at
    least one word ``n``-gram, report the shared distinct-gram count
    and the fraction of the benchmark item's grams the document
    covers — ``bench_frac == 1.0`` means the eval item is wholly
    embedded in the training doc.

    Shape at scale: the benchmark side is tiny by definition, so its
    distinct gram hashes broadcast; the corpus side is ONE gram
    explode + distinct and the join touches only grams that appear in
    the benchmark (Catalyst pushes the broadcast semi-join below the
    corpus distinct).  Grams travel as md5 — shuffle bytes bounded by
    the hash width.  Returns
    ``(doc_id, bench_id, n_shared, bench_frac)``.
    """
    from .textops import _word_ngrams

    bgrams = (
        bench.select(
            F.col(bench_id_col).cast("long").alias("bench_id"),
            F.explode(_word_ngrams(bench_text_col, n)).alias("gram"),
        )
        .select("bench_id", F.md5(F.col("gram")).alias("gh"))
        .distinct()
    )
    btotal = bgrams.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("n_bench_grams")
    )
    dgrams = (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(_word_ngrams(text_col, n)).alias("gram"),
        )
        .select("doc_id", F.md5(F.col("gram")).alias("gh"))
        .distinct()
    )
    return (
        dgrams.join(F.broadcast(bgrams), "gh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .join(F.broadcast(btotal), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_bench_grams"), 6
            ).alias("bench_frac"),
        )
    )


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable MinHash-LSH index of a corpus:
    ``(shingle_table, banded_table)`` — exactly the two relations
    :func:`near_duplicates_fold` needs to fold future crawl batches in
    without re-scanning this corpus.  Shingle rows carry the verify
    evidence; banded rows carry the candidate-generation keys."""
    sh = shingles(docs, id_col, text_col, n).localCheckpoint(eager=True)
    banded = _banded(minhash_signatures(sh, n_hashes), bands).localCheckpoint(
        eager=True
    )
    return sh, banded


def near_duplicates_fold(
    index_shingles: DataFrame,
    index_banded: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket: int | None = 100_000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """INCREMENTAL MinHash-LSH dedup (the crawl-batch shape, verdict-r4
    incremental-CC analog): fold a batch of new documents into a
    persisted index from :func:`minhash_index` and return the verified
    near-dup pairs touching the batch plus the updated index —
    ``(pairs, new_shingles, new_banded)``.

    Cost per batch: shingle + sign the BATCH only, one band-bucket
    equi-join whose probe side is batch-sized, and exact-Jaccard
    verification of the candidate pairs.  The bucket cap is applied
    over the COMBINED banded table (counts only — no old-corpus
    rescan), so capping decisions match a from-scratch run on
    old∪new.  No exact-dup pre-collapse: representative choice is
    batch-order-dependent, so the fold keeps raw ids (identical texts
    simply verify at jaccard 1.0).

    Equivalence contract (pinned by tests and the winnow_fold-style
    gate oracle): pairs == from-scratch
    ``near_duplicates(old∪new, pre_collapse=False)`` restricted to
    pairs with at least one batch id, whenever the LSH band recall
    covers the threshold (identical signatures -> identical buckets,
    so the fold sees exactly the candidates the full run sees among
    batch-touching pairs).
    """
    shn = shingles(new_docs, id_col, text_col, n).localCheckpoint(eager=True)
    bn = _banded(minhash_signatures(shn, n_hashes), bands).localCheckpoint(
        eager=True
    )
    all_banded = index_banded.unionByName(bn)
    if max_bucket is not None:
        keep = (
            all_banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("m"))
            .filter(F.col("m") <= max_bucket)
            .select("band", "bucket")
        )
        probe_new = bn.join(keep, ["band", "bucket"])
        probe_all = all_banded.join(keep, ["band", "bucket"])
    else:
        probe_new, probe_all = bn, all_banded
    cands = (
        probe_new.select("band", "bucket", F.col("id").alias("id_n"))
        .join(
            probe_all.select("band", "bucket", F.col("id").alias("id_o")),
            ["band", "bucket"],
        )
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .distinct()
        # materialized so jaccard_pairs' candidate-id semi-filter and
        # verify joins don't re-run the band probe joins
        .localCheckpoint(eager=True)
    )
    all_sh = index_shingles.unionByName(shn)
    pairs = jaccard_pairs(all_sh, cands).filter(F.col("jaccard") >= threshold)
    return pairs, all_sh, all_banded


def _cdc_chunks_text(
    docs: DataFrame,
    n: int = 4,
    boundary_mod: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the rabin/rolling-hash storage-dedup
    discipline, here over word streams): a chunk boundary falls AFTER
    token position p whenever the md5 draw of the ``n``-gram ending at
    p hits ``% boundary_mod == 0`` — boundaries move with content, not
    offsets, so an insertion early in a document only rewrites the
    chunk it lands in (the property fixed-size chunking lacks).

    One gram explode + the md5 coin + a per-doc running boundary count
    (window cumulative sum keyed by the document — partition bounded
    by one doc's grams) + a (doc, chunk) string rollup.  Returns
    ``(doc_id, chunk_idx, chunk_hash, n_tokens)`` where ``chunk_hash``
    is the md5 of the chunk's token run — join on it across documents
    for chunk-level dedup.
    """
    from pyspark.sql import Window
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    from .textops import _word_ngrams

    grams = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(_word_ngrams(text_col, n)).alias("pos", "gram"),
    )
    # a gram at pos covers tokens [pos, pos+n-1]; boundary AFTER its
    # last token when the draw hits
    bdry = grams.select(
        "doc_id",
        (F.col("pos") + F.lit(n - 1)).alias("bpos"),
        (
            F.expr(
                "cast(conv(substring(md5(gram), 1, 15), 16, 10) as bigint)"
            )
            % boundary_mod
            == 0
        ).alias("hit"),
    )
    bmark = (
        bdry.filter("hit")
        .select("doc_id", F.col("bpos").alias("pos"), F.lit(1).alias("b"))
        .distinct()
    )
    # chunk index of a token = number of boundaries strictly before it
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = (
        toks.join(bmark, ["doc_id", "pos"], "left")
        .select("doc_id", "pos", "tok", F.coalesce("b", F.lit(0)).alias("b"))
        .withColumn(
            "chunk_idx", F.coalesce(F.sum("b").over(w), F.lit(0)).cast("long")
        )
    )
    return (
        chunked.groupBy("doc_id", "chunk_idx")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("pt"))
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join(F.expr("transform(pt, x -> x.tok)"), " ").alias(
                "chunk_text"
            ),
            F.size("pt").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.md5("chunk_text").alias("chunk_hash"),
            "n_tokens",
            "chunk_text",
        )
    )



def cdc_chunks(
    docs: DataFrame,
    n: int = 4,
    boundary_mod: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Public CDC chunk table ``(doc_id, chunk_idx, chunk_hash,
    n_tokens)`` — see :func:`_cdc_chunks_text` for the full chain
    documentation (this drops the reassembly-only text column)."""
    return _cdc_chunks_text(
        docs, n=n, boundary_mod=boundary_mod, id_col=id_col, text_col=text_col
    ).drop("chunk_text")


def chunk_dedup_corpus(
    docs: DataFrame,
    n: int = 4,
    boundary_mod: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document sub-document dedup at content-defined-chunk
    granularity (the RefinedWeb/storage-dedup move): chunk every
    document with :func:`cdc_chunks` boundaries, keep only the global
    FIRST occurrence of each chunk (ordered by ``(doc_id,
    chunk_idx)``), and reassemble each document from its surviving
    chunks — shared boilerplate, quoted passages, and syndicated
    blocks are excised once per corpus while unique prose survives,
    at a granularity exact-doc dedup can't reach and without the
    pair-explosion of near-dup matching.

    Scale shape: the CDC chain (gram explode + md5 coin + per-doc
    boundary cumsum), then ONE shuffle keyed by chunk_hash for the
    first-occurrence row_number (md5 keys are uniform — no skew; a
    pathological mega-duplicate chunk is one hot hash, cap it with
    the same max-df trick as containment if it ever appears) and one
    per-doc rollup.  Insertion-locality is inherited from CDC: an
    edit only rewrites the chunk it lands in, so incremental runs
    re-decide only touched chunks.

    Returns ``(doc_id, n_chunks, n_kept, n_tokens_kept,
    deduped_text)`` — fully-duplicated documents survive as rows with
    ``n_kept = 0`` and empty text (the pipeline's drop signal).
    """
    from pyspark.sql import Window

    chunks = _cdc_chunks_text(
        docs, n=n, boundary_mod=boundary_mod, id_col=id_col, text_col=text_col
    )
    # first global occurrence wins; hash-keyed shuffle, deterministic
    # (doc_id, chunk_idx) order within each hash
    wk = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    kept = chunks.withColumn("kept", (F.row_number().over(wk) == 1).cast("int"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum(F.col("kept") * F.col("n_tokens")).cast("long").alias(
                "n_tokens_kept"
            ),
            F.array_sort(
                F.collect_list(F.struct("chunk_idx", "kept", "chunk_text"))
            ).alias("ck"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            "n_tokens_kept",
            F.array_join(
                F.expr("transform(filter(ck, x -> x.kept = 1), x -> x.chunk_text)"),
                " ",
            ).alias("deduped_text"),
        )
    )


def line_dedup_corpus(
    docs: DataFrame,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = False,
) -> DataFrame:
    """Cross-document exact LINE dedup (the CCNet move, used verbatim
    in most web-corpus pipelines): split every document on ``sep``,
    keep only the global FIRST occurrence of each non-empty line
    (ordered by ``(doc_id, line_idx)``), and reassemble each document
    from its surviving lines — navigation chrome, cookie banners and
    syndicated paragraphs are excised once per corpus while unique
    prose survives.  ``normalize=True`` keys lines on their
    lowercased, whitespace-collapsed form (CCNet's normalization)
    while reassembling the ORIGINAL line text of the first owner.

    Scale shape: one generator projection (posexplode of the split),
    then ONE shuffle keyed by the line key for the first-occurrence
    row_number and one per-doc rollup.  The shuffle necessarily
    carries the line text (it is the reassembly payload), so keying
    on the raw line adds no width over an xxhash64 key; a
    pathological mega-duplicate line is one hot key — cap it with the
    max-df trick from containment_pairs if it ever appears.

    Returns ``(doc_id, n_lines, n_kept, deduped_text)`` — documents
    whose every line is owned elsewhere survive as rows with
    ``n_kept = 0`` and empty text (the pipeline's drop signal).
    """
    from pyspark.sql import Window

    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias(
            "line_idx", "line"
        ),
    ).filter(F.trim("line") != "")
    key = (
        F.lower(F.regexp_replace(F.trim("line"), r"\s+", " "))
        if normalize
        else F.col("line")
    )
    wk = Window.partitionBy(key.alias("k")).orderBy("doc_id", "line_idx")
    kept = lines.withColumn("kept", (F.row_number().over(wk) == 1).cast("int"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.array_sort(
                F.collect_list(F.struct("line_idx", "kept", "line"))
            ).alias("lk"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_kept",
            F.array_join(
                F.expr("transform(filter(lk, x -> x.kept = 1), x -> x.line)"),
                sep,
            ).alias("deduped_text"),
        )
    )


def dup_clusters_keep_best(
    pairs: DataFrame,
    quality: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """:func:`dup_clusters` with QUALITY-AWARE canonical selection:
    within each transitive dup cluster, keep the member with the
    highest quality score (ties to the smaller doc id) instead of the
    smallest id.

    This is what production corpus dedup actually wants — when a page
    and its boilerplate-laden mirror collapse, keep the clean copy.
    ``quality`` is any per-doc score table (charlm fluency, host
    bucket, readability...).  One join of the cluster table (tiny —
    only docs in pairs) against the score table plus one per-cluster
    argmax; determinism comes from the (round(score,6) DESC, doc_id)
    tie-break.

    Returns ``(cluster_id, doc_id, score, keep)``.
    """
    from .cc import connected_components

    comp = connected_components(pairs, src=id_a, dst=id_b).select(
        F.col("component").alias("cluster_id"), F.col("vertex").alias("doc_id")
    )
    scored = comp.join(
        quality.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.round(F.col(score_col), 6).alias("score"),
        ),
        "doc_id",
        "left",
    ).withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("keep", (F.row_number().over(w) == 1).cast("long"))
        .select("cluster_id", "doc_id", "score", "keep")
    )


def near_dup_eval(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Evaluate the MinHash-LSH near-dup detector against exact
    shingle-Jaccard ground truth at the same threshold: one row with
    tp/fp/fn pair counts and precision/recall — the measurement every
    dedup rollout needs before trusting its removal list.

    Ground truth here is the exact Jaccard over the SAME n-gram
    shingle sets, computed via the inverted shingle index (pairs must
    share >= 1 shingle to have J > 0, so no all-pairs scan; the
    index join is the standard exact-verification shape).  The
    detector column is :func:`near_duplicates`' banded-LSH + verified-
    Jaccard pipeline — so fp counts pairs the bands surfaced that
    fail the threshold, and fn counts pairs the banding missed.

    Returns ``(tp, fp, fn, precision, recall)``, floats rounded 6dp.
    """
    sh = shingles(docs, n=n, id_col=id_col, text_col=text_col)
    # exact ground truth through the shingle index (shingles() emits "id")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    truth = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sa")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sb")), "id_b")
        .withColumn(
            "jac",
            F.col("common").cast("double")
            / (F.col("sa") + F.col("sb") - F.col("common")),
        )
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b")
    )
    detected = near_duplicates(
        docs, threshold=threshold, n=n, n_hashes=n_hashes, bands=bands,
        id_col=id_col, text_col=text_col, pre_collapse=False,
    ).select("id_a", "id_b")
    tp = detected.join(truth, ["id_a", "id_b"], "left_semi").count()
    fp = detected.join(truth, ["id_a", "id_b"], "left_anti").count()
    fn = truth.join(detected, ["id_a", "id_b"], "left_anti").count()
    spark = docs.sparkSession
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    return spark.createDataFrame(
        [(tp, fp, fn, round(prec, 6), round(rec, 6))],
        "tp long, fp long, fn long, precision double, recall double",
    )
