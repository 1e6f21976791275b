"""Training-data pipeline operators: dedup (exact / MinHash-LSH /
SimHash), similarity search, text analysis."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccl_spark.dedup import (
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    near_duplicates,
    shingles,
    simhash,
    simhash_near_pairs,
)
from ccl_spark.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    lsh_signatures,
    lsh_topk,
)
from ccl_spark.textops import doc_fingerprint, lang_id, quality_features, token_count

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "completely different content about spark shuffles"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "der hund ist nicht ein katze und das ist gut"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_duplicates(spark, docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 2 and groups[0].keep_doc_id == 0
    assert groups[0].doc_ids == [0, 3]


def test_minhash_near_dup(spark, docs):
    # pre_collapse=False: raw pairs, exact dups included
    pairs = near_duplicates(
        docs, n=3, n_hashes=32, bands=16, threshold=0.5, pre_collapse=False
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert (0, 3) in got and got[(0, 3)] == 1.0  # exact dup found
    assert (0, 1) in got  # one-word-off near dup (6/8 shared 3-grams)
    assert got[(0, 1)] == pytest.approx(6 / 8, abs=1e-6)
    assert not any(2 in p for p in got)


def test_minhash_near_dup_collapsed(spark, docs):
    # default pre_collapse: exact dups collapse to their min-id
    # representative, so (0,3) vanishes and only true near-dups remain
    pairs = near_duplicates(docs, n=3, n_hashes=32, bands=16, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert (0, 3) not in got
    assert (0, 1) in got and got[(0, 1)] == pytest.approx(6 / 8, abs=1e-6)


def test_lsh_bucket_cap_pathological(spark):
    """A corpus of near-identical boilerplate (one degenerate LSH
    bucket) must complete with bounded pair counts: pre-collapse folds
    the exact copies, and max_bucket drops any still-oversized bucket."""
    n = 400
    rows = [(i, "the same boilerplate page content repeated everywhere") for i in range(n)]
    rows += [(n + i, f"unique document number {i} with its own words entirely") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # collapse alone reduces the degenerate bucket to one member
    pairs = near_duplicates(docs, n=3, n_hashes=16, bands=8, threshold=0.8)
    assert pairs.count() == 0
    # without collapse, the cap bounds the candidate explosion: every
    # bucket is oversized, so zero candidate pairs survive (and the
    # drop is logged, not silent)
    capped = near_duplicates(
        docs, n=3, n_hashes=16, bands=8, threshold=0.8,
        pre_collapse=False, max_bucket=50,
    )
    assert capped.filter("id_a < 400 and id_b < 400").count() == 0


def test_minhash_oracle_parity(spark, docs):
    """Spark MinHash candidates vs a pure-Python reimplementation using
    the same shingles (candidate sets depend on xxhash64, so we verify
    the deterministic Jaccard verification layer instead)."""
    sh = shingles(docs, n=3)
    rows = sh.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, set()).add(r.shingle)
    sigs = minhash_signatures(sh, n_hashes=32)
    cands = lsh_candidate_pairs(sigs, bands=16)
    verified = jaccard_pairs(sh, cands).collect()
    for r in verified:
        a, b = by_id[r.id_a], by_id[r.id_b]
        exp = len(a & b) / len(a | b)
        assert r.jaccard == pytest.approx(exp, abs=1e-6)


def test_simhash(spark, docs):
    fps = simhash(docs)
    vals = {r.doc_id: r.simhash for r in fps.collect()}
    assert vals[0] == vals[3]  # identical text -> identical fingerprint
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(fps, max_hamming=16).collect()}
    assert pairs[(0, 3)] == 0
    # near-dup 0/1 is within small hamming distance; 0/2 is not a pair or far
    assert (0, 1) in pairs


def test_textops(spark, docs):
    toks = {r.doc_id: r.n_tokens for r in token_count(docs).collect()}
    assert toks[0] == 9 and toks[2] == 6
    q = {r.doc_id: r for r in quality_features(docs).collect()}
    assert q[0].n_chars == len(DOCS[0][1])
    assert q[0].stop_ratio == pytest.approx(2 / 9, abs=1e-4)  # 'the' twice
    langs = {r.doc_id: r.lang_guess for r in lang_id(docs).collect()}
    assert langs[0] == "en" and langs[4] == "de"
    fp = {r.doc_id: r.fingerprint for r in doc_fingerprint(docs).collect()}
    assert fp[0] == fp[3] and fp[0] != fp[2]


def _unit(v):
    v = np.asarray(v, dtype=np.float64)
    return v / np.linalg.norm(v)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(123)
    base = rng.normal(size=(40, 16))
    base[7] = base[3] + rng.normal(scale=0.01, size=16)  # near-dup of 3
    rows = [(i, [float(x) for x in _unit(base[i])]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_topk_exact(spark, emb):
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[3]
    cos = {
        i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))) for i, v in vecs.items()
    }
    exp_top = [i for i in sorted(cos, key=lambda i: (-cos[i], i))][:5]
    got = [r.vec_id for r in cosine_topk(emb, [float(x) for x in q], k=5).collect()]
    assert got == exp_top
    assert got[0] == 3 and got[1] == 7  # self first, near-dup second


def test_lsh_topk_finds_near_dup(spark, emb):
    rows = emb.collect()
    q = [float(x) for x in dict((r.vec_id, r.embedding) for r in rows)[3]]
    got = [r.vec_id for r in lsh_topk(emb, q, k=3, n_planes=8).collect()]
    assert got[0] == 3 and 7 in got


def test_lsh_signatures_deterministic(spark, emb):
    a = sorted((r.id, r.bucket) for r in lsh_signatures(emb, 8).collect())
    b = sorted((r.id, r.bucket) for r in lsh_signatures(emb.repartition(7), 8).collect())
    assert a == b


def test_embedding_near_duplicates(spark, emb):
    pairs = {(r.id_a, r.id_b): r.cosine for r in embedding_near_duplicates(emb, 0.99).collect()}
    assert (3, 7) in pairs and pairs[(3, 7)] > 0.999


def test_ivf_topk_finds_near_dup(spark, emb):
    rows = emb.collect()
    q = [float(x) for x in dict((r.vec_id, r.embedding) for r in rows)[3]]
    got = [r.vec_id for r in lsh_topk(emb, q, k=3, n_planes=8).collect()]
    from ccl_spark.similarity import ivf_assign, ivf_topk

    ivf = [r.vec_id for r in ivf_topk(emb, q, k=3, n_lists=8, n_probe=4).collect()]
    assert ivf[0] == 3 and 7 in ivf  # self + planted near-dup recalled
    # deterministic at any partitioning
    a = sorted((r.id, r.list_id) for r in ivf_assign(emb, 8).collect())
    b = sorted((r.id, r.list_id) for r in ivf_assign(emb.repartition(9), 8).collect())
    assert a == b


def test_ivf_trained_recall(spark):
    """Trained centroids (ivf_train k-means): MEAN recall@10 over 20
    queries vs the exact brute-force top-10 must be >= the
    random-centroid baseline (single-query recall is coin-flip noise;
    measured 0.555 vs 0.49 at n_probe=4 on this corpus), and training
    must be deterministic at any partitioning (exact integer
    accumulation — the pinned-oracle contract)."""
    import numpy as np

    from ccl_spark.similarity import _seed_centroids, ivf_topk, ivf_train

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = ivf_train(emb, n_lists=16, n_iters=3)
    cents2 = ivf_train(emb.repartition(7), n_lists=16, n_iters=3)
    assert np.array_equal(cents, cents2)

    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.vstack([r.embedding for r in rows]).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)

    def mean_recall(c: np.ndarray) -> float:
        assign = np.argmax(M @ c.T, axis=1)
        tot = 0
        for qi in range(20):
            q = Mn[qi]
            sims = Mn @ q
            sims[qi] = -2
            exact = set(ids[np.argsort(-sims)[:10]])
            probes = set(np.argsort(-(c @ q))[:4])
            cand = np.array(
                [i for i in range(len(ids)) if assign[i] in probes and i != qi]
            )
            got = set(ids[cand[np.argsort(-(Mn[cand] @ q))[:10]]])
            tot += len(got & exact)
        return tot / 200.0

    r_rand = mean_recall(_seed_centroids(M.shape[1], 16, 7))
    r_train = mean_recall(cents)
    assert r_train >= r_rand, (r_train, r_rand)

    # engine path agrees with the numpy evaluation for one query
    i0 = int(np.where(ids == 0)[0][0])
    q0 = [float(x) for x in M[i0]]
    base = emb.filter("vec_id <> 0")
    eng = {
        r.vec_id
        for r in ivf_topk(base, q0, k=10, n_lists=16, n_probe=4, centroids=cents).collect()
    }
    assign = np.argmax(M @ cents.T, axis=1)
    probes = set(np.argsort(-(cents @ Mn[i0]))[:4])
    cand = np.array([i for i in range(len(ids)) if assign[i] in probes and i != i0])
    ref = set(ids[cand[np.argsort(-(Mn[cand] @ Mn[i0]))[:10]]])
    assert eng == ref


def test_pq_ann_recall_and_determinism(spark):
    """Product quantization: codes are deterministic at any
    partitioning, the ADC ranking is a genuine approximation of the
    dot product (top-10 overlaps the exact top-10), and re-ranking the
    PQ top-3k by exact cosine recovers the true top-10 — the standard
    two-stage serving shape."""
    import numpy as np

    from ccl_spark.similarity import cosine_topk, pq_encode, pq_topk, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.filter("vec_id <> 0")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]

    # n_sub=32 on this near-isotropic 64-dim corpus — see q_ann_pq_topk
    books = pq_train(base, n_sub=32, n_centroids=16, n_iters=3)
    books2 = pq_train(base.repartition(7), n_sub=32, n_centroids=16, n_iters=3)
    assert np.array_equal(books, books2)

    codes = pq_encode(base, books)
    c1 = sorted((r.id, list(r.codes)) for r in codes.collect())
    c2 = sorted((r.id, list(r.codes)) for r in pq_encode(base.repartition(5), books).collect())
    assert c1 == c2

    exact = {r.vec_id for r in cosine_topk(base, q, k=10).collect()}
    pq10 = {r.id for r in pq_topk(codes, q, books, k=10).collect()}
    assert len(pq10 & exact) >= 3  # measured 4/10 direct overlap
    # two-stage: PQ shortlist (k=100 of 499) -> exact re-rank recovers
    # most of the true top-10 (the standard serving shape)
    shortlist = [r.id for r in pq_topk(codes, q, books, k=100).collect()]
    rerank = {
        r.vec_id
        for r in cosine_topk(
            base.filter(F.col("vec_id").isin(shortlist)), q, k=10
        ).collect()
    }
    assert len(rerank & exact) >= 8


def test_vocabulary(spark):
    from ccl_spark.textops import vocabulary

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "a c"), (2, "c c c")], "doc_id long, text string"
    )
    got = {r.token: (r.n_docs, r["count"]) for r in vocabulary(docs).collect()}
    assert got == {"a": (2, 3), "b": (1, 1), "c": (2, 4)}
    pruned = {r.token for r in vocabulary(docs, min_count=3).collect()}
    assert pruned == {"a", "c"}
    # regexp tokenization path
    from ccl_spark.textops import BPE_PATTERN

    docs2 = spark.createDataFrame([(0, "x1,x1")], "doc_id long, text string")
    got2 = {r.token: r["count"] for r in vocabulary(docs2, pattern=BPE_PATTERN).collect()}
    assert got2 == {"x": 2, "1": 2, ",": 1}


def test_pq_dim_mismatch_raises(spark):
    """ADVICE r4: dim % n_sub != 0 must raise, not silently truncate
    the trailing dimensions out of every score."""
    import numpy as np
    import pytest

    from ccl_spark.similarity import pq_encode, pq_topk, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").limit(50)
    with pytest.raises(Exception, match="not divisible"):
        pq_train(emb, n_sub=7, n_centroids=4, n_iters=1)

    books = np.zeros((7, 4, 9))  # 7 x 9 = 63 != 64-dim corpus
    with pytest.raises(Exception, match="does not match"):
        pq_encode(emb, books).collect()
    with pytest.raises(ValueError, match="does not match"):
        pq_topk(emb.selectExpr("vec_id as id", "array(1) as codes"), [0.0] * 64, books)


def test_ivfpq_recall(spark):
    """Composed IVF-PQ + exact re-rank (verdict r4 #2): recall@10 vs
    the exact top-10 must be >= plain trained-IVF's on the same seeded
    corpus (the re-rank stage repairs ADC quantization error), and the
    emitted cosines must be the true cosines."""
    import numpy as np

    from ccl_spark.similarity import (
        cosine_topk,
        ivf_topk,
        ivf_train,
        ivfpq_topk,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.filter("vec_id <> 0").cache()
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]

    exact = {r.vec_id for r in cosine_topk(base, q, k=10).collect()}
    cents = ivf_train(base, n_lists=16, n_iters=3)
    books = pq_train(base, n_sub=32, n_centroids=16, n_iters=3)
    ivf = {r.vec_id for r in ivf_topk(base, q, k=10, n_probe=4, centroids=cents).collect()}
    got = ivfpq_topk(
        base, q, k=10, rerank=50, n_probe=4, centroids=cents, codebooks=books
    ).collect()
    ivfpq = {r.vec_id for r in got}
    assert len(ivfpq & exact) >= len(ivf & exact)

    # emitted cosines are TRUE cosines (the re-rank reads raw vectors)
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in base.collect()}
    qv = np.asarray(q)
    for r in got:
        true = float(rows[r.vec_id] @ qv / (np.linalg.norm(rows[r.vec_id]) * np.linalg.norm(qv)))
        assert abs(r.cosine - true) <= 1e-6
    base.unpersist()


def test_repetition_features(spark):
    from ccl_spark.textops import repetition_features

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),  # 8 distinct bigrams
        (1, "spam spam spam spam"),  # fully repetitive
        (2, "hi there"),  # one bigram, no trigram
        (3, "solo"),  # no grams at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert len(got) == 4
    assert got[0]["top_ngram_frac"] == 0.125 and got[0]["dup_ngram_frac"] == 0.0
    assert got[1]["top_ngram_frac"] == 1.0 and got[1]["dup_ngram_frac"] == 1.0
    assert got[2]["top_ngram_frac"] == 1.0 and got[2]["dup_ngram_frac"] == 0.0
    assert got[3]["top_ngram_frac"] == 0.0 and got[3]["dup_ngram_frac"] == 0.0


def test_duplicated_ngrams(spark, docs):
    from ccl_spark.dedup import duplicated_ngrams

    got = {r["doc_id"]: r for r in duplicated_ngrams(docs, n=3).collect()}
    assert len(got) == 5  # every doc present
    # docs 0 and 3 are exact duplicates: all 7 trigrams shared
    for d in (0, 3):
        assert got[d]["n_grams"] == 7 and got[d]["n_shared"] == 7
        assert got[d]["shared_frac"] == 1.0
    # doc 1 differs only in the last word: 6 of 7 trigrams shared
    assert got[1]["n_grams"] == 7 and got[1]["n_shared"] == 6
    assert got[1]["shared_frac"] == 0.857143
    # docs 2 and 4 share nothing
    assert got[2]["n_shared"] == 0 and got[4]["n_shared"] == 0


def test_tfidf_top_terms(spark):
    import math

    from ccl_spark.textops import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana cherry cherry date"),
            (3, "apple apple apple egg"),
            (4, "date egg fig fig"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["term"]): r["score"]
        for r in tfidf_top_terms(docs, k_terms=2).collect()
    }
    # independent replay
    texts = {1: "apple banana apple cherry", 2: "banana cherry cherry date",
             3: "apple apple apple egg", 4: "date egg fig fig"}
    tf = {d: {} for d in texts}
    for d, t in texts.items():
        for w in t.split(" "):
            tf[d][w] = tf[d].get(w, 0) + 1
    df = {}
    for d in tf:
        for w in tf[d]:
            df[w] = df.get(w, 0) + 1
    expect = {}
    for d in tf:
        scored = sorted(
            ((round(c * math.log(4 / df[w]), 6), w) for w, c in tf[d].items()),
            key=lambda t: (-t[0], t[1]),
        )[:2]
        for s, w in scored:
            expect[(d, w)] = s
    assert got == expect
    # fig appears only in doc 4, twice: 2 * ln(4)
    assert got[(4, "fig")] == round(2 * math.log(4), 6)


def test_inverted_index(spark):
    from ccl_spark.textops import inverted_index

    docs = spark.createDataFrame(
        [(2, "b a b"), (1, "a b a"), (3, "c")],
        "doc_id long, text string",
    )
    got = {r["term"]: r for r in inverted_index(docs).collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["a"]["n_docs"] == 2 and got["a"]["n_postings"] == 3
    # sorted by (doc, pos) regardless of input order
    assert got["a"]["postings"] == "1:1 1:3 2:2"
    assert got["b"]["postings"] == "1:2 2:1 2:3"
    assert got["c"]["postings"] == "3:1" and got["c"]["n_docs"] == 1


def test_inverted_index_truncation(spark):
    from ccl_spark.textops import inverted_index

    docs = spark.createDataFrame(
        [(i, "x x x x") for i in range(5)], "doc_id long, text string"
    )
    row = inverted_index(docs, max_postings=3).first()
    assert row["n_postings"] == 20  # true total survives truncation
    assert row["postings"] == "0:1 0:2 0:3"


def test_frontier_plan(spark):
    import pytest as _pytest

    from ccl_spark.frontier import frontier_plan

    urls = spark.createDataFrame(
        [
            ("a", "u1", 10),
            ("a", "u2", 30),
            ("a", "u3", 20),
            ("a", "u4", 30),
            ("b", "u5", 1),
        ],
        "host string, url string, priority long",
    )
    got = {
        r["url"]: (r["rank_in_host"], r["fetch_round"])
        for r in frontier_plan(urls, per_host_cap=2, priority_col="priority").collect()
    }
    # host a ordered u2(30) < u4(30 tie, url) < u3(20) < u1(10)
    assert got["u2"] == (1, 0) and got["u4"] == (2, 0)
    assert got["u3"] == (3, 1) and got["u1"] == (4, 1)
    assert got["u5"] == (1, 0)
    # no priority column: url order
    got2 = {
        r["url"]: r["fetch_round"]
        for r in frontier_plan(urls, per_host_cap=3).collect()
    }
    assert got2 == {"u1": 0, "u2": 0, "u3": 0, "u4": 1, "u5": 0}
    with _pytest.raises(ValueError):
        frontier_plan(urls, per_host_cap=0)


def test_scrub_pii(spark):
    from ccl_spark.textops import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "contact bob@example.com or alice@test.org today"),
            (2, "call +1(555)123-4567 now"),
            (3, "server at 192.168.1.1 and 10.0.0.255 up"),
            (4, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_phone"] == 0
    assert got[1]["scrubbed"] == "contact [EMAIL] or [EMAIL] today"
    assert got[2]["n_phone"] == 1
    assert got[2]["scrubbed"] == "call [PHONE] now"
    assert got[3]["n_ipv4"] == 2
    assert got[3]["scrubbed"] == "server at [IP] and [IP] up"
    assert got[4]["scrubbed"] == "clean text with no pii at all"
    assert (got[4]["n_email"], got[4]["n_phone"], got[4]["n_ipv4"]) == (0, 0, 0)


def test_char_bigram_logprob(spark):
    import math

    from ccl_spark.textops import char_bigram_logprob

    texts = {1: "abab", 2: "abba", 3: "zq", 4: "x"}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in char_bigram_logprob(docs).collect()}
    # independent replay
    cab: dict = {}
    for t in texts.values():
        for i in range(len(t) - 1):
            cab[t[i : i + 2]] = cab.get(t[i : i + 2], 0) + 1
    ca: dict = {}
    for ab, c in cab.items():
        ca[ab[0]] = ca.get(ab[0], 0) + c
    chars = {c for ab in cab for c in ab}
    v = len(chars)
    for d, t in texts.items():
        bgs = [t[i : i + 2] for i in range(len(t) - 1)]
        if not bgs:
            assert d not in got  # no bigrams -> no row
            continue
        lp = sum(
            math.log((cab[ab] + 1) / (ca[ab[0]] + v)) for ab in bgs
        ) / len(bgs)
        assert got[d]["n_bigrams"] == len(bgs)
        assert got[d]["logprob"] == round(lp, 6)
    # the common pattern scores higher than the rare one
    assert got[1]["logprob"] > got[3]["logprob"]


def test_heaps_curve_vs_python(spark):
    from ccl_spark.textops import heaps_curve

    rows = [(i, " ".join(f"w{(i * 3 + j) % 17}" for j in range(5))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.n_docs: r.vocab for r in heaps_curve(docs, [5, 10, 20]).collect()}
    for p in (5, 10, 20):
        exp = len({t for i, txt in rows if i < p for t in txt.split()})
        assert got[p] == exp
    # monotone non-decreasing
    assert got[5] <= got[10] <= got[20]


def test_token_coverage_vs_python(spark):
    from collections import Counter

    from ccl_spark.textops import token_coverage

    rows = [(i, "a a a b b c d" if i % 2 else "a b c e f") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.k: r for r in token_coverage(docs, [1, 3, 100]).collect()}
    cnt = Counter(t for _, txt in rows for t in txt.split())
    total = sum(cnt.values())
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    for k in (1, 3, 100):
        covered = sum(c for _, c in ranked[:k])
        assert got[k].covered == covered
        assert got[k].total == total
        assert abs(got[k].coverage - round(covered / total, 6)) < 1e-12
    assert got[100].coverage == 1.0


def test_fuzzy_match_blocking_and_verify(spark):
    from ccl_spark.textops import fuzzy_match

    left = spark.createDataFrame(
        [("table",), ("shuffle",), ("window",), ("zebra",)], "term string"
    )
    right = spark.createDataFrame(
        [("tabl",), ("shufle",), ("windows",), ("sebra",), ("tables",)],
        "term string",
    )
    got = {(r.left, r.right): r.dist for r in fuzzy_match(left, right).collect()}
    assert got[("table", "tabl")] == 1
    assert got[("table", "tables")] == 1
    assert got[("shuffle", "shufle")] == 1
    assert got[("window", "windows")] == 1
    # blocking recall cost: an edit INSIDE the 2-char prefix is missed
    assert ("zebra", "sebra") not in got
    # distance bound respected
    assert all(d <= 2 for d in got.values())


def test_corpus_js_divergence_exact(spark):
    import math

    rows = [
        (0, "a b a c"),   # side 0
        (2, "a a d"),     # side 0
        (1, "b b e"),     # side 1
        (3, "a e e"),     # side 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from ccl_spark.textops import corpus_js_divergence

    got = corpus_js_divergence(df).first()
    ca = {"a": 4, "b": 1, "c": 1, "d": 1}
    cb = {"a": 1, "b": 2, "e": 3}
    na, nb = sum(ca.values()), sum(cb.values())
    js = 0.0
    for t in set(ca) | set(cb):
        p, q = ca.get(t, 0) / na, cb.get(t, 0) / nb
        m = (p + q) / 2
        js += ((p * math.log(p / m) if p else 0.0)
               + (q * math.log(q / m) if q else 0.0)) / 2
    assert (got.n_tokens_a, got.n_tokens_b) == (na, nb)
    assert (got.vocab_a, got.vocab_b, got.vocab_shared) == (4, 3, 2)
    assert got.js_divergence == round(js, 6)
    # identical halves -> JSD 0; disjoint -> ln 2
    same = spark.createDataFrame(
        [(0, "x y"), (1, "x y")], "doc_id long, text string"
    )
    assert corpus_js_divergence(same).first().js_divergence == 0.0
    disj = spark.createDataFrame(
        [(0, "x x"), (1, "y y")], "doc_id long, text string"
    )
    assert disj.sparkSession is spark
    assert corpus_js_divergence(disj).first().js_divergence == round(
        math.log(2), 6
    )


def test_ctfidf_terms_exact(spark):
    import math

    rows = [
        ("h0", "cat cat dog"),
        ("h0", "cat fish"),
        ("h1", "dog dog bird"),
        ("h2", "fish fish fish bird"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    from ccl_spark.textops import ctfidf_terms

    got = {
        (r.source, r.term): r.score for r in ctfidf_terms(df, k_terms=2).collect()
    }
    import collections

    tf = collections.Counter()
    for s, text in rows:
        for t in text.split(" "):
            tf[(s, t)] += 1
    dfreq = collections.Counter(t for (_, t) in tf)
    n = 3
    scored = collections.defaultdict(list)
    for (s, t), c in tf.items():
        scored[s].append((round(c * math.log(1 + n / dfreq[t]), 6), t))
    expect = {}
    for s, lst in scored.items():
        for score, t in sorted(lst, key=lambda x: (-x[0], x[1]))[:2]:
            expect[(s, t)] = score
    assert got == expect
    # the distinctive term wins over the shared one
    assert ("h0", "cat") in got and ("h1", "dog") in got


def test_greedy_max_coverage_exact(spark):
    rows = [
        (0, "a b c d"),        # 4 tokens
        (1, "a b c d e"),      # 5 tokens — picked first
        (2, "x y z"),          # disjoint 3 — picked second
        (3, "a x e q"),        # gain 1 after 1,2 (only q new)
        (4, "a b"),            # never beats 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from ccl_spark.sampling import greedy_max_coverage

    got = [
        (r["round"], r.doc_id, r.gain, r.covered_total)
        for r in greedy_max_coverage(df, k=3).orderBy("round").collect()
    ]
    assert got == [(1, 1, 5, 5), (2, 2, 3, 8), (3, 3, 1, 9)]

    # tie on gain breaks to the smaller doc_id
    tie = spark.createDataFrame(
        [(7, "p q"), (5, "r s"), (9, "t u")], "doc_id long, text string"
    )
    first = greedy_max_coverage(tie, k=1).first()
    assert (first.doc_id, first.gain) == (5, 2)

    # k larger than the doc count stops cleanly
    assert greedy_max_coverage(tie, k=10).count() == 3
    import pytest

    with pytest.raises(ValueError):
        greedy_max_coverage(tie, k=0)


