"""ccl_spark — a PySpark-native link-graph analytics engine.

A from-scratch generalization of connected-component labeling (the
reference implementation at /root/reference, michaelleerilee/CCL) to
web-scale link graphs, built on the Spark DataFrame API:

- ``cc``         connected components (large-star / small-star union-find)
- ``pagerank``   power-iteration PageRank with dangling-mass handling,
                 TrustRank spam mass, Katz + eigenvector centrality
- ``lpa``        synchronous label propagation
- ``triangles``  degree-ordered triangle counting, directed census,
                 16-type triad census + U|MAN significance profile, 4-clique counting
- ``grids``      2-D slice-stack fixtures -> graph adapter (8-connectivity,
                 polar and dateline boundary rules, temporal overlap)
- ``replay``     deterministic label-numbering replay reproducing the
                 reference's exact golden label integers
- ``datagen``    seeded synthetic Common-Crawl-style pages corpus
- ``extract``    Arrow-vectorized text + hyperlink extraction
- ``edges``      edge-table builder (dedup, salt, degrees, CSR blocks),
                 URL canonicalization, domain-blocklist filtering
- ``superstep``  checkpoint / lineage / resume harness for iterative jobs
- ``kcore``      k-core peeling
- ``betweenness`` pivot-sampled Brandes betweenness / harmonic / closeness
- ``neighborhood`` exact neighborhood function, effective diameter, HyperBall
- ``graphstats`` reciprocity, assortativity, link prediction + offline eval (AA/RA/Jaccard,
                 co-citation, coupling), edge embeddedness, fused LTR-style feature table,
                 modularity + greedy Louvain moves,
                 conductance, PPR sweep cut, attack robustness, bond
                 percolation, WL refinement, densest-subgraph peel,
                 partition-cut audit, degree power law
- ``walks``      deterministic DeepWalk / node2vec walk corpora,
                 GraphSAGE layered neighbor sampling
- ``mis``        Luby MIS, Israeli-Itai matching, 2-approx vertex cover
- ``chains``     redirect-chain resolution (pointer doubling), Bellman-Ford SSSP
- ``dedup``      exact / MinHash-LSH / SimHash / containment dedup + clusters,
                 quality-aware keep-best canonicals, detector-vs-truth
                 P/R evaluation, CDC chunking + cross-doc chunk dedup
                 with reassembly, incremental index fold, decontamination
- ``similarity`` brute / LSH / IVF / PQ / IVF-PQ / two-stage ANN, embedding near-dup,
                 kNN graph + mutual-kNN clustering, centroid classify,
                 k-hop features, reciprocal matches, power-iteration PCA
- ``textops``    tokenization, BPE train/encode, quality (Gopher gate,
                 compression ratio, Flesch readability), Naive Bayes
                 train/classify, TF-IDF + doc similarity, inverted
                 index, PII scrub, char-bigram LM scoring, CCNet host buckets, Heaps/
                 coverage vocabulary curves, winnowing
                 fingerprints + incremental fold
- ``sampling``   hash sampling, mergeable bottom-k / stratified /
                 priority (Horvitz-Thompson) samples, mixture budgets,
                 train/valid/test splits, token packing
- ``sketch``     count-min sketch, Bloom filter, HLL (+ grouped, overlap
                 pairs), KMV bottom-k, dyadic DDSketch quantiles
- ``boilerplate`` CCNet-style per-host line dedup
- ``anchors``    anchor-text extraction + per-target term index
- ``frontier``   politeness-scheduled crawl rounds
- ``analytics``  funnels, retention cohorts, JSON props, percentiles,
                 exact-quantile bucketing, median/MAD outlier flags,
                 Markov event-transition matrices + stationary mix,
                 per-user bot signals, Bradley-Terry preference ratings,
                 seasonal-naive forecast eval
- ``asof``       as-of and banded range joins
- ``sources``    parquet/Iceberg-seam table IO
- ``components`` component sizes, ages, EOL, dust filtering, incremental CC
- ``golden``     reference golden-fixture adapters
- ``retrieval``  BM25 ranked retrieval, raw-TF ranker, reciprocal-rank
                 fusion, LTR feature tables, recall/MRR/NDCG eval,
                 per-class P/R/F1 report, rank-sum ROC AUC
- ``simrank``    SimRank structural similarity (sparse pair state)
- ``cooc``       skipgram pairs, PMI, negative sampling, TextRank
- ``pipeline``   the end-to-end corpus-preparation + host-curation funnels
- ``suffix``     prefix-doubling suffix arrays, adjacent-LCP repeats,
                 cross-document verbatim-repeat pairs
- ``coloring``   Jones-Plassmann greedy coloring
- ``mst``        Borůvka spanning forest + single-linkage clustering

Everything is DataFrame-first: Catalyst handles pushdown/pruning/joins;
iteration state is checkpointed DataFrames; the only Python on the hot
path is Arrow-batched (mapInPandas), never per-row UDFs.
"""

__version__ = "0.1.0"
