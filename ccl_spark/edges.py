"""Edge-table builder: url hashing, dedup, salting, degrees, CSR blocks.

The edge table is the engine's first-class object (the graph the
reference never materializes — SURVEY.md §1). Layout per FIXTURES.md:

    edges(src long, dst long, salt int)

- ids are xxhash64(url) — stable, order-free, join-free at ingest.
  (At 10^12 pages the 64-bit birthday bound is ~3% for one collision
  anywhere; an exact dictionary join is the alternative when that
  matters. Documented trade-off, not an accident.)
- salt = pmod(xxhash64(src), n_salts): pre-computed skew key, so any
  downstream two-phase aggregation over hub vertices can group by
  (src, salt) first and by src second.
- iterative algorithms checkpoint their own edge side once per run
  and let each materialized job broadcast or exchange it once
  (ReusedExchange shares an exchange across fused iterations); on
  real storage the co-located layout is an Iceberg bucket(src)
  partition spec + sorted-by-src data files.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

def url_id(col: str | F.Column) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def canonical_url(col: str | F.Column) -> F.Column:
    """Web-graph URL canonicalization, all JVM-side regexp (no Python):

    1. strip the fragment (#...)
    2. lowercase scheme and host (path/query case is significant, so
       only the authority prefix is lowered)
    3. drop default ports (:80 for http, :443 for https; any other
       port is preserved)
    4. drop a bare trailing slash (root path only — deeper paths keep
       their exact form)

    Query-parameter reordering/stripping is intentionally NOT done:
    it changes page identity on real sites. Canonicalizing before
    ``url_id`` collapses the trivially-duplicate vertices (HTTP://X,
    http://x/#top, http://x:80) that otherwise fragment components of
    a crawl graph."""
    u = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(u, r"#.*$", "")
    prefix = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    u = F.concat(F.lower(prefix), rest)
    u = F.regexp_replace(u, r"^(http://[^/:?#]*):80(?=[/?#]|$)", "$1")
    u = F.regexp_replace(u, r"^(https://[^/:?#]*):443(?=[/?#]|$)", "$1")
    return F.regexp_replace(u, r"^(https?://[^/?#]*)/$", "$1")


def host_of(col: str | F.Column) -> F.Column:
    """Lowercased host (authority minus port/userinfo) of a URL, all
    JVM regexp. Empty string when the value has no ``scheme://host``
    prefix."""
    u = F.col(col) if isinstance(col, str) else col
    host = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)", 1)
    return F.lower(host)


def host_graph(
    pairs: DataFrame,
    src_url: str = "src_url",
    dst_url: str = "dst_url",
    drop_self: bool = True,
) -> DataFrame:
    """Contract a page-level URL edge list to the weighted host graph:
    ``(src_host, dst_host, weight)`` where weight counts the page-level
    links between the two hosts. ``drop_self`` removes intra-host
    links (the convention of published host-level web graphs — they
    are navigation, not endorsement, and they dominate raw counts).

    This is the standard first reduction of a crawl graph: 10^12 page
    edges contract to ~10^8 host rows, small enough for exact
    centrality runs. One partial-aggregating groupBy — the hot
    (big-host, big-host) keys combine map-side, so hub hosts never
    funnel raw page rows to one reducer. Rows with an unparseable
    src or dst URL (no host) are dropped."""
    out = pairs.select(
        host_of(src_url).alias("src_host"), host_of(dst_url).alias("dst_host")
    ).filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if drop_self:
        out = out.filter(F.col("src_host") != F.col("dst_host"))
    return out.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("weight")
    )


def page_edges(
    pages: DataFrame, n_salts: int = 64, canonicalize: bool = False
) -> DataFrame:
    """pages -> deduplicated salted edge table. ``canonicalize`` runs
    canonical_url over both endpoints before hashing (the right default
    for a real crawl; off here because the synthetic corpus emits
    already-canonical urls and the regexes would be a no-op cost).

    The href pairs are hashed BEFORE the dedup shuffle: the one
    ``distinct`` on the 16-byte (src, dst) key subsumes the string-level
    distinct ``extract_link_pairs`` would run (identical output — dedup
    by hashed key is dedup of the hash-projected rows), so the wide URL
    strings never cross an exchange (guide §2.3/§2.4)."""
    from .extract import _HREF_SQL

    s = F.col("html").cast("string")
    links = F.regexp_extract_all(s, F.lit(_HREF_SQL), F.lit(1))
    pairs = (
        pages.select(F.col("url").alias("src_url"), F.explode(links).alias("dst_url"))
        .filter(F.col("dst_url") != F.col("src_url"))
    )
    su, du = F.col("src_url"), F.col("dst_url")
    if canonicalize:
        su, du = canonical_url(su), canonical_url(du)
    e = pairs.select(url_id(su).alias("src"), url_id(du).alias("dst")).distinct()
    return with_salt(e, n_salts)


def with_salt(edges: DataFrame, n_salts: int = 64) -> DataFrame:
    return edges.withColumn("salt", F.pmod(F.xxhash64("src"), F.lit(n_salts)).cast("int"))


def degrees(edges: DataFrame) -> DataFrame:
    """(vertex, out_deg, in_deg) with zeros filled."""
    out_d = edges.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("vertex")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_d.join(in_d, "vertex", "full")
        .select(
            "vertex",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def salted_in_degrees(edges: DataFrame, n_salts: int = 64) -> DataFrame:
    """Two-phase skew-safe in-degree: partial counts per (dst, salt),
    then final per dst. A 10^6-in-link hub lands on one reducer in a
    naive groupBy(dst); salting spreads the partial aggregation over
    n_salts reducers and the final pass combines n_salts tiny rows.
    (Plain hash-aggregate counts already combine map-side; this is the
    explicit pattern for aggregations without partial pushdown, e.g.
    collect_list / exact distinct.)"""
    salt = F.pmod(F.xxhash64("dst", F.col("src")), F.lit(n_salts))
    partial = (
        edges.groupBy(F.col("dst").alias("vertex"), salt.alias("s"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return partial.groupBy("vertex").agg(F.sum("c").alias("in_deg"))


def hub_vertices(edges: DataFrame, threshold: int) -> DataFrame:
    """Vertices whose in-degree exceeds ``threshold`` — the broadcast /
    salted-aggregation side for skew handling."""
    return (
        edges.groupBy(F.col("dst").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("in_deg"))
        .filter(F.col("in_deg") > threshold)
    )


CSR_SCHEMA = (
    "block_id int, n_src int, n_edges long, src_ids binary, indptr binary, dst_ids binary"
)


def _csr_batch(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    parts = list(pdf_iter)
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True)
    if pdf.empty:
        return
    # several block_ids can hash into one partition — one CSR row each
    for block_id, grp in pdf.groupby("block_id", sort=True):
        src = grp["src"].to_numpy(np.int64)
        dst = grp["dst"].to_numpy(np.int64)
        order = np.lexsort((dst, src))
        src, dst = src[order], dst[order]
        uniq, counts = np.unique(src, return_counts=True)
        indptr = np.zeros(len(uniq) + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])
        yield pd.DataFrame(
            {
                "block_id": [int(block_id)],
                "n_src": [len(uniq)],
                "n_edges": [len(dst)],
                "src_ids": [uniq.tobytes()],
                "indptr": [indptr.tobytes()],
                "dst_ids": [dst.tobytes()],
            }
        )


def csr_to_edges(csr: DataFrame) -> DataFrame:
    """Inverse of csr_blocks: decode the packed arrays back to (src,
    dst) rows — the round-trip identity pins the encoding."""

    def decode(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():
                src_ids = np.frombuffer(row["src_ids"], dtype=np.int64)
                indptr = np.frombuffer(row["indptr"], dtype=np.int64)
                dst = np.frombuffer(row["dst_ids"], dtype=np.int64)
                if len(dst) == 0:
                    continue
                yield pd.DataFrame(
                    {"src": np.repeat(src_ids, np.diff(indptr)), "dst": dst}
                )

    return csr.mapInPandas(decode, schema="src long, dst long")


def csr_blocks(edges: DataFrame, n_blocks: int = 32) -> DataFrame:
    """Per-partition CSR adjacency blocks (north_star item).

    Edges are hash-bucketed by src into ``n_blocks`` blocks; each block
    becomes one row holding numpy int64 CSR arrays (src_ids / indptr /
    dst_ids as binary). These blocks are the local half of a superstep:
    a worker can stream its block and emit (dst, msg) pairs without
    deserializing per-edge rows. Built in mapInPandas (Arrow), one
    block per partition.
    """
    blocked = edges.select(
        F.pmod(F.xxhash64("src"), F.lit(n_blocks)).cast("int").alias("block_id"),
        "src",
        "dst",
    ).repartition(n_blocks, "block_id")
    return blocked.mapInPandas(_csr_batch, schema=CSR_SCHEMA)


def snapshot_diff(
    edges_a: DataFrame,
    edges_b: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Crawl-over-crawl edge churn: per source vertex, how many
    out-edges were added, removed, and kept between two snapshots of
    the link graph, plus the neighborhood Jaccard stability
    (stable / union) — the page-change signal crawl schedulers and
    freshness models feed on.

    One full outer join on the canonical (src, dst) key — both sides
    distinct first, so the join is key-unique and never multiplies —
    then a per-src aggregate with map-side partials.  Returns
    ``(src, n_added, n_removed, n_stable, jaccard)`` for every vertex
    appearing in either snapshot.
    """
    a = (
        edges_a.select(
            F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
        )
        .distinct()
        .withColumn("in_a", F.lit(1))
    )
    b = (
        edges_b.select(
            F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
        )
        .distinct()
        .withColumn("in_b", F.lit(1))
    )
    j = a.join(b, ["src", "dst"], "full_outer")
    per = j.groupBy("src").agg(
        F.sum(
            F.when(F.col("in_b").isNotNull() & F.col("in_a").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_added"),
        F.sum(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_removed"),
        F.sum(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_stable"),
    )
    return per.select(
        "src",
        "n_added",
        "n_removed",
        "n_stable",
        F.round(
            F.col("n_stable").cast("double")
            / (F.col("n_added") + F.col("n_removed") + F.col("n_stable")),
            6,
        ).alias("jaccard"),
    )


def url_features(
    urls: DataFrame, url_col: str = "url", id_col: str | None = None
) -> DataFrame:
    """Per-URL structural features, all JVM-side regexp (the crawl
    prioritization / spam-heuristic signal set): lowercased host with
    the port stripped, HTTPS flag, path depth (non-empty ``/``
    segments), query-parameter count, and the final host label (tld).

    Patterns are conservative (no backrefs/lookaround) so the same
    expressions evaluate identically under Java regex and RE2 — the
    PII_PATTERNS discipline.  Pure projection: zero shuffle.
    """
    u = F.col(url_col)
    after = F.regexp_replace(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    hostport = F.regexp_extract(after, "^([^/?#]+)", 1)
    host = F.lower(F.regexp_replace(hostport, ":[0-9]+$", ""))
    path = F.regexp_extract(after, "^[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    cols = [F.col(id_col).cast("long").alias(id_col)] if id_col else [u.alias("url")]
    return urls.select(
        *cols,
        host.alias("host"),
        u.rlike("^(?i)https:").cast("boolean").alias("is_https"),
        F.size(F.filter(F.split(path, "/"), lambda x: x != F.lit("")))
        .cast("long")
        .alias("path_depth"),
        F.when(query == "", F.lit(0))
        .otherwise(F.size(F.split(query, "&")))
        .cast("long")
        .alias("n_params"),
        F.regexp_extract(host, r"\.([a-z0-9-]+)$", 1).alias("tld"),
    )


def domain_suffixes(col: str | F.Column) -> F.Column:
    """All dot-suffixes of a host as an array: ``a.b.c`` ->
    ``[a.b.c, b.c, c]`` — the expansion that turns wildcard domain
    blocking (UT1-style ``*.spam.example`` lists) into an equi-join.
    JVM higher-order functions only."""
    h = F.col(col) if isinstance(col, str) else col
    parts = F.split(h, r"\.")
    return F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, i, F.size(parts)), "."),
    )


def blocklist_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
) -> DataFrame:
    """Domain blocklist filtering with suffix (wildcard) semantics —
    the UT1/RefinedWeb URL-filter stage: a document is blocked when
    its host OR ANY parent domain appears in ``blocklist`` (one
    ``domain`` column).  The host explodes into its O(label-depth)
    dot-suffixes and one equi-join against the list decides the flag
    — broadcast when the list is small, plain hash join when it is
    millions of entries; never a per-row scan of the list.

    Returns the input plus a ``blocked`` boolean (filter on
    ``~blocked`` to keep)."""
    sfx = docs.select(
        F.col(host_col).alias("_h"),
        F.explode(domain_suffixes(host_col)).alias("domain"),
    ).distinct()
    hit = (
        sfx.join(blocklist.select(F.col("domain")), "domain", "left_semi")
        .select(F.col("_h").alias(host_col))
        .distinct()
        .withColumn("blocked", F.lit(True))
    )
    return docs.join(hit, host_col, "left").withColumn(
        "blocked", F.coalesce("blocked", F.lit(False))
    )


def host_spam_signals(
    pairs: DataFrame,
    src_url: str = "src_url",
    dst_url: str = "dst_url",
) -> DataFrame:
    """Per-host link-spam features over the page-level URL edge list —
    the classic structural signals of link farms (Gyöngyi & Garcia-
    Molina 2005): self-link density (navigation boilerplate), distinct
    out-host fan-out, and the reciprocal fraction of the host's
    out-edges (link-exchange rings reciprocate; editorial links
    mostly don't).

    One pass reduces page links to per-host totals and to the
    contracted host edge set; reciprocity is a self-equi-join on the
    reversed host pair — all host-level, never page x page.  Returns
    ``(host, n_links, self_ratio, out_hosts, reciprocal_ratio)``
    with ratios rounded to 6dp.
    """
    hp = pairs.select(
        host_of(src_url).alias("sh"), host_of(dst_url).alias("dh")
    ).filter((F.col("sh") != "") & (F.col("dh") != ""))
    tot = hp.groupBy(F.col("sh").alias("host")).agg(
        F.count(F.lit(1)).alias("n_links"),
        F.sum((F.col("sh") == F.col("dh")).cast("long")).alias("n_self"),
    )
    hedges = (
        hp.filter(F.col("sh") != F.col("dh")).select("sh", "dh").distinct()
    )
    rev = hedges.select(F.col("dh").alias("sh"), F.col("sh").alias("dh"))
    per_out = hedges.join(rev, ["sh", "dh"], "left_semi").groupBy(
        F.col("sh").alias("host")
    ).agg(F.count(F.lit(1)).alias("n_recip"))
    outs = hedges.groupBy(F.col("sh").alias("host")).agg(
        F.count(F.lit(1)).alias("out_hosts")
    )
    return (
        tot.join(outs, "host", "left")
        .join(per_out, "host", "left")
        .select(
            "host",
            "n_links",
            F.round(
                F.col("n_self").cast("double") / F.col("n_links"), 6
            ).alias("self_ratio"),
            F.coalesce("out_hosts", F.lit(0)).cast("long").alias("out_hosts"),
            F.round(
                F.coalesce(F.col("n_recip"), F.lit(0)).cast("double")
                / F.greatest(F.coalesce("out_hosts", F.lit(0)), F.lit(1)),
                6,
            ).alias("reciprocal_ratio"),
        )
    )


def edge_embeddedness(
    edges: DataFrame,
    max_degree: int = 10_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-edge embeddedness (Granovetter tie strength): the number of
    common neighbors of an edge's endpoints on the symmetrized graph —
    0 marks a local bridge (the weak tie that carries novel
    information), high values mark densely embedded intra-community
    ties.

    Same capped wedge join as the link-prediction family, but
    INTERSECTED with the edge set (semi-join) instead of
    anti-joined — so the output is one row per existing undirected
    edge.  Edges whose wedge evidence was capped away report 0, never
    disappear.  Returns ``(u, v, embeddedness)``.
    """
    from ccl_spark.graphstats import _symmetrized, _wedge_scores

    und = _symmetrized(edges, src, dst)
    canon = und.filter(F.col("s") < F.col("d")).select(
        F.col("s").alias("u"), F.col("d").alias("v")
    )
    common = _wedge_scores(und, F.lit(1.0), max_degree).select(
        "u", "v", F.col("score").cast("long").alias("embeddedness")
    )
    return canon.join(common, ["u", "v"], "left").select(
        "u",
        "v",
        F.coalesce("embeddedness", F.lit(0)).cast("long").alias("embeddedness"),
    )
