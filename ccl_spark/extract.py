"""Text + hyperlink extraction from the pages table.

Two tiers, per the "UDFs are the slow path" rule:

1. **JVM tier (default)** — the extraction grammar here (well-formed
   ``<p>`` bodies and ``href="..."`` attributes) is regular, so both
   extractions compile to built-in `regexp_extract_all` — whole-stage
   codegen, zero Python. This is what the engine runs everywhere.
2. **Arrow tier** — `extract_pages_pandas` shows the mapInPandas shape
   for real-world HTML (where you'd call lxml/bs4 per Arrow batch);
   the heavy parser import is gated so the sandbox stays hermetic.
   Batch shape, schema and partitioning are identical to tier 1.

Invariant (BASELINE.json input_hint): ``extract_text(html) == text``
byte-identically per url — enforced by tests/test_extract.py.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

_P_RE = re.compile(r"<p>(.*?)</p>", re.S)
_HREF_RE = re.compile(r'href="([^"]+)"')

# Spark and Python regex syntax agree for these patterns.
_P_SQL = "<p>(.*?)</p>"
_HREF_SQL = 'href="([^"]+)"'
_A_SQL = '<a href="([^"]+)">([^<]*)</a>'


def extract_text_py(html: bytes) -> str:
    """Reference extractor: concatenated <p> bodies."""
    return "\n".join(_P_RE.findall(html.decode("utf-8")))


def extract_links_py(html: bytes) -> list[str]:
    return _HREF_RE.findall(html.decode("utf-8"))


def extracted_text_col(html_col: str = "html") -> F.Column:
    s = F.col(html_col).cast("string")
    return F.array_join(F.regexp_extract_all(s, F.lit(_P_SQL), F.lit(1)), "\n")


def extract_text(pages: DataFrame) -> DataFrame:
    """(url, text) recomputed from html — JVM-side."""
    return pages.select("url", extracted_text_col().alias("text"))


def extract_link_pairs(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url) exploded from the hrefs in html — JVM-side."""
    s = F.col("html").cast("string")
    links = F.regexp_extract_all(s, F.lit(_HREF_SQL), F.lit(1))
    return (
        pages.select(F.col("url").alias("src_url"), F.explode(links).alias("dst_url"))
        .filter(F.col("dst_url") != F.col("src_url"))
        .distinct()
    )


def extract_anchor_pairs(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url, anchor) exploded from the <a> tags — JVM-side.

    Two aligned ``regexp_extract_all`` passes (capture group 1 = href,
    group 2 = anchor body) zipped positionally; stays in whole-stage
    codegen, no Python."""
    s = F.col("html").cast("string")
    z = F.arrays_zip(
        F.regexp_extract_all(s, F.lit(_A_SQL), F.lit(1)).alias("dst_url"),
        F.regexp_extract_all(s, F.lit(_A_SQL), F.lit(2)).alias("anchor"),
    )
    return (
        pages.select(F.col("url").alias("src_url"), F.explode(z).alias("a"))
        .select("src_url", F.col("a.dst_url").alias("dst_url"), F.col("a.anchor").alias("anchor"))
        .filter(F.col("dst_url") != F.col("src_url"))
        .distinct()
    )


def _extract_batch(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    try:  # real-HTML parser would be used here if present
        import lxml.html  # noqa: F401
    except ImportError:
        pass  # regex tier is the sandbox fallback
    for pdf in pdf_iter:
        htmls = pdf["html"]
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "text": [extract_text_py(h) for h in htmls],
                "links": [extract_links_py(h) for h in htmls],
            }
        )


def extract_pages_pandas(pages: DataFrame) -> DataFrame:
    """Arrow-batched variant: (url, text, links array<string>)."""
    return pages.select("url", "html").mapInPandas(
        _extract_batch, schema="url string, text string, links array<string>"
    )
