"""Seeded input generators for the link-graph benchmark.

Nothing here starts Spark: the engine only ever sees the parquet
files written below. Two input families:

- the repository's synthetic crawl, ``ccl_spark.datagen``'s pages
  table (power-law out-degree with a dangling share, link targets
  biased toward low page ids so in-degree has hubs, body text, host
  footers and anchor words), generated by datagen's own batch function
  and written to parquet; the ``edges(src, dst)`` table ingest should
  yield is also written, for the ``local[1]`` scaling probe;
- a storm-like scalar field over a stack of 2-D grids (Gaussian cells
  drifting across slices plus noise), emitted as
  ``grid(slice_id, row, col, value)``.

Files are cached under ``cache_dir`` keyed by (kind, size, seed), so a
repeated seed costs one directory check.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ccl_spark import datagen

def n_hosts(n_pages: int) -> int:
    """The host count ``datagen.generate_pages`` defaults to."""
    return max(1, n_pages // 50)


def page_links(n_pages: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Page indices ``(src, dst)`` of every link the generator embeds,
    from datagen's own driver-side record of them."""
    urls = [datagen.url_of(i, n_hosts(n_pages)) for i in range(n_pages)]
    index = {u: i for i, u in enumerate(urls)}
    pairs = datagen.ground_truth_edges(n_pages, seed)
    src = np.fromiter((index[s] for s, _ in pairs), np.int64, len(pairs))
    dst = np.fromiter((index[d] for _, d in pairs), np.int64, len(pairs))
    return src, dst


def _pages_table(n_pages: int, seed: int) -> pa.Table:
    """The rows ``datagen.generate_pages(spark, n_pages, seed)`` yields,
    built by the same batch function it maps over the page ids, without
    a Spark session."""
    ids = pd.DataFrame({"id": np.arange(n_pages, dtype=np.int64)})
    (pdf,) = datagen._gen_batch(iter([ids]), n_pages, seed, n_hosts(n_pages))
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark reads parquet timestamps at microsecond precision only
    ts = t["warc_ts"].cast(pa.timestamp("us", tz="UTC"))
    return t.set_column(t.schema.get_field_index("warc_ts"), "warc_ts", ts)


@dataclass(frozen=True)
class Storm:
    n_slices: int
    n_rows: int
    n_cols: int
    lo: float
    value: np.ndarray  # float64 (n_slices, n_rows, n_cols)


def storm_field(n_slices: int, n_rows: int, n_cols: int, seed: int) -> Storm:
    """Gaussian storm cells that drift and breathe across slices, on a
    noisy background; thresholding at ``lo`` keeps ~30% of voxels as a
    few hundred irregular 3-D blobs with long chains between slices."""
    rng = np.random.default_rng([seed, 2])
    n_cells = max(4, (n_rows * n_cols) // 400)
    r0 = rng.uniform(0, n_rows, n_cells)
    c0 = rng.uniform(0, n_cols, n_cells)
    dr, dc = rng.normal(0, 0.8, n_cells), rng.normal(0, 0.8, n_cells)
    amp = rng.uniform(0.5, 1.0, n_cells)
    width = rng.uniform(2.0, 6.0, n_cells)
    phase = rng.uniform(0, 2 * np.pi, n_cells)
    rr = np.arange(n_rows)[:, None, None]
    cc = np.arange(n_cols)[None, :, None]
    out = np.empty((n_slices, n_rows, n_cols))
    for s in range(n_slices):
        a = amp * (0.75 + 0.25 * np.sin(phase + 0.3 * s))
        d2 = (rr - (r0 + dr * s)) ** 2 + (cc - (c0 + dc * s)) ** 2
        out[s] = (a * np.exp(-d2 / (2 * width**2))).sum(axis=2)
    out += rng.normal(0, 0.05, out.shape)
    out = np.clip(out, 0.0, None)
    lo = float(np.quantile(out, 0.70))
    return Storm(n_slices, n_rows, n_cols, lo, out)


def _grid_table(st: Storm) -> pa.Table:
    s, r, c = np.indices(st.value.shape).reshape(3, -1)
    return pa.table(
        {
            "slice_id": s.astype(np.int32),
            "row": r.astype(np.int32),
            "col": c.astype(np.int32),
            "value": st.value.reshape(-1),
        }
    )


def _write_once(path: str, make) -> str:
    """Write ``make()`` to ``path/part-0.parquet`` unless a complete copy
    is there; completeness is the ``_SUCCESS`` marker written last."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    os.makedirs(path, exist_ok=True)
    pq.write_table(make(), os.path.join(path, "part-0.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def pages_parquet(cache_dir: str, n_pages: int, seed: int) -> str:
    return _write_once(
        os.path.join(cache_dir, f"pages-n{n_pages}-s{seed}"),
        lambda: _pages_table(n_pages, seed),
    )


def edges_parquet(cache_dir: str, name: str, src: np.ndarray, dst: np.ndarray) -> str:
    return _write_once(
        os.path.join(cache_dir, name), lambda: pa.table({"src": src, "dst": dst})
    )


def grid_parquet(cache_dir: str, st: Storm, seed: int) -> str:
    name = f"grid-{st.n_slices}x{st.n_rows}x{st.n_cols}-s{seed}"
    return _write_once(os.path.join(cache_dir, name), lambda: _grid_table(st))
