#!/usr/bin/env python3
"""Seeded land-use scene for the `landuse` workload.

Writes three pixel tables (tile_col, tile_row, px, py, v) in the shape
`graft.apps.IngestLayer` / `UpdateLayer` read:
  nir.parquet, red.parquet  a COLS x ROWS grid of TS x TS tiles: smooth
                            seeded fields plus noise, ~1% of pixels
                            missing (NoData);
  patch.parquet             an update patch over a seeded rectangle that
                            crosses tile borders, with new values.

Entry point: generate(out_dir, seed, cols, rows, tile), called by run.py.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def field(rng, h, w, base, amp):
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    f = np.full((h, w), base)
    for _ in range(4):
        kx, ky = rng.uniform(0.002, 0.02, 2)
        f += amp * np.sin(kx * x + ky * y + rng.uniform(0, 2 * np.pi))
    return np.round(f + rng.normal(0, amp / 10, (h, w)), 3)


def pixel_table(v, ts, keep):
    """Global raster -> pixel rows, dropping cells where keep is False."""
    gy, gx = np.nonzero(keep)
    return pa.table({
        "tile_col": pa.array(gx // ts, pa.int32()), "tile_row": pa.array(gy // ts, pa.int32()),
        "px": pa.array(gx % ts, pa.int32()), "py": pa.array(gy % ts, pa.int32()),
        "v": pa.array(v[gy, gx], pa.float64())})


def generate(out, seed, cols=2, rows=2, ts=256):
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    h, w = rows * ts, cols * ts
    for band, base in (("nir", 0.55), ("red", 0.25)):
        v = field(rng, h, w, base, 0.04)
        pq.write_table(pixel_table(v, ts, rng.random((h, w)) >= 0.01), out / f"{band}.parquet")
    ph, pw = int(rng.integers(h // 4, h // 2 + 1)), int(rng.integers(w // 4, w // 2 + 1))
    y0, x0 = int(rng.integers(0, h - ph + 1)), int(rng.integers(0, w - pw + 1))
    keep = np.zeros((h, w), bool)
    keep[y0:y0 + ph, x0:x0 + pw] = True
    pq.write_table(pixel_table(field(rng, h, w, 0.3, 0.1), ts, keep), out / "patch.parquet")

