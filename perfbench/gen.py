"""Seeded input generators for the landuse_pipeline workload.

Everything here is a pure function of its arguments: the same seed gives
byte-identical inputs. The engine only ever sees the files written here.

- `bands` writes two-band (NIR, red) pixels on a grid of square tiles,
  one parquet per band, in the (tile_col, tile_row, px, py, v) shape the
  ingest job reads.
- `patch` writes a change patch: a few whole tiles of new NIR values.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def band_values(seed, grid, tile):
    """(nir, red) cell planes of the whole grid, shape (grid*tile, grid*tile).

    Smooth fields plus noise, quantized to 1/1024 so every value is exact
    in binary and sums of a few of them stay exact."""
    rng = np.random.default_rng(seed)
    n = grid * tile
    y, x = np.mgrid[0:n, 0:n] / n
    fx, fy = rng.uniform(1.0, 4.0, 2)
    base = 0.5 + 0.25 * np.sin(2 * np.pi * fx * x) * np.cos(2 * np.pi * fy * y)
    nir = np.round((base + rng.uniform(0.0, 0.2, (n, n))) * 1024) / 1024
    red = np.round((0.6 - 0.5 * base + rng.uniform(0.0, 0.2, (n, n))) * 1024) / 1024
    return nir, red


def _pixels(plane, tile, cols=None):
    """Pixel rows of a plane whose (0, 0) cell is the top-left of tile (0, 0);
    `cols` restricts to a set of tile keys."""
    n_rows, n_cols = plane.shape
    yy, xx = np.mgrid[0:n_rows, 0:n_cols]
    tc, tr = xx // tile, yy // tile
    keep = np.ones(plane.shape, bool)
    if cols is not None:
        keep = np.isin(tc * 100_000 + tr, [c * 100_000 + r for c, r in cols])
    return pa.table({
        "tile_col": pa.array(tc[keep].astype(np.int32)),
        "tile_row": pa.array(tr[keep].astype(np.int32)),
        "px": pa.array((xx % tile)[keep].astype(np.int32)),
        "py": pa.array((yy % tile)[keep].astype(np.int32)),
        "v": pa.array(plane[keep].astype(np.float64))})


def bands(out_dir, seed, grid, tile):
    """Write nir.parquet and red.parquet, and warmup.parquet (one tile of
    NIR, for the set-up's warm-up ingest); return the planes."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    nir, red = band_values(seed, grid, tile)
    pq.write_table(_pixels(nir, tile), str(out / "nir.parquet"))
    pq.write_table(_pixels(red, tile), str(out / "red.parquet"))
    pq.write_table(_pixels(nir[:tile, :tile], tile), str(out / "warmup.parquet"))
    return nir, red


def patch_tiles(seed, grid, n_tiles):
    rng = np.random.default_rng(seed + 1)
    keys = [(c, r) for c in range(grid) for r in range(grid)]
    idx = rng.choice(len(keys), size=min(n_tiles, len(keys)), replace=False)
    return sorted(keys[i] for i in idx)


def patch(out_dir, seed, grid, tile, n_tiles=2):
    """Write patch.parquet: new NIR values for n_tiles whole tiles.
    Returns (tile keys, patched NIR plane)."""
    nir, _ = band_values(seed, grid, tile)
    rng = np.random.default_rng(seed + 2)
    new = np.round(rng.uniform(0.0, 1.0, nir.shape) * 1024) / 1024
    keys = patch_tiles(seed, grid, n_tiles)
    pq.write_table(_pixels(new, tile, keys), str(Path(out_dir) / "patch.parquet"))
    merged = nir.copy()
    for c, r in keys:
        merged[r * tile:(r + 1) * tile, c * tile:(c + 1) * tile] = \
            new[r * tile:(r + 1) * tile, c * tile:(c + 1) * tile]
    return keys, merged
