"""Correctness checks, run after the timed region.

query_mix: every result against its DuckDB oracle (SparkEntry.oracleSql),
by the comparison rules of tools/local_verify.py: type-strict Arrow
schema, rows sorted by all columns, floats bitwise. A query without an
oracle must return rows.

landuse_pipeline: the engine's layers against a recomputation from the
seed's generated pixels that does not use the engine. Each failed check
is keyed by the pipeline step whose output it reads.

With `corrupt`, one expected value is changed first, so the check must
fail: the benchmark's tests use it to prove the checks have teeth.
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

ROOT = Path.cwd()


def _local_verify():
    sys.path.insert(0, str(ROOT / "tools"))
    import local_verify
    return local_verify


def query_results(data, results, oracle_json, names, corrupt=False):
    """{query name: "OK" or why it failed}."""
    import json
    import duckdb
    lv = _local_verify()
    oracle = json.loads(Path(oracle_json).read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in lv.TABLES:
        p = Path(data) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in sorted(names):
        got = pq.read_table(str(Path(results) / name))
        if name not in oracle:
            out[name] = "OK" if got.num_rows > 0 else "EMPTY"
            continue
        try:
            want = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"ORACLE-ERROR: {e}"
            continue
        if corrupt:
            want, corrupt = _corrupt_table(want), False
        verdict = lv.compare_types(got, want) or lv.compare(got.to_pandas(), want.to_pandas())
        out[name] = verdict
    return out


def _corrupt_table(t):
    """Adds a row: the row counts then differ whatever the values are."""
    import pyarrow as pa
    return pa.concat_tables([t, t.slice(0, 1)]) if t.num_rows else \
        pa.table({c: pa.array([None], t.schema.field(c).type) for c in t.column_names})


def _plane(path, tile, n_tiles_side):
    """Layer parquet (tile_col, tile_row, cells) -> one 2-D plane."""
    t = pq.read_table(str(path)).to_pydict()
    plane = np.full((n_tiles_side * tile, n_tiles_side * tile), np.nan)
    for c, r, cells in zip(t["tile_col"], t["tile_row"], t["cells"]):
        plane[r * tile:(r + 1) * tile, c * tile:(c + 1) * tile] = np.asarray(cells).reshape(tile, tile)
    return plane


def focal_mean(plane, radius):
    """Circular focal mean over data cells, NaN outside the plane; cells
    are summed in the kernel's own order (dy, then dx)."""
    n_rows, n_cols = plane.shape
    padded = np.full((n_rows + 2 * radius, n_cols + 2 * radius), np.nan)
    padded[radius:-radius, radius:-radius] = plane
    total = np.zeros(plane.shape)
    count = np.zeros(plane.shape)
    for dy in range(-radius, radius + 1):
        for dx in range(-radius, radius + 1):
            if dx * dx + dy * dy <= radius * radius:
                v = padded[radius + dy:radius + dy + n_rows, radius + dx:radius + dx + n_cols]
                ok = ~np.isnan(v)
                total += np.where(ok, v, 0.0)
                count += ok
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(count > 0, total / count, np.nan)


def downsample2(plane):
    """2x2 block mean over data cells."""
    blocks = plane.reshape(plane.shape[0] // 2, 2, plane.shape[1] // 2, 2)
    with np.errstate(invalid="ignore"):
        return np.nanmean(blocks, axis=(1, 3))


def _close(got, want, atol):
    both_nan = np.isnan(got) & np.isnan(want)
    return bool(np.all(both_nan | (np.abs(got - want) <= atol)))


def landuse(work, jvm, nir, red, tile, radius, patch_keys, merged, corrupt=False):
    """{step: why} for every pipeline step whose output fails its check."""
    check = Path(work) / "check"
    grid = nir.shape[0] // tile
    bad = {}
    with np.errstate(invalid="ignore", divide="ignore"):
        ndvi = (nir - red) / (nir + red)
    if corrupt:
        ndvi = ndvi.copy()
        ndvi[0, 0] += 0.5
    got = _plane(check / "ndvi_z1", tile, grid)
    if not _close(got, ndvi, 1e-12):
        bad["ndvi"] = "NDVI cells differ from (nir - red) / (nir + red)"
    # interior cells only: their whole window lies inside the grid
    focal = _plane(check / "focal_z1", tile, grid)
    want = focal_mean(ndvi, radius)
    inner = (slice(radius, -radius), slice(radius, -radius))
    if not _close(focal[inner], want[inner], 1e-9):
        bad["focal"] = "interior focal-mean cells differ from the recomputed mean"
    parent = _plane(check / "focal_z0", tile, 1)
    if not _close(parent, downsample2(focal), 1e-12):
        bad["pyramid"] = "the zoom-0 parent is not the 2x2 mean of its zoom-1 children"
    if not _close(_plane(check / "nir_z1", tile, grid), merged, 0.0):
        bad["update"] = "the merged NIR layer differs from the patched pixels"
    done = jvm["pass"]
    changed = sorted((int(c), int(r)) for c, r, kind in done["changed"] if kind == "changed")
    if changed != sorted(patch_keys) or len(done["changed"]) != len(changed):
        bad["diff"] = f"version diff {done['changed']} != patched tiles {patch_keys}"
    bad.update(_export(Path(done["export"]), ndvi, tile))
    return bad


def _export(csv_dir, ndvi, tile):
    """The pixel CSV: one line per NDVI cell, label = the cell's value."""
    lines = [ln for f in sorted(csv_dir.glob("part-*")) for ln in f.read_text().splitlines()]
    if len(lines) != ndvi.size:
        return {"export": f"{len(lines)} CSV lines for {ndvi.size} cells"}
    for ln in lines[::max(1, len(lines) // 2000)]:
        # label;feature;SpatialKey(c,r);x;y
        parts = ln.split(";")
        c, r = (int(x) for x in parts[-3][len("SpatialKey("):-1].split(","))
        x, y = int(parts[-2]), int(parts[-1])
        want = ndvi[r * tile + y, c * tile + x]
        if abs(float(parts[0]) - want) > 1e-12 or abs(float(parts[1]) - want) > 1e-12:
            return {"export": f"CSV line {ln!r} != cell value {want!r}"}
    return {}
