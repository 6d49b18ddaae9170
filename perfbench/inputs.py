"""Seeded benchmark inputs.

Every input is a pure function of (workload, seed): the seed picks the
tile-grid origin (so each seed sees other generator tiles) and seeds the
point sampler. Tiles and inventories come from the package's generator
(`lidartree_spark.generator`); they are written with pyarrow in one
process so the same seed yields byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lidartree_spark.generator import (gen_ref_trees, gen_tile, gen_tile_row,
                                       tile_origin)

RES = 0.5          # m per CHM cell, the generator's convention
TILE_PX = 64
TILE_M = TILE_PX * RES
LAZ_SCALE = (0.01, 0.01, 0.01)
# z = a + b*(x - x0) + c*(y - y0). Ground returns sit on a 1 m lattice at
# x - x0 = 0.25 + i and y - y0 = 0.75 + j, where every ground z is a
# multiple of the 0.01 m z scale, so any triangulation of them reproduces
# the plane exactly
GROUND_PLANE = (100.0, 0.04, 0.04)
GROUND_STEP = 2   # cells between ground returns
# returns per canopy cell: the top one at ground + CHM and lower ones at
# ground + CHM * U(0.05, 0.9); the DSM keeps the highest per cell
CANOPY_RETURNS = 3

_WORKLOAD_STREAM = {"tiles_detect_match": 1, "laz_catalog_checkpoint": 2}


def rng_for(workload: str, seed: int, purpose: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _WORKLOAD_STREAM[workload], purpose])


def grid_origin(workload: str, seed: int) -> tuple[int, int]:
    """(row0, col0) of the workload's tile grid for this seed."""
    r0, c0 = rng_for(workload, seed).integers(0, 4000, 2)
    return int(r0), int(c0)


def grid_cells(r0: int, c0: int, n: int) -> list[tuple[int, int]]:
    return [(r, c) for r in range(r0, r0 + n) for c in range(c0, c0 + n)]


def _write_parquet(df: pd.DataFrame, directory: str, n_files: int) -> None:
    os.makedirs(directory, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        table = pa.Table.from_pandas(df.iloc[part].reset_index(drop=True),
                                     preserve_index=False)
        pq.write_table(table, os.path.join(directory,
                                           f"part-{i:05d}.parquet"))


def write_tiles(cells: list[tuple[int, int]], directory: str,
                n_files: int = 4) -> int:
    """Tile parquet (the package's `tiles` schema, mixed codecs)."""
    rows = [gen_tile_row(r, c) for r, c in cells]
    _write_parquet(pd.DataFrame(rows), directory, n_files)
    return len(rows)


def write_inventory(cells: list[tuple[int, int]], directory: str) -> int:
    """Field inventory parquet (image_id, tree_id, x, y, h, ...)."""
    trees = [t for r, c in cells for t in gen_ref_trees(r, c)]
    _write_parquet(pd.DataFrame(trees), directory, 1)
    return len(trees)


def roi_polygon(workload: str, seed: int, r0: int, c0: int, n: int,
                inset_tiles: float) -> np.ndarray:
    """A seeded hexagon inside the n x n grid, `inset_tiles` tiles in from
    each side: bbox pruning drops the tiles outside it and the exact clip
    cuts through the rest. Returns the closed ring (k+1, 2)."""
    rng = rng_for(workload, seed, purpose=1)
    x0, y1 = tile_origin(r0 + n - 1, c0)
    cx, cy = x0 + n * TILE_M / 2, y1 - n * TILE_M / 2
    radius = (n / 2 - inset_tiles) * TILE_M
    ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
    rad = radius * rng.uniform(0.75, 0.98, 6)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    # snap off the pixel-centre lattice so no apex sits on an edge
    ring = np.round(ring, 2) + 0.013
    return np.vstack([ring, ring[:1]])


def ring_wkt(ring: np.ndarray) -> str:
    return "POLYGON ((" + ", ".join(f"{x:.3f} {y:.3f}" for x, y in ring) + "))"


def laz_points(workload: str, seed: int, r0: int, c0: int,
               n: int) -> pd.DataFrame:
    """Ground + canopy returns sampled from generator CHMs.

    Ground: one return at every GROUND_STEP-th cell centre, on a tilted
    plane. Canopy: CANOPY_RETURNS returns per canopy cell, each at a
    seeded position inside the cell, the first at plane + CHM height and
    the others below it. gps_time makes the records point format 1."""
    rng = rng_for(workload, seed, purpose=2)
    a, b, c = GROUND_PLANE
    xs0, _ = tile_origin(r0, c0)
    ys0 = r0 * TILE_M
    parts = []
    for r, cc in grid_cells(r0, c0, n):
        _, chm, _ = gen_tile(r, cc)
        x0, y1 = tile_origin(r, cc)
        jj, ii = np.meshgrid(np.arange(TILE_PX), np.arange(TILE_PX))
        gx = x0 + (jj + 0.5) * RES
        gy = y1 - (ii + 0.5) * RES
        g = (slice(None, None, GROUND_STEP), slice(None, None, GROUND_STEP))
        parts.append(pd.DataFrame({
            "x": gx[g].ravel(), "y": gy[g].ravel(),
            "z": (a + b * (gx[g] - xs0) + c * (gy[g] - ys0)).ravel(),
            "classification": 2}))
        canopy = np.isfinite(chm) & (chm > 0)
        k, n_ret = int(canopy.sum()), CANOPY_RETURNS
        u, v = rng.uniform(0.05, 0.95, (2, n_ret * k))
        frac = np.concatenate([np.ones(k),
                               rng.uniform(0.05, 0.9, (n_ret - 1) * k)])
        px = x0 + (np.tile(jj[canopy], n_ret) + u) * RES
        py = y1 - (np.tile(ii[canopy], n_ret) + v) * RES
        parts.append(pd.DataFrame({
            "x": px, "y": py,
            "z": a + b * (px - xs0) + c * (py - ys0)
            + np.tile(chm[canopy].astype(np.float64), n_ret) * frac,
            "classification": 1}))
    pts = pd.concat(parts, ignore_index=True)
    pts["gps_time"] = np.arange(len(pts), dtype=np.float64) * 1e-4
    return pts


def quantize(pts: pd.DataFrame) -> pd.DataFrame:
    """The LAS integer grid round trip (rint((v - 0) / scale) * scale)."""
    out = pts.copy()
    for col, s in zip("xyz", LAZ_SCALE):
        out[col] = np.rint(out[col].to_numpy() / s).astype(np.int64) * s
    return out
