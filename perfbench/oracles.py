"""Independent references, computed once per run outside the timed region,
and the output checks that compare each timed run against them.

The references call the package's numpy kernels directly, in this one
process, with no Spark: the engine's distribution (partitioning, Arrow
batching, shuffles, halo exchange, file decode) is what they stand apart
from.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lidartree_spark.codecs import decode_tile
from lidartree_spark.generator import parse_tile_id, tile_origin
from lidartree_spark.kernels.extraction import tree_extraction
from lidartree_spark.kernels.matching import tree_matching
from lidartree_spark.kernels.segmentation import tree_segmentation
from lidartree_spark.operators.detection import DEFAULT_PARAMS

import inputs


def detect_chm(chm: np.ndarray, x0: float, y1: float) -> list[dict]:
    """tree_segmentation + tree_extraction with detect_trees' parameters."""
    p = DEFAULT_PARAMS
    seg = tree_segmentation(
        chm, res=p["res"], nl_filter=p["nl_filter"], nl_size=p["nl_size"],
        sigma=p["sigma"], max_width=p["max_width"], hmin=p["hmin"],
        dmin=p["dmin"], dprop=p["dprop"], prop=p["prop"],
        min_value=p["min_value"])
    return tree_extraction(seg["filled_dem"], seg["local_maxima"],
                           seg["segments_id"], x0=x0, y1=y1, res=p["res"])


def _frame(rows: list[dict], cols: list[str]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=cols)


# -- tiles_detect_match -----------------------------------------------------

def tiles_matches(tiles: pd.DataFrame, ref: pd.DataFrame) -> pd.DataFrame:
    """Per-tile detection, then per-tile greedy matching against the
    inventory (reference sorted by tree_id, detections by id)."""
    out = []
    ref_by = {k: g.sort_values("tree_id") for k, g in ref.groupby("image_id")}
    for rec in tiles.itertuples(index=False):
        chm = decode_tile(rec.bytes, rec.fmt, rec.w, rec.h)
        x0, y1 = tile_origin(*parse_tile_id(rec.image_id))
        det = sorted(detect_chm(chm, x0, y1), key=lambda r: r["id"])
        lr = ref_by.get(rec.image_id)
        if lr is None or not det:
            continue
        ld = np.array([[r["x"], r["y"], r["h"]] for r in det])
        for m in tree_matching(lr[["x", "y", "h"]].to_numpy(), ld):
            out.append({"image_id": rec.image_id, "r": int(m["r"]),
                        "d": int(m["d"]), "h_diff": m["h_diff"],
                        "plan_diff": m["plan_diff"]})
    return _frame(out, ["image_id", "r", "d", "h_diff", "plan_diff"])


def check_matches(got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the engine's matched rows equal the reference's, else the
    first difference."""
    keys = ["image_id", "r", "d"]
    g = got.sort_values(keys).reset_index(drop=True)
    e = expected.sort_values(keys).reset_index(drop=True)
    if len(g) != len(e):
        return f"{len(g)} matched rows, expected {len(e)}"
    bad = (g[keys] != e[keys]).any(axis=1)
    for col in ("h_diff", "plan_diff"):
        bad |= ~np.isclose(g[col].to_numpy(float), e[col].to_numpy(float),
                           rtol=0, atol=1e-9)
    if bad.any():
        i = int(np.argmax(bad.to_numpy()))
        return f"row {g.iloc[i].to_dict()} != {e.iloc[i].to_dict()}"
    return None


# -- laz_catalog_checkpoint -------------------------------------------------

def check_trees(got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Same apexes (cell-centre x, y exactly), heights and dominance radii
    within float32 noise. The owning tile is not compared: the mosaic
    reference has none."""
    keys = ["x", "y"]
    g = got.assign(x=got["x"].round(6), y=got["y"].round(6))
    e = expected.assign(x=expected["x"].round(6), y=expected["y"].round(6))
    g = g.sort_values(keys).reset_index(drop=True)
    e = e.sort_values(keys).reset_index(drop=True)
    if len(g) != len(e):
        return f"{len(g)} trees, expected {len(e)}"
    bad = (g[keys] != e[keys]).any(axis=1)
    for col in ("h", "dom_radius"):
        bad |= ~np.isclose(g[col].to_numpy(float), e[col].to_numpy(float),
                           rtol=0, atol=1e-3)
    if bad.any():
        i = int(np.argmax(bad.to_numpy()))
        cols = keys + ["h", "dom_radius"]
        return f"tree {g.iloc[i][cols].to_dict()} != {e.iloc[i][cols].to_dict()}"
    return None


def check_points(got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Decoded (x, y, z, classification) equal the quantized generator
    points, as multisets."""
    cols = ["x", "y", "z", "classification"]
    g = got[cols].sort_values(cols).to_numpy(float)
    e = expected[cols].sort_values(cols).to_numpy(float)
    if g.shape != e.shape:
        return f"{len(g)} points decoded, expected {len(e)}"
    if not np.array_equal(g, e):
        i = int(np.argmax((g != e).any(axis=1)))
        return f"point {g[i].tolist()} != {e[i].tolist()}"
    return None


def chm_tiles(points_q: pd.DataFrame, r0: int,
              c0: int) -> dict[str, np.ndarray]:
    """CHM tiles built in numpy from the quantized points: DSM = highest
    return per cell, DTM = the ground plane at each cell centre (the TIN of
    on-plane ground returns), CHM = max(DSM - DTM, 0) in float32 like
    normalize_tiles."""
    res, px = inputs.RES, inputs.TILE_PX
    a, b, c = inputs.GROUND_PLANE
    cx = np.floor(points_q["x"].to_numpy() / res).astype(np.int64)
    cy = np.floor(points_q["y"].to_numpy() / res).astype(np.int64)
    z = points_q["z"].to_numpy()
    # the plane's origin is the south-west corner of the grid
    xs0, ys0 = c0 * inputs.TILE_M, r0 * inputs.TILE_M
    cells = pd.DataFrame({"cx": cx, "cy": cy, "z": z}).groupby(
        ["cx", "cy"])["z"].max()
    out = {}
    for (row, col), grp in cells.groupby(
            [cells.index.get_level_values("cy") // px,
             cells.index.get_level_values("cx") // px]):
        dsm = np.full((px, px), np.nan)
        gcx = grp.index.get_level_values("cx").to_numpy() - col * px
        gcy = grp.index.get_level_values("cy").to_numpy() - row * px
        dsm[px - 1 - gcy, gcx] = grp.to_numpy()
        x0, y1 = col * px * res, (row + 1) * px * res
        gx = x0 + (np.arange(px) + 0.5) * res
        gy = y1 - (np.arange(px) + 0.5) * res
        dtm = a + b * (gx[None, :] - xs0) + c * (gy[:, None] - ys0)
        chm = np.maximum(dsm.astype(np.float32) - dtm.astype(np.float32),
                         np.float32(0.0))
        out[f"t{row:04d}_{col:04d}"] = chm.astype(np.float32)
    return out


def in_ring(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray casting (the ring is closed: last vertex == first)."""
    inside = np.zeros(len(x), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        crosses = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = x1 + (x2 - x1) * (y - y1) / (y2 - y1)
        inside ^= crosses & (x < xc)
    return inside


def stitch(chms: dict[str, np.ndarray]) -> tuple[np.ndarray, float, float]:
    """Stitch a rectangle of tiles into one array; returns it with the
    mosaic's (x0, y1)."""
    rc = {parse_tile_id(i): a for i, a in chms.items()}
    rows = sorted({r for r, _ in rc})
    cols = sorted({c for _, c in rc})
    px = inputs.TILE_PX
    mos = np.full((px * len(rows), px * len(cols)), np.nan, dtype=np.float32)
    for (r, c), arr in rc.items():
        i, j = rows[-1] - r, c - cols[0]   # northernmost row first
        mos[i * px:(i + 1) * px, j * px:(j + 1) * px] = arr
    x0, y1 = tile_origin(rows[-1], cols[0])
    return mos, x0, y1


def mosaic_trees(chms: dict[str, np.ndarray], ring: np.ndarray) -> pd.DataFrame:
    """Detection over the stitched mosaic of the tiles whose bbox meets the
    ROI's bbox, clipped to the ROI: what tree_detection_catalog's halo
    exchange must reproduce."""
    xmin, ymin = ring.min(axis=0)
    xmax, ymax = ring.max(axis=0)
    keep = {}
    for image_id, arr in chms.items():
        x0, y1 = tile_origin(*parse_tile_id(image_id))
        if x0 < xmax and x0 + inputs.TILE_M > xmin and \
                y1 - inputs.TILE_M < ymax and y1 > ymin:
            keep[image_id] = arr
    mos, x0, y1 = stitch(keep)
    det = _frame(detect_chm(mos.astype(np.float64), x0, y1),
                 ["x", "y", "h", "dom_radius"])
    inside = in_ring(det["x"].to_numpy(), det["y"].to_numpy(), ring)
    return det[inside].reset_index(drop=True)
