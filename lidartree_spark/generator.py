"""Deterministic synthetic tile/tree generator.

Produces the authoritative `tiles` input table (BASELINE.json input_hint:
image_id, bytes, w, h, fmt, caption, phash) plus the ground-truth `ref_trees`
table. Crown model follows the reference's own simulation in its examples:
``z = h * exp(-((x-xt)^2 + (y-yt)^2/2) * h/50)`` composed with pmax
(/root/reference/R/coregistration.R:373-377). Everything is seeded per
image_id, so any tile can be regenerated independently on any executor —
the generator itself is embarrassingly parallel (mapInPandas over an id
range), which is how a 10^12-row corpus would be materialized.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

from lidartree_spark.codecs import encode_tile, phash64

RES = 0.5  # map units (m) per pixel, Chablais3 CHM convention
# png = real ISO 15948 gray16; jpeg = real baseline JFIF (pure python)
FMTS = ("raw_f32", "png16", "q8", "png", "jpeg")


def tile_seed(image_id: str) -> int:
    return int.from_bytes(hashlib.sha256(image_id.encode()).digest()[:8], "little")


# ASCII [0-9] only (\d also matches Unicode digits, which the SQL-side
# parses reject — the two paths must agree); 1-9 digits bounds row/col
# below 10^9, well past any real grid and inside INT on the SQL side
_TILE_ID_RE = re.compile(r"^[tp]([0-9]{1,9})_([0-9]{1,9})$")


def tile_id(row: int, col: int) -> str:
    """The tile id of grid cell (row, col); parse_tile_id inverts it."""
    return f"t{row:04d}_{col:04d}"


def parse_tile_id(image_id: str) -> tuple[int, int]:
    """(row, col) from a 't{row}_{col}' / 'p{row}_{col}' id. The 4-digit
    padding in emitted ids is a MINIMUM width, so parsing must be by
    pattern, not fixed positions — a substring parse silently truncates
    digits at >= 10000 rows/cols and assigns tiles to wrong grid
    positions. Unparseable ids raise (fail-loudly guard policy)."""
    m = _TILE_ID_RE.match(image_id)
    if m is None:
        raise ValueError(f"unparseable tile id: {image_id!r}")
    return int(m.group(1)), int(m.group(2))


def tile_origin(row: int, col: int, w: int = 64, h: int = 64, res: float = RES):
    """Georef derived from grid position: x0 = left edge, y1 = TOP edge."""
    return col * w * res, (row + 1) * h * res


def gen_tile(row: int, col: int, w: int = 64, h: int = 64, res: float = RES):
    """Generate one tile. Returns (image_id, chm float32 (h,w), trees list).

    Trees: dicts with x, y (map coords), h. A seeded fraction of tiles gets a
    flat/zero gap region and a NaN patch (exercises NA->0 fill,
    tree_detection.R:1165-1167).
    """
    image_id = tile_id(row, col)
    rng = np.random.default_rng(tile_seed(image_id))
    x0, y1 = tile_origin(row, col, w, h, res)
    n_trees = int(rng.integers(3, 12))
    xs = x0 + rng.uniform(2.0, w * res - 2.0, n_trees)
    ys = y1 - rng.uniform(2.0, h * res - 2.0, n_trees)
    hs = rng.uniform(8.0, 35.0, n_trees)

    jj, ii = np.meshgrid(np.arange(w), np.arange(h))
    px = x0 + (jj + 0.5) * res
    py = y1 - (ii + 0.5) * res
    chm = np.zeros((h, w), dtype=np.float64)
    for xt, yt, ht in zip(xs, ys, hs):
        z = ht * np.exp(-((px - xt) ** 2 + (py - yt) ** 2 / 2.0) * ht / 50.0)
        chm = np.maximum(chm, z)

    if rng.random() < 0.3:  # gap region
        gw = int(rng.integers(8, 20))
        gy, gx = int(rng.integers(0, h - gw)), int(rng.integers(0, w - gw))
        chm[gy:gy + gw, gx:gx + gw] = 0.0
    if rng.random() < 0.2:  # NaN patch
        nw = int(rng.integers(2, 6))
        ny, nx = int(rng.integers(0, h - nw)), int(rng.integers(0, w - nw))
        chm[ny:ny + nw, nx:nx + nw] = np.nan

    trees = [{"x": float(x), "y": float(y), "h": float(z)}
             for x, y, z in zip(xs, ys, hs)]
    return image_id, chm.astype(np.float32), trees


def gen_tile_row(row: int, col: int, w: int = 64, h: int = 64, res: float = RES) -> dict:
    """One row of the `tiles` table."""
    image_id, chm, trees = gen_tile(row, col, w, h, res)
    rng = np.random.default_rng(tile_seed(image_id) ^ 0xC0FFEE)
    fmt = FMTS[int(rng.integers(0, len(FMTS)))]
    caption = (f"canopy height tile {image_id} with {len(trees)} trees, "
               f"max height {np.nanmax(chm):.1f} m, res {res} m")
    return {
        "image_id": image_id,
        "bytes": encode_tile(chm, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": phash64(chm),
    }


def gen_plot_metrics(n_plots: int = 96, seed: int = 4242) -> list[dict]:
    """Synthetic quatre_montagnes-like calibration table (FIXTURES.md §4):
    ~96 plots with field parameters driven by a seeded linear model over ALS
    metrics + noise, so aba_build_model has real signal to find
    (/root/reference/R/quatre_montagnes-data.R:11-24)."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n_plots):
        zmax = rng.uniform(10, 40)
        zmean = zmax * rng.uniform(0.4, 0.7)
        zsd = zmax * rng.uniform(0.1, 0.25)
        zq95 = zmax * rng.uniform(0.85, 0.98)
        mch = zmean * rng.uniform(0.9, 1.1)
        sdch = zsd * rng.uniform(0.9, 1.1)
        p_hmin = rng.uniform(0.5, 0.99)
        # basal area: linear in zmean & p_hmin with noise (the "signal")
        g_m2_ha = max(1.0, 1.8 * zmean + 12.0 * p_hmin
                      + rng.normal(0, 3.0) + 2.0)
        n_ha = max(50.0, 3000.0 - 60.0 * zmean + rng.normal(0, 150.0))
        out.append({
            "plotId": f"p{i:03d}",
            "X": float(rng.uniform(0, 5000)),
            "Y": float(rng.uniform(0, 5000)),
            "stratum": "public" if rng.random() < 0.5 else "private",
            "G_m2_ha": float(g_m2_ha),
            "N_ha": float(n_ha),
            "D_mean_cm": float(max(7.5, zmean * 1.1 + rng.normal(0, 2))),
            "zmax": float(zmax), "zmean": float(zmean), "zsd": float(zsd),
            "zq95": float(zq95), "mCH": float(mch), "sdCH": float(sdch),
            "p_hmin": float(p_hmin),
            "altitude": float(rng.uniform(500, 2000)),
            "slope_gr": float(rng.uniform(0, 50)),
        })
    return out


def gen_ref_trees(row: int, col: int, w: int = 64, h: int = 64,
                  res: float = RES) -> list[dict]:
    """Field-inventory ground truth per tile: the true crown centers with
    seeded position jitter plus omissions/commissions so matching yields
    TP/FN/FP (FIXTURES.md §2; confusion classes per tree_match.R:201-232)."""
    image_id, _, trees = gen_tile(row, col, w, h, res)
    rng = np.random.default_rng(tile_seed(image_id) ^ 0x7EEE5)
    out = []
    n = 0
    for t in trees:
        if rng.random() < 0.1:  # omission in field data
            continue
        n += 1
        out.append({
            "image_id": image_id,
            "tree_id": n,
            "x": t["x"] + rng.normal(0, 0.4),
            "y": t["y"] + rng.normal(0, 0.4),
            "h": t["h"] + rng.normal(0, 0.5),
            "d": max(7.5, t["h"] * 1.2 + rng.normal(0, 2.0)),
            "s": ["ABAL", "PIAB", "FASY"][int(rng.integers(0, 3))],
            "e": int(rng.integers(0, 5)),
            "t": int(rng.integers(0, 2)),
        })
    if rng.random() < 0.3:  # commission (spurious field tree)
        x0, y1 = tile_origin(row, col, w, h, res)
        n += 1
        out.append({
            "image_id": image_id, "tree_id": n,
            "x": x0 + float(rng.uniform(2, w * res - 2)),
            "y": y1 - float(rng.uniform(2, h * res - 2)),
            "h": float(rng.uniform(8, 30)),
            "d": float(rng.uniform(10, 50)),
            "s": "FASY", "e": 1, "t": 0,
        })
    return out
