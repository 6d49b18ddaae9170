"""Single-process replays of the package's public kernels on a sample of a
workload's inputs, timed per call. The traced run uses them to split a
Spark stage's Python time into the kernels it runs."""

from __future__ import annotations

import time

import numpy as np

from lidartree_spark.codecs import decode_tile
from lidartree_spark.generator import FMTS
from lidartree_spark.kernels.detection import (dem_filtering,
                                               maxima_detection,
                                               maxima_selection)
from lidartree_spark.kernels.extraction import tree_extraction
from lidartree_spark.kernels.matching import tree_matching
from lidartree_spark.kernels.segmentation import (raster_zonal_stats,
                                                  seg_adjust, segmentation)
from lidartree_spark.operators.detection import DEFAULT_PARAMS


class Clock:
    """Accumulates per-name wall time of timed calls."""

    def __init__(self):
        self.total: dict[str, float] = {}
        self.calls: dict[str, int] = {}

    def __call__(self, name: str, fn, *args, **kw):
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        self.total[name] = self.total.get(name, 0.0) + time.perf_counter() - t0
        self.calls[name] = self.calls.get(name, 0) + 1
        return out

    def ms_per_call(self, name: str) -> float:
        n = self.calls.get(name, 0)
        return 1e3 * self.total[name] / n if n else 0.0


def decode_ms(records) -> dict[str, float]:
    """records: iterable of (bytes, fmt, w, h). ms per decode, by codec."""
    clock = Clock()
    for buf, fmt, w, h in records:
        clock(fmt, decode_tile, buf, fmt, w, h)
    return {f"codecs.decode_ms.{f}": clock.ms_per_call(f) for f in FMTS}


def _zonal_adjust(dem_w, dem_nl, p):
    dem_wh = raster_zonal_stats(dem_w, dem_nl, fun=np.max)
    return seg_adjust(dem_w, dem_wh, dem_nl, prop=p["prop"],
                      min_value=p["min_value"], min_maxvalue=p["hmin"])


def detection_kernels(chms, origins) -> dict[str, float]:
    """tree_segmentation's steps, one public kernel at a time (same order
    and arguments), then tree_extraction. ms per tile per kernel."""
    p = DEFAULT_PARAMS
    res = p["res"]
    clock = Clock()
    found = kept = 0
    for chm, (x0, y1) in zip(chms, origins):
        a = np.nan_to_num(np.asarray(chm, dtype=np.float64), nan=0.0)
        f = clock("dem_filtering", dem_filtering, a, nl_filter=p["nl_filter"],
                  nl_size=p["nl_size"], sigma=p["sigma"], res=res)
        dem_nl, dem_gs = f["non_linear_image"], f["smoothed_image"]
        maxi = clock("maxima", maxima_detection, dem_gs, res=res,
                     max_width=p["max_width"])
        maxi = clock("maxima", maxima_selection, maxi, dem_nl, hmin=0.0,
                     dmin=p["dmin"], dprop=p["dprop"])
        found += int((maxi > 0).sum())
        dem_w = clock("watershed", segmentation, maxi, dem_nl)
        dem_w = clock("zonal_adjust", _zonal_adjust, dem_w, dem_nl, p)
        maxi = maxi.copy()
        maxi[dem_w == 0] = 0.0
        kept += int((maxi > 0).sum())
        clock("tree_extraction", tree_extraction, dem_nl, maxi, dem_w,
              x0=x0, y1=y1, res=res)
    n = max(1, len(chms))
    return {
        "kernels.detection.dem_filtering_ms": clock.ms_per_call("dem_filtering"),
        # detection + selection per tile; kept = seeds that survive the
        # crown trimming, as a share of the selected maxima
        "kernels.detection.maxima_ms": 1e3 * clock.total.get("maxima", 0.0) / n,
        "kernels.detection.maxima_kept_ratio": kept / found if found else 0.0,
        "kernels.segmentation.watershed_ms": clock.ms_per_call("watershed"),
        "kernels.segmentation.zonal_adjust_ms":
            clock.ms_per_call("zonal_adjust"),
        "kernels.extraction.tree_extraction_ms":
            clock.ms_per_call("tree_extraction"),
    }


def matching_ms(groups) -> float:
    """groups: iterable of (ref xyz, det xyz) arrays. ms per group."""
    clock = Clock()
    for lr, ld in groups:
        clock("match", tree_matching, lr, ld)
    return clock.ms_per_call("match")
