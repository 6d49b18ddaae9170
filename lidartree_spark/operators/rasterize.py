"""Point-cloud -> raster-tile materialization and tree-level metrics.

- points_to_tiles: the distributed points2DSM (/root/reference/R/common.R:
  53-70): cell = max Z of points in cell, extent snapped to multiples of
  res (:61-64). Two-stage: Catalyst hash-agg per cell (map-side partial
  max), then grouped dense-tile assembly into the standard tiles schema —
  so every downstream operator (detection, gaps, halo) runs unchanged on
  point-cloud-sourced data.
- std_tree_metrics_df: per-plot tree summary (metrics.R:200-214) with the
  sort-rank Gini — pure window + aggregate, no UDF.
- clouds_tree_metrics_df: detection + metrics composition (metrics.R:397-457)
  expressed as detect_trees -> std_tree_metrics_df.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def points_to_tiles(points: DataFrame, res: float = 0.5, tile_px: int = 64,
                    x_col: str = "x", y_col: str = "y",
                    z_col: str = "z") -> DataFrame:
    """(x, y, z) rows -> tiles(image_id, bytes, w, h, fmt, caption, phash).

    Cells with no points are NaN (terra leaves empty cells NA; the NA->0
    fill happens downstream in tree_segmentation, tree_detection.R:893-899).
    """
    span = tile_px * res
    cells = (points
             .withColumn("cx", F.floor(F.col(x_col) / F.lit(res)).cast("long"))
             .withColumn("cy", F.floor(F.col(y_col) / F.lit(res)).cast("long"))
             .groupBy("cx", "cy")
             .agg(F.max(z_col).alias("z"))
             .withColumn("col", F.floor(F.col("cx") / F.lit(tile_px)).cast("int"))
             .withColumn("row", F.floor(F.col("cy") / F.lit(tile_px)).cast("int"))
             .withColumn("px", (F.col("cx") - F.col("col") * F.lit(tile_px)).cast("int"))
             .withColumn("py", (F.col("cy") - F.col("row") * F.lit(tile_px)).cast("int")))

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        from lidartree_spark.codecs import encode_tile, phash64
        from lidartree_spark.generator import tile_id
        row, col = int(key[0]), int(key[1])
        arr = np.full((tile_px, tile_px), np.nan, dtype=np.float32)
        # array row 0 = top (max y): py counts cells up from the tile's ymin
        arr[tile_px - 1 - pdf["py"].to_numpy(), pdf["px"].to_numpy()] = \
            pdf["z"].to_numpy()
        image_id = tile_id(row, col)
        return pd.DataFrame([{
            "image_id": image_id,
            "bytes": encode_tile(arr, "raw_f32"),
            "w": tile_px, "h": tile_px, "fmt": "raw_f32",
            "caption": f"DSM tile {image_id} from points, res {res} m",
            "phash": phash64(arr),
        }])

    return cells.groupBy("row", "col").applyInPandas(
        assemble,
        schema=("image_id string, bytes binary, w int, h int, fmt string, "
                "caption string, phash long"))


def points_to_dtm_tiles(points: DataFrame, res: float = 0.5,
                        tile_px: int = 64, halo_m: float = 8.0,
                        x_col: str = "x", y_col: str = "y",
                        z_col: str = "z") -> DataFrame:
    """Distributed points2DTM (/root/reference/R/common.R:105-123): ground
    points -> Delaunay TIN -> linear interpolation at cell centers
    (lidR `rasterize_terrain(tin())` semantics), as dense DTM tiles.

    Scale design: each point is shuffled to its home tile AND to any
    neighbor tile whose halo_m-expanded bbox contains it (<= 4 copies, one
    `explode` + filter, all Catalyst) so border triangles are identical to a
    global triangulation wherever the nearest hull edge is > halo_m out —
    the same chunk-buffer contract the reference inherits from lidR
    (buffer >= 10 m warning, tree_detection.R:114-115). One hash shuffle on
    (row, col); the Delaunay itself is per-tile numpy in a grouped UDF.
    Core cells outside the local convex hull are NaN (terra NA semantics).
    """
    span = tile_px * res
    expanded = (points
                .select(F.col(x_col).alias("x"), F.col(y_col).alias("y"),
                        F.col(z_col).alias("z"))
                .withColumn("home_c", F.floor(F.col("x") / span).cast("int"))
                .withColumn("home_r", F.floor(F.col("y") / span).cast("int"))
                .select("x", "y", "z", "home_r", "home_c",
                        F.explode(F.expr(
                            "transform(sequence(0, 8), "
                            "i -> struct(i div 3 - 1 AS dr, i % 3 - 1 AS dc))"
                        )).alias("d"))
                .withColumn("row", F.col("home_r") + F.col("d.dr"))
                .withColumn("col", F.col("home_c") + F.col("d.dc"))
                .where((F.col("row") >= 0) & (F.col("col") >= 0))
                .where((F.col("x") >= F.col("col") * span - halo_m)
                       & (F.col("x") < (F.col("col") + 1) * span + halo_m)
                       & (F.col("y") >= F.col("row") * span - halo_m)
                       & (F.col("y") < (F.col("row") + 1) * span + halo_m))
                .select("row", "col", "x", "y", "z",
                        ((F.col("d.dr") == 0) & (F.col("d.dc") == 0))
                        .alias("is_core")))

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        from lidartree_spark.codecs import encode_tile, phash64
        from lidartree_spark.generator import tile_id
        from lidartree_spark.kernels.tin import tin_interpolate
        row, col = int(key[0]), int(key[1])
        if not pdf["is_core"].any():
            # tile exists only as a neighbor's halo -> not part of the corpus
            return pd.DataFrame(columns=["image_id", "bytes", "w", "h",
                                         "fmt", "caption", "phash"])
        x0, y1 = col * span, (row + 1) * span
        gx = x0 + (np.arange(tile_px) + 0.5) * res
        gy = y1 - (np.arange(tile_px) + 0.5) * res
        pts = pdf[["x", "y"]].to_numpy()
        if len(pts) < 3:
            arr = np.full((tile_px, tile_px), np.nan, dtype=np.float64)
        else:
            arr = tin_interpolate(pts, pdf["z"].to_numpy(), gx, gy)
        image_id = tile_id(row, col)
        a32 = arr.astype(np.float32)
        return pd.DataFrame([{
            "image_id": image_id,
            "bytes": encode_tile(a32, "raw_f32"),
            "w": tile_px, "h": tile_px, "fmt": "raw_f32",
            "caption": f"DTM tile {image_id} from TIN, res {res} m",
            "phash": phash64(np.nan_to_num(a32)),
        }])

    return expanded.groupBy("row", "col").applyInPandas(
        assemble,
        schema=("image_id string, bytes binary, w int, h int, fmt string, "
                "caption string, phash long"))


def normalize_tiles(dsm: DataFrame, dtm: DataFrame) -> DataFrame:
    """normalize_height: CHM = DSM - DTM per tile (the
    `lidR::normalize_height(tin())` + `rasterize_canopy` step,
    tree_detection.R:178-182). Equi-join on image_id (both sides already
    partitioned by tile id — co-located, no extra shuffle beyond the join),
    pixel subtraction in a vectorized UDF. Cells where either side is NaN
    stay NaN; negative heights clamp to 0 (lidR convention for points below
    the interpolated ground)."""
    from typing import Iterator

    joined = (dsm.select("image_id",
                         F.col("bytes").alias("dsm_bytes"),
                         F.col("fmt").alias("dsm_fmt"), "w", "h",
                         "caption", "phash")
              .join(dtm.select("image_id",
                               F.col("bytes").alias("dtm_bytes"),
                               F.col("fmt").alias("dtm_fmt")),
                    "image_id"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from lidartree_spark.codecs import decode_tile, encode_tile, phash64
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                dsm_a = decode_tile(rec.dsm_bytes, rec.dsm_fmt, rec.w, rec.h)
                dtm_a = decode_tile(rec.dtm_bytes, rec.dtm_fmt, rec.w, rec.h)
                chm = np.maximum(dsm_a - dtm_a, 0.0).astype(np.float32)
                out.append({
                    "image_id": rec.image_id,
                    "bytes": encode_tile(chm, "raw_f32"),
                    "w": rec.w, "h": rec.h, "fmt": "raw_f32",
                    "caption": rec.caption,
                    "phash": phash64(np.nan_to_num(chm)),
                })
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h",
                                             "fmt", "caption", "phash"])

    return joined.mapInPandas(
        run, schema=("image_id string, bytes binary, w int, h int, "
                     "fmt string, caption string, phash long"))


def raster_metrics_apply(points: DataFrame, fn, out_schema: str,
                         res: float = 50.0, start: float = 0.0,
                         x_col: str = "x", y_col: str = "y") -> DataFrame:
    """raster_metrics with an ARBITRARY user function (raster_metrics.R:
    55-112 `fun` argument): snap rows to the coarser grid with the
    reference's formula (:83-84), then applyInPandas per grid cell. The
    common aggregates should use the pure-SQL path (queries
    raster_metrics_regrid) — this is the escape hatch for user-defined
    per-cell logic, the `split + fun per group` branch (:86).

    fn(key, pdf) -> pd.DataFrame gets the group's rows plus gx/gy columns;
    out_schema must include gx/gy if the caller wants them back."""
    from lidartree_spark.operators.grid import snap_to_grid
    snapped = (points
               .withColumn("gx", snap_to_grid(F.col(x_col), start, res))
               .withColumn("gy", snap_to_grid(F.col(y_col), start, res)))
    return snapped.groupBy("gx", "gy").applyInPandas(fn, schema=out_schema)


def clouds_metrics(points: DataFrame, fn, out_schema: str,
                   cloud_col: str = "cloud_id") -> DataFrame:
    """Apply a metrics function to each point cloud in a collection
    (clouds_metrics, /root/reference/R/metrics.R:52-78): one output row per
    cloud. fn(key, pdf) -> pd.DataFrame."""
    return points.groupBy(cloud_col).applyInPandas(fn, schema=out_schema)


def std_tree_metrics_df(trees: DataFrame, area_ha: float,
                        key: str = "image_id") -> DataFrame:
    """Tree metrics per plot (metrics.R:200-214): mean/sd/gini of apex
    heights, densities by height class, crown surface/volume means, canopy
    mean height = sum(v)/sum(s)."""
    w = Window.partitionBy(key).orderBy("h")
    ranked = (trees
              .withColumn("i", F.row_number().over(w))
              .withColumn("n", F.count("*").over(Window.partitionBy(key))))
    return ranked.groupBy(key).agg(
        F.avg("h").alias("tree_meanh"),
        F.stddev_samp("h").alias("tree_sdh"),
        (F.sum((2.0 * F.col("i") - F.col("n") - 1) * F.col("h"))
         / (F.max("n") * F.sum("h"))).alias("tree_ginih"),
        (F.count("*") / F.lit(area_ha)).alias("tree_density"),
        (F.sum(F.when(F.col("h") <= 10, 1).otherwise(0))
         / F.lit(area_ha)).alias("treeinf10_density"),
        (F.sum(F.when(F.col("h") > 10, 1).otherwise(0))
         / F.lit(area_ha)).alias("treesup10_density"),
        (F.sum(F.when(F.col("h") > 20, 1).otherwise(0))
         / F.lit(area_ha)).alias("treesup20_density"),
        (F.sum(F.when(F.col("h") > 30, 1).otherwise(0))
         / F.lit(area_ha)).alias("treesup30_density"),
        F.avg("s").alias("tree_meancrownsurface"),
        F.avg("v").alias("tree_meancrownvolume"),
        (F.sum("v") / F.sum("s")).alias("treecanopy_meanh"),
    )


def clouds_tree_metrics_df(tiles: DataFrame, params: dict | None = None,
                           area_ha: float | None = None) -> DataFrame:
    """Per-tile detection + tree metrics (clouds_tree_metrics,
    metrics.R:397-457). area defaults to the tile footprint."""
    from lidartree_spark.operators.detection import DEFAULT_PARAMS, detect_trees
    p = {**DEFAULT_PARAMS, **(params or {})}
    det = detect_trees(tiles, params)
    if area_ha is None:
        # 64x64 cells at res m/cell -> hectares
        area_ha = (64 * p["res"]) ** 2 / 10_000.0
    return std_tree_metrics_df(det, area_ha)
