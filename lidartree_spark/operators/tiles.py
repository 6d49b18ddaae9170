"""Tiles source: synthetic corpus materialization + decode invariants.

The `tiles` table (input_hint schema) is generated distributively: the driver
only plans an id range; every executor regenerates its tiles independently
from the per-image seed (lidartree_spark.generator). At 10^12 images the same
plan holds — spark.range partitions the id space, no data moves.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TILES_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
                "caption string, phash long")


def check_params(defaults: dict, params: dict | None) -> dict:
    """`defaults` overridden by `params`. An unknown key raises here, on the
    driver: merged silently it would run with the default (or, passed on to
    a kernel, fail inside an executor)."""
    unknown = sorted(set(params or {}) - set(defaults))
    if unknown:
        raise ValueError(f"unknown parameter(s) {unknown}; "
                         f"allowed: {sorted(defaults)}")
    return {**defaults, **(params or {})}


def _map_tiles(tiles: DataFrame, body, schema: str) -> DataFrame:
    """The per-tile kernel stage: zero-shuffle mapInPandas that reads only
    (image_id, bytes, w, h, fmt) — plus `pad` on halo-padded tiles —
    decodes every tile once and emits the rows of
    `body(image_id, arr, pad) -> list[dict]` under `schema`."""
    cols = ["image_id", "bytes", "w", "h", "fmt"]
    if "pad" in tiles.columns:
        cols.append("pad")
    out_cols = [f.split()[0] for f in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lidartree_spark.codecs import decode_tile
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                arr = decode_tile(rec.bytes, rec.fmt, rec.w, rec.h)
                out.extend(body(rec.image_id, arr,
                                int(getattr(rec, "pad", 0))))
            yield pd.DataFrame(out, columns=out_cols)

    return tiles.select(*cols).mapInPandas(run, schema=schema)


def synthetic_tiles(spark: SparkSession, n_rows: int, n_cols: int,
                    partitions: int | None = None) -> DataFrame:
    """Materialize an n_rows x n_cols tile grid as a DataFrame.

    Replaces the reference's on-disk LAScatalog (tree_detection.R:94-127):
    the catalog IS the table; chunking = Spark partitioning.
    """
    n = n_rows * n_cols
    # default: ~3 waves per core so stragglers balance; never fewer rows
    # than partitions. Scales with the session's parallelism (local[N] or
    # a real cluster) instead of a fixed constant.
    parts = partitions or max(1, min(n, spark.sparkContext.defaultParallelism * 3))
    ids = spark.range(0, n, 1, parts).select(
        (F.col("id") / n_cols).cast("int").alias("row"),
        F.pmod(F.col("id"), F.lit(n_cols)).cast("int").alias("col"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lidartree_spark.generator import gen_tile_row
        for pdf in batches:
            rows = [gen_tile_row(int(r), int(c))
                    for r, c in zip(pdf["row"], pdf["col"])]
            yield pd.DataFrame(rows)

    return ids.mapInPandas(gen, schema=TILES_SCHEMA)


def synthetic_ref_trees(spark: SparkSession, n_rows: int, n_cols: int,
                        partitions: int | None = None) -> DataFrame:
    """Ground-truth field inventory table (FIXTURES.md §2), same
    distributed-generation pattern."""
    n = n_rows * n_cols
    # default: ~3 waves per core so stragglers balance; never fewer rows
    # than partitions. Scales with the session's parallelism (local[N] or
    # a real cluster) instead of a fixed constant.
    parts = partitions or max(1, min(n, spark.sparkContext.defaultParallelism * 3))
    ids = spark.range(0, n, 1, parts).select(
        (F.col("id") / n_cols).cast("int").alias("row"),
        F.pmod(F.col("id"), F.lit(n_cols)).cast("int").alias("col"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lidartree_spark.generator import gen_ref_trees
        for pdf in batches:
            out = []
            for r, c in zip(pdf["row"], pdf["col"]):
                out.extend(gen_ref_trees(int(r), int(c)))
            yield pd.DataFrame(
                out, columns=["image_id", "tree_id", "x", "y", "h",
                              "d", "s", "e", "t"])
        return

    return ids.mapInPandas(
        gen,
        schema=("image_id string, tree_id long, x double, y double, h double,"
                " d double, s string, e int, t int"))


def read_tiles(spark: SparkSession, path: str, waves: int | None = None) -> DataFrame:
    """Scan a tiles parquet directory with splits sized for UDF-heavy work.

    Decode+segment costs seconds per MB, so the default 128 MB splits
    under-parallelize small corpora and the 4 MB file-open cost
    over-merges many small files. Size splits so every core gets ~`waves`
    tasks; clamp to [256 KB, 128 MB] so huge corpora still get big scans.
    """
    import glob
    import os as _os
    if waves is None:
        waves = int(_os.environ.get("SPARK_GRAFT_SCAN_WAVES", "3"))
    total = sum(_os.path.getsize(f) for f in glob.glob(f"{path}/*.parquet"))
    # SPARK_GRAFT_SCAN_TASKS pins an ABSOLUTE task count (cluster-size
    # independent, like a fixed maxPartitionBytes on a real corpus) — used by
    # the bench scaling pair so per-task python overhead is symmetric
    # between the N and 4N legs instead of scaling with parallelism.
    fixed = _os.environ.get("SPARK_GRAFT_SCAN_TASKS")
    n_tasks = int(fixed) if fixed else \
        max(1, spark.sparkContext.defaultParallelism * waves)
    target = max(262_144, min(134_217_728, total // n_tasks))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    spark.conf.set("spark.sql.files.openCostInBytes", str(target // 8))
    return spark.read.parquet(path)


def decode_check(tiles: DataFrame) -> DataFrame:
    """Per-row decode invariant check (input_hint): decoded pixels vs the
    generator ground truth — allclose for lossless, PSNR >= 40 dB for q8 —
    and caption/phash byte preservation. Vectorized mapInPandas; returns one
    row per tile with the verdicts (aggregate downstream)."""

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from lidartree_spark.codecs import decode_tile, phash64, psnr
        from lidartree_spark.generator import gen_tile, parse_tile_id
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                arr = decode_tile(rec.bytes, rec.fmt, rec.w, rec.h)
                row, col = parse_tile_id(rec.image_id)
                _, truth, trees = gen_tile(row, col, rec.w, rec.h)
                from lidartree_spark.generator import RES
                want_cap = (f"canopy height tile {rec.image_id} with "
                            f"{len(trees)} trees, max height "
                            f"{np.nanmax(truth):.1f} m, res {RES} m")
                m = np.isfinite(truth)
                if rec.fmt in ("q8", "jpeg"):  # lossy: PSNR contract
                    ok_pix = bool(psnr(truth, arr) >= 40.0)
                else:
                    tol = 0.0 if rec.fmt == "raw_f32" else 1.0 / 256 + 1e-6
                    ok_pix = bool(np.allclose(arr[m], truth[m], atol=tol)
                                  and np.isnan(arr[~m]).all())
                out.append({
                    "image_id": rec.image_id,
                    "fmt": rec.fmt,
                    "pixels_ok": ok_pix,
                    "phash_ok": bool(phash64(arr) == rec.phash
                                     or rec.fmt in ("q8", "jpeg")),
                    # input_hint per-row invariant: caption VERBATIM, not
                    # just length — re-derived from the generator's ground
                    # truth, byte-compared
                    "caption_ok": bool(rec.caption == want_cap),
                    "caption_len": len(rec.caption),
                })
            yield pd.DataFrame(out)

    return tiles.mapInPandas(
        check, schema=("image_id string, fmt string, pixels_ok boolean, "
                       "phash_ok boolean, caption_ok boolean, "
                       "caption_len int"))


def build_overview(tiles: DataFrame, out_fmt: str = "png16") -> DataFrame:
    """One pyramid/overview level (COG- or TMS-style): every 2x2 block of
    child tiles collapses to ONE parent tile at half ground resolution and
    unchanged pixel dimensions. The parent key is derived in Catalyst from
    the tile id, so building a level is ONE shuffle that groups <= 4
    children; the downsample is an exact 2x2 box average (NaN-aware:
    missing pixels are ignored, all-NaN blocks stay NaN). L levels = L
    keyed shuffles over a corpus shrinking 4x per level — the standard
    overview build at any corpus size. Accepts 't{row}_{col}' child ids
    (TILES_SCHEMA) and emits 'p{row}_{col}' parents.
    """
    # the shared regex+raise parse policy (operators/grid._tile_part):
    # pattern-based, never fixed-position — padding is a minimum width
    from lidartree_spark.operators.grid import tile_col, tile_row
    withp = tiles.select(
        "bytes", "w", "h", "fmt",
        tile_row(F.col("image_id")).alias("trow"),
        tile_col(F.col("image_id")).alias("tcol"),
    ).withColumn("prow", (F.col("trow") / 2).cast("int")) \
     .withColumn("pcol", (F.col("tcol") / 2).cast("int"))

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from lidartree_spark.codecs import decode_tile, encode_tile
        prow, pcol = int(key[0]), int(key[1])
        w, h = int(pdf["w"].iloc[0]), int(pdf["h"].iloc[0])
        canvas = np.full((2 * h, 2 * w), np.nan, dtype=np.float64)
        for rec in pdf.itertuples(index=False):
            arr = decode_tile(rec.bytes, rec.fmt, rec.w, rec.h)
            r0, c0 = (rec.trow - 2 * prow) * h, (rec.tcol - 2 * pcol) * w
            canvas[r0:r0 + h, c0:c0 + w] = arr
        blocks = canvas.reshape(h, 2, w, 2).transpose(0, 2, 1, 3) \
                       .reshape(h, w, 4)
        with np.errstate(invalid="ignore"):
            down = np.nanmean(blocks, axis=2)
        return pd.DataFrame([{
            "image_id": f"p{prow:04d}_{pcol:04d}",
            "bytes": encode_tile(down.astype(np.float32), out_fmt),
            "w": w, "h": h, "fmt": out_fmt,
        }])

    return withp.groupBy("prow", "pcol").applyInPandas(
        assemble, schema="image_id string, bytes binary, w int, h int, "
                         "fmt string")
