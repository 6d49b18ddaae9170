"""Minimal GeoTIFF raster codec + distributed tile source/sink.

The reference's rasters live as terra SpatRaster objects
(/root/reference/R/common.R:67,119 builds them; chm_chablais3-data.R:19
and every vignette load a CHM via terra::rast) whose on-disk form is
GeoTIFF, so this is the raster interchange path for migrating users —
the raster twin of the LAS/LAZ point source. Written from the public
TIFF 6.0 specification and the OGC GeoTIFF standard; no external
imaging library.

Supported surface (loud-fail beyond it, same policy as every codec in
this repo):
  single-band, uncompressed (Compression=1), strip-organized;
  float32 (SampleFormat=3, BitsPerSample=32) or uint16/uint8;
  II and MM byte orders on read (writer emits II);
  georef via ModelPixelScaleTag + ModelTiepointTag (the pixel-scale +
  tiepoint form GDAL writes for north-up rasters); caption round-trips
  through ImageDescription; nodata through GDAL_NODATA.
Tiled-TIFF layout, compression, palettes and multi-sample images raise
NotImplementedError naming the feature.

Grid convention: array row 0 is the TOP of the tile (max y), matching
the engine's tile model (operators/halo.with_halo) and the GeoTIFF
raster-space convention — the tiepoint maps pixel (0, 0) to
(xmin, ymax). `read_geotiff_tiles` re-derives the engine's
`t{row}_{col}` id from the georef and refuses files that do not sit on
the tile grid (an off-grid raster silently assigned to the nearest tile
would corrupt every downstream join).
"""

from __future__ import annotations

import struct

import numpy as np

# TIFF 6.0 field types used here
_ASCII, _SHORT, _LONG, _DOUBLE = 2, 3, 4, 12
_TYPE_SIZE = {_ASCII: 1, _SHORT: 2, _LONG: 4, _DOUBLE: 8}

_T_WIDTH = 256
_T_LENGTH = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_DESCRIPTION = 270
_T_STRIP_OFFSETS = 273
_T_SAMPLES = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_COUNTS = 279
_T_TILE_WIDTH = 322
_T_TILE_LENGTH = 323
_T_SAMPLE_FORMAT = 339
_T_PIXEL_SCALE = 33550     # GeoTIFF ModelPixelScaleTag
_T_TIEPOINT = 33922        # GeoTIFF ModelTiepointTag
_T_GEO_KEYS = 34735        # GeoKeyDirectoryTag
_T_GDAL_NODATA = 42113


def encode_geotiff(arr: np.ndarray, x0: float, y1: float,
                   res: float | tuple = 0.5,
                   caption: str | None = None,
                   nodata: float | None = None) -> bytes:
    """Serialize a 2-D array as a single-strip little-endian GeoTIFF.

    (x0, y1) is the world coordinate of the TOP-LEFT corner of pixel
    (0, 0) — the ModelTiepoint. float32 arrays write SampleFormat=3;
    uint16/uint8 write unsigned. One strip holds the whole image (tiles
    here are raster tiles, KB-to-MB sized; a planetary mosaic is many
    FILES, not one giant strip — that is the engine's layout story).
    """
    if arr.ndim != 2:
        raise ValueError(f"GeoTIFF writer takes a 2-D array, got {arr.ndim}")
    rx, ry = (res, res) if np.isscalar(res) else (res[0], res[1])
    if arr.dtype == np.float32:
        bits, sfmt = 32, 3
    elif arr.dtype == np.uint16:
        bits, sfmt = 16, 1
    elif arr.dtype == np.uint8:
        bits, sfmt = 8, 1
    else:
        raise NotImplementedError(
            f"GeoTIFF writer encodes float32/uint16/uint8, got {arr.dtype}")
    h, w = arr.shape
    data = np.ascontiguousarray(arr).tobytes()

    entries: list[tuple[int, int, int, bytes]] = []  # tag, type, count, raw

    def entry(tag, typ, values):
        if typ == _ASCII:
            raw = values  # bytes, NUL-terminated by caller
            count = len(raw)
        else:
            fmt = {_SHORT: "H", _LONG: "I", _DOUBLE: "d"}[typ]
            raw = struct.pack(f"<{len(values)}{fmt}", *values)
            count = len(values)
        entries.append((tag, typ, count, raw))

    entry(_T_WIDTH, _LONG, [w])
    entry(_T_LENGTH, _LONG, [h])
    entry(_T_BITS, _SHORT, [bits])
    entry(_T_COMPRESSION, _SHORT, [1])
    entry(_T_PHOTOMETRIC, _SHORT, [1])  # BlackIsZero
    if caption is not None:
        entry(_T_DESCRIPTION, _ASCII, caption.encode() + b"\x00")
    entry(_T_STRIP_OFFSETS, _LONG, [0])  # patched below
    entry(_T_SAMPLES, _SHORT, [1])
    entry(_T_ROWS_PER_STRIP, _LONG, [h])
    entry(_T_STRIP_COUNTS, _LONG, [len(data)])
    entry(_T_SAMPLE_FORMAT, _SHORT, [sfmt])
    entry(_T_PIXEL_SCALE, _DOUBLE, [rx, ry, 0.0])
    entry(_T_TIEPOINT, _DOUBLE, [0.0, 0.0, 0.0, x0, y1, 0.0])
    # minimal GeoKey directory: version 1.1.0, one key —
    # GTModelTypeGeoKey (1024) = 1 (projected CRS)
    entry(_T_GEO_KEYS, _SHORT, [1, 1, 0, 1, 1024, 0, 1, 1])
    if nodata is not None:
        entry(_T_GDAL_NODATA, _ASCII, f"{nodata:g}".encode() + b"\x00")

    entries.sort(key=lambda e: e[0])
    ifd_off = 8
    n = len(entries)
    value_off = ifd_off + 2 + 12 * n + 4
    out_entries = b""
    tail = b""
    for tag, typ, count, raw in entries:
        if len(raw) <= 4:
            out_entries += struct.pack("<HHI", tag, typ, count) \
                + raw + b"\x00" * (4 - len(raw))
        else:
            out_entries += struct.pack("<HHII", tag, typ, count,
                                       value_off + len(tail))
            tail += raw + (b"\x00" if len(raw) % 2 else b"")
    strip_off = value_off + len(tail)
    # patch StripOffsets (its inline value slot)
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off)
                    + struct.pack("<H", n) + out_entries
                    + struct.pack("<I", 0) + tail + data)
    for i, (tag, _typ, _count, _raw) in enumerate(entries):
        if tag == _T_STRIP_OFFSETS:
            struct.pack_into("<I", buf, ifd_off + 2 + 12 * i + 8, strip_off)
    return bytes(buf)


def decode_geotiff(buf: bytes) -> tuple[np.ndarray, dict]:
    """Parse a single-band uncompressed strip GeoTIFF (either byte
    order) -> (2-D array, georef dict with x0, y1, res_x, res_y,
    caption, nodata)."""
    if buf[:2] == b"II":
        bo = "<"
    elif buf[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    magic, ifd_off = struct.unpack_from(f"{bo}HI", buf, 2)
    if magic != 42:
        raise ValueError(f"not a TIFF (magic {magic}, want 42)")
    (n,) = struct.unpack_from(f"{bo}H", buf, ifd_off)
    tags: dict[int, list] = {}
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(f"{bo}HHI", buf, base)
        size = _TYPE_SIZE.get(typ)
        if size is None:
            continue  # unknown field type: skip per TIFF 6.0 §2
        total = size * count
        off = base + 8 if total <= 4 else \
            struct.unpack_from(f"{bo}I", buf, base + 8)[0]
        if typ == _ASCII:
            vals = [buf[off:off + count].split(b"\x00")[0].decode(
                "utf-8", "replace")]
        else:
            fmt = {_SHORT: "H", _LONG: "I", _DOUBLE: "d"}[typ]
            vals = list(struct.unpack_from(f"{bo}{count}{fmt}", buf, off))
        tags[tag] = vals

    if _T_TILE_WIDTH in tags or _T_TILE_LENGTH in tags:
        raise NotImplementedError(
            "tiled-TIFF layout unsupported (strip-organized only)")
    comp = tags.get(_T_COMPRESSION, [1])[0]
    if comp != 1:
        raise NotImplementedError(
            f"TIFF compression {comp} unsupported (uncompressed only)")
    spp = tags.get(_T_SAMPLES, [1])[0]
    if spp != 1:
        raise NotImplementedError(
            f"multi-sample TIFF ({spp} samples/pixel) unsupported "
            f"(single band only)")
    w = tags[_T_WIDTH][0]
    h = tags[_T_LENGTH][0]
    bits = tags.get(_T_BITS, [1])[0]
    sfmt = tags.get(_T_SAMPLE_FORMAT, [1])[0]
    if (bits, sfmt) == (32, 3):
        dt = np.dtype(f"{bo}f4")
    elif (bits, sfmt) == (16, 1):
        dt = np.dtype(f"{bo}u2")
    elif (bits, sfmt) == (8, 1):
        dt = np.dtype("u1")
    else:
        raise NotImplementedError(
            f"sample type bits={bits} format={sfmt} unsupported "
            f"(float32, uint16, uint8)")
    offs = tags[_T_STRIP_OFFSETS]
    counts = tags[_T_STRIP_COUNTS]
    raw = b"".join(buf[o:o + c] for o, c in zip(offs, counts))
    want = w * h * dt.itemsize
    if len(raw) < want:
        raise ValueError(f"strip data {len(raw)} bytes < {want} for "
                         f"{w}x{h}x{dt.itemsize}")
    arr = np.frombuffer(raw[:want], dtype=dt).reshape(h, w)
    if arr.dtype.byteorder == ">":
        arr = arr.astype(arr.dtype.newbyteorder("="))

    geo: dict = {"x0": None, "y1": None, "res_x": None, "res_y": None,
                 "caption": tags.get(_T_DESCRIPTION, [None])[0],
                 "nodata": None}
    if _T_PIXEL_SCALE in tags:
        geo["res_x"], geo["res_y"] = tags[_T_PIXEL_SCALE][:2]
    if _T_TIEPOINT in tags:
        tp = tags[_T_TIEPOINT]
        i, j, _k, x, y, _z = tp[:6]
        # tiepoint may reference any pixel; normalize to pixel (0, 0)
        geo["x0"] = x - i * (geo["res_x"] or 0.0)
        geo["y1"] = y + j * (geo["res_y"] or 0.0)
    if _T_GDAL_NODATA in tags:
        try:
            geo["nodata"] = float(tags[_T_GDAL_NODATA][0])
        except (TypeError, ValueError):
            pass
    return arr, geo


def write_geotiff_tiles(tiles, directory: str, res: float = 0.5):
    """Distributed GeoTIFF sink: one `{image_id}.tif` per tile row
    (TILES_SCHEMA input), georeferenced from the tile grid position,
    caption preserved in ImageDescription, atomic tmp+rename. Same
    shared-filesystem contract as write_las. Returns an UNEXECUTED plan
    of (path, image_id) rows."""
    import os as _os

    import pandas as pd

    _os.makedirs(directory, exist_ok=True)

    def emit(batches):
        from lidartree_spark.codecs import decode_tile
        from lidartree_spark.generator import parse_tile_id, tile_origin
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                arr = decode_tile(rec.bytes, rec.fmt, rec.w, rec.h)
                x0, y1 = tile_origin(*parse_tile_id(rec.image_id), rec.w,
                                     rec.h, res)
                buf = encode_geotiff(arr.astype(np.float32), x0, y1, res,
                                     caption=rec.caption)
                path = _os.path.join(directory, f"{rec.image_id}.tif")
                tmp = path + ".inprogress"
                with open(tmp, "wb") as fh:
                    fh.write(buf)
                _os.replace(tmp, path)
                out.append({"path": path, "image_id": rec.image_id})
            yield pd.DataFrame(out, columns=["path", "image_id"])

    return tiles.select("image_id", "bytes", "w", "h", "fmt",
                        "caption").mapInPandas(
        emit, schema="path string, image_id string")


def read_geotiff_tiles(spark, paths, res: float = 0.5):
    """Distributed GeoTIFF source: directory/glob/list of grid-aligned
    .tif files -> TILES_SCHEMA DataFrame (fmt raw_f32, phash 0). The
    engine's `t{row}_{col}` id is re-derived from each file's georef;
    a raster whose tiepoint does not sit on the (w*res, h*res) tile
    grid raises — assigning it to the nearest tile would silently
    corrupt every georeferenced join downstream.

    `res` is the ENGINE resolution the ids will be interpreted at
    (operators/grid.RES). Each file's own pixel scale must equal it:
    a 1.0 m raster accepted into a 0.5 m grid would be self-consistent
    yet halve every world coordinate downstream, so a mismatch raises
    instead of rescaling. GDAL_NODATA pixels are replaced with NaN (the
    engine's NA convention, reference raster2Cimg NA handling)."""
    import glob as _glob
    import os as _os

    import pandas as pd

    if isinstance(paths, str):
        if _os.path.isdir(paths):
            flist = sorted(_glob.glob(_os.path.join(paths, "*.tif"))
                           + _glob.glob(_os.path.join(paths, "*.tiff")))
        else:
            flist = sorted(_glob.glob(paths))
    else:
        flist = sorted(paths)
    if not flist:
        raise FileNotFoundError(f"no .tif files match {paths!r}")

    files = spark.createDataFrame(
        pd.DataFrame({"path": flist})).repartition(
        min(len(flist), spark.sparkContext.defaultParallelism))

    def emit(batches):
        from lidartree_spark.codecs import encode_tile
        from lidartree_spark.generator import tile_id
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                with open(p, "rb") as f:
                    arr, geo = decode_geotiff(f.read())
                if geo["x0"] is None or geo["res_x"] is None:
                    raise ValueError(f"{p}: no GeoTIFF georef "
                                    f"(ModelPixelScale + ModelTiepoint)")
                if (abs(geo["res_x"] - res) > 1e-9
                        or abs(geo["res_y"] - res) > 1e-9):
                    raise ValueError(
                        f"{p}: pixel scale ({geo['res_x']}, "
                        f"{geo['res_y']}) != engine resolution {res} — "
                        f"resample first (a silent accept would halve/"
                        f"double every world coordinate downstream)")
                if geo["nodata"] is not None:
                    arr = arr.astype(np.float32, copy=True)
                    arr[arr == np.float32(geo["nodata"])] = np.nan
                h, w = arr.shape
                tw, th = w * geo["res_x"], h * geo["res_y"]
                col = geo["x0"] / tw
                row = geo["y1"] / th - 1.0
                if (abs(col - round(col)) > 1e-9
                        or abs(row - round(row)) > 1e-9
                        or round(col) < 0 or round(row) < 0):
                    raise ValueError(
                        f"{p}: raster at ({geo['x0']}, {geo['y1']}) is "
                        f"not aligned to the {tw}x{th} tile grid")
                tid = tile_id(round(row), round(col))
                out.append({
                    "image_id": tid,
                    "bytes": encode_tile(arr.astype(np.float32),
                                         "raw_f32"),
                    "w": w, "h": h, "fmt": "raw_f32",
                    "caption": geo["caption"] or "",
                    "phash": 0,
                })
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w",
                                             "h", "fmt", "caption",
                                             "phash"])

    from lidartree_spark.operators.tiles import TILES_SCHEMA
    return files.mapInPandas(emit, schema=TILES_SCHEMA)
