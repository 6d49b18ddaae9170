"""Minimal ESRI Shapefile (.shp + .dbf) codec — the vector twin of the
GeoTIFF raster source.

The reference's field-inventory inputs (tree positions for
tree_matching — tree_inventory_chablais3-data.R ships one; plot/ROI
polygons — sf objects throughout /root/reference/R/tree_detection.R:33-91)
are sf features whose on-disk form is overwhelmingly the shapefile;
`sf::st_read("plots.shp")` is the first line of most lidaRtRee user
scripts. Written from the public "ESRI Shapefile Technical Description"
(July 1998) and the dBASE III header layout; no external geo library.

Supported surface (loud-fail beyond it): shape types Point (1),
PointZ (11), PointM (21) and Polygon (5); attributes via the .dbf
sidecar (C character, N/F numeric, L logical, D date-as-string columns).
Polylines, multipatch and the rarely-used .shx-dependent access paths
raise NotImplementedError (records are walked sequentially; .shx is not
required).

Inventories are dimension-sized (thousands of trees, not billions), so
the parse is driver-side and the result enters Spark via
createDataFrame — the broadcast side of the engine's matching joins,
exactly how the reference holds them in memory. Polygons surface as the
engine's WKT strings (kernels/geometry.parse_wkt_polygon's format), so
a shapefile plot boundary drops straight into tree_detection_catalog.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd

_SHAPE_POINT = 1
_SHAPE_POLYGON = 5
_SHAPE_POINTZ = 11
_SHAPE_POINTM = 21
_SUPPORTED = {_SHAPE_POINT, _SHAPE_POLYGON, _SHAPE_POINTZ, _SHAPE_POINTM}
_NAMES = {0: "Null", 1: "Point", 3: "PolyLine", 5: "Polygon",
          8: "MultiPoint", 11: "PointZ", 13: "PolyLineZ", 15: "PolygonZ",
          18: "MultiPointZ", 21: "PointM", 23: "PolyLineM",
          25: "PolygonM", 28: "MultiPointM", 31: "MultiPatch"}


def _ring_to_wkt(points: np.ndarray, parts: list[int]) -> str:
    # repr = shortest round-trip decimal: %g's 6 significant digits
    # collapse UTM northings (4500000.75 -> 4.5e+06), degenerating every
    # real-world plot boundary. repr of a builtin float: NumPy >= 2 reprs
    # np.float64 as 'np.float64(...)'
    rings = []
    bounds = parts + [len(points)]
    for a, b in zip(bounds[:-1], bounds[1:]):
        ring = points[a:b]
        rings.append("(" + ", ".join(f"{float(x)!r} {float(y)!r}"
                                     for x, y in ring)
                     + ")")
    return "POLYGON (" + ", ".join(rings) + ")"


def decode_shp(buf: bytes) -> tuple[int, list]:
    """Parse .shp bytes -> (shape_type, records). Point-family records
    are (x, y, z-or-nan); Polygon records are WKT strings."""
    if len(buf) < 100:
        raise ValueError("truncated shapefile (no 100-byte header)")
    (code,) = struct.unpack_from(">i", buf, 0)
    if code != 9994:
        raise ValueError(f"not a shapefile (file code {code}, want 9994)")
    (flen_words,) = struct.unpack_from(">i", buf, 24)
    version, stype = struct.unpack_from("<ii", buf, 28)
    if version != 1000:
        raise ValueError(f"shapefile version {version} (want 1000)")
    if stype not in _SUPPORTED:
        raise NotImplementedError(
            f"shape type {stype} ({_NAMES.get(stype, '?')}) unsupported "
            f"(Point, PointZ, PointM, Polygon)")
    end = min(len(buf), 2 * flen_words)
    out: list = []
    pos = 100
    while pos + 8 <= end:
        _recno, clen_words = struct.unpack_from(">ii", buf, pos)
        pos += 8
        rec_end = pos + 2 * clen_words
        (rtype,) = struct.unpack_from("<i", buf, pos)
        if rtype == 0:  # null shape: carries no geometry
            out.append(None)
            pos = rec_end
            continue
        if rtype != stype:
            raise ValueError(
                f"record shape type {rtype} != file type {stype}")
        if rtype in (_SHAPE_POINT, _SHAPE_POINTZ, _SHAPE_POINTM):
            x, y = struct.unpack_from("<2d", buf, pos + 4)
            z = np.nan
            if rtype == _SHAPE_POINTZ:
                (z,) = struct.unpack_from("<d", buf, pos + 20)
            out.append((x, y, z))
        else:  # polygon
            nparts, npoints = struct.unpack_from("<2i", buf, pos + 36)
            parts = list(struct.unpack_from(f"<{nparts}i", buf, pos + 44))
            pts = np.frombuffer(
                buf, dtype="<f8", count=2 * npoints,
                offset=pos + 44 + 4 * nparts).reshape(npoints, 2)
            out.append(_ring_to_wkt(pts, parts))
        pos = rec_end
    return stype, out


def decode_dbf(buf: bytes) -> pd.DataFrame:
    """Parse dBASE III .dbf attribute bytes into a DataFrame (C as str,
    N/F as float or int, L as bool, D as str)."""
    if len(buf) < 32:
        raise ValueError("truncated dbf header")
    n_rec, hdr_size, rec_size = struct.unpack_from("<IHH", buf, 4)
    fields = []
    pos = 32
    while pos + 32 <= hdr_size and buf[pos] != 0x0D:
        name = buf[pos:pos + 11].split(b"\x00")[0].decode("ascii",
                                                          "replace")
        ftype = chr(buf[pos + 11])
        flen = buf[pos + 16]
        fdec = buf[pos + 17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    cols: dict[str, list] = {f[0]: [] for f in fields}
    base = hdr_size
    for i in range(n_rec):
        rec = buf[base + i * rec_size: base + (i + 1) * rec_size]
        if not rec or rec[0:1] == b"*":  # deleted row
            continue
        off = 1
        for name, ftype, flen, fdec in fields:
            # cp1252: what GDAL/sf write by default (ASCII-compatible,
            # and every byte decodes — no replacement-char mangling of
            # accented species names)
            raw = rec[off:off + flen].decode("cp1252", "replace").strip()
            off += flen
            if ftype in ("N", "F"):
                if raw in ("", "*" * flen):
                    val = None
                elif fdec == 0 and ftype == "N" and "." not in raw:
                    try:
                        val = int(raw)
                    except ValueError:
                        val = None
                else:
                    try:
                        val = float(raw)
                    except ValueError:
                        val = None
            elif ftype == "L":
                val = raw.upper() in ("T", "Y")
            else:  # C, D and anything else: string
                val = raw
            cols[name].append(val)
    return pd.DataFrame(cols)


def read_shapefile(path: str) -> pd.DataFrame:
    """path/to/layer.shp -> DataFrame. Point layers yield (x, y, z) +
    dbf attributes; Polygon layers yield (wkt) + attributes. The .dbf
    sidecar is joined positionally (the shapefile contract); missing
    .dbf is fine (geometry only)."""
    with open(path, "rb") as f:
        stype, shapes = decode_shp(f.read())
    if stype == _SHAPE_POLYGON:
        geo = pd.DataFrame({"wkt": shapes})
    else:
        arr = np.array([(np.nan, np.nan, np.nan) if s is None else s
                        for s in shapes], dtype=np.float64).reshape(-1, 3)
        geo = pd.DataFrame({"x": arr[:, 0], "y": arr[:, 1],
                            "z": arr[:, 2]})
    dbf_path = os.path.splitext(path)[0] + ".dbf"
    if os.path.exists(dbf_path):
        with open(dbf_path, "rb") as f:
            attrs = decode_dbf(f.read())
        if len(attrs) != len(geo):
            raise ValueError(
                f".dbf holds {len(attrs)} rows but .shp holds "
                f"{len(geo)} shapes — sidecars out of sync")
        geo = pd.concat([geo, attrs], axis=1)
    return geo


def shapefile_to_df(spark, path: str):
    """sf::st_read analog: shapefile -> Spark DataFrame (driver-side
    parse; inventories are dimension-sized — this is the broadcast side
    of the engine's matching joins)."""
    return spark.createDataFrame(read_shapefile(path))


# --- writer (round-trip gates + exporting engine outputs back to sf) ---

def _dbf_bytes(attrs: pd.DataFrame) -> bytes:
    fields = []
    used: dict[str, int] = {}

    def short(name: str) -> str:
        # dbf caps names at 10 chars; de-duplicate truncations with
        # numeric suffixes (species_latin/species_local must not both
        # become 'species_la' — duplicate keys mis-assemble on read)
        s = name[:10]
        if s in used:
            used[s] += 1
            s = f"{s[:8]}_{used[s]}"
        else:
            used[s] = 0
        return s

    for name in attrs.columns:
        s = attrs[name]
        if s.dtype.kind in "iu":
            fields.append((name, short(name), "N", 19, 0))
        elif s.dtype.kind == "f":
            fields.append((name, short(name), "N", 19, 6))
        elif s.dtype.kind == "b":
            fields.append((name, short(name), "L", 1, 0))
        else:
            longest = s.astype(str).str.len().max() if len(s) else 1
            width = max(1, min(254, int(longest)))
            fields.append((name, short(name), "C", width, 0))
    rec_size = 1 + sum(f[3] for f in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    out = bytearray(struct.pack("<BBBBIHH20x", 0x03, 95, 1, 1,
                                len(attrs), hdr_size, rec_size))
    for _orig, name, ftype, flen, fdec in fields:
        out += struct.pack("<11sc4xBB14x", name.encode("ascii"),
                           ftype.encode(), flen, fdec)
    out += b"\x0D"
    for _, row in attrs.iterrows():
        out += b" "
        for orig, _name, ftype, flen, fdec in fields:
            v = row[orig]
            if ftype == "N":
                if v is None or (isinstance(v, float) and np.isnan(v)):
                    txt = ""
                elif fdec == 0:
                    txt = str(int(v))
                else:
                    txt = f"{float(v):.{fdec}f}"
                if len(txt) > flen:
                    raise ValueError(
                        f"dbf field {orig!r}: {txt} is wider than its "
                        f"{flen}-character numeric field")
                out += txt.rjust(flen).encode("ascii")
            elif ftype == "L":
                out += (b"T" if v else b"F")
            else:
                out += str(v).ljust(flen)[:flen].encode("cp1252",
                                                        "replace")
    out += b"\x1a"
    return bytes(out)


def write_shapefile(df: pd.DataFrame, path: str):
    """DataFrame -> .shp (+ .dbf when attribute columns exist). Points
    when (x, y [, z]) columns are present (PointZ if z), polygons when a
    `wkt` column is (POLYGON strings, outer ring only)."""
    from lidartree_spark.kernels.geometry import parse_wkt_polygon

    if len(df) == 0:
        raise ValueError(
            "write_shapefile: empty DataFrame (a shapefile header needs "
            "a bounding box; filter upstream or skip the export)")
    records = []
    if "wkt" in df.columns:
        stype = _SHAPE_POLYGON
        attr_cols = [c for c in df.columns if c != "wkt"]
        rings = [parse_wkt_polygon(w) for w in df["wkt"]]
        for ring in rings:
            content = struct.pack("<i", stype)
            content += struct.pack("<4d", ring[:, 0].min(),
                                   ring[:, 1].min(), ring[:, 0].max(),
                                   ring[:, 1].max())
            content += struct.pack("<2i", 1, len(ring))
            content += struct.pack("<i", 0)
            content += np.ascontiguousarray(ring,
                                            dtype="<f8").tobytes()
            records.append(content)
        xs = np.concatenate([r[:, 0] for r in rings])
        ys = np.concatenate([r[:, 1] for r in rings])
    else:
        has_z = "z" in df.columns and df["z"].notna().any()
        stype = _SHAPE_POINTZ if has_z else _SHAPE_POINT
        attr_cols = [c for c in df.columns if c not in ("x", "y", "z")]
        bad = ~(np.isfinite(df["x"].to_numpy(float))
                & np.isfinite(df["y"].to_numpy(float)))
        if bad.any():
            raise ValueError(
                "write_shapefile: non-finite x/y in rows "
                f"{df.index[bad].tolist()[:10]} (a point record and the "
                "header bbox need finite coordinates; drop or fix them)")
        for _, row in df.iterrows():
            content = struct.pack("<i3d" if has_z else "<i2d", stype,
                                  *( (row["x"], row["y"],
                                      float(row.get("z", 0.0)))
                                     if has_z else (row["x"], row["y"])))
            if has_z:
                content += struct.pack("<d", 0.0)  # measure
            records.append(content)
        xs, ys = df["x"].to_numpy(), df["y"].to_numpy()

    body = b""
    for i, content in enumerate(records):
        body += struct.pack(">2i", i + 1, len(content) // 2) + content
    flen = (100 + len(body)) // 2
    hdr = struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, flen)
    hdr += struct.pack("<2i", 1000, stype)
    hdr += struct.pack("<4d", float(xs.min()), float(ys.min()),
                       float(xs.max()), float(ys.max()))
    hdr += struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)  # z/m ranges
    with open(path, "wb") as f:
        f.write(hdr + body)
    if attr_cols:
        with open(os.path.splitext(path)[0] + ".dbf", "wb") as f:
            f.write(_dbf_bytes(df[attr_cols].reset_index(drop=True)))
