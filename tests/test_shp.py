"""Shapefile codec (lidartree_spark.shp) — the sf::st_read analog for
field inventories (tree_matching's reference side) and plot polygons."""

import struct

import numpy as np
import pandas as pd
import pytest

from lidartree_spark.shp import (
    read_shapefile,
    shapefile_to_df,
    write_shapefile,
)


def test_pointz_inventory_roundtrip_with_attrs(tmp_path):
    df = pd.DataFrame({
        "x": [10.25, 11.5, 40.75],
        "y": [5.0, 6.25, 9.5],
        "z": [18.5, 22.0, 7.25],
        "species": ["Abies alba", "Picea abies", "Fagus sylvatica"],
        "dbh": [31.5, 42.0, 18.25],
        "plot_id": [1, 1, 2],
        "alive": [True, True, False],
    })
    p = str(tmp_path / "trees.shp")
    write_shapefile(df, p)
    back = read_shapefile(p)
    assert np.array_equal(back["x"].to_numpy(), df["x"].to_numpy())
    assert np.array_equal(back["y"].to_numpy(), df["y"].to_numpy())
    assert np.array_equal(back["z"].to_numpy(), df["z"].to_numpy())
    assert list(back["species"]) == list(df["species"])
    assert np.allclose(back["dbh"].to_numpy(), df["dbh"].to_numpy())
    assert list(back["alive"]) == list(df["alive"])


def test_point_2d_without_dbf(tmp_path):
    df = pd.DataFrame({"x": [1.5, 2.5], "y": [3.0, 4.0]})
    p = str(tmp_path / "pts.shp")
    write_shapefile(df, p)
    back = read_shapefile(p)
    assert list(back.columns) == ["x", "y", "z"]
    assert np.array_equal(back["x"].to_numpy(), df["x"].to_numpy())
    assert np.isnan(back["z"]).all()


def test_polygon_layer_roundtrips_to_engine_wkt(tmp_path):
    """A plot-boundary polygon layer surfaces as the engine's WKT —
    droppable straight into tree_detection_catalog."""
    from lidartree_spark.kernels.geometry import parse_wkt_polygon
    wkts = ["POLYGON ((0 0, 32 0, 32 32, 0 32, 0 0))",
            "POLYGON ((64 10, 118 64, 64 118, 10 64, 64 10))"]
    df = pd.DataFrame({"wkt": wkts, "plot": ["a", "b"]})
    p = str(tmp_path / "plots.shp")
    write_shapefile(df, p)
    back = read_shapefile(p)
    assert list(back["plot"]) == ["a", "b"]
    for got, want in zip(back["wkt"], wkts):
        assert np.array_equal(parse_wkt_polygon(got),
                              parse_wkt_polygon(want))


def test_utm_polygon_precision_survives(tmp_path):
    """Full-precision WKT: UTM-scale coordinates must not collapse (a
    6-significant-digit format turned a 32 m plot into a degenerate
    line)."""
    from lidartree_spark.kernels.geometry import parse_wkt_polygon
    ring = [(500000.25, 4500000.75), (500032.25, 4500000.75),
            (500032.25, 4500032.75), (500000.25, 4500032.75),
            (500000.25, 4500000.75)]
    wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
    p = str(tmp_path / "utm.shp")
    write_shapefile(pd.DataFrame({"wkt": [wkt]}), p)
    back = read_shapefile(p)["wkt"][0]
    assert np.array_equal(parse_wkt_polygon(back),
                          np.array(ring, dtype=np.float64))


def test_wkt_coordinates_print_as_plain_decimals():
    """Ring coordinates go through float(): a scalar type whose repr is
    not its decimal (NumPy >= 2 reprs np.float64 as 'np.float64(...)')
    must not leak into the WKT."""
    from lidartree_spark.shp import _ring_to_wkt

    class Scalar(float):
        def __repr__(self):
            return f"Scalar({float(self)!r})"

    ring = np.array([[Scalar(v) for v in xy] for xy in
                     [(0.5, 4500000.75), (32.25, 4500000.75),
                      (32.25, 4500032.75), (0.5, 4500000.75)]],
                    dtype=object)
    assert _ring_to_wkt(ring, [0]) == (
        "POLYGON ((0.5 4500000.75, 32.25 4500000.75, "
        "32.25 4500032.75, 0.5 4500000.75))")
    assert "np." not in _ring_to_wkt(np.array(ring, dtype=np.float64), [0])


def test_dbf_numeric_overflow_raises(tmp_path):
    """A number wider than its 19-character dbf field raises instead of
    being cut to its first 19 characters."""
    df = pd.DataFrame({"x": [1.0], "y": [2.0], "area": [1.5e13]})
    with pytest.raises(ValueError, match="'area'.*19-character"):
        write_shapefile(df, str(tmp_path / "wide.shp"))


def test_nan_point_coordinates_raise(tmp_path):
    """NaN x/y would be written into the point records and the header
    bbox; the writer names the rows instead."""
    df = pd.DataFrame({"x": [1.0, np.nan, 3.0], "y": [2.0, 2.5, np.nan]})
    with pytest.raises(ValueError, match=r"rows \[1, 2\]"):
        write_shapefile(df, str(tmp_path / "nan.shp"))


def test_int_attrs_roundtrip_as_int_and_names_deduplicate(tmp_path):
    df = pd.DataFrame({
        "x": [1.0], "y": [2.0],
        "plot_id": np.array([7], dtype=np.int64),
        "count_u": np.array([9], dtype=np.uint32),
        "species_latin": ["Abies alba"],
        "species_local": ["sapin"],
    })
    p = str(tmp_path / "ints.shp")
    write_shapefile(df, p)
    back = read_shapefile(p)
    assert back["plot_id"][0] == 7 and back["plot_id"].dtype.kind == "i"
    assert back["count_u"][0] == 9 and back["count_u"].dtype.kind == "i"
    # truncated 10-char names de-duplicated, not collided
    cols = set(back.columns)
    assert "species_la" in cols
    assert any(c.startswith("species_") and c != "species_la"
               for c in cols - {"species_la"})
    vals = {back[c][0] for c in cols if c.startswith("species")}
    assert vals == {"Abies alba", "sapin"}


def test_cp1252_species_names_roundtrip(tmp_path):
    df = pd.DataFrame({"x": [1.0], "y": [2.0],
                       "species": ["Épicéa commun"]})
    p = str(tmp_path / "acc.shp")
    write_shapefile(df, p)
    assert read_shapefile(p)["species"][0] == "Épicéa commun"


def test_empty_dataframe_raises_clearly(tmp_path):
    with pytest.raises(ValueError, match="empty DataFrame"):
        write_shapefile(pd.DataFrame({"x": [], "y": []}),
                        str(tmp_path / "e.shp"))


def test_unsupported_shape_type_fails_loudly(tmp_path):
    hdr = struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, 50)
    hdr += struct.pack("<2i", 1000, 3)  # PolyLine
    hdr += struct.pack("<8d", *([0.0] * 8))
    with pytest.raises(NotImplementedError, match="PolyLine"):
        from lidartree_spark.shp import decode_shp
        decode_shp(hdr)


def test_bad_magic_rejected():
    from lidartree_spark.shp import decode_shp
    with pytest.raises(ValueError, match="file code"):
        decode_shp(b"\x00" * 100)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:
    @settings(max_examples=15, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(1, 200),
           st.booleans())
    def test_point_roundtrip_property(seed, n, with_z):
        """ANY point layer — UTM-scale coords, int/float/bool/text
        attributes with NaN holes — round-trips through .shp + .dbf."""
        import tempfile

        rng = np.random.default_rng(seed)
        df = pd.DataFrame({
            "x": np.round(rng.uniform(-1e6, 1e6, n), 3),
            "y": np.round(rng.uniform(-1e7, 1e7, n), 3),
            "ht": np.round(rng.uniform(0, 60, n), 4),
            "plot": rng.integers(-1000, 1000, n),
            "ok": rng.random(n) < 0.5,
            "tag": [f"t{int(v)}" for v in rng.integers(0, 1e6, n)],
        })
        if with_z:
            df.insert(2, "z", np.round(rng.uniform(0, 2000, n), 3))
        df.loc[rng.random(n) < 0.1, "ht"] = np.nan
        with tempfile.TemporaryDirectory() as d:
            p = f"{d}/pts.shp"
            write_shapefile(df, p)
            back = read_shapefile(p)
        assert np.array_equal(back["x"].to_numpy(), df["x"].to_numpy())
        assert np.array_equal(back["y"].to_numpy(), df["y"].to_numpy())
        if with_z:
            assert np.array_equal(back["z"].to_numpy(),
                                  df["z"].to_numpy())
        ht = back["ht"].astype(float).to_numpy()
        assert np.allclose(ht, df["ht"].to_numpy(),
                           equal_nan=True, atol=1e-6)
        assert np.array_equal(
            np.asarray(back["plot"], dtype=np.int64),
            df["plot"].to_numpy())
        assert list(back["ok"]) == list(df["ok"])
        assert list(back["tag"]) == list(df["tag"])


def test_shapefile_to_spark_matching(spark, tmp_path):
    """Inventory .shp -> Spark -> the REAL greedy matcher against
    detections, proving the sf::st_read -> tree_matching path."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.matching import match_trees
    from lidartree_spark.operators.tiles import (
        synthetic_ref_trees,
        synthetic_tiles,
    )
    ref = synthetic_ref_trees(spark, 2, 2).toPandas()
    p = str(tmp_path / "inv.shp")
    # inventory columns in the engine are (image_id, tree_id, x, y, h);
    # encode h as the PointZ z, the rest as dbf attributes
    inv = ref.rename(columns={"h": "z"})[["x", "y", "z", "image_id",
                                          "tree_id"]]
    write_shapefile(inv, p)
    sdf = shapefile_to_df(spark, p).selectExpr(
        "image_id", "CAST(tree_id AS LONG) AS tree_id", "x", "y",
        "z AS h")
    det = detect_trees(synthetic_tiles(spark, 2, 2))
    via_shp = match_trees(sdf, det).collect()
    direct = match_trees(
        synthetic_ref_trees(spark, 2, 2).select(
            "image_id", "tree_id", "x", "y", "h"), det).collect()
    def key(r):
        return (r["image_id"], r["r"], r["d"])

    assert sorted(map(key, via_shp)) == sorted(map(key, direct))
    assert len(via_shp) > 0
