"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The metric-name tests run the benchmark itself, twice per workload and
--trace value (about ten minutes in all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import oracles  # noqa: E402

TILES = "tiles_detect_match"
LAZ = "laz_catalog_checkpoint"


@pytest.fixture(scope="module")
def small_tiles(tmp_path_factory):
    d = tmp_path_factory.mktemp("tiles")
    r0, c0 = inputs.grid_origin(TILES, 7)
    cells = inputs.grid_cells(r0, c0, 2)
    inputs.write_tiles(cells, str(d / "tiles"))
    inputs.write_inventory(cells, str(d / "ref"))
    return (pd.read_parquet(d / "tiles"), pd.read_parquet(d / "ref"))


def test_check_rejects_an_injected_wrong_row(small_tiles):
    tiles, ref = small_tiles
    expected = oracles.tiles_matches(tiles, ref)
    assert len(expected) > 0
    got = expected.sample(frac=1.0, random_state=0)   # order is free
    assert oracles.check_matches(got, expected) is None

    wrong = got.copy()
    wrong.iloc[0, wrong.columns.get_loc("h_diff")] += 0.25
    assert oracles.check_matches(wrong, expected) is not None

    swapped = got.copy()
    swapped.iloc[0, swapped.columns.get_loc("d")] += 1
    assert oracles.check_matches(swapped, expected) is not None

    extra = pd.concat([got, got.iloc[:1]], ignore_index=True)
    assert oracles.check_matches(extra, expected) is not None


def test_tree_and_point_checks_reject_an_injected_wrong_row():
    r0, c0 = inputs.grid_origin(LAZ, 7)
    pts_q = inputs.quantize(inputs.laz_points(LAZ, 7, r0, c0, 1))
    assert oracles.check_points(pts_q.iloc[::-1], pts_q) is None
    bad = pts_q.copy()
    bad.iloc[5, bad.columns.get_loc("z")] += 0.01
    assert oracles.check_points(bad, pts_q) is not None

    chms = oracles.chm_tiles(pts_q, r0, c0)
    ring = inputs.roi_polygon(LAZ, 7, r0, c0, 1, inset_tiles=0.0)
    trees = oracles.mosaic_trees(chms, ring)
    assert len(trees) > 0
    assert oracles.check_trees(trees, trees) is None
    moved = trees.copy()
    moved.iloc[0, moved.columns.get_loc("x")] += inputs.RES
    assert oracles.check_trees(moved, trees) is not None
    taller = trees.copy()
    taller.iloc[0, taller.columns.get_loc("h")] += 0.01
    assert oracles.check_trees(taller, trees) is not None


def _file_bytes(directory) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(directory.iterdir())}


def _write_all(seed: int, d) -> dict[str, bytes]:
    from lidartree_spark.laz import encode_laz
    r0, c0 = inputs.grid_origin(TILES, seed)
    cells = inputs.grid_cells(r0, c0, 3)
    inputs.write_tiles(cells, str(d / "tiles"))
    inputs.write_inventory(cells, str(d / "ref"))
    out = {f"tiles/{k}": v for k, v in _file_bytes(d / "tiles").items()}
    out.update({f"ref/{k}": v for k, v in _file_bytes(d / "ref").items()})
    r0, c0 = inputs.grid_origin(LAZ, seed)
    pts = inputs.laz_points(LAZ, seed, r0, c0, 1)
    # the records write_laz encodes per partition
    out["laz"] = encode_laz(
        pts["x"].to_numpy(), pts["y"].to_numpy(), pts["z"].to_numpy(),
        classification=pts["classification"].to_numpy(),
        gps_time=pts["gps_time"].to_numpy(), scale=inputs.LAZ_SCALE)
    out["roi"] = inputs.ring_wkt(inputs.roi_polygon(
        LAZ, seed, r0, c0, 3, inset_tiles=0.3)).encode()
    return out


def test_same_seed_regenerates_byte_identical_inputs(tmp_path):
    a = _write_all(7, tmp_path / "a")
    b = _write_all(7, tmp_path / "b")
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k], k


def test_different_seed_gives_different_inputs(tmp_path):
    a = _write_all(7, tmp_path / "a")
    b = _write_all(8, tmp_path / "b")
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] != b[k], k
    assert inputs.grid_origin(TILES, 7) != inputs.grid_origin(TILES, 8)


def _bench(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", [TILES, LAZ])
@pytest.mark.parametrize("trace", [0, 1])
def test_different_seed_reports_the_same_metric_names(workload, trace):
    a, b = _bench(workload, 7, trace), _bench(workload, 8, trace)
    assert a["correct"] and b["correct"]
    assert a["failed"] == b["failed"] == 0
    assert a["metrics"].keys() == b["metrics"].keys()
    bench = _benchmark_json()
    declared = bench["per_layer" if trace else "end_to_end"]
    assert {k: m["unit"] for k, m in a["metrics"].items()} == \
        {m["name"]: m["unit"] for m in declared}
    if not trace:
        for m in a["metrics"].values():
            assert m["value"] > 0


def test_layer_lists_agree():
    """BENCHMARK.json's per_layer metrics, workloads.LAYER_METRICS and the
    layer map in layers.json name the same metrics in the same order."""
    from workloads import LAYER_METRICS
    declared = [(m["name"], m["unit"]) for m in _benchmark_json()["per_layer"]]
    assert declared == list(LAYER_METRICS)
    with open(os.path.join(HERE, "layers.json")) as f:
        layer_map = json.load(f)["layer_map"]
    assert [n for entry in layer_map for n in entry["metrics"]] == \
        [n for n, _ in LAYER_METRICS]


def test_benchmark_refuses_to_run_without_the_package(tmp_path):
    import shutil
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", TILES,
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
