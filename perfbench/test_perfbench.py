"""The benchmark's own tests, at a tiny size.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each workload runs once untraced and once traced; a run must emit every
metric ``BENCHMARK.json`` declares, with its unit, and agree with its
oracle.  The geometry tests check that the generated meshes flag cells
exactly as the bounding boxes the oracle uses.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import geometry
import reserves
import run as bench_run

TINY = (24, 24, 10)
#: one query of each kind the mix holds, plus ``reserves_sample``, which
#: raises when the reference sample archive is not installed
TINY_MIX = ("flag_regions", "breakdown_weighted_quantile", "reserves_sample",
            "delta_merge")


def _centres(dims):
    nx, ny, nz = dims
    idx = np.arange(nx * ny * nz)
    c = geometry.CELL
    return ((idx % nx + 0.5) * c, ((idx // nx) % ny + 0.5) * c,
            (idx // (nx * ny) + 0.5) * c)


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("dims", [TINY, (40, 36, 12)])
def test_meshes_flag_cells_like_the_bbox_oracle(seed, dims):
    from vtk_reserves_spark.operators.spatial import point_in_solid
    from vtk_reserves_spark.sources.mesh import TriMesh

    px, py, pz = _centres(dims)
    g = geometry.make_geometry(seed, dims)
    seen = np.zeros(px.size, int)
    for name, b, subdivided in g.regions:
        mesh = (TriMesh(*geometry.box_mesh_arrays(b), name=name) if subdivided
                else TriMesh.box(b, name=name))
        (x0, y0, z0), (x1, y1, z1) = b
        in_box = ((px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
                  & (pz >= z0) & (pz <= z1))
        assert in_box.any()
        np.testing.assert_array_equal(point_in_solid(px, py, pz, mesh), in_box)
        seen += in_box
    assert seen.max() == 1  # disjoint regions
    assert seen.sum() == g.region_cells()


@pytest.mark.parametrize("seed", range(1, 9))
def test_region_share_and_face_counts_do_not_depend_on_the_seed(seed):
    g = geometry.make_geometry(seed, reserves.DIMS)
    assert g.region_cells() / g.n_cells == pytest.approx(0.40, abs=0.01)
    faces = [len(geometry.box_mesh_arrays(b)[1]) for _, b, sub in g.regions if sub]
    assert faces == [2696, 2696]
    assert len(geometry.plane_mesh_arrays(g.include, g.dims)[1]) == 21000


@pytest.mark.parametrize("traced", [False, True], ids=["untraced", "traced"])
@pytest.mark.parametrize("workload", bench_run.WORKLOADS)
def test_smoke_run(workload, traced):
    size = {"names": TINY_MIX} if workload == "driver_mix" else {"dims": TINY}
    result = bench_run.bench(workload, seed=7, seconds=0.1, traced=traced, **size)
    declared = bench_run.declared_metrics(traced)
    assert {k: m["unit"] for k, m in result["metrics"].items()} == declared
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
    assert result["correct"], result
    record_path = os.path.join(
        bench_run.ROOT, "perfbench", "out", f"{workload}-7-{int(traced)}", "record.json")
    with open(record_path) as fh:
        record = json.load(fh)
    assert record["mismatches"] == []
    failed = [f["name"] for f in record["failures"]]
    if workload == "driver_mix":
        # a failing query is recorded by name, with its error, and the
        # run goes on
        assert set(failed) <= {"reserves_sample"}
        assert all(f["error"] for f in record["failures"])
        assert record["oracle"]["breakdown_weighted_quantile"] == "MATCH"
        assert record["oracle"]["delta_merge"] == "MATCH"
    else:
        assert failed == []
    assert result["failed"] == len(failed)
    if not traced:
        assert result["metrics"]["ok_frac"]["value"] == pytest.approx(
            1 - len(failed) / result["attempted"])
