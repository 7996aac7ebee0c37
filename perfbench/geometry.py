"""Seeded inputs for the two reserves workloads.

One generator serves both: ``reserves_mesh`` receives the regions as
triangulated ``TriMesh`` solids and the surfaces as triangulated planes,
``reserves_box`` receives the same regions as ``(name, bounds)`` boxes
and the same surfaces as ``PlaneSurface``.  Everything is chosen so the
exact answer has a closed form:

- cells are 10 m cubes whose centres sit at odd multiples of 5 m;
- region bounds are multiples of 10 m, so no centre lies on a face;
- the three regions occupy disjoint xy bands and the grid height above
  its bottom cell layer, so the region share of cells does not depend on
  the seed (the seed moves them, not their size), and neither does the
  work a report does or its split across partitions;
- triangle edges run on even coordinates with a 3:2 diagonal, so no
  vertical ray through a cell centre meets an edge or a vertex.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

CELL = 10.0
#: quad size of the subdivided box tops and bottoms (x, y), in metres
BOX_QUAD = (20.0, 30.0)
#: quad size of the triangulated surfaces (x, y), in metres
SURF_QUAD = (16.0, 24.0)


@dataclass(frozen=True)
class Plane:
    """``z = a*x + b*y + c``."""

    a: float
    b: float
    c: float

    def z(self, x, y):
        return self.a * x + self.b * y + self.c


@dataclass(frozen=True)
class Geometry:
    dims: tuple[int, int, int]
    #: (name, ((x0, y0, z0), (x1, y1, z1)), subdivided) in overwrite order
    regions: tuple
    include: Plane
    exclude: Plane

    @property
    def n_cells(self) -> int:
        nx, ny, nz = self.dims
        return nx * ny * nz

    def region_cells(self) -> int:
        """Cells whose centre lies inside some region (regions are
        disjoint, so the shares add)."""
        total = 0
        for _, ((x0, y0, z0), (x1, y1, z1)), _ in self.regions:
            total += round((x1 - x0) * (y1 - y0) * (z1 - z0) / CELL**3)
        return total


def _snap(v: float, step: float) -> float:
    return float(np.floor(v / step) * step)


def make_geometry(seed: int, dims) -> Geometry:
    """Three disjoint regions and two tilted planes, fixed by ``seed``.

    Regions 1 and 2 (subdivided solids) sit in the two lower xy quarters,
    region 3 (a plain 12-face box) in the upper half.  Every region spans
    the grid height above its bottom cell layer, so the split of region
    cells across the z-ordered partitions of the cell table is the same
    for every seed, and a vertical ray from a bottom-layer cell crosses a
    region twice (an even count: outside).  About 40% of cells fall
    inside a region."""
    rng = np.random.default_rng(seed)
    nx, ny, nz = dims
    X, Y, Z = nx * CELL, ny * CELL, nz * CELL

    def place(x_lo, x_band, y_lo, y_band, w, h):
        x0 = x_lo + CELL * rng.integers(0, int((x_band - w) / CELL) + 1)
        y0 = y_lo + CELL * rng.integers(0, int((y_band - h) / CELL) + 1)
        return ((x0, y0, CELL), (x0 + w, y0 + h, Z))

    qx, qy = BOX_QUAD
    w12 = _snap(0.32 * X, qx)
    h12 = _snap(0.32 * Y, qy)
    w3 = _snap(0.9 * X, 2 * CELL)
    h3 = CELL * (2 * np.floor((0.27 * Y / CELL - 1) / 2) + 1)
    regions = (
        ("region1", place(0.0, X / 2, 0.0, Y / 2, w12, h12), True),
        ("region2", place(X / 2, X / 2, 0.0, Y / 2, w12, h12), True),
        # a plain box is split along its xy diagonal: an even x extent
        # over an odd y extent (in cells) keeps that diagonal off every
        # cell centre
        ("region3", place(0.0, X, Y / 2, Y / 2, w3, h3), False),
    )
    # include: a tilted topography through mid-depth; exclude: a gently
    # tilted floor in the lower fifth of the grid
    a, b = rng.uniform(0.02, 0.06), rng.uniform(-0.04, 0.04)
    include = Plane(a, b, Z * rng.uniform(0.45, 0.6) - a * X / 2 - b * Y / 2)
    a2, b2 = rng.uniform(-0.01, 0.01), rng.uniform(-0.01, 0.01)
    exclude = Plane(a2, b2, Z * rng.uniform(0.1, 0.2) - a2 * X / 2 - b2 * Y / 2)
    return Geometry(tuple(dims), regions, include, exclude)


def _quad_grid(x0, y0, x1, y1, step):
    """Vertices and triangles of an axis-aligned quad grid over a
    rectangle, each quad split along its (x0,y0)-(x1,y1) diagonal."""
    sx, sy = step
    xs = np.arange(x0, x1 + sx / 2, sx)
    ys = np.arange(y0, y1 + sy / 2, sy)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    n_y = len(ys)
    ii, jj = np.meshgrid(np.arange(len(xs) - 1), np.arange(n_y - 1), indexing="ij")
    v00 = (ii * n_y + jj).ravel()
    v10 = v00 + n_y
    v01 = v00 + 1
    v11 = v10 + 1
    faces = np.concatenate(
        [np.stack([v00, v10, v11], 1), np.stack([v00, v11, v01], 1)]
    )
    return gx.ravel(), gy.ravel(), faces


def box_mesh_arrays(bounds):
    """Closed box solid whose top and bottom are split into ``BOX_QUAD``
    quads; its sides stay two triangles each (they are vertical, so a
    vertical ray never counts them)."""
    (x0, y0, z0), (x1, y1, z1) = bounds
    gx, gy, f = _quad_grid(x0, y0, x1, y1, BOX_QUAD)
    n = len(gx)
    verts = [
        np.stack([gx, gy, np.full(n, z0)], 1),
        np.stack([gx, gy, np.full(n, z1)], 1),
    ]
    faces = [f[:, ::-1], f + n]  # bottom faces down, top faces up
    corners = np.array(
        [
            [x0, y0, z0], [x1, y0, z0], [x1, y1, z0], [x0, y1, z0],
            [x0, y0, z1], [x1, y0, z1], [x1, y1, z1], [x0, y1, z1],
        ]
    )
    c = 2 * n + np.array(
        [
            [0, 1, 5], [0, 5, 4], [2, 3, 7], [2, 7, 6],
            [1, 2, 6], [1, 6, 5], [3, 0, 4], [3, 4, 7],
        ]
    )
    return np.concatenate(verts + [corners]), np.concatenate(faces + [c])


def plane_mesh_arrays(plane: Plane, dims):
    """``plane`` triangulated on ``SURF_QUAD`` quads over the whole grid
    footprint (the last row of quads may overhang the grid edge)."""
    nx, ny, _ = dims
    sx, sy = SURF_QUAD
    x1 = sx * np.ceil(nx * CELL / sx)
    y1 = sy * np.ceil(ny * CELL / sy)
    gx, gy, f = _quad_grid(0.0, 0.0, x1, y1, SURF_QUAD)
    return np.stack([gx, gy, plane.z(gx, gy)], 1), f
