"""Spatial operators — the "joins" of this engine.

The reference has no relational joins; its joins are geometric
(point-vs-solid, point-vs-surface — SURVEY.md §2.5), implemented as
O(cells × meshes) single-threaded VTK loops.  Here every spatial
operator is column expressions over at most one kernel call:

- axis-aligned ``(name, bounds)`` boxes and :class:`PlaneSurface`
  surfaces are **pure column expressions** — full codegen, no Python,
  exactly expressible in an SQL oracle;
- triangulated :class:`TriMesh` solids and surfaces are read through
  **one probe**: a single Arrow pandas-UDF over (x, y, z) that calls the
  numpy ray-scan kernel once per mesh and returns a struct with, per
  mesh ``i``, ``in<i>`` (the parity flag) and ``z<i>`` (the mean
  crossing elevation, NULL when the ray misses).  The meshes (KBs) ride
  in the UDF closure, so the scan is embarrassingly parallel across
  partitions and never shuffles the block model.

Region flags, elevations and depletion fractions are expressions over
those fields: one overwrite ``when`` chain for regions and one
clip/``greatest``/``coalesce(1 - f)`` rule for depletion, shared by
:func:`flag_regions`, :func:`flag_regions_2d`, :func:`surface_elevation`,
:func:`mine_fraction` and :func:`annotate_spatial`.

Kernel: vertical (+z) ray crossing counts per point.  ``inside solid`` =
odd number of crossings above the point (parity test — the semantics of
``select_enclosed_points``, ``vtk_flag_regions.py:68``); ``elevation`` =
mean z of all crossings (``get_elevation``, ``pd_vtk.py:771-796``);
``2-D footprint flag`` = any crossing (``vtk_flag_region_2d``,
``vtk_flag_regions.py:28-52``).

Degenerate-ray caveat: points whose xy projection falls exactly on a
projected triangle edge may miscount crossings (measure-zero; the
reference's VTK ray_trace has the same class of edge cases).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vtk_reserves_spark.sources.mesh import TriMesh

_EPS = 1e-12


@dataclass(frozen=True)
class PlaneSurface:
    """Analytic surface ``z = a*x + b*y + c`` (optionally bounded in xy).

    The expression-path counterpart of a planar TriMesh — elevations and
    mined fractions become closed-form column arithmetic (and ANSI-SQL
    oracles).  Mirrors the reference sample's 4-point planar surfaces."""

    a: float
    b: float
    c: float
    xy_bounds: tuple | None = None  # ((x0,y0),(x1,y1)) or None = infinite
    name: str = ""

    def elevation(self, x: Column, y: Column) -> Column:
        z = F.lit(self.a) * x + F.lit(self.b) * y + F.lit(self.c)
        if self.xy_bounds is None:
            return z
        (x0, y0), (x1, y1) = self.xy_bounds
        return F.when(
            x.between(float(x0), float(x1)) & y.between(float(y0), float(y1)), z
        )


#: face count at or below which a mesh is a single xy tile
_TILE_THRESHOLD = 512


def _tile_xy(xy, lo, ts, nt):
    """(n, 2) xy -> (n, 2) tile column and row, clipped to the grid.
    The index and the scan both use it: a face's tile range covers the
    tile of every point inside it only under one monotone rule."""
    return np.clip(((xy - lo[:2]) / ts).astype(np.int64), 0, nt - 1)


def _tri_arrays(mesh: TriMesh):
    """Packed triangles and the xy tile index :func:`_ray_scan` reads.

    Vertical faces never cross a vertical ray and are left out.  The
    index is a CSR over an ``nt x nt`` grid of xy tiles spanning the
    mesh bounds: ``face[off[t]:off[t + 1]]`` are the faces whose xy
    bounding box overlaps tile ``t``, in ascending order.  It is built
    in numpy from each face's tile range (``lexsort`` of the (tile,
    face) pairs, ``searchsorted`` offsets), with no per-face loop.
    ``nt = isqrt(F)`` for ``F`` non-vertical faces targets about one
    face per tile; a mesh of at most ``_TILE_THRESHOLD`` such faces is
    one tile.  Per face: the x, y of vertices A, B, C, the z of A, the
    edge differences ``B - A``, ``C - B``, ``A - C`` in x and y, and
    the (unnormalized) normal.

    Cached on the mesh, keyed on copies of the vertex and face arrays it
    was built from (reassigning or editing either in place rebuilds it);
    :class:`TriMesh` leaves it out of its pickled state, so a mesh
    shipped in a UDF closure builds it once per task."""
    key = (mesh.vertices, mesh.faces)
    cached = getattr(mesh, "_tri_cache", None)
    if cached is not None and all(map(np.array_equal, cached[0], key)):
        return cached[1]
    V, fc = key
    A, B, C = V[fc[:, 0]], V[fc[:, 1]], V[fc[:, 2]]
    nrm = np.cross(B - A, C - A)  # (nx, ny, nz) per face
    flat = np.abs(nrm[:, 2]) >= _EPS  # vertical tris never cross a +z ray
    A, B, C, nrm = A[flat], B[flat], C[flat], nrm[flat]
    lo, hi = mesh.bounds
    nt = math.isqrt(len(A)) if len(A) > _TILE_THRESHOLD else 1
    ts = np.maximum((hi[:2] - lo[:2]) / nt, _EPS)
    vxy = np.stack([A[:, :2], B[:, :2], C[:, :2]])
    t0, t1 = _tile_xy(vxy.min(0), lo, ts, nt), _tile_xy(vxy.max(0), lo, ts, nt)
    wy = t1[:, 1] - t0[:, 1] + 1
    cnt = (t1[:, 0] - t0[:, 0] + 1) * wy
    face = np.repeat(np.arange(len(A)), cnt)
    k = np.arange(face.size) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    tile = (t0[face, 0] + k // wy[face]) * nt + t0[face, 1] + k % wy[face]
    order = np.lexsort((face, tile))
    off = np.searchsorted(tile[order], np.arange(nt * nt + 1))
    (ax, ay, az), (bx, by, _), (cx, cy, _) = A.T, B.T, C.T
    tri = (ax, ay, az, bx, by, cx, cy,
           bx - ax, by - ay, cx - bx, cy - by, ax - cx, ay - cy, *nrm.T)
    index = (lo, hi, nt, ts, off, face[order], tri)
    mesh._tri_cache = (tuple(a.copy() for a in key), index)
    return index


def _ray_scan(px, py, pz, mesh: TriMesh, chunk_elems: int = 1 << 20):
    """Vertical-ray crossing scan of a point batch against a mesh.

    Returns (n_above, n_hits, z_sum) int64/int64/float64 arrays: crossings
    strictly above each point, total crossings, and the sum of crossing
    elevations.  Fully vectorized, with no Python loop over tiles or
    faces: every (point, candidate face) pair of the batch, the
    candidates being the faces of the point's xy tile
    (:func:`_tri_arrays`), is gathered into flat arrays with one
    ``repeat`` plus offsets; the edge tests and crossing elevations run
    on those arrays, and the per-point sums are ``bincount``s, which add
    each point's crossings in ascending face order.  Points are taken in
    chunks of at most ``chunk_elems`` pairs (one point's pairs are never
    split), which bounds the working set."""
    n = px.size
    n_above = np.zeros(n, np.int64)
    n_hits = np.zeros(n, np.int64)
    z_sum = np.zeros(n, np.float64)
    if len(mesh.faces) == 0:
        return n_above, n_hits, z_sum
    lo, hi, nt, ts, off, face, tri = _tri_arrays(mesh)
    m = (px >= lo[0] - _EPS) & (px <= hi[0] + _EPS) & (py >= lo[1] - _EPS) & (py <= hi[1] + _EPS)
    if face.size == 0 or not m.any():
        return n_above, n_hits, z_sum
    # Simulation-of-simplicity: nudge the ray xy by a deterministic,
    # scale-relative epsilon so rays almost surely miss projected triangle
    # edges (otherwise a ray through an edge shared by two triangles
    # counts twice and flips the parity test).  The elevation error this
    # introduces is O(1e-9 * extent * slope) — far below float noise at
    # mining-model scales.
    scale = float(max(hi[0] - lo[0], hi[1] - lo[1], 1.0))
    idx = np.nonzero(m)[0]
    qx = px[idx] + 1.2345678e-9 * scale
    qy = py[idx] + 2.7182818e-9 * scale
    qz = pz[idx]
    txy = _tile_xy(np.stack([qx, qy], 1), lo, ts, nt)
    t = txy[:, 0] * nt + txy[:, 1]
    first = off[t]
    cnt = off[t + 1] - first
    ends = np.cumsum(cnt)
    ax, ay, az, bx, by, cx, cy, e1x, e1y, e2x, e2y, e3x, e3y, nx, ny, nz = tri
    s = 0
    while s < idx.size:
        base = ends[s - 1] if s else 0
        e = max(s + 1, int(np.searchsorted(ends, base + chunk_elems, "right")))
        c = cnt[s:e]
        # pair j of point i reads CSR entry first[i] + j
        pt = np.repeat(np.arange(e - s), c)
        f = face[np.arange(ends[e - 1] - base) + np.repeat(first[s:e] - (ends[s:e] - c - base), c)]
        X, Y = qx[s:e][pt], qy[s:e][pt]
        d1 = e1x[f] * (Y - ay[f]) - e1y[f] * (X - ax[f])
        d2 = e2x[f] * (Y - by[f]) - e2y[f] * (X - bx[f])
        d3 = e3x[f] * (Y - cy[f]) - e3y[f] * (X - cx[f])
        hit = ((d1 > _EPS) & (d2 > _EPS) & (d3 > _EPS)) | (
            (d1 < -_EPS) & (d2 < -_EPS) & (d3 < -_EPS)
        )
        p, f, X, Y = pt[hit], f[hit], X[hit], Y[hit]  # hits are sparse
        zh = az[f] - (nx[f] * (X - ax[f]) + ny[f] * (Y - ay[f])) / nz[f]
        tgt = idx[s:e]
        n_hits[tgt] = np.bincount(p, minlength=e - s)
        z_sum[tgt] = np.bincount(p, weights=zh, minlength=e - s)
        n_above[tgt] = np.bincount(p[zh > qz[s:e][p]], minlength=e - s)
        s = e
    return n_above, n_hits, z_sum


def point_in_solid(px, py, pz, mesh: TriMesh):
    """Parity (ray-cast) enclosure test — numpy batch."""
    n_above, _, _ = _ray_scan(px, py, pz, mesh)
    return (n_above % 2) == 1


#: struct column holding the probe's fields while one operator runs
_PROBE = "__probe"


class _Probe:
    """One operator's mesh probe (see the module docstring): meshes are
    registered while the operator builds its expressions, then
    :meth:`apply` scans them all in one UDF call per record batch."""

    def __init__(self) -> None:
        self.meshes: list[TriMesh] = []

    def field(self, mesh: TriMesh, kind: str) -> Column:
        """``kind`` is ``"in"`` (parity flag) or ``"z"`` (mean crossing
        elevation, NULL on a miss)."""
        self.meshes.append(mesh)
        return F.col(f"{_PROBE}.{kind}{len(self.meshes) - 1}")

    def apply(self, df: DataFrame, xyz: list[Column], cols: dict[str, Column]) -> DataFrame:
        """Add ``cols`` to ``df``, probing first if any of them reads a
        mesh field."""
        meshes = list(self.meshes)
        if not meshes:
            return df.withColumns(cols)
        schema = ", ".join(f"in{i}: boolean, z{i}: double" for i in range(len(meshes)))

        @F.pandas_udf(schema)
        def probe(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.DataFrame:
            px, py, pz = (s.to_numpy(np.float64) for s in (x, y, z))
            out = {}
            for i, mesh in enumerate(meshes):
                n_above, n_hits, z_sum = _ray_scan(px, py, pz, mesh)
                out[f"in{i}"] = n_above % 2 == 1
                # NaN crosses the Arrow boundary as NULL
                out[f"z{i}"] = np.where(n_hits > 0, z_sum / np.maximum(n_hits, 1), np.nan)
            return pd.DataFrame(out)

        # asNondeterministic keeps the probe in its own projection:
        # Catalyst would otherwise inline the UDF into every consumer of
        # a field (a filter on the flag plus the projection would each
        # rerun the whole scan).  The UDF is pure; the flag only
        # restricts the optimizer, and it also stops filters from being
        # pushed below the probe.
        return (
            df.withColumn(_PROBE, probe.asNondeterministic()(*xyz))
            .withColumns(cols)
            .drop(_PROBE)
        )


def _entry_value(i: int, entry, values: list[str] | None) -> str:
    """Flag value of region ``i``: ``values[i]`` if given, else the box
    name or mesh name (= file basename in the reference pipeline,
    ``vtk_reserves.py:74``), else the 1-based ordinal."""
    if values is not None and i < len(values):
        return str(values[i])
    if isinstance(entry, tuple):
        return entry[0]
    return entry.name or str(i + 1)


def _overwrite_chain(flags: list[tuple[str, Column]], default: Column) -> Column:
    """Later regions OVERWRITE earlier ones (``vtk_flag_regions.py:63-73``):
    the last region is tested first."""
    expr = default
    for value, inside in flags:
        expr = F.when(inside, F.lit(value)).otherwise(expr)
    return expr


def _region_flag(
    regions: list, values: list[str] | None, xyz: list[Column], probe: _Probe
) -> Column:
    """Region flag of a list mixing :class:`TriMesh` solids (probe parity)
    and ``(name, bounds)`` boxes (BETWEEN predicates); ``''`` outside
    every region."""
    x, y, z = xyz
    flags = []
    for i, r in enumerate(regions):
        if isinstance(r, TriMesh):
            inside = probe.field(r, "in")
        elif isinstance(r, tuple):
            (x0, y0, z0), (x1, y1, z1) = r[1]
            inside = (
                x.between(float(x0), float(x1))
                & y.between(float(y0), float(y1))
                & z.between(float(z0), float(z1))
            )
        else:
            # silently dropping these used to flag EVERY row '' and the
            # region filter then deleted the whole block model
            raise TypeError(
                "region entries must be (name, bounds) tuples or TriMesh "
                f"solids; got {type(r).__name__}"
            )
        flags.append((_entry_value(i, r, values), inside))
    return _overwrite_chain(flags, F.lit(""))


def _elevation(surface: "TriMesh | PlaneSurface", x: Column, y: Column, probe: _Probe) -> Column:
    if isinstance(surface, PlaneSurface):
        return surface.elevation(x, y)
    return probe.field(surface, "z")


def _mine(
    include: list | None,
    exclude: list | None,
    xyz: list[Column],
    dz: Column,
    probe: _Probe,
) -> Column:
    """Mined fraction of each cell (the combination rules are documented
    on :func:`mine_fraction`).  A surface contributes ``clip((z_surf - z
    + dz/2) / dz, 0, 1)`` — the reconstructed ``vtk_block_mine`` kernel
    (``vtk_mine.py:80-87``) — which is 0 where the surface has no
    elevation (``greatest`` skips NULL); a ``("solid", mesh)`` entry
    contributes its parity flag."""
    x, y, z = xyz

    def fraction(surf) -> Column:
        if isinstance(surf, tuple) and surf[0] == "solid":
            return probe.field(surf[1], "in").cast("double")
        zs = _elevation(surf, x, y, probe)
        return F.least(F.greatest((zs - z + dz / 2) / dz, F.lit(0.0)), F.lit(1.0))

    inc = [fraction(s) for s in include or []]
    if inc:
        mine = F.greatest(*inc) if len(inc) > 1 else inc[0]
    else:
        mine = F.lit(1.0)  # blank include set -> fill(1)
    # each exclude multiplies by its own (1 - fraction) — the reference
    # applies surfaces sequentially (vtk_mine.py:86-87 per call), so two
    # half-covering excludes keep 0.25, not 1 - max = 0.5
    for surf in exclude or []:
        mine = mine * F.coalesce(F.lit(1.0) - fraction(surf), F.lit(1.0))
    return mine


def flag_regions(
    df: DataFrame,
    regions: list,
    flag_var: str = "region",
    xyz=("x", "y", "z"),
    values: list[str] | None = None,
) -> DataFrame:
    """Flag each row with the enclosing region solid — ``vtk_flag_region``
    (``vtk_flag_regions.py:54-79``): later regions OVERWRITE earlier ones;
    rows in no region get ``''``; the flag value is the mesh name
    (= file basename in the reference pipeline, ``vtk_reserves.py:74``)
    or an ordinal when unnamed.

    Entries may be :class:`TriMesh` solids (one probe call scans them
    all) or ``(name, bounds)`` axis-aligned boxes, which become BETWEEN
    predicates — zero Python, exactly expressible in an SQL oracle."""
    cols = [F.col(c) for c in xyz]
    probe = _Probe()
    flag = _region_flag(regions, values, cols, probe)
    return probe.apply(df, cols, {flag_var: flag})


def flag_regions_2d(
    df: DataFrame,
    regions: list[TriMesh],
    flag_var: str = "region",
    xy=("x", "y"),
    values: list[str] | None = None,
) -> DataFrame:
    """2-D footprint flag — ``vtk_flag_region_2d``
    (``vtk_flag_regions.py:28-52``): any vertical-ray hit marks the point
    as inside the mesh footprint; unmatched points get NULL (the
    reference leaves ``None`` in an object array)."""
    x, y = (F.col(c) for c in xy)
    probe = _Probe()
    flags = [
        (_entry_value(i, m, values), probe.field(m, "z").isNotNull())
        for i, m in enumerate(regions)
    ]
    flag = _overwrite_chain(flags, F.lit(None).cast("string"))
    return probe.apply(df, [x, y, F.lit(0.0)], {flag_var: flag})


def surface_elevation(
    df: DataFrame,
    surface: "TriMesh | PlaneSurface",
    out_col: str = "z_surf",
    xy=("x", "y"),
) -> DataFrame:
    """Sample the surface elevation under/over each row —
    ``get_elevation`` (``pd_vtk.py:771-796``): vertical ray against the
    mesh, mean z of all hits; no hit -> NULL."""
    x, y = (F.col(c) for c in xy)
    probe = _Probe()
    zs = _elevation(surface, x, y, probe)
    return probe.apply(df, [x, y, F.lit(0.0)], {out_col: zs})


def tridist(
    df: DataFrame,
    surface: "TriMesh | PlaneSurface",
    out_col: str = "tridist",
    xyz=("x", "y", "z"),
) -> DataFrame:
    """Vertical distance to the surface — the ``Raytracer`` ``tridist``
    mode (``pd_vtk.py:1178-1232``): ``abs(z - z_surf)``, NULL off-mesh."""
    tmp = "__z_surf_tmp"
    out = surface_elevation(df, surface, tmp, xy=xyz[:2])
    return out.withColumn(out_col, F.abs(F.col(xyz[2]) - F.col(tmp))).drop(tmp)


def grade_shells(
    df: DataFrame,
    var: str,
    cuts: list[float],
    shell_col: str = "shell",
    labels: list[str] | None = None,
) -> DataFrame:
    """Band ("grade shell") assignment — the tabular half of
    ``vtk_grid_to_mesh`` (``pd_vtk.py:1093-1111``), which thresholds the
    value range into bands (mesh extraction itself is viz, out of scope).

    ``cuts = [c0, c1, ..., cn]`` defines bands ``[c0,c1), [c1,c2), ...``
    with the LAST band closed ``[c(n-1), cn]``; values outside get NULL.
    Pure CASE chain — codegen, pushdown-friendly, SQL-expressible."""
    c = F.col(var)
    expr = F.lit(None).cast("string" if labels else "int")
    for b in range(len(cuts) - 1):
        lo, hi = float(cuts[b]), float(cuts[b + 1])
        inside = (
            (c >= lo) & (c <= hi)
            if b == len(cuts) - 2
            else (c >= lo) & (c < hi)
        )
        val = F.lit(labels[b]) if labels else F.lit(b)
        expr = F.when(inside, val).otherwise(expr)
    return df.withColumn(shell_col, expr)


def proportional_volume(
    df: DataFrame,
    solid: TriMesh,
    samples: int = 4,
    out_col: str = "vol_frac",
    xyz=("x", "y", "z"),
    dcols=("dx", "dy", "dz"),
) -> DataFrame:
    """Fraction of each cell's volume inside a bounding solid —
    ``match_volume`` (``_gui.py:420-444``, the ``-X -t solid`` scan
    option), where a block crossing the solid boundary contributes only
    its enclosed share.

    Supersampling estimate: each cell is split into ``samples³`` equal
    subcells and the fraction is the share of subcell CENTERS enclosed
    (parity ray-cast).  All subpoints are generated and tested inside
    one vectorized pandas-UDF batch — no explode, no shuffle, the block
    model streams through executors exactly once.  The mesh bbox
    pre-mask in the kernel rejects far cells at numpy speed, so cost
    concentrates on cells near the boundary."""
    s = int(samples)
    offs = (np.arange(s) + 0.5) / s - 0.5  # per-axis center offsets in cell units

    @F.pandas_udf("double")
    def frac_udf(
        xs: pd.Series, ys: pd.Series, zs: pd.Series,
        dxs: pd.Series, dys: pd.Series, dzs: pd.Series,
    ) -> pd.Series:
        n = len(xs)
        if n == 0:
            return pd.Series(np.empty(0, np.float64))
        px = xs.to_numpy(np.float64)
        py = ys.to_numpy(np.float64)
        pz = zs.to_numpy(np.float64)
        dx = dxs.to_numpy(np.float64)
        dy = dys.to_numpy(np.float64)
        dz = dzs.to_numpy(np.float64)
        ox, oy, oz = np.meshgrid(offs, offs, offs, indexing="ij")
        ox, oy, oz = ox.ravel(), oy.ravel(), oz.ravel()  # s^3 offsets
        qx = (px[:, None] + ox[None, :] * dx[:, None]).ravel()
        qy = (py[:, None] + oy[None, :] * dy[:, None]).ravel()
        qz = (pz[:, None] + oz[None, :] * dz[:, None]).ravel()
        inside = point_in_solid(qx, qy, qz, solid)
        return pd.Series(inside.reshape(n, -1).mean(axis=1))

    # semantically deterministic, but marked non-deterministic so the
    # optimizer won't substitute the call into downstream filters
    # (PushDownPredicate alias substitution would otherwise evaluate the
    # s^3-sample kernel TWICE — once in the filter, once in the project)
    frac_udf = frac_udf.asNondeterministic()
    cols = [F.col(c) for c in (*xyz, *dcols)]
    return df.withColumn(out_col, frac_udf(*cols))


def mine_fraction(
    df: DataFrame,
    include: list | None = None,
    exclude: list | None = None,
    mine_col: str = "mine",
    xyz=("x", "y", "z"),
    dz_col: str = "dz",
) -> DataFrame:
    """Mined-fraction depletion — ``GridMine`` (``vtk_mine.py:41-94``,
    orchestrated ``vtk_reserves.py:44-90``):

    - each *include* surface contributes the fraction of the cell below
      it; multiple includes union (element-wise max);
    - an empty include set means fully mined: fraction 1
      (``vtk_reserves.py:59-60`` ``gm.fill(1)``);
    - each *exclude* surface multiplies by ``1 - fraction`` with
      NULL/NaN treated as 1 (``vtk_mine.py:86-87``
      ``where(isnan(mine), 1, 1-mine)``);
    - closed-solid members contribute a binary in/out fraction
      (``vtk_mine`` docstring: blocks inside solids are mined).

    Surfaces may be :class:`PlaneSurface` (pure expressions) or
    :class:`TriMesh` (probe elevation; pass ``("solid", mesh)`` for the
    parity test of a closed solid).  Depleting by a surface needs the
    cell height column ``dz_col``; a grid without it fails analysis."""
    cols = [F.col(c) for c in xyz]
    probe = _Probe()
    mine = _mine(include, exclude, cols, F.col(dz_col), probe)
    return probe.apply(df, cols, {mine_col: mine})


def annotate_spatial(
    df: DataFrame,
    regions: list | None = None,
    include: list | None = None,
    exclude: list | None = None,
    region_col: str = "region",
    mine_col: str = "mine",
    xyz=("x", "y", "z"),
    dz_col: str = "dz",
    region_values: list[str] | None = None,
) -> DataFrame:
    """Region flags and mine depletion with every mesh in ONE probe call:
    the same expressions as :func:`flag_regions` and
    :func:`mine_fraction`, so the cells cross the Python boundary once
    instead of once per operator.  ``tests/test_plans.py`` pins the
    single-call plan."""
    cols = [F.col(c) for c in xyz]
    probe = _Probe()
    flag = _region_flag(regions or [], region_values, cols, probe)
    mine = _mine(include, exclude, cols, F.col(dz_col), probe)
    return probe.apply(df, cols, {region_col: flag, mine_col: mine})
