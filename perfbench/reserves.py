"""The two reserves workloads: ``reserves_mesh`` and ``reserves_box``.

Both run the paper's reserves report (deplete by surfaces, flag cells by
region solids, weighted breakdown) over the same cells and the same
seeded geometry, through the library's public calls only:

- ``reserves_mesh`` loads the spatial kernel: a virtual ``grid_df``,
  regions as ``TriMesh`` solids, surfaces as triangulated planes, and a
  light template;
- ``reserves_box`` loads the breakdown: the cells come from parquet
  through ``load_dataframe`` (which masks the -99 sentinel), regions are
  ``(name, bounds)`` boxes, surfaces are ``PlaneSurface`` (no Python
  UDF), and the template is heavy.

Every report is checked, outside the timed region, against a DuckDB
closed form over the same cells.
"""

from __future__ import annotations

import math
import os
import pickle
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import geometry as geo_mod
import spans
from harness import Run, median, setup_time

#: 200 x 200 x 10 cells of 10 m: 400,000 cells
DIMS = (200, 200, 10)

LIGHT = "lito;grade=grade_mean,mean,density,volume;grade=n,count;volume=volume_sum,sum"
HEAVY = (
    "lito;grade=g_q1,q1,density;grade=g_q2,q2,density;grade=g_q3,q3,density;"
    "grade=g_p90,p90;rock=rock_major,major;grade=n,count;"
    "grade=grade_mean,mean,density,volume;volume=volume_sum,sum"
)
ROCKS = ("basalt", "dolerite", "granite", "schist", "shale")
ROCK_P = (0.3, 0.25, 0.2, 0.15, 0.1)
#: share of box-workload grades written as the -99 null sentinel
SENTINEL_SHARE = 0.02
#: parquet part files of the box workload's block model
PARTS = 4
#: Relative tolerance of the float columns.  The mesh kernel nudges each
#: ray by ~1e-9 of the mesh extent to stay off triangle edges, which
#: moves a sampled elevation by about 1e-7 of a cell height; the box
#: path differs from the oracle only in summation order.
RTOL = {"reserves_mesh": 1e-6, "reserves_box": 1e-9}


def cell_attributes(seed: int) -> dict[str, str]:
    """Closed-form cell arrays of the virtual grid, as SQL over the cell
    indices ``i, j, k`` that Spark and DuckDB evaluate alike."""
    rng = np.random.default_rng([seed, 1])
    g = rng.integers(1, 997, 4)
    d = rng.integers(1, 11, 4)
    lo = int(rng.integers(0, 3))
    return {
        "grade": f"CAST((i*{g[0]} + j*{g[1]} + k*{g[2]} + {g[3]}) % 1000 AS DOUBLE) / 10.0",
        "density": f"2.0 + CAST((i*{d[0]} + j*{d[1]} + k*{d[2]} + {d[3]}) % 11 AS DOUBLE) / 10.0",
        "lito": f"CASE (i + 2*j + k + {lo}) % 3 WHEN 0 THEN 'ox' WHEN 1 THEN 'tr' ELSE 'fr' END",
    }


def write_box_cells(path: str, seed: int, dims) -> int:
    """The box workload's block model as a directory of parquet parts:
    cell centres and sizes, a continuous grade (about 2% of it the -99
    sentinel), a density, ``lito`` and ``rock`` categories.  Returns the
    bytes written."""
    nx, ny, nz = dims
    n = nx * ny * nz
    rng = np.random.default_rng([seed, 2])
    idx = np.arange(n)
    cols = {
        "x": (idx % nx + 0.5) * geo_mod.CELL,
        "y": ((idx // nx) % ny + 0.5) * geo_mod.CELL,
        "z": (idx // (nx * ny) + 0.5) * geo_mod.CELL,
        "dx": np.full(n, geo_mod.CELL),
        "dy": np.full(n, geo_mod.CELL),
        "dz": np.full(n, geo_mod.CELL),
    }
    grade = rng.gamma(2.0, 1.5, n)
    grade[rng.random(n) < SENTINEL_SHARE] = -99.0
    cols["grade"] = grade
    cols["density"] = rng.uniform(2.4, 3.2, n)
    cols["lito"] = pa.array(np.array(["ox", "tr", "fr"])[rng.integers(0, 3, n)])
    cols["rock"] = pa.array(np.array(ROCKS)[rng.choice(len(ROCKS), n, p=ROCK_P)])
    # four part files, as a block model exported in parts: Spark would
    # read one small file as two splits, leaving half of four cores idle
    table = pa.table(cols)
    os.makedirs(path, exist_ok=True)
    step = -(-n // PARTS)
    for p in range(PARTS):
        pq.write_table(table.slice(p * step, step),
                       os.path.join(path, f"part-{p}.parquet"))
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


@dataclass
class Inputs:
    """Everything one report receives, plus what the oracle needs."""

    kind: str
    geometry: geo_mod.Geometry
    regions: list
    include: list
    exclude: list
    template: str
    ingest: object  # () -> DataFrame
    ingest_layer: str
    cells_sql: str  # DuckDB SELECT of the same cells
    input_bytes: int = 0

    @property
    def n_cells(self) -> int:
        return self.geometry.n_cells

    def meshes(self) -> list:
        from vtk_reserves_spark.sources.mesh import TriMesh

        return [m for m in self.regions + self.include + self.exclude
                if isinstance(m, TriMesh)]


def make_inputs(spark, kind: str, seed: int, dims, data_dir: str) -> Inputs:
    """Generate one workload's inputs from ``seed``."""
    from pyspark.sql import functions as F

    from vtk_reserves_spark.operators.spatial import PlaneSurface
    from vtk_reserves_spark.sources.grid import GridSchema, grid_df
    from vtk_reserves_spark.sources.loaders import load_dataframe
    from vtk_reserves_spark.sources.mesh import TriMesh

    g = geo_mod.make_geometry(seed, dims)
    nx, ny, nz = dims
    if kind == "reserves_mesh":
        regions = [
            TriMesh(*geo_mod.box_mesh_arrays(b), name=name) if sub
            else TriMesh.box(b, name=name)
            for name, b, sub in g.regions
        ]
        include = [TriMesh(*geo_mod.plane_mesh_arrays(g.include, dims), name="include")]
        exclude = [TriMesh(*geo_mod.plane_mesh_arrays(g.exclude, dims), name="exclude")]
        attrs = cell_attributes(seed)
        schema = GridSchema((0.0, 0.0, 0.0), (geo_mod.CELL,) * 3, tuple(dims))

        def ingest():
            return grid_df(spark, schema).withColumns(
                {name: F.expr(sql) for name, sql in attrs.items()}
            )

        sel = ", ".join(f"{sql} AS {name}" for name, sql in attrs.items())
        c = _lit(geo_mod.CELL)
        cells_sql = f"""
            SELECT x, y, z, dz, volume, {sel} FROM (
              SELECT i, j, k, (i + {_lit(0.5)}) * {c} AS x,
                     (j + {_lit(0.5)}) * {c} AS y, (k + {_lit(0.5)}) * {c} AS z,
                     {c} AS dz, {c} * {c} * {c} AS volume
              FROM (SELECT CAST(range % {nx} AS INT) AS i,
                           CAST((range // {nx}) % {ny} AS INT) AS j,
                           CAST(range // {nx * ny} AS INT) AS k
                    FROM range({nx * ny * nz})))
        """
        return Inputs(kind, g, regions, include, exclude, LIGHT, ingest,
                      "sources.grid", cells_sql)

    path = os.path.join(data_dir, f"cells_{nx}x{ny}x{nz}.parquet")
    nbytes = write_box_cells(path, seed, dims)
    regions = [(name, b) for name, b, _ in g.regions]
    include = [PlaneSurface(g.include.a, g.include.b, g.include.c, name="include")]
    exclude = [PlaneSurface(g.exclude.a, g.exclude.b, g.exclude.c, name="exclude")]
    cells_sql = f"""
        SELECT x, y, z, dz, dx * dy * dz AS volume,
               CASE WHEN grade = -99 THEN NULL ELSE grade END AS grade,
               CASE WHEN density = -99 THEN NULL ELSE density END AS density,
               lito, rock
        FROM read_parquet('{path}/*.parquet')
    """
    return Inputs(kind, g, regions, include, exclude, HEAVY,
                  lambda: load_dataframe(spark, path), "sources.loaders",
                  cells_sql, nbytes)


def report_df(inp: Inputs):
    from vtk_reserves_spark.operators.reserves import reserves_report

    return reserves_report(
        inp.ingest(),
        inp.template,
        regions=inp.regions,
        mine_include=inp.include,
        mine_exclude=inp.exclude,
    )


# -- oracle -----------------------------------------------------------------

def _lit(v: float) -> str:
    """A DOUBLE literal (DuckDB reads ``0.5`` as a DECIMAL)."""
    return f"CAST({float(v)!r} AS DOUBLE)"


def oracle_sql(inp: Inputs) -> str:
    """The report as DuckDB SQL over the same cells: regions as BETWEEN
    chains (later regions win), depletion as the clipped plane fraction,
    aggregates as the breakdown defines them."""
    region = "CASE"
    for name, ((x0, y0, z0), (x1, y1, z1)), _ in reversed(inp.geometry.regions):
        region += (
            f" WHEN x BETWEEN {x0} AND {x1} AND y BETWEEN {y0} AND {y1}"
            f" AND z BETWEEN {z0} AND {z1} THEN '{name}'"
        )
    region += " ELSE '' END"

    def frac(p: geo_mod.Plane) -> str:
        zs = f"({_lit(p.a)} * x + {_lit(p.b)} * y + {_lit(p.c)})"
        return f"LEAST(GREATEST(({zs} - z + dz / {_lit(2)}) / dz, {_lit(0)}), {_lit(1)})"

    inc, exc = inp.geometry.include, inp.geometry.exclude
    head = f"""
        WITH c AS ({inp.cells_sql}),
        r AS (
          SELECT * FROM (
            SELECT *, {region} AS region,
                   {frac(inc)} * COALESCE(1.0 - {frac(exc)}, 1.0) AS mine
            FROM c)
          WHERE region <> ''
        )"""
    wmean = (
        "SUM(CASE WHEN grade IS NOT NULL THEN density * volume * mine END * grade)"
        " / NULLIF(SUM(CASE WHEN grade IS NOT NULL THEN density * volume * mine END), 0)"
    )
    common = f"""
        {wmean} AS grade_mean,
        COUNT(grade) AS n,
        COALESCE(SUM(volume * mine), 0.0) AS volume_sum"""
    if inp.template == LIGHT:
        return head + f"""
        SELECT region, lito, {common} FROM r GROUP BY region, lito"""
    # heavy: the weighted-ECDF quantile and the major pick follow the
    # breakdown_weighted_quantile and breakdown_major_list oracles
    qs = {"g_q1": 0.25, "g_q2": 0.5, "g_q3": 0.75}
    wq_aggs = ",\n".join(
        f"MIN(CASE WHEN cumw > {q}*(wtot-1) THEN v END) AS lo_{n},"
        f" MIN(CASE WHEN cumw > {q}*(wtot-1)+1 THEN v END) AS hi_{n},"
        f" MAX({q}*(wtot-1)) AS p_{n}"
        for n, q in qs.items()
    )
    wq_cols = ",\n".join(
        f"w.lo_{n} * (1 - (w.p_{n} - FLOOR(w.p_{n})))"
        f" + COALESCE(w.hi_{n}, w.mx) * (w.p_{n} - FLOOR(w.p_{n})) AS {n}"
        for n in qs
    )
    return head + f""",
        e AS (
          SELECT region, lito, grade AS v,
                 SUM(density) OVER (PARTITION BY region, lito ORDER BY grade
                                    ROWS UNBOUNDED PRECEDING) AS cumw,
                 SUM(density) OVER (PARTITION BY region, lito) AS wtot
          FROM r WHERE grade IS NOT NULL AND density IS NOT NULL
        ), w AS (
          SELECT region, lito, {wq_aggs}, MAX(v) AS mx
          FROM e GROUP BY region, lito
        ), cnt AS (
          SELECT region, lito, rock AS val, COUNT(*) AS c
          FROM r WHERE rock IS NOT NULL GROUP BY 1, 2, 3
        ), top AS (
          SELECT region, lito, val,
                 ROW_NUMBER() OVER (PARTITION BY region, lito
                                    ORDER BY c DESC, val ASC) AS rn
          FROM cnt
        ), a AS (
          SELECT region, lito, quantile_cont(grade, 0.9) AS g_p90, {common}
          FROM r GROUP BY region, lito
        )
        SELECT a.region, a.lito, {wq_cols}, a.g_p90, t.val AS rock_major,
               a.n, a.grade_mean, a.volume_sum
        FROM a JOIN w USING (region, lito)
        LEFT JOIN top t ON t.region = a.region AND t.lito = a.lito AND t.rn = 1"""


def _close(a, b, rtol: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=rtol, abs_tol=1e-9)
    return a == b


def compare(rows, expected: list[dict], rtol: float) -> str | None:
    """``None`` when the report rows match the oracle rows, else a short
    description of the first difference."""
    got = sorted((r.asDict() for r in rows), key=lambda d: (d["region"], d["lito"]))
    exp = sorted(expected, key=lambda d: (d["region"], d["lito"]))
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle has {len(exp)}"
    for g, e in zip(got, exp):
        if set(g) != set(e):
            return f"columns {sorted(g)} vs oracle {sorted(e)}"
        for col in e:
            if not _close(g[col], e[col], rtol):
                return f"{g['region']}/{g['lito']} {col}: {g[col]!r} vs oracle {e[col]!r}"
    return None


def run_oracle(inp: Inputs) -> list[dict]:
    con = duckdb.connect()
    try:
        cur = con.execute(oracle_sql(inp))
        names = [d[0] for d in cur.description]
        return [dict(zip(names, row)) for row in cur.fetchall()]
    finally:
        con.close()


# -- the workload -------------------------------------------------------------

def run(run: Run, kind: str, seconds: float, dims=DIMS) -> dict:
    """One benchmark run of ``kind``; returns the metrics."""
    t0 = time.perf_counter()
    spark = run.start_spark()
    session_s = time.perf_counter() - t0
    inp, gen_s = setup_time(lambda: make_inputs(spark, kind, run.seed, dims, run.data))
    # one full report first: the JIT needs the full-size hot loops
    t0 = time.perf_counter()
    report_df(inp).collect()
    warm_s = time.perf_counter() - t0
    run.record.update(session_s=session_s, input_s=gen_s, warmup_s=warm_s,
                      n_cells=inp.n_cells, region_cells=inp.geometry.region_cells(),
                      regions=[list(r) for r in inp.geometry.regions])
    setup_s = session_s + gen_s + warm_s

    if run.traced:
        (cycles, plain_s), results = _traced(run, inp, seconds)
    else:
        metrics, results = _timed(run, inp, seconds)
    expected = run_oracle(inp)
    for name, rows in results:
        diff = compare(rows, expected, RTOL[kind])
        if diff is not None:
            run.mismatch(name, diff)
    run.close()  # attributes the event log to the spans
    if run.traced:
        return _layer_metrics(run, inp, cycles, plain_s)
    metrics["setup_s"] = (setup_s, "s")
    return metrics


def _timed(run: Run, inp: Inputs, seconds: float):
    """Closed loop, one client: reports back to back until ``seconds``
    have passed (the report in flight finishes)."""
    times, results = [], []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        name = f"report{run.attempted}"
        t = time.perf_counter()
        rows = run.attempt(name, lambda: report_df(inp).collect())
        if rows is None:
            break  # the same inputs would fail the same way
        times.append(time.perf_counter() - t)
        results.append((name, rows))
    wall = time.perf_counter() - start
    if not times:  # nothing completed: time the failed attempt
        times = [wall]
    run.record["report_s"] = times
    return {
        "report_s_p50": (median(times), "s"),
        "cells_per_s": (inp.n_cells * len(times) / sum(times), "cells/s"),
        "queries_per_s": (len(results) / wall, "1/s"),
    }, results


def _traced(run: Run, inp: Inputs, seconds: float):
    """Traced reports until ``seconds`` have passed, between two
    untraced reference reports.  Each traced report runs as prefix
    actions (ingest, ``grid_depletion``, the full report), so
    consecutive prefixes give each layer's exec self time."""
    from vtk_reserves_spark.operators.reserves import grid_depletion, reserves_report
    from vtk_reserves_spark.plans.commalist import parse_commalist
    from vtk_reserves_spark.plans.template import (
        compile_template, vl_add_region, vl_add_weight,
    )

    spark, T = run.spark, run.tracer
    results, plain = [], []

    def reference(name):
        """An untraced report, for the tracing overhead."""
        t = time.perf_counter()
        rows = run.attempt(name, lambda: report_df(inp).collect())
        plain.append(time.perf_counter() - t)
        if rows is not None:
            results.append((name, rows))

    reference("reference_before")
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    prof_dir = os.path.join(run.out, "profile")
    spans.udf_seconds(spark, prof_dir)  # start from empty profiles

    cycles = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        op = f"report{run.attempted}"
        c = {"op": op}

        def one():
            with T.span(f"{op}.ingest.build", inp.ingest_layer, "build") as s:
                grid = inp.ingest()
            c["ingest_build"] = s
            columns = grid.columns + ["mine", "region"]
            with T.span(f"{op}.template", "plans.template", "build") as s:
                vl = vl_add_region(vl_add_weight(parse_commalist(inp.template), "mine"))
                compile_template(vl, columns)
            c["template"] = s
            c["ingest_plan"] = T.planned(grid, f"{op}.ingest.plan", inp.ingest_layer)
            with T.span(f"{op}.ingest.exec", inp.ingest_layer, "exec") as s:
                grid.write.format("noop").mode("overwrite").save()
            c["ingest_exec"] = s
            with T.span(f"{op}.spatial.build", "operators.spatial", "build") as s:
                depl = grid_depletion(grid, inp.regions, inp.include, inp.exclude)
            c["spatial_build"] = s
            c["spatial_plan"] = T.planned(depl, f"{op}.spatial.plan", "operators.spatial")
            with T.span(f"{op}.spatial.exec", "operators.spatial", "exec") as s:
                depl.write.format("noop").mode("overwrite").save()
            c["spatial_exec"] = s
            c["spatial_udf_s"] = spans.udf_seconds(spark, prof_dir)
            with T.span(f"{op}.reserves.build", "operators.reserves", "build") as s:
                rep = reserves_report(grid, inp.template, regions=inp.regions,
                                      mine_include=inp.include, mine_exclude=inp.exclude)
            c["report_build"] = s
            c["report_plan"] = T.planned(rep, f"{op}.report.plan", "operators.reserves")
            with T.span(f"{op}.report.exec", "operators.breakdown", "exec") as s:
                rows = rep.collect()
            c["report_exec"] = s
            c["report_udf_s"] = spans.udf_seconds(spark, prof_dir)
            c["report_plan"]["text"] = spans.plan_text(rep)  # final (adaptive) plan
            return rows

        rows = run.attempt(op, one)
        if rows is None:
            break
        results.append((op, rows))
        cycles.append(c)
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    # one reference on each side of the traced reports, so JIT warm-up
    # does not pass for tracing overhead
    reference("reference_after")
    run.record["plain_report_s"] = plain
    return (cycles, sum(plain) / len(plain)), results


def _layer_metrics(run: Run, inp: Inputs, cycles: list, plain_s: float) -> dict:
    """Per-layer numbers, median over the traced reports.  Runs after
    the event log has been attributed to the spans."""
    from pyspark import cloudpickle

    def med(f):
        return median([f(c) for c in cycles]) if cycles else 0.0

    def spark_sum(c, key):
        return sum(c[s][key] for s in ("report_build", "report_plan", "report_exec"))

    meshes = inp.meshes()
    # the traced counterpart of an untraced report: build the input and
    # the report, plan, run
    report_span = lambda c: sum(c[s]["dur"] for s in (
        "ingest_build", "report_build", "report_plan", "report_exec"))
    grid_layer = inp.ingest_layer == "sources.grid"
    ingest_b = med(lambda c: c["ingest_build"]["dur"])
    ingest_x = med(lambda c: c["ingest_exec"]["dur"])
    spatial_x = med(lambda c: c["spatial_exec"]["dur"] - c["ingest_exec"]["dur"])
    out = {
        "grid.build_s": (ingest_b if grid_layer else 0.0, "s"),
        "grid.exec_s": (ingest_x if grid_layer else 0.0, "s"),
        "loaders.build_s": (0.0 if grid_layer else ingest_b, "s"),
        "loaders.exec_s": (0.0 if grid_layer else ingest_x, "s"),
        "loaders.input_bytes": (0 if grid_layer else inp.input_bytes, "bytes"),
        "mesh.faces": (sum(len(m.faces) for m in meshes), "count"),
        "mesh.closure_bytes": (len(cloudpickle.dumps(meshes, protocol=pickle.HIGHEST_PROTOCOL)) if meshes else 0, "bytes"),
        "template.compile_s": (med(lambda c: c["template"]["dur"]), "s"),
        "reserves.build_s": (med(lambda c: c["report_build"]["dur"]), "s"),
        "spatial.exec_s": (spatial_x, "s"),
        "spatial.cells_per_s": (inp.n_cells / spatial_x if spatial_x > 0 else 0.0, "cells/s"),
        "spatial.python_nodes": (med(lambda c: c["report_plan"]["ArrowEvalPython"]), "count"),
        "spatial.python_rows": (med(lambda c: c["report_exec"]["python_rows"]), "rows"),
        "spatial.udf_s": (med(lambda c: c["report_udf_s"]), "s"),
        "breakdown.exec_s": (med(lambda c: c["report_exec"]["dur"] - c["spatial_exec"]["dur"]), "s"),
        "breakdown.exchanges": (med(lambda c: c["report_plan"]["Exchange"] - c["spatial_plan"]["Exchange"]), "count"),
        "breakdown.windows": (med(lambda c: c["report_plan"]["Window"] - c["spatial_plan"]["Window"]), "count"),
        "breakdown.shuffle_bytes": (med(lambda c: c["report_exec"]["shuffle_bytes"] - c["spatial_exec"]["shuffle_bytes"]), "bytes"),
        "catalyst.plan_s": (med(lambda c: c["report_plan"]["dur"]), "s"),
        "spark.jobs": (med(lambda c: spark_sum(c, "jobs")), "count"),
        "spark.tasks": (med(lambda c: spark_sum(c, "tasks")), "count"),
        "spark.task_s": (med(lambda c: spark_sum(c, "task_s")), "s"),
        "spark.gc_s": (med(lambda c: spark_sum(c, "gc_s")), "s"),
        "spark.shuffle_bytes": (med(lambda c: spark_sum(c, "shuffle_bytes")), "bytes"),
        "trace.overhead_frac": (med(report_span) / plain_s - 1.0, "ratio"),
    }
    for c in cycles:
        run.record.setdefault("plans", []).append({
            "op": c["op"],
            **{k: {n: c[k][n] for n in ("plan_sha", *spans.PLAN_NODES)}
               for k in ("ingest_plan", "spatial_plan", "report_plan")},
            "report_plan_text": c["report_plan"]["text"],
        })
    return out
