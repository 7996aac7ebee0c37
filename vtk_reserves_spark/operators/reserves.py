"""The flagship reserves pipeline — ``vtk_reserves``
(``vtk_reserves.py:44-134``) as one lazy DataFrame chain:

    grid -> ensure volume -> region flags -> drop unflagged rows
         -> mine fraction -> breakdown report

Catalyst is the planner the reference lacks: the whole pipeline is a
single logical plan (scan/generate -> projections -> one aggregation),
so column pruning and partial aggregation apply end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtk_reserves_spark.operators.breakdown import breakdown
from vtk_reserves_spark.operators.spatial import flag_regions, mine_fraction
from vtk_reserves_spark.plans.commalist import parse_commalist
from vtk_reserves_spark.plans.template import vl_add_region, vl_add_weight
from vtk_reserves_spark.sources.grid import GridSchema, grid_df


def grid_depletion(
    grid: DataFrame,
    regions: list | None = None,
    mine_include: list | None = None,
    mine_exclude: list | None = None,
    region_col: str = "region",
    mine_col: str = "mine",
) -> DataFrame:
    """Load + flag stage (``pd_grid_depletion``, ``vtk_reserves.py:44-90``):
    ensure a ``volume`` array, flag regions (later regions overwrite
    earlier), drop rows outside every region (``df.query("region !=
    ''")``, ``vtk_reserves.py:86-88``) and compute the mined fraction.

    ``regions`` entries may be :class:`TriMesh` solids, ``(name,
    bounds)`` boxes or a mix (see :func:`flag_regions`).  The drop sits
    between the two spatial steps because a mesh probe blocks filter
    pushdown: this way each region mesh is scanned once per cell and
    each surface mesh once per flagged cell."""
    if "volume" not in grid.columns:
        grid = grid.withColumn(
            "volume", F.col("dx") * F.col("dy") * F.col("dz")
        )  # cells_volume, pd_vtk.py:798-809
    if regions:
        grid = flag_regions(grid, regions, flag_var=region_col)
        grid = grid.filter(F.col(region_col) != "")
    return mine_fraction(
        grid, include=mine_include, exclude=mine_exclude, mine_col=mine_col
    )


def reserves_report(
    grid: "DataFrame | GridSchema",
    variables: str,
    regions: list | None = None,
    mine_include: list | None = None,
    mine_exclude: list | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """End-to-end reserves report (``vtk_reserves``,
    ``vtk_reserves.py:110-134``): every mean/sum is auto-weighted by the
    mined fraction (``vl_add_weight``, ``:92-98``) and the ``region`` key
    is prepended when regions are given (``vl_add_region``,
    ``:100-107``)."""
    if isinstance(grid, GridSchema):
        if spark is None:
            raise ValueError("pass spark= when grid is a GridSchema")
        grid = grid_df(spark, grid)
    vl = parse_commalist(variables)
    vl = vl_add_weight(vl, "mine")
    if regions:
        vl = vl_add_region(vl)
    flagged = grid_depletion(
        grid,
        regions=regions,
        mine_include=mine_include,
        mine_exclude=mine_exclude,
    )
    return breakdown(flagged, vl)


def grade_tonnage(
    df,
    grade_col: str,
    mass_col: str,
    cutoffs: list[float],
    mine_col: str | None = None,
):
    """Grade-tonnage curve: for each cutoff, the tonnage and mean grade
    of material at or above it — the standard resource-reporting curve
    the reference's breakdown tables feed into (README.md:60-72 reports
    one cutoff; this sweeps a list in one pass).

    Plan: each row fans out to the cutoffs it clears (bounded explode,
    ≤ len(cutoffs)) and ONE groupBy(cutoff) aggregates mass-weighted
    grade and total tonnes; optional ``mine_col`` scales mass by the
    mined fraction.  Narrow + one shuffle at any scale.

    EVERY requested cutoff appears in the output: one nothing clears
    reports ``tonnes 0, n_blocks 0`` with a NULL mean (silently
    dropping it would truncate the curve and misalign consumers that
    zip against the requested list)."""
    from pyspark.sql import functions as F

    g = F.col(grade_col).cast("double")
    m = F.col(mass_col).cast("double")
    if mine_col is not None:
        m = m * F.coalesce(F.col(mine_col).cast("double"), F.lit(0.0))
    # dedupe: a repeated cutoff (lists merged from two configs) would
    # explode every clearing row twice and report 2x tonnage for it
    cutoffs = sorted({float(c) for c in cutoffs})
    arr = F.array(*[F.lit(c) for c in cutoffs])
    rows = (
        df.where(g.isNotNull() & m.isNotNull())
        .select(g.alias("_g"), m.alias("_m"), F.explode(arr).alias("cutoff"))
        .where(F.col("_g") >= F.col("cutoff"))
    )
    agg = rows.groupBy("cutoff").agg(
        F.sum("_m").alias("tonnes"),
        (F.sum(F.col("_g") * F.col("_m")) / F.sum("_m")).alias("mean_grade"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    cuts = df.sparkSession.createDataFrame(
        [(c,) for c in cutoffs], "cutoff double"
    )
    return cuts.join(agg, "cutoff", "left").select(
        "cutoff",
        F.coalesce("tonnes", F.lit(0.0)).alias("tonnes"),
        "mean_grade",
        F.coalesce("n_blocks", F.lit(0)).cast("long").alias("n_blocks"),
    )
