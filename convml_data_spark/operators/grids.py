"""Grid / raster relational kernels — SURVEY §2.10 G1, G4, G6, G7 and §2.3 J7.

The reference operates on dense xarray rasters (regridcart/xesmf,
convml_data/pipeline/regridding.py:98-112, sampling/domain.py:68-225). Here
rasters live as LONG pixel tables (scene_id, i, j, x, y, value) — the layout
that gives Catalyst predicate pushdown/partition pruning for free — and the
kernels are joins + aggregations, not per-scene array code.

Scale notes baked into each operator:
- bbox aggregates are 1-row results broadcast back (no driver round-trip
  in the plan, no shuffle of the big side);
- regrid index math is expression-only, so the target-cell assignment runs
  inside whole-stage codegen; the only shuffle is the per-cell argmin /
  weighted-sum aggregation, keyed by target cell (dense, unskewed keys);
- bilinear gathers its 4 corners by EXPLODING each target point into its
  corner keys and equi-joining — a shuffle hash join on (i, j), never a
  theta/range join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


# ---------------------------------------------------------------- G4: bbox crop

def spanning_bbox(
    points: DataFrame, x_col: str = "x", y_col: str = "y", pad: float = 0.0
) -> DataFrame:
    """G4: 1-row (x_min, x_max, y_min, y_max) spanning bbox, padded.

    Reference pads the tile-center bbox by 2·tile_size before cropping the
    scene raster so tile extraction reads less upstream data
    (pipeline/tiles.py:138-171) — manual partition pruning; with a pixel
    table the follow-up crop predicate prunes parquet row groups natively.
    """
    return points.agg(
        (F.min(x_col) - F.lit(pad)).alias("x_min"),
        (F.max(x_col) + F.lit(pad)).alias("x_max"),
        (F.min(y_col) - F.lit(pad)).alias("y_min"),
        (F.max(y_col) + F.lit(pad)).alias("y_max"),
    )


def crop_to_bbox(
    pixels: DataFrame, bbox: DataFrame, x_col: str = "x", y_col: str = "y"
) -> DataFrame:
    """Crop a pixel table to a 1-row bbox: broadcast nested-loop join of the
    single bbox row, then a range predicate the scan can push down."""
    return pixels.crossJoin(F.broadcast(bbox)).where(
        F.col(x_col).between(F.col("x_min"), F.col("x_max"))
        & F.col(y_col).between(F.col("y_min"), F.col("y_max"))
    ).drop("x_min", "x_max", "y_min", "y_max")


# ---------------------------------------------------------------- G6: domains

def unit_vector_center(
    points: DataFrame, lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """G6: spherical center of a lat/lon point cloud — mean of 3-D unit
    vectors, back through atan2 (sampling/domain.py:163-225). Pure
    aggregate expressions; one partial+final agg, no shuffle of raw points.
    Returns 1 row (lat_c, lon_c) in degrees.
    """
    lat = F.radians(F.col(lat_col))
    lon = F.radians(F.col(lon_col))
    agg = points.agg(
        F.avg(F.cos(lat) * F.cos(lon)).alias("mx"),
        F.avg(F.cos(lat) * F.sin(lon)).alias("my"),
        F.avg(F.sin(lat)).alias("mz"),
    )
    hyp = F.sqrt(F.col("mx") * F.col("mx") + F.col("my") * F.col("my"))
    return agg.select(
        F.degrees(F.atan2(F.col("mz"), hyp)).alias("lat_c"),
        F.degrees(F.atan2(F.col("my"), F.col("mx"))).alias("lon_c"),
    )


# ---------------------------------------------------------------- G7: projection

def local_tangent_xy(
    lat: Column, lon: Column, lat0: float, lon0: float, radius: float = EARTH_RADIUS_M
) -> tuple[Column, Column]:
    """G7: azimuthal-equidistant local-tangent-plane (x, y) in meters around
    (lat0, lon0) — the closed form of the reference's cartopy/regridcart CRS
    (sampling/__init__.py:10-65). Pure scalar expressions (no UDF)."""
    phi = F.radians(lat)
    lam = F.radians(lon)
    phi0 = F.lit(float(__import__("math").radians(lat0)))
    lam0 = F.lit(float(__import__("math").radians(lon0)))
    cos_c = F.sin(phi0) * F.sin(phi) + F.cos(phi0) * F.cos(phi) * F.cos(lam - lam0)
    c = F.acos(F.least(F.greatest(cos_c, F.lit(-1.0)), F.lit(1.0)))
    # k = c / sin(c), guarded at c→0 where the limit is 1
    k = F.when(c < F.lit(1e-12), F.lit(1.0)).otherwise(c / F.sin(c))
    x = F.lit(radius) * k * F.cos(phi) * F.sin(lam - lam0)
    y = F.lit(radius) * k * (
        F.cos(phi0) * F.sin(phi) - F.sin(phi0) * F.cos(phi) * F.cos(lam - lam0)
    )
    return x, y


# ---------------------------------------------------------------- G1: regrid

def nearest_regrid(
    points: DataFrame,
    x0: float,
    dx: float,
    nx: int,
    y0: float,
    dy: float,
    ny: int,
    x_col: str = "x",
    y_col: str = "y",
    value_col: str = "value",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """G1 (nearest_s2d analog): resample scattered points onto a regular
    target grid; each cell takes the value of the point nearest its center.

    Semantics (engine-defined, SURVEY §7): a point is a candidate for the
    cell its coordinates round into; per cell the argmin of squared distance
    to the cell center wins, ties broken by (x, y, value) so the result is
    partitioning-independent. Like the reference's nearest_s2d it assumes
    source density ≳ target resolution (each cell's nearest point rounds
    into it). One shuffle, keyed by dense (ix, iy).

    ``group_cols`` regrids each group onto its OWN copy of the target grid
    (the per-scene path of ``GenerateRegriddedScenes``, reference
    pipeline/regridding.py:37-137): the shuffle key becomes
    (group..., ix, iy) — still dense and unskewed, so a 100 TB multi-scene
    pixel table regrids every scene in parallel in the same single shuffle.
    """
    from pyspark.sql import Window

    group_cols = list(group_cols or [])
    ix = F.round((F.col(x_col) - F.lit(x0)) / F.lit(dx)).cast("int")
    iy = F.round((F.col(y_col) - F.lit(y0)) / F.lit(dy)).cast("int")
    cand = (
        points.withColumn("ix", ix)
        .withColumn("iy", iy)
        .where(F.col("ix").between(0, nx - 1) & F.col("iy").between(0, ny - 1))
    )
    cx = F.lit(x0) + F.col("ix") * F.lit(dx)
    cy = F.lit(y0) + F.col("iy") * F.lit(dy)
    # plain multiplies, not pow(x,2): IEEE multiply is bit-identical across
    # engines, pow need not be
    d2 = (F.col(x_col) - cx) * (F.col(x_col) - cx) + (F.col(y_col) - cy) * (F.col(y_col) - cy)
    w = Window.partitionBy(*group_cols, "ix", "iy").orderBy("_d2", x_col, y_col, value_col)
    return (
        cand.withColumn("_d2", d2)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*group_cols, "ix", "iy", cx.alias("cell_x"), cy.alias("cell_y"), F.col(value_col).alias("value"))
    )


def bilinear_regrid(
    grid: DataFrame,
    targets: DataFrame,
    sx0: float,
    sdx: float,
    sy0: float,
    sdy: float,
    i_col: str = "i",
    j_col: str = "j",
    value_col: str = "value",
    tx_col: str = "x",
    ty_col: str = "y",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """G1 (bilinear analog): interpolate a REGULAR source grid
    (i, j, value) at scattered target points — 4-corner weighted sum.

    Each target explodes into its 4 corner keys with weights
    ``(1-|fx|)(1-|fy|)``; a single equi-join on (i, j) gathers values; a
    groupBy per target sums w·v. Targets outside the grid hull are dropped
    (reference crops first). Two shuffles total, both on dense integer keys
    — no range join, no UDF.

    ``group_cols`` interpolates each group against its OWN grid (the
    per-scene path of ``GenerateRegriddedScenes`` — bilinear is the
    reference's DEFAULT for primary data, pipeline/regridding.py:98-112):
    the join key becomes (group..., i, j), still dense and unskewed, so
    every scene interpolates in parallel inside the same two shuffles.
    Both ``grid`` and ``targets`` must carry the group columns.
    """
    gcols = list(group_cols or [])
    fx = (F.col(tx_col) - F.lit(sx0)) / F.lit(sdx)
    fy = (F.col(ty_col) - F.lit(sy0)) / F.lit(sdy)
    i0 = F.floor(fx).cast("int")
    j0 = F.floor(fy).cast("int")
    rx = fx - i0
    ry = fy - j0
    corners = F.array(
        *[
            F.struct(
                (i0 + F.lit(di)).alias("ci"),
                (j0 + F.lit(dj)).alias("cj"),
                (
                    (F.lit(1.0) - F.abs(rx - F.lit(float(di))))
                    * (F.lit(1.0) - F.abs(ry - F.lit(float(dj))))
                ).alias("w"),
            )
            for di in (0, 1)
            for dj in (0, 1)
        ]
    )
    t = targets.withColumn("_corner", F.explode(corners)).select(
        "*", F.col("_corner.ci").alias("_ci"), F.col("_corner.cj").alias("_cj"), F.col("_corner.w").alias("_w")
    ).drop("_corner")
    g = grid.select(
        *gcols, F.col(i_col).alias("_ci"), F.col(j_col).alias("_cj"), F.col(value_col).alias("_v")
    )
    joined = t.join(g, gcols + ["_ci", "_cj"])
    tgt_cols = [c for c in targets.columns]
    return (
        joined.groupBy(*tgt_cols)
        .agg(F.sum(F.col("_w") * F.col("_v")).alias("value"), F.count("*").alias("_nc"))
        .where(F.col("_nc") == 4)  # all 4 corners inside the source grid
        .drop("_nc")
    )


# ---------------------------------------------------------------- J7: coords

def attach_grid_coords(
    tiles: DataFrame,
    x0: float,
    dx: float,
    y0: float,
    dy: float,
    ny: int,
    i_col: str = "i0",
    j_col: str = "j0",
) -> DataFrame:
    """J7: map (i0, j0) pixel indices to projected coords, with the
    reference's y-axis flip ``Ny - j0``
    (pipeline/embeddings/rect/sampling.py:74-109). Pure expressions."""
    return tiles.withColumn("x", F.lit(x0) + F.col(i_col) * F.lit(dx)).withColumn(
        "y", F.lit(y0) + (F.lit(ny) - F.col(j_col)) * F.lit(dy)
    )
