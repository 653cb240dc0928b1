"""Sliding-window tile enumeration + pixel-range membership — SURVEY §2.5 W5,
§2.10 G2.

Reference semantics (convml_data/pipeline/rect/tiles.py:103-206, ``Tiler``):
enumerate all (i0, j0) tile origins over an nx×ny grid with stride ``step``
and tile span ``n_tile``; ``tile_id`` enumerates row-major. Tile extraction
(G2) is ``isel(x=slice(i0, imax), y=slice(j0, jmax))`` — here a range join
of the pixel table against the tile table.

Spark design: origins are generated executor-side with
``explode(sequence(...)) × explode(sequence(...))`` (a 1-row driver seed —
no collect); the G2 membership join is a range join. For the common
aligned case (step divides n_tile) the range join is rewritten as an
EQUI-join on the pixel's covering-tile ids (each pixel belongs to at most
``(n_tile/step)²`` tiles, a constant fan-out) — that keeps 100 TB pixel
tables on hash joins instead of an O(n·m) broadcast-nested-loop range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def sliding_tiles(
    spark: SparkSession, nx: int, ny: int, n_tile: int, step: int
) -> DataFrame:
    """W5: DataFrame(tile_id, i0, imax, j0, jmax), row-major enumeration.

    imax/jmax are exclusive ends (python slice convention, matching
    ``isel(slice(i0, imax))``).
    """
    n_i = (nx - n_tile) // step + 1
    seq_i = F.explode(F.expr(f"sequence(0, {nx - n_tile}, {step})")).alias("i0")
    seq_j = F.explode(F.expr(f"sequence(0, {ny - n_tile}, {step})")).alias("j0")
    tiles = (
        spark.range(1)
        .select(seq_j)
        .select("j0", seq_i)
        .select(
            (F.col("j0") / step * n_i + F.col("i0") / step).cast("int").alias("tile_id"),
            F.col("i0").cast("int"),
            (F.col("i0") + n_tile).cast("int").alias("imax"),
            F.col("j0").cast("int"),
            (F.col("j0") + n_tile).cast("int").alias("jmax"),
        )
    )
    return tiles


def trajectory_tile_locations(
    scenes: DataFrame,
    trajectory: DataFrame,
    resolution: float,
    tile_N: int,
    scene_time: str = "t_scene",
    traj_time: str = "t_traj",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """D7→D4 trajectory-tile placement: one tile per scene, centered on the
    trajectory position at the NEAREST trajectory time to the scene time.

    Reference (convml_data/pipeline/trajectory_tiles.py:46-74): per scene,
    ``find_nearest_time`` over the trajectory time axis (returning the
    index too), then a LocalCartesianSquareTileDomain at that point's
    (lat, lon) with ``size = resolution * tile_N``; serialized as tile
    meta ``(scene_id, time, time_idx, loc)``.

    Spark composition — F4 snap + A6-style global ranks, no driver loops:

    - ``time_idx`` is an exact global rank over the distinct trajectory
      times via :func:`binning.global_ranks_with_gap_stats`
      (bucket-decomposed — never a keyless ``row_number`` window), which
      also returns the time axis's gap statistics;
    - the nearest-time match is :func:`asof.asof_join` with no tolerance
      (ties → earlier trajectory time, the reference's argmin rule), which
      self-buckets off the trajectory's gap statistics, so a 100 TB scene
      table still matches in parallel.

    ``trajectory`` must be unique per ``traj_time`` (the reference's
    ``sel(time=...)`` assumes the same); exact duplicate rows are dropped.
    Output: scene columns + ``(t_traj, time_idx, central_latitude,
    central_longitude, size)``.
    """
    from convml_data_spark.functions.timeutils import epoch_micros
    from convml_data_spark.operators import asof
    from convml_data_spark.operators.binning import global_ranks_with_gap_stats

    traj = trajectory.select(traj_time, lat_col, lon_col).dropDuplicates()
    traj = traj.withColumn(
        "_tus", epoch_micros(traj_time, dict(traj.dtypes)[traj_time])
    ).persist()
    # persist the deduped trajectory BEFORE ranking: the combined pass
    # below runs two plan-time jobs (cut-point sketch + gap summary), and
    # the rank window and its offsets relation consume it again — without
    # this each re-executes the upstream distinct. Bounded by the flight
    # track, not the scene table. The gap stats let the as-of join below
    # run ZERO extra plan-time jobs (it used to spend two more inferring
    # its bucket radius from the same relation).
    ranked, stats = global_ranks_with_gap_stats(
        traj, "_tus", rank_col="time_idx"
    )
    ranked = ranked.select(
        traj_time,
        F.col("time_idx").cast("long").alias("time_idx"),
        F.col(lat_col).alias("central_latitude"),
        F.col(lon_col).alias("central_longitude"),
    )
    snapped = asof.asof_join(
        scenes, ranked, scene_time, traj_time, right_prefix="traj_",
        gap_stats=stats,
    )
    out_scene = [F.col(c) for c in scenes.columns]
    return snapped.select(
        *out_scene,
        F.col(f"traj_{traj_time}").alias(traj_time),
        F.col("traj_time_idx").alias("time_idx"),
        F.col("traj_central_latitude").alias("central_latitude"),
        F.col("traj_central_longitude").alias("central_longitude"),
        F.lit(float(resolution) * int(tile_N)).alias("size"),
    )


def tile_regrid_nearest(
    tiles: DataFrame,
    pixels: DataFrame,
    resolution: float,
    tile_N: int,
    src_x0: float,
    src_dx: float,
    src_y0: float,
    src_dy: float,
    scene_col: str = "scene_id",
    i_col: str = "i",
    j_col: str = "j",
    value_col: str = "value",
    xc_col: str = "x_c",
    yc_col: str = "y_c",
    broadcast_tiles: bool = True,
) -> DataFrame:
    """G3: per-tile nearest-neighbour regrid of a REGULAR per-scene source
    raster onto each tile's local tile_N×tile_N grid at ``resolution``.

    Reference (pipeline/tiles.py:252-265): each non-rect tile runs
    ``rc.resample(domain=tile_domain, da=da_src, dx=resolution,
    method="nearest_s2d")`` — an xesmf nearest regrid of the scene raster
    into the tile's own cartesian frame. Engine-defined tile frame: target
    pixel (p, q) sits at ``x_c − tile_size/2 + (p + 0.5)·resolution``
    (pixel-center convention), p, q ∈ [0, tile_N).

    Spark design: because the SOURCE grid is regular, nearest is the
    closed form ``si = round((x_t − src_x0)/src_dx)`` — no per-cell argmin
    search. Each tile explodes into its tile_N² target points (a bounded,
    constant fan-out — executor-side, no driver loop) and a single hash
    EQUI-join on (scene, si, sj) gathers the source values: at 100 TB this
    is one shuffle on dense integer keys, never a range join and never a
    per-tile task. For scattered (non-regular) sources compose
    :func:`tile_pixel_join` + the argmin in :func:`~.grids.nearest_regrid`
    instead.

    Output: tile columns + (p, q, si, sj, value); points whose nearest
    source index falls outside the raster are absent (inner join) — the
    per-tile shape check in ``pipeline.tile_data_summary`` turns that into
    the reference's "Regridder returned a tile with incorrect shape" raise
    (tiles.py:258-265).
    """
    half = float(resolution) * tile_N / 2.0
    pq = (
        tiles.withColumn("p", F.explode(F.expr(f"sequence(0, {tile_N - 1})")))
        .withColumn("q", F.explode(F.expr(f"sequence(0, {tile_N - 1})")))
    )
    xt = F.col(xc_col) - F.lit(half) + (F.col("p") + F.lit(0.5)) * F.lit(resolution)
    yt = F.col(yc_col) - F.lit(half) + (F.col("q") + F.lit(0.5)) * F.lit(resolution)
    si = F.round((xt - F.lit(src_x0)) / F.lit(src_dx)).cast("int")
    sj = F.round((yt - F.lit(src_y0)) / F.lit(src_dy)).cast("int")
    pq = pq.withColumn("si", si).withColumn("sj", sj)
    src = pixels.select(
        F.col(scene_col),
        F.col(i_col).alias("si"),
        F.col(j_col).alias("sj"),
        F.col(value_col).alias("value"),
    )
    # the exploded tile-point relation is bounded by n_tiles · tile_N² while
    # the pixel raster is the 100 TB side — broadcast the tile points so the
    # raster is scanned once with no shuffle (stats on the derived tile plan
    # are opaque to Catalyst, which otherwise picks a sort-merge join). Set
    # broadcast_tiles=False for datasets with tens of millions of tiles and
    # let the dense (scene, si, sj) hash shuffle handle it.
    if broadcast_tiles:
        pq = F.broadcast(pq)
    return pq.join(src, [scene_col, "si", "sj"])


def tile_pixel_join(pixels: DataFrame, tiles: DataFrame, x_col: str = "x", y_col: str = "y") -> DataFrame:
    """G2: pixels ⋈ tiles with ``i0 <= x < imax AND j0 <= y < jmax``.

    For an ARBITRARY (e.g. filtered) tile set: the tile table is
    broadcast so the range join is a nested loop over a small build side
    rather than a shuffle. When the tile set is the FULL sliding grid —
    the rect-slidingwindow spec paths, where tiles scale with the raster
    and a broadcast eventually hits the 8 GB cap — use
    :func:`tile_pixel_cover` instead: zero joins, constant fan-out.
    """
    return pixels.join(
        F.broadcast(tiles),
        (F.col(x_col) >= F.col("i0"))
        & (F.col(x_col) < F.col("imax"))
        & (F.col(y_col) >= F.col("j0"))
        & (F.col(y_col) < F.col("jmax")),
    )


def tile_pixel_cover(
    pixels: DataFrame,
    nx: int,
    ny: int,
    n_tile: int,
    step: int,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """G2 membership against the FULL :func:`sliding_tiles` grid as a
    CONSTANT-FAN-OUT explode — no join at all (the module docstring's
    covering-tile rewrite, now the spec paths' default).

    Every pixel x is covered by the tile origins ``k·step`` with
    ``k ∈ [ceil((x-n_tile+1)/step), floor(x/step)]`` clamped to the grid
    — at most ``ceil(n_tile/step)`` per axis, a plan-time constant — so
    the tile id, extent and membership are all closed-form expressions.
    Scale: where :func:`tile_pixel_join` broadcasts a tile list that
    grows with the raster under rect tiling (OOM at 100×), this emits
    ``(n_tile/step)²`` rows per pixel with zero shuffles and zero
    broadcast state. Row set and columns are IDENTICAL to
    ``tile_pixel_join(pixels, sliding_tiles(...))`` (property-tested).
    """
    n_i = (nx - n_tile) // step + 1
    n_j = (ny - n_tile) // step + 1

    def k_range(c, n_k):
        lo = F.greatest(
            F.ceil((c - F.lit(n_tile - 1)) / F.lit(float(step))).cast("int"),
            F.lit(0),
        )
        hi = F.least(
            F.floor(c / F.lit(float(step))).cast("int"), F.lit(n_k - 1)
        )
        # sequence(lo, hi) with lo > hi generates a DESCENDING sequence —
        # pixels in a coverage gap (step > n_tile) or past the last tile
        # must yield an EMPTY array (explode then drops the row)
        return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<int>")
        )

    ki = k_range(F.col(x_col), n_i)
    kj = k_range(F.col(y_col), n_j)
    out = pixels.withColumn("_ki", F.explode(ki)).withColumn("_kj", F.explode(kj))
    i0 = F.col("_ki") * step
    j0 = F.col("_kj") * step
    return out.select(
        *pixels.columns,
        (F.col("_kj") * n_i + F.col("_ki")).cast("int").alias("tile_id"),
        i0.cast("int").alias("i0"),
        (i0 + n_tile).cast("int").alias("imax"),
        j0.cast("int").alias("j0"),
        (j0 + n_tile).cast("int").alias("jmax"),
    )
