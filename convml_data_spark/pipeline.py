"""Dataset-spec front end + incremental materialization — the reference's
primary UX (SURVEY §3).

Reference semantics: a ``meta.yaml`` dict (source, products/inputs, time
range + filters, db format) is parsed by ``DataSource``
(convml_data/__init__.py:60-207) into a Luigi DAG whose first stage builds
the scene table (§3.1, pipeline/scene_sources.py:96-156). Incrementality is
target-existence: completed outputs are skipped (pipeline/utils.py:69-77).

Spark design: the spec compiles to ONE lazy DataFrame program —
per-input calendar scans → union → J1 pivot-join → F1/F2/F3 filters → E1
scene ids — which Catalyst optimizes whole. Materialization is job-level
(``materialize``: skip when the sink's _SUCCESS exists), exactly the
reference's semantics; it is deliberately NOT a Catalyst concern.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import (
    calendar_scan,
    datetime_component_filter,
    multi_input_scene_table,
    solar_zenith_filter,
    time_interval_filter,
)


def _parse_t(v) -> datetime:
    if isinstance(v, datetime):
        return v
    return datetime.fromisoformat(str(v))


@dataclass
class SceneSpec:
    """The meta.yaml-equivalent scene-table spec."""

    source: str
    inputs: list[str]
    t_start: datetime
    t_end: datetime
    step: str = "1 hour"
    time_bucket: str | None = None
    path_formats: dict[str, str] = field(default_factory=dict)
    offsets: dict[str, str] = field(default_factory=dict)  # per-input phase (S5)
    exclude_times: dict[str, list[datetime]] = field(default_factory=dict)
    time_intervals: list[tuple[datetime, datetime]] = field(default_factory=list)  # F1
    component_filters: dict[str, list[int]] = field(default_factory=dict)  # F2
    solar_zenith: dict | None = None  # F3: {"lon": deg, "dt_hours": h}
    # F5 at the SPEC level: scene_id regex, re.match semantics (anchored
    # at the start — reference pipeline/utils.py:42-49 _filter_scene_ids)
    scene_filter: str | None = None

    @classmethod
    def from_dict(cls, d: dict) -> "SceneSpec":
        # Accept BOTH dialects: this engine's flat keys AND the
        # reference's actual meta.yaml shape (tests/example/meta.yaml):
        # `time: {N_days, t_start, filters: {N_hours_from_zenith}}`,
        # `product` instead of an explicit input list, and the solar
        # filter longitude coming from `domain.central_longitude`.
        time_d = d.get("time") or {}
        t_start = d.get("t_start", time_d.get("t_start"))
        if t_start is None:
            raise ValueError("spec needs `t_start` (top-level or under `time`)")
        t_start = _parse_t(t_start)
        t_end = d.get("t_end", time_d.get("t_end"))
        if t_end is None and "N_days" in time_d:
            from datetime import timedelta

            t_end = t_start + timedelta(days=float(time_d["N_days"]))
        if t_end is None:
            raise ValueError("spec needs `t_end` or `time.N_days`")
        inputs = d.get("inputs")
        if inputs is None:
            inputs = [d["product"]] if "product" in d else ["scene"]
        sz = d.get("solar_zenith")
        filters = time_d.get("filters") or {}
        if sz is None and "N_hours_from_zenith" in filters:
            dom = d.get("domain") or {}
            sz = {
                "lon": float(dom.get("central_longitude", 0.0)),
                "dt_hours": float(filters["N_hours_from_zenith"]),
            }
        return cls(
            source=d["source"],
            inputs=list(inputs),
            t_start=t_start,
            t_end=_parse_t(t_end),
            step=d.get("step", "1 hour"),
            time_bucket=d.get("time_bucket"),
            path_formats=dict(d.get("path_formats", {})),
            offsets=dict(d.get("offsets", {})),
            exclude_times={
                k: [_parse_t(t) for t in v] for k, v in d.get("exclude_times", {}).items()
            },
            time_intervals=[
                (_parse_t(a), _parse_t(b)) for a, b in d.get("time_intervals", [])
            ],
            component_filters={
                k: list(v) for k, v in d.get("component_filters", {}).items()
            },
            solar_zenith=sz,
            scene_filter=d.get("scene_filter"),
        )

    @classmethod
    def from_yaml(cls, path: str) -> "SceneSpec":
        import yaml  # optional dep; dict front door needs nothing

        with open(path) as fh:
            return cls.from_dict(yaml.safe_load(fh))


@dataclass
class DatasetSpec:
    """The FULL meta.yaml-equivalent dataset spec: §3.1 scenes plus the
    §3.2/§3.3 sampling + tile lifecycle the reference drives from one file.

    Reference keys mirrored (convml_data/__init__.py:100-147):
    ``sampling.resolution`` (m/px, required for tile sampling),
    ``sampling.triplets.N_triplets`` (int → ``{"train": N}``),
    ``sampling.triplets.tile_N`` (default 256), and the domain extent the
    tiles are placed in. ``tiles_kind`` dispatches exactly like
    ``GenerateTiles`` (pipeline/tiles.py:440-496): ``triplets`` |
    ``trajectories`` | ``rect-slidingwindow``.
    """

    scene: SceneSpec
    resolution: float
    tiles_kind: str = "triplets"
    n_triplets: dict[str, int] = field(default_factory=lambda: {"train": 10})
    tile_N: int = 256
    neighbor_distance_scaling: float = 1.0
    seed: int = 42
    x_range: tuple[float, float] = (0.0, 0.0)
    y_range: tuple[float, float] = (0.0, 0.0)
    aux_products: dict = field(default_factory=dict)
    # scene-image product dispatch (reference scene_images.py:6-17 +
    # meta `image_function`): "default" = inverted min-max grayscale
    # (sources/images.py:96-124), a registered user-function name, or
    # None = no image product (reference raises if rendering is asked for)
    image_function: str | None = "default"

    @property
    def tile_size(self) -> float:
        """Tile edge in domain units: resolution · tile_N (reference
        trajectory_tiles.py:40-43 / triplets sampling)."""
        return float(self.resolution) * int(self.tile_N)

    @property
    def grid_shape(self) -> tuple[int, int]:
        """(nx, ny): the domain's pixel grid at ``resolution``. Rounded, not
        truncated: an extent like 1.4 at 0.1 divides to 13.999…, which
        must still be 14 pixels."""
        return (
            int(round((self.x_range[1] - self.x_range[0]) / self.resolution)),
            int(round((self.y_range[1] - self.y_range[0]) / self.resolution)),
        )

    @classmethod
    def from_dict(cls, d: dict) -> "DatasetSpec":
        scene = SceneSpec.from_dict(d)
        sampling = d.get("sampling", {}) or {}
        if "resolution" not in sampling:
            raise ValueError(
                "tile sampling requires `resolution` (m/px) under `sampling` "
                "(reference convml_data/__init__.py:103-107)"
            )
        trip = sampling.get("triplets") or {}
        n = trip.get("N_triplets", 10)
        if isinstance(n, int):
            n = {"train": n}  # reference default collection
        domain = d.get("domain", {}) or {}
        lz = float(domain.get("l_zonal", 0.0))
        lm = float(domain.get("l_meridional", 0.0))
        return cls(
            scene=scene,
            resolution=float(sampling["resolution"]),
            tiles_kind=d.get("tiles_kind", "triplets"),
            n_triplets={k: int(v) for k, v in n.items()},
            # `or {}` on every nested key: a present-but-empty YAML key
            # (`trajectories:`) loads as None, and None.get would raise;
            # `rect-slidingwindow` is the reference's dashed spelling
            # (tests/example/meta.yaml)
            tile_N=int(
                trip.get(
                    "tile_N",
                    (sampling.get("trajectories") or {}).get(
                        "tile_N",
                        (sampling.get("rect-slidingwindow") or {}).get("tile_N", 256),
                    ),
                )
            ),
            # the reference example spells it `neigh_dist_scaling`
            # (fraction of tile size the neighbor is offset)
            neighbor_distance_scaling=float(
                trip.get(
                    "neighbor_distance_scaling", trip.get("neigh_dist_scaling", 1.0)
                )
            ),
            seed=int(d.get("seed", 42)),
            x_range=(0.0, lz),
            y_range=(0.0, lm),
            aux_products=dict(d.get("aux_products") or {}),
            image_function=d.get("image_function", "default"),
        )

    @classmethod
    def from_yaml(cls, path: str) -> "DatasetSpec":
        import yaml

        with open(path) as fh:
            return cls.from_dict(yaml.safe_load(fh))

    def to_dict(self) -> dict:
        """Serialize back to the meta.yaml dialect ``from_dict`` accepts —
        the reference's specs are FILES (DataSource.save writes meta.yaml)
        and a round-trippable spec is what makes pipeline runs
        reproducible from the artifact alone."""
        d: dict = {
            "source": self.scene.source,
            "inputs": list(self.scene.inputs),
            "t_start": self.scene.t_start.isoformat(),
            "t_end": self.scene.t_end.isoformat(),
            "step": self.scene.step,
            "tiles_kind": self.tiles_kind,
            "seed": self.seed,
            "sampling": {
                "resolution": self.resolution,
                "triplets": {
                    "N_triplets": dict(self.n_triplets),
                    "tile_N": self.tile_N,
                    "neighbor_distance_scaling": self.neighbor_distance_scaling,
                },
            },
            "domain": {
                "l_zonal": self.x_range[1] - self.x_range[0],
                "l_meridional": self.y_range[1] - self.y_range[0],
            },
        }
        if self.scene.time_bucket:
            d["time_bucket"] = self.scene.time_bucket
        if self.scene.path_formats:
            d["path_formats"] = dict(self.scene.path_formats)
        if self.scene.offsets:
            d["offsets"] = dict(self.scene.offsets)
        if self.scene.exclude_times:
            d["exclude_times"] = {
                k: [t.isoformat() for t in v]
                for k, v in self.scene.exclude_times.items()
            }
        if self.scene.time_intervals:
            d["time_intervals"] = [
                [a.isoformat(), b.isoformat()] for a, b in self.scene.time_intervals
            ]
        if self.scene.component_filters:
            d["component_filters"] = {
                k: list(v) for k, v in self.scene.component_filters.items()
            }
        if self.scene.solar_zenith:
            d["solar_zenith"] = dict(self.scene.solar_zenith)
        if self.scene.scene_filter:
            d["scene_filter"] = self.scene.scene_filter
        if self.aux_products:
            d["aux_products"] = dict(self.aux_products)
        if self.image_function != "default":
            d["image_function"] = self.image_function
        return d

    def to_yaml(self, path: str) -> None:
        import yaml

        with open(path, "w") as fh:
            yaml.safe_dump(self.to_dict(), fh, sort_keys=False)


def build_triplet_dataset(
    spark: SparkSession,
    spec: DatasetSpec,
    trajectory: DataFrame | None = None,
    aux: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Compile the whole meta.yaml lifecycle into lazy DataFrame stages —
    the program ``tests/test_end_to_end.py`` used to wire by hand.

    Returns ``{"scenes", "splits", "triplets", "pairs", "locations",
    "tiles"}`` (+ ``"aux:<name>"`` per aux product). ``tiles`` is the
    per-scene tile table (the ``GenerateTiles``/``tiles_per_scene``
    analog): for ``triplets``, anchor+neighbor tiles land on the
    anchor scene and distant tiles on the distant scene
    (sampling/triplets.py pairing); for ``trajectories``, one tile per
    scene at the snapped trajectory point; for ``rect-slidingwindow``, the
    W5 origin grid crossed with every scene. ``splits`` is the R1 split
    (scene_id, collection, collection_index); ``pairs`` draws its scenes
    by that index, so the scene table is ranked once, by the split.

    Scale: every stage is the already-audited operator (global-rank split,
    broadcast pair lookup, expression-seeded placement, bucketed as-of) —
    composing them adds joins on (collection, index) and scene_id only,
    all broadcastable when the scene table is small relative to tiles.
    """
    from .operators import sampling as smp
    from .operators import tiler
    from .operators.asof import match_aux_to_scenes

    scenes = build_scene_table(spark, spec.scene)
    out: dict[str, DataFrame] = {"scenes": scenes}

    if spec.tiles_kind == "trajectories":
        if trajectory is None:
            raise ValueError("tiles_kind='trajectories' needs a trajectory DataFrame")
        out["tiles"] = tiler.trajectory_tile_locations(
            scenes.select("scene_id", "t"),
            trajectory,
            resolution=spec.resolution,
            tile_N=spec.tile_N,
            scene_time="t",
            traj_time="t_traj",
        )
    elif spec.tiles_kind == "rect-slidingwindow":
        nx, ny = spec.grid_shape
        grid = tiler.sliding_tiles(spark, nx, ny, spec.tile_N, spec.tile_N)
        # grid is TILE EXTENTS only (no scene dimension): (nx/tile_N)·
        # (ny/tile_N) rows — quadratically smaller than the raster (a
        # 100k² raster at tile_N=256 is ~150k rows), so the broadcast
        # replicating it under the scene cross join stays bounded; the
        # relations that DO scale with scenes×tiles (pixels, summaries)
        # never broadcast (tile_pixel_cover / the shuffle-hash gates)
        out["tiles"] = scenes.select("scene_id").crossJoin(F.broadcast(grid))
    elif spec.tiles_kind == "triplets":
        splits = smp.proportional_split(
            scenes.select("scene_id"), "scene_id", spec.n_triplets, seed=spec.seed
        )
        out["splits"] = splits
        # triplet ids allocate contiguously per collection, dict order —
        # same shape the reference builds from N_triplets counts
        total = sum(spec.n_triplets.values())
        assign = None
        acc = 0
        items = list(spec.n_triplets.items())
        for name, c in items[:-1]:
            acc += c
            cond = F.col("id") < F.lit(acc)
            assign = (
                F.when(cond, F.lit(name))
                if assign is None
                else assign.when(cond, F.lit(name))
            )
        last = items[-1][0]
        assign = F.lit(last) if assign is None else assign.otherwise(F.lit(last))
        triplets = spark.range(total).select(
            F.col("id").alias("triplet_id"), assign.alias("collection")
        )
        out["triplets"] = triplets
        pairs = smp.pick_scene_pairs(triplets, splits, seed=spec.seed)
        out["pairs"] = pairs
        locs = smp.triplet_tile_locations(
            triplets.select("triplet_id"),
            x_range=spec.x_range,
            y_range=spec.y_range,
            tile_size=spec.tile_size,
            neighbor_distance_scaling=spec.neighbor_distance_scaling,
            seed=spec.seed,
        )
        out["locations"] = locs
        # tiles_per_scene: anchor/neighbor sample the anchor scene,
        # distant samples the distant scene (sampling/triplets.py)
        scene_for = F.when(
            F.col("tile_type").isin("anchor", "neighbor"), F.col("anchor_scene")
        ).otherwise(F.col("distant_scene"))
        out["tiles"] = (
            locs.join(F.broadcast(pairs), "triplet_id")
            .select(
                "triplet_id",
                "collection",
                "tile_type",
                scene_for.alias("scene_id"),
                "x_c",
                "y_c",
                F.lit(spec.tile_size).alias("tile_size"),
            )
        )
    else:
        raise NotImplementedError(spec.tiles_kind)

    for name, adf in (aux or {}).items():
        out[f"aux:{name}"] = attach_aux_product(spark, spec, scenes, name, adf)
    return out


EXTRA_PRODUCT_SEPARATOR = "___"
EXTRA_PRODUCT_SENTINEL = f"{EXTRA_PRODUCT_SEPARATOR}extra{EXTRA_PRODUCT_SEPARATOR}"


def parse_aux_product(aux_name: str, aux_products: dict) -> tuple[str, str, dict]:
    """Resolve an aux name to (source_name, product_name, meta) — the
    reference's ``AuxTaskMixin`` dispatch (pipeline/aux_sources.py:16-44):
    sentinel-prefixed names ``___extra___<source>___<product>`` carry
    their identity inline (THREE underscores because product names may
    themselves contain two), everything else must be declared under
    ``aux_products`` in meta.yaml; undeclared names raise with the
    reference's error text shape. ``scene_mapping_strategy`` defaults to
    ``single_scene_per_aux_time`` (aux_sources.py:82-84)."""
    if aux_name.startswith(EXTRA_PRODUCT_SENTINEL):
        *_, source_name, product_name = aux_name.split(EXTRA_PRODUCT_SEPARATOR)
        meta: dict = {}
    else:
        if aux_name not in aux_products:
            raise ValueError(
                f"Please define `{aux_name}` in the `aux_products` group in meta.yaml"
            )
        meta = dict(aux_products[aux_name])
        source_name = meta["source"]
        product_name = meta["product"]
    meta.setdefault("scene_mapping_strategy", "single_scene_per_aux_time")
    return source_name, product_name, meta


def apply_derived_product(adf: DataFrame, source_name: str, product: str, meta: dict) -> DataFrame:
    """When an era5-sourced aux product names a DERIVED variable, compile
    its §2.11 expression DAG onto the aux table before scene matching
    (the reference resolves such products through ``DERIVED_VARIABLES``
    recursively, sources/__init__.py:136-157,401-415). Base products pass
    through unchanged. Registry geometry (column keys / level column /
    level count) comes from the product's meta.yaml entry."""
    if source_name != "era5":
        return adf
    from .plans.derived import era5_like_registry

    reg = era5_like_registry(
        column_keys=tuple(meta.get("column_keys", ("t_aux",))),
        level_col=meta.get("level_col", "level"),
        n_levels=int(meta.get("n_levels", 40)),
    )
    if product not in reg:
        return adf
    return reg.compile(adf, [product])


def attach_aux_product(
    spark: SparkSession,
    spec: DatasetSpec,
    scenes: DataFrame,
    name: str,
    adf: DataFrame,
    aux_time: str = "t_aux",
) -> DataFrame:
    """One aux product through the spec path: optional derived-DAG
    compilation (``aux_products`` declaration) → scene↔aux time matching
    on the DISTINCT aux time axis → re-join of the full aux relation on
    its time key.

    Matching on distinct times keeps the as-of join's right side unique
    per time even when the aux field is a multi-row-per-time profile
    (e.g. 40 model levels) — the profile rows come back via one hash
    equi-join on the time key, which is how a 100 TB aux field should
    flow (the as-of machinery only ever sees the tiny time axis)."""
    from .operators.asof import match_aux_to_scenes

    strategy = "all_scenes_within_dt_aux"
    dt_aux = None
    if name.startswith(EXTRA_PRODUCT_SENTINEL) or spec.aux_products:
        # a spec that DECLARES aux_products has opted into the reference's
        # dispatch — an undeclared, non-sentinel name is then a typo and
        # must fail fast (parse_aux_product raises), not silently take the
        # legacy pass-through. Specs with NO declarations keep the legacy
        # behavior: raw aux DataFrames matched all-scenes-within-dt.
        source_name, product, meta = parse_aux_product(name, spec.aux_products)
        adf = apply_derived_product(adf, source_name, product, meta)
        strategy = meta["scene_mapping_strategy"]
        dt_aux = meta.get("dt_aux_seconds")
    times = adf.select(aux_time).distinct()
    matched = match_aux_to_scenes(
        scenes.select("scene_id", F.col("t")),
        times,
        strategy=strategy,
        dt_aux_seconds=dt_aux,
    )
    if strategy == "all_scenes_within_dt_aux":
        # matched: scene cols + aux_<time>; bring the full aux relation back
        return matched.join(
            adf.withColumnRenamed(aux_time, f"aux_{aux_time}"), f"aux_{aux_time}"
        )
    # single_scene_per_aux_time: matched is keyed by the aux time itself
    return matched.join(adf, aux_time)


def synthetic_scene_raster(
    scenes: DataFrame,
    nx: int,
    ny: int,
    dx: float = 1.0,
    dy: float = 1.0,
    x0: float = 0.0,
    y0: float = 0.0,
    time_col: str = "t",
    coeffs: tuple[int, int, int, int] = (13, 37, 17, 101),
) -> DataFrame:
    """Deterministic per-scene test raster: pixel (i, j) of the scene at
    epoch-hour h carries ``value = (h·a + i·b + j·c) mod m`` (default
    ``(h·13 + i·37 + j·17) mod 101``) — pure integer arithmetic, so any
    engine (or the DuckDB oracle) regenerates it bit-identically. Stands
    in for the reference's satellite scene file (``SceneSourceFiles``)
    wherever the spec pipeline needs pixel DATA; different ``coeffs``
    yield independent fields (e.g. an aux product) on the same grid.

    Executor-side fan-out (explode × explode off the scene table — no
    driver loop, no collect); columns
    (scene_id, t, i, j, x, y, value:double).
    """
    a, b, c, m = (int(v) for v in coeffs)
    h = F.floor(F.unix_micros(F.col(time_col)) / F.lit(3_600_000_000)).cast("long")
    return (
        scenes.select("scene_id", time_col, h.alias("_h"))
        .withColumn("i", F.explode(F.expr(f"sequence(0, {nx - 1})")))
        .withColumn("j", F.explode(F.expr(f"sequence(0, {ny - 1})")))
        .select(
            "scene_id",
            time_col,
            "i",
            "j",
            (F.lit(x0) + F.col("i") * F.lit(dx)).alias("x"),
            (F.lit(y0) + F.col("j") * F.lit(dy)).alias("y"),
            ((F.col("_h") * a + F.col("i") * b + F.col("j") * c) % m)
            .cast("double")
            .alias("value"),
        )
    )


def build_regridded_scenes(
    spark: SparkSession,
    spec: DatasetSpec,
    pixels: DataFrame | None = None,
    src_dx: float | None = None,
    src_nx: int | None = None,
    method: str = "nearest",
) -> DataFrame:
    """``GenerateRegriddedScenes`` analog (reference
    pipeline/regridding.py:37-137): every scene's source raster resampled
    onto the spec domain's regular grid at ``sampling.resolution`` — the
    per-scene G1 regrid, driven by the meta.yaml spec.

    ``method``: ``"nearest"`` (argmin per cell) or ``"bilinear"``
    (4-corner weighted sum — the reference's DEFAULT for primary data,
    pipeline/regridding.py:98-112; aux products default to nearest).
    Bilinear drops target cells whose 4-corner stencil leaves the source
    hull (the reference crops to the domain first); nearest keeps every
    cell some source point rounds into.

    ``pixels`` defaults to the synthetic scene raster (``src_nx`` points at
    ``src_dx`` spacing); pass a real (scene_id, x, y, value) table to
    regrid actual data (bilinear additionally needs ``src_dx`` to index
    the regular source). Both paths shuffle keyed by the dense
    (scene_id, ix/i, iy/j) — every scene regrids in parallel inside the
    same exchange, the relational twin of the reference's per-scene Luigi
    task fan-out.
    """
    from .operators.grids import bilinear_regrid, nearest_regrid

    nx, ny = spec.grid_shape
    scenes = build_scene_table(spark, spec.scene)
    if pixels is None:
        if src_dx is None or src_nx is None:
            raise ValueError("synthetic raster needs src_dx and src_nx")
        pixels = synthetic_scene_raster(
            scenes, nx=src_nx, ny=src_nx, dx=src_dx, dy=src_dx,
            x0=spec.x_range[0], y0=spec.y_range[0],
        )
    if method == "nearest":
        return nearest_regrid(
            pixels,
            x0=spec.x_range[0], dx=spec.resolution, nx=nx,
            y0=spec.y_range[0], dy=spec.resolution, ny=ny,
            group_cols=["scene_id"],
        )
    if method != "bilinear":
        raise ValueError(f"unknown regrid method {method!r} (nearest|bilinear)")
    if src_dx is None:
        raise ValueError("bilinear regrid needs src_dx (regular source spacing)")
    # index the regular source: x = x0 + i·src_dx exactly, so the round
    # recovers the integer index bit-exactly
    x0, y0 = spec.x_range[0], spec.y_range[0]
    grid = pixels.select(
        "scene_id",
        F.round((F.col("x") - F.lit(x0)) / F.lit(src_dx)).cast("int").alias("i"),
        F.round((F.col("y") - F.lit(y0)) / F.lit(src_dx)).cast("int").alias("j"),
        "value",
    )
    # target cells fan out executor-side off the scene table (explode ×
    # explode — no driver loop), same pattern as synthetic_scene_raster
    targets = (
        scenes.select("scene_id")
        .withColumn("ix", F.explode(F.expr(f"sequence(0, {nx - 1})")))
        .withColumn("iy", F.explode(F.expr(f"sequence(0, {ny - 1})")))
        .select(
            "scene_id",
            "ix",
            "iy",
            (F.lit(x0) + F.col("ix") * F.lit(spec.resolution)).alias("x"),
            (F.lit(y0) + F.col("iy") * F.lit(spec.resolution)).alias("y"),
        )
    )
    out = bilinear_regrid(
        grid, targets, sx0=x0, sdx=src_dx, sy0=y0, sdy=src_dx,
        group_cols=["scene_id"],
    )
    return out.select(
        "scene_id", "ix", "iy",
        F.col("x").alias("cell_x"), F.col("y").alias("cell_y"), "value",
    )


def build_scene_images(
    spark: SparkSession,
    spec: DatasetSpec,
    pixels: DataFrame | None = None,
    src_dx: float | None = None,
    src_nx: int | None = None,
    method: str = "nearest",
    registry=None,
) -> dict[str, DataFrame]:
    """Per-scene IMAGE product through the spec — the reference's
    quick-look scene PNGs (``SceneImageMixin``, pipeline/scene_images.py:
    1-60, dispatching the meta.yaml ``image_function`` key; rendered by
    sources/images.py:96-141): regridded scene raster → per-pixel uint8
    via the spec's image function → row-major grayscale payload packed
    ENTIRELY JVM-side (hex-pack/unhex, same path as ``tile_images``) →
    grayscale PNG bytes Arrow-batched.

    Dispatch (scene_images.py:6-17):

    * ``"default"`` — inverted min-max grayscale per scene
      (``1 - (v-min)/(max-min)``, ×255 TRUNCATED like numpy's
      ``astype(uint8)`` — images.py:104-107). Per-scene bounds come from
      a groupBy aggregate broadcast-joined back (one row per scene), not
      a per-scene window — no scene's raster funnels through a sort.
    * any other name — looked up in ``registry`` (the user_functions.py
      analog, :class:`~.functions.userfuncs.UserFunctionRegistry`); the
      function's output must lie in [0, 1] — the reference RAISES outside
      that range (images.py:97-109), mirrored here by an in-plan guard.
    * ``None`` — raises; the spec declares no image product
      (scene_images.py:20-23).

    Returns ``{"bytes", "images"}``: ``bytes`` is the oracle-able uint8
    path (scene_id, ix, iy, byte) over the COVERED cells; ``images``
    always packs the full nx×ny raster for EVERY scene in the spec's
    scene table (or the caller's pixel input) — cells the regrid left
    empty (source not covering the domain; bilinear edge stencils) are
    completed as byte 0, the same black the NaN policy uses, and a scene
    whose regrid covers zero cells emits a whole-black image rather than
    silently vanishing — so the payload length always matches the
    declared PNG dims (the encoder rejects a short payload).
    Tests decode every PNG and compare its pixels with the byte path.
    """
    if spec.image_function is None:
        raise ValueError(
            "image_function is null — the spec declares no scene-image "
            "product (reference scene_images.py:20-23)"
        )
    reg = build_regridded_scenes(
        spark, spec, pixels=pixels, src_dx=src_dx, src_nx=src_nx, method=method
    )
    if spec.image_function == "default":
        bounds = reg.groupBy("scene_id").agg(
            F.min("value").alias("_mn"), F.max("value").alias("_mx")
        )
        px = reg.join(F.broadcast(bounds), "scene_id")
        # flat scene (max == min): the reference divides by zero (NaN
        # pixels); define it as 0 (black) instead of letting NaN pick a
        # byte by float-ordering accident
        scaled = F.when(F.col("_mx") == F.col("_mn"), F.lit(0.0)).otherwise(
            F.lit(1.0) - (F.col("value") - F.col("_mn")) / (F.col("_mx") - F.col("_mn"))
        )
    else:
        if registry is None or spec.image_function not in registry:
            raise ValueError(
                f"image_function {spec.image_function!r} is not registered "
                "(pass a UserFunctionRegistry defining it — reference "
                "user_functions.py:5-41 raises NotImplementedError here)"
            )
        px = registry.apply(reg, spec.image_function, out_col="_img01")
        img = F.col("_img01")
        scaled = F.when(
            img.isNull() | ((img >= 0.0) & (img <= 1.0)), F.coalesce(img, F.lit(0.0))
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"image_function {spec.image_function}: value outside "
                    "[0,1] (reference images.py:97-109)"
                )
            )
        )
    # ×255 with TRUNCATION (numpy astype), not rounding; scaled==1.0
    # lands exactly on 255
    byte = F.least(F.floor(scaled * F.lit(255.0)).cast("int"), F.lit(255))
    bytes_df = px.select("scene_id", "ix", "iy", byte.alias("byte"))
    nx, ny = spec.grid_shape
    # complete the raster before packing: cells the regrid never emitted
    # (source hull short of the domain, bilinear edge stencils) become
    # byte 0, so every payload is exactly nx·ny bytes. The scene universe
    # comes from the SCENE table (or the caller's pixel input), never from
    # bytes_df — a scene whose regrid covers zero cells still gets its
    # all-black image (the docstring's full-raster contract), and the
    # completion grid doesn't rescan the per-pixel byte relation
    if pixels is None:
        scene_ids = build_scene_table(spark, spec.scene).select("scene_id")
    else:
        scene_ids = pixels.select("scene_id").distinct()
    grid = (
        scene_ids
        .withColumn("ix", F.explode(F.expr(f"sequence(0, {nx - 1})")))
        .withColumn("iy", F.explode(F.expr(f"sequence(0, {ny - 1})")))
    )
    full = grid.join(bytes_df, ["scene_id", "ix", "iy"], "left").select(
        "scene_id", "ix", "iy", F.coalesce("byte", F.lit(0)).alias("_byte")
    )
    images = _pack_gray8(
        full, ["scene_id"], width=nx, height=ny, p_col="ix", q_col="iy"
    )
    return {"bytes": bytes_df, "images": images}


def tile_data_summary(
    tile_px: DataFrame, tile_N: int, key_cols: list[str]
) -> DataFrame:
    """Per-tile reduction over tile pixel rows + the reference's tile shape
    check (pipeline/tiles.py:258-265: raise when the regridded tile isn't
    tile_N×tile_N). Relational form: ``shape_ok = n_px == tile_N²`` per
    tile — a downstream ``where(~shape_ok)`` is the raise; sums are exact
    (integer-valued doubles), mean is n_px-divided at round(6).
    """
    n = F.count("*")
    return tile_px.groupBy(*key_cols).agg(
        n.alias("n_px"),
        (n == F.lit(int(tile_N) * int(tile_N))).alias("shape_ok"),
        F.sum("value").alias("sum_val"),
        F.min("value").alias("min_val"),
        F.max("value").alias("max_val"),
        F.round(F.sum("value") / n, 6).alias("mean_val"),
    )


def build_tile_data(
    spark: SparkSession,
    spec: DatasetSpec,
    trajectory: DataFrame | None = None,
    src_dx: float | None = None,
    src_nx: int | None = None,
    pixels: DataFrame | None = None,
    domain_center: tuple[float, float] | None = None,
) -> dict[str, DataFrame]:
    """``GenerateTiles`` with DATA (reference ``SceneTilesData.run``,
    pipeline/tiles.py:232-297): the §3.1+§3.2 lifecycle of
    :func:`build_triplet_dataset` extended with the tiles→pixels stage —
    per-tile rasters cut from each scene's source data.

    * ``triplets`` / ``trajectories``: G3 nearest regrid of the scene
      raster into each tile's local frame
      (:func:`~.operators.tiler.tile_regrid_nearest` — closed-form
      nearest on the regular source, one dense-key equi-join shuffle);
    * ``rect-slidingwindow``: the G2 index slice
      (``isel(x=slice(i0, imax), y=slice(j0, jmax))``) via the
      covering-tile explode :func:`~.operators.tiler.tile_pixel_cover`
      (zero joins — the full sliding grid scales with the raster, so it
      is never broadcast).

    Returns the :func:`build_triplet_dataset` dict plus ``tile_pixels``
    (per-tile pixel rows) and ``tile_data`` (per-tile reduction +
    shape_ok). Everything stays ONE lazy plan; Catalyst prunes the raster
    scan to the joined columns.
    """
    from .operators import tiler

    out = build_triplet_dataset(spark, spec, trajectory=trajectory)
    scenes = out["scenes"]
    src_ny = src_nx
    if spec.tiles_kind == "rect-slidingwindow" and src_dx is None:
        # rect slices in INDEX space: the raster IS the domain pixel
        # grid — sized per AXIS (a non-square domain has nx != ny)
        src_dx = spec.resolution
        src_nx, src_ny = spec.grid_shape
    if pixels is None:
        if src_dx is None or src_nx is None:
            raise ValueError("synthetic raster needs src_dx and src_nx")
        pixels = synthetic_scene_raster(
            scenes, nx=src_nx, ny=src_ny, dx=src_dx, dy=src_dx,
            x0=spec.x_range[0], y0=spec.y_range[0],
        )
    tiles = out["tiles"]
    if spec.tiles_kind == "rect-slidingwindow":
        # the rect tile set is the FULL sliding grid, which scales with
        # the raster — the covering-tile explode (zero joins, constant
        # fan-out) replaces the broadcast range join that would OOM the
        # driver at 100× (both take the grid from spec.grid_shape)
        tile_px = tiler.tile_pixel_cover(
            pixels.select("scene_id", "i", "j", "value"),
            *spec.grid_shape, n_tile=spec.tile_N, step=spec.tile_N,
            x_col="i",
            y_col="j",
        )
        key_cols = ["scene_id", "tile_id"]
    else:
        key_cols = (
            ["triplet_id", "collection", "tile_type", "scene_id"]
            if spec.tiles_kind == "triplets"
            else ["scene_id"]
        )
        if "x_c" not in tiles.columns:
            # trajectory tiles carry (central_latitude, central_longitude);
            # the G3 regrid needs PLANAR centers — project them onto the
            # local tangent plane around the domain center (G7, the same
            # projection the reference's LocalCartesianSquareTileDomain
            # implies), offset so the domain origin is x_range[0]
            if domain_center is None:
                raise NotImplementedError(
                    "trajectory tile data needs a (lat0, lon0) domain_center "
                    "to project (central_latitude, central_longitude) onto "
                    "the plane — or pass tiles with planar (x_c, y_c)"
                )
            from .operators import grids

            lat0, lon0 = domain_center
            px_x, px_y = grids.local_tangent_xy(
                F.col("central_latitude"), F.col("central_longitude"),
                lat0, lon0,
            )
            cx = (spec.x_range[0] + spec.x_range[1]) / 2.0
            cy = (spec.y_range[0] + spec.y_range[1]) / 2.0
            tiles = tiles.withColumn("x_c", px_x + F.lit(cx)).withColumn(
                "y_c", px_y + F.lit(cy)
            )
        tile_px = tiler.tile_regrid_nearest(
            tiles,
            pixels,
            resolution=spec.resolution,
            tile_N=spec.tile_N,
            src_x0=spec.x_range[0],
            src_dx=src_dx,
            src_y0=spec.y_range[0],
            src_dy=src_dx,
        )
    out["tile_pixels"] = tile_px
    # the IMAGE half of the reference's tile product (data + png + meta),
    # lazily available alongside the reduction; rect slices order by the
    # global (i, j) pixel indices, regridded tiles by their local (p, q)
    rect = spec.tiles_kind == "rect-slidingwindow"
    out["tile_images"] = tile_images(
        tile_px,
        spec.tile_N,
        key_cols,
        p_col="i" if rect else "p",
        q_col="j" if rect else "q",
    )
    # LEFT join the per-tile summary back onto the tile list: a tile whose
    # every target point misses the source raster has NO pixel rows at all
    # and would silently vanish from an inner aggregation — exactly the
    # case the reference's shape raise exists to catch; here it surfaces
    # as n_px=0 / shape_ok=false
    summary = tile_data_summary(tile_px, spec.tile_N, key_cols)
    keys_df = tiles.select(*key_cols).distinct()
    # per-tile summary: bounded by USER input for triplet/trajectory specs
    # (broadcast under the left-outer join rather than shuffling the tile
    # list), but ∝ scenes × tiles under rect tiling — there a broadcast
    # would hit the 8 GB cap at scale, so hint shuffle-hash instead (same
    # size gate as the analytics emb⋈aux join)
    if rect:
        summary = summary.hint("shuffle_hash")
    else:
        summary = F.broadcast(summary)
    out["tile_data"] = keys_df.join(summary, key_cols, "left").select(
        *key_cols,
        F.coalesce("n_px", F.lit(0)).alias("n_px"),
        F.coalesce("shape_ok", F.lit(False)).alias("shape_ok"),
        "sum_val",
        "min_val",
        "max_val",
        "mean_val",
    )
    return out


def _pack_gray8(
    byte_px: DataFrame,
    key_cols: list[str],
    width: int,
    height: int,
    p_col: str,
    q_col: str,
    byte_col: str = "_byte",
) -> DataFrame:
    """Shared gray8 image packer (the tile AND scene image products):
    per-key pixel rows → row-major uint8 payload packed ENTIRELY
    JVM-side (array_sort over (q, p, byte) structs — deterministic
    regardless of upstream order — hex-pack + unhex to binary), then
    :func:`~.operators.multimodal.encode_png` turns each payload into a
    grayscale PNG Arrow-batched, the key columns riding through on the
    same row. Callers must supply exactly width·height rows per key with
    ``byte_col`` already in [0, 255].

    Returns (key columns..., png binary).
    """
    from .operators import multimodal

    ordered = F.array_sort(
        F.collect_list(F.struct(F.col(q_col), F.col(p_col), F.col(byte_col)))
    )
    hexstr = F.array_join(
        F.transform(ordered, lambda s: F.lpad(F.hex(s[byte_col]), 2, "0")), ""
    )
    keyed = (
        byte_px.groupBy(*key_cols)
        .agg(F.unhex(hexstr).alias("payload"))
        .withColumn(
            "media_meta",
            F.struct(
                F.lit(int(width)).alias("width"),
                F.lit(int(height)).alias("height"),
                F.lit(multimodal.FAKE_FORMAT).alias("format"),
            ),
        )
    )
    return multimodal.encode_png(keyed)


def tile_images(
    tile_px: DataFrame,
    tile_N: int,
    key_cols: list[str],
    value_max: float = 100.0,
    p_col: str = "p",
    q_col: str = "q",
) -> DataFrame:
    """The reference tile product's IMAGE half (``SceneTilesData`` writes a
    PNG beside each tile's netCDF, pipeline/tiles.py:340-371): per-tile
    pixel rows → a row-major uint8 grayscale raster payload, packed
    ENTIRELY JVM-side (values scaled to [0, 255] with explicit HALF_UP,
    hex-packed and unhexed to binary — no Python in the packing), then
    :func:`~.operators.multimodal.encode_png` emits grayscale PNG bytes
    Arrow-batched.

    Returns (key columns..., png binary). Binary columns stay off the
    driver-compare surface; tests decode the PNGs and check every pixel.
    """
    scale = 255.0 / float(value_max)
    # clamp to [0, 255] BEFORE hex-packing: lpad TRUNCATES a >2-char hex
    # (value 150 at the default scale would silently become byte 0x17)
    # and a negative value renders 16 two's-complement chars. The clamp
    # happens on the DOUBLE side, before the int cast: under ANSI mode a
    # corrupt/huge value (|round(v*scale)| >= 2^31) would raise
    # CAST_OVERFLOW at the cast, defeating the saturation. NaN policy:
    # Spark orders NaN ABOVE every double, so an unmasked NaN would ride
    # greatest() through to least() and saturate to byte 255 (white) —
    # nanvl maps NaN pixels to 0 (black, the same byte a masked/absent
    # value scales to) so corrupt data can't impersonate max brightness.
    byte = F.least(
        F.greatest(
            F.round(F.nanvl(F.col("value"), F.lit(0.0)) * F.lit(scale)),
            F.lit(0.0),
        ),
        F.lit(255.0),
    ).cast("int")
    return _pack_gray8(
        tile_px.withColumn("_byte", byte),
        key_cols,
        width=tile_N,
        height=tile_N,
        p_col=p_col,
        q_col=q_col,
    )


def tile_vectors(
    tile_px: DataFrame,
    key_cols: list[str],
    p_col: str = "p",
    q_col: str = "q",
    norm: float = 101.0,
) -> DataFrame:
    """Row-major per-tile pixel vector (the flattened tile image a model
    consumes): array_sort over (q, p, value) structs — deterministic
    regardless of join/aggregation order — then project the values.
    Values normalized to [0, 1) by ``norm`` (the raster modulus) so the
    downstream tanh stays off its saturation plateau."""
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col(q_col), F.col(p_col), F.col("value")))
    )
    return tile_px.groupBy(*key_cols).agg(
        F.transform(ordered, lambda s: s["value"] / F.lit(float(norm))).alias("tile_vec")
    )


def build_rect_embeddings(
    spark: SparkSession,
    spec: DatasetSpec,
    out_dim: int = 4,
    src_dx: float | None = None,
    src_nx: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """The composed rect/sliding-window embedding path (reference
    embeddings/rect/sampling.py:68-125): sliding tiles → per-tile image
    vector → X3 batch inference → J7 grid-coordinate attach with the
    reference's y-axis flip (``y = y0 + (Ny − j0)·dy``).

    One plan: G2 slice (covering-tile explode) → per-tile vector groupBy →
    Arrow-batched linear+tanh inference (weights broadcast once) → pure
    expression coord attach. Output one row per (scene, tile, dim):
    (scene_id, tile_id, i0, j0, x, y, dim, v) — long form keeps the
    driver-portable scalar schema.
    """
    from .operators import grids
    from .operators.inference import batch_embed

    d = build_tile_data(spark, spec, src_dx=src_dx, src_nx=src_nx)
    vecs = tile_vectors(
        d["tile_pixels"].select(
            "scene_id", "tile_id", F.col("i").alias("p"), F.col("j").alias("q"), "value"
        ),
        ["scene_id", "tile_id"],
    )
    in_dim = spec.tile_N * spec.tile_N
    keyed = vecs.withColumn(
        "_uid",
        F.concat_ws("|", F.col("scene_id"), F.col("tile_id").cast("string")),
    )
    emb = batch_embed(
        keyed, in_dim=in_dim, out_dim=out_dim, seed=seed,
        vec_col="tile_vec", id_col="_uid",
    )
    tiles = d["tiles"].select("scene_id", "tile_id", "i0", "j0").distinct().withColumn(
        "_uid",
        F.concat_ws("|", F.col("scene_id"), F.col("tile_id").cast("string")),
    )
    ny = spec.grid_shape[1]
    placed = grids.attach_grid_coords(
        tiles.join(emb, "_uid"),
        x0=spec.x_range[0], dx=spec.resolution,
        y0=spec.y_range[0], dy=spec.resolution, ny=ny,
    )
    return placed.select(
        "scene_id",
        "tile_id",
        "i0",
        "j0",
        "x",
        "y",
        F.posexplode("emb_out").alias("dim", "_v"),
    ).select(
        "scene_id", "tile_id", "i0", "j0", "x", "y", "dim",
        F.round("_v", 6).alias("v"),
    )


AUX_RASTER_COEFFS = (19, 23, 29, 97)  # independent field on the same grid


def build_analytics_pipeline(
    spark: SparkSession,
    spec: DatasetSpec,
    out_dim: int = 4,
    pca_k: int = 2,
    bin_width: float = 8.0,
    src_dx: float | None = None,
    src_nx: int | None = None,
    seed: int = 42,
    checkpoint: bool | str = True,
):
    """The §3.3 analytics path as ONE composed lazy program (reference
    ``AggregatedDatasetScenesAuxFieldWithEmbeddings``,
    embeddings/aux_fields/data.py:199-295): scenes → tiles → tile data →
    X3 batch embeddings → A1 per-tile aux reduction → J6 embeddings⋈aux →
    X4 PCA transform → A5 aux-binned embedding statistics.

    Every stage is the already-certified operator; composing them adds
    only equi-joins on the tile key. Works for ``triplets`` (bounded tile
    count → broadcast join) and ``rect-slidingwindow`` (tiles ∝ raster →
    shuffle-hash join; see the size gate at the J6 join) tiling.
    Returns ``(stats, model)`` where
    ``stats`` has one row per (aux bin, embedding dim):
    (bin, dim, n, mean_emb, sum_emb) — mean over round(6) embeddings via
    an exact DECIMAL sum (order-independent), so the whole composition
    down to PCA's input is value-replayable; the PCA stage itself is
    certified by the fitted model's invariants (orthonormal loadings —
    eigenvector signs are solver-defined, not cross-engine comparable).
    """
    from .operators.inference import batch_embed, pca_transform

    d = build_tile_data(spark, spec, src_dx=src_dx, src_nx=src_nx)
    rect = spec.tiles_kind == "rect-slidingwindow"
    if rect:
        key = ["scene_id", "tile_id"]
        p_col, q_col = "i", "j"
        uid = F.concat_ws("|", F.col("scene_id"), F.col("tile_id").cast("string"))
    else:
        key = ["triplet_id", "collection", "tile_type", "scene_id"]
        p_col, q_col = "p", "q"
        uid = F.concat_ws(
            "|", F.col("triplet_id").cast("string"), F.col("tile_type")
        )
    # per-tile image vector -> X3 inference. PARTIAL tiles (source raster
    # not covering the tile — the case the reference's shape check raises
    # on, tiles.py:258-265) are EXCLUDED here: a short vector would crash
    # np.stack inside the Arrow batch and a short aux sum would silently
    # skew its mean; build_tile_data's shape_ok surfaces which ones
    in_dim = spec.tile_N * spec.tile_N
    vecs = (
        tile_vectors(d["tile_pixels"], key, p_col=p_col, q_col=q_col)
        .where(F.size("tile_vec") == F.lit(in_dim))
        .withColumn("_uid", uid)
    )
    emb = batch_embed(
        vecs, in_dim=in_dim, out_dim=out_dim, seed=seed,
        vec_col="tile_vec", id_col="_uid",
    )
    # A1: per-tile aux-field reduction (independent raster, same grid)
    from .operators import tiler

    aux_dx, aux_nx, aux_ny = src_dx, src_nx, src_nx
    if rect and aux_dx is None:
        # rect slices in INDEX space — the aux raster is the same domain
        # pixel grid build_tile_data defaults to (sized per axis)
        aux_dx = spec.resolution
        aux_nx, aux_ny = spec.grid_shape
    aux_px = synthetic_scene_raster(
        d["scenes"], nx=aux_nx, ny=aux_ny, dx=aux_dx, dy=aux_dx,
        x0=spec.x_range[0], y0=spec.y_range[0], coeffs=AUX_RASTER_COEFFS,
    )
    if rect:
        # same covering-tile explode as build_tile_data's rect slice —
        # the tile grid scales with the raster, so no broadcast of it
        aux_tile_px = tiler.tile_pixel_cover(
            aux_px.select("scene_id", "i", "j", "value"),
            *spec.grid_shape, n_tile=spec.tile_N, step=spec.tile_N,
            x_col="i",
            y_col="j",
        )
    else:
        aux_tile_px = tiler.tile_regrid_nearest(
            d["tiles"], aux_px,
            resolution=spec.resolution, tile_N=spec.tile_N,
            src_x0=spec.x_range[0], src_dx=src_dx,
            src_y0=spec.y_range[0], src_dy=src_dx,
        )
    n_px = spec.tile_N * spec.tile_N
    # tile_N² is a power-of-two pixel count -> the mean of integer-valued
    # doubles is DYADIC-exact (no rounding needed on either engine);
    # partial tiles are excluded (same rule as the embed side above)
    aux_mean = (
        aux_tile_px.groupBy(*key)
        .agg(
            (F.sum("value") / F.lit(float(n_px))).alias("aux_mean"),
            F.count("*").alias("_n_aux"),
        )
        .where(F.col("_n_aux") == F.lit(n_px))
        .drop("_n_aux")
        .withColumn("_uid", uid)
    )
    # J6: embeddings ⋈ per-tile aux reduction — one row per tile either
    # side, and the Arrow-batched emb plan is stats-opaque to Catalyst
    # (which otherwise sort-merges). The strategy is SIZE-GATED on what
    # bounds the tile count: triplets/trajectories specs bound it by user
    # input (n_triplets, trajectory rows) → broadcast; rect-slidingwindow
    # tiles scale with the raster extent (reference emb_regridding.py:1-5:
    # "number of embedding vectors was enormous") → an unconditional
    # broadcast would blow the 8 GB cap / driver memory at 100×, so hint
    # shuffle-hash instead (still avoids the sort-merge sort, stays
    # executor-side, and the join key is the uniform tile uid — no skew).
    aux_slim = aux_mean.select("_uid", "aux_mean")
    if spec.tiles_kind == "rect-slidingwindow":
        joined = emb.join(aux_slim.hint("shuffle_hash"), "_uid")
    else:
        joined = emb.join(F.broadcast(aux_slim), "_uid")
    # materialize the embedded-tile relation ONCE (lazy checkpoint): the
    # PCA fit runs several internal actions and would otherwise re-execute
    # the whole scenes→tiles→raster→Arrow-inference chain per action. This
    # is the same working set the reference materializes as its per-scene
    # netCDF product — one row per (tile, emb, aux), bounded by the tile
    # count, far below the raster it derives from. ``checkpoint=False``
    # keeps the full upstream plan visible (plan-quality gates inspect
    # the raster joins, which a checkpoint node hides);
    # ``checkpoint="durable"`` swaps executor-local blocks (not
    # fault-tolerant — an executor loss mid-query kills the job on a real
    # cluster) for a reliable checkpoint in the session's checkpoint dir.
    if checkpoint:
        from .operators.persist import materialize_for_reuse

        # checkpoint=True defers to the env flag (durable=None); only the
        # explicit string forces the reliable path from code
        joined = materialize_for_reuse(
            joined, durable=True if checkpoint == "durable" else None
        )
    # X4: PCA over the embedding matrix (fit inside the same program)
    pca_in = joined.select("_uid", F.col("emb_out").alias("embedding"))
    _pca_out, model = pca_transform(pca_in, k=pca_k, id_col="_uid", out_col="pca")
    # A5: aux-binned per-dimension embedding statistics
    exploded = joined.select(
        F.floor(F.col("aux_mean") / F.lit(float(bin_width))).alias("bin"),
        F.posexplode("emb_out").alias("dim", "_v"),
    )
    # DECIMAL sum of round(6) embeddings: exact and order-independent; the
    # mean uses explicit floor-based IEEE rounding (floor(x·1e6+0.5)/1e6)
    # because a quotient of a decimal sum can land half-an-ulp from the
    # 1e-6 grid where Spark's BigDecimal round() and DuckDB's
    # multiply-based round() split (the derived_dag lesson)
    sum_dec = F.sum(F.round(F.col("_v"), 6).cast("decimal(18,6)")).cast("double")
    stats = exploded.groupBy("bin", "dim").agg(
        F.count("*").alias("n"),
        (F.floor((sum_dec / F.count("*")) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "mean_emb"
        ),
        sum_dec.alias("sum_emb"),
    )
    return stats, model


def build_scene_table(spark: SparkSession, spec: SceneSpec) -> DataFrame:
    """§3.1 compiled: catalog scans ⟕ J1 ⟕ F1–F3 ⟕ scene ids, one lazy plan."""
    per_input = []
    for name in spec.inputs:
        cal = calendar_scan(
            spark,
            spec.t_start,
            spec.t_end,
            step=spec.step,
            offset=spec.offsets.get(name),
            path_format=spec.path_formats.get(name, "'" + name + "_'yyyyMMddHHmm"),
            exclude_times=spec.exclude_times.get(name),
        )
        per_input.append(
            cal.select("t", F.lit(name).alias("input_name"), F.col("path").alias("filename"))
        )
    files = per_input[0]
    for df in per_input[1:]:
        files = files.unionByName(df)
    scenes = multi_input_scene_table(
        files, spec.inputs, source_name=spec.source, time_bucket=spec.time_bucket
    )
    if spec.time_intervals:
        scenes = time_interval_filter(scenes, "t", spec.time_intervals)
    if spec.component_filters:
        scenes = datetime_component_filter(scenes, "t", spec.component_filters)
    if spec.solar_zenith:
        scenes = solar_zenith_filter(
            scenes, "t",
            lon_degrees=spec.solar_zenith["lon"],
            dt_hours=spec.solar_zenith["dt_hours"],
        )
    if spec.scene_filter:
        # F5 wired through the spec (reference pipeline/utils.py:42-49):
        # re.match semantics — anchored at the START of the scene id only
        # (rlike alone would be re.search); non-capturing group keeps a
        # user pattern with alternation anchored as a whole
        scenes = scenes.where(
            F.col("scene_id").rlike("^(?:" + spec.scene_filter + ")")
        )
    return scenes


def materialize(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
    overwrite: bool = False,
) -> bool:
    """Incremental sink: skip when the target already exists (the
    reference's target-existence short-circuit). Returns True iff written.

    Completion is Spark's own _SUCCESS marker, so a half-written output
    from a crashed job does NOT count as done — stronger than the
    reference's bare file-existence check (regridding.py:93-117 re-checks
    inside run() for exactly that race). The marker is looked up through
    Hadoop's ``FileSystem`` for the path's scheme, so ``file://``,
    ``hdfs://`` and ``s3a://`` sinks skip as plain local paths do.
    """
    sc = df.sparkSession.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(sc._jsc.hadoopConfiguration())
    done = fs.exists(Path(path, "_SUCCESS"))
    if done and not overwrite:
        return False
    writer = df.write.mode("overwrite").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    return True


def compact_to_target_files(
    spark: SparkSession,
    path: str,
    target_mb: float = 128.0,
    fmt: str = "parquet",
) -> int:
    """Lake maintenance: rewrite a table directory so each output file is
    ~``target_mb`` — the small-files compaction every incrementally-built
    100 TB lake needs (each streaming/per-scene micro-batch leaves
    file-per-task crumbs; scans then pay per-file open/footer cost and
    lose row-group locality).

    Sizing is from the ACTUAL on-disk bytes (not row counts — compression
    ratios vary wildly across columns); the rewrite is ``repartition(n)``
    → a staging dir → a two-rename swap. The swap is NOT atomic (POSIX
    cannot atomically replace a non-empty directory): a concurrent reader
    can hit a brief not-found window between the renames, and a crash
    there leaves the data parked at ``<path>.__old__`` for manual
    recovery — run compaction in a maintenance window, as every
    file-listing-based lake rewrite must. Directories containing ANY
    non-hidden subdirectory are REJECTED — Hive ``k=v`` layouts (a flat
    rewrite would silently drop the partition layout and all downstream
    pruning) and plain nested data alike: the flat ``spark.read.load``
    below does NOT recurse, so a nested subdirectory's files would be
    counted for sizing but never read, and the rename swap would delete
    them. Compact each leaf directory instead (:func:`compact_partitioned`
    assumes the same leaves-are-flat invariant).
    Returns the actual post-rewrite file count.
    """
    import shutil

    total = 0
    files = 0
    for root, dirs, names in os.walk(path):
        for d in dirs:
            if d.startswith(("_", ".")):
                continue
            why = (
                "is Hive-partitioned" if "=" in d else "has a nested data subdirectory"
            )
            raise ValueError(
                f"{path!r} {why} ({d!r}); compact each leaf directory "
                "instead — the flat (non-recursive) rewrite would not "
                "read its files, then delete them in the swap"
            )
        # hidden/metadata dirs (_spark_metadata, .crc …) are invisible to
        # the flat read — keep their contents out of the sizing too
        dirs[:] = []
        for nm in names:
            if nm.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, nm))
            files += 1
    if files == 0:
        return 0
    n = max(1, int(total / (target_mb * 1024 * 1024) + 0.999))
    df = spark.read.format(fmt).load(path)
    staging = path.rstrip("/") + ".__compact__"
    old = path.rstrip("/") + ".__old__"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    df.repartition(n).write.mode("overwrite").format(fmt).save(staging)
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)
    # empty repartition slots write no file — report what actually landed
    return sum(
        1 for nm in os.listdir(path) if not nm.startswith(("_", "."))
    )


def compact_partitioned(
    spark: SparkSession,
    path: str,
    target_mb: float = 128.0,
    fmt: str = "parquet",
) -> dict[str, int]:
    """Compact a Hive-partitioned table LEAF BY LEAF (the layout-safe
    complement of :func:`compact_to_target_files`, which rejects
    partitioned roots): walks the ``k=v`` directory tree, compacts each
    leaf independently — partition pruning is untouched because the
    directory structure never changes — and returns
    ``{leaf_relpath: new_file_count}``. Stale ``.__compact__``/
    ``.__old__`` staging leftovers from a crashed earlier run are cleaned
    as encountered (the data-bearing dir always wins)."""
    import shutil

    out: dict[str, int] = {}
    for root, dirs, names in os.walk(path):
        # crash recovery BEFORE any deletion: a run that died between the
        # two swap renames leaves the data parked at <leaf>.__old__ with
        # the <leaf> dir itself MISSING — restore it first ('.__old__' is
        # the authoritative complete copy); only then are suffix dirs
        # whose data dir exists truly stale and safe to sweep
        for d in sorted(list(dirs), key=lambda x: not x.endswith(".__old__")):
            full = os.path.join(root, d)
            if d.endswith(".__old__"):
                base = os.path.join(root, d[: -len(".__old__")])
                if not os.path.exists(base):
                    os.rename(full, base)
                    dirs.remove(d)
                    dirs.append(os.path.basename(base))
                    continue
                shutil.rmtree(full, ignore_errors=True)
                dirs.remove(d)
            elif d.endswith(".__compact__"):
                shutil.rmtree(full, ignore_errors=True)
                dirs.remove(d)
        data_files = [n for n in names if not n.startswith(("_", "."))]
        # only compact TRUE leaves: any remaining subdirectory (Hive k=v
        # or plain nested data) means a flat rewrite would destroy it
        if dirs or not data_files:
            continue
        out[os.path.relpath(root, path)] = compact_to_target_files(
            spark, root, target_mb=target_mb, fmt=fmt
        )
    return out


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
    mode: str = "overwrite",
) -> DataFrame:
    """S10 sink variant: hash-bucketed, bucket-sorted external parquet
    table registered in the session catalog.

    At 100 TB the dominant recurring cost is re-shuffling fact tables by
    the same join/agg key in every job; bucketing pays that shuffle once
    at write time. Any later equi-join or groupBy on the bucket key
    (with matching bucket counts) reads co-located buckets and skips the
    Exchange entirely — plan-gated by
    ``test_plan_quality.py::test_bucketed_join_is_exchange_free``.
    Returns the registered table as a DataFrame.
    """
    (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .saveAsTable(name)
    )
    return df.sparkSession.table(name)


def split_by_time_partition(
    df: DataFrame, path: str, time_col: str = "t", granularity: str = "day"
) -> bool:
    """S8 (les.py:87-107 analog): split a multi-time input into one
    partition per time bucket via a partitioned re-write — downstream
    per-scene reads become partition-pruned scans."""
    keyed = df.withColumn(
        "_part", F.date_format(F.date_trunc(granularity, F.col(time_col)), "yyyy-MM-dd")
    )
    return materialize(keyed, path, partition_by=["_part"])


def build_curation_pipeline(
    docs: DataFrame,
    gopher_min_words: int = 30,
    minhash_threshold: float = 0.5,
    bloom_flag_threshold: float = 0.5,
    mixture_alpha: float = 0.3,
    mixture_token_budget: int = 8_000,
    pack_budget: int = 512,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """The LLM-pretraining curation path as ONE composed program —
    the north-star composition of the corpus/dedup operator surface (the
    shape of a production curation job: CCNet/RefinedWeb fetch dedup →
    C4 page cleaning → Gopher quality → MinHash corpus dedup →
    benchmark decontamination → mixture planning → sequence packing):

    1. hold out the evaluation suite (md5 bucket 0 of ``id_col``) — it
       never enters the training corpus;
    2. URL-level fetch dedup (``dedup.dedup_url``): one survivor per
       canonical URL, min-id rule;
    3. C4 page cleaning (``corpus.c4_line_filters``) over the page text
       in ``page_text`` — pages failing the line/boilerplate rules drop;
    4. Gopher quality gate (``corpus.gopher_quality``) over the flat
       document text — only ``pass_gopher`` docs continue;
    5. MinHash-LSH near-dup pairs (``dedup.minhash_dedup``) → connected
       components → min-id canonical survivors
       (``dedup.canonical_survivors``);
    6. Bloom-filter decontamination against the held-out eval suite
       (``corpus.bloom_decontaminate``) — flagged docs drop;
    7. temperature mixture planning over the survivors
       (``corpus.mixture_temperature_rates``, share^alpha) and an
       md5-uniform acceptance draw at each source's rate;
    8. GPT-style sequence packing of the drawn corpus
       (``corpus.pack_token_chunks``).

    Input must carry ``id_col``, ``text``, ``source``, ``url`` and
    ``page_text`` columns. Returns one row per packed document:
    ``(id, source, n_tokens, chunk_id, chunk_offset)``.

    Every stage is the already-certified operator; composition adds only
    semi/anti equi-joins on the document id (column-name contracts).
    Connected components inside stage 5 checkpoints its pairs, then
    labels a graph under ``spark.sql.autoBroadcastJoinThreshold`` in one
    driver pass (one more job) and a larger one in O(log² n) star-round
    jobs.
    Stage filters run in corpus order, so each stage's input is the
    previous stage's survivors — at 100 TB the expensive stages (MinHash
    shingling, Bloom probing, packing) see only the cleaned fraction.
    Fully deterministic (md5 draws, min-id survivorship), so the whole
    program value-replays in ANSI SQL.

    Materialization discipline: the train corpus materializes ONCE
    (``materialize_for_reuse`` — executor blocks locally, set
    ``SPARK_GRAFT_DURABLE_CHECKPOINT=1`` for a reliable checkpoint on a
    real cluster) and every stage's survivor set materializes as an
    ID-ONLY relation; each stage is then ``train ⋉ ids``. Without this,
    each of the ~7 stage boundaries re-plans the whole upstream chain
    per consumer — measured 35 parquet scans of the corpus in the final
    plan; with it the corpus is read once into the train blocks and the
    packed tail carries zero residual scans (the multi-consumer scan
    audit class).

    The program is NOT lazy end to end: each lazy
    ``materialize_for_reuse`` runs jobs when it is called (see
    ``operators/persist.py``). Building the program at sf0.01 on
    local[4] ran 29 jobs; its noop sink ran 8 more.
    """
    from .operators import dedup
    from .operators import corpus
    from .operators.persist import materialize_for_reuse

    is_eval = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1) == "0"
    eval_docs = docs.where(is_eval).select(id_col, "text")
    # layout-decoupling spread BEFORE materializing: a single-file corpus
    # otherwise checkpoints into ONE block and every downstream
    # expression-heavy stage (the Gopher repetition ladder especially)
    # runs single-task — measured 24 s of the pipeline's 35 s at sf0.1
    from .operators.dedup import _spread

    train = materialize_for_reuse(_spread(docs.where(~is_eval), id_col))

    # 2. URL fetch dedup: survivors carry only ids — semi-join back
    c1_ids = materialize_for_reuse(
        dedup.dedup_url(
            train.select(id_col, "url"), id_col=id_col, max_per_host=None
        ).select(id_col)
    )
    c1 = train.join(c1_ids, id_col, "left_semi")

    # 3. C4 page cleaning on the page representation. Gate verdicts are
    # filtered through where_unpushed: a plain .where(flag) pushes the
    # predicate below the gate's projection where the HOF-heavy measures
    # re-derive per reference with no CSE (22× measured on the Gopher
    # stage — see persist.where_unpushed).
    from .operators.persist import where_unpushed

    c4 = corpus.c4_line_filters(
        c1.select(F.col(id_col), F.col("page_text").alias("text")),
        id_col=id_col,
    )
    c2_ids = materialize_for_reuse(
        where_unpushed(c4, F.col("passed")).select(id_col)
    )
    c2 = train.join(c2_ids, id_col, "left_semi")

    # 4. Gopher quality gate on the flat text
    gq = corpus.gopher_quality(c2, id_col=id_col, min_words=gopher_min_words)
    c3_ids = materialize_for_reuse(
        where_unpushed(gq, F.col("pass_gopher")).select(id_col)
    )
    c3 = train.join(c3_ids, id_col, "left_semi")

    # 5. MinHash near-dup collapse (LSH candidates, exact-Jaccard verify,
    # CC min-id survivors)
    pairs = dedup.minhash_dedup(
        c3, threshold=minhash_threshold, id_col=id_col
    ).select("id_a", "id_b")
    c4s_ids = materialize_for_reuse(
        dedup.canonical_survivors(
            c3.select(id_col), pairs, id_col=id_col
        ).select(id_col)
    )
    c4s = train.join(c4s_ids, id_col, "left_semi")

    # 6. Bloom decontamination vs the held-out eval suite
    flagged = corpus.bloom_decontaminate(
        c4s, eval_docs, flag_threshold=bloom_flag_threshold, id_col=id_col
    ).where(F.col("flagged")).select(F.col("doc_id").alias(id_col))
    c5_ids = materialize_for_reuse(
        c4s.select(id_col).join(flagged, id_col, "left_anti")
    )
    c5 = train.join(c5_ids, id_col, "left_semi")

    # 7. mixture planning + md5-uniform acceptance draw: accept iff
    # md5_frac(id) < rate(source); the 52-bit md5 integer over 2^52 is
    # an exact dyadic double and rate is round(6), so the comparison is
    # engine-exact
    rates = corpus.mixture_temperature_rates(
        c5, alpha=mixture_alpha, token_budget=mixture_token_budget
    ).select("source", "rate")
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"draw{seed}_"), F.col(id_col).cast("string"))),
                1, 13,
            ),
            16, 10,
        ).cast("long").cast("double")
        / F.lit(float(1 << 52))
    )
    drawn = materialize_for_reuse(
        c5.join(F.broadcast(rates), "source").where(frac < F.col("rate"))
        .select(id_col, "source", "text")
    )

    # 8. sequence packing of the drawn corpus
    packed = corpus.pack_token_chunks(drawn, budget=pack_budget, seed=seed, id_col=id_col)
    return packed.join(
        drawn.select(id_col, "source"), id_col
    ).select(id_col, "source", "n_tokens", "chunk_id", "chunk_offset")


RAG_FEAT_DIM = 16
RAG_EMB_DIM = 8
RAG_CHUNK_STRIDE_IDS = 4096  # chunk_id = doc_id * 4096 + win_id


def hashed_text_features(
    df: DataFrame,
    dim: int = RAG_FEAT_DIM,
    text_col: str = "win_text",
    id_col: str = "chunk_id",
) -> DataFrame:
    """Deterministic hashing-trick featurizer (the Weinberger et al.
    2009 'hashing vectorizer', the stand-in for a real encoder the way
    ``inference.linear_model_weights`` stands in for a checkpoint):
    feature j = fraction of the text's tokens whose 52-bit md5 integer
    lands in bucket j of ``dim``. Pure in-row Column math — one map
    pass, replayable anywhere md5 exists; empty text yields the zero
    vector."""
    from .functions import text as T

    toks = T.tokens(F.lower(F.col(text_col)))
    bucket = lambda t: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 13), 16, 10).cast("long"), F.lit(dim)
    )
    # md5-bucket every token ONCE into a bound column — the per-feature
    # filters below would otherwise re-run md5 per feature (dim x; the
    # HOF re-derivation class from the winnowing lesson). The per-j
    # counts then scan a small long array, not recompute hashes.
    n = F.size(F.col("_b"))

    def _eq(j: int):
        # one-arg lambda per bucket (HOF arity is inferred from the
        # callable signature — a default arg would bind the index form)
        return lambda b: b == F.lit(j)

    feats = F.array(*[
        F.when(n > 0,
               F.size(F.filter(F.col("_b"), _eq(j)))
               .cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
        for j in range(dim)
    ])
    return df.select(
        F.col(id_col), F.transform(toks, bucket).alias("_b")
    ).select(F.col(id_col), feats.alias("embedding"))


def build_rag_retrieval(
    docs: DataFrame,
    query_text: str,
    window_size: int = 64,
    window_stride: int = 48,
    k_per_list: int = 30,
    sq_shortlist: int = 50,
    sq_k: int = 10,
    topk: int = 15,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """The RAG serving path as ONE composed program — the retrieval-side
    twin of :func:`build_curation_pipeline`, certifying the chunker →
    embedder → ANN → fusion column contracts a production RAG index job
    runs:

    1. chunk long documents into overlapping token windows
       (``corpus.sliding_token_windows``), chunk id =
       ``doc_id·4096 + win_id``;
    2. embed every chunk: :func:`hashed_text_features` (md5
       hashing-trick bag of words) → ``inference.batch_embed``
       (tanh(V·W), the seeded-checkpoint Arrow-batch inference path),
       rounded to 6 dp so the vector relation is engine-exact;
    3. embed the query through the IDENTICAL chunk path (a 1-row
       DataFrame; its collect is the one bounded driver action here —
       8 doubles);
    4. semantic retrieve: scalar-quantization ANN over the chunk
       vectors (``similarity.sq_topk_batch`` — SQ8 encode, asymmetric
       compressed scan, exact-L2 rerank), semantic score = −d2;
    5. lexical retrieve: ``corpus.bm25_topk`` over the chunk TEXTS with
       the query's tokens;
    6. fuse with reciprocal-rank fusion (``similarity.rrf_fuse``).

    Returns ``(id, doc_id, win_id, n_lists, rrf_score)`` ordered
    rrf desc / id asc, limited to ``topk``. Every stage is the certified
    operator; the whole chain is value-replayable (the SQ full-value
    oracle discipline: round-6 vectors in, deterministic tie-breaks
    throughout)."""
    from .operators import corpus, similarity
    from .operators.inference import batch_embed

    # the window relation feeds TWO retrieval paths (the embed stage and
    # bm25's lexical scan) — materialize it once, or the lexical side
    # re-plans the whole chunker (token slicing over every doc) as its
    # own second pass (the multi-consumer scan-audit class)
    from .operators.persist import materialize_for_reuse as _mat

    wins = _mat(
        corpus.sliding_token_windows(
            docs, size=window_size, stride=window_stride, id_col=id_col
        ).select(
            (F.col(id_col) * RAG_CHUNK_STRIDE_IDS + F.col("win_id"))
            .cast("long").alias("chunk_id"),
            "win_text",
        )
    )

    def embed(df: DataFrame) -> DataFrame:
        emb = batch_embed(
            hashed_text_features(df),
            in_dim=RAG_FEAT_DIM, out_dim=RAG_EMB_DIM, seed=seed,
            id_col="chunk_id",
        )
        return emb.select(
            "chunk_id",
            F.transform(F.col("emb_out"), lambda v: F.round(v, 6))
            .alias("embedding"),
        )

    # the embed stage is the expensive one (real deployments run an
    # actual encoder here) and sq_topk_batch consumes its output three
    # times (bounds fit, compressed scan, exact rerank) — materialize
    # once so inference never re-runs per consumer
    from .operators.persist import materialize_for_reuse

    chunk_emb = materialize_for_reuse(embed(wins))

    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        [(-1, str(query_text))], "chunk_id long, win_text string"
    )
    qv = [float(v) for v in embed(qdf).collect()[0]["embedding"]]

    sem = similarity.sq_topk_batch(
        chunk_emb, [(0, qv)], k=sq_k, shortlist=sq_shortlist,
        id_col="chunk_id",
    ).select(
        F.lit("sem").alias("list_id"),
        F.col("chunk_id").alias("id"),
        (-F.col("d2")).alias("score"),
    )
    terms = [t for t in str(query_text).lower().split() if t]
    lex = corpus.bm25_topk(
        wins, terms, k=k_per_list, id_col="chunk_id", text_col="win_text"
    ).select(
        F.lit("lex").alias("list_id"), F.col("chunk_id").alias("id"), "score"
    )
    fused = similarity.rrf_fuse(lex.unionByName(sem), k_rrf=60, topk=topk)
    return fused.select(
        "id",
        F.expr(f"id div {RAG_CHUNK_STRIDE_IDS}").alias(id_col),
        F.pmod(F.col("id"), F.lit(RAG_CHUNK_STRIDE_IDS)).cast("long").alias("win_id"),
        "n_lists",
        "rrf_score",
    )
