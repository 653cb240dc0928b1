"""Operator inventory (SURVEY.md §2) as composable DataFrame transforms."""

from .asof import asof_join, infer_min_spacing, match_aux_to_scenes
from .binning import (
    binned_statistic_1d,
    binned_statistic_2d,
    ecdf,
    equidepth_bins,
    exact_quantiles,
    global_ranks,
)
from .calendar import calendar_scan
from .filters import (
    datetime_component_filter,
    parse_filter_dsl,
    percentile_filter,
    solar_zenith_filter,
    time_interval_filter,
    wrap_longitude,
)
from .grids import (
    attach_grid_coords,
    bilinear_regrid,
    crop_to_bbox,
    local_tangent_xy,
    nearest_regrid,
    spanning_bbox,
    unit_vector_center,
)
from .sampling import (
    hash_uniform,
    neighbor_tile_placement,
    pick_scene_pairs,
    proportional_split,
    triplet_tile_locations,
    uniform_tile_placement,
)
from .images import (
    contrast_correction,
    make_rgb,
    rayleigh_correct,
    rayleigh_reflectance,
    rayleigh_true_color,
    scattering_cosine,
    solar_cos_zenith,
    true_color_rgb,
)
from .scenes import multi_input_scene_table
from .clustering import dbscan_eps_ladder, dbscan_labels, epsilon_grid_cell_stats
from .tiler import sliding_tiles, tile_pixel_cover, tile_pixel_join, tile_regrid_nearest

__all__ = [
    "contrast_correction",
    "make_rgb",
    "true_color_rgb",
    "rayleigh_correct",
    "rayleigh_reflectance",
    "rayleigh_true_color",
    "scattering_cosine",
    "solar_cos_zenith",
    "dbscan_eps_ladder",
    "asof_join",
    "infer_min_spacing",
    "match_aux_to_scenes",
    "binned_statistic_1d",
    "binned_statistic_2d",
    "ecdf",
    "equidepth_bins",
    "calendar_scan",
    "datetime_component_filter",
    "parse_filter_dsl",
    "percentile_filter",
    "solar_zenith_filter",
    "time_interval_filter",
    "wrap_longitude",
    "multi_input_scene_table",
    "dbscan_labels",
    "epsilon_grid_cell_stats",
    "sliding_tiles",
    "tile_pixel_cover",
    "tile_pixel_join",
    "tile_regrid_nearest",
    "attach_grid_coords",
    "bilinear_regrid",
    "crop_to_bbox",
    "local_tangent_xy",
    "nearest_regrid",
    "spanning_bbox",
    "unit_vector_center",
    "hash_uniform",
    "neighbor_tile_placement",
    "pick_scene_pairs",
    "proportional_split",
    "triplet_tile_locations",
    "uniform_tile_placement",
]
