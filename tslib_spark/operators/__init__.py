from tslib_spark.operators.rollup import rollup_pages
from tslib_spark.operators.downsample import downsample, tier_chain
from tslib_spark.operators.gapfill import densify_grid, interpolate_linear, middle_fill

__all__ = [
    "rollup_pages",
    "downsample",
    "tier_chain",
    "densify_grid",
    "middle_fill",
    "interpolate_linear",
]
