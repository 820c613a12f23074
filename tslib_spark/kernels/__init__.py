from tslib_spark.kernels.svd_kernel import fit_transform, forecast
from tslib_spark.kernels import linalg

__all__ = ["fit_transform", "forecast", "linalg"]
