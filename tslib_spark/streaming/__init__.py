from tslib_spark.streaming.incremental import fit_state, impute_from_state, update_state

__all__ = ["fit_state", "update_state", "impute_from_state"]
