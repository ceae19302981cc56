"""Scalar/column function library.

skew     — key-salting helpers for hot-key aggregations and joins.
stats    — ANSI-posture-independent aggregates (safe_corr) and the
           floor-to-6-decimals quantizer the oracle-checked lanes share.
"""

from data_timeseries_java_spark.functions.skew import salted_sum
from data_timeseries_java_spark.functions.stats import safe_corr

__all__ = [
    "salted_sum",
    "safe_corr",
]
