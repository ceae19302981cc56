"""Scalar/column function library.

hashing  — engine-portable deterministic hashing (md5-hex derived
           signatures, integer-LCG pseudo-randomness) used by dedup
           and fingerprinting so every operator stays oracle-checkable
           across engines.
skew     — key-salting helpers for hot-key aggregations and joins.
stats    — ANSI-posture-independent aggregates (safe_corr) and the
           floor-to-6-decimals quantizer the oracle-checked lanes share.
"""

from data_timeseries_java_spark.functions.hashing import (
    lcg_uniform,
    md5_band_bucket,
    md5_min_signature,
)
from data_timeseries_java_spark.functions.skew import salted_sum
from data_timeseries_java_spark.functions.stats import safe_corr

__all__ = [
    "md5_min_signature",
    "md5_band_bucket",
    "lcg_uniform",
    "salted_sum",
    "safe_corr",
]
