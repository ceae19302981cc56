"""Log-return projection — P1 (SURVEY.md §2.4).

Reference: ``application/workpackets/DistributeWorkDataDoFn.java:53-80`` —
per candle, ``value = ln(close.ask / open.ask)`` (ask only), stamped with
the candle's close time. The reference re-keys by sliding-window max
timestamp to colocate one window's instruments; in Spark that colocation
is just the later ``groupBy(window)`` shuffle — no manual re-key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cusum_changepoints(points: DataFrame, key_col: str = "key",
                       time_col: str = "time", value_col: str = "value",
                       drift: float = 0.0,
                       threshold: float = 0.5) -> DataFrame:
    """Two-sided CUSUM change detection (Page 1954) over a per-key
    series: S⁺ₜ = max(0, S⁺ₜ₋₁ + xₜ − drift), S⁻ₜ symmetric; alarm when
    either statistic exceeds ``threshold``. The classic sequential
    mean-shift detector a market-surveillance / data-drift monitor runs
    over return streams.

    The recursive max(0, ...) form is NOT window-expressible, but its
    closed form is: with prefix sums Pₜ = Σ(xᵢ − drift),
    S⁺ₜ = Pₜ − min₍ᵢ≤ₜ₎ Pᵢ and S⁻ₜ = max₍ᵢ≤ₜ₎ Pᵢ − Pₜ — one cumulative
    sum plus running min/max over the SAME ordered window, so the whole
    detector is three window aggregates on one (key)-partitioned sort:
    a single shuffle, linear in points, no state beyond the frame. The
    same three aggregates exist in any SQL engine, making the detector
    hash-checkable externally.

    Returns every point with both statistics (floor-quantized) and the
    alarm flags."""
    from pyspark.sql import Window

    w = (Window.partitionBy(key_col).orderBy(time_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    p = F.sum(F.col(value_col) - F.lit(drift)).over(w)
    d = points.withColumn("_p", p)
    s_pos = F.col("_p") - F.min("_p").over(w)
    s_neg = F.max("_p").over(w) - F.col("_p")
    from data_timeseries_java_spark.functions.stats import _floor6
    out = d.select(
        key_col,
        F.col(time_col),
        _floor6(s_pos).alias("cusum_pos"),
        _floor6(s_neg).alias("cusum_neg"),
    )
    return out.withColumn(
        "alarm_pos", F.col("cusum_pos") > threshold).withColumn(
        "alarm_neg", F.col("cusum_neg") > threshold)


def log_returns(candles: DataFrame,
                keep_undefined: bool = False) -> DataFrame:
    """Candles → (key, time, value) log-return points.

    ``time`` is the candle close time (window end − 1 ms, the Beam
    ``maxTimestamp`` the reference stamps on candles). Candles with a
    non-positive open or close ask (possible only for leading gap candles
    that never saw a live tick) are dropped — ln is undefined there; the
    reference would emit -Inf/NaN which its correlation stage then skips.

    ``keep_undefined=True`` keeps one row per candle instead, ``value``
    null where ln is undefined, plus the candle's ``close_ask`` and
    ``close_live`` (from ``complete_candles(..., with_close_live=True)``):
    the streaming returns store, whose newest rows seed the next
    micro-batch's carry-forward (``streaming/pipeline.py``).
    """
    defined = (F.col("open.ask") > 0) & (F.col("close.ask") > 0)
    time = (F.col("window_end") - F.expr("INTERVAL 1 MILLISECOND")).alias("time")
    value = F.log(F.col("close.ask") / F.col("open.ask"))
    if keep_undefined:
        return candles.select("key", time,
                              F.when(defined, value).alias("value"),
                              F.col("close.ask").alias("close_ask"),
                              "close_live")
    return candles.where(defined).select("key", time, value.alias("value"))
