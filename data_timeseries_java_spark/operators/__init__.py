"""Engine operators.

FX time-series pipeline (reference parity, SURVEY.md §2):
  candles     — fixed-window OHLC aggregation, gap-fill, carry-forward
  returns     — per-candle log returns
  correlation — sliding-window pairwise Pearson correlation

Training-data pipeline extensions:
  text        — language-ID, quality scoring, token counts, fingerprints
  multimodal  — opaque binary columns with typed metadata
"""

from data_timeseries_java_spark.operators.candles import (
    complete_candles,
    gap_fill,
    ohlc_candles,
)
from data_timeseries_java_spark.operators.correlation import (
    CorrelationConfig,
    pairwise_correlations,
    pairwise_correlations_exact,
)
from data_timeseries_java_spark.operators.returns import log_returns

__all__ = [
    "ohlc_candles",
    "gap_fill",
    "complete_candles",
    "log_returns",
    "CorrelationConfig",
    "pairwise_correlations",
    "pairwise_correlations_exact",
]
