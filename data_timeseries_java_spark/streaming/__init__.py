"""Structured Streaming surface of the engine.

The reference is a streaming pipeline forced through Dataflow 1.9
batch-ish primitives (its global-window/accumulating-panes trick exists
only because 1.9 had no keyed state — ``README.MD:17``). Spark gives the
real thing: watermarked windowed aggregation for candles, and
per-micro-batch gap-fill and carry-forward over its finalized candles
(one completion, shared by the complete-candle stream and the
correlation pipeline), with incremental computation for the
correlation.
"""

from data_timeseries_java_spark.streaming.candles_stream import (
    streaming_complete_candles,
    streaming_ohlc_candles,
)
from data_timeseries_java_spark.streaming.anomaly_stream import (
    streaming_anomalies,
)
from data_timeseries_java_spark.streaming.asof_stream import (
    streaming_asof_join,
    streaming_asof_join_bucketed,
)
from data_timeseries_java_spark.streaming.corpus_stream import (
    streaming_corpus_build,
)
from data_timeseries_java_spark.streaming.dsir_stream import (  # noqa: F401
    read_streaming_dsir,
    streaming_dsir_model,
)
from data_timeseries_java_spark.streaming.neardup_stream import (
    streaming_neardup,
)
from data_timeseries_java_spark.streaming.sessions_stream import (
    sessionize,
    streaming_sessions,
)
from data_timeseries_java_spark.streaming.dedup_stream import (
    streaming_dedup_content,
    streaming_dedup_exact,
)
from data_timeseries_java_spark.streaming.ema_stream import (
    streaming_ema,
    streaming_ema_applyinpandas,
    streaming_garch,
    streaming_holt,
    streaming_macd,
    streaming_kalman,
)
from data_timeseries_java_spark.streaming.pipeline import (
    compact_correlation_store,
    read_streaming_correlations,
    streaming_correlations,
)
from data_timeseries_java_spark.streaming.hll_stream import (
    read_streaming_hll,
    streaming_hll_distinct,
)
from data_timeseries_java_spark.streaming.topk_stream import (
    compact_topk_store,
    read_streaming_topk,
    streaming_cms_topk,
)
from data_timeseries_java_spark.streaming.vol_stream import (
    streaming_realized_volatility,
)
from data_timeseries_java_spark.streaming.reorder import (
    reordered_ema,
    reordered_fold,
    reordered_scd2,
    reordered_tick_bars,
)

__all__ = ["streaming_ohlc_candles", "streaming_complete_candles",
           "reordered_fold", "reordered_ema", "reordered_tick_bars",
           "reordered_scd2",
           "sessionize", "streaming_sessions", "streaming_neardup",
           "streaming_corpus_build", "streaming_anomalies",
           "streaming_dedup_exact", "streaming_dedup_content",
           "streaming_ema", "streaming_ema_applyinpandas",
           "streaming_holt", "streaming_kalman", "streaming_garch",
           "streaming_macd",
           "streaming_correlations", "read_streaming_correlations",
           "compact_correlation_store",
           "streaming_realized_volatility", "streaming_asof_join",
           "streaming_asof_join_bucketed",
           "streaming_cms_topk", "read_streaming_topk",
           "compact_topk_store", "streaming_hll_distinct",
           "read_streaming_hll"]
