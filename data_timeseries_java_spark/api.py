"""User-facing engine facade.

Mirrors the reference's entry points so its users can switch 1:1:

- ``PipelineOptions`` ↔ ``FXTimeSeriesPipelineOptions.java:24-80``
  (candle resolution, correlation window/period, min |r|, NaN policy,
  underlying arrays; ``shards``/partition knobs are deliberately absent
  — Spark's shuffle + AQE own physical parallelism, SURVEY.md §2.2 J5).
- ``FXEngine.complete_candles`` ↔ the composite
  ``CreateAggregatesTransform.apply`` (SURVEY.md §3.2).
- ``FXEngine.correlate`` ↔ the Demo's work-distribution + correlation
  stages (Demo:270-311).
- ``FXEngine.run`` ↔ the whole ``FXTimeSeriesPipelineDemo`` DAG.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from data_timeseries_java_spark.operators import (
    CorrelationConfig,
    log_returns,
    pairwise_correlations,
)
from data_timeseries_java_spark.operators.candles import candles_pipeline
from data_timeseries_java_spark.operators.correlation import (
    pairwise_correlations_matrix,
)


@dataclass
class PipelineOptions:
    """Reference defaults (FXTimeSeriesPipelineOptions.java); the demo
    overrides min_corr_value=0, propagate_nan=True, include_underlying=True
    (Demo:108-111)."""
    candle_resolution: str = "120 seconds"
    correlation_window: str = "600 seconds"
    correlation_period: str = "300 seconds"
    min_corr_value: float = 0.5
    propagate_nan: bool = False
    include_underlying: bool = False
    # engine extension: switch to the matrix kernel for large universes
    large_universe: bool = False

    def corr_config(self) -> CorrelationConfig:
        return CorrelationConfig(
            window=self.correlation_window,
            slide=self.correlation_period,
            min_corr=self.min_corr_value,
            propagate_nan=self.propagate_nan,
            include_underlying=self.include_underlying,
        )


class FXEngine:
    """Composable batch pipeline over tick DataFrames."""

    def __init__(self, spark: SparkSession,
                 options: PipelineOptions | None = None):
        self.spark = spark
        self.options = options or PipelineOptions()

    def complete_candles(self, ticks: DataFrame,
                         instruments: DataFrame | None = None) -> DataFrame:
        """Gap-filled, carry-forward OHLC candles (the reference's
        CreateAggregatesTransform)."""
        instruments = instruments or ticks.select("key").distinct()
        return candles_pipeline(ticks, instruments,
                                self.options.candle_resolution)

    def returns(self, candles: DataFrame) -> DataFrame:
        return log_returns(candles)

    def correlate(self, returns: DataFrame) -> DataFrame:
        cfg = self.options.corr_config()
        if self.options.large_universe and not cfg.include_underlying:
            return pairwise_correlations_matrix(returns, cfg)
        return pairwise_correlations(returns, cfg)

    def run(self, ticks: DataFrame,
            instruments: DataFrame | None = None) -> DataFrame:
        """ticks → candles → log returns → sliding-window correlations."""
        return self.correlate(self.returns(
            self.complete_candles(ticks, instruments)))

    def changepoints(self, returns: DataFrame,
                     drift: float = 0.0,
                     threshold: float = 0.5) -> DataFrame:
        """Two-sided CUSUM mean-shift statistics over the return stream
        (operators.returns.cusum_changepoints)."""
        from data_timeseries_java_spark.operators.returns import (
            cusum_changepoints,
        )

        return cusum_changepoints(returns, drift=drift,
                                  threshold=threshold)

    def tick_bars(self, ticks: DataFrame, bar_size: int = 50) -> DataFrame:
        """Fixed-count event-driven bars (operators.bars.tick_bars)."""
        from data_timeseries_java_spark.operators.bars import tick_bars

        return tick_bars(ticks, bar_size=bar_size)

    def dollar_bars(self, ticks: DataFrame,
                    threshold: float = 5_000.0) -> DataFrame:
        """Value-threshold event-driven bars (operators.bars.dollar_bars)."""
        from data_timeseries_java_spark.operators.bars import dollar_bars

        return dollar_bars(ticks, threshold=threshold)

    def vwap(self, ticks: DataFrame) -> DataFrame:
        """Anchored daily-session VWAP at the configured candle
        resolution (operators.bars.anchored_vwap)."""
        from data_timeseries_java_spark.operators.bars import anchored_vwap

        return anchored_vwap(ticks, self.options.candle_resolution)

    def vpin(self, ticks: DataFrame, bucket_size: int = 50,
             n_buckets: int = 5) -> DataFrame:
        """VPIN order-flow toxicity (operators.bars.vpin)."""
        from data_timeseries_java_spark.operators.bars import vpin

        return vpin(ticks, bucket_size=bucket_size, n_buckets=n_buckets)

    def imbalance_bars(self, ticks: DataFrame,
                       threshold: int = 7) -> DataFrame:
        """Order-flow imbalance bars — the recursive bar type, in its
        bounded-memory batch form (operators.bars.imbalance_bars)."""
        from data_timeseries_java_spark.operators.bars import (
            imbalance_bars,
        )
        return imbalance_bars(ticks, threshold=threshold)

    def donchian(self, candles: DataFrame,
                 n_windows: int = 6) -> DataFrame:
        """Donchian channel + breakout flags over complete candles
        (operators.bars.donchian_channels)."""
        from data_timeseries_java_spark.operators.bars import (
            donchian_channels,
        )
        return donchian_channels(candles, n_windows=n_windows)


class MediaEngine:
    """Multimodal tier over (media_id, payload[, modality]) DataFrames —
    the binary-column sibling of FXEngine. Every method is a lazy plan
    over Arrow-batched codec operators; the four REAL pure-Python codecs
    (PNG / baseline JPEG / PCM WAV / MJPEG-AVI) are engaged by payload
    magic, and formats that genuinely need a native library raise
    ``NotImplementedError`` inside the executor task rather than
    fabricating output.

    ``image_decoder`` (``bytes -> (h, w, c) uint8 ndarray``) swaps the
    pixel codec under every pixel-inflating method (``decode`` /
    ``resize`` / ``image_stats`` / ``frame_stats``) without forking any
    operator — on a real cluster install PIL/libjpeg-turbo and inject
    it here; the pure-Python codecs stay the dependency-free default
    (and its measured throughput ceiling is published in SCALE.md)."""

    def __init__(self, spark: SparkSession,
                 image_decoder=None):
        self.spark = spark
        self.image_decoder = image_decoder

    def metadata(self, media: DataFrame) -> DataFrame:
        """Byte length + content hash — JVM built-ins only (the cheap
        100 TB metadata pass; no payload ever crosses to Python)."""
        from data_timeseries_java_spark.operators.multimodal import (
            attach_binary_metadata,
        )
        return attach_binary_metadata(media)

    def headers(self, media: DataFrame) -> DataFrame:
        """Format sniff + width/height/channels from header bytes alone
        (PNG IHDR walk, JPEG SOF scan — no inflate, no entropy decode)."""
        from data_timeseries_java_spark.operators.multimodal import (
            extract_image_headers,
        )
        return extract_image_headers(media)

    def decode(self, media: DataFrame) -> DataFrame:
        """Full pixel decode + feature extraction (PNG/JPEG real)."""
        from data_timeseries_java_spark.operators.multimodal import (
            decode_features,
        )
        return decode_features(media, decoder=self.image_decoder)

    def resize(self, media: DataFrame, width: int = 224,
               height: int = 224) -> DataFrame:
        """Decode → nearest-neighbor resize → re-encode PNG."""
        from data_timeseries_java_spark.operators.multimodal import (
            resize_images,
        )
        return resize_images(media, width, height,
                             decoder=self.image_decoder)

    def image_stats(self, media: DataFrame) -> DataFrame:
        """Exact (width, height, channels, pixel_sum) per image."""
        from data_timeseries_java_spark.operators.multimodal import (
            decode_image_stats,
        )
        return decode_image_stats(media, decoder=self.image_decoder)

    def frame_stats(self, media: DataFrame) -> DataFrame:
        """Demux video + per-frame pixel stats (MJPEG-AVI real)."""
        from data_timeseries_java_spark.operators.multimodal import (
            video_frame_stats,
        )
        return video_frame_stats(media, decoder=self.image_decoder)

    def frames(self, media: DataFrame, n_frames: int = 4) -> DataFrame:
        """Video frame sampling (MJPEG-AVI demuxed for real)."""
        from data_timeseries_java_spark.operators.multimodal import (
            sample_frames,
        )
        return sample_frames(media, n_frames)

    def audio(self, media: DataFrame) -> DataFrame:
        """WAV decode + waveform features (mean/RMS/zero crossings)."""
        from data_timeseries_java_spark.operators.multimodal import (
            audio_features,
        )
        return audio_features(media)

    def spectrum(self, media: DataFrame) -> DataFrame:
        """WAV decode + rFFT features (DC magnitude, dominant bin,
        spectral centroid)."""
        from data_timeseries_java_spark.operators.multimodal import (
            audio_spectrum,
        )
        return audio_spectrum(media)

    def resample(self, media: DataFrame,
                 target_col: str = "target_rate") -> DataFrame:
        """Sample-rate conversion: decode → linear-interpolate onto the
        per-row target rate → re-encode; emits the round-trip sum."""
        from data_timeseries_java_spark.operators.multimodal import (
            resample_audio,
        )
        return resample_audio(media, target_col)


class SeriesEngine:
    """Facade over the recursive/statistical series operators — the
    quant-desk companions to :class:`FXEngine`'s candle→correlation
    pipeline. Every method takes a per-key series frame
    (key, <time_col>, <value_col>) and returns the operator's frame;
    all are lazy plans (grouped-map pandas for the recursions, pure
    window/agg SQL for the rest) with DuckDB-oracle-checked semantics
    (queries/fx.py: fx_ema_returns, fx_holt_trend, fx_kalman_level,
    fx_garch_vol, fx_hurst, fx_half_life)."""

    def __init__(self, spark: SparkSession,
                 key_col: str = "key", time_col: str = "time",
                 value_col: str = "value") -> None:
        self.spark = spark
        self._cols = dict(key_col=key_col, time_col=time_col,
                          value_col=value_col)

    def ema(self, series: DataFrame, alpha: float = 0.2) -> DataFrame:
        from data_timeseries_java_spark.operators.ema import ema
        return ema(series, alpha=alpha, **self._cols)

    def holt(self, series: DataFrame, alpha: float = 0.25,
             beta: float = 0.125) -> DataFrame:
        from data_timeseries_java_spark.operators.ema import holt_linear
        return holt_linear(series, alpha=alpha, beta=beta, **self._cols)

    def kalman(self, series: DataFrame, q: float = 0.001,
               r: float = 0.01) -> DataFrame:
        from data_timeseries_java_spark.operators.ema import (
            kalman_local_level,
        )
        return kalman_local_level(series, q=q, r=r, **self._cols)

    def garch(self, returns: DataFrame, alpha: float = 0.125,
              beta: float = 0.75, omega: float = 0.000001) -> DataFrame:
        from data_timeseries_java_spark.operators.ema import garch_vol
        return garch_vol(returns, alpha=alpha, beta=beta, omega=omega,
                         **self._cols)


class MonitorEngine:
    """Data-observability facade: distribution drift, experiment
    readouts, and release-governance checks over arbitrary frames —
    the monitoring side of the engine (batch; the PSI monitor's
    streaming twin lives in streaming/drift_stream.py).

    Input contracts: ``psi``/``ks`` take a frame with (group, value,
    is_ref boolean); ``k_anonymity`` any frame plus the list of
    quasi-identifier columns."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def psi(self, tagged: DataFrame) -> DataFrame:
        """Population stability index over reference-fitted decile
        bins; columns (etype, value, is_ref) — see operators/drift."""
        from data_timeseries_java_spark.operators.drift import (
            psi_assemble,
            psi_bin_counts,
            psi_edges,
        )

        edges = psi_edges(tagged)
        return psi_assemble(psi_bin_counts(tagged, edges), edges)

    def k_anonymity(self, df: DataFrame, quasi_identifiers: list[str],
                    k: int = 5) -> DataFrame:
        """Equivalence-class size report over the released
        quasi-identifier columns; classes below k are at_risk."""
        from pyspark.sql import functions as F

        cls = (df.groupBy(*quasi_identifiers)
               .agg(F.count(F.lit(1)).cast("long").alias("class_size")))
        total = cls.agg(F.sum("class_size").cast("long")
                        .alias("n_total"))
        return (cls.crossJoin(F.broadcast(total))
                .select(*quasi_identifiers, "class_size",
                        (F.col("class_size") < k).alias("at_risk"),
                        F.round(F.col("class_size") / F.col("n_total"),
                                6).alias("row_share")))
