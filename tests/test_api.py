"""Facade parity: FXEngine.run with the demo's option overrides matches
the stage-by-stage pipeline, and reference defaults apply the 0.5
threshold."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_timeseries_java_spark.api import FXEngine, PipelineOptions
from data_timeseries_java_spark.fixtures import demo_instruments, demo_ticks
from data_timeseries_java_spark.operators.multimodal import (
    decode_features,
    documents_as_media,
)


def test_engine_run_demo_options(spark):
    opts = PipelineOptions(min_corr_value=0.0, propagate_nan=True,
                           include_underlying=True)
    out = FXEngine(spark, opts).run(demo_ticks(spark), demo_instruments(spark))
    rows = out.collect()
    assert rows
    # demo options carry the underlying arrays (Correlation proto's
    # xValues/yValues)
    assert all(len(r.x_values) == r.x_count for r in rows)
    full = [r for r in rows if r.x_count == 5]
    assert full


def test_engine_reference_defaults_threshold(spark):
    out = FXEngine(spark).run(demo_ticks(spark), demo_instruments(spark))
    rows = out.collect()
    # defaults: min |r| = 0.5, NaN dropped
    assert all(abs(r.value) >= 0.5 and not r.is_nan for r in rows)


def test_engine_large_universe_switch(spark):
    opts = PipelineOptions(min_corr_value=0.0, propagate_nan=True,
                           large_universe=True)
    small = FXEngine(spark, PipelineOptions(min_corr_value=0.0,
                                            propagate_nan=True))
    large = FXEngine(spark, opts)
    ticks, dims = demo_ticks(spark), demo_instruments(spark)
    a = {(r.window_start, r.key1, r.key2): round(r.value, 9)
         for r in small.run(ticks, dims).collect()}
    b = {(r.window_start, r.key1, r.key2): round(r.value, 9)
         for r in large.run(ticks, dims).collect()}
    assert a == b


def test_multimodal_decode_batch_shape(spark, sf_dir):
    from data_timeseries_java_spark.tables import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    feats = decode_features(media)
    rows = feats.limit(5).collect()
    assert rows
    for r in rows:
        assert r.n_frames == 1 and r.width >= 16 and r.height >= 16
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-6  # L1-normalized histogram


def test_media_engine_facade(spark):
    """MediaEngine facade routes each modality to its real codec and
    matches the declared media queries' operators on the same input."""
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.api import MediaEngine
    from data_timeseries_java_spark.operators.multimodal import (
        synthesize_avi_media,
        synthesize_png_media,
        synthesize_wav_media,
    )

    eng = MediaEngine(spark)
    ids = spark.range(6).select(F.col("id").alias("media_id"))

    png = synthesize_png_media(ids).withColumn("modality", F.lit("image"))
    meta = {r.media_id: r for r in eng.metadata(png).collect()}
    assert all(meta[i].byte_len > 0 for i in range(6))
    heads = {r.media_id: r for r in eng.headers(png).collect()}
    assert all(heads[i].format == "png" and heads[i].width == 4 + i % 13
               for i in range(6))
    feats = {r.media_id: r for r in eng.decode(png).collect()}
    assert all(feats[i].width == 4 + i % 13 for i in range(6))
    resized = eng.resize(png, 8, 6).collect()
    assert all(r.width == 8 and r.height == 6 for r in resized)

    wav = synthesize_wav_media(ids)
    assert {r.media_id: r.zero_crossings
            for r in eng.audio(wav).collect()} == \
        {i: 2 * (32 + i % 64) - 1 for i in range(6)}
    # square wave d ± a: all spectral energy sits at Nyquist (bin n/2)
    spec = {r.media_id: r for r in eng.spectrum(wav).collect()}
    assert all(spec[i].dominant_bin == (2 * (32 + i % 64)) // 2
               and spec[i].dominant_mag == 100 + i % 100
               and spec[i].spectral_centroid == spec[i].sample_rate / 2
               for i in range(6))

    from data_timeseries_java_spark.operators.multimodal import (
        synthesize_ramp_wav_media,
    )
    ramp = synthesize_ramp_wav_media(ids)
    res = {r.media_id: r for r in eng.resample(ramp).collect()}
    assert all(res[i].target_rate == 4000 + 1000 * (i % 5)
               and res[i].n_out == (res[i].n_in - 1)
               * res[i].target_rate // 8000 + 1
               for i in range(6))

    avi = synthesize_avi_media(ids).withColumn("modality", F.lit("video"))
    frames = eng.frames(avi, n_frames=2).collect()
    assert len(frames) == 12 and all(
        bytes(r.frame)[:2] == b"\xff\xd8" for r in frames)


def test_media_engine_pluggable_decoder(spark):
    """A 'native' decoder injected through MediaEngine(image_decoder=)
    replaces the pure-Python codec under every pixel-inflating method
    without forking operators: a delegating stub produces IDENTICAL
    downstream rows, and a pixel-shifting stub provably runs (stats
    shift by exactly w*h), on both the image and the video path."""
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.api import MediaEngine
    from data_timeseries_java_spark.operators.multimodal import (
        synthesize_avi_media,
        synthesize_png_media,
    )

    def native_like(payload):
        # stands in for PIL/libjpeg-turbo: same (h, w, c) uint8 contract
        from data_timeseries_java_spark.functions.png import decode_image
        return decode_image(payload)

    def shifted(payload):
        from data_timeseries_java_spark.functions.png import decode_image
        px = decode_image(payload)
        return (px.astype("int32") + 1).clip(max=255).astype("uint8")

    ids = spark.range(6).select(F.col("id").alias("media_id"))
    png = synthesize_png_media(ids).withColumn("modality", F.lit("image"))
    avi = synthesize_avi_media(ids).withColumn("modality", F.lit("video"))

    default_eng = MediaEngine(spark)
    native_eng = MediaEngine(spark, image_decoder=native_like)
    shift_eng = MediaEngine(spark, image_decoder=shifted)

    for method, data in (("image_stats", png), ("decode", png),
                         ("resize", png), ("frame_stats", avi)):
        want = sorted(map(tuple, getattr(default_eng, method)(data).collect()))
        got = sorted(map(tuple, getattr(native_eng, method)(data).collect()))
        assert got == want, method

    # the injected codec is genuinely on the data path: +1 per pixel
    # shifts pixel_sum by exactly width*height*channels
    base = {r.media_id: r for r in default_eng.image_stats(png).collect()}
    shift = {r.media_id: r for r in shift_eng.image_stats(png).collect()}
    for i in base:
        b, s = base[i], shift[i]
        # gradient pixels stay < 255 for small ids, so no clipping
        assert s.pixel_sum == b.pixel_sum + b.width * b.height * b.channels


def test_engine_changepoints(spark):
    """FXEngine.changepoints runs the CUSUM detector over the engine's
    own return stream and carries the expected columns."""
    from data_timeseries_java_spark.api import FXEngine, PipelineOptions
    from data_timeseries_java_spark.fixtures import demo_ticks

    eng = FXEngine(spark, PipelineOptions(candle_resolution="120 seconds"))
    r = eng.returns(eng.complete_candles(demo_ticks(spark)))
    cp = eng.changepoints(r, threshold=0.1)
    rows = cp.collect()
    assert rows and set(cp.columns) == {
        "key", "time", "cusum_pos", "cusum_neg", "alarm_pos", "alarm_neg"}
    assert all(r2.cusum_pos >= 0 and r2.cusum_neg >= 0 for r2 in rows)


def test_series_engine_facade(spark, sf_dir):
    """SeriesEngine wires the recursive operators with consistent
    column mapping; spot-check EMA/Holt/Kalman/GARCH produce their
    declared columns and row counts on the candle close series."""
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.api import SeriesEngine
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.tables import events_as_ticks

    ticks = events_as_ticks(spark, sf_dir)
    c = candles_pipeline(ticks, ticks.select("key").distinct(), "1 hour")
    series = c.select("key", F.col("window_start").alias("time"),
                      F.col("close.ask").alias("value"))
    n = series.count()
    eng = SeriesEngine(spark)
    assert eng.ema(series).count() == n
    h = eng.holt(series)
    assert {"level", "trend"} <= set(h.columns) and h.count() == n
    k = eng.kalman(series)
    assert {"kf_level", "kf_gain", "kf_var"} <= set(k.columns)
    g = eng.garch(series)
    assert {"garch_var", "garch_vol"} <= set(g.columns) and g.count() == n
