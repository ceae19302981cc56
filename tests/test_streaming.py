"""Streaming tier (SURVEY.md §5): batch/stream equivalence on bounded
input, with out-of-order delivery across micro-batches."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_timeseries_java_spark.fixtures import demo_tick_rows
from data_timeseries_java_spark.operators import complete_candles, ohlc_candles
from data_timeseries_java_spark.schemas import TICK_SCHEMA
from data_timeseries_java_spark.streaming import (
    streaming_complete_candles,
    streaming_ohlc_candles,
)
from data_timeseries_java_spark.streaming.replay import read_replay_sink


@pytest.fixture(scope="module")
def tick_dir(spark):
    """Demo ticks as a file-stream source: 3 files, rows shuffled within
    files so arrival order != event order inside a micro-batch."""
    d = tempfile.mkdtemp(prefix="ticks_stream_")
    rows = demo_tick_rows()
    # split by minute ranges so later files hold later windows (watermark
    # order across batches), but shuffle within each file
    import random
    rng = random.Random(7)
    buckets = [[], [], []]
    for r in rows:
        m = (r[1].minute) // 4  # minutes 0-3, 4-7, 8-9
        buckets[min(m, 2)].append(r)
    for i, b in enumerate(buckets):
        rng.shuffle(b)
        spark.createDataFrame(b, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/f{i}")
    # sentinel far-future tick: pushes the watermark past the last real
    # window so append mode flushes it (otherwise the final candle stays
    # in state forever — there is no later trigger to close it)
    from datetime import datetime, timezone
    sentinel = [("ZZ-SENTINEL",
                 datetime(2016, 6, 1, tzinfo=timezone.utc), 1.0, 1.0, True)]
    spark.createDataFrame(sentinel, TICK_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(f"{d}/f3")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, tick_dir, transform, name):
    src = (spark.readStream.schema(TICK_SCHEMA)
           .option("maxFilesPerTrigger", 1)
           .parquet(f"{tick_dir}/f*"))
    out = transform(src)
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name).where(~F.col("key").startswith("ZZ-"))


def _run_complete(spark, files, work_dir, universe=None):
    """Drive the complete-candle stream over ``files`` (one file per
    micro-batch) into ``work_dir``; its candle sink without the
    sentinel key."""
    src = (spark.readStream.schema(TICK_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(files))
    streaming_complete_candles(spark, src, str(work_dir), "120 seconds",
                               universe=universe).awaitTermination(120)
    return read_replay_sink(spark, f"{work_dir}/candles").where(
        ~F.col("key").startswith("ZZ-"))


def test_streaming_candles_match_batch(spark, tick_dir):
    src_batch = (spark.read.schema(TICK_SCHEMA).parquet(f"{tick_dir}/f*")
                 .where(~F.col("key").startswith("ZZ-")))
    batch = ohlc_candles(src_batch, "120 seconds").select(
        "key", "window_start",
        F.col("close.ask").alias("close_ask"),
        F.col("min_ask.ask").alias("mn"),
        F.col("max_ask.ask").alias("mx"),
    )
    stream = _run_stream(
        spark, tick_dir,
        lambda s: streaming_ohlc_candles(s, "120 seconds").select(
            "key", "window_start",
            F.col("close.ask").alias("close_ask"),
            F.col("min_ask.ask").alias("mn"),
            F.col("max_ask.ask").alias("mx"),
        ),
        "stream_candles")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert s == b
    assert len(s) == 23  # 5 keys x 5 windows minus TS-3/TS-4 gap window


def test_streaming_carry_forward_matches_batch(spark, tick_dir, tmp_path):
    from data_timeseries_java_spark.operators import gap_fill

    src_batch = (spark.read.schema(TICK_SCHEMA).parquet(f"{tick_dir}/f*")
                 .where(~F.col("key").startswith("ZZ-")))
    filled = gap_fill(src_batch, src_batch.select("key").distinct(),
                      "120 seconds")
    batch = complete_candles(ohlc_candles(filled, "120 seconds")).select(
        "key", "window_start",
        F.col("open.ask").alias("open_ask"),
        F.col("close.ask").alias("close_ask"),
    )
    stream = _run_complete(spark, f"{tick_dir}/f*", tmp_path).select(
        "key", "window_start", "open_ask", "close_ask")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert s == b
    # gap-filled: all 5 keys x 5 windows present, including TS-3/TS-4's
    # interior gap window
    assert len(s) == 25


@pytest.fixture(scope="module")
def sparse_tick_dir(spark):
    """Fixture where key B is absent from the FIRST and LAST active
    windows (leading + trailing global gaps): A ticks in windows 0,1,2;
    B only in window 1."""
    from datetime import datetime, timezone

    d = tempfile.mkdtemp(prefix="ticks_sparse_")
    t = lambda m, s=0: datetime(2016, 5, 1, 0, m, s, tzinfo=timezone.utc)
    f0 = [("A", t(0, 10), 1.0, 1.1, True),
          ("A", t(1, 50), 1.2, 1.3, True)]
    f1 = [("A", t(2, 10), 1.4, 1.5, True),
          ("B", t(2, 20), 9.0, 9.1, True),
          ("A", t(3, 30), 1.6, 1.7, True)]
    f2 = [("A", t(4, 10), 1.8, 1.9, True),
          ("A", t(5, 30), 2.0, 2.1, True)]
    f3 = [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
           1.0, 1.0, True)]
    import glob as _glob
    import os as _os
    import time as _t
    base = _t.time() - 1000
    for i, rows in enumerate([f0, f1, f2, f3]):
        spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/f{i}")
        for p in _glob.glob(f"{d}/f{i}/*"):
            _os.utime(p, (base + i * 10, base + i * 10))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_global_gapfill_matches_batch(spark, sparse_tick_dir,
                                                tmp_path):
    """Leading/trailing global gaps: with the universe passed, key B
    must get gap candles in windows where only A ticked — before B's
    first tick (0.0-price) and after its last (carry-forward) — exactly
    matching the batch pipeline."""
    from data_timeseries_java_spark.operators import gap_fill

    src_batch = (spark.read.schema(TICK_SCHEMA)
                 .parquet(f"{sparse_tick_dir}/f*")
                 .where(~F.col("key").startswith("ZZ-")))
    filled = gap_fill(src_batch, src_batch.select("key").distinct(),
                      "120 seconds")
    batch = complete_candles(ohlc_candles(filled, "120 seconds")).select(
        "key", "window_start", "is_live",
        F.col("open.ask").alias("open_ask"),
        F.col("close.ask").alias("close_ask"),
        F.col("min_ask.ask").alias("mn"),
        F.col("max_bid.bid").alias("mxb"),
    )
    stream = _run_complete(spark, f"{sparse_tick_dir}/f*", tmp_path,
                           ["A", "B"]).select(
        "key", "window_start", "is_live",
        "open_ask", "close_ask",
        F.col("min_ask").alias("mn"),
        F.col("max_bid").alias("mxb"))
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert s == b
    # 2 keys x 3 windows: B has a leading gap (w0) and a trailing gap (w2)
    assert len(s) == 6


def test_streaming_global_gapfill_skips_empty_windows(spark, tmp_path):
    """A window in which NO instrument ticked produces no candles at all
    (batch gap_fill only fills windows some instrument observed) — the
    complete-candle stream must not fabricate it."""
    from datetime import datetime, timezone

    from data_timeseries_java_spark.operators import gap_fill

    d = str(tmp_path)
    t = lambda m, s=0: datetime(2016, 5, 1, 0, m, s, tzinfo=timezone.utc)
    # A ticks in windows 0 and 3; B only in window 0; windows 1-2 empty
    f0 = [("A", t(0, 10), 1.0, 1.1, True), ("B", t(1, 30), 9.0, 9.1, True)]
    f1 = [("A", t(6, 40), 1.4, 1.5, True)]
    f2 = [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
           1.0, 1.0, True)]
    import glob as _glob
    import os as _os
    import time as _t
    base = _t.time() - 1000
    for i, rows in enumerate([f0, f1, f2]):
        spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/h{i}")
        for p in _glob.glob(f"{d}/h{i}/*"):
            _os.utime(p, (base + i * 10, base + i * 10))

    stream = _run_complete(spark, f"{d}/h*", f"{d}/work",
                           ["A", "B"]).select(
        "key", "window_start", "is_live",
        "open_ask", "close_ask")

    src_batch = (spark.read.schema(TICK_SCHEMA).parquet(f"{d}/h*")
                 .where(~F.col("key").startswith("ZZ-")))
    filled = gap_fill(src_batch, src_batch.select("key").distinct(),
                      "120 seconds")
    batch = complete_candles(ohlc_candles(filled, "120 seconds")).select(
        "key", "window_start", "is_live",
        F.col("open.ask").alias("open_ask"),
        F.col("close.ask").alias("close_ask"))
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert s == b
    # 2 observed windows x 2 keys; nothing for the empty windows 1-2
    assert len(s) == 4


def test_multimodal_operators_compose_with_streams(spark, tmp_path):
    """The codec tier is mapInPandas end to end, so the SAME operators
    run unchanged over a streaming source — the shape a live media
    ingest pipeline needs (file/bus stream of payloads → decode →
    sink). Pin it: decode_features over a payload file stream equals
    the batch pass over the same files."""
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.operators.multimodal import (
        decode_features,
        synthesize_png_media,
    )

    d = str(tmp_path)
    ids = spark.range(8).select(F.col("id").alias("media_id"))
    media = synthesize_png_media(ids).withColumn(
        "modality", F.lit("image"))
    media.coalesce(1).write.parquet(f"{d}/m/f0")

    batch = {(r.media_id, r.width, r.height, round(r.feature[0], 6))
             for r in decode_features(
                 spark.read.parquet(f"{d}/m/f0")).collect()}

    src = (spark.readStream.schema(media.schema)
           .option("maxFilesPerTrigger", 1).parquet(f"{d}/m/f*"))
    q = (decode_features(src).writeStream.format("memory")
         .queryName("media_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream = {(r.media_id, r.width, r.height, round(r.feature[0], 6))
              for r in spark.table("media_stream").collect()}
    assert stream == batch and len(stream) == 8


def test_scd2_intervals_partition_the_timeline(spark, sf_dir):
    """SCD2 structural invariants the value-hash oracle can't state:
    per user, versions number 1..K consecutively; intervals are
    adjacent ([valid_from, valid_to] ends exactly 1ms before the next
    valid_from); the attribute CHANGES at every boundary (no
    zero-length or no-op versions); exactly one open current row per
    user (NULL valid_to) and it is the last version."""
    from data_timeseries_java_spark.queries.relational_ext import (
        q_scd2_history,
    )

    rows = q_scd2_history(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for uid, vs in by_user.items():
        vs.sort(key=lambda r: r.version)
        assert [v.version for v in vs] == list(range(1, len(vs) + 1))
        opens = [v for v in vs if v.is_current]
        assert len(opens) == 1 and opens[0] is vs[-1], uid
        assert vs[-1].valid_to_ms is None
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to_ms == b.valid_from_ms - 1, uid
            assert a.attr != b.attr, (uid, a.version)
