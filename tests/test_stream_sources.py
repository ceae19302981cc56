"""Message-bus ingestion: the wire-format parse transform drives the
full streaming candle pipeline to the same goldens as batch, with
out-of-order delivery across micro-batches (VERDICT r1 #7 — the
production swap-in the reference names for live data)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time as _time

import pytest
from pyspark.sql import functions as F

from data_timeseries_java_spark.fixtures import demo_tick_rows
from data_timeseries_java_spark.operators import (
    complete_candles,
    gap_fill,
    ohlc_candles,
)
from data_timeseries_java_spark.schemas import TICK_SCHEMA
from data_timeseries_java_spark.sources import (
    encode_bus_records,
    parse_bus_records,
    replay_bus_capture,
)
from data_timeseries_java_spark.streaming import streaming_complete_candles
from data_timeseries_java_spark.streaming.replay import read_replay_sink


@pytest.fixture(scope="module")
def bus_capture_dir(spark):
    """Demo ticks as a captured wire-format feed: JSON payloads in
    binary value column, 3 replay files, rows shuffled within files so
    arrival order != event order inside each micro-batch."""
    import random
    from datetime import datetime, timezone

    d = tempfile.mkdtemp(prefix="bus_capture_")
    rows = demo_tick_rows()
    rng = random.Random(11)
    buckets = [[], [], []]
    for r in rows:
        m = r[1].minute // 4
        buckets[min(m, 2)].append(r)
    base = _time.time() - 1000
    for i, b in enumerate(buckets):
        rng.shuffle(b)
        ticks = spark.createDataFrame(b, TICK_SCHEMA)
        encode_bus_records(ticks).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/f{i}")
        for p in glob.glob(f"{d}/f{i}/*"):
            os.utime(p, (base + i * 10, base + i * 10))
    sentinel = spark.createDataFrame(
        [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
          1.0, 1.0, True)], TICK_SCHEMA)
    encode_bus_records(sentinel).coalesce(1).write.mode(
        "overwrite").parquet(f"{d}/f3")
    for p in glob.glob(f"{d}/f3/*"):
        os.utime(p, (base + 40, base + 40))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_bus_roundtrip_preserves_ticks(spark):
    rows = demo_tick_rows()
    ticks = spark.createDataFrame(rows, TICK_SCHEMA)
    back = parse_bus_records(encode_bus_records(ticks))
    a = {tuple(r) for r in ticks.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_malformed_payloads_are_dropped(spark):
    recs = spark.createDataFrame(
        [(bytearray(b"k1"), bytearray(b'{"key":"A","time":1000,"bid":1.0,"ask":1.1}')),
         (bytearray(b"k2"), bytearray(b"not json at all")),
         (bytearray(b"k3"), bytearray(b'{"bid": 2.0}'))],  # missing key/time
        "key binary, value binary")
    out = parse_bus_records(recs).collect()
    assert len(out) == 1 and out[0].key == "A"


def test_bus_stream_candles_match_batch(spark, bus_capture_dir, tmp_path):
    """Replay the capture through the bus parse into the complete-candle
    stream; output must equal the batch pipeline on the same ticks —
    the reference's TS-1..TS-5 demo goldens transitively."""
    src = replay_bus_capture(spark, bus_capture_dir + "/f*",
                             max_files_per_trigger=1)
    streaming_complete_candles(spark, src, str(tmp_path),
                               "120 seconds").awaitTermination(120)
    stream = read_replay_sink(spark, f"{tmp_path}/candles").select(
        "key", "window_start", "open_ask", "close_ask", "is_live").where(
        ~F.col("key").startswith("ZZ-"))

    rows = demo_tick_rows()
    batch_src = spark.createDataFrame(rows, TICK_SCHEMA)
    filled = gap_fill(batch_src, batch_src.select("key").distinct(),
                      "120 seconds")
    batch = complete_candles(ohlc_candles(filled, "120 seconds")).select(
        "key", "window_start",
        F.col("open.ask").alias("open_ask"),
        F.col("close.ask").alias("close_ask"),
        "is_live")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert s == b
    assert len(s) == 25
