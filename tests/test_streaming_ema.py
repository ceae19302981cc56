"""Streaming EMA: cross-batch state continuity vs a pandas ewm oracle
over the full series."""

from __future__ import annotations

import glob
import os
import time as _time
from datetime import datetime, timezone

from data_timeseries_java_spark.schemas import TICK_SCHEMA


def test_streaming_ema_applyinpandas_matches_pandas(spark, tmp_path):
    """The dependency-free state API runs the same EMA recursion."""
    import pandas as pd

    from data_timeseries_java_spark.streaming.ema_stream import (
        streaming_ema_applyinpandas,
    )

    d = str(tmp_path)
    t = lambda m: datetime(2024, 8, 2, 0, m, tzinfo=timezone.utc)
    prices = [5.0, 9.0, 7.0, 11.0, 8.0, 10.0]
    rows = [("K", t(m), p, p, True) for m, p in enumerate(prices)]
    base = _time.time() - 1000
    for i, chunk in enumerate([rows[:2], rows[2:4], rows[4:]]):
        spark.createDataFrame(chunk, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/f{i}")
        for p in glob.glob(f"{d}/f{i}/*"):
            os.utime(p, (base + i * 10, base + i * 10))
    src = (spark.readStream.schema(TICK_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(f"{d}/f*"))
    out = streaming_ema_applyinpandas(src, alpha=0.4)
    q = (out.writeStream.format("memory").queryName("ema_aip")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.event_time: r.ema for r in spark.table("ema_aip").collect()}
    want = pd.Series(prices).ewm(alpha=0.4, adjust=False).mean()
    assert len(got) == len(prices)
    for m, w in enumerate(want):
        assert abs(got[t(m).replace(tzinfo=None)] - w) < 1e-12


def test_reordered_ema_out_of_order_and_straggler_drop(spark, tmp_path):
    """The watermark-buffered reorder stage: (1) a row delivered one
    micro-batch late but within D folds in correct event-time order
    (the EMIT half), and (2) a straggler beyond D is DROPPED, never
    folded out of order (the DROP half). The oracle is pandas ewm over
    the in-order series with the beyond-D row excluded."""
    import pandas as pd

    from data_timeseries_java_spark.streaming.reorder import reordered_ema

    d = str(tmp_path)
    t = lambda m: datetime(2024, 8, 3, 0, m, tzinfo=timezone.utc)
    # minutes 0..7; minute 2 arrives one batch late (within D=3 min);
    # minute 1 arrives in the LAST batch, when the watermark (7-3=4min)
    # has already folded past it -> must be dropped
    schema = "key string, event_time timestamp, value double"
    prices = {m: float(10 + m) for m in range(8)}
    batches = [
        [("K", t(0), prices[0]), ("K", t(3), prices[3])],
        [("K", t(2), prices[2]), ("K", t(4), prices[4]),
         ("K", t(5), prices[5])],
        [("K", t(6), prices[6]), ("K", t(7), prices[7])],
        [("K", t(1), prices[1]),                      # beyond-D straggler
         ("K", datetime(2024, 8, 3, 2, 0, tzinfo=timezone.utc),
          0.0)],                                      # watermark flusher
    ]
    base = _time.time() - 1000
    for i, chunk in enumerate(batches):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/f{i}")
        for p in glob.glob(f"{d}/f{i}/*"):
            os.utime(p, (base + i * 10, base + i * 10))
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(f"{d}/f*"))
    out = reordered_ema(src, alpha=0.3, price_col="value",
                        watermark="3 minutes")
    q = (out.writeStream.format("memory").queryName("ema_reord")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.event_time: r.ema
           for r in spark.table("ema_reord").collect()
           if r.event_time < datetime(2024, 8, 3, 1, 0)}
    # in-order series WITHOUT minute 1 (dropped) — includes minute 2
    # (late but within D, must have folded in position)
    kept = [prices[m] for m in range(8) if m != 1]
    want = pd.Series(kept).ewm(alpha=0.3, adjust=False).mean()
    assert len(got) == len(kept)
    for (m, w) in zip([m for m in range(8) if m != 1], want):
        assert abs(got[t(m).replace(tzinfo=None)] - w) < 1e-12
