"""Checkpoint recovery: a restarted streaming query resumes from its
checkpoint and its sink — carry-forward survives the restart."""

from __future__ import annotations

import glob
import os
import time as _time
from datetime import datetime, timezone

from pyspark.sql import functions as F

from data_timeseries_java_spark.schemas import TICK_SCHEMA
from data_timeseries_java_spark.streaming import streaming_complete_candles


def _write(spark, path, rows, mtime):
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(path)
    for p in glob.glob(f"{path}/*"):
        os.utime(p, (mtime, mtime))


def test_carry_forward_state_survives_restart(spark, tmp_path):
    d = str(tmp_path)
    t = lambda m: datetime(2024, 6, 1, 0, m, tzinfo=timezone.utc)
    base = _time.time() - 1000

    # run 1: minutes 0..5 → candles [0,2) and [2,4) finalize
    _write(spark, f"{d}/in/f0",
           [("K", t(0), 10.0, 10.0, True), ("K", t(1), 11.0, 11.0, True),
            ("K", t(3), 12.0, 12.0, True)], base)
    _write(spark, f"{d}/in/f1", [("K", t(5), 13.0, 13.0, True)], base + 10)

    def start():
        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        return streaming_complete_candles(spark, src, d, "120 seconds")

    q = start()
    q.awaitTermination(120)

    # run 2 (fresh query object, same checkpoint): minutes 7 + sentinel.
    # Window [4,6) closes; its open must equal run 1's close (12.0→13.0
    # chain), proving carry-forward survived the restart.
    _write(spark, f"{d}/in/f2",
           [("K", t(7), 14.0, 14.0, True),
            ("K", datetime(2024, 6, 2, tzinfo=timezone.utc), 1.0, 1.0, True)],
           base + 20)
    q2 = start()
    q2.awaitTermination(120)

    rows = {r.window_start.minute: r for r in
            spark.read.parquet(f"{d}/candles").where(F.col("key") == "K").collect()}
    assert set(rows) >= {0, 2, 4, 6}
    assert rows[4].open_ask == 12.0   # carried from run 1's last close
    assert rows[4].close_ask == 13.0
    assert rows[6].open_ask == 13.0   # chain continues across restart
    assert rows[6].close_ask == 14.0
