"""Streaming benchmark (r3 verdict ask #5): replay the sf0.1 feed
through every streaming operator and measure steady-state micro-batch
wall time, throughput, and state-store size.

Replay shape: the events table (as ticks / raw events) and the
documents table are split time-ordered into N_FILES parquet files; each
operator consumes them as a file stream with ``maxFilesPerTrigger=1``
under ``availableNow`` — so a run is N_FILES micro-batches of roughly
equal input volume, matching the arrival-ordered feed a broker would
deliver. Metrics come from Spark's own ``StreamingQuery.recentProgress``
(batchDuration, numInputRows, stateOperators.numRowsTotal) — not
driver-side stopwatches — so foreachBatch pipelines report the same way
as native stateful operators.

Prints ONE JSON line:
  {"metric": "streaming micro-batch wall-clock", "unit": "ms",
   "operators": {name: {batches, median_batch_ms, max_batch_ms,
                        rows_per_sec, state_rows}}, "sf": ...}

The medians land in SCALE.md "Streaming state" as the measured backing
for its O(keys) state claims.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_FILES = 8


def _progress_metrics(query) -> dict:
    """Summarize recentProgress once the query terminates."""
    batches = []
    state_rows = 0
    rows = 0
    secs = 0.0
    for p in query.recentProgress:
        n = p.get("numInputRows", 0)
        dur = p.get("durationMs", {}).get("triggerExecution")
        if dur is None or n == 0:
            continue  # empty bookkeeping triggers
        batches.append(dur)
        rows += n
        secs += dur / 1000.0
        for so in p.get("stateOperators", []) or []:
            state_rows = max(state_rows, so.get("numRowsTotal", 0))
    half = len(batches) // 2
    return {
        "batches": len(batches),
        "median_batch_ms": round(statistics.median(batches), 1) if batches else None,
        "max_batch_ms": max(batches) if batches else None,
        # flatness probe: a stateful operator whose state (or per-key
        # history) grows with the run shows late >> early
        "early_half_median_ms": round(statistics.median(batches[:half]), 1)
        if half else None,
        "late_half_median_ms": round(statistics.median(batches[half:]), 1)
        if half else None,
        "rows_per_sec": round(rows / secs, 1) if secs else None,
        "state_rows": state_rows,
    }


def _run(out_df_or_query, name: str, spark):
    """Drive a streaming DataFrame (memory sink) or an already-started
    query (foreachBatch pipelines) to completion; return metrics."""
    from pyspark.sql import DataFrame

    if isinstance(out_df_or_query, DataFrame):
        q = (out_df_or_query.writeStream.format("noop")
             .queryName(name)
             .outputMode("append")
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
             .trigger(availableNow=True).start())
    else:
        q = out_df_or_query
    q.awaitTermination(600)
    m = _progress_metrics(q)
    q.stop()
    return m


def _write_replay(spark, sf_dir: str, root: str) -> tuple[str, str, str]:
    """Split events (as ticks + raw) and documents into N_FILES
    time-ordered files each; documents get a synthetic event time
    (base + doc_id seconds — the table has no timestamp column)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.tables import events_as_ticks, load_table

    ticks_dir = f"{root}/ticks"
    events_dir = f"{root}/events"
    docs_dir = f"{root}/docs"

    ticks = events_as_ticks(spark, sf_dir).withColumn(
        "_f", F.ntile(N_FILES).over(Window.orderBy("event_time")))
    for i in range(1, N_FILES + 1):
        (ticks.where(F.col("_f") == i).drop("_f").coalesce(1)
         .write.mode("overwrite").parquet(f"{ticks_dir}/f{i:02d}"))

    ev = load_table(spark, sf_dir, "events").withColumn(
        "_f", F.ntile(N_FILES).over(Window.orderBy("ts")))
    for i in range(1, N_FILES + 1):
        (ev.where(F.col("_f") == i).drop("_f").coalesce(1)
         .write.mode("overwrite").parquet(f"{events_dir}/f{i:02d}"))

    docs = (load_table(spark, sf_dir, "documents")
            .withColumn("ts", F.timestamp_seconds(
                F.lit(1460000000) + F.col("doc_id"))))
    docs = docs.withColumn(
        "_f", (F.col("doc_id") % N_FILES) + 1)
    for i in range(1, N_FILES + 1):
        (docs.where(F.col("_f") == i).drop("_f").coalesce(1)
         .write.mode("overwrite").parquet(f"{docs_dir}/f{i:02d}"))
    return ticks_dir, events_dir, docs_dir


ASOF_KEYS = 10_000
ASOF_BATCHES = 16


def _write_asof_wide(spark, root: str) -> tuple[str, str]:
    """Two-stream fixture for the wide as-of state stress: ASOF_KEYS
    instrument keys x ASOF_BATCHES one-minute batches. Left = one row
    per key per batch; right = one quote per key every 4 batches. Rows
    carry a per-(key, batch) md5 jitter of 0-30 s and each file is
    written in md5 order, so arrival is out-of-order WITHIN every
    micro-batch (the 2-minute watermark keeps the disorder inside the
    unsealed horizon — nothing is dropped)."""
    from pyspark.sql import functions as F

    base_ms = 1_460_000_000_000
    left_dir = f"{root}/asof_left"
    right_dir = f"{root}/asof_right"
    jitter = (F.conv(F.substring(F.md5(F.concat_ws(
        ":", "k", "b")), 1, 8), 16, 10).cast("long") % 30_000)
    keys = F.concat(F.lit("K"), F.format_string("%05d", F.col("k")))
    base = time.time() - 10_000
    for b in range(ASOF_BATCHES):
        rows = (spark.range(ASOF_KEYS).select(
            F.col("id").alias("k"), F.lit(b).alias("b"))
            .select(
                keys.alias("key"),
                F.timestamp_millis(F.lit(base_ms + b * 60_000) + jitter)
                .alias("event_time"),
                (F.col("k") + F.lit(float(b))).cast("double").alias("qty")))
        (rows.orderBy(F.md5(F.concat_ws("|", "key")))
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{left_dir}/f{b:02d}"))
        quotes = (spark.range(ASOF_KEYS).select(
            F.col("id").alias("k"), F.lit(b).alias("b"))
            .where((F.col("k") + b) % 4 == 0)
            .select(
                keys.alias("key"),
                F.timestamp_millis(F.lit(base_ms + b * 60_000 + 5_000)
                                   + jitter).alias("event_time"),
                (F.col("k") * 2.0).cast("double").alias("px")))
        (quotes.orderBy(F.md5(F.concat_ws("|", "key")))
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{right_dir}/f{b:02d}"))
        import glob as _glob
        import os as _os
        for d in (left_dir, right_dir):
            for p in _glob.glob(f"{d}/f{b:02d}/*"):
                _os.utime(p, (base + b * 10, base + b * 10))
    return left_dir, right_dir


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import functions as F

    from data_timeseries_java_spark import get_spark
    from data_timeseries_java_spark.schemas import TICK_SCHEMA
    from data_timeseries_java_spark.streaming.quantile_stream import (
        streaming_grid_quantiles,
    )
    from data_timeseries_java_spark.streaming import (
        streaming_anomalies,
        streaming_asof_join,
        streaming_asof_join_bucketed,
        streaming_complete_candles,
        streaming_correlations,
        streaming_cms_topk,
        streaming_ema_applyinpandas,
        streaming_garch,
        streaming_holt,
        streaming_kalman,
        streaming_macd,
        streaming_ohlc_candles,
        streaming_realized_volatility,
        streaming_sessions,
    )

    spark = get_spark("bench-stream")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="bench_stream_")
    work = tempfile.mkdtemp(prefix="bench_stream_work_")
    ticks_dir, events_dir, docs_dir = _write_replay(spark, sf_dir, root)
    asof_left, asof_right = _write_asof_wide(spark, root)

    tick_src = lambda: (spark.readStream.schema(TICK_SCHEMA)  # noqa: E731
                        .option("maxFilesPerTrigger", 1)
                        .parquet(f"{ticks_dir}/f*"))
    ev_schema = spark.read.parquet(f"{events_dir}/f01").schema
    ev_src = lambda: (spark.readStream.schema(ev_schema)  # noqa: E731
                      .option("maxFilesPerTrigger", 1)
                      .parquet(f"{events_dir}/f*"))
    doc_schema = spark.read.parquet(f"{docs_dir}/f01").schema
    doc_src = lambda: (spark.readStream.schema(doc_schema)  # noqa: E731
                       .option("maxFilesPerTrigger", 1)
                       .parquet(f"{docs_dir}/f*"))
    returns_src = lambda: (tick_src()  # noqa: E731
                           .select("key", F.col("event_time").alias("time"),
                                   F.log("ask").alias("value")))
    # instrument universe for the global gap-fill of the complete-candle
    # stream and the fx pipeline (events are a SPARSE feed: without it,
    # keys that first tick late lack batch's leading gap candles)
    universe = [r.key for r in
                spark.read.parquet(f"{ticks_dir}/f*")
                .select("key").distinct().collect()]

    # (name, builder) — builder returns a streaming DataFrame or a
    # started StreamingQuery (foreachBatch pipelines)
    ops = [
        ("ohlc_candles", lambda: streaming_ohlc_candles(
            tick_src(), "120 seconds")),
        ("complete_candles_state", lambda: streaming_complete_candles(
            spark, tick_src(), f"{work}/candles", "120 seconds",
            universe=universe)),
        ("ema_state", lambda: streaming_ema_applyinpandas(
            tick_src())),
        # recursive series family (round 7): same keyed-state shape as
        # EMA with richer per-row state tuples
        ("holt_state", lambda: streaming_holt(
            tick_src(), price_col="ask")),
        ("kalman_state", lambda: streaming_kalman(
            tick_src(), price_col="ask")),
        ("garch_state", lambda: streaming_garch(
            tick_src(), price_col="ask")),
        ("macd_state", lambda: streaming_macd(
            tick_src(), price_col="ask")),
        ("sessions", lambda: streaming_sessions(
            ev_src(), "user_id", "ts", "30 minutes")),
        # round 8 session 2: count-based tick bars — the non-time-window
        # aggregation; state = total count + in-flight partial bar
        ("tick_bars_state", lambda: __import__(
            "data_timeseries_java_spark.streaming.bars_stream",
            fromlist=["streaming_tick_bars"]).streaming_tick_bars(
            tick_src(), bar_size=50)),
        # round 8 session 2: anchored VWAP keyed state — two numbers
        # per key forever (reset on day rollover); fed at tick
        # granularity (each tick is a volume-1 window row), the
        # worst-case row rate for this operator
        ("vwap_state", lambda: __import__(
            "data_timeseries_java_spark.streaming.vwap_stream",
            fromlist=["streaming_anchored_vwap"]).streaming_anchored_vwap(
            tick_src().select(
                "key", "event_time",
                F.col("ask").alias("sum_price"),
                F.lit(1).cast("long").alias("volume")))),
        ("realized_vol", lambda: streaming_realized_volatility(
            returns_src(), "1 hour")),
        ("asof_join_state", lambda: streaming_asof_join(
            tick_src().select("key", "event_time",
                              F.col("ask").alias("qty")),
            tick_src().where(F.minute("event_time") % 5 == 0)
            .select("key", "event_time", F.col("bid").alias("px")),
            watermark="10 minutes")),
        # 10k-key out-of-order stress: state must stay O(keys) (one
        # state row per key; per-key history bounded by the watermark
        # horizon, not the run length) and trigger time must stay flat
        # as history grows — late_half_median_ms vs early_half_median_ms
        ("asof_join_wide_state", lambda: streaming_asof_join(
            (spark.readStream
             .schema("key string, event_time timestamp, qty double")
             .option("maxFilesPerTrigger", 1)
             .parquet(f"{asof_left}/f*")),
            (spark.readStream
             .schema("key string, event_time timestamp, px double")
             .option("maxFilesPerTrigger", 1)
             .parquet(f"{asof_right}/f*")),
            watermark="2 minutes")),
        # same 10k-key stress through the hash-bucketed state variant:
        # 64 state groups instead of 10k, one vectorized merge_asof per
        # bucket per trigger — the dispatch-overhead fix for wide keys
        ("asof_join_wide_bucketed", lambda: streaming_asof_join_bucketed(
            (spark.readStream
             .schema("key string, event_time timestamp, qty double")
             .option("maxFilesPerTrigger", 1)
             .parquet(f"{asof_left}/f*")),
            (spark.readStream
             .schema("key string, event_time timestamp, px double")
             .option("maxFilesPerTrigger", 1)
             .parquet(f"{asof_right}/f*")),
            watermark="2 minutes", n_buckets=64)),
        ("anomalies_fb", lambda: streaming_anomalies(
            spark, ev_src(), f"{work}/anomalies")),
        ("cms_topk_fb", lambda: streaming_cms_topk(
            spark, ev_src(), f"{work}/topk", key_col="user_id")),
        ("gridq_fb", lambda: streaming_grid_quantiles(
            spark, ev_src(), f"{work}/gridq")),
        ("fx_pipeline_fb", lambda: streaming_correlations(
            spark, tick_src(), f"{work}/fx", "120 seconds",
            universe=universe)),
        # round 8: DSIR model partials — O(n_buckets) state per trigger
        ("dsir_model_fb", lambda: __import__(
            "data_timeseries_java_spark.streaming.dsir_stream",
            fromlist=["streaming_dsir_model"]).streaming_dsir_model(
            spark, doc_src(), f"{work}/dsir",
            target=F.col("lang") == "en")),
        # round 9: streaming SCD2 — state is the one OPEN version per
        # user (three scalars), emissions only on attribute change
        ("scd2_state", lambda: __import__(
            "data_timeseries_java_spark.streaming.scd2_stream",
            fromlist=["streaming_scd2"]).streaming_scd2(
            ev_src().select("user_id", "ts", "event_id",
                            "event_type"))),
        # round 10: the watermark-buffered reorder stage ahead of the
        # EMA fold — state = per-key within-D buffer + the O(1) inner
        # fold state; the lane prices what order-insensitivity costs
        # vs the plain ema_state fold above
        ("reordered_ema_state", lambda: __import__(
            "data_timeseries_java_spark.streaming.reorder",
            fromlist=["reordered_ema"]).reordered_ema(
            tick_src(), price_col="ask", watermark="10 minutes")),
    ]

    # isolation hook, mirroring bench.py: SPARK_GRAFT_STREAM_OPS="a,b"
    # runs only those lanes
    only = os.environ.get("SPARK_GRAFT_STREAM_OPS")
    if only:
        wanted = [s.strip() for s in only.split(",") if s.strip()]
        known = {n for n, _ in ops}
        unknown = [w for w in wanted if w not in known]
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_STREAM_OPS names not in ops: {unknown}")
        ops = [(n, b) for n, b in ops if n in wanted]

    results: dict[str, dict] = {}
    for name, build in ops:
        t0 = time.time()
        try:
            results[name] = _run(build(), name, spark)
            results[name]["wall_s"] = round(time.time() - t0, 2)
        except Exception as e:  # record, keep benching the rest
            results[name] = {"error": f"{type(e).__name__}: {e}"[:200]}

    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "streaming micro-batch wall-clock",
        "unit": "ms",
        "n_files": N_FILES,
        "operators": results,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


if __name__ == "__main__":
    main()
