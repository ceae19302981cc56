"""Streaming OHLC candles: the batch candle aggregate run incrementally,
and complete (gap-filled, carry-forward) candles per micro-batch.

Streaming equivalents of ``operators/candles.py`` (W1+A3 / A1+A2+A4 /
W3, SURVEY.md §2.2-2.3):

- :func:`streaming_ohlc_candles` — the batch ``ohlc_candles`` over
  watermarked ticks (minus its all-null ``open``): the same aggregate,
  which Spark runs incrementally in the JVM against a state store. The
  watermark replaces the reference's no-late-data stance with an
  explicit policy: ticks of a window the watermark has passed are
  dropped; candles finalize (append mode) once the watermark passes
  window end.

- :func:`streaming_complete_candles` — that aggregate, completed in
  ``foreachBatch`` with the batch ``complete_candles``: each finalized
  window gets a gap candle for every key of the universe it lacks, and
  carry-forward is seeded with every key's last close from the newest
  earlier partition of the stream's own sink. Gap-fill and
  carry-forward are aggregates of an aggregate, which Spark's
  one-stateful-operator-per-query rule keeps out of the streaming plan;
  per micro-batch they are small batch computations over finalized
  candles. The reference's global-window/accumulating-panes trick
  (``CompleteTimeSeriesAggCombiner.java:47-227``) has no counterpart.
  The streaming correlation pipeline (``streaming/pipeline.py``)
  completes its candles with the same helpers, so there is one
  completion for both streams.

No Python worker runs per trigger: the stateful stage is the JVM
aggregate, and the driver-side lists (gap rows) reach the JVM as one
literal (:func:`_literal_rows`).

Semantics notes (all test-asserted):
- gap-fill is GLOBAL, as in batch (the reference's
  ``DetectMissingTimeSeriesValuesCombiner.java:36-84``): a window in
  which some instrument ticked gets a candle for every key of the
  universe, globally-dead windows get none, and a key's leading gap
  candles carry 0.0 prices.
- min/max in the flat streaming output carry prices only (the batch
  operator keeps whole ticks; the flat schema is what sinks want).
- restarts: the aggregate drops a tick only once the watermark has
  passed its WINDOW's end, so a feed in time order can be cut anywhere
  (mid-candle included) and fed one availableNow run per file with the
  default ``"0 seconds"`` delay.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_timeseries_java_spark.operators.candles import (
    complete_candles,
    gap_candles,
    ohlc_candles,
)

# What a candle-sink partition seeds the next batch's carry-forward
# with: every key's (filled) close and whether it is, or carries, a
# live close.
_CANDLE_SEED_SCHEMA = ("key string, close_time timestamp, close_bid double, "
                       "close_ask double, close_live boolean")


def streaming_ohlc_candles(ticks: DataFrame, resolution: str = "120 seconds",
                           watermark: str = "0 seconds") -> DataFrame:
    """Watermarked fixed-window OHLC aggregation (streaming W1+A3): the
    batch :func:`~data_timeseries_java_spark.operators.candles.ohlc_candles`
    over the watermarked ticks, minus its all-null ``open``."""
    return ohlc_candles(ticks.withWatermark("event_time", watermark),
                        resolution).drop("open")


def _resolution_ms(resolution: str) -> int:
    try:
        qty, unit = resolution.split()
        mult = {"millisecond": 1, "milliseconds": 1,
                "second": 1000, "seconds": 1000, "minute": 60_000,
                "minutes": 60_000, "hour": 3_600_000, "hours": 3_600_000,
                "day": 86_400_000, "days": 86_400_000,
                "week": 604_800_000, "weeks": 604_800_000}[unit]
        return int(qty) * mult
    except (ValueError, KeyError) as e:
        raise ValueError(
            f"duration {resolution!r} must be '<int> <unit>' with unit in "
            f"milliseconds/seconds/minutes/hours/days/weeks "
            f"(singular or plural)") from e


def _literal_rows(spark: SparkSession, rows: list[tuple],
                  schema: str) -> DataFrame:
    """Driver-side ``rows`` with DDL ``schema`` as a frame, sent as ONE
    JSON string literal that the JVM parses: no Python rows are
    converted, no Python worker starts, and building it is one call,
    where a ``lit`` per value costs a Py4J round trip each (100
    two-column rows: 0.03 s against 2.7 s)."""
    fields = [f.split() for f in schema.split(",")]
    doc = json.dumps([{n: v for (n, _), v in zip(fields, row)}
                      for row in rows])
    ddl = ",".join(f"{n}:{t}" for n, t in fields)
    return spark.range(1).select(F.inline(F.from_json(
        F.lit(doc), f"array<struct<{ddl}>>")))


def _seed_partition(spark: SparkSession, store_path: str, batch_id: int,
                    schema: str) -> DataFrame | None:
    """The store's newest partition below ``batch_id``, read with DDL
    ``schema``, or None. Every finalized window has a row for every key
    seen so far, so that partition holds every key's latest close. It
    is found without a Spark job and on any URI: a Hadoop ``exists``
    per id, walking down from ``batch_id - 1``. The walk stops at the
    first hit, usually one or two ids down (an availableNow run's data
    batch writes nothing), so its cost does not grow with the store;
    before the first write the store does not exist and no id is
    tried. It is read by its own path, so the read lists one
    directory."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = root.getFileSystem(
        spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(root):
        return None
    for k in range(batch_id - 1, -1, -1):
        part = f"{store_path}/batch_id={k}"
        if fs.exists(jvm.org.apache.hadoop.fs.Path(part)):
            return spark.read.schema(schema).parquet(part)
    return None


def _seed_candle(time, bid, ask, live) -> list:
    """The select list that turns a seed row (a key's last close: its
    ``time``, ``bid`` and ``ask`` columns, and ``live``, whether it is
    or carries a live close) into a candle at its own close time, live
    when ``live`` is. Each stream builds it once, not per batch: every
    Column call is a Py4J round trip (this list: 20-45 ms, 4 vCPU)."""
    close = F.struct(time.alias("time"), bid.alias("bid"),
                     ask.alias("ask"), live.alias("is_live"))
    return ["key", time.alias("window_start"), time.alias("window_end"),
            *[close.alias(c) for c in
              ("close", "min_ask", "max_ask", "min_bid", "max_bid")],
            live.alias("is_live")]


def _finalized(live: DataFrame, seed: DataFrame | None
               ) -> tuple[dict[int, set[str]], set[str]]:
    """One job: the batch's finalized windows (``ws``, start ms → keys
    with a candle there), and every key seen so far (those keys plus
    the seed partition's). The rows are candle-sized and come back
    ungrouped, so the job has no shuffle of its own."""
    probe = live.select("ws", "key")
    if seed is not None:
        probe = probe.unionByName(
            seed.select(F.lit(None).cast("bigint").alias("ws"), "key"))
    final: dict[int, set[str]] = {}
    seen = set()
    for ws, key in probe.collect():
        seen.add(key)
        if ws is not None:
            final.setdefault(ws, set()).add(key)
    return final, seen


def _complete(spark: SparkSession, live: DataFrame, seed: DataFrame | None,
              final: dict[int, set[str]], keys: set[str],
              res_ms: int) -> DataFrame:
    """The batch's complete candles, with ``close_live``: its finalized
    candles ``live``, plus a gap candle for each of ``keys`` that a
    finalized window lacks, carried forward by :func:`complete_candles`
    from the ``seed`` candles (:func:`_seed_candle`). A seed candle sits
    at its close time, before every finalized window, and is dropped
    again after completion. So a key that has only had non-live candles
    opens the next candle at its last close but back-fills later gaps
    with 0.0, as batch does."""
    parts = [live.drop("ws")]
    cols = parts[0].columns
    gaps = [(k, w) for w, present in sorted(final.items())
            for k in sorted(keys - present)]
    if gaps:
        ws = F.timestamp_millis(F.col("ws"))
        parts.append(gap_candles(
            _literal_rows(spark, gaps, "key string, ws bigint").select(
                "key", ws.alias("window_start"),
                (ws + F.expr(f"INTERVAL {res_ms} MILLISECONDS"))
                .alias("window_end"))))
    if seed is not None:
        parts.append(seed)
    union = reduce(lambda a, b: a.unionByName(b.select(cols)), parts)
    return complete_candles(union, with_close_live=True).where(
        F.col("window_start") >= F.timestamp_millis(F.lit(min(final))))


def streaming_complete_candles(spark: SparkSession, ticks: DataFrame,
                               work_dir: str,
                               resolution: str = "120 seconds",
                               watermark: str = "0 seconds",
                               universe: list[str] | None = None):
    """Start a complete-candle stream; returns the StreamingQuery.

    Each micro-batch that finalizes candles writes them, completed, to
    its own ``{work_dir}/candles/batch_id=N`` partition (overwrite, so an
    at-least-once re-execution replaces its own output; it seeds from
    partitions below its own id, so it stays idempotent); the
    checkpoint lives in ``{work_dir}/checkpoint``. Read the sink with
    :func:`~data_timeseries_java_spark.streaming.replay.read_replay_sink`.
    A row is a flat candle: ``key, window_start, window_end``,
    ``open_``/``close_`` ``time, bid, ask``, ``min_ask, max_ask,
    min_bid, max_bid`` (prices), ``is_live``, and ``close_live``
    (whether the close is, or carries, a live close), which seeds the
    next batch's carry-forward.

    ``universe``: the instrument universe (the reference's work-packet
    config constant). Every finalized window gets a candle for every
    key of ``universe`` plus every key seen so far; without it, the
    keys seen so far, which matches batch on dense feeds (every key
    ticks in the first finalized window). Pass the universe for batch
    parity on any feed.

    ``watermark``: how late a tick may arrive and still count; with the
    default, files whose ticks come in time order can be cut anywhere
    and fed one availableNow run each.
    """
    res_ms = _resolution_ms(resolution)
    store = f"{work_dir}/candles"
    seed_candle = _seed_candle(*map(F.col, ("close_time", "close_bid",
                                            "close_ask", "close_live")))
    flat = ["key", "window_start", "window_end",
            *[F.col(f"{c}.{p}").alias(f"{c}_{p}")
              for c in ("open", "close") for p in ("time", "bid", "ask")],
            # each extreme's own side: min_ask.ask ... max_bid.bid
            *[F.col(f"{c}.{c[4:]}").alias(c)
              for c in ("min_ask", "max_ask", "min_bid", "max_bid")],
            "is_live", "close_live"]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        live = batch_df.withColumn(
            "ws", F.unix_millis("window_start")).cache()
        try:
            seed = _seed_partition(spark, store, batch_id,
                                   _CANDLE_SEED_SCHEMA)
            if seed is not None:
                seed = seed.select(*seed_candle)
            final, seen = _finalized(live, seed)
            if not final:
                return
            completed = _complete(spark, live, seed, final,
                                  seen.union(universe or ()), res_ms)
            completed.select(*flat).write.mode("overwrite").parquet(
                f"{store}/batch_id={batch_id}")
        finally:
            live.unpersist()

    return (streaming_ohlc_candles(ticks, resolution, watermark).writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", f"{work_dir}/checkpoint")
            .trigger(availableNow=True)
            .start())
