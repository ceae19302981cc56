"""FX pipeline queries over the driver's `events` table.

Exercises the reference operator chain (SURVEY.md §2: S1-S4, W1-W5,
A1-A4, P1-P4, J1-J6, C1-C2) on driver-provided data: `events` viewed as a
tick stream (key = event_type, bid = ask = value). Candle resolution 1 h;
correlation sliding window 6 h every 3 h (size = 2x slide, mirroring the
reference's 600/300 default shape).

The Spark side reuses the engine operators (candles.py / returns.py /
correlation.py); the oracle side re-derives the same semantics in
independent DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_timeseries_java_spark.functions.stats import safe_corr
from data_timeseries_java_spark.operators import (
    CorrelationConfig,
    complete_candles,
    gap_fill,
    log_returns,
    ohlc_candles,
    pairwise_correlations,
)
from data_timeseries_java_spark.tables import events_as_ticks

RES = "1 hour"
RES_MS = 3_600_000
CORR_WINDOW = "6 hours"
CORR_SLIDE = "3 hours"
# the events-as-ticks instrument universe (distinct event_type) — the S3
# work-packet config constant: like the reference's configured instrument
# list, it is knowledge the pipeline HAS, not something to re-derive with
# an eager distinct over the fact table (test_event_type_universe pins it
# against the data)
N_EVENT_TYPES = 5

# Shared oracle CTE prelude: events → ticks → live candles → gap rows →
# carry-forward complete candles → log returns. Window arithmetic is
# epoch-aligned integer math, matching Spark's epoch-aligned F.window.
# Parameterized over the key expression and window sizes so the same
# derivation covers the 5-instrument and the 20-user-bucket universes.


def _prelude(key_sql: str, res_ms: int,
             source_sql: str = "events") -> str:
    # source_sql lets a gate derive the SAME candle pipeline over a
    # filtered tick set (late_data_state_stream_replay: events minus
    # the md5-carved late rows) without duplicating the derivation
    return f"""
WITH ticks AS (
  SELECT {key_sql} AS key, ts AS event_time, value AS price
  FROM {source_sql}
),
tk AS (
  SELECT *, (epoch_ms(event_time) // {res_ms}) * {res_ms} AS w_start_ms
  FROM ticks
),
obs AS (SELECT DISTINCT w_start_ms, key FROM tk),
wins AS (SELECT DISTINCT w_start_ms FROM obs),
keys AS (SELECT DISTINCT key FROM ticks),
missing AS (
  SELECT w.w_start_ms, k.key FROM wins w CROSS JOIN keys k
  EXCEPT
  SELECT w_start_ms, key FROM obs
),
live_candles AS (
  SELECT key, w_start_ms,
         count(*) AS n_ticks,
         min(price) AS min_price,
         max(price) AS max_price,
         arg_max(price, event_time) AS close_price,
         epoch_ms(max(event_time)) AS close_time_ms,
         TRUE AS is_live
  FROM tk GROUP BY key, w_start_ms
),
all_candles AS (
  SELECT key, w_start_ms, n_ticks, min_price, max_price, close_price,
         close_time_ms, is_live
  FROM live_candles
  UNION ALL
  SELECT key, w_start_ms, 1 AS n_ticks, 0.0, 0.0, 0.0,
         w_start_ms + {res_ms} - 1 AS close_time_ms, FALSE AS is_live
  FROM missing
),
carried AS (
  SELECT *,
         last_value(CASE WHEN is_live THEN close_price END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY w_start_ms
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_live_close
  FROM all_candles
),
filled AS (
  SELECT key, w_start_ms, is_live, close_time_ms,
         CASE WHEN is_live THEN close_price
              ELSE coalesce(prev_live_close, close_price) END AS close_price,
         CASE WHEN is_live THEN min_price
              ELSE coalesce(prev_live_close, close_price) END AS min_price,
         CASE WHEN is_live THEN max_price
              ELSE coalesce(prev_live_close, close_price) END AS max_price
  FROM carried
),
complete AS (
  SELECT *,
         coalesce(lag(close_price) OVER w, close_price) AS open_price,
         coalesce(lag(close_time_ms) OVER w, close_time_ms) AS open_time_ms
  FROM filled
  WINDOW w AS (PARTITION BY key ORDER BY w_start_ms)
),
returns AS (
  -- ret stays full-precision here; queries round at output only, so
  -- downstream corr/sum see the same doubles Spark's operators see.
  SELECT key,
         w_start_ms + {res_ms} - 1 AS time_ms,
         ln(close_price / open_price) AS ret
  FROM complete
  WHERE open_price > 0 AND close_price > 0
)
"""


_PRELUDE = _prelude("event_type", RES_MS)


def _ticks_and_keys(spark: SparkSession, sf_dir: str):
    ticks = events_as_ticks(spark, sf_dir)
    return ticks, ticks.select("key").distinct()


def _ms(col):
    return F.unix_millis(col)


def _candle_sentinel(spark: SparkSession, t1_ms: int) -> DataFrame:
    """The flush tick a candle-stream replay writes after its last real
    file: 30 days past ``t1_ms``, it pushes the watermark past every
    real window; its own window never closes, and its key
    (``SENTINEL_KEY``) is filtered from the sink."""
    from data_timeseries_java_spark.streaming.replay import SENTINEL_KEY

    return spark.createDataFrame([(SENTINEL_KEY,)], "key string").select(
        "key",
        F.timestamp_millis(F.lit(t1_ms + 30 * 86_400_000))
        .alias("event_time"),
        F.lit(1.0).alias("bid"), F.lit(1.0).alias("ask"),
        F.lit(True).alias("is_live"))


def q_fx_candles_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+A3: fixed-window partial OHLC over live ticks (no gap-fill)."""
    ticks, _ = _ticks_and_keys(spark, sf_dir)
    c = ohlc_candles(ticks, RES)
    return c.select(
        "key",
        _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("min_ask.ask").alias("min_price"),
        F.col("max_ask.ask").alias("max_price"),
        F.col("close.ask").alias("close_price"),
        _ms(F.col("close.time")).alias("close_time_ms"),
    )


def q_fx_gapfill_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2: the synthetic rows gap-fill adds (missing key x window)."""
    ticks, keys = _ticks_and_keys(spark, sf_dir)
    filled = gap_fill(ticks, keys, RES)
    return filled.where(~F.col("is_live")).select(
        "key",
        (F.floor(_ms(F.col("event_time")) / RES_MS) * RES_MS).alias("w_start_ms"),
        _ms(F.col("event_time")).alias("event_time_ms"),
        F.col("ask").alias("price"),
    )


def q_fx_candles_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+W3: gap-filled carry-forward complete candles."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES)
    return c.select(
        "key",
        _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("is_live"),
        _ms(F.col("open.time")).alias("open_time_ms"),
        F.col("open.ask").alias("open_price"),
        _ms(F.col("close.time")).alias("close_time_ms"),
        F.col("close.ask").alias("close_price"),
        F.col("min_ask.ask").alias("min_price"),
        F.col("max_ask.ask").alias("max_price"),
    )


def _returns_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_timeseries_java_spark.operators.candles import candles_pipeline

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    return log_returns(candles_pipeline(ticks, keys, RES))


def q_fx_log_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: per-candle log returns ln(close/open)."""
    r = _returns_df(spark, sf_dir)
    return r.select(
        "key",
        _ms(F.col("time")).alias("time_ms"),
        F.round("value", 6).alias("ret"),
    )


def q_fx_sliding_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: sliding-window assignment (each return lands in 2 windows)."""
    r = _returns_df(spark, sf_dir)
    return r.select(
        F.window("time", CORR_WINDOW, CORR_SLIDE).alias("w"), "key", "time", "value"
    ).select(
        _ms(F.col("w.start")).alias("w_start_ms"),
        "key",
        _ms(F.col("time")).alias("time_ms"),
        F.round("value", 6).alias("ret"),
    )


def q_fx_workpacket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+P4: per (window, key) work packet — time-sorted series digest."""
    r = _returns_df(spark, sf_dir)
    w = r.select(F.window("time", CORR_WINDOW, CORR_SLIDE).alias("w"), "key", "time", "value")
    return w.groupBy(
        _ms(F.col("w.start")).alias("w_start_ms"), F.col("key")
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        _ms(F.min("time")).alias("first_time_ms"),
        _ms(F.max("time")).alias("last_time_ms"),
        F.round(F.sum("value"), 6).alias("sum_ret"),
    )


def q_fx_pair_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+C1: sliding-window all-pairs Pearson correlation (flagship)."""
    r = _returns_df(spark, sf_dir)
    cfg = CorrelationConfig(window=CORR_WINDOW, slide=CORR_SLIDE,
                            min_corr=0.0, propagate_nan=True)
    c = pairwise_correlations(r, cfg)
    return c.select(
        _ms(F.col("window_start")).alias("w_start_ms"),
        "key1", "key2",
        F.round("value", 6).alias("value"),
        F.col("x_count").cast("long").alias("n_points"),
        "is_nan",
    )


def q_fx_pair_correlation_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 via the kernel DISPATCHER: the join-vs-matrix choice is made by
    universe size. The size is the S3 work-packet constant — the
    reference pipeline KNOWS its instrument list from config
    (CorrolationParDoConfig), so the declared query passes the same
    static hint (``N_EVENT_TYPES``) rather than running an eager
    distinct over the tick stream at plan-build time (the dispatcher's
    documented contract). At this universe size it routes to the F.corr
    join kernel; past ~400 instruments it flips to the per-window BLAS
    matrix — plan-pinned at both sizes in tests/test_plans.py, and
    driver-gated at the wide size by fx_corr_wide. Output and oracle
    identical to fx_pair_correlation (the routing is a pure
    physical-plan choice)."""
    from data_timeseries_java_spark.operators.correlation import (
        pairwise_correlations_auto,
    )

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    r = log_returns(candles_pipeline(ticks, keys, RES))
    cfg = CorrelationConfig(window=CORR_WINDOW, slide=CORR_SLIDE,
                            min_corr=0.0, propagate_nan=True)
    c = pairwise_correlations_auto(r, cfg, n_keys=N_EVENT_TYPES)
    return c.select(
        _ms(F.col("window_start")).alias("w_start_ms"),
        "key1", "key2",
        F.round("value", 6).alias("value"),
        F.col("x_count").cast("long").alias("n_points"),
        "is_nan",
    )


def q_fx_corr_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 emission policy: reference defaults min_corr=0.5, drop NaN.

    The threshold compares the ROUNDED r: |r| lands exactly on 0.5 for
    degenerate few-point windows, and cross-engine summation order would
    otherwise flip inclusion (observed at sf0.001)."""
    r = _returns_df(spark, sf_dir)
    cfg = CorrelationConfig(window=CORR_WINDOW, slide=CORR_SLIDE,
                            min_corr=0.0, propagate_nan=False)
    c = pairwise_correlations(r, cfg)
    return (c.select(
        _ms(F.col("window_start")).alias("w_start_ms"),
        "key1", "key2",
        F.round("value", 6).alias("value"),
    ).where(F.abs(F.col("value")) >= 0.5))


# One stream run per (session, sf_dir): every declared-query sweep
# (plan guards, oracle tier, the driver) builds all queries, and the
# replay result is a deterministic function of the input table — rerun
# the stream once, then serve the materialized sink.
_STREAM_REPLAY_SINKS: dict[tuple, str] = {}


def q_fx_candles_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fx_candles_complete pipeline executed through the STREAMING
    lane: the events tick feed is replayed as a file stream (3
    time-bucketed files, rows shuffled WITHIN each file so intra-batch
    arrival order is scrambled), run through the complete-candle
    stream (`streaming/candles_stream.py` — the JVM window aggregate,
    watermark-sealed windows completed per micro-batch with global
    gap-fill, far-future sentinel flushes the tail), and the sink is
    compared against the
    SAME DuckDB oracle as the batch query — a three-way hash match on
    a stream-PRODUCED result, not just a stream==batch pytest claim.

    Reference parity: the reference is a streaming-first Dataflow
    pipeline (`FXTimeSeriesPipelineDemo.java`); this entry gates the
    engine's equivalent streaming path through the driver's correctness
    gate. Building this query RUNS the stream (exempt from the
    laziness guard like the iterative queries); the returned DataFrame
    itself is a plain pruned parquet scan of the sink."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.candles_stream import (
        streaming_complete_candles,
    )
    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        drive_query,
        read_replay_sink,
        write_replay_buckets,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _STREAM_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ticks, keys_df = _ticks_and_keys(spark, sf_dir)
        universe = sorted(r[0] for r in keys_df.collect())
        t0_ms, t1_ms = ticks.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        work = tempfile.mkdtemp(prefix="fx_stream_replay_")
        n_files = 3
        base = _time.time() - 1000
        write_replay_buckets(ticks, "event_time", f"{work}/in", n_files,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["key", "event_time"])
        # far-future sentinel: pushes the watermark past every real
        # window so the aggregate finalizes them; its own (never-sealed)
        # window stays in state and its key is filtered from the sink
        write_sentinel_file(_candle_sentinel(spark, t1_ms), f"{work}/in",
                            n_files, base)

        src = (spark.readStream.schema(ticks.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        drive_query(streaming_complete_candles(spark, src, work, RES,
                                               universe=universe),
                    what="fx candle stream replay")
        sink = f"{work}/candles"
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/checkpoint", ignore_errors=True)
        _STREAM_REPLAY_SINKS[cache_key] = sink
    flat = (read_replay_sink(spark, sink)
            .where(F.col("key") != SENTINEL_KEY))
    return flat.select(
        "key",
        _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("is_live"),
        _ms(F.col("open_time")).alias("open_time_ms"),
        F.col("open_ask").alias("open_price"),
        _ms(F.col("close_time")).alias("close_time_ms"),
        F.col("close_ask").alias("close_price"),
        F.col("min_ask").alias("min_price"),
        F.col("max_ask").alias("max_price"),
    )


QUERIES = {
    "fx_candles_ohlc": q_fx_candles_ohlc,
    "fx_candles_stream_replay": q_fx_candles_stream_replay,
    "fx_gapfill_rows": q_fx_gapfill_rows,
    "fx_candles_complete": q_fx_candles_complete,
    "fx_log_returns": q_fx_log_returns,
    "fx_sliding_returns": q_fx_sliding_returns,
    "fx_workpacket_stats": q_fx_workpacket_stats,
    "fx_pair_correlation": q_fx_pair_correlation,
    "fx_pair_correlation_auto": q_fx_pair_correlation_auto,
    "fx_corr_threshold": q_fx_corr_threshold,
}

# DuckDB sliding-window assignment: size = 2 x slide → exactly two windows
# per point: the point's slide bucket and the previous one.
_SLIDING = f"""
sliding AS (
  SELECT ((r.time_ms // {RES_MS * 3}) * {RES_MS * 3}) - off.o * {RES_MS * 3} AS w_start_ms,
         r.key, r.time_ms, r.ret
  FROM returns r CROSS JOIN (SELECT unnest([0, 1]) AS o) off
)
"""

_CORR_BASE = f"""
{_PRELUDE},
{_SLIDING},
pairs AS (
  SELECT a.w_start_ms, a.key AS key1, b.key AS key2,
         corr(a.ret, b.ret) AS r, count(*) AS n_points
  FROM sliding a JOIN sliding b
    ON a.w_start_ms = b.w_start_ms AND a.time_ms = b.time_ms AND a.key < b.key
  GROUP BY 1, 2, 3
  HAVING count(*) >= 2
)
"""

ORACLE = {
    "fx_candles_ohlc": _PRELUDE + """
SELECT key, w_start_ms, min_price, max_price, close_price, close_time_ms
FROM live_candles
""",
    "fx_gapfill_rows": _PRELUDE + f"""
SELECT key, w_start_ms, w_start_ms + {RES_MS} - 1 AS event_time_ms,
       0.0 AS price
FROM missing
""",
    "fx_candles_complete": _PRELUDE + """
SELECT key, w_start_ms, is_live, open_time_ms, open_price,
       close_time_ms, close_price, min_price, max_price
FROM complete
""",
    # the stream-replay result must hash-match the BATCH oracle —
    # stream==batch parity checked by the driver, not just pytest
    "fx_candles_stream_replay": _PRELUDE + """
SELECT key, w_start_ms, is_live, open_time_ms, open_price,
       close_time_ms, close_price, min_price, max_price
FROM complete
""",
    "fx_log_returns": _PRELUDE + """
SELECT key, time_ms, round(ret, 6) AS ret FROM returns
""",
    "fx_sliding_returns": _PRELUDE + "," + _SLIDING + """
SELECT w_start_ms, key, time_ms, round(ret, 6) AS ret FROM sliding
""",
    "fx_workpacket_stats": _PRELUDE + "," + _SLIDING + """
SELECT w_start_ms, key,
       count(*) AS n_points,
       min(time_ms) AS first_time_ms,
       max(time_ms) AS last_time_ms,
       round(sum(ret), 6) AS sum_ret
FROM sliding
GROUP BY w_start_ms, key
""",
    "fx_pair_correlation": _CORR_BASE + """
SELECT w_start_ms, key1, key2,
       CASE WHEN r IS NULL OR isnan(r) THEN 1.0 ELSE round(r, 6) END AS value,
       n_points,
       (r IS NULL OR isnan(r)) AS is_nan
FROM pairs
""",
    # dispatcher variant: same semantics, same oracle — the kernel choice
    # is a physical-plan decision invisible to results
    "fx_pair_correlation_auto": _CORR_BASE + """
SELECT w_start_ms, key1, key2,
       CASE WHEN r IS NULL OR isnan(r) THEN 1.0 ELSE round(r, 6) END AS value,
       n_points,
       (r IS NULL OR isnan(r)) AS is_nan
FROM pairs
""",
    "fx_corr_threshold": _CORR_BASE + """
SELECT w_start_ms, key1, key2, round(r, 6) AS value
FROM pairs
WHERE r IS NOT NULL AND NOT isnan(r) AND abs(round(r, 6)) >= 0.5
""",
}


# ---- larger universe: 20 user-bucket instruments ------------------------

USER_RES = "1 day"
USER_RES_MS = 86_400_000
USER_CORR_WINDOW = "4 days"
USER_CORR_SLIDE = "2 days"
N_USER_BUCKETS = 20


def _user_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_timeseries_java_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    key = F.format_string("U-%02d", (F.col("user_id") % N_USER_BUCKETS).cast("int"))
    return ev.select(
        key.alias("key"),
        F.col("ts").alias("event_time"),
        F.col("value").alias("bid"),
        F.col("value").alias("ask"),
        F.lit(True).alias("is_live"),
    )


def q_fx_corr_user_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 at a larger universe: 20 instruments → 190 pairs per window
    (the (n²−n)/2 law the reference headlines at n=1000)."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline

    ticks = _user_ticks(spark, sf_dir)
    r = log_returns(candles_pipeline(ticks, ticks.select("key").distinct(),
                                     USER_RES))
    cfg = CorrelationConfig(window=USER_CORR_WINDOW, slide=USER_CORR_SLIDE,
                            min_corr=0.0, propagate_nan=True)
    c = pairwise_correlations(r, cfg)
    return c.select(
        _ms(F.col("window_start")).alias("w_start_ms"),
        "key1", "key2",
        F.round("value", 6).alias("value"),
        F.col("x_count").cast("long").alias("n_points"),
        "is_nan",
    )


QUERIES["fx_corr_user_buckets"] = q_fx_corr_user_buckets

_USER_KEY_SQL = "printf('U-%02d', user_id % 20)"

ORACLE["fx_corr_user_buckets"] = (
    _prelude(_USER_KEY_SQL, USER_RES_MS) + f""",
sliding AS (
  SELECT ((r.time_ms // {USER_RES_MS * 2}) * {USER_RES_MS * 2})
           - off.o * {USER_RES_MS * 2} AS w_start_ms,
         r.key, r.time_ms, r.ret
  FROM returns r CROSS JOIN (SELECT unnest([0, 1]) AS o) off
),
pairs AS (
  SELECT a.w_start_ms, a.key AS key1, b.key AS key2,
         corr(a.ret, b.ret) AS r, count(*) AS n_points
  FROM sliding a JOIN sliding b
    ON a.w_start_ms = b.w_start_ms AND a.time_ms = b.time_ms AND a.key < b.key
  GROUP BY 1, 2, 3
  HAVING count(*) >= 2
)
SELECT w_start_ms, key1, key2,
       CASE WHEN r IS NULL OR isnan(r) THEN 1.0 ELSE round(r, 6) END AS value,
       n_points,
       (r IS NULL OR isnan(r)) AS is_nan
FROM pairs
"""
)


# ---- include_underlying: carry the raw series with each pair ------------


def q_fx_corr_underlying(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 with ``include_underlying=True`` — the reference's
    ``includeUnderlying`` option (ComputeCorrelationsDoFn.java:197-200):
    each emitted pair carries its two time-sorted return series. The
    arrays are serialized as comma-joined micro-scaled integers
    (round(ret*1e6) as bigint) so both engines hash the same bytes —
    float-to-string formatting differs across engines, scaled ints
    don't."""
    r = _returns_df(spark, sf_dir)
    cfg = CorrelationConfig(window=CORR_WINDOW, slide=CORR_SLIDE,
                            min_corr=0.0, propagate_nan=True,
                            include_underlying=True)
    c = pairwise_correlations(r, cfg)
    as_csv = lambda col: F.concat_ws(",", F.transform(  # noqa: E731
        F.col(col),
        lambda s: F.round(s["value"] * 1e6, 0).cast("bigint").cast("string")))
    return c.select(
        _ms(F.col("window_start")).alias("w_start_ms"),
        "key1", "key2",
        F.round("value", 6).alias("value"),
        F.col("x_count").cast("long").alias("n_points"),
        "is_nan",
        as_csv("x_values").alias("x_series"),
        as_csv("y_values").alias("y_series"),
    )


QUERIES["fx_corr_underlying"] = q_fx_corr_underlying

ORACLE["fx_corr_underlying"] = _PRELUDE + "," + _SLIDING + """,
pairs AS (
  SELECT a.w_start_ms, a.key AS key1, b.key AS key2,
         corr(a.ret, b.ret) AS r, count(*) AS n_points,
         array_to_string(list(CAST(round(a.ret * 1e6, 0) AS BIGINT)
                              ORDER BY a.time_ms), ',') AS x_series,
         array_to_string(list(CAST(round(b.ret * 1e6, 0) AS BIGINT)
                              ORDER BY b.time_ms), ',') AS y_series
  FROM sliding a JOIN sliding b
    ON a.w_start_ms = b.w_start_ms AND a.time_ms = b.time_ms AND a.key < b.key
  GROUP BY 1, 2, 3
  HAVING count(*) >= 2
)
SELECT w_start_ms, key1, key2,
       CASE WHEN r IS NULL OR isnan(r) THEN 1.0 ELSE round(r, 6) END AS value,
       n_points,
       (r IS NULL OR isnan(r)) AS is_nan,
       x_series, y_series
FROM pairs
"""


# ---- wide universe: 512 instruments through the BLAS matrix kernel ------

# The reference's headline is n=1000 instruments / 499,500 pairs per
# slide (README.MD:41); this query driver-gates the kernel that carries
# that headline: 512 event_id-derived instruments (> the measured
# join-vs-matrix crossover of 400), so pairwise_correlations_auto
# routes to pairwise_correlations_matrix (plan-pinned in
# tests/test_plans.py::test_fx_corr_wide_routes_to_matrix_kernel).
# All 130,816 pairs per window are computed; the emitted result is the
# top-100 strongest pairs per window (a realistic correlation screen)
# so the driver hashes thousands of rows, not millions. Ranking is
# deterministic cross-engine: rank on ROUND(r, 6) with (key1, key2)
# tie-breaks.
WIDE_RES = "6 hours"
WIDE_RES_MS = 6 * 3_600_000
WIDE_CORR_WINDOW = "2 days"
WIDE_CORR_SLIDE = "1 day"
WIDE_SLIDE_MS = 86_400_000
N_WIDE_KEYS = 512   # event_id % 512 covers the full space at every sf
WIDE_TOP_N = 100


def _wide_ticks(spark: SparkSession, sf_dir: str,
                n_keys: int = N_WIDE_KEYS) -> DataFrame:
    from data_timeseries_java_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    key = F.format_string("K-%03d", (F.col("event_id") % n_keys).cast("int"))
    return ev.select(
        key.alias("key"),
        F.col("ts").alias("event_time"),
        F.col("value").alias("bid"),
        F.col("value").alias("ask"),
        F.lit(True).alias("is_live"),
    )


def _wide_corr_screen(spark: SparkSession, sf_dir: str,
                      n_keys: int) -> DataFrame:
    """Shared body of fx_corr_wide (n=512) and fx_corr_headline
    (n=1000): candles → returns → dispatcher → matrix kernel with the
    in-kernel top-100 screen. The gap-fill universe is a LAZY range
    (spark.range -> format_string): the key dimension is synthesized,
    not distinct-scanned."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.correlation import (
        pairwise_correlations_auto,
    )

    ticks = _wide_ticks(spark, sf_dir, n_keys)
    keys = spark.range(n_keys).select(
        F.format_string("K-%03d", F.col("id").cast("int")).alias("key"))
    r = log_returns(candles_pipeline(ticks, keys, WIDE_RES))
    cfg = CorrelationConfig(window=WIDE_CORR_WINDOW, slide=WIDE_CORR_SLIDE,
                            min_corr=0.0, propagate_nan=False)
    c = pairwise_correlations_auto(r, cfg, n_keys=n_keys,
                                   per_window_top=WIDE_TOP_N)
    return c.select(
        _ms(F.col("window_start")).alias("w_start_ms"),
        "key1", "key2",
        F.round("value", 6).alias("value"),
        F.col("x_count").cast("long").alias("n_points"),
        "rank",
    )


def q_fx_corr_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 at the wide universe via the DISPATCHER: 512 instruments >
    CORR_MATRIX_CROSSOVER, so this runs the per-window BLAS matrix
    kernel (one Arrow batch per window, numpy corrcoef over the
    (points x 512) matrix, vectorized upper-triangle emission). The
    top-100 screen ranks INSIDE the kernel (``per_window_top``) — each
    window ships 100 rows, not its 130,816 pairs, into the final stage
    (the 100 TB shape; measured 8.5 s -> ~3 s at sf0.01)."""
    return _wide_corr_screen(spark, sf_dir, N_WIDE_KEYS)


def q_fx_corr_headline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's PUBLISHED workload size: n=1000 instruments →
    (1000² − 1000)/2 = 499,500 correlation pairs per slide
    (README.MD:41 'pairwise correlations (499,500 with the default 1000
    tickers)'), through the same matrix kernel + in-kernel top-100
    screen as fx_corr_wide. Driver-gating this size proves the kernel
    at the exact headline scale, not a scaled-down stand-in.

    At sf0.001 every derived instrument ticks exactly once, so every
    return series is flat, every pairwise correlation is NaN, and with
    propagate_nan=False the result is EMPTY — the oracle derives the
    same empty set, so the hash check is trivially green there; sf0.01
    (the driver's gate) is where the 499,500-pair space materializes."""
    return _wide_corr_screen(spark, sf_dir, N_HEADLINE_KEYS)


N_HEADLINE_KEYS = 1000  # /root/reference/README.MD:41 — 499,500 pairs/slide

QUERIES["fx_corr_wide"] = q_fx_corr_wide
QUERIES["fx_corr_headline"] = q_fx_corr_headline

_WIDE_KEY_SQL = "printf('K-%03d', event_id % 512)"
_HEADLINE_KEY_SQL = "printf('K-%03d', event_id % 1000)"

_WIDE_CORR_BODY = f""",
sliding AS (
  SELECT ((r.time_ms // {WIDE_SLIDE_MS}) * {WIDE_SLIDE_MS})
           - off.o * {WIDE_SLIDE_MS} AS w_start_ms,
         r.key, r.time_ms, r.ret
  FROM returns r CROSS JOIN (SELECT unnest([0, 1]) AS o) off
),
pairs AS (
  SELECT a.w_start_ms, a.key AS key1, b.key AS key2,
         corr(a.ret, b.ret) AS r, count(*) AS n_points
  FROM sliding a JOIN sliding b
    ON a.w_start_ms = b.w_start_ms AND a.time_ms = b.time_ms AND a.key < b.key
  GROUP BY 1, 2, 3
  HAVING count(*) >= 2
),
ranked AS (
  SELECT w_start_ms, key1, key2, round(r, 6) AS value, n_points,
         row_number() OVER (
           PARTITION BY w_start_ms
           ORDER BY round(r, 6) DESC, key1 ASC, key2 ASC) AS rank
  FROM pairs
  WHERE r IS NOT NULL AND NOT isnan(r)
)
SELECT w_start_ms, key1, key2, value, n_points, rank
FROM ranked WHERE rank <= {WIDE_TOP_N}
"""

ORACLE["fx_corr_wide"] = _prelude(_WIDE_KEY_SQL, WIDE_RES_MS) + _WIDE_CORR_BODY
ORACLE["fx_corr_headline"] = (
    _prelude(_HEADLINE_KEY_SQL, WIDE_RES_MS) + _WIDE_CORR_BODY)


# ---- resampling: hierarchical rollup + TWAP -----------------------------

ROLLUP_RES = "4 hours"
ROLLUP_MS = 4 * 3_600_000


def q_fx_candles_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: 1 h complete candles → 4 h candles,
    derived from the candle table (not a tick rescan)."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.resample import rollup_candles

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    hourly = candles_pipeline(ticks, keys, RES)
    r = rollup_candles(hourly, ROLLUP_RES)
    return r.select(
        "key",
        _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("open.ask").alias("open_price"),
        F.col("close.ask").alias("close_price"),
        F.col("min_ask.ask").alias("min_price"),
        F.col("max_ask.ask").alias("max_price"),
        "is_live",
    )


def q_fx_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (key, 1 h window) over live ticks."""
    from data_timeseries_java_spark.operators.resample import twap

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    t = twap(ticks, RES, price_col="ask")
    return t.select(
        "key",
        _ms(F.col("window_start")).alias("w_start_ms"),
        (F.floor(F.col("twap") * 1_000_000) / 1_000_000).alias("twap"),
        F.col("n_ticks"),
    )


QUERIES["fx_candles_rollup"] = q_fx_candles_rollup
QUERIES["fx_twap"] = q_fx_twap

ORACLE["fx_candles_rollup"] = _PRELUDE + f"""
SELECT key,
       (w_start_ms // {ROLLUP_MS}) * {ROLLUP_MS} AS w_start_ms,
       arg_min(open_price, w_start_ms) AS open_price,
       arg_max(close_price, w_start_ms) AS close_price,
       min(min_price) AS min_price,
       max(max_price) AS max_price,
       bool_or(is_live) AS is_live
FROM complete
GROUP BY key, (w_start_ms // {ROLLUP_MS}) * {ROLLUP_MS}
"""

ORACLE["fx_twap"] = f"""
WITH ticks AS (
  SELECT event_type AS key, ts AS event_time, value AS price
  FROM events
),
tk AS (
  SELECT key, price, epoch_ms(event_time) AS t_ms,
         (epoch_ms(event_time) // {RES_MS}) * {RES_MS} AS w_start_ms
  FROM ticks
),
weighted AS (
  SELECT key, w_start_ms, price,
         coalesce(lead(t_ms) OVER (PARTITION BY key, w_start_ms ORDER BY t_ms),
                  w_start_ms + {RES_MS}) - t_ms AS dt
  FROM tk
)
SELECT key, w_start_ms,
       floor(sum(price * dt) / sum(dt) * 1000000) / 1000000 AS twap,
       count(*) AS n_ticks
FROM weighted
GROUP BY key, w_start_ms
"""


def q_fx_ema_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA over each instrument's return series (recursive stateful
    series op — rows-only check; numpy oracle lives in the test suite)."""
    from data_timeseries_java_spark.operators.ema import ema

    r = _returns_df(spark, sf_dir)
    out = ema(r, alpha=0.2)
    return out.select(
        "key", _ms(F.col("time")).alias("time_ms"),
        F.round("value", 6).alias("ret"),
        F.round("ema", 6).alias("ema"),
    )


QUERIES["fx_ema_returns"] = q_fx_ema_returns
# Recursive EMA as a DuckDB RECURSIVE CTE: the frontier advances one row
# per key per iteration (depth = longest per-key candle series — bounded,
# it's 1 row per resolution interval). Same IEEE-double recursion
# (0.2*x + 0.8*prev) that pandas ewm(adjust=False) computes — verified
# bit-identical — so 6-decimal output rounding hash-matches. This avoids
# the overflow-prone closed form (1-α)^(-i) entirely.
ORACLE["fx_ema_returns"] = _PRELUDE + """,
seq AS MATERIALIZED (
  SELECT key, time_ms, ret,
         row_number() OVER (PARTITION BY key ORDER BY time_ms) AS rn
  FROM returns
)
SELECT key, time_ms, round(ret, 6) AS ret, round(ema, 6) AS ema FROM (
  WITH RECURSIVE ema_rec AS (
    SELECT key, time_ms, ret, rn, ret AS ema FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.key, s.time_ms, s.ret, s.rn, 0.2 * s.ret + 0.8 * e.ema AS ema
    FROM seq s JOIN ema_rec e ON s.key = e.key AND s.rn = e.rn + 1
  )
  SELECT * FROM ema_rec
)
"""


def q_fx_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands: trailing 6-candle mean ± 2σ per instrument."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.resample import bollinger_bands

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES)
    b = bollinger_bands(c, n_windows=6, k=2.0)
    return b.select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.round("close_price", 6).alias("close_price"),
        F.round("bb_mid", 6).alias("bb_mid"),
        F.round("bb_upper", 6).alias("bb_upper"),
        F.round("bb_lower", 6).alias("bb_lower"),
    )


QUERIES["fx_bollinger"] = q_fx_bollinger

ORACLE["fx_bollinger"] = _PRELUDE + """
SELECT key, w_start_ms,
       round(close_price, 6) AS close_price,
       round(avg(close_price) OVER w, 6) AS bb_mid,
       round(avg(close_price) OVER w + 2.0 * stddev_samp(close_price) OVER w, 6) AS bb_upper,
       round(avg(close_price) OVER w - 2.0 * stddev_samp(close_price) OVER w, 6) AS bb_lower
FROM complete
WINDOW w AS (PARTITION BY key ORDER BY w_start_ms
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
"""


def q_fx_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI over the trailing 6 candles per instrument."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.resample import rsi

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES)
    r = rsi(c, n_windows=6)
    return r.select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.round("avg_gain", 6).alias("avg_gain"),
        F.round("avg_loss", 6).alias("avg_loss"),
        F.round("rsi", 6).alias("rsi"),
    )


QUERIES["fx_rsi"] = q_fx_rsi

ORACLE["fx_rsi"] = _PRELUDE + """
, deltas AS (
  SELECT key, w_start_ms,
         close_price - lag(close_price) OVER (PARTITION BY key ORDER BY w_start_ms) AS delta
  FROM complete
),
avgs AS (
  SELECT key, w_start_ms,
         avg(CASE WHEN delta > 0 THEN delta
                  WHEN delta IS NOT NULL THEN 0 END) OVER w AS avg_gain,
         avg(CASE WHEN delta < 0 THEN -delta
                  WHEN delta IS NOT NULL THEN 0 END) OVER w AS avg_loss
  FROM deltas
  WINDOW w AS (PARTITION BY key ORDER BY w_start_ms
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT key, w_start_ms,
       round(avg_gain, 6) AS avg_gain,
       round(avg_loss, 6) AS avg_loss,
       round(CASE WHEN avg_gain IS NULL THEN NULL
                  WHEN avg_loss = 0 THEN 100.0
                  ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END, 6) AS rsi
FROM avgs
"""


# ---- bid != ask spread view: oracle-proves the §2.9.1 bid-side fix ------
#
# The reference computes BID extrema by comparing ASK prices — a
# copy/paste bug (TimeseriesUtils.java:167,180); this engine compares bid
# prices for bid extrema (documented divergence, SURVEY.md §2.9.1). The
# demo fixtures keep bid == ask, which made that divergence invisible to
# the oracle — this query feeds a synthetic spread (bid = value,
# ask = value * 1.0001, identical IEEE multiply in both engines) through
# the FULL candle pipeline and hash-checks all four extrema plus both
# open/close sides, so the bid-side semantics are oracle-proven.


def q_fx_candles_bidask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4 with a real spread: every bid/ask extremum hash-checked."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ticks = ev.select(
        F.col("event_type").alias("key"),
        F.col("ts").alias("event_time"),
        F.col("value").alias("bid"),
        (F.col("value") * F.lit(1.0001)).alias("ask"),
        F.lit(True).alias("is_live"),
    )
    c = candles_pipeline(ticks, ticks.select("key").distinct(), RES)
    return c.select(
        "key",
        _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("is_live"),
        F.col("open.bid").alias("open_bid"),
        F.col("open.ask").alias("open_ask"),
        F.col("close.bid").alias("close_bid"),
        F.col("close.ask").alias("close_ask"),
        F.col("min_bid.bid").alias("min_bid"),
        F.col("max_bid.bid").alias("max_bid"),
        F.col("min_ask.ask").alias("min_ask"),
        F.col("max_ask.ask").alias("max_ask"),
    )


QUERIES["fx_candles_bidask"] = q_fx_candles_bidask

ORACLE["fx_candles_bidask"] = f"""
WITH ticks AS (
  SELECT event_type AS key, ts AS event_time,
         value AS bid, value * 1.0001 AS ask
  FROM events
),
tk AS (
  SELECT *, (epoch_ms(event_time) // {RES_MS}) * {RES_MS} AS w_start_ms
  FROM ticks
),
live AS (
  SELECT key, w_start_ms,
         min(bid) AS min_bid, max(bid) AS max_bid,
         min(ask) AS min_ask, max(ask) AS max_ask,
         arg_max(bid, event_time) AS close_bid,
         arg_max(ask, event_time) AS close_ask,
         TRUE AS is_live
  FROM tk GROUP BY key, w_start_ms
),
wins AS (SELECT DISTINCT w_start_ms FROM tk),
keys AS (SELECT DISTINCT key FROM ticks),
missing AS (
  SELECT w.w_start_ms, k.key FROM wins w CROSS JOIN keys k
  EXCEPT
  SELECT w_start_ms, key FROM live
),
allc AS (
  SELECT key, w_start_ms, min_bid, max_bid, min_ask, max_ask,
         close_bid, close_ask, is_live
  FROM live
  UNION ALL
  SELECT key, w_start_ms, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, FALSE
  FROM missing
),
carried AS (
  SELECT *,
         last_value(CASE WHEN is_live THEN close_bid END IGNORE NULLS)
           OVER wprev AS prev_bid,
         last_value(CASE WHEN is_live THEN close_ask END IGNORE NULLS)
           OVER wprev AS prev_ask
  FROM allc
  WINDOW wprev AS (PARTITION BY key ORDER BY w_start_ms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
filled AS (
  SELECT key, w_start_ms, is_live,
         CASE WHEN is_live THEN close_bid
              ELSE coalesce(prev_bid, close_bid) END AS close_bid,
         CASE WHEN is_live THEN close_ask
              ELSE coalesce(prev_ask, close_ask) END AS close_ask,
         CASE WHEN is_live THEN min_bid
              ELSE coalesce(prev_bid, close_bid) END AS min_bid,
         CASE WHEN is_live THEN max_bid
              ELSE coalesce(prev_bid, close_bid) END AS max_bid,
         CASE WHEN is_live THEN min_ask
              ELSE coalesce(prev_ask, close_ask) END AS min_ask,
         CASE WHEN is_live THEN max_ask
              ELSE coalesce(prev_ask, close_ask) END AS max_ask
  FROM carried
)
SELECT key, w_start_ms, is_live,
       coalesce(lag(close_bid) OVER w, close_bid) AS open_bid,
       coalesce(lag(close_ask) OVER w, close_ask) AS open_ask,
       close_bid, close_ask, min_bid, max_bid, min_ask, max_ask
FROM filled
WINDOW w AS (PARTITION BY key ORDER BY w_start_ms)
"""


# ---- linear-interpolation gap fill --------------------------------------


def q_fx_candles_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across gap windows (vs the carry-forward
    step function) — see operators.resample.interpolate_candles."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.resample import (
        interpolate_candles)

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = interpolate_candles(candles_pipeline(ticks, keys, RES))
    return c.select(
        "key",
        _ms(F.col("window_start")).alias("w_start_ms"),
        "is_live",
        F.round("carry_price", 6).alias("carry_price"),
        F.round("interp_price", 6).alias("interp_price"),
    )


QUERIES["fx_candles_interpolated"] = q_fx_candles_interpolated

ORACLE["fx_candles_interpolated"] = _PRELUDE + f"""
, bounds AS (
  SELECT key, w_start_ms, is_live, close_price,
         last_value(CASE WHEN is_live THEN close_price END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY w_start_ms
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         last_value(CASE WHEN is_live THEN w_start_ms END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY w_start_ms
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pw,
         first_value(CASE WHEN is_live THEN close_price END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY w_start_ms
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN is_live THEN w_start_ms END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY w_start_ms
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nw
  FROM complete
)
SELECT key, w_start_ms, is_live,
       round(close_price, 6) AS carry_price,
       round(CASE WHEN is_live THEN close_price
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                       THEN pv + (w_start_ms - pw) * 1.0 / (nw - pw) * (nv - pv)
                  WHEN pv IS NOT NULL THEN pv
                  ELSE nv END, 6) AS interp_price
FROM bounds
"""


# ---- per-key maximum drawdown -------------------------------------------


def q_fx_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-trough maximum drawdown per instrument over the complete
    candle series — see operators.resample.max_drawdown."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.resample import max_drawdown

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    return max_drawdown(candles_pipeline(ticks, keys, RES))


QUERIES["fx_drawdown"] = q_fx_drawdown

ORACLE["fx_drawdown"] = _PRELUDE + """
, dd AS (
  SELECT key, close_price,
         max(close_price) OVER (PARTITION BY key ORDER BY w_start_ms
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM complete
)
SELECT key,
       CAST(count(*) AS BIGINT) AS n_windows,
       round(max(peak), 6) AS peak_price,
       floor(max(CASE WHEN peak > 0 THEN (peak - close_price) / peak
                      ELSE 0.0 END) * 1000000) / 1000000 AS max_drawdown
FROM dd GROUP BY key
"""


# ---- lead-lag cross-correlation -----------------------------------------

CCF_MAX_LAG = 2


def q_fx_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise lead-lag cross-correlation of hourly log returns at
    window lags -2..2 — see operators.correlation.lead_lag_correlation."""
    from data_timeseries_java_spark.operators.correlation import (
        lead_lag_correlation)

    r = _returns_df(spark, sf_dir)
    return lead_lag_correlation(r, max_lag=CCF_MAX_LAG, res_ms=RES_MS)


QUERIES["fx_lead_lag"] = q_fx_lead_lag

ORACLE["fx_lead_lag"] = _PRELUDE + f"""
, lags AS (SELECT unnest([-2, -1, 0, 1, 2]) AS lag)
SELECT a.key AS key_a, b.key AS key_b, l.lag,
       CAST(count(*) AS BIGINT) AS n,
       round(corr(a.ret, b.ret), 6) AS ccf
FROM returns a
CROSS JOIN lags l
JOIN returns b
  ON b.key > a.key AND b.time_ms - l.lag * {RES_MS} = a.time_ms
GROUP BY a.key, b.key, l.lag
HAVING count(*) >= 2
"""


# ---- realized volatility --------------------------------------------------


def q_fx_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily realized volatility per instrument from hourly log returns
    — see operators.resample.realized_volatility (decomposable
    sum-of-squares, one shuffle)."""
    from data_timeseries_java_spark.operators.resample import (
        realized_volatility)

    rv = realized_volatility(_returns_df(spark, sf_dir), "1 day")
    return rv.select(
        "key",
        _ms(F.col("window_start")).alias("day_ms"),
        "n_rets",
        F.round("realized_vol", 6).alias("realized_vol"),
    )


QUERIES["fx_realized_vol"] = q_fx_realized_vol

ORACLE["fx_realized_vol"] = _PRELUDE + """
SELECT key,
       (time_ms // 86400000) * 86400000 AS day_ms,
       CAST(count(*) AS BIGINT) AS n_rets,
       round(sqrt(sum(ret * ret)), 6) AS realized_vol
FROM returns
GROUP BY key, day_ms
"""


# ---- pairwise OLS (hedge ratio) ------------------------------------------


def q_fx_pair_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per sliding window, OLS slope/intercept of key2's returns on
    key1's (pairs-trading hedge ratio) — see
    operators.correlation.pairwise_regression (JVM regr_slope/
    regr_intercept, map-side-combinable)."""
    from data_timeseries_java_spark.operators.correlation import (
        pairwise_regression)

    r = _returns_df(spark, sf_dir)
    cfg = CorrelationConfig(window=CORR_WINDOW, slide=CORR_SLIDE)
    b = pairwise_regression(r, cfg)
    return b.select(
        _ms(F.col("window_start")).alias("w_start_ms"),
        "key1", "key2",
        F.round("beta", 6).alias("beta"),
        F.round("alpha", 6).alias("alpha"),
        F.col("n_points").cast("long").alias("n_points"),
    )


QUERIES["fx_pair_beta"] = q_fx_pair_beta

ORACLE["fx_pair_beta"] = _CORR_BASE.replace(
    "corr(a.ret, b.ret) AS r", "regr_slope(b.ret, a.ret) AS beta, "
    "regr_intercept(b.ret, a.ret) AS alpha") + """
SELECT w_start_ms, key1, key2,
       round(beta, 6) AS beta,
       round(alpha, 6) AS alpha,
       n_points
FROM pairs
WHERE beta IS NOT NULL AND NOT isnan(beta)
"""


# ---- cross-sectional z-score ---------------------------------------------


def q_fx_cross_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional return normalization: at each candle time, each
    instrument's return standardized against that instant's cross-
    sectional mean/stddev — the momentum-signal building block. One
    window pass partitioned by time (instruments per instant is the
    tiny dimension; the shuffle key is time, which is uniform)."""
    from pyspark.sql import Window

    r = _returns_df(spark, sf_dir)
    w = Window.partitionBy("time")
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    n = F.count(F.lit(1)).over(w)
    return (r.select(
        "key", _ms(F.col("time")).alias("time_ms"),
        F.round("value", 6).alias("ret"),
        n.alias("n_xs"),
        F.when((n >= 2) & (sd > 0),
               F.round((F.col("value") - mu) / sd, 6)).alias("zscore"))
        .withColumn("n_xs", F.col("n_xs").cast("long")))


QUERIES["fx_cross_zscore"] = q_fx_cross_zscore

ORACLE["fx_cross_zscore"] = _PRELUDE + """
SELECT key, time_ms, round(ret, 6) AS ret,
       CAST(count(*) OVER w AS BIGINT) AS n_xs,
       CASE WHEN count(*) OVER w >= 2 AND stddev_samp(ret) OVER w > 0
            THEN round((ret - avg(ret) OVER w) / stddev_samp(ret) OVER w, 6)
       END AS zscore
FROM returns
WINDOW w AS (PARTITION BY time_ms)
"""


# ---- CUSUM change-point detection over per-key returns -----------------

CUSUM_THRESHOLD = 0.5


def q_fx_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM mean-shift statistics per (key, candle-close) —
    see operators.returns.cusum_changepoints (prefix-sum closed form of
    Page's recursive detector; three window aggregates, one shuffle)."""
    from data_timeseries_java_spark.operators.returns import (
        cusum_changepoints,
    )

    r = _returns_df(spark, sf_dir)
    out = cusum_changepoints(r, drift=0.0, threshold=CUSUM_THRESHOLD)
    return out.select(
        "key", _ms(F.col("time")).alias("time_ms"),
        "cusum_pos", "cusum_neg", "alarm_pos", "alarm_neg")


QUERIES["fx_cusum"] = q_fx_cusum

# Same closed form: prefix sums, then running min/max over the SAME
# ordered frame — cumulative windows evaluate in identical ascending
# order on both engines, so the doubles match bit-for-bit.
ORACLE["fx_cusum"] = _PRELUDE + f"""
, prefix AS (
  SELECT key, time_ms,
         SUM(ret) OVER (PARTITION BY key ORDER BY time_ms
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS p
  FROM returns
),
cusum AS (
  SELECT key, time_ms,
         p - MIN(p) OVER w AS s_pos,
         MAX(p) OVER w - p AS s_neg
  FROM prefix
  WINDOW w AS (PARTITION BY key ORDER BY time_ms
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT key, time_ms,
       floor(s_pos * 1000000) / 1000000 AS cusum_pos,
       floor(s_neg * 1000000) / 1000000 AS cusum_neg,
       floor(s_pos * 1000000) / 1000000 > {CUSUM_THRESHOLD} AS alarm_pos,
       floor(s_neg * 1000000) / 1000000 > {CUSUM_THRESHOLD} AS alarm_neg
FROM cusum
"""


# ---- autocorrelation function (ACF) ------------------------------------

ACF_MAX_LAG = 3


def q_fx_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-series autocorrelation at lags 1..3 per instrument — the
    standard momentum/mean-reversion diagnostic. One (key)-partitioned
    sort provides all three lag columns; stacking lags into rows keeps
    the corr aggregation a single hash agg per (key, lag)."""
    from pyspark.sql import Window

    r = _returns_df(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("time")
    lagged = r.select(
        "key", "value",
        *[F.lag("value", i).over(w).alias(f"lag{i}")
          for i in range(1, ACF_MAX_LAG + 1)])
    stacked = lagged.select(
        "key",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("lag"), F.col("value").alias("x"),
                     F.col(f"lag{i}").alias("y"))
            for i in range(1, ACF_MAX_LAG + 1)])).alias("s")
    ).select("key", "s.lag", "s.x", "s.y").where(F.col("y").isNotNull())
    return (stacked.groupBy("key", "lag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(safe_corr("x", "y"), 6).alias("acf"))
            .select("key", F.col("lag").cast("int").alias("lag"),
                    F.col("n").cast("long").alias("n"), "acf"))


QUERIES["fx_autocorr"] = q_fx_autocorr

ORACLE["fx_autocorr"] = _PRELUDE + f"""
, lagged AS (
  SELECT key, ret AS x, lag, lag(ret, lag) OVER
         (PARTITION BY key, lag ORDER BY time_ms) AS y
  FROM returns CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag)
)
SELECT key, CAST(lag AS INT) AS lag,
       CAST(count(*) AS BIGINT) AS n,
       round(corr(x, y), 6) AS acf
FROM lagged
WHERE y IS NOT NULL
GROUP BY key, lag
"""


# ---- variance-ratio test (Lo-MacKinlay) --------------------------------

VR_K = 4


def q_fx_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance ratio per instrument: VR(k) =
    Var(k-period non-overlapping return sums) / (k · Var(1-period)) —
    ≈1 under a random walk, <1 mean-reverting, >1 trending. Buckets are
    row_number DIV k over the time-sorted series (deterministic on both
    engines); only complete buckets enter the k-period variance."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.plans.materialize import materialize

    r = _returns_df(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("time")
    # b feeds BOTH variance levels — materialize it once, or Catalyst
    # rebuilds the whole candle pipeline per consumer (14 exchanges
    # measured -> 8 after)
    b = materialize(r.select("key", "value",
                             ((F.row_number().over(w) - 1) / VR_K)
                             .cast("long").alias("bucket")), True)
    agg = (b.groupBy("key", "bucket")
           .agg(F.sum("value").alias("ksum"),
                F.count(F.lit(1)).alias("cnt")))
    kvar = (agg.where(F.col("cnt") == VR_K)
            .groupBy("key")
            .agg(F.var_samp("ksum").alias("var_k"),
                 F.count(F.lit(1)).alias("n_buckets")))
    base = b.groupBy("key").agg(F.var_samp("value").alias("var_1"),
                                F.count(F.lit(1)).alias("n_points"))
    vr = F.round(F.col("var_k") / (F.lit(VR_K) * F.col("var_1")), 6)
    return (base.join(kvar, "key")
            .select("key",
                    F.col("n_points").cast("long").alias("n_points"),
                    F.col("n_buckets").cast("long").alias("n_buckets"),
                    F.round("var_1", 6).alias("var_1"),
                    F.round("var_k", 6).alias("var_k"),
                    vr.alias("variance_ratio")))


QUERIES["fx_variance_ratio"] = q_fx_variance_ratio

ORACLE["fx_variance_ratio"] = _PRELUDE + f"""
, b AS (
  SELECT key, ret,
         (row_number() OVER (PARTITION BY key ORDER BY time_ms) - 1)
           // {VR_K} AS bucket
  FROM returns
),
agg AS (
  SELECT key, bucket, sum(ret) AS ksum, count(*) AS cnt
  FROM b GROUP BY key, bucket
),
kvar AS (
  SELECT key, var_samp(ksum) AS var_k, count(*) AS n_buckets
  FROM agg WHERE cnt = {VR_K} GROUP BY key
),
base AS (
  SELECT key, var_samp(ret) AS var_1, count(*) AS n_points
  FROM returns GROUP BY key
)
SELECT key,
       CAST(n_points AS BIGINT) AS n_points,
       CAST(n_buckets AS BIGINT) AS n_buckets,
       round(var_1, 6) AS var_1,
       round(var_k, 6) AS var_k,
       round(var_k / ({VR_K} * var_1), 6) AS variance_ratio
FROM base JOIN kvar USING (key)
"""


# ---- triangulated cross rate -------------------------------------------

CROSS_BASE = "click"     # the events-as-ticks universe plays A/USD
CROSS_QUOTE = "view"     # and B/USD; the cross is A/B = (A/USD)/(B/USD)


def q_fx_cross_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangulated cross rate: two instruments quoted against a common
    numeraire are joined per candle window and divided — the standard
    synthesis of an unquoted pair (EUR/JPY from EUR/USD and USD/JPY).
    Runs on the carry-forward complete candles so the cross is defined
    in every window either leg ticked; emits the cross close and its
    log-return. One window-aligned equi-join of two slices of the same
    candle frame — no extra scan of the tick stream."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline

    from data_timeseries_java_spark.plans.materialize import materialize

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    # both legs slice the SAME candle frame — materialize it once, or
    # Catalyst rebuilds the full candle pipeline per leg (16 exchanges
    # measured -> 7 after)
    c = materialize(candles_pipeline(ticks, keys, RES).select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("close.ask").alias("close"), "is_live"), True)
    a = (c.where(F.col("key") == CROSS_BASE)
         .select("w_start_ms", F.col("close").alias("a_close"),
                 F.col("is_live").alias("a_live")))
    b = (c.where(F.col("key") == CROSS_QUOTE)
         .select("w_start_ms", F.col("close").alias("b_close"),
                 F.col("is_live").alias("b_live")))
    j = (a.join(b, "w_start_ms")
         .where((F.col("a_close") > 0) & (F.col("b_close") > 0))
         .withColumn("pair", F.lit(f"{CROSS_BASE}/{CROSS_QUOTE}")))
    cross = F.col("a_close") / F.col("b_close")
    from pyspark.sql import Window
    # lag partitioned by the synthesized pair: this query triangulates
    # ONE pair, but the operator shape must stay safe if the a/b slices
    # ever cover many pairs — an un-partitioned orderBy would funnel
    # every pair's history through a single-task global sort
    w = Window.partitionBy("pair").orderBy("w_start_ms")
    ret = F.log(cross / F.lag(cross).over(w))
    return j.select(
        "pair",
        "w_start_ms",
        F.round(cross, 6).alias("cross_close"),
        (F.col("a_live") & F.col("b_live")).alias("both_live"),
        F.round(ret, 6).alias("cross_ret"),
    )


QUERIES["fx_cross_rate"] = q_fx_cross_rate

ORACLE["fx_cross_rate"] = _PRELUDE + f"""
, a AS (
  SELECT w_start_ms, close_price AS a_close, is_live AS a_live
  FROM filled WHERE key = '{CROSS_BASE}'
),
b AS (
  SELECT w_start_ms, close_price AS b_close, is_live AS b_live
  FROM filled WHERE key = '{CROSS_QUOTE}'
),
j AS (
  SELECT '{CROSS_BASE}/{CROSS_QUOTE}' AS pair,
         a.w_start_ms, a_close, b_close, a_live, b_live,
         a_close / b_close AS cross_px
  FROM a JOIN b USING (w_start_ms)
  WHERE a_close > 0 AND b_close > 0
)
SELECT pair, w_start_ms,
       round(cross_px, 6) AS cross_close,
       (a_live AND b_live) AS both_live,
       round(ln(cross_px / lag(cross_px)
                OVER (PARTITION BY pair ORDER BY w_start_ms)), 6)
         AS cross_ret
FROM j
"""


# ---- bid/ask spread stats ----------------------------------------------


def q_fx_spread_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (key, window) bid/ask spread microstructure stats over the
    spread-carrying tick view (ask = bid * 1.0001, the bidask fixture):
    tick count, mean/min/max absolute spread and mean relative spread
    (spread / mid) — the liquidity screen a quant desk runs next to the
    candle feed. One scan, one aggregation."""
    from data_timeseries_java_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    bid = F.col("value")
    ask = F.col("value") * F.lit(1.0001)
    spread = ask - bid
    rel = spread / ((ask + bid) / F.lit(2.0))
    from data_timeseries_java_spark.functions.stats import _floor6
    g = (ev.select(
            F.col("event_type").alias("key"),
            (F.floor(F.unix_millis("ts") / RES_MS) * RES_MS)
            .alias("w_start_ms"),
            spread.alias("spread"), rel.alias("rel"))
         .groupBy("key", "w_start_ms")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("spread").alias("s_sum"),
              F.min("spread").alias("s_min"),
              F.max("spread").alias("s_max"),
              F.sum("rel").alias("r_sum")))
    return g.select(
        "key", "w_start_ms",
        F.col("n").cast("long").alias("n_ticks"),
        _floor6(F.col("s_sum") / F.col("n")).alias("mean_spread"),
        _floor6(F.col("s_min")).alias("min_spread"),
        _floor6(F.col("s_max")).alias("max_spread"),
        _floor6(F.col("r_sum") / F.col("n")).alias("mean_rel_spread"),
    )


QUERIES["fx_spread_stats"] = q_fx_spread_stats

ORACLE["fx_spread_stats"] = f"""
WITH t AS (
  SELECT event_type AS key,
         (epoch_ms(ts) // {RES_MS}) * {RES_MS} AS w_start_ms,
         value * 1.0001 - value AS spread,
         (value * 1.0001 - value) / ((value * 1.0001 + value) / 2.0) AS rel
  FROM events
),
g AS (
  SELECT key, w_start_ms, count(*) AS n,
         sum(spread) AS s_sum, min(spread) AS s_min,
         max(spread) AS s_max, sum(rel) AS r_sum
  FROM t GROUP BY key, w_start_ms
)
SELECT key, w_start_ms,
       CAST(n AS BIGINT) AS n_ticks,
       floor(s_sum / n * 1000000) / 1000000 AS mean_spread,
       floor(s_min * 1000000) / 1000000 AS min_spread,
       floor(s_max * 1000000) / 1000000 AS max_spread,
       floor(r_sum / n * 1000000) / 1000000 AS mean_rel_spread
FROM g
"""


# ---- incremental correlation pipeline, driver-gated through replay ------

_CORR_STREAM_REPLAY_SINKS: dict[tuple, str] = {}


def q_fx_corr_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL incremental correlation pipeline executed through the
    STREAMING lane (`streaming/pipeline.py`): ticks replayed as an
    out-of-order file stream → watermarked window-aggregate candles,
    gap-filled and carried forward per micro-batch → per-batch log
    returns appended to the returns store →
    touched-windows-only correlation recompute → log-structured store
    with in-band supersession markers — then the store is RESOLVED
    (latest authoritative batch per window) and hash-matched against
    the SAME DuckDB oracle as the batch `fx_pair_correlation`. This is
    the operator the reference repo IS (FXTimeSeriesPipelineDemo.java's
    streaming correlation pipeline), gated end-to-end through the
    driver's correctness check rather than a pytest claim.

    Building this query RUNS the stream (laziness-guard exempt); the
    declared result is the resolved snapshot — each window's latest
    claim, kept by one window over a pruned parquet scan (a broadcast
    claim join on stores over 1 MiB)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.pipeline import (
        read_streaming_correlations,
        streaming_correlations,
    )
    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        drive_query,
        write_replay_buckets,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    store = _CORR_STREAM_REPLAY_SINKS.get(cache_key)
    if store is None or not os.path.isdir(store):
        ticks, keys_df = _ticks_and_keys(spark, sf_dir)
        universe = sorted(r[0] for r in keys_df.collect())
        t0_ms, t1_ms = ticks.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        work = tempfile.mkdtemp(prefix="fx_corr_stream_replay_")
        n_files = 3
        base = _time.time() - 1000
        write_replay_buckets(ticks, "event_time", f"{work}/in", n_files,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["key", "event_time"])
        sent = spark.createDataFrame(
            [(SENTINEL_KEY,)], "key string").select(
            "key",
            F.timestamp_millis(F.lit(t1_ms + 30 * 86_400_000))
            .alias("event_time"),
            F.lit(1.0).alias("bid"), F.lit(1.0).alias("ask"),
            F.lit(True).alias("is_live"))
        write_sentinel_file(sent, f"{work}/in", n_files, base)

        src = (spark.readStream.schema(ticks.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        cfg = CorrelationConfig(window=CORR_WINDOW, slide=CORR_SLIDE,
                                min_corr=0.0, propagate_nan=True)
        q = streaming_correlations(spark, src, f"{work}/store", RES,
                                   config=cfg, universe=universe)
        drive_query(q, 600, "fx correlation stream replay")
        store = f"{work}/store"
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{store}/checkpoint", ignore_errors=True)
        _CORR_STREAM_REPLAY_SINKS[cache_key] = store
    snap = (read_streaming_correlations(spark, store)
            .where((F.col("key1") != SENTINEL_KEY)
                   & (F.col("key2") != SENTINEL_KEY)))
    return snap.select(
        F.col("w_start_ms"),
        "key1", "key2",
        F.round("value", 6).alias("value"),
        F.col("x_count").cast("long").alias("n_points"),
        "is_nan",
    )


QUERIES["fx_corr_stream_replay"] = q_fx_corr_stream_replay
# resolved stream snapshot vs the SAME independent oracle as the batch
# flagship — registered after the ORACLE dict literal below

ORACLE["fx_corr_stream_replay"] = ORACLE["fx_pair_correlation"]


# ---- streaming realized vol, driver-gated through replay ----------------

_VOL_STREAM_REPLAY_SINKS: dict[tuple, str] = {}


def q_vol_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily realized volatility executed through the STREAMING lane
    (`streaming/vol_stream.py` — the batch decomposable-sums plan run
    incrementally behind a watermark, windows finalized on watermark
    pass) and hash-matched against the SAME DuckDB oracle as the batch
    `fx_realized_vol`.

    The replay input is the hourly log-returns frame (whose own
    derivation is oracle-checked by `fx_log_returns`), split into 3
    time-range files with md5-scrambled within-file order — the gate
    targets the streaming windowed aggregation's incremental state and
    out-of-order handling, with a far-future sentinel flushing the
    final day windows. Building this query RUNS the stream; the
    declared result is a pruned parquet scan of the sink."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.vol_stream import (
        streaming_realized_volatility,
    )
    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _VOL_STREAM_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        rets = _returns_df(spark, sf_dir).select("key", "time", "value")
        t0_ms, t1_ms = rets.select(
            F.min(_ms(F.col("time"))), F.max(_ms(F.col("time")))).first()
        n_files = 3
        work = tempfile.mkdtemp(prefix="vol_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(rets, "time", f"{work}/in", n_files,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["key", "time"])
        sent = spark.createDataFrame(
            [(SENTINEL_KEY,)], "key string").select(
            "key",
            F.timestamp_millis(F.lit(t1_ms + 30 * 86_400_000))
            .alias("time"),
            F.lit(0.0).alias("value"))
        write_sentinel_file(sent, f"{work}/in", n_files, base)

        src = (spark.readStream.schema(rets.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        vol = streaming_realized_volatility(src, "1 day")
        sink = run_to_parquet_sink(vol, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _VOL_STREAM_REPLAY_SINKS[cache_key] = sink
    v = (read_replay_sink(spark, sink)
         .where(F.col("key") != SENTINEL_KEY))
    return v.select(
        "key",
        _ms(F.col("window_start")).alias("day_ms"),
        "n_rets",
        F.round("realized_vol", 6).alias("realized_vol"),
    )


QUERIES["vol_stream_replay"] = q_vol_stream_replay

ORACLE["vol_stream_replay"] = ORACLE["fx_realized_vol"]


# ---- streaming EMA, driver-gated through replay -------------------------

_EMA_STREAM_REPLAY_SINKS: dict[tuple, str] = {}


def q_ema_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recursive EMA executed through the STREAMING lane
    (`streaming/ema_stream.py` — applyInPandasWithState carrying the
    cross-batch EMA seed, pandas ewm(adjust=False) continuing the exact
    IEEE-double recursion per micro-batch) and hash-matched against the
    SAME DuckDB RECURSIVE-CTE oracle as the batch `fx_ema_returns` —
    upgrading the EMA lane from a rows-only batch check + pytest
    stream==batch claim to a full three-way hash gate.

    The replay input is the hourly log-returns frame (derivation
    oracle-checked by `fx_log_returns`) in 3 time-range files; within-
    file order is md5-scrambled (the operator sorts each micro-batch by
    event time before folding, and time-range bucketing keeps files in
    recursion order — the contract under which stream == batch). No
    sentinel: the stateful function emits every row it sees, nothing
    waits on the watermark. Building this query RUNS the stream."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.ema_stream import (
        streaming_ema_applyinpandas,
    )
    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _EMA_STREAM_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        rets = _returns_df(spark, sf_dir).select(
            "key", F.col("time").alias("event_time"), "value")
        t0_ms, t1_ms = rets.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        n_files = 3
        work = tempfile.mkdtemp(prefix="ema_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(rets, "event_time", f"{work}/in", n_files,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["key", "event_time"])
        src = (spark.readStream.schema(rets.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        out = streaming_ema_applyinpandas(src, alpha=0.2,
                                          price_col="value")
        sink = run_to_parquet_sink(out, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _EMA_STREAM_REPLAY_SINKS[cache_key] = sink
    e = read_replay_sink(spark, sink)
    return e.select(
        "key",
        _ms(F.col("event_time")).alias("time_ms"),
        F.round("price", 6).alias("ret"),
        F.round("ema", 6).alias("ema"),
    )


QUERIES["ema_stream_replay"] = q_ema_stream_replay

ORACLE["ema_stream_replay"] = ORACLE["fx_ema_returns"]


# ---- out-of-order fold: the reorder stage, driver-gated through replay ----

_EMA_OOO_REPLAY_SINKS: dict[tuple, str] = {}


def q_ema_ooo_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FOLD-FAMILY CROSS-BATCH ORDER CONTRACT, pinned: the plain
    fold streams (`ema_stream_replay` et al.) require batches in
    per-key time order — a harness-supplied guarantee. This gate runs
    the SAME EMA recursion behind the watermark-buffered reorder stage
    (`streaming/reorder.py`) against a replay that deliberately BREAKS
    that guarantee: an md5-carved ~1/8 of every time bucket's rows is
    displaced one micro-batch LATE, so each file interleaves old rows
    after newer ones have already streamed — within the watermark
    delay D (one bucket width + margin). The reorder stage must buffer
    them and fold every row in exact event-time order; the oracle is
    the IDENTICAL RECURSIVE-CTE as the in-order gate, so the hash
    match proves order-insensitivity up to D with zero drops and zero
    double-folds. A far-future sentinel advances the global watermark
    to flush every key's buffer (keys with no sentinel rows flush via
    the stage's event-time timeout).

    Together with the (documented) beyond-D drop policy this gives the
    folds the same two-edged watermark contract the candle path has
    (`late_data_stream_replay` / `allowed_lateness_stream_replay`)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.reorder import reordered_ema
    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_files,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _EMA_OOO_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        rets = _returns_df(spark, sf_dir).select(
            "key", F.col("time").alias("event_time"), "value")
        t0_ms, t1_ms = rets.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        span = t1_ms - t0_ms + 1
        # D must exceed one bucket width so every displaced row is
        # still above the watermark when its (one-late) file arrives
        delay_ms = span // 3 + 2 * 3_600_000
        t = _ms(F.col("event_time"))
        bucket = F.least(F.lit(2),
                         F.floor((t - F.lit(t0_ms)) * 3 / F.lit(span)))
        digest = F.md5(F.concat_ws(":", F.col("key"), t.cast("string")))
        displaced = F.substring(digest, 1, 1).isin("0", "1")
        routed = rets.withColumn(
            "_f", (bucket + F.when(displaced, 1).otherwise(0))
            .cast("int"))
        n_disp = routed.where(displaced).count()
        if n_disp == 0:
            raise ValueError(
                "ema_ooo_stream_replay carved an empty displaced set — "
                "the out-of-order gate would be vacuous at this sf")
        work = tempfile.mkdtemp(prefix="ema_ooo_replay_")
        base = _time.time() - 1000
        write_replay_files(routed, "_f", f"{work}/in", 4, base,
                           ["key", "event_time"])
        sent = spark.createDataFrame(
            [(SENTINEL_KEY,)], "key string").select(
            "key",
            F.timestamp_millis(
                F.lit(t1_ms + delay_ms + 30 * 86_400_000))
            .alias("event_time"),
            F.lit(0.0).alias("value"))
        write_sentinel_file(sent, f"{work}/in", 4, base)
        src = (spark.readStream.schema(rets.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        out = reordered_ema(src, alpha=0.2, price_col="value",
                            watermark=f"{delay_ms} milliseconds")
        sink = run_to_parquet_sink(out, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _EMA_OOO_REPLAY_SINKS[cache_key] = sink
    e = (read_replay_sink(spark, sink)
         .where(F.col("key") != SENTINEL_KEY))
    return e.select(
        "key",
        _ms(F.col("event_time")).alias("time_ms"),
        F.round("price", 6).alias("ret"),
        F.round("ema", 6).alias("ema"),
    )


QUERIES["ema_ooo_stream_replay"] = q_ema_ooo_stream_replay

ORACLE["ema_ooo_stream_replay"] = ORACLE["fx_ema_returns"]


# ---- Holt linear-trend smoothing ----------------------------------------


def q_fx_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing over each instrument's
    carry-forward candle closes: per-candle level, trend, and one-step
    forecast (level + trend) — the trend-following companion to the
    EMA lane. Recursive per-key series op (grouped-map pandas, one
    shuffle; operators/ema.holt_linear); the DuckDB oracle runs the
    SAME two-equation recursion as a RECURSIVE CTE, bit-identical
    because the smoothing constants are dyadic (see the operator
    docstring)."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.ema import holt_linear

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES).select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("close.ask").alias("price"))
    h = holt_linear(c, alpha=0.25, beta=0.125,
                    time_col="w_start_ms", value_col="price")
    return h.select(
        "key", "w_start_ms",
        F.round("price", 6).alias("price"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round(F.col("level") + F.col("trend"), 6).alias("forecast"),
    )


QUERIES["fx_holt_trend"] = q_fx_holt_trend

ORACLE["fx_holt_trend"] = _PRELUDE + """,
seq AS MATERIALIZED (
  SELECT key, w_start_ms, close_price AS price,
         row_number() OVER (PARTITION BY key ORDER BY w_start_ms) AS rn
  FROM filled
)
SELECT key, w_start_ms, round(price, 6) AS price,
       round(level, 6) AS level, round(trend, 6) AS trend,
       round(level + trend, 6) AS forecast
FROM (
  WITH RECURSIVE h AS (
    SELECT key, w_start_ms, price, rn,
           price AS level, CAST(0 AS DOUBLE) AS trend
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.key, s.w_start_ms, s.price, s.rn,
           0.25 * s.price + 0.75 * (h.level + h.trend) AS level,
           0.125 * ((0.25 * s.price + 0.75 * (h.level + h.trend))
                    - h.level) + 0.875 * h.trend AS trend
    FROM seq s JOIN h ON s.key = h.key AND s.rn = h.rn + 1
  )
  SELECT * FROM h
)
"""


# ---- checkpoint recovery, driver-gated through two-phase replay ---------

_RECOVERY_REPLAY_SINKS: dict[tuple, str] = {}


def q_recovery_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RECOVERY through the driver gate: the candle pipeline
    is run as TWO separate streaming queries over the same source
    directory and the same retained checkpoint — phase 1 sees only the
    first two time-bucket files and terminates (availableNow); the
    remaining files and the watermark-flush sentinel are written
    AFTERWARDS and phase 2 starts fresh from the checkpoint, restoring
    the aggregate's state (unsealed windows), seeding carry-forward
    from phase 1's sink and processing only the new files. The union
    of both phases' sink partitions must hash-match the SAME batch oracle as
    `fx_candles_stream_replay` — if state restore dropped or replayed
    anything (double-processed files, lost pending windows, broken
    carry-forward across the restart boundary) the hash breaks.

    Building this query RUNS both streams (laziness-guard exempt)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.candles_stream import (
        streaming_complete_candles,
    )
    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        drive_query,
        read_replay_sink,
        write_replay_files,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _RECOVERY_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ticks, keys_df = _ticks_and_keys(spark, sf_dir)
        universe = sorted(r[0] for r in keys_df.collect())
        t0_ms, t1_ms = ticks.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        work = tempfile.mkdtemp(prefix="recovery_stream_replay_")
        n_files = 3
        base = _time.time() - 1000
        span = t1_ms - t0_ms + 1
        # phase 1: only buckets 0 and 1 exist on disk
        bucket = F.least(
            F.lit(n_files - 1),
            F.floor((_ms(F.col("event_time")) - F.lit(t0_ms))
                    * n_files / F.lit(span)))
        write_replay_files(ticks.withColumn("_f", bucket).where(bucket < 2),
                           "_f", f"{work}/in", 2, base,
                           ["key", "event_time"])

        def src():
            return (spark.readStream.schema(ticks.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(f"{work}/in/f*"))

        # watermark delay = one resolution: phase 1 then ends with
        # the last two candles still open in the aggregate's state
        # store, so phase 2 must restore partial candles from the
        # checkpoint as well as seed carry-forward from the sink. The
        # default 0-second delay across a restart is pinned by
        # tests/test_streaming_pipeline.py.
        drive_query(streaming_complete_candles(spark, src(), work, RES,
                                               watermark=RES,
                                               universe=universe),
                    what="recovery candle stream replay, phase 1")

        # phase 2: the rest of the feed + the flush sentinel appear,
        # and a NEW query resumes from the retained checkpoint
        write_sentinel_file(
            ticks.where(bucket == 2)
            .orderBy(F.md5(F.concat_ws(":", "key", "event_time"))),
            f"{work}/in", 2, base)
        write_sentinel_file(_candle_sentinel(spark, t1_ms), f"{work}/in",
                            n_files, base)

        drive_query(streaming_complete_candles(spark, src(), work, RES,
                                               watermark=RES,
                                               universe=universe),
                    what="recovery candle stream replay, phase 2")
        sink = f"{work}/candles"
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/checkpoint", ignore_errors=True)
        _RECOVERY_REPLAY_SINKS[cache_key] = sink
    flat = (read_replay_sink(spark, sink)
            .where(F.col("key") != SENTINEL_KEY))
    return flat.select(
        "key",
        _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("is_live"),
        _ms(F.col("open_time")).alias("open_time_ms"),
        F.col("open_ask").alias("open_price"),
        _ms(F.col("close_time")).alias("close_time_ms"),
        F.col("close_ask").alias("close_price"),
        F.col("min_ask").alias("min_price"),
        F.col("max_ask").alias("max_price"),
    )


QUERIES["recovery_stream_replay"] = q_recovery_stream_replay

ORACLE["recovery_stream_replay"] = ORACLE["fx_candles_stream_replay"]


# ---- mean-reversion half-life -------------------------------------------


def q_fx_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ornstein-Uhlenbeck mean-reversion half-life per instrument: the
    AR(1) regression of price changes on lagged price (dx_t = beta *
    x_{t-1} + eps) over the carry-forward candle closes, half-life =
    -ln(2)/ln(1+beta) candles when the series mean-reverts (-1 < beta
    < 0) — the pairs-desk holding-period estimate. Closed-form OLS
    from decomposable sums (the distributed-regression shape of
    value_trend_ols: sums are ROUNDED before the closed form so both
    engines do bit-identical arithmetic downstream of the reduction);
    one lag window + one aggregation on the same key partitioning."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.operators.candles import candles_pipeline

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES).select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("close.ask").alias("px"))
    w = Window.partitionBy("key").orderBy("w_start_ms")
    x = F.lag("px").over(w)
    d = (c.select("key", x.alias("x"), (F.col("px") - x).alias("y"))
         .where(F.col("x").isNotNull()))
    st = d.groupBy("key").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sxx"),
        F.round(F.sum(F.col("x") * F.col("y")), 6).alias("sxy"))
    beta = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")), 6)
    st = st.withColumn("beta", beta)
    hl = F.when((F.col("beta") < 0) & (F.col("beta") > -1),
                F.round(-F.log(F.lit(2.0)) / F.log(1 + F.col("beta")), 6))
    return st.select(
        "key", F.col("n").cast("long").alias("n_obs"), "beta",
        hl.alias("half_life_windows"))


QUERIES["fx_half_life"] = q_fx_half_life


# ---- candlestick pattern detection --------------------------------------


def q_fx_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic candlestick pattern flags per carry-forward candle:
    doji (body <= 10% of range), hammer (lower shadow >= 2x body,
    upper shadow <= body), and bullish/bearish engulfing against the
    previous candle's body. Pure lag comparisons on the candle frame —
    one window over the same key partitioning, no extra shuffle; all
    comparisons are on raw carried prices, so the flags are exactly
    reproducible cross-engine (no float rounding in the predicate
    inputs)."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.operators.candles import candles_pipeline

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES).select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("open.ask").alias("o"), F.col("close.ask").alias("c"),
        F.col("min_ask.ask").alias("lo"), F.col("max_ask.ask").alias("hi"))
    w = Window.partitionBy("key").orderBy("w_start_ms")
    po, pc = F.lag("o").over(w), F.lag("c").over(w)
    d = c.select("key", "w_start_ms", "o", "c", "lo", "hi",
                 po.alias("po"), pc.alias("pc"))
    body = F.abs(F.col("c") - F.col("o"))
    rng = F.col("hi") - F.col("lo")
    lower_sh = F.least("o", "c") - F.col("lo")
    upper_sh = F.col("hi") - F.greatest("o", "c")
    return d.select(
        "key", "w_start_ms",
        ((rng > 0) & (body <= 0.1 * rng)).alias("is_doji"),
        ((rng > 0) & (lower_sh >= 2 * body) & (upper_sh <= body))
        .alias("is_hammer"),
        (F.col("po").isNotNull() & (F.col("pc") < F.col("po"))
         & (F.col("c") > F.col("o")) & (F.col("o") <= F.col("pc"))
         & (F.col("c") >= F.col("po"))).alias("bullish_engulfing"),
        (F.col("po").isNotNull() & (F.col("pc") > F.col("po"))
         & (F.col("c") < F.col("o")) & (F.col("o") >= F.col("pc"))
         & (F.col("c") <= F.col("po"))).alias("bearish_engulfing"),
    )


QUERIES["fx_candle_patterns"] = q_fx_candle_patterns

ORACLE["fx_half_life"] = _PRELUDE + """,
d AS (
  SELECT key,
         lag(close_price) OVER w AS x,
         close_price - lag(close_price) OVER w AS y
  FROM complete
  WINDOW w AS (PARTITION BY key ORDER BY w_start_ms)
),
st AS (
  SELECT key, CAST(count(*) AS DOUBLE) AS n,
         round(sum(x), 6) AS sx, round(sum(y), 6) AS sy,
         round(sum(x * x), 6) AS sxx, round(sum(x * y), 6) AS sxy
  FROM d WHERE x IS NOT NULL GROUP BY key
)
SELECT key, CAST(n AS BIGINT) AS n_obs, beta,
       CASE WHEN beta < 0 AND beta > -1
            THEN round(-ln(2) / ln(1 + beta), 6) END AS half_life_windows
FROM (
  SELECT *, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta
  FROM st
)
"""

ORACLE["fx_candle_patterns"] = _PRELUDE + """,
d AS (
  SELECT key, w_start_ms,
         open_price AS o, close_price AS c, min_price AS lo,
         max_price AS hi,
         lag(open_price) OVER w AS po, lag(close_price) OVER w AS pc
  FROM complete
  WINDOW w AS (PARTITION BY key ORDER BY w_start_ms)
)
SELECT key, w_start_ms,
       (hi - lo > 0 AND abs(c - o) <= 0.1 * (hi - lo)) AS is_doji,
       (hi - lo > 0 AND least(o, c) - lo >= 2 * abs(c - o)
        AND hi - greatest(o, c) <= abs(c - o)) AS is_hammer,
       (po IS NOT NULL AND pc < po AND c > o AND o <= pc AND c >= po)
         AS bullish_engulfing,
       (po IS NOT NULL AND pc > po AND c < o AND o >= pc AND c <= po)
         AS bearish_engulfing
FROM d
"""


# ---- Kalman local-level filter ------------------------------------------


def q_fx_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman local-level filtering of each instrument's candle
    closes: adaptive-gain denoised level + per-step gain and variance
    (operators/ema.kalman_local_level). The oracle runs the SAME
    predict/gain/update recursion as a DuckDB RECURSIVE CTE with
    expression-identical IEEE arithmetic, so the 6-decimal outputs
    hash-match — the adaptive companion to the fixed-alpha EMA lane."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.ema import kalman_local_level

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES).select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("close.ask").alias("price"))
    k = kalman_local_level(c, q=0.001, r=0.01,
                           time_col="w_start_ms", value_col="price")
    return k.select(
        "key", "w_start_ms",
        F.round("price", 6).alias("price"),
        F.round("kf_level", 6).alias("kf_level"),
        F.round("kf_gain", 6).alias("kf_gain"),
        F.round("kf_var", 6).alias("kf_var"),
    )


QUERIES["fx_kalman_level"] = q_fx_kalman_level

ORACLE["fx_kalman_level"] = _PRELUDE + """,
seq AS MATERIALIZED (
  SELECT key, w_start_ms, close_price AS z,
         row_number() OVER (PARTITION BY key ORDER BY w_start_ms) AS rn
  FROM filled
)
SELECT key, w_start_ms, round(z, 6) AS price,
       round(l, 6) AS kf_level, round(k, 6) AS kf_gain,
       round(p, 6) AS kf_var
FROM (
  WITH RECURSIVE kf AS (
    SELECT key, w_start_ms, z, rn,
           z AS l, CAST(0 AS DOUBLE) AS k, CAST(1 AS DOUBLE) AS p
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.key, s.w_start_ms, s.z, s.rn,
           f.l + ((f.p + 0.001) / ((f.p + 0.001) + 0.01)) * (s.z - f.l)
             AS l,
           (f.p + 0.001) / ((f.p + 0.001) + 0.01) AS k,
           (1 - (f.p + 0.001) / ((f.p + 0.001) + 0.01)) * (f.p + 0.001)
             AS p
    FROM seq s JOIN kf f ON s.key = f.key AND s.rn = f.rn + 1
  )
  SELECT * FROM kf
)
"""


# ---- streaming Holt + Kalman, driver-gated through replay ---------------

_SERIES_STREAM_REPLAY_SINKS: dict[tuple, str] = {}


def _series_stream_replay(spark: SparkSession, sf_dir: str, which: str):
    """Shared replay for the recursive series streams: the
    carry-forward candle close series (derivation oracle-checked by
    fx_candles_complete) replayed as 3 time-range files with
    md5-scrambled within-file order, folded through the streaming
    operator, sink returned for the gate's select."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.streaming.ema_stream import (
        streaming_holt,
        streaming_kalman,
    )
    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir),
                 which)
    sink = _SERIES_STREAM_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ticks, keys = _ticks_and_keys(spark, sf_dir)
        if which == "garch":
            # GARCH filters the RETURN series (oracle-checked by
            # fx_log_returns), not the price level
            series = _returns_df(spark, sf_dir).select(
                "key", F.col("time").alias("event_time"),
                F.col("value").alias("price"))
        else:
            series = candles_pipeline(ticks, keys, RES).select(
                "key",
                (F.col("window_start")).alias("event_time"),
                F.col("close.ask").alias("price"))
        t0_ms, t1_ms = series.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        n_files = 3
        work = tempfile.mkdtemp(prefix=f"{which}_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(series, "event_time", f"{work}/in", n_files,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["key", "event_time"])
        src = (spark.readStream.schema(series.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        from data_timeseries_java_spark.streaming.ema_stream import (
            streaming_drawdown,
            streaming_garch,
            streaming_macd,
        )
        out = {"holt": streaming_holt, "kalman": streaming_kalman,
               "garch": streaming_garch,
               "drawdown": streaming_drawdown,
               "macd": streaming_macd}[which](src)
        sink = run_to_parquet_sink(out, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _SERIES_STREAM_REPLAY_SINKS[cache_key] = sink
    return read_replay_sink(spark, sink)


def q_holt_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing executed through the STREAMING lane
    (`streaming/ema_stream.streaming_holt` — (level, trend) keyed
    state across micro-batches) and hash-matched against the SAME
    RECURSIVE-CTE oracle as the batch `fx_holt_trend`. Building this
    query RUNS the stream (laziness-guard exempt)."""
    h = _series_stream_replay(spark, sf_dir, "holt")
    return h.select(
        "key", _ms(F.col("event_time")).alias("w_start_ms"),
        F.round("price", 6).alias("price"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round(F.col("level") + F.col("trend"), 6).alias("forecast"),
    )


def q_kalman_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman local-level filtering executed through the STREAMING
    lane (`streaming/ema_stream.streaming_kalman` — (level, variance)
    keyed state) and hash-matched against the batch `fx_kalman_level`
    RECURSIVE-CTE oracle. Building this query RUNS the stream."""
    k = _series_stream_replay(spark, sf_dir, "kalman")
    return k.select(
        "key", _ms(F.col("event_time")).alias("w_start_ms"),
        F.round("price", 6).alias("price"),
        F.round("kf_level", 6).alias("kf_level"),
        F.round("kf_gain", 6).alias("kf_gain"),
        F.round("kf_var", 6).alias("kf_var"),
    )


def q_macd_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26,9) executed through the STREAMING lane
    (`streaming/ema_stream.streaming_macd` — (ema_fast, ema_slow,
    signal) keyed state across micro-batches) and hash-matched against
    the batch `fx_macd` RECURSIVE-CTE oracle. Building this query RUNS
    the stream (laziness-guard exempt)."""
    m = _series_stream_replay(spark, sf_dir, "macd")
    return m.select(
        "key", _ms(F.col("event_time")).alias("time_ms"),
        F.round("price", 6).alias("close_price"),
        F.round("macd", 6).alias("macd"),
        F.round("signal", 6).alias("signal"),
        F.round("histogram", 6).alias("histogram"),
    )


QUERIES["holt_stream_replay"] = q_holt_stream_replay
QUERIES["kalman_stream_replay"] = q_kalman_stream_replay
QUERIES["macd_stream_replay"] = q_macd_stream_replay

ORACLE["holt_stream_replay"] = ORACLE["fx_holt_trend"]
ORACLE["kalman_stream_replay"] = ORACLE["fx_kalman_level"]


# ---- Hurst exponent (aggregated-variance method) ------------------------

_HURST_MS = [1, 2, 4, 8]


def q_fx_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per instrument via the aggregated-variance
    method: variance of non-overlapping m-candle block returns for
    m in {1,2,4,8}; for self-affine increments Var(m) ~ m^(2H), so H =
    slope/2 of the log-log regression — ~0.5 for a random walk,
    >0.5 trending, <0.5 mean-reverting. All moments from ROUNDED
    decomposable sums (the value_trend_ols convention) so both engines
    do identical arithmetic; one explode over the 4 block sizes, two
    aggregations on the key partitioning, no iteration."""
    from pyspark.sql import Window

    r = _returns_df(spark, sf_dir).select(
        "key", _ms(F.col("time")).alias("time_ms"), "value")
    w = Window.partitionBy("key").orderBy("time_ms")
    idx = F.row_number().over(w) - 1
    # idx in its OWN select: a window function and a generator in one
    # projection get planned generator-first, numbering the exploded
    # copies instead of the source rows
    rows = (r.select("key", "value", idx.alias("i"))
            .select("key", "value", "i",
                    F.explode(F.array(*[F.lit(m) for m in _HURST_MS]))
                    .alias("m")))
    blocks = (rows.groupBy("key", "m",
                           (F.col("i") - F.col("i") % F.col("m"))
                           .alias("b"))
              .agg(F.sum("value").alias("bsum"),
                   F.count(F.lit(1)).alias("cnt"))
              .where(F.col("cnt") == F.col("m")))     # exact blocks only
    vars = blocks.groupBy("key", "m").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("bsum"), 6).alias("sb"),
        F.round(F.sum(F.col("bsum") * F.col("bsum")), 6).alias("sbb"))
    v = F.col("sbb") / F.col("n") - (F.col("sb") / F.col("n")) ** 2
    pts = vars.select("key", F.log(F.col("m").cast("double")).alias("x"),
                      F.log(v).alias("y")).where(v > 0)
    st = pts.groupBy("key").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sxx"),
        F.round(F.sum(F.col("x") * F.col("y")), 6).alias("sxy"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return st.select(
        "key", F.col("n").cast("long").alias("n_scales"),
        F.round(slope / 2, 6).alias("hurst"))


QUERIES["fx_hurst"] = q_fx_hurst

ORACLE["fx_hurst"] = _PRELUDE + """,
idx AS (
  SELECT key, ret,
         row_number() OVER (PARTITION BY key ORDER BY time_ms) - 1 AS i
  FROM returns
),
ms(m) AS (VALUES (1), (2), (4), (8)),
blocks AS (
  SELECT key, m, i - i % m AS b, sum(ret) AS bsum, count(*) AS cnt
  FROM idx CROSS JOIN ms
  GROUP BY key, m, i - i % m
  HAVING count(*) = m
),
vars AS (
  SELECT key, m, CAST(count(*) AS DOUBLE) AS n,
         round(sum(bsum), 6) AS sb,
         round(sum(bsum * bsum), 6) AS sbb
  FROM blocks GROUP BY key, m
),
pts AS (
  SELECT key, ln(CAST(m AS DOUBLE)) AS x,
         ln(sbb / n - (sb / n) * (sb / n)) AS y
  FROM vars WHERE sbb / n - (sb / n) * (sb / n) > 0
),
st AS (
  SELECT key, CAST(count(*) AS DOUBLE) AS n,
         round(sum(x), 6) AS sx, round(sum(y), 6) AS sy,
         round(sum(x * x), 6) AS sxx, round(sum(x * y), 6) AS sxy
  FROM pts GROUP BY key
)
SELECT key, CAST(n AS BIGINT) AS n_scales,
       round(((n * sxy - sx * sy) / (n * sxx - sx * sx)) / 2, 6) AS hurst
FROM st
"""


# ---- GARCH(1,1) conditional volatility ----------------------------------


def q_fx_garch_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional-variance filtering of each instrument's
    hourly log returns with fixed dyadic parameters (filtering, not
    estimation — operators/ema.garch_vol): the volatility-clustering
    model a risk desk runs next to realized vol. RECURSIVE-CTE oracle
    with expression-identical IEEE arithmetic (sqrt is correctly
    rounded in IEEE 754, so garch_vol hash-matches too)."""
    from data_timeseries_java_spark.operators.ema import garch_vol

    r = _returns_df(spark, sf_dir)
    g = garch_vol(r, alpha=0.125, beta=0.75, omega=0.000001)
    return g.select(
        "key", _ms(F.col("time")).alias("time_ms"),
        F.round("value", 6).alias("ret"),
        F.round("garch_var", 6).alias("garch_var"),
        F.round("garch_vol", 6).alias("garch_vol"),
    )


def q_garch_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) executed through the STREAMING lane
    (`streaming/ema_stream.streaming_garch` — (prev_return, variance)
    keyed state) and hash-matched against the batch `fx_garch_vol`
    RECURSIVE-CTE oracle. Building this query RUNS the stream."""
    g = _series_stream_replay(spark, sf_dir, "garch")
    return g.select(
        "key", _ms(F.col("event_time")).alias("time_ms"),
        F.round("price", 6).alias("ret"),
        F.round("garch_var", 6).alias("garch_var"),
        F.round("garch_vol", 6).alias("garch_vol"),
    )


QUERIES["fx_garch_vol"] = q_fx_garch_vol
QUERIES["garch_stream_replay"] = q_garch_stream_replay

ORACLE["fx_garch_vol"] = _PRELUDE + """,
seq AS MATERIALIZED (
  SELECT key, time_ms, ret,
         row_number() OVER (PARTITION BY key ORDER BY time_ms) AS rn
  FROM returns
)
SELECT key, time_ms, round(ret, 6) AS ret,
       round(v, 6) AS garch_var, round(sqrt(v), 6) AS garch_vol
FROM (
  WITH RECURSIVE g AS (
    SELECT key, time_ms, ret, rn, ret * ret AS v
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.key, s.time_ms, s.ret, s.rn,
           0.000001 + 0.125 * (e.ret * e.ret) + 0.75 * e.v AS v
    FROM seq s JOIN g e ON s.key = e.key AND s.rn = e.rn + 1
  )
  SELECT * FROM g
)
"""

ORACLE["garch_stream_replay"] = ORACLE["fx_garch_vol"]


def q_drawdown_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown executed through the STREAMING lane
    (`streaming/ema_stream.streaming_drawdown` — running-peak keyed
    state; per-row instantaneous drawdowns in the sink, aggregated
    per key by the declared result) and hash-matched against the SAME
    DuckDB oracle as the batch `fx_drawdown`. Building this query RUNS
    the stream."""
    d = _series_stream_replay(spark, sf_dir, "drawdown")
    return d.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.round(F.max("peak"), 6).alias("peak_price"),
        (F.floor(F.max("dd") * 1000000) / 1000000).alias("max_drawdown"),
    )


QUERIES["drawdown_stream_replay"] = q_drawdown_stream_replay

ORACLE["drawdown_stream_replay"] = ORACLE["fx_drawdown"]


# ---- Parkinson high-low volatility --------------------------------------


def q_fx_parkinson_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson (1980) high-low volatility per instrument per day:
    sqrt( mean( ln(high/low)^2 ) / (4 ln 2) ) over the LIVE hourly
    candles — the range-based estimator that uses the candle min/max
    the close-to-close lanes ignore (~5x more efficient per candle
    when the price path is Brownian). One aggregation on the candle
    frame; gap candles (high == low, zero range) are excluded as the
    estimator requires a real traded range."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES).select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("min_ask.ask").alias("lo"), F.col("max_ask.ask").alias("hi"),
        "is_live")
    d = c.where(F.col("is_live") & (F.col("lo") > 0)
                & (F.col("hi") > F.col("lo")))
    r2 = F.log(F.col("hi") / F.col("lo")) ** 2
    day = (F.floor(F.col("w_start_ms") / 86_400_000)
           * 86_400_000).alias("day_ms")
    return (d.groupBy("key", day)
            .agg(F.count(F.lit(1)).cast("long").alias("n_candles"),
                 F.round(F.sqrt(F.avg(r2) / F.lit(4.0)
                                / F.log(F.lit(2.0))), 6)
                 .alias("parkinson_vol")))


QUERIES["fx_parkinson_vol"] = q_fx_parkinson_vol


# ---- tick-rule order-flow imbalance -------------------------------------


def _tick_directions(ticks):
    """Shared tick-rule classification frame (key, event_time, dir):
    BUY=+1 above the previous tick's price, SELL=-1 below, last nonzero
    direction carried through unchanged prices. One key-partitioned
    sort serves the lag AND the carry — consumed by fx_tick_rule
    (counts) and fx_kyle_lambda (signed flow)."""
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("event_time")
    chg = F.col("ask") - F.lag("ask").over(w)
    signed = F.when(chg > 0, 1).when(chg < 0, -1)  # NULL on flat/first
    t = ticks.where(F.col("is_live")).select(
        "key", "event_time", signed.alias("s"))
    return t.select(
        "key", "event_time",
        F.last("s", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("dir"))


# shared oracle fragment for the same derivation (names sgn/tr_carried)
_TICK_DIR_CTE = """
sgn AS (
  SELECT key, event_time,
         CASE WHEN price - lag(price) OVER wt > 0 THEN 1
              WHEN price - lag(price) OVER wt < 0 THEN -1 END AS s
  FROM ticks
  WINDOW wt AS (PARTITION BY key ORDER BY event_time)
),
tr_carried AS (
  SELECT key, event_time,
         last_value(s IGNORE NULLS) OVER (
             PARTITION BY key ORDER BY event_time
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dir
  FROM sgn
)"""


def q_fx_tick_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule trade classification (the Lee-Ready uptick test
    without quotes): each tick is a BUY if its price is above the
    previous tick's, a SELL if below, and carries the last nonzero
    direction through unchanged prices (last-non-null window idiom —
    the same carry-forward shape as the candle gap-fill). Output:
    per (key, hour-window) buy/sell counts and the normalized
    order-flow imbalance. One key-partitioned sort serves the lag AND
    the carry; one aggregation on top."""
    ticks, _ = _ticks_and_keys(spark, sf_dir)
    carried = _tick_directions(ticks)
    win = (F.floor(_ms(F.col("event_time")) / F.lit(RES_MS))
           * RES_MS).alias("w_start_ms")
    g = (carried.where(F.col("dir").isNotNull())
         .groupBy("key", win)
         .agg(F.sum(F.when(F.col("dir") == 1, 1).otherwise(0))
              .cast("long").alias("n_buy"),
              F.sum(F.when(F.col("dir") == -1, 1).otherwise(0))
              .cast("long").alias("n_sell")))
    imb = ((F.col("n_buy") - F.col("n_sell"))
           / (F.col("n_buy") + F.col("n_sell")))
    return g.select("key", "w_start_ms", "n_buy", "n_sell",
                    F.round(imb, 6).alias("imbalance"))


QUERIES["fx_tick_rule"] = q_fx_tick_rule

ORACLE["fx_parkinson_vol"] = _PRELUDE + """,
live AS (
  SELECT key, w_start_ms, min_price AS lo, max_price AS hi
  FROM complete
  WHERE is_live AND min_price > 0 AND max_price > min_price
)
SELECT key,
       (w_start_ms // 86400000) * 86400000 AS day_ms,
       CAST(count(*) AS BIGINT) AS n_candles,
       round(sqrt(avg(ln(hi / lo) * ln(hi / lo)) / 4.0 / ln(2.0)), 6)
         AS parkinson_vol
FROM live
GROUP BY key, day_ms
"""

ORACLE["fx_tick_rule"] = """
WITH ticks AS (
  SELECT event_type AS key, ts AS event_time, value AS price
  FROM events
),""" + _TICK_DIR_CTE + """,
g AS (
  SELECT key,
         (epoch_ms(event_time) // {res}) * {res} AS w_start_ms,
         CAST(count(*) FILTER (dir = 1) AS BIGINT) AS n_buy,
         CAST(count(*) FILTER (dir = -1) AS BIGINT) AS n_sell
  FROM tr_carried WHERE dir IS NOT NULL
  GROUP BY key, w_start_ms
)
SELECT key, w_start_ms, n_buy, n_sell,
       round((n_buy - n_sell) * 1.0 / (n_buy + n_sell), 6) AS imbalance
FROM g
""".replace("{res}", str(RES_MS))


# ---- technical indicators (round 7 batch 2) ------------------------------


def q_fx_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K/%D over complete candles — see
    operators.resample.stochastic_oscillator (two window passes on the
    candle pipeline's own key-partitioned sort, no extra shuffle)."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.resample import (
        stochastic_oscillator)

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    s = stochastic_oscillator(candles_pipeline(ticks, keys, RES))
    return s.select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.round("close_price", 6).alias("close_price"),
        F.round("channel_high", 6).alias("channel_high"),
        F.round("channel_low", 6).alias("channel_low"),
        F.round("pct_k", 6).alias("pct_k"),
        F.round("pct_d", 6).alias("pct_d"),
    )


QUERIES["fx_stochastic"] = q_fx_stochastic

ORACLE["fx_stochastic"] = _PRELUDE + """
SELECT key, w_start_ms,
       round(close_price, 6) AS close_price,
       round(hi, 6) AS channel_high,
       round(lo, 6) AS channel_low,
       round(pct_k, 6) AS pct_k,
       round(avg(pct_k) OVER d, 6) AS pct_d
FROM (
  SELECT key, w_start_ms, close_price,
         max(max_price) OVER w AS hi,
         min(min_price) OVER w AS lo,
         CASE WHEN max(max_price) OVER w > min(min_price) OVER w
              THEN 100.0 * (close_price - min(min_price) OVER w)
                   / (max(max_price) OVER w - min(min_price) OVER w)
         END AS pct_k
  FROM filled
  WINDOW w AS (PARTITION BY key ORDER BY w_start_ms
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
WINDOW d AS (PARTITION BY key ORDER BY w_start_ms
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_fx_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range (SMA-smoothed, Cutler-style) — see
    operators.resample.average_true_range."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.resample import (
        average_true_range)

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    a = average_true_range(candles_pipeline(ticks, keys, RES))
    return a.select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.round("true_range", 6).alias("true_range"),
        F.round("atr", 6).alias("atr"),
    )


QUERIES["fx_atr"] = q_fx_atr

ORACLE["fx_atr"] = _PRELUDE + """,
tr AS (
  SELECT key, w_start_ms,
         CASE WHEN lag(close_price) OVER w IS NULL
              THEN max_price - min_price
              ELSE greatest(max_price - min_price,
                            abs(max_price - lag(close_price) OVER w),
                            abs(min_price - lag(close_price) OVER w))
         END AS true_range
  FROM filled
  WINDOW w AS (PARTITION BY key ORDER BY w_start_ms)
)
SELECT key, w_start_ms,
       round(true_range, 6) AS true_range,
       round(avg(true_range) OVER f, 6) AS atr
FROM tr
WINDOW f AS (PARTITION BY key ORDER BY w_start_ms
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
"""


def q_fx_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume (tick-count volume proxy) — see
    operators.resample.on_balance_volume. One map-side-combinable
    aggregate + one candle-sized running sum."""
    from data_timeseries_java_spark.operators.resample import (
        on_balance_volume)

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    o = on_balance_volume(ticks, RES)
    return o.select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        "volume",
        F.round("close_price", 6).alias("close_price"),
        "signed_volume", "obv",
    )


QUERIES["fx_obv"] = q_fx_obv

ORACLE["fx_obv"] = """
WITH t AS (
  SELECT event_type AS key, ts AS event_time, value AS ask FROM events
),
g AS (
  SELECT key, (epoch_ms(event_time) // {res}) * {res} AS w_start_ms,
         CAST(count(*) AS BIGINT) AS volume,
         arg_max(ask, event_time) AS close_price
  FROM t GROUP BY key, w_start_ms
),
s AS (
  SELECT *,
         CASE WHEN lag(close_price) OVER w IS NULL THEN CAST(0 AS BIGINT)
              WHEN close_price > lag(close_price) OVER w THEN volume
              WHEN close_price < lag(close_price) OVER w THEN -volume
              ELSE CAST(0 AS BIGINT) END AS signed_volume
  FROM g
  WINDOW w AS (PARTITION BY key ORDER BY w_start_ms)
)
SELECT key, w_start_ms, volume,
       round(close_price, 6) AS close_price,
       signed_volume,
       CAST(sum(signed_volume) OVER (PARTITION BY key ORDER BY w_start_ms
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS obv
FROM s
""".replace("{res}", str(RES_MS))


def q_fx_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26,9) over complete-candle closes — see
    operators.ema.macd (three adjust=False EMA recursions in one
    grouped-map pass; the oracle replays them in a single RECURSIVE CTE
    carrying ema_fast/ema_slow/signal as frontier columns)."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.ema import macd

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES)
    series = c.select("key", F.col("window_start").alias("time"),
                      F.col("close.ask").alias("value"))
    m = macd(series)
    return m.select(
        "key", _ms(F.col("time")).alias("time_ms"),
        F.round("value", 6).alias("close_price"),
        F.round("macd", 6).alias("macd"),
        F.round("signal", 6).alias("signal"),
        F.round("histogram", 6).alias("histogram"),
    )


QUERIES["fx_macd"] = q_fx_macd

# Same IEEE-double recursions as pandas ewm(span, adjust=False): alpha
# computed as 2.0/(span+1.0) on both sides, y' = (1-a)*y + a*x. The
# frontier advances one candle per key per iteration and carries all
# three states, so signal sees each step's macd in the same row.
ORACLE["fx_macd"] = _PRELUDE + """,
seq AS MATERIALIZED (
  SELECT key, w_start_ms, close_price,
         row_number() OVER (PARTITION BY key ORDER BY w_start_ms) AS rn
  FROM filled
)
SELECT key, time_ms,
       round(close_price, 6) AS close_price,
       round(macd, 6) AS macd,
       round(signal, 6) AS signal,
       round(macd - signal, 6) AS histogram
FROM (
  WITH RECURSIVE m AS (
    SELECT key, w_start_ms AS time_ms, close_price, rn,
           close_price AS ema_f, close_price AS ema_s,
           CAST(0.0 AS DOUBLE) AS macd, CAST(0.0 AS DOUBLE) AS signal
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.key, s.w_start_ms, s.close_price, s.rn,
           (1.0 - 2.0 / 13.0) * m.ema_f + (2.0 / 13.0) * s.close_price,
           (1.0 - 2.0 / 27.0) * m.ema_s + (2.0 / 27.0) * s.close_price,
           ((1.0 - 2.0 / 13.0) * m.ema_f + (2.0 / 13.0) * s.close_price)
             - ((1.0 - 2.0 / 27.0) * m.ema_s + (2.0 / 27.0) * s.close_price),
           (1.0 - 2.0 / 10.0) * m.signal + (2.0 / 10.0) *
             (((1.0 - 2.0 / 13.0) * m.ema_f + (2.0 / 13.0) * s.close_price)
              - ((1.0 - 2.0 / 27.0) * m.ema_s + (2.0 / 27.0) * s.close_price))
    FROM seq s JOIN m ON s.key = m.key AND s.rn = m.rn + 1
  )
  SELECT * FROM m
)
"""


def q_fx_cointegration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration screen over each instrument pair's
    complete-candle closes — see operators.correlation.engle_granger
    (OLS hedge ratio + closed-form zero-lag Dickey-Fuller t on the
    residual; one pair join + two aggregates)."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.correlation import (
        engle_granger)

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    g = engle_granger(candles_pipeline(ticks, keys, RES))
    return g.select(
        "key1", "key2", "n",
        F.round("beta", 6).alias("beta"),
        F.round("alpha", 6).alias("alpha"),
        F.round("rho", 6).alias("rho"),
        F.round("adf_t", 6).alias("adf_t"),
    )


QUERIES["fx_cointegration"] = q_fx_cointegration

ORACLE["fx_cointegration"] = _PRELUDE + """,
px AS (SELECT key, w_start_ms, close_price AS px FROM filled),
paired AS (
  SELECT a.key AS key1, b.key AS key2, a.w_start_ms, a.px AS x, b.px AS y
  FROM px a JOIN px b ON a.w_start_ms = b.w_start_ms AND a.key < b.key
),
osums AS (
  SELECT key1, key2, CAST(count(*) AS DOUBLE) AS nobs,
         round(sum(x), 6) AS sx, round(sum(y), 6) AS sy,
         round(sum(x * x), 6) AS sxx, round(sum(x * y), 6) AS sxy
  FROM paired GROUP BY key1, key2
),
ob AS (
  SELECT *, round((nobs * sxy - sx * sy) / (nobs * sxx - sx * sx), 9)
              AS beta
  FROM osums
),
ols AS (
  SELECT key1, key2, beta,
         round((sy - beta * sx) / nobs, 9) AS alpha,
         CAST(nobs AS BIGINT) AS n
  FROM ob
),
lagged AS (
  SELECT p.key1, p.key2, o.beta, o.alpha, o.n,
         p.y - o.alpha - o.beta * p.x AS e,
         lag(p.y - o.alpha - o.beta * p.x) OVER (
             PARTITION BY p.key1, p.key2 ORDER BY p.w_start_ms) AS e_prev
  FROM paired p JOIN ols o ON p.key1 = o.key1 AND p.key2 = o.key2
),
sums AS (
  SELECT key1, key2, beta, alpha, n,
         round(sum(e_prev * (e - e_prev)), 6) AS s1,
         round(sum(e_prev * e_prev), 6) AS s2,
         round(sum((e - e_prev) * (e - e_prev)), 6) AS s3,
         CAST(count(*) AS BIGINT) AS n_d
  FROM lagged WHERE e_prev IS NOT NULL
  GROUP BY 1, 2, 3, 4, 5
)
SELECT key1, key2, n,
       round(beta, 6) AS beta,
       round(alpha, 6) AS alpha,
       CASE WHEN s2 > 0 THEN round(s1 / s2, 6) END AS rho,
       CASE WHEN s2 > 0 AND n_d > 1
                 AND greatest(s3 - 2.0 * (s1 / s2) * s1
                              + (s1 / s2) * (s1 / s2) * s2, 0.0) > 0
            THEN round((s1 / s2)
                       / sqrt(greatest(s3 - 2.0 * (s1 / s2) * s1
                                       + (s1 / s2) * (s1 / s2) * s2, 0.0)
                              / (n_d - 1) / s2), 6) END AS adf_t
FROM sums
"""


def q_fx_ewma_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA covariance/correlation per instrument pair (RiskMetrics
    recursion, λ = 0.9375) — see
    operators.correlation.ewma_pair_covariance. Oracle replays the
    same adjust=False recursions as RECURSIVE CTEs (α = 1/16 is exactly
    representable, so both engines' doubles agree bit-for-bit)."""
    from data_timeseries_java_spark.operators.correlation import (
        ewma_pair_covariance)

    r = _returns_df(spark, sf_dir)
    e = ewma_pair_covariance(r, alpha=0.0625)
    return e.select(
        "key1", "key2", _ms(F.col("time")).alias("time_ms"),
        F.round("ewma_cov", 9).alias("ewma_cov"),
        F.round("ewma_corr", 6).alias("ewma_corr"),
    )


QUERIES["fx_ewma_cov"] = q_fx_ewma_cov

ORACLE["fx_ewma_cov"] = _PRELUDE + """,
prod AS MATERIALIZED (
  SELECT a.key AS key1, b.key AS key2, a.time_ms, a.ret * b.ret AS p,
         row_number() OVER (PARTITION BY a.key, b.key
                            ORDER BY a.time_ms) AS rn
  FROM returns a JOIN returns b
    ON a.time_ms = b.time_ms AND a.key < b.key
),
sq AS MATERIALIZED (
  SELECT key, time_ms, ret * ret AS q,
         row_number() OVER (PARTITION BY key ORDER BY time_ms) AS rn
  FROM returns
),
cov AS (
  SELECT * FROM (
    WITH RECURSIVE c AS (
      SELECT key1, key2, time_ms, rn, p AS ewma_cov
      FROM prod WHERE rn = 1
      UNION ALL
      SELECT s.key1, s.key2, s.time_ms, s.rn,
             (1.0 - 0.0625) * c.ewma_cov + 0.0625 * s.p
      FROM prod s JOIN c
        ON s.key1 = c.key1 AND s.key2 = c.key2 AND s.rn = c.rn + 1
    )
    SELECT * FROM c
  )
),
var AS (
  SELECT * FROM (
    WITH RECURSIVE v AS (
      SELECT key, time_ms, rn, q AS ewma_var FROM sq WHERE rn = 1
      UNION ALL
      SELECT s.key, s.time_ms, s.rn,
             (1.0 - 0.0625) * v.ewma_var + 0.0625 * s.q
      FROM sq s JOIN v ON s.key = v.key AND s.rn = v.rn + 1
    )
    SELECT * FROM v
  )
)
SELECT c.key1, c.key2, c.time_ms,
       round(c.ewma_cov, 9) AS ewma_cov,
       round(CASE WHEN va.ewma_var > 0 AND vb.ewma_var > 0
                  THEN c.ewma_cov / sqrt(va.ewma_var * vb.ewma_var)
             END, 6) AS ewma_corr
FROM cov c
JOIN var va ON va.key = c.key1 AND va.time_ms = c.time_ms
JOIN var vb ON vb.key = c.key2 AND vb.time_ms = c.time_ms
"""

# stream-replay gate reuses the batch recursive oracle (defined above)
ORACLE["macd_stream_replay"] = ORACLE["fx_macd"]


# ---- microstructure batch (round 7): Roll spread, Kyle lambda, VaR/ES ----


def q_fx_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll's implied bid-ask spread estimator (Roll 1984): from the
    first-order serial covariance of hourly close-to-close price
    changes, spread = 2·√(−cov) — defined only when the autocovariance
    is negative (bounce-dominated), NULL otherwise (the standard
    convention). One key-partitioned lag + one covar_samp aggregate on
    candle-sized data."""
    from pyspark.sql import Window
    from data_timeseries_java_spark.operators.candles import candles_pipeline

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES)
    wk = Window.partitionBy("key").orderBy("window_start")
    dp = F.col("close.ask") - F.lag("close.ask").over(wk)
    d = (c.select("key", "window_start", dp.alias("dp"))
         .withColumn("dp_prev", F.lag("dp").over(wk))
         .where(F.col("dp").isNotNull() & F.col("dp_prev").isNotNull()))
    g = d.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.covar_samp("dp", "dp_prev").alias("autocov"))
    spread = F.when(F.col("autocov") < 0,
                    2.0 * F.sqrt(-F.col("autocov")))
    return g.select("key", "n",
                    F.round("autocov", 9).alias("autocov"),
                    F.round(spread, 6).alias("roll_spread"))


QUERIES["fx_roll_spread"] = q_fx_roll_spread

ORACLE["fx_roll_spread"] = _PRELUDE + """,
d AS (
  SELECT key, w_start_ms,
         close_price - lag(close_price) OVER w AS dp,
         lag(close_price, 1) OVER w - lag(close_price, 2) OVER w AS dp_prev
  FROM filled
  WINDOW w AS (PARTITION BY key ORDER BY w_start_ms)
)
SELECT key, CAST(count(*) AS BIGINT) AS n,
       round(covar_samp(dp, dp_prev), 9) AS autocov,
       round(CASE WHEN covar_samp(dp, dp_prev) < 0
                  THEN 2.0 * sqrt(-covar_samp(dp, dp_prev)) END, 6)
         AS roll_spread
FROM d WHERE dp IS NOT NULL AND dp_prev IS NOT NULL
GROUP BY key
"""


def q_fx_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda (price impact): per instrument, the OLS slope of
    hourly price change on tick-rule signed order flow (n_buy − n_sell)
    — closed form from rounded decomposable sums (the value_trend_ols
    convention). Reuses the carry-forward tick-rule classification and
    the complete-candle closes; one join on (key, window)."""
    from pyspark.sql import Window
    from data_timeseries_java_spark.operators.candles import candles_pipeline

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    carried = _tick_directions(ticks)  # shared tick-rule classification
    win = (F.floor(_ms(F.col("event_time")) / F.lit(RES_MS))
           * RES_MS).alias("w_start_ms")
    flow = (carried.where(F.col("dir").isNotNull())
            .groupBy("key", win)
            .agg(F.sum("dir").cast("double").alias("q")))
    c = candles_pipeline(ticks, keys, RES)
    wk = Window.partitionBy("key").orderBy("window_start")
    dp = F.col("close.ask") - F.lag("close.ask").over(wk)
    d = (c.select("key", _ms(F.col("window_start")).alias("w_start_ms"),
                  dp.alias("dp"))
         .where(F.col("dp").isNotNull()))
    j = d.join(flow, ["key", "w_start_ms"])
    s = j.groupBy("key").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("q"), 6).alias("sx"),
        F.round(F.sum("dp"), 6).alias("sy"),
        F.round(F.sum(F.col("q") * F.col("q")), 6).alias("sxx"),
        F.round(F.sum(F.col("q") * F.col("dp")), 6).alias("sxy"))
    lam = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")), 6)
    return s.select("key", F.col("n").cast("long").alias("n"),
                    lam.alias("kyle_lambda"))


QUERIES["fx_kyle_lambda"] = q_fx_kyle_lambda

ORACLE["fx_kyle_lambda"] = _PRELUDE + "," + _TICK_DIR_CTE + """,
flow AS (
  SELECT key, (epoch_ms(event_time) // {res}) * {res} AS w_start_ms,
         CAST(sum(dir) AS DOUBLE) AS q
  FROM tr_carried WHERE dir IS NOT NULL
  GROUP BY key, w_start_ms
),
d AS (
  SELECT key, w_start_ms,
         close_price - lag(close_price) OVER (
             PARTITION BY key ORDER BY w_start_ms) AS dp
  FROM filled
),
j AS (
  SELECT d.key, d.dp, f.q FROM d JOIN flow f
    ON f.key = d.key AND f.w_start_ms = d.w_start_ms
  WHERE d.dp IS NOT NULL
),
s AS (
  SELECT key, CAST(count(*) AS DOUBLE) AS n,
         round(sum(q), 6) AS sx, round(sum(dp), 6) AS sy,
         round(sum(q * q), 6) AS sxx, round(sum(q * dp), 6) AS sxy
  FROM j GROUP BY key
)
SELECT key, CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS kyle_lambda
FROM s
""".replace("{res}", str(RES_MS))


VAR_ALPHA_K = 20  # k smallest of n returns: k = ceil(n / VAR_ALPHA_K) = 5%


def q_fx_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk and Expected Shortfall per instrument
    at the 5% level, defined by ORDER STATISTICS (k = ⌈n/20⌉ smallest
    hourly log returns; VaR = the k-th smallest, ES = mean of those k)
    — rank-based rather than interpolated so both engines select
    exactly the same rows (ties break on time). One key-partitioned
    sort serves the ranking; one aggregate on top."""
    from pyspark.sql import Window

    r = _returns_df(spark, sf_dir).select(
        "key", _ms(F.col("time")).alias("time_ms"), "value")
    w = Window.partitionBy("key").orderBy(F.asc("value"), F.asc("time_ms"))
    cnt = Window.partitionBy("key")
    ranked = r.select(
        "key", "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("n"))
    k = F.ceil(F.col("n") / VAR_ALPHA_K)
    tail = ranked.where(F.col("rn") <= k)
    return (tail.groupBy("key")
            .agg(F.max("n").cast("long").alias("n"),
                 F.count(F.lit(1)).cast("long").alias("k_tail"),
                 F.round(F.max("value"), 6).alias("var_5pct"),
                 F.round(F.avg("value"), 6).alias("es_5pct")))


QUERIES["fx_var_es"] = q_fx_var_es

ORACLE["fx_var_es"] = _PRELUDE + f""",
ranked AS (
  SELECT key, ret,
         row_number() OVER (PARTITION BY key
                            ORDER BY ret ASC, time_ms ASC) AS rn,
         count(*) OVER (PARTITION BY key) AS n
  FROM returns
)
SELECT key, CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS k_tail,
       round(max(ret), 6) AS var_5pct,
       round(avg(ret), 6) AS es_5pct
FROM ranked
WHERE rn <= ceil(n * 1.0 / {VAR_ALPHA_K})
GROUP BY key
"""


def q_fx_ohlc_vol_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three classic range-based volatility estimators side by side,
    per instrument per day over LIVE hourly candles (complementing
    fx_parkinson_vol's single-estimator lane):

      Garman-Klass (1980):  mean(0.5·ln(h/l)² − (2ln2−1)·ln(c/o)²)
      Rogers-Satchell (1991): mean(ln(h/c)ln(h/o) + ln(l/c)ln(l/o))
      Parkinson (1980):     mean(ln(h/l)²) / (4 ln 2)

    each √'d. Rogers-Satchell is drift-robust; Garman-Klass assumes
    zero drift; the disagreement between them IS the signal a vol desk
    reads. One aggregation over the candle frame; gap candles (zero
    range) excluded as all three require a traded range."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    c = candles_pipeline(ticks, keys, RES).select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("open.ask").alias("o"), F.col("close.ask").alias("c"),
        F.col("min_ask.ask").alias("l"), F.col("max_ask.ask").alias("h"),
        "is_live")
    d = c.where(F.col("is_live") & (F.col("l") > 0) & (F.col("o") > 0)
                & (F.col("c") > 0) & (F.col("h") > F.col("l")))
    hl = F.log(F.col("h") / F.col("l"))
    co = F.log(F.col("c") / F.col("o"))
    hc, ho = F.log(F.col("h") / F.col("c")), F.log(F.col("h") / F.col("o"))
    lc, lo = F.log(F.col("l") / F.col("c")), F.log(F.col("l") / F.col("o"))
    gk = 0.5 * hl * hl - (2.0 * F.log(F.lit(2.0)) - 1.0) * co * co
    rs = hc * ho + lc * lo
    pk = hl * hl / (4.0 * F.log(F.lit(2.0)))
    day = (F.floor(F.col("w_start_ms") / 86_400_000)
           * 86_400_000).alias("day_ms")
    # GK can go negative on strongly drifting days — NULL by convention
    mgk = F.avg(gk)
    mrs = F.avg(rs)
    return (d.groupBy("key", day)
            .agg(F.count(F.lit(1)).cast("long").alias("n_candles"),
                 F.round(F.when(mgk >= 0, F.sqrt(mgk)), 6).alias("gk_vol"),
                 F.round(F.when(mrs >= 0, F.sqrt(mrs)), 6).alias("rs_vol"),
                 F.round(F.sqrt(F.avg(pk)), 6).alias("pk_vol")))


QUERIES["fx_ohlc_vol_estimators"] = q_fx_ohlc_vol_estimators

ORACLE["fx_ohlc_vol_estimators"] = _PRELUDE + """,
live AS (
  SELECT key, w_start_ms, open_price AS o, close_price AS c,
         min_price AS l, max_price AS h
  FROM complete
  WHERE is_live AND min_price > 0 AND open_price > 0
    AND close_price > 0 AND max_price > min_price
),
e AS (
  SELECT key, (w_start_ms // 86400000) * 86400000 AS day_ms,
         0.5 * ln(h / l) * ln(h / l)
           - (2.0 * ln(2.0) - 1.0) * ln(c / o) * ln(c / o) AS gk,
         ln(h / c) * ln(h / o) + ln(l / c) * ln(l / o) AS rs,
         ln(h / l) * ln(h / l) / (4.0 * ln(2.0)) AS pk
  FROM live
)
SELECT key, day_ms, CAST(count(*) AS BIGINT) AS n_candles,
       round(CASE WHEN avg(gk) >= 0 THEN sqrt(avg(gk)) END, 6) AS gk_vol,
       round(CASE WHEN avg(rs) >= 0 THEN sqrt(avg(rs)) END, 6) AS rs_vol,
       round(sqrt(avg(pk)), 6) AS pk_vol
FROM e GROUP BY key, day_ms
"""


# ---- tick-level series alignment (merge + LOCF) --------------------------

ALIGN_REF_KEY = "click"  # the reference instrument every key aligns to


def q_fx_align_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-level as-of alignment of every instrument against a
    reference series — the quotes-and-trades merge: each key's timeline
    is the UNION of its own ticks and the reference's ticks, with both
    legs carried forward (LOCF) so every instant has the latest value of
    each side, plus the cross ratio. Rows before either leg has printed
    are dropped (no look-ahead, no fabricated zero).

    Shape at scale: one (key, ts) pre-aggregate (simultaneous prints
    collapse via order-independent max); the reference leg replicates
    once per key through a broadcast of the tiny key dim (the gap-fill
    expansion pattern, k·m rows total); then ONE window pass partitioned
    by key — per-pair timelines sort in parallel, never a global sort
    (the q_fx_cross_rate fence, multi-pair by construction)."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    t = (ev.groupBy(F.col("event_type").alias("key"),
                    F.unix_millis("ts").alias("ts_ms"))
         .agg(F.max("value").alias("px")))
    ref = (t.where(F.col("key") == ALIGN_REF_KEY)
           .select("ts_ms", F.col("px").alias("ref_px")))
    others = t.where(F.col("key") != ALIGN_REF_KEY)
    keys = others.select("key").distinct()
    ref_rows = ref.crossJoin(F.broadcast(keys)).select(
        "key", "ts_ms", F.lit(None).cast("double").alias("px"), "ref_px")
    merged = (others.select("key", "ts_ms", "px",
                            F.lit(None).cast("double").alias("ref_px"))
              .unionByName(ref_rows))
    g = (merged.groupBy("key", "ts_ms")
         .agg(F.max("px").alias("px"), F.max("ref_px").alias("ref_px")))
    w = (Window.partitionBy("key").orderBy("ts_ms")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    f = g.select(
        "key", "ts_ms",
        F.last("px", ignorenulls=True).over(w).alias("px"),
        F.last("ref_px", ignorenulls=True).over(w).alias("ref_px"))
    return (f.where(F.col("px").isNotNull() & F.col("ref_px").isNotNull())
            .select("key", "ts_ms", "px", "ref_px",
                    F.round(F.col("px") / F.col("ref_px"), 6).alias("ratio")))


QUERIES["fx_align_series"] = q_fx_align_series

ORACLE["fx_align_series"] = f"""
WITH t AS (
  SELECT event_type AS key, epoch_ms(ts) AS ts_ms, max(value) AS px
  FROM events GROUP BY event_type, epoch_ms(ts)
),
ref AS (SELECT ts_ms, px AS ref_px FROM t WHERE key = '{ALIGN_REF_KEY}'),
others AS (SELECT key, ts_ms, px FROM t WHERE key <> '{ALIGN_REF_KEY}'),
keys AS (SELECT DISTINCT key FROM others),
merged AS (
  SELECT key, ts_ms, px, CAST(NULL AS DOUBLE) AS ref_px FROM others
  UNION ALL
  SELECT k.key, r.ts_ms, CAST(NULL AS DOUBLE) AS px, r.ref_px
  FROM keys k CROSS JOIN ref r
),
g AS (
  SELECT key, ts_ms, max(px) AS px, max(ref_px) AS ref_px
  FROM merged GROUP BY key, ts_ms
),
f AS (
  SELECT key, ts_ms,
         last_value(px IGNORE NULLS) OVER w AS px,
         last_value(ref_px IGNORE NULLS) OVER w AS ref_px
  FROM g
  WINDOW w AS (PARTITION BY key ORDER BY ts_ms
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT key, ts_ms, px, ref_px, round(px / ref_px, 6) AS ratio
FROM f WHERE px IS NOT NULL AND ref_px IS NOT NULL
"""


# ---- Spearman rank correlation for pairs ----------------------------------


def q_fx_pair_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window pairwise SPEARMAN correlation — Pearson on
    within-(window, key) ranks: the robust companion to the flagship
    (immune to return outliers, detects monotone-nonlinear coupling).
    Ranks are row_number over (ret, time) — a deterministic total order,
    so tied returns break identically in both engines (the documented
    deterministic-tie variant of classical Spearman). Same pair
    machinery as Pearson: one rank window pass, equi-join on (window,
    time), JVM corr; ranks within a joined subset stay distinct so the
    coefficient is never NaN."""
    from pyspark.sql import Window

    slide_ms = RES_MS * 3
    r = _returns_df(spark, sf_dir).select(
        "key", _ms(F.col("time")).alias("time_ms"), F.col("value").alias("ret"))
    slid = (r.select(
        "key", "time_ms", "ret",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("o"))
        .select(
            ((F.col("time_ms") / slide_ms).cast("long") * slide_ms
             - F.col("o") * slide_ms).alias("w_start_ms"),
            "key", "time_ms", "ret"))
    w = Window.partitionBy("w_start_ms", "key").orderBy("ret", "time_ms")
    ranked = slid.select("w_start_ms", "key", "time_ms",
                         F.row_number().over(w).alias("rnk"))
    a = ranked.select("w_start_ms", "time_ms",
                      F.col("key").alias("key1"),
                      F.col("rnk").alias("rnk1"))
    b = ranked.select(F.col("w_start_ms").alias("wb"),
                      F.col("time_ms").alias("tb"),
                      F.col("key").alias("key2"),
                      F.col("rnk").alias("rnk2"))
    return (a.join(b, (F.col("w_start_ms") == F.col("wb"))
                   & (F.col("time_ms") == F.col("tb"))
                   & (F.col("key1") < F.col("key2")))
            .groupBy("w_start_ms", "key1", "key2")
            .agg(safe_corr("rnk1", "rnk2").alias("rho"),
                 F.count(F.lit(1)).alias("n_points"))
            .where(F.col("n_points") >= 2)
            .select("w_start_ms", "key1", "key2",
                    F.round("rho", 6).alias("rho"),
                    F.col("n_points").cast("long").alias("n_points")))


QUERIES["fx_pair_spearman"] = q_fx_pair_spearman

ORACLE["fx_pair_spearman"] = f"""
{_PRELUDE},
{_SLIDING},
ranked AS (
  SELECT w_start_ms, key, time_ms,
         row_number() OVER (PARTITION BY w_start_ms, key
                            ORDER BY ret, time_ms) AS rnk
  FROM sliding
),
pairs AS (
  SELECT a.w_start_ms, a.key AS key1, b.key AS key2,
         corr(a.rnk, b.rnk) AS rho, count(*) AS n_points
  FROM ranked a JOIN ranked b
    ON a.w_start_ms = b.w_start_ms AND a.time_ms = b.time_ms
   AND a.key < b.key
  GROUP BY 1, 2, 3
  HAVING count(*) >= 2
)
SELECT w_start_ms, key1, key2, round(rho, 6) AS rho,
       CAST(n_points AS BIGINT) AS n_points
FROM pairs
"""


# ---- event-driven bars & liquidity (round 8 batch) -----------------------


def q_fx_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored (daily-session) VWAP per hour window — see
    operators.bars.anchored_vwap: one map-side-combinable (key, window)
    aggregate, then a day-partitioned running ratio over the
    candle-sized result."""
    from data_timeseries_java_spark.operators.bars import anchored_vwap

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    v = anchored_vwap(ticks, RES)
    return v.select(
        "key", "w_start_ms", "anchor_ms", "volume",
        F.round("window_vwap", 6).alias("window_vwap"),
        F.round("anchored_vwap", 6).alias("anchored_vwap"),
    )


# anchored_vwap divides two running sums; the sums are rounded to 6
# decimals inside the operator (prices are exact 2-decimal values, so
# the round only strips engine-dependent FP summation noise ~1e-12)


QUERIES["fx_vwap"] = q_fx_vwap

ORACLE["fx_vwap"] = """
WITH t AS (
  SELECT event_type AS key, ts AS event_time, value AS price FROM events
),
g AS (
  SELECT key, (epoch_ms(event_time) // {res}) * {res} AS w_start_ms,
         sum(price) AS sum_price,
         CAST(count(*) AS BIGINT) AS volume
  FROM t GROUP BY key, w_start_ms
)
SELECT key, w_start_ms,
       (w_start_ms // 86400000) * 86400000 AS anchor_ms,
       volume,
       round(round(sum_price, 6) / volume, 6) AS window_vwap,
       round(round(sum(sum_price) OVER a, 6) / sum(volume) OVER a, 6)
         AS anchored_vwap
FROM g
WINDOW a AS (PARTITION BY key, w_start_ms // 86400000
             ORDER BY w_start_ms
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""".replace("{res}", str(RES_MS))


def q_fx_tick_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-count tick bars (50 ticks/bar) — see operators.bars.
    tick_bars. Event-driven bars the reference's time-window pipeline
    cannot express; deterministic because (key, ts) is unique."""
    from data_timeseries_java_spark.operators.bars import tick_bars

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    b = tick_bars(ticks, bar_size=50)
    return b.select(
        "key", "bar", "n_ticks",
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "t_open_ms", "t_close_ms",
    )


QUERIES["fx_tick_bars"] = q_fx_tick_bars

ORACLE["fx_tick_bars"] = """
WITH t AS (
  SELECT event_type AS key, ts AS event_time, value AS price FROM events
),
seq AS (
  SELECT key, event_time, price,
         row_number() OVER (PARTITION BY key ORDER BY event_time) AS rn
  FROM t
),
b AS (SELECT *, (rn - 1) // 50 AS bar FROM seq)
SELECT key, bar,
       CAST(count(*) AS BIGINT) AS n_ticks,
       round(arg_min(price, rn), 6) AS open,
       round(max(price), 6) AS high,
       round(min(price), 6) AS low,
       round(arg_max(price, rn), 6) AS close,
       min(epoch_ms(event_time)) AS t_open_ms,
       max(epoch_ms(event_time)) AS t_close_ms
FROM b
GROUP BY key, bar
"""


def q_fx_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN (volume-synchronized probability of informed trading) over
    50-tick buckets, trailing 5-bucket mean — see operators.bars.vpin.
    The tick-rule classification reuses the fx_tick_rule carry-forward
    semantics; unclassified leading ticks occupy slots but count to
    neither side."""
    from data_timeseries_java_spark.operators.bars import vpin

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    v = vpin(ticks, bucket_size=50, n_buckets=5)
    return v.select(
        "key", "bucket", "n_ticks", "n_buy", "n_sell",
        F.round("imbalance", 6).alias("imbalance"),
        F.round("vpin", 6).alias("vpin"),
    )


QUERIES["fx_vpin"] = q_fx_vpin

ORACLE["fx_vpin"] = """
WITH ticks AS (
  SELECT event_type AS key, ts AS event_time, value AS price
  FROM events
),""" + _TICK_DIR_CTE + """,
seq AS (
  SELECT key, event_time, dir,
         row_number() OVER (PARTITION BY key ORDER BY event_time) AS rn
  FROM tr_carried
),
g AS (
  SELECT key, (rn - 1) // 50 AS bucket,
         CAST(count(*) AS BIGINT) AS n_ticks,
         CAST(count(*) FILTER (dir = 1) AS BIGINT) AS n_buy,
         CAST(count(*) FILTER (dir = -1) AS BIGINT) AS n_sell
  FROM seq GROUP BY key, bucket
)
SELECT key, bucket, n_ticks, n_buy, n_sell,
       round(abs(n_buy - n_sell) * 1.0 / n_ticks, 6) AS imbalance,
       round(avg(abs(n_buy - n_sell) * 1.0 / n_ticks) OVER tr, 6)
         AS vpin
FROM g
WINDOW tr AS (PARTITION BY key ORDER BY bucket
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def q_fx_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity (trailing mean |return|/volume over live
    hour windows) — see operators.bars.amihud_illiquidity."""
    from data_timeseries_java_spark.operators.bars import (
        amihud_illiquidity)

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    a = amihud_illiquidity(ticks, RES, n_windows=6)
    return a.select(
        "key", "w_start_ms", "volume",
        F.round("close_price", 6).alias("close_price"),
        F.round("illiq", 6).alias("illiq"),
        F.round("amihud", 6).alias("amihud"),
    )


QUERIES["fx_amihud"] = q_fx_amihud

ORACLE["fx_amihud"] = """
WITH t AS (
  SELECT event_type AS key, ts AS event_time, value AS price FROM events
),
g AS (
  SELECT key, (epoch_ms(event_time) // {res}) * {res} AS w_start_ms,
         CAST(count(*) AS BIGINT) AS volume,
         arg_max(price, event_time) AS close_price
  FROM t GROUP BY key, w_start_ms
),
r AS (
  SELECT *,
         abs(ln(close_price / lag(close_price) OVER wk)) / volume
           AS illiq
  FROM g
  WINDOW wk AS (PARTITION BY key ORDER BY w_start_ms)
)
SELECT key, w_start_ms, volume,
       round(close_price, 6) AS close_price,
       round(illiq, 6) AS illiq,
       round(avg(illiq) OVER tr, 6) AS amihud
FROM r
WINDOW tr AS (PARTITION BY key ORDER BY w_start_ms
              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
""".replace("{res}", str(RES_MS))


def q_fx_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume profile (20 equal-width price bins per key, POC
    flagged, lowest bin wins ties) — see operators.bars.volume_profile.
    The per-key extent is a tiny broadcast; the histogram is one
    map-side-combinable count."""
    from data_timeseries_java_spark.operators.bars import volume_profile

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    p = volume_profile(ticks, n_bins=20)
    return p.select(
        "key", "bin", "volume",
        F.round("bin_low", 6).alias("bin_low"),
        F.round("bin_high", 6).alias("bin_high"),
        "is_poc",
    )


QUERIES["fx_volume_profile"] = q_fx_volume_profile

ORACLE["fx_volume_profile"] = """
WITH t AS (
  SELECT event_type AS key, value AS price FROM events
),
ext AS (
  SELECT key, min(price) AS p_min, max(price) AS p_max
  FROM t GROUP BY key
),
binned AS (
  SELECT t.key, ext.p_min, ext.p_max,
         CASE WHEN ext.p_max = ext.p_min THEN 0
              ELSE least(CAST(floor((t.price - ext.p_min)
                         / ((ext.p_max - ext.p_min) / 20)) AS BIGINT),
                         19) END AS bin
  FROM t JOIN ext USING (key)
),
hist AS (
  SELECT key, bin, CAST(count(*) AS BIGINT) AS volume,
         any_value(p_min) AS p_min, any_value(p_max) AS p_max
  FROM binned GROUP BY key, bin
)
SELECT key, bin, volume,
       round(p_min + bin * (p_max - p_min) / 20, 6) AS bin_low,
       round(p_min + (bin + 1) * (p_max - p_min) / 20, 6) AS bin_high,
       (bin = min(bin) FILTER (volume = mx)
              OVER (PARTITION BY key)) AS is_poc
FROM (SELECT *, max(volume) OVER (PARTITION BY key) AS mx FROM hist)
"""


def q_fx_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel (prior-6-candle high/low band + turtle breakout
    flags) over complete candles — see operators.bars.donchian_channels;
    rides the candle pipeline's existing key-partitioned sort."""
    from data_timeseries_java_spark.operators.bars import (
        donchian_channels)
    from data_timeseries_java_spark.operators.candles import (
        candles_pipeline)

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    d = donchian_channels(candles_pipeline(ticks, keys, RES), n_windows=6)
    d = d.where(F.col("channel_high").isNotNull())
    return d.select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        F.round("close_price", 6).alias("close_price"),
        F.round("channel_high", 6).alias("channel_high"),
        F.round("channel_low", 6).alias("channel_low"),
        F.round("channel_mid", 6).alias("channel_mid"),
        "breakout_up", "breakout_down",
    )


QUERIES["fx_donchian"] = q_fx_donchian

ORACLE["fx_donchian"] = _PRELUDE + """
SELECT key, w_start_ms,
       round(close_price, 6) AS close_price,
       round(ch, 6) AS channel_high,
       round(cl, 6) AS channel_low,
       round((ch + cl) / 2, 6) AS channel_mid,
       close_price > ch AS breakout_up,
       close_price < cl AS breakout_down
FROM (
  SELECT key, w_start_ms, close_price,
         max(max_price) OVER pr AS ch,
         min(min_price) OVER pr AS cl
  FROM complete
  WINDOW pr AS (PARTITION BY key ORDER BY w_start_ms
                ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
WHERE ch IS NOT NULL
"""


# ---- streaming anchored VWAP, driver-gated through replay ----------------

_VWAP_STREAM_REPLAY_SINKS: dict[tuple, str] = {}


def q_vwap_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored daily VWAP executed through the STREAMING lane
    (`streaming/vwap_stream.py` — per-key (anchor, run_sum, run_vol)
    keyed state, reset on day rollover; bounded at two numbers per key
    forever) and hash-matched against the SAME DuckDB oracle as the
    batch `fx_vwap`.

    The replay input is the hourly (key, window, sum_price, volume)
    pre-aggregate — the same grouping fx_vwap's first stage is
    oracle-checked on — split into 3 time-range files with
    md5-scrambled within-file order (the stateful fold sorts each
    micro-batch by event time; time-range bucketing keeps batches in
    per-key time order, the documented contract). No sentinel: the
    processor emits every row it sees. Building this query RUNS the
    stream; the declared result is a pruned parquet scan of the sink."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
    )
    from data_timeseries_java_spark.streaming.vwap_stream import (
        streaming_anchored_vwap,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _VWAP_STREAM_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ticks, _ = _ticks_and_keys(spark, sf_dir)
        hourly = (ticks.groupBy(
            "key", F.window("event_time", RES).alias("w"))
            .agg(F.sum("ask").alias("sum_price"),
                 F.count(F.lit(1)).cast("long").alias("volume"))
            .select("key", F.col("w.start").alias("event_time"),
                    "sum_price", "volume"))
        t0_ms, t1_ms = hourly.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        n_files = 3
        work = tempfile.mkdtemp(prefix="vwap_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(hourly, "event_time", f"{work}/in", n_files,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["key", "event_time"])
        src = (spark.readStream.schema(hourly.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        v = streaming_anchored_vwap(src)
        sink = run_to_parquet_sink(v, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _VWAP_STREAM_REPLAY_SINKS[cache_key] = sink
    v = read_replay_sink(spark, sink)
    return v.select(
        "key",
        _ms(F.col("event_time")).alias("w_start_ms"),
        "anchor_ms", "volume",
        F.round("window_vwap", 6).alias("window_vwap"),
        F.round("anchored_vwap", 6).alias("anchored_vwap"),
    )


QUERIES["vwap_stream_replay"] = q_vwap_stream_replay

ORACLE["vwap_stream_replay"] = ORACLE["fx_vwap"]


def q_fx_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-threshold ("dollar") bars, T=5000 — see
    operators.bars.dollar_bars. Bar id = floor(preceding cumulative
    value / T): the sequential per-key fold is bit-identical
    cross-engine, so the floor is hash-safe."""
    from data_timeseries_java_spark.operators.bars import dollar_bars

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    b = dollar_bars(ticks, threshold=5_000.0)
    return b.select(
        "key", "bar", "n_ticks",
        F.round("bar_value", 6).alias("bar_value"),
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "t_open_ms", "t_close_ms",
    )


QUERIES["fx_dollar_bars"] = q_fx_dollar_bars

ORACLE["fx_dollar_bars"] = """
WITH t AS (
  SELECT event_type AS key, ts AS event_time, value AS price FROM events
),
seq AS (
  SELECT key, event_time, price,
         row_number() OVER wk AS rn,
         coalesce(sum(price) OVER (PARTITION BY key ORDER BY event_time
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0.0) AS prev_cum
  FROM t
  WINDOW wk AS (PARTITION BY key ORDER BY event_time)
),
b AS (SELECT *, CAST(floor(prev_cum / 5000.0) AS BIGINT) AS bar FROM seq)
SELECT key, bar,
       CAST(count(*) AS BIGINT) AS n_ticks,
       round(sum(price), 6) AS bar_value,
       round(arg_min(price, rn), 6) AS open,
       round(max(price), 6) AS high,
       round(min(price), 6) AS low,
       round(arg_max(price, rn), 6) AS close,
       min(epoch_ms(event_time)) AS t_open_ms,
       max(epoch_ms(event_time)) AS t_close_ms
FROM b
GROUP BY key, bar
"""


# ---- streaming tick bars, driver-gated through replay --------------------

_BARS_STREAM_REPLAY_SINKS: dict[tuple, str] = {}


def q_tick_bars_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-count tick bars executed through the STREAMING lane
    (`streaming/bars_stream.py` — count-based bar boundaries, the
    aggregation time windows cannot express; keyed state = total count
    + the in-flight partial bar, eight numbers per key forever) and
    hash-matched against the batch `fx_tick_bars` oracle restricted to
    COMPLETED bars (a live stream hasn't finished its partial bar by
    definition — the same semantics as an open time window before the
    watermark).

    Ticks replay in 3 time-range files with md5-scrambled within-file
    order (the fold sorts each micro-batch; bucketing keeps batches in
    per-key time order). Building this query RUNS the stream."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.bars_stream import (
        streaming_tick_bars,
    )
    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _BARS_STREAM_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ticks, _ = _ticks_and_keys(spark, sf_dir)
        feed = ticks.select("key", "event_time", "ask")
        t0_ms, t1_ms = feed.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        n_files = 3
        work = tempfile.mkdtemp(prefix="bars_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(feed, "event_time", f"{work}/in", n_files,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["key", "event_time"])
        src = (spark.readStream.schema(feed.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        b = streaming_tick_bars(src, bar_size=50)
        sink = run_to_parquet_sink(b, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _BARS_STREAM_REPLAY_SINKS[cache_key] = sink
    b = read_replay_sink(spark, sink)
    return b.select(
        "key", "bar", "n_ticks",
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "t_open_ms", "t_close_ms",
    )


QUERIES["tick_bars_stream_replay"] = q_tick_bars_stream_replay

# the batch oracle restricted to completed bars (see docstring)
ORACLE["tick_bars_stream_replay"] = ORACLE["fx_tick_bars"].replace(
    "GROUP BY key, bar", "GROUP BY key, bar\nHAVING count(*) = 50")


IMB_THRESHOLD = 7


def q_fx_imbalance_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-flow imbalance bars (threshold 7) — see
    operators.bars.imbalance_bars: the reset-at-boundary running-sum
    recursion (grouped-map per key), completing the event-driven bar
    trilogy next to tick and dollar bars. The oracle replays the
    identical recursion in a RECURSIVE CTE advancing one tick per key
    per iteration."""
    from data_timeseries_java_spark.operators.bars import imbalance_bars

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    b = imbalance_bars(ticks, threshold=IMB_THRESHOLD)
    return b.select(
        "key", "bar", "n_ticks", "n_buy", "n_sell", "imbalance",
        F.round("open", 6).alias("open"),
        F.round("close", 6).alias("close"),
        "t_open_ms", "t_close_ms",
    )


QUERIES["fx_imbalance_bars"] = q_fx_imbalance_bars

ORACLE["fx_imbalance_bars"] = """
WITH ticks AS (
  SELECT event_type AS key, ts AS event_time, value AS price
  FROM events
),""" + _TICK_DIR_CTE + """,
seq AS MATERIALIZED (
  SELECT t.key, t.event_time, t.price,
         coalesce(c.dir, 0) AS sgn,
         row_number() OVER (PARTITION BY t.key
                            ORDER BY t.event_time) AS rn
  FROM ticks t
  JOIN tr_carried c
    ON c.key = t.key AND c.event_time = t.event_time
),
rec AS (
  WITH RECURSIVE m AS (
    SELECT key, rn, price, epoch_ms(event_time) AS t_ms,
           CAST(0 AS BIGINT) AS bar,
           sgn AS imb,
           CAST(sgn = 1 AS BIGINT) AS buy,
           CAST(sgn = -1 AS BIGINT) AS sell,
           rn AS bar_start_rn,
           abs(sgn) >= {thr} AS closed
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.key, s.rn, s.price, epoch_ms(s.event_time),
           CASE WHEN m.closed THEN m.bar + 1 ELSE m.bar END,
           CASE WHEN m.closed THEN s.sgn ELSE m.imb + s.sgn END,
           CASE WHEN m.closed THEN CAST(s.sgn = 1 AS BIGINT)
                ELSE m.buy + CAST(s.sgn = 1 AS BIGINT) END,
           CASE WHEN m.closed THEN CAST(s.sgn = -1 AS BIGINT)
                ELSE m.sell + CAST(s.sgn = -1 AS BIGINT) END,
           CASE WHEN m.closed THEN s.rn ELSE m.bar_start_rn END,
           abs(CASE WHEN m.closed THEN s.sgn
                    ELSE m.imb + s.sgn END) >= {thr}
    FROM m JOIN seq s ON s.key = m.key AND s.rn = m.rn + 1
  )
  SELECT * FROM m
)
SELECT key, bar,
       CAST(count(*) AS BIGINT) AS n_ticks,
       CAST(arg_max(buy, rn) AS BIGINT) AS n_buy,
       CAST(arg_max(sell, rn) AS BIGINT) AS n_sell,
       CAST(arg_max(imb, rn) AS BIGINT) AS imbalance,
       round(arg_min(price, rn), 6) AS open,
       round(arg_max(price, rn), 6) AS close,
       arg_min(t_ms, rn) AS t_open_ms,
       arg_max(t_ms, rn) AS t_close_ms
FROM rec
GROUP BY key, bar
""".replace("{thr}", str(IMB_THRESHOLD))


def q_fx_volume_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday volume curve (execution-scheduling U-curve): each
    instrument's average share of daily tick volume by hour-of-day —
    the curve a VWAP execution algo schedules against. Two map-side
    aggregates (hour cells, then day totals joined back) and one tiny
    per-key normalization; integer counts until the final division."""
    ticks, _ = _ticks_and_keys(spark, sf_dir)
    t_ms = F.unix_millis(F.col("event_time"))
    day = (F.floor(t_ms / F.lit(86_400_000)) * 86_400_000).alias("day_ms")
    hod = F.hour("event_time").alias("hour_of_day")
    cells = (ticks.groupBy("key", day, hod)
             .agg(F.count(F.lit(1)).cast("long").alias("v")))
    day_tot = (cells.groupBy("key", "day_ms")
               .agg(F.sum("v").cast("long").alias("day_v")))
    shares = (cells.join(day_tot, ["key", "day_ms"])
              .select("key", "hour_of_day",
                      (F.col("v") / F.col("day_v")).alias("share")))
    return (shares.groupBy("key", "hour_of_day")
            .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                 F.round(F.avg("share"), 6).alias("avg_share")))


QUERIES["fx_volume_curve"] = q_fx_volume_curve

# avg of per-day shares: each share is one exact division; the final
# mean is sum/count whose operand order is engine-dependent only at
# ~1e-17 — round(6) over ~30 terms of magnitude <= 1 is safe
ORACLE["fx_volume_curve"] = """
WITH t AS (
  SELECT event_type AS key, ts FROM events
),
cells AS (
  SELECT key,
         (epoch_ms(ts) // 86400000) * 86400000 AS day_ms,
         hour(ts) AS hour_of_day,
         CAST(count(*) AS BIGINT) AS v
  FROM t GROUP BY 1, 2, 3
),
day_tot AS (
  SELECT key, day_ms, CAST(sum(v) AS BIGINT) AS day_v
  FROM cells GROUP BY 1, 2
)
SELECT c.key, c.hour_of_day,
       CAST(count(*) AS BIGINT) AS n_days,
       round(avg(c.v * 1.0 / d.day_v), 6) AS avg_share
FROM cells c JOIN day_tot d USING (key, day_ms)
GROUP BY c.key, c.hour_of_day
"""


TSRV_K = 4


def q_fx_tsrv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-scale realized variance (Zhang-Mykland-Ait-Sahalia): the
    microstructure-noise-robust daily variance — average subsampled
    K-hour RV across all K offset grids minus the noise correction
    (n_bar/n)·RV_all. Log returns add, so the slow-scale return is a
    rolling K-sum of the hourly returns; every hour is the endpoint of
    exactly one overlapping slow interval, so one rolling window per
    key serves all K grids at once. Slow intervals never span days
    (partitioned by (key, day)); TSRV is clamped at 0 (the estimator
    can go negative on tiny n).

    Shape: the candle pipeline's existing key sort + one rolling sum +
    one daily aggregate — no extra shuffle beyond the daily grouping.
    """
    r = _returns_df(spark, sf_dir).select(
        "key", F.col("time").alias("time"),
        F.col("value").alias("ret"))
    from pyspark.sql import Window

    day = (F.floor(_ms(F.col("time")) / F.lit(86_400_000))
           * 86_400_000).alias("day_ms")
    base = r.select("key", day, _ms(F.col("time")).alias("t_ms"), "ret")
    wd = Window.partitionBy("key", "day_ms").orderBy("t_ms")
    slow = F.sum("ret").over(wd.rowsBetween(-(TSRV_K - 1), 0))
    rn = F.row_number().over(wd)
    scored = base.select(
        "key", "day_ms", "ret",
        F.when(rn >= TSRV_K, slow).alias("r_slow"))
    g = (scored.groupBy("key", "day_ms")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.col("ret") * F.col("ret")).alias("rv_all"),
              F.count("r_slow").cast("long").alias("n_slow"),
              F.sum(F.col("r_slow") * F.col("r_slow")).alias("ss_slow")))
    n_bar = F.col("n_slow") / F.lit(float(TSRV_K))
    tsrv = (F.col("ss_slow") / TSRV_K
            - n_bar / F.col("n") * F.col("rv_all"))
    return (g.where(F.col("n_slow") > 0)
            .select("key", "day_ms", "n", "n_slow",
                    F.round("rv_all", 6).alias("rv_all"),
                    F.round(F.greatest(tsrv, F.lit(0.0)), 6)
                    .alias("tsrv")))


QUERIES["fx_tsrv"] = q_fx_tsrv

ORACLE["fx_tsrv"] = _PRELUDE + f""",
base AS (
  SELECT key, (time_ms // 86400000) * 86400000 AS day_ms, time_ms, ret
  FROM returns
),
scored AS (
  SELECT key, day_ms, ret,
         CASE WHEN row_number() OVER wd >= {TSRV_K}
              THEN sum(ret) OVER (PARTITION BY key, day_ms
                                  ORDER BY time_ms
                                  ROWS BETWEEN {TSRV_K - 1} PRECEDING
                                  AND CURRENT ROW) END AS r_slow
  FROM base
  WINDOW wd AS (PARTITION BY key, day_ms ORDER BY time_ms)
),
g AS (
  SELECT key, day_ms,
         CAST(count(*) AS BIGINT) AS n,
         sum(ret * ret) AS rv_all,
         CAST(count(r_slow) AS BIGINT) AS n_slow,
         sum(r_slow * r_slow) AS ss_slow
  FROM scored GROUP BY key, day_ms
)
SELECT key, day_ms, n, n_slow,
       round(rv_all, 6) AS rv_all,
       round(greatest(ss_slow / {TSRV_K}
                      - (n_slow * 1.0 / {TSRV_K}) / n * rv_all,
                      0.0), 6) AS tsrv
FROM g
WHERE n_slow > 0
"""


# ---- streaming imbalance bars, driver-gated through replay ---------------

_IMB_STREAM_REPLAY_SINKS: dict[tuple, str] = {}


def q_imbalance_bars_stream_replay(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Order-flow imbalance bars through the STREAMING lane
    (`streaming/bars_stream.streaming_imbalance_bars` — the recursive
    bar as nine numbers of keyed state incl. the carried tick-rule
    direction and previous price). A closed bar always has
    |imbalance| == threshold (±1 steps), so the gate is the batch
    `fx_imbalance_bars` oracle restricted to threshold-hit bars —
    the in-flight partial stays in state, the open-window analogy.
    Ticks replay in 3 scrambled time-range files; building this query
    RUNS the stream."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.bars_stream import (
        streaming_imbalance_bars,
    )
    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _IMB_STREAM_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ticks, _ = _ticks_and_keys(spark, sf_dir)
        feed = ticks.select("key", "event_time", "ask")
        t0_ms, t1_ms = feed.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        work = tempfile.mkdtemp(prefix="imb_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(feed, "event_time", f"{work}/in", 3,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["key", "event_time"])
        src = (spark.readStream.schema(feed.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        b = streaming_imbalance_bars(src, threshold=IMB_THRESHOLD)
        sink = run_to_parquet_sink(b, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _IMB_STREAM_REPLAY_SINKS[cache_key] = sink
    b = read_replay_sink(spark, sink)
    return b.select(
        "key", "bar", "n_ticks", "n_buy", "n_sell", "imbalance",
        F.round("open", 6).alias("open"),
        F.round("close", 6).alias("close"),
        "t_open_ms", "t_close_ms",
    )


QUERIES["imbalance_bars_stream_replay"] = q_imbalance_bars_stream_replay

# the batch oracle restricted to threshold-hit (closed) bars
ORACLE["imbalance_bars_stream_replay"] = (
    ORACLE["fx_imbalance_bars"].replace(
        "GROUP BY key, bar",
        f"GROUP BY key, bar\nHAVING abs(arg_max(imb, rn)) >= {IMB_THRESHOLD}"))


# per-side transaction cost in log-return units (1 bp per unit of
# position change — FX majors' spread-cost order of magnitude); exact
# at 4 decimals so cost sums stay on the rounding lattice
DONCHIAN_COST_PER_SIDE = 0.0001


def q_fx_backtest_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle-breakout backtest — the "so what" capstone composing the
    indicator family into an evaluation: signal = +1 on close above
    the prior-6 Donchian high, -1 below the low, else carry the last
    signal (last-non-null window, the same carry idiom as gap-fill);
    position = yesterday's signal (no look-ahead); strategy return =
    position x close-to-close log return. Frictions (round 9): a
    per-side transaction cost of DONCHIAN_COST_PER_SIDE log-return
    units is charged on every unit of position change (a flip
    -1 -> +1 costs two sides; the opening trade from flat costs one),
    with position changes measured over the FULL candle sequence
    (before the defined-return filter) so a flip across a gap candle
    still pays. Per key: gross total/mean/vol/Sharpe plus turnover
    (units traded), total_cost, net_total_ret and net_sharpe — the
    difference between a demo and a usable evaluation. All moments
    come from ROUNDED decomposable sums (the house convention — never
    engine-native stddev, whose Welford-vs-moments arithmetic differs
    across engines)."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.operators.bars import (
        donchian_channels)
    from data_timeseries_java_spark.operators.candles import (
        candles_pipeline)

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    d = donchian_channels(candles_pipeline(ticks, keys, RES), n_windows=6)
    wk = Window.partitionBy("key").orderBy("window_start")
    prev_close = F.lag("close_price").over(wk)
    # leading gap candles carry the 0.0 back-fill sentinel — a return
    # is only defined once both closes are real prices
    ret = F.when((prev_close > 0) & (F.col("close_price") > 0),
                 F.log(F.col("close_price") / prev_close))
    sig_event = (F.when(F.col("breakout_up"), 1)
                 .when(F.col("breakout_down"), -1))
    signal = F.coalesce(
        F.last(sig_event, ignorenulls=True).over(
            wk.rowsBetween(Window.unboundedPreceding, 0)), F.lit(0))
    base = d.select("key", "window_start", ret.alias("ret"),
                    signal.alias("signal"))
    pos = F.lag("signal").over(wk)
    # |Δposition| over the unfiltered sequence; the backtest starts
    # flat, so the first held position pays its full entry
    dpos = F.abs(F.col("position")
                 - F.coalesce(F.lag("position").over(wk), F.lit(0)))
    scored = (base.withColumn("position", pos)
              .withColumn("dpos", dpos)
              .where(F.col("ret").isNotNull()
                     & F.col("position").isNotNull()))
    sr = F.col("position") * F.col("ret")
    net = sr - F.lit(DONCHIAN_COST_PER_SIDE) * F.col("dpos")
    g = (scored.groupBy("key")
         .agg(F.count(F.lit(1)).cast("long").alias("n_candles"),
              F.sum(F.when(F.col("position") != 0, 1).otherwise(0))
              .cast("long").alias("n_invested"),
              F.round(F.sum(sr), 6).alias("s"),
              F.round(F.sum(sr * sr), 6).alias("ss"),
              F.sum("dpos").cast("long").alias("turnover"),
              F.round(F.sum(net), 6).alias("sn"),
              F.round(F.sum(net * net), 6).alias("ssn")))
    n = F.col("n_candles").cast("double")
    mean = F.col("s") / n
    var = (F.col("ss") - F.col("s") * F.col("s") / n) / (n - 1)
    net_mean = F.col("sn") / n
    net_var = (F.col("ssn") - F.col("sn") * F.col("sn") / n) / (n - 1)
    return g.select(
        "key", "n_candles", "n_invested",
        F.col("s").alias("total_ret"),
        F.round(mean, 6).alias("mean_ret"),
        F.round(F.sqrt(var), 6).alias("vol"),
        F.round(mean / F.sqrt(var), 6).alias("sharpe"),
        "turnover",
        F.round(F.lit(DONCHIAN_COST_PER_SIDE) * F.col("turnover"), 6)
        .alias("total_cost"),
        F.col("sn").alias("net_total_ret"),
        F.round(net_mean / F.sqrt(net_var), 6).alias("net_sharpe"))


QUERIES["fx_backtest_donchian"] = q_fx_backtest_donchian

ORACLE["fx_backtest_donchian"] = _PRELUDE + """,
chan AS (
  SELECT key, w_start_ms, close_price,
         max(max_price) OVER pr AS ch,
         min(min_price) OVER pr AS cl
  FROM complete
  WINDOW pr AS (PARTITION BY key ORDER BY w_start_ms
                ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
),
sig AS (
  SELECT key, w_start_ms,
         CASE WHEN close_price > 0 AND lag(close_price) OVER wk > 0
              THEN ln(close_price / lag(close_price) OVER wk) END AS ret,
         coalesce(last_value(
             CASE WHEN close_price > ch THEN 1
                  WHEN close_price < cl THEN -1 END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY w_start_ms
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           0) AS signal
  FROM chan
  WINDOW wk AS (PARTITION BY key ORDER BY w_start_ms)
),
scored AS (
  SELECT key, w_start_ms, ret,
         lag(signal) OVER (PARTITION BY key ORDER BY w_start_ms)
           AS position
  FROM sig
),
traded AS (
  SELECT key, ret, position,
         abs(position - coalesce(
             lag(position) OVER (PARTITION BY key ORDER BY w_start_ms),
             0)) AS dpos
  FROM scored
),
g AS (
  SELECT key,
         CAST(count(*) AS BIGINT) AS n_candles,
         CAST(count(*) FILTER (position <> 0) AS BIGINT) AS n_invested,
         round(sum(position * ret), 6) AS s,
         round(sum(position * ret * position * ret), 6) AS ss,
         CAST(sum(dpos) AS BIGINT) AS turnover,
         round(sum(position * ret - {cost} * dpos), 6) AS sn,
         round(sum((position * ret - {cost} * dpos)
                   * (position * ret - {cost} * dpos)), 6) AS ssn
  FROM traded
  WHERE ret IS NOT NULL AND position IS NOT NULL
  GROUP BY key
)
SELECT key, n_candles, n_invested,
       s AS total_ret,
       round(s / n_candles, 6) AS mean_ret,
       round(sqrt((ss - s * s / n_candles) / (n_candles - 1)), 6)
         AS vol,
       round((s / n_candles)
             / sqrt((ss - s * s / n_candles) / (n_candles - 1)), 6)
         AS sharpe,
       turnover,
       round({cost} * turnover, 6) AS total_cost,
       sn AS net_total_ret,
       round((sn / n_candles)
             / sqrt((ssn - sn * sn / n_candles) / (n_candles - 1)), 6)
         AS net_sharpe
FROM g
""".replace("{cost}", repr(DONCHIAN_COST_PER_SIDE))


def q_fx_vol_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility-regime labeling + transition matrix: each (key, day)
    gets a LOW/MID/HIGH label by the key's own realized-vol terciles
    (exact interpolated, rounded 6 — the PSI edge discipline), then
    day-over-day transitions are counted into the 3x3 Markov matrix a
    regime-switching overlay consumes. Shape: the daily RV aggregate,
    a tiny per-key tercile frame broadcast back, one lag, one count."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.operators.resample import (
        realized_volatility)

    rv = realized_volatility(_returns_df(spark, sf_dir), "1 day").select(
        "key", F.unix_millis("window_start").alias("day_ms"),
        F.round("realized_vol", 9).alias("rv"))
    edges = (rv.groupBy("key")
             .agg(F.expr("transform(percentile(rv, array(0.3333333333,"
                         " 0.6666666667)), e -> round(e, 6))")
                  .alias("e")))
    lab = (rv.join(F.broadcast(edges), "key")
           .select("key", "day_ms",
                   F.when(F.col("rv") <= F.col("e")[0], "LOW")
                   .when(F.col("rv") <= F.col("e")[1], "MID")
                   .otherwise("HIGH").alias("regime")))
    wk = Window.partitionBy("key").orderBy("day_ms")
    tr = (lab.withColumn("prev", F.lag("regime").over(wk))
          .where(F.col("prev").isNotNull())
          .groupBy("key", F.col("prev").alias("from_regime"),
                   F.col("regime").alias("to_regime"))
          .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = Window.partitionBy("key")
    return tr.select(
        "key", "from_regime", "to_regime", "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("share"))


QUERIES["fx_vol_regimes"] = q_fx_vol_regimes

ORACLE["fx_vol_regimes"] = _PRELUDE + """,
rv AS (
  SELECT key, (time_ms // 86400000) * 86400000 AS day_ms,
         round(sqrt(sum(ret * ret)), 9) AS rv
  FROM returns GROUP BY key, day_ms
),
edges AS (
  SELECT key,
         round(quantile_cont(rv, 0.3333333333), 6) AS e1,
         round(quantile_cont(rv, 0.6666666667), 6) AS e2
  FROM rv GROUP BY key
),
lab AS (
  SELECT r.key, r.day_ms,
         CASE WHEN r.rv <= e.e1 THEN 'LOW'
              WHEN r.rv <= e.e2 THEN 'MID'
              ELSE 'HIGH' END AS regime
  FROM rv r JOIN edges e USING (key)
),
tr AS (
  SELECT key,
         lag(regime) OVER (PARTITION BY key ORDER BY day_ms)
           AS from_regime,
         regime AS to_regime
  FROM lab
)
SELECT key, from_regime, to_regime,
       CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 1.0
             / sum(count(*)) OVER (PARTITION BY key), 6) AS share
FROM tr
WHERE from_regime IS NOT NULL
GROUP BY key, from_regime, to_regime
"""


# ---- late-data contract gate ---------------------------------------------

_LATE_REPLAY_SINKS: dict[tuple, str] = {}


def _late_tick_pred(time_ms_col, t_cut: int):
    """The engine-portable late-row selector: a tick is designated LATE
    iff it falls in the first third of the stream's time span AND the
    first hex digit of md5("key:time_ms") is '0' (~1/16 of early rows).
    md5 over the same string yields identical hex in Spark and DuckDB,
    so both sides of the oracle carve out the exact same set."""
    digest = F.md5(F.concat_ws(
        ":", F.col("key"), time_ms_col.cast("string")))
    return (time_ms_col < F.lit(t_cut)) & \
        (F.substring(digest, 1, 1) == "0")


def q_late_data_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE LATE-DATA CONTRACT, pinned through the driver gate: rows
    delivered AFTER the watermark has sealed their window are DROPPED,
    and the streaming result equals the batch result computed on the
    input minus exactly those rows.

    The reference has no late-data semantics at all (default trigger,
    `FXTimeSeriesPipelineDemo.java:276`); this engine claims an
    explicit watermark policy (`streaming/candles_stream.py` module
    doc), so the claim is defended by construction: the designated
    late set (md5-selected first-third ticks, ~1/16 of them) is
    withheld from its time bucket and delivered as the second-to-last
    micro-batch — by which point the watermark (delay 0) stands at the
    stream's max event time, far past those windows' ends — then a
    far-future sentinel flushes the tail windows. The oracle is the
    plain batch OHLC SQL over `events` minus the same md5-carved set:
    a hash match proves the drops happened AND nothing else changed.

    Allowed-lateness cost note (SCALE.md §late-data): a watermark
    delay D widens the open-window set per key from 1 to
    ceil(D/resolution)+1 — state grows linearly in D, never with
    stream length; the drop contract itself is free (a pre-aggregation
    filter against the state-store watermark)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.candles_stream import (
        streaming_ohlc_candles,
    )
    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _LATE_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ticks, _ = _ticks_and_keys(spark, sf_dir)
        t0_ms, t1_ms = ticks.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        span = t1_ms - t0_ms + 1
        # first-bucket boundary: t < t_cut <=> floor((t-t0)*3/span) == 0
        t_cut = t0_ms + (span + 2) // 3
        if t1_ms - t0_ms <= 3 * RES_MS:
            raise ValueError(
                "late_data_stream_replay needs a time span of several "
                "windows so first-third windows are sealed by the time "
                f"the late file arrives (span={span}ms, res={RES_MS}ms)")
        late = _late_tick_pred(_ms(F.col("event_time")), t_cut)
        work = tempfile.mkdtemp(prefix="late_data_replay_")
        n_files = 3
        base = _time.time() - 1000
        # on-time rows stream in 3 ascending time buckets...
        write_replay_buckets(ticks.where(~late), "event_time",
                             f"{work}/in", n_files, t0_ms, span, base,
                             ["key", "event_time"])
        # ...the late set arrives as its own micro-batch AFTER the full
        # stream (watermark already at t1), then the sentinel seals the
        # tail windows
        write_sentinel_file(ticks.where(late).coalesce(1),
                            f"{work}/in", n_files, base)
        sent = spark.createDataFrame(
            [(SENTINEL_KEY,)], "key string").select(
            "key",
            F.timestamp_millis(F.lit(t1_ms + 30 * 86_400_000))
            .alias("event_time"),
            F.lit(1.0).alias("bid"), F.lit(1.0).alias("ask"),
            F.lit(True).alias("is_live"))
        write_sentinel_file(sent, f"{work}/in", n_files + 1, base)

        src = (spark.readStream.schema(ticks.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        candles = streaming_ohlc_candles(src, RES, watermark="0 seconds")
        flat = candles.select(
            "key", "window_start",
            F.col("min_ask.ask").alias("min_price"),
            F.col("max_ask.ask").alias("max_price"),
            F.col("close.ask").alias("close_price"),
            F.col("close.time").alias("close_time"))
        sink = run_to_parquet_sink(flat, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _LATE_REPLAY_SINKS[cache_key] = sink
    out = (read_replay_sink(spark, sink)
           .where(F.col("key") != SENTINEL_KEY))
    return out.select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        "min_price", "max_price", "close_price",
        _ms(F.col("close_time")).alias("close_time_ms"))


QUERIES["late_data_stream_replay"] = q_late_data_stream_replay

# batch OHLC over events MINUS the md5-carved late set — the drop
# contract as one static SQL string (t_cut derives from the data)
ORACLE["late_data_stream_replay"] = f"""
WITH raw AS (
  SELECT event_type AS key, ts AS event_time, value AS price,
         epoch_ms(ts) AS time_ms
  FROM events
),
ext AS (
  SELECT min(time_ms) AS t0,
         min(time_ms) + ((max(time_ms) - min(time_ms) + 1) + 2) // 3
           AS t_cut
  FROM raw
),
kept AS (
  SELECT r.* FROM raw r, ext e
  WHERE NOT (r.time_ms < e.t_cut AND
             substr(md5(r.key || ':' || CAST(r.time_ms AS VARCHAR)),
                    1, 1) = '0')
),
tk AS (
  SELECT *, (time_ms // {RES_MS}) * {RES_MS} AS w_start_ms FROM kept
)
SELECT key, w_start_ms,
       min(price) AS min_price,
       max(price) AS max_price,
       arg_max(price, time_ms) AS close_price,
       max(time_ms) AS close_time_ms
FROM tk GROUP BY key, w_start_ms
"""


# ---- cross-sectional momentum long-short ----------------------------------

MOM_J = 6  # formation window: trailing candles in the momentum signal


def q_fx_momentum_ls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional momentum long-short backtest (the second
    evaluation capstone next to fx_backtest_donchian, which is
    time-series / per-instrument — this one is CROSS-SECTIONAL: at
    each candle, instruments are RANKED against each other). Signal =
    trailing MOM_J-candle return sum (current candle excluded, rounded
    to 9 before ranking so a last-ulp summation difference cannot
    reorder the book cross-engine; ties break by key). Portfolio:
    long the top 2, short the bottom 2 (disjoint once >= 4 instruments
    rank), earning the NEXT candle's return — no look-ahead. Output
    per formation window: equal-weight long / short / long-short
    next-period returns from rounded decomposable sums.

    Shape: the candle pipeline's existing per-key sort serves the
    trailing sum and the lead; one shuffle on window for the
    cross-sectional rank (a k-row-per-window frame, candle-sized);
    one aggregate. At a 10k-instrument universe the rank partition is
    10k rows — trivially in-memory per window."""
    from pyspark.sql import Window

    r = _returns_df(spark, sf_dir).select(
        "key", _ms(F.col("time")).alias("t_ms"),
        F.col("value").alias("ret"))
    wk = Window.partitionBy("key").orderBy("t_ms")
    tr = wk.rowsBetween(-MOM_J, -1)
    base = r.select(
        "key", "t_ms", "ret",
        F.round(F.sum("ret").over(tr), 9).alias("mom"),
        F.count("ret").over(tr).alias("n_tr"),
        F.lead("ret").over(wk).alias("nxt"))
    elig = base.where((F.col("n_tr") == MOM_J)
                      & F.col("nxt").isNotNull())
    wt = Window.partitionBy("t_ms")
    ranked = elig.select(
        "t_ms", "nxt",
        F.row_number().over(
            wt.orderBy(F.col("mom").desc(), "key")).alias("rd"),
        F.row_number().over(
            wt.orderBy(F.col("mom").asc(), "key")).alias("ra"),
        F.count(F.lit(1)).over(wt).alias("n_ranked"))
    long_s = F.round(F.sum(F.when(F.col("rd") <= 2, F.col("nxt"))), 6)
    short_s = F.round(F.sum(F.when(F.col("ra") <= 2, F.col("nxt"))), 6)
    return (ranked.where(F.col("n_ranked") >= 4)
            .groupBy(F.col("t_ms").alias("w_ms"))
            .agg(F.max("n_ranked").cast("long").alias("n_ranked"),
                 (long_s / 2).alias("long_ret"),
                 (short_s / 2).alias("short_ret"),
                 (long_s / 2 - short_s / 2).alias("ls_ret")))


QUERIES["fx_momentum_ls"] = q_fx_momentum_ls

ORACLE["fx_momentum_ls"] = _PRELUDE + f""",
mom AS (
  SELECT key, time_ms, ret,
         round(sum(ret) OVER tr, 9) AS mom,
         count(ret) OVER tr AS n_tr,
         lead(ret) OVER wk AS nxt
  FROM returns
  WINDOW wk AS (PARTITION BY key ORDER BY time_ms),
         tr AS (PARTITION BY key ORDER BY time_ms
                ROWS BETWEEN {MOM_J} PRECEDING AND 1 PRECEDING)
),
elig AS (SELECT * FROM mom WHERE n_tr = {MOM_J} AND nxt IS NOT NULL),
ranked AS (
  SELECT time_ms, nxt,
         row_number() OVER (PARTITION BY time_ms
                            ORDER BY mom DESC, key) AS rd,
         row_number() OVER (PARTITION BY time_ms
                            ORDER BY mom ASC, key) AS ra,
         count(*) OVER (PARTITION BY time_ms) AS n_ranked
  FROM elig
)
SELECT time_ms AS w_ms,
       CAST(max(n_ranked) AS BIGINT) AS n_ranked,
       round(sum(CASE WHEN rd <= 2 THEN nxt END), 6) / 2 AS long_ret,
       round(sum(CASE WHEN ra <= 2 THEN nxt END), 6) / 2 AS short_ret,
       round(sum(CASE WHEN rd <= 2 THEN nxt END), 6) / 2
         - round(sum(CASE WHEN ra <= 2 THEN nxt END), 6) / 2 AS ls_ret
FROM ranked
WHERE n_ranked >= 4
GROUP BY time_ms
"""


def q_fx_index_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-instrument CAPM-style beta/alpha against the equal-weight
    market index of the whole universe — the portfolio-level
    complement to fx_pair_beta (pairwise hedge ratios). The index is
    defined only at candle times where ALL N_EVENT_TYPES instruments
    have a return (the configured universe constant, reference S3 —
    never an eager distinct), so its composition cannot drift.
    Moments come from ROUNDED decomposable sums (round 9, ~1e-3-scale
    returns: strips cross-partition summation-order noise); the final
    beta/alpha round at 6. Shape: the returns frame feeds BOTH the
    index aggregate and the join side, so it materializes once (house
    policy hook) instead of running the candle pipeline twice; then
    one per-time aggregate (candle-sized), one join back on time, one
    per-key aggregate."""
    from data_timeseries_java_spark.plans.materialize import materialize

    r = materialize(_returns_df(spark, sf_dir).select(
        "key", _ms(F.col("time")).alias("t_ms"),
        F.col("value").alias("ret")))
    mkt = (r.groupBy("t_ms")
           .agg((F.round(F.sum("ret"), 9) / N_EVENT_TYPES)
                .alias("mkt_ret"),
                F.count(F.lit(1)).alias("_n"))
           .where(F.col("_n") == N_EVENT_TYPES)
           .drop("_n"))
    j = r.join(mkt, "t_ms")
    g = j.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.round(F.sum("mkt_ret"), 9).alias("sx"),
        F.round(F.sum("ret"), 9).alias("sy"),
        F.round(F.sum(F.col("mkt_ret") * F.col("mkt_ret")), 9)
        .alias("sxx"),
        F.round(F.sum(F.col("mkt_ret") * F.col("ret")), 9).alias("sxy"))
    n = F.col("n_windows").cast("double")
    beta = ((n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")))
    alpha = (F.col("sy") - beta * F.col("sx")) / n
    return g.select("key", "n_windows",
                    F.round(beta, 6).alias("beta"),
                    F.round(alpha, 6).alias("alpha"))


QUERIES["fx_index_beta"] = q_fx_index_beta

ORACLE["fx_index_beta"] = _PRELUDE + f""",
mkt AS (
  SELECT time_ms, round(sum(ret), 9) / {N_EVENT_TYPES} AS mkt_ret
  FROM returns GROUP BY time_ms
  HAVING count(*) = {N_EVENT_TYPES}
),
j AS (
  SELECT r.key, r.ret, m.mkt_ret
  FROM returns r JOIN mkt m USING (time_ms)
),
g AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_windows,
         round(sum(mkt_ret), 9) AS sx,
         round(sum(ret), 9) AS sy,
         round(sum(mkt_ret * mkt_ret), 9) AS sxx,
         round(sum(mkt_ret * ret), 9) AS sxy
  FROM j GROUP BY key
)
SELECT key, n_windows,
       round((n_windows * sxy - sx * sy)
             / (n_windows * sxx - sx * sx), 6) AS beta,
       round((sy - (n_windows * sxy - sx * sy)
                   / (n_windows * sxx - sx * sx) * sx)
             / n_windows, 6) AS alpha
FROM g
"""


def q_fx_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday seasonality profile: per (instrument, hour-of-day),
    the mean candle return and mean |return| — the time-of-day
    activity/drift fingerprint a seasonal-adjustment or
    execution-scheduling layer consumes (the return-space complement
    to event_hour_profile's count space). UTC hour (session pins the
    zone), means from ROUNDED decomposable sums; a seasonal_share
    column reports each hour's share of the key's total absolute
    return on the exact quantized lattice."""
    r = _returns_df(spark, sf_dir).select(
        "key", F.hour(F.col("time")).cast("long").alias("hod"),
        F.col("value").alias("ret"))
    g = (r.groupBy("key", "hod")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.round(F.sum("ret"), 9).alias("s"),
              F.round(F.sum(F.abs(F.col("ret"))), 9).alias("sa")))
    tot = (g.groupBy("key")
           .agg(F.round(F.sum("sa"), 9).alias("ta")))
    return (g.join(F.broadcast(tot), "key")
            .select("key", "hod", "n",
                    F.round(F.col("s") / F.col("n"), 6)
                    .alias("mean_ret"),
                    F.round(F.col("sa") / F.col("n"), 6)
                    .alias("mean_abs_ret"),
                    (F.floor(F.col("sa") / F.col("ta") * 1_000_000)
                     / 1_000_000).alias("seasonal_share")))


QUERIES["fx_hourly_seasonality"] = q_fx_hourly_seasonality

ORACLE["fx_hourly_seasonality"] = _PRELUDE + """,
g AS (
  SELECT key, CAST(hour(to_timestamp(time_ms / 1000)) AS BIGINT) AS hod,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(ret), 9) AS s,
         round(sum(abs(ret)), 9) AS sa
  FROM returns GROUP BY 1, 2
),
tot AS (SELECT key, round(sum(sa), 9) AS ta FROM g GROUP BY key)
SELECT g.key, g.hod, g.n,
       round(g.s / g.n, 6) AS mean_ret,
       round(g.sa / g.n, 6) AS mean_abs_ret,
       floor(g.sa / t.ta * 1000000) / 1000000 AS seasonal_share
FROM g JOIN tot t ON t.key = g.key
"""


_LATE_STATE_REPLAY_SINKS: dict[tuple, str] = {}


def q_late_data_state_stream_replay(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The late-data drop contract on the COMPLETE-CANDLE path:
    late_data_stream_replay pins it for the watermarked window
    aggregation; this gate pins it for the complete-candle stream
    (that aggregate plus per-batch global gap-fill and carry-forward),
    whose consequences are deeper — a dropped late tick must also not
    perturb gap synthesis or carry-forward for any OTHER key, because
    the windows it would have completed were finalized before it
    arrived. The oracle is therefore the COMPLETE batch
    candle derivation (gap rows, 0.0 leading back-fill, carry-forward
    close -> open) computed over events MINUS the identical md5-carved
    late set: a hash match proves drops, gap semantics and carry all
    stayed consistent."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.candles_stream import (
        streaming_complete_candles,
    )
    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        drive_query,
        read_replay_sink,
        write_replay_buckets,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _LATE_STATE_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ticks, keys_df = _ticks_and_keys(spark, sf_dir)
        universe = sorted(r[0] for r in keys_df.collect())
        t0_ms, t1_ms = ticks.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        span = t1_ms - t0_ms + 1
        t_cut = t0_ms + (span + 2) // 3
        late = _late_tick_pred(_ms(F.col("event_time")), t_cut)
        work = tempfile.mkdtemp(prefix="late_state_replay_")
        n_files = 3
        base = _time.time() - 1000
        write_replay_buckets(ticks.where(~late), "event_time",
                             f"{work}/in", n_files, t0_ms, span, base,
                             ["key", "event_time"])
        write_sentinel_file(ticks.where(late).coalesce(1),
                            f"{work}/in", n_files, base)
        write_sentinel_file(_candle_sentinel(spark, t1_ms), f"{work}/in",
                            n_files + 1, base)

        src = (spark.readStream.schema(ticks.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        drive_query(streaming_complete_candles(spark, src, work, RES,
                                               universe=universe),
                    what="late-data candle stream replay")
        sink = f"{work}/candles"
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/checkpoint", ignore_errors=True)
        _LATE_STATE_REPLAY_SINKS[cache_key] = sink
    flat = (read_replay_sink(spark, sink)
            .where(F.col("key") != SENTINEL_KEY))
    return flat.select(
        "key",
        _ms(F.col("window_start")).alias("w_start_ms"),
        F.col("is_live"),
        _ms(F.col("open_time")).alias("open_time_ms"),
        F.col("open_ask").alias("open_price"),
        _ms(F.col("close_time")).alias("close_time_ms"),
        F.col("close_ask").alias("close_price"),
        F.col("min_ask").alias("min_price"),
        F.col("max_ask").alias("max_price"),
    )


QUERIES["late_data_state_stream_replay"] = q_late_data_state_stream_replay

# the full batch candle derivation over events MINUS the md5-carved
# late set (same carve as late_data_stream_replay's oracle)
_KEPT_EVENTS_SQL = """(
  SELECT e.* FROM events e,
       (SELECT min(epoch_ms(ts)) + ((max(epoch_ms(ts)) - min(epoch_ms(ts))
               + 1) + 2) // 3 AS t_cut FROM events) x
  WHERE NOT (epoch_ms(e.ts) < x.t_cut AND
             substr(md5(e.event_type || ':' ||
                        CAST(epoch_ms(e.ts) AS VARCHAR)), 1, 1) = '0')
)"""

ORACLE["late_data_state_stream_replay"] = _prelude(
    "event_type", RES_MS, source_sql=_KEPT_EVENTS_SQL) + """
SELECT key, w_start_ms, is_live, open_time_ms, open_price,
       close_time_ms, close_price, min_price, max_price
FROM complete
"""


# ---- allowed-lateness EMIT contract gate -----------------------------------

_ALLOWED_LATE_SINKS: dict[tuple, str] = {}


def q_allowed_lateness_stream_replay(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """THE ALLOWED-LATENESS EMIT CONTRACT — the other half of the
    late-data claim (`late_data_stream_replay` pins the DROP half):
    with a watermark delay D > 0, a row that arrives AFTER its
    window's end has passed in event time but WITHIN D must UPDATE
    its candle, and the final streaming result must equal the batch
    result on the FULL input — late rows merged, nothing dropped,
    nothing double-counted.

    Construction: D is chosen as t1 - midpoint, so after the three
    on-time buckets the watermark stands at the stream's temporal
    midpoint — every first-half window is sealed, every second-half
    window is still open. The designated late set (md5-carved, ~1/16
    of rows strictly above the first RES-aligned boundary past the
    midpoint and strictly below the last window) is withheld from its
    time bucket and delivered as the second-to-last micro-batch: by
    then the stream's max event time (t1) is far past those windows'
    ends, so under the drop gate's delay-0 policy they would all be
    discarded — here every one lands inside D and must merge into its
    open candle. A far-future sentinel then seals everything. The
    oracle is plain batch OHLC over ALL of `events`: the hash match
    proves the merges happened and sealed first-half candles were
    untouched.

    State-cost note (SCALE.md §late-data): this is the D > 0 path
    whose memory the allowed-lateness table measures — open windows
    per key = ceil(D/resolution)+1, linear in D, never in stream
    length. This gate pins its CORRECTNESS; the table pins its cost.

    The reference has no late-data semantics (default trigger,
    FXTimeSeriesPipelineDemo.java:276); both halves of this engine's
    explicit watermark policy are therefore pinned by construction."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.candles_stream import (
        streaming_ohlc_candles,
    )
    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _ALLOWED_LATE_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ticks, _ = _ticks_and_keys(spark, sf_dir)
        t0_ms, t1_ms = ticks.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        span = t1_ms - t0_ms + 1
        mid = t0_ms + span // 2
        delay_ms = t1_ms - mid  # watermark after full on-time stream = mid
        # late candidates: windows starting >= 2 windows past the
        # midpoint (strictly above the final watermark, so still open
        # when the late batch arrives) and strictly before the last
        # window (so their ends have PASSED the stream's max event
        # time — they are genuinely late under delay 0)
        w_safe = (mid // RES_MS + 2) * RES_MS
        last_w = (t1_ms // RES_MS) * RES_MS
        if w_safe + RES_MS >= last_w:
            raise ValueError(
                "allowed_lateness_stream_replay needs several windows "
                "between the temporal midpoint and the last window "
                f"(span={span}ms, res={RES_MS}ms)")
        t_ms = _ms(F.col("event_time"))
        digest = F.md5(F.concat_ws(":", F.col("key"),
                                   t_ms.cast("string")))
        late = ((t_ms >= F.lit(w_safe)) & (t_ms < F.lit(last_w))
                & (F.substring(digest, 1, 1) == "0"))
        n_late = ticks.where(late).count()
        if n_late == 0:
            raise ValueError(
                "allowed_lateness_stream_replay carved an empty late "
                "set — the gate would be vacuous at this sf")
        work = tempfile.mkdtemp(prefix="allowed_late_replay_")
        n_files = 3
        base = _time.time() - 1000
        write_replay_buckets(ticks.where(~late), "event_time",
                             f"{work}/in", n_files, t0_ms, span, base,
                             ["key", "event_time"])
        # the within-D late set arrives AFTER the full on-time stream
        write_sentinel_file(ticks.where(late).coalesce(1),
                            f"{work}/in", n_files, base)
        sent = spark.createDataFrame(
            [(SENTINEL_KEY,)], "key string").select(
            "key",
            F.timestamp_millis(
                F.lit(t1_ms + delay_ms + 30 * 86_400_000))
            .alias("event_time"),
            F.lit(1.0).alias("bid"), F.lit(1.0).alias("ask"),
            F.lit(True).alias("is_live"))
        write_sentinel_file(sent, f"{work}/in", n_files + 1, base)

        src = (spark.readStream.schema(ticks.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        candles = streaming_ohlc_candles(
            src, RES, watermark=f"{delay_ms} milliseconds")
        flat = candles.select(
            "key", "window_start",
            F.col("min_ask.ask").alias("min_price"),
            F.col("max_ask.ask").alias("max_price"),
            F.col("close.ask").alias("close_price"),
            F.col("close.time").alias("close_time"))
        sink = run_to_parquet_sink(flat, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _ALLOWED_LATE_SINKS[cache_key] = sink
    out = (read_replay_sink(spark, sink)
           .where(F.col("key") != SENTINEL_KEY))
    return out.select(
        "key", _ms(F.col("window_start")).alias("w_start_ms"),
        "min_price", "max_price", "close_price",
        _ms(F.col("close_time")).alias("close_time_ms"))


QUERIES["allowed_lateness_stream_replay"] = q_allowed_lateness_stream_replay

# plain batch OHLC over the FULL events table — if the stream had
# dropped (or double-merged) even one within-D late row, the hash
# match against this fails
ORACLE["allowed_lateness_stream_replay"] = f"""
WITH raw AS (
  SELECT event_type AS key, value AS price, epoch_ms(ts) AS time_ms
  FROM events
),
tk AS (
  SELECT *, (time_ms // {RES_MS}) * {RES_MS} AS w_start_ms FROM raw
)
SELECT key, w_start_ms,
       min(price) AS min_price,
       max(price) AS max_price,
       arg_max(price, time_ms) AS close_price,
       max(time_ms) AS close_time_ms
FROM tk GROUP BY key, w_start_ms
"""


def q_fx_mean_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systemic-risk gauge: per sliding window, the cross-sectional
    MEAN pairwise correlation (plus min/max and pair count) — the
    'correlation breakdown' dashboard number risk desks watch (mean
    pair-corr spiking toward 1 = diversification gone). Composes the
    declared pair-correlation pipeline unchanged and aggregates its
    6-dp values (already on the cross-engine lattice): one extra
    window-sized aggregate, NaN pairs excluded as undefined."""
    # Both predicates, matching the oracle's "r IS NOT NULL AND NOT
    # isnan(r)": F.isnan is false for NULL, so ~is_nan alone would keep
    # a NULL correlation in the n_pairs divisor on this side only.
    base = (q_fx_pair_correlation(spark, sf_dir)
            .where(F.col("value").isNotNull() & ~F.col("is_nan")))
    # FLOOR-quantized mean (not round): sum/n can land exactly on a
    # .5e-6 boundary whose half-up decision differs between engines'
    # decimal paths — floor of the identical double never does
    mean6 = F.floor(F.round(F.sum("value"), 9)
                    / F.count(F.lit(1)) * 1_000_000) / 1_000_000
    return (base.groupBy("w_start_ms")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 mean6.alias("mean_corr"),
                 F.min("value").alias("min_corr"),
                 F.max("value").alias("max_corr")))


QUERIES["fx_mean_correlation"] = q_fx_mean_correlation

ORACLE["fx_mean_correlation"] = _CORR_BASE + """
SELECT w_start_ms,
       CAST(count(*) AS BIGINT) AS n_pairs,
       floor(round(sum(round(r, 6)), 9) / count(*) * 1000000)
         / 1000000 AS mean_corr,
       min(round(r, 6)) AS min_corr,
       max(round(r, 6)) AS max_corr
FROM pairs
WHERE r IS NOT NULL AND NOT isnan(r)
GROUP BY w_start_ms
"""


# ---- round-11 out-of-order fold gates: the reorder stage across the ------
# ---- remaining fold families, driver-gated through displaced replay ------

_OOO_FOLD_REPLAY_SINKS: dict[tuple, str] = {}


def _ooo_fold_replay(spark: SparkSession, sf_dir: str, which: str,
                     feed: DataFrame, make_stream,
                     sentinel_cols) -> DataFrame:
    """Shared driver-gate construction for the non-EMA reorder
    adapters (same displaced-replay shape as `ema_ooo_stream_replay`):
    an md5-carved ~1/8 of every time bucket's rows is routed one
    micro-batch LATE — deliberately breaking the cross-batch order
    contract the plain fold streams document — and the adapter must
    buffer and fold every row in exact event-time order behind the
    watermark (delay = one bucket width + margin). ``make_stream(src,
    watermark)`` builds the reordered operator; ``sentinel_cols(ts)``
    returns the far-future flush row's non-key columns. Returns the
    sink frame with the sentinel filtered."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        read_replay_sink,
        run_to_parquet_sink,
        write_displaced_replay,
        write_sentinel_file,
    )

    key_col = feed.columns[0]
    ts_col = feed.columns[1]
    cache_key = (spark.sparkContext.applicationId,
                 os.path.abspath(sf_dir), which)
    sink = _OOO_FOLD_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        t0_ms, t1_ms = feed.select(
            F.min(_ms(F.col(ts_col))), F.max(_ms(F.col(ts_col)))).first()
        span = t1_ms - t0_ms + 1
        # D must exceed one bucket width so every displaced row is
        # still above the watermark when its (one-late) file arrives
        delay_ms = span // 3 + 2 * 3_600_000
        work = tempfile.mkdtemp(prefix=f"{which}_ooo_replay_")
        base = _time.time() - 1000
        n_disp = write_displaced_replay(
            feed, ts_col, f"{work}/in", 3, t0_ms, span, base,
            [key_col, ts_col])
        if n_disp == 0:
            raise ValueError(
                f"{which}_ooo_stream_replay carved an empty displaced "
                f"set — the out-of-order gate would be vacuous here")
        sent_key = (SENTINEL_KEY if key_col == "key"
                    else -1)  # long-keyed folds use a negative id
        sent = spark.createDataFrame(
            [(sent_key,)],
            f"{key_col} {'string' if key_col == 'key' else 'long'}"
        ).select(
            key_col,
            F.timestamp_millis(
                F.lit(t1_ms + delay_ms + 30 * 86_400_000)).alias(ts_col),
            *sentinel_cols())
        write_sentinel_file(sent, f"{work}/in", 4, base)
        src = (spark.readStream.schema(feed.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        out = make_stream(src, f"{delay_ms} milliseconds")
        sink = run_to_parquet_sink(out, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _OOO_FOLD_REPLAY_SINKS[cache_key] = sink
    out = read_replay_sink(spark, sink)
    if key_col == "key":
        from data_timeseries_java_spark.streaming.replay import (
            SENTINEL_KEY as _SK,
        )
        out = out.where(F.col("key") != _SK)
    return out


def q_holt_ooo_stream_replay(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing behind the reorder stage against a
    replay that BREAKS the cross-batch order contract (md5-carved 1/8
    of every bucket displaced one micro-batch late): the first NON-EMA
    fold family adopted onto the stage, hash-matched against the SAME
    RECURSIVE-CTE oracle as the in-order `holt_stream_replay` — the
    match proves order-insensitivity up to D with zero drops and zero
    double-folds. Building this query RUNS the stream."""
    from data_timeseries_java_spark.operators.candles import (
        candles_pipeline,
    )
    from data_timeseries_java_spark.streaming.reorder import (
        reordered_holt,
    )

    ticks, keys = _ticks_and_keys(spark, sf_dir)
    series = candles_pipeline(ticks, keys, RES).select(
        "key", F.col("window_start").alias("event_time"),
        F.col("close.ask").alias("price"))
    h = _ooo_fold_replay(
        spark, sf_dir, "holt", series,
        lambda src, wm: reordered_holt(src, price_col="price",
                                       watermark=wm),
        lambda: [F.lit(0.0).alias("price")])
    return h.select(
        "key", _ms(F.col("event_time")).alias("w_start_ms"),
        F.round("price", 6).alias("price"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round(F.col("level") + F.col("trend"), 6).alias("forecast"),
    )


QUERIES["holt_ooo_stream_replay"] = q_holt_ooo_stream_replay

ORACLE["holt_ooo_stream_replay"] = ORACLE["fx_holt_trend"]


def q_imbalance_ooo_stream_replay(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Order-flow imbalance bars behind the reorder stage under
    displaced replay — the hardest fold to displace (the tick-rule
    direction carries across every row, so ONE out-of-order tick
    perturbs every subsequent bar) — hash-matched against the batch
    `fx_imbalance_bars` oracle restricted to threshold-hit (closed)
    bars, the same contract as the in-order gate. Building this query
    RUNS the stream."""
    from data_timeseries_java_spark.streaming.reorder import (
        reordered_imbalance_bars,
    )

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    feed = ticks.select("key", "event_time", "ask")
    b = _ooo_fold_replay(
        spark, sf_dir, "imbalance", feed,
        lambda src, wm: reordered_imbalance_bars(
            src, threshold=IMB_THRESHOLD, watermark=wm),
        lambda: [F.lit(0.0).alias("ask")])
    return b.select(
        "key", "bar", "n_ticks", "n_buy", "n_sell", "imbalance",
        F.round("open", 6).alias("open"),
        F.round("close", 6).alias("close"),
        "t_open_ms", "t_close_ms",
    )


QUERIES["imbalance_ooo_stream_replay"] = q_imbalance_ooo_stream_replay

ORACLE["imbalance_ooo_stream_replay"] = (
    ORACLE["imbalance_bars_stream_replay"])


def q_vwap_ooo_stream_replay(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Anchored daily VWAP behind the reorder stage under displaced
    replay (the anchored cumsum folds in exact event-time order or the
    running ratio is wrong for every subsequent hour of the day),
    hash-matched against the SAME batch `fx_vwap` oracle as the
    in-order gate. Building this query RUNS the stream."""
    from data_timeseries_java_spark.streaming.reorder import (
        reordered_anchored_vwap,
    )

    ticks, _ = _ticks_and_keys(spark, sf_dir)
    hourly = (ticks.groupBy(
        "key", F.window("event_time", RES).alias("w"))
        .agg(F.sum("ask").alias("sum_price"),
             F.count(F.lit(1)).cast("long").alias("volume"))
        .select("key", F.col("w.start").alias("event_time"),
                "sum_price", "volume"))
    v = _ooo_fold_replay(
        spark, sf_dir, "vwap", hourly,
        lambda src, wm: reordered_anchored_vwap(src, watermark=wm),
        lambda: [F.lit(1.0).alias("sum_price"),
                 F.lit(1).cast("long").alias("volume")])
    return v.select(
        "key",
        _ms(F.col("event_time")).alias("w_start_ms"),
        "anchor_ms", "volume",
        F.round("window_vwap", 6).alias("window_vwap"),
        F.round("anchored_vwap", 6).alias("anchored_vwap"),
    )


QUERIES["vwap_ooo_stream_replay"] = q_vwap_ooo_stream_replay

ORACLE["vwap_ooo_stream_replay"] = ORACLE["fx_vwap"]


# ---- reorder-stage checkpoint recovery, driver-gated ---------------------

_REORDER_RECOVERY_SINKS: dict[tuple, str] = {}


def q_reorder_recovery_stream_replay(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """CHECKPOINT RECOVERY of the reorder stage — the buffer of
    rows awaiting the watermark IS the stage's correctness mechanism,
    so it must survive a kill/restart. The displaced EMA replay runs
    as TWO streaming queries over one retained checkpoint: phase 1
    sees only files f0/f1 and terminates with displaced bucket-0 rows
    and all unsealed bucket-1 rows sitting IN the reorder buffer;
    f2/f3 and the flush sentinel are written afterwards and phase 2
    resumes from the checkpoint. The union of both phases' sink
    batches must hash-match the SAME RECURSIVE-CTE oracle as the
    uninterrupted `ema_ooo_stream_replay` — a lost or double-restored
    buffer row, or a broken inner-seed restore, breaks the hash.
    Building this query RUNS both streams (laziness-guard exempt)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.reorder import reordered_ema
    from data_timeseries_java_spark.streaming.replay import (
        SENTINEL_KEY,
        displace_route,
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_files,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _REORDER_RECOVERY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        rets = _returns_df(spark, sf_dir).select(
            "key", F.col("time").alias("event_time"), "value")
        t0_ms, t1_ms = rets.select(
            F.min(_ms(F.col("event_time"))),
            F.max(_ms(F.col("event_time")))).first()
        span = t1_ms - t0_ms + 1
        delay_ms = span // 3 + 2 * 3_600_000
        routed, n_disp = displace_route(rets, "event_time", 3, t0_ms,
                                        span, ["key", "event_time"])
        if n_disp == 0:
            raise ValueError(
                "reorder_recovery_stream_replay carved an empty "
                "displaced set — the gate would be vacuous here")
        work = tempfile.mkdtemp(prefix="reorder_recovery_replay_")
        base = _time.time() - 1000
        # phase 1: only f0/f1 on disk (f1 holds bucket-0's displaced
        # rows — they arrive, get buffered, and the kill hits with
        # them unsealed in state)
        write_replay_files(routed.where(F.col("_f") <= 1), "_f",
                           f"{work}/in", 2, base, ["key", "event_time"])

        def src():
            return (spark.readStream.schema(rets.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(f"{work}/in/f*"))

        wm = f"{delay_ms} milliseconds"
        run_to_parquet_sink(reordered_ema(src(), alpha=0.2,
                                          price_col="value",
                                          watermark=wm),
                            f"{work}/out", f"{work}/ckpt")

        # phase 2: the rest of the feed + the flush sentinel appear,
        # and a NEW query resumes from the retained checkpoint
        for i in (2, 3):
            (routed.where(F.col("_f") == i).drop("_f")
             .orderBy(F.md5(F.concat_ws(":", "key", "event_time")))
             .coalesce(1).write.mode("overwrite")
             .parquet(f"{work}/in/f{i}"))
            import glob as _glob
            for p in _glob.glob(f"{work}/in/f{i}/*"):
                os.utime(p, (base + i * 10, base + i * 10))
        sent = spark.createDataFrame(
            [(SENTINEL_KEY,)], "key string").select(
            "key",
            F.timestamp_millis(
                F.lit(t1_ms + delay_ms + 30 * 86_400_000))
            .alias("event_time"),
            F.lit(0.0).alias("value"))
        write_sentinel_file(sent, f"{work}/in", 4, base)
        sink = run_to_parquet_sink(
            reordered_ema(src(), alpha=0.2, price_col="value",
                          watermark=wm),
            f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _REORDER_RECOVERY_SINKS[cache_key] = sink
    e = (read_replay_sink(spark, sink)
         .where(F.col("key") != SENTINEL_KEY))
    return e.select(
        "key",
        _ms(F.col("event_time")).alias("time_ms"),
        F.round("price", 6).alias("ret"),
        F.round("ema", 6).alias("ema"),
    )


QUERIES["reorder_recovery_stream_replay"] = q_reorder_recovery_stream_replay

ORACLE["reorder_recovery_stream_replay"] = ORACLE["fx_ema_returns"]
