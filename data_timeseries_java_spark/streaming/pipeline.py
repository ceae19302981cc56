"""End-to-end streaming FX pipeline: ticks → candles (watermarked window
aggregate) → complete candles and log returns → incremental
sliding-window pairwise correlation.

The streaming stage is the batch OHLC aggregate
(:func:`~data_timeseries_java_spark.streaming.candles_stream.streaming_ohlc_candles`),
which Spark runs incrementally in the JVM against its state store and
emits in append mode: a (key, window) candle arrives once, when the
watermark passes its window end. Gap-fill, carry-forward and the
correlation are aggregates of that aggregate, so instead of fighting
Spark's one-stateful-operator-per-query rule they run in
``foreachBatch`` as INCREMENTAL batch computations over the finalized
candles, the standard production pattern for "aggregate of an
aggregate" streams:

1. one job collects the batch's finalized (window, keys) list; the
   candles are cached, so the stateful stage runs once. A batch that
   finalizes nothing (the data batch of every availableNow run) stops
   there;
2. completion: each finalized window gets a gap candle for every key of
   the universe it lacks (built on the driver from that list, as
   literals), and carry-forward runs the batch
   :func:`~data_timeseries_java_spark.operators.candles.complete_candles`
   seeded with every key's last close from the newest earlier partition
   of the returns store;
3. each batch writes one row per complete candle (log return, ``value``
   null where ln is undefined, and the close that seeds the next
   batch, ``close_ask`` and ``close_live``) to a
   ``batch_id``-keyed partition of the returns store (overwrite, so an
   at-least-once re-execution replaces its own output; it seeds from
   partitions below its own id, so it stays idempotent);
4. only the sliding windows TOUCHED by this batch are recomputed (a
   window's correlation is correct once all its candles arrived) —
   taken on the driver from the same list, with the window filter BELOW
   the correlation aggregation, so the recompute's input is the
   touched windows' returns, never the whole store;
5. results land log-structured: each batch writes its recomputed
   windows to ONE ``batch_id``-keyed partition of
   ``{work_dir}/correlations`` (overwrite → idempotent retries). The
   batch's claim on the windows it recomputed rides in the same write
   as marker rows (``key1 IS NULL``, one per recomputed window), so an
   empty recompute (late data dropped every pair of a window below
   ``min_corr``) still supersedes the stale rows. A per-slide
   partitioned store was measured at 15-19s/micro-batch at sf0.1
   (~1,100 tiny directories rewritten per trigger); the log layout
   writes one directory per trigger.
   :func:`read_streaming_correlations` resolves the latest claim per
   window (one scan and a window on a small store, a broadcast join of
   claims on a large one); :func:`compact_correlation_store` folds the
   log into one batch so that resolve stays small.

No Python worker runs per trigger: driver-side lists (gap rows,
marker rows) become JVM literals. Only a batch that touches more than
``_IN_LITERAL_MAX`` sliding windows builds its marker rows with
``createDataFrame``, which then also feed the broadcast membership join.

Stores written before the returns store gained ``close_ask`` and
``close_live`` and before the candle stage became a window aggregate
cannot be resumed: both the checkpoint's state operator and the
returns schema changed, and there is no migration; start such a stream
on a fresh ``work_dir``. A future prune of the returns store must keep
its newest partition, which seeds the next batch's carry-forward.

At 100 TB the same shape holds: the recompute scans only the affected
time range (min/max predicate reaches the parquet scan) and the pair
join inside one window is the engine's normal correlation plan. On an
ACID table format (Delta/Iceberg) the log+resolve becomes MERGE; plain
parquet here keeps the container dependency-free.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_timeseries_java_spark.operators import (
    CorrelationConfig,
    log_returns,
    pairwise_correlations,
)
from data_timeseries_java_spark.operators.candles import (
    complete_candles,
    gap_candles,
)
from data_timeseries_java_spark.streaming.candles_stream import (
    _resolution_ms,
    streaming_ohlc_candles,
)
from data_timeseries_java_spark.streaming.logstore import (
    FOLD_OFFSET,
    local_store_path,
    swap_in_fold,
)

# Above this many touched windows, the membership filter is a
# broadcast left-semi join instead of a literal IN; the list itself
# stays a tiny driver-side long array either way.
_IN_LITERAL_MAX = 10_000

# Correlation stores up to this many file bytes resolve with a window,
# larger ones with a broadcast claim join (read_streaming_correlations).
_WINDOW_RESOLVE_MAX_BYTES = 1 << 20

# Both stores' schemas, pinned so that no read infers one (a Spark job
# over the store's footers). A returns partition holds one row per
# complete candle: ``value`` is null where ln is undefined, and
# ``close_ask`` with ``close_live`` (whether that close is, or carries, a
# live close) seeds the next batch's carry-forward. Marker rows in the
# correlation store are null in every column but ``w_start_ms``; fold
# ids exceed 2**31, so ``batch_id`` is a bigint.
_RETURNS_ROW_SCHEMA = ("key string, time timestamp, value double, "
                       "close_ask double, close_live boolean")
_RETURNS_SCHEMA = _RETURNS_ROW_SCHEMA + ", batch_id bigint"
_CORR_SCHEMA = ("window_start timestamp, window_end timestamp, key1 string, "
                "key2 string, value double, x_count int, y_count int, "
                "is_nan boolean, w_start_ms bigint, batch_id bigint")


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


def _seed_partition(spark: SparkSession, returns_path: str,
                    batch_id: int) -> DataFrame | None:
    """The returns store's newest partition below ``batch_id``, or None.
    Every finalized window has a row for every key seen so far, so that
    partition holds every key's latest close. It is found without a
    Spark job and on any URI: a Hadoop ``exists`` per id, walking down
    from ``batch_id - 1``. The walk stops at the first hit, usually one
    or two ids down (an availableNow run's data batch writes nothing),
    so its cost does not grow with the store; before the first write
    the store does not exist and no id is tried. It is read by its own
    path, so the read lists one directory."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(returns_path)
    fs = root.getFileSystem(
        spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(root):
        return None
    for k in range(batch_id - 1, -1, -1):
        part = f"{returns_path}/batch_id={k}"
        if fs.exists(jvm.org.apache.hadoop.fs.Path(part)):
            return spark.read.schema(_RETURNS_ROW_SCHEMA).parquet(part)
    return None


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


def _touched_slides(windows, res_ms: int, win_ms: int,
                    slide_ms: int) -> list[int]:
    """Start ms of every sliding window that holds the return of a
    candle in ``windows`` (its close time, window end − 1 ms), on the
    epoch-aligned grid ``F.window`` uses."""
    out = set()
    for w in windows:
        t = w + res_ms - 1
        s = t // slide_ms * slide_ms
        while s > t - win_ms:
            out.add(s)
            s -= slide_ms
    return sorted(out)


def _complete(spark: SparkSession, live: DataFrame, seed: DataFrame | None,
              final: dict[int, set[str]], keys: set[str],
              res_ms: int) -> DataFrame:
    """The batch's complete candles: its finalized candles ``live``, plus
    a gap candle for each of ``keys`` that a finalized window lacks,
    carried forward by :func:`complete_candles` from the seed
    partition's closes. A seed row enters as a candle at its own close
    time, before every finalized window, live when its close is or
    carries a live close (``close_live``), and is dropped again after
    completion. So a key that has only had non-live candles opens the
    next candle at its last close but back-fills later gaps with 0.0,
    as batch does."""
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
        close = F.struct(F.col("time"),
                         F.lit(None).cast("double").alias("bid"),
                         F.col("close_ask").alias("ask"),
                         F.col("close_live").alias("is_live"))
        parts.append(seed.select(
            "key", F.col("time").alias("window_start"),
            F.col("time").alias("window_end"),
            *[close.alias(c) for c in
              ("close", "min_ask", "max_ask", "min_bid", "max_bid")],
            F.col("close_live").alias("is_live")))
    union = reduce(lambda a, b: a.unionByName(b.select(cols)), parts)
    return complete_candles(union, with_close_live=True).where(
        F.col("window_start") >= F.timestamp_millis(F.lit(min(final))))


def streaming_correlations(spark: SparkSession, ticks: DataFrame,
                           work_dir: str,
                           resolution: str = "120 seconds",
                           config: CorrelationConfig | None = None,
                           watermark: str = "0 seconds",
                           universe: list[str] | None = None,
                           max_windows_per_trigger: int = 250_000):
    """Start the full streaming pipeline; returns the StreamingQuery.

    Results land log-structured in ``{work_dir}/correlations`` keyed by
    ``batch_id`` (read the current snapshot via
    :func:`read_streaming_correlations`); the returns store lives in
    ``{work_dir}/returns``.

    ``universe``: the instrument universe (the reference's work-packet
    config constant). Gap-fill is GLOBAL, as in batch: every finalized
    window (one in which some instrument ticked) gets a candle for
    every key of the universe, and globally-dead windows get none. The
    universe is ``universe`` plus every key seen so far; without it,
    the keys seen so far. So without it, a key that first ticks after
    the first finalized window lacks batch's leading gap candles in the
    windows earlier micro-batches finalized, and its first return can
    be 0.0 where batch has none. Pass the universe for batch parity on
    any feed.

    ``watermark``: how late a tick may arrive and still count. Files
    whose ticks come in time order can be cut anywhere, mid-candle
    included, and fed one availableNow run each: with the default
    ``"0 seconds"`` the stream then matches batch on every window the
    watermark has closed (pinned by
    ``tests/test_streaming_pipeline.py``). A candle whose ticks arrive
    out of order across files needs a delay that covers that disorder.

    ``max_windows_per_trigger`` bounds the per-trigger driver-side
    touched-window list: it is structurally bounded by
    (batch time span / slide) + window/slide, but a mis-set slide
    (seconds where minutes were meant, a 60-180x inflation) would
    silently blow the list up — fail loudly instead. The default
    allows legitimate decade-replay triggers (the round-12 streaming
    outlier audit tripped the old 10k limit at the 10x volume decade,
    where each availableNow trigger legitimately spans ~37 days =
    ~10.8k five-minute slides) while still catching the mis-set-slide
    arithmetic at any realistic replay size. Membership filtering
    switches from a literal IN to a broadcast semi-join above
    ``_IN_LITERAL_MAX`` windows so the PLAN stays small either way —
    only the driver-side list (8 bytes/window) and the marker rows
    scale with the count.

    ``resolution`` and ``config``'s window and slide are
    ``"<int> <unit>"`` durations: the driver derives the touched
    windows from them.

    ``config.include_underlying`` is refused: the store's reads pin one
    schema (``_CORR_SCHEMA``), which has no ``x_values``/``y_values``
    columns, so the reads and the compaction fold would drop them.
    """
    cfg = config or CorrelationConfig()
    if cfg.include_underlying:
        raise ValueError(
            "streaming_correlations does not support include_underlying: "
            "the correlation store has no x_values/y_values columns")
    res_ms = _resolution_ms(resolution)
    win_ms, slide_ms = _resolution_ms(cfg.window), _resolution_ms(cfg.slide)
    returns_path = f"{work_dir}/returns"
    corr_path = f"{work_dir}/correlations"
    candles = streaming_ohlc_candles(ticks, resolution, watermark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Cached with the window start in ms, which _finalized
        # collects. (Spark 4.1 cannot cache batch_df itself: its plan's
        # output ordering names an attribute that its output lacks.)
        live = batch_df.withColumn(
            "ws", F.unix_millis("window_start")).cache()
        try:
            seed = _seed_partition(spark, returns_path, batch_id)
            final, seen = _finalized(live, seed)
            if not final:
                return
            wins = _touched_slides(final, res_ms, win_ms, slide_ms)
            if len(wins) > max_windows_per_trigger:
                raise ValueError(
                    f"batch {batch_id} touches {len(wins)} sliding "
                    f"windows (> {max_windows_per_trigger}); check the "
                    f"slide duration — this list becomes a literal "
                    f"IN-predicate and must stay small")
            completed = _complete(spark, live, seed, final,
                                  seen.union(universe or ()), res_ms)
            # foreachBatch is at-least-once: a batch re-executed after a
            # failure must not double-append its returns (that would
            # inflate x_count/y_count in recomputed windows). Writing
            # each batch to its own batch_id partition with overwrite
            # makes the retry idempotent — the replay replaces its own
            # output exactly.
            log_returns(completed, keep_undefined=True).write.mode(
                "overwrite").parquet(f"{returns_path}/batch_id={batch_id}")
        finally:
            live.unpersist()

        # Recompute ONLY the touched windows: the filter must sit BELOW
        # the correlation aggregation, or every batch recomputes the
        # full history and discards most of it. Two-stage prune:
        # (1) a time-range predicate that reaches the parquet scan
        # (rows outside [min_start, max_start + window) cannot be in
        # any touched slide), then (2) exact per-row membership via the
        # row's own sliding windows. Rows in a touched window feed ALL
        # their windows, so neighbor windows appear with partial input
        # — the post-agg w_start_ms filter drops those.
        lo, hi = wins[0], wins[-1]
        # The windows as rows: the batch's marker rows, and above
        # _IN_LITERAL_MAX the broadcast side of the membership filter,
        # which is a literal IN (InSet) below it — an 800 KB-of-longs
        # literal in the plan is where plan serialization starts
        # costing more than the tiny broadcast (round-12 streaming
        # audit, 10x decade). Up to the cutoff they are a JSON literal,
        # above it createDataFrame rows: writing the rows and
        # semi-joining 2M rows against them took 1.0 s against 1.3 s at
        # 10k windows, 1.5 s against 1.4 s at 50k, and 6.7 s against
        # 2.9 s at 250k (4 vCPU, warm).
        rows = [(w,) for w in wins]
        marks = (_literal_rows(spark, rows, "w_start_ms bigint")
                 if len(wins) <= _IN_LITERAL_MAX
                 else spark.createDataFrame(rows, "w_start_ms bigint"))

        def touched(df_with_ms: DataFrame) -> DataFrame:
            if len(wins) <= _IN_LITERAL_MAX:
                return df_with_ms.where(F.expr(
                    f"w_start_ms IN ({', '.join(map(str, wins))})"))
            return df_with_ms.join(F.broadcast(marks), "w_start_ms",
                                   "left_semi")

        all_rets = (spark.read.schema(_RETURNS_SCHEMA)
                    .parquet(returns_path)
                    .where(F.col("value").isNotNull()
                           & (F.col("time") >= F.timestamp_millis(F.lit(lo)))
                           & (F.col("time") < F.timestamp_millis(F.lit(hi))
                              + F.expr(f"INTERVAL {cfg.window}"))))
        in_affected = (touched(all_rets
                               .select("key", "time", "value",
                                       F.window("time", cfg.window,
                                                cfg.slide).alias("w"))
                               .withColumn("w_start_ms",
                                           F.unix_millis("w.start")))
                       .dropDuplicates(["key", "time"])
                       .select("key", "time", "value"))
        # cache_input=False: a fresh cache entry per micro-batch (the
        # returns store grows each batch → new plan) would accumulate
        corr = pairwise_correlations(in_affected, cfg, cache_input=False)
        affected = touched(corr.withColumn("w_start_ms",
                                           F.unix_millis("window_start")))
        # One directory per batch. The marker rows unioned below
        # (key1 IS NULL, one per touched window) are the batch's claim
        # on its windows, so a recompute that emits ZERO rows for a
        # window still supersedes the stale rows at read time. They
        # ride in this write: a separate claim write per trigger
        # measured ~3.5s of extra job/commit overhead at sf0.1.
        markers = marks.select(*[
            F.col("w_start_ms") if f.name == "w_start_ms"
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in affected.schema.fields])
        affected.unionByName(markers).write.mode("overwrite").parquet(
            f"{corr_path}/batch_id={batch_id}")

    return (candles.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", f"{work_dir}/checkpoint")
            .trigger(availableNow=True)
            .start())


def _resolve(spark: SparkSession, corr_path: str) -> DataFrame:
    """Every row, marker rows included, of the batch holding the latest
    claim on its window; ``batch_id`` dropped."""
    store = spark.read.schema(_CORR_SCHEMA).parquet(corr_path)
    claim = F.when(F.col("key1").isNull(),
                   F.struct((F.col("batch_id") % FOLD_OFFSET).alias("seq"),
                            "batch_id"))
    # The files' byte total, from the listing the read already made:
    # the statistic Spark's own broadcast threshold reads; no job runs.
    size = store._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size <= _WINDOW_RESOLVE_MAX_BYTES:
        return (store
                .withColumn("_latest", F.max(claim).over(
                    Window.partitionBy("w_start_ms"))["batch_id"])
                .where(F.col("batch_id") == F.col("_latest"))
                .drop("batch_id", "_latest"))
    claims = (store.where(F.col("key1").isNull()).groupBy("w_start_ms")
              .agg(F.max(claim)["batch_id"].alias("batch_id")))
    return (store.join(F.broadcast(claims), ["w_start_ms", "batch_id"])
            .select([c for c in store.columns if c != "batch_id"]))


def read_streaming_correlations(spark: SparkSession,
                                work_dir: str) -> DataFrame:
    """Resolve the log-structured correlation store to its current
    snapshot: for each sliding window, the rows of the batch that last
    RECOMPUTED it (a window's full result always comes from one batch).

    "Recomputed" is decided by the marker rows (``key1 IS NULL``, one
    per window a batch claims), not by which batches have data rows for
    the window: a recompute that emitted zero pair rows (every pair
    dropped below ``min_corr`` after late data) is an
    empty-but-authoritative result that must hide the older rows.

    Claims are ordered by ``(batch_id % FOLD_OFFSET, batch_id)``. A
    stream batch ``b`` ranks ``(b, b)``; a fold written by
    :func:`compact_correlation_store` at ``k * FOLD_OFFSET + m``, where
    ``m`` is the newest stream batch it folded, outranks exactly the
    batches it folded (and earlier folds of them) and no later batch.

    Shape: the store is read once with a pinned schema, and its size
    (the files' byte total, known from the listing) picks one of two
    resolves. Up to ``_WINDOW_RESOLVE_MAX_BYTES`` (1 MiB), one window
    partitioned by ``w_start_ms`` keeps the rows whose ``batch_id`` is
    the window's latest claim: one scan, but the window shuffles and
    sorts every row (only the columns the caller keeps), one task per
    window. Above it, a broadcast join of per-window latest claims
    against the data rows: the store is scanned twice, but only the
    marker rows are shuffled, and the data side streams through the
    join at full scan parallelism. On 4 vCPU (warm full-column reads,
    window against join) the window wins below ~1 MB: 0.34 s against
    0.60 s at 0.2 MB, 0.62 s against 0.78 s at 0.9 MB; the join wins
    above: 1.03 s against 0.49 s at 5.7 MB, 4.6 s against 1.2 s at
    35 MB (1000 instruments). fxbench ``fx_stream`` (a ~35 KB store)
    read 0.67 s against 0.87 s. SCALE.md (Streaming state) has the
    rest.

    Compaction folds with the same resolve. On Delta/Iceberg this
    resolve becomes a MERGE-maintained table.
    """
    return (_resolve(spark, f"{work_dir}/correlations")
            .where(F.col("key1").isNotNull()))


def compact_correlation_store(spark: SparkSession, work_dir: str) -> dict:
    """Fold the log-structured correlation store into one batch: the
    resolved snapshot plus the latest claim's marker row for every
    window, so a window whose latest recompute was empty stays empty.
    Bounds the read-time resolve after long runs, the way minor
    compaction bounds an LSM tree. Returns {batches_before,
    batches_after, rows} for observability.

    The fold's id is ``top + FOLD_OFFSET``, where ``top`` is the
    highest-ranked batch (see :func:`read_streaming_correlations`).
    The stream's next batch id is its own counter + 1, far below
    ``FOLD_OFFSET``, so the stream's overwrite-mode write never
    replaces a fold, and that next batch outranks the fold. The fold is
    staged in a dot-dir (invisible to readers) and renamed into place
    before any removal (``logstore.swap_in_fold``). A crash after the
    rename leaves the fold beside the batches it folded; the fold
    outranks them, so the snapshot has no duplicate rows, and the next
    compaction removes them. Readers racing the removals on plain
    parquet may fail to list a directory; run compaction between
    stream runs and reads.

    Local filesystem only: the rename and removals go through
    ``os``/``shutil``, so remote URI schemes are refused; on a real
    cluster this pass belongs to the table format (OPTIMIZE).
    """
    import os

    from pyspark.sql import Observation

    corr_path = local_store_path(work_dir, "correlations",
                                 "compact_correlation_store")
    batches = sorted(d for d in os.listdir(corr_path)
                     if d.startswith("batch_id="))
    if len(batches) <= 1:                    # nothing to fold
        return {"batches_before": len(batches), "batches_after": len(batches),
                "rows": None}
    top = max((int(b.split("=", 1)[1]) for b in batches),
              key=lambda i: (i % FOLD_OFFSET, i))
    rows = Observation("fold")
    folded = _resolve(spark, corr_path).observe(
        rows, F.count("key1").alias("rows"))
    swap_in_fold(folded, corr_path, top + FOLD_OFFSET, batches)
    return {"batches_before": len(batches), "batches_after": 1,
            "rows": rows.get["rows"]}
