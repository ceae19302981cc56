"""End-to-end streaming FX pipeline: ticks → complete candles (keyed
state) → log returns → incremental sliding-window pairwise correlation.

Correlation is a second aggregation over the candle stream; instead of
fighting Spark's one-stateful-operator-per-query rule, the correlation
stage runs in ``foreachBatch`` as an INCREMENTAL batch computation — the
standard production pattern for "aggregate of an aggregate" streams:

1. each micro-batch of finalized candles writes its log returns to a
   batch_id-keyed partition of the returns store (overwrite, so an
   at-least-once re-execution replaces its own output — idempotent);
2. only the sliding windows TOUCHED by this batch are recomputed (a
   window's correlation is correct once all its candles arrived; late
   candles simply re-trigger their windows) — the window filter sits
   BELOW the correlation aggregation, so the recompute's input is the
   touched windows' returns, never the whole store;
3. results land log-structured: each batch writes its recomputed
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

At 100 TB the same shape holds: the recompute scans only the affected
time range (min/max predicate reaches the parquet scan) and the pair
join inside one window is the engine's normal correlation plan. On an
ACID table format (Delta/Iceberg) the log+resolve becomes MERGE; plain
parquet here keeps the container dependency-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_timeseries_java_spark.operators import (
    CorrelationConfig,
    pairwise_correlations,
)
from data_timeseries_java_spark.streaming.candles_stream import (
    streaming_complete_candles,
    streaming_complete_candles_global,
)
from data_timeseries_java_spark.streaming.logstore import (
    FOLD_OFFSET,
    local_store_path,
    swap_in_fold,
)

# Above this many touched windows, per-trigger membership filters use a
# broadcast left-semi join instead of a literal IN — the list itself
# stays a tiny driver-side long array either way.
_IN_LITERAL_MAX = 10_000

# Correlation stores up to this many file bytes resolve with a window,
# larger ones with a broadcast claim join (read_streaming_correlations).
_WINDOW_RESOLVE_MAX_BYTES = 1 << 20

# Both stores' schemas, pinned so that no read infers one (a Spark job
# over the store's footers). Marker rows in the correlation store are
# null in every column but ``w_start_ms``; fold ids exceed 2**31, so
# ``batch_id`` is a bigint.
_RETURNS_SCHEMA = "key string, time timestamp, value double, batch_id bigint"
_CORR_SCHEMA = ("window_start timestamp, window_end timestamp, key1 string, "
                "key2 string, value double, x_count int, y_count int, "
                "is_nan boolean, w_start_ms bigint, batch_id bigint")


def _flat_candles_to_returns(candles: DataFrame) -> DataFrame:
    """Flat streaming candle schema → (key, time, value) log returns."""
    return (candles
            .where((F.col("open_ask") > 0) & (F.col("close_ask") > 0))
            .select(
                "key",
                (F.col("window_end") - F.expr("INTERVAL 1 MILLISECOND")).alias("time"),
                F.log(F.col("close_ask") / F.col("open_ask")).alias("value"),
            ))


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
    config constant). When given, the candle stage runs in GLOBAL
    gap-fill mode — a key gets gap candles only for windows some
    instrument actually ticked in — which is the batch engine's
    semantics on ANY feed. Without it the per-key mode fabricates gap
    candles for a key's own skipped windows, which matches batch only
    on feeds where every window is globally active (dense demo data);
    on sparse feeds it inflates the candle/return stream with windows
    batch never emits. Pass the universe for batch parity on sparse
    data.

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

    ``config.include_underlying`` is refused: the store's reads pin one
    schema (``_CORR_SCHEMA``), which has no ``x_values``/``y_values``
    columns, so the reads and the compaction fold would drop them.
    """
    cfg = config or CorrelationConfig()
    if cfg.include_underlying:
        raise ValueError(
            "streaming_correlations does not support include_underlying: "
            "the correlation store has no x_values/y_values columns")
    returns_path = f"{work_dir}/returns"
    corr_path = f"{work_dir}/correlations"
    if universe is not None:
        candles = streaming_complete_candles_global(ticks, universe,
                                                    resolution, watermark)
    else:
        candles = streaming_complete_candles(ticks, resolution, watermark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        rets = _flat_candles_to_returns(batch_df).cache()
        try:
            # The slides this batch touches — a tiny driver-side list
            # (bounded by windows-per-trigger, not by history;
            # collecting it lets every downstream filter be a literal
            # predicate instead of a join against a recomputed subtree).
            # Empty list == empty batch: this doubles as the emptiness
            # probe, so no separate isEmpty() job runs.
            wins = sorted(r[0] for r in
                          (rets.select(F.window("time", cfg.window,
                                                cfg.slide).alias("w"))
                           .select(F.unix_millis("w.start")
                                   .alias("w_start_ms"))
                           .distinct().collect()))
            if not wins:
                return
            if len(wins) > max_windows_per_trigger:
                raise ValueError(
                    f"batch {batch_id} touches {len(wins)} sliding "
                    f"windows (> {max_windows_per_trigger}); check the "
                    f"slide duration — this list becomes a literal "
                    f"IN-predicate and must stay small")
            # foreachBatch is at-least-once: a batch re-executed after a
            # failure must not double-append its returns (that would
            # inflate x_count/y_count in recomputed windows). Writing
            # each batch to its own batch_id partition with overwrite
            # makes the retry idempotent — the replay replaces its own
            # output exactly.
            rets.write.mode("overwrite").parquet(
                f"{returns_path}/batch_id={batch_id}")
        finally:
            rets.unpersist()

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
        # Membership mechanism scales with the list: a literal IN
        # (InSet) below _IN_LITERAL_MAX, a broadcast LEFT SEMI join
        # above it — an 800 KB-of-longs literal in the plan is where
        # plan serialization starts costing more than the tiny
        # broadcast (round-12 streaming audit, 10x decade).
        wins_df = None
        if len(wins) > _IN_LITERAL_MAX:
            wins_df = spark.createDataFrame(
                [(int(w),) for w in wins], "w_member_ms bigint")

        def touched(df_with_ms: DataFrame) -> DataFrame:
            if wins_df is None:
                return df_with_ms.where(F.col("w_start_ms").isin(wins))
            return df_with_ms.join(
                F.broadcast(wins_df),
                F.col("w_start_ms") == F.col("w_member_ms"), "left_semi")

        all_rets = (spark.read.schema(_RETURNS_SCHEMA)
                    .parquet(returns_path)
                    .drop("batch_id")
                    .where((F.col("time") >= F.timestamp_millis(F.lit(lo)))
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
        markers = (spark.createDataFrame([(int(w),) for w in wins],
                                         "w_start_ms bigint")
                   .select(*[F.col("w_start_ms") if f.name == "w_start_ms"
                             else F.lit(None).cast(f.dataType).alias(f.name)
                             for f in affected.schema.fields]))
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
