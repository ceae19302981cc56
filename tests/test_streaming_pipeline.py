"""Full streaming pipeline vs batch pipeline on bounded input."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_timeseries_java_spark.operators import (
    CorrelationConfig,
    log_returns,
    pairwise_correlations,
)
from data_timeseries_java_spark.operators.candles import candles_pipeline
from data_timeseries_java_spark.schemas import TICK_SCHEMA
from data_timeseries_java_spark.streaming.pipeline import (
    read_streaming_correlations,
    streaming_correlations,
)

CFG = CorrelationConfig(window="600 seconds", slide="300 seconds",
                        min_corr=0.0, propagate_nan=True)


def test_streaming_correlations_match_batch(spark):
    import random
    from datetime import datetime, timezone

    from data_timeseries_java_spark.fixtures import demo_tick_rows

    d = tempfile.mkdtemp(prefix="spipe_")
    try:
        rng = random.Random(11)
        rows = demo_tick_rows()
        buckets = [[], [], []]
        for r in rows:
            buckets[min(r[1].minute // 4, 2)].append(r)
        for i, b in enumerate(buckets):
            rng.shuffle(b)
            spark.createDataFrame(b, TICK_SCHEMA).coalesce(1).write.mode(
                "overwrite").parquet(f"{d}/in/f{i}")
        sentinel = [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
                     1.0, 1.0, True)]
        spark.createDataFrame(sentinel, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/in/f3")

        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG)
        q.awaitTermination(180)

        got = (read_streaming_correlations(spark, f"{d}/out")
               .where(~F.col("key1").startswith("ZZ-") & ~F.col("key2").startswith("ZZ-")))

        ticks = spark.createDataFrame(rows, TICK_SCHEMA)
        candles = candles_pipeline(ticks, ticks.select("key").distinct(), "120 seconds")
        want = pairwise_correlations(log_returns(candles), CFG)

        key = lambda r: (r.w_start_ms if hasattr(r, "w_start_ms")
                         else int(r.window_start.timestamp() * 1000),
                         r.key1, r.key2)
        got_map = {key(r): round(r.value, 9) for r in got.collect()}
        want_map = {key(r): round(r.value, 9) for r in want.collect()}
        assert set(got_map) == set(want_map)
        assert got_map == want_map
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _batch_map(spark, rows, closed_ms=None):
    """Batch ``candles_pipeline → log_returns → pairwise_correlations``
    over ``rows`` as {(w_start_ms, key1, key2): value}, optionally only
    the windows that end by ``closed_ms``."""
    ticks = spark.createDataFrame(rows, TICK_SCHEMA)
    candles = candles_pipeline(ticks, ticks.select("key").distinct(),
                               "120 seconds")
    want = pairwise_correlations(log_returns(candles), CFG)
    out = {(int(r.window_start.timestamp() * 1000), r.key1, r.key2):
           round(r.value, 9) for r in want.collect()}
    if closed_ms is not None:
        out = {k: v for k, v in out.items() if k[0] + 600_000 <= closed_ms}
    return out


def _closed_ms(queries):
    """The highest watermark the queries' micro-batches reported, in ms."""
    from datetime import datetime

    return max(int(datetime.fromisoformat(w.replace("Z", "+00:00"))
                   .timestamp() * 1000)
               for q in queries for w in
               (p["eventTime"].get("watermark") for p in q.recentProgress)
               if w)


@pytest.mark.parametrize("with_universe", [True, False],
                         ids=["universe", "no_universe"])
def test_streaming_correlations_sparse_feed_matches_batch(spark,
                                                          with_universe):
    """Batch parity on a SPARSE feed (globally-dead windows between two
    active clusters): gap-fill is global, so windows no instrument
    ticked in get no candles, with or without the universe passed (the
    keys seen so far stand in for it; every key ticks from the first
    window here). Gap-filling each key's own skipped windows instead
    fabricates candles, and so correlation windows, across the dead
    zone: driven over the (sparse) events table, that produced 49x the
    batch row count."""
    import random
    from datetime import datetime, timedelta, timezone

    d = tempfile.mkdtemp(prefix="spipe_sparse_")
    try:
        t0 = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
        rows = []
        rng = random.Random(3)
        # two active clusters (minutes 0-5 and 40-45), dead in between
        for base_min in (0, 40):
            for m in range(6):
                for s in (5, 35):
                    for k in ("EUR/USD", "USD/JPY", "GBP/USD"):
                        t = t0 + timedelta(minutes=base_min + m, seconds=s)
                        px = 1.0 + rng.random() * 0.1
                        rows.append((k, t, px, px + 0.001, True))
        # one file per cluster → the dead zone spans a batch boundary
        half = len(rows) // 2
        for i, chunk in enumerate((rows[:half], rows[half:])):
            spark.createDataFrame(chunk, TICK_SCHEMA).coalesce(1).write.mode(
                "overwrite").parquet(f"{d}/in/f{i}")
        sentinel = [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
                     1.0, 1.0, True)]
        spark.createDataFrame(sentinel, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/in/f2")

        universe = (sorted({r[0] for r in rows}) + ["ZZ-SENTINEL"]
                    if with_universe else None)
        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG,
                                   universe=universe)
        q.awaitTermination(180)

        got = (read_streaming_correlations(spark, f"{d}/out")
               .where(~F.col("key1").startswith("ZZ-")
                      & ~F.col("key2").startswith("ZZ-")))

        got_map = {(r.w_start_ms, r.key1, r.key2): round(r.value, 9)
                   for r in got.collect()}
        want_map = _batch_map(spark, rows)
        assert set(got_map) == set(want_map)
        assert got_map == want_map
        assert len(got_map) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_restarts_mid_candle_match_batch_with_default_watermark(spark):
    """The stream's restart pattern: one availableNow run per file, each
    resuming from the checkpoint, with the files cut mid-candle. With
    the default watermark (0 seconds) and the universe passed, every
    window the final watermark has closed matches batch. A candle stage
    that advanced the watermark to a window's end when it saw the
    window open dropped the ticks the next file brought for the candle
    straddling the cut."""
    import random
    from datetime import datetime, timedelta, timezone

    keys = ["AUD/USD", "EUR/USD", "GBP/USD", "USD/JPY"]
    t0 = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
    rng = random.Random(5)
    px = dict.fromkeys(keys, 1.0)
    rows = []
    for i in range(40 * 60 // 7):                  # a tick every 7 s
        for k in keys:
            px[k] *= 1.0 + rng.gauss(0.0, 0.001)
            rows.append((k, t0 + timedelta(seconds=7 * i), px[k],
                         px[k] + 0.001, True))
    cuts = [t0 + timedelta(minutes=m, seconds=50) for m in (9, 19, 29)]
    bounds = [t0] + cuts + [t0 + timedelta(hours=1)]

    d = tempfile.mkdtemp(prefix="spipe_restart_")
    try:
        runs = []
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            chunk = [r for r in rows if lo <= r[1] < hi]
            spark.createDataFrame(chunk, TICK_SCHEMA).coalesce(1).write \
                .parquet(f"{d}/in/f{i}")
            src = spark.readStream.schema(TICK_SCHEMA).parquet(f"{d}/in/f*")
            q = streaming_correlations(spark, src, f"{d}/out",
                                       resolution="120 seconds", config=CFG,
                                       universe=keys)
            q.awaitTermination(180)
            assert q.exception() is None
            runs.append(q)
        closed_ms = _closed_ms(runs)

        got = {(r.w_start_ms, r.key1, r.key2): round(r.value, 9)
               for r in read_streaming_correlations(spark, f"{d}/out")
               .where(F.col("w_start_ms") + 600_000 <= closed_ms)
               .collect()}
        want = _batch_map(spark, rows, closed_ms)
        assert len(want) == 42
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_trigger_path_starts_no_python_worker(spark, monkeypatch):
    """Every trigger runs in the JVM: the candle stage is a window
    aggregate (no ``applyInPandasWithState`` or ``mapInPandas`` node in
    the micro-batch plan), and ``foreachBatch`` turns its driver-side
    lists into literals, not ``createDataFrame`` rows."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import SparkSession

    t0 = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
    rows = [(k, t0 + timedelta(seconds=30 * i), 1.0 + 0.01 * (i % 7) + j,
             1.001 + 0.01 * (i % 5) + j, True)
            for i in range(60) for j, k in enumerate(("A", "B", "C"))
            if not (k == "C" and 10 <= i < 20)]
    d = tempfile.mkdtemp(prefix="spipe_jvm_")
    try:
        for i in range(2):
            spark.createDataFrame(rows[i * 90:(i + 1) * 90], TICK_SCHEMA) \
                .coalesce(1).write.parquet(f"{d}/in/f{i}")

        def refuse(*a, **k):
            raise AssertionError("createDataFrame on the trigger path")

        monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG,
                                   universe=["A", "B", "C"])
        q.awaitTermination(180)
        assert q.exception() is None
        plan = (q._jsq.streamingQuery().lastExecution().executedPlan()
                .toString())
        assert "StateStoreSave" in plan
        assert "InPandas" not in plan and "PandasWithState" not in plan
        assert read_streaming_correlations(spark, f"{d}/out").count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_non_live_ticks_across_batch_boundary_match_batch(spark):
    """A key whose candles so far are all non-live (ticks with a price
    but ``is_live=false``) keeps no live close to carry: batch opens its
    next candle at its last close but back-fills its gap candles with
    0.0, whose returns are undefined. Its last candle lands in the seed
    partition of a later micro-batch; seeding it as a live close would
    carry that price into the gaps and emit 0.0 returns batch lacks."""
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
    rows = []
    for i in range(28):                          # a tick every 30 s, 14 min
        t = t0 + timedelta(seconds=30 * i)
        for j, k in enumerate(("A", "B")):
            px = 1.0 + 0.01 * ((i * (j + 2)) % 7)
            rows.append((k, t, px, px + 0.001, True))
        if i < 8:                                # minutes 0-3 only
            px = 2.0 + 0.01 * (i % 3)
            rows.append(("C", t, px, px + 0.001, False))
    d = tempfile.mkdtemp(prefix="spipe_nonlive_")
    try:
        cut = t0 + timedelta(minutes=6)
        for i, chunk in enumerate(([r for r in rows if r[1] < cut],
                                   [r for r in rows if r[1] >= cut])):
            spark.createDataFrame(chunk, TICK_SCHEMA).coalesce(1).write \
                .parquet(f"{d}/in/f{i}")
        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG,
                                   universe=["A", "B", "C"])
        q.awaitTermination(180)
        assert q.exception() is None
        closed_ms = _closed_ms([q])

        got = {(r.key, r.t, round(r.value, 12)) for r in
               spark.read.parquet(f"{d}/out/returns")
               .where(F.col("value").isNotNull())
               .select("key", F.unix_millis("time").alias("t"), "value")
               .collect()}
        ticks = spark.createDataFrame(rows, TICK_SCHEMA)
        want = {(r.key, r.t, round(r.value, 12)) for r in
                log_returns(candles_pipeline(
                    ticks, ticks.select("key").distinct(), "120 seconds"))
                .select("key", F.unix_millis("time").alias("t"), "value")
                .where(F.col("t") < closed_ms).collect()}
        assert {r for r in want if r[0] == "C"}
        assert got == want

        got_corr = {(r.w_start_ms, r.key1, r.key2): round(r.value, 9)
                    for r in read_streaming_correlations(spark, f"{d}/out")
                    .where(F.col("w_start_ms") + 600_000 <= closed_ms)
                    .collect()}
        assert got_corr == _batch_map(spark, rows, closed_ms)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_seed_partition_walks_down_to_newest_earlier_batch(spark):
    """The seed is the newest ``batch_id=`` partition below the current
    batch, however many partitions the store holds, skipping ids that
    wrote nothing and ignoring ids at or above the current one (a
    re-executed batch)."""
    from data_timeseries_java_spark.streaming.pipeline import (
        _RETURNS_ROW_SCHEMA,
        _seed_partition,
    )

    d = tempfile.mkdtemp(prefix="spipe_seed_")
    try:
        returns = f"{d}/returns"
        assert _seed_partition(spark, returns, 5) is None
        spark.createDataFrame(
            [("A", None, None, 1.0, True)], _RETURNS_ROW_SCHEMA) \
            .coalesce(1).write.parquet(f"{d}/part")
        written = [b for b in range(0, 300, 2) if b not in (292, 294)]
        for b in written:
            shutil.copytree(f"{d}/part", f"{returns}/batch_id={b}")

        def seed_id(batch_id):
            seed = _seed_partition(spark, returns, batch_id)
            if seed is None:
                return None
            (path,) = seed.inputFiles()
            return int(path.split("batch_id=")[1].split("/")[0])

        assert seed_id(0) is None
        assert seed_id(1) == 0
        assert seed_id(290) == 288
        assert seed_id(291) == 290
        assert seed_id(296) == 290         # 292 and 294 wrote nothing
        assert seed_id(297) == 296
        assert seed_id(400) == 298
        shutil.rmtree(f"{returns}/batch_id=0")
        assert seed_id(1) is None           # only later partitions left
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_broadcast_membership_matches_batch(spark, monkeypatch):
    """Above ``_IN_LITERAL_MAX`` touched windows the membership filter is
    a broadcast semi-join and the marker rows ``createDataFrame`` rows;
    the snapshot still matches batch."""
    from datetime import datetime, timedelta, timezone

    from data_timeseries_java_spark.streaming import pipeline

    monkeypatch.setattr(pipeline, "_IN_LITERAL_MAX", 1)
    t0 = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
    rows = [(k, t0 + timedelta(seconds=30 * i),
             1.0 + 0.01 * ((i * (j + 2)) % 7) + j,
             1.001 + 0.01 * ((i * (j + 3)) % 5) + j, True)
            for i in range(60) for j, k in enumerate(("A", "B", "C"))]
    d = tempfile.mkdtemp(prefix="spipe_bcast_")
    try:
        for i in range(2):
            spark.createDataFrame(rows[i * 90:(i + 1) * 90], TICK_SCHEMA) \
                .coalesce(1).write.parquet(f"{d}/in/f{i}")
        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG,
                                   universe=["A", "B", "C"])
        q.awaitTermination(180)
        assert q.exception() is None
        closed_ms = _closed_ms([q])
        got = {(r.w_start_ms, r.key1, r.key2): round(r.value, 9)
               for r in read_streaming_correlations(spark, f"{d}/out")
               .where(F.col("w_start_ms") + 600_000 <= closed_ms)
               .collect()}
        want = _batch_map(spark, rows, closed_ms)
        assert len(want) > 0
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


_CORR_SCHEMA = ("window_start timestamp, window_end timestamp, "
                "key1 string, key2 string, value double, "
                "x_count int, y_count int, is_nan boolean, "
                "w_start_ms long")


def _write_batch(spark, d, bid, rows, wins):
    """One batch as ``process_batch`` writes it: pair rows plus a marker
    row (key1 IS NULL) per window the batch recomputed, in overwrite
    mode."""
    marks = [(None, None, None, None, None, None, None, None, w)
             for w in wins]
    spark.createDataFrame(rows + marks, _CORR_SCHEMA).write.mode(
        "overwrite").parquet(f"{d}/correlations/batch_id={bid}")


def _pair(w, value):
    from datetime import datetime, timezone

    t = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
    return (t, t, "A", "B", value, 5, 5, False, w)


def test_empty_recompute_supersedes_stale_rows(spark):
    """A batch that RECOMPUTES a window but emits zero pair rows (late
    data pushed every pair under min_corr) must supersede the previous
    batch's rows — the in-band marker rows (key1 IS NULL), not data-row
    presence, decide the latest batch per window. Without markers the
    resolve served the stale rows forever and compaction made them
    permanent."""
    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    d = tempfile.mkdtemp(prefix="spipe_tomb_")
    try:
        # batch 0: windows 1000 and 2000 each have one pair row
        _write_batch(spark, d, 0, [_pair(1000, 0.9), _pair(2000, 0.9)],
                     [1000, 2000])
        # batch 1: recomputes window 1000, result is EMPTY (tombstone)
        _write_batch(spark, d, 1, [], [1000])

        got = read_streaming_correlations(spark, d)
        assert {r.w_start_ms for r in got.collect()} == {2000}

        stats = compact_correlation_store(spark, d)
        assert stats["batches_after"] == 1 and stats["rows"] == 1
        after = read_streaming_correlations(spark, d)
        assert {r.w_start_ms for r in after.collect()} == {2000}
        # the tombstoned window's touch claim survives compaction
        marks = (spark.read.option("basePath", f"{d}/correlations")
                 .parquet(f"{d}/correlations").where("key1 IS NULL"))
        assert {r.w_start_ms for r in marks.collect()} == {1000, 2000}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _three_batches(spark, d):
    """Batches 0-2, each recomputing some windows of the one before."""
    _write_batch(spark, d, 0, [_pair(1000, 0.1), _pair(2000, 0.2)],
                 [1000, 2000])
    _write_batch(spark, d, 1, [_pair(2000, 0.3), _pair(3000, 0.4)],
                 [2000, 3000])
    _write_batch(spark, d, 2, [_pair(3000, 0.5)], [3000])


@pytest.fixture(params=["window", "join"])
def resolve_shape(request, monkeypatch):
    """Run the test under both resolve shapes: the window (stores up to
    ``_WINDOW_RESOLVE_MAX_BYTES``) and the broadcast join (above it)."""
    from data_timeseries_java_spark.streaming import pipeline

    if request.param == "join":
        monkeypatch.setattr(pipeline, "_WINDOW_RESOLVE_MAX_BYTES", -1)
    return request.param


def _snapshot(spark, d):
    return sorted((r.w_start_ms, r.value)
                  for r in read_streaming_correlations(spark, d).collect())


def _batch_dirs(d):
    import os

    return sorted(x for x in os.listdir(f"{d}/correlations")
                  if x.startswith("batch_id="))


# Batch 3, the stream's next micro-batch after batches 0-2: it recomputes
# window 3000 and opens window 4000.
_AFTER_BATCH_3 = [(1000, 0.1), (2000, 0.3), (3000, 0.6), (4000, 0.7)]


def _write_batch_3(spark, d):
    _write_batch(spark, d, 3, [_pair(3000, 0.6), _pair(4000, 0.7)],
                 [3000, 4000])


def test_compact_then_next_stream_batch_keeps_folded_windows(
        spark, resolve_shape):
    """The stream numbers its next micro-batch from its own checkpoint
    (here 3) and writes it in overwrite mode. A fold written at
    max(batch_id) + 1 had that same id, so the next micro-batch deleted
    it and every folded window with it. The fold must survive, and the
    new batch must outrank it."""
    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    d = tempfile.mkdtemp(prefix="spipe_foldid_")
    try:
        _three_batches(spark, d)
        assert compact_correlation_store(spark, d)["batches_after"] == 1
        _write_batch_3(spark, d)
        assert _snapshot(spark, d) == _AFTER_BATCH_3
        # the next compaction folds batch 3 over the earlier fold
        stats = compact_correlation_store(spark, d)
        assert stats["batches_before"] == 2 and stats["rows"] == 4
        assert len(_batch_dirs(d)) == 1
        assert _snapshot(spark, d) == _AFTER_BATCH_3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compaction_crash_after_fold_rename_leaves_no_duplicates(
        spark, monkeypatch, resolve_shape):
    """Fault injection: compaction renames its fold into place and then
    dies before removing any folded batch. The snapshot must show each
    window once, from the fold. The recovery (the next compaction) and
    the stream's next micro-batch must then still resolve to the newest
    recompute of every window."""
    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    d = tempfile.mkdtemp(prefix="spipe_crash_")
    try:
        _three_batches(spark, d)
        before = _snapshot(spark, d)
        assert before == [(1000, 0.1), (2000, 0.3), (3000, 0.5)]
        with monkeypatch.context() as m:
            m.setattr(shutil, "rmtree", lambda *a, **k: None)
            compact_correlation_store(spark, d)
        assert len(_batch_dirs(d)) == 4       # the fold beside batches 0-2
        assert _snapshot(spark, d) == before

        stats = compact_correlation_store(spark, d)
        assert stats["batches_before"] == 4 and stats["batches_after"] == 1
        assert _snapshot(spark, d) == before
        _write_batch_3(spark, d)
        assert _snapshot(spark, d) == _AFTER_BATCH_3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_read_resolve_shape_runs_no_probe_jobs(spark, resolve_shape):
    """Building the snapshot DataFrame runs no Spark job (no schema
    inference, no emptiness probe, no size probe). Counting it scans
    the store once on a small store, where the latest claim per window
    comes from one window over that scan, and twice when the store is
    over the window's size limit, where a marker scan is joined back."""
    import re

    d = tempfile.mkdtemp(prefix="spipe_shape_")
    try:
        _three_batches(spark, d)
        _write_batch(spark, d, 3, [], [1000])      # empty recompute
        sc = spark.sparkContext
        group = "resolve-shape-probe"
        sc.setJobGroup(group, "assert no jobs while building the resolve")
        try:
            snap = read_streaming_correlations(spark, d)
        finally:
            sc.setJobGroup("", "")
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

        counted = snap.groupBy().count()
        assert counted.collect()[0][0] == 2
        plan = counted._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        scans = re.findall(r"FileScan parquet .*", final)
        assert len(scans) == {"window": 1, "join": 2}[resolve_shape], final
        assert all(f"{d}/correlations]" in scan for scan in scans)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_rejects_include_underlying(spark):
    """The store's pinned schema has no x_values/y_values, so a stream
    that would write them is refused up front instead of losing them at
    read or compaction time."""
    d = tempfile.mkdtemp(prefix="spipe_")
    try:
        src = spark.readStream.schema(TICK_SCHEMA).parquet(d)
        cfg = CorrelationConfig(window="600 seconds", slide="300 seconds",
                                include_underlying=True)
        with pytest.raises(ValueError, match="include_underlying"):
            streaming_correlations(spark, src, f"{d}/out", config=cfg)
        assert spark.streams.active == []
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_rejects_remote_uri(spark):
    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    with pytest.raises(ValueError, match="local paths"):
        compact_correlation_store(spark, "s3a://bucket/corr-store")
    with pytest.raises(ValueError, match="local paths"):
        compact_correlation_store(spark, "hdfs://nn/corr-store")


@pytest.mark.slow  # 260 s: 50 micro-batches across 5 stream restarts
def test_long_run_store_stays_bounded_under_compaction(spark):
    """>=50 micro-batches across 5 stream restarts with compaction
    between runs: the batch-directory count stays bounded by
    (1 compacted + files-per-run) instead of growing with history, and
    the final resolved snapshot still matches the batch engine."""
    import os
    import random
    from datetime import datetime, timedelta, timezone

    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    d = tempfile.mkdtemp(prefix="spipe_long_")
    try:
        t0 = datetime(2016, 1, 4, 9, 0, tzinfo=timezone.utc)
        rng = random.Random(7)
        all_rows = []
        n_files, per_run = 50, 10
        max_dirs_seen = 0
        for run in range(n_files // per_run):
            # files arrive incrementally: each run discovers only its
            # own per_run new files (the checkpoint skips earlier ones)
            for i in range(run * per_run, (run + 1) * per_run):
                chunk = []
                for s in (5, 65):   # two ticks per 120s window per key
                    for k in ("EUR/USD", "USD/JPY"):
                        tt = t0 + timedelta(seconds=i * 120 + s)
                        px = 1.0 + rng.random() * 0.1
                        chunk.append((k, tt, px, px + 0.001, True))
                all_rows.extend(chunk)
                spark.createDataFrame(chunk, TICK_SCHEMA).coalesce(1) \
                    .write.mode("overwrite").parquet(f"{d}/in/f{i:02d}")
            if run == n_files // per_run - 1:
                sentinel = [("ZZ-SENTINEL",
                             datetime(2016, 6, 1, tzinfo=timezone.utc),
                             1.0, 1.0, True)]
                spark.createDataFrame(sentinel, TICK_SCHEMA).coalesce(1) \
                    .write.mode("overwrite").parquet(f"{d}/in/zz")
            src = (spark.readStream.schema(TICK_SCHEMA)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(f"{d}/in/*"))
            q = streaming_correlations(spark, src, f"{d}/out",
                                       resolution="120 seconds", config=CFG)
            q.awaitTermination(180)
            n_dirs = len([x for x in os.listdir(f"{d}/out/correlations")
                          if x.startswith("batch_id=")])
            max_dirs_seen = max(max_dirs_seen, n_dirs)
            # bound: 1 compacted carry-over + one batch per file in this
            # run (+ sentinel file on the last run)
            assert n_dirs <= per_run + 2, n_dirs
            compact_correlation_store(spark, f"{d}/out")
            assert len([x for x in os.listdir(f"{d}/out/correlations")
                        if x.startswith("batch_id=")]) == 1
        assert max_dirs_seen > 1  # the runs really were incremental

        got = (read_streaming_correlations(spark, f"{d}/out")
               .where(~F.col("key1").startswith("ZZ-")
                      & ~F.col("key2").startswith("ZZ-")))
        ticks = spark.createDataFrame(all_rows, TICK_SCHEMA)
        candles = candles_pipeline(ticks, ticks.select("key").distinct(),
                                   "120 seconds")
        want = pairwise_correlations(log_returns(candles), CFG)
        got_map = {(r.w_start_ms, r.key1, r.key2): round(r.value, 9)
                   for r in got.collect()}
        want_map = {(int(r.window_start.timestamp() * 1000), r.key1, r.key2):
                    round(r.value, 9) for r in want.collect()}
        assert got_map == want_map and len(got_map) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_correlation_store(spark):
    """Folding the log store to one batch preserves the snapshot
    exactly and drops superseded directories."""
    import os
    import random
    from datetime import datetime, timezone

    from data_timeseries_java_spark.fixtures import demo_tick_rows
    from data_timeseries_java_spark.streaming.pipeline import (
        compact_correlation_store,
    )

    d = tempfile.mkdtemp(prefix="spipe_compact_")
    try:
        rng = random.Random(23)
        rows = demo_tick_rows()
        buckets = [[], [], []]
        for r in rows:
            buckets[min(r[1].minute // 4, 2)].append(r)
        for i, b in enumerate(buckets):
            rng.shuffle(b)
            spark.createDataFrame(b, TICK_SCHEMA).coalesce(1).write.mode(
                "overwrite").parquet(f"{d}/in/f{i}")
        sentinel = [("ZZ-SENTINEL", datetime(2016, 6, 1, tzinfo=timezone.utc),
                     1.0, 1.0, True)]
        spark.createDataFrame(sentinel, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/in/f3")
        src = (spark.readStream.schema(TICK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/f*"))
        q = streaming_correlations(spark, src, f"{d}/out",
                                   resolution="120 seconds", config=CFG)
        q.awaitTermination(180)

        before = {tuple(r) for r in
                  read_streaming_correlations(spark, f"{d}/out").collect()}
        stats = compact_correlation_store(spark, f"{d}/out")
        assert stats["batches_before"] > 1 and stats["batches_after"] == 1
        dirs = [x for x in os.listdir(f"{d}/out/correlations")
                if x.startswith("batch_id=")]
        assert len(dirs) == 1
        after = {tuple(r) for r in
                 read_streaming_correlations(spark, f"{d}/out").collect()}
        assert after == before and len(after) == stats["rows"]
        # idempotent: a second compaction is a no-op
        assert compact_correlation_store(spark, f"{d}/out")[
            "batches_after"] == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)
