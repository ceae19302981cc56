"""Batch workloads: tick parquet → FXEngine.run → parquet sink.

Untraced runs time the fused pipeline repeatedly; after each repetition
a snapshot query reads the committed sink back, and the repetition's
cached subtrees are released through ``TrackingPolicy``. The traced run
times one fused repetition, then materializes each layer's output in
turn under a job group named for the layer, and replays a slice of the
ticks through the streaming pipeline so its layers are measured too.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from gen import TickSpec, make_ticks, write_ticks
from stats import median, tail

WARMUP_REPS = 3
MIN_REPS = 3
READS_PER_REP = 3       # one read per repetition spread 0.19 over seeds


@dataclass(frozen=True)
class BatchShape:
    spec: TickSpec
    resolution_s: int
    window_s: int
    slide_s: int
    min_corr: float
    propagate_nan: bool
    large_universe: bool
    check_windows: int | None   # sliding windows the oracle recomputes; None = all

    def options(self):
        from data_timeseries_java_spark.api import PipelineOptions

        return PipelineOptions(
            candle_resolution=f"{self.resolution_s} seconds",
            correlation_window=f"{self.window_s} seconds",
            correlation_period=f"{self.slide_s} seconds",
            min_corr_value=self.min_corr,
            propagate_nan=self.propagate_nan,
            large_universe=self.large_universe)


def _fused(run, shape, ticks, instruments, sink) -> float:
    """One repetition: plan, execute and commit to the sink; releases
    the repetition's cached subtrees before returning its seconds."""
    from data_timeseries_java_spark.api import FXEngine
    from data_timeseries_java_spark.plans.materialize import (
        TrackingPolicy,
        materialization,
    )
    from data_timeseries_java_spark.sources.writers import write_results

    policy = TrackingPolicy()
    t0 = time.perf_counter()
    with materialization(policy):
        write_results(FXEngine(run.spark, shape.options())
                      .run(ticks, instruments), sink)
    took = time.perf_counter() - t0
    policy.unpersist_all()
    return took


def _read_sink(run, sink) -> tuple:
    from pyspark.sql import functions as F

    return run.spark.read.parquet(sink).agg(
        F.count(F.lit(1)), F.max("window_start")).collect()[0]


def _check(run, shape: BatchShape, tick_path: str, ticks, instruments,
           sink: str) -> list[str]:
    """Oracle comparison of the sink's correlations on the checked
    windows and, in the traced run, of the full return series."""
    import pandas as pd
    from pyspark.sql import functions as F

    import oracle

    from data_timeseries_java_spark.api import FXEngine
    from env import cpus

    keys = shape.spec.keys()
    con = oracle.connect(cpus())
    want_rets = oracle.returns(con, [tick_path], keys,
                               shape.resolution_s * 1000)
    errs = []
    if run.trace:
        # the whole return series, not only the checked windows' share
        eng = FXEngine(run.spark, shape.options())
        got_rets = (eng.returns(eng.complete_candles(ticks, instruments))
                    .select("key", F.unix_millis("time").alias("t_ms"),
                            "value")
                    .toPandas())
        errs = oracle.compare_returns(got_rets, want_rets)

    win_ms, slide_ms = shape.window_s * 1000, shape.slide_s * 1000
    first = (int(want_rets["t_ms"].min()) // slide_ms) * slide_ms - win_ms + slide_ms
    last = (int(want_rets["t_ms"].max()) // slide_ms) * slide_ms
    all_windows = list(range(first, last + 1, slide_ms))
    picked = all_windows
    if shape.check_windows is not None:
        import numpy as np

        rng = np.random.default_rng(run.seed)
        picked = sorted(int(w) for w in rng.choice(
            all_windows, size=min(shape.check_windows, len(all_windows)),
            replace=False))
    want = oracle.correlations(con, want_rets, win_ms, slide_ms, picked)
    must, optional = oracle.expected(want, shape.min_corr, shape.propagate_nan)
    con.register("pick_out", pd.DataFrame({"w": picked}))
    got = con.execute(f"""
        SELECT epoch_ms(window_start) AS w_ms, key1, key2, value,
               x_count AS n, is_nan
        FROM read_parquet('{sink}/*.parquet')
        WHERE epoch_ms(window_start) IN (SELECT w FROM pick_out)""").df()
    errs += oracle.compare_correlations(got, must, optional)
    run.info["check_windows"] = len(picked)
    run.info["check_pairs"] = len(must)
    return errs


def run_batch(run, shape: BatchShape) -> dict:
    from data_timeseries_java_spark.sources.readers import read_ticks_parquet
    from env import HostRecorder, MemorySampler, cpus
    from tracing import jvm_gc_seconds

    host = HostRecorder()
    t0 = time.perf_counter()
    table = make_ticks(shape.spec, run.seed)
    tick_path = os.path.join(run.work, "ticks", "ticks.parquet")
    write_ticks(table, tick_path, row_groups=2 * cpus())
    gen_s = time.perf_counter() - t0
    n_ticks = table.num_rows
    del table

    start_s = run.start_session()
    mem = MemorySampler(run.spark)
    mem.start()
    spark = run.spark
    ticks = read_ticks_parquet(spark, tick_path)
    instruments = spark.createDataFrame([(k,) for k in shape.spec.keys()],
                                        "key string")
    sink = os.path.join(run.work, "sink")

    # warm-up: untimed runs of the timed job. After the first, the next
    # two still run 1.1-1.5x slower than later ones, so all three stay
    # out of the timed repetitions.
    warmups = [_fused(run, shape, ticks, instruments,
                      os.path.join(run.work, "warmup"))
               for _ in range(WARMUP_REPS)]
    warmup_s = sum(warmups)

    m = {"session.start_s": start_s, "session.warmup_s": warmup_s,
         "setup_s": start_s + warmup_s, "bench.gen_s": gen_s}
    gc0 = jvm_gc_seconds(spark)
    jobs: list[float] = []
    reads: list[float] = []
    leaked: list[int] = []
    begin = time.perf_counter()
    while True:
        with run.tracer.span("job.fused"):
            jobs.append(_fused(run, shape, ticks, instruments, sink))
        run.op(True)
        leaked.append(run.persistent_rdds())
        for _ in range(READS_PER_REP):
            t0 = time.perf_counter()
            _read_sink(run, sink)
            reads.append(time.perf_counter() - t0)
            run.op(True)
        if run.trace or (len(jobs) >= MIN_REPS
                         and time.perf_counter() - begin >= run.seconds):
            break
    m["jvm.gc_s"] = jvm_gc_seconds(spark) - gc0

    t0 = time.perf_counter()
    errs = _check(run, shape, tick_path, ticks, instruments, sink)
    run.op(not errs, "; ".join(errs))
    m["bench.check_s"] = time.perf_counter() - t0
    m["peak_rss_mb"] = mem.stop()
    run.info.update({f"peak_{k}": round(v, 1)
                     for k, v in mem.parts.items()})
    if run.trace:
        m.update(_traced(run, shape, ticks, instruments, sink, tick_path,
                         jobs[0]))

    p, tail_v = tail(jobs)
    m.update({
        "job_s": median(jobs), "ticks_per_s": n_ticks / median(jobs),
        "commit_latency_p50_s": median(jobs), "commit_latency_tail_s": tail_v,
        "read_latency_p50_s": median(reads),
        "materialize.leaked_cache_entries": max(leaked),
    })
    run.info.update(host.snapshot())
    run.info.update({"ticks": n_ticks, "repetitions": len(jobs),
                     "commit_latency_tail_pct": p, "reads": len(reads),
                     "warmup_s_each": [round(x, 3) for x in warmups],
                     "job_s_each": [round(x, 3) for x in jobs]})
    return m


def _traced(run, shape, ticks, instruments, sink, tick_path,
            fused_s) -> dict:
    """Batch layers staged one by one, the streaming layers on a
    16-instrument slice of the same ticks, then the event log."""
    import pyarrow.parquet as pq

    import stream
    from tracing import finish, layer_costs

    m, staged_s = staged_layers(run, shape, ticks, instruments, sink)
    m["bench.trace_overhead_frac"] = (staged_s - fused_s) / fused_s
    # the streaming pipeline always correlates with the join kernel,
    # which cannot take n=1000 within the pinned heap
    keys = shape.spec.keys()[:stream.N_INSTRUMENTS]
    probe, windows = stream.probe(
        run, pq.read_table(tick_path, filters=[("key", "in", keys)]), keys,
        shape.resolution_s, shape.window_s, shape.slide_s, shape.min_corr,
        shape.propagate_nan)
    m.update(probe)
    m.update(layer_costs(finish(run), windows))
    return m


def staged_layers(run, shape, ticks, instruments, sink) -> tuple[dict, float]:
    """Materialize each layer's output in turn, one span and job group
    per layer; returns the span and count metrics and the staged
    layers' total seconds."""
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.api import FXEngine
    from data_timeseries_java_spark.plans.materialize import (
        TrackingPolicy,
        materialization,
    )
    from data_timeseries_java_spark.sources.writers import write_results

    tr = run.tracer
    eng = FXEngine(run.spark, shape.options())
    policy = TrackingPolicy()
    held = []

    def keep(df):
        df = df.persist()
        held.append(df)
        return df

    with tr.span("sources.scan"):
        t = keep(ticks)
        t.count()
    with tr.span("candles"):
        candles = keep(eng.complete_candles(t, instruments))
        n_candles = candles.count()
    with tr.span("returns"):
        rets = keep(eng.returns(candles))
        n_rets = rets.count()
    with tr.span("correlation"):
        with materialization(policy):
            corr_plan = eng.correlate(rets)
            corr = keep(corr_plan)
            n_corr = corr.count()
    with tr.span("sources.sink"):
        write_results(corr, sink)
    staged = sum(tr.total(n) for n in ("sources.scan", "candles", "returns",
                                        "correlation", "sources.sink"))

    # counts, outside any layer span
    gap_rows = candles.where(~F.col("is_live")).count()
    per_window = (rets.select(F.window("time", f"{shape.window_s} seconds",
                                       f"{shape.slide_s} seconds").alias("w"),
                              "key")
                  .groupBy("w").agg(F.countDistinct("key").alias("k"))
                  .agg(F.sum(F.col("k") * (F.col("k") - 1) / 2)).collect())
    pairs = int(per_window[0][0] or 0)
    plan = corr_plan._jdf.queryExecution().executedPlan().toString()
    policy.unpersist_all()
    for df in held:
        df.unpersist(blocking=True)
    sink_bytes = sum(os.path.getsize(os.path.join(sink, f))
                     for f in os.listdir(sink) if f.endswith(".parquet"))
    return {
        "sources.scan_s": tr.total("sources.scan"),
        "sources.sink_s": tr.total("sources.sink"),
        "sources.sink_bytes": sink_bytes,
        "candles.rows_out": n_candles, "candles.gap_rows": gap_rows,
        "returns.rows_out": n_rets,
        "correlation.pairs_evaluated": pairs,
        "correlation.rows_out": n_corr,
        "correlation.emit_frac": n_corr / pairs if pairs else 0.0,
        "correlation.kernel_matrix": int("FlatMapGroupsInPandas" in plan),
    }, staged
