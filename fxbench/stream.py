"""Streaming workload: an open-loop file feed into streaming_correlations.

Three threads share the session. A generator drops one small tick file
into the input directory every ``INTERVAL_S`` on a fixed schedule that
does not slow down when the engine does. The runner (main thread) starts
an availableNow run of ``streaming_correlations`` whenever files are
pending, and every ``COMPACT_EVERY_S`` compacts the correlation store
between runs. A reader queries ``read_streaming_correlations`` every
``READ_EVERY_S``. Compaction removes store directories that a running
query may be reading, which the engine documents as unsafe on plain
parquet, so the reader and compaction hold one lock.

Due times stay in the benchmark's ledger, keyed by file name; the file
source's checkpoint log says which run consumed each file.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import EPOCH_MS, TickSpec, make_ticks
from stats import median, tail

N_INSTRUMENTS = 16
N_BLOCKS = 4
TICKS_PER_FILE = 1000           # at 1 tick/s per instrument: 62 s of events
INTERVAL_S = 0.25
READ_EVERY_S = 1.5
COMPACT_EVERY_S = 10.0
WARMUP_FILES = 2
RESOLUTION_S, WINDOW_S, SLIDE_S = 60, 600, 300
MIN_CORR, PROPAGATE_NAN = 0.0, True
DRAIN_LIMIT_S = 90.0


def _split(table: pa.Table, n_files: int, span_ms: int,
           out_dir: str) -> tuple[list[str], list[int]]:
    """Split time-ordered ticks into ``n_files`` parquet files of
    ``span_ms`` event time each; returns paths and tick counts."""
    ms = table["event_time"].cast("int64").to_numpy() // 1000 - EPOCH_MS
    bounds = np.searchsorted(ms, np.arange(n_files + 1) * span_ms)
    os.makedirs(out_dir)
    paths, counts = [], []
    for i in range(n_files):
        p = os.path.join(out_dir, f"ticks-{i:05d}.parquet")
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, p, compression="snappy")
        paths.append(p)
        counts.append(part.num_rows)
    return paths, counts


def _source_entries(checkpoint: str) -> dict[str, int]:
    """File name -> file-source log offset, from the query's checkpoint
    (plain and compacted log files alike)."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line:
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _iso_ms(s: str) -> int:
    return int(datetime.fromisoformat(s.replace("Z", "+00:00"))
               .timestamp() * 1000)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _batch_dirs(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(1 for d in os.listdir(path) if d.startswith("batch_id="))


class Pipeline:
    """``streaming_correlations`` over one watched directory and store.
    Each ``trigger()`` is one availableNow run; ``runs`` records them and
    ``consumed`` maps each tick file to the run that consumed it."""

    def __init__(self, run, work: str, keys: list[str], resolution_s: int,
                 window_s: int, slide_s: int, min_corr: float,
                 propagate_nan: bool) -> None:
        from data_timeseries_java_spark.operators import CorrelationConfig

        self.run, self.keys, self.resolution_s = run, keys, resolution_s
        self.cfg = CorrelationConfig(f"{window_s} seconds",
                                     f"{slide_s} seconds", min_corr,
                                     propagate_nan)
        self.in_dir = os.path.join(work, "in")
        self.store = os.path.join(work, "store")
        os.makedirs(self.in_dir)
        self.consumed: dict[str, int] = {}
        self.runs: list[dict] = []
        self.markers, self.marked_windows = 0, set()
        self.bookkeeping_s = 0.0

    def trigger(self, record: bool = True) -> dict:
        from data_timeseries_java_spark.sources.readers import (
            stream_ticks_files,
        )
        from data_timeseries_java_spark.streaming.pipeline import (
            streaming_correlations,
        )

        spark = self.run.spark
        t_start = time.time()
        with self.run.tracer.span("stream.run"):
            # every availableNow run resumes from the checkpoint, and the
            # engine keeps the ticks of a candle that straddles a restart
            # only with a watermark delay of at least one candle
            # (streaming/candles_stream.py)
            q = streaming_correlations(
                spark, stream_ticks_files(spark, self.in_dir), self.store,
                f"{self.resolution_s} seconds", self.cfg,
                watermark=f"{self.resolution_s} seconds",
                universe=self.keys)
            q.awaitTermination()
        t_end = time.time()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        files = [f for f in _source_entries(
            os.path.join(self.store, "checkpoint")) if f not in self.consumed]
        for f in files:
            self.consumed[f] = len(self.runs)
        r = {"start": t_start, "end": t_end,
             "progress": list(q.recentProgress), "files": files,
             "leaked": self.run.persistent_rdds()}
        if record:
            self.runs.append(r)
            if self.run.trace:
                self._count_markers(r)
        return r

    def _count_markers(self, r: dict) -> None:
        """Marker rows (one per recomputed window) in the batches a run
        wrote; read before compaction folds them."""
        b0 = time.perf_counter()
        for p in r["progress"]:
            d = os.path.join(self.store, "correlations",
                             f"batch_id={p['batchId']}")
            if os.path.isdir(d):
                w = pq.read_table(d, columns=["key1", "w_start_ms"])
                w = w.filter(w["key1"].is_null())["w_start_ms"]
                self.markers += len(w)
                self.marked_windows.update(w.to_pylist())
        self.bookkeeping_s += time.perf_counter() - b0

    def read(self) -> None:
        from pyspark.sql import functions as F

        from data_timeseries_java_spark.streaming.pipeline import (
            read_streaming_correlations,
        )

        with self.run.tracer.span("store.read"):
            read_streaming_correlations(self.run.spark, self.store).agg(
                F.count(F.lit(1)), F.max("w_start_ms")).collect()

    def compact(self) -> dict:
        from data_timeseries_java_spark.streaming.pipeline import (
            compact_correlation_store,
        )

        with self.run.tracer.span("store.compact"):
            return compact_correlation_store(self.run.spark, self.store)

    def layer_metrics(self, read_s: list[float], compact_s: list[float],
                      folded: int) -> dict:
        """Stream and store layer numbers from recentProgress and the
        store directory."""
        runs = self.runs

        def per_run(fn):
            return median([fn(r) for r in runs])

        def dur(r, key):
            return sum(p["durationMs"].get(key, 0)
                       for p in r["progress"]) / 1e3

        def state(p, key):
            return sum(s.get(key, 0) for s in p.get("stateOperators", []))

        last = runs[-1]["progress"][-1]
        corr, rets = (os.path.join(self.store, d)
                      for d in ("correlations", "returns"))
        return {
            "stream.run_s": per_run(lambda r: r["end"] - r["start"]),
            "stream.trigger_s": per_run(lambda r: dur(r, "triggerExecution")),
            "stream.start_overhead_s": per_run(
                lambda r: r["end"] - r["start"] - dur(r, "triggerExecution")),
            "stream.add_batch_s": per_run(lambda r: dur(r, "addBatch")),
            "stream.files_per_run": per_run(lambda r: len(r["files"])),
            "stream.input_rows_per_run": per_run(
                lambda r: sum(p["numInputRows"] for p in r["progress"])),
            "stream.state_rows": state(last, "numRowsTotal"),
            "stream.state_bytes": state(last, "memoryUsedBytes"),
            "stream.state_commit_ms": per_run(
                lambda r: sum(state(p, "commitTimeMs")
                              for p in r["progress"])),
            "store.read_s": median(read_s),
            "store.compact_s": median(compact_s),
            "store.batches_folded": folded,
            "store.corr_dirs": _batch_dirs(corr),
            "store.returns_dirs": _batch_dirs(rets),
            "store.bytes": _dir_bytes(corr) + _dir_bytes(rets),
            "store.windows_recomputed_per_window":
                self.markers / max(1, len(self.marked_windows)),
        }

    def windows(self) -> list[tuple[float, float]]:
        return [(r["start"], r["end"]) for r in self.runs]


class Feed(threading.Thread):
    """Open-loop generator: file i is due at t0 + i * INTERVAL_S."""

    def __init__(self, paths: list[str], in_dir: str, t0: float) -> None:
        super().__init__(daemon=True)
        self.paths, self.in_dir, self.t0 = paths, in_dir, t0
        self.due: dict[str, float] = {}
        self.late_max = 0.0
        self.done = threading.Event()

    def run(self) -> None:
        for i, src in enumerate(self.paths):
            due = self.t0 + i * INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            name = os.path.basename(src)
            os.rename(src, os.path.join(self.in_dir, name))
            self.late_max = max(self.late_max, time.time() - due)
            self.due[name] = due
        self.done.set()


class Reader(threading.Thread):
    """Open-loop snapshot reader on a fixed schedule until stopped."""

    def __init__(self, pipe: Pipeline, lock: threading.Lock,
                 t0: float) -> None:
        super().__init__(daemon=True)
        self.pipe, self.lock, self.t0 = pipe, lock, t0
        self.stop = threading.Event()
        self.query_s: list[float] = []      # the snapshot query itself
        self.wait_s: list[float] = []       # due time -> query start
        self.errors: list[str] = []

    def run(self) -> None:
        j = 0
        while True:
            due = self.t0 + j * READ_EVERY_S
            if self.stop.wait(max(0.0, due - time.time())):
                return
            with self.lock:
                start = time.time()
                try:
                    self.pipe.read()
                except Exception as e:
                    self.errors.append(f"read: {e!r}"[:300])
                end = time.time()
            self.query_s.append(end - start)
            self.wait_s.append(start - due)
            j += 1


def run_stream(run) -> dict:
    from env import HostRecorder, MemorySampler
    from tracing import jvm_gc_seconds

    host = HostRecorder()
    n_meas = math.ceil(run.seconds / INTERVAL_S)
    n_files = WARMUP_FILES + n_meas
    span_s = TICKS_PER_FILE // N_INSTRUMENTS
    spec = TickSpec(n_instruments=N_INSTRUMENTS, n_blocks=N_BLOCKS,
                    duration_s=n_files * span_s, ticks_per_s=1.0,
                    gap_frac=0.03)
    t = time.perf_counter()
    paths, counts = _split(make_ticks(spec, run.seed), n_files,
                           span_s * 1000, os.path.join(run.work, "stage"))
    gen_s = time.perf_counter() - t
    ticks_in = dict(zip((os.path.basename(p) for p in paths), counts))

    start_s = run.start_session()
    mem = MemorySampler(run.spark)
    mem.start()
    pipe = Pipeline(run, run.work, spec.keys(), RESOLUTION_S, WINDOW_S,
                    SLIDE_S, MIN_CORR, PROPAGATE_NAN)

    # set-up: session plus one warm-up run over the first files
    t = time.perf_counter()
    for p in paths[:WARMUP_FILES]:
        os.rename(p, os.path.join(pipe.in_dir, os.path.basename(p)))
    pipe.trigger(record=False)
    warmup_s = time.perf_counter() - t

    lock = threading.Lock()
    t0 = time.time() + 0.05
    feed = Feed(paths[WARMUP_FILES:], pipe.in_dir, t0)
    reader = Reader(pipe, lock, t0)
    gc0 = jvm_gc_seconds(run.spark)
    feed.start()
    reader.start()
    # half a period in: the first compaction falls inside the first run
    # (>= 7 s) and so always runs right after it, not on either side of a
    # run boundary by chance, which split latencies into two modes
    next_compact = t0 + COMPACT_EVERY_S / 2
    compact_s: list[float] = []
    folded = 0
    ok = True
    while True:
        pending = [n for n in os.listdir(pipe.in_dir)
                   if n not in pipe.consumed]
        if pending:
            try:
                pipe.trigger()
                run.op(True)
            except Exception as e:
                run.op(False, f"stream run: {e!r}"[:300])
                ok = False
                break
        elif feed.done.is_set():
            break
        else:
            time.sleep(0.02)
        if time.time() > t0 + run.seconds + DRAIN_LIMIT_S:
            run.op(False, "stream did not drain its input in time")
            ok = False
            break
        if time.time() >= next_compact:
            with lock:
                c0 = time.perf_counter()
                try:
                    st = pipe.compact()
                    run.op(True)
                    if st["batches_after"] < st["batches_before"]:
                        folded += st["batches_before"]
                except Exception as e:
                    run.op(False, f"compact: {e!r}"[:300])
                compact_s.append(time.perf_counter() - c0)
            while next_compact <= time.time():   # skip missed slots
                next_compact += COMPACT_EVERY_S
    reader.stop.set()
    reader.join()
    feed.join()
    gc_s = jvm_gc_seconds(run.spark) - gc0
    for err in reader.errors:
        run.op(False, err)
    for _ in range(len(reader.query_s) - len(reader.errors)):
        run.op(True)

    c0 = time.perf_counter()
    if ok:
        errs = _check(run, pipe, paths)
        run.op(not errs, "; ".join(errs))
    check_s = time.perf_counter() - c0
    peak = mem.stop()
    run.info.update({f"peak_{k}": round(v, 1)
                     for k, v in mem.parts.items()})

    runs = pipe.runs
    commit = {f: runs[i]["end"] for f, i in pipe.consumed.items()}
    lat = [commit[f] - due for f, due in feed.due.items() if f in commit]
    run_s = [r["end"] - r["start"] for r in runs]
    pct, lat_tail = tail(lat)
    m = {
        "setup_s": start_s + warmup_s, "job_s": median(run_s),
        # ticks per second of run time, over every measured run
        "ticks_per_s": (sum(ticks_in[f] for r in runs for f in r["files"])
                        / sum(run_s)),
        "commit_latency_p50_s": median(lat),
        "commit_latency_tail_s": lat_tail,
        "read_latency_p50_s": median(reader.query_s),
        "peak_rss_mb": peak,
        "session.start_s": start_s, "session.warmup_s": warmup_s,
        "bench.gen_s": gen_s, "bench.check_s": check_s, "jvm.gc_s": gc_s,
        "materialize.leaked_cache_entries": max(r["leaked"] for r in runs),
    }
    run.info.update(host.snapshot())
    run.info.update({
        "files": len(lat), "runs": len(runs), "reads": len(reader.query_s),
        "compactions": len(compact_s), "commit_latency_tail_pct": pct,
        "ticks": sum(ticks_in[f] for f in pipe.consumed),
        "bench.gen_late_max_s": feed.late_max,
        "run_s_each": [round(x, 2) for x in run_s],
        "read_s_each": [round(x, 2) for x in reader.query_s],
        # lock waits behind compaction and queueing behind earlier reads
        "read_wait_s_each": [round(x, 2) for x in reader.wait_s],
        "compact_s_each": [round(x, 2) for x in compact_s],
        "commit_latency_each": [round(x, 2) for x in lat]})
    if run.trace:
        m.update(_traced(run, pipe, reader.query_s, compact_s, folded))
    return m


def _check(run, pipe: Pipeline, paths: list[str]) -> list[str]:
    """The final snapshot against the oracle, on the sliding windows the
    final watermark has closed."""
    import oracle
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.streaming.pipeline import (
        read_streaming_correlations,
    )
    from env import cpus

    marks = [p["eventTime"].get("watermark") for r in pipe.runs
             for p in r["progress"]]
    closed_ms = max(_iso_ms(w) for w in marks if w)
    got = (read_streaming_correlations(run.spark, pipe.store)
           .select(F.col("w_start_ms").alias("w_ms"), "key1", "key2",
                   "value", F.col("x_count").alias("n"), "is_nan")
           .where(F.col("w_start_ms") + WINDOW_S * 1000 <= closed_ms)
           .toPandas())
    files = [os.path.join(pipe.in_dir, os.path.basename(p)) for p in paths]
    con = oracle.connect(cpus())
    rets = oracle.returns(con, files, pipe.keys, RESOLUTION_S * 1000)
    want = oracle.correlations(con, rets, WINDOW_S * 1000, SLIDE_S * 1000)
    want = want[want["w_ms"] + WINDOW_S * 1000 <= closed_ms]
    must, optional = oracle.expected(want, MIN_CORR, PROPAGATE_NAN)
    n_windows = must["w_ms"].nunique()
    run.info["check_windows"] = n_windows
    run.info["check_pairs"] = len(must)
    errs = oracle.compare_correlations(got, must, optional)
    if n_windows < 2:
        errs.append(f"only {n_windows} closed windows to check")
    return errs


def _traced(run, pipe: Pipeline, read_s: list[float],
            compact_s: list[float], folded: int) -> dict:
    """Stream and store layers from the measured runs; the batch layers
    from the batch stages run over the ticks the stream consumed; then
    the event log."""
    from batch import BatchShape, staged_layers
    from data_timeseries_java_spark.sources.readers import read_ticks_parquet
    from tracing import finish, layer_costs

    m = pipe.layer_metrics(read_s, compact_s or [0.0], folded)
    m["bench.trace_overhead_frac"] = pipe.bookkeeping_s / sum(
        r["end"] - r["start"] for r in pipe.runs)
    shape = BatchShape(
        spec=None, resolution_s=RESOLUTION_S, window_s=WINDOW_S,
        slide_s=SLIDE_S, min_corr=MIN_CORR, propagate_nan=PROPAGATE_NAN,
        large_universe=False, check_windows=None)
    ticks = read_ticks_parquet(run.spark, pipe.in_dir)
    instruments = run.spark.createDataFrame([(k,) for k in pipe.keys],
                                            "key string")
    staged, _ = staged_layers(run, shape, ticks, instruments,
                              os.path.join(run.work, "batch-sink"))
    m.update(staged)
    m.update(layer_costs(finish(run), pipe.windows()))
    return m


def probe(run, table: pa.Table, keys: list[str], resolution_s: int,
          window_s: int, slide_s: int, min_corr: float,
          propagate_nan: bool, n_files: int = 3) -> tuple[dict, list]:
    """Closed-loop replay of ``table`` (time-ordered ticks of ``keys``)
    through the streaming pipeline: one availableNow run per file, then
    one snapshot read and one compaction. Returns the stream and store
    layer metrics and the runs' (start, end) times."""
    work = os.path.join(run.work, "stream-probe")
    end_ms = (int(table["event_time"].cast("int64").to_numpy()[-1]) // 1000
              - EPOCH_MS + 1)
    paths, _ = _split(table, n_files, -(-end_ms // n_files),
                      os.path.join(work, "stage"))
    pipe = Pipeline(run, work, keys, resolution_s, window_s, slide_s,
                    min_corr, propagate_nan)
    for p in paths:
        os.rename(p, os.path.join(pipe.in_dir, os.path.basename(p)))
        pipe.trigger()
    t = time.perf_counter()
    pipe.read()
    read_s = time.perf_counter() - t
    t = time.perf_counter()
    st = pipe.compact()
    compact_s = time.perf_counter() - t
    folded = (st["batches_before"]
              if st["batches_after"] < st["batches_before"] else 0)
    return (pipe.layer_metrics([read_s], [compact_s], folded),
            pipe.windows())
