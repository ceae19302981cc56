"""FX pipeline benchmark: one command per workload run.

    python3 fxbench/run.py --workload fx_wide --seed 1 --seconds 30 --trace 0

Run from the repository root. Generates the workload's ticks from the
seed, starts the engine, measures for ``--seconds`` seconds, checks the
outputs against a DuckDB oracle and prints one ``name value unit`` line
per metric, then a JSON summary as the last line of standard output.
``--trace 1`` runs the staged, event-logged variant that reports the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".fxbench_work")

END_TO_END = {
    "setup_s": "s", "job_s": "s", "ticks_per_s": "1/s",
    "commit_latency_p50_s": "s", "commit_latency_tail_s": "s",
    "read_latency_p50_s": "s", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.scan_s": "s", "sources.rows_read": "count",
    "sources.bytes_read": "bytes", "sources.sink_s": "s",
    "sources.sink_bytes": "bytes",
    "candles.busy_s": "s", "candles.cpu_s": "s",
    "candles.shuffle_write_bytes": "bytes", "candles.spill_bytes": "bytes",
    "candles.rows_out": "count", "candles.gap_rows": "count",
    "candles.tasks": "count",
    "returns.busy_s": "s", "returns.rows_out": "count",
    "correlation.busy_s": "s", "correlation.cpu_s": "s",
    "correlation.shuffle_write_bytes": "bytes",
    "correlation.spill_bytes": "bytes",
    "correlation.pairs_evaluated": "count", "correlation.rows_out": "count",
    "correlation.emit_frac": "ratio", "correlation.kernel_matrix": "bool",
    "materialize.leaked_cache_entries": "count",
    "stream.run_s": "s", "stream.trigger_s": "s",
    "stream.start_overhead_s": "s", "stream.add_batch_s": "s",
    "stream.jobs_per_run": "count", "stream.files_per_run": "count",
    "stream.input_rows_per_run": "count", "stream.state_rows": "count",
    "stream.state_bytes": "bytes", "stream.state_commit_ms": "ms",
    "store.read_s": "s", "store.compact_s": "s",
    "store.batches_folded": "count", "store.corr_dirs": "count",
    "store.returns_dirs": "count", "store.bytes": "bytes",
    "store.windows_recomputed_per_window": "ratio",
    "spark.tasks_failed": "count", "jvm.gc_s": "s",
    "bench.gen_s": "s", "bench.check_s": "s",
    "bench.trace_overhead_frac": "ratio",
}


class Run:
    """What one invocation shares across its phases: arguments, work
    directory, the session and tracer, and the operation ledger that
    ``attempted``/``failed`` come from."""

    def __init__(self, workload: str, seed: int, seconds: int,
                 trace: bool) -> None:
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{int(trace)}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.info: dict = {}
        self.spark = None
        self.tracer = None

    def op(self, ok: bool, what: str = "") -> None:
        """Count one operation (a job, a read, a check)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.errors.append(what)

    def start_session(self) -> float:
        """Start the engine session under the pinned environment; returns
        the seconds it took."""
        from env import pin

        conf = pin(self.work)
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": log_dir,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        from data_timeseries_java_spark import get_spark

        self.spark = get_spark(f"fxbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        took = time.perf_counter() - t0
        from tracing import Tracer

        self.tracer = Tracer(self.spark.sparkContext,
                             f"{self.workload}-{self.seed}-{int(time.time())}",
                             self.trace)
        return took

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for the JVM and the
        Python workers it started to exit."""
        from pyspark import SparkContext

        from env import alive, descendants

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        pids = descendants(proc.pid)
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                pass
            self.spark = None
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(alive(p) for p in pids):
            time.sleep(0.1)

    def persistent_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().getPersistentRDDs()
                   .size())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "data_timeseries_java_spark",
                                       "__init__.py")):
        print(f"fxbench: no engine package under {ROOT}; run from the "
              f"repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.ALL:
        print(f"fxbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.ALL)}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.work)
    metrics: dict = {}
    try:
        metrics = workloads.ALL[args.workload](run)
    except Exception:
        run.op(False, traceback.format_exc(limit=3))
    finally:
        t_stop = time.perf_counter()
        run.stop()
        run.info["stop_s"] = round(time.perf_counter() - t_stop, 2)
    if run.trace and run.tracer is not None:
        run.tracer.write(os.path.join(run.work, "spans.json"))

    wanted = PER_LAYER if run.trace else END_TO_END
    for err in run.errors:
        print(f"fxbench: FAILED {err}", file=sys.stderr)
    run.info["wall_s"] = round(time.perf_counter() - t_main, 2)
    run.info.update({k: v for k, v in metrics.items() if k not in wanted})
    for k, v in sorted(run.info.items()):
        print(f"info {k} {v}")
    fail_frac = run.failed / max(run.attempted, 1)
    print(f"metric fail_frac {fail_frac:.6f} ratio")
    for name, unit in wanted.items():
        if name in metrics:
            print(f"metric {name} {metrics[name]} {unit}")
    out = {name: {"value": metrics[name], "unit": unit}
           for name, unit in wanted.items() if name in metrics}
    correct = run.failed == 0 and len(out) == len(wanted)
    if len(out) != len(wanted):
        missing = sorted(set(wanted) - set(out))
        print(f"fxbench: metrics not measured: {missing}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed if run.attempted else 1,
                      "metrics": out}))
    for name in os.listdir(run.work):        # keep only the spans
        if name != "spans.json":
            path = os.path.join(run.work, name)
            shutil.rmtree(path, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
