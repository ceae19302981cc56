"""Streaming-tier quadratic-outlier audit (round-12 VERDICT #3).

The batch-side ≥5x-family-median rule (scripts/audit_outliers.py)
caught three real scale bugs in round 11; streaming replays were
explicitly excluded ("the streaming bench covers those") — but the
streaming bench reports per-batch wall WITHOUT the flag rule, so a
quadratic trigger could hide in plain sight exactly the way
text_repetition's batch number did for four rounds. This script closes
that gap: it runs bench_stream.py at the 10x volume decade
(.scale10x — ~600k ticks / 600k events / 60k docs through 8
maxFilesPerTrigger=1 micro-batches), groups lanes by state-shape
family, and flags every lane whose median per-batch wall is >= 5x its
family median (and above an absolute floor so a 40ms-vs-8ms family of
trivial folds can't false-positive). Two flatness rules ride along,
straight from the artifact's own fields:

  - late_half_median_ms >= 3x early_half_median_ms -> state (or
    per-key history) is growing with the run, the streaming analogue
    of a super-linear decade slope;
  - any lane that errored is always a flag.

Every flag must end the round FIXED or DOCUMENTED-INHERENT in
SCALE.md §streaming-outlier-audit — zero unexplained.

Usage:
    SPARK_GRAFT_SCALE_REPS=10 python scripts/make_scale10x.py  # once
    python scripts/audit_stream_outliers.py          # full audit
    python scripts/audit_stream_outliers.py fold     # one family

Env: SPARK_GRAFT_STREAM_AUDIT_DIR (default <repo>/.scale10x),
SPARK_GRAFT_STREAM_AUDIT_JSON (re-analyze a saved bench_stream line
instead of re-running — the rule logic is pure).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# State-shape families: lanes in one family share the mechanism whose
# cost the per-batch wall measures, so a >=5x spread within a family
# is a mechanism anomaly, not workload diversity.
FAMILIES: dict[str, list[str]] = {
    # windowed aggregation state (watermark-evicted panes)
    "windowed": ["ohlc_candles", "complete_candles_state", "sessions",
                 "realized_vol"],
    # one-small-tuple-per-key recursive folds (applyInPandasWithState)
    "fold": ["ema_state", "holt_state", "kalman_state", "garch_state",
             "macd_state", "vwap_state", "tick_bars_state", "scd2_state",
             "reordered_ema_state"],
    # ordered per-key buffers with watermark trimming
    "asof": ["asof_join_state", "asof_join_wide_state",
             "asof_join_wide_bucketed"],
    # foreachBatch pipelines (batch plan per trigger + side state dir)
    "pipeline_fb": ["anomalies_fb", "cms_topk_fb", "gridq_fb",
                    "fx_pipeline_fb", "dsir_model_fb"],
}

# Absolute floor: a lane under this median per-batch wall cannot flag
# (mirrors the batch audit's t > 5.0s floor, scaled to trigger grain).
FLOOR_MS = 1000.0
# Growth rule: late-half median >= GROWTH_X * early-half median means
# per-trigger cost climbs as state accumulates — flat is the contract.
GROWTH_X = 3.0

# Lanes whose flagged behavior is already root-caused and documented
# (SCALE.md section named per lane) — reported, never UNEXPLAINED.
DOCUMENTED: dict[str, str] = {
    # The full candles->returns->pairwise-correlation recompute: its
    # per-trigger cost is ∝ touched sliding windows BY DESIGN (it
    # recomputes exactly the touched windows, never full history), and
    # an availableNow REPLAY trigger spans 1/8 of the decade's entire
    # history (~10.8k five-minute slides at 10x) where a production
    # trigger spans the trigger interval. 7.7 s/batch flat
    # (late/early 0.84) at 10x; the audit's first run also caught a
    # REAL bug here — the 10k touched-window guard tripping on
    # legitimate decade growth — fixed in streaming/pipeline.py
    # (guard raised, IN-literal -> broadcast semi-join above 10k).
    "fx_pipeline_fb": "streaming-outlier-audit (cost ∝ touched windows; "
                      "replay trigger = 1/8 of history)",
}


def run_bench(audit_dir: str, ops: list[str] | None) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=audit_dir)
    if ops:
        env["SPARK_GRAFT_STREAM_OPS"] = ",".join(ops)
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench_stream.py")],
            env=env, capture_output=True, text=True, check=True)
    except subprocess.CalledProcessError as e:
        # surface the captured streams — CalledProcessError alone shows
        # only the command line (ADVICE r12)
        print(e.stdout or "", file=sys.stderr)
        print(e.stderr or "", file=sys.stderr)
        raise
    # select the summary by its distinguishing key, not "last brace
    # line" — the bench may legitimately print other JSON lines
    summaries = [ln for ln in out.stdout.splitlines()
                 if ln.startswith("{") and '"operators"' in ln]
    if not summaries:
        print(out.stdout, file=sys.stderr)
        print(out.stderr, file=sys.stderr)
        raise SystemExit("bench_stream.py printed no summary JSON line")
    return json.loads(summaries[-1])


def analyze(operators: dict) -> int:
    flags: list[str] = []
    for fam, names in FAMILIES.items():
        meds = {n: operators[n].get("median_batch_ms")
                for n in names if n in operators
                and operators[n].get("median_batch_ms") is not None}
        errs = {n: operators[n]["error"]
                for n in names if n in operators
                and "error" in operators[n]}
        for n, e in errs.items():
            flags.append(f"{fam}/{n}: ERROR {e}")
        if not meds:
            continue
        fam_med = statistics.median(meds.values())
        print(f"-- {fam}: n={len(meds)} family median "
              f"{fam_med:.0f} ms/batch", flush=True)
        for n, m in sorted(meds.items(), key=lambda kv: -kv[1]):
            op = operators[n]
            early = op.get("early_half_median_ms")
            late = op.get("late_half_median_ms")
            growth = (late / early) if early and late else None
            line = (f"   {n:26s} {m:9.0f} ms/batch  "
                    f"({m / fam_med:4.1f}x fam)"
                    + (f"  late/early {growth:.2f}" if growth else ""))
            print(line, flush=True)
            tag = DOCUMENTED.get(n)
            if m >= 5 * fam_med and m > FLOOR_MS:
                msg = (f"{fam}/{n}: {m:.0f} ms = {m / fam_med:.1f}x "
                       f"family median")
                if tag:
                    print(f"   (documented: {tag})", flush=True)
                else:
                    flags.append(msg)
            if growth and growth >= GROWTH_X and late > FLOOR_MS:
                msg = (f"{fam}/{n}: late-half {late:.0f} ms = "
                       f"{growth:.1f}x early-half — state growth")
                if tag:
                    print(f"   (documented: {tag})", flush=True)
                else:
                    flags.append(msg)
    print(flush=True)
    if flags:
        print("UNEXPLAINED FLAGS:")
        for fl in flags:
            print(f"** {fl}")
        return 1
    print("zero unexplained streaming outliers")
    return 0


def main() -> None:
    saved = os.environ.get("SPARK_GRAFT_STREAM_AUDIT_JSON")
    if saved:
        operators = json.load(open(saved))["operators"]
    else:
        audit_dir = os.environ.get(
            "SPARK_GRAFT_STREAM_AUDIT_DIR",
            os.path.join(REPO, ".scale10x"))
        wanted = sys.argv[1:]
        ops = None
        if wanted:
            ops = [n for f in wanted for n in FAMILIES[f]]
        operators = run_bench(audit_dir, ops)["operators"]
        print(json.dumps({"operators": operators}), flush=True)
    raise SystemExit(analyze(operators))


if __name__ == "__main__":
    main()
