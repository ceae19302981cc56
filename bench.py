"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints TWO JSON lines: first a full-detail line {"metric": ...,
"queries_detail": {name: {median, min, trials}}, ...} for humans, then
a FINAL compact line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: median_sec}, "sf": ...} — the compact line comes LAST
so a bounded tail capture of stdout always contains a complete,
parseable summary (the single ~4 KB line outgrew the driver's tail
window in round 5 and shipped as parsed:null). Each query is forced
end-to-end with the noop writer (full computation, no driver collect
bottleneck).

Methodology: 1 discarded warm-up pass (JIT/codegen/shuffle-service
settling — measured 2-4x inflation on the first trial) then
$SPARK_GRAFT_TRIALS (default 5) measured trials per query. "value" and
"queries" carry the per-query MEDIAN so round-over-round deltas reflect
steady state, not scheduler noise; per-trial raw timings ship in
"queries_detail" so a reader can check the spread.

Round 15 (both untimed-region, disclosed in OPTIMIZATION_r15.md):
materialization defaults to the per-lane TrackingPolicy (release
between lanes — the old always-cache default leaked pinned storage
across lanes, VERDICT r14 item 1), and the artifact now carries
hypervisor steal telemetry (env.steal_frac + per-lane steal_sec) so a
neighbor-VM stall wave is attributable from the artifact alone.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # FX pipeline (the reference's workload)
    "fx_candles_complete",
    "fx_pair_correlation",
    # rank-correlation companion (round 7 session 2)
    "fx_pair_spearman",
    # relational surface
    "pricing_summary",
    "revenue_by_nation",
    "top_customers",
    "user_sessions",
    "fx_corr_user_buckets",
    # 512-instrument universe through the per-window BLAS matrix kernel
    # (130,816 pairs/window, in-kernel top-N screen)
    "fx_corr_wide",
    # the reference's published flagship size: n=1000 instruments,
    # 499,500 pairs/slide (/root/reference/README.MD:41)
    "fx_corr_headline",
    # training-data extensions
    "text_quality",
    # real BPE subword tokenization — 64-rule replace chain in one
    # whole-stage-codegen projection, no shuffle (round 7)
    "text_bpe_tokens",
    # round-7 batch 2: recursive MACD + EWMA pair covariance (grouped-map
    # recursions), inverted-index TF-IDF pairs, hashed linear classifier
    "fx_macd",
    "fx_ewma_cov",
    # production-vocab dictionary tokenizer (1024 ranks, segmented)
    "text_bpe_tokens_dict",
    "dsir_importance",
    "tfidf_neardup",
    "quality_classifier",
    # round 8 session 2: event-driven bars (per-key total-order sort +
    # bucket aggregate — the non-time-bar family) and the cross-source
    # trigram contamination matrix (gram-keyed join, |sources|-bounded
    # fanout)
    "fx_vpin",
    "fx_tick_bars",
    "source_ngram_overlap",
    "gopher_rules",
    # session-2 batch 2/3: the recursive grouped-map bar, the banded
    # attribution join, and the drift monitor
    "fx_imbalance_bars",
    "attribution_linear",
    "value_psi",
    # media codec tier (pure-Python codecs, Arrow-batched mapInPandas;
    # these time synthesize+decode end-to-end — decode-only docs/s and
    # MB/s ceilings live in bench_media.py and SCALE.md)
    "media_jpeg_decode",
    "media_resize",
    "media_wav_features",
    "media_video_frames",
    # round 9: the cross-sectional momentum long-short capstone
    "fx_momentum_ls",
    # round 10: full q21 as a single-pass decorrelation (one lineitem
    # scan; the hardest classic join shape)
    "tpch_q21",
]


def _env_snapshot() -> dict:
    """Environment telemetry (round-12 VERDICT #2): the r10->r11
    common-lane sum drifted ~1.09x UNIFORMLY — including lanes git
    shows untouched — which points at machine load, but the artifact
    recorded nothing that could prove it. Snapshot loadavg, cgroup CPU
    throttling, and a /proc/stat jiffy vector before and after the
    run so a future uniform drift is attributable from the artifact
    alone."""
    snap: dict = {"ts": round(time.time(), 3),
                  "loadavg": [round(x, 2) for x in os.getloadavg()]}
    try:
        with open("/sys/fs/cgroup/cpu.stat") as f:
            for line in f:
                k, _, v = line.partition(" ")
                if k in ("usage_usec", "nr_periods", "nr_throttled",
                         "throttled_usec"):
                    snap[k] = int(v)
    except OSError:
        pass
    try:
        with open("/proc/stat") as f:
            first = f.readline().split()
        if first and first[0] == "cpu":
            snap["proc_stat_cpu"] = [int(x) for x in first[1:]]
    except OSError:
        pass
    return snap


def _env_summary(before: dict, after: dict) -> dict:
    """Compact derived telemetry for the FINAL summary line: 1-min
    loadavg at both ends, cgroup throttle deltas, and the system-wide
    busy fraction over the bench window (non-idle jiffy share — >~
    n_bench_cores/online_cores means something ELSE competed for the
    machine)."""
    out = {"load1_before": before.get("loadavg", [None])[0],
           "load1_after": after.get("loadavg", [None])[0],
           "wall_sec": round(after["ts"] - before["ts"], 1)}
    for k in ("nr_throttled", "throttled_usec"):
        if k in before and k in after:
            out[f"{k}_delta"] = after[k] - before[k]
    b, a = before.get("proc_stat_cpu"), after.get("proc_stat_cpu")
    if b and a and len(a) == len(b):
        delta = [x - y for x, y in zip(a, b)]
        total = sum(delta)
        # fields 4/5 are idle/iowait in /proc/stat's cpu line
        idle = sum(delta[3:5]) if len(delta) >= 5 else 0
        if total > 0:
            out["cpu_busy_frac"] = round(1.0 - idle / total, 3)
        # field 8 is steal: jiffies the HYPERVISOR withheld from this
        # guest (round 15: measured 0-12% in waves on an idle guest —
        # the r14 "32 cores slower than 8" inversion signature). A
        # steal_frac over a few percent means vCPUs were descheduled
        # mid-run and lane medians are hostage to hypervisor
        # neighbors, not code.
        if total > 0 and len(delta) >= 8:
            out["steal_frac"] = round(delta[7] / total, 3)
    return out


def _steal_jiffies() -> int:
    """Current cumulative steal jiffies (field 8 of /proc/stat's cpu
    line), 0 if unreadable — sampled per lane so a stall-poisoned lane
    is attributable from the artifact alone."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) if len(parts) > 8 else 0
    except (OSError, ValueError, IndexError):
        return 0


def _trend_flags(medians: dict[str, float]) -> dict:
    """Bench-artifact creep rule (round-13, VERDICT r12 #3): flag any
    lane whose median rose >= 1.10x in BOTH of the last two
    round-over-round steps (prev-prev -> prev driver artifact, and
    prev -> this run). One noisy step inside the contention band is
    normal; two consecutive compounding steps on the same lane is the
    shape the corr-family creep had (r10->r11->r12 +19%) and must
    surface in the artifact itself, not wait for a judge's diff.
    Returns {lane: [prevprev, prev, current]}."""
    import glob
    import re

    runs: list[tuple[int, dict]] = []
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            parsed = json.load(open(path)).get("parsed") or {}
        except (OSError, json.JSONDecodeError):
            continue
        if parsed.get("queries"):
            runs.append((int(m.group(1)), parsed["queries"]))
    runs.sort()
    if len(runs) < 2:
        return {}
    (_, prevprev), (_, prev) = runs[-2], runs[-1]
    flags = {}
    for name, cur in medians.items():
        a, b = prevprev.get(name), prev.get(name)
        # 0.5s floor: sub-second lanes swing 0.2-0.4s across QUIESCED
        # windows on this box (text_quality measured 0.215 and 0.382
        # in two load1<1 controls the same day, code untouched) — a
        # 10% step there is scheduler noise, not creep. Mirrors the
        # streaming audit's 1s/trigger floor.
        if a and b and cur >= 0.5 and b >= 1.10 * a and cur >= 1.10 * b:
            flags[name] = [a, b, cur]
    return flags


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from data_timeseries_java_spark import get_spark
    from data_timeseries_java_spark.queries import all_queries

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # warm-up: JVM/codegen/scan caches, so timings reflect steady-state
    # plan cost rather than first-query startup
    from data_timeseries_java_spark.tables import load_tables
    for df in load_tables(spark, sf_dir).values():
        df.count()

    # Cache-lifetime policy (plans.materialize): default "tracked"
    # since round 15 — each lane's cached subtrees are unpersisted
    # AFTER its timed trials (untimed region, so the per-lane timing
    # methodology is unchanged). The old "cache" default never
    # released anything: 6 trials x any materialize()-using lane
    # pinned 6 cached copies in the 16 GB JVM for the rest of the
    # process, and the r14 driver runs measured every lane AFTER
    # dsir_importance (bench position 24) inflated 1.8-2.6x from the
    # accumulated storage pressure (VERDICT r14 item 1). "cache"
    # remains selectable to reproduce the leak; "none" disables
    # materialization entirely.
    from data_timeseries_java_spark.plans import (
        TrackingPolicy, cache_policy, materialization, noop_policy)
    policy_name = os.environ.get("SPARK_GRAFT_MATERIALIZE", "tracked")

    # isolation hook: SPARK_GRAFT_QUERIES="a,b" runs only those lanes
    # (regression bisection — e.g. candle lanes without the media lanes)
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    if only:
        requested = [q for q in only.split(",") if q]
        unknown = sorted(set(requested) - set(HEADLINE))
        if unknown:   # a typo'd lane must not silently "pass" bisection
            raise SystemExit(
                f"SPARK_GRAFT_QUERIES names not in HEADLINE: {unknown}")
        headline = [q for q in HEADLINE if q in set(requested)]
    else:
        headline = HEADLINE

    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "5"))
    # lanes with measured high trial variance under sandbox contention
    # (r8 spreads: media_resize 0.70-2.22 s, fx_pair_spearman) get extra
    # trials so the median converges; the r8-vs-r7 "regression" on these
    # was noise (re-measured quiesced in round 9 — see
    # PLANS.md §bench-outliers)
    extra_trials = {"fx_pair_spearman": 4, "media_resize": 4}
    env_before = _env_snapshot()
    medians: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name in headline:
        policy = {"cache": cache_policy, "none": noop_policy,
                  "tracked": TrackingPolicy()}[policy_name]
        trials: list[float] = []
        lane_trials = n_trials + extra_trials.get(name, 0)
        lane_t0 = round(time.time(), 3)
        lane_steal0 = _steal_jiffies()
        with materialization(policy):
            for i in range(lane_trials + 1):  # trial 0: discarded warm-up
                df = qs[name](spark, sf_dir)
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                if i > 0:
                    trials.append(round(time.time() - t0, 3))
        if isinstance(policy, TrackingPolicy):
            policy.unpersist_all()
        medians[name] = round(statistics.median(trials), 3)
        detail[name] = {
            "median": medians[name],
            "min": min(trials),
            "trials": trials,
            # trial-level wall anchor: lets a reader correlate a slow
            # lane with an external load event by absolute time
            "t_start": lane_t0,
            # hypervisor steal (CPU-seconds at USER_HZ=100) during this
            # lane's trials: nonzero-but-small is background noise; tens
            # of seconds marks the lane's median as hostage to a
            # neighbor-VM stall wave, not code (round 15)
            "steal_sec": round((_steal_jiffies() - lane_steal0) / 100, 2),
        }
    env_after = _env_snapshot()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    trend = _trend_flags(medians)
    # full detail first (humans / SCALE.md), compact summary LAST so a
    # bounded tail capture always holds one complete JSON line
    print(json.dumps({
        "metric": "headline query wall-clock (detail)",
        "queries_detail": detail,
        "env_before": env_before,
        "env_after": env_after,
        "sf": sf_val,
    }))
    summary = {
        "metric": "headline query wall-clock",
        "value": round(sum(medians.values()), 3),
        "unit": "sec",
        "queries": medians,
        "env": _env_summary(env_before, env_after),
        "sf": sf_val,
    }
    if trend:
        summary["trend_flags"] = trend
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
