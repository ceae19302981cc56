"""Engine-wide quadratic-outlier audit (SCALE.md §outlier-audit).

Round 10's lesson: text_repetition sat 25x above its family median at
the 100x decade for four rounds before anyone chased it — the repo's
own published numbers contained the flag. This script institutionalizes
the chase: it times EVERY batch query (streaming replays excluded — the
streaming bench covers those) at the 100x replica decade, grouped by
family (queries module), and flags every lane >= 5x its family median.
Every flag must end the round either FIXED or DOCUMENTED-INHERENT in
SCALE.md — zero unexplained outliers.

Usage:
    python scripts/make_scale10x.py                        # build 10x
    SPARK_GRAFT_SCALE_REPS=100 python scripts/make_scale10x.py
    python scripts/audit_outliers.py [family ...]          # all by default

Env: SPARK_GRAFT_AUDIT_DIR (default <repo>/.scale100x),
SPARK_GRAFT_AUDIT_TRIALS (default 1 — a 5x detector doesn't need
medians; re-run flagged lanes for confirmation).
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FAMILIES = {
    "fx": ["fx"],
    "relational": ["relational", "tpch_hard"],
    "relational_ext": ["relational_ext"],
    "text": ["text"],
    "sketch": ["scale"],
    "multimodal": ["multimodal"],
}


def lanes_by_family() -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for fam, mods in FAMILIES.items():
        names: list[str] = []
        for m in mods:
            mod = importlib.import_module(
                f"data_timeseries_java_spark.queries.{m}")
            names.extend(getattr(mod, "QUERIES", {}).keys())
        out[fam] = sorted(n for n in names if "stream" not in n)
    return out


def main() -> None:
    from data_timeseries_java_spark import get_spark
    from data_timeseries_java_spark.queries import all_queries
    from data_timeseries_java_spark.tables import TABLE_NAMES, load_table

    audit_dir = os.environ.get(
        "SPARK_GRAFT_AUDIT_DIR", os.path.join(REPO, ".scale100x"))
    trials = int(os.environ.get("SPARK_GRAFT_AUDIT_TRIALS", "1"))
    wanted = set(sys.argv[1:]) or set(FAMILIES)

    spark = get_spark("audit-outliers")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    for t in TABLE_NAMES:  # warm memoized schema inference
        load_table(spark, audit_dir, t).count()

    flagged: list[tuple[str, str, float, float]] = []
    for fam, names in lanes_by_family().items():
        if fam not in wanted:
            continue
        times: dict[str, float] = {}
        skip = {s for s in os.environ.get(
            "SPARK_GRAFT_AUDIT_SKIP", "").split(",") if s}
        for name in names:
            if name not in qs:
                continue
            if name in skip:
                print(f"{fam:15s} {name:28s}  skipped [env]", flush=True)
                continue
            ts = []
            for _ in range(trials):
                df = qs[name](spark, audit_dir)
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.time() - t0)
            times[name] = min(ts)
            print(f"{fam:15s} {name:28s} {times[name]:8.2f}s", flush=True)
        if not times:
            continue
        med = statistics.median(times.values())
        print(f"-- {fam}: n={len(times)} median={med:.2f}s", flush=True)
        for name, t in sorted(times.items(), key=lambda kv: -kv[1]):
            if t >= 5 * med and t > 5.0:
                flagged.append((fam, name, t, t / med))
                print(f"** FLAG {fam}/{name}: {t:.1f}s = "
                      f"{t / med:.1f}x family median", flush=True)
    print("\n=== flags ===")
    for fam, name, t, r in flagged:
        print(f"{fam:15s} {name:28s} {t:8.1f}s {r:6.1f}x")
    print(f"unexplained: {len(flagged)}")


if __name__ == "__main__":
    main()
