"""Interleaved A/B of one fxbench workload: a base revision against the
working tree.

    python scripts/fxbench_ab.py --workload fx_stream --pairs 10 \
        --first-seed 41 --base-rev HEAD --out ab.json

The base side is the committed files of ``--base-rev``, exported with
``git archive`` into a temporary directory, so no worktree is left
registered if the run dies. The change side is this repository's working tree.
Pair ``i`` runs seed ``first_seed + i`` on both sides; even pairs run
the base first, odd pairs the change first, so a slow stretch of the
host hits both sides alike.

Each run is ``python3 fxbench/run.py`` in that side's directory, with
identical arguments and the run length ``BENCHMARK.json`` sets. Per
metric the script prints both sides' median and quartiles, the median
difference, the base's quartile spread, and the change's wins over the
pairs (ties count for neither side). A gain is claimable when the
change wins at least nine tenths of the pairs and the median difference
exceeds the base's quartile spread. Every run's ``steal_frac`` (CPU
steal share, from fxbench's host record) is printed beside its
metrics. Metric directions come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("base", "change")


def export_revision(rev: str, dest: str) -> None:
    """The committed files of ``rev`` under ``dest``."""
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(side_dir: str, workload: str, seed: int, seconds: int,
             trace: int) -> dict:
    """One fxbench invocation: metrics, info lines and the JSON verdict."""
    cmd = [sys.executable, "fxbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    metrics, info, summary = {}, {}, {}
    for line in p.stdout.splitlines():
        parts = line.split(" ", 2)
        if parts[0] == "metric" and len(parts) == 3:
            metrics[parts[1]] = float(parts[2].split()[0])
        elif parts[0] == "info" and len(parts) == 3:
            info[parts[1]] = parts[2]
        elif line.startswith("{"):
            summary = json.loads(line)
    if p.returncode != 0 or not summary:
        sys.stderr.write(p.stderr[-2000:])
    return {"seed": seed, "returncode": p.returncode,
            "correct": summary.get("correct", False),
            "steal_frac": float(info.get("steal_frac", "nan")),
            "metrics": metrics, "info": info}


def directions(bench: dict) -> dict[str, str]:
    """Metric name -> "lower" or "higher"."""
    out = {"fail_frac": "lower"}
    for m in bench["end_to_end"] + bench["per_layer"]:
        out[m["name"]] = m["better"]
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[dict], better: dict[str, str]) -> dict:
    """Per metric: each side's quartiles, the median difference, the
    base's quartile spread and the change's wins over the pairs."""
    names = sorted(set.intersection(*(set(p[s]["metrics"])
                                      for p in pairs for s in SIDES)))
    out = {}
    for name in names:
        base = [p["base"]["metrics"][name] for p in pairs]
        chg = [p["change"]["metrics"][name] for p in pairs]
        sign = -1.0 if better.get(name, "lower") == "lower" else 1.0
        wins = sum(1 for b, c in zip(base, chg) if sign * (c - b) > 0)
        bq, cq = quartiles(base), quartiles(chg)
        diff = cq[1] - bq[1]
        spread = bq[2] - bq[0]
        out[name] = {
            "base": bq, "change": cq, "median_diff": diff,
            "median_ratio": cq[1] / bq[1] if bq[1] else None,
            "base_iqr": spread, "wins": wins, "pairs": len(pairs),
            "gain": (wins >= 0.9 * len(pairs) and sign * diff > 0
                     and abs(diff) > spread),
        }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base-rev", default="HEAD")
    ap.add_argument("--out", help="write every run and the summary here")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    base_dir = tempfile.mkdtemp(prefix="fxbench-ab-base-")
    dirs = {"base": base_dir, "change": ROOT}
    pairs: list[dict] = []
    try:
        export_revision(args.base_rev, base_dir)
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                r = run_once(dirs[side], args.workload, seed,
                             bench["run_seconds"], args.trace)
                pair[side] = r
                shown = " ".join(f"{k}={v:g}" for k, v in
                                 sorted(r["metrics"].items()))
                print(f"run pair={i} seed={seed} side={side} "
                      f"correct={r['correct']} "
                      f"steal_frac={r['steal_frac']:g} {shown}", flush=True)
            pairs.append(pair)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)

    summary = summarize(pairs, directions(bench))
    print(f"summary workload={args.workload} pairs={len(pairs)} "
          f"seeds={args.first_seed}..{args.first_seed + len(pairs) - 1}")
    for name, s in summary.items():
        (b1, b2, b3), (c1, c2, c3) = s["base"], s["change"]
        ratio = ("" if s["median_ratio"] is None
                 else f" ratio={s['median_ratio']:.3f}")
        print(f"metric {name} base={b2:g} [{b1:g}, {b3:g}] "
              f"change={c2:g} [{c1:g}, {c3:g}] diff={s['median_diff']:+g}"
              f"{ratio} base_iqr={s['base_iqr']:g} "
              f"wins={s['wins']}/{s['pairs']} gain={s['gain']}")
    steal = [p[s]["steal_frac"] for p in pairs for s in SIDES]
    print(f"steal_frac max={max(steal):g} median={statistics.median(steal):g}")
    print(f"correct base={sum(p['base']['correct'] for p in pairs)}"
          f"/{len(pairs)} change={sum(p['change']['correct'] for p in pairs)}"
          f"/{len(pairs)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"args": vars(args), "pairs": pairs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
