"""Regenerate queries/_gate.py — the staleness-aware driver-gate ledger.

Run at the START of each round, before editing any code (the previous
round's driver checked the code as committed at round end, so "current
implementation hash" == "hash the driver verified").

Semantics per declared query, latest-check-wins across every
CORRECTNESS_r*.json:
- latest check green  → gate entry ``(round, impl_hash)``. If the
  ledger already stamps that same round, the stored hash is PRESERVED
  (no new driver row since the stamp — re-hashing now would launder a
  mid-round rewrite into "fresh").
- latest check red    → entry removed; the lane sorts back into the
  sampled prefix until the driver re-greens it.
- never checked       → no entry (new queries auto-prioritize).

``all_queries()`` additionally un-gates any lane whose CURRENT
implementation hash differs from the stored one, and orders the gated
remainder by stamp round ascending — the 50-lane driver sample rotates
through changed lanes first, then the stalest greens.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

GATE_PATH = os.path.join(ROOT, "data_timeseries_java_spark", "queries",
                         "_gate.py")


def latest_checks() -> dict[str, tuple[int, bool]]:
    """name -> (latest checked round, green at that check)."""
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        for name, row in json.load(open(path)).items():
            green = bool(
                row.get("rows_match") and row.get("schema_match")
                and row.get("err") is None
                and row.get("hash_match") is not False)
            prev = latest.get(name)
            if prev is None or rnd >= prev[0]:
                latest[name] = (rnd, green)
    return latest


def load_old_gate() -> dict[str, tuple[int, str]]:
    if not os.path.exists(GATE_PATH):
        return {}
    ns: dict = {}
    exec(compile(open(GATE_PATH).read(), GATE_PATH, "exec"), ns)
    return dict(ns["GATE"])


def merge(checks: dict[str, tuple[int, bool]],
          old: dict[str, tuple[int, str]],
          queries: dict,
          oracles: dict[str, str]) -> dict[str, tuple[int, str]]:
    """The pure stamp logic: post-merge ledger from latest-wins checks
    plus the previous ledger. Phase-independent — callable on the live
    files at ANY point in the round lifecycle (tests assert invariants
    on this result instead of on the on-disk ledger, which is only
    consistent with the CORRECTNESS set right after ``main()`` runs —
    VERDICT r13 #1)."""
    from data_timeseries_java_spark.queries._hash import impl_hash

    max_round = max((r for r, _ in checks.values()), default=0)
    gate: dict[str, tuple[int, str]] = {}
    for name, (rnd, green) in sorted(checks.items()):
        if not green or name not in queries:
            continue
        if name in old and old[name][0] == rnd:
            gate[name] = old[name]
        elif rnd == max_round:
            # a fresh row from the newest CORRECTNESS file — the
            # current source is what the driver just verified
            gate[name] = (rnd, impl_hash(queries[name],
                                         oracles.get(name, "")))
        # else: green long ago but absent from the ledger (deliberately
        # un-gated). Stamping CURRENT hashes at an OLD round would launder
        # unverified code into "fresh"; stay ungated until the driver
        # re-greens it.
    return gate


def write_gate(gate: dict[str, tuple[int, str]]) -> None:
    lines = [
        '"""Driver-gate ledger — GENERATED by scripts/update_driver_gated.py.',
        "",
        "GATE maps query name -> (last green driver-checked round,",
        "implementation hash at that check). all_queries() un-gates on",
        "hash mismatch and orders gated lanes by round ascending. Do not",
        'edit by hand."""',
        "",
        "GATE = {",
    ]
    for name, (rnd, h) in sorted(gate.items()):
        lines.append(f'    "{name}": ({rnd}, "{h}"),')
    lines.append("}")
    with open(GATE_PATH, "w") as f:
        f.write("\n".join(lines) + "\n")


def main() -> None:
    from data_timeseries_java_spark.queries import (_registry_queries,
                                                    all_oracles)

    queries = _registry_queries()
    oracles = all_oracles()
    old = load_old_gate()
    gate = merge(latest_checks(), old, queries, oracles)

    write_gate(gate)

    kept = sum(1 for n in gate if n in old and gate[n] == old[n])
    print(f"GATE <- {len(gate)} entries ({kept} preserved, "
          f"{len(gate) - kept} stamped, "
          f"{len(queries) - len(gate)} ungated of {len(queries)})")


if __name__ == "__main__":
    main()
