"""Staleness-aware driver gating (VERDICT r12 #1).

The driver checks a 50-query prefix of ``all_queries()`` each round;
the ordering rule is the whole mechanism, so it gets its own pins:

1. lanes with no valid gate entry (never checked / red at latest check
   / implementation hash changed since the stamped green row) sort
   FIRST, in registry order;
2. gated lanes follow, ordered by stamp round ASCENDING (stalest
   external verification first), ties by name;
3. an implementation change — here simulated by corrupting a stored
   hash — un-gates exactly that lane.
"""

from __future__ import annotations

import pytest

import data_timeseries_java_spark.queries as Q
from data_timeseries_java_spark.queries._hash import impl_hash


@pytest.fixture
def fake_ledger(monkeypatch):
    """Install a fabricated gate ledger and clear the order memo."""
    def install(gate):
        monkeypatch.setattr(Q, "_gate_ledger", lambda: gate)
        Q._sample_order.cache_clear()
    yield install
    Q._sample_order.cache_clear()


def _true_hashes():
    reg = Q._registry_queries()
    oracles = Q.all_oracles()
    return reg, {n: impl_hash(reg[n], oracles.get(n, "")) for n in reg}


def test_changed_and_new_lanes_sort_first_in_registry_order(fake_ledger):
    reg, hashes = _true_hashes()
    names = list(reg)
    new_lane, changed_lane = names[7], names[3]
    gate = {n: (5, hashes[n]) for n in names if n != new_lane}
    gate[changed_lane] = (5, "0" * 16)  # simulated rewrite after green
    fake_ledger(gate)

    ordered = list(Q.all_queries())
    want_ungated = [n for n in names if n in (changed_lane, new_lane)]
    assert ordered[:2] == want_ungated
    assert Q.ungated_names() == want_ungated
    # everything else is gated and present exactly once
    assert sorted(ordered) == sorted(names)


def test_gated_lanes_rotate_stalest_first(fake_ledger):
    reg, hashes = _true_hashes()
    names = list(reg)
    # stamp rounds 1..4 cyclically — ordering must be by round then name
    gate = {n: (1 + i % 4, hashes[n]) for i, n in enumerate(names)}
    fake_ledger(gate)

    ordered = list(Q.all_queries())
    assert Q.ungated_names() == []
    expect = sorted(names, key=lambda n: (gate[n][0], n))
    assert ordered == expect


def test_red_latest_check_stays_ungated():
    """update_driver_gated's merge drops lanes red at their latest
    check even when an earlier round was green.

    Runs the MERGE IN-MEMORY on the live CORRECTNESS files + ledger and
    asserts the POST-merge invariants (VERDICT r13 #1) — the on-disk
    ledger is only consistent with the CORRECTNESS set right after the
    regeneration script runs, so asserting on it directly went red in
    every driver-drop→round-start window (the staleness rotation
    guarantees re-checks at rounds newer than the stamps)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "udg", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "scripts",
            "update_driver_gated.py"))
    udg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(udg)
    # latest_checks is latest-wins: feed it via its own parsing contract
    checks = udg.latest_checks()
    assert checks, "no CORRECTNESS files found"
    gate = udg.merge(checks, udg.load_old_gate(),
                     Q._registry_queries(), Q.all_oracles())
    latest_round = max(r for r, _ in checks.values())
    # red-at-latest lanes never survive the merge (the test's purpose)
    for name, (rnd, green) in checks.items():
        if not green:
            assert name not in gate, f"{name} red at latest check but gated"
    # every merged entry: green at latest check, stamped AT that check's
    # round, bounded by the newest CORRECTNESS round, well-formed hash
    for name, (rnd, h) in gate.items():
        assert checks[name][1], f"{name} gated but red at latest check"
        assert checks[name][0] == rnd
        assert rnd <= latest_round
        assert len(h) == 16


def test_real_ledger_hash_freshness():
    """With the generated ledger, a gated lane's stored hash matches
    the current implementation (otherwise it belongs in ungated) —
    guards against hand-edits of _gate.py drifting from the code."""
    from data_timeseries_java_spark.queries._gate import GATE

    reg, hashes = _true_hashes()
    stale = [n for n in GATE if n in reg and GATE[n][1] != hashes[n]]
    ungated = set(Q.ungated_names())
    assert all(n in ungated for n in stale), (
        f"hash-stale lanes not re-sampled: "
        f"{[n for n in stale if n not in ungated]}")


def test_update_script_round_flow(tmp_path, monkeypatch):
    """Simulated next-round flow for scripts/update_driver_gated.py:
    a fresh green row from the NEWEST round stamps (round, current
    hash); an older green row with no ledger entry stays un-gated
    (the laundering guard); a red latest row evicts; untouched
    entries are preserved byte-for-byte."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "udg2", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "scripts",
            "update_driver_gated.py"))
    udg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(udg)

    names = list(Q._registry_queries())
    keep, stamp, launder, evict = names[:4]
    g = {"rows_match": True, "schema_match": True, "err": None,
         "hash_match": True}
    r = {**g, "hash_match": False}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {keep: g, launder: g, evict: g, stamp: g}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {stamp: g, evict: r}))
    gate_path = tmp_path / "_gate.py"
    gate_path.write_text(
        "GATE = {\n"
        f'    "{keep}": (1, "feedfeedfeedfeed"),\n'
        f'    "{evict}": (1, "beefbeefbeefbeef"),\n'
        "}\n")
    monkeypatch.setattr(udg, "ROOT", str(tmp_path))
    monkeypatch.setattr(udg, "GATE_PATH", str(gate_path))
    udg.main()
    ns: dict = {}
    exec(gate_path.read_text(), ns)
    gate = ns["GATE"]
    assert gate[keep] == (1, "feedfeedfeedfeed")   # preserved verbatim
    assert gate[stamp][0] == 2 and len(gate[stamp][1]) == 16  # stamped
    assert launder not in gate                     # old green, no entry
    assert evict not in gate                       # red at latest check


def test_same_module_helper_edit_flips_hash(tmp_path, monkeypatch):
    """ADVICE r13 (medium): a Python-only helper in the defining query
    module, outside the query function's own source, must be part of
    impl_hash — editing the helper body (without touching the oracle)
    flips the lane's hash so it un-gates."""
    import importlib
    import sys

    from data_timeseries_java_spark.queries import _hash as H

    mod = tmp_path / "fake_query_mod.py"
    body = (
        "_SNAP = [1, 2, {snap}]\n"
        "def _helper(n):\n"
        "    return max(s for s in _SNAP if s <= n)\n"
        "def the_query(spark, sf_dir):\n"
        "    return _helper(7)\n")
    monkeypatch.syspath_prepend(str(tmp_path))

    def load_and_hash(snap):
        mod.write_text(body.format(snap=snap))
        for fn in (H._module_source, H._module_file, H._module_defs,
                   H._direct_deps, H._module_level_deps):
            fn.cache_clear()
        sys.modules.pop("fake_query_mod", None)
        m = importlib.import_module("fake_query_mod")
        return H.impl_hash(m.the_query, "SELECT 1 AS x")

    h_a, h_b = load_and_hash(3), load_and_hash(4)
    for fn in (H._module_source, H._module_file, H._module_defs,
               H._direct_deps, H._module_level_deps):
        fn.cache_clear()
    sys.modules.pop("fake_query_mod", None)
    # the query function's own source and the oracle are identical in
    # both variants — only the transitively-reached constant changed
    assert h_a != h_b


def test_helper_resolution_reaches_transitive_helpers():
    """A query's same-module helpers, and the constants those helpers
    read, are folded into its hash: the wide-universe headline calls
    only ``_wide_corr_screen``, which reaches ``_wide_ticks`` and the
    wide window/key constants."""
    import inspect

    import data_timeseries_java_spark.queries.fx as S
    from data_timeseries_java_spark.queries._hash import (
        _same_module_helpers)

    src = inspect.getsource(S.QUERIES["fx_corr_headline"])
    names = {n for n, _ in _same_module_helpers(S.__name__, src)}
    assert {"N_HEADLINE_KEYS", "_wide_corr_screen", "_wide_ticks",
            "N_WIDE_KEYS", "WIDE_CORR_WINDOW", "WIDE_RES"} <= names
