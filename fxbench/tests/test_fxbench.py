"""Tests of the benchmark's own pieces (no Spark needed).

    python -m pytest fxbench/tests -q
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import oracle  # noqa: E402
from gen import TickSpec, make_ticks, write_ticks  # noqa: E402
from stats import median, tail, tail_percentile  # noqa: E402

SMALL = TickSpec(n_instruments=5, n_blocks=2, duration_s=2 * 3600,
                 ticks_per_s=0.2, gap_frac=0.05)


def _bytes(tmp_path, seed: int, name: str) -> bytes:
    p = tmp_path / name
    write_ticks(make_ticks(SMALL, seed), str(p), row_groups=4)
    return p.read_bytes()


def test_generator_is_byte_identical_per_seed(tmp_path):
    assert _bytes(tmp_path, 7, "a.parquet") == _bytes(tmp_path, 7, "b.parquet")


def test_generator_differs_across_seeds(tmp_path):
    assert _bytes(tmp_path, 7, "a.parquet") != _bytes(tmp_path, 8, "b.parquet")


def test_generator_shape():
    t = make_ticks(SMALL, 3)
    assert t.column_names == ["key", "event_time", "bid", "ask", "is_live"]
    ms = t["event_time"].cast("int64").to_numpy()
    assert (ms[1:] >= ms[:-1]).all()                      # time-ordered
    assert set(t["key"].to_pylist()) <= set(SMALL.keys())
    assert min(t["bid"].to_pylist()) > 0


@pytest.fixture(scope="module")
def oracle_rows(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ticks") / "t.parquet")
    write_ticks(make_ticks(SMALL, 11), path, row_groups=2)
    con = oracle.connect(1)
    rets = oracle.returns(con, [path], SMALL.keys(), 60_000)
    corr = oracle.correlations(con, rets, 600_000, 300_000)
    must, optional = oracle.expected(corr, 0.0, True)
    return rets, must, optional


def test_oracle_accepts_its_own_result(oracle_rows):
    rets, must, optional = oracle_rows
    assert len(must) > 0
    assert oracle.compare_correlations(must.copy(), must, optional) == []
    assert oracle.compare_returns(rets.copy(), rets) == []


def test_oracle_rejects_a_perturbed_value(oracle_rows):
    _, must, optional = oracle_rows
    got = must.copy()
    got.iloc[len(got) // 2, got.columns.get_loc("value")] += 1e-3
    assert oracle.compare_correlations(got, must, optional)


@pytest.mark.parametrize("bad", [float("nan"), None])
def test_oracle_rejects_a_nan_or_null_value(oracle_rows, bad):
    _, must, optional = oracle_rows
    got = must.copy().astype({"value": object})
    got.iloc[len(got) // 2, got.columns.get_loc("value")] = bad
    assert oracle.compare_correlations(got, must, optional)


def test_oracle_rejects_a_nan_return(oracle_rows):
    rets, _, _ = oracle_rows
    got = rets.copy()
    got.iloc[3, got.columns.get_loc("value")] = float("nan")
    assert oracle.compare_returns(got, rets)


def test_oracle_rejects_a_missing_or_extra_row(oracle_rows):
    _, must, optional = oracle_rows
    assert oracle.compare_correlations(must.iloc[1:], must, optional)
    extra = must.iloc[:1].copy()
    extra["key2"] = "ZZ"
    import pandas as pd
    assert oracle.compare_correlations(pd.concat([must, extra]), must,
                                       optional)


def test_oracle_rejects_a_perturbed_return(oracle_rows):
    rets, _, _ = oracle_rows
    got = rets.copy()
    got.iloc[3, got.columns.get_loc("value")] += 1e-4
    assert oracle.compare_returns(got, rets)


def test_boundary_pairs_are_optional():
    import pandas as pd
    corr = pd.DataFrame({"w_ms": [0, 0], "key1": ["A", "A"],
                         "key2": ["B", "C"], "r": [0.5, 0.9], "n": [5, 5],
                         "is_nan": [False, False]})
    must, optional = oracle.expected(corr, 0.5, False)
    assert list(must["key2"]) == ["C"] and optional == {(0, "A", "B")}
    got = corr.rename(columns={"r": "value"})
    assert oracle.compare_correlations(got, must, optional) == []
    assert oracle.compare_correlations(got.iloc[1:], must, optional) == []


@pytest.mark.parametrize("n,p", [(100, 90), (30, 66), (20, 50), (11, 9),
                                 (1000, 99)])
def test_tail_percentile_known_values(n, p):
    assert tail_percentile(n) == p


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(11, 400):
        p = tail_percentile(n)
        assert n - math.ceil(p * n / 100) >= 10
        assert n - math.ceil((p + 1) * n / 100) < 10


def test_tail_falls_back_to_max_when_too_few_samples():
    assert tail_percentile(10) is None
    assert tail([3.0, 1.0, 2.0]) == (100, 3.0)
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90, 90.0)
    assert median(xs) == 50.5
