"""Independent DuckDB oracle for the FX pipeline.

Recomputes gap-fill, carry-forward, log returns and sliding-window
Pearson correlation in SQL straight from the tick parquet, and compares
the engine's outputs against it. Nothing here imports the engine.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

VALUE_TOL = 1e-6        # |r| agreement between the two engines
BOUNDARY_TOL = 1e-9     # pairs this close to min_corr may go either way


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    return con


def returns(con, tick_files: list[str], keys: list[str],
            res_ms: int) -> pd.DataFrame:
    """(key, t_ms, value) log returns of gap-filled, carried-forward
    candles: windows where any instrument ticked x the universe; a gap
    candle closes at the last live close (0 before the first), each
    candle opens at the previous close; non-positive prices drop."""
    con.register("universe", pa.table({"key": keys}))
    files = ", ".join(f"'{p}'" for p in tick_files)
    return con.execute(f"""
        WITH t AS (
            SELECT key, epoch_ms(event_time) AS ms, ask
            FROM read_parquet([{files}])),
        live AS (
            SELECT key, (ms // {res_ms}) * {res_ms} AS ws,
                   arg_max(ask, ms) AS close_ask
            FROM t GROUP BY ALL),
        c AS (
            SELECT u.key, w.ws, l.close_ask
            FROM (SELECT DISTINCT ws FROM live) w CROSS JOIN universe u
            LEFT JOIN live l ON l.key = u.key AND l.ws = w.ws),
        filled AS (
            SELECT key, ws, coalesce(close_ask, last_value(close_ask IGNORE NULLS)
                OVER (PARTITION BY key ORDER BY ws ROWS BETWEEN UNBOUNDED
                      PRECEDING AND 1 PRECEDING), 0.0) AS close_ask
            FROM c),
        opened AS (
            SELECT key, ws, close_ask,
                   coalesce(lag(close_ask) OVER (PARTITION BY key ORDER BY ws),
                            close_ask) AS open_ask
            FROM filled)
        SELECT key, ws + {res_ms} - 1 AS t_ms, ln(close_ask / open_ask) AS value
        FROM opened WHERE open_ask > 0 AND close_ask > 0
        ORDER BY key, t_ms""").df()


def correlations(con, rets: pd.DataFrame, window_ms: int, slide_ms: int,
                 windows: list[int] | None = None) -> pd.DataFrame:
    """(w_ms, key1, key2, r, n, is_nan) for every pair with >= 2 aligned
    points in each sliding window (restricted to ``windows`` start
    times when given). ``r`` is NULL where a side has zero variance."""
    con.register("rets", rets)
    only = ""
    if windows is not None:
        con.register("pick", pd.DataFrame({"w": np.asarray(windows, np.int64)}))
        only = "WHERE w IN (SELECT w FROM pick)"
    return con.execute(f"""
        WITH wr AS (
            SELECT * FROM (
                SELECT key, t_ms, value,
                       (t_ms // {slide_ms}) * {slide_ms} - i * {slide_ms} AS w
                FROM rets, range(0, {window_ms // slide_ms}) g(i)) {only})
        SELECT a.w AS w_ms, a.key AS key1, b.key AS key2,
               CASE WHEN var_pop(a.value) = 0 OR var_pop(b.value) = 0
                    THEN NULL ELSE corr(a.value, b.value) END AS r,
               count(*) AS n,
               (var_pop(a.value) = 0 OR var_pop(b.value) = 0) AS is_nan
        FROM wr a JOIN wr b ON a.w = b.w AND a.t_ms = b.t_ms AND a.key < b.key
        GROUP BY ALL HAVING count(*) >= 2""").df()


def expected(corr: pd.DataFrame, min_corr: float,
             propagate_nan: bool) -> tuple[pd.DataFrame, set]:
    """Apply the emission policy: (rows that must appear, keys of rows
    that may appear or not because |r| sits on the min_corr boundary)."""
    r = corr["r"]
    absr = r.abs()
    edge = (~corr["is_nan"]) & ((absr - min_corr).abs() <= BOUNDARY_TOL)
    keep = (~corr["is_nan"]) & (absr >= min_corr) & ~edge
    if propagate_nan:
        keep |= corr["is_nan"]
    must = corr[keep].copy()
    must["value"] = np.where(must["is_nan"], 1.0, must["r"])
    optional = set(zip(corr.loc[edge, "w_ms"], corr.loc[edge, "key1"],
                       corr.loc[edge, "key2"]))
    return must[["w_ms", "key1", "key2", "value", "n", "is_nan"]], optional


def _differ(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise: the values disagree by more than VALUE_TOL, or either is
    NaN/null (a plain ``abs(a - b) > tol`` test is False on NaN)."""
    x = a.to_numpy(dtype=np.float64, na_value=np.nan)
    y = b.to_numpy(dtype=np.float64, na_value=np.nan)
    return pd.Series(~np.isclose(x, y, rtol=0.0, atol=VALUE_TOL),
                     index=a.index)


def compare_correlations(got: pd.DataFrame, must: pd.DataFrame,
                         optional: set, limit: int = 5) -> list[str]:
    """Mismatches between engine rows ``got`` (w_ms, key1, key2, value,
    n, is_nan) and the oracle's rows; empty when they agree."""
    errs: list[str] = []
    g = got.set_index(["w_ms", "key1", "key2"])
    m = must.set_index(["w_ms", "key1", "key2"])
    if not g.index.is_unique:
        errs.append("engine emitted a (window, pair) more than once")
        g = g[~g.index.duplicated()]
    missing = m.index.difference(g.index)
    extra = [k for k in g.index.difference(m.index) if k not in optional]
    errs += [f"missing pair {k}" for k in list(missing)[:limit]]
    errs += [f"unexpected pair {k}" for k in extra[:limit]]
    both = m.index.intersection(g.index)
    a, b = g.loc[both], m.loc[both]
    bad = _differ(a["value"], b["value"]) \
        | (a["n"].astype(np.int64) != b["n"].astype(np.int64)) \
        | (a["is_nan"].astype(bool) != b["is_nan"].astype(bool))
    for k in list(a.index[bad.to_numpy()])[:limit]:
        errs.append(f"pair {k}: engine {a.loc[k].to_dict()} "
                    f"oracle {b.loc[k].to_dict()}")
    if len(missing) + len(extra) + int(bad.sum()) > limit:
        errs.append(f"{len(missing)} missing, {len(extra)} unexpected, "
                    f"{int(bad.sum())} differing rows in total")
    return errs


def compare_returns(got: pd.DataFrame, want: pd.DataFrame,
                    limit: int = 5) -> list[str]:
    """Mismatches between engine returns and oracle returns, both as
    (key, t_ms, value)."""
    errs: list[str] = []
    g = got.set_index(["key", "t_ms"]).sort_index()
    w = want.set_index(["key", "t_ms"]).sort_index()
    if not g.index.equals(w.index):
        miss = w.index.difference(g.index)
        extra = g.index.difference(w.index)
        errs.append(f"return points differ: {len(miss)} missing "
                    f"(e.g. {list(miss[:limit])}), {len(extra)} unexpected "
                    f"(e.g. {list(extra[:limit])})")
        both = w.index.intersection(g.index)
        g, w = g.loc[both], w.loc[both]
    diff = _differ(g["value"], w["value"])
    if diff.any():
        errs.append(f"{int(diff.sum())} return values differ, e.g. "
                    f"{list(g.index[diff.to_numpy()][:limit])}")
    return errs
