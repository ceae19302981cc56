"""Per-key recursive series streams (EMA, Holt, Kalman, GARCH, MACD)
on ``applyInPandasWithState``.

Each operator holds its recursion's running state per key; each
micro-batch folds its rows in event-time order and emits the updated
series. For sources that interleave a key's rows out of order ACROSS
micro-batches, `streaming/reorder.reordered_ema` runs the same
recursion behind a watermark-buffered reorder stage (pinned by the
`ema_ooo_stream_replay` driver gate).
Order caveat for the plain folds here (inherent to the recursions):
rows are folded in event-time order within a batch, and batches are
assumed ordered per key; guard upstream with a watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

EMA_OUT_SCHEMA = "key string, event_time timestamp, price double, ema double"
_STATE_SCHEMA = "ema double"


def _ema_batch(pdf, prev: float | None, alpha: float, price_col: str, key):
    """Fold one micro-batch through the EMA recursion with pandas' ewm —
    the same vectorization the batch ``ema`` operator uses, carrying the
    cross-batch state by prepending the previous EMA as a synthetic
    seed row (ewm with adjust=False then continues the exact recursion
    y_t = alpha*x_t + (1-alpha)*y_{t-1}) and dropping it from the output.

    Returns (out_frame, new_prev)."""
    import pandas as pd

    pdf = pdf.sort_values("event_time")
    prices = pdf[price_col].astype("float64")
    if prev is None:
        series = prices
        skip = 0
    else:
        series = pd.concat([pd.Series([prev]), prices], ignore_index=True)
        skip = 1
    ema = series.ewm(alpha=alpha, adjust=False).mean().iloc[skip:]
    new_prev = float(ema.iloc[-1]) if len(ema) else prev
    out = pd.DataFrame({
        "key": key,
        "event_time": pdf["event_time"].to_numpy(),
        "price": prices.to_numpy(),
        "ema": ema.to_numpy(),
    })
    return out, new_prev


def streaming_ema_applyinpandas(ticks: DataFrame, alpha: float = 0.2,
                                price_col: str = "ask",
                                watermark: str = "0 seconds") -> DataFrame:
    """Per-key streaming EMA over tick prices (ema_0 = first price)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def process(key, pdf_iter, state: GroupState):
        from data_timeseries_java_spark.streaming.foldutil import (
            whole_batch,
        )
        (k,) = key
        prev = state.get[0] if state.exists else None
        # Whole-batch concat before the fold (foldutil docs): chunk-wise
        # sorting would fold rows out of order across chunk boundaries.
        pdf = whole_batch(pdf_iter, "event_time")
        if pdf is not None:
            out, prev = _ema_batch(pdf, prev, alpha, price_col, k)
            yield out
        if prev is not None:
            state.update((prev,))

    return (ticks
            .withWatermark("event_time", watermark)
            .groupBy("key")
            .applyInPandasWithState(
                process, EMA_OUT_SCHEMA, _STATE_SCHEMA, "append",
                GroupStateTimeout.NoTimeout))


def _recursive_series_stream(ticks: DataFrame, price_col: str,
                             out_extra: str, state_schema: str,
                             init_state, step,
                             watermark: str = "0 seconds") -> DataFrame:
    """Shared shape for per-key recursive series streams (EMA / Holt /
    Kalman): sort each micro-batch by event time, fold rows through
    ``step`` carrying the tuple state across batches, emit one output
    row per input row. Files/batches must arrive in per-key time order
    (the replay harness's time-range bucketing) — the same contract as
    :func:`streaming_ema_applyinpandas`.

    ``init_state(z0) -> state`` seeds on the key's first-ever row;
    ``step(state, z) -> (state, extras_tuple)`` advances one row."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (f"key string, event_time timestamp, "
                  f"price double, {out_extra}")

    def process(key, pdf_iter, state: GroupState):
        from data_timeseries_java_spark.streaming.foldutil import (
            whole_batch,
        )
        (k,) = key
        st = tuple(state.get) if state.exists else None
        # Whole-batch concat before the fold (foldutil docs).
        pdf = whole_batch(pdf_iter, "event_time")
        if pdf is not None:
            prices = pdf[price_col].astype("float64").to_numpy()
            rows = []
            for z in prices:
                if st is None:
                    st, extras = init_state(float(z))
                else:
                    st, extras = step(st, float(z))
                rows.append(extras)
            out = pd.DataFrame({
                "key": k,
                "event_time": pdf["event_time"].to_numpy(),
                "price": prices,
            })
            for i, name in enumerate(
                    c.split()[0] for c in out_extra.split(", ")):
                out[name] = [r[i] for r in rows]
            yield out
        if st is not None:
            state.update(st)

    return (ticks
            .withWatermark("event_time", watermark)
            .groupBy("key")
            .applyInPandasWithState(
                process, out_schema, state_schema, "append",
                GroupStateTimeout.NoTimeout))


def holt_spec(alpha: float = 0.25, beta: float = 0.125):
    """The Holt recursion as a reusable (init, step, out_extra,
    state_schema) spec — shared verbatim by the plain fold stream and
    the watermark-buffered ``reorder.reordered_series`` adapter, so
    both paths run the identical IEEE-double expression order."""
    one_m_alpha, one_m_beta = 1.0 - alpha, 1.0 - beta

    def init(z):
        return (z, 0.0), (z, 0.0)

    def step(st, z):
        lv, tr = st
        lv_new = alpha * z + one_m_alpha * (lv + tr)
        tr = beta * (lv_new - lv) + one_m_beta * tr
        return (lv_new, tr), (lv_new, tr)

    return init, step, "level double, trend double", "lv double, tr double"


def streaming_holt(ticks: DataFrame, alpha: float = 0.25,
                   beta: float = 0.125, price_col: str = "price",
                   watermark: str = "0 seconds") -> DataFrame:
    """Streaming Holt linear-trend smoothing — the streaming face of
    ``operators/ema.holt_linear`` (same recursion, same dyadic-constant
    bit-exactness contract), state = (level, trend) per key."""
    init, step, out_extra, state_schema = holt_spec(alpha, beta)
    return _recursive_series_stream(
        ticks, price_col, out_extra, state_schema, init, step, watermark)


def kalman_spec(q: float = 0.001, r: float = 0.01):
    """The 1-D Kalman local-level recursion as a reusable spec (see
    :func:`holt_spec` for the sharing contract)."""

    def init(z):
        return (z, 1.0), (z, 0.0, 1.0)

    def step(st, z):
        lv, p = st
        p_pred = p + q
        k = p_pred / (p_pred + r)
        lv = lv + k * (z - lv)
        p = (1.0 - k) * p_pred
        return (lv, p), (lv, k, p)

    return (init, step,
            "kf_level double, kf_gain double, kf_var double",
            "lv double, p double")


def streaming_kalman(ticks: DataFrame, q: float = 0.001, r: float = 0.01,
                     price_col: str = "price",
                     watermark: str = "0 seconds") -> DataFrame:
    """Streaming 1-D Kalman local-level filter — the streaming face of
    ``operators/ema.kalman_local_level`` (same predict/gain/update
    expression order), state = (level, variance) per key."""
    init, step, out_extra, state_schema = kalman_spec(q, r)
    return _recursive_series_stream(
        ticks, price_col, out_extra, state_schema, init, step, watermark)


def garch_spec(alpha: float = 0.125, beta: float = 0.75,
               omega: float = 0.000001):
    """The GARCH(1,1) filtering recursion as a reusable spec (see
    :func:`holt_spec` for the sharing contract)."""
    import math

    def init(z):
        v = z * z
        return (z, v), (v, math.sqrt(v))

    def step(st, z):
        prev_r, v = st
        v = omega + alpha * (prev_r * prev_r) + beta * v
        return (z, v), (v, math.sqrt(v))

    return (init, step, "garch_var double, garch_vol double",
            "pr double, v double")


def streaming_garch(ticks: DataFrame, alpha: float = 0.125,
                    beta: float = 0.75, omega: float = 0.000001,
                    price_col: str = "price",
                    watermark: str = "0 seconds") -> DataFrame:
    """Streaming GARCH(1,1) filtering — the streaming face of
    ``operators/ema.garch_vol``; state = (prev_return, variance)."""
    init, step, out_extra, state_schema = garch_spec(alpha, beta, omega)
    return _recursive_series_stream(
        ticks, price_col, out_extra, state_schema, init, step, watermark)


def drawdown_spec():
    """The running-peak drawdown recursion as a reusable spec (see
    :func:`holt_spec` for the sharing contract)."""

    def init(z):
        dd = (z - z) / z if z > 0 else 0.0
        return (z,), (z, dd)

    def step(st, z):
        (peak,) = st
        peak = peak if peak >= z else z
        dd = (peak - z) / peak if peak > 0 else 0.0
        return (peak,), (peak, dd)

    return init, step, "peak double, dd double", "pk double"


def streaming_drawdown(ticks: DataFrame, price_col: str = "price",
                       watermark: str = "0 seconds") -> DataFrame:
    """Streaming running-peak drawdown — the per-row face of the batch
    ``operators/resample.max_drawdown`` aggregate; state = (peak,).
    Emits the running peak and the instantaneous peak-to-now drawdown;
    a batch max over the sink reproduces the batch aggregate exactly."""
    init, step, out_extra, state_schema = drawdown_spec()
    return _recursive_series_stream(
        ticks, price_col, out_extra, state_schema, init, step, watermark)


def streaming_macd(ticks: DataFrame, span_fast: int = 12,
                   span_slow: int = 26, span_signal: int = 9,
                   price_col: str = "price",
                   watermark: str = "0 seconds") -> DataFrame:
    """Streaming MACD — the streaming face of ``operators/ema.macd``:
    the three adjust=False EMA recursions carried as a (ema_fast,
    ema_slow, signal) state tuple per key. Same α = 2/(span+1) doubles
    and same y' = (1−α)·y + α·x expression order as the batch pandas
    path (bit-identical — the replay gate hash-matches the batch
    `fx_macd` RECURSIVE-CTE oracle)."""
    init, step, out_extra, state_schema = macd_spec(
        span_fast, span_slow, span_signal)
    return _recursive_series_stream(
        ticks, price_col, out_extra, state_schema, init, step, watermark)


def macd_spec(span_fast: int = 12, span_slow: int = 26,
              span_signal: int = 9):
    """The MACD triple-EMA recursion as a reusable spec (see
    :func:`holt_spec` for the sharing contract)."""
    af = 2.0 / (span_fast + 1.0)
    as_ = 2.0 / (span_slow + 1.0)
    ag = 2.0 / (span_signal + 1.0)

    def init(z):
        return (z, z, 0.0), (0.0, 0.0, 0.0)

    def step(st, z):
        f, s, sig = st
        f = (1.0 - af) * f + af * z
        s = (1.0 - as_) * s + as_ * z
        macd_v = f - s
        sig = (1.0 - ag) * sig + ag * macd_v
        return (f, s, sig), (macd_v, sig, macd_v - sig)

    return (init, step, "macd double, signal double, histogram double",
            "f double, s double, sig double")
