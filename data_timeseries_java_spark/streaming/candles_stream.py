"""Streaming OHLC candles: watermarked window agg, and a keyed stateful
operator for complete (gap-filled, carry-forward) candles.

Streaming equivalents of ``operators/candles.py`` (W1+A3 / A1+A2+A4 /
W3, SURVEY.md §2.2-2.3):

- :func:`streaming_ohlc_candles` — the batch ``ohlc_candles`` over
  watermarked ticks (minus its all-null ``open``): the same aggregate,
  which Spark runs incrementally in the JVM against a state store. The
  watermark replaces the reference's no-late-data stance with an
  explicit policy: rows later than the watermark are dropped; candles
  finalize (append mode) once the watermark passes window end. The
  streaming correlation pipeline (``streaming/pipeline.py``) builds on
  this aggregate and completes its candles per micro-batch with the
  batch ``complete_candles``.

- :func:`streaming_complete_candles` — ONE ``applyInPandasWithState``
  operator over raw ticks that owns the whole candle lifecycle per
  instrument: partial-candle accumulation for open windows, window
  finalization at the watermark, interior gap-window synthesis, and
  carry-forward close→open, for sinks that want complete candles as a
  stream of their own. Spark disallows a second stateful operator
  after a streaming aggregation in append mode, and the reference's
  accumulating-panes trick (``CompleteTimeSeriesAggCombiner.java:47-227``)
  is precisely "keyed state across windows" — so the state store is the
  honest home for all of it. State per key: the open windows' partial
  candles + the last emitted close; O(keys x open windows), a few
  hundred bytes per instrument. It runs its fold in Python workers.

Semantics notes (all test-asserted):
- :func:`streaming_complete_candles` (per-key mode) synthesizes gap
  candles for INTERIOR missing windows of each key only; leading/
  trailing gaps need cross-key knowledge. For dense feeds (every
  instrument live in the first and last window) it matches batch.
- :func:`streaming_complete_candles_global` closes that divergence:
  window-activity marker rows (stateless fan-out over the instrument
  universe) give every key the reference's GLOBAL missing-key view
  (``DetectMissingTimeSeriesValuesCombiner.java:36-84``), so leading
  0.0-price gaps and trailing carry-forward gaps match the batch
  operator exactly — and globally-empty windows emit nothing.
- min/max in the flat streaming output carry prices only (the batch
  operator keeps whole ticks; the flat schema is what sinks want).
- RESTART of the keyed operators tightens the disorder horizon by one
  batch (the pipeline in ``streaming/pipeline.py``, which has no
  activity markers, does not): in-run, Spark filters late rows with
  the PREVIOUS batch's watermark (one-batch lag), but a query resumed
  from a checkpoint filters its first batch with the full committed
  watermark — so with delay 0, ticks arriving after a restart for a
  window the watermark has already entered (e.g. the window straddling
  the restart boundary, whose activity marker sits at w_end − 1 ms)
  are dropped, where the unrestarted run would have kept them. A
  stream of these operators that must survive restarts mid-window
  should set ``watermark`` to at least one resolution;
  the recovery driver gate (``queries/fx.q_recovery_stream_replay``)
  pins exactly this contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_timeseries_java_spark.operators.candles import ohlc_candles

CANDLE_OUT_SCHEMA = (
    "key string, window_start timestamp, window_end timestamp, "
    "open_time timestamp, open_bid double, open_ask double, "
    "close_time timestamp, close_bid double, close_ask double, "
    "min_ask double, max_ask double, min_bid double, max_bid double, "
    "is_live boolean"
)

# per-key state: carry-forward cursor + parallel arrays of open-window
# partial candles (flat struct — GroupState cannot hold maps); lv marks
# whether a window has seen a real tick (False = marker-only → gap)
STATE_SCHEMA = (
    "next_w long, last_time long, last_bid double, last_ask double, "
    "w_starts array<long>, cl_t array<long>, "
    "cl_bid array<double>, cl_ask array<double>, "
    "mn_ask array<double>, mx_ask array<double>, "
    "mn_bid array<double>, mx_bid array<double>, lv array<boolean>"
)


def streaming_ohlc_candles(ticks: DataFrame, resolution: str = "120 seconds",
                           watermark: str = "0 seconds") -> DataFrame:
    """Watermarked fixed-window OHLC aggregation (streaming W1+A3): the
    batch :func:`~data_timeseries_java_spark.operators.candles.ohlc_candles`
    over the watermarked ticks, minus its all-null ``open``."""
    return ohlc_candles(ticks.withWatermark("event_time", watermark),
                        resolution).drop("open")


def _resolution_ms(resolution: str) -> int:
    try:
        qty, unit = resolution.split()
        mult = {"millisecond": 1, "milliseconds": 1,
                "second": 1000, "seconds": 1000, "minute": 60_000,
                "minutes": 60_000, "hour": 3_600_000, "hours": 3_600_000,
                "day": 86_400_000, "days": 86_400_000,
                "week": 604_800_000, "weeks": 604_800_000}[unit]
        return int(qty) * mult
    except (ValueError, KeyError) as e:
        raise ValueError(
            f"duration {resolution!r} must be '<int> <unit>' with unit in "
            f"milliseconds/seconds/minutes/hours/days/weeks "
            f"(singular or plural)") from e


def streaming_complete_candles(ticks: DataFrame,
                               resolution: str = "120 seconds",
                               watermark: str = "0 seconds",
                               interior_gaps: bool = True) -> DataFrame:
    """Complete candles (gap-filled interior windows + carry-forward) as a
    single keyed stateful operator over raw ticks.

    ``interior_gaps=True`` (per-key mode): windows a key skips between
    two of its own ticks are synthesized as gap candles — correct when
    every window is globally active (dense feeds). The global variant
    (:func:`streaming_complete_candles_global`) passes False: window
    activity arrives as marker rows, so fabricating skipped windows
    would wrongly emit candles for windows NO instrument ticked in
    (batch emits nothing there)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    res_ms = _resolution_ms(resolution)

    def process(key, pdf_iter, state: GroupState):
        (k,) = key
        if state.exists:
            (next_w, last_time, last_bid, last_ask,
             w_starts, cl_t, cl_bid, cl_ask,
             mn_ask, mx_ask, mn_bid, mx_bid, lv) = state.get
            open_w = {
                w: [cl_t[i], cl_bid[i], cl_ask[i], mn_ask[i], mx_ask[i],
                    mn_bid[i], mx_bid[i], lv[i]]
                for i, w in enumerate(w_starts)
            }
        else:
            next_w = last_time = last_bid = last_ask = None
            open_w = {}

        # 1. fold this batch's rows into open-window partial candles.
        #    Marker rows (is_marker=True, from the global window-activity
        #    fan-out) only OPEN a window — a window that stays marker-only
        #    finalizes as a gap candle; a real tick upgrades it to live.
        for pdf in pdf_iter:
            t_ms = (pdf["event_time"].astype("datetime64[ns]").astype("int64")
                    // 1_000_000).to_numpy()
            bids = pdf["bid"].to_numpy()
            asks = pdf["ask"].to_numpy()
            marks = (pdf["is_marker"].to_numpy()
                     if "is_marker" in pdf.columns else None)
            for i in range(len(pdf)):
                w = int(t_ms[i]) // res_ms * res_ms
                if next_w is not None and w < next_w:
                    continue  # window already finalized (late within horizon)
                c = open_w.get(w)
                if marks is not None and marks[i]:
                    if c is None:
                        open_w[w] = [None, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, False]
                    continue
                if c is None or not c[7]:
                    open_w[w] = [int(t_ms[i]), float(bids[i]), float(asks[i]),
                                 float(asks[i]), float(asks[i]),
                                 float(bids[i]), float(bids[i]), True]
                else:
                    if t_ms[i] > c[0]:
                        c[0], c[1], c[2] = int(t_ms[i]), float(bids[i]), float(asks[i])
                    c[3] = min(c[3], float(asks[i]))
                    c[4] = max(c[4], float(asks[i]))
                    c[5] = min(c[5], float(bids[i]))
                    c[6] = max(c[6], float(bids[i]))

        # 2. finalize windows passed by the watermark, oldest first,
        #    synthesizing interior gap candles for skipped windows
        wm = state.getCurrentWatermarkMs()
        out = []

        def emit(w, ct, cb, ca, mna, mxa, mnb, mxb, live):
            nonlocal next_w, last_time, last_bid, last_ask
            if last_time is not None:
                ot, ob, oa = last_time, last_bid, last_ask
            else:
                ot, ob, oa = ct, cb, ca
            out.append((k, w, w + res_ms, ot, ob, oa, ct, cb, ca,
                        mna, mxa, mnb, mxb, live))
            next_w = w + res_ms
            last_time, last_bid, last_ask = ct, cb, ca

        def emit_gap(w):
            gt = w + res_ms - 1
            if last_time is not None:
                emit(w, gt, last_bid, last_ask,
                     last_ask, last_ask, last_bid, last_bid, False)
            else:
                # no live close ever seen: batch semantics keep the gap
                # row's 0.0 prices (complete_candles leaves close as-is)
                emit(w, gt, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, False)

        for w in sorted(open_w):
            if w + res_ms > wm:
                break
            # interior gaps since the previous emitted window (per-key
            # mode only — in marker mode every active window has an entry)
            if interior_gaps and next_w is not None:
                g = next_w
                while g < w:
                    if last_time is not None:
                        gt = g + res_ms - 1
                        emit(g, gt, last_bid, last_ask,
                             last_ask, last_ask, last_bid, last_bid, False)
                    g += res_ms
            c = open_w.pop(w)
            if c[7]:
                emit(w, c[0], c[1], c[2], c[3], c[4], c[5], c[6], True)
            else:
                emit_gap(w)

        # 3. persist remaining open windows + cursor; arm an event-time
        #    timeout at the oldest open window's end so the no-data final
        #    micro-batch (or any later watermark advance without rows for
        #    this key) re-invokes us to flush
        ws = sorted(open_w)
        state.update((
            next_w, last_time, last_bid, last_ask,
            ws,
            [open_w[w][0] for w in ws],
            [open_w[w][1] for w in ws],
            [open_w[w][2] for w in ws],
            [open_w[w][3] for w in ws],
            [open_w[w][4] for w in ws],
            [open_w[w][5] for w in ws],
            [open_w[w][6] for w in ws],
            [open_w[w][7] for w in ws],
        ))
        if ws:
            state.setTimeoutTimestamp(ws[0] + res_ms)

        cols = ["key", "window_start", "window_end",
                "open_time", "open_bid", "open_ask",
                "close_time", "close_bid", "close_ask",
                "min_ask", "max_ask", "min_bid", "max_bid", "is_live"]
        pdf = pd.DataFrame(out, columns=cols)
        for c in ("window_start", "window_end", "open_time", "close_time"):
            pdf[c] = pd.to_datetime(pdf[c], unit="ms", utc=True).dt.tz_localize(None)
        yield pdf

    return (ticks
            .withWatermark("event_time", watermark)
            .groupBy("key")
            .applyInPandasWithState(
                process, CANDLE_OUT_SCHEMA, STATE_SCHEMA, "append",
                GroupStateTimeout.EventTimeTimeout))


def _window_markers(ticks: DataFrame, universe: list[str],
                    res_ms: int) -> DataFrame:
    """Window-activity fan-out: for every window in which ANY instrument
    ticked, synthesize one marker row per instrument in the universe.
    This is the streaming mirror of the reference's GLOBAL missing-key
    detection (``DetectMissingTimeSeriesValuesCombiner.java:36-84``):
    the batch operator sees all keys in a window with one global
    combine; a per-key stateful operator cannot, so window activity is
    broadcast to every key as data.

    Volume control: windows are deduped per partition task in the
    mapInPandas generator before the universe fan-out, so marker volume
    is O(partitions x windows_per_batch x universe) — candle-sized, not
    tick-sized. Duplicate markers across partitions are harmless (a
    marker only opens a window; opening twice is a no-op).

    Marker event_time = window end - 1ms (a real timestamp, so the
    watermark machinery sees it; it can never finalize its own window,
    since w_end - 1 - delay < w_end).
    """
    import pandas as pd

    slim = ticks.select(
        (F.expr(f"unix_millis(event_time) DIV {res_ms}") * res_ms)
        .alias("w_start_ms"))

    def gen(it):
        seen = set()
        for pdf in it:
            ws = set(pdf["w_start_ms"].tolist()) - seen
            seen |= ws
            if not ws:
                continue
            yield pd.DataFrame(
                [(key, w) for w in sorted(ws) for key in universe],
                columns=["key", "w_start_ms"])

    markers = slim.mapInPandas(gen, "key string, w_start_ms long")
    return markers.select(
        "key",
        F.timestamp_millis(F.col("w_start_ms") + res_ms - 1).alias("event_time"),
        F.lit(0.0).alias("bid"),
        F.lit(0.0).alias("ask"),
        F.lit(False).alias("is_live"),
        F.lit(True).alias("is_marker"),
    )


def streaming_complete_candles_global(ticks: DataFrame,
                                      universe: list[str],
                                      resolution: str = "120 seconds",
                                      watermark: str = "0 seconds") -> DataFrame:
    """Complete candles with GLOBAL gap-fill parity: a key absent from a
    window gets a gap candle whenever any OTHER instrument ticked there —
    including leading windows (before the key's first tick: 0.0-price gap
    candles, matching batch ``gap_fill``) and trailing windows (after its
    last tick: carry-forward gap candles).

    ``universe`` is the instrument universe (the reference's work-packet
    config constant, S3) — a static list, mirroring the batch operator's
    broadcast ``instruments`` frame.

    Shape: tick stream → window-activity markers fan-out (stateless,
    candle-sized) → union → one keyed stateful operator. One shuffle on
    key, same as the per-key variant.
    """
    res_ms = _resolution_ms(resolution)
    markers = _window_markers(ticks, universe, res_ms)
    full = ticks.withColumn("is_marker", F.lit(False)).unionByName(markers)
    return streaming_complete_candles(full, resolution, watermark,
                                      interior_gaps=False)
