"""The benchmark's workloads, by name. README.md says why each exists."""

from __future__ import annotations

from batch import BatchShape, run_batch
from gen import TickSpec

HOUR = 3600

# 16 instruments at ~1 tick/s each, 1 min candles with ~3% of the
# (instrument, minute) cells empty; demo options, join kernel.
FX_DENSE = BatchShape(
    spec=TickSpec(n_instruments=16, n_blocks=4, duration_s=24 * HOUR,
                  ticks_per_s=1.0, gap_frac=0.03),
    resolution_s=60, window_s=600, slide_s=300, min_corr=0.0,
    propagate_nan=True, large_universe=False, check_windows=None)

# n=1000 instruments, 5 min candles, 1 h window / 30 min slide;
# reference defaults (min |r| 0.5, no NaN propagation), matrix kernel.
FX_WIDE = BatchShape(
    spec=TickSpec(n_instruments=1000, n_blocks=20, duration_s=12 * HOUR,
                  ticks_per_s=1_150_000 / 1000 / (48 * HOUR),
                  key_prefix="I"),
    resolution_s=300, window_s=HOUR, slide_s=HOUR // 2, min_corr=0.5,
    propagate_nan=False, large_universe=True, check_windows=2)


def fx_dense(run) -> dict:
    return run_batch(run, FX_DENSE)


def fx_wide(run) -> dict:
    return run_batch(run, FX_WIDE)


def fx_stream(run) -> dict:
    from stream import run_stream

    return run_stream(run)


ALL = {"fx_dense": fx_dense, "fx_wide": fx_wide, "fx_stream": fx_stream}
