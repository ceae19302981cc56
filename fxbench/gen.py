"""Seeded FX tick generator.

Every instrument is a geometric random walk; instruments fall into a few
blocks that share a common factor, so pairs inside a block correlate and
pairs across blocks do not. A fraction of (instrument, minute) cells
is emptied so that gap-fill has work to do. The same arguments
always give the same ticks, and the same bytes on disk.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z — a fixed origin keeps every seed's windows aligned.
EPOCH_MS = 1_704_067_200_000
GAP_BUCKET_MS = 60_000      # gap_frac empties (instrument, minute) cells


@dataclass(frozen=True)
class TickSpec:
    n_instruments: int
    n_blocks: int
    duration_s: int
    ticks_per_s: float          # per instrument
    gap_frac: float = 0.0       # share of (instrument, minute) cells emptied
    key_prefix: str = "FX"

    def keys(self) -> list[str]:
        width = len(str(self.n_instruments - 1))
        return [f"{self.key_prefix}{i:0{width}d}"
                for i in range(self.n_instruments)]


def make_ticks(spec: TickSpec, seed: int) -> pa.Table:
    """Ticks ordered by (event_time, key) with columns
    key, event_time (UTC, ms precision), bid, ask, is_live."""
    rng = np.random.default_rng(seed % 2**64)
    n = spec.n_instruments
    dur_ms = spec.duration_s * 1000
    counts = rng.poisson(spec.ticks_per_s * spec.duration_s, size=n)
    inst = np.repeat(np.arange(n, dtype=np.int32), counts)
    t = rng.integers(0, dur_ms, size=inst.size, dtype=np.int64)
    # one (instrument, ms) slot holds one tick: the candle close is the
    # latest tick, and an exact time tie would make it ambiguous
    uniq = np.unique(inst.astype(np.int64) * dur_ms + t)
    inst = (uniq // dur_ms).astype(np.int32)
    t = uniq % dur_ms

    if spec.gap_frac > 0:
        n_buckets = -(-dur_ms // GAP_BUCKET_MS)
        empty = rng.random(n * n_buckets) < spec.gap_frac
        keep = ~empty[inst.astype(np.int64) * n_buckets + t // GAP_BUCKET_MS]
        inst, t = inst[keep], t[keep]

    # block factor: a 1 s-grid Brownian path per block, sampled at tick time
    grid = np.cumsum(rng.normal(0.0, 1e-4, size=(spec.n_blocks,
                                                 spec.duration_s + 1)),
                     axis=1)
    block = rng.integers(0, spec.n_blocks, size=n)
    factor = grid[block[inst], t // 1000]
    # idiosyncratic walk per instrument, increments scaled by sqrt(dt)
    first = np.r_[True, inst[1:] != inst[:-1]]
    dt = np.where(first, 1, np.diff(t, prepend=0)).astype(np.float64)
    step = rng.normal(0.0, 5e-5, size=t.size) * np.sqrt(dt / 1000.0)
    walk = np.cumsum(step)
    starts = np.flatnonzero(first)
    walk -= np.repeat(walk[starts] - step[starts], np.diff(np.r_[starts, t.size]))
    base = rng.uniform(0.5, 2.0, size=n)
    mid = base[inst] * np.exp(factor + walk)
    half_spread = mid * rng.uniform(2e-5, 1e-4, size=n)[inst]

    order = np.lexsort((inst, t))
    inst, t = inst[order], t[order]
    mid, half_spread = mid[order], half_spread[order]
    keys = np.asarray(spec.keys(), dtype=object)
    return pa.table({
        "key": pa.array(keys[inst], pa.string()),
        "event_time": pa.array((EPOCH_MS + t) * 1000,
                               pa.timestamp("us", tz="UTC")),
        "bid": pa.array(mid - half_spread, pa.float64()),
        "ask": pa.array(mid + half_spread, pa.float64()),
        "is_live": pa.array(np.ones(t.size, dtype=bool), pa.bool_()),
    })


def write_ticks(table: pa.Table, path: str, row_groups: int) -> None:
    """Write ``table`` as one parquet file with at least ``row_groups``
    row groups (the scan's parallelism unit)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    size = max(1, -(-table.num_rows // max(1, row_groups)))
    pq.write_table(table, path, row_group_size=size, compression="snappy")
