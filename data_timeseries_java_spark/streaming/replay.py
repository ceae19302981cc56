"""File-stream replay scaffolding shared by the driver-gated streaming
queries (``fx_candles_stream_replay``, ``asof_stream_replay``): write a
bounded table as time-bucketed parquet files whose WITHIN-file row
order is md5-scrambled (so the stateful operators see out-of-order
arrival inside every micro-batch) and whose file mtimes ascend (so the
file source triggers oldest-first and a 0-delay watermark only ever
moves past sealed data), then drive the streaming result into a
parquet sink with idempotent per-batch writes.

Sink layout: one ``batch_id=N`` directory per micro-batch, written with
``overwrite`` — a foreachBatch retry (at-least-once semantics) replaces
its own output instead of double-appending, the same idempotency
pattern as the streaming correlation store (``streaming/pipeline.py``).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The far-future watermark-flush row's key. Writers inject it and sink
# readers filter it out by EXACT equality — a prefix test would silently
# drop legitimate instrument keys sharing the prefix (FX-style symbols
# beginning "ZZ-" are plausible).
SENTINEL_KEY = "ZZ-SENTINEL"


def write_replay_buckets(df: DataFrame, ts_col: str, path: str,
                         n_files: int, t0_ms: int, span_ms: int,
                         base_mtime: float,
                         shuffle_cols: list[str]) -> None:
    """Split ``df`` into ``n_files`` time-range buckets under ``path``
    (files ``f0..f{n-1}``), each written in md5-of-``shuffle_cols``
    order with ascending mtimes starting at ``base_mtime``."""
    write_replay_buckets_long(df, F.unix_millis(ts_col), path, n_files,
                              t0_ms, span_ms, base_mtime, shuffle_cols)


def write_replay_buckets_long(df: DataFrame, long_col, path: str,
                              n_files: int, lo: int, span: int,
                              base_mtime: float,
                              shuffle_cols: list[str]) -> None:
    """Bucket by an arbitrary long expression (``lo`` .. ``lo+span-1``)
    instead of a timestamp column — e.g. ``doc_id`` ranges, so each
    micro-batch covers an ascending id slice and "earlier batch"
    coincides with "smaller id" (the precedence the id-ordered stores
    resolve against)."""
    bucket = F.least(
        F.lit(n_files - 1),
        F.floor((long_col - F.lit(lo)) * n_files / F.lit(max(span, 1))))
    for i in range(n_files):
        (df.where(bucket == i)
         .orderBy(F.md5(F.concat_ws(":", *shuffle_cols)))
         .coalesce(1).write.mode("overwrite").parquet(f"{path}/f{i}"))
        _set_mtime(f"{path}/f{i}", base_mtime + i * 10)


def write_replay_files(df: DataFrame, file_col: str, path: str,
                       n_files: int, base_mtime: float,
                       shuffle_cols: list[str]) -> None:
    """Route rows to files by a precomputed index column named
    ``file_col`` (dropped from the written rows) — callers encode
    arrival-order constraints in it, e.g. "a dup group's keeper must
    arrive strictly before its other members". Rows are md5-scrambled
    within each file; file mtimes ascend."""
    for i in range(n_files):
        (df.where(F.col(file_col) == i).drop(file_col)
         .orderBy(F.md5(F.concat_ws(":", *shuffle_cols)))
         .coalesce(1).write.mode("overwrite").parquet(f"{path}/f{i}"))
        _set_mtime(f"{path}/f{i}", base_mtime + i * 10)


def write_displaced_replay(df: DataFrame, ts_col: str, path: str,
                           n_buckets: int, t0_ms: int, span_ms: int,
                           base_mtime: float, shuffle_cols: list[str],
                           hex_prefixes: tuple[str, ...] = ("0", "1"),
                           ) -> int:
    """The OUT-OF-ORDER gate construction (same shape as
    ``ema_ooo_stream_replay``): carve ~len(hex_prefixes)/16 of every
    time bucket's rows by the first hex digit of
    md5(``shuffle_cols``) and route them one file LATE, so every
    micro-batch interleaves displaced old rows after newer ones have
    already streamed — deliberately breaking the fold streams'
    cross-batch order contract within one bucket width of event time.
    Writes ``n_buckets + 1`` files (``f0..f{n_buckets}``; callers put
    their watermark-flush sentinel at index ``n_buckets + 1``) and
    returns the displaced-row count so callers can refuse a vacuous
    gate."""
    routed, n_disp = displace_route(df, ts_col, n_buckets, t0_ms,
                                    span_ms, shuffle_cols, hex_prefixes)
    write_replay_files(routed, "_f", path, n_buckets + 1, base_mtime,
                       shuffle_cols)
    return n_disp


def displace_route(df: DataFrame, ts_col: str, n_buckets: int,
                   t0_ms: int, span_ms: int, shuffle_cols: list[str],
                   hex_prefixes: tuple[str, ...] = ("0", "1")):
    """The routing half of :func:`write_displaced_replay`: returns
    (df + ``_f`` file-index column with the md5-carved subset routed
    one bucket late, displaced-row count). Split out so the recovery
    gate can write phase-1 and phase-2 files separately around a
    kill/restart boundary."""
    t = F.unix_millis(F.col(ts_col))
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.floor((t - F.lit(t0_ms)) * n_buckets / F.lit(max(span_ms, 1))))
    digest = F.md5(F.concat_ws(":", *shuffle_cols))
    displaced = F.substring(digest, 1, 1).isin(*hex_prefixes)
    routed = df.withColumn(
        "_f", (bucket + F.when(displaced, 1).otherwise(0)).cast("int"))
    return routed, routed.where(displaced).count()


def write_sentinel_file(df: DataFrame, path: str, index: int,
                        base_mtime: float) -> None:
    """Write a sentinel frame as file ``f{index}`` with the LATEST
    mtime, so it forms the final micro-batch and its far-future event
    time pushes the watermark past every real row (flushing pending
    keyed state); the sentinel's own never-sealed rows are the
    caller's to filter from the sink."""
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/f{index}")
    _set_mtime(f"{path}/f{index}", base_mtime + index * 10)


def _set_mtime(d: str, t: float) -> None:
    for p in glob.glob(f"{d}/*"):
        os.utime(p, (t, t))


def drive_query(q, timeout_s: int = 600, what: str = "stream replay"):
    """Await an already-started StreamingQuery; on timeout, stop it and
    RAISE — replay callers cache their sink paths, so a silent timeout
    would serve a partial result for the rest of the session."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"{what} did not finish within {timeout_s}s; refusing to "
            f"serve the partial result")


def run_to_parquet_sink(stream_df: DataFrame, out: str, checkpoint: str,
                        timeout_s: int = 600) -> str:
    """Drive a streaming DataFrame to completion (availableNow) into a
    log-structured parquet sink: each micro-batch overwrites its own
    ``batch_id=N`` directory (idempotent under foreachBatch's
    at-least-once retries)."""
    q = (stream_df.writeStream
         .foreachBatch(lambda df, bid: df.write.mode("overwrite")
                       .parquet(f"{out}/batch_id={bid}"))
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    drive_query(q, timeout_s, f"stream replay into {out}")
    return out


def read_replay_sink(spark: SparkSession, out: str) -> DataFrame:
    """Read the log-structured sink back as one frame (batch_id is a
    write-side idempotency detail, not part of the result)."""
    return (spark.read.option("basePath", out).parquet(out)
            .drop("batch_id"))
