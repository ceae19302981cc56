"""Shared mechanics for the log-structured stores: batch_id-partitioned
parquet with crash-safe compaction.

Which store relies on which part:

- ``FOLD_OFFSET``, ``swap_in_fold`` and ``local_store_path``: every
  compacting store — the CMS top-k and grid-histogram quantile sketch
  stores, and the streaming correlation store
  (``streaming/pipeline.py``).
- ``active`` (resolve by ``kind='fold'`` rows): the two sketch stores
  only. The correlation store resolves by claim rank instead: each
  window's latest claim, ranked ``(batch_id % FOLD_OFFSET, batch_id)``,
  wins (``pipeline.read_streaming_correlations``).

The two hazards every compactor here closes (found by review on the
top-k store, ADVICE r6):

- **resumed-stream collision** — a streaming query resuming from its
  retained checkpoint writes ``batch_id = max real id + 1`` with
  ``mode('overwrite')``; a fold written at that id would be silently
  replaced by the first post-compaction micro-batch. Folds live at
  ``FOLD_OFFSET`` above the ids they fold instead, an id a per-trigger
  counter can never reach.
- **crash window** — a process dying between writing the fold and
  removing the old batch dirs leaves BOTH on disk. ``swap_in_fold``
  stages the fold in a dot-prefixed temp dir (invisible to parquet
  readers) and renames it into place atomically BEFORE the removals,
  and each resolve ignores the leftovers: the sketch stores because a
  fold carries one ``kind='fold'`` row per superseded batch id (prior
  folds' rows ride forward) and ``active`` excludes those partitions,
  the correlation store because the fold's claims outrank the batches
  it folded. So every crash point resolves to correct results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FOLD_OFFSET = 1 << 40


def active(df: DataFrame, sup_col: str) -> DataFrame:
    """Filter out partitions superseded by a fold. ``sup_col`` is the
    store's column that carries superseded ids in fold rows."""
    sup = [int(r[0]) for r in
           df.where(F.col("kind") == "fold").select(sup_col).collect()]
    return df.where(~F.col("batch_id").isin(sup)) if sup else df


def swap_in_fold(folded: DataFrame, store: str, new_id: int,
                 old_batch_dirs: list[str]) -> None:
    """Write ``folded`` to a dot-prefixed temp dir, atomically rename it
    to ``batch_id={new_id}``, then remove the superseded batch dirs."""
    import os
    import shutil

    tmp = os.path.join(store, ".fold_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    folded.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(store, f"batch_id={new_id}"))
    for b in old_batch_dirs:
        shutil.rmtree(os.path.join(store, b), ignore_errors=True)


def local_store_path(work_dir: str, sub: str, caller: str) -> str:
    """Resolve a file://-or-plain local path; refuse remote schemes
    (compaction uses os.rename/shutil, which are local-only)."""
    import re

    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", work_dir)
    if m and m.group(1) != "file":
        raise ValueError(
            f"{caller} only supports local paths; got scheme "
            f"{m.group(1)!r}")
    local = work_dir[len("file://"):] if m else work_dir
    return f"{local}/{sub}"
