"""Sinks: the storage layout that keeps 100 TB queryable.

Layout policy (SURVEY.md §7 M6):
- **Partition by event date** — every candle/correlation query carries a
  time range; date partitions turn it into partition PRUNING (the scan
  never opens irrelevant days).
- Target file sizes via `maxRecordsPerFile` so a 1000-executor scan
  gets well-sized splits (small-file storms are the #1 large-table
  operational failure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_ticks(ticks: DataFrame, path: str,
                            max_records_per_file: int = 5_000_000) -> None:
    """Date-partitioned parquet tick store."""
    (ticks
     .withColumn("event_date", F.to_date("event_time"))
     .write.mode("overwrite")
     .partitionBy("event_date")
     .option("maxRecordsPerFile", max_records_per_file)
     .parquet(path))


def write_results(df: DataFrame, path: str, fmt: str = "parquet",
                  partition_cols: list[str] | None = None) -> None:
    """Result sink (the reference's logging sink S4, made durable)."""
    w = df.write.mode("overwrite").format(fmt)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.save(path)


def compact_parquet(spark, path: str, target_file_bytes: int = 128 * 1024 * 1024,
                    partition_col: str | None = None) -> dict:
    """Small-file compaction — the table-maintenance pass every
    long-running ingest needs: streaming/foreachBatch sinks accumulate
    one file per micro-batch per partition, and a 100 TB table read
    through a million 100 KB files spends its time in task scheduling
    and footer parsing, not IO.

    Rewrites `path` with file count chosen from the table's actual
    on-disk bytes (ceil(bytes / target_file_bytes)). The rewrite is a
    repartition — one shuffle, fully parallel, no driver data path; for
    a date-partitioned table pass ``partition_col`` so output files
    never span partitions (repartition on the partition column keeps
    each output file single-partition, preserving pruning).

    Returns {files_before, files_after, bytes} for observability.
    Staging-dir + atomic swap is the production pattern; here the
    rewrite goes through a sibling staging path then replaces the
    original, which is the same sequence of renames.
    """
    import math
    import shutil
    from pathlib import Path

    p = Path(path)
    data_files = [f for f in p.rglob("*.parquet") if f.is_file()]
    total_bytes = sum(f.stat().st_size for f in data_files)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))

    df = spark.read.parquet(str(p))
    staging = p.with_name(p.name + "__compacting")
    if partition_col is not None:
        (df.repartition(n_out, partition_col)
         .write.mode("overwrite").partitionBy(partition_col)
         .parquet(str(staging)))
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(str(staging))
    after = len([f for f in staging.rglob("*.parquet") if f.is_file()])
    shutil.rmtree(p)
    staging.rename(p)
    return {"files_before": len(data_files), "files_after": after,
            "bytes": total_bytes}


def write_range_clustered(df: DataFrame, path: str, cols: list[str],
                          n_files: int = 8, fmt: str = "parquet") -> None:
    """Range-clustered layout: repartitionByRange on ``cols`` then sort
    within partitions, so each output FILE covers a disjoint range of
    the clustering columns and its footer min/max statistics prune
    whole files for range predicates — the plain-parquet stand-in for
    Delta/Iceberg Z-ordering (single-dimension case) at 100 TB.

    Why not partitionBy: directory partitioning on a high-cardinality
    column (time, user id) explodes the file count; range clustering
    keeps n_files under control while giving range scans the same
    skip-IO behavior via row-group/file statistics. Disjointness is
    asserted from the actual parquet footers in
    tests/test_sources.py::test_range_clustered_files_are_disjoint."""
    (df.repartitionByRange(n_files, *[F.col(c) for c in cols])
       .sortWithinPartitions(*cols)
       .write.mode("overwrite").format(fmt).save(path))
