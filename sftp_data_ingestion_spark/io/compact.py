"""Small-file compaction for incrementally-appended parquet tables.

The bronze/hist tables grow by one append per batch (``append_bronze``,
``move_to_archive``), so file count grows with batch count while file
size stays at batch size — and at warehouse scale the scan cost of a
table is driven by file COUNT (footer reads, listing, task scheduling)
long before byte count. Periodic compaction rewrites the table into
~target-sized files; this is the OPTIMIZE/bin-packing maintenance job
every table format schedules (no reference equivalent — PostgreSQL
heaps don't fragment this way; extension surface).

Scale shape: ``coalesce`` (narrow, no shuffle) merges input splits
into the output files — each task concatenates neighboring splits, so
the rewrite moves every byte exactly once with zero exchanges. The
swap reuses :func:`atomic_swap_parquet` (write-aside + two renames),
so readers never observe a partial table.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from sftp_data_ingestion_spark.io.sinks import atomic_swap_parquet, read_table


def _data_files(path: str) -> list[tuple[str, int]]:
    out = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                p = os.path.join(root, n)
                out.append((p, os.path.getsize(p)))
    return out


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 4,
) -> dict:
    """Compact ``path`` into ~``target_file_bytes`` files.

    No-op (returns ``compacted=False``) when the table has fewer than
    ``min_files`` data files or already averages at least half the
    target per file — compaction that rewrites an already-healthy
    table is pure write amplification. Returns
    ``{files_before, files_after, bytes_total, compacted}``.
    """
    df = read_table(spark, path)
    # a hive-partitioned layout (e.g. the bucketed DW's per-bucket
    # dirs) must keep its directory structure: a flat rewrite would
    # fold the partition column into the data files and break every
    # partition-pruned reader. Compact those per-partition instead.
    parts = [
        e
        for e in os.listdir(path)
        if "=" in e and os.path.isdir(os.path.join(path, e))
    ] if df is not None else []
    if parts:
        raise ValueError(
            f"{path} is hive-partitioned ({parts[0]}, ...); compact each "
            "partition directory individually to preserve the layout"
        )
    files = _data_files(path)
    n_before = len(files)
    total = sum(s for _, s in files)
    if n_before < min_files or (n_before and total / n_before >= target_file_bytes / 2):
        return {
            "files_before": n_before,
            "files_after": n_before,
            "bytes_total": total,
            "compacted": False,
        }
    n_out = max(1, math.ceil(total / target_file_bytes))
    atomic_swap_parquet(df.coalesce(n_out), path)
    n_after = len(_data_files(path))
    return {
        "files_before": n_before,
        "files_after": n_after,
        "bytes_total": total,
        "compacted": True,
    }
