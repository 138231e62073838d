"""Partition-pruned upsert: the 100 TB scale path for U1/J4.

:func:`sftp_data_ingestion_spark.operators.merge.upsert_newer_wins`
is exact reference parity (a merge over the whole DW) but
rewrites O(DW) per merge — the known scale-killer when the DW is
100 TB and a delta touches 0.1% of keys. The scale path here keeps the
DW as a hash-bucketed partitioned layout and makes each merge
O(affected buckets):

1. **Layout**: DW parquet partitioned by ``dw_bucket =
   pmod(xxhash64(key), num_buckets)``. The bucket is a pure function
   of the merge key, so every key lives in exactly one partition
   directory and bucket counts are balanced by the hash regardless of
   key skew. Both are recorded once, in ``<dw>/_buckets``, and every
   merge reads them there.
2. **Prune**: the delta's affected buckets (≤ ``num_buckets`` values,
   a driver-safe bounded collect) become a partition-filter on the DW
   scan — Spark reads only those directories (``PartitionFilters`` in
   the scan node), never the other 99.9% of the table.
3. **Merge**: the caller's whole-table merge policy (stage 3's is
   ``pipeline._upsert_pedidos``) over the pruned subset. Bucket
   residency never changes on
   update (hash of an unchanged key), so the merged output holds
   exactly the affected buckets, complete.
4. **Commit**: the merged buckets go through
   :func:`~sftp_data_ingestion_spark.io.sinks.overwrite_partitions`
   (dynamic partition overwrite): Spark stages them under the DW
   directory and, at job commit, replaces exactly the bucket
   directories the output contains — untouched buckets' files are
   never read, rewritten, or moved.

On a production cluster the commit is the job of a transactional
table format (Delta/Iceberg ``MERGE INTO`` with the same policy
expressions). Here Spark's job commit replaces each touched bucket
by a delete and a rename on the DW's own filesystem. A crash inside
that loop can leave a touched bucket deleted while its merged files
still sit under ``<dw>/.spark-staging-*``; nothing repairs that
automatically, but no rows have left the DW directory.
Reference parity: ``/root/reference/python/03_upsert_dw_pedidos.py:202-246``
(ON CONFLICT upsert); the bucketing has no reference equivalent —
PostgreSQL's btree index plays that role.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.io.sinks import overwrite_partitions

BUCKET_COL = "dw_bucket"
_LAYOUT = "_buckets"  # the layout record; Spark's listing skips "_" names


def bucket_of(key_col: str, num_buckets: int):
    """Stable bucket id for a key: pure Column expression, JVM-side."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")


def write_dw_partitioned(
    dw: DataFrame, path: str, key: str = "chave_nfe", num_buckets: int = 64
) -> int:
    """Materialize the DW in the hash-bucketed layout (one-time), record
    ``{"key", "num_buckets"}`` in ``<path>/_buckets``; returns the rows
    written."""
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    obs = Observation()
    (
        dw.observe(obs, F.count(F.lit(1)).alias("n"))
        .withColumn(BUCKET_COL, bucket_of(key, num_buckets))
        .repartition(BUCKET_COL)  # one writer wave per bucket, no tiny files
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )
    with open(os.path.join(path, _LAYOUT), "w") as f:
        json.dump({"key": key, "num_buckets": num_buckets}, f)
    return obs.get["n"]


def bucket_layout(path: str) -> tuple[str, int] | None:
    """``(key, num_buckets)`` from the DW's layout record, or ``None``
    for a DW without bucket dirs. Bucket dirs without a record raise:
    a guessed bucket count could put a key in two buckets."""
    record = os.path.join(path, _LAYOUT)
    if os.path.exists(record):
        with open(record) as f:
            layout = json.load(f)
        return layout["key"], layout["num_buckets"]
    if any(n.startswith(f"{BUCKET_COL}=") for n in os.listdir(path)):
        raise ValueError(f"{path} has bucket dirs but no {_LAYOUT} record")
    return None


def read_dw(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned DW without the layout column."""
    return spark.read.parquet(path).drop(BUCKET_COL)


def upsert_partitioned(
    dw_path: str,
    delta: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> dict:
    """Merge ``delta`` into the bucketed DW at ``dw_path``, touching
    only the buckets the delta's keys hash into.

    The key and bucket count come from the DW's layout record.
    ``merge(dw_subset, delta)`` is the whole-table merge policy, e.g. a
    ``partial`` of ``upsert_newer_wins``; it must match rows on the
    record's key. Returns run metrics ``{"buckets_touched",
    "buckets_total", "rows_written"}``.
    """
    layout = bucket_layout(dw_path)
    if layout is None:
        raise ValueError(f"{dw_path} is not a bucketed layout")
    key, num_buckets = layout
    spark = delta.sparkSession
    delta = delta.where(F.col(key).isNotNull()).withColumn(
        BUCKET_COL, bucket_of(key, num_buckets)
    )
    # bounded driver collect: at most num_buckets distinct values
    touched = sorted(
        r[0] for r in delta.select(BUCKET_COL).distinct().collect()
    )
    if not touched:
        return {
            "buckets_touched": 0,
            "buckets_total": num_buckets,
            "rows_written": 0,
        }

    # partition-pruned scan: only the touched directories are listed/read
    dw_sub = (
        spark.read.parquet(dw_path)
        .where(F.col(BUCKET_COL).isin(touched))
        .drop(BUCKET_COL)
    )
    merged = merge(dw_sub, delta.drop(BUCKET_COL)).withColumn(
        BUCKET_COL, bucket_of(key, num_buckets)
    )

    # the pruned read above and this write share dw_path: the dynamic
    # overwrite replaces the touched buckets only at job commit, after
    # every task has read its input. Production: Delta/Iceberg MERGE
    # INTO commits this atomically.
    obs = Observation()
    overwrite_partitions(
        merged.observe(obs, F.count(F.lit(1)).alias("n")).repartition(BUCKET_COL),
        dw_path,
        [BUCKET_COL],
    )
    rows_written = obs.get["n"]  # from the write itself, no re-scan (G1)
    spark.catalog.refreshByPath(dw_path)
    return {
        "buckets_touched": len(touched),
        "buckets_total": num_buckets,
        "rows_written": rows_written,
    }
