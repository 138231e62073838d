"""Sinks: bronze append (S8) + file-routing quarantine (S9).

Reference (``/root/reference/python/02_load_stage_pedidos.py``):

* S8 (:179-196): per-file ``COPY ... FROM STDIN`` into all-varchar
  staging — the bulk path. Spark's bulk path is the parquet writer;
  one append per BATCH (not per file: file parallelism lives inside
  the scan, commit granularity is the batch + ledger).
* S9 (:96-105, 212-233): valid + >0 rows -> copy to ``lidos/``;
  invalid/empty/exception -> copy to ``erros/``; name collisions get a
  ``__dup_{ts}`` suffix. Files are COPIED, never removed from
  ``novos/`` — re-processing is prevented by the ledger (S10), which
  this module records alongside the route.

It is also the one home for rewriting a parquet table in place — the
guarantee the reference gets from PostgreSQL transactions around
stage 3 and 4: :func:`atomic_swap_parquet` for whole tables,
:func:`overwrite_partitions` for a partition subset and
:func:`drop_table` for clearing one. New files are always staged next
to the table, never in the system temp dir, so every rename stays on
one filesystem. :func:`read_table` is the one way to open a table that
may not exist yet: absent and empty are the same state.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def append_bronze(df: DataFrame, bronze_path: str) -> None:
    """S8: bulk-append conformed staging rows. Plain parquet append —
    partition by a load-date column upstream when volumes warrant
    partition pruning on bronze."""
    df.write.mode("append").parquet(bronze_path)


def safe_copy(src: str, dst_dir: str, now: datetime | None = None) -> str:
    """Reference ``safe_copy`` (02:96-105): copy preserving metadata,
    suffixing ``__dup_{YYYYmmddHHMMSS}`` on name collision."""
    os.makedirs(dst_dir, exist_ok=True)
    base = os.path.basename(src)
    dst = os.path.join(dst_dir, base)
    if os.path.exists(dst):
        ts = (now or datetime.now(tz=timezone.utc)).strftime("%Y%m%d%H%M%S")
        name, ext = os.path.splitext(base)
        dst = os.path.join(dst_dir, f"{name}__dup_{ts}{ext}")
    shutil.copy2(src, dst)
    return dst


def route_file(path: str, ok: bool, lidos_dir: str, erros_dir: str) -> str:
    """S9 outcome routing; returns the destination path."""
    return safe_copy(path, lidos_dir if ok else erros_dir)


def _recover_interrupted_swap(path: str) -> None:
    """Repair the one non-atomic window of :func:`atomic_swap_parquet`:
    a crash between the two renames leaves ``<path>.old`` holding the
    only copy while ``path`` is missing. Runs before every table open
    (:func:`read_table`) and before every swap, so no caller mistakes
    the missing table for a first run and silently rebuilds it from
    scratch, losing its history."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


def read_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """Open the parquet table dir at ``path`` (with ``schema`` if
    given) after repairing an interrupted swap, or return ``None`` when
    it is missing or every name in it starts with ``_`` or ``.`` — the
    names Spark's listing skips, all an aborted first append leaves.
    A table with data that cannot be read raises, never reads as new."""
    _recover_interrupted_swap(path)
    if not os.path.exists(path) or all(
        n.startswith(("_", ".")) for n in os.listdir(path)
    ):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def drop_table(path: str) -> None:
    """Delete the table at ``path``: rename it to ``<path>.dropped``,
    then remove that, so a crash leaves the table whole or absent,
    never half-deleted. Not ``<path>.old``: :func:`read_table`'s swap
    repair would rename that back and resurrect the dropped rows."""
    dropped = path + ".dropped"
    shutil.rmtree(dropped, ignore_errors=True)
    os.rename(path, dropped)
    shutil.rmtree(dropped)


def atomic_swap_parquet(df: DataFrame, path: str) -> int:
    """Near-atomic full-table rewrite on plain parquet: write the new
    result to ``<path>.tmp``, rename the old dir aside, swap the temp
    in, drop the old — the Delta-MERGE-commit equivalent when the
    store is a directory. Returns the new row count (one read of the
    freshly-written files, which doubles as a write verification).

    Both scratch dirs are siblings of ``path``, so the renames stay on
    one filesystem. The swap is two renames, so there IS a crash
    window between them where ``path`` is absent and ``<path>.old``
    holds the data; :func:`read_table` repairs it before handing
    out the table, and so does this function before it writes. Stale
    ``.tmp``/``.old`` leftovers from a crashed earlier run are cleared
    up front so a retry never fails the rename into a non-empty
    directory. Same-session readers must ``spark.catalog.refreshByPath``
    (done here) because the swap happens behind Spark's file-listing
    cache.
    """
    spark = df.sparkSession
    _recover_interrupted_swap(path)
    tmp = path + ".tmp"
    old = path + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    spark.catalog.refreshByPath(path)
    return n


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions the
    batch contains, leave every other partition's files untouched —
    the daily-reprocess write pattern (re-land one day of a
    date-partitioned table without rewriting the year). With the
    default STATIC mode the same ``overwrite`` would wipe the whole
    table — the classic footgun this wrapper exists to fence off.

    The mode is a write option, not the session conf, so concurrent
    writers in the same session keep their own mode. Spark's commit
    stages the new files under ``path`` (``.spark-staging-*``) and
    renames each partition into place at job commit, after every task
    has finished reading — so ``df`` may itself read the partitions it
    replaces from ``path``."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
