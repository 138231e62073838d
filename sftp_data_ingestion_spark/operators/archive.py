"""Archive: atomic-enough move staging -> hist with batch lineage (A1, A2).

Reference (``/root/reference/python/04_archive_pedidos.py:30-51,84-100``)
loops 5000-row ``ctid`` batches of INSERT+DELETE inside one transaction.
Spark has immutable files and no ctids, so the whole set moves in two
bulk operations — no batching needed (SURVEY.md §2.10):

1. append staging rows to hist, stamped ``processed_ts = now()`` and
   ``batch_id = uuid`` (A2);
2. only then clear staging by dropping it (``io/sinks.drop_table``):
   no staging table until the next load, so an idle run does no work.

Ordering gives at-least-once semantics, matching the reference's
per-batch transactionality; on a real deployment both tables are Delta
tables and step 1+2 become one transactional ``REPLACE``/``DELETE``.
The advisory lock (A3) is an orchestrator concern, represented here by
a simple lock-file guard.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.io.sinks import drop_table, read_table


def _batch_already_archived(
    spark: SparkSession, hist_path: str, batch_id: str
) -> bool:
    """Pushed-down point lookup on the lineage column (column-pruned;
    with hist partitioned by batch_id this is partition pruning)."""
    hist = read_table(spark, hist_path)
    return (
        hist is not None
        and hist.where(F.col("batch_id") == batch_id).limit(1).count() > 0
    )


def _content_fingerprint(df) -> tuple[int, int]:
    """(row count, order-insensitive content hash): sum of per-row
    xxhash64 over the JSON of the full row — one scan, no shuffle,
    collision odds negligible for the retry-vs-reuse distinction."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # DECIMAL(38,0) sum: a long sum of 64-bit hashes overflows
        # under ANSI; xor would cancel duplicate rows pairwise
        F.sum(
            F.xxhash64(F.to_json(F.struct(*sorted(df.columns)))).cast(
                "decimal(38,0)"
            )
        ).alias("fp"),
    ).collect()[0]
    return int(row["n"]), int(row["fp"] or 0)


def move_to_archive(
    spark: SparkSession,
    staging_path: str,
    hist_path: str,
    batch_id: str | None = None,
    lock_dir: str | None = None,
) -> dict[str, int]:
    """Move every staging row to hist with lineage; returns counts.

    ``lock_dir``: optional single-writer guard (A3) — raises if another
    archive run holds the lock. The lock file is removed only when THIS
    run created it, so losing the race never releases the holder's lock
    (matching ``pg_try_advisory_xact_lock``'s abort-without-touching
    semantics, /root/reference/python/04_archive_pedidos.py:79-82).

    The moved-row count comes from an ``Observation`` attached to the
    write's own scan (G1, SURVEY.md §2.4) — one pass over staging, not
    a separate ``count()`` job; at 100 TB a second full scan of the
    largest table in the system would double archive IO.
    """
    lock_path = os.path.join(lock_dir, ".archive.lock") if lock_dir else None
    acquired = False
    try:
        if lock_path:
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                acquired = True
                os.close(fd)
            except FileExistsError:
                raise RuntimeError(
                    "archive already running (advisory lock held)"
                )
        staging = read_table(spark, staging_path)
        if staging is None:
            return {"moved": 0, "batch_id_rows": 0}
        bid = batch_id or str(uuid.uuid4())
        # Idempotency gate: a crash after the hist append but before
        # the staging truncate leaves the batch already archived; a
        # retry with the SAME batch_id must not duplicate it. (The
        # full transactional story is Delta's — SURVEY §2.10 — this
        # gate gives exactly-once per batch_id on plain parquet.)
        # batch_id MUST be unique per batch: the gate only clears
        # staging when its CONTENT fingerprint (count + order-
        # insensitive row-hash sum, so an equal-sized different batch
        # cannot slip through) matches what hist already holds under
        # this batch_id — the crash-retry signature. A reused batch_id
        # over different staging data raises instead of silently
        # discarding the new rows.
        if batch_id is not None and _batch_already_archived(spark, hist_path, bid):
            stg_n, stg_fp = _content_fingerprint(staging)
            if stg_n == 0:
                return {"moved": 0, "batch_id_rows": 0}
            hist_batch = (
                spark.read.parquet(hist_path)
                .where(F.col("batch_id") == bid)
                .select(staging.columns)
            )
            hist_n, hist_fp = _content_fingerprint(hist_batch)
            if (stg_n, stg_fp) != (hist_n, hist_fp):
                raise ValueError(
                    f"batch_id {bid!r} already archived ({hist_n} rows) "
                    f"but staging holds different content ({stg_n} rows); "
                    "batch_id must be unique per batch"
                )
            drop_table(staging_path)
            return {"moved": 0, "batch_id_rows": 0}
        obs = Observation("archive_counts")
        stamped = (
            staging.withColumn("processed_ts", F.current_timestamp())
            .withColumn("batch_id", F.lit(bid))
            .observe(obs, F.count(F.lit(1)).alias("rows"))
        )
        stamped.write.mode("append").parquet(hist_path)
        n = int(obs.get["rows"])
        # clear staging only after hist append landed (at-least-once)
        drop_table(staging_path)
        return {"moved": n, "batch_id_rows": n}
    finally:
        if acquired and lock_path and os.path.exists(lock_path):
            os.remove(lock_path)
