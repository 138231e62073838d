"""Stage-2 orchestration: landing dir -> bronze + routing + ledger.

The Spark equivalent of the reference's ``processar()``
(``/root/reference/python/02_load_stage_pedidos.py:200-233``), with the
per-file sequential loop replaced by: plan every file driver-side
(head-only IO), ONE grouped distributed scan for all accepted files,
one bronze append, then routing + ledger from the per-file row counts.

The conformed batch is persisted across the count/write pair — the
landing batch is the small end of the pipeline (249 files in
BASELINE.md); at larger volumes swap persist() for a bronze write-back
count keyed on a batch_id column.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.io.csv_robust import load_landing_batch
from sftp_data_ingestion_spark.io.sinks import append_bronze, route_file
from sftp_data_ingestion_spark.io.sources import (
    clean_partials,
    list_landing_files,
    new_files,
    read_ledger,
    record_results,
)


def load_stage(
    spark: SparkSession,
    novos_dir: str,
    bronze_path: str,
    lidos_dir: str,
    erros_dir: str,
    ledger_path: str,
    batch_id: str | None = None,
) -> dict:
    """Run one stage-2 batch; returns G3-style run metrics."""
    bid = batch_id or str(uuid.uuid4())
    clean_partials(novos_dir)
    listing = list_landing_files(novos_dir)
    ledger = read_ledger(spark, ledger_path)
    todo = new_files(spark, listing, ledger)
    if not todo:
        return {"files_seen": len(listing), "files_processed": 0,
                "rows_loaded": 0, "batch_id": bid}

    df, plans = load_landing_batch(spark, todo)
    counts: dict[str, int] = {}
    rows_total = 0
    if df is not None:
        df = df.persist()
        try:
            counts = {
                r["arquivo_origem"]: r["n"]
                for r in df.groupBy("arquivo_origem")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            append_bronze(df, bronze_path)
            rows_total = sum(counts.values())
        finally:
            df.unpersist()

    entries = []
    for p in plans:
        base = os.path.basename(p.path)
        n = counts.get(base, 0)
        ok = p.valid and n > 0
        reason = p.reason if not p.valid else ("" if n > 0 else "0 rows")
        route_file(p.path, ok, lidos_dir, erros_dir)
        entries.append(
            {
                "path": p.path,
                "status": "ok" if ok else "error",
                "reason": reason,
                "rows_loaded": n,
            }
        )
    record_results(spark, ledger_path, entries, bid)
    return {
        "files_seen": len(listing),
        "files_processed": len(todo),
        "files_ok": sum(1 for e in entries if e["status"] == "ok"),
        "files_error": sum(1 for e in entries if e["status"] == "error"),
        "rows_loaded": rows_total,
        "batch_id": bid,
    }
