"""Schema evolution for append-grown parquet tables + corrupt-file
resilience — the two ingest failure modes a long-running landing
pipeline actually meets that the happy-path reader doesn't:

* **Drift**: a source starts shipping an extra column (or drops one).
  The reference's fixed-DDL stance rejects the file outright (S7
  header gate); at corpus scale the right default is usually
  ADDITIVE evolution — accept new nullable columns, keep old readers
  working. ``append_evolved`` enforces exactly that policy: new
  columns append fine (parquet files are self-describing), REMOVED
  columns are filled with NULL so every file still carries the full
  history of names, and a TYPE CHANGE on an existing column is
  refused loudly (silent cast drift corrupts a warehouse faster than
  any crash). ``read_evolved`` reads the union schema via
  ``mergeSchema`` — per-file footers merge, no rewrite of old files.

* **Rot**: one corrupt file in a million-file table. By default the
  whole scan dies; ``read_ignoring_corrupt`` scopes
  ``spark.sql.files.ignoreCorruptFiles`` to one read (conf restored)
  so the other 999,999 files still serve, and the caller gets the
  dropped-file behavior explicitly rather than as a global setting
  someone forgot was on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.io.sinks import read_table
from sftp_data_ingestion_spark.rebalance import cut


def append_evolved(df: DataFrame, path: str) -> dict:
    """Append ``df`` to the parquet table at ``path`` under the
    additive-evolution policy. Returns a report dict
    ``{added, filled_null}`` of column names; raises ``ValueError``
    on a type conflict with the existing schema."""
    current = read_table(df.sparkSession, path)
    if current is None:
        df.write.mode("append").parquet(path)
        return {"added": [f.name for f in df.schema], "filled_null": []}
    have = {f.name: f.dataType for f in df.schema}
    old = {f.name: f.dataType for f in current.schema}
    conflicts = [
        n for n in have.keys() & old.keys() if have[n] != old[n]
    ]
    if conflicts:
        raise ValueError(
            "type conflict on existing column(s) "
            f"{sorted(conflicts)}: evolution is additive-only; cast "
            "explicitly or land to a new table"
        )
    added = sorted(have.keys() - old.keys())
    missing = sorted(old.keys() - have.keys())
    out = df
    for name in missing:
        out = out.withColumn(name, F.lit(None).cast(old[name]))
    out.write.mode("append").parquet(path)
    return {"added": added, "filled_null": missing}


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read the union schema of an evolved table (per-file parquet
    footers merged; files written before a column existed surface it
    as NULL)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_ignoring_corrupt(spark: SparkSession, path: str) -> DataFrame:
    """One read that survives corrupt files in the directory, with
    the conf scoped and restored (an eager materialization pins the
    behavior — laziness would escape the conf window)."""
    key = "spark.sql.files.ignoreCorruptFiles"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        return cut(spark.read.parquet(path))
    finally:
        spark.conf.set(key, prev)
