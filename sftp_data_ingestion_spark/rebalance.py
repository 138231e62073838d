"""Physical-layout helpers: scan-parallelism rebalancing for CPU-heavy
stages (:func:`fan_out`) and the one lineage-cut policy (:func:`cut`).

At warehouse scale a parquet scan yields at least one split per core
(128 MB splits over TBs of input), so per-row expression work
parallelizes for free and adding an exchange would be pure cost. Small
inputs break that assumption: a single-row-group file plans as ONE
partition, and everything until the first shuffle — shingle explosion,
SRP/IVF assignment, a 41-expression cleaning projection — serializes
on one core no matter how many the cluster has. Splits cannot go below
row-group boundaries, so ``spark.sql.files.maxPartitionBytes`` cannot
fix this (measured: 4 MB splits still planned only 6 partitions over
the sf0.1 fixtures).

:func:`fan_out` closes the gap adaptively: it is a NO-OP whenever the
scan already provides at least one split per core (the 100 TB case),
and otherwise inserts one repartition so the downstream compute stage
uses every core. When the caller names key columns the exchange is
hash-partitioned on them, so a downstream groupBy / window on the same
keys satisfies its required distribution from this exchange instead of
adding another — the rebalance then costs zero extra shuffles over the
plan Catalyst would have produced anyway.

The split estimate is derived from scan metadata only
(``df.inputFiles()`` + per-file sizes through the Hadoop FileSystem
API), never from ``df.rdd`` — converting the plan to an RDD would
physically plan the whole query on the driver on every call, doubling
planning cost for large plans. File stats are only fetched on the
small-scan branch (fewer files than cores), so the driver does at most
``defaultParallelism - 1`` cheap metadata RPCs; a many-file scan
short-circuits on the file count alone.

:func:`cut` stands in for the reference's durable staging tables: every
operator that materializes an intermediate result goes through it, so a
deployment picks local or reliable cuts in one place (the SparkContext's
checkpoint dir) instead of per call site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SIZE_UNITS = {
    "k": 1024,
    "m": 1024**2,
    "g": 1024**3,
    "t": 1024**4,
    "p": 1024**5,
}


def _parse_bytes(s: str) -> int:
    """Parse a Spark byte-size conf string (``134217728b``, ``128m``,
    ``1g``...) into bytes."""
    s = s.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in _SIZE_UNITS:
        mult = _SIZE_UNITS[s[-1]]
        s = s[:-1]
    return int(s) * mult


def _estimated_splits(df: DataFrame, files: list) -> int:
    """Lower-bound estimate of the scan's planned partition count:
    Σ max(1, size // maxPartitionBytes) over the backing files.

    Uses the Hadoop FileSystem API so hdfs:/s3a:/file: paths all work.
    Overestimates when a large file has few row groups (splits cannot
    cross row-group boundaries) and when many small files pack into one
    split — both only matter near the threshold and err on the cheap
    side (skipping an exchange, never adding a redundant one for big
    scans).
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    try:
        max_bytes = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
    except ValueError:
        max_bytes = 128 * 1024 * 1024
    total = 0
    for f in files:
        try:
            path = jvm.org.apache.hadoop.fs.Path(f)
            fs = path.getFileSystem(hconf)
            size = fs.getFileStatus(path).getLen()
        except Exception:
            size = 0
        total += max(1, int(size) // max_bytes + (1 if size % max_bytes else 0))
    return total


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Spread a few-split frame across all cores before per-row-heavy
    work; no-op when the scan already provides enough partitions.

    With ``key_cols``, hash-partitions on them (downstream groupBy /
    window on the same keys reuses the exchange); without, round-robin.
    Non-file-backed frames (in-memory relations, shuffles upstream) are
    returned unchanged — the planner already chose their parallelism.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    files = df.inputFiles()
    if not files:
        return df
    if len(files) >= target:
        return df
    if _estimated_splits(df, files) >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: the materialized intermediate every later
    action reads instead of re-running the plan above it.

    Without a checkpoint dir on the SparkContext (local mode, tests) it
    is exactly ``df.localCheckpoint(eager)``: blocks on executor-local
    storage, lost with the executor. When the deployment has set one
    (``sc.setCheckpointDir`` on a replicated store), it is a reliable
    ``df.checkpoint()``, always eager: Spark writes a lazy reliable
    checkpoint only for the last marked RDD of a job, so a cut below
    another cut would never be written and every later job would
    recompute it."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager)
    return df.checkpoint(eager=True)
