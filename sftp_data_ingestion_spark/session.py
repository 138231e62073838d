"""SparkSession factory with scale-oriented defaults.

The reference delegates all execution to PostgreSQL (one planner, one
node); here the session IS the engine, so the defaults matter:

* **AQE on** (adaptive coalescing, skew-join splitting, runtime join
  re-selection) — the replacement for PostgreSQL's runtime planner.
* **Session timezone pinned to UTC** — the reference's timestamps are
  naive PostgreSQL ``TIMESTAMP`` (SURVEY.md §1.2); pinning the session
  tz makes ``TimestampType`` behave naively and deterministically.
* **Arrow on** for any pandas interchange (the slow path, used only by
  ext operators that genuinely need numpy).
* **ANSI stays at the Spark 4 default (on)**; all cleaning expressions
  use ``try_*`` functions so bad input yields NULL (PostgreSQL-cascade
  semantics) instead of job failure.

At 100 TB the same factory is used with ``master=None`` (cluster
manager decides) and a larger ``shuffle_partitions`` (rule of thumb:
2-3x total executor cores, or rely on AQE coalescing from a high
initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local test default: one shuffle partition per core. On a real cluster
# AQE's coalescePartitions makes a high initial value safe, so scale this
# with the cluster, not the data.
_DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "sftp-data-ingestion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters mirror what a deployment would template: ``master`` is
    ``local[$SPARK_GRAFT_CPUS]`` for tests and absent on a cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- adaptive execution: runtime re-planning, skew handling ----
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- shuffle sizing --------------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS),
        )
        # -- determinism: naive-timestamp semantics (SURVEY.md §1.2) ---
        .config("spark.sql.session.timeZone", "UTC")
        # -- TIMESTAMP(NANOS) parquet (events.ts fixture): read as long,
        #    converted to micros in queries.registry.table (Spark has no
        #    nanosecond timestamp type; DuckDB truncates the same way) --
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- pandas/Arrow interchange for the few vectorized UDF ops ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- UDTFs ship rows over Arrow too (off by default in 4.1;
        #    without it a LATERAL UDTF runs row-pickled
        #    BatchEvalPythonUDTF — the audit's python_row_udf class) --
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # -- HotSpot never JIT-compiles methods > 8000 bytecode
        #    (DontCompileHugeMethods), so a whole-stage method between
        #    8000 and Spark's 65535 default runs INTERPRETED. Capping at
        #    the JIT limit makes wide projections (the 41-expression
        #    cleaning cascade) fall back to per-expression codegen,
        #    which JIT-compiles: measured 2.0x on clean_staging at
        #    sf0.1 (6.9s -> 3.4s). ----------------------------------
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # -- local-mode memory headroom (single JVM, 32 threads) -------
        #    (JIT CodeCache was measured at ~115 MB used after a full
        #    103-query suite — well inside the HotSpot default — so no
        #    ReservedCodeCacheSize override is warranted; suite-time
        #    outliers trace to host contention, not JIT eviction.)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        # -- keep the UI off in tests (port churn, no value headless) --
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
