"""End-to-end pipeline composition: staging -> typed DW (stage 3).

The reference's stage 3 is ONE SQL statement
(``/root/reference/python/03_upsert_dw_pedidos.py:21-248``): clean the
whole staging table, rank per ``chave_nfe``, keep ``rn = 1`` and
``chave_nfe IS NOT NULL`` (:200-201), then upsert into the typed DW.
This module chains the four operators into that exact shape, so the
whole run is ONE Catalyst plan: Project (clean, codegen'd) -> Window
(single shuffle on ``chave_nfe``) -> Filter -> the merge's left-outer
and left-anti joins (operators/merge.py).

Scale notes (SURVEY.md §4.3): while the batch fits the broadcast
threshold, the dedup window is the only shuffle; the NULL-key filter
runs before the merge joins, so NULL keys never hit them.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.io.sinks import atomic_swap_parquet, read_table
from sftp_data_ingestion_spark.operators.clean import clean_staging
from sftp_data_ingestion_spark.operators.dedup import dedup_latest_pedidos
from sftp_data_ingestion_spark.operators.merge import upsert_newer_wins
from sftp_data_ingestion_spark.operators.upsert_partitioned import (
    bucket_layout,
    upsert_partitioned,
    write_dw_partitioned,
)
from sftp_data_ingestion_spark.schemas import NEWER_WINS_COLS, SET_ONCE_COLS


def staging_to_delta(
    staging: DataFrame, default_insercao: Column | None = None
) -> DataFrame:
    """clean (P3) -> drop NULL keys (P4) -> dedup latest per key (W1/U3).

    Output: at most one typed row per non-NULL ``chave_nfe`` — the U3
    precondition ``upsert_newer_wins`` requires.

    The NULL-key filter is stated BEFORE the dedup window (the
    reference places it after — ``rn = 1 AND chave_nfe IS NOT NULL``
    over the ranked CTE — but the window partitions by exactly the
    filter key, so dropping whole partitions before or after ranking
    is provably row-identical; pinned against the after-ordered
    oracle). Physically this is the r14 skew audit's NO-OP finding:
    Catalyst already infers and pushes the key filter below the
    Window all the way into the scan (plans/r14/
    pedidos_pipeline_flagship_before.txt node (2) — identical plan
    both orderings), so the one giant NULL/'BAD-KEY' partition (10%
    of fixture rows; the would-be 100 TB straggler, guide §2.5) never
    reaches the window in either form. Stating the filter first makes
    the shape explicit instead of optimizer-inferred — if a future
    non-deterministic column ever blocks the pushdown, the logical
    plan stays skew-safe by construction.
    """
    typed = clean_staging(staging, default_insercao=default_insercao)
    return dedup_latest_pedidos(typed.where(F.col("chave_nfe").isNotNull()))


# stage 3's column policies (reference 03:202-246)
_upsert_pedidos = partial(
    upsert_newer_wins,
    key="chave_nfe",
    newer_col="data_ultima_ocr",
    newer_wins_cols=NEWER_WINS_COLS,
    greatest_cols=("data_insercao",),
    set_once_cols=SET_ONCE_COLS,
)


def run_upsert_pipeline(
    dw: DataFrame,
    staging: DataFrame,
    default_insercao: Column | None = None,
) -> DataFrame:
    """Full stage-3 run: returns the new DW contents.

    Idempotent: re-running with the same staging batch is a no-op
    (newer-wins comparisons are strict ``>``, fill-the-blanks is
    COALESCE, GREATEST of equals is unchanged) — the reference's
    ON CONFLICT semantics (README.md:117-121).
    """
    return _upsert_pedidos(dw, staging_to_delta(staging, default_insercao))


def upsert_dw(staging: DataFrame, path: str, buckets: int | None = None) -> dict:
    """Stage 3 into the DW at ``path``. ``buckets`` lays out a new DW in
    that many hash buckets; an existing DW keeps its layout (a differing
    ``buckets`` raises before any write) and picks the commit: a
    bucketed DW rewrites only the touched buckets, a plain one is
    swapped in whole. A DW holding only its layout record (a bootstrap
    whose keys were all NULL wrote no rows) bootstraps again in the
    recorded layout. Both merge joins of the swap read the delta, with
    different column sets, so it is persisted until the swap is done."""
    dw = read_table(staging.sparkSession, path)
    delta = staging_to_delta(staging)
    layout = bucket_layout(path) if os.path.exists(path) else None
    if dw is not None or layout:
        num_buckets = layout[1] if layout else None
        if buckets is not None and buckets != num_buckets:
            raise ValueError(f"{path} is laid out in {num_buckets or 'no'} "
                             f"buckets, not {buckets}")
        buckets = num_buckets
    if dw is None:
        if buckets is not None:
            n = write_dw_partitioned(delta, path, "chave_nfe", buckets)
            return {"dw_rows": n, "bootstrap": True, "buckets": buckets}
        dw = clean_staging(staging).limit(0)
    elif buckets is not None:
        return {"buckets": buckets,
                **upsert_partitioned(path, delta, _upsert_pedidos)}
    delta = delta.persist()
    try:
        return {"dw_rows": atomic_swap_parquet(_upsert_pedidos(dw, delta), path)}
    finally:
        delta.unpersist()
