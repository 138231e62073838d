"""Conditional field-level upsert — the reference's ON CONFLICT merge (U1, J4).

Reference (``/root/reference/python/03_upsert_dw_pedidos.py:202-246``):
``INSERT ... ON CONFLICT (chave_nfe) DO UPDATE`` with three per-column
policies:

* **newer-wins** — 8 occurrence-tracking columns replaced only when the
  incoming ``data_ultima_ocr`` is strictly newer than the existing one;
  a NULL on either side makes the comparison unknown -> keep existing
  (PostgreSQL's NULL>x -> false semantics == Spark's, verified in tests);
* **greatest** — ``data_insercao = GREATEST(old, new)`` (both engines
  skip NULLs);
* **set-once** — columns the reference's SET clause omits entirely
  (``data_nfe``, ``data_prev_entrega_original``,
  :202-246): an existing DW row keeps its value unconditionally, even
  a NULL one — strictly stronger than fill-the-blanks;
* **fill-the-blanks** — every other column ``COALESCE(new, old)``: a new
  non-NULL wins, a NULL never un-sets.

Spark shape: ``dw LEFT OUTER JOIN delta`` + policy Project, unioned
with the new keys from ``delta LEFT ANTI JOIN dw.select(key)``. Unlike
a full-outer join, both can broadcast their right side, so Catalyst/AQE
never exchange the full-width DW while the delta broadcasts. When
neither side broadcasts, an unbucketed DW pays one extra key-only DW
shuffle (the anti join's) on top of the sort-merge join's full-width
one; a key-bucketed DW pays neither. At 100 TB the DW table would be a Delta table and this exact
expression set becomes the ``WHEN MATCHED THEN UPDATE SET`` clause of
``MERGE INTO`` — the policy generator below is the reusable piece.

Precondition (U3): ``delta`` has at most one row per key — enforce with
:func:`sftp_data_ingestion_spark.operators.dedup.latest_per_key`, same
as PostgreSQL forbids double-update of one row per statement.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def upsert_newer_wins(
    dw: DataFrame,
    delta: DataFrame,
    key: str = "chave_nfe",
    newer_col: str = "data_ultima_ocr",
    newer_wins_cols: Sequence[str] = (),
    greatest_cols: Sequence[str] = (),
    set_once_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge ``delta`` into ``dw`` by unique ``key`` with the four
    reference column policies; returns the new DW contents.

    Columns are taken from ``dw``'s schema; ``delta`` must contain all
    of them (extra delta columns are ignored).

    NULL-key delta rows are dropped here, mirroring the reference's
    ``WHERE r.chave_nfe IS NOT NULL`` gate
    (/root/reference/python/03_upsert_dw_pedidos.py:200): in a
    key equi-join a NULL key can never match, so without the
    filter every run would insert its NULL-key rows as fresh DW rows
    and break the one-row-per-key invariant (U2).
    An unmatched DW row needs no branch: ``COALESCE(NULL, old)``,
    ``GREATEST(old, NULL)`` and ``NULL > old`` all keep ``old``.
    """
    o = dw.alias("o")
    n = delta.where(F.col(key).isNotNull()).select(dw.columns).alias("n")
    newer = F.col(f"n.{newer_col}") > F.col(f"o.{newer_col}")  # NULL -> false

    def policy(c: str) -> Column:
        old, new = F.col(f"o.{c}"), F.col(f"n.{c}")
        if c == key or c in set_once_cols:
            merged = old
        elif c in newer_wins_cols:
            merged = F.when(newer, new).otherwise(old)
        elif c in greatest_cols:
            merged = F.greatest(old, new)
        else:
            merged = F.coalesce(new, old)
        return merged.alias(c)

    kept = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "left_outer")
    inserted = n.join(dw.select(key), key, "left_anti")
    return kept.select([policy(c) for c in dw.columns]).union(
        inserted.select(dw.columns)
    )
