"""Output checks: DuckDB replays of the pipeline and the query oracles.

Pipeline: every batch the generator produced is replayed in DuckDB with
``clean_staging_sql`` (the cleaning cascade's DuckDB twin), a
latest-per-key window and the merge policies of ``operators/merge.py``
(newer-wins on ``NEWER_WINS_COLS``, set-once on ``SET_ONCE_COLS``,
``greatest`` on ``data_insercao``, fill-the-blanks elsewhere) in the
shape of the ``u1_upsert_newer_wins`` oracle. The DW the program wrote
is read back from its parquet files and compared row for row.

Queries: each result is compared with its registered oracle SQL on the
same generated tables, after the normalisation ``scripts/check_oracle.py``
uses (columns sorted by name, cells typed and stringified, rows sorted).
"""

from __future__ import annotations

import glob
import math
import os

import duckdb

from sftp_data_ingestion_spark.operators.clean import clean_staging_sql
from sftp_data_ingestion_spark.schemas import (
    FIXTURE_TABLES,
    NEWER_WINS_COLS,
    SET_ONCE_COLS,
    STG_COLUMNS,
)

KEY = "chave_nfe"


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def _has_parquet(path: str) -> bool:
    return bool(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


class PipelineReplay:
    """DuckDB model of the DW after each applied batch."""

    def __init__(self):
        import pyarrow as pa

        self._pa = pa
        self.con = duckdb.connect()
        self._typed = clean_staging_sql(
            "stg", default_insercao_sql="TIMESTAMP '1970-01-01 00:00:00'")
        self._register([])
        self.con.execute(f"CREATE TABLE dw AS SELECT * FROM ({self._typed}) LIMIT 0")
        self.columns = [d[0] for d in self.con.execute("SELECT * FROM dw").description]
        self.delta_rows: list[int] = []

    def _register(self, rows: list[dict]) -> None:
        tbl = self._pa.table({c: self._pa.array([r[c] for r in rows], self._pa.string())
                              for c in STG_COLUMNS})
        self.con.register("stg", tbl)

    def _policy(self, c: str) -> str:
        o, n = f"o.{c}", f"n.{c}"
        if c == KEY or c in SET_ONCE_COLS:
            merged = o
        elif c in NEWER_WINS_COLS:
            merged = f"CASE WHEN n.data_ultima_ocr > o.data_ultima_ocr THEN {n} ELSE {o} END"
        elif c == "data_insercao":
            merged = f"greatest({o}, {n})"
        else:
            merged = f"COALESCE({n}, {o})"
        return (f"CASE WHEN o.{KEY} IS NULL THEN {n} WHEN n.{KEY} IS NULL THEN {o} "
                f"ELSE {merged} END AS {c}")

    def apply(self, rows: list[dict]) -> None:
        """Apply one staged batch (the rows bronze holds for one cycle)."""
        self._register(rows)
        self.con.execute(f"""
CREATE OR REPLACE TEMP TABLE delta AS
SELECT * EXCLUDE (rn) FROM (
  SELECT t.*, row_number() OVER (
           PARTITION BY {KEY}
           ORDER BY data_ultima_ocr DESC NULLS LAST, data_insercao DESC NULLS LAST
         ) AS rn
  FROM ({self._typed}) t WHERE {KEY} IS NOT NULL
) WHERE rn = 1""")
        self.delta_rows.append(self.con.execute("SELECT count(*) FROM delta").fetchone()[0])
        merged = ", ".join(self._policy(c) for c in self.columns)
        self.con.execute(f"""
CREATE OR REPLACE TABLE dw AS
SELECT {merged} FROM dw o FULL JOIN delta n ON o.{KEY} = n.{KEY}""")

    def write_dw(self, path: str) -> None:
        """Write the replayed DW as the warehouse's starting ``dw/``
        (timestamps as UTC instants, which Spark reads as TIMESTAMP)."""
        import pyarrow.parquet as pq

        pa = self._pa
        t = self.con.execute("SELECT * FROM dw").arrow()
        t = t.cast(pa.schema([
            pa.field(f.name, pa.timestamp("us", tz="UTC"))
            if pa.types.is_timestamp(f.type) else f for f in t.schema]))
        os.makedirs(path)
        pq.write_table(t, os.path.join(path, "part-00000.parquet"))

    def check_dw(self, dw_path: str) -> list[str]:
        """Problems found comparing the program's DW with the replay."""
        if not _has_parquet(dw_path):
            return [f"no DW parquet under {dw_path}"]
        cols = ", ".join(self.columns)
        got = f"SELECT {cols} FROM {_parquet(dw_path)}"
        problems = []
        try:
            n_got = self.con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
            n_exp = self.con.execute("SELECT count(*) FROM dw").fetchone()[0]
            if n_got != n_exp:
                problems.append(f"DW rows {n_got} != replay {n_exp}")
            for a, b, label in ((got, f"SELECT {cols} FROM dw", "not in replay"),
                                (f"SELECT {cols} FROM dw", got, "missing from DW")):
                n = self.con.execute(
                    f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
                if n:
                    problems.append(f"{n} DW rows {label}")
        except duckdb.Error as exc:
            problems.append(f"DW unreadable: {exc}")
        return problems


def check_warehouse(warehouse: str, files: list, rows_loaded: int) -> list[str]:
    """Pipeline invariants: hist rows = rows loaded, bronze empty after
    archive, ``erros/`` holds exactly the planted bad files, the ledger
    has one row per file."""
    con = duckdb.connect()
    p = {n: os.path.join(warehouse, n) for n in ("bronze", "hist", "ledger", "erros")}
    problems = []

    def count(sql: str) -> int:
        return con.execute(sql).fetchone()[0]

    hist = count(f"SELECT count(*) FROM {_parquet(p['hist'])}") if _has_parquet(p["hist"]) else 0
    if hist != rows_loaded:
        problems.append(f"hist rows {hist} != rows loaded {rows_loaded}")
    if _has_parquet(p["bronze"]) and count(f"SELECT count(*) FROM {_parquet(p['bronze'])}"):
        problems.append("bronze not empty after archive")
    bad = sorted(f.name for f in files if f.bad)
    erros = sorted(os.listdir(p["erros"])) if os.path.isdir(p["erros"]) else []
    if erros != bad:
        problems.append(f"erros/ holds {erros}, planted {bad}")
    ledger = dict(con.execute(
        f"SELECT filename, count(*) FROM {_parquet(p['ledger'])} GROUP BY 1").fetchall())
    if sorted(ledger) != sorted(f.name for f in files) or any(v != 1 for v in ledger.values()):
        problems.append(f"ledger has {sum(ledger.values())} rows for "
                        f"{len(ledger)} names, {len(files)} files landed")
    con.close()
    return problems


# ---------------------------------------------------------------------------
# query oracles
# ---------------------------------------------------------------------------


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "nan")
        return ("float", repr(v))
    return (type(v).__name__, str(v))


def norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def oracle_rows(tables_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    """Run one oracle on a fresh DuckDB connection over the tables."""
    con = duckdb.connect()
    try:
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables_dir}/{t}.parquet')")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    """(columns, row tuples) of an Arrow result, timestamps made naive
    as ``collect()`` returns them under the pinned UTC zone."""
    import pyarrow as pa

    cols = []
    for c in table.columns:
        if pa.types.is_timestamp(c.type) and c.type.tz is not None:
            c = c.cast(pa.timestamp(c.type.unit))
        cols.append(c.to_pylist())
    return table.column_names, list(zip(*cols)) if cols else []


def compare(cols: list[str], rows: list[tuple], ocols: list[str],
            orows: list[tuple]) -> list[str]:
    if sorted(cols) != sorted(ocols):
        return [f"columns {sorted(cols)} != oracle {sorted(ocols)}"]
    if len(rows) != len(orows):
        return [f"{len(rows)} rows != oracle {len(orows)}"]
    a, b = norm_rows(cols, rows), norm_rows(ocols, orows)
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return [f"values differ at sorted row {i}: {a[i]} != {b[i]}"]
    return []
