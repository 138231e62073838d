"""Operator tests: window dedup (W1), merge policies (U1), conform (P1/P2),
archive (A1/A2), full-pipeline idempotency (SURVEY.md §5.2)."""

import datetime as dt
import os

import pyspark.sql.functions as F
import pytest

from sftp_data_ingestion_spark.operators import (
    conform_headers,
    header_valid,
    latest_per_key,
    move_to_archive,
    upsert_newer_wins,
)
from sftp_data_ingestion_spark.operators.clean import clean_staging
from sftp_data_ingestion_spark.schemas import NEWER_WINS_COLS, STG_COLUMNS

TS = dt.datetime


def _mk(spark, rows, schema="k string, ocr timestamp, ins timestamp, v string"):
    return spark.createDataFrame(rows, schema)


# ---- W1 dedup --------------------------------------------------------------

def test_latest_per_key_newest_wins(spark):
    df = _mk(spark, [
        ("a", TS(2024, 1, 2), TS(2024, 1, 1), "new"),
        ("a", TS(2024, 1, 1), TS(2024, 1, 5), "old"),
        ("b", None, TS(2024, 1, 1), "only"),
    ])
    out = latest_per_key(
        df, ["k"], [F.col("ocr").desc_nulls_last(), F.col("ins").desc_nulls_last()]
    )
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {"a": "new", "b": "only"}


def test_latest_per_key_nulls_last_and_tiebreak(spark):
    df = _mk(spark, [
        ("a", None, TS(2024, 1, 9), "null-ocr"),       # NULLS LAST: loses
        ("a", TS(2024, 1, 1), TS(2024, 1, 1), "has-ocr"),
        ("c", TS(2024, 1, 1), TS(2024, 1, 1), "older-ins"),
        ("c", TS(2024, 1, 1), TS(2024, 1, 2), "newer-ins"),  # tie on ocr -> ins
    ])
    out = latest_per_key(
        df, ["k"], [F.col("ocr").desc_nulls_last(), F.col("ins").desc_nulls_last()]
    )
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {"a": "has-ocr", "c": "newer-ins"}


# ---- U1 merge policies -----------------------------------------------------

MERGE_SCHEMA = (
    "chave_nfe string, data_ultima_ocr timestamp, status_prazo string, "
    "data_insercao timestamp, valor_nfe string"
)


def _merge(spark, dw_rows, delta_rows):
    dw = spark.createDataFrame(dw_rows, MERGE_SCHEMA)
    delta = spark.createDataFrame(delta_rows, MERGE_SCHEMA)
    out = upsert_newer_wins(
        dw, delta,
        key="chave_nfe", newer_col="data_ultima_ocr",
        newer_wins_cols=("data_ultima_ocr", "status_prazo"),
        greatest_cols=("data_insercao",),
    )
    return {r["chave_nfe"]: r.asDict() for r in out.collect()}


def test_merge_newer_wins_and_fill_blanks(spark):
    got = _merge(
        spark,
        [("k1", TS(2024, 1, 1), "old-status", TS(2024, 1, 1), None)],
        [("k1", TS(2024, 2, 1), "new-status", TS(2024, 1, 15), "10.00")],
    )
    r = got["k1"]
    assert r["status_prazo"] == "new-status"          # newer -> replaced
    assert r["data_ultima_ocr"] == TS(2024, 2, 1)
    assert r["data_insercao"] == TS(2024, 1, 15)       # greatest
    assert r["valor_nfe"] == "10.00"                   # coalesce fill


def test_merge_older_incoming_keeps_existing(spark):
    got = _merge(
        spark,
        [("k1", TS(2024, 2, 1), "cur", TS(2024, 2, 1), "5.00")],
        [("k1", TS(2024, 1, 1), "stale", TS(2024, 3, 1), None)],
    )
    r = got["k1"]
    assert r["status_prazo"] == "cur"                  # older -> kept
    assert r["data_ultima_ocr"] == TS(2024, 2, 1)
    assert r["data_insercao"] == TS(2024, 3, 1)        # greatest still applies
    assert r["valor_nfe"] == "5.00"                    # NULL never un-sets


@pytest.mark.parametrize(
    "old_ocr,new_ocr,expect_new",
    [
        (TS(2024, 1, 1), None, False),   # NULL > x -> unknown -> keep old
        (None, TS(2024, 1, 1), False),   # x > NULL -> unknown -> keep old (PG parity)
        (None, None, False),
        (TS(2024, 1, 1), TS(2024, 1, 1), False),  # equal is not strictly newer
        (TS(2024, 1, 1), TS(2024, 1, 2), True),
    ],
)
def test_merge_null_matrix(spark, old_ocr, new_ocr, expect_new):
    got = _merge(
        spark,
        [("k1", old_ocr, "old", TS(2024, 1, 1), None)],
        [("k1", new_ocr, "new", TS(2024, 1, 1), None)],
    )
    assert got["k1"]["status_prazo"] == ("new" if expect_new else "old")


def test_merge_insert_and_untouched(spark):
    got = _merge(
        spark,
        [("exists", TS(2024, 1, 1), "a", TS(2024, 1, 1), "1.00")],
        [("brand-new", TS(2024, 1, 1), "b", TS(2024, 1, 1), None)],
    )
    assert set(got) == {"exists", "brand-new"}
    assert got["exists"]["status_prazo"] == "a"
    assert got["brand-new"]["status_prazo"] == "b"


def test_merge_idempotent(spark):
    dw_rows = [("k1", TS(2024, 1, 1), "s", TS(2024, 1, 1), "1.00")]
    once = _merge(spark, dw_rows, dw_rows)
    assert once["k1"]["status_prazo"] == "s"
    assert once["k1"]["data_ultima_ocr"] == TS(2024, 1, 1)


def test_merge_uniqueness_invariant(spark):
    """U2: merge output has at most one row per key (no unique index in
    Spark — the invariant is by construction, asserted here)."""
    got = _merge(
        spark,
        [("k1", TS(2024, 1, 1), "a", TS(2024, 1, 1), None),
         ("k2", TS(2024, 1, 1), "b", TS(2024, 1, 1), None)],
        [("k2", TS(2024, 2, 1), "b2", TS(2024, 1, 1), None),
         ("k3", TS(2024, 1, 1), "c", TS(2024, 1, 1), None)],
    )
    assert len(got) == 3  # dict keyed by chave_nfe -> unique


# ---- conform ---------------------------------------------------------------

def test_conform_headers_rename_fill_project(spark):
    df = spark.createDataFrame(
        [("1", "25/12/2024", "SP", "junk")],
        "`ID` string, `Data Nfe` string, `UF` string, `Unknown Col` string",
    )
    out = conform_headers(df)
    assert out.columns == [c for c in STG_COLUMNS if c != "arquivo_origem"]
    row = out.collect()[0]
    assert row["id"] == "1" and row["data_nfe"] == "25/12/2024" and row["uf"] == "SP"
    assert row["pedido"] == ""  # missing columns filled with empty string
    assert "Unknown Col" not in out.columns


def test_header_valid_gate():
    good = ["ID", "Data Inserção", "Pedido", "Data Nfe", "Serie Nfe",
            "Número Nfe", "Valor Nfe", "Peso", "Remessa", "CEP"]
    assert header_valid(good)
    assert not header_valid(good[:9])
    assert header_valid(["﻿ID  "] + good[1:])  # BOM+space normalized


# ---- clean_staging ---------------------------------------------------------

def test_clean_staging_types_and_values(spark):
    row = {c: "" for c in STG_COLUMNS}
    row.update({
        "chave_nfe": "1" * 44, "data_nfe": "25/12/2024",
        "data_ultima_ocr": "2024-12-25T10:00:00Z", "valor_nfe": "1.234,56",
        "peso": "12,345", "qtd_volumes": "3 un", "uf": " sp ",
        "cnpj_cpf_transportadora": "12.345.678/0001-99",
        "data_insercao": "02/01/2024 10:00:00", "pedido": "  P1  ",
    })
    df = spark.createDataFrame([tuple(row[c] for c in STG_COLUMNS)],
                               ", ".join(f"{c} string" for c in STG_COLUMNS))
    out = clean_staging(df).collect()[0]
    assert out["chave_nfe"] == "1" * 44
    assert out["data_nfe"] == dt.date(2024, 12, 25)
    assert out["data_ultima_ocr"] == TS(2024, 12, 25, 10, 0)
    assert out["data_ultima_ocr_raw"] == "2024-12-25T10:00:00Z"
    assert str(out["valor_nfe"]) == "1234.56"
    assert str(out["peso"]) == "12.345"
    assert out["qtd_volumes"] == 3
    assert out["uf"] == "SP"
    assert out["cnpj_cpf_transportadora"] == "12345678000199"
    assert out["data_insercao"] == TS(2024, 1, 2, 10, 0)
    assert out["pedido"] == "P1"
    assert out["serie_nfe"] is None  # blank -> NULL


def test_clean_staging_default_insercao(spark):
    row = {c: "" for c in STG_COLUMNS}
    df = spark.createDataFrame([tuple(row[c] for c in STG_COLUMNS)],
                               ", ".join(f"{c} string" for c in STG_COLUMNS))
    fixed = F.lit("2020-01-01 00:00:00").cast("timestamp")
    out = clean_staging(df, default_insercao=fixed).collect()[0]
    assert out["data_insercao"] == TS(2020, 1, 1)


# ---- archive ---------------------------------------------------------------

def test_move_to_archive(spark, tmp_path):
    staging = str(tmp_path / "staging")
    hist = str(tmp_path / "hist")
    spark.createDataFrame([("a",), ("b",)], "v string").write.parquet(staging)
    res = move_to_archive(spark, staging, hist, batch_id="batch-1",
                          lock_dir=str(tmp_path))
    assert res["moved"] == 2
    hist_df = spark.read.parquet(hist)
    assert hist_df.count() == 2
    cols = set(hist_df.columns)
    assert {"processed_ts", "batch_id"} <= cols
    assert hist_df.select("batch_id").distinct().collect()[0][0] == "batch-1"
    assert not os.path.exists(staging)  # staging dropped
    # second run is a no-op append
    res2 = move_to_archive(spark, staging, hist, batch_id="batch-2",
                           lock_dir=str(tmp_path))
    assert res2["moved"] == 0
    assert spark.read.parquet(hist).count() == 2


def test_archive_lock_contention_preserves_holder_lock(spark, tmp_path):
    """ADVICE fix: losing the advisory-lock race must NOT remove the
    holder's lock file (reference: pg_try_advisory_xact_lock aborts
    without touching the holder)."""
    staging = str(tmp_path / "staging")
    spark.createDataFrame([("a",)], "v string").write.parquet(staging)
    lock = tmp_path / ".archive.lock"
    lock.touch()  # simulate a concurrent run holding the lock
    with pytest.raises(RuntimeError):
        move_to_archive(spark, staging, str(tmp_path / "hist"),
                        lock_dir=str(tmp_path))
    assert lock.exists()  # holder's lock untouched


# ---- NULL-key gate (P4) in merge -------------------------------------------

def test_merge_drops_null_key_delta_rows(spark):
    """ADVICE fix: NULL chave_nfe delta rows never reach DW (reference
    WHERE r.chave_nfe IS NOT NULL, 03_upsert_dw_pedidos.py:200)."""
    got = _merge(
        spark,
        [("k1", TS(2024, 1, 1), "a", TS(2024, 1, 1), None)],
        [(None, TS(2024, 2, 1), "ghost", TS(2024, 1, 1), None),
         ("k2", TS(2024, 1, 1), "b", TS(2024, 1, 1), None)],
    )
    assert set(got) == {"k1", "k2"}  # NULL-key row filtered, not inserted


# ---- conform duplicate-variant headers -------------------------------------

def test_conform_headers_duplicate_variants_keep_first(spark):
    """ADVICE fix: two spelling variants of the same logical column in
    one file must conform to ONE column (first wins), not crash."""
    df = spark.createDataFrame(
        [("1", "01/01/2024", "02/02/2024")],
        "`ID` string, `Data Prev. Entrega Original` string, "
        "`Data Prev. Entrega (Original)` string",
    )
    out = conform_headers(df)
    assert out.columns.count("data_prev_entrega_original") == 1
    assert out.collect()[0]["data_prev_entrega_original"] == "01/01/2024"


# ---- pipeline composition ---------------------------------------------------

def _stg_rows(spark, rows):
    """rows: list of dict overrides onto an all-empty 41-col staging row."""
    out = []
    for o in rows:
        base = {c: "" for c in STG_COLUMNS}
        base.update(o)
        out.append(tuple(base[c] for c in STG_COLUMNS))
    return spark.createDataFrame(
        out, ", ".join(f"{c} string" for c in STG_COLUMNS))


def test_run_upsert_pipeline_end_to_end(spark):
    from sftp_data_ingestion_spark.operators import run_upsert_pipeline
    from sftp_data_ingestion_spark.operators.clean import clean_staging as _cs

    k1, k2 = "1" * 44, "2" * 44
    staging = _stg_rows(spark, [
        {"chave_nfe": k1, "data_ultima_ocr": "02/01/2024 10:00:00",
         "status_prazo": "late", "data_insercao": "01/01/2024 00:00:00"},
        {"chave_nfe": k1, "data_ultima_ocr": "01/01/2024 10:00:00",
         "status_prazo": "early", "data_insercao": "01/01/2024 00:00:00"},
        {"chave_nfe": "bad-key", "status_prazo": "no-key"},      # NULL key
        {"chave_nfe": k2, "data_ultima_ocr": "03/01/2024 10:00:00",
         "status_prazo": "ok", "data_insercao": "01/01/2024 00:00:00"},
    ])
    fixed = F.lit("2020-01-01 00:00:00").cast("timestamp")
    empty_dw = _cs(_stg_rows(spark, []), default_insercao=fixed).limit(0)
    dw1 = run_upsert_pipeline(empty_dw, staging, default_insercao=fixed)
    got = {r["chave_nfe"]: r.asDict() for r in dw1.collect()}
    assert set(got) == {k1, k2}            # NULL key excluded, dedup to 1/key
    assert got[k1]["status_prazo"] == "late"   # latest occurrence won
    # idempotency: rerunning the same staging batch is a no-op
    dw2 = run_upsert_pipeline(dw1, staging, default_insercao=fixed)
    assert sorted(map(str, dw2.collect())) == sorted(map(str, dw1.collect()))


def test_pipeline_batch_split_associativity(spark):
    """Same final DW whether staging lands as one batch or two
    (SURVEY.md §5.2(4))."""
    from sftp_data_ingestion_spark.operators import run_upsert_pipeline
    from sftp_data_ingestion_spark.operators.clean import clean_staging as _cs

    k = "3" * 44
    older = {"chave_nfe": k, "data_ultima_ocr": "01/01/2024 10:00:00",
             "status_prazo": "v1", "data_insercao": "01/01/2024 00:00:00"}
    newer = {"chave_nfe": k, "data_ultima_ocr": "02/01/2024 10:00:00",
             "status_prazo": "v2", "data_insercao": "02/01/2024 00:00:00"}
    fixed = F.lit("2020-01-01 00:00:00").cast("timestamp")
    empty_dw = _cs(_stg_rows(spark, []), default_insercao=fixed).limit(0)

    one = run_upsert_pipeline(empty_dw, _stg_rows(spark, [older, newer]),
                              default_insercao=fixed)
    two = run_upsert_pipeline(
        run_upsert_pipeline(empty_dw, _stg_rows(spark, [older]),
                            default_insercao=fixed),
        _stg_rows(spark, [newer]), default_insercao=fixed)
    assert sorted(map(str, one.collect())) == sorted(map(str, two.collect()))


def test_archive_rerun_same_batch_id_is_idempotent(spark, tmp_path):
    """Crash-retry semantics: hist append landed but staging was not
    cleared -> retry with the same batch_id must not duplicate rows."""
    staging = str(tmp_path / "staging")
    hist = str(tmp_path / "hist")
    spark.createDataFrame([("a",), ("b",)], "v string").write.parquet(staging)
    res1 = move_to_archive(spark, staging, hist, batch_id="B1")
    assert res1["moved"] == 2
    # simulate the crash window: staging still holds the batch
    spark.createDataFrame([("a",), ("b",)], "v string").write.mode(
        "overwrite").parquet(staging)
    res2 = move_to_archive(spark, staging, hist, batch_id="B1")
    assert res2["moved"] == 0                       # gate fired
    assert spark.read.parquet(hist).count() == 2    # no duplicates
    assert not os.path.exists(staging)               # staging dropped
    # a NEW batch id archives normally
    spark.createDataFrame([("c",)], "v string").write.mode(
        "overwrite").parquet(staging)
    res3 = move_to_archive(spark, staging, hist, batch_id="B2")
    assert res3["moved"] == 1
    assert spark.read.parquet(hist).count() == 3


def test_archive_gate_over_unreadable_hist_raises(spark, tmp_path):
    """A hist that exists but cannot be read is not a first archive:
    the idempotency gate raises and staging keeps its rows."""
    staging = str(tmp_path / "staging")
    hist = tmp_path / "hist"
    spark.createDataFrame([("a",), ("b",)], "v string").write.parquet(staging)
    hist.mkdir()
    (hist / "part-x.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        move_to_archive(spark, staging, str(hist), batch_id="B1")
    assert spark.read.parquet(staging).count() == 2
    assert os.listdir(hist) == ["part-x.parquet"]


def test_archive_batch_id_reuse_with_new_data_raises(spark, tmp_path):
    """ADVICE fix: a reused batch_id over DIFFERENT staging data must
    raise, not silently discard the new rows — the gate compares a
    CONTENT fingerprint, so even an equal-sized different batch is
    caught."""
    staging = str(tmp_path / "staging")
    hist = str(tmp_path / "hist")
    spark.createDataFrame([("a",), ("b",)], "v string").write.parquet(staging)
    assert move_to_archive(spark, staging, hist, batch_id="B1")["moved"] == 2
    # caller mistakenly reuses B1 for a NEW (different-size) batch
    spark.createDataFrame([("c",)], "v string").write.mode(
        "overwrite").parquet(staging)
    with pytest.raises(ValueError, match="unique per batch"):
        move_to_archive(spark, staging, hist, batch_id="B1")
    assert spark.read.parquet(staging).count() == 1  # rows preserved
    assert spark.read.parquet(hist).count() == 2     # hist untouched
    # EQUAL-SIZED different content must also raise (count alone
    # cannot distinguish reuse from crash-retry)
    spark.createDataFrame([("x",), ("y",)], "v string").write.mode(
        "overwrite").parquet(staging)
    with pytest.raises(ValueError, match="unique per batch"):
        move_to_archive(spark, staging, hist, batch_id="B1")
    assert spark.read.parquet(staging).count() == 2
    assert spark.read.parquet(hist).count() == 2


def test_atomic_swap_crash_window_recovery(spark, tmp_path):
    """A crash between the swap's two renames leaves only <path>.old;
    read_table must restore it BEFORE any caller treats the missing
    table as 'first run' (silent full-history loss). A table with no
    data file reads as None; one with unreadable data raises; a
    dropped table stays dropped."""
    from sftp_data_ingestion_spark.io.sinks import (
        atomic_swap_parquet,
        drop_table,
        read_table,
    )

    path = str(tmp_path / "dw")
    spark.createDataFrame([("k1",), ("k2",)], "k string").write.parquet(path)
    # simulate the crash window: table renamed aside, swap never landed
    os.rename(path, path + ".old")
    recovered = read_table(spark, path)
    assert recovered is not None
    assert sorted(r["k"] for r in recovered.collect()) == ["k1", "k2"]
    assert not os.path.exists(path + ".old")
    # a stale .old from a COMPLETED swap never blocks the next one
    spark.read.parquet(path).write.parquet(path + ".old")
    n = atomic_swap_parquet(
        spark.createDataFrame([("k3",)], "k string"), path
    )
    assert n == 1
    assert [r["k"] for r in spark.read.parquet(path).collect()] == ["k3"]
    assert not os.path.exists(path + ".old")
    assert read_table(spark, str(tmp_path / "absent")) is None
    # what an aborted first append leaves: only names Spark skips
    aborted = tmp_path / "aborted"
    (aborted / "_temporary").mkdir(parents=True)
    (aborted / "_SUCCESS").touch()
    (aborted / ".part-0.parquet.crc").touch()
    assert read_table(spark, str(aborted)) is None
    junk = tmp_path / "junk"
    junk.mkdir()
    (junk / "part-x.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        read_table(spark, str(junk))
    # a drop interrupted after its rename is never repaired back
    drop_table(path)
    assert not os.path.exists(path) and not os.path.exists(path + ".dropped")
    spark.createDataFrame([("k4",)], "k string").write.parquet(path + ".dropped")
    assert read_table(spark, path) is None
    assert not os.path.exists(path)


def _cron_upsert_case(spark, tmp_path):
    """Two cron cycles through the CLI stages. The first lands K1 and
    K2; its archive empties the bronze, so the second cycle's bronze
    holds only K1's update. K2 survives only if the second upsert
    merged into the DW the first one wrote."""
    from types import SimpleNamespace

    from sftp_data_ingestion_spark import cli
    from tests.test_cli import K1, K2, _setup_remote

    remote = _setup_remote(tmp_path)
    later = tmp_path / "pedidos_2.csv"
    (remote / "pedidos_2.csv").rename(later)
    wh = str(tmp_path / "wh")
    args = SimpleNamespace(
        source=str(remote), landing=str(tmp_path / "novos"), warehouse=wh,
        buckets=None, batch_id=None,
    )

    def cycle():
        cli.cmd_ingest(spark, args)
        cli.cmd_load(spark, args)
        cli.cmd_upsert(spark, args)
        cli.cmd_archive(spark, args)

    def second_step():
        later.rename(remote / "pedidos_2.csv")
        cycle()
        return {
            r["chave_nfe"]: r["pedido"]
            for r in spark.read.parquet(f"{wh}/dw").collect()
        }

    cycle()
    return f"{wh}/dw", second_step, {K1: "P-1-upd", K2: "P-2"}


def _mv_merge_case(spark, tmp_path):
    """Two MV merge steps; the second batch adds to the first batch's
    group only if it merged into the stored state."""
    from sftp_data_ingestion_spark import streaming

    state = str(tmp_path / "mv_state")
    specs = {"n": ("count", "event_id"), "s": ("sum", "value")}
    schema = "event_type string, event_id long, value double"

    def step(rows, batch_id):
        batch = spark.createDataFrame(rows, schema)
        assert streaming.mv_merge_batch(batch, batch_id, state, ["event_type"], specs)

    def second_step():
        step([("view", 3, 5.0)], 1)
        return {
            r["event_type"]: (r["n"], r["s"])
            for r in spark.read.parquet(state).collect()
        }

    step([("view", 1, 2.0), ("view", 2, 3.0), ("click", 4, 1.0)], 0)
    return state, second_step, {"view": (3, 10.0), "click": (1, 1.0)}


@pytest.mark.parametrize(
    "case", [_cron_upsert_case, _mv_merge_case], ids=["cmd_upsert", "mv_merge_batch"]
)
def test_swapped_table_callers_merge_into_recovered_table(spark, tmp_path, case):
    """A crash between the swap's renames leaves only <path>.old; the
    next step of every caller must merge into that table, not
    bootstrap a new one from its own batch."""
    import os

    path, second_step, want = case(spark, tmp_path)
    os.rename(path, path + ".old")
    assert second_step() == want
    assert not os.path.exists(path + ".old")


def test_profile_columns_nulls_and_native_ordering(spark):
    from sftp_data_ingestion_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(9, "b"), (10, None), (100, "a"), (None, "a")],
        "n bigint, s string",
    )
    rows = {r["column_name"]: r for r in profile_columns(df, ["n", "s"]).collect()}
    n, s = rows["n"], rows["s"]
    assert n["n_rows"] == 4 and n["n_nulls"] == 1 and n["n_distinct"] == 3
    # min/max computed on the native type THEN rendered: lexicographic
    # ordering would give min "10" / max "9"
    assert (n["min_str"], n["max_str"]) == ("9", "100")
    assert s["n_nulls"] == 1 and s["n_distinct"] == 2
    assert (s["min_str"], s["max_str"]) == ("a", "b")


def test_profile_columns_approx_mode_single_row_per_col(spark):
    from sftp_data_ingestion_spark.operators.profile import profile_columns

    df = spark.createDataFrame([(i, str(i % 7)) for i in range(100)], "n bigint, s string")
    out = profile_columns(df, ["n", "s"], exact_distinct=False).collect()
    assert len(out) == 2
    by = {r["column_name"]: r for r in out}
    # HLL estimate is exact at these cardinalities
    assert by["s"]["n_distinct"] == 7 and by["n"]["n_rows"] == 100


def test_set_once_columns_keep_existing_even_null(spark):
    """Set-once policy (reference SET clause omits data_nfe /
    data_prev_entrega_original): an existing DW row keeps its value
    unconditionally — even a NULL survives a non-NULL incoming value,
    which COALESCE would have overwritten."""
    from sftp_data_ingestion_spark.operators.merge import upsert_newer_wins

    dw = spark.createDataFrame(
        [("k1", None, "old_ts"), ("k2", "2020-01-01", "old_ts")],
        "chave_nfe string, data_nfe string, other string",
    )
    delta = spark.createDataFrame(
        [("k1", "2024-05-05", "new_ts"), ("k3", "2024-06-06", "new_ts")],
        "chave_nfe string, data_nfe string, other string",
    )
    out = {
        r["chave_nfe"]: (r["data_nfe"], r["other"])
        for r in upsert_newer_wins(
            dw, delta, key="chave_nfe", newer_col="other",
            set_once_cols=["data_nfe"],
        ).collect()
    }
    assert out["k1"] == (None, "new_ts")        # NULL kept; other coalesced
    assert out["k2"] == ("2020-01-01", "old_ts")  # untouched row
    assert out["k3"] == ("2024-06-06", "new_ts")  # fresh insert takes value


# ---------------------------------------------------------------------------
# expectations suite
# ---------------------------------------------------------------------------


def test_expectations_counts_and_single_scan(spark):
    from sftp_data_ingestion_spark.operators import expectations as ex

    df = spark.createDataFrame(
        [
            (1, "O", 10.0, 1),
            (2, "O", -5.0, 1),    # price range violation
            (3, "X", 10.0, 2),    # status violation
            (None, "O", 10.0, 9), # null key + orphan fk
            (1, "O", 10.0, 1),    # duplicate key 1
        ],
        "k long, status string, price double, fk long",
    )
    dim = spark.createDataFrame([(1,), (2,)], "id long")
    rules = [
        ex.not_null("k_not_null", "k"),
        ex.in_set("status_ok", "status", ("O", "F", "P")),
        ex.in_range("price_ok", "price", 0, 100),
        ex.unique("k_unique", "k"),
        ex.foreign_key("fk_ok", "fk", dim, "id"),
    ]
    out = ex.check_expectations(df, rules)
    got = {r["rule"]: r["n_violations"] for r in out.collect()}
    assert got == {
        "k_not_null": 1,
        "status_ok": 1,
        "price_ok": 1,
        "k_unique": 1,
        "fk_ok": 1,
    }
    # all three row rules share ONE scan leg: the plan reads the
    # violations table once for the stacked row-rule aggregate plus
    # once each for unique/fk — not once per row rule
    p = out._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]  # AQE prints both plans
    # 3 legs over df (stacked row rules, unique, fk) + 1 dim scan
    assert final.count("Scan ExistingRDD") <= 4


def test_expectations_empty_table_is_all_zero(spark):
    from sftp_data_ingestion_spark.operators import expectations as ex

    df = spark.createDataFrame([], "k long, status string")
    out = ex.check_expectations(
        df,
        [
            ex.not_null("k_not_null", "k"),
            ex.in_set("status_ok", "status", ("O",)),
            ex.unique("k_unique", "k"),
        ],
    )
    got = {r["rule"]: r["n_violations"] for r in out.collect()}
    assert got == {"k_not_null": 0, "status_ok": 0, "k_unique": 0}


def test_forget_keys_purges_all_tables_and_keeps_null_keys(spark):
    from sftp_data_ingestion_spark.operators.forget import forget_keys

    ev = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "keep-null"), (3, "c")],
        "uid long, x string",
    )
    orders = spark.createDataFrame(
        [(1, 10.0), (9, 20.0)], "customer long, total double"
    )
    forget = spark.createDataFrame([(1,), (3,)], "uid long")
    out = forget_keys(
        {"ev": (ev, "uid"), "orders": (orders, "customer")},
        forget,
        "uid",
    )
    assert {r["uid"] for r in out["ev"].collect()} == {2, None}
    assert {r["customer"] for r in out["orders"].collect()} == {9}
    # scale shape: the forget-set broadcasts; the table never shuffles
    p = out["ev"]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_global_running_sum_matches_single_partition_window(spark):
    from pyspark.sql import Window

    from sftp_data_ingestion_spark.operators.prefix import (
        global_running_sum,
    )

    df = spark.range(0, 500).select(
        (F.col("id") * 37 % 101).alias("t"),  # scrambled order key
        F.col("id").alias("uid"),             # unique tiebreak
        (F.col("id") % 7 - 3).cast("long").alias("delta"),
    )
    got = global_running_sum(
        df, ["t", "uid"], "delta", out="g", num_partitions=8
    )
    w = Window.orderBy("t", "uid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.withColumn("g", F.sum("delta").over(w))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the scan must NOT serialize: with AQE's small-input coalescing
    # off, the requested 8-way range partitioning must survive (on
    # this 500-row fixture AQE rightly folds it to 1 — at scale it
    # stays P-way, which is the property that matters)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        wide = global_running_sum(
            df, ["t", "uid"], "delta", out="g", num_partitions=8
        )
        assert wide.rdd.getNumPartitions() == 8
        assert wide.exceptAll(want).count() == 0
    finally:
        spark.conf.set(key, prev)


def test_expectations_fk_with_same_column_name_and_empty_suite(spark):
    from sftp_data_ingestion_spark.operators import expectations as ex

    df = spark.createDataFrame([(1,), (9,)], "customer_id long")
    dim = spark.createDataFrame([(1,)], "customer_id long")
    out = ex.check_expectations(
        df, [ex.foreign_key("fk", "customer_id", dim, "customer_id")]
    )
    assert out.collect()[0]["n_violations"] == 1
    empty = ex.check_expectations(df, [])
    assert empty.count() == 0
    assert empty.columns == ["rule", "n_violations"]
