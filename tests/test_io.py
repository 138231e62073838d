"""IO tests: robust CSV reader (S6a-d, S7), routing (S9), ledger
(S3/S10), verified fetch (S2) — fixture classes per FIXTURES.md §B.4."""

import os

import pytest

from sftp_data_ingestion_spark.io.csv_robust import (
    load_landing_batch,
    plan_file,
    read_csv_robust,
    sniff_separator,
)
from sftp_data_ingestion_spark.io.sinks import safe_copy
from sftp_data_ingestion_spark.io.sources import (
    LocalDirSource,
    RemoteFile,
    RetryingFetcher,
    clean_partials,
)
from sftp_data_ingestion_spark.io.stage import load_stage

HDR = ("ID;Data Inserção;Pedido;Data Nfe;Serie Nfe;Número Nfe;Valor Nfe;"
       "Peso;Remessa;CEP;UF")


def _write(path, text, encoding="utf-8"):
    with open(path, "w", encoding=encoding, newline="") as f:
        f.write(text)
    return str(path)


def _collect(spark, path):
    plan = plan_file(path)
    assert plan.valid, plan.reason
    return read_csv_robust(spark, plan).collect()


# ---- S6a separator sniffing -------------------------------------------------

@pytest.mark.parametrize("sep", [",", ";", "|", "\t"])
def test_sniff_each_separator(tmp_path, sep):
    body = sep.join(["a"] * 11) + "\n" + sep.join(["1"] * 11) + "\n"
    assert sniff_separator(body) == sep


def test_sniff_tie_prefers_comma():
    assert sniff_separator("a,b;c\nd,e;f\n") in (",", ";")
    assert sniff_separator("x\n") == ","  # zero counts -> first candidate


# ---- reader: encodings, BOM, blanks, quotes, ragged ------------------------

def test_read_semicolon_utf8(spark, tmp_path):
    p = _write(tmp_path / "a.csv", f"{HDR}\n1;02/01/2024;P1;;;;;;;;SP\n")
    rows = _collect(spark, p)
    assert len(rows) == 1
    assert rows[0]["id"] == "1" and rows[0]["uf"] == "SP"
    assert rows[0]["arquivo_origem"] == "a.csv"
    assert rows[0]["tipo_entrega"] == ""  # missing column filled

def test_read_cp1252_accents(spark, tmp_path):
    text = f"{HDR}\n9;;Pédido çedilha;;;;;;;;RJ\n"
    p = str(tmp_path / "cp.csv")
    with open(p, "w", encoding="cp1252", newline="") as f:
        f.write(text)
    rows = _collect(spark, p)
    assert rows[0]["pedido"] == "Pédido çedilha"

def test_read_utf8_sig_bom(spark, tmp_path):
    p = str(tmp_path / "bom.csv")
    with open(p, "w", encoding="utf-8-sig", newline="") as f:
        f.write(f"{HDR}\n7;;x;;;;;;;;MG\n")
    plan = plan_file(p)
    assert plan.valid  # BOM stripped before the header gate
    rows = read_csv_robust(spark, plan).collect()
    assert len(rows) == 1 and rows[0]["id"] == "7"

def test_utf8_multibyte_straddles_probe_boundary(spark, tmp_path):
    """ADVICE fix: a valid UTF-8 file whose 256KB sniff prefix ends
    mid-multibyte-sequence must still classify as utf-8 (previously the
    truncated sequence raised UnicodeDecodeError and the whole body was
    read as cp1252 -> mojibake)."""
    from sftp_data_ingestion_spark.io.csv_robust import _HEAD_BYTES

    header_line = f"{HDR}\n"
    # pad a quoted pedido cell so byte _HEAD_BYTES-1 is the FIRST byte
    # of a 2-byte sequence ("é" = 0xC3 0xA9) and the second falls
    # outside the probe window
    prefix = f'1;;"'.encode()
    pad = b"a" * (_HEAD_BYTES - len(header_line.encode()) - len(prefix) - 1)
    body = prefix + pad + "éfim".encode() + b'";;;;;;;;SP\n'
    p = str(tmp_path / "big_utf8.csv")
    with open(p, "wb") as f:
        f.write(header_line.encode() + body)
    plan = plan_file(p)
    assert plan.valid and plan.encoding == "utf-8"
    rows = read_csv_robust(spark, plan).collect()
    assert rows[0]["pedido"].endswith("éfim")  # no mojibake


def test_blank_rows_dropped(spark, tmp_path):
    p = _write(tmp_path / "b.csv",
               f"{HDR}\n\n   \n1;;a;;;;;;;;SP\n;;;;;;;;;;\n2;;b;;;;;;;;RJ\n")
    rows = _collect(spark, p)
    assert sorted(r["id"] for r in rows) == ["1", "2"]

def test_quoted_separator_kept(spark, tmp_path):
    p = _write(tmp_path / "q.csv",
               f'{HDR}\n1;;"a;b;c";;;;;;;;SP\n')
    rows = _collect(spark, p)
    assert rows[0]["pedido"] == "a;b;c"  # quoted sep not split

def test_doubled_quote_unescaped(spark, tmp_path):
    p = _write(tmp_path / "qq.csv",
               f'{HDR}\n1;;"say ""hi"" now";;;;;;;;SP\n')
    rows = _collect(spark, p)
    assert rows[0]["pedido"] == 'say "hi" now'

def test_ragged_overflow_joined_with_sep(spark, tmp_path):
    # 12 cells vs 11 headers: overflow folds into LAST column with sep
    p = _write(tmp_path / "r.csv",
               f"{HDR}\n1;;;;;;;;;;SP;EXTRA\n")
    rows = _collect(spark, p)
    assert rows[0]["uf"] == "SP;EXTRA"

def test_ragged_short_padded(spark, tmp_path):
    p = _write(tmp_path / "s.csv", f"{HDR}\n1;x\n")
    rows = _collect(spark, p)
    assert rows[0]["id"] == "1"
    assert rows[0]["data_insercao"] == "x"
    assert rows[0]["uf"] == ""  # padded

# ---- multi-line quoted fields (reference csv.reader parity) ----------------

def test_multiline_quoted_field_roundtrips(spark, tmp_path):
    """Reference parity (02_load_stage_pedidos.py:146-149): a quoted
    field containing a newline is ONE logical record, not two broken
    rows."""
    p = _write(tmp_path / "ml.csv",
               f'{HDR}\n1;;"linha um\nlinha dois";;;;;;;;SP\n2;;b;;;;;;;;RJ\n')
    rows = _collect(spark, p)
    assert len(rows) == 2
    by_id = {r["id"]: r for r in rows}
    assert by_id["1"]["pedido"] == "linha um\nlinha dois"
    assert by_id["1"]["uf"] == "SP"
    assert by_id["2"]["pedido"] == "b"


def test_multiline_quoted_field_cp1252(spark, tmp_path):
    text = f'{HDR}\n1;;"endereço:\nrua çê";;;;;;;;RJ\n'
    p = str(tmp_path / "mlcp.csv")
    with open(p, "w", encoding="cp1252", newline="") as f:
        f.write(text)
    rows = _collect(spark, p)
    assert len(rows) == 1
    assert rows[0]["pedido"] == "endereço:\nrua çê"


def test_multiline_with_doubled_quotes_and_ragged(spark, tmp_path):
    """Doubled "" escapes keep quote parity even (no false record
    join); ragged repair still applies to joined records."""
    p = _write(tmp_path / "mix.csv",
               f'{HDR}\n1;;"say ""hi""\nbye";;;;;;;;SP;EXTRA\n')
    rows = _collect(spark, p)
    assert len(rows) == 1
    assert rows[0]["pedido"] == 'say "hi"\nbye'
    assert rows[0]["uf"] == "SP;EXTRA"  # overflow folded into last col


# ---- S7 gate + quarantine classes ------------------------------------------

def test_alien_header_rejected(tmp_path):
    p = _write(tmp_path / "alien.csv", "x;y;z\n1;2;3\n")
    plan = plan_file(p)
    assert not plan.valid and "header gate" in plan.reason

def test_empty_file_rejected(tmp_path):
    p = _write(tmp_path / "empty.csv", "")
    assert not plan_file(p).valid

def test_header_only_file_loads_zero_rows(spark, tmp_path):
    p = _write(tmp_path / "h.csv", f"{HDR}\n")
    plan = plan_file(p)
    assert plan.valid  # gate passes; 0-row outcome handled by routing
    assert read_csv_robust(spark, plan).count() == 0


# ---- batch grouping ---------------------------------------------------------

def test_load_landing_batch_groups_mixed_separators(spark, tmp_path):
    _write(tmp_path / "a.csv", f"{HDR}\n1;;a;;;;;;;;SP\n")
    _write(tmp_path / "b.csv", f"{HDR}\n2;;b;;;;;;;;RJ\n")
    comma_hdr = HDR.replace(";", ",")
    _write(tmp_path / "c.csv", f"{comma_hdr}\n3,,c,,,,,,,,MG\n")
    _write(tmp_path / "bad.csv", "a,b\n1,2\n")
    files = [str(tmp_path / n) for n in
             ("a.csv", "b.csv", "c.csv", "bad.csv")]
    df, plans = load_landing_batch(spark, files)
    assert sorted(r["id"] for r in df.collect()) == ["1", "2", "3"]
    assert [p.valid for p in plans] == [True, True, False, True]  # sorted order


# ---- S9 routing -------------------------------------------------------------

def test_safe_copy_collision_suffix(tmp_path):
    src = _write(tmp_path / "f.csv", "x")
    dst_dir = tmp_path / "lidos"
    d1 = safe_copy(src, str(dst_dir))
    d2 = safe_copy(src, str(dst_dir))
    assert os.path.basename(d1) == "f.csv"
    assert "__dup_" in os.path.basename(d2)


# ---- S2 verified fetch ------------------------------------------------------

class FlakySource:
    """Returns short file twice, then full file (S2 retry path)."""

    def __init__(self, root):
        self.root = root
        self.calls = 0

    def list_files(self):
        return [RemoteFile("x.csv", 4)]

    def fetch(self, name, dest):
        self.calls += 1
        with open(dest, "w") as f:
            f.write("ab" if self.calls < 3 else "abcd")


def test_retrying_fetcher_verifies_size(tmp_path):
    src = FlakySource(str(tmp_path))
    fetcher = RetryingFetcher(src, sleep_fn=lambda s: None)
    stats = fetcher.ingest(str(tmp_path / "novos"))
    assert stats == {"fetched": 1, "skipped": 0, "failed": 0}
    assert src.calls == 3
    with open(tmp_path / "novos" / "x.csv") as f:
        assert f.read() == "abcd"

def test_retrying_fetcher_gives_up(tmp_path):
    class AlwaysShort(FlakySource):
        def fetch(self, name, dest):
            with open(dest, "w") as f:
                f.write("ab")
    fetcher = RetryingFetcher(AlwaysShort(str(tmp_path)), sleep_fn=lambda s: None)
    stats = fetcher.ingest(str(tmp_path / "novos"))
    assert stats["failed"] == 1
    assert not os.path.exists(tmp_path / "novos" / "x.csv.part")  # cleaned

def test_clean_partials(tmp_path):
    _write(tmp_path / "a.part", "x")
    assert clean_partials(str(tmp_path)) == 1


# ---- stage-2 end-to-end -----------------------------------------------------

def test_load_stage_end_to_end(spark, tmp_path):
    novos = tmp_path / "novos"; novos.mkdir()
    _write(novos / "good.csv", f"{HDR}\n1;;a;;;;;;;;SP\n2;;b;;;;;;;;RJ\n")
    _write(novos / "alien.csv", "x;y\n1;2\n")
    _write(novos / "headeronly.csv", f"{HDR}\n")
    args = dict(
        novos_dir=str(novos),
        bronze_path=str(tmp_path / "bronze"),
        lidos_dir=str(tmp_path / "lidos"),
        erros_dir=str(tmp_path / "erros"),
        ledger_path=str(tmp_path / "ledger"),
    )
    res = load_stage(spark, **args)
    assert res["files_ok"] == 1 and res["files_error"] == 2
    assert res["rows_loaded"] == 2
    bronze = spark.read.parquet(args["bronze_path"])
    assert bronze.count() == 2
    assert os.path.exists(tmp_path / "lidos" / "good.csv")
    assert os.path.exists(tmp_path / "erros" / "alien.csv")
    assert os.path.exists(tmp_path / "erros" / "headeronly.csv")
    # second run: ledger anti-join skips everything (S10)
    res2 = load_stage(spark, **args)
    assert res2["files_processed"] == 0
    assert spark.read.parquet(args["bronze_path"]).count() == 2


def test_new_files_case_insensitive_name_ordered(spark, tmp_path):
    """S3/S10 contract: a listed file is new unless the ledger holds its
    basename in any letter case; the result is in path order."""
    from sftp_data_ingestion_spark.io.sources import (
        new_files,
        read_ledger,
        record_results,
    )

    listing = [str(tmp_path / n) for n in ("b.CSV", "A.csv", "c.csv", "D.Csv")]
    ledger_path = str(tmp_path / "ledger")
    assert new_files(spark, listing, read_ledger(spark, ledger_path)) == sorted(
        listing
    )
    record_results(
        spark,
        ledger_path,
        [{"path": "/elsewhere/B.csv", "status": "ok", "rows_loaded": 3},
         {"path": "x/d.CSV", "status": "error", "reason": "0 rows"}],
        "b1",
    )
    ledger = read_ledger(spark, ledger_path)
    assert new_files(spark, listing, ledger) == [
        str(tmp_path / "A.csv"), str(tmp_path / "c.csv")
    ]
    assert sorted(
        (r["filename"], r["status"], r["reason"], r["rows_loaded"], r["batch_id"])
        for r in ledger.collect()
    ) == [("B.csv", "ok", "", 3, "b1"), ("d.CSV", "error", "0 rows", 0, "b1")]
    assert ledger.where("processed_ts IS NULL").count() == 0


# ---- SFTPSource via injected fake paramiko ----------------------------------

def _fake_paramiko(remote_root):
    """Minimal paramiko double: Transport + SFTPClient over a local
    dir, recording lifecycle calls — lets the REAL SFTPSource logic
    (listing filter/sort, path join, fetch, close ordering) run
    without the library or a network."""
    import shutil
    import types

    calls = []

    class FakeTransport:
        def __init__(self, addr):
            calls.append(("transport", addr))

        def connect(self, username, password):
            calls.append(("connect", username, password))

        def close(self):
            calls.append(("transport_close",))

    class FakeSFTPClient:
        def listdir_attr(self, remote_dir):
            calls.append(("listdir", remote_dir))
            out = []
            for name in os.listdir(remote_root):
                a = types.SimpleNamespace(
                    filename=name,
                    st_size=os.path.getsize(os.path.join(remote_root, name)),
                )
                out.append(a)
            return out

        def get(self, remote_path, dest):
            calls.append(("get", remote_path))
            shutil.copy2(
                os.path.join(remote_root, os.path.basename(remote_path)), dest
            )

        def close(self):
            calls.append(("sftp_close",))

    mod = types.ModuleType("paramiko")
    mod.Transport = FakeTransport
    mod.SFTPClient = types.SimpleNamespace(
        from_transport=lambda t: FakeSFTPClient()
    )
    return mod, calls


def test_sftp_source_end_to_end(tmp_path, monkeypatch):
    """SFTPSource (S1) through RetryingFetcher (S2) over the fake
    paramiko: CSV-only case-insensitive listing, sorted order,
    remote-dir path join, verified download, close() teardown."""
    import sys

    from sftp_data_ingestion_spark.io.sources import SFTPSource

    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "b.CSV").write_text("x;y\n1;2\n")
    (remote / "a.csv").write_text("x;y\n3;4\n")
    (remote / "skip.txt").write_text("not csv")
    fake, calls = _fake_paramiko(str(remote))
    monkeypatch.setitem(sys.modules, "paramiko", fake)

    with SFTPSource("host", 22, "user", "pw", "/upload") as src:
        files = src.list_files()
        assert [f.name for f in files] == ["a.csv", "b.CSV"]  # sorted, CSV only
        assert files[0].size == len("x;y\n3;4\n")
        fetcher = RetryingFetcher(src, sleep_fn=lambda s: None)
        stats = fetcher.ingest(str(tmp_path / "novos"))
    assert stats == {"fetched": 2, "skipped": 0, "failed": 0}
    assert (tmp_path / "novos" / "a.csv").read_text() == "x;y\n3;4\n"
    # remote paths joined against remote_dir
    assert ("get", "/upload/a.csv") in calls
    # teardown closed the channel then the transport
    assert calls[-2:] == [("sftp_close",), ("transport_close",)]


def test_sftp_source_without_paramiko_raises(monkeypatch):
    import builtins
    import sys

    from sftp_data_ingestion_spark.io.sources import SFTPSource

    monkeypatch.delitem(sys.modules, "paramiko", raising=False)
    real_import = builtins.__import__

    def no_paramiko(name, *a, **k):
        if name == "paramiko":
            raise ImportError("no module")
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", no_paramiko)
    with pytest.raises(NotImplementedError, match="paramiko"):
        SFTPSource("h", 22, "u", "p", "/d")


def test_stray_quote_line_does_not_merge_or_collapse(spark, tmp_path):
    """A lone unpaired quote inside an unquoted field is a literal
    char (csv.reader non-strict): the record joiner must NOT merge the
    line with its neighbor, and the cell split must still split every
    separator instead of collapsing the prefix into one cell."""
    p = _write(tmp_path / "stray.csv",
               f'{HDR}\n1;;ab"cd;;;;;;;;SP\n2;;normal;;;;;;;;RJ\n')
    rows = _collect(spark, p)
    assert len(rows) == 2
    by_id = {r["id"]: r for r in rows}
    assert by_id["1"]["pedido"] == 'ab"cd'
    assert by_id["1"]["uf"] == "SP"
    assert by_id["2"]["pedido"] == "normal"


def test_doubled_quote_then_newline_stays_in_field(spark, tmp_path):
    """'""' inside a quoted field is an escaped quote — the field (and
    its embedded newline AFTER the escape) stays open until the real
    closing quote."""
    p = _write(tmp_path / "esc.csv",
               f'{HDR}\n1;;"say ""hi""\nnext line";;;;;;;;SP\n')
    rows = _collect(spark, p)
    assert len(rows) == 1
    assert rows[0]["pedido"] == 'say "hi"\nnext line'


def test_compact_parquet_dir_merges_small_files(spark, tmp_path):
    from sftp_data_ingestion_spark.io.compact import compact_parquet_dir

    path = str(tmp_path / "bronze")
    # simulate many per-batch appends -> many small files
    for b in range(8):
        spark.createDataFrame(
            [(b * 100 + i, f"v{b}_{i}") for i in range(50)], "id long, v string"
        ).coalesce(1).write.mode("append").parquet(path)
    before = spark.read.parquet(path).sort("id").collect()

    stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert stats["compacted"] and stats["files_before"] >= 8
    assert stats["files_after"] == 1  # total bytes << target -> one file

    after = spark.read.parquet(path).sort("id").collect()
    assert after == before  # byte-for-byte same rows

    # second pass is a no-op: the table is already healthy
    again = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert not again["compacted"] and again["files_after"] == 1


def test_compact_noop_below_min_files(spark, tmp_path):
    from sftp_data_ingestion_spark.io.compact import compact_parquet_dir

    path = str(tmp_path / "small")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    stats = compact_parquet_dir(spark, path, min_files=4)
    assert not stats["compacted"]


def test_compact_refuses_hive_partitioned_layout(spark, tmp_path):
    import pytest as _pytest

    from sftp_data_ingestion_spark.io.compact import compact_parquet_dir

    path = str(tmp_path / "dw")
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id long, v string, dw_bucket int"
    ).write.partitionBy("dw_bucket").parquet(path)
    with _pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet_dir(spark, path, min_files=1)


def test_write_clustered_produces_disjoint_key_ranges(spark, tmp_path):
    """The clustered layout's whole point: per-file [min, max] key
    ranges must be pairwise disjoint, so a key predicate can skip
    every non-matching file via footer stats alone."""
    import duckdb
    import pyspark.sql.functions as F

    from sftp_data_ingestion_spark.io.layout import write_clustered

    src = spark.range(0, 10_000).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") % 97
    )
    # scramble first so clustering has real work to do
    path = str(tmp_path / "clustered")
    n = write_clustered(src.orderBy(F.rand(seed=7)), path, ["k"], n_files=8)
    assert n == 10_000

    ranges = duckdb.sql(
        f"SELECT file_name, min(k), max(k) FROM ("
        f"  SELECT filename AS file_name, k"
        f"  FROM read_parquet('{path}/*.parquet', filename=true))"
        f" GROUP BY 1 ORDER BY 2"
    ).fetchall()
    assert len(ranges) == 8
    for (_, _, prev_max), (_, next_min, _) in zip(ranges, ranges[1:]):
        assert prev_max < next_min  # disjoint, ordered slices

    # a selective filter reads correctly from the clustered layout
    out = spark.read.parquet(path).where(F.col("k").between(100, 110))
    assert out.count() == 11


def test_overwrite_partitions_touches_only_batch_partitions(spark, tmp_path):
    from sftp_data_ingestion_spark.io.sinks import overwrite_partitions

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)],
        "day string, v int",
    )
    overwrite_partitions(base, path, ["day"])
    # re-land ONLY day 2 with different contents
    batch = spark.createDataFrame(
        [("2024-01-02", 99)], "day string, v int"
    )
    overwrite_partitions(batch, path, ["day"])
    # partition-dir values read back type-inferred (DATE here)
    got = sorted(
        (str(r["day"]), r["v"]) for r in spark.read.parquet(path).collect()
    )
    # day 1 untouched, day 2 replaced (not appended)
    assert got == [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 99)]
    # static mode would have wiped day 1 — assert the conf was restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "static"
    )


def test_orc_scan_pushes_filters(spark, tmp_path):
    """The ORC read path must keep predicate pushdown and column
    pruning (the reason to use a columnar format at all)."""
    import pyspark.sql.functions as F

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = str(tmp_path / "docs_orc")
    src.write.mode("overwrite").orc(p)
    df = spark.read.orc(p).where(F.col("doc_id") < 10).select("doc_id", "source")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan
    assert df.count() == 10
