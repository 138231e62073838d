"""Golden end-to-end test (SURVEY §5.2(3)): the four-stage pipeline
through the CLI — ingest -> load -> upsert -> archive — on dirty
reference-shaped CSVs, plus full-idempotency on rerun."""

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal
from types import SimpleNamespace

import pytest

from sftp_data_ingestion_spark import cli
from sftp_data_ingestion_spark.cli import main

HDR = ("ID;Data Inserção;Pedido;Data Nfe;Valor Nfe;Peso;Qtd. Volumes;UF;"
       "Chave NFe;Data Última Ocr.;Status Prazo")
K1, K2 = "1" * 44, "2" * 44


def _setup_remote(tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "pedidos_1.csv").write_text(
        f"{HDR}\n"
        f"1;02/01/2024 10:00:00;P-1;25/12/2024;1.234,56;12,345;3 un; sp ;{K1};05/01/2024 08:00:00;NO PRAZO\n"
        f"2;02/01/2024 10:00:00;P-2;26/12/2024;999,99;1,5;1;RJ;{K2};06/01/2024 09:30:00;ATRASADO\n"
        f"3;02/01/2024 10:00:00;P-3;;;;;XX-BAD;BADKEY;;\n",
        encoding="utf-8",
    )
    (remote / "pedidos_2.csv").write_text(
        f"{HDR}\n"
        f"9;03/01/2024 11:00:00;P-1-upd;25/12/2024;1.234,56;12,345;3;SP;{K1};07/01/2024 10:00:00;ENTREGUE\n",
        encoding="utf-8",
    )
    return remote


def test_four_stage_golden_run(spark, tmp_path):
    remote = _setup_remote(tmp_path)
    argv = [
        "run-all",
        "--source", str(remote),
        "--landing", str(tmp_path / "novos"),
        "--warehouse", str(tmp_path / "wh"),
    ]
    assert main(argv) == 0

    dw = spark.read.parquet(str(tmp_path / "wh" / "dw"))
    rows = {r["chave_nfe"]: r.asDict() for r in dw.collect()}
    assert set(rows) == {K1, K2}  # BADKEY row excluded from DW

    r1 = rows[K1]
    assert r1["pedido"] == "P-1-upd"          # newer occurrence won
    assert r1["status_prazo"] == "ENTREGUE"
    assert r1["valor_nfe"] == Decimal("1234.56")   # pt-BR decimal
    assert r1["peso"] == Decimal("12.345")
    assert r1["qtd_volumes"] == 3                  # "3 un" -> 3
    assert r1["uf"] == "SP"
    assert r1["data_nfe"] == dt.date(2024, 12, 25)
    assert r1["data_ultima_ocr"] == dt.datetime(2024, 1, 7, 10, 0)
    assert rows[K2]["uf"] == "RJ"

    hist = spark.read.parquet(str(tmp_path / "wh" / "hist"))
    assert hist.count() == 4  # ALL rows archived (P4: bad keys reach hist)
    assert not (tmp_path / "wh" / "bronze").exists()  # staging dropped

    # full-pipeline idempotency: rerun with no new remote files
    # (materialize BEFORE the rerun — the upsert swap replaces the
    # files the old DataFrame references)
    before = sorted(map(str, dw.collect()))
    assert main(argv) == 0
    dw2 = spark.read.parquet(str(tmp_path / "wh" / "dw"))
    assert sorted(map(str, dw2.collect())) == before
    assert spark.read.parquet(str(tmp_path / "wh" / "hist")).count() == 4


def test_stage_commands_individually(spark, tmp_path):
    remote = _setup_remote(tmp_path)
    landing = str(tmp_path / "novos")
    wh = str(tmp_path / "wh")
    assert main(["ingest", "--source", str(remote), "--landing", landing]) == 0
    assert main(["load", "--landing", landing, "--warehouse", wh]) == 0
    assert main(["upsert", "--warehouse", wh]) == 0
    assert main(["archive", "--warehouse", wh, "--batch-id", "T1"]) == 0
    assert spark.read.parquet(f"{wh}/dw").count() == 2
    hist = spark.read.parquet(f"{wh}/hist")
    assert hist.where("batch_id = 'T1'").count() == 4
    # archive retry with the same batch id: idempotent
    assert main(["archive", "--warehouse", wh, "--batch-id", "T1"]) == 0
    assert spark.read.parquet(f"{wh}/hist").count() == 4


# Runs cmd_load + cmd_archive in a fresh session, then lists the
# processes under this one that are PySpark Python workers (the daemon
# or its forks).
_NO_WORKER_PROBE = r"""
import json, os, sys
from types import SimpleNamespace

from sftp_data_ingestion_spark.cli import cmd_archive, cmd_load
from sftp_data_ingestion_spark.session import get_spark

landing, wh = sys.argv[1:3]
spark = get_spark(master="local[2]", shuffle_partitions=2)
out = {
    "load": cmd_load(spark, SimpleNamespace(landing=landing, warehouse=wh)),
    "archive": cmd_archive(spark, SimpleNamespace(warehouse=wh, batch_id="T1")),
}
parent, cmd = {}, {}
for e in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{e}/stat") as f:
            parent[int(e)] = int(f.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{e}/cmdline", "rb") as f:
            cmd[int(e)] = f.read().replace(b"\0", b" ").decode()
    except OSError:
        continue

def under_me(pid):
    while pid > 1:
        pid = parent.get(pid, 0)
        if pid == os.getpid():
            return True
    return False

out["python_workers"] = [
    c for p, c in cmd.items()
    if under_me(p) and ("pyspark.daemon" in c or "pyspark.worker" in c)
]
print(json.dumps(out))
"""


def test_cron_load_and_archive_start_no_python_worker(tmp_path):
    """A cold cron run of the load and archive stages plans every step
    in the JVM: listing vs ledger, ledger append, hist append. A Python
    worker would cost the daemon start-up in every cron run. Opening
    the not-yet-created ledger and hist logs no stack trace."""
    landing = tmp_path / "novos"
    shutil.copytree(_setup_remote(tmp_path), landing)
    (landing / "alien.csv").write_text("a;b\n1;2\n")  # fails the header gate
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _NO_WORKER_PROBE, str(landing), str(tmp_path / "wh")],
        capture_output=True, text=True, env=env, cwd=repo, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert (out["load"]["files_ok"], out["load"]["files_error"]) == (2, 1)
    assert out["load"]["rows_loaded"] == 4
    assert out["archive"]["moved"] == 4
    assert out["python_workers"] == []
    assert "FileNotFoundException" not in res.stderr


def test_idle_cycle_starts_no_spark_job(spark, tmp_path):
    """A cron cycle with no new remote files has nothing to do: its
    upsert and archive start no Spark job, and the DW and hist keep
    their files."""
    remote = _setup_remote(tmp_path)
    wh = tmp_path / "wh"
    args = SimpleNamespace(source=str(remote), landing=str(tmp_path / "novos"),
                           warehouse=str(wh), batch_id=None, buckets=None)
    assert main(["run-all", "--source", args.source, "--landing", args.landing,
                 "--warehouse", args.warehouse]) == 0
    dw_files = sorted(os.listdir(wh / "dw"))
    n_hist = len(os.listdir(wh / "hist"))
    sc = spark.sparkContext
    jobs = {}
    for stage in ("ingest", "load", "upsert", "archive"):
        group = f"idle-cycle-{stage}"
        sc.setJobGroup(group, stage)
        try:
            getattr(cli, f"cmd_{stage}")(spark, args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[stage] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert (jobs["upsert"], jobs["archive"]) == (0, 0)
    assert sorted(os.listdir(wh / "dw")) == dw_files
    assert len(os.listdir(wh / "hist")) == n_hist
    assert not (wh / "bronze").exists()


def test_upsert_without_bronze_is_noop(tmp_path):
    assert main(["upsert", "--warehouse", str(tmp_path / "empty_wh")]) == 0


def _tree_state(path):
    """Every file under ``path`` with its mtime: equal states mean
    nothing was written, replaced or removed."""
    return {
        os.path.join(root, f): os.stat(os.path.join(root, f)).st_mtime_ns
        for root, _dirs, files in os.walk(path)
        for f in files
    }


def _load_fixture(tmp_path):
    remote = _setup_remote(tmp_path)
    landing = str(tmp_path / "novos")
    wh = str(tmp_path / "wh")
    assert main(["ingest", "--source", str(remote), "--landing", landing]) == 0
    assert main(["load", "--landing", landing, "--warehouse", wh]) == 0
    return str(remote), landing, wh


@pytest.mark.parametrize(
    "second_run", ["upsert --buckets 8", "upsert", "run-all"],
    ids=["upsert-buckets-8", "upsert", "run-all"],
)
def test_upsert_bucketed_path(spark, tmp_path, second_run):
    """A DW laid out with --buckets keeps its layout: every later
    stage-3 run, with or without the flag, merges through the pruned
    path."""
    remote, landing, wh = _load_fixture(tmp_path)
    # bootstrap lays out the bucketed DW
    assert main(["upsert", "--warehouse", wh, "--buckets", "8"]) == 0
    dw_dir = f"{wh}/dw"
    assert any(e.startswith("dw_bucket=") for e in os.listdir(dw_dir))
    dw = spark.read.parquet(dw_dir)
    assert dw.drop("dw_bucket").count() == 2      # same DW as plain path
    # second run merges through the pruned path and stays idempotent
    cmd, *flags = second_run.split()
    paths = {"upsert": ["--warehouse", wh],
             "run-all": ["--source", remote, "--landing", landing,
                         "--warehouse", wh]}[cmd]
    assert main([cmd, *paths, *flags]) == 0
    spark.catalog.refreshByPath(dw_dir)
    dw2 = {r["chave_nfe"]: r["pedido"]
           for r in spark.read.parquet(dw_dir).collect()}
    assert dw2[K1] == "P-1-upd" and len(dw2) == 2
    assert os.path.exists(f"{dw_dir}/_buckets")


@pytest.mark.parametrize(
    "first, second", [("2", "3"), (None, "8")], ids=["bucketed", "plain"]
)
def test_conflicting_buckets_fail_and_write_nothing(spark, tmp_path, first, second):
    """--buckets only lays out a new DW: a count that differs from the
    DW's layout (a 2-bucket DW, or a plain one) raises before any
    write, so the DW keeps one row per key and bronze stays for a
    correct rerun."""
    _remote, _landing, wh = _load_fixture(tmp_path)
    assert main(["upsert", "--warehouse", wh,
                 *(["--buckets", first] if first else [])]) == 0
    before = _tree_state(f"{wh}/dw"), _tree_state(f"{wh}/bronze")
    with pytest.raises(ValueError, match=f"not {second}"):
        main(["upsert", "--warehouse", wh, "--buckets", second])
    assert (_tree_state(f"{wh}/dw"), _tree_state(f"{wh}/bronze")) == before


def test_bucketed_bootstrap_after_aborted_write(spark, tmp_path):
    """A bootstrap write that died leaves only dw/_temporary; that is
    no DW yet, so the next --buckets run lays the DW out again."""
    _remote, _landing, wh = _load_fixture(tmp_path)
    os.makedirs(f"{wh}/dw/_temporary/0")
    assert main(["upsert", "--warehouse", wh, "--buckets", "8"]) == 0
    assert os.path.exists(f"{wh}/dw/_buckets")
    assert spark.read.parquet(f"{wh}/dw").count() == 2


def test_record_only_bucketed_dw_keeps_its_layout(spark, tmp_path):
    """A --buckets bootstrap whose keys were all NULL writes no rows,
    only dw/_buckets. The next plain run bootstraps in the recorded
    layout instead of dropping it, and a different count still
    raises."""
    from pyspark.sql import functions as F

    from sftp_data_ingestion_spark.operators.pipeline import upsert_dw

    _remote, _landing, wh = _load_fixture(tmp_path)
    dw_dir = f"{wh}/dw"
    bronze = spark.read.parquet(f"{wh}/bronze")
    null_keys = bronze.withColumn("chave_nfe", F.lit(None).cast("string"))
    upsert_dw(null_keys, dw_dir, buckets=4)
    assert not any(e.startswith("dw_bucket=") for e in os.listdir(dw_dir))
    with pytest.raises(ValueError, match="not 8"):
        upsert_dw(bronze, dw_dir, buckets=8)
    assert upsert_dw(bronze, dw_dir)["buckets"] == 4
    with open(f"{dw_dir}/_buckets") as f:
        assert json.load(f)["num_buckets"] == 4
    assert any(e.startswith("dw_bucket=") for e in os.listdir(dw_dir))
    assert spark.read.parquet(dw_dir).count() == 2


def test_curate_command(spark, tmp_path, capsys):
    import json

    out_dir = str(tmp_path / "curated")
    assert main([
        "curate",
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", out_dir,
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["curate"]
    assert stats["docs_in"] > 0
    assert stats["docs_out"] > 0
    assert stats["docs_in"] == (stats["docs_out"] + stats["dropped_low_quality"]
                                + stats["dropped_near_dup"])
    curated = spark.read.parquet(out_dir)
    assert curated.count() == stats["docs_out"]
    assert {"quality", "n_tokens"} <= set(curated.columns)
    assert stats["total_tokens"] > 0


def test_compact_command(spark, tmp_path, capsys):
    import json

    wh = str(tmp_path / "wh")
    bronze = f"{wh}/bronze"
    for b in range(6):
        spark.createDataFrame(
            [(b, f"r{b}")], "id long, v string"
        ).coalesce(1).write.mode("append").parquet(bronze)
    before = spark.read.parquet(bronze).sort("id").collect()

    assert main(["compact", "--warehouse", wh]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["compact"]
    assert stats["bronze"]["compacted"] and stats["bronze"]["files_after"] == 1
    assert "hist" not in stats  # absent table skipped

    spark.catalog.refreshByPath(bronze)
    assert spark.read.parquet(bronze).sort("id").collect() == before


def test_scrub_command(spark, tmp_path, capsys):
    src = str(tmp_path / "docs")
    out = str(tmp_path / "clean")
    spark.createDataFrame(
        [(0, "a b c x y z"), (1, "a b c p q r")], "doc_id long, text string"
    ).write.parquet(src)
    assert main(["scrub", "--documents", src, "--output", out]) == 0
    rep = json.loads(capsys.readouterr().out)["scrub"]
    assert rep["docs"] == 2 and rep["chunks_removed"] == 2
    got = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {0: "x y z", 1: "p q r"}


def test_skew_command(spark, tmp_path, capsys):
    src = str(tmp_path / "ev")
    rows = [("hot",)] * 8 + [("a",), ("b",)]
    spark.createDataFrame(rows, "k string").write.parquet(src)
    assert main(
        ["skew", "--input", src, "--keys", "k", "--target-rows", "2"]
    ) == 0
    rep = json.loads(capsys.readouterr().out)["skew"]
    assert rep["max_key_rows"] == 8 and rep["recommended_salts"] == 4
