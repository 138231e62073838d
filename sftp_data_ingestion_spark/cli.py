"""Pipeline CLI — the engine's equivalent of the reference's four cron
scripts (``python/01..04`` in the reference; README.md:107-110 runs
them 5 minutes apart). One command per stage plus ``run-all``:

    python -m sftp_data_ingestion_spark ingest  --source DIR --landing DIR
    python -m sftp_data_ingestion_spark load    --landing DIR --warehouse DIR
    python -m sftp_data_ingestion_spark upsert  --warehouse DIR [--buckets N]
    python -m sftp_data_ingestion_spark archive --warehouse DIR
    python -m sftp_data_ingestion_spark run-all --source DIR --landing DIR --warehouse DIR

Warehouse layout (all under --warehouse):
    bronze/   all-string staging rows (S8); absent after an archive
    dw/       typed fact table, one row per chave_nfe (U1)
    hist/     archived staging rows + lineage (A1/A2)
    ledger/   processed-file ledger (S10)
    lidos/ erros/   routed file copies (S9)

``--buckets N`` lays out a new DW in N hash buckets; an existing DW
keeps its layout, and ``upsert``/``run-all`` merge in it. A plain DW's
rewrite is crash-safe via write-to-temp + directory swap; the archive
is idempotent per batch_id (see operators/archive.py).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession

from sftp_data_ingestion_spark.session import get_spark


def _paths(warehouse: str) -> dict[str, str]:
    return {
        name: os.path.join(warehouse, name)
        for name in ("bronze", "dw", "hist", "ledger", "lidos", "erros")
    }


def cmd_ingest(spark: SparkSession, args) -> dict:
    from sftp_data_ingestion_spark.io.sources import (
        LocalDirSource,
        RetryingFetcher,
    )

    source = LocalDirSource(args.source)
    return RetryingFetcher(source).ingest(args.landing)


def cmd_load(spark: SparkSession, args) -> dict:
    from sftp_data_ingestion_spark.io.stage import load_stage

    p = _paths(args.warehouse)
    return load_stage(
        spark,
        novos_dir=args.landing,
        bronze_path=p["bronze"],
        lidos_dir=p["lidos"],
        erros_dir=p["erros"],
        ledger_path=p["ledger"],
    )


def cmd_upsert(spark: SparkSession, args) -> dict:
    from sftp_data_ingestion_spark.io.sinks import read_table
    from sftp_data_ingestion_spark.operators.pipeline import upsert_dw

    p = _paths(args.warehouse)
    staging = read_table(spark, p["bronze"])
    if staging is None:
        return {"upserted": 0, "reason": "no bronze data"}
    return upsert_dw(staging, p["dw"], getattr(args, "buckets", None))


def cmd_archive(spark: SparkSession, args) -> dict:
    from sftp_data_ingestion_spark.operators.archive import move_to_archive

    p = _paths(args.warehouse)
    return move_to_archive(
        spark,
        staging_path=p["bronze"],
        hist_path=p["hist"],
        batch_id=args.batch_id,
        lock_dir=args.warehouse,
    )


def cmd_curate(spark: SparkSession, args) -> dict:
    """Training-data curation over a documents parquet table: quality
    gate -> MinHash-LSH near-dup clustering -> survivors written as
    parquet, with corpus accounting (docs kept / dropped, token
    totals) for downstream budget planning."""
    from pyspark.sql import functions as F

    from sftp_data_ingestion_spark.ext import dedup as dd
    from sftp_data_ingestion_spark.ext import textstats as ts

    docs = spark.read.parquet(args.documents)
    n_total = docs.count()
    t = F.col(args.text_col)
    scored = docs.withColumn("quality", ts.quality_score(t))
    kept = scored.where(F.col("quality") >= args.min_quality)
    n_kept = kept.count()  # once: each count re-runs the scan + score
    clusters = dd.neardup_clusters(
        kept, id_col=args.id_col, text_col=args.text_col,
        threshold=args.jaccard,
    )
    survivors = kept.join(
        clusters.where(F.col("is_survivor")).select(args.id_col),
        args.id_col,
    ).withColumn("n_tokens", ts.token_count(t))
    survivors.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").alias("tok"),
    ).collect()[0]
    return {
        "docs_in": n_total,
        "dropped_low_quality": n_total - n_kept,
        "dropped_near_dup": n_kept - int(stats["n"]),
        "docs_out": int(stats["n"]),
        "total_tokens": int(stats["tok"] or 0),
        "output": args.output,
    }


def cmd_scrub(spark: SparkSession, args) -> dict:
    """Corpus maintenance: boilerplate REMOVAL (the rewrite form of
    the curate stage's dedup — ext/dedup.strip_boilerplate_chunks):
    cross-document repeated chunks dropped, cleaned text written."""
    from pyspark.sql import functions as F

    from sftp_data_ingestion_spark.ext.dedup import strip_boilerplate_chunks

    docs = spark.read.parquet(args.documents)
    out = strip_boilerplate_chunks(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        chunk_tokens=args.chunk_tokens,
    )
    out.write.mode("overwrite").parquet(args.output)
    stats = (
        spark.read.parquet(args.output)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_chunks").alias("chunks"),
            F.sum("n_removed").alias("removed"),
        )
        .collect()[0]
    )
    return {
        "docs": int(stats["docs"]),
        "chunks_in": int(stats["chunks"] or 0),
        "chunks_removed": int(stats["removed"] or 0),
        "output": args.output,
    }


def cmd_skew(spark: SparkSession, args) -> dict:
    """Pre-flight shuffle diagnosis: key histogram stats + the salt
    factor that levels the hottest key (operators/skew.skew_report)."""
    from sftp_data_ingestion_spark.operators.skew import skew_report

    df = spark.read.parquet(args.input)
    row = skew_report(
        df, args.keys.split(","), target_rows_per_task=args.target_rows
    ).collect()[0]
    return {k: row[k] for k in row.asDict()}


def cmd_compact(spark: SparkSession, args) -> dict:
    """Maintenance: bin-pack the append-grown tables (bronze, hist)
    into ~target-sized files — scan cost tracks file COUNT at scale,
    and per-batch appends grow it linearly (io/compact.py)."""
    from sftp_data_ingestion_spark.io.compact import compact_parquet_dir

    p = _paths(args.warehouse)
    out = {}
    for name in ("bronze", "hist"):
        if os.path.exists(p[name]):
            out[name] = compact_parquet_dir(
                spark, p[name], target_file_bytes=args.target_file_mb << 20
            )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sftp_data_ingestion_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def common(p, *, source=False, landing=False, warehouse=False):
        if source:
            p.add_argument("--source", required=True, help="remote dir (SFTP stand-in)")
        if landing:
            p.add_argument("--landing", required=True, help="landing (novos) dir")
        if warehouse:
            p.add_argument("--warehouse", required=True, help="warehouse root dir")

    common(sub.add_parser("ingest"), source=True, landing=True)
    common(sub.add_parser("load"), landing=True, warehouse=True)
    pu = sub.add_parser("upsert")
    common(pu, warehouse=True)
    pu.add_argument(
        "--buckets", type=int, default=None,
        help="lays out a new DW in N hash buckets (partition-pruned "
             "merges); an existing DW keeps its layout",
    )
    pa = sub.add_parser("archive")
    common(pa, warehouse=True)
    pa.add_argument("--batch-id", default=None)
    pr = sub.add_parser("run-all")
    common(pr, source=True, landing=True, warehouse=True)
    pr.add_argument("--batch-id", default=None)
    pm = sub.add_parser("compact")
    common(pm, warehouse=True)
    pm.add_argument("--target-file-mb", type=int, default=128,
                    help="target output file size in MiB")
    pc = sub.add_parser("curate")
    pc.add_argument("--documents", required=True,
                    help="input documents parquet path")
    pc.add_argument("--output", required=True,
                    help="curated parquet output path")
    pc.add_argument("--id-col", default="doc_id")
    pc.add_argument("--text-col", default="text")
    pc.add_argument("--min-quality", type=float, default=0.6)
    pc.add_argument("--jaccard", type=float, default=0.5,
                    help="near-dup Jaccard threshold")
    ps = sub.add_parser("scrub")
    ps.add_argument("--documents", required=True)
    ps.add_argument("--output", required=True)
    ps.add_argument("--id-col", default="doc_id")
    ps.add_argument("--text-col", default="text")
    ps.add_argument("--chunk-tokens", type=int, default=3)
    pk = sub.add_parser("skew")
    pk.add_argument("--input", required=True, help="parquet path to diagnose")
    pk.add_argument("--keys", required=True, help="comma-separated shuffle keys")
    pk.add_argument("--target-rows", type=int, default=1_000_000,
                    help="target rows per reducer task")

    args = ap.parse_args(argv)
    spark = get_spark(app_name=f"pipeline-{args.cmd}")
    # run-all: the four stages in cron order, one process
    stages = (("ingest", "load", "upsert", "archive") if args.cmd == "run-all"
              else (args.cmd,))
    out = {s: globals()[f"cmd_{s}"](spark, args) for s in stages}
    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
