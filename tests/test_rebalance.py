"""fan_out scan-rebalance tests: split estimation from file metadata
(never df.rdd — that would physically plan the query on the driver)
and the no-op conditions that make it free at scale. Plus the local
branch of the lineage-cut policy; the reliable branch needs a fresh
session (tests/test_dedup_clusters.py)."""

import re

import pyspark.sql.functions as F

from sftp_data_ingestion_spark.rebalance import (
    _estimated_splits,
    _parse_bytes,
    cut,
    fan_out,
)


def test_parse_bytes_spark_conf_forms():
    assert _parse_bytes("134217728b") == 128 * 1024 * 1024
    assert _parse_bytes("128m") == 128 * 1024 * 1024
    assert _parse_bytes("128mb") == 128 * 1024 * 1024
    assert _parse_bytes("1g") == 1024 ** 3
    assert _parse_bytes("4096") == 4096
    assert _parse_bytes(" 64K ") == 64 * 1024


def test_fan_out_repartitions_small_scan(spark, tmp_path):
    path = str(tmp_path / "small")
    spark.range(100).repartition(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 1
    out = fan_out(df)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in p  # tiny single-file scan fans out
    assert sorted(r["id"] for r in out.collect()) == list(range(100))


def test_fan_out_noop_on_in_memory_frame(spark):
    df = spark.range(10).select(F.col("id"))
    assert fan_out(df) is df  # no backing files -> planner's choice kept


def test_fan_out_noop_when_files_reach_parallelism(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "many")
    # one file per partition: file count alone reaches the target, so
    # fan_out must short-circuit WITHOUT stat-ing any file
    spark.range(target * 10).repartition(target).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= target
    assert fan_out(df) is df


def test_estimated_splits_counts_size_over_max_bytes(spark, tmp_path):
    path = str(tmp_path / "est")
    spark.range(5000).repartition(2).write.parquet(path)
    df = spark.read.parquet(path)
    files = df.inputFiles()
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # force a tiny split size: each parquet file (> 2KB) must count
        # as multiple estimated splits
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        est = _estimated_splits(df, files)
        assert est > len(files)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    # at the default 128MB every tiny file is one split
    assert _estimated_splits(df, files) == len(files)


def test_cut_without_checkpoint_dir_is_local_checkpoint(spark):
    """With no checkpoint dir (local mode, tests, the benchmark), cut
    is localCheckpoint: executor-local blocks, no checkpoint file, and
    the same ExistingRDD scan; the lazy form waits for an action."""
    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    plans = []
    for out in (cut(df), df.localCheckpoint()):
        qe = out._jdf.queryExecution()
        rdd = qe.logical().rdd()
        assert rdd.isCheckpointed() and rdd.isLocallyCheckpointed()
        assert rdd.getCheckpointFile().isEmpty()
        plans.append(re.sub(r"#\d+L?", "", qe.executedPlan().toString()))
    assert plans[0] == plans[1]
    assert "Scan ExistingRDD" in plans[0]
    lazy = cut(df, eager=False)._jdf.queryExecution().logical().rdd()
    assert lazy.isLocallyCheckpointed() and not lazy.isCheckpointed()
