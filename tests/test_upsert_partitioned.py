"""Partition-pruned upsert: equivalence with the full-outer merge,
untouched buckets physically untouched, pruned scan plan, idempotency,
and the layout record the merge takes its key and bucket count from."""

import os
from functools import partial

import pyspark.sql.functions as F
import pytest

from sftp_data_ingestion_spark.operators.merge import upsert_newer_wins
from sftp_data_ingestion_spark.operators.upsert_partitioned import (
    BUCKET_COL,
    bucket_layout,
    read_dw,
    upsert_partitioned,
    write_dw_partitioned,
)

B = 8
SCHEMA = "k string, ts string, status string, note string"
_MERGE = partial(
    upsert_newer_wins, key="k", newer_col="ts", newer_wins_cols=("status",)
)


def _dw(spark):
    return spark.createDataFrame(
        [(f"key{i}", f"2024-01-0{1 + i % 5} 00:00:00", f"s{i}", None)
         for i in range(40)],
        SCHEMA,
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _delta(spark):
    return spark.createDataFrame(
        [
            ("key3", "2025-06-01 00:00:00", "newer", "filled"),   # update
            ("key7", "2020-01-01 00:00:00", "older", "filled"),   # loses ts race
            ("brand-new", "2025-06-01 00:00:00", "ins", None),    # insert
            (None, "2025-06-01 00:00:00", "drop-me", None),       # NULL key
        ],
        SCHEMA,
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _file_state(path):
    state = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            state[p] = os.stat(p).st_mtime_ns
    return state


def _run(spark, tmp_path):
    dw_path = str(tmp_path / "dw")
    write_dw_partitioned(_dw(spark), dw_path, key="k", num_buckets=B)
    before = _file_state(dw_path)
    metrics = upsert_partitioned(dw_path, _delta(spark), _MERGE)
    return dw_path, before, metrics


def test_equivalent_to_full_merge_and_prunes_io(spark, tmp_path):
    dw_path, before, metrics = _run(spark, tmp_path)
    got = read_dw(spark, dw_path)
    want = _MERGE(_dw(spark), _delta(spark))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # the 3 delta keys hash into <= 3 of 8 buckets; the rest of the DW
    # is physically untouched (same files, same mtimes)
    assert 0 < metrics["buckets_touched"] <= 3
    assert metrics["buckets_total"] == B  # from the layout record
    after = _file_state(dw_path)
    touched_dirs = {
        os.path.dirname(p)
        for p in set(before) ^ set(after)
        if BUCKET_COL in p
    }
    all_dirs = {os.path.dirname(p) for p in after if BUCKET_COL in p}
    changed = {
        os.path.dirname(p)
        for p in before
        if p in after and before[p] != after[p]
    }
    untouched = all_dirs - touched_dirs - changed
    assert len(touched_dirs) <= metrics["buckets_touched"] + 1  # + _SUCCESS
    assert len(untouched) >= len(all_dirs) - metrics["buckets_touched"] - 1


def test_pruned_scan_has_partition_filters(spark, tmp_path):
    dw_path = str(tmp_path / "dw")
    write_dw_partitioned(_dw(spark), dw_path, key="k", num_buckets=B)
    scan = spark.read.parquet(dw_path).where(F.col(BUCKET_COL).isin([1, 2]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and BUCKET_COL in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


def test_rerun_is_noop(spark, tmp_path):
    dw_path, _before, _m = _run(spark, tmp_path)
    first = read_dw(spark, dw_path).collect()
    upsert_partitioned(dw_path, _delta(spark), _MERGE)
    second = read_dw(spark, dw_path).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_empty_delta_touches_nothing(spark, tmp_path):
    dw_path = str(tmp_path / "dw")
    write_dw_partitioned(_dw(spark), dw_path, key="k", num_buckets=B)
    before = _file_state(dw_path)
    empty = _delta(spark).where(F.lit(False))
    metrics = upsert_partitioned(dw_path, empty, _MERGE)
    assert metrics["buckets_touched"] == 0 and metrics["rows_written"] == 0
    assert _file_state(dw_path) == before


def test_layout_record_survives_merges(spark, tmp_path):
    """The layout is recorded once, at write time, and the dynamic
    partition overwrite of a merge leaves the record in place."""
    dw_path, _before, _m = _run(spark, tmp_path)
    assert bucket_layout(dw_path) == ("k", B)
    upsert_partitioned(dw_path, _delta(spark), _MERGE)
    assert bucket_layout(dw_path) == ("k", B)
    assert "_buckets" not in read_dw(spark, dw_path).columns


def test_bucket_dirs_without_record_cannot_be_merged(spark, tmp_path):
    dw_path = str(tmp_path / "dw")
    write_dw_partitioned(_dw(spark), dw_path, key="k", num_buckets=B)
    os.remove(os.path.join(dw_path, "_buckets"))
    before = _file_state(dw_path)
    with pytest.raises(ValueError, match="no _buckets record"):
        bucket_layout(dw_path)
    with pytest.raises(ValueError, match="no _buckets record"):
        upsert_partitioned(dw_path, _delta(spark), _MERGE)
    assert _file_state(dw_path) == before

    plain = str(tmp_path / "plain")
    _dw(spark).write.parquet(plain)
    assert bucket_layout(plain) is None
    with pytest.raises(ValueError, match="not a bucketed layout"):
        upsert_partitioned(plain, _delta(spark), _MERGE)


def test_bucket_count_below_one_is_refused(spark, tmp_path):
    with pytest.raises(ValueError, match="num_buckets must be >= 1"):
        write_dw_partitioned(_dw(spark), str(tmp_path / "dw"), key="k", num_buckets=0)
    assert not (tmp_path / "dw").exists()
