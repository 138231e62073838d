"""Versioned-table commit protocol: snapshot isolation, time travel,
optimistic concurrency, metadata-only rollback, safe vacuum."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.io import versioned as vt


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_commit_read_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = vt.commit(_df(spark, [(1, "a"), (2, "b")]), root)
    v2 = vt.commit(_df(spark, [(1, "a2")]), root)  # overwrite
    assert (v1, v2) == (1, 2)
    assert vt.versions(root) == [1, 2]
    assert vt.read(spark, root).count() == 1                 # head = v2
    assert vt.read(spark, root, version=1).count() == 2      # time travel
    with pytest.raises(FileNotFoundError):
        vt.read(spark, root, version=9)


def test_append_reuses_prior_files_by_reference(spark, tmp_path):
    root = str(tmp_path / "t")
    vt.commit(_df(spark, [(1, "a")]), root)
    before = {
        f for f in vt._read_manifest(root, 1)["files"]
    }
    vt.commit(_df(spark, [(2, "b")]), root, mode="append")
    after = vt._read_manifest(root, 2)["files"]
    # v2 references v1's physical files, not copies
    assert before.issubset(set(after))
    got = {r["k"] for r in vt.read(spark, root).collect()}
    assert got == {1, 2}


def test_reader_snapshot_isolated_from_later_commits(spark, tmp_path):
    root = str(tmp_path / "t")
    vt.commit(_df(spark, [(1, "a"), (2, "b")]), root)
    snapshot = vt.read(spark, root)  # lazy plan pinned to v1's files
    vt.commit(_df(spark, [(9, "z")]), root)  # overwrite AFTER the read
    # executing the earlier plan still sees v1 (its files are immutable
    # and still on disk until vacuum)
    assert {r["k"] for r in snapshot.collect()} == {1, 2}
    assert {r["k"] for r in vt.read(spark, root).collect()} == {9}


def test_rollback_is_metadata_only(spark, tmp_path):
    root = str(tmp_path / "t")
    vt.commit(_df(spark, [(1, "good")]), root)
    vt.commit(_df(spark, [(1, "bad")]), root)
    n_files_before = sum(
        1 for b, _, ns in os.walk(root) for n in ns if n.endswith(".parquet")
    )
    v3 = vt.rollback(root, to_version=1)
    n_files_after = sum(
        1 for b, _, ns in os.walk(root) for n in ns if n.endswith(".parquet")
    )
    assert v3 == 3
    assert n_files_after == n_files_before  # no data copied
    assert vt.read(spark, root).collect()[0]["v"] == "good"
    # the bad version remains auditable
    assert vt.read(spark, root, version=2).collect()[0]["v"] == "bad"


def test_concurrent_commits_serialize_without_loss(spark, tmp_path):
    root = str(tmp_path / "t")
    vt.commit(_df(spark, [(0, "base")]), root)
    errs = []

    def appender(k):
        try:
            vt.commit(_df(spark, [(k, f"w{k}")]), root, mode="append")
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=appender, args=(k,)) for k in (1, 2, 3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert vt.versions(root) == [1, 2, 3, 4]
    # every writer's rows survive regardless of race order
    got = {r["k"] for r in vt.read(spark, root).collect()}
    assert got == {0, 1, 2, 3}


def test_vacuum_deletes_only_unreferenced(spark, tmp_path):
    root = str(tmp_path / "t")
    vt.commit(_df(spark, [(1, "a")]), root)
    vt.commit(_df(spark, [(2, "b")]), root)            # overwrite: v1 orphaned
    vt.commit(_df(spark, [(3, "c")]), root, mode="append")
    deleted = vt.vacuum(root, keep_last=2)             # keep v2, v3
    assert deleted                                      # v1's files went
    assert vt.versions(root) == [2, 3]
    # v3 still reads fully (its referenced v2 files were retained)
    assert {r["k"] for r in vt.read(spark, root).collect()} == {2, 3}
    assert {r["k"] for r in vt.read(spark, root, version=2).collect()} == {2}


def test_expire_snapshots_by_age_with_keep_last_floor(spark, tmp_path):
    """Age-based retention: v1 expires (old + beyond the floor), v2
    is equally old but survives on keep_last, v3 is young. Expired
    time travel raises; retained snapshots keep every data file."""
    root = str(tmp_path / "t")
    day = 86_400_000
    vt.commit(_df(spark, [(1, "a")]), root, committed_at_ms=1 * day)
    vt.commit(_df(spark, [(2, "b")]), root, committed_at_ms=2 * day)
    vt.commit(_df(spark, [(3, "c")]), root, committed_at_ms=40 * day)
    r = vt.expire_snapshots(root, older_than_ms=30 * day, keep_last=2)
    assert r["expired"] == [1]
    assert r["retained"] == [2, 3]
    assert r["deleted_files"]  # v1's files physically gone
    assert vt.versions(root) == [2, 3]
    with pytest.raises(FileNotFoundError):
        vt.read(spark, root, version=1)
    # retained snapshots fully intact on disk and readable
    for v, want in ((2, {2}), (3, {3})):
        for f in vt.files_for(root, v):
            assert os.path.isfile(os.path.join(root, f))
        assert {row["k"] for row in vt.read(spark, root, version=v).collect()} == want


def test_expire_snapshots_head_never_expires(spark, tmp_path):
    """keep_last floors at the head even when everything is ancient,
    and a legacy manifest without committed_at_ms ages as epoch 0."""
    root = str(tmp_path / "t")
    vt.commit(_df(spark, [(1, "a")]), root, committed_at_ms=5)
    # strip the clock from v1 to simulate a pre-retention manifest
    m = vt._read_manifest(root, 1)
    del m["committed_at_ms"]
    import json

    with open(vt._version_path(root, 1), "w") as f:
        json.dump(m, f)
    vt.commit(_df(spark, [(2, "b")]), root, committed_at_ms=7)
    r = vt.expire_snapshots(root, older_than_ms=10**15, keep_last=1)
    assert r["expired"] == [1] and r["retained"] == [2]
    assert vt.read(spark, root).collect()[0]["k"] == 2
    with pytest.raises(ValueError):
        vt.expire_snapshots(root, older_than_ms=0, keep_last=0)


def test_optimize_compacts_files_as_new_version(spark, tmp_path):
    root = str(tmp_path / "t")
    # 3 appends -> many small files
    for k in range(3):
        vt.commit(
            spark.range(k * 10, (k + 1) * 10).repartition(4),
            root,
            mode="append" if k else "overwrite",
        )
    n_before = len(vt._read_manifest(root, 3)["files"])
    v = vt.optimize(spark, root)
    n_after = len(vt._read_manifest(root, v)["files"])
    assert v == 4 and n_after < n_before
    # data identical, pre-compaction snapshots still readable
    assert vt.read(spark, root).count() == 30
    assert vt.read(spark, root, version=3).count() == 30


def test_optimize_conflicts_with_a_commit_that_lands_mid_rewrite(
    spark, tmp_path, monkeypatch
):
    """An append that commits while optimize rewrites the head it read
    is not lost: optimize raises CommitConflict instead of publishing
    the older head's rows over it."""
    root = str(tmp_path / "t")
    vt.commit(spark.range(10), root)
    write = vt._write_data

    def write_then_race(df, r):
        files = write(df, r)
        monkeypatch.setattr(vt, "_write_data", write)
        vt.commit(spark.range(10, 15), root, mode="append")
        return files

    monkeypatch.setattr(vt, "_write_data", write_then_race)
    with pytest.raises(vt.CommitConflict):
        vt.optimize(spark, root)
    assert vt.versions(root) == [1, 2]
    assert vt.read(spark, root).count() == 15


def test_streaming_foreachbatch_commits_versions(spark, tmp_path):
    """Composition: a file-source stream lands each micro-batch as an
    append COMMIT on the versioned table — exactly-once by checkpoint
    + manifest chain, every batch boundary auditable as a version."""
    import pyspark.sql.functions as F

    src = tmp_path / "land"; src.mkdir()
    spark.range(0, 10).coalesce(1).write.parquet(str(src / "f1"))
    spark.range(10, 30).coalesce(1).write.parquet(str(src / "f2"))
    root = str(tmp_path / "vt")
    schema = spark.read.parquet(str(src / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )

    def commit_batch(batch_df, batch_id):
        vt.commit(batch_df, root, mode="append")

    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(vt.versions(root)) >= 2          # one commit per batch
    assert vt.read(spark, root).count() == 30   # nothing lost
    first = vt.read(spark, root, version=1)     # first batch auditable
    assert first.count() in (10, 20)


def test_optimize_with_cluster_cols_localizes_ranges(spark, tmp_path):
    root = str(tmp_path / "t")
    vt.commit(spark.range(0, 1000).repartition(6), root)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        v = vt.optimize(
            spark, root, target_file_bytes=2000, cluster_cols=["id"]
        )
    finally:
        spark.conf.set(key, prev)
    files = vt._read_manifest(root, v)["files"]
    assert len(files) > 1
    # each file holds a DISJOINT id range -> ranges must not overlap
    import os as _os
    spans = []
    for f in files:
        stats = (
            spark.read.parquet(_os.path.join(root, f))
            .agg(F.min("id"), F.max("id"))
            .first()
        )
        spans.append((stats[0], stats[1]))
    spans.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo


def test_pruned_read_skips_files_but_loses_no_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    vt.commit(spark.range(0, 1000).repartition(6), root)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        v = vt.optimize(
            spark, root, target_file_bytes=2000, cluster_cols=["id"]
        )
    finally:
        spark.conf.set(key, prev)
    all_files = vt.files_for(root, v)
    kept = vt.files_for(root, v, prune=("id", 100, 150))
    assert 0 < len(kept) < len(all_files)      # real file skipping
    pruned = vt.read(spark, root, v, prune=("id", 100, 150)).where(
        "id BETWEEN 100 AND 150"
    )
    full = vt.read(spark, root, v).where("id BETWEEN 100 AND 150")
    assert pruned.exceptAll(full).count() == 0
    assert full.exceptAll(pruned).count() == 0
    # files without stats are never pruned (safety): the pre-optimize
    # version has no stats -> prune keeps everything
    assert vt.files_for(root, 1, prune=("id", 0, 0)) == vt.files_for(root, 1)
    # fully-out-of-range prune: empty frame, schema preserved
    none = vt.read(spark, root, v, prune=("id", 5000, 6000))
    assert none.count() == 0 and none.columns == ["id"]


def test_table_changes_reports_insert_delete_pairs(spark, tmp_path):
    root = str(tmp_path / "t")
    vt.commit(_df(spark, [(1, "a"), (2, "b"), (2, "b")]), root)   # dup row
    vt.commit(_df(spark, [(1, "a2"), (2, "b")]), root)            # update 1, drop one dup
    ch = {
        (r["k"], r["v"], r["_change_type"])
        for r in vt.table_changes(spark, root, 1, 2).collect()
    }
    assert ch == {
        (1, "a", "delete"), (1, "a2", "insert"),  # update = delete+insert
        (2, "b", "delete"),                        # multiset: one dup removed
    }


def test_deletion_vector_merge_on_read(spark, tmp_path):
    """DV contract: no data-file rewrite, time travel sees pre-delete
    rows, deletes persist across appends and accumulate across
    deletes, overwrite clears DVs, vacuum never touches the head."""
    import hashlib
    import os

    from sftp_data_ingestion_spark.io import versioned as V

    root = str(tmp_path / "dv")
    v1 = V.commit(spark.range(100).withColumnRenamed("id", "k"), root)
    v1_files = V.files_for(root, v1)

    def digest():
        h = hashlib.sha1()
        for f in sorted(v1_files):
            h.update(open(os.path.join(root, f), "rb").read())
        return h.hexdigest()

    before = digest()
    V.commit_delete(
        spark.range(0, 100, 7).withColumnRenamed("id", "k"), root, "k"
    )
    assert digest() == before, "delete must not rewrite data files"
    assert V.read(spark, root).count() == 85
    assert V.read(spark, root, version=v1).count() == 100
    V.commit(
        spark.range(100, 110).withColumnRenamed("id", "k"),
        root, mode="append",
    )
    assert V.read(spark, root).count() == 95
    V.commit_delete(
        spark.range(1, 100, 50).withColumnRenamed("id", "k"), root, "k"
    )
    assert V.read(spark, root).count() == 93
    v5 = V.commit(V.read(spark, root), root, mode="overwrite")
    assert V._read_manifest(root, v5)["dv_files"] == []
    assert V.read(spark, root).count() == 93
    removed = V.vacuum(root, keep_last=1)
    assert removed and V.read(spark, root).count() == 93


def test_deletion_vector_scoped_to_files_at_delete_time(spark, tmp_path):
    """A key re-inserted AFTER its delete must survive: the DV is
    scoped to files present at the delete's commit version
    (Delta/Iceberg sequence-number semantics), not a forever
    tombstone on the key."""
    from sftp_data_ingestion_spark.io import versioned as V

    root = str(tmp_path / "dvscope")
    V.commit(spark.range(10).withColumnRenamed("id", "k"), root)
    V.commit_delete(
        spark.range(3, 6).withColumnRenamed("id", "k"), root, "k"
    )
    assert V.read(spark, root).count() == 7
    # re-insert key 4 after the delete: the old DV must NOT erase it
    V.commit(
        spark.range(4, 5).withColumnRenamed("id", "k"),
        root, mode="append",
    )
    got = sorted(r["k"] for r in V.read(spark, root).collect())
    assert got == [0, 1, 2, 4, 6, 7, 8, 9]
    # a NEW delete of key 4 covers the re-inserted file too
    V.commit_delete(
        spark.range(4, 5).withColumnRenamed("id", "k"), root, "k"
    )
    got = sorted(r["k"] for r in V.read(spark, root).collect())
    assert got == [0, 1, 2, 6, 7, 8, 9]
    # and the DV survives a further append, still scoped
    V.commit(
        spark.range(5, 6).withColumnRenamed("id", "k"),
        root, mode="append",
    )
    got = sorted(r["k"] for r in V.read(spark, root).collect())
    assert got == [0, 1, 2, 5, 6, 7, 8, 9]


def test_legacy_manifest_without_dv_entries_still_reads(spark, tmp_path):
    """Manifests written before DV scoping (flat dv_files only) read
    with the old apply-to-all semantics instead of crashing."""
    import json as _json

    from sftp_data_ingestion_spark.io import versioned as V

    root = str(tmp_path / "legacy")
    V.commit(spark.range(10).withColumnRenamed("id", "k"), root)
    V.commit_delete(
        spark.range(0, 10, 2).withColumnRenamed("id", "k"), root, "k"
    )
    # strip the new fields to simulate a legacy manifest
    p = V._version_path(root, 2)
    m = _json.load(open(p))
    m.pop("dv_entries", None)
    m.pop("file_versions", None)
    with open(p, "w") as f:
        _json.dump(m, f)
    got = sorted(r["k"] for r in V.read(spark, root).collect())
    assert got == [1, 3, 5, 7, 9]
