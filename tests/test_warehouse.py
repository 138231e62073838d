"""Warehouse-extension operators: SCD2 history, bloom-pruned
incremental dedup, z-order locality."""

import pytest
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.ext import bloom as bl
from sftp_data_ingestion_spark.operators.scd2 import scd2_from_changelog
from sftp_data_ingestion_spark.operators.zorder import z_value, zorder_layout


# ---------------------------------------------------------------------------
# SCD2
# ---------------------------------------------------------------------------


def test_scd2_collapses_repeats_and_opens_last_interval(spark):
    log = spark.createDataFrame(
        [
            ("u1", 1, "A"),
            ("u1", 2, "A"),   # heartbeat: same state, no new interval
            ("u1", 3, "B"),
            ("u1", 4, "A"),   # back to A: NEW interval (state changed)
            ("u2", 1, "X"),
        ],
        "k string, t long, s string",
    )
    out = scd2_from_changelog(
        log.withColumn("t", F.timestamp_seconds("t")),
        key="k", ts="t", state_cols=["s"],
    )
    rows = sorted(
        (r["k"], r["s"], r["valid_from"].second if r["valid_from"] else None,
         r["valid_to"].second if r["valid_to"] else None, r["is_current"])
        for r in out.collect()
    )
    assert rows == [
        ("u1", "A", 1, 3, False),
        ("u1", "A", 4, None, True),
        ("u1", "B", 3, 4, False),
        ("u2", "X", 1, None, True),
    ]


def test_scd2_null_state_transitions(spark):
    log = spark.createDataFrame(
        [("k", 1, None), ("k", 2, None), ("k", 3, "v"), ("k", 4, None)],
        "k string, t long, s string",
    )
    out = scd2_from_changelog(
        log.withColumn("t", F.timestamp_seconds("t")),
        key="k", ts="t", state_cols=["s"],
    )
    # NULL->NULL is NOT a change (null-safe compare); NULL<->value is
    states = sorted(
        ((r["s"], r["valid_from"].second) for r in out.collect()),
        key=lambda p: (p[0] is not None, p[0] or "", p[1]),
    )
    assert states == [(None, 1), (None, 4), ("v", 3)]


# ---------------------------------------------------------------------------
# bloom
# ---------------------------------------------------------------------------


def test_bloom_never_false_negative_and_verify_makes_exact(spark):
    """A deliberately TINY filter (512 bits for 300 values) forces a
    high false-positive rate; bloom_new_values must still return the
    exact anti-join answer because maybe-hits are verified."""
    corpus = spark.range(300).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("v")
    )
    batch = spark.range(200, 400).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("v")
    )
    out = {r["v"] for r in bl.bloom_new_values(
        batch, corpus, "v", m_bits=512, k=3
    ).collect()}
    assert out == {f"doc-{i}" for i in range(300, 400)}
    # sanity: the tiny filter really does produce false positives
    # (otherwise this test proves nothing about the verify stage)
    bloom = bl.build_bloom(corpus, "v", m_bits=512, k=3)
    flagged = bl.might_contain(batch, "v", bloom, k=3)
    n_maybe = flagged.where(F.col("__bloom_maybe")).count()
    assert n_maybe > 100  # all 100 true members + false positives


def test_bloom_definitely_new_skips_join(spark):
    corpus = spark.range(100).select(F.col("id").cast("string").alias("v"))
    bloom = bl.build_bloom(corpus, "v", m_bits=1 << 16, k=7)
    probe = spark.createDataFrame(
        [("5",), ("99",), ("absent-a",), ("absent-b",)], "v string"
    )
    got = {r["v"]: r["__bloom_maybe"] for r in
           bl.might_contain(probe, "v", bloom, k=7).collect()}
    assert got["5"] and got["99"]          # members always hit
    # at 64k bits / 4 values FPs are ~impossible: absents miss
    assert not got["absent-a"] and not got["absent-b"]


# ---------------------------------------------------------------------------
# z-order
# ---------------------------------------------------------------------------


def test_z_value_interleaves_bits(spark):
    row = spark.range(1).select(
        z_value(F.lit(0b1010), F.lit(0b0110), bits=4).alias("z")
    ).head()
    # x bits at even positions, y bits at odd: x=1010, y=0110
    # -> z = y3 x3 y2 x2 y1 x1 y0 x0 = 0 1 1 0 1 1 0 0
    assert row["z"] == 0b01101100


def test_zorder_layout_localizes_boxes_on_both_dims(spark):
    """The point of z-order: a box filter on the SECOND dimension
    touches few range partitions under z-layout, but nearly all
    partitions under a plain first-dimension sort."""
    pts = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x int, y int"
    )
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        def partitions_touched(df, pred):
            return (
                df.withColumn("p", F.spark_partition_id())
                .where(pred)
                .select("p").distinct().count()
            )

        box = (F.col("y") >= 8) & (F.col("y") < 16)  # y-box, all x
        z_parts = partitions_touched(
            zorder_layout(pts, "x", "y", bits=6), box
        )
        x_parts = partitions_touched(
            pts.repartitionByRange(F.col("x")).sortWithinPartitions("x"), box
        )
        assert z_parts < x_parts  # z localizes the y-box; x-sort cannot
    finally:
        spark.conf.set(key, prev)


# ---------------------------------------------------------------------------
# CDC apply
# ---------------------------------------------------------------------------


def test_cdc_apply_latest_wins_and_delete_resurrect(spark):
    from sftp_data_ingestion_spark.operators.scd2 import cdc_apply_changes

    log = spark.createDataFrame(
        [
            ("k1", 1, "I", 10),
            ("k1", 2, "U", 20),   # latest for k1 -> survives with 20
            ("k2", 1, "I", 30),
            ("k2", 2, "D", None),  # deleted -> gone
            ("k3", 1, "I", 40),
            ("k3", 2, "D", None),
            ("k3", 3, "I", 50),   # re-insert after delete -> resurrects
        ],
        "k string, t long, op string, v int",
    )
    out = {r["k"]: r["v"] for r in cdc_apply_changes(
        log.withColumn("t", F.timestamp_seconds("t")),
        key="k", ts="t", op_col="op",
    ).collect()}
    assert out == {"k1": 20, "k3": 50}


def test_repetition_signals_counts(spark):
    from sftp_data_ingestion_spark.ext.textstats import repetition_signals

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z w")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    # doc 1 bigrams: "a b","b a","a b","b a" -> top 2/4; 3 distinct of 5
    assert rows[1]["n_bigrams"] == 4
    assert rows[1]["top_bigram_n"] == 2
    assert abs(rows[1]["top_bigram_frac"] - 0.5) < 1e-9
    assert abs(rows[1]["dup_token_frac"] - 0.6) < 1e-9
    # doc 2: all bigrams unique, no dup tokens
    assert rows[2]["top_bigram_n"] == 1
    assert rows[2]["dup_token_frac"] == 0.0


# ---------------------------------------------------------------------------
# robust JSONL source
# ---------------------------------------------------------------------------


def test_jsonl_robust_routes_ok_and_err(spark, tmp_path):
    from pyspark.sql import types as T

    from sftp_data_ingestion_spark.io.jsonl import (
        read_jsonl_robust,
        route_jsonl,
    )

    p = tmp_path / "landing.jsonl"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        '{"id": 2, "BROKEN\n'          # truncated mid-object
        'not json at all\n'
        '{"id": 3, "v": "c"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    ok, err = route_jsonl(read_jsonl_robust(spark, str(p), schema))
    assert {(r["id"], r["v"]) for r in ok.collect()} == {(1, "a"), (3, "c")}
    raws = {r["raw_line"] for r in err.collect()}
    assert raws == {'{"id": 2, "BROKEN', "not json at all"}


def test_jsonl_type_mismatch_is_corrupt_not_silent(spark, tmp_path):
    from pyspark.sql import types as T

    from sftp_data_ingestion_spark.io.jsonl import (
        read_jsonl_robust,
        route_jsonl,
    )

    p = tmp_path / "landing.jsonl"
    p.write_text('{"id": "not-a-number", "v": "x"}\n{"id": 7, "v": "y"}\n')
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    ok, err = route_jsonl(read_jsonl_robust(spark, str(p), schema))
    assert [(r["id"], r["v"]) for r in ok.collect()] == [(7, "y")]
    assert err.count() == 1


# ---------------------------------------------------------------------------
# multi-batch streaming drain
# ---------------------------------------------------------------------------


def test_multibatch_stream_really_runs_multiple_batches(spark, tmp_path):
    """maxFilesPerTrigger=1 over 4 chunk files must execute >= 4
    non-empty micro-batches, and the drained complete-mode snapshot
    must equal the batch aggregation of the union."""
    from sftp_data_ingestion_spark import streaming as st

    src = spark.range(400).select(
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        (F.col("id") % 3).cast("string").alias("event_type"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    chunks = str(tmp_path / "chunks")
    src.repartitionByRange(4, "ts").write.parquet(chunks)
    schema = spark.read.parquet(chunks).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(chunks)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    windowed = st.windowed_event_counts(stream, watermark="2400 hours")
    out, n_batches = st.run_to_memory_with_progress(
        windowed, "t_multibatch", str(tmp_path / "ckpt"), "complete"
    )
    assert n_batches >= 4
    got = {
        (r["window_start"], r["event_type"], r["n"]) for r in out.collect()
    }
    exact = {
        (r["window_start"], r["event_type"], r["n"])
        for r in src.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
    }
    assert got == exact


# ---------------------------------------------------------------------------
# Point-in-time lookup
# ---------------------------------------------------------------------------


def test_pit_lookup_resolves_state_at_probe_time(spark):
    from sftp_data_ingestion_spark.operators.scd2 import pit_lookup

    log = spark.createDataFrame(
        [("u1", 1, "A"), ("u1", 5, "B"), ("u2", 3, "X")],
        "k string, t long, s string",
    ).withColumn("t", F.timestamp_seconds("t"))
    dim = scd2_from_changelog(log, key="k", ts="t", state_cols=["s"])
    probes = spark.createDataFrame(
        [
            ("u1", 0),   # before u1's first interval -> no row
            ("u1", 1),   # valid_from is inclusive -> A
            ("u1", 4),   # mid first interval -> A
            ("u1", 5),   # valid_to exclusive: B starts exactly here
            ("u1", 99),  # open interval -> B
            ("u2", 2),   # before u2 existed -> no row
            ("u2", 7),   # open interval -> X
        ],
        "k string, p long",
    ).withColumn("p", F.timestamp_seconds("p"))
    out = pit_lookup(dim, probes, key="k", probe_ts="p")
    got = sorted(
        (r["k"], r["p"].second, r["s"])
        for r in out.select(F.col("p.k"), "p", "s").collect()
    )
    assert got == [
        ("u1", 1, "A"),
        ("u1", 4, "A"),
        ("u1", 5, "B"),
        ("u1", 39, "B"),  # second-of-minute for t=99
        ("u2", 7, "X"),
    ]


def test_scd2_incremental_matches_full_rebuild(spark):
    from sftp_data_ingestion_spark.operators.scd2 import scd2_incremental

    # u1: state change in batch; u2: heartbeat in batch (no new
    # interval); u3: untouched; u4: brand-new key first seen in batch
    hist_log = spark.createDataFrame(
        [("u1", 1, 10, "A"), ("u1", 2, 20, "B"), ("u2", 3, 10, "X"),
         ("u3", 4, 10, "Z")],
        "k string, e long, t long, s string",
    ).withColumn("t", F.timestamp_seconds("t"))
    batch = spark.createDataFrame(
        [("u1", 5, 30, "A"), ("u2", 6, 30, "X"), ("u4", 7, 30, "Q"),
         ("u4", 8, 40, "R")],
        "k string, e long, t long, s string",
    ).withColumn("t", F.timestamp_seconds("t"))

    history = scd2_from_changelog(
        hist_log, key="k", ts="t", state_cols=["s"], tiebreak="e"
    )
    inc = scd2_incremental(
        history, batch, key="k", ts="t", state_cols=["s"], tiebreak="e"
    )
    full = scd2_from_changelog(
        hist_log.unionByName(batch),
        key="k", ts="t", state_cols=["s"], tiebreak="e",
    )
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0
    # the heartbeat u2 batch row must NOT have opened a new interval
    assert inc.where(F.col("k") == "u2").count() == 1


def test_wh_cdc_scd2_reconcile_hand_computed(spark, tmp_path):
    """End-to-end reconciliation on a hand-worked changelog covering
    the three tricky regimes: a delete-latest key (u2's last event is
    'error' -> CDC drops it, so it must vanish from the output even
    though it HAS an open history interval), a same-ts tiebreak
    collision (u3: two events at t=50 ordered by event_id -> the
    later event_id wins both the current value and the open state),
    and a reopened state (u4: click -> view -> click = three
    intervals, not two)."""
    from sftp_data_ingestion_spark import queries as q

    rows = [
        # (event_id, ts_sec, user_id, event_type, value)
        (1, 10, 1, "click", 1.0),
        (2, 20, 1, "click", 2.0),   # repeat state: no new interval
        (3, 30, 1, "view", 3.0),
        (4, 10, 2, "click", 4.0),
        (5, 20, 2, "error", 5.0),   # delete-latest: u2 drops from cur
        (6, 50, 3, "view", 6.0),    # same ts as event 7 ...
        (7, 50, 3, "click", 7.0),   # ... event_id tiebreak wins
        (8, 10, 4, "click", 8.0),
        (9, 20, 4, "view", 9.0),
        (10, 30, 4, "click", 10.0),  # reopened state: 3rd interval
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string,"
        " value double",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    ev.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = {
        r["user_id"]: (
            r["cur_value"],
            r["current_state"],
            r["state_since"].timestamp(),
            r["n_intervals"],
        )
        for r in q.QUERIES["wh_cdc_scd2_reconcile"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        1: (3.0, "view", 30.0, 2),
        3: (7.0, "click", 50.0, 2),
        4: (10.0, "click", 30.0, 3),
    }
