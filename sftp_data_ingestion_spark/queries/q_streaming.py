"""Streaming-engine queries for the driver contract.

Each query drives a genuine Structured Streaming micro-batch execution
(file source -> stateful operator -> memory sink, drained with
``processAllAvailable``) and returns the sink table, so the driver's
CORRECTNESS gate grades the *streaming* engine — watermarked windowed
aggregation, session windows, streaming dedup, and the custom
GroupState operator — not a batch re-expression. Oracles are the
equivalent batch SQL: with the full fixture drained, the streaming
result must converge to the batch answer (complete/update output
modes; nothing is dropped because the data is a single micro-batch).

Reference parity: the reference's "streaming" is a 2-hourly cron
micro-batch (``/root/reference/README.md:107-110``); these queries are
the Structured Streaming form of the same incremental operators
(SURVEY §2.11 streaming row).

Scale notes: the file source checkpoint bounds re-listing to new
files; watermarks bound window/dedup state; ``applyInPandasWithState``
keeps one row per key. On a cluster the same code runs with a RocksDB
state store and kafka/file sources — nothing here is local-mode-only.
"""

from __future__ import annotations

import glob
import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sftp_data_ingestion_spark import streaming as st
from sftp_data_ingestion_spark.queries.registry import query, table
from sftp_data_ingestion_spark.rebalance import cut

_run_seq = itertools.count()


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture.

    The file source requires a directory; the fixture is a single
    parquet file, so it is symlinked into a scratch dir (zero-copy).
    ``ts`` is parquet TIMESTAMP(NANOS) read as a nanos long
    (``nanosAsLong``) and truncated to micros, matching the batch
    ``registry.table`` behavior so oracles compare timestamps directly.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    link_dir = tempfile.mkdtemp(prefix="stream_events_")
    if os.path.isdir(src):
        # Spark-written table (a DIRECTORY of part files, e.g. the
        # scale-probe 10x derivation): the file stream source does not
        # recurse into a symlinked subdirectory, so link each part
        # file flat — silently reading zero rows here made a 10x
        # streaming probe look 4x FASTER than 1x
        for i, p in enumerate(
            sorted(glob.glob(os.path.join(src, "*.parquet")))
        ):
            os.symlink(p, os.path.join(link_dir, f"part_{i:05d}.parquet"))
    else:
        os.symlink(src, os.path.join(link_dir, "events.parquet"))
    stream = spark.readStream.schema(raw_schema).parquet(link_dir)
    if isinstance(raw_schema["ts"].dataType, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # TIMESTAMP(MICROS) parquet surfaces as TIMESTAMP_NTZ, which
    # watermarks reject (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); with
    # the session tz pinned to UTC the cast is a wall-clock no-op, so
    # drained results still hash-match the batch oracles.
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def _drain(stream: DataFrame, name: str, mode: str) -> DataFrame:
    """Run the stream to completion into a uniquely-named memory sink.

    Stateful streaming cost scales with the state-partition count (one
    state store + one Python worker per shuffle partition per
    micro-batch), not with the data at this fixture scale — so the
    drain temporarily drops ``shuffle.partitions`` to 4. The stream's
    plan captures the value at start; the session conf is restored for
    the batch queries that follow. On a cluster the deployment sizes
    this to its state volume instead."""
    import shutil

    spark = stream.sparkSession
    uniq = f"{name}_{next(_run_seq)}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{uniq}_")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        out = st.run_to_memory(stream, uniq, ckpt, output_mode=mode)
        # the memory sink holds the drained rows independently of the
        # checkpoint and run_to_memory stopped the query, so the
        # checkpoint is garbage now — removing it here keeps a full
        # sweep from accumulating ~100 MB of dead WAL/state dirs
        # (cleanup only on the success path: a failed drain may leave
        # the query running, and its checkpoint must not vanish
        # underneath it)
        shutil.rmtree(ckpt, ignore_errors=True)
        return out
    finally:
        spark.conf.set(key, prev)


@query(
    "st_windowed_counts",
    oracle="""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
""",
)
def st_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window aggregation, streaming engine.
    Complete output mode: the sink holds every window, so the drained
    result equals the batch GROUP BY — hash-checked against it."""
    stream = st.windowed_event_counts(_events_stream(spark, sf_dir))
    return _drain(stream, "st_win", "complete")


@query(
    "st_sessionize",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value,
         -- strictly > : session_window merges while ts <= prev_end
         -- (verified empirically: an exact-30-min gap MERGES;
         -- gap + 1s splits), matching this gaps-and-islands rule
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events, round(sum(value), 6) AS session_value
FROM numbered GROUP BY user_id, session_no
""",
)
def st_sessionize(spark, sf_dir):
    """Gap-based session windows on the streaming engine, checked
    against the gaps-and-islands batch SQL. Complete mode emits
    in-flight sessions without waiting for watermark expiry."""
    stream = st.sessionized_activity(
        _events_stream(spark, sf_dir), gap="30 minutes"
    )
    return _drain(stream, "st_sess", "complete")


@query(
    "st_latest_per_user",
    oracle="""
SELECT user_id, ts, event_id, event_type, value
FROM (
  SELECT user_id, ts, event_id, event_type, value, row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
) WHERE rn = 1
""",
)
def st_latest_per_user(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState GroupState):
    running latest-per-key — the streaming W1/U1. Update mode with the
    fixture drained in one micro-batch yields exactly one row per user,
    hash-checked against the batch ranking-window SQL."""
    stream = st.latest_event_per_user_stream(_events_stream(spark, sf_dir))
    return _drain(stream, "st_latest", "update")


@query(
    "st_stream_stream_join",
    oracle="""
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts,
       p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
""",
)
def st_stream_stream_join(spark, sf_dir):
    """Stream-stream inner join on the streaming engine (click ->
    purchase attribution within 6 h): both sides watermarked, join
    time-bounded on both event times so state is finite. With the
    fixture drained in one micro-batch nothing expires early, so the
    drained result equals the batch range join the oracle runs."""
    ev = _events_stream(spark, sf_dir)
    out = st.stream_stream_attribution_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )
    return _drain(out, "st_ssj", "append")


@query(
    "st_stream_static_enrich",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
FROM events e JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type IN ('click', 'purchase')
""",
)
def st_stream_static_enrich(spark, sf_dir):
    """Stream-static join: the streaming fact enriched against a
    static dimension table (the third join mode next to batch and
    stream-stream). The static side broadcasts per micro-batch — no
    stream state at all — which is why dimension enrichment is the
    cheapest streaming join and the first one every pipeline uses."""
    from sftp_data_ingestion_spark.queries.registry import table as t

    ev = _events_stream(spark, sf_dir).where(
        F.col("event_type").isin("click", "purchase")
    )
    dim = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    out = ev.join(dim, ev.user_id == dim.c_custkey).select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment"
    )
    return _drain(out, "st_enrich", "append")


@query(
    "st_stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def st_stream_dedup_keys(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): which of
    the duplicate rows survives is arrival-order-dependent, so the
    deterministic projection — the surviving key set — is what's
    hash-checked (one row per distinct key by construction)."""
    stream = st.stream_dedup(
        _events_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    return _drain(stream, "st_dedup", "append").select("user_id", "event_type")


def _cms_topk_oracle() -> str:
    from sftp_data_ingestion_spark.ext.sketch import cms_topk_oracle_sql

    return cms_topk_oracle_sql(width=64, depth=4)


@query("st_stream_cms_topk", oracle=_cms_topk_oracle())
def st_stream_cms_topk(spark, sf_dir):
    """Continuously-maintained count-min sketch: the events fixture
    arrives as four files drained one per trigger; INSIDE each
    micro-batch the per-occurrence (row, col) cells are derived
    (``stream_mv_merge``'s transform hook) and partial-counted, then
    merged additively into the parquet sketch state with the batch-id
    replay guard. A CMS is a pure sum-monoid, so the drained state
    must equal the batch-built sketch cell for cell — which the
    oracle rebuilds from scratch — proving sketch mergeability across
    real micro-batch boundaries (the property that lets 1000
    executors maintain one bounded-size sketch forever). Estimates
    for the exact top-20 users are probed from the final 256-row
    state."""
    import tempfile

    from sftp_data_ingestion_spark.ext.sketch import cms_cells, cms_estimate
    from sftp_data_ingestion_spark.queries.registry import table

    width, depth = 64, 4
    e = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
    )
    chunk_dir = tempfile.mkdtemp(prefix="cms_chunks_")
    e.repartition(4).write.mode("overwrite").parquet(chunk_dir)
    state_path = tempfile.mkdtemp(prefix="cms_state_") + "/state"
    ckpt = tempfile.mkdtemp(prefix="cms_ckpt_")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    q = None
    try:
        q = st.stream_mv_merge(
            spark,
            chunk_dir,
            state_path,
            ckpt,
            keys=["row", "col"],
            specs={"cnt": ("count", "row")},
            max_files_per_trigger=1,
            # one (row, col) cell per occurrence; the MV partial-agg
            # counts them per batch and the merge adds across batches
            transform=lambda df: cms_cells(df, "user_id", width, depth),
        )
        q.processAllAvailable()
    finally:
        # stop even when a micro-batch throws: an orphaned stream
        # would keep the checkpoint and mutate state mid-session
        if q is not None:
            q.stop()
        spark.conf.set(key, prev)
        # the stream is stopped: its checkpoint and the landed chunks
        # are dead weight (state_path must SURVIVE — the sketch read
        # below scans it lazily at action time)
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(chunk_dir, ignore_errors=True)
    sketch = spark.read.parquet(state_path).select("row", "col", "cnt")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    # TakeOrderedAndProject (per-partition 20-row heaps, driver merge)
    # instead of a single-partition global rank window — see
    # z2_cms_heavy_hitters for the scale rationale.
    top20 = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("user_id").asc()
    ).limit(20)
    est = cms_estimate(sketch, top20, "user_id", width=width, depth=depth)
    return top20.join(est, "user_id").select(
        "user_id", "exact_cnt", "cms_est"
    )


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture — the landing
    shape of a streaming corpus-ingestion monitor. Same
    single-file-vs-directory symlink handling as
    :func:`_events_stream`."""
    src = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(src).schema
    link_dir = tempfile.mkdtemp(prefix="stream_docs_")
    if os.path.isdir(src):
        for i, p in enumerate(
            sorted(glob.glob(os.path.join(src, "*.parquet")))
        ):
            os.symlink(p, os.path.join(link_dir, f"part_{i:05d}.parquet"))
    else:
        os.symlink(src, os.path.join(link_dir, "documents.parquet"))
    return spark.readStream.schema(raw_schema).parquet(link_dir)


@query(
    "st_stream_quality_gate",
    oracle=r"""
WITH scored AS (
  SELECT source, n_chars, round(
    0.5 * least(CAST(length(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0)
    + 0.3 * least(
        (CAST(length(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['the','a','of','and','is'], t))) AS DOUBLE)
         / greatest(CAST(length(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0)) * 5,
        1.0)
    + 0.2 * (1 - least(
        (CAST(length(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
         / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 10,
        1.0)),
    6) AS quality
  FROM documents
)
SELECT source, quality >= 0.6 AS admitted,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM scored GROUP BY 1, 2
""",
)
def st_stream_quality_gate(spark, sf_dir):
    """The curation quality gate AS A STREAM: documents arrive on the
    landing file source, the pure-Column quality kernel
    (`ext.textstats.quality_score` — the exact expression the batch
    curation pipeline runs) scores each micro-batch, and a running
    per-(source, admitted) admission ledger aggregates in complete
    mode — the live corpus-intake monitor a training-data pipeline
    puts in front of its staging table. The drained ledger must
    hash-match the batch GROUP BY over the same scoring SQL, proving
    the text kernel is portable INTO the streaming engine (no
    batch-only expression sneaks in).

    Scale shape: scoring is stateless per-row Column work at scan
    parallelism; state is one row per (source, admitted) — bounded by
    source cardinality, not corpus size."""
    from sftp_data_ingestion_spark.ext import textstats as ts

    stream = _docs_stream(spark, sf_dir)
    scored = stream.select(
        "source",
        "n_chars",
        (ts.quality_score(F.col("text")) >= 0.6).alias("admitted"),
    )
    ledger = scored.groupBy("source", "admitted").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return _drain(ledger, "st_qgate", "complete")


@query(
    "st_late_data_drop",
    oracle="""
WITH ontime AS (
  SELECT ts FROM events WHERE ts >= TIMESTAMP '2024-01-20'
), wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w1 FROM ontime)
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS late_drop_counter_positive
FROM ontime, wm
WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <= wm.w1
GROUP BY 1
""",
)
def st_late_data_drop(spark, sf_dir):
    """Watermark LATE-DATA DROP graded for real: the on-time file
    (ts >= Jan 20) drains first and advances the watermark to
    max(on-time) − 1 h; the late file (the older 2/3 of the fixture)
    then arrives entirely BELOW the watermark, so the streaming
    engine must drop every row of it. The PROOF is the emitted
    values: the append-mode sink's windows must equal the batch
    GROUP BY of the ON-TIME rows alone over finalized windows
    (end <= watermark) — any late row that escaped the drop would
    inflate a count or emit a stale window. The engine's
    ``numRowsDroppedByWatermark`` counter is graded only as a
    positive-witness boolean: it counts rows AFTER map-side partial
    aggregation (observed 456 partials for 6 328 late input rows),
    so its exact value is a partitioning artifact, not portable
    truth. The single-batch st_* drains prove convergence; THIS
    proves eviction."""
    import shutil

    e = table(spark, sf_dir, "events").select("ts", "event_type", "value")
    chunk = tempfile.mkdtemp(prefix="late_drop_")
    src = os.path.join(chunk, "arrivals")
    os.makedirs(src)
    cutoff = F.lit("2024-01-20").cast("timestamp")
    schema = e.schema

    def land(df, name):
        tmp = os.path.join(chunk, name)
        df.write.parquet(tmp)
        for i, p in enumerate(sorted(glob.glob(os.path.join(tmp, "*.parquet")))):
            os.link(p, os.path.join(src, f"{name}-{i}.parquet"))

    agg = (
        spark.readStream.schema(schema)
        .parquet(src)
        # parquet round-trips the micros ts as NTZ; session tz is UTC
        # so the cast is value-identical
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    uniq = f"st_late_{next(_run_seq)}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{uniq}_")
    q = (
        agg.writeStream.format("memory")
        .queryName(uniq)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        land(e.where(F.col("ts") >= cutoff), "b1-ontime")
        q.processAllAvailable()
        land(e.where(F.col("ts") < cutoff), "b2-late")
        q.processAllAvailable()
        dropped = sum(
            int(p["stateOperators"][0]["numRowsDroppedByWatermark"])
            for p in q.recentProgress
            if p["stateOperators"]
        )
    finally:
        q.stop()
        shutil.rmtree(chunk, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(uniq).withColumn(
        "late_drop_counter_positive", F.lit(dropped > 0)
    )


@query(
    "st_rocksdb_exact_dedup",
    oracle=r"""
WITH h AS (
  SELECT CAST(doc_id % 4 AS INT) AS b,
         sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
  FROM documents
), first_seen AS (
  SELECT h, min(b) AS batch_seq FROM h GROUP BY h
)
SELECT batch_seq, CAST(count(*) AS BIGINT) AS n_new_hashes,
       TRUE AS rocksdb_engaged
FROM first_seen GROUP BY 1
""",
)
def st_rocksdb_exact_dedup(spark, sf_dir):
    """Streaming exact dedup with its keyed state in the ROCKSDB
    state store, graded end-to-end: the corpus arrives as four
    mtime-ordered files (batch = doc_id % 4, one per trigger),
    ``dropDuplicates`` on the sha256 of the normalized text keeps the
    FIRST-SEEN row per content hash — so a hash's surviving
    batch_seq is the earliest batch containing it, which the oracle
    replays as min(batch) per hash. The graded statement is
    first-occurrence-across-ordered-batches (ordering + dedup state
    correctness) per batch, plus a positive witness that the RocksDB
    provider really engaged (the per-operator rocksdb* metrics — the
    same evidence tests/test_rocksdb_state.py pins). This is the
    100 TB shape for the unbounded seen-hash set: dedup state pages
    to local SST files instead of executor heap, the practical
    ceiling on how long an exact-dedup stream can run; the LSH
    near-dup twin of the same state story is
    ``streaming.stream_ingest_neardup_stateful``.

    SERIALIZATION ASSUMPTION: the state-store provider conf is a
    SESSION-global flip (set here, restored in the finally) — any
    other streaming query started in this session while this one
    drains would silently run under RocksDB too. The driver sweep and
    the test suite run queries serially, which is the regime this
    query assumes; concurrent streaming launchers should isolate it
    in its own ``spark.newSession()``."""
    import shutil

    d = table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).cast("int").alias("batch_seq"),
        F.sha2(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), 256
        ).alias("h"),
    )
    chunk = tempfile.mkdtemp(prefix="rocksdedup_")
    src = os.path.join(chunk, "arrivals")
    os.makedirs(src)
    for k in range(4):
        tmp = os.path.join(chunk, f"b{k}")
        d.where(F.col("batch_seq") == k).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"chunk_{k}.parquet")
        os.link(part, dst)
        os.utime(dst, (1_700_000_000 + k * 60,) * 2)

    dedup = (
        spark.readStream.schema("batch_seq int, h string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .dropDuplicates(["h"])
    )
    uniq = f"st_rocksdedup_{next(_run_seq)}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{uniq}_")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    q = None
    try:
        q = (
            dedup.writeStream.format("memory")
            .queryName(uniq)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
        engaged = any(k.startswith("rocksdb") for k in metrics)
    finally:
        if q is not None:
            q.stop()
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
        shutil.rmtree(chunk, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return (
        spark.table(uniq)
        .groupBy("batch_seq")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_hashes"))
        .withColumn("rocksdb_engaged", F.lit(engaged))
    )


# ---------------------------------------------------------------------------
# stateful LSH admission, graded end-to-end (r12 VERDICT #7)
# ---------------------------------------------------------------------------

# Planted structure for the STATE-STORE admission operator. Reuses the
# z3 cross-batch pair (A admitted in batch 0, B rejected in batch 2 at
# shingle-Jaccard 0.8) and adds what the foreachBatch grade cannot
# exercise:
#   * C1/C2 — a SAME-batch pair (batch 1, J~0.727: 32 shared of 44
#     union shingles — high enough that the pair deterministically
#     collides in a band; at the first attempt's J~0.58 the realized
#     16-band hash draw produced no shared bucket and C2 was admitted):
#     the kernel folds docs in doc_id order inside each bucket, so C2
#     must be rejected against C1 within one micro-batch;
#   * F1/F2/F3 — the SEEN-set witness: F2 (batch 1) is rejected
#     against F1 (batch 0) at J~0.593, yet F2's signature still enters
#     every bucket where F2 itself was clean — so F3 (batch 2,
#     J(F2,F3)~0.593 but J(F1,F3)~0.324) is rejected by the REJECTED
#     F2. An admitted-set filter (the foreachBatch form) would admit
#     F3; the state-store form must not — this row pins that exact
#     semantic difference. (Note J(F1,F3) < 0.5 is forced: two >= 0.6
#     links with a disjoint far pair are set-theoretically impossible,
#     max min-link is 0.5 — so the chain runs at ~0.59/0.32, margins
#     the 64-hash MinHash estimate resolves deterministically.)
# All plant ids follow the stream convention (id % 5 = 0, batch =
# (id // 5) % 4) so the landing filters route them like fixture rows.
_STATEFUL_PLANTS = [
    (100000, " ".join(f"zzqplant{i:02d}" for i in range(1, 21))),  # A b0
    (100010, " ".join([f"zzqplant{i:02d}" for i in range(1, 19)]
                      + ["zzqnovel19", "zzqnovel20"])),            # B b2
    (100005, " ".join(f"zzqv{i:02d}" for i in range(1, 41))),      # C1 b1
    (100085, " ".join([f"zzqv{i:02d}" for i in range(1, 35)]
                      + [f"zzqu{i:02d}" for i in range(35, 41)])),  # C2 b1
    (100020, " ".join(f"zzqx{i:03d}" for i in range(1, 101))),     # F1 b0
    (100025, " ".join([f"zzqx{i:03d}" for i in range(26, 101)]
                      + [f"zzqy{i:02d}" for i in range(1, 26)])),   # F2 b1
    (100030, " ".join([f"zzqx{i:03d}" for i in range(51, 101)]
                      + [f"zzqy{i:02d}" for i in range(1, 26)]
                      + [f"zzqw{i:02d}" for i in range(1, 26)])),   # F3 b2
]

_STATEFUL_DOCS_SQL = (
    "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0 "
    + " ".join(
        f"UNION ALL SELECT {i}, '{t}'" for i, t in _STATEFUL_PLANTS
    )
)


@query(
    "st_stream_ingest_stateful",
    oracle=rf"""
WITH docs AS (
  SELECT doc_id, text, CAST((doc_id // 5) % 4 AS INT) AS batch
  FROM ({_STATEFUL_DOCS_SQL})
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN length(string_split(s, ' ')) < 3 THEN [s]
                ELSE list_transform(range(length(string_split(s, ' ')) - 2),
                       i -> array_to_string(string_split(s, ' ')[i+1:i+3], ' '))
           END)) AS sh
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        FROM docs)
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
pj AS (
  SELECT ia, ib FROM inter
  JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
  WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
),
-- SEEN-set replay: X is rejected iff some EARLIER-ARRIVED doc
-- (earlier batch, or same batch with smaller doc_id) is a >= 0.5
-- near-dup — regardless of whether that doc was itself admitted,
-- because a rejected doc's signature still populates every bucket
-- where IT was clean (streaming._make_band_admission_fn)
dup AS (
  SELECT DISTINCT a.doc_id
  FROM docs a JOIN pj ON pj.ia = a.doc_id JOIN docs b ON pj.ib = b.doc_id
  WHERE b.batch < a.batch OR (b.batch = a.batch AND b.doc_id < a.doc_id)
)
SELECT d.doc_id, d.batch AS batch_seq
FROM docs d LEFT JOIN dup USING (doc_id)
WHERE dup.doc_id IS NULL
""",
)
def st_stream_ingest_stateful(spark, sf_dir):
    """The stateful LSH admission operator
    (``streaming.stream_ingest_neardup_stateful``) graded end-to-end:
    the 1-in-5 stream docs plus the planted battery above land as four
    mtime-ordered files drained one per trigger from a COLD start
    (state begins empty — no pre-seeded corpus parquet; the state
    store IS the corpus memory), and the graded output is the admitted
    (doc_id, batch_seq) ledger. One value hash therefore proves:
    micro-batch ordering, within-batch doc_id-ordered folding (C2
    rejected against C1 in the same trigger), cross-batch state
    (B rejected against A two triggers later), and the SEEN-set
    semantics unique to this form (F3 rejected by the already-rejected
    F2 — the admitted-set foreachBatch twin z3_stream_ingest_neardup
    would admit it).

    The oracle replays admission as exact shingle-Jaccard against ALL
    earlier-arrived docs (the seen-set rule needs no sequential
    unrolling — arrival order, not admission status, decides what a
    doc is compared against). The operator's decisions are MinHash
    AGREEMENT estimates (>= 32/64 agreeing components) over banded
    buckets; on this fixture every realized pair sits far enough from
    the 0.5 threshold (planted: 0.8/0.727/0.593 reject, 0.324 admit;
    natural stream-vs-stream pairs: none) that estimate and exact
    Jaccard decide identically — deterministic (plants are
    sf-independent, so the realized band/agreement draws never move),
    pinned by this row.

    Scale shape: state is (band bucket -> seen signatures), paging to
    RocksDB under the provider flip st_rocksdb_exact_dedup grades;
    growth is linear in admitted docs x bands (measured 2.6 KB/doc,
    scripts/rocksdb_state_probe.py); no corpus-side rescan per batch
    (the foreachBatch form re-reads the corpus parquet every trigger —
    that rescan is exactly what the state store deletes)."""
    import shutil

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") % 5 == 0)
        .unionByName(
            spark.createDataFrame(
                _STATEFUL_PLANTS, "doc_id long, text string"
            )
        )
        .transform(cut)
    )
    landing = tempfile.mkdtemp(prefix="stateful_landing_")
    corpus_path = tempfile.mkdtemp(prefix="stateful_corpus_") + "/corpus"
    ckpt = tempfile.mkdtemp(prefix="stateful_ckpt_")
    for k in range(4):
        tmp = tempfile.mkdtemp(prefix="stateful_chunk_")
        (
            d.where(F.expr("(doc_id div 5) % 4") == k)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(landing, f"chunk_{k}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        # strictly increasing mtimes pin the drain order
        os.utime(dst, (1_700_000_000 + k * 60,) * 2)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    q = None
    try:
        q = st.stream_ingest_neardup_stateful(
            spark, landing, corpus_path, ckpt, threshold=0.5
        )
        q.processAllAvailable()
    finally:
        if q is not None:
            q.stop()
        spark.conf.set(key, prev)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(landing, ignore_errors=True)
    return spark.read.parquet(corpus_path).select(
        "doc_id", F.col("batch_seq").cast("int").alias("batch_seq")
    )


@query(
    "st_warc_stream_ingest",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
       CAST(1 AS BIGINT) AS n_seen
FROM documents
""",
)
def st_warc_stream_ingest(spark, sf_dir):
    """Continuous WARC ingestion through the `warc` DataSource's
    micro-batch reader (`io/warc_source.py:WarcStreamReader`): the
    even-id half of the corpus lands as wave-A archives and is
    drained; the odd-id half arrives as wave-B archives ONLY AFTER
    wave A is fully processed, and a second drain picks up exactly
    the new files. The graded ``n_seen = 1`` per document is the
    incremental contract itself — a ledger bug that re-parsed wave-A
    archives on the second trigger would double-count every even-id
    doc, and a watermark-style name/mtime cursor that missed files
    sorting before already-seen ones would drop rows.

    Scale shape: the offset is the processed-archive ledger; each
    trigger plans one task per NEW archive and touches nothing
    already ingested — the steady-state of a crawl pipeline where
    dumps accrete forever but per-trigger work tracks only the
    arrival rate."""
    from sftp_data_ingestion_spark.io import warc_source as ws

    d = table(spark, sf_dir, "documents")
    dump = tempfile.mkdtemp(prefix="warc_stream_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_warc_stream_")
    ws.write_warc_shards(
        d.where(F.col("doc_id") % 2 == 0), dump, n_shards=2, name_prefix="a-"
    )
    ws.register(spark)
    uniq = f"st_warc_{next(_run_seq)}"
    recs = spark.readStream.format("warc").load(dump)
    q = (
        recs.writeStream.format("memory")
        .queryName(uniq)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()  # wave A fully ingested
        ws.write_warc_shards(
            d.where(F.col("doc_id") % 2 == 1),
            dump,
            n_shards=2,
            name_prefix="b-",
        )
        q.processAllAvailable()  # wave B: only the new archives
    finally:
        q.stop()
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    return (
        spark.table(uniq)
        .select(
            F.regexp_extract("target_uri", r"doc://(\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            "content_length",
        )
        .groupBy("doc_id")
        .agg(
            F.max("content_length").alias("content_length"),
            F.count(F.lit(1)).alias("n_seen"),
        )
    )
