r"""Corpus-rewrite + source-mixing extension queries (round 5, second
session):

- ``z3_strip_boilerplate_chunks`` — the boilerplate REMOVAL transform
  (RefinedWeb/C4-style line dedup): cross-document repeated chunks are
  dropped and each document's text is rebuilt in order. The rewrite
  counterpart of ``d_chunk_boilerplate`` (same chunking contract).
- ``z3_source_minhash_jaccard`` — pairwise source overlap via
  MERGEABLE MinHash sketches (union-sketch = element-wise min): the
  overlap matrix consulted before weighting sources in a data mix.
- ``z3_bucketed_colocated_join`` — Spark-native ``bucketBy`` layout:
  one organize-time shuffle buys every later join on the key an
  exchange-free SortMergeJoin (fact-vs-fact at 100 TB).
- ``z3_bigram_cross_entropy`` — per-document cross-entropy under the
  corpus's own BIGRAM LM (conditional p(tok|prev)), the sharper
  CCNet-style fluency filter (the unigram form is
  ``z2_unigram_cross_entropy``).
- ``z3_stream_ingest_neardup`` — continuous corpus ingestion with
  inline near-dup admission control: four micro-batches drained in
  forced order, each LSH-checked against the GROWING corpus (admitted
  survivors included), replay-guarded appends; the oracle replays the
  admissions sequentially, so batch ordering itself is graded.
- ``z3_dpp_pruned_join`` — dynamic partition pruning on a
  month-partitioned fact layout, dim unknowable at plan time.
- ``z3_recursive_supplier_reach`` — Spark 4 recursive CTE
  (depth-guarded multi-hop purchase-graph reach, DuckDB twin).
- ``z3_skew_report`` — one-pass shuffle-key skew diagnosis.
- ``z3_ewma_per_user`` — per-key EWMA recurrence (applyInPandas) vs
  a closed-form oracle.
- ``z3_token_budget_mix`` — exact per-source token budgets by greedy
  hash-ordered prefix (the budget complement of the rate-based mix).
- ``z3_hybrid_rrf_fusion`` — reciprocal-rank fusion of the BM25 and
  cosine-ANN arms (the RAG-stack hybrid ranking).
- ``z3_contrastive_triplets`` — reproducible (anchor, positive,
  negative) training pairs from the verified near-dup graph.

No reference equivalent — extension surface (SURVEY.md §2.11 family).
Registered LAST (queries/__init__.py ordering policy: new queries must
not evict not-yet-proven ones from the driver's graded window).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sftp_data_ingestion_spark.operators.bucketed import bucketed_pair
from sftp_data_ingestion_spark.ext.dedup import (
    group_minhash_jaccard,
    strip_boilerplate_chunks,
)
from sftp_data_ingestion_spark.queries.registry import query, table
from sftp_data_ingestion_spark.rebalance import cut

_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


@query(
    "z3_strip_boilerplate_chunks",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(s, ' '), 1) - 1 AS pos,
         unnest(string_split(s, ' ')) AS tok
  FROM (SELECT doc_id, {_NORM_SQL} AS s FROM documents)
), chunks AS (
  SELECT doc_id, pos // 3 AS chunk_id,
         string_agg(tok, ' ' ORDER BY pos) AS chunk
  FROM toks GROUP BY 1, 2
), freq AS (
  SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY 1
)
SELECT c.doc_id,
       coalesce(
         string_agg(c.chunk, ' ' ORDER BY c.chunk_id)
           FILTER (WHERE f.n_docs < 2),
         '') AS clean_text,
       count(*) AS n_chunks,
       count(*) FILTER (WHERE f.n_docs >= 2) AS n_removed
FROM chunks c JOIN freq f USING (chunk)
GROUP BY 1
""",
)
def z3_strip_boilerplate_chunks(spark, sf_dir):
    """Boilerplate removal: drop every fixed 3-token chunk shared by
    >= 2 distinct documents, rebuild each document's surviving text in
    original order. Grades the full rewritten STRING cross-engine —
    the strongest possible check that chunk order, separators, and
    the shared-chunk frequency contract all agree with
    ``d_chunk_boilerplate``.

    Scale shape (see ``ext/dedup.strip_boilerplate_chunks``): explode
    once, one (doc, chunk_id) shuffle, one uniform chunk-frequency
    shuffle, a 1:1 join back, one per-doc regroup. Linear in corpus
    tokens; no all-pairs stage."""
    d = table(spark, sf_dir, "documents")
    return strip_boilerplate_chunks(d, chunk_tokens=3)


@query(
    "z3_source_minhash_jaccard",
    oracle=f"""
WITH grams AS (
  -- same short-doc contract as ext/dedup.shingles(): a doc with
  -- < 3 tokens contributes its whole normalized text as ONE shingle
  -- (mirrors _SHINGLE_SQL; previously such docs were silently
  -- dropped by a lead()-NULL filter, a cross-engine trap)
  SELECT source, unnest(
           CASE WHEN length(string_split(s, ' ')) < 3 THEN [s]
                ELSE list_transform(range(length(string_split(s, ' ')) - 2),
                       i -> array_to_string(string_split(s, ' ')[i+1:i+3], ' '))
           END) AS shingle
  FROM (SELECT doc_id, source, {_NORM_SQL} AS s FROM documents)
), sh AS (
  SELECT DISTINCT source, shingle FROM grams
), sizes AS (
  SELECT source, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.source < b.source GROUP BY 1, 2
)
SELECT sa.source AS src_a, sb.source AS src_b,
       round(coalesce(i.inter, 0) * 1.0
             / (sa.n + sb.n - coalesce(i.inter, 0)), 6) AS exact_jaccard,
       TRUE AS est_within_bound
FROM sizes sa JOIN sizes sb ON sa.source < sb.source
LEFT JOIN inter i ON i.src_a = sa.source AND i.src_b = sb.source
""",
)
def z3_source_minhash_jaccard(spark, sf_dir):
    """Pairwise source-overlap matrix: 3-gram shingle-set Jaccard per
    unordered source pair, estimated from 64-permutation mergeable
    MinHash sketches (union-sketch = element-wise min, so a group
    signature is 64 map-side-combined ``min`` aggregates whose shuffle
    payload is independent of corpus size — the 100 TB path). The
    exact intersection join exists only to grade: ``exact_jaccard`` is
    value-checked cross-engine and ``est_within_bound`` self-grades
    |estimate - exact| <= 0.2 (> 3 sigma at k=64), same bounded-error
    pattern as ``v_ivf_ann_recall`` / ``g_approx_aggregates``."""
    d = table(spark, sf_dir, "documents")
    return group_minhash_jaccard(
        d, group_col="source", num_hashes=64, shingle_n=3, bound=0.2
    )


@query(
    "z3_bigram_cross_entropy",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(s, ' '), 1) AS pos,
         unnest(string_split(s, ' ')) AS tok
  FROM (SELECT doc_id, {_NORM_SQL} AS s FROM documents)
), big AS (
  SELECT doc_id, prev, tok AS cur FROM (
    SELECT doc_id, tok,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM toks
  ) WHERE prev IS NOT NULL AND tok <> '' AND prev <> ''
), c2 AS (
  SELECT prev, cur, count(*) AS cnt2 FROM big GROUP BY 1, 2
), c1 AS (
  SELECT prev, sum(cnt2) AS cnt1 FROM c2 GROUP BY 1
)
SELECT doc_id,
       round(AVG(-ln(cnt2 / CAST(cnt1 AS DOUBLE))), 6) AS xent2,
       CAST(count(*) AS BIGINT) AS n_bigrams
FROM big JOIN c2 USING (prev, cur) JOIN c1 USING (prev)
GROUP BY doc_id
""",
)
def z3_bigram_cross_entropy(spark, sf_dir):
    """Per-document cross-entropy under the corpus's own BIGRAM LM —
    p(tok | prev) = c(prev,tok) / c(prev,·) — the conditional
    (sharper) form of the CCNet fluency filter. No smoothing is
    needed for well-definedness: the model is trained on the same
    corpus it scores, so every scored bigram has positive count.

    Scale shape mirrors ``z2_unigram_cross_entropy``: bigrams are
    built per-row from two shifted slices of the token array (pure
    expressions, no window shuffle on the build side); bigram counts
    are one map-side-combined groupBy; context totals reduce from the
    COUNTED bigram table, not the raw stream; the scoring join is a
    deliberate shuffle join (a 100 TB corpus's bigram table is not
    broadcastable — AQE may demote it for small fixtures). Docs with
    < 2 tokens have no bigrams and drop out of both engines alike."""
    d = table(spark, sf_dir, "documents")
    from sftp_data_ingestion_spark.ext.dedup import normalized

    arr = F.split(normalized(F.col("text")), " ")
    n1 = F.greatest(F.size(arr) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(arr, 1, n1),
        F.slice(arr, 2, n1),
        lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
    )
    big = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
        )
        .where((F.col("prev") != "") & (F.col("cur") != ""))
    )
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cnt2"))
    c1 = c2.groupBy("prev").agg(F.sum("cnt2").alias("cnt1"))
    neg_log_p = -F.log(F.col("cnt2").cast("double") / F.col("cnt1"))
    # join the MODEL sides first (r14, guide §2.3/§2.4): scoring as
    # stream⋈c2 then (⋈c1 on prev) re-shuffled the full bigram stream
    # by prev between the two joins; folding c1 into the counted model
    # before the stream sees it is a model-sized join, and the stream
    # crosses the wire for scoring once (measured 2.13 -> 1.37 s at
    # sf0.1, rows identical). Same p(cur|prev) per bigram — join order
    # cannot change the joined values.
    model = c2.join(c1, "prev")
    return (
        big.join(model, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(neg_log_p), 6).alias("xent2"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


@query(
    "z3_bucketed_colocated_join",
    oracle="""
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
)
def z3_bucketed_colocated_join(spark, sf_dir):
    """Exchange-free fact⋈fact join via Spark-native ``bucketBy``: both
    orders and lineitem are organized ONCE into 8 hash buckets on the
    join key (the write pays the only shuffle), after which the
    SortMergeJoin reads bucket i against bucket i with ZERO Exchange
    nodes — the amortization that makes repeated joins against a
    100 TB fact table affordable (plan-pinned:
    ``test_bucketed_join_has_no_join_exchange``). Values are identical
    to the plain join, which is exactly what the oracle states.

    Tables are external (tempdir path) + in-memory catalog entries, so
    a grading run leaves nothing behind in the repo or warehouse
    dir."""
    import tempfile

    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    base = tempfile.mkdtemp(prefix="spark_graft_bucketed_")
    bo, bl = bucketed_pair(
        spark, o, l,
        "z3_b_orders", "z3_b_lineitem",
        "o_orderkey", "l_orderkey",
        num_buckets=8, base_path=base,
    )
    # the merge hint pins the join strategy the 100 TB plan would use
    # (neither side of a fact-fact join is broadcastable there; on the
    # small fixture the planner would otherwise demote to broadcast
    # and skip the bucketed scan entirely)
    return (
        bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# Planted cross-batch duplicate pair: PLANT_A lands in micro-batch 0
# (admitted: its tokens appear nowhere in the fixture), PLANT_B in
# micro-batch 2 with an 0.8-Jaccard overlap to A — B must be rejected
# SOLELY because A was admitted two batches earlier, which makes
# processing order and the growing-corpus semantics observable in the
# graded hash (the fixture alone has no stream-vs-stream near-dups).
_PLANT_A_ID, _PLANT_B_ID = 100000, 100010  # (id//5)%4 = batches 0, 2
_PLANT_A_TEXT = " ".join(f"zzqplant{i:02d}" for i in range(1, 21))
_PLANT_B_TEXT = " ".join(
    [f"zzqplant{i:02d}" for i in range(1, 19)] + ["zzqnovel19", "zzqnovel20"]
)

_DOCS_SQL = (
    "SELECT doc_id, text FROM documents "
    f"UNION ALL SELECT {_PLANT_A_ID}, '{_PLANT_A_TEXT}' "
    f"UNION ALL SELECT {_PLANT_B_ID}, '{_PLANT_B_TEXT}'"
)

_SHINGLE_SQL = rf"""
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN length(string_split(s, ' ')) < 3 THEN [s]
                ELSE list_transform(range(length(string_split(s, ' ')) - 2),
                       i -> array_to_string(string_split(s, ' ')[i+1:i+3], ' '))
           END)) AS sh
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        FROM ({_DOCS_SQL}))
"""


# the four-batch sequential-admission replay (exact Jaccard), shared
# by the plain ingest grade and the streaming-release composition
_ADMIT_CTES = rf"""sh AS ({_SHINGLE_SQL}),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh
  WHERE a.doc_id % 5 = 0 AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
pj AS (
  SELECT ia, ib FROM inter
  JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
  WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
),
alldocs AS ({_DOCS_SQL}),
b0 AS (SELECT doc_id FROM alldocs WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 0),
b1 AS (SELECT doc_id FROM alldocs WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 1),
b2 AS (SELECT doc_id FROM alldocs WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 2),
b3 AS (SELECT doc_id FROM alldocs WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 3),
c0 AS (SELECT doc_id FROM alldocs WHERE doc_id % 5 <> 0),
s0 AS (SELECT doc_id FROM b0 WHERE NOT EXISTS
        (SELECT 1 FROM pj JOIN c0 c ON pj.ib = c.doc_id WHERE pj.ia = b0.doc_id)),
c1 AS (SELECT doc_id FROM c0 UNION ALL SELECT doc_id FROM s0),
s1 AS (SELECT doc_id FROM b1 WHERE NOT EXISTS
        (SELECT 1 FROM pj JOIN c1 c ON pj.ib = c.doc_id WHERE pj.ia = b1.doc_id)),
c2 AS (SELECT doc_id FROM c1 UNION ALL SELECT doc_id FROM s1),
s2 AS (SELECT doc_id FROM b2 WHERE NOT EXISTS
        (SELECT 1 FROM pj JOIN c2 c ON pj.ib = c.doc_id WHERE pj.ia = b2.doc_id)),
c3 AS (SELECT doc_id FROM c2 UNION ALL SELECT doc_id FROM s2),
s3 AS (SELECT doc_id FROM b3 WHERE NOT EXISTS
        (SELECT 1 FROM pj JOIN c3 c ON pj.ib = c.doc_id WHERE pj.ia = b3.doc_id))
"""

@query(
    "z3_stream_ingest_neardup",
    oracle=rf"""
WITH {_ADMIT_CTES}
SELECT doc_id, CAST(0 AS INTEGER) AS batch_seq FROM s0
UNION ALL SELECT doc_id, CAST(1 AS INTEGER) FROM s1
UNION ALL SELECT doc_id, CAST(2 AS INTEGER) FROM s2
UNION ALL SELECT doc_id, CAST(3 AS INTEGER) FROM s3
""",
)
def z3_stream_ingest_neardup(spark, sf_dir):
    """Streaming corpus ingestion with inline near-dup admission
    (``streaming.stream_ingest_neardup``): the 1-in-5 "incoming" docs
    arrive as four files drained ONE PER TRIGGER in forced mtime
    order; each micro-batch is LSH-checked against the corpus-so-far
    (initial corpus = the other 4/5) and only non-duplicates are
    admitted, tagged with their batch id. Because admitted survivors
    join the corpus, a doc in batch k is rejected if it near-dups a
    survivor from batch j < k — ORDER is part of the answer. The
    fixture alone has no stream-vs-stream near-dups, so a
    deterministic pair is PLANTED: ``_PLANT_A`` (batch 0, admitted —
    its tokens appear nowhere else) and ``_PLANT_B`` (batch 2,
    0.8-Jaccard to A, rejected solely because A was admitted two
    batches earlier). The oracle replays the four admissions
    sequentially (unrolled CTEs, exact Jaccard; banding recall is 1
    on this pair set — fixture pairs proven by d_minhash_lsh_near_dup,
    the planted pair at j=0.8 is a deterministic band hit).

    The graded output (doc_id, batch_seq) therefore proves, in one
    hash: micro-batch ordering, the replay guard never double-admits,
    the anti-join admission logic, and incremental-LSH correctness
    against a GROWING corpus."""
    return _stream_ingest_admitted(spark, sf_dir).select(
        "doc_id", "batch_seq"
    )


def _stream_ingest_admitted(spark, sf_dir):
    """Run the four-batch LSH-admission drain of
    :func:`z3_stream_ingest_neardup` (planted near-dup pair included,
    forced mtime order, replay-guarded appends) and return the
    ADMITTED docs ``(doc_id, text, batch_seq)`` — shared by the
    plain ingest grade and the streaming-release composition
    (``st_stream_release_e2e``)."""
    import glob
    import os
    import shutil
    import tempfile

    from sftp_data_ingestion_spark import streaming as st

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [
                    (_PLANT_A_ID, _PLANT_A_TEXT),
                    (_PLANT_B_ID, _PLANT_B_TEXT),
                ],
                "doc_id long, text string",
            )
        )
        # one materialization: the corpus write + four chunk writes
        # below would otherwise each rescan parquet + re-union
        .transform(cut)
    )
    landing = tempfile.mkdtemp(prefix="ingest_landing_")
    corpus_path = tempfile.mkdtemp(prefix="ingest_corpus_") + "/corpus"
    ckpt = tempfile.mkdtemp(prefix="ingest_ckpt_")
    (
        d.where(F.col("doc_id") % 5 != 0)
        .withColumn("batch_seq", F.lit(-1).cast("int"))
        .write.parquet(corpus_path)
    )
    for k in range(4):
        tmp = tempfile.mkdtemp(prefix="ingest_chunk_")
        (
            d.where(
                (F.col("doc_id") % 5 == 0)
                & (F.expr("(doc_id div 5) % 4") == k)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(landing, f"chunk_{k}.parquet")
        shutil.move(part, dst)
        # strictly increasing mtimes pin the file-source drain order
        # (FileStreamSource lists oldest-first); fixed epochs keep the
        # fixture deterministic across runs
        os.utime(dst, (1_700_000_000 + k * 60, 1_700_000_000 + k * 60))
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    q = None
    try:
        q = st.stream_ingest_neardup(
            spark, landing, corpus_path, ckpt, threshold=0.5
        )
        q.processAllAvailable()
    finally:
        if q is not None:
            q.stop()
        spark.conf.set(key, prev)
    return spark.read.parquet(corpus_path).where(F.col("batch_seq") >= 0)


@query(
    "z3_dpp_pruned_join",
    oracle="""
SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n_items
FROM lineitem
JOIN (SELECT DISTINCT month(o_orderdate) AS m
      FROM orders WHERE o_custkey = 1) d
  ON month(l_shipdate) = d.m
GROUP BY 1
""",
)
def z3_dpp_pruned_join(spark, sf_dir):
    """Dynamic partition pruning graded end-to-end: lineitem is laid
    out partitioned by ship month (the one-time organize, same spirit
    as the bucketed layout), and a DATA-DEPENDENT dimension — the
    months in which customer 1 ordered, unknowable at plan time —
    drives the join. Catalyst injects a
    ``dynamicpruningexpression`` into the fact scan's
    PartitionFilters (plan-pinned: ``test_dpp_injected_on_
    partitioned_fact_scan``), so at 100 TB the fact scan opens ONLY
    the partitions the broadcast dim admits instead of all of them —
    scan cost tracks the dim's selectivity, not the table size. The
    oracle states the same join relationally; values must be
    identical to the unpartitioned plan."""
    import tempfile

    l = table(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.month("l_shipdate")
    )
    tmp = tempfile.mkdtemp(prefix="dpp_fact_")
    l.write.partitionBy("ship_month").mode("overwrite").parquet(tmp)
    fact = spark.read.parquet(tmp)
    dim = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") == 1)
        .select(F.month("o_orderdate").alias("m"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact.ship_month == dim.m)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "z3_recursive_supplier_reach",
    oracle="""
WITH RECURSIVE edges AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
walk(seed, node, is_supp, depth) AS (
  SELECT c, c, false, 0 FROM (SELECT DISTINCT c FROM edges WHERE c < 10)
  UNION ALL
  SELECT DISTINCT w.seed,
         CASE WHEN w.is_supp THEN e.c ELSE e.s END,
         NOT w.is_supp, w.depth + 1
  FROM walk w JOIN edges e
    ON (w.is_supp AND e.s = w.node) OR (NOT w.is_supp AND e.c = w.node)
  WHERE w.depth < 3
)
SELECT seed AS custkey, node AS suppkey,
       CAST(min(depth) AS INTEGER) AS min_hops
FROM walk WHERE is_supp GROUP BY 1, 2
""",
)
def z3_recursive_supplier_reach(spark, sf_dir):
    """Spark 4 RECURSIVE CTE graded end-to-end: multi-hop supplier
    reach over the bipartite customer-supplier purchase graph — for
    each seed customer, every supplier reachable within 3 edge hops
    and the minimum hop count (1 = direct supplier, 3 = supplier of a
    co-buying customer). Completes the engine's Spark-4 feature
    surface (UDTF, Python DataSource, VARIANT, recursive CTE).

    Termination discipline (Spark's recursive CTEs support UNION ALL
    only — no fixpoint dedup yet): an explicit depth guard bounds the
    recursion and a per-step SELECT DISTINCT collapses path
    multiplicity, keeping each wave <= seeds x nodes instead of the
    path count (which exceeds the engine's 1M-row recursion guard on
    this graph). The DuckDB oracle runs the IDENTICAL recursive
    query, so the engines' recursion semantics are compared wave for
    wave. The iterative-operator alternative for unbounded closures
    remains ext/dedup.connected_components (localCheckpoint Pregel);
    this query covers the bounded-depth relational form."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .createOrReplaceTempView("z3_purchase_edges")
    )
    # each recursion wave is a small shuffle; 32 partitions of
    # scheduling overhead dominate at fixture scale (the conf is
    # restored — on a cluster the wave width scales with the graph)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        out = spark.sql("""
WITH RECURSIVE walk(seed, node, is_supp, depth) AS (
  SELECT c, c, false, 0
  FROM (SELECT DISTINCT c FROM z3_purchase_edges WHERE c < 10)
  UNION ALL
  SELECT DISTINCT w.seed,
         CASE WHEN w.is_supp THEN e.c ELSE e.s END,
         NOT w.is_supp, w.depth + 1
  FROM walk w JOIN z3_purchase_edges e
    ON (w.is_supp AND e.s = w.node) OR (NOT w.is_supp AND e.c = w.node)
  WHERE w.depth < 3
)
SELECT seed AS custkey, node AS suppkey,
       CAST(min(depth) AS INTEGER) AS min_hops
FROM walk WHERE is_supp GROUP BY 1, 2
""")
        # materialize while the conf is in effect; the result is tiny
        out = cut(out)
    finally:
        spark.conf.set(key, prev)
    return out


@query(
    "z3_skew_report",
    oracle="""
WITH counts AS (
  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
)
SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(cnt) AS BIGINT) AS max_key_rows,
       round(max(cnt) / (sum(cnt) * 1.0 / count(*)), 6) AS max_over_avg,
       round(max(cnt) * 1.0 / sum(cnt), 6) AS hot_key_share,
       CAST(ceil(max(cnt) / 10.0) AS BIGINT) AS recommended_salts
FROM counts
""",
)
def z3_skew_report(spark, sf_dir):
    """Shuffle-key skew diagnosis (`operators/skew.skew_report`) on
    the orders-per-customer distribution: the one-pass histogram
    report that decides BETWEEN the engine's mitigations (salted agg,
    salted hot-key join, AQE thresholds) before a 100 TB shuffle is
    committed. target_rows_per_task=10 makes the salt recommendation
    non-trivial at fixture scale (production uses ~1M)."""
    o = table(spark, sf_dir, "orders")
    from sftp_data_ingestion_spark.operators.skew import skew_report

    return skew_report(o, ["o_custkey"], target_rows_per_task=10)


@query(
    "z3_ewma_per_user",
    oracle="""
WITH ordered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
)
SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
       round(sum(CASE WHEN rn = 1 THEN pow(0.7, n - 1) * value
                      ELSE 0.3 * pow(0.7, n - rn) * value END),
             6) AS ewma
FROM ordered GROUP BY user_id
""",
)
def z3_ewma_per_user(spark, sf_dir):
    """Per-user EWMA of event values (alpha=0.3, time order) —
    `operators/temporal.ewma_last_per_key`. The Spark side runs the
    literal recurrence in Arrow-batched applyInPandas (pandas
    ``ewm(adjust=False)``); the oracle expands the SAME recurrence to
    its closed form (sum of alpha*(1-alpha)^(n-k) weights) — two
    independent derivations, different summation orders, agreeing to
    6 dp (drift ~1e-15 of libm pow + float order)."""
    e = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    from sftp_data_ingestion_spark.operators.temporal import (
        ewma_last_per_key,
    )

    return ewma_last_per_key(
        e, "user_id", ["ts", "event_id"], "value", alpha=0.3
    )


@query(
    "z3_token_budget_mix",
    oracle="""
WITH budgets AS (
  SELECT * FROM (VALUES ('src0', 3000), ('src1', 1500), ('src2', 2000))
    t(source, token_budget)
), toks AS (
  SELECT d.source, d.doc_id, b.token_budget,
         length(string_split_regex(trim(text), '\\s+')) AS n_tok,
         ((d.doc_id * 2654435761) % 10000) AS bucket
  FROM documents d JOIN budgets b ON d.source = b.source
), ordered AS (
  SELECT source, token_budget, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY bucket, doc_id
                          ROWS UNBOUNDED PRECEDING) AS running
  FROM toks
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(max(token_budget) AS BIGINT) AS token_budget
FROM ordered WHERE running <= token_budget
GROUP BY source
""",
)
def z3_token_budget_mix(spark, sf_dir):
    """Token-BUDGET dataset mixing — the other half of mixture
    construction (``x_weighted_source_mix`` sets RATES; this meets
    exact per-source token budgets, 'take 3000 tokens of src0, 1500
    of src1, 2000 of src2'): documents ordered by the same portable
    Knuth hash (reproducible, correlation-free), running token sum
    per source, keep while the cumulative total fits the budget.

    Scale shape: one broadcast of the budgets table, ONE shuffle (the
    per-source window) — the same shape as any partitioned cumsum;
    no collect, no second pass. The greedy prefix rule (kept total
    <= budget, first overflowing doc excluded) is stated identically
    in both engines, so the doc-level cutoff — not just the totals —
    is hash-graded."""
    from sftp_data_ingestion_spark.queries.q_sampling import split_bucket

    d = table(spark, sf_dir, "documents")
    budgets = spark.createDataFrame(
        [("src0", 3000), ("src1", 1500), ("src2", 2000)],
        "source string, token_budget int",
    )
    from pyspark.sql import Window

    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w = (
        Window.partitionBy("source")
        .orderBy("bucket", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(budgets), "source")
        .withColumn("bucket", split_bucket(F.col("doc_id")))
        .withColumn("n_tok", n_tok)
        .withColumn("running", F.sum("n_tok").over(w))
        .where(F.col("running") <= F.col("token_budget"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.max("token_budget").cast("long").alias("token_budget"),
        )
    )


_COS_SQL = (
    "list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)

_BM25_SQL = r"""
  SELECT t.doc_id,
         round(sum(
           ((s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
         ), 6) AS score
  FROM tf t
  JOIN dfreq f ON t.term = f.term
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id
"""


@query(
    "z3_hybrid_rrf_fusion",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM toks GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avgdl
  FROM documents
), dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
  WHERE term IN ('join', 'hash', 'merge') GROUP BY term
), lex_scored AS ({_BM25_SQL}),
lex AS (
  SELECT doc_id, rnk AS lex_rnk FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
    FROM lex_scored
  ) WHERE rnk <= 20
),
q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
vec_top AS (
  -- selection by RAW cosine (cosine_topk's internal order); the
  -- survivors re-rank on the 6-dp value both engines emit, so a
  -- 6-dp tie can't order differently across engines
  SELECT b.vec_id AS doc_id, round({_COS_SQL}, 6) AS sim
  FROM q a, c b WHERE a.vec_id <> b.vec_id
  ORDER BY {_COS_SQL} DESC, b.vec_id ASC LIMIT 20
),
vec AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY sim DESC, doc_id) AS vec_rnk
  FROM vec_top
),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + l.lex_rnk), 0)
               + coalesce(1.0 / (60 + v.vec_rnk), 0), 9) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
)
SELECT doc_id, rrf, rnk FROM (
  SELECT doc_id, rrf,
         row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
  FROM fused
) WHERE rnk <= 10
""",
)
def z3_hybrid_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval — reciprocal-rank fusion of the engine's two
    search arms (the RAG-stack standard for merging lexical and
    vector rankings): BM25 top-20 for {join, hash, merge}
    (`ext/textstats.bm25_scored`, shared with z_bm25_search) fused
    with cosine top-20 around the vec_id=0 query embedding
    (`ext/similarity.cosine_topk`, the proven-hash-equal engine),
    rrf = sum of 1/(60+rank) over the arms a doc appears in.

    The fusion arithmetic is pure rational division (no libm), so the
    fused scores are bit-identical cross-engine; each arm's ranking
    was already proven hash-equal by its own graded query, and the
    ranks are assigned over <= 20-row frames. Scale shape: both arms
    end in per-partition top-k; the fusion joins two <= 20-row
    frames — free at any corpus size."""
    from pyspark.sql import Window

    from sftp_data_ingestion_spark.ext import similarity as sim
    from sftp_data_ingestion_spark.ext import textstats as ts

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")

    lex_top = (
        ts.bm25_scored(d, ["join", "hash", "merge"])
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex = lex_top.withColumn("lex_rnk", F.row_number().over(wl)).select(
        "doc_id", "lex_rnk"
    )

    vec_top = sim.cosine_topk(
        e.where(F.col("vec_id") == 0), e, k=20, dim=64
    )
    wv = Window.orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    vec = vec_top.withColumn("vec_rnk", F.row_number().over(wv)).select(
        F.col("neighbor_id").alias("doc_id"), "vec_rnk"
    )

    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("lex_rnk")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("vec_rnk")), F.lit(0.0)),
                9,
            ).alias("rrf"),
        )
    )
    top = fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(10)
    wf = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(wf)).select(
        "doc_id", "rrf", "rnk"
    )


@query(
    "z3_contrastive_triplets",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN length(string_split(s, ' ')) < 3 THEN [s]
                ELSE list_transform(range(length(string_split(s, ' ')) - 2),
                       i -> array_to_string(string_split(s, ' ')[i+1:i+3], ' '))
           END)) AS sh
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        FROM documents)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM toks a JOIN toks b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
), nd AS (SELECT count(*) AS n_docs FROM documents)
SELECT id_a AS anchor, id_b AS positive,
       CASE WHEN h <> id_a AND h <> id_b THEN h
            WHEN (h + 1) % n_docs <> id_a AND (h + 1) % n_docs <> id_b
              THEN (h + 1) % n_docs
            ELSE (h + 2) % n_docs END AS negative
FROM (SELECT id_a, id_b,
             ((id_a * 2654435761 + id_b * 40503) % n_docs) AS h, n_docs
      FROM pairs CROSS JOIN nd)
""",
)
def z3_contrastive_triplets(spark, sf_dir):
    """Contrastive training-pair construction — (anchor, positive,
    negative) triplets for embedding-model training: positives are
    the verified near-dup pairs (the same exact-Jaccard contract
    d_minhash_lsh_near_dup grades), negatives drawn by a
    deterministic double-hash over the pair ids, with a two-step
    linear probe away from the anchor/positive (the fixture's doc_ids
    are dense 0..N-1; at scale the same rule runs against a dense
    row_number surrogate). Reproducible end-to-end — rerunning the
    pipeline yields byte-identical training pairs, which is the
    property that makes a data bug in a trained model bisectable.

    Scale shape: the pair stage is the LSH banded join (never
    all-pairs); the negative pick is a pure per-row expression —
    no extra shuffle, no sampling job."""
    from sftp_data_ingestion_spark.ext import dedup as dd

    d = table(spark, sf_dir, "documents")
    pairs = dd.minhash_near_dup_pairs(d, threshold=0.5)
    n_docs = F.lit(d.count())
    h = F.pmod(
        F.col("id_a") * F.lit(2654435761) + F.col("id_b") * F.lit(40503),
        n_docs,
    )
    h1 = F.pmod(h + 1, n_docs)
    h2 = F.pmod(h + 2, n_docs)
    neg = (
        F.when((h != F.col("id_a")) & (h != F.col("id_b")), h)
        .when((h1 != F.col("id_a")) & (h1 != F.col("id_b")), h1)
        .otherwise(h2)
    )
    return pairs.select(
        F.col("id_a").alias("anchor"),
        F.col("id_b").alias("positive"),
        neg.alias("negative"),
    )


@query(
    "z3_jpeg_codec_roundtrip",
    oracle="""
SELECT doc_id, CAST(2304 AS BIGINT) AS n_pixels,
       TRUE AS mean_err_ok, TRUE AS max_err_ok, TRUE AS compressed
FROM documents WHERE doc_id < 100
""",
)
def z3_jpeg_codec_roundtrip(spark, sf_dir):
    """The REAL lossy codec graded end-to-end: each document's UTF-8
    bytes tile a 48x48 grayscale image, pushed through the pure
    in-container baseline JPEG encoder AND decoder (`ext/jpeg.py` —
    DCT, Annex-K quantization, standard Huffman tables, byte
    stuffing) inside one Arrow task. Lossy output can't be graded
    byte-exactly, so the gate is the ANN-recall pattern: exact pixel
    count cross-engine, plus self-graded bounds a broken stage
    cannot pass — mean reconstruction error <= 12 and max <= 64 at
    q75 on high-frequency text content (measured ~7.9 / ~43; garbage
    decode means ~80), and the stream actually compressing below the
    raw pixel size. Completes the codec family: BMP/PNG lossless,
    WAV PCM, JPEG lossy."""
    from sftp_data_ingestion_spark.ext.jpeg import text_jpeg_roundtrip

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    rt = text_jpeg_roundtrip(d, side=48, quality=75)
    return rt.select(
        "doc_id",
        "n_pixels",
        (F.col("mean_err") <= 12.0).alias("mean_err_ok"),
        (F.col("max_err") <= 64).alias("max_err_ok"),
        (F.col("n_bytes") < F.col("n_pixels")).alias("compressed"),
    )


@query(
    "z3_jpeg_color_roundtrip",
    oracle="""
SELECT doc_id, CAST(2304 AS BIGINT) AS n_pixels,
       TRUE AS mean_err_ok, TRUE AS max_err_ok, TRUE AS compressed
FROM documents WHERE doc_id < 100
""",
)
def z3_jpeg_color_roundtrip(spark, sf_dir):
    """The 4:2:0 COLOR JPEG path graded end-to-end (r8 codec-matrix
    extension): each document's UTF-8 bytes tile a 48x48 interleaved
    RGB image pushed through the pure in-container color encoder AND
    decoder (`ext/jpeg.py` encode_color/decode_color — BT.601
    transform, box-averaged 2x2 chroma subsampling, Annex-K.2 chroma
    quantization, the standard chrominance Huffman set, interleaved
    16x16 MCUs) in one Arrow task. Byte-noise RGB is the hostile case
    for subsampled chroma, so the bounds are wider than the grayscale
    gate's but still unreachable by a broken stage: mean error <= 35
    and max <= 192 at q75 (measured ~22.2 / 126; a garbage decode or
    a swapped chroma plane means ~80 mean), plus real compression
    below the 3-byte-per-pixel raw size."""
    from sftp_data_ingestion_spark.ext.jpeg import text_jpeg_color_roundtrip

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    rt = text_jpeg_color_roundtrip(d, side=48, quality=75)
    return rt.select(
        "doc_id",
        "n_pixels",
        (F.col("mean_err") <= 35.0).alias("mean_err_ok"),
        (F.col("max_err") <= 192).alias("max_err_ok"),
        (F.col("n_bytes") < 3 * F.col("n_pixels")).alias("compressed"),
    )


@query(
    "z3_y4m_frame_sample",
    oracle="""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
fr AS (SELECT doc_id, text, unnest([0, 2]) AS frame_idx FROM docs)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(256 AS BIGINT) AS n_px,
       CAST(list_sum(list_transform(range(256), i ->
         ascii(substr(text, ((frame_idx * 256 + i) % length(text)) + 1, 1))
       )) AS BIGINT) AS luma_sum
FROM fr
""",
)
def z3_y4m_frame_sample(spark, sf_dir):
    """REAL video-container frame sampling: 3 grayscale 16x16 frames
    tiled from each document's bytes, encoded as a Cmono YUV4MPEG2
    stream and decoded back by the production parser (`ext/y4m.py`)
    in one Arrow task; frames 0 and 2 sampled (every_n=2) and their
    luma sums emitted. Y4M is lossless, so — unlike the JPEG gate —
    this grades EXACT values: the oracle replays the byte arithmetic
    on the source text (ASCII fixture), the video analogue of
    m_png_decode_histogram. Completes the real-codec matrix: image
    lossless (BMP/PNG) + lossy (JPEG), audio (WAV), video (Y4M);
    compressed video containers remain the one honest libav gate."""
    from sftp_data_ingestion_spark.ext.y4m import text_y4m_frame_sample

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    return text_y4m_frame_sample(d, side=16, n_frames=3, every_n=2)


from sftp_data_ingestion_spark.ext.bpe import bpe_oracle_sql  # noqa: E402


@query("z3_bpe_train_merges", oracle=bpe_oracle_sql(3))
def z3_bpe_train_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (`ext/bpe.py`): the first 3
    merges of the classic subword algorithm learned over the corpus —
    word histogram (the ONE corpus scan; training then runs over |V|
    rows regardless of corpus size), per-step weighted pair counts,
    deterministic argmax, and a fenced-replace greedy merge with
    semantics identical in Spark SQL and DuckDB. The oracle unrolls
    the same three steps, so the learned merges — data-dependent
    outputs of an iterative algorithm — are hash-graded step for
    step, the tokenizer analogue of the PageRank unrolled-CTE
    grade."""
    from sftp_data_ingestion_spark.ext.bpe import train_bpe_merges

    d = table(spark, sf_dir, "documents")
    # each step's pair count is a tiny aggregate over |V| rows; AQE
    # coalescing collapses those post-shuffle partitions on its own
    # (measured: no session-global conf flip needed — an earlier
    # shape mutated spark.sql.shuffle.partitions here, which a
    # concurrent query on the shared session would have observed)
    return cut(train_bpe_merges(d, n_merges=3))


from sftp_data_ingestion_spark.ext.bpe import (  # noqa: E402
    bpe_token_counts_oracle_sql,
)


@query("z3_bpe_token_counts", oracle=bpe_token_counts_oracle_sql(3))
def z3_bpe_token_counts(spark, sf_dir):
    """Tokenize with the just-trained merges: per-document word and
    subword-token counts after 3 BPE merges — the train-then-encode
    loop closed in one graded query. The learned vocabulary is a
    |V|-row broadcastable word->length map, so encoding is one
    map-side join over the corpus (same economics as training: the
    corpus is scanned once; everything else is vocabulary-sized)."""
    from sftp_data_ingestion_spark.ext.bpe import bpe_token_counts

    d = table(spark, sf_dir, "documents")
    # tiny per-step aggregates: AQE coalescing, no conf flip (see
    # z3_bpe_train_merges)
    return cut(bpe_token_counts(d, n_merges=3))


from sftp_data_ingestion_spark.ext.bpe import (  # noqa: E402
    bpe_fertility_oracle_sql,
)


@query("z3_bpe_fertility_by_source", oracle=bpe_fertility_oracle_sql(3))
def z3_bpe_fertility_by_source(spark, sf_dir):
    """Tokenizer fertility (BPE tokens per word) by corpus source —
    the per-domain tokenizer-fit gate run after training a vocabulary
    (`ext/bpe.py`): a source whose fertility sits far above the
    corpus norm is poorly served by the learned merges and will eat a
    disproportionate share of the token budget. Closes the BPE family
    loop train -> encode -> PER-SOURCE ACCOUNTING; the oracle unrolls
    the same 3 training steps and replays the scoring join. Output is
    source-cardinality-bounded at any corpus size."""
    from sftp_data_ingestion_spark.ext.bpe import bpe_fertility_by_source

    d = table(spark, sf_dir, "documents")
    # tiny per-step aggregates: AQE coalescing, no conf flip (see
    # z3_bpe_merges; measured equal-or-faster without the flip)
    return cut(bpe_fertility_by_source(d, n_merges=3))


@query(
    "st_stream_release_e2e",
    oracle=rf"""
WITH {_ADMIT_CTES},
admitted AS (
  SELECT doc_id, CAST(0 AS INTEGER) AS batch_seq FROM s0
  UNION ALL SELECT doc_id, CAST(1 AS INTEGER) FROM s1
  UNION ALL SELECT doc_id, CAST(2 AS INTEGER) FROM s2
  UNION ALL SELECT doc_id, CAST(3 AS INTEGER) FROM s3
), adocs AS (
  SELECT a.doc_id, a.batch_seq, d.text
  FROM admitted a JOIN ({_DOCS_SQL}) d USING (doc_id)
), scored AS (
  SELECT doc_id, batch_seq,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
         round(1.0 / (1.0 + exp(-(
           -1.5 + 0.9 * (length(text) / 1000.0)
           + 0.7 * (len(string_split(text, ' ')) / 100.0)
           + -2.0 * (length(regexp_replace(text, '[^A-Z]', '', 'g'))
                     / CAST(greatest(length(text), 1) AS DOUBLE))))), 6)
           AS prob
  FROM adocs
), flagged AS (
  SELECT doc_id, batch_seq, prob, (prob >= 0.3) AS gated,
         length(string_split(norm, ' ')) AS n_tok,
         row_number() OVER (
           PARTITION BY (prob >= 0.3), sha256(norm) ORDER BY doc_id) AS rn
  FROM scored
), release AS (
  SELECT * FROM flagged WHERE gated AND rn = 1
), drops AS (
  SELECT CAST(count(*) FILTER (WHERE NOT gated) AS BIGINT) AS n_gated,
         CAST(count(*) FILTER (WHERE gated AND rn > 1) AS BIGINT)
           AS n_dup_dropped
  FROM flagged
), card AS (
  SELECT CAST(count(*) AS BIGINT) AS release_docs,
         CAST(sum(n_tok) AS BIGINT) AS release_tokens,
         round(avg(prob), 6) AS mean_prob
  FROM release
), ranked AS (
  SELECT batch_seq, doc_id, n_tok,
         CAST((row_number() OVER (
            PARTITION BY batch_seq ORDER BY n_tok DESC, doc_id) - 1) % 4
          AS INT) AS shard
  FROM release
), manifest AS (
  SELECT batch_seq, shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(max(n_tok) AS BIGINT) AS max_doc_tokens
  FROM ranked GROUP BY 1, 2
)
SELECT m.batch_seq, m.shard, m.n_docs, m.n_tokens, m.max_doc_tokens,
       c.release_docs, c.release_tokens, c.mean_prob,
       d.n_gated, d.n_dup_dropped
FROM manifest m CROSS JOIN card c CROSS JOIN drops d
""",
)
def st_stream_release_e2e(spark, sf_dir):
    """Streaming ingest -> admission -> RELEASE, composed end-to-end
    (the r8 verdict's suggested chaining of
    `z3_stream_ingest_neardup` into `corpus_release_e2e`'s
    accounting): the four-batch LSH-admission drain runs for real
    (forced mtime order, planted near-dup pair, replay-guarded
    appends — `_stream_ingest_admitted`), then the ADMITTED shipment
    goes through the release algebra — model-score gate (length-based
    logistic, keep rounded prob >= 0.3), sha256 exact-dedup
    survivors, size-ranked round-robin packing into 4 shards PER
    INGEST BATCH, and the per-(batch, shard) manifest with the
    release card + drop ledger cross-joined on. The oracle replays
    the sequential admissions (the proven unrolled-CTE chain, shared
    verbatim via `_ADMIT_CTES`) and the release SQL over the same
    admitted set, so stream ordering, admission, and release
    accounting are graded in ONE hash.

    This is the incremental-release pattern a production corpus
    pipeline runs per ingest window: each drained shipment is gated,
    deduped, and packed while the stream is stopped — the batch twin
    of a foreachBatch release hook.

    Scale shape: admission is the proven incremental-LSH plan; the
    release side is `corpus_release_e2e`'s (one scoring scan, ONE
    (gated, sha256) window — hash-distributed, no skew — a
    checkpoint at the scored boundary, per-batch packing windows,
    one-row broadcast cross-joins for card and ledger). The scorer
    derives every feature from the streamed text itself
    (length-based), so the release needs NO join back to the
    dimension table — at 100 TB the shipment never re-reads the
    corpus store."""
    from pyspark.sql import Window

    admitted = _stream_ingest_admitted(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    n_chars = F.length("text")
    margin = (
        F.lit(-1.5)
        + 0.9 * (n_chars / 1000.0)
        + 0.7 * (F.size(F.split(F.col("text"), " ")) / 100.0)
        + -2.0
        * (
            F.length(F.regexp_replace("text", "[^A-Z]", ""))
            / F.greatest(n_chars, F.lit(1)).cast("double")
        )
    )
    scored = admitted.select(
        "doc_id",
        "batch_seq",
        F.size(F.split(norm, " ")).alias("n_tok"),
        F.sha2(norm, 256).alias("h"),
        F.round(1.0 / (1.0 + F.exp(-margin)), 6).alias("prob"),
    ).withColumn("gated", F.col("prob") >= 0.3)
    dw = Window.partitionBy("gated", "h").orderBy(F.col("doc_id"))
    flagged = (
        scored.withColumn("rn", F.row_number().over(dw))
        .drop("h")
        .transform(cut)
    )
    drops = flagged.agg(
        F.sum(F.when(~F.col("gated"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_gated"),
        F.sum(F.when(F.col("gated") & (F.col("rn") > 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_dropped"),
    )
    release = flagged.where(F.col("gated") & (F.col("rn") == 1))
    card = release.agg(
        F.count(F.lit(1)).alias("release_docs"),
        F.sum("n_tok").cast("bigint").alias("release_tokens"),
        F.round(F.avg("prob"), 6).alias("mean_prob"),
    )
    rw = Window.partitionBy("batch_seq").orderBy(
        F.col("n_tok").desc(), F.col("doc_id")
    )
    ranked = release.withColumn(
        "shard", ((F.row_number().over(rw) - 1) % 4).cast("int")
    )
    manifest = ranked.groupBy("batch_seq", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.max("n_tok").cast("bigint").alias("max_doc_tokens"),
    )
    return manifest.crossJoin(F.broadcast(card)).crossJoin(
        F.broadcast(drops)
    )


@query(
    "z3_jpeg_progressive_roundtrip",
    oracle="""
SELECT doc_id, CAST(2304 AS BIGINT) AS n_pixels, TRUE AS bit_exact,
       TRUE AS compressed, CAST(3 AS INTEGER) AS n_scans
FROM documents WHERE doc_id < 100
""",
)
def z3_jpeg_progressive_roundtrip(spark, sf_dir):
    """PROGRESSIVE (SOF2, spectral-selection) JPEG graded end-to-end
    — the multi-scan framing web images actually ship, rounding out
    the codec matrix (baseline gray, 4:2:0 color w/ restarts, now
    progressive). Each document's UTF-8 bytes tile a 48x48 grayscale
    image pushed through BOTH codecs in one Arrow task: baseline
    encode->decode, and a 3-scan progressive encode (DC scan + AC
    bands 1-5 and 6-63, T.81 G.1.2.2 EOB-run coding)
    -> progressive decode. Spectral selection re-frames the SAME
    quantized coefficients, so the gate is BIT-EXACT equality of the
    two decodes — strictly stronger than the lossy error bounds the
    other codec queries use, and broken by any EOB-run, band-split,
    or multi-scan bookkeeping bug. `compressed` pins the stream
    under the raw pixel size; `n_scans` pins the framing."""
    from sftp_data_ingestion_spark.ext.jpeg import (
        text_jpeg_progressive_roundtrip,
    )

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    rt = text_jpeg_progressive_roundtrip(d, side=48, quality=75)
    return rt.select(
        "doc_id",
        "n_pixels",
        "bit_exact",
        (F.col("n_bytes") < F.col("n_pixels")).alias("compressed"),
        "n_scans",
    )

@query(
    "z3_jpeg_sa_roundtrip",
    oracle="""
SELECT doc_id, CAST(2304 AS BIGINT) AS n_pixels, TRUE AS bit_exact,
       TRUE AS compressed, CAST(6 AS INTEGER) AS n_scans
FROM documents WHERE doc_id < 100
""",
)
def z3_jpeg_sa_roundtrip(spark, sf_dir):
    """SUCCESSIVE-APPROXIMATION progressive JPEG graded end-to-end —
    the last SOF2 feature (T.81 G.1.2: Ah/Al point transforms, DC
    raw-bit refinement, AC correction-bit refinement), completing the
    progressive matrix. Each document tiles a 48x48 grayscale image
    encoded as a 6-scan stream (DC first at Al=1, two AC band firsts
    at Al=1, one DC refinement, two AC refinements to Al=0) and the
    decode must be BIT-EXACT against the baseline round-trip: the
    point transforms drop bits that the refinement scans must restore
    EXACTLY, so any error in the G.1.2.3 correction-bit walk (run
    semantics counting only zero-history positions, bits flushed
    after the symbol whose run crosses them, EOB tail passes) breaks
    equality. `compressed` pins the 6-scan stream under the raw pixel
    size; `n_scans` pins the framing."""
    from sftp_data_ingestion_spark.ext.jpeg import (
        text_jpeg_progressive_roundtrip,
    )

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    rt = text_jpeg_progressive_roundtrip(
        d, side=48, quality=75, dc_levels=1, ac_levels=1
    )
    return rt.select(
        "doc_id",
        "n_pixels",
        "bit_exact",
        (F.col("n_bytes") < F.col("n_pixels")).alias("compressed"),
        "n_scans",
    )


@query(
    "z3_jpeg_color_progressive_roundtrip",
    oracle="""
SELECT doc_id, CAST(6912 AS BIGINT) AS n_pixels, TRUE AS bit_exact,
       TRUE AS compressed, CAST(18 AS INTEGER) AS n_scans
FROM documents WHERE doc_id < 100
""",
)
def z3_jpeg_color_progressive_roundtrip(spark, sf_dir):
    """COLOR progressive JPEG graded end-to-end — SOF2 over 4:2:0
    YCbCr with single-component scans (T.81 A.2.2 non-interleaved
    block grids per component) AND successive approximation, the last
    cell of the codec matrix. Each document tiles a 48x48 RGB image
    through the baseline color codec and an 18-scan progressive
    stream (per component: DC first + 1 DC refinement + 2 AC band
    firsts + 2 AC refinements); the decode must be BIT-EXACT against
    the baseline color round-trip — both reconstruct from identical
    quantized coefficients, so any error in the per-component grid
    geometry (ceil-8 luma vs the baseline's MCU-16 padding), the
    chroma table wiring, or the refinement walks breaks equality."""
    from sftp_data_ingestion_spark.ext.jpeg import (
        text_jpeg_color_progressive_roundtrip,
    )

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    rt = text_jpeg_color_progressive_roundtrip(
        d, side=48, quality=75, dc_levels=1, ac_levels=1
    )
    return rt.select(
        "doc_id",
        "n_pixels",
        "bit_exact",
        (F.col("n_bytes") < F.col("n_pixels")).alias("compressed"),
        "n_scans",
    )



@query(
    "t_ccnet_perplexity_buckets",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(s, ' '), 1) AS pos,
         unnest(string_split(s, ' ')) AS tok
  FROM (SELECT doc_id, {_NORM_SQL} AS s FROM documents)
), big AS (
  SELECT doc_id, prev, tok AS cur FROM (
    SELECT doc_id, tok,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM toks
  ) WHERE prev IS NOT NULL AND tok <> '' AND prev <> ''
), c2 AS (
  SELECT prev, cur, count(*) AS cnt2 FROM big GROUP BY 1, 2
), c1 AS (
  SELECT prev, sum(cnt2) AS cnt1 FROM c2 GROUP BY 1
), scored AS (
  SELECT doc_id, round(AVG(-ln(cnt2 / CAST(cnt1 AS DOUBLE))), 6) AS xent
  FROM big JOIN c2 USING (prev, cur) JOIN c1 USING (prev)
  GROUP BY doc_id
), bucketed AS (
  SELECT doc_id, xent,
         ntile(3) OVER (ORDER BY xent, doc_id) AS tercile
  FROM scored
)
SELECT doc_id, xent,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       (tercile = 1) AS keep_head
FROM bucketed
""",
)
def t_ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet's perplexity bucketing (Wenzek et al. 2020): score every
    document under a corpus LM (here the self-trained bigram model of
    `z3_bigram_cross_entropy` — CCNet uses a KenLM 5-gram; the
    bucketing logic is the published part), split the corpus into
    HEAD / MIDDLE / TAIL terciles by ascending cross-entropy, and
    keep the head as the high-fluency slice. Graded per document
    (score, bucket, keep) with deterministic doc_id tie-break.

    Scale shape: scoring is the proven bigram-LM composition (one
    counted-bigram shuffle join); the tercile split here is an exact
    global ntile — one single-partition window over (doc_id, score)
    PAIRS ONLY, never text. At 100 TB the exact sort gives way to
    percentile_approx cutoffs (the g_approx_quantiles_bounded
    pattern: two sketch values replace the global sort and bucket
    assignment becomes a per-row comparison) — the bucketing then
    costs one pass, which is why CCNet computes its thresholds on a
    sample."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    from sftp_data_ingestion_spark.ext.dedup import normalized

    arr = F.split(normalized(F.col("text")), " ")
    n1 = F.greatest(F.size(arr) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(arr, 1, n1),
        F.slice(arr, 2, n1),
        lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
    )
    big = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            F.col("bg.prev").alias("prev"),
            F.col("bg.cur").alias("cur"),
        )
        .where((F.col("prev") != "") & (F.col("cur") != ""))
    )
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cnt2"))
    c1 = c2.groupBy("prev").agg(F.sum("cnt2").alias("cnt1"))
    neg_log_p = -F.log(F.col("cnt2").cast("double") / F.col("cnt1"))
    # model-first join order, same reasoning as z3_bigram_cross_entropy
    scored = (
        big.join(c2.join(c1, "prev"), ["prev", "cur"])
        .groupBy("doc_id")
        .agg(F.round(F.avg(neg_log_p), 6).alias("xent"))
    )
    w = Window.orderBy("xent", "doc_id")
    b = scored.withColumn("tercile", F.ntile(3).over(w))
    return b.select(
        "doc_id",
        "xent",
        F.when(F.col("tercile") == 1, F.lit("head"))
        .when(F.col("tercile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        (F.col("tercile") == 1).alias("keep_head"),
    )


@query(
    "z3_kneser_ney_xent",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(string_split(s, ' '), 1) AS pos,
         unnest(string_split(s, ' ')) AS tok
  FROM (SELECT doc_id, {_NORM_SQL} AS s FROM documents)
), big AS (
  SELECT doc_id, prev, tok AS cur FROM (
    SELECT doc_id, tok,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM toks
  ) WHERE prev IS NOT NULL AND tok <> '' AND prev <> ''
), c2 AS (SELECT prev, cur, count(*) AS cnt2 FROM big GROUP BY 1, 2),
fwd AS (
  SELECT prev, CAST(sum(cnt2) AS DOUBLE) AS ctx_total,
         CAST(count(*) AS DOUBLE) AS n1p_fwd
  FROM c2 GROUP BY 1
), bwd AS (
  SELECT cur, CAST(count(*) AS DOUBLE) AS n1p_bwd FROM c2 GROUP BY 1
), tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM c2)
SELECT doc_id,
       round(avg(-ln(
         greatest(cnt2 - 0.75, 0.0) / ctx_total
         + 0.75 * n1p_fwd / ctx_total
           * (n1p_bwd / (SELECT t FROM tt))
       )), 6) AS xent_kn,
       CAST(count(*) AS BIGINT) AS n_bigrams
FROM big JOIN c2 USING (prev, cur) JOIN fwd USING (prev)
         JOIN bwd USING (cur)
GROUP BY doc_id
""",
)
def z3_kneser_ney_xent(spark, sf_dir):
    """Per-document cross-entropy under an interpolated KNESER-NEY
    bigram LM (Kneser & Ney 1995; the smoothing KenLM implements and
    CCNet's perplexity filter actually runs) with fixed discount
    D = 0.75:

        p_KN(cur | prev) = max(c(prev,cur) - D, 0) / c(prev,.)
                         + D * N1+(prev,.) / c(prev,.) * p_cont(cur)
        p_cont(cur)      = N1+(.,cur) / N1+(.,.)

    The MLE twin (``z3_bigram_cross_entropy``) overfits: any bigram
    seen once gets its full count mass, so rare-context documents
    score artificially fluent. KN discounts every observed bigram and
    redistributes the mass by CONTINUATION diversity — the signal a
    real CCNet-style filter ranks by.

    All four model tables are count aggregates over the counted bigram
    table (map-side combined; nothing re-scans the token stream): the
    context totals + distinct-continuation counts per prev, the
    distinct-history counts per cur, and the one-row distinct-type
    total broadcast into the scoring expression. The scoring joins
    stay deliberate shuffle joins (a 100 TB corpus's bigram table is
    not broadcastable). The p_KN expression is written with the same
    association order in both engines (each op one correctly-rounded
    IEEE-754 step), so values match to the 6 dp round."""
    from sftp_data_ingestion_spark.ext.dedup import normalized

    d = table(spark, sf_dir, "documents")
    arr = F.split(normalized(F.col("text")), " ")
    n1 = F.greatest(F.size(arr) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(arr, 1, n1),
        F.slice(arr, 2, n1),
        lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
    )
    big = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            F.col("bg.prev").alias("prev"),
            F.col("bg.cur").alias("cur"),
        )
        .where((F.col("prev") != "") & (F.col("cur") != ""))
    )
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cnt2"))
    fwd = c2.groupBy("prev").agg(
        F.sum("cnt2").cast("double").alias("ctx_total"),
        F.count(F.lit(1)).cast("double").alias("n1p_fwd"),
    )
    bwd = c2.groupBy("cur").agg(
        F.count(F.lit(1)).cast("double").alias("n1p_bwd")
    )
    tt = c2.agg(F.count(F.lit(1)).cast("double").alias("t"))
    p_kn = (
        F.greatest(F.col("cnt2") - F.lit(0.75), F.lit(0.0))
        / F.col("ctx_total")
        + F.lit(0.75) * F.col("n1p_fwd") / F.col("ctx_total")
        * (F.col("n1p_bwd") / F.col("t"))
    )
    # assemble the MODEL first (r14, guide §2.3/§2.4): scoring as
    # stream⋈c2 then ⋈fwd then ⋈bwd re-shuffled the full bigram
    # stream by prev and AGAIN by cur between the joins — four
    # stream-sized exchanges. Folding fwd/bwd/tt into the counted
    # model is model-sized work, and the stream crosses the wire
    # once for scoring plus once for the doc aggregate. Join order
    # on keyed equality cannot change the matched values.
    model = (
        c2.join(fwd, "prev").join(bwd, "cur").crossJoin(F.broadcast(tt))
    )
    return (
        big.join(model, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(-F.log(p_kn)), 6).alias("xent_kn"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


_NB_TOK_SQL = "string_split_regex(trim(lower(text)), '\\s+')"


@query(
    "z3_naive_bayes_source",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, unnest({_NB_TOK_SQL}) AS token
  FROM documents
), doc_tok AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS cnt
  FROM tok GROUP BY doc_id, token
), doc_len AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS len FROM tok GROUP BY doc_id
), class_tok AS (
  SELECT source AS cls, token, CAST(count(*) AS DOUBLE) AS n_tc
  FROM tok GROUP BY source, token
), class_tot AS (
  SELECT cls, sum(n_tc) AS n_c FROM class_tok GROUP BY cls
), vocab AS (
  SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM tok
), prior AS (
  SELECT source AS cls, CAST(count(*) AS DOUBLE) AS n_docs FROM documents
  GROUP BY source
), n_all AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), hits AS (
  SELECT d.doc_id, c.cls, sum(d.cnt * ln(c.n_tc + 1)) AS hit_term
  FROM doc_tok d JOIN class_tok c ON d.token = c.token
  GROUP BY d.doc_id, c.cls
), scores AS (
  SELECT l.doc_id, p.cls,
         round(ln(p.n_docs / n_all.n)
               - l.len * ln(t.n_c + vocab.v)
               + coalesce(h.hit_term, 0.0), 6) AS score
  FROM doc_len l
  CROSS JOIN prior p
  JOIN class_tot t ON p.cls = t.cls
  CROSS JOIN vocab CROSS JOIN n_all
  LEFT JOIN hits h ON h.doc_id = l.doc_id AND h.cls = p.cls
), ranked AS (
  SELECT doc_id, cls, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cls ASC) AS rk
  FROM scores
)
SELECT r.doc_id, d.source AS true_source, r.cls AS predicted,
       r.score AS log_score, r.cls = d.source AS correct
FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
WHERE r.rk = 1
""",
)
def z3_naive_bayes_source(spark, sf_dir):
    """Multinomial Naive Bayes source classifier (Laplace-smoothed,
    McCallum & Nigam 1998) — train on the corpus's own (token,
    source) counts, score every document, emit the argmax class. The
    closed-form sibling of the gradient-trained
    ``z2_quality_logreg_score``: NB is THE bulk document classifier
    at crawl scale (fastText's own baseline) because training is one
    aggregation pass — no iterations, no driver state.

    The sparse-dot identity keeps the join sparse: score(d,c) =
    ln P(c) - len_d·ln(n_c + V) + Σ_{t∈d} cnt_d(t)·ln(n_tc + 1),
    so zero-count (token, class) pairs contribute exactly 0 and the
    per-doc work is (tokens in doc) × (classes containing them),
    never |vocab| × |classes|. Plan: training = two map-side-combined
    groupBys (class-token counts, class totals); scoring = one
    token-keyed shuffle join + per-(doc, class) sum; the class/prior/
    vocab tables are broadcast scalars. Scores are rounded to 6 dp
    BEFORE the argmax window in BOTH engines, so a last-ulp ln()
    wobble cannot flip the ranking (ties break on class name)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    )
    doc_tok = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    doc_len = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("len")
    )
    class_tok = tok.groupBy(F.col("source").alias("cls"), "token").agg(
        F.count(F.lit(1)).cast("double").alias("n_tc")
    )
    class_tot = class_tok.groupBy("cls").agg(F.sum("n_tc").alias("n_c"))
    vocab = tok.agg(F.countDistinct("token").cast("double").alias("v"))
    prior = d.groupBy(F.col("source").alias("cls")).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    n_all = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    hits = (
        doc_tok.join(class_tok, "token")
        .groupBy("doc_id", "cls")
        .agg(F.sum(F.col("cnt") * F.log(F.col("n_tc") + 1)).alias("hit_term"))
    )
    scores = (
        doc_len.crossJoin(F.broadcast(prior))
        .join(F.broadcast(class_tot), "cls")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_all))
        .join(hits, ["doc_id", "cls"], "left")
        .select(
            "doc_id",
            "cls",
            F.round(
                F.log(F.col("n_docs") / F.col("n"))
                - F.col("len") * F.log(F.col("n_c") + F.col("v"))
                + F.coalesce(F.col("hit_term"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cls").asc()
    )
    best = scores.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    return best.join(d.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        F.col("source").alias("true_source"),
        F.col("cls").alias("predicted"),
        F.col("score").alias("log_score"),
        (F.col("cls") == F.col("source")).alias("correct"),
    )
