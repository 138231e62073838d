"""Training-corpus construction operators, round 7 (`z4_` family).

The operators a large-scale LLM-data pipeline runs between curation
and tokenization, each with a full DuckDB oracle:

* sparse lexical similarity (tf-idf cosine top-k) — the classic
  inverted-index retrieval the dense/ANN queries (`v_*`) complement;
* token co-occurrence PMI — word-association mining for boilerplate
  and collocation discovery;
* balanced shard packing — size-ranked round-robin assignment of
  documents to output shards, the write-path step before training;
* per-source Jensen-Shannon divergence — distribution drift of each
  source against the corpus, the information-theoretic cousin of the
  chi-square drift gate (`g_drift_chisq`);
* per-doc n-gram novelty (shingle first-owner, no pair fanout);
* directed shingle containment (the asymmetric quote-inclusion
  signal Jaccard dilutes);
* quality-score calibration bins (reliability diagram before model
  scores become sampling weights);
* positional token entropy (template/boilerplate prefix detection);
* binned two-sample KS drift (distribution-SHAPE drift, scale-safe);
* Benford first-digit conformance (numeric-fabrication screen);
* bucketed interval x interval overlap join (anchor-bucket matching,
  `operators/temporal.interval_join_overlap`);
* Zipf's-law slope per source (naturalness screen, `regr_slope`);
* one-row dataset card (the corpus release datasheet).

All tokenization uses the repo-wide convention (lower, collapse
whitespace, split on single space) so oracles share the exact token
stream. All reported floats are rounded to 6 dp and every ranking
orders by the ROUNDED value with full deterministic tiebreaks, so the
keep/drop and rank boundaries are engine-portable.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.ext import dedup as dd
from sftp_data_ingestion_spark.queries.registry import query, table
from sftp_data_ingestion_spark.rebalance import cut

# repo-wide token stream: lower, collapse runs of whitespace, split on
# the single space (matches string_split(s, ' ') in every oracle)
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# the repo-wide trigram shingle set (matches ext/dedup.shingles(n=3),
# incl. the whole-text fallback for docs shorter than the window)
_SHINGLE_SQL = """
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN length(string_split(s, ' ')) < 3 THEN [s]
                ELSE list_transform(range(length(string_split(s, ' ')) - 2),
                       i -> array_to_string(string_split(s, ' ')[i+1:i+3], ' '))
           END)) AS sh
  FROM (SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
        FROM documents)
"""


def _tokens(d):
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return d.select(
        "doc_id", "source", F.explode(F.split(norm, " ")).alias("term")
    )


def _tf_postings(d):
    """(doc_id, term, tf) postings — the inverted index every
    consumer of the tf-idf family reads (df counts, norms, probe and
    corpus sides of the pair join)."""
    return (
        _tokens(d)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_bucketed_postings(spark, d, table_name, path, num_buckets=32):
    """The 100 TB postings layout, as code: materialize the inverted
    index as a term-BUCKETED table (``bucketBy(term)``), so every
    downstream term-keyed stage — the df/idf aggregate and the
    postings-side of the idf join under ``broadcast_idf=False`` —
    reads HashPartitioning(term) straight off the scan and plans NO
    term exchange (pinned by
    tests/test_training_queries.py::test_tfidf_bucketed_postings_exchange_free).

    This is the lever `_tfidf_weights`' docstring names:
    ``localCheckpoint`` cannot carry partitioning metadata across the
    RDD boundary (measured — the checkpoint scan replans
    ENSURE_REQUIREMENTS exchanges even when pre-repartitioned by
    term), so the in-session checkpoint is only a recompute guard; a
    production retrieval pipeline pays ONE organize-time shuffle into
    this bucketed layout and every later posting join/aggregate on
    term is exchange-free. Same catalog discipline as
    ``operators/bucketed.write_bucketed`` (external path, one file
    per bucket)."""
    from sftp_data_ingestion_spark.operators.bucketed import write_bucketed

    write_bucketed(
        _tf_postings(d), table_name, "term", num_buckets, path
    )
    return spark.table(table_name)


def _tfidf_weights(tf, n_docs, broadcast_idf=True):
    """tf-idf weights (doc_id, term, wt) from a (doc_id, term, tf)
    postings frame. ``broadcast_idf`` gates the physical strategy for
    the idf join: idf has one row per DISTINCT TERM, so at fixture
    scale it is broadcast range, but at 100 TB the vocabulary
    (10^7-10^8 terms) exceeds any broadcast budget — callers at that
    scale pass False, which removes the FORCED hint and hands the
    strategy back to Catalyst: with real 100 TB stats (or broadcast
    disabled) that plans the standard term-key shuffle join. A
    production pipeline amortizes that shuffle by materializing the
    postings as a term-BUCKETED table — the in-session
    localCheckpoint approximation cannot carry partitioning metadata
    across the RDD boundary (measured: the checkpoint scan replans
    ENSURE_REQUIREMENTS exchanges even when pre-repartitioned by
    term), so bucketing, not repartition-before-checkpoint, is the
    real exchange-elimination lever at scale. The plan test pins both
    regimes and their value agreement."""
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("term", F.log(F.col("n_docs") / F.col("df")).alias("idf"))
    )
    if broadcast_idf:
        idf = F.broadcast(idf)
    return tf.join(idf, "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf")).alias("wt")
    )


# Shared by z4_sparse_tfidf_topk and its bucketed-regime twin: the
# layout changes the physical plan, never the rows, so both grade
# against the identical SQL.
_TFIDF_TOPK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), idf AS (
  SELECT term, ln(n.n_docs / count(*)) AS idf
  FROM tf, n GROUP BY term, n.n_docs
), w AS (
  SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS wt
  FROM tf JOIN idf USING (term)
), nrm AS (
  -- zero-norm guard: a degenerate doc whose every term has df=N has
  -- norm 0; Spark division yields NULL there but DuckDB IEEE float
  -- division yields inf/NaN, so both engines drop such docs up front
  SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM w GROUP BY 1
  HAVING sqrt(sum(wt * wt)) > 0
), dots AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         sum(q.wt * c.wt) AS dot
  FROM w q JOIN w c USING (term)
  WHERE q.doc_id % 50 = 0 AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
), sims AS (
  SELECT query_id, neighbor_id,
         round(dot / (qn.nrm * cn.nrm), 6) AS sim
  FROM dots
  JOIN nrm qn ON qn.doc_id = query_id
  JOIN nrm cn ON cn.doc_id = neighbor_id
)
SELECT query_id, neighbor_id, sim, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM sims
) WHERE rnk <= 3
"""


@query("z4_sparse_tfidf_topk", oracle=_TFIDF_TOPK_ORACLE)
def z4_sparse_tfidf_topk(spark, sf_dir):
    """Sparse lexical top-k: tf-idf cosine neighbors per query doc via
    an inverted-index (term) join — the retrieval shape BM25 engines
    and near-dup blockers use, complementing the dense `v_*` ANN
    family. idf = ln(N/df), weights tf*idf, cosine over the full
    shared-term dot with per-doc norms computed once.

    Scale shape: the probe side (1-in-50 docs) is tiny by
    construction and BROADCASTS into the term join, so the corpus
    posting list streams map-side with no corpus x corpus stage; the
    pair dot aggregates on (query, neighbor) — fanout bounded by
    probe count x posting length, the inverted-index bound. Ranking
    orders by the ROUNDED sim (ulp-stable across engines) with
    neighbor_id tiebreak."""
    d = table(spark, sf_dir, "documents")
    # materialize the postings ONCE: four consumers read tf (df
    # counts, norms, probe side, corpus side) and would otherwise
    # re-tokenize + re-aggregate the corpus per branch (measured 3.52
    # -> 2.53 s at sf0.1). The repartition sizes/balances the
    # checkpoint blocks; note partitioning METADATA does not survive
    # the RDD boundary (measured — downstream joins replan their own
    # exchanges), so at 100 TB this boundary is the inverted index a
    # retrieval pipeline materializes as a term-BUCKETED table
    # (`term_bucketed_postings` — the code path, plan-pinned
    # exchange-free), which is what makes the posting joins
    # exchange-free at scale; the cut is the in-session
    # equivalent (same pattern as curation_e2e's survivor set).
    tf = _tf_postings(d).repartition(
        spark.sparkContext.defaultParallelism, "term"
    ).transform(cut)
    return tfidf_topk_from_postings(
        d, tf, broadcast_idf=True, materialize_weights=True
    )


def tfidf_topk_from_postings(
    d, tf, broadcast_idf=True, materialize_weights=False
):
    """tf-idf cosine top-3 from an already-materialized postings
    frame — shared by the graded query (localCheckpoint postings,
    broadcast idf: the fixture regime) and the bucketed-layout path
    (`term_bucketed_postings` + ``broadcast_idf=False``: the 100 TB
    regime, exchange-free on term). Splitting the algebra from the
    layout is what makes the lever testable: both paths must produce
    identical rows (pinned in tests).

    ``materialize_weights`` cuts the WEIGHTED postings ``w`` with
    ``rebalance.cut`` (r14, guide §2.4): ``w`` feeds THREE consumers
    (norms, probe side, corpus side of the pair join), and without the
    cut each consumer re-expands the full idf derivation — the r13
    before-plan shows the n_docs countDistinct + df-count aggregate
    subtree THREE times (plans/r13/z4_sparse_tfidf_topk_before.txt,
    subtrees 5-21 / 26-42 / 51-65; measured 4.5 -> 3.4 s at sf0.1,
    rows identical). This is the organize-once boundary a production
    retrieval index has anyway — BM25/tf-idf indexes store WEIGHTED
    postings, not raw tf. Default off: the bucketed-layout twin keeps
    its weighted join exchange-free on term straight off the scan and
    must not hide an RDD boundary inside the pinned plan."""
    n_docs = d.select(
        F.countDistinct("doc_id").alias("n_docs")
    )
    # fixture-scale vocab -> broadcast idf; at 100 TB pass
    # broadcast_idf=False to hand the strategy back to Catalyst
    # (plain term-key shuffle join; see _tfidf_weights)
    w = _tfidf_weights(tf, n_docs, broadcast_idf=broadcast_idf)
    if materialize_weights:
        w = cut(w)
    # zero-norm guard: a doc whose every term has df=N gets norm 0;
    # Spark division yields NULL but DuckDB yields inf/NaN — drop such
    # docs in both engines (oracle mirrors with HAVING nrm > 0)
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    ).where(F.col("nrm") > 0)
    q = w.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "term", F.col("wt").alias("qwt")
    )
    dots = (
        F.broadcast(q)
        .join(w, "term")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("neighbor_id"))
        .agg(F.sum(F.col("qwt") * F.col("wt")).alias("dot"))
    )
    qn = nrm.select(
        F.col("doc_id").alias("query_id"), F.col("nrm").alias("qnrm")
    )
    cn = nrm.select(
        F.col("doc_id").alias("neighbor_id"), F.col("nrm").alias("cnrm")
    )
    sims = (
        dots.join(F.broadcast(qn), "query_id")
        .join(cn, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot") / (F.col("qnrm") * F.col("cnrm")), 6).alias(
                "sim"
            ),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(rw).cast("int"))
        .where(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


@query("z4_sparse_tfidf_topk_bucketed", oracle=_TFIDF_TOPK_ORACLE)
def z4_sparse_tfidf_topk_bucketed(spark, sf_dir):
    """The 100 TB regime of the sparse tf-idf top-k, graded
    end-to-end: the inverted index is materialized as a term-BUCKETED
    external table (`term_bucketed_postings` — ONE organize-time
    shuffle) and the retrieval algebra runs with
    ``broadcast_idf=False`` — the strategy a 10^7-10^8-term
    vocabulary forces, where idf cannot broadcast and every term-keyed
    stage instead reads HashPartitioning(term) straight off the
    bucketed scan (zero term exchanges above it, plan-pinned in
    tests/test_training_queries.py::test_tfidf_bucketed_postings_exchange_free).

    Same oracle as `z4_sparse_tfidf_topk`: the layout is a physical
    lever only — both regimes must produce identical rows. Tables are
    external + in-memory catalog entries, so a grading run leaves
    nothing behind in the repo; the external path is DETERMINISTIC
    per (sf_dir, session user) so repeated sweeps overwrite one
    directory instead of stranding a fresh ``mkdtemp`` per call, and
    the catalog table name carries the same digest so two concurrent
    sessions pointed at different inputs never collide on a shared
    warehouse name."""
    import getpass
    import hashlib
    import tempfile

    d = table(spark, sf_dir, "documents")
    tag = hashlib.sha1(
        f"{sf_dir}|{getpass.getuser()}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"z4_tfidf_bucketed_{tag}")
    btf = term_bucketed_postings(
        spark, d, f"z4_tfidf_postings_bucketed_{tag}", f"{base}/postings",
        num_buckets=32,
    )
    return tfidf_topk_from_postings(d, btf, broadcast_idf=False)


@query(
    "z4_cooccur_pmi",
    oracle=f"""
WITH t AS (
  SELECT DISTINCT doc_id,
         unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), dfs AS (
  SELECT term, count(*) AS df FROM t GROUP BY 1
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
), pmi AS (
  SELECT term_a, term_b, n_ab,
         round(ln(CAST(n_ab AS DOUBLE) * n.n_docs
                  / (da.df * CAST(db.df AS DOUBLE))), 6) AS pmi
  FROM pairs, n
  JOIN dfs da ON da.term = term_a
  JOIN dfs db ON db.term = term_b
)
SELECT term_a, term_b, n_ab, pmi FROM pmi
ORDER BY pmi DESC, term_a, term_b LIMIT 20
""",
)
def z4_cooccur_pmi(spark, sf_dir):
    """Document-level pointwise mutual information of token pairs —
    the word-association statistic collocation/boilerplate mining
    runs over a corpus: pmi = ln(P(a,b) / (P(a)P(b))) with
    document-presence probabilities. Top-20 by rounded PMI with full
    lexical tiebreaks.

    Scale shape: the pair generator is a per-document self-join of
    the DISTINCT (doc, term) set — O(u^2) per doc where u is the
    per-doc distinct-term count (naturally bounded; production
    pipelines cap it) — then everything aggregates by (term_a,
    term_b) with map-side partials, dfs broadcast, and the global
    top-20 plans as TakeOrderedAndProject (no global window over the
    full pair set)."""
    d = table(spark, sf_dir, "documents")
    t = _tokens(d).select("doc_id", "term").distinct()
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    dfs = t.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    a = t.select("doc_id", F.col("term").alias("term_a"))
    b = t.select("doc_id", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    da = F.broadcast(dfs.select(F.col("term").alias("term_a"), F.col("df").alias("df_a")))
    db = F.broadcast(dfs.select(F.col("term").alias("term_b"), F.col("df").alias("df_b")))
    pmi = (
        pairs.join(da, "term_a")
        .join(db, "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("df_a") * F.col("df_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    # top-20 plans as TakeOrderedAndProject; (term_a, term_b) is
    # unique so no rank column is needed to make the cut deterministic
    return pmi.orderBy(
        F.col("pmi").desc(), F.col("term_a"), F.col("term_b")
    ).limit(20)


@query(
    "z4_shard_packing",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, source,
         length(string_split({_NORM_SQL}, ' ')) AS n_tok
  FROM documents
), ranked AS (
  SELECT source, doc_id, n_tok,
         CAST((row_number() OVER (
            PARTITION BY source ORDER BY n_tok DESC, doc_id) - 1) % 8
          AS INT) AS shard
  FROM sized
)
SELECT source, shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(max(n_tok) AS BIGINT) AS max_doc_tokens
FROM ranked GROUP BY 1, 2
""",
)
def z4_shard_packing(spark, sf_dir):
    """Balanced shard packing: size-ranked round-robin assignment of
    documents to 8 output shards per source — the write-path step
    that turns a curated corpus into training shards of near-equal
    token mass (descending-size round-robin is the classic LPT-style
    greedy: consecutive big docs land on different shards). Graded as
    per-(source, shard) doc/token accounting.

    Scale shape: ONE window per source shard (partitioned, never
    global — the r5 scale-killer class), then a partial-aggregating
    groupBy on (source, shard); the scan prunes to (doc_id, source,
    text) and token counting is a pure-Column size(split())."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    sized = d.select(
        "doc_id", "source", F.size(F.split(norm, " ")).alias("n_tok")
    )
    rw = Window.partitionBy("source").orderBy(
        F.col("n_tok").desc(), F.col("doc_id")
    )
    ranked = sized.withColumn(
        "shard", ((F.row_number().over(rw) - 1) % 8).cast("int")
    )
    return ranked.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.max("n_tok").cast("bigint").alias("max_doc_tokens"),
    )


@query(
    "z4_js_divergence_sources",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
), sc AS (
  SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2
), stot AS (
  SELECT source, sum(c) AS tot FROM sc GROUP BY 1
), gc AS (
  SELECT term, count(*) AS c FROM toks GROUP BY 1  -- token freq, corpus
), gtot AS (
  SELECT sum(c) AS tot FROM gc
), joined AS (
  SELECT sc.source,
         sc.c / CAST(stot.tot AS DOUBLE) AS p,
         gc.c / CAST(gtot.tot AS DOUBLE) AS q
  FROM sc
  JOIN stot USING (source)
  JOIN gc ON gc.term = sc.term, gtot
)
SELECT source,
       round(0.5 * sum(p * ln(2 * p / (p + q))
                       + q * ln(2 * q / (p + q)))
             + 0.5 * ln(2) * (1 - sum(q)), 6) AS jsd
FROM joined GROUP BY source
""",
)
def z4_js_divergence_sources(spark, sf_dir):
    """Jensen-Shannon divergence of each source's unigram token
    distribution against the whole corpus — the information-theoretic
    drift gate (bounded [0, ln 2], symmetric) that complements the
    chi-square drift test (`g_drift_chisq`); corpus-mixing pipelines
    use it to spot sources whose token distribution departs from the
    blend. jsd = 0.5*KL(p||m) + 0.5*KL(q||m), m = (p+q)/2.

    Sparse-safe closed form: terms ABSENT from a source contribute
    exactly 0.5*ln2*q each (p=0 -> m=q/2), so the sum only visits
    (source, term) pairs PRESENT in the source — 0.5*ln2*(1 - sum q)
    picks up the absent mass without densifying the source x vocab
    grid (at corpus scale that grid is sources x 10M+ terms). Shape:
    three groupBys with map-side partials; the global term
    distribution broadcasts into the per-source join."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens(d)
    sc = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    stot = sc.groupBy("source").agg(F.sum("c").alias("tot"))
    gc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("gcnt"))
    gtot = gc.agg(F.sum("gcnt").alias("gtot"))
    g = F.broadcast(gc.crossJoin(F.broadcast(gtot))).select(
        "term", (F.col("gcnt") / F.col("gtot")).alias("q")
    )
    joined = (
        sc.join(F.broadcast(stot), "source")
        .select("source", "term", (F.col("c") / F.col("tot")).alias("p"))
        .join(g, "term")
    )
    p, q = F.col("p"), F.col("q")
    return joined.groupBy("source").agg(
        F.round(
            0.5
            * F.sum(
                p * F.log(2 * p / (p + q)) + q * F.log(2 * q / (p + q))
            )
            + 0.5 * math.log(2) * (1 - F.sum(q)),
            6,
        ).alias("jsd")
    )


@query(
    "z4_ngram_novelty",
    oracle=f"""
WITH toks AS ({_SHINGLE_SQL}),
first_seen AS (
  SELECT sh, min(doc_id) AS first_doc FROM toks GROUP BY 1
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       round(avg(CASE WHEN f.first_doc = t.doc_id
                      THEN 1.0 ELSE 0.0 END), 6) AS novelty
FROM toks t JOIN first_seen f USING (sh)
GROUP BY t.doc_id
""",
)
def z4_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty: the fraction of a document's
    distinct trigram shingles it is the FIRST document (by doc_id
    order) to contribute to the corpus — the freshness signal
    crawl-curation pipelines use to down-weight documents that only
    repeat earlier material (novelty ~0 means the doc is assembled
    from seen text; the corpus-order dual of intra-doc repetition
    signals like `wh_repetition_signals`).

    Scale shape: one groupBy on shingle (map-side partial min), one
    join back on shingle, one per-doc aggregate — the standard
    inverted-index discipline; no pair fanout at all (unlike
    similarity, novelty needs only each shingle's FIRST owner). On a
    cluster the shingle->first_doc table is exactly the incremental
    state a streaming novelty scorer maintains."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(dd.shingles(F.col("text"), 3)).alias("sh")
    )
    first = toks.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        toks.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.avg(
                    F.when(
                        F.col("first_doc") == F.col("doc_id"), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias("novelty"),
        )
    )


@query(
    "z4_containment_pairs",
    oracle=f"""
WITH toks AS (
  SELECT * FROM ({_SHINGLE_SQL}) WHERE doc_id < 150
), sizes AS (
  SELECT doc_id, count(*) AS n FROM toks GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM toks a JOIN toks b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / sa.n, 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = id_a
WHERE round(CAST(i AS DOUBLE) / sa.n, 6) >= 0.6
""",
)
def z4_containment_pairs(spark, sf_dir, max_df=None):
    """DIRECTED shingle containment |A∩B| / |A| — the asymmetric
    near-dup measure Jaccard misses: a short document quoted whole
    inside a long one has high containment but low Jaccard (the union
    is dominated by the long doc), so quote-inclusion and
    excerpt-republication only show up under containment. Emits
    (id_a, id_b) where A's shingles are >= 60% contained in B; both
    directions are reported independently.

    Scale shape: same inverted-index pair discipline as
    `d_ngram_jaccard_pairs` (shared-shingle equi-join, map-side
    partial counts, per-side size join) with the threshold applied on
    the ROUNDED value so the keep/drop boundary is engine-portable.
    ``max_df`` (default off at fixture scale — graded hash unchanged)
    df-prunes hot shingles before the self-join, bounding the pair
    fanout at corpus scale (``dd.prune_hot_postings``); the
    denominator stays the UNPRUNED |A|, so pruning only drops
    candidates, never inflates containment. The fixture cap
    (doc_id < 150) keeps the graded pair set aligned with the Jaccard
    query's."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    toks = d.select(
        "doc_id", F.explode(dd.shingles(F.col("text"), 3)).alias("sh")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = dd.shared_shingle_intersections(
        toks, id_col="doc_id", directed=True, max_df=max_df
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_a"), "n")),
            "id_a",
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("i").cast("double") / F.col("n"), 6).alias(
                "containment"
            ),
        )
        .where(F.col("containment") >= 0.6)
    )


@query(
    "z4_score_calibration_bins",
    oracle="""
WITH scored AS (
  SELECT round(1.0 / (1.0 + exp(-(
           -1.5 + 0.9 * (n_chars / 1000.0)
           + 0.7 * (len(string_split(text, ' ')) / 100.0)
           + -2.0 * (length(regexp_replace(text, '[^A-Z]', '', 'g'))
                     / CAST(greatest(n_chars, 1) AS DOUBLE))))), 6) AS prob,
         (n_chars >= 200) AS label
  FROM documents
)
SELECT CAST(least(floor(prob * 10), 9) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(prob), 6) AS mean_prob,
       round(avg(CASE WHEN label THEN 1.0 ELSE 0.0 END), 6) AS frac_pos
FROM scored GROUP BY 1
""",
)
def z4_score_calibration_bins(spark, sf_dir):
    """Reliability diagram for the fastText-style quality scorer
    (`z2_quality_logreg_score` weights): sigmoid probabilities bucket
    into 10 bins, each reporting mean predicted probability vs the
    observed rate of a weak label (n_chars >= 200) — the calibration
    check a data pipeline runs before using model scores as sampling
    WEIGHTS rather than a hard gate (miscalibrated weights silently
    skew the corpus mix).

    Scale shape: one codegen scoring pass (no shuffle) + one 10-group
    aggregate with map-side partials. Binning uses the ROUNDED
    probability so bin boundaries are engine-portable (same 6-dp
    contract as every graded float here)."""
    d = table(spark, sf_dir, "documents")
    margin = (
        F.lit(-1.5)
        + 0.9 * (F.col("n_chars") / 1000.0)
        + 0.7 * (F.size(F.split(F.col("text"), " ")) / 100.0)
        + -2.0
        * (
            F.length(F.regexp_replace("text", "[^A-Z]", ""))
            / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
        )
    )
    scored = d.select(
        F.round(1.0 / (1.0 + F.exp(-margin)), 6).alias("prob"),
        (F.col("n_chars") >= 200).alias("label"),
    )
    return scored.groupBy(
        F.least(F.floor(F.col("prob") * 10), F.lit(9))
        .cast("int")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("prob"), 6).alias("mean_prob"),
        F.round(
            F.avg(F.when(F.col("label"), 1.0).otherwise(0.0)), 6
        ).alias("frac_pos"),
    )


@query(
    "z4_template_position_entropy",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split({_NORM_SQL}, ' '), 1) - 1 AS pos,
         unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
), counted AS (
  SELECT pos, term, count(*) AS c FROM toks WHERE pos < 20 GROUP BY 1, 2
), tot AS (
  SELECT pos, sum(c) AS t FROM counted GROUP BY 1
)
SELECT counted.pos AS pos,
       CAST(tot.t AS BIGINT) AS n_docs,
       round(-sum((c / CAST(tot.t AS DOUBLE))
                  * ln(c / CAST(tot.t AS DOUBLE))), 6) AS entropy
FROM counted JOIN tot USING (pos)
GROUP BY counted.pos, tot.t
""",
)
def z4_template_position_entropy(spark, sf_dir):
    """Positional token entropy over the first 20 token slots —
    template detection: a rigid boilerplate prefix ("click here to
    read more ...") collapses the token distribution at its fixed
    positions, so low-entropy leading positions flag templated
    sources for the boilerplate stripper. Reports Shannon entropy
    (nats) of the token distribution at each position.

    Scale shape: posexplode capped at 20 positions (the filter lands
    inside the generator's consumer projection, so deep documents
    don't explode past the cap's useful range), then two bounded
    aggregates — (pos, term) counts with map-side partials and a
    20-row total join. Output is 20 rows at any corpus size."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = d.select(
        F.posexplode(F.split(norm, " ")).alias("pos", "term")
    ).where(F.col("pos") < 20)
    counted = toks.groupBy("pos", "term").agg(F.count(F.lit(1)).alias("c"))
    tot = counted.groupBy("pos").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t").cast("double")
    return (
        counted.join(F.broadcast(tot), "pos")
        .groupBy("pos", "t")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
        .select("pos", F.col("t").cast("bigint").alias("n_docs"), "entropy")
    )


@query(
    "z4_interval_overlap_join",
    oracle="""
WITH iv AS (
  SELECT o_custkey, o_orderkey, o_orderdate AS s,
         o_orderdate + INTERVAL (o_orderkey % 21 + 1) DAY AS e
  FROM orders
)
SELECT a.o_custkey AS custkey,
       a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
       CAST(date_diff('day', greatest(a.s, b.s), least(a.e, b.e)) + 1
            AS BIGINT) AS overlap_days
FROM iv a JOIN iv b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.s <= b.e AND b.s <= a.e
""",
)
def z4_interval_overlap_join(spark, sf_dir):
    """INTERVAL x INTERVAL overlap join — concurrent open orders per
    customer, each order carrying a deterministic fulfillment window
    [o_orderdate, o_orderdate + (o_orderkey % 21 + 1) days]. Spark
    has no native interval-join strategy (the pure inequality join
    plans as a nested loop), so this grades the bucketed operator
    `operators/temporal.interval_join_overlap`: both sides explode to
    the 7-day time buckets they span and meet in an equi-join on
    (custkey, bucket); a pair sharing several buckets is accepted
    only in the ANCHOR bucket containing the overlap's first instant
    — exactly one match per pair, no dedup shuffle. The oracle is the
    direct theta join, so the graded equality proves the bucketing +
    anchoring is lossless AND duplicate-free."""
    from sftp_data_ingestion_spark.operators.temporal import (
        interval_join_overlap,
    )

    o = table(spark, sf_dir, "orders")
    days = (F.col("o_orderkey") % 21 + 1).cast("int")
    iv = o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("s"),
        F.timestamp_seconds(
            F.unix_timestamp("o_orderdate") + days * 86400
        ).alias("e"),
    )
    a = iv.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("okey_a"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = iv.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("okey_b"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    out = interval_join_overlap(
        a, b, "a_s", "a_e", "b_s", "b_e", bucket="7 days", keys=["custkey"]
    ).where(F.col("okey_a") < F.col("okey_b"))
    return out.select(
        "custkey",
        "okey_a",
        "okey_b",
        (
            F.datediff(
                F.least("a_e", "b_e"), F.greatest("a_s", "b_s")
            ).cast("bigint")
            + 1
        ).alias("overlap_days"),
    )


@query(
    "z4_ks_drift_binned",
    oracle="""
WITH binned AS (
  SELECT event_type, CAST(least(floor(value / 25.0), 19) AS INT) AS bin,
         count(*) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, sum(c) AS t FROM binned GROUP BY 1
), ref AS (
  SELECT bin, sum(c) AS rc FROM binned GROUP BY 1
), rtot AS (
  SELECT sum(c) AS rt FROM binned
), grid AS (
  -- dense (event_type x bin) grid: CDFs need empty bins too
  SELECT et.event_type, b.bin,
         coalesce(x.c, 0) AS c, et_t.t, coalesce(r.rc, 0) AS rc, rtot.rt
  FROM (SELECT DISTINCT event_type FROM binned) et
  CROSS JOIN (SELECT DISTINCT bin FROM binned) b
  LEFT JOIN binned x ON x.event_type = et.event_type AND x.bin = b.bin
  JOIN tot et_t ON et_t.event_type = et.event_type
  LEFT JOIN ref r ON r.bin = b.bin, rtot
), cdfs AS (
  SELECT event_type, bin,
         sum(c) OVER (PARTITION BY event_type ORDER BY bin) / CAST(t AS DOUBLE) AS cdf,
         sum(rc) OVER (PARTITION BY event_type ORDER BY bin) / CAST(rt AS DOUBLE) AS ref_cdf
  FROM grid
)
SELECT event_type, round(max(abs(cdf - ref_cdf)), 6) AS ks_stat
FROM cdfs GROUP BY event_type
""",
)
def z4_ks_drift_binned(spark, sf_dir):
    """Binned two-sample Kolmogorov-Smirnov drift statistic: each
    event type's value distribution vs the whole corpus —
    D = max over bin boundaries of |CDF_type - CDF_all|. The
    distribution-shape drift gate that complements the mean-level
    z-score (`c_value_zscore_outliers`), count-based chi-square
    (`g_drift_chisq`) and token-level JS divergence
    (`z4_js_divergence_sources`). Binning (20 fixed-width buckets)
    makes the CDF comparison scale-safe: the exact KS needs a global
    sort of every value, the binned form needs one bounded groupBy —
    and the statistic is exact for the binned distributions.

    Scale shape: one (type, bin) groupBy with map-side partials
    (output <= types x 20 rows), tiny dense grid via broadcast cross
    join (CDFs must see empty bins), windows PARTITIONED by type over
    <= 20 rows each. Output bounded by type cardinality at any data
    size."""
    e = table(spark, sf_dir, "events")
    binned = (
        e.select(
            "event_type",
            F.least(F.floor(F.col("value") / 25.0), F.lit(19))
            .cast("int")
            .alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = binned.groupBy("event_type").agg(F.sum("c").alias("t"))
    ref = binned.groupBy("bin").agg(F.sum("c").alias("rc"))
    rtot = binned.agg(F.sum("c").alias("rt"))
    et = binned.select("event_type").distinct()
    bins = binned.select("bin").distinct()
    grid = (
        et.crossJoin(F.broadcast(bins))
        .join(binned, ["event_type", "bin"], "left")
        .join(F.broadcast(tot), "event_type")
        .join(F.broadcast(ref), "bin", "left")
        .crossJoin(F.broadcast(rtot))
        .select(
            "event_type",
            "bin",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "t",
            F.coalesce(F.col("rc"), F.lit(0)).alias("rc"),
            "rt",
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdfs = grid.select(
        "event_type",
        (F.sum("c").over(w) / F.col("t").cast("double")).alias("cdf"),
        (F.sum("rc").over(w) / F.col("rt").cast("double")).alias(
            "ref_cdf"
        ),
    )
    return cdfs.groupBy("event_type").agg(
        F.round(F.max(F.abs(F.col("cdf") - F.col("ref_cdf"))), 6).alias(
            "ks_stat"
        )
    )


@query(
    "z4_benford_first_digit",
    oracle="""
WITH digits AS (
  SELECT o_orderpriority,
         CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS d,
         count(*) AS c
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1, 2
), tot AS (
  SELECT o_orderpriority, sum(c) AS t FROM digits GROUP BY 1
), grid AS (
  SELECT p.o_orderpriority, g.d, coalesce(x.c, 0) AS c, tot.t
  FROM (SELECT DISTINCT o_orderpriority FROM digits) p
  CROSS JOIN (SELECT unnest(range(1, 10)) AS d) g
  LEFT JOIN digits x ON x.o_orderpriority = p.o_orderpriority AND x.d = g.d
  JOIN tot ON tot.o_orderpriority = p.o_orderpriority
)
SELECT o_orderpriority,
       CAST(sum(c) AS BIGINT) AS n,
       round(sum(pow(c / CAST(t AS DOUBLE) - ln(1.0 + 1.0/d) / ln(10.0), 2)
                 / (ln(1.0 + 1.0/d) / ln(10.0))), 6) AS benford_chi2
FROM grid GROUP BY o_orderpriority
""",
)
def z4_benford_first_digit(spark, sf_dir):
    """Benford's-law first-digit conformance per order priority —
    chi-square-style distance between the observed first-digit
    distribution of order totals and log10(1 + 1/d): the
    synthetic-data / fraud / entry-error screen financial audit
    pipelines run, and for an LLM-data engine the numeric-fabrication
    signal over any numeric column. (The fixture's uniform-ish prices
    do NOT follow Benford — the statistic is graded as a VALUE, not a
    verdict.)

    Scale shape: first digit via string head of the floored value
    (pure Column, no log-domain rounding hazards), one (priority,
    digit) groupBy with map-side partials, 9-row digit grid broadcast
    — output bounded by priority cardinality."""
    o = table(spark, sf_dir, "orders")
    digits = (
        o.where(F.col("o_totalprice") >= 1)
        .select(
            "o_orderpriority",
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("d"),
        )
        .groupBy("o_orderpriority", "d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = digits.groupBy("o_orderpriority").agg(F.sum("c").alias("t"))
    grid = (
        digits.select("o_orderpriority")
        .distinct()
        .crossJoin(
            F.broadcast(
                digits.sparkSession.range(1, 10).select(
                    F.col("id").cast("int").alias("d")
                )
            )
        )
        .join(digits, ["o_orderpriority", "d"], "left")
        .join(F.broadcast(tot), "o_orderpriority")
        .select(
            "o_orderpriority",
            "d",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "t",
        )
    )
    p_benford = F.log(1.0 + 1.0 / F.col("d")) / math.log(10.0)
    dev = F.pow(F.col("c") / F.col("t").cast("double") - p_benford, 2)
    return grid.groupBy("o_orderpriority").agg(
        F.sum("c").alias("n"),
        F.round(F.sum(dev / p_benford), 6).alias("benford_chi2"),
    )


@query(
    "z4_dataset_card",
    oracle=r"""
WITH base AS (
  SELECT doc_id, source, lang, n_chars,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
         round(
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
), src AS (
  SELECT source, count(*) AS c FROM base GROUP BY 1
), lng AS (
  SELECT lang, count(*) AS c FROM base GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM base)
SELECT
  (SELECT CAST(n_docs AS BIGINT) FROM n) AS n_docs,
  (SELECT CAST(sum(length(string_split(norm, ' '))) AS BIGINT) FROM base)
    AS n_tokens,
  (SELECT CAST(count(*) AS BIGINT) FROM src) AS n_sources,
  (SELECT round(-sum((c / CAST(n.n_docs AS DOUBLE))
                     * ln(c / CAST(n.n_docs AS DOUBLE))), 6)
   FROM src, n) AS source_entropy,
  (SELECT round(-sum((c / CAST(n.n_docs AS DOUBLE))
                     * ln(c / CAST(n.n_docs AS DOUBLE))), 6)
   FROM lng, n) AS lang_entropy,
  (SELECT round(1.0 - count(DISTINCT sha256(norm))
                      / CAST(count(*) AS DOUBLE), 6) FROM base)
    AS exact_dup_rate,
  (SELECT round(avg(quality), 6) FROM base) AS mean_quality
""",
)
def z4_dataset_card(spark, sf_dir):
    """One-row dataset card — the datasheet a corpus release ships
    with, composed from the proven kernels: document/token/source
    counts, source- and language-mix Shannon entropies (a skewed mix
    collapses entropy — the one-number balance check), exact-dup rate
    (1 - distinct normalized hashes / docs, `d_exact_dedup`'s
    contract), and mean quality (`t_quality_score`'s exact
    expression). Proves the kernels COMPOSE into a single-pass-able
    summary, the way `curation_e2e` proves the pipeline stages
    compose.

    Scale shape: one scan feeds independent bounded aggregates
    (map-side partials; the entropy inputs are source/lang
    cardinality-sized), assembled fully lazily by cross-joining the
    one-row aggregate frames — no driver round-trip, no windows;
    output is ONE row at any corpus size."""
    from sftp_data_ingestion_spark.ext import textstats as ts

    d = table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    base = d.select(
        "source",
        "lang",
        F.size(F.split(norm, " ")).alias("n_tok"),
        F.sha2(norm, 256).alias("h"),
        ts.quality_score(F.col("text")).alias("quality"),
    )

    def entropy_of(col, out):
        counts = base.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        tot = counts.agg(F.sum("c").alias("t"))
        p = F.col("c") / F.col("t").cast("double")
        return (
            counts.crossJoin(F.broadcast(tot))
            .agg(F.round(-F.sum(p * F.log(p)), 6).alias(out))
        )

    card = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.round(
            1.0 - F.countDistinct("h") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("exact_dup_rate"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
    )
    # assemble the card fully LAZILY: the two entropy aggregates are
    # independent one-row frames, cross-joined (broadcast) onto the
    # main aggregate — no driver round-trip anywhere, so the card
    # composes into larger plans and audits like any other query
    return (
        card.crossJoin(F.broadcast(entropy_of("source", "source_entropy")))
        .crossJoin(F.broadcast(entropy_of("lang", "lang_entropy")))
        .select(
            "n_docs",
            "n_tokens",
            "n_sources",
            "source_entropy",
            "lang_entropy",
            "exact_dup_rate",
            "mean_quality",
        )
    )


@query(
    "z4_zipf_slope_by_source",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
), counts AS (
  SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT source, c,
         row_number() OVER (
           PARTITION BY source ORDER BY c DESC, term) AS rnk
  FROM counts
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_terms,
       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
         AS zipf_slope
FROM ranked GROUP BY source
""",
)
def z4_zipf_slope_by_source(spark, sf_dir):
    """Zipf's-law conformance per source: the slope of ln(frequency)
    vs ln(rank) over each source's term distribution — natural
    language sits near -1; machine-generated or template-heavy text
    flattens or steepens the curve, making the slope a cheap
    naturalness screen next to the LM cross-entropy gates.

    Scale shape: one (source, term) groupBy with map-side partials,
    rank via a window PARTITIONED by source (per-source vocab-sized,
    never global), slope as the built-in ``regr_slope`` aggregate
    (one pass, identical estimator in both engines). Output bounded
    by source cardinality. ``top_k`` caps the ranked tail — the
    window's rank filter sits directly on the row_number so Spark
    plans a WindowGroupLimit (per-partition top-k pushed BELOW the
    window shuffle: each map task keeps only its local top-k, so no
    task ever sorts a source's full vocabulary); the default is far
    above the fixture vocab, leaving the graded hash unchanged, and a
    100 TB run passes top_k=10_000."""
    return _zipf_slope(table(spark, sf_dir, "documents"))


def _zipf_slope(d, top_k=10_000_000):
    counts = (
        _tokens(d)
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rw = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("term")
    )
    ranked = counts.withColumn("rnk", F.row_number().over(rw)).where(
        F.col("rnk") <= top_k
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(
            F.regr_slope(
                F.log(F.col("c").cast("double")),
                F.log(F.col("rnk").cast("double")),
            ),
            6,
        ).alias("zipf_slope"),
    )


@query(
    "corpus_release_e2e",
    oracle=r"""
WITH scored AS (
  SELECT doc_id, source,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
         round(1.0 / (1.0 + exp(-(
           -1.5 + 0.9 * (n_chars / 1000.0)
           + 0.7 * (len(string_split(text, ' ')) / 100.0)
           + -2.0 * (length(regexp_replace(text, '[^A-Z]', '', 'g'))
                     / CAST(greatest(n_chars, 1) AS DOUBLE))))), 6) AS prob
  FROM documents
), flagged AS (
  SELECT doc_id, source, prob, (prob >= 0.3) AS gated,
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
  SELECT source, doc_id, n_tok,
         CAST((row_number() OVER (
            PARTITION BY source ORDER BY n_tok DESC, doc_id) - 1) % 8
          AS INT) AS shard
  FROM release
), manifest AS (
  SELECT source, shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(max(n_tok) AS BIGINT) AS max_doc_tokens
  FROM ranked GROUP BY 1, 2
)
SELECT m.source, m.shard, m.n_docs, m.n_tokens, m.max_doc_tokens,
       c.release_docs, c.release_tokens, c.mean_prob,
       d.n_gated, d.n_dup_dropped
FROM manifest m CROSS JOIN card c CROSS JOIN drops d
""",
)
def corpus_release_e2e(spark, sf_dir):
    """The z4 accounting/packing family composed into ONE corpus
    release plan — the proof the new family composes, the way
    `curation_e2e` proved it for the curation stages:

      model-score gate (the `z4_score_calibration_bins` scorer,
      keep rounded prob >= 0.3, cheapest stage first)
      -> exact-dedup survivors among the gated set (sha256 of
         normalized text, keep lowest doc_id — `d_exact_dedup`'s
         contract)
      -> balanced shard packing of the release set (size-ranked
         round-robin into 8 shards per source —
         `z4_shard_packing`'s discipline)
      -> shard MANIFEST + release CARD in one output frame: per
         (source, shard) doc/token accounting, plus the one-row
         release datasheet (docs/tokens/mean score) and the drop
         ledger (gate drops, dup drops) cross-joined onto every
         manifest row.

    Scale shape: one scan scores + hashes + sizes every doc in a
    single codegen pass; ONE window keyed (gated, content_hash) —
    sha256-distributed, no skew — ranks duplicates; the scored set
    materializes once at the checkpoint boundary (it feeds the drop
    ledger, the card, and the manifest — at 100 TB this is the point
    a release pipeline writes the scored+deduped corpus to a table,
    same pattern as curation_e2e's survivor set); packing is one
    window per source shard (partitioned, never global); the card and
    ledger are one-row broadcast cross-joins, so manifest parallelism
    is untouched. Gate and dedup thresholds use ROUNDED values
    (engine-portable boundaries)."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    margin = (
        F.lit(-1.5)
        + 0.9 * (F.col("n_chars") / 1000.0)
        + 0.7 * (F.size(F.split(F.col("text"), " ")) / 100.0)
        + -2.0
        * (
            F.length(F.regexp_replace("text", "[^A-Z]", ""))
            / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
        )
    )
    scored = d.select(
        "doc_id",
        "source",
        F.size(F.split(norm, " ")).alias("n_tok"),
        F.sha2(norm, 256).alias("h"),
        F.round(1.0 / (1.0 + F.exp(-margin)), 6).alias("prob"),
    ).withColumn("gated", F.col("prob") >= 0.3)
    dw = Window.partitionBy("gated", "h").orderBy(F.col("doc_id"))
    flagged = (
        scored.withColumn("rn", F.row_number().over(dw))
        .drop("h")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
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
    rw = Window.partitionBy("source").orderBy(
        F.col("n_tok").desc(), F.col("doc_id")
    )
    ranked = release.withColumn(
        "shard", ((F.row_number().over(rw) - 1) % 8).cast("int")
    )
    manifest = ranked.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.max("n_tok").cast("bigint").alias("max_doc_tokens"),
    )
    return manifest.crossJoin(F.broadcast(card)).crossJoin(
        F.broadcast(drops)
    )
