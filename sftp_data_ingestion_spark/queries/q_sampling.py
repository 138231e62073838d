"""Deterministic sampling / dataset-split queries — the reproducible-
subset operations a training-data pipeline needs (train/val/test
splits, weighted source mixing). No reference equivalent (extension
surface, SURVEY.md §2.11 north star).

Scale design: every split decision is a pure-Column integer-mod hash
of the row key — no sampling state, no shuffle, no rand() (which would
be unreproducible across retries and engines). Knuth's multiplicative
hash `(id * 2654435761) % 10000` spreads sequential ids uniformly, is
bit-identical in Spark and DuckDB (all intermediates < 2^53), and
makes every row's split assignment a deterministic function of its
key — re-running a failed partition cannot change the split, and the
same row lands in the same split on any cluster size.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.ext import textstats as ts
from sftp_data_ingestion_spark.queries.registry import query, table
from sftp_data_ingestion_spark.rebalance import cut

_KNUTH = 2654435761
_BUCKETS = 10000


def split_bucket(key):
    """Deterministic [0, 10000) bucket for a BIGINT key column."""
    return F.pmod(key * F.lit(_KNUTH), F.lit(_BUCKETS))


_RES_M = 1_000_000  # uniform-grid resolution for the reservoir keys


@query(
    "x_weighted_reservoir",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source,
         CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         ((doc_id * {_KNUTH}) % {_RES_M} + 0.5) / {_RES_M} AS u
  FROM documents
), keyed AS (
  SELECT doc_id, source, n_tokens,
         round(ln(u) / n_tokens, 9) AS k
  FROM w
)
SELECT doc_id, source, n_tokens
FROM keyed ORDER BY k DESC, doc_id LIMIT 200
""",
)
def x_weighted_reservoir(spark, sf_dir):
    """Weighted reservoir sampling (Efraimidis–Spirtsas A-ES, the
    one-pass distributed algorithm): each row gets key
    ``u^(1/w)`` — equivalently ``ln(u)/w``, monotone — and the sample
    is the global top-k by key; here w = token count, i.e.
    token-proportional document sampling, the mixing primitive that
    favors long documents without a second pass or per-source state.

    Determinism discipline: ``u`` is the Knuth-hash uniform
    ``((id * 2654435761) % 10^6 + 0.5) / 10^6`` (bit-identical in
    Spark and DuckDB, never 0 so ln is finite), the key is ROUNDED to
    9 dp before ranking (ulp-stable across libm implementations —
    same rule as the tf-idf family), and ties break on doc_id. The
    top-k plans as TakeOrderedAndProject: per-partition 200-row
    heaps + driver merge, no global sort, no sampling state — a
    failed-partition retry reproduces the identical sample at any
    cluster size."""
    d = table(spark, sf_dir, "documents")
    n_tok = ts.token_count(F.col("text")).cast("long")
    u = (
        F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(_RES_M)) + F.lit(0.5)
    ) / F.lit(_RES_M)
    keyed = d.select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        F.round(F.log(u) / n_tok, 9).alias("k"),
    )
    return (
        keyed.orderBy(F.col("k").desc(), F.col("doc_id"))
        .limit(200)
        .select("doc_id", "source", "n_tokens")
    )


_BUCKET_SQL = f"((doc_id * {_KNUTH}) % {_BUCKETS})"


@query(
    "x_train_val_test_split",
    oracle=f"""
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         AS n_tokens
FROM (
  SELECT text,
         CASE WHEN {_BUCKET_SQL} < 9000 THEN 'train'
              WHEN {_BUCKET_SQL} < 9500 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
GROUP BY split
""",
)
def x_train_val_test_split(spark, sf_dir):
    """90/5/5 train/val/test split by deterministic key hash, with
    per-split token accounting. One narrow projection + one groupBy —
    the split itself adds zero shuffles to any downstream consumer
    that filters on the split column."""
    d = table(spark, sf_dir, "documents")
    b = split_bucket(F.col("doc_id"))
    split = (
        F.when(b < 9000, F.lit("train"))
        .when(b < 9500, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(
            split.alias("split"),
            F.size(F.split(F.trim("text"), r"\s+")).alias("tok"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
        )
    )


@query(
    "x_stratified_exact_quota",
    oracle=f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source, row_number() OVER (
           PARTITION BY source ORDER BY {_BUCKET_SQL}, doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 10
""",
)
def x_stratified_exact_quota(spark, sf_dir):
    """Stratified sampling with an EXACT per-stratum quota (exactly 10
    docs per source), not a Bernoulli rate: rows rank by the same
    deterministic key hash within each stratum and the first 10 win.
    Reproducible on any cluster size, and the rank filter plans with
    WindowGroupLimit, so each partition pre-trims to 10 before the
    stratum shuffle — the per-group top-k scale shape, keyed by hash
    instead of a measure."""
    d = table(spark, sf_dir, "documents")
    w = F.row_number().over(
        Window.partitionBy("source").orderBy(
            split_bucket(F.col("doc_id")), F.col("doc_id")
        )
    )
    return (
        d.select("doc_id", "source", w.alias("rn"))
        .where(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


@query(
    "x_pack_sequences",
    oracle=r"""
WITH toks AS (
  SELECT source, doc_id,
         length(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
), offs AS (
  SELECT source, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS BIGINT) AS start_offset
  FROM toks
)
SELECT source, CAST(start_offset // 256 AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM offs GROUP BY 1, 2
""",
)
def x_pack_sequences(spark, sf_dir):
    """Pretraining sequence packing (concat-then-chunk at 256 tokens
    per shard): per (source, pack) doc and token accounting. The
    packing itself is `ext.textstats.pack_sequences` — one window per
    shard, no global sort, reproducible on any cluster size."""
    d = table(spark, sf_dir, "documents")
    packed = ts.pack_sequences(d, budget=256, by="source")
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


@query(
    "x_weighted_source_mix",
    oracle=f"""
WITH rates AS (
  SELECT * FROM (VALUES ('src0', 2500), ('src1', 10000), ('src2', 5000))
    t(source, keep_per_10k)
)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_sampled
FROM documents d JOIN rates r ON d.source = r.source
WHERE {_BUCKET_SQL} < r.keep_per_10k
GROUP BY d.source
""",
)
def x_weighted_source_mix(spark, sf_dir):
    """Weighted dataset mixing: per-source keep rates (src0 25%,
    src1 100%, src2 50%; unlisted sources drop out in the inner
    join) applied with the same deterministic key hash — the
    up/down-sampling step that sets a training mixture. The rates
    table broadcasts; the filter is a pure per-row predicate, so the
    mix costs one broadcast join and no extra shuffle before the
    accounting groupBy."""
    d = table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [("src0", 2500), ("src1", 10000), ("src2", 5000)],
        "source string, keep_per_10k int",
    )
    b = split_bucket(F.col("doc_id"))
    return (
        d.join(F.broadcast(rates), "source")
        .where(b < F.col("keep_per_10k"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


_DSIR_B = 64  # hashed-feature buckets (DSIR's hashed n-gram space)


@query(
    "x_dsir_importance",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
  FROM documents
), feat AS (
  SELECT doc_id, source,
         {ts.rolling_fingerprint_sql('gram')} % {_DSIR_B} AS f
  FROM (
    SELECT doc_id, source,
           unnest(list_transform(range(length(t) - 1),
                  i -> t[i+1] || ' ' || t[i+2])) AS gram
    FROM toks
  )
), counts AS (
  SELECT f, CAST(count(*) AS BIGINT) AS cr,
         CAST(count(*) FILTER (source IN ('src0', 'src1')) AS BIGINT) AS ct
  FROM feat GROUP BY f
), tot AS (
  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
  FROM counts
), lr AS (
  SELECT f, round(ln((ct + 1.0) / (nt + {_DSIR_B}))
                  - ln((cr + 1.0) / (nr + {_DSIR_B})), 6) AS lr
  FROM counts CROSS JOIN tot
)
SELECT doc_id, source, n_grams, weight FROM (
  SELECT fe.doc_id, fe.source,
         CAST(count(*) AS BIGINT) AS n_grams,
         round(sum(lr.lr), 6) AS weight
  FROM feat fe JOIN lr USING (f)
  GROUP BY 1, 2
) ORDER BY weight DESC, doc_id LIMIT 100
""",
)
def x_dsir_importance(spark, sf_dir):
    """DSIR (Xie et al. 2023, arXiv:2302.03169): data selection by
    importance resampling over HASHED n-gram features. Each document's
    bigrams hash (engine-portable rolling hash) into 64 buckets; the
    target distribution is the src0/src1 slice, the raw distribution
    the whole corpus; a bucket's log-likelihood ratio is
    ln(p_target/p_raw) with +1 smoothing, and a document's importance
    weight is the sum of its bigram occurrences' ratios. The selection
    is the global top-100 by weight (id tiebreak) — the resampling
    step that tilts a raw crawl toward a target domain without
    training a classifier.

    Scale shape (r13: ONE corpus scan, was two): the corpus is
    tokenized/hashed exactly once into the per-doc feature HISTOGRAM
    ``(doc_id, source, f, c)`` — <= 64 rows per document, the
    featurized-corpus artifact the DSIR pipeline materializes anyway —
    and localCheckpointed; BOTH the bucket-count aggregation (one
    conditional agg computes target and raw sides) and the scoring
    pass then read the histogram, never the text again (the r12 form
    re-derived explode+hash for the scoring join — the corpus scan,
    tokenization included, ran twice; measured 1.9x on the scan-bound
    probe). The 64-row ratio table broadcasts onto the histogram;
    per-doc weight is the c-weighted ratio sum (identical values —
    sum(lr) over occurrences == sum(c*lr) over distinct features —
    pinned by the unchanged oracle hash); the top-100 plans as
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Nothing driver-side except the k selected rows. EAGER at
    composition time (the checkpoint materializes the histogram)."""
    d = table(spark, sf_dir, "documents")
    toks = ts.tokens(F.col("text"))
    grams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda g: g.isNotNull(),
    )
    feat = (
        d.select("doc_id", "source", F.explode(grams).alias("gram"))
        .select(
            "doc_id",
            "source",
            F.pmod(
                ts.rolling_fingerprint(F.col("gram")), F.lit(_DSIR_B)
            ).alias("f"),
        )
        .groupBy("doc_id", "source", "f")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(cut)
    )
    is_tgt = F.col("source").isin("src0", "src1").cast("long")
    counts = feat.groupBy("f").agg(
        F.sum("c").alias("cr"), F.sum(F.col("c") * is_tgt).alias("ct")
    )
    tot = counts.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    lr = counts.crossJoin(F.broadcast(tot)).select(
        "f",
        F.round(
            F.log((F.col("ct") + 1.0) / (F.col("nt") + F.lit(_DSIR_B)))
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + F.lit(_DSIR_B))),
            6,
        ).alias("lr"),
    )
    return (
        feat.join(F.broadcast(lr), "f")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_grams"),
            F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("weight"),
        )
        .orderBy(F.col("weight").desc(), "doc_id")
        .limit(100)
    )


_SHUF_M = 1000003  # prime modulus for the epoch-shuffle key space


@query(
    "x_epoch_shuffle",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, (doc_id * {_KNUTH}) % {_SHUF_M} AS k
  FROM documents
)
SELECT doc_id, source,
       CAST(k % 8 AS INT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY k % 8 ORDER BY k, doc_id) AS INT) AS pos
FROM keyed
""",
)
def x_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle: every document gets a seeded
    pseudo-random key (Knuth multiplicative hash mod a prime), the key
    picks the output shard, and the within-shard position is the key
    order — the reproducible global training order a data loader
    expects, without rand() (retry-unstable) or a global sort. Since
    the key is uniform and independent of source, consecutive
    positions interleave sources by construction.

    Scale shape: the shard assignment is a pure per-row projection;
    the only exchange is the shard partitioning itself (exactly the
    shuffle the shard WRITE requires — no extra), and the within-shard
    sort is the per-output-file local sort every shard writer already
    pays. No global ordering state, no driver involvement; a new
    epoch is a new multiplier, nothing re-materializes."""
    d = table(spark, sf_dir, "documents")
    k = F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(_SHUF_M))
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return (
        d.select("doc_id", "source", k.alias("k"))
        .withColumn("shard", F.pmod(F.col("k"), F.lit(8)).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .drop("k")
    )


def _hrw_score(key, shard):
    """Rendezvous (highest-random-weight) score. The linear Knuth mix
    alone is NOT enough here: across shards it yields an arithmetic
    progression mod M (step = K mod M), so the new shard almost never
    wins the argmax (measured 2/500 moved instead of ~55). Squaring
    the linear hash breaks that structure — (h² + h) mod M — while
    staying in exact-integer range (h < 10⁶ so h² < 2^40 < 2^53) and
    bit-identical across engines."""
    h = F.pmod((key * F.lit(31) + shard) * F.lit(_KNUTH), F.lit(_SHUF_M))
    return F.pmod(h * h + h, F.lit(_SHUF_M))


_HRW_SQL = (
    "(((((doc_id * 31 + {s}) * {k}) % {m}) * (((doc_id * 31 + {s}) * {k}) % {m})"
    " + (((doc_id * 31 + {s}) * {k}) % {m})) % {m})"
)


@query(
    "x_hrw_stable_sharding",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         unnest(range(9)) AS shard,
         {_HRW_SQL.format(s="unnest(range(9))", k=_KNUTH, m=_SHUF_M)} AS w
  FROM documents
), pick AS (
  SELECT doc_id, source,
         -- w*16+shard: strictly distinct per (doc, shard), so the
         -- argmax can never depend on engine tie order
         arg_max(shard, w * 16 + shard) FILTER (shard < 8) AS shard8,
         arg_max(shard, w * 16 + shard) AS shard9
  FROM scored GROUP BY doc_id, source
)
SELECT doc_id, source,
       CAST(shard8 AS INT) AS shard8,
       CAST(shard9 AS INT) AS shard9,
       (shard8 <> shard9) AS moved
FROM pick
""",
)
def x_hrw_stable_sharding(spark, sf_dir):
    """Rendezvous (HRW) hashing for STABLE shard assignment: each doc
    scores every shard with an independent deterministic hash and
    lands on its argmax. Growing the shard set 8 -> 9 moves ONLY the
    docs whose new shard wins the argmax — in expectation 1/9 of the
    corpus — where mod-N sharding (x_epoch_shuffle's assignment)
    would reshuffle ~8/9 of it. That stability is what lets a 100 TB
    corpus add writers/buckets without rewriting every shard. The
    query emits both assignments and the moved flag; the ~1/9 moved
    mass is pinned by pytest.

    Scale shape: a 9-way per-row explode (bounded by the shard count,
    not the corpus) and one max_by aggregation keyed on doc_id —
    partial-aggregating, no window, no global sort; at the write
    itself even the explode disappears (the argmax is a pure per-row
    expression over a literal shard list)."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), F.lit(8))).alias("shard"),
    ).withColumn("w", _hrw_score(F.col("doc_id"), F.col("shard")))
    key = F.col("w") * 16 + F.col("shard")  # tie-free ordering key
    pick = scored.groupBy("doc_id", "source").agg(
        F.max_by(
            "shard", F.when(F.col("shard") < 8, key)
        ).cast("int").alias("shard8"),
        F.max_by("shard", key).cast("int").alias("shard9"),
    )
    return pick.withColumn(
        "moved", F.col("shard8") != F.col("shard9")
    )


_BOOT_R = 32  # bootstrap replicates
# cumulative Poisson(1) thresholds on the unit interval: the hash
# u ~ U[0,1) maps to a deterministic per-(row, replicate) weight
_POIS = "CASE WHEN {u} < 0.367879 THEN 0 WHEN {u} < 0.735759 THEN 1 " \
        "WHEN {u} < 0.919699 THEN 2 WHEN {u} < 0.980996 THEN 3 ELSE 4 END"


@query(
    "g_poisson_bootstrap_ci",
    oracle=f"""
WITH w AS (
  SELECT doc_id, n_chars, r,
         {_POIS.format(u=f"(((doc_id * 131 + r) * {_KNUTH}) % {_SHUF_M})"
                         f" * 1.0 / {_SHUF_M}")} AS wt
  FROM documents, (SELECT unnest(range({_BOOT_R})) AS r)
), reps AS (
  SELECT r,
         round(sum(wt * n_chars) * 1.0 / sum(wt), 6) AS rep_mean
  FROM w GROUP BY r
)
SELECT CAST(count(*) AS BIGINT) AS n_reps,
       round(avg(rep_mean), 6) AS boot_mean,
       round(stddev_samp(rep_mean), 6) AS boot_se
FROM reps
""",
)
def g_poisson_bootstrap_ci(spark, sf_dir):
    """One-pass Poisson bootstrap (Chamandy et al. 2012, the
    standard-error-at-scale technique): each (row, replicate) pair
    gets a DETERMINISTIC Poisson(1)-distributed weight from the
    portable hash — no resampling pass per replicate, no sampling
    state, retry-reproducible — and every replicate's weighted mean
    of n_chars aggregates in the same single shuffle. Output: the
    bootstrap mean and standard error of the corpus mean over 32
    replicates. The replicate explode multiplies rows by a CONSTANT
    (32), not the corpus size; at 100 TB the alternative (32
    independent sample passes) is 32 scans — this is one."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    r = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r")
    u = (
        F.pmod(
            (F.col("doc_id") * 131 + F.col("r")) * F.lit(_KNUTH),
            F.lit(_SHUF_M),
        )
        * 1.0
        / F.lit(_SHUF_M)
    )
    wt = (
        F.when(u < 0.367879, 0)
        .when(u < 0.735759, 1)
        .when(u < 0.919699, 2)
        .when(u < 0.980996, 3)
        .otherwise(4)
    )
    w = d.select("doc_id", "n_chars", r).withColumn("wt", wt)
    reps = w.groupBy("r").agg(
        F.round(
            F.sum(F.col("wt") * F.col("n_chars")) * 1.0 / F.sum("wt"), 6
        ).alias("rep_mean")
    )
    return reps.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.round(F.avg("rep_mean"), 6).alias("boot_mean"),
        F.round(F.stddev_samp("rep_mean"), 6).alias("boot_se"),
    )


@query(
    "g_jackknife_source_influence",
    oracle="""
WITH tot AS (
  SELECT CAST(sum(n_chars) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM documents
), per AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS s_g,
         CAST(count(*) AS BIGINT) AS n_g
  FROM documents GROUP BY source
)
SELECT source, n_g AS n_docs,
       round((tot.s - s_g) * 1.0 / (tot.n - n_g), 6) AS loo_mean,
       round((tot.s - s_g) * 1.0 / (tot.n - n_g)
             - tot.s * 1.0 / tot.n, 6) AS influence
FROM per, tot
""",
)
def g_jackknife_source_influence(spark, sf_dir):
    """Delete-one-source jackknife influence on the corpus mean
    (n_chars): every source's leave-it-out mean and its signed pull
    on the global statistic, from EXACT integer sufficient
    statistics — one groupBy plus a one-row broadcast, no second
    scan per source (the same delete-a-block economics as the LOSO
    ridge valuation, at aggregate granularity). The source whose
    removal moves the mean most is the one to audit first."""
    d = table(spark, sf_dir, "documents")
    tot = d.agg(
        F.sum("n_chars").alias("s"), F.count(F.lit(1)).alias("n")
    )
    per = d.groupBy("source").agg(
        F.sum("n_chars").alias("s_g"), F.count(F.lit(1)).alias("n_g")
    )
    j = per.crossJoin(F.broadcast(tot))
    loo = (F.col("s") - F.col("s_g")) * 1.0 / (F.col("n") - F.col("n_g"))
    return j.select(
        "source",
        F.col("n_g").alias("n_docs"),
        F.round(loo, 6).alias("loo_mean"),
        F.round(loo - F.col("s") * 1.0 / F.col("n"), 6).alias("influence"),
    )


@query(
    "x_temperature_source_mix",
    oracle=r"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(string_split_regex(trim(text), '\s+')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(n_tokens) AS tt, sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS tp
  FROM per
)
SELECT source, n_docs, n_tokens,
       round(n_tokens * 1.0 / tt, 6) AS p_raw,
       round(pow(CAST(n_tokens AS DOUBLE), 0.3) / tp, 6) AS p_temp,
       round(3.0 * (pow(CAST(n_tokens AS DOUBLE), 0.3) / tp)
             / (n_tokens * 1.0 / tt), 6) AS epochs,
       (3.0 * (pow(CAST(n_tokens AS DOUBLE), 0.3) / tp)
        / (n_tokens * 1.0 / tt)) > 3.0 AS over_one_pass_share
FROM per, tot
""",
)
def x_temperature_source_mix(spark, sf_dir):
    """Temperature-based multilingual/source mixing (the mT5 / XLM-R
    sampling rule, alpha = 0.3): per-source sampling probability
    p_s ∝ n_tokens_s^alpha, flattening the raw token distribution so
    low-resource sources are upsampled. The graded output carries the
    raw and temperature probabilities plus the EPOCH multiplier each
    source would see under a 3x-total-token training budget
    (epochs_s = 3·p_temp/p_raw — the quantity UniMax's per-source
    epoch cap bounds; the flag marks sources pushed past their
    proportional share, i.e. the ones a cap would clip). One groupBy
    over the corpus, a one-row broadcast cross-join for the totals —
    no shuffle beyond the source agg at any scale."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(ts.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tt"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), 0.3)).alias("tp"),
    )
    p_raw = F.col("n_tokens") / F.col("tt")
    p_temp = F.pow(F.col("n_tokens").cast("double"), 0.3) / F.col("tp")
    epochs = 3.0 * p_temp / p_raw
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(p_raw, 6).alias("p_raw"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(epochs, 6).alias("epochs"),
        (epochs > 3.0).alias("over_one_pass_share"),
    )


# ---------------------------------------------------------------------------
# DoReMi domain reweighting + RHO-loss selection (excess-loss family)
# ---------------------------------------------------------------------------

_XENT_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

# both LMs are trained on the SAME normalized tokenization (the z2/z3
# singles use raw vs normalized text respectively — here the two
# losses are SUBTRACTED, so a tokenization mismatch would confound the
# excess signal)
_XENT_SQL = f"""
toks AS (
  SELECT doc_id, generate_subscripts(string_split(s, ' '), 1) AS pos,
         unnest(string_split(s, ' ')) AS tok
  FROM (SELECT doc_id, {_XENT_NORM} AS s FROM documents)
), t AS (SELECT * FROM toks WHERE tok <> ''),
c1 AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c1),
x1 AS (
  SELECT doc_id, round(avg(-ln(cnt / (SELECT total FROM tot))), 6) AS xent1
  FROM t JOIN c1 USING (tok) GROUP BY doc_id
), big AS (
  SELECT doc_id, prev, tok AS cur FROM (
    SELECT doc_id, tok,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM toks
  ) WHERE prev IS NOT NULL AND tok <> '' AND prev <> ''
), c2 AS (SELECT prev, cur, count(*) AS cnt2 FROM big GROUP BY 1, 2),
cb AS (SELECT prev, sum(cnt2) AS cnt1 FROM c2 GROUP BY 1),
x2 AS (
  SELECT doc_id, round(avg(-ln(cnt2 / CAST(cnt1 AS DOUBLE))), 6) AS xent2
  FROM big JOIN c2 USING (prev, cur) JOIN cb USING (prev)
  GROUP BY doc_id
)"""

_DOREMI_ETA = 0.5
_DOREMI_C = 0.2
_DOREMI_ITERS = 10

_DOREMI_ITER_CTES = "".join(
    f""", w{i} AS (
  SELECT source, excess_loss, n,
         {1.0 - _DOREMI_C} * (w * exp({_DOREMI_ETA} * excess_loss))
           / sum(w * exp({_DOREMI_ETA} * excess_loss)) OVER ()
         + {_DOREMI_C} / n AS w
  FROM w{i - 1}
)"""
    for i in range(1, _DOREMI_ITERS + 1)
)


def _xent_frames(spark, sf_dir):
    """Per-doc unigram + bigram cross-entropy on one shared normalized
    tokenization (Spark twin of ``_XENT_SQL``): returns
    ``(docs, x1, x2)``."""
    from sftp_data_ingestion_spark.ext.dedup import normalized

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", normalized(F.col("text")).alias("s")
    )
    arr = F.split(F.col("s"), " ")
    toks = d.select("doc_id", F.explode(arr).alias("tok")).where(
        F.col("tok") != ""
    )
    c1 = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c1.agg(F.sum("cnt").cast("double").alias("total"))
    x1 = (
        toks.join(c1, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(-F.log(F.col("cnt") / F.col("total"))), 6
            ).alias("xent1")
        )
    )
    n1 = F.greatest(F.size(arr) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(arr, 1, n1),
        F.slice(arr, 2, n1),
        lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
    )
    big = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .select("doc_id", F.col("bg.prev").alias("prev"),
                F.col("bg.cur").alias("cur"))
        .where((F.col("prev") != "") & (F.col("cur") != ""))
    )
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cnt2"))
    cb = c2.groupBy("prev").agg(F.sum("cnt2").alias("cnt1"))
    x2 = (
        big.join(c2, ["prev", "cur"])
        .join(cb, "prev")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(-F.log(F.col("cnt2").cast("double") / F.col("cnt1"))),
                6,
            ).alias("xent2")
        )
    )
    return d.select("doc_id", "source"), x1, x2


@query(
    "x_doremi_domain_weights",
    oracle=f"""
WITH {_XENT_SQL}, lam AS (
  SELECT source, round(avg(greatest(xent1 - xent2, 0.0)), 6) AS excess_loss
  FROM documents JOIN x1 USING (doc_id) JOIN x2 USING (doc_id)
  GROUP BY source
), w0 AS (
  SELECT source, excess_loss,
         CAST(count(*) OVER () AS DOUBLE) AS n,
         1.0 / count(*) OVER () AS w
  FROM lam
){_DOREMI_ITER_CTES}
SELECT source, excess_loss, round(w, 6) AS weight FROM w{_DOREMI_ITERS}
""",
)
def x_doremi_domain_weights(spark, sf_dir):
    """DoReMi domain reweighting (Xie et al. 2023): per-domain excess
    loss — the gap between a context-free reference LM (corpus
    unigram) and a contextual proxy LM (corpus bigram), clipped at 0 —
    drives 10 exponentiated-gradient iterations with
    uniform smoothing (``ext.classify.doremi_weights``). Domains whose
    documents have more learnable structure (bigger unigram->bigram
    gap) get upweighted; the smoothing floor keeps every domain
    sampled.

    Cross-engine exactness: both per-doc losses are computed on the
    SAME normalized tokenization and pinned to 6 dp, the per-domain
    mean is pinned to 6 dp, and only then does the EG loop run — from
    identical pinned inputs the iteration is plain double arithmetic
    (exp within 1 ulp per step, ~1e-15 relative after 10 steps),
    7 orders of magnitude inside the final 6 dp round. The oracle
    unrolls the loop as 10 chained CTEs, one per
    iteration.

    Scale shape: the corpus-sized work is the two LM scoring passes
    (map-side-combined counts + deliberate shuffle joins, the
    z2/z3_cross_entropy shapes); the iteration itself runs on the
    tiny per-domain frame as chained single-partition window
    normalizations — no collect, constant driver footprint."""
    from sftp_data_ingestion_spark.ext.classify import doremi_weights

    docs, x1, x2 = _xent_frames(spark, sf_dir)
    lam = (
        docs.join(x1, "doc_id")
        .join(x2, "doc_id")
        .groupBy("source")
        .agg(
            F.round(
                F.avg(F.greatest(F.col("xent1") - F.col("xent2"), F.lit(0.0))),
                6,
            ).alias("excess_loss")
        )
    )
    out = doremi_weights(
        lam,
        excess_col="excess_loss",
        eta=_DOREMI_ETA,
        smoothing=_DOREMI_C,
        iterations=_DOREMI_ITERS,
    )
    return out.select(
        "source", "excess_loss", F.round("w", 6).alias("weight")
    )


@query(
    "x_rho_loss_selection",
    oracle=f"""
WITH {_XENT_SQL}, scored AS (
  SELECT doc_id, source, round(xent1 - xent2, 6) AS reducible_loss
  FROM documents JOIN x1 USING (doc_id) JOIN x2 USING (doc_id)
)
SELECT doc_id, source, reducible_loss, rk FROM (
  SELECT doc_id, source, reducible_loss,
         row_number() OVER (PARTITION BY source
                            ORDER BY reducible_loss DESC, doc_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)
def x_rho_loss_selection(spark, sf_dir):
    """RHO-loss-style data selection (Mindermann et al. 2022,
    "Prioritized Training on Points that are Learnable, Worth
    Learning, and Not Yet Learnt"): score every document by its
    REDUCIBLE loss — training-model loss minus holdout/reference-model
    loss, instantiated here as the corpus unigram-vs-bigram gap on a
    shared tokenization — and keep the top 5 per source (per-domain
    quotas stop one domain's tail from monopolizing the budget).

    Deterministic: the per-doc losses are 6 dp-pinned before the
    subtraction, and the rank tie-breaks on doc_id. One window shuffle
    on source after the two LM scoring passes; top-k per partition is
    WindowGroupLimit-prunable map-side."""
    docs, x1, x2 = _xent_frames(spark, sf_dir)
    scored = (
        docs.join(x1, "doc_id")
        .join(x2, "doc_id")
        .select(
            "doc_id",
            "source",
            F.round(F.col("xent1") - F.col("xent2"), 6).alias(
                "reducible_loss"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("reducible_loss").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
    )
