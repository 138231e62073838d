"""Embedding similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import functions as F

from sftp_data_ingestion_spark.ext import similarity as sim
from sftp_data_ingestion_spark.queries.registry import query, table

# DuckDB twin of the fold-left dot product: list_dot_product over
# DOUBLE[] (element order matches zip_with+aggregate's left fold).
_COS_SQL = (
    "list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


_EXACT_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 100),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT query_id, neighbor_id, round(sim_full, 6) AS sim FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_COS_SQL} AS sim_full,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY {_COS_SQL} DESC, b.vec_id ASC
         ) AS rn
  FROM q a, c b WHERE a.vec_id <> b.vec_id
) WHERE rn <= 5
"""


@query("v_cosine_topk_bruteforce", oracle=_EXACT_TOPK_ORACLE)
def v_cosine_topk_bruteforce(spark, sf_dir):
    """Exact brute-force cosine top-k on the Arrow/BLAS kernel
    (r13 VERDICT #7; guide §4.2). The expression engine's cost here
    was never the arithmetic: composing/analyzing three 64-term
    `dot_flat` trees per invocation plus their codegen measured
    ~1.2 s/run at sf0.1 on top of ~1.0 s of execution, while the
    numpy kernel (query matrix in the closure, one matmul + partial
    top-k per corpus batch, corpus never shuffles) runs the identical
    search in ~1.0 s end to end — and is dimension-oblivious, the
    regime that matters at real embedding widths. Values verified
    identical to `sim.cosine_topk` at sf0.001/0.01/0.1 (rounding to
    6 dp absorbs BLAS summation-order ulps; ties break by neighbor
    id in both engines)."""
    e = table(spark, sf_dir, "embeddings")
    return sim.cosine_topk_arrow(e.where(F.col("vec_id") < 100), e, k=5)


@query(
    "v_centroid_per_label",
    oracle="""
SELECT label, dim, min(x) AS dim_min, max(x) AS dim_max, count(*) AS n
FROM (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
) GROUP BY label, dim
""",
)
def v_centroid_per_label(spark, sf_dir):
    """Element-wise per-dimension aggregation over vectors (the
    centroid/bounding-box build shape: explode -> groupBy(label, dim);
    exact min/max values, no float summation)."""
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return (
        e.select("label", F.posexplode(v).alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.min("x").alias("dim_min"),
            F.max("x").alias("dim_max"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query("v_srp_ann_topk", oracle=_EXACT_TOPK_ORACLE)
def v_srp_ann_topk(spark, sf_dir):
    """SRP-LSH ANN graded against the EXACT top-k oracle: the
    (n_planes=2, n_tables=16) operating point has empirically-verified
    100% recall on this fixture (natural top-5 sims reach down to
    ~0.3, so per-table collision prob is low and the multi-table union
    does the work — the recall dial production setups use). Candidate
    rescoring is exact, so equality with brute force is the graded
    statement."""
    e = table(spark, sf_dir, "embeddings")
    return sim.srp_topk(
        e.where(F.col("vec_id") < 100), e, k=5, n_planes=2, n_tables=16, dim=64
    )


@query("v_ivf_ann_topk", oracle=_EXACT_TOPK_ORACLE)
def v_ivf_ann_topk(spark, sf_dir):
    """Inverted-file ANN graded variant: probes ALL cells (nprobe =
    n_cells), which is provably identical to exact search — the full
    assign -> probe -> masked-matmul machinery of the shared Arrow
    top-k kernel runs under the hash oracle. Centroids are the cheap
    stride sample: with every cell probed, centroid QUALITY cannot
    change the result, so paying for
    k-means here would be dead cost in the benched query. The scale
    path (nprobe << n_cells + k-means centroids, where quality DOES
    matter) is graded by v_ivf_ann_recall and the recall thresholds in
    tests/test_similarity.py.

    r13: the corpus-side cell assignment runs on the Arrow engine
    (``corpus_engine='arrow'``) — with every cell probed the
    assignment provably cannot change the output, and the k x dim
    literal-expression plan was the query's single largest cost
    (1.25 s/run of plan compose + interpreted HOF eval at sf0.1,
    k=16, vs ~0.3 s for the broadcast-matmul kernel — the same
    crossover as PERFORMANCE.md's "Arrow-vs-expression assignment
    crossover" table). The recall-graded sibling (nprobe < n_cells, where assignment IS part
    of the graded statement) keeps the expr engine."""
    e = table(spark, sf_dir, "embeddings")
    cents = sim.train_centroids_sample(e, k=16)
    return sim.ivf_topk(
        e.where(F.col("vec_id") < 100), e, cents, k=5, nprobe=16,
        corpus_engine="arrow",
    )


@query(
    "v_ivf_ann_recall",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_expected,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 100
""",
)
def v_ivf_ann_recall(spark, sf_dir):
    """IVF SCALE path under a bounded-quality gate (same pattern as
    g_approx_aggregates): mini-k-means centroids + nprobe=8 of 16
    cells (half the corpus per query), self-graded by joining against
    the in-Spark exact top-5 and emitting recall >= 0.7 as a boolean.
    Proves the approximate operating point — where centroid quality
    and nprobe actually matter — inside the driver's hash gate, not
    just in local tests. Measured on the sf0.01 fixture (near-random
    vectors, the hard case for cell locality): k-means 0.79 after one
    Lloyd iteration vs stride seed 0.73 (a second iteration adds only
    +0.008 recall for a full extra assign+average pass, so one is the
    graded operating point); tighter fixtures probe fewer cells."""
    e = table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 100)
    cents = sim.train_centroids_kmeans(e, k=16, n_iters=1)
    approx = sim.ivf_topk(queries, e, cents, k=5, nprobe=8).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    exact = sim.cosine_topk(queries, e, k=5, dim=64).select(
        F.col("query_id").alias("eq"), F.col("neighbor_id").alias("en")
    )
    hit = exact.join(
        approx,
        (F.col("eq") == F.col("aq")) & (F.col("en") == F.col("an")),
        "left",
    )
    return hit.agg(
        F.count_distinct("eq").alias("n_queries"),
        F.count("en").alias("n_expected"),
        ((F.count("an") / F.count("en")) >= 0.7).alias("recall_ok"),
    )


@query(
    "v_quantized_ann_recall",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_expected,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 100
""",
)
def v_quantized_ann_recall(spark, sf_dir):
    """int8 scalar quantization under a recall gate (same self-graded
    pattern as v_ivf_ann_recall): the corpus quantizes to
    array<tinyint> + one scale (4x storage/scan), search runs on the
    reconstructed vectors, and top-5 recall against full-precision
    exact search must stay >= 0.8 — proving the storage lever does not
    break search quality. Measured ~0.97 on this fixture."""
    e = table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 100)
    recon = sim.dequantize(sim.quantize_int8(e)).select("vec_id", "embedding")
    approx = sim.cosine_topk(queries, recon, k=5, dim=64).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    exact = sim.cosine_topk(queries, e, k=5, dim=64).select(
        F.col("query_id").alias("eq"), F.col("neighbor_id").alias("en")
    )
    hit = exact.join(
        approx,
        (F.col("eq") == F.col("aq")) & (F.col("en") == F.col("an")),
        "left",
    )
    return hit.agg(
        F.count_distinct("eq").alias("n_queries"),
        F.count("en").alias("n_expected"),
        ((F.count("an") / F.count("en")) >= 0.8).alias("recall_ok"),
    )


# Deterministic, engine-portable perturbation: integer-mod pseudo-noise
# (no trig/libm — bit-identical in Spark and DuckDB), amplitude 0.05 ->
# planted pair sims ~0.993 vs natural max ~0.51 on this fixture. Only
# the first half of the corpus gets a planted copy: 250 planted pairs
# prove recall exactly as well as 500 did, at half the pair-stage cost
# in the grading budget.
_PLANT_SQL = """
SELECT vec_id, v FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings)
UNION ALL
SELECT vec_id + 100000,
       list_transform(range(64), j -> v[j+1] + 0.05 *
         (CAST(((vec_id*131 + j) * 2654435761) % 1000003 AS DOUBLE)
          / 1000003 - 0.5))
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id < 250)
"""


def _planted_corpus(spark, sf_dir):
    """Spark twin of _PLANT_SQL: embeddings plus a deterministic
    integer-mod perturbed copy of each of the first 250 vectors
    (sim ~0.993, re-keyed +100000)."""
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    w = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (
            ((F.col("vec_id") * 131 + j) * F.lit(2654435761)) % 1000003
        ).cast("double")
        / 1000003
        - 0.5,
    )
    # perturb BEFORE re-keying: Spark 4 lateral column aliases would
    # resolve the noise lambda's vec_id against the shifted output
    # alias if both lived in one select (observed: constant mod-shift
    # on every element)
    perturbed = e.where(F.col("vec_id") < 250).select(
        "vec_id", F.zip_with(v, w, lambda x, n: x + 0.05 * n).alias("embedding")
    ).select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    return e.select("vec_id", v.alias("embedding")).unionAll(perturbed)


@query(
    "v_embedding_near_dup",
    oracle=f"""
WITH u AS ({_PLANT_SQL})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9
""",
)
def v_embedding_near_dup(spark, sf_dir):
    """Embedding near-dup over a corpus with PLANTED perturbed
    duplicates (the fixture has no natural high-sim pairs): each of
    the first 250 vectors gets a deterministic integer-mod noise copy
    at sim ~0.993.
    The SRP-bucketed pipeline must find every planted pair at
    threshold 0.9 — (n_planes=8, n_tables=8) has empirically-verified
    100% recall here — and the exact-rescore keeps precision exact,
    so the output equals the all-pairs oracle."""
    return sim.embedding_near_dup_pairs(
        _planted_corpus(spark, sf_dir), threshold=0.9, n_planes=8, n_tables=8,
        dim=64,
    )


@query(
    "v_embedding_neardup_clusters",
    oracle=f"""
WITH RECURSIVE u AS ({_PLANT_SQL}),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM u a JOIN u b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM u
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
)
SELECT id AS vec_id, min(r) AS cluster_id,
       (min(r) = id) AS is_survivor
FROM reach GROUP BY id
""",
)
def v_embedding_neardup_clusters(spark, sf_dir):
    """Embedding-side corpus dedup: SRP near-dup pairs -> connected
    components -> survivors, on the planted-duplicate corpus — the
    same pairs->clusters->keep/drop layer as d_neardup_clusters, over
    the vector modality. Graded against a DuckDB recursive-CTE
    closure of the all-pairs cosine graph."""
    from sftp_data_ingestion_spark.ext import dedup as dd

    planted = _planted_corpus(spark, sf_dir)
    pairs = sim.embedding_near_dup_pairs(
        planted, threshold=0.9, n_planes=8, n_tables=8, dim=64
    ).select("id_a", "id_b")
    comp = dd.connected_components(
        planted.select("vec_id"), pairs, id_col="vec_id"
    )
    return comp.select(
        F.col("id").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_survivor"),
    )


@query(
    "v_semantic_decontaminate",
    oracle="""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), ev AS (
  SELECT vec_id, v FROM base WHERE vec_id % 25 = 0
), leak AS (
  -- planted leakage: each eval vector re-enters the training set
  -- perturbed (sim ~0.993), re-keyed +200000; perturb in the inner
  -- select so the lambda's vec_id cannot resolve against the
  -- shifted lateral alias (same hazard noted at _PLANT_SQL)
  SELECT vec_id + 200000 AS vec_id, v FROM (
    SELECT vec_id,
           list_transform(range(64), j -> v[j+1] + 0.05 *
             (CAST(((vec_id*131 + j) * 2654435761) % 1000003 AS DOUBLE)
              / 1000003 - 0.5)) AS v
    FROM ev
  )
), train AS (
  SELECT vec_id, v FROM base WHERE vec_id % 25 <> 0
  UNION ALL
  SELECT vec_id, v FROM leak
), sims AS (
  SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
         round(list_dot_product(t.v, e.v)
               / (sqrt(list_dot_product(t.v, t.v))
                  * sqrt(list_dot_product(e.v, e.v))), 6) AS sim
  FROM train t CROSS JOIN ev e
)
SELECT train_id, CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_hits,
       max(sim) AS max_sim
FROM sims WHERE sim >= 0.9 GROUP BY train_id
""",
)
def v_semantic_decontaminate(spark, sf_dir):
    """Semantic (embedding-level) eval-set decontamination with
    PLANTED leakage: the 1-in-25 eval vectors re-enter the training
    set perturbed (deterministic integer-mod noise, sim ~0.993,
    re-keyed +200000) — the paraphrased-leak regime n-gram
    decontamination (`d_decontaminate`) cannot catch. The operator
    must flag exactly the planted leaks at threshold 0.9 (the fixture
    has no natural >= 0.9 cross pairs), each hitting exactly its
    source eval vector; the all-pairs oracle grades hit counts and
    max similarity. Registered after the driver-grading backlog (the
    registry self-orders unproven-first)."""
    train, ev = _decontaminate_frames(spark, sf_dir)
    # approx=False explicitly: the eval side (1-in-25) is broadcast
    # range at every graded SF, and an explicit flag keeps composition
    # fully lazy (approx=None runs a bounded probe count at compose
    # time, which would make even explain-only tooling run a job)
    return sim.semantic_contamination(
        train, ev, threshold=0.9, dim=64, approx=False
    )


def _decontaminate_frames(spark, sf_dir):
    """(train, ev) with planted leakage for v_semantic_decontaminate —
    exposed so tests can grade the SRP-bucketed path against the exact
    path on the same planted frames."""
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", v.alias("embedding"))
    ev = base.where(F.col("vec_id") % 25 == 0)
    w = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (
            ((F.col("vec_id") * 131 + j) * F.lit(2654435761)) % 1000003
        ).cast("double")
        / 1000003
        - 0.5,
    )
    # perturb BEFORE re-keying (see _planted_corpus: Spark 4 lateral
    # column aliases would bind the lambda's vec_id to the shifted id)
    leak = (
        ev.select(
            "vec_id",
            F.zip_with(
                F.col("embedding"), w, lambda x, n: x + 0.05 * n
            ).alias("embedding"),
        )
        .select((F.col("vec_id") + 200000).alias("vec_id"), "embedding")
    )
    train = base.where(F.col("vec_id") % 25 != 0).unionAll(leak)
    return train, ev


_KM_ASSIGN = """
  SELECT vec_id, v, cell{score} FROM (
    SELECT b.vec_id, b.v, c.cell,
           round(list_dot_product(b.v, c.c), 6) AS sc,
           row_number() OVER (PARTITION BY b.vec_id
             ORDER BY round(list_dot_product(b.v, c.c), 6) DESC,
                      c.cell DESC) AS rn
    FROM {src} b CROSS JOIN {cents} c
  ) WHERE rn = 1
"""

_KM_UPDATE = """
{m} AS (
  SELECT cell, j, round(avg(v[j]), 6) AS m
  FROM {asg} CROSS JOIN range(1, 65) t(j)
  GROUP BY cell, j
), {arr} AS (
  SELECT cell, list(m ORDER BY j) AS mv FROM {m} GROUP BY cell
), {out} AS (
  -- keep-previous on an empty cell (COALESCE), normalize + round the
  -- components: the rounded boundary is what makes the next
  -- iteration's argmax engine-portable
  SELECT p.cell,
         COALESCE(list_transform(a.mv, x -> round(x /
             CASE WHEN list_dot_product(a.mv, a.mv) = 0 THEN 1.0
                  ELSE sqrt(list_dot_product(a.mv, a.mv)) END, 6)),
           p.c) AS c
  FROM {prev} p LEFT JOIN {arr} a USING (cell)
)
"""


@query(
    "v_kmeans_corpus_clusters",
    oracle=f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), nn AS (SELECT count(*) AS n FROM base),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
  FROM (SELECT b.vec_id, b.v FROM base b, nn
        WHERE b.vec_id % greatest(nn.n // 8, 1) = 0
        ORDER BY b.vec_id LIMIT 8)
), cents0 AS (
  SELECT cell, list_transform(v, x -> round(x /
           CASE WHEN list_dot_product(v, v) = 0 THEN 1.0
                ELSE sqrt(list_dot_product(v, v)) END, 6)) AS c
  FROM seeds
), asg1 AS ({_KM_ASSIGN.format(score="", cents="cents0", src="base")}),
{_KM_UPDATE.format(m="m1", asg="asg1", arr="arr1", out="cents1",
                   prev="cents0")},
asg2 AS ({_KM_ASSIGN.format(score="", cents="cents1", src="base")}),
{_KM_UPDATE.format(m="m2", asg="asg2", arr="arr2", out="cents2",
                   prev="cents1")},
fin AS ({_KM_ASSIGN.format(score=", sc AS score", cents="cents2", src="base")})
SELECT CAST(cell AS INT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(score), 6) AS mean_sim
FROM fin GROUP BY 1
""",
)
def v_kmeans_corpus_clusters(spark, sf_dir):
    """Corpus clustering for training-mix diversity accounting: the
    IVF coarse-quantizer training loop (stride seeding + 2 Lloyd
    iterations + final assignment, k=8) run as a GRADED query — the
    oracle re-derives the identical loop in SQL, which only works
    because every cross-stage value is rounded to 6 dp (assignment
    argmax on the rounded dot with ties to the larger cell, per-dim
    centroid means, normalized components — see
    ``ext.similarity.kmeans_corpus_clusters``). This grades the
    TRAINING loop itself; `v_ivf_ann_topk` grades only the search
    path against exact brute force.

    Scale shape: centroids are k x dim literals (never a join side);
    each iteration is one scan + a (cell, dim)-bounded aggregate with
    only k x dim floats reaching the driver; output is k rows at any
    corpus size. At 100 TB, Lloyd iterations run on a bounded sample
    and only the final assignment touches the full corpus.

    EAGER at composition time: building this frame runs the Lloyd
    loop (centroids become literals in the returned plan), so
    explain-only tooling that calls the query fn executes training —
    see ``ext.similarity.kmeans_assignments``."""
    from sftp_data_ingestion_spark.ext import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    return sim.kmeans_corpus_clusters(
        e, k=8, n_iters=2, vec_col="embedding", id_col="vec_id"
    )


@query(
    "v_cluster_diversity_sample",
    oracle=f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), nn AS (SELECT count(*) AS n FROM base),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
  FROM (SELECT b.vec_id, b.v FROM base b, nn
        WHERE b.vec_id % greatest(nn.n // 8, 1) = 0
        ORDER BY b.vec_id LIMIT 8)
), cents0 AS (
  SELECT cell, list_transform(v, x -> round(x /
           CASE WHEN list_dot_product(v, v) = 0 THEN 1.0
                ELSE sqrt(list_dot_product(v, v)) END, 6)) AS c
  FROM seeds
), asg1 AS ({_KM_ASSIGN.format(score="", cents="cents0", src="base")}),
{_KM_UPDATE.format(m="m1", asg="asg1", arr="arr1", out="cents1",
                   prev="cents0")},
asg2 AS ({_KM_ASSIGN.format(score="", cents="cents1", src="base")}),
{_KM_UPDATE.format(m="m2", asg="asg2", arr="arr2", out="cents2",
                   prev="cents1")},
fin AS ({_KM_ASSIGN.format(score="", cents="cents2", src="base")})
SELECT vec_id, CAST(cell AS INT) AS cluster_id FROM (
  SELECT vec_id, cell, row_number() OVER (
           PARTITION BY cell
           ORDER BY ((vec_id * 2654435761) % 10000), vec_id) AS rn
  FROM fin
) WHERE rn <= 10
""",
)
def v_cluster_diversity_sample(spark, sf_dir):
    """Cluster-balanced diversity sampling (the SemDeDup-style mix
    step): k-means the embedding corpus (the graded engine-portable
    loop of `v_kmeans_corpus_clusters`), then take an EXACT quota of
    10 vectors per cluster by the repo's deterministic Knuth hash —
    every cluster contributes equally regardless of its mass, the
    sampling lever that stops a dominant mode from swamping the mix.
    Reproducible on any cluster size (pure key-hash order, no rand).

    Scale shape: assignment is one scan against literal centroids;
    the quota is a per-cluster window whose `rn <= 10` filter plans
    as WindowGroupLimit (map-side pre-trim to 10 per cluster before
    the k-way shuffle), so the sample never materializes more than
    k x 10 x partitions rows. EAGER at composition time (the Lloyd
    loop runs when the frame is built — see
    ``ext.similarity.kmeans_assignments``)."""
    from sftp_data_ingestion_spark.ext import similarity as sim
    from sftp_data_ingestion_spark.queries.q_sampling import split_bucket

    e = table(spark, sf_dir, "embeddings")
    a = sim.kmeans_assignments(
        e, k=8, n_iters=2, vec_col="embedding", id_col="vec_id"
    ).select(F.col("id").alias("vec_id"), "cluster_id")
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        split_bucket(F.col("vec_id")), F.col("vec_id")
    )
    return (
        a.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("vec_id", "cluster_id")
    )


@query(
    "v_kmeans_sampled_train",
    oracle=f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), samp AS (
  SELECT * FROM base WHERE (vec_id * 2654435761) % 10000 < 5000
), nn AS (SELECT count(*) AS n FROM samp),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
  FROM (SELECT b.vec_id, b.v FROM samp b, nn
        WHERE b.vec_id % greatest(nn.n // 8, 1) = 0
        ORDER BY b.vec_id LIMIT 8)
), cents0 AS (
  SELECT cell, list_transform(v, x -> round(x /
           CASE WHEN list_dot_product(v, v) = 0 THEN 1.0
                ELSE sqrt(list_dot_product(v, v)) END, 6)) AS c
  FROM seeds
), asg1 AS ({_KM_ASSIGN.format(score="", cents="cents0", src="samp")}),
{_KM_UPDATE.format(m="m1", asg="asg1", arr="arr1", out="cents1",
                   prev="cents0")},
asg2 AS ({_KM_ASSIGN.format(score="", cents="cents1", src="samp")}),
{_KM_UPDATE.format(m="m2", asg="asg2", arr="arr2", out="cents2",
                   prev="cents1")},
fin AS ({_KM_ASSIGN.format(score=", sc AS score", cents="cents2",
                           src="base")})
SELECT CAST(cell AS INT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(score), 6) AS mean_sim
FROM fin GROUP BY 1
""",
)
def v_kmeans_sampled_train(spark, sf_dir):
    """The 100 TB k-means operating point, graded end-to-end: Lloyd
    ITERATIONS (seeding included) run on the deterministic Knuth-hash
    HALF of the corpus ((vec_id * 2654435761) mod 10000 < 5000 — the
    repo's engine-portable sampling discipline, never rand()), while
    the FINAL assignment covers every vector. Centroid quality needs
    a sample; membership needs the corpus — at 100 TB this is the
    difference between Lloyd passes over terabytes and Lloyd passes
    over a bounded sample, with exactly one full-corpus scan at the
    end. The oracle replays the identical subset selection and
    unrolled loop, so the sampled-train path is hash-graded with the
    same rigor as the full-train `v_kmeans_corpus_clusters`.

    EAGER at composition time (the Lloyd loop runs when the frame is
    built — see ``ext.similarity.kmeans_assignments``)."""
    from sftp_data_ingestion_spark.ext import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    return sim.kmeans_corpus_clusters(
        e, k=8, n_iters=2, vec_col="embedding", id_col="vec_id",
        train_frac=0.5,
    )


@query(
    "v_semdedup",
    oracle=f"""
WITH u AS ({_PLANT_SQL}),
base AS (SELECT vec_id, v FROM u),
nn AS (SELECT count(*) AS n FROM base),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
  FROM (SELECT b.vec_id, b.v FROM base b, nn
        WHERE b.vec_id % greatest(nn.n // 8, 1) = 0
        ORDER BY b.vec_id LIMIT 8)
), cents0 AS (
  SELECT cell, list_transform(v, x -> round(x /
           CASE WHEN list_dot_product(v, v) = 0 THEN 1.0
                ELSE sqrt(list_dot_product(v, v)) END, 6)) AS c
  FROM seeds
), asg1 AS ({{_km_assign1}}),
{{_km_update1}},
asg2 AS ({{_km_assign2}}),
{{_km_update2}},
fin AS ({{_km_fin}}),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.score AS sa, b.score AS sb
  FROM fin a JOIN fin b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9
), dropped AS (
  SELECT DISTINCT CASE WHEN sa > sb THEN id_a ELSE id_b END AS vid
  FROM pairs
)
SELECT f.vec_id, CAST(f.cell AS INT) AS cluster_id,
       (d.vid IS NULL) AS kept
FROM fin f LEFT JOIN dropped d ON f.vec_id = d.vid
""".format(
        _km_assign1=_KM_ASSIGN.format(score="", cents="cents0", src="base"),
        _km_update1=_KM_UPDATE.format(
            m="m1", asg="asg1", arr="arr1", out="cents1", prev="cents0"
        ),
        _km_assign2=_KM_ASSIGN.format(score="", cents="cents1", src="base"),
        _km_update2=_KM_UPDATE.format(
            m="m2", asg="asg2", arr="arr2", out="cents2", prev="cents1"
        ),
        _km_fin=_KM_ASSIGN.format(
            score=", sc AS score", cents="cents2", src="base"
        ),
    ),
)
def v_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cluster the
    planted-duplicate corpus with the graded engine-portable loop,
    then near-dup ONLY within clusters and drop the pair member
    CLOSER to its centroid (keep-the-outlier preserves cluster
    diversity — the paper's policy, vs the min-id survivor of
    v_embedding_neardup_clusters). The all-pairs stage never crosses
    cluster boundaries: at 100 TB k grows with the corpus, bounding
    per-cluster pair fanout, while a cross-cluster all-pairs would be
    the O(n^2) scale-killer. Oracle re-derives the identical Lloyd
    loop + within-cluster pair graph + drop rule in SQL (see
    ``ext.similarity.semdedup_survivors``).

    EAGER at composition time (the v_kmeans_* convention): building
    this frame runs the Lloyd loop — pass pre-trained centroids to
    ``semdedup_survivors`` for lazy composition."""
    return sim.semdedup_survivors(
        _planted_corpus(spark, sf_dir), k=8, n_iters=2, threshold=0.9,
        dim=64,
    )


@query(
    "v_semdedup_coarse_recall",
    oracle="""
SELECT CAST(count(*) + 250 AS BIGINT) AS n_vecs, TRUE AS recall_ok
FROM embeddings
""",
)
def v_semdedup_coarse_recall(spark, sf_dir):
    """SemDeDup's 100 TB assignment escape under a recall gate (the
    v_ivf_ann_recall pattern): the flat assignment's n*k dot cost is
    the probe-named growing term once k scales with the corpus, and
    the IVF-style two-stage assignment (rank sqrt(k) group means,
    argmax over the top-nprobe groups' members — ~3*sqrt(k) dots/row)
    is the escape. Approximate by construction, so the graded
    statement is the operating point: at (k=8, n_groups=3, nprobe=2)
    the coarse path must re-find >= 90% of the flat path's drops on
    the planted-duplicate corpus (measured 0.949; nprobe=1 reads
    ~0.83 — the same recall dial IVF search exposes). Train once,
    both paths share the centroids. EAGER at composition time (the
    v_kmeans_* convention): building this frame runs the Lloyd
    loop."""
    from sftp_data_ingestion_spark.ext import similarity as sim

    corpus = _planted_corpus(spark, sf_dir)
    cents = sim.kmeans_train(corpus, k=8, n_iters=2)
    flat = (
        sim.semdedup_survivors(corpus, threshold=0.9, dim=64, centroids=cents)
        .where(~F.col("kept"))
        .select(F.col("vec_id").alias("fid"))
    )
    co = (
        sim.semdedup_survivors(
            corpus, threshold=0.9, dim=64, centroids=cents,
            coarse=True, n_groups=3, nprobe=2,
        )
        .where(~F.col("kept"))
        .select(F.col("vec_id").alias("cid"))
    )
    hit = flat.join(co, flat.fid == co.cid, "left")
    stats = hit.agg(
        ((F.count("cid") / F.count("fid")) >= 0.9).alias("recall_ok")
    )
    nv = corpus.agg(F.count(F.lit(1)).alias("n_vecs"))
    return nv.crossJoin(stats)


def _coarse_oracle(k: int | str) -> str:
    """DuckDB replay of the ENTIRE coarse SemDeDup pipeline at ``k``:
    k-means training (stride seeds + 2 unrolled Lloyd iterations),
    the driver-side group-Lloyd over the 64 centroids (stride seeds,
    5 unrolled iterations, empty groups keep-previous), the two-stage
    IVF-style assignment (rank nonempty group means, argmax over the
    top-2 groups' member centroids), and the within-cluster pair +
    keep-the-outlier drop. Portable because every cross-stage value
    is rounded to 6 dp on BOTH engines (assignment scores, per-dim
    means, normalized components — including the group means, see
    ext.similarity._group_centroids). Hot CTEs are MATERIALIZED:
    DuckDB re-inlines multiply-referenced CTEs, and cents2 is read
    six times.

    ``k`` may be an int (fixed operating point) or a full SELECT
    string deriving k from the corpus (e.g. the auto-k rule
    ``SELECT greatest(8, count(*) // 4) AS k FROM base``) — the
    derivation then replays INSIDE the oracle, pinning not just the
    assignment at some k but the k-choosing rule itself
    (v_semdedup_auto_k)."""
    grp_assign = """
  SELECT cell, c, grp FROM (
    SELECT k.cell, k.c, g.grp,
           row_number() OVER (PARTITION BY k.cell
             ORDER BY round(list_dot_product(k.c, g.m), 6) DESC,
                      g.grp DESC) AS rn
    FROM cents2 k CROSS JOIN {gm} g
  ) WHERE rn = 1
"""
    grp_update = """
{mm} AS (
  SELECT grp, j, round(avg(c[j]), 6) AS m
  FROM {ga} CROSS JOIN range(1, 65) t(j)
  GROUP BY grp, j
), {arr} AS (
  SELECT grp, list(m ORDER BY j) AS mv FROM {mm} GROUP BY grp
), {out} AS MATERIALIZED (
  SELECT p.grp,
         COALESCE(list_transform(a.mv, x -> round(x /
             CASE WHEN list_dot_product(a.mv, a.mv) = 0 THEN 1.0
                  ELSE sqrt(list_dot_product(a.mv, a.mv)) END, 6)),
           p.m) AS m
  FROM {prev} p LEFT JOIN {arr} a USING (grp)
)"""
    grp_chain = ",\n".join(
        f"ga{i} AS MATERIALIZED ({grp_assign.format(gm=f'gm{i - 1}')}),"
        + grp_update.format(
            mm=f"gmm{i}", ga=f"ga{i}", arr=f"garr{i}",
            out=f"gm{i}", prev=f"gm{i - 1}",
        )
        for i in range(1, 6)
    )
    km1 = _KM_ASSIGN.format(score="", cents="cents0", src="base")
    km2 = _KM_ASSIGN.format(score="", cents="cents1", src="base")
    upd1 = _KM_UPDATE.format(
        m="m1", asg="asg1", arr="arr1", out="cents1", prev="cents0"
    )
    upd2 = _KM_UPDATE.format(
        m="m2", asg="asg2", arr="arr2", out="cents2", prev="cents1"
    )
    k_select = f"SELECT {k} AS k" if isinstance(k, int) else k
    sql = f"""
WITH u AS ({_PLANT_SQL}),
base AS MATERIALIZED (SELECT vec_id, v FROM u),
nn AS (SELECT count(*) AS n FROM base),
kk0 AS ({k_select}),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
  FROM (SELECT b.vec_id, b.v FROM base b, nn, kk0
        WHERE b.vec_id % greatest(nn.n // kk0.k, 1) = 0
        QUALIFY row_number() OVER (ORDER BY b.vec_id) <= kk0.k)
), cents0 AS MATERIALIZED (
  SELECT cell, list_transform(v, x -> round(x /
           CASE WHEN list_dot_product(v, v) = 0 THEN 1.0
                ELSE sqrt(list_dot_product(v, v)) END, 6)) AS c
  FROM seeds
), asg1 AS MATERIALIZED ({km1}),
{upd1},
asg2 AS MATERIALIZED ({km2}),
{upd2},
kk AS (SELECT greatest(count(*) // 8, 1) AS stride FROM cents2),
gm0 AS MATERIALIZED (
  SELECT CAST(cell // kk.stride AS INT) AS grp,
         list_transform(c, x -> round(x /
           CASE WHEN list_dot_product(c, c) = 0 THEN 1.0
                ELSE sqrt(list_dot_product(c, c)) END, 6)) AS m
  FROM cents2, kk
  WHERE cell % kk.stride = 0 AND cell // kk.stride < 8
),
{grp_chain},
gnonempty AS (
  SELECT g.grp, g.m FROM gm5 g
  WHERE EXISTS (SELECT 1 FROM ga5 WHERE ga5.grp = g.grp)
),
grank AS MATERIALIZED (
  SELECT b.vec_id, b.v, g.grp,
         row_number() OVER (PARTITION BY b.vec_id
           ORDER BY round(list_dot_product(b.v, g.m), 6) DESC,
                    g.grp DESC) AS rn
  FROM base b CROSS JOIN gnonempty g
),
fin AS MATERIALIZED (
  SELECT vec_id, v, cell, sc AS score FROM (
    SELECT r.vec_id, r.v, mem.cell,
           round(list_dot_product(r.v, mem.c), 6) AS sc,
           row_number() OVER (PARTITION BY r.vec_id
             ORDER BY round(list_dot_product(r.v, mem.c), 6) DESC,
                      mem.cell DESC) AS rn2
    FROM grank r JOIN ga5 mem USING (grp)
    WHERE r.rn <= 2
  ) WHERE rn2 = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.score AS sa, b.score AS sb
  FROM fin a JOIN fin b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9
), dropped AS (
  SELECT DISTINCT CASE WHEN sa > sb THEN id_a ELSE id_b END AS vid
  FROM pairs
)
SELECT f.vec_id, CAST(f.cell AS INT) AS cluster_id,
       (d.vid IS NULL) AS kept
FROM fin f LEFT JOIN dropped d ON f.vec_id = d.vid
"""
    return sql


@query("v_semdedup_coarse_k64", oracle=_coarse_oracle(64))
def v_semdedup_coarse_k64(spark, sf_dir):
    """SemDeDup with the COARSE two-stage assignment as the graded
    engine, at an operating point where it matters (k=64, n_groups=8,
    nprobe=2 — flat assignment is n*64 dots/row, coarse is ~24): the
    100 TB scale path (SemDeDup at corpus scale runs k ~ sqrt(n),
    where the flat argmax was probe-measured 17x slower at k=256)
    graded as a first-class value-hash row, not just recall-gated.
    The oracle replays the identical pipeline — k-means training,
    centroid group-Lloyd, two-stage argmax (nonempty groups only,
    original group indices for tiebreaks), within-cluster pairs,
    keep-the-outlier drop — in pure SQL; see
    ``ext.similarity._group_centroids`` for the rounding contract
    that makes that possible. ``v_semdedup`` (flat, k=8) and
    ``v_semdedup_coarse_recall`` (recall gate vs flat) stay as the
    exactness and approximation-quality twins. EAGER at composition
    time (the v_kmeans_* convention): building this frame runs the
    Lloyd loop."""
    return sim.semdedup_survivors(
        _planted_corpus(spark, sf_dir), k=64, n_iters=2, threshold=0.9,
        dim=64, coarse=True, n_groups=8, nprobe=2,
    )


@query("v_semdedup_coarse_k256", oracle=_coarse_oracle(256))
def v_semdedup_coarse_k256(spark, sf_dir):
    """The coarse SemDeDup path graded at the operating point where
    it WINS on wall clock, not just structure: the r11/r12 probes
    measured the flat n*k assignment 17x slower than the two-stage
    coarse path at k=256, and the r12 fixed-k probe put the
    machinery-vs-dots crossover near k~128 — so k=256 is the
    smallest graded point inside the coarse path's winning regime
    (k continues to scale with the corpus at 100 TB; the pair stage
    stays bounded by cluster size). Same oracle construction as
    ``v_semdedup_coarse_k64`` with k=256 (group stride 32): the
    DuckDB replay re-derives training, group-Lloyd, two-stage argmax,
    and the drop policy bit-equal. EAGER at composition time.

    Since r13 this point dispatches (engine='auto', k=256 > the
    measured k~128 crossover) to the ARROW engines — broadcast numpy
    centroid matrix for the Lloyd iterations
    (``ext.similarity.kmeans_assign_arrow``) and for the two-stage
    argmax (``coarse_assign_arrow``) — so the graded row also pins the
    numpy kernels bit-equal against the same SQL replay the
    expression engines were graded on."""
    return sim.semdedup_survivors(
        _planted_corpus(spark, sf_dir), k=256, n_iters=2, threshold=0.9,
        dim=64, coarse=True, n_groups=8, nprobe=2,
    )


def _flat_assign_oracle(k: int) -> str:
    """DuckDB replay of k-means training (stride seeds + 2 unrolled
    Lloyd iterations) followed by the FLAT per-vector assignment —
    the oracle for the Arrow flat-assignment engine (same rounding
    discipline as `_coarse_oracle`, minus the group stages)."""
    km1 = _KM_ASSIGN.format(score="", cents="cents0", src="base")
    km2 = _KM_ASSIGN.format(score="", cents="cents1", src="base")
    upd1 = _KM_UPDATE.format(
        m="m1", asg="asg1", arr="arr1", out="cents1", prev="cents0"
    )
    upd2 = _KM_UPDATE.format(
        m="m2", asg="asg2", arr="arr2", out="cents2", prev="cents1"
    )
    fin = _KM_ASSIGN.format(
        score=", sc AS score", cents="cents2", src="base"
    )
    return f"""
WITH u AS ({_PLANT_SQL}),
base AS MATERIALIZED (SELECT vec_id, v FROM u),
nn AS (SELECT count(*) AS n FROM base),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
  FROM (SELECT b.vec_id, b.v FROM base b, nn
        WHERE b.vec_id % greatest(nn.n // {k}, 1) = 0
        ORDER BY b.vec_id LIMIT {k})
), cents0 AS MATERIALIZED (
  SELECT cell, list_transform(v, x -> round(x /
           CASE WHEN list_dot_product(v, v) = 0 THEN 1.0
                ELSE sqrt(list_dot_product(v, v)) END, 6)) AS c
  FROM seeds
), asg1 AS MATERIALIZED ({km1}),
{upd1},
asg2 AS MATERIALIZED ({km2}),
{upd2},
fin AS ({fin})
SELECT vec_id, CAST(cell AS INT) AS cluster_id, score FROM fin
"""


@query("v_kmeans_assign_arrow", oracle=_flat_assign_oracle(192))
def v_kmeans_assign_arrow(spark, sf_dir):
    """The large-k FLAT assignment engine graded directly, per row:
    train k-means at k=192 (above the measured k~128 crossover, so
    auto-dispatch runs the Lloyd iterations under the Arrow engine
    too) and emit every vector's (cluster_id, rounded score) from
    ``ext.similarity.kmeans_assign_arrow`` — the broadcast-numpy
    matmul kernel whose plan size is O(1) in k, vs the expression
    engine's O(k x dim) literal tree (the named 100 TB gap: SemDeDup's
    honest scale regime is k ~ n, where a literal plan blows up before
    the compute does). The DuckDB oracle replays seeding, both Lloyd
    iterations, and the final flat argmax bit-equal — the same
    rounding discipline (HALF_UP at 6 dp on every cross-stage value)
    that made the expression engines portable now pins the BLAS
    kernel: summation-order ulps are absorbed at the rounding
    boundary, tiebreaks (larger cell) replay exactly.

    EAGER at composition time (the v_kmeans_* convention)."""
    corpus = _planted_corpus(spark, sf_dir)
    cents = sim.kmeans_train(corpus, k=192, n_iters=2)
    return sim.kmeans_assign_arrow(corpus, cents).select(
        F.col("id").alias("vec_id"), "cluster_id", "score"
    )


@query("v_semdedup_coarse_k512", oracle=_coarse_oracle(512))
def v_semdedup_coarse_k512(spark, sf_dir):
    """SemDeDup at k=512 — the k ~ n operating point (n=750 here, so
    k on the order of n, the regime PERFORMANCE.md prescribes for
    100 TB) that the expression engines could not reach honestly: at
    k=512 the literal centroid tree is 32k+ literal nodes per
    assignment and every Lloyd iteration recompiles it. Under the r13
    Arrow engines (auto-dispatched: k=512 > crossover) training,
    group-Lloyd routing, and the two-stage argmax all run on ONE
    broadcast numpy structure — plan size O(1) in k — and the whole
    pipeline stays bit-equal to the same ``_coarse_oracle`` SQL
    replay that grades the k=64 (expr) and k=256 points, proving the
    engine swap moves no value anywhere in the composed pipeline.
    EAGER at composition time."""
    return sim.semdedup_survivors(
        _planted_corpus(spark, sf_dir), k=512, n_iters=2, threshold=0.9,
        dim=64, coarse=True, n_groups=8, nprobe=2,
    )


@query(
    "v_semdedup_auto_k",
    oracle=_coarse_oracle("SELECT greatest(8, count(*) // 4) AS k FROM base"),
)
def v_semdedup_auto_k(spark, sf_dir):
    """SemDeDup under the AUTO-k default (r12 VERDICT #8): k is not a
    caller choice but the operator's own
    ``max(8, n // target_cluster)`` rule — the k ~ n regime (bounded
    cluster size, linear pair stage) as the default behavior rather
    than a documented caveat. target_cluster=4 on the 750-row planted
    corpus derives k=187 (above the arrow crossover, so the engines
    this regime needs are also the ones that run). The oracle replays
    the DERIVATION itself — ``greatest(8, count(*) // 4)`` computed
    from the same corpus CTE — and then the whole coarse pipeline at
    that derived k, so a drift in the k rule (not just in assignment
    at some k) breaks the hash. EAGER at composition time (one count
    job for the derivation + the Lloyd loop)."""
    return sim.semdedup_survivors(
        _planted_corpus(spark, sf_dir), n_iters=2, threshold=0.9,
        dim=64, coarse=True, n_groups=8, nprobe=2, target_cluster=4,
    )


@query(
    "v_gram_matrix",
    oracle="""
SELECT i, j, round(g, 6) AS g FROM (
  SELECT a.dim AS i, b.dim AS j, sum(a.x * b.x) AS g
  FROM (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(CAST(embedding AS DOUBLE[])) AS x
    FROM embeddings
  ) a JOIN (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(CAST(embedding AS DOUBLE[])) AS x
    FROM embeddings
  ) b USING (vec_id)
  GROUP BY 1, 2
)
""",
)
def v_gram_matrix(spark, sf_dir):
    """Distributed Gram matrix G = X^T X over the embedding corpus —
    the block PCA, whitening, and ridge solvers start from. One BLAS
    matmul per Arrow batch, dim² rows per batch crossing the wire
    (independent of corpus size), one partial-aggregating groupBy; the
    oracle rebuilds the same 64×64 sums by exploding dimension pairs
    per vector. Values rounded to 6 dp so the distributed sum order
    cannot move the hash (magnitudes ~10², FP error ~1e-12)."""
    from sftp_data_ingestion_spark.ext import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    return sim.gram_matrix(e, dim=64)


_PCA_ITER = """
{out} AS (
  SELECT list_transform(w, x -> round(x / sqrt(
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(w, y -> y * y)), (a, b) -> a + b)), 6)) AS v
  FROM (
    SELECT list_transform(range(64), i ->
      round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(64), j -> gl.gf[i*64 + j + 1] * p.v[j+1])),
        (a, b) -> a + b), 6)) AS w
    FROM gl, {prev} p
  )
)"""

_PCA_ITERS = ",".join(
    _PCA_ITER.format(out=f"p{n+1}", prev=f"p{n}") for n in range(10)
)


@query(
    "v_pca_top_component",
    oracle=f"""
WITH gm AS (
  SELECT i, j, round(g, 6) AS g FROM (
    SELECT a.dim AS i, b.dim AS j, sum(a.x * b.x) AS g
    FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings) a
    JOIN (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings) b
    USING (vec_id) GROUP BY 1, 2
  )
), gl AS (SELECT list(g ORDER BY i * 64 + j) AS gf FROM gm),
p0 AS (SELECT list_transform(range(64), i -> round(1.0 / sqrt(64.0), 6)) AS v),
{_PCA_ITERS},
u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings)
SELECT vec_id,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(64), k -> u.x[k+1] * p.v[k+1])),
         (a, b) -> a + b), 6) AS proj
FROM u, p10 p
""",
)
def v_pca_top_component(spark, sf_dir):
    """PCA top component graded END-TO-END cross-engine: the Gram
    matrix builds distributed (one BLAS matmul per Arrow batch —
    v_gram_matrix's machinery), the 10-step power iteration runs on
    the driver over the collected 64×64 matrix with every value
    rounded HALF_UP and every sum folded left-to-right, and the
    projection is a lazy codegen dot with the eigenvector as
    literals. The oracle replays the ENTIRE pipeline — Gram sums,
    all ten normalize-and-round iterations (unrolled CTEs, the
    kmeans-loop discipline applied to an eigensolver), and the final
    fold — landing on bit-equal projections. Python's builtin
    round() is banker's and would diverge; see
    ``ext.similarity._round_half_up``.

    EAGER at composition time: building this frame runs the Gram job
    + driver iteration. Scale shape: the only distributed stages are
    the Gram build (shuffle payload dim² per batch, corpus-size
    independent) and the projection scan; the eigensolve touches
    4096 floats on the driver at ANY corpus size."""
    from sftp_data_ingestion_spark.ext import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    _vec, proj = sim.pca_top_component(e, dim=64, n_iters=10)
    return proj


_RIDGE_STEP = """
{out} AS (
  SELECT list_transform(range(64), i ->
    round(p.beta[i+1] - 9.7 * (
      (round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(64), j -> gl.gf[i*64 + j + 1] * p.beta[j+1])),
         (a, b) -> a + b), 6) - bl.bf[i+1]) / nn.n
      + 0.0013 * p.beta[i+1]), 6)) AS beta
  FROM gl, bl, nn, {prev} p
)"""

_RIDGE_STEPS = ",".join(
    _RIDGE_STEP.format(out=f"b{n+1}", prev=f"b{n}") for n in range(15)
)


@query(
    "v_ridge_fit_predict",
    oracle=f"""
WITH gm AS (
  SELECT i, j, round(g, 6) AS g FROM (
    SELECT a.dim AS i, b.dim AS j, sum(a.x * b.x) AS g
    FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings) a
    JOIN (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings) b
    USING (vec_id) GROUP BY 1, 2
  )
), gl AS (SELECT list(g ORDER BY i * 64 + j) AS gf FROM gm),
yy AS (
  -- planted linear target: the fixture's label is independent of the
  -- embedding (no linear model can fit it), so the graded y is a
  -- deterministic linear functional of the vector itself — recovery
  -- of the planted coefficients is the learning statement
  SELECT vec_id, round(3.0 * v[1] - 2.0 * v[2] + 0.5 * v[3], 6) AS y
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
),
bm AS (
  SELECT a.dim AS i, round(sum(a.x * yy.y), 6) AS b
  FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings) a
  JOIN yy USING (vec_id) GROUP BY 1
), bl AS (SELECT list(b ORDER BY i) AS bf FROM bm),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
b0 AS (SELECT list_transform(range(64), i -> CAST(0.0 AS DOUBLE)) AS beta),
{_RIDGE_STEPS},
u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings)
SELECT vec_id,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(64), k -> u.x[k+1] * p.beta[k+1])),
         (a, b) -> a + b), 6) AS pred
FROM u, b15 p
""",
)
def v_ridge_fit_predict(spark, sf_dir):
    """Distributed ridge regression TRAINED and graded end-to-end:
    the normal-equation blocks G = X^T X and b = X^T y build
    distributed once (blocked Arrow kernels — shuffle payload dim²
    resp. dim per batch, corpus-size independent), then 15 gradient
    steps run on the driver with HALF_UP rounds and left-fold sums —
    no further corpus pass, since grad = (G·beta − b)/n + lam·beta.
    The eta/lambda constants are deliberately NOT decimal-round
    numbers: with eta=10 and n=500 the update arithmetic lands on
    exact decimal ties (x.xxxxxx5), where Spark/Python exact HALF_UP
    and DuckDB's multiply-then-round disagree on which side of the
    tie the binary double sits — observed as a 1e-6 beta divergence;
    generic constants push pre-round values off the tie grid.
    The target is a PLANTED linear functional of the vector (the
    fixture's label is independent of the embedding — unlearnable by
    any linear model), so the fit provably learns: 15 steps recover
    beta ~ (2.8, -1.9, 0.46, 0, ...) against the planted (3, -2,
    0.5) and cut SSE by >99%.
    The oracle replays Gram, X^T y, all fifteen steps (unrolled
    CTEs), and the prediction fold to bit-equal values — the
    portability discipline of the kmeans/PCA loops applied to model
    TRAINING, not just scoring. Quality pinned by pytest (training
    must cut SSE vs the zero model). EAGER at composition time."""
    from sftp_data_ingestion_spark.ext import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    derived = e.select(
        "vec_id",
        "embedding",
        F.round(
            F.lit(3.0) * F.element_at(v, 1)
            - F.lit(2.0) * F.element_at(v, 2)
            + F.lit(0.5) * F.element_at(v, 3),
            6,
        ).alias("y"),
    )
    _beta, preds = sim.ridge_fit(
        derived, y_col="y", dim=64, n_steps=15, eta=9.7, lam=0.0013
    )
    return preds


_FF_STEP = """
d{t} AS (
  SELECT u.vec_id, u.v,
         max(round(list_dot_product(u.v, c.v)
               / (sqrt(list_dot_product(u.v, u.v))
                  * sqrt(list_dot_product(c.v, c.v))), 6)) AS ms
  FROM u, c{p} c GROUP BY u.vec_id, u.v
),
n{t} AS (
  SELECT CAST({t} AS INT) AS ord, vec_id, v FROM d{t}
  ORDER BY ms ASC, vec_id ASC LIMIT 1
),
c{t} AS (SELECT ord, vec_id, v FROM c{p}
         UNION ALL SELECT ord, vec_id, v FROM n{t})"""

_FF_STEPS = ",".join(_FF_STEP.format(t=t, p=t - 1) for t in range(1, 8))


@query(
    "v_kmeanspp_seeds",
    oracle=f"""
WITH u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (
  SELECT CAST(0 AS INT) AS ord, vec_id, v FROM u
  ORDER BY vec_id LIMIT 1
),
{_FF_STEPS}
SELECT ord, vec_id FROM c7
""",
)
def v_kmeanspp_seeds(spark, sf_dir):
    """Deterministic farthest-first k-means seeding (the k-means++
    quality idea without its randomness — random seeding would be
    retry-unstable and engine-specific): start at the min-id vector,
    then 7 rounds of \"pick the vector least similar to its nearest
    chosen seed\" (rounded cosine, id tiebreak). Graded against 7
    unrolled argmin CTEs replaying the identical selection. EAGER at
    composition time (each round is one scan + a 1-row collect)."""
    from sftp_data_ingestion_spark.ext import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    seeds = sim.farthest_first_seeds(e, k=8, dim=64)
    return spark.createDataFrame(
        [(int(o), int(i)) for o, i in seeds], "ord int, vec_id long"
    )


_LOSO_STEP = """
s{S}b{t} AS (
  SELECT list_transform(range(64), i ->
    round(p.beta[i+1] - 9.7 * (
      (round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(64), j -> gl.gf[i*64 + j + 1] * p.beta[j+1])),
         (a, b) -> a + b), 6) - bl.bf[i+1]) / nn.n
      + 0.0013 * p.beta[i+1]), 6)) AS beta
  FROM gl{S} gl, bl{S} bl, nn{S} nn, s{S}b{p} p
)"""

_LOSO_HOLDOUT = """
gn{S} AS (SELECT i, j, round(sum(g), 6) AS g FROM gms
          WHERE grp <> '{s}' GROUP BY i, j),
gl{S} AS (SELECT list(g ORDER BY i * 64 + j) AS gf FROM gn{S}),
bn{S} AS (SELECT i, round(sum(b), 6) AS b FROM bms
          WHERE grp <> '{s}' GROUP BY i),
bl{S} AS (SELECT list(b ORDER BY i) AS bf FROM bn{S}),
nn{S} AS (SELECT CAST(sum(n) AS DOUBLE) AS n FROM yqs WHERE grp <> '{s}'),
s{S}b0 AS (SELECT list_transform(range(64), i -> CAST(0.0 AS DOUBLE)) AS beta),
{steps},
hg{S} AS (SELECT list(g ORDER BY i * 64 + j) AS gf FROM gms
          WHERE grp = '{s}'),
hb{S} AS (SELECT list(b ORDER BY i) AS bf FROM bms WHERE grp = '{s}'),
val{S} AS (
  SELECT '{s}' AS grp, q.n AS n_rows,
         round(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(64), i -> p.beta[i+1] * inn.iv[i+1])),
             (a, b) -> a + b), 6)
           - 2.0 * round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(64), i -> p.beta[i+1] * hb.bf[i+1])),
             (a, b) -> a + b), 6)
           + q.ysq, 6) AS sse_holdout
  FROM s{S}b15 p, hb{S} hb,
       (SELECT ysq, n FROM yqs WHERE grp = '{s}') q,
       (SELECT list_transform(range(64), i ->
            round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(64), j -> hg.gf[i*64 + j + 1] * p2.beta[j+1])),
              (a, b) -> a + b), 6)) AS iv
        FROM hg{S} hg, s{S}b15 p2) inn
)"""


def _loso_sql():
    parts = []
    for s in ("0", "1", "2"):
        steps = ",".join(
            _LOSO_STEP.format(S=s, t=t, p=t - 1) for t in range(1, 16)
        )
        parts.append(_LOSO_HOLDOUT.format(S=s, s=s, steps=steps))
    return ",\n".join(parts)


@query(
    "v_loso_valuation",
    oracle=f"""
WITH u AS (SELECT vec_id, CAST(label AS VARCHAR) AS grp,
                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
yy AS (SELECT vec_id, grp, v,
              round(3.0 * v[1] - 2.0 * v[2] + 0.5 * v[3]
                    + CASE WHEN grp = '0' THEN 1.0 ELSE 0.0 END, 6) AS y
       FROM u),
ex AS (SELECT vec_id, grp, y, generate_subscripts(v, 1) - 1 AS dim,
              unnest(v) AS x FROM yy),
gms AS (SELECT a.grp, a.dim AS i, b.dim AS j, round(sum(a.x * b.x), 6) AS g
        FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2, 3),
bms AS (SELECT grp, dim AS i, round(sum(x * y), 6) AS b FROM ex GROUP BY 1, 2),
yqs AS (SELECT grp, round(sum(y * y), 6) AS ysq,
               CAST(count(*) AS BIGINT) AS n FROM yy GROUP BY 1),
{_loso_sql()}
SELECT grp, n_rows, sse_holdout FROM val0
UNION ALL SELECT grp, n_rows, sse_holdout FROM val1
UNION ALL SELECT grp, n_rows, sse_holdout FROM val2
""",
)
def v_loso_valuation(spark, sf_dir):
    """Leave-one-group-out data VALUATION from sufficient statistics:
    per-group blocks (G_g, b_g, Σy², n) build in one distributed pass
    each; for every held-out label the ridge fit on the remainder AND
    its held-out SSE (the quadratic form βᵀG_sβ − 2βᵀb_s + Σy²_s)
    run entirely on the driver — evaluating all three held-out models
    costs no additional corpus scan, the economics that make
    per-source valuation affordable at 100 TB. The target plants an
    ANOMALY: label 0's y is shifted +1, so a model trained without
    label 0 must mis-predict it — the valuation table flags exactly
    the group a data buyer should distrust (pinned by pytest). The
    oracle replays per-group blocks, three 15-step GD fits, and the
    quadratic forms to bit-equal SSEs. EAGER at composition time."""
    from sftp_data_ingestion_spark.ext import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    derived = e.select(
        F.col("label").cast("string").alias("grp"),
        "embedding",
        F.round(
            F.lit(3.0) * F.element_at(v, 1)
            - F.lit(2.0) * F.element_at(v, 2)
            + F.lit(0.5) * F.element_at(v, 3)
            + F.when(F.col("label") == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
            6,
        ).alias("y"),
    )
    rows = sim.loso_valuation(
        derived, group_col="grp", y_col="y", holdouts=["0", "1", "2"]
    )
    return spark.createDataFrame(
        [(g, int(n), float(s)) for g, n, s in rows],
        "grp string, n_rows long, sse_holdout double",
    )


@query(
    "v_source_embedding_drift",
    oracle="""
WITH ex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
), lm AS (
  SELECT label, dim, round(avg(x), 6) AS m,
         count(DISTINCT vec_id) AS n
  FROM ex GROUP BY 1, 2
), la AS (
  SELECT label, list(m ORDER BY dim) AS mv, min(n) AS n
  FROM lm GROUP BY label
), ga AS (
  SELECT list(m ORDER BY dim) AS gv FROM (
    SELECT dim, round(avg(x), 6) AS m FROM ex GROUP BY dim
  )
)
SELECT label, CAST(n AS BIGINT) AS n_vecs,
       round(list_dot_product(mv, gv)
             / (sqrt(list_dot_product(mv, mv))
                * sqrt(list_dot_product(gv, gv))), 6) AS drift_cos
FROM la, ga
""",
)
def v_source_embedding_drift(spark, sf_dir):
    """Per-group embedding drift monitor: each label's mean vector
    against the global mean, as a cosine — the cheap geometric check
    a corpus pipeline runs per source/snapshot to catch a collapsed
    or shifted embedding batch before it trains. One explode + two
    partial-aggregating groupBys; the k mean vectors are the only
    thing that leaves the aggregation (k x dim floats at any corpus
    size), and the global mean broadcasts back as one row."""
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    ex = e.select("vec_id", "label", F.posexplode(v).alias("dim", "x"))
    lm = ex.groupBy("label", "dim").agg(
        F.round(F.avg("x"), 6).alias("m"),
        F.count_distinct("vec_id").alias("n"),
    )
    la = lm.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("mv"),
        F.min("n").alias("n"),
    )
    ga = (
        ex.groupBy("dim")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("gv")
        )
    )
    from sftp_data_ingestion_spark.ext.similarity import dot

    joined = la.crossJoin(F.broadcast(ga))
    cos = F.round(
        dot(F.col("mv"), F.col("gv"))
        / (
            F.sqrt(dot(F.col("mv"), F.col("mv")))
            * F.sqrt(dot(F.col("gv"), F.col("gv")))
        ),
        6,
    )
    return joined.select(
        "label", F.col("n").cast("long").alias("n_vecs"),
        cos.alias("drift_cos"),
    )


_PCA2_ITERS = ",".join(
    _PCA_ITER.format(out=f"q{n+1}", prev=f"q{n}")
    .replace("gl.gf", "g2.gf")
    .replace("FROM gl,", "FROM g2,")
    for n in range(10)
)


@query(
    "v_pca_top2_components",
    oracle=f"""
WITH gm AS (
  SELECT i, j, round(g, 6) AS g FROM (
    SELECT a.dim AS i, b.dim AS j, sum(a.x * b.x) AS g
    FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings) a
    JOIN (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings) b
    USING (vec_id) GROUP BY 1, 2
  )
), gl AS (SELECT list(g ORDER BY i * 64 + j) AS gf FROM gm),
p0 AS (SELECT list_transform(range(64), i -> round(1.0 / sqrt(64.0), 6)) AS v),
{_PCA_ITERS},
w1 AS (
  SELECT list_transform(range(64), i ->
    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(64), j -> gl.gf[i*64 + j + 1] * p.v[j+1])),
      (a, b) -> a + b), 6)) AS w
  FROM gl, p10 p
),
l1 AS (
  SELECT round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(w, y -> y * y)), (a, b) -> a + b)), 6) AS l
  FROM w1
),
g2 AS (
  SELECT list_transform(range(4096), t ->
    round(gl.gf[t+1] - l1.l * p.v[t // 64 + 1] * p.v[t % 64 + 1], 6))
    AS gf
  FROM gl, p10 p, l1
),
q0 AS (SELECT list_transform(range(64), i -> round(1.0 / sqrt(64.0), 6)) AS v),
{_PCA2_ITERS},
u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings)
SELECT vec_id,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(64), k -> u.x[k+1] * p.v[k+1])),
         (a, b) -> a + b), 6) AS proj1,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(64), k -> u.x[k+1] * q.v[k+1])),
         (a, b) -> a + b), 6) AS proj2
FROM u, p10 p, q10 q
""",
)
def v_pca_top2_components(spark, sf_dir):
    """Top-2 PCA via Hotelling deflation, graded end-to-end: v1 from
    the power iteration, eigenvalue estimate l1 = ||G·v1|| (rounded),
    second iteration on the deflated G − l1·v1·v1ᵀ — the oracle
    replays BOTH ten-step iterations, the deflation, and both
    projection folds to bit-equal values. Same one-Gram-build
    economics as v_pca_top_component (the deflation is 4096 driver
    floats); EAGER at composition time."""
    from sftp_data_ingestion_spark.ext import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    _v1, _v2, proj = sim.pca_top2_components(e, dim=64, n_iters=10)
    return proj


_JL_OUT_DIM = 16
_JL_W1, _JL_W2 = 2654435761, 2246822519  # Knuth / xxhash primes
_JL_M = 2147483647


@query(
    "v_jl_projection",
    oracle=f"""
WITH x AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), proj AS (
  SELECT vec_id, v,
         list_transform(range(0, {_JL_OUT_DIM}), j ->
           list_reduce(
             list_transform(range(0, len(v)), i -> v[i+1]
               * (1.0 - 2.0 * CAST((i * {_JL_W1} + j * {_JL_W2})
                                   % {_JL_M} % 2 AS DOUBLE))),
             (a, b) -> a + b
           ) / sqrt({_JL_OUT_DIM}.0)) AS y
  FROM x
)
SELECT vec_id,
       generate_subscripts(y, 1) - 1 AS j,
       unnest(list_transform(y, e -> round(e, 6))) AS y_j,
       round(list_dot_product(y, y) / list_dot_product(v, v), 6)
         AS norm_ratio
FROM proj
""",
)
def v_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection (Achlioptas 2003
    database-friendly form: entries ±1/√d', no Gaussians needed) —
    the embedding down-projection that preserves pairwise distances
    within (1±ε) whp, used to shrink ANN index footprints before
    LSH/IVF. The "random" sign matrix is a deterministic portable
    hash of (i, j) (Knuth/xxhash multiplicative primes — the CMS
    convention), so both engines materialize the SAME matrix and the
    projection is exactly replayable; ``norm_ratio`` = ‖y‖²/‖x‖²
    exposes the isometry quality per vector in the graded output.

    Scale shape: a pure scan-local HOF projection — O(d·d') mults
    per row, zero shuffle, zero UDFs, embarrassingly parallel. The
    sign matrix is never materialized anywhere (it's an expression),
    which at 100 TB means no broadcast at all — the projection
    travels as code. The left-fold accumulation order is fixed and
    identical in both engines, so values are bit-equal before the
    6 dp display rounding."""
    e = table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = e.select("vec_id", v.alias("v"))

    def sign(i, j):
        return 1.0 - 2.0 * F.pmod(
            F.pmod(i * F.lit(_JL_W1) + j * F.lit(_JL_W2), F.lit(_JL_M)),
            F.lit(2),
        ).cast("double")

    y = F.transform(
        F.sequence(F.lit(0), F.lit(_JL_OUT_DIM - 1)),
        lambda j: F.aggregate(
            F.sequence(F.lit(0), F.size("v") - 1),
            F.lit(0.0).cast("double"),
            lambda acc, i: acc
            + F.element_at(F.col("v"), (i + 1).cast("int")) * sign(i, j),
        )
        / F.sqrt(F.lit(float(_JL_OUT_DIM))),
    )
    proj = d.select("vec_id", "v", y.alias("y"))
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda p, q: p * q),
        F.lit(0.0).cast("double"),
        lambda acc, z: acc + z,
    )
    # output is EXPLODED to scalar rows (vec_id, j, y_j): an
    # array-typed result cell is unsortable in the driver's pandas
    # canonicalizer (the r5 m_* failure class caught again by the
    # canon sweep here)
    return proj.select(
        "vec_id",
        F.posexplode(F.transform("y", lambda e_: F.round(e_, 6))).alias(
            "j", "y_j"
        ),
        F.round(
            dot(F.col("y"), F.col("y")) / dot(F.col("v"), F.col("v")), 6
        ).alias("norm_ratio"),
    )


_MKNN_K = 5

_MKNN_EDGES_SQL = f"""
  WITH allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
  ranked AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_COS_SQL} DESC, b.vec_id ASC
           ) AS rn
    FROM allv a JOIN allv b ON a.vec_id <> b.vec_id
  ), knn AS (
    SELECT query_id, neighbor_id FROM ranked WHERE rn <= {_MKNN_K}
  )
  SELECT a.query_id AS id_a, a.neighbor_id AS id_b
  FROM knn a JOIN knn b
    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
  WHERE a.query_id < a.neighbor_id
"""


@query(
    "v_mutual_knn_clusters",
    oracle=f"""
WITH RECURSIVE mutual AS ({_MKNN_EDGES_SQL}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM mutual
  UNION ALL SELECT id_b, id_a FROM mutual
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id
),
comp AS (SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id)
SELECT c.vec_id, c.component,
       CAST(count(*) OVER (PARTITION BY c.component) AS BIGINT)
         AS comp_size
FROM comp c
""",
)
def v_mutual_knn_clusters(spark, sf_dir):
    """Mutual-kNN graph clustering over the embedding corpus: exact
    cosine k=5 neighbor lists, an edge kept only when BOTH endpoints
    rank each other (the mutuality filter that strips hub-induced
    false links — asymmetric kNN graphs over-connect through
    high-degree "hub" vectors in high dims), then connected
    components by large/small-star contraction. This is the
    density-style grouping used for semantic corpus curation when
    cluster count is unknown (SemDeDup's k-means needs k; mutual-kNN
    discovers granularity).

    Scale shape: the kNN stage here is the EXACT brute-force arm
    (broadcast query side, per-partition top-k heaps — correct at
    fixture scale and the recall baseline at any scale); the 100 TB
    path swaps in the graded ANN engines (SRP/IVF/PQ — same
    (query_id, neighbor_id) contract), after which the mutuality
    join is one self-join on the k-bounded edge list (|E| <= k·n)
    and the component step is the O(log² n)-round star contraction —
    no stage touches n² pairs. Singletons keep their own component
    (vertices seed the contraction), so coverage is total."""
    from sftp_data_ingestion_spark.ext.graph import cc_star_contraction

    e = table(spark, sf_dir, "embeddings")
    knn = sim.cosine_topk(e, e, k=_MKNN_K, dim=64).select(
        "query_id", "neighbor_id"
    )
    a, b = knn.alias("a"), knn.alias("b")
    mutual = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.neighbor_id"))
            & (F.col("a.neighbor_id") == F.col("b.query_id")),
        )
        .where(F.col("a.query_id") < F.col("a.neighbor_id"))
        .select(
            F.col("a.query_id").alias("id_a"),
            F.col("a.neighbor_id").alias("id_b"),
        )
    )
    comp = cc_star_contraction(
        e.select(F.col("vec_id")), mutual, id_col="vec_id"
    ).select(F.col("id").alias("vec_id"), "component")
    from pyspark.sql import Window

    per = Window.partitionBy("component")
    return comp.select(
        F.col("vec_id"),
        "component",
        F.count(F.lit(1)).over(per).cast("long").alias("comp_size"),
    )
