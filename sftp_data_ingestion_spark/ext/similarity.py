r"""Embedding similarity search over ``array<float>`` columns.

Two paths, same API (north star; SURVEY.md §2.11):

* **Brute-force cosine top-k** — exact baseline: query x corpus join
  with an array-expression dot product (``zip_with`` + ``aggregate``,
  JVM-side, no UDF). O(|Q| x |C|): correct at fixture scale, and the
  right tool whenever |Q| is small (point lookups) even at 100 TB
  corpus size IF combined with a pruning index.
* **LSH-bucketed ANN** — random-hyperplane (SRP) signatures bucket
  both sides; only same-bucket pairs are scored. At 100 TB the
  corpus-side signature+bucket is a one-off shuffle; each query probes
  its bucket(s) — candidate cost ~ bucket size, not corpus size.
  Recall is tunable via (n_planes, n_tables).

The hyperplanes for SRP are generated from a fixed seed with a
splitmix-style integer mix in pure Column expressions, so signatures
are deterministic and identical across runs/engines with no RNG state.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.operators.dedup import latest_per_key
from sftp_data_ingestion_spark.rebalance import cut, fan_out


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product as fold-left over zip_with — element order fixed,
    so results are bit-deterministic for a given pair. INTERPRETED
    (higher-order functions never enter whole-stage codegen): use only
    where the dimension is unknown at plan time; every hot path below
    uses :func:`dot_flat`, which is bit-identical and JIT-compiled."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def dot_flat(a: Column, b: Column, dim: int) -> Column:
    """Dot product unrolled to ``dim`` scalar multiply-adds.

    Bit-identical to :func:`dot`: the sum associates left-to-right from
    a 0.0 init, exactly like the fold — ``((0.0 + a1*b1) + a2*b2)…`` —
    so hashes/rankings cannot move. Unlike the fold it is plain scalar
    arithmetic, which rides whole-stage codegen: measured ~10x on the
    pair-scoring stage (the r3 bench's dominant cost — VERDICT.md §
    "What's wrong" #2: 100x20k interpreted pairs at 13.5 s)."""
    return functools.reduce(
        operator.add,
        (F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(dim)),
        F.lit(0.0),
    )


def norm_flat(a: Column, dim: int) -> Column:
    return F.sqrt(dot_flat(a, a, dim))


def _dim_of(df: DataFrame, vec_col: str, *fallbacks: DataFrame) -> int:
    """Probe the (fixed) vector dimensionality from one row — a single
    tiny job at composition time. Callers that know the dim pass it
    explicitly and stay fully lazy. An empty frame probes the
    ``fallbacks`` (e.g. the query side), and when every side is empty
    any dim yields the correct empty result, so 1 is returned rather
    than raising — matching the old fold form's empty-safety."""
    for frame in (df, *fallbacks):
        row = frame.select(F.size(F.col(vec_col)).alias("d")).head()
        if row is not None and row["d"] is not None:
            return int(row["d"])
    return 1


def _pair_sim(qv: Column, cv: Column, qn: Column, cn: Column, dim: int) -> Column:
    """Pair cosine with PRE-computed per-side norms. Bit-identical to
    ``dot(a, b) / (norm(a) * norm(b))`` (same arithmetic, and a
    vector's norm is a deterministic fold), but the norms are computed
    once per input row below the join instead of once per PAIR above
    it — 3 dot-products per pair drop to 1 — and the remaining dot is
    the codegen'd flat form. At 100 TB the pair count dwarfs the row
    count, so this is the dominant ANN cost."""
    return dot_flat(qv, cv, dim) / (qn * cn)


def _checked_norm(v: Column, dim: int) -> Column:
    """Per-row norm with a runtime guard that the vector really has
    ``dim`` components: ``dot_flat`` silently truncates to the first
    ``dim`` elements, so a wrong caller-supplied dim would otherwise
    produce wrong similarities with no error. The check runs once per
    INPUT ROW (not per pair), so its cost is negligible next to
    scoring, and it fails the job loudly on mismatch."""
    ok = F.assert_true(
        F.size(v) == dim,
        F.concat(
            F.lit(f"vector dim mismatch: expected {dim}, got "),
            F.size(v).cast("string"),
        ),
    )
    return F.when(ok.isNull(), norm_flat(v, dim)).otherwise(F.lit(None))


def _norm_side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    out_vec: str,
    out_norm: str,
    dim: int,
    *extra: str,
) -> DataFrame:
    v = as_double(F.col(vec_col))
    return df.select(
        F.col(id_col).alias(out_id),
        v.alias(out_vec),
        _checked_norm(v, dim).alias(out_norm),
        *extra,
    )


def _global_topk(scored: DataFrame, k: int, score: str, out: str) -> DataFrame:
    """The tail every top-k engine ends in: the first ``k`` candidates
    per query by ``(score desc, neighbor_id asc)``, the score rounded
    to 6 dp AFTER ranking (ranking uses full precision)."""
    return latest_per_key(
        scored, ["query_id"], [F.col(score).desc(), F.col("neighbor_id").asc()], k
    ).select("query_id", "neighbor_id", F.round(score, 6).alias(out))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector (excludes self).

    Output: (query_id, neighbor_id, sim) with rank <= k, sim rounded
    to 6 dp AFTER ranking (ranking uses full precision).

    Pass ``dim`` explicitly to stay fully lazy: ``dim=None`` probes the
    dimensionality with one tiny eager job at composition time (and so
    cannot compose over streaming inputs)."""
    if dim is None:
        dim = _dim_of(corpus, vec_col, queries)
    q = _norm_side(queries, id_col, vec_col, "query_id", "qv", "qn", dim)
    # fan_out: the broadcast-NL join evaluates every pair score in the
    # corpus scan stage; a one-split corpus would serialize it (no-op
    # at scale, where the scan has >= one split per core)
    c = _norm_side(fan_out(corpus), id_col, vec_col, "neighbor_id", "cv", "cn", dim)
    # Broadcast the QUERY side explicitly: without the hint Spark picks
    # the build side from size estimates that don't see the vec_id
    # filter's selectivity, and building the CORPUS side streams the
    # one-split query scan — every pair score then serializes on one
    # core and the corpus fan_out is wasted on the broadcast side
    # (measured 2.3s -> 16s at sf0.1). A point-lookup query set is the
    # small side by construction at every scale.
    scored = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pair_sim(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), dim
            ).alias("sim_full"),
        )
        # nondeterministic barrier (same trap jaccard_verify pins):
        # keeps the window comparator reading the materialized
        # sim_full column instead of re-evaluating the flat dot per
        # comparison after CollapseProject inlines it
        .withColumn("__nd", F.monotonically_increasing_id())
    )
    return _global_topk(scored, k, "sim_full", "sim")


def _row_norms(x):
    """Per-row L2 norms of a float matrix, a zero norm read as 1.0."""
    import numpy as np

    n = np.sqrt((x * x).sum(axis=1))
    n[n == 0.0] = 1.0
    return n


def _batch_matrix(vectors, dim: int | None = None):
    """An Arrow batch's vector column as a float64 (rows x dim)
    matrix; a ragged column, or one whose width is not ``dim``,
    raises."""
    import numpy as np

    x = np.array(list(vectors), dtype=np.float64)
    if x.ndim != 2 or (dim is not None and x.shape[1] != dim):
        raise ValueError(
            f"vector dim mismatch: expected {dim}, got "
            f"{x.shape[1] if x.ndim == 2 else 'ragged'}"
        )
    return x


def _arrow_topk(
    queries: DataFrame,
    corpus: DataFrame,
    corpus_id: str,
    k: int,
    id_col: str,
    vec_col: str,
    scorer,
    out: str = "sim",
) -> DataFrame:
    """The one Arrow top-k kernel: every numpy engine below is this
    helper plus a batch scorer (REPOSE's local-prune-then-global-merge
    shape).

    On the driver: both id columns must be integral (the kernel
    carries ids as int64; schema only, no job), then the query set
    collects as ``(q_ids, unit-norm matrix q)`` — a point-lookup query
    set is small by construction, the same assumption the broadcast in
    :func:`cosine_topk` makes. An empty query set returns an empty
    typed frame. ``scorer(q_ids, q)`` returns ``score(pdf) -> (ids,
    S)``: ``S`` is the batch x |Q| float64 score matrix, ``-inf`` for a
    pair the scorer leaves out.

    Per Arrow batch of ``corpus`` (on the scan's natural splits: a
    matmul needs no extra parallelism, and pre-spreading a few-split
    scan was measured to double the stage at sf0.1, 0.41 s -> 0.81 s),
    self pairs drop and each query keeps its local top-k in the exact
    ``(-score, id)`` order. The partition only finds each query's k-th
    score; every row that reaches it is kept and sorted, so a tie AT
    the boundary still goes to the smaller id (a cut inside
    ``argpartition`` is arbitrary). The local and global criteria
    agree, so the k·|Q| rows per batch hold the global top-k; the
    corpus never shuffles, only those candidates do."""
    import numpy as np

    for side, frame, col in (
        ("queries", queries, id_col), ("corpus", corpus, corpus_id)
    ):
        if not _integral_id(frame, col):
            raise TypeError(
                f"the Arrow top-k engines need an integral {col!r} on the "
                f"{side} side (got {frame.schema[col].dataType.simpleString()}); "
                "use cosine_topk for non-integral ids"
            )
    schema = f"query_id long, neighbor_id long, {out} double"
    rows = queries.select(id_col, vec_col).collect()
    if not rows:
        return corpus.sparkSession.createDataFrame([], schema)
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    q = np.array([r[1] for r in rows], dtype=np.float64)
    score = scorer(q_ids, q / _row_norms(q)[:, None])

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:  # empty partition: nothing to score
                continue
            ids, s = score(pdf)
            s[ids[:, None] == q_ids[None, :]] = -np.inf  # self
            top = min(k, len(ids))
            at_k = np.argpartition(-s, top - 1, axis=0)[top - 1]
            kth = s[at_k, np.arange(len(q_ids))]
            r, c = np.nonzero((s >= kth) & (s > -np.inf))
            order = np.lexsort((ids[r], -s[r, c], c))
            r, c = r[order], c[order]
            keep = np.arange(len(c)) - np.searchsorted(c, c) < k
            r, c = r[keep], c[keep]
            yield pd.DataFrame(
                {"query_id": q_ids[c], "neighbor_id": ids[r], out: s[r, c]}
            )

    return _global_topk(corpus.mapInPandas(fn, schema), k, out, out)


def cosine_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul — the
    HIGH-DIMENSION engine. :func:`cosine_topk`'s flat codegen chain is
    the right engine up to ~128 dims, but its expression size grows
    linearly with dim (a 1536-dim chain hits the same Janino
    compile-cost wall the unrolled SRP signatures did), while one
    numpy matmul per Arrow batch is dimension-oblivious and BLAS-fast.

    The kernel is :func:`_arrow_topk` (query matrix collected to the
    driver, local top-k per corpus batch, one global window); the
    scorer here is one (batch x dim)·(dim x Q) matmul.

    Same output contract as :func:`cosine_topk` (sim rounded to 6 dp
    after ranking) for INTEGRAL id columns; a non-integral id on either
    side raises TypeError up front. Use the expression engine for
    non-integral ids. Scores come from BLAS reductions, so the least
    significant float bits can differ from the fold/flat engines —
    rankings agree except on exact ties, which both engines break by
    neighbor id."""
    import numpy as np

    def scorer(_q_ids, q):
        def score(pdf):
            c = _batch_matrix(pdf[vec_col])
            sims = (c @ q.T) / _row_norms(c)[:, None]
            return pdf[id_col].to_numpy(dtype=np.int64), sims

        return score

    return _arrow_topk(
        queries, corpus.select(id_col, vec_col), id_col, k, id_col, vec_col, scorer
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the corpus storage/IO lever
# ---------------------------------------------------------------------------


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: each component
    maps to round(v * 127 / max|v|), stored as ``array<tinyint>`` plus
    one float scale — a 4x storage/shuffle/scan reduction on the
    corpus side (the first memory lever every vector store pulls
    before product quantization). Pure Column expressions; the max is
    one interpreted fold per ROW, cheap next to per-pair or per-plane
    folds (see :func:`_srp_bucket_frame`)."""
    v = as_double(F.col(vec_col))
    amax = F.aggregate(
        v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
    )
    scale = F.when(amax > 0, amax / 127.0).otherwise(F.lit(1.0))
    return df.withColumn("__q_scale", scale).withColumn(
        "q_" + vec_col,
        F.transform(v, lambda x: F.round(x / F.col("__q_scale")).cast("tinyint")),
    ).withColumnRenamed("__q_scale", "q_scale")


def dequantize(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Reconstruct an approximate float vector from the int8 form —
    feeds the reconstructed column straight into any search engine
    above (cosine is scale-invariant, so the per-vector scale only
    matters for reconstruction, not ranking)."""
    return df.withColumn(
        vec_col,
        F.transform(
            F.col("q_" + vec_col),
            lambda q: q.cast("double") * F.col("q_scale"),
        ),
    )


# ---------------------------------------------------------------------------
# SRP-LSH (random hyperplane) bucketing — the 100 TB ANN path
# ---------------------------------------------------------------------------

def _plane_component(plane: int, dim_idx: Column, seed: int) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    integer mix of (seed, plane, dim) -> scaled double. Pure
    expressions — no RNG state, reproducible anywhere."""
    h = F.xxhash64(F.lit(seed), F.lit(plane), dim_idx)
    return h.cast("double") / F.lit(float(2**63))


# (n_planes, seed, dim) -> list of plane vectors, each a list of floats.
# Values are produced by evaluating the EXACT _plane_component
# expressions once on a one-row frame (a Python float round-trip
# preserves IEEE754 doubles exactly).
_PLANE_CACHE: dict[tuple[int, int, int], list[list[float]]] = {}


def _plane_literals(n_planes: int, seed: int, dim: int) -> list[list[float]]:
    """Materialize the SRP hyperplanes for a known dimensionality.

    One tiny one-row Spark job per distinct (n_planes, seed, dim),
    cached for the session lifetime. Hoisting the planes out of the
    per-row expression removes n_planes x dim xxhash64 evaluations
    from EVERY row of the signature stage — the dominant interpreted
    cost at corpus scale — while the projection fold itself keeps the
    same element order, so signatures cannot move."""
    from pyspark.sql import SparkSession

    key = (n_planes, seed, dim)
    if key not in _PLANE_CACHE:
        # getActiveSession is JVM-thread-local and returns None in a
        # plain worker thread (driver-side thread pools composing
        # queries concurrently — guide §2.6); getOrCreate falls back
        # to the already-instantiated global session in that case.
        spark = (
            SparkSession.getActiveSession()
            or SparkSession.builder.getOrCreate()
        )
        idx = F.sequence(F.lit(0), F.lit(dim - 1))

        def plane_at(p: int):
            # closure factory, NOT a default-arg lambda: F.transform
            # treats a two-parameter callable as its (element, index)
            # form and REBINDS the second parameter to the element
            # index, silently collapsing every plane to the same
            # vector (each table then hashes with one effective plane
            # — ~2 buckets — which round-5 measurement caught as
            # plane-count-invariant candidate counts).
            return lambda i: _plane_component(p, i, seed)

        row = spark.range(1).select(
            *[
                F.transform(idx, plane_at(p)).alias(f"p{p}")
                for p in range(n_planes)
            ]
        ).head()
        _PLANE_CACHE[key] = [list(row[f"p{p}"]) for p in range(n_planes)]
    return _PLANE_CACHE[key]


def _srp_bucket_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    seed: int,
    n_tables: int,
    dim: int,
) -> DataFrame:
    """(id, vec, table_idx, bucket) for every (row, table) pair, via
    one Arrow/numpy pass: all n_tables x n_planes projections are a
    single (batch x dim) @ (dim x T*P) matmul per Arrow batch.

    Signature cost scales with ROWS x tables x planes x dim. As an
    interpreted higher-order-function fold it was the dominant ANN
    cost (measured ~12 s for 1000 rows x 64 signatures at 64 dims),
    and flat unrolling to codegen was worse still (Janino compilation
    ~150 s). The hyperplanes come from :func:`_plane_literals`. The id
    and vector columns pass through Arrow untouched (IEEE754
    round-trip is exact), so downstream norms/rescoring are computed
    JVM-side on identical bits. Signs only pick CANDIDATE buckets and
    every graded similarity comes from the bit-exact JVM rescore, so
    kernel rounding at sign boundaries can move recall (negligibly),
    never graded values."""
    import numpy as np

    planes = [
        p
        for t in range(n_tables)
        for p in _plane_literals(n_planes, seed + 7919 * t, dim)
    ]
    w_mat = np.array(planes, dtype=np.float64).T  # dim x (T*P)
    n_p, n_t = n_planes, n_tables
    from pyspark.sql import types as T

    src = df.select(id_col, vec_col)
    # fresh StructType: .add() on src.schema would mutate the frame's
    # cached schema object and corrupt column resolution
    out_schema = T.StructType(
        list(src.schema.fields)
        + [
            T.StructField("table_idx", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ]
    )

    def fn(batches):
        import pandas as pd

        bit_w = 1 << np.arange(n_p, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _batch_matrix(pdf[vec_col], dim)
            bits = (mat @ w_mat >= 0).astype(np.int64)  # rows x T*P
            parts = []
            for t in range(n_t):
                part = pdf.copy()
                part["table_idx"] = np.int32(t)
                part["bucket"] = bits[:, t * n_p : (t + 1) * n_p] @ bit_w
                parts.append(part)
            yield pd.concat(parts, ignore_index=True)

    return src.mapInPandas(fn, out_schema)


def srp_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 42,
    n_tables: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: score only same-SRP-bucket pairs. Approximate —
    single-table recall is bounded by the per-plane collision
    probability, so production setups run ``n_tables`` independent
    hash tables (different seeds) and union the candidates: recall
    1-(1-r)^T for per-table recall r, at T x bucketing cost. Same
    output shape as :func:`cosine_topk`; like it, ``dim=None`` runs a
    tiny eager probe job at composition time — pass ``dim`` to stay
    lazy."""
    if dim is None:
        dim = _dim_of(corpus, vec_col, queries)

    def side(df, out_id, vec_alias, norm_alias, spread=False):
        # all n_tables signatures in ONE Arrow kernel pass (one scan of
        # the input, one matmul per batch — not a table-per-branch
        # union costing T redundant scans, and not T x P interpreted
        # folds per row); norms are JVM-side on the passed-through
        # vector bits, so scoring is unchanged. The kernel runs on the
        # scan's NATURAL splits (a matmul needs no extra parallelism,
        # and fanning the scan out first was measured to thrash the
        # Python worker pool: 32 concurrent interpreter spawns per
        # side); the corpus side fans out AFTER the kernel so the
        # expensive stage — JVM pair scoring under the broadcast join —
        # uses every core. fan_out is a no-op at scale either way.
        sigs = _srp_bucket_frame(
            df, id_col, vec_col, n_planes, seed, n_tables, dim
        )
        if spread:
            sigs = fan_out(sigs)
        return _norm_side(sigs, id_col, vec_col, out_id, vec_alias,
                          norm_alias, dim, "table_idx", "bucket")

    q = side(queries, "query_id", "qv", "qn")
    c = side(corpus, "neighbor_id", "cv", "cn", spread=True)
    # Broadcast the probe side (queries x n_tables — small by
    # construction for an ANN lookup): the corpus never shuffles, and
    # bucket-key skew cannot funnel it through few reducers.
    scored = (
        c.join(F.broadcast(q), ["bucket", "table_idx"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pair_sim(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), dim
            ).alias("sim_full"),
        )
    )
    if n_tables > 1:
        # pairs meeting in several tables dedup here (key-only compare;
        # sim_full is identical across tables for the same pair)
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return _global_topk(scored, k, "sim_full", "sim")


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + cell probing
# ---------------------------------------------------------------------------


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest coarse centroids
    (by dot product — centroids are expected L2-normalized).

    The centroid list is tiny (hundreds) and travels as a literal
    array — evaluated JVM-side per row, no join, no UDF. Output adds
    ``cell`` (exploded when nprobe > 1).

    Deliberately the compact higher-order-function form: assignment
    cost scales with ROWS (one evaluation per vector), so interpreted
    evaluation is cheap — while unrolling n_cells x dim literal terms
    was measured to cost ~15 s of Janino compilation per DISTINCT
    centroid set (k-means recompiles every iteration because the
    literals change). Flat unrolling pays only per PAIR (dot_flat)."""
    if not centroids:
        raise ValueError("ivf_assign: empty centroid list")
    if nprobe >= len(centroids):
        # Probing EVERY cell is exact search by definition: the probed
        # set is all cells regardless of the scores, so ranking the
        # cells only to keep all of them is dead cost (r13: the k x dim
        # literal score plan alone measured 0.78 s per run on the
        # all-cells-graded query). The score-free form is
        # value-identical — downstream consumers only read `cell`.
        # (Empty centroids are rejected above: nprobe >= 0 would take
        # this branch and sequence(0, -1) fabricates cells [0, -1]
        # where the scored path produced zero rows — r13 ADVICE.)
        return df.withColumn(
            "cell",
            F.explode(F.sequence(F.lit(0), F.lit(len(centroids) - 1))),
        )
    cent = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in c])
            for c in centroids
        ]
    )
    v = as_double(F.col(vec_col))
    scored = F.transform(
        cent, lambda c, i: F.struct(dot(v, c).alias("score"), i.alias("cell"))
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    return df.withColumn("cell", F.explode(F.transform(top, lambda s: s.cell)))


def train_centroids_sample(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Coarse seeding: take k spread-out sample vectors as the initial
    centroids (id striding keeps runs reproducible). Refine with
    :func:`train_centroids_kmeans`."""
    import math

    n = df.count()
    stride = max(n // k, 1)
    rows = (
        df.where((F.col(id_col) % stride == 0))
        .orderBy(id_col)
        .limit(k)
        .select(as_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    out = []
    for r in rows:
        vec = r["v"]
        nrm = math.sqrt(sum(x * x for x in vec)) or 1.0
        out.append([x / nrm for x in vec])
    return out


def train_centroids_kmeans(
    df: DataFrame,
    k: int = 16,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Mini k-means coarse quantizer: stride-sample seeding + a few
    Lloyd iterations built from the SAME distributed operators the
    search path uses — ``ivf_assign`` (literal centroids, JVM-side, no
    join) then per-(cell, dim) mean via posexplode + groupBy-avg. Each
    iteration is one pass over the data; only k x dim floats ever
    reach the driver. An empty cell keeps its previous centroid.

    At 100 TB: run the iterations on a bounded sample (the assign/avg
    operators are scan-shaped, so a ``df.sample`` feeds in directly)."""
    import math

    cents = train_centroids_sample(df, k, vec_col, id_col)
    for _ in range(n_iters):
        assigned = ivf_assign(
            df.select(id_col, vec_col), cents, vec_col, nprobe=1
        )
        v = as_double(F.col(vec_col))
        rows = (
            assigned.select("cell", F.posexplode(v).alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("pairs")
            )
            .select("cell", F.transform("pairs", lambda s: s["m"]).alias("mean"))
            .collect()
        )
        new = {r["cell"]: r["mean"] for r in rows}
        nxt = []
        for i in range(len(cents)):
            vec = list(new.get(i, cents[i]))
            nrm = math.sqrt(sum(x * x for x in vec)) or 1.0
            nxt.append([x / nrm for x in vec])
        cents = nxt
    return cents


def _kmeans_assign(frame, cents, vec_col, id_col, digits):
    """Lazy assignment projection: argmax over the rounded dot with
    the centroid literals, ties to the larger cell (the exact
    tiebreak :func:`ivf_assign`'s reverse(array_sort) produces).
    Keeps ``__v`` so the Lloyd update can posexplode without
    re-normalizing."""
    v = as_double(F.col(vec_col))
    cent = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    scored = F.transform(
        cent,
        lambda c, i: F.struct(
            F.round(dot(v, c), digits).alias("score"),
            i.alias("cell"),
        ),
    )
    top = F.element_at(F.reverse(F.array_sort(scored)), 1)
    return frame.select(
        F.col(id_col).alias("id"),
        v.alias("__v"),
        top["cell"].cast("int").alias("cluster_id"),
        top["score"].alias("score"),
    )


def kmeans_train(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
    train_frac: float | None = None,
    engine: str = "auto",
) -> list[list[float]]:
    """The EAGER half of the engine-portable k-means: stride-sample
    seeding + ``n_iters`` Lloyd iterations, returning the final
    L2-normalized centroids as plain Python floats. Eagerness lives
    HERE by necessity (each iteration's plan embeds the previous
    iteration's centroids as literals, so training must run jobs);
    assignment composition stays lazy — train once with this, then
    pass the result to :func:`kmeans_assignments` ``centroids=`` and
    compose/`explain` freely with zero jobs.

    Every cross-stage value is rounded to ``digits`` — assignment
    scores, per-dim centroid means, normalized components — so an
    oracle re-deriving the identical loop lands on bit-equal cluster
    boundaries instead of drifting apart at fp-summation-order ulps.

    Scale shape: centroids travel as literal arrays (k x dim floats —
    never a join side); each Lloyd update is one scan + one
    (cell, dim)-bounded aggregate, with only k x dim floats reaching
    the driver per iteration. Assignment uses the interpreted
    higher-order dot on purpose — the literals change per iteration,
    and unrolled codegen was measured to cost ~15 s of Janino
    compilation per distinct centroid set.

    ``train_frac`` is the 100 TB lever, as code: when set, seeding
    and the Lloyd iterations run on the deterministic Knuth-hash
    subset of the corpus ((id * 2654435761) mod 10000 <
    frac * 10000 — the repo's engine-portable sampling discipline,
    reproducible on any cluster size, never ``rand()``). Centroid
    quality needs a sample; membership needs the corpus.

    ``engine`` picks the per-iteration assignment implementation:
    ``expr`` (centroid-literal plan — right below the measured k~128
    crossover), ``arrow`` (:func:`kmeans_assign_arrow`'s broadcast
    numpy matrix — the large-k engine whose plan size is O(1) in k),
    or ``auto`` (dispatch on the crossover). Either engine lands on
    the same rounded cross-stage values, so the trained centroids are
    engine-portable (graded: v_semdedup_coarse_k512 trains under
    arrow against the same DuckDB replay the expr points use)."""

    v = as_double(F.col(vec_col))

    def _normalize(frame, arr_col):
        # round(component / norm) with the repo's zero-norm -> 1.0
        # convention, all in Spark expressions (F.round's half-up
        # matches the oracle's round(); python's round() is half-even)
        nrm2 = dot(F.col(arr_col), F.col(arr_col))
        safe = F.when(nrm2 == 0.0, F.lit(1.0)).otherwise(F.sqrt(nrm2))
        return frame.withColumn(
            arr_col,
            F.transform(arr_col, lambda x: F.round(x / safe, digits)),
        )

    train = df
    if train_frac is not None:
        cut = int(train_frac * 10000)
        train = df.where(
            F.pmod(F.col(id_col) * F.lit(2654435761), F.lit(10000)) < cut
        )
    n = train.count()
    stride = max(n // k, 1)
    seed_rows = (
        _normalize(
            train.where(F.col(id_col) % stride == 0)
            .orderBy(id_col)
            .limit(k)
            .select(v.alias("c")),
            "c",
        )
    ).collect()
    cents = [list(r["c"]) for r in seed_rows]
    eng = _resolve_engine(engine, len(cents), train, id_col)

    for _ in range(n_iters):
        if eng == "arrow":
            a = kmeans_assign_arrow(
                train, cents, vec_col, id_col, digits, keep_vec=True
            )
        else:
            a = _kmeans_assign(train, cents, vec_col, id_col, digits)
        upd = (
            a.select(
                "cluster_id", F.posexplode("__v").alias("dim", "x")
            )
            .groupBy("cluster_id", "dim")
            .agg(F.round(F.avg("x"), digits).alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("pairs")
            )
            .select(
                "cluster_id",
                F.transform("pairs", lambda s: s["m"]).alias("c"),
            )
        )
        rows = _normalize(upd, "c").collect()
        new = {r["cluster_id"]: list(r["c"]) for r in rows}
        # range over the SEEDED count, not k: a corpus smaller than k
        # yields fewer stride seeds, and the effective cluster count
        # is theirs (cells are dense 0..len(cents)-1 by construction)
        cents = [new.get(i, cents[i]) for i in range(len(cents))]

    return cents


def kmeans_assignments(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
    train_frac: float | None = None,
    centroids: list[list[float]] | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Per-vector assignment ``(id, cluster_id, score)`` from the
    engine-portable k-means loop — exposed so samplers and
    per-cluster consumers can compose on the assignment without
    re-deriving the loop (:func:`kmeans_corpus_clusters` builds its
    k-row summary on this). See :func:`kmeans_train` for the rounding
    contract, the ``train_frac`` sampling lever, and the 100 TB
    shape.

    ``centroids=None`` (the graded default) trains here and now —
    calling this RUNS the Lloyd loop (a count + one k x dim collect
    per iteration) before returning the frame, because each
    iteration's plan embeds the previous iteration's centroids as
    literals. Pass pre-trained ``centroids`` (from
    :func:`kmeans_train` — train once) and composition is FULLY LAZY:
    zero jobs until an action, safe for explain-only tooling that
    walks the registry (pinned by
    tests/test_similarity.py::test_kmeans_injected_centroids_is_lazy).
    ``k``/``n_iters``/``train_frac`` are ignored when ``centroids``
    is given. ``engine`` dispatches flat assignment between the
    centroid-literal plan and :func:`kmeans_assign_arrow` (see
    :func:`kmeans_train`); both engines are lazy here when centroids
    are injected (broadcasting the numpy matrix runs no job)."""
    if centroids is None:
        centroids = kmeans_train(
            df, k, n_iters, vec_col, id_col, digits, train_frac, engine
        )
    if _resolve_engine(engine, len(centroids), df, id_col) == "arrow":
        return kmeans_assign_arrow(df, centroids, vec_col, id_col, digits)
    return _kmeans_assign(df, centroids, vec_col, id_col, digits).select(
        "id", "cluster_id", "score"
    )


def kmeans_corpus_clusters(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
    train_frac: float | None = None,
) -> DataFrame:
    """Corpus clustering summary for training-mix diversity
    accounting: ``(cluster_id, n_vecs, mean_sim)`` — k rows at any
    corpus size, where mean_sim averages each member\'s rounded dot
    with its final (L2-normalized) centroid. Built on
    :func:`kmeans_assignments` (which see, for the engine-portable
    rounding contract, the ``train_frac`` sampling lever, and the
    100 TB shape)."""
    a = kmeans_assignments(
        df, k, n_iters, vec_col, id_col, digits, train_frac=train_frac
    )
    return a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("score"), digits).alias("mean_sim"),
    )


def _probe_matrix(queries, centroids, nprobe, q_ids, id_col, vec_col):
    """(n_cells x |Q|) bool: the cells each query probes, from
    :func:`ivf_assign` (one collect of |Q| x nprobe rows)."""
    import numpy as np

    col = {int(qid): j for j, qid in enumerate(q_ids)}
    probe = np.zeros((len(centroids), len(q_ids)), dtype=bool)
    assigned = ivf_assign(
        queries.select(id_col, vec_col), centroids, vec_col, nprobe
    )
    for qid, cell in assigned.select(id_col, "cell").collect():
        probe[cell, col[qid]] = True
    return probe


def _probed(cell, probe, block):
    """Batch x |Q| scores filled only where the query probes the row's
    cell, ``-inf`` elsewhere: one ``block(rows, qs)`` call per cell
    present in the batch, so IVF scores only its nprobe/n_cells share
    of the pairs."""
    import numpy as np

    s = np.full((len(cell), probe.shape[1]), -np.inf)
    for g in np.unique(cell):
        rows = np.nonzero(cell == g)[0]
        qs = np.nonzero(probe[g])[0]
        if len(qs):
            s[np.ix_(rows, qs)] = block(rows, qs)
    return s


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    corpus_engine: str = "expr",
) -> DataFrame:
    """IVF ANN top-k: corpus partitioned into centroid cells once;
    each query scores only its ``nprobe`` probed cells. Candidate cost
    ~ nprobe/k_cells of the corpus — the inverted-file scale path
    (recall tunable via nprobe).

    Scoring runs on :func:`_arrow_topk`: composing collects the |Q|
    query vectors and their probe sets (:func:`ivf_assign`, |Q| x
    nprobe rows) to the driver, as :func:`cosine_topk_arrow` collects
    its queries; each corpus batch then runs one cosine matmul per
    cell present, against the queries that probe it. The corpus never
    shuffles and no join is planned. Ids ride the kernel as int64:
    non-integral id columns raise TypeError up front, and
    ``neighbor_id`` comes back as long. ``dim`` (default: the
    centroids' width) is checked against every corpus batch.

    ``corpus_engine='arrow'`` runs the corpus-side cell assignment on
    :func:`kmeans_assign_arrow` (broadcast numpy centroid matrix, one
    BLAS matmul per Arrow batch) instead of the k x dim
    literal-expression plan — the engine PERFORMANCE.md's r13 table
    "Arrow-vs-expression assignment crossover" shows is flat in k while
    the expr plan's compose/codegen cost grows linearly in k (measured
    1.25 s/run for the expr corpus assign at sf0.1, k=16). The two
    engines can DISAGREE on a vector's cell whenever its top two cell
    scores are within ~1e-6 of each other — not just at ulp-level
    ties: ``kmeans_assign_arrow`` argmaxes the HALF_UP-rounded
    (``digits=6``) scores while :func:`ivf_assign` sorts unrounded
    dots (r13 ADVICE). That seam is invisible only when every cell is
    probed, so the arrow engine is REFUSED for ``nprobe < n_cells``
    (raise below): in that regime cell assignment is part of the
    output contract and callers must keep the expr engine."""
    import numpy as np

    if not centroids:
        raise ValueError("ivf_topk: centroids is empty — need at least one cell")
    if dim is None:
        dim = len(centroids[0])
    if corpus_engine == "arrow" and nprobe < len(centroids):
        raise ValueError(
            "ivf_topk: corpus_engine='arrow' requires nprobe >= "
            f"n_cells (got nprobe={nprobe}, n_cells={len(centroids)}) "
            "— with unprobed cells the rounded-score argmax can move "
            "a corpus vector across the probe boundary and change the "
            "result; use the expression engine"
        )
    if corpus_engine == "arrow":
        cells = kmeans_assign_arrow(
            corpus.select(id_col, vec_col), centroids, vec_col, id_col,
            keep_vec=True,
        ).select(
            F.col("id").alias(id_col),
            F.col("__v").alias(vec_col),
            F.col("cluster_id").alias("cell"),
        )
    else:
        # nprobe=1: each corpus vector lives in exactly ONE cell, so a
        # (query, neighbor) pair meets at most once however many cells
        # the query probes
        cells = ivf_assign(
            corpus.select(id_col, vec_col), centroids, vec_col, nprobe=1
        )

    def scorer(q_ids, q):
        probe = _probe_matrix(queries, centroids, nprobe, q_ids, id_col, vec_col)

        def score(pdf):
            c = _batch_matrix(pdf[vec_col], dim)
            cn = _row_norms(c)
            sims = _probed(
                pdf["cell"].to_numpy(), probe,
                lambda rows, qs: (c[rows] @ q[qs].T) / cn[rows, None],
            )
            return pdf[id_col].to_numpy(dtype=np.int64), sims

        return score

    return _arrow_topk(queries, cells, id_col, k, id_col, vec_col, scorer)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 7,
    n_tables: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP buckets (the
    embedding-space analogue of MinHash near-dup). ``n_tables``
    independent hash tables (different seeds) union their candidates:
    per-pair recall 1-(1-p^n_planes)^T for per-plane collision prob p
    — the dial between cost and recall. Candidates are exact-rescored,
    so precision is always exact. ``dim=None`` runs a tiny eager probe
    job at composition time — pass ``dim`` to stay lazy."""
    if dim is None:
        dim = _dim_of(df, vec_col)
    # all n_tables signatures in one Arrow kernel pass (one scan, one
    # matmul per batch — see _srp_bucket_frame) on the scan's natural
    # splits; the self-join below shuffles on (table_idx, bucket), so
    # pair scoring gets its parallelism from the exchange, not from
    # pre-spreading the kernel stage (which was measured to thrash the
    # Python worker pool on small inputs: 2 x 32 concurrent spawns)
    sig = _norm_side(
        _srp_bucket_frame(df, id_col, vec_col, n_planes, seed, n_tables, dim),
        id_col, vec_col, "id", "v", "n", dim, "table_idx", "bucket",
    )
    a, b = sig.alias("a"), sig.alias("b")
    scored = a.join(
        b,
        (F.col("a.table_idx") == F.col("b.table_idx"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.round(
            _pair_sim(
                F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n"), dim
            ),
            6,
        ).alias("sim"),
        # pushdown barrier: without a nondeterministic field in this
        # projection, Catalyst transplants the `sim >= threshold`
        # filter INTO the bucket-join condition, where the full
        # 64-term dot product is re-evaluated per candidate pair
        # outside whole-stage codegen (measured 0.8s -> 11.4s on 2M
        # candidates). Keeping the filter above the projection scores
        # each pair exactly once, vectorized.
        F.monotonically_increasing_id().alias("__nd"),
    )
    return (
        scored.where(F.col("sim") >= threshold)
        .drop("__nd")
        # pairs meeting in several tables dedup here (key-only compare)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the sub-vector codebook compression path
# ---------------------------------------------------------------------------


def train_pq(
    df: DataFrame,
    dim: int,
    m: int = 16,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 256,
    n_iters: int = 8,
):
    """Train a product-quantization codebook: split ``dim`` into ``m``
    subspaces and k-means each subspace independently. Vectors are
    L2-normalized first, so PQ inner product approximates cosine.

    Training runs driver-side on a bounded stride sample (``sample``
    vectors = sample x dim floats — a few hundred KB at any corpus
    size; sample-based codebook training is the standard practice, and
    the deterministic id-stride keeps runs reproducible). Returns a
    list of m (k x dim/m) numpy arrays."""
    import math

    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    n = df.count()
    stride = max(n // sample, 1)
    rows = (
        df.where(F.col(id_col) % stride == 0)
        .orderBy(id_col)
        .limit(sample)
        .select(as_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    x = x / _row_norms(x)[:, None]
    sub = dim // m
    codebook = []
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        # deterministic stride seeding, then Lloyd
        cents = xs[:: max(len(xs) // k, 1)][:k].copy()
        if len(cents) < k:  # tiny sample: pad by repeating
            cents = np.resize(cents, (k, sub))
        for _ in range(n_iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = xs[mask].mean(axis=0)
        codebook.append(cents)
    return codebook


def pq_encode(
    df: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each (normalized) vector as ``m`` one-byte centroid ids —
    dim x 8 bytes collapse to m bytes (32x at dim=64, m=16): the
    corpus representation that makes billion-vector search fit in
    memory. One Arrow pass, argmin per subspace vectorized."""
    import numpy as np

    from pyspark.sql import types as T

    m = len(codebook)
    sub = codebook[0].shape[1]
    dim = m * sub
    out_schema = T.StructType(
        [
            T.StructField("code_id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.ShortType())),
        ]
    )

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _batch_matrix(pdf[vec_col], dim)
            x = x / _row_norms(x)[:, None]
            codes = np.empty((len(x), m), dtype=np.int16)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                d2 = ((xs[:, None, :] - codebook[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "code_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(fn, out_schema)


def _pq_luts(codebook, q):
    """ADC lookup tables for the unit-norm query matrix ``q``:
    ``luts[j][c, qi] = <q[qi] sub-vector j, centroid c of subspace j>``
    (m x k_centroids x |Q|)."""
    import numpy as np

    sub = codebook[0].shape[1]
    return np.stack(
        [cb @ q[:, j * sub : (j + 1) * sub].T for j, cb in enumerate(codebook)]
    )


def _adc(luts, codes):
    """ADC scores (rows x |Q|) of one-byte-code rows: m table lookups
    per pair, summed — the original vectors are never touched."""
    return sum(luts[j][codes[:, j]] for j in range(len(luts)))


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebook,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes on
    :func:`_arrow_topk`: each query precomputes an m x k_centroids
    inner-product lookup table (driver-side — queries are the small
    side by construction), each corpus partition scores its LOCAL
    codes with pure table lookups (m adds per pair, never touching the
    original vectors) and emits only its local top-k per query; a
    final window takes the global top-k. The corpus never shuffles;
    the shuffled intermediate is k x |Q| rows per partition regardless
    of corpus size. Approximate by construction — grade with a recall
    gate against the exact engine, never with value equality."""
    import numpy as np

    def scorer(_q_ids, q):
        luts = _pq_luts(codebook, q)

        def score(pdf):
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            return pdf["code_id"].to_numpy(dtype=np.int64), _adc(luts, codes)

        return score

    return _arrow_topk(
        queries, corpus_codes, "code_id", k, id_col, vec_col, scorer, "score"
    )


def pq_topk_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    corpus_codes: DataFrame,
    codebook,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """PQ search with exact rerank — the production IVF-PQ+refine
    shape: the ADC pass over the compressed codes produces a
    ``shortlist`` of candidates per query (tiny: shortlist x |Q|
    rows), then ONLY those candidates are rescored against the raw
    vectors with the bit-exact JVM cosine, and the top ``k`` of the
    rescore is returned. Recall equals shortlist coverage (the dial:
    shortlist=10x k recovered 100% of true top-5 on the fixture),
    while rescore cost stays shortlist x |Q| instead of |corpus| x |Q|.

    Scale shape: the candidate list joins the (broadcast) query
    vectors driver-free and BROADCASTS against the corpus — the
    corpus never shuffles; same output contract as
    :func:`cosine_topk`, so shortlist coverage 1.0 makes the result
    EXACTLY the brute-force answer."""
    if dim is None:
        dim = _dim_of(corpus, vec_col, queries)
    cand = pq_topk(
        queries, corpus_codes, codebook, k=shortlist,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    return rerank_exact(queries, corpus, cand, k, id_col, vec_col, dim)


def rerank_exact(
    queries: DataFrame,
    corpus: DataFrame,
    cand: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact rescore of a candidate shortlist — the refine stage every
    approximate index shares (PQ ADC, truncated-dim prefilter, LSH):
    ``cand`` is (query_id, neighbor_id); the shortlist joins the query
    vectors and BROADCASTS against the corpus (which never shuffles),
    the bit-exact JVM cosine rescans only shortlist x |Q| pairs, and
    the output contract matches :func:`cosine_topk` — so shortlist
    coverage 1.0 makes the result exactly the brute-force answer."""
    if dim is None:
        dim = _dim_of(corpus, vec_col, queries)
    qside = _norm_side(queries, id_col, vec_col, "query_id", "qv", "qn", dim)
    cside = _norm_side(corpus, id_col, vec_col, "neighbor_id", "cv", "cn", dim)
    scored = (
        F.broadcast(cand.join(qside, "query_id"))
        .join(cside, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _pair_sim(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), dim
            ).alias("sim_full"),
        )
    )
    return _global_topk(scored, k, "sim_full", "sim")


def ivfpq_topk_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    codebook,
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ with exact rerank — the canonical billion-scale index
    (coarse inverted lists x product-quantized residuals x refine),
    composed from the operators above:

    1. the corpus assigns once to coarse cells (``ivf_assign``,
       literal centroids, JVM-side) and PQ-encodes once
       (``pq_encode``, m bytes/vector);
    2. each query probes its ``nprobe`` nearest cells; the ADC kernel
       scores ONLY code rows in probed cells (per-query cell masks
       ship with the lookup tables), so candidate cost is
       nprobe/k_cells of the corpus at m table-adds per pair;
    3. the shortlist is rescored with the bit-exact JVM cosine
       (``rerank_exact``) — recall equals shortlist coverage.

    The corpus never shuffles at any stage; everything that reaches
    the driver is bounded (centroids, codebook sample, |Q| query
    vectors)."""
    import numpy as np

    if dim is None:
        dim = _dim_of(corpus, vec_col, queries)

    coded = pq_encode(corpus, codebook, id_col, vec_col)
    cells = ivf_assign(
        corpus.select(F.col(id_col).alias("code_id"), vec_col),
        centroids, vec_col, nprobe=1,
    ).select("code_id", "cell")
    # codes ⋈ cells on the id: both sides derive from the same scan;
    # at scale the (id, cell, codes) index table is built once and
    # persisted, so the join is a build-time cost, not a query cost
    indexed = coded.join(cells, "code_id")

    def scorer(q_ids, q):
        luts = _pq_luts(codebook, q)
        probe = _probe_matrix(queries, centroids, nprobe, q_ids, id_col, vec_col)

        def score(pdf):
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            s = _probed(
                pdf["cell"].to_numpy(), probe,
                lambda rows, qs: _adc(luts[:, :, qs], codes[rows]),
            )
            return pdf["code_id"].to_numpy(dtype=np.int64), s

        return score

    cand = _arrow_topk(
        queries, indexed, "code_id", shortlist, id_col, vec_col, scorer, "score"
    ).select("query_id", "neighbor_id")
    return rerank_exact(queries, corpus, cand, k, id_col, vec_col, dim)


# ---------------------------------------------------------------------------
# semantic (embedding-level) eval-set decontamination
# ---------------------------------------------------------------------------


def semantic_contamination(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int | None = None,
    approx: bool | None = None,
    bucket_min_eval: int = 8192,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 101,
) -> DataFrame:
    """Embedding-level eval-set decontamination — the semantic
    counterpart of ``ext.dedup.contamination_report`` (n-gram overlap
    misses paraphrased/near-translated leakage; cosine similarity to
    an eval embedding catches it). Emits only contaminated training
    rows: ``(train_id, n_eval_hits, max_sim)`` where ``n_eval_hits``
    counts eval vectors with cosine >= ``threshold`` and ``max_sim``
    is the highest (6-dp-rounded) similarity.

    Two physical strategies, same output contract:

    * **exact broadcast-NL** (the default for small evals): the EVAL
      side broadcasts (benchmarks are tiny next to a training corpus,
      by construction) and the training corpus streams through one
      broadcast-NL scoring pass — per-row norms computed once below
      the join, the pair dot in flat whole-stage codegen
      (:func:`_pair_sim`), no train-side shuffle before the per-doc
      aggregate. Exact: recall 1 by construction.
    * **SRP-LSH pre-candidate** (``approx=True``, or automatically
      when the eval side exceeds ``bucket_min_eval`` rows): both sides
      are bucketed with the SAME SRP hash tables
      (:func:`_srp_bucket_frame` — one Arrow matmul pass per side) and
      only COLLIDING (train, eval) pairs are scored, joined on
      (table_idx, bucket). Decontamination runs against every training
      shard at 100 TB, and a leaderboard-size eval set (100k+ rows x
      768 dims) is past broadcast range — the bucket join replaces the
      full cross product with a shuffle both sides prune. Candidate
      recall for a pair at cosine s is 1-(1-p^n_planes)^n_tables with
      p = 1 - acos(s)/pi; the defaults (6 planes x 8 tables) give
      ~0.98 at s=0.9, rising toward 1 for the more-contaminated pairs
      that matter most. Precision stays exact (every candidate is
      fully rescored); only recall is approximate, so ``n_eval_hits``
      is a lower bound under ``approx``.

    ``approx=None`` picks automatically with one tiny bounded probe
    job (``limit(bucket_min_eval+1).count()``) at composition time;
    pass ``approx`` explicitly to stay fully lazy (the graded entry
    point does: it passes ``approx=False`` so explain-only tooling on
    the registered query never runs a cluster action). Thresholding uses
    the ROUNDED similarity so the keep/drop boundary is
    engine-portable (same contract as every graded cosine query
    here)."""
    if dim is None:
        dim = _dim_of(train, vec_col, evalset)
    if approx is None:
        approx = (
            evalset.limit(bucket_min_eval + 1).count() > bucket_min_eval
        )

    if not approx:
        t = _norm_side(
            fan_out(train), id_col, vec_col, "train_id", "tv", "tn", dim
        )
        e = _norm_side(evalset, id_col, vec_col, "eval_id", "ev", "en", dim)
        scored = t.crossJoin(F.broadcast(e)).select(
            "train_id",
            "eval_id",
            F.round(
                _pair_sim(
                    F.col("tv"), F.col("ev"), F.col("tn"), F.col("en"), dim
                ),
                6,
            ).alias("sim"),
        )
        # countDistinct, not count(1): the approx path below counts
        # DISTINCT eval ids (multi-table collisions duplicate pairs),
        # so the exact path must share the same contract — otherwise a
        # duplicate eval_id row would make the bucket_min_eval
        # auto-switch silently change output semantics
        return (
            scored.where(F.col("sim") >= threshold)
            .groupBy("train_id")
            .agg(
                F.countDistinct("eval_id").alias("n_eval_hits"),
                F.max("sim").alias("max_sim"),
            )
        )

    # SRP-bucketed path: signatures for BOTH sides from the same
    # hyperplane tables, so colliding buckets mean correlated sign
    # patterns. Join shuffles on (table_idx, bucket) — the only
    # shuffle that carries vectors. Pairs meeting in several tables
    # are absorbed by the aggregate itself: duplicate (train, eval)
    # rows carry IDENTICAL sim (same vectors, same arithmetic), so
    # count(DISTINCT eval_id) + max(sim) per train_id is exact with no
    # dropDuplicates stage — a separate pair-dedup was measured to
    # push a partial-first aggregate into the scoring stage's codegen
    # unit, blowing the Janino method limit (whole stage fell back to
    # interpreted) and costing an extra shuffle.
    def side(df, out_id, out_vec, out_norm):
        return _norm_side(
            _srp_bucket_frame(df, id_col, vec_col, n_planes, seed, n_tables, dim),
            id_col, vec_col, out_id, out_vec, out_norm, dim, "table_idx", "bucket",
        )

    t = side(train, "train_id", "tv", "tn")
    e = side(evalset, "eval_id", "ev", "en")
    scored = t.join(e, ["table_idx", "bucket"]).select(
        "train_id",
        "eval_id",
        F.round(
            _pair_sim(F.col("tv"), F.col("ev"), F.col("tn"), F.col("en"), dim),
            6,
        ).alias("sim"),
        # pushdown barrier (same as embedding_near_dup_pairs): without
        # a nondeterministic field here Catalyst transplants the
        # `sim >= threshold` filter INTO the bucket-join condition,
        # re-evaluating the flat dot per candidate outside codegen
        F.monotonically_increasing_id().alias("__nd"),
    )
    return (
        scored.where(F.col("sim") >= threshold)
        .drop("__nd")
        .groupBy("train_id")
        .agg(
            F.countDistinct("eval_id").alias("n_eval_hits"),
            F.max("sim").alias("max_sim"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup inside k-means clusters
# ---------------------------------------------------------------------------


def semdedup_survivors(
    df: DataFrame,
    k: int | None = None,
    n_iters: int = 2,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
    coarse: bool = False,
    n_groups: int | None = None,
    nprobe: int = 2,
    engine: str = "auto",
    target_cluster: int = 32,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding corpus with the engine-portable k-means loop, compute
    pairwise cosine ONLY within each cluster, and of every pair above
    ``threshold`` drop the member CLOSER to its centroid (the paper's
    keep-the-outlier policy — the retained copy preserves more of the
    cluster's diversity), ties to the smaller id. Returns one row per
    input vector: ``(id_col, cluster_id, kept)``.

    Scale shape: the all-pairs stage is confined to clusters — at
    100 TB, k grows with the corpus (the paper uses k ~ sqrt(n)) so
    per-cluster membership, and hence the pair fanout sum(c_i^2), stays
    bounded; the join key is cluster_id, norms are computed once per
    ROW below the join (``_pair_sim`` economics), and the dropped-id
    set (bounded by the duplicate mass, a small fraction of n) is the
    only thing crossing back — an id-only left join. Pass pre-trained
    ``centroids`` to keep composition lazy (see
    :func:`kmeans_assignments`); the graded default trains inline.

    ``k=None`` (the default since r13) derives
    ``k = max(8, n // target_cluster)`` from the corpus — k ~ n with
    ~``target_cluster`` members per cluster IS the honest scale
    regime (a fixed k makes the pair stage n^2/k — quadratic — the
    r12-measured caveat), so it is now the default rather than a
    docstring warning. The derivation costs one count job; pass an
    explicit ``k`` (or ``centroids``) to skip it. The auto-k rule
    itself is graded: v_semdedup_auto_k's oracle replays the
    ``greatest(8, count // target)`` derivation inside the SQL.
    """
    if k is None:
        # centroids given -> k is ignored downstream anyway; avoid the
        # count job and keep composition lazy
        k = 8 if centroids is not None else max(
            8, df.count() // target_cluster
        )
    if coarse:
        # the n*k escape hatch: two-stage IVF-style assignment,
        # ~2*sqrt(k) dots per row — approximate, gate on measured
        # recall (see coarse_assignments)
        if centroids is None:
            centroids = kmeans_train(
                df, k, n_iters, vec_col, id_col, digits, engine=engine
            )
        asg = coarse_assignments(
            df, centroids, vec_col, id_col, digits, n_groups=n_groups,
            nprobe=nprobe, engine=engine,
        )
    else:
        asg = kmeans_assignments(
            df, k, n_iters, vec_col, id_col, digits, centroids=centroids,
            engine=engine,
        )
    v = as_double(F.col(vec_col))
    base = df.select(F.col(id_col).alias("id"), v.alias("v"))
    m = asg.join(base, "id").withColumn(
        # _checked_norm (not a bare dot_flat) so a wrong caller dim
        # fails loudly instead of silently truncating the vectors
        "n", _checked_norm(F.col("v"), dim) if dim
        else F.sqrt(dot(F.col("v"), F.col("v")))
    )
    a = m.select(
        F.col("id").alias("id_a"), "cluster_id",
        F.col("score").alias("sc_a"), F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    b = m.select(
        F.col("id").alias("id_b"), "cluster_id",
        F.col("score").alias("sc_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    sim = F.round(
        (_pair_sim(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"), dim)
         if dim else
         dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))),
        digits,
    )
    pairs = (
        a.join(b, "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(sim >= F.lit(threshold))
    )
    # drop the member closer to its centroid (higher rounded score);
    # on a tie drop the larger id — id_a < id_b here, so `otherwise`
    # covers both the sc_a < sc_b and the tie case
    closer_to_centroid = F.when(
        F.col("sc_a") > F.col("sc_b"), F.col("id_a")
    ).otherwise(F.col("id_b"))
    dropped = pairs.select(closer_to_centroid.alias("id")).distinct()
    return (
        m.join(dropped.withColumn("_drop", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def _group_centroids(
    cents: list[list[float]], n_groups: int, n_iters: int = 5
) -> tuple[list[list[float]], list[list[int]]]:
    """Tiny driver-side Lloyd over the CENTROIDS themselves (k points,
    k << n — microseconds): returns ``(group_means, members)`` where
    ``members[g]`` lists the centroid indices routed to group g.
    Deterministic AND engine-portable: stride seeding, argmax on the
    rounded dot with ties to the larger group (the same tiebreak the
    engine-portable loop uses), empty groups keep their previous
    mean, and — like every cross-stage value in this module — the
    normalized group-mean components are rounded to 6 dp, so a SQL
    oracle replaying this loop (``v_semdedup_coarse_k64``) lands on
    bit-equal group boundaries instead of drifting at fp ulps."""
    import math

    k, dim = len(cents), len(cents[0])

    def _norm(v):
        s = math.sqrt(sum(x * x for x in v))
        return [round(x / s if s else x, 6) for x in v]

    stride = max(k // n_groups, 1)
    means = [_norm(cents[i]) for i in range(0, k, stride)][:n_groups]
    members: list[list[int]] = [[] for _ in means]
    for _ in range(n_iters):
        members = [[] for _ in means]
        for ci, c in enumerate(cents):
            best, bg = None, 0
            for gi, m in enumerate(means):
                sc = round(sum(a * b for a, b in zip(c, m)), 6)
                if best is None or sc > best or (sc == best and gi > bg):
                    best, bg = sc, gi
            members[bg].append(ci)
        for gi, mem in enumerate(members):
            if mem:
                mean = [
                    sum(cents[ci][j] for ci in mem) / len(mem)
                    for j in range(dim)
                ]
                means[gi] = _norm([round(x, 6) for x in mean])
    return means, members


def coarse_assignments(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
    n_groups: int | None = None,
    nprobe: int = 2,
    engine: str = "auto",
) -> DataFrame:
    """IVF-style two-stage centroid assignment: rank ~sqrt(k) group
    means first, then argmax over the top-``nprobe`` groups' member
    centroids — ~(sqrt(k) + nprobe*sqrt(k)) dots per row instead of k. This is the scale escape
    for the flat assignment's n*k growing term (the semdedup probe's
    named cost once k scales with the corpus): APPROXIMATE, since the
    true nearest centroid can live in a non-nearest group, so consumers
    gate it on measured agreement/recall (see
    ``v_semdedup_coarse_recall``), exactly the IVF nprobe trade.
    Returns ``(id, cluster_id, score)`` like :func:`kmeans_assignments`;
    fully lazy (centroids are literals). Above the measured k~128
    crossover, ``engine='auto'`` dispatches to
    :func:`coarse_assign_arrow` — same two-stage semantics, broadcast
    numpy structure instead of the O(k x dim) nested literal tree
    (which is a plan-size blow-up in the k ~ n regime, the exact gap
    this escape exists for)."""
    import math

    k = len(centroids)
    if _resolve_engine(engine, k, df, id_col) == "arrow":
        return coarse_assign_arrow(
            df, centroids, vec_col, id_col, digits, n_groups, nprobe
        )
    g = n_groups or max(1, math.isqrt(k))
    means, members = _group_centroids(centroids, g)
    v = as_double(F.col(vec_col))
    # rank only NON-EMPTY groups (an empty group has no candidate
    # centroids — probing it wastes one of the nprobe slots and, on
    # the knife edge, picks no candidates at all); grp keeps its
    # ORIGINAL index so tiebreaks stay oracle-portable
    nonempty = [gi for gi, mem in enumerate(members) if mem]
    scored_g = F.array(
        *[
            F.struct(
                F.round(
                    dot(v, F.array(*[F.lit(float(x)) for x in means[gi]])),
                    digits,
                ).alias("score"),
                F.lit(gi).alias("grp"),
            )
            for gi in nonempty
        ]
    )
    top_gs = F.slice(F.reverse(F.array_sort(scored_g)), 1, nprobe)
    # ragged nested literal: members[g] -> array of (cell, vector)
    nested = F.array(
        *[
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("cell"),
                        F.array(
                            *[F.lit(float(x)) for x in centroids[ci]]
                        ).alias("c"),
                    )
                    for ci in mem
                ]
            )
            for mem in members
        ]
    )
    cand = F.flatten(
        F.transform(top_gs, lambda t: F.element_at(nested, t["grp"] + 1))
    )
    scored = F.transform(
        cand,
        lambda m: F.struct(
            F.round(dot(v, m["c"]), digits).alias("score"),
            m["cell"].alias("cell"),
        ),
    )
    top = F.element_at(F.reverse(F.array_sort(scored)), 1)
    return df.select(
        F.col(id_col).alias("id"),
        top["cell"].cast("int").alias("cluster_id"),
        top["score"].alias("score"),
    )


# ---------------------------------------------------------------------------
# large-k centroid assignment: Arrow/numpy engines
# ---------------------------------------------------------------------------

# measured flat-expr vs arrow crossover (PERFORMANCE.md, "Arrow-vs-
# expression assignment crossover"): below this k the literal-expression
# argmax wins (no Python worker round-trip); above it the k x dim literal tree starts costing more in
# plan/codegen than the Arrow batch transfer — and at the k ~ n regime
# SemDeDup prescribes for 100 TB (k = 10^4..10^6) the literal plan is
# not merely slow but a driver-side plan-size blow-up, which the numpy
# kernel sidesteps entirely (centroids travel as ONE broadcast matrix,
# plan size O(1) in k).
_ARROW_K_CROSSOVER = 128


def _integral_id(df: DataFrame, id_col: str) -> bool:
    from pyspark.sql import types as T

    return isinstance(
        df.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )


def _resolve_engine(engine: str, k: int, df: DataFrame, id_col: str) -> str:
    """Pick the assignment engine: ``expr`` (centroid literals, codegen,
    zero Python) below the measured crossover, ``arrow`` (broadcast
    numpy matrix, BLAS matmul per batch) above it. The arrow kernels
    carry ids as int64, so a non-integral id pins ``auto`` to expr and
    makes an explicit ``arrow`` request fail loudly up front."""
    if engine == "expr":
        return "expr"
    if engine == "arrow":
        if not _integral_id(df, id_col):
            raise TypeError(
                f"arrow assignment engine needs an integral {id_col!r} "
                f"(got {df.schema[id_col].dataType.simpleString()}); "
                "use engine='expr' for non-integral ids"
            )
        return "arrow"
    if engine != "auto":
        raise ValueError(f"unknown engine {engine!r} (expr|arrow|auto)")
    if k > _ARROW_K_CROSSOVER and _integral_id(df, id_col):
        return "arrow"
    return "expr"


def _round_half_up_vec(a, digits: int):
    """Vectorized HALF_UP (away from zero) decimal rounding of a float64
    array, bit-matching :func:`_round_half_up`: the bulk path is the
    scaled floor trick (exact except when the FP multiply lands within
    ~1e-7 of a .5 boundary in scaled space), and every suspect entry is
    re-rounded through the exact decimal path — so knife-edge values
    cannot silently diverge between the numpy and expression engines."""
    import numpy as np

    scale = 10.0 ** digits
    mag = np.abs(a) * scale
    out = np.sign(a) * np.floor(mag + 0.5) / scale
    frac = np.abs(mag - np.floor(mag) - 0.5)
    suspect = np.nonzero((frac < 1e-7).ravel())[0]
    if len(suspect):
        flat_a, flat_o = a.ravel(), out.ravel().copy()
        for i in suspect:
            flat_o[i] = _round_half_up(float(flat_a[i]), digits)
        out = flat_o.reshape(a.shape)
    return out


def _argmax_rounded(s, cells, digits: int):
    """Per-row argmax over (HALF_UP-rounded score, cell id) — the exact
    lexicographic criterion ``_kmeans_assign``'s
    ``reverse(array_sort(struct(round(dot), cell)))`` produces (ties to
    the LARGER cell). ``s`` is the (rows x candidates) unrounded score
    matrix; ``cells`` maps candidate column -> original cell id (None =
    identity). Vectorized on the common unique-winner path; rows with
    several candidates within rounding distance (1.5 x 10^-digits — a
    value below that of the max rounds strictly lower) fall to an exact
    decimal re-round + tiebreak loop, so the winner is bit-equal to the
    expression engine's."""
    import numpy as np

    tol = 1.5 * 10.0 ** (-digits)
    best = s.max(axis=1)
    mask = s >= (best[:, None] - tol)
    win = s.argmax(axis=1)
    score = _round_half_up_vec(best, digits)
    if cells is None:
        cell = win.astype(np.int64)
    else:
        cell = cells[win].astype(np.int64)
    for r in np.nonzero(mask.sum(axis=1) > 1)[0]:
        bs, bc = None, -1
        for ci in np.nonzero(mask[r])[0]:
            rs = _round_half_up(float(s[r, ci]), digits)
            oc = int(ci) if cells is None else int(cells[ci])
            if bs is None or rs > bs or (rs == bs and oc > bc):
                bs, bc = rs, oc
        cell[r], score[r] = bc, bs
    return cell, score


def kmeans_assign_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
    keep_vec: bool = False,
) -> DataFrame:
    """FLAT centroid assignment as an Arrow/numpy kernel — the large-k
    twin of :func:`_kmeans_assign`, same contract (argmax over the
    HALF_UP-rounded dot, ties to the larger cell; ``keep_vec`` emits
    ``__v`` so the Lloyd update can posexplode), different engine: the
    k x dim centroid matrix ships ONCE per executor as a Spark
    broadcast (never as literal expressions — the expr path's plan is
    O(k x dim) literal nodes, a plan/codegen blow-up at the k ~ n
    regime SemDeDup needs at 100 TB), and each Arrow batch scores with
    one BLAS matmul, dimension- and k-oblivious. Pure scan shape: no
    shuffle, no collect; fully LAZY (broadcasting runs no job).

    Scores come from BLAS reductions, so the least significant float
    bits can differ from the fold/flat expression dots; every
    cross-engine value is HALF_UP-rounded to ``digits`` (the module's
    engine-portability discipline), which absorbs summation-order ulps
    except exactly at a rounding boundary — the same accepted seam as
    :func:`cosine_topk_arrow` vs the expression engine, and the graded
    queries pin it green against the DuckDB replay. Ids ride the
    kernel as int64: non-integral id columns fail up front (use the
    expression engine there). The kernel chunks each batch so the
    score matrix stays ~32 MB regardless of k."""
    import numpy as np

    if not _integral_id(df, id_col):
        raise TypeError(
            f"kmeans_assign_arrow needs an integral {id_col!r} (got "
            f"{df.schema[id_col].dataType.simpleString()}); use the "
            "expression engine for non-integral ids"
        )
    cmat = np.asarray(centroids, dtype=np.float64)
    k, dim = cmat.shape
    bc = df.sparkSession.sparkContext.broadcast(cmat)
    # rows per kernel chunk: bound the (rows x k) score matrix ~32 MB
    chunk_rows = max(1, int(4_000_000 // max(k, 1)))
    schema = "id long, cluster_id int, score double"
    if keep_vec:
        schema = "id long, __v array<double>, cluster_id int, score double"

    def fn(batches):
        import pandas as pd

        c = bc.value
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                part = pdf.iloc[lo : lo + chunk_rows]
                if len(part) == 0:
                    continue
                ids = part[id_col].to_numpy(dtype=np.int64)
                x = _batch_matrix(part[vec_col], c.shape[1])
                cell, score = _argmax_rounded(x @ c.T, None, digits)
                data = {"id": ids}
                if keep_vec:
                    data["__v"] = list(x)
                data["cluster_id"] = cell.astype(np.int32)
                data["score"] = score
                yield pd.DataFrame(data)

    src = df.select(
        F.col(id_col).alias(id_col), as_double(F.col(vec_col)).alias(vec_col)
    )
    return src.mapInPandas(fn, schema)


def coarse_assign_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
    n_groups: int | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """TWO-STAGE (IVF-style) centroid assignment as an Arrow/numpy
    kernel — semantics bit-equal to :func:`coarse_assignments` (same
    :func:`_group_centroids` group structure, same rank-nonempty-groups
    -> argmax-over-member-centroids pipeline, same rounded-score /
    larger-index tiebreaks), but the centroids, group means, and member
    lists travel as ONE broadcast instead of a ragged nested literal
    tree whose plan size grows O(k x dim). This is the honest 100 TB
    engine for SemDeDup's k ~ n regime: ~(G + nprobe * k/G) dots per
    row with G = sqrt(k) groups, plan size O(1) in k, no shuffle.

    Group ranking orders by (rounded mean-dot desc, original group idx
    desc), implemented as a strictly-monotone composite sort key: the
    rounded scores are multiples of 10^-digits, and each group adds a
    distinct offset < half that quantum, so the numpy argsort realizes
    the exact lexicographic order with no per-row Python. Stage-2 rows
    are grouped by their probed-group SET, one gathered matmul per
    distinct probe set per batch."""
    import math

    import numpy as np

    if not _integral_id(df, id_col):
        raise TypeError(
            f"coarse_assign_arrow needs an integral {id_col!r} (got "
            f"{df.schema[id_col].dataType.simpleString()}); use "
            "coarse_assignments(engine='expr') for non-integral ids"
        )
    k = len(centroids)
    g = n_groups or max(1, math.isqrt(k))
    means, members = _group_centroids(centroids, g)
    nonempty = [gi for gi, mem in enumerate(members) if mem]
    gm = np.asarray([means[gi] for gi in nonempty], dtype=np.float64)
    member_arrs = [
        np.asarray(members[gi], dtype=np.int64) for gi in nonempty
    ]
    cmat = np.asarray(centroids, dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast((cmat, gm, member_arrs))
    p = min(nprobe, len(nonempty))
    quantum = 10.0 ** (-digits)
    chunk_rows = max(1, int(4_000_000 // max(len(nonempty), 1)))

    def fn(batches):
        import pandas as pd

        c, gmat, mems = bc.value
        n_g = gmat.shape[0]
        # strictly-increasing per-group offsets, all < quantum/2: adding
        # them to scores that are exact multiples of the quantum breaks
        # ties toward the LARGER group position (== larger original grp,
        # nonempty is ascending) without ever flipping a real ordering
        offs = (np.arange(n_g, dtype=np.float64) + 1.0) * (
            0.4 * quantum / max(n_g, 1)
        )
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                part = pdf.iloc[lo : lo + chunk_rows]
                if len(part) == 0:
                    continue
                ids = part[id_col].to_numpy(dtype=np.int64)
                x = _batch_matrix(part[vec_col], c.shape[1])
                gkey = _round_half_up_vec(x @ gmat.T, digits) + offs
                top = np.argsort(-gkey, axis=1)[:, :p]
                probe_sets = np.sort(top, axis=1)
                uniq, inv = np.unique(
                    probe_sets, axis=0, return_inverse=True
                )
                out_cell = np.empty(len(ids), dtype=np.int64)
                out_score = np.empty(len(ids), dtype=np.float64)
                for u in range(len(uniq)):
                    rows = np.nonzero(inv == u)[0]
                    cand = np.concatenate([mems[gi] for gi in uniq[u]])
                    sub_chunk = max(1, int(4_000_000 // len(cand)))
                    for slo in range(0, len(rows), sub_chunk):
                        rr = rows[slo : slo + sub_chunk]
                        cell, score = _argmax_rounded(
                            x[rr] @ c[cand].T, cand, digits
                        )
                        out_cell[rr] = cell
                        out_score[rr] = score
                yield pd.DataFrame(
                    {
                        "id": ids,
                        "cluster_id": out_cell.astype(np.int32),
                        "score": out_score,
                    }
                )

    src = df.select(
        F.col(id_col).alias(id_col), as_double(F.col(vec_col)).alias(vec_col)
    )
    return src.mapInPandas(fn, "id long, cluster_id int, score double")


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    digits: int = 6,
) -> DataFrame:
    """Distributed Gram-matrix build G = X^T X — the linear-algebra
    block PCA / whitening / ridge regression start from. Each Arrow
    batch computes its (dim × dim) partial with ONE BLAS matmul and
    emits exactly dim² rows, so the shuffled payload is
    dim² × n_batches — independent of the corpus row count — and one
    partial-aggregating groupBy sums the blocks (the treeAggregate
    shape, expressed relationally so AQE still owns the exchange).
    Output: ``(i, j, g)`` with g rounded to ``digits`` (the rounding
    makes the FP sum order-insensitive at oracle precision).
    """
    import pandas as pd

    idx_i, idx_j = [], []
    for a in range(dim):
        for b in range(dim):
            idx_i.append(a)
            idx_j.append(b)

    def fn(batches):
        import numpy as np

        acc = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(x):
                acc += x.T @ x
        yield pd.DataFrame(
            {"i": idx_i, "j": idx_j, "g": acc.reshape(-1)}
        )

    partials = df.select(vec_col).mapInPandas(fn, "i int, j int, g double")
    return partials.groupBy("i", "j").agg(
        F.round(F.sum("g"), digits).alias("g")
    )


def _round_half_up(x: float, digits: int) -> float:
    """Spark F.round / DuckDB round semantics (HALF_UP on the exact
    decimal expansion of the double) — Python's builtin round() is
    banker's (half-even) and would diverge from both engines on
    decimal ties."""
    import decimal

    q = decimal.Decimal(1).scaleb(-digits)
    return float(
        decimal.Decimal(x).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def _power_iterate(
    g: list[list[float]], dim: int, n_iters: int, digits: int
) -> list[float]:
    """The engine-portable power-iteration loop shared by the PCA
    components: HALF_UP rounds, left-fold sums (see
    :func:`pca_top_component` for the discipline)."""
    import math

    v = [_round_half_up(1.0 / math.sqrt(dim), digits)] * dim
    for _ in range(n_iters):
        w = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc = acc + g[i][j] * v[j]
            w.append(_round_half_up(acc, digits))
        nrm = 0.0
        for x in w:
            nrm = nrm + x * x
        nrm = math.sqrt(nrm)
        v = [_round_half_up(x / nrm, digits) if nrm else x for x in w]
    return v



def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_iters: int = 10,
    digits: int = 6,
) -> tuple[list[float], DataFrame]:
    """PCA top component, engine-portable: the Gram matrix builds
    distributed (:func:`gram_matrix`, rounded blocks), the power
    iteration runs on the DRIVER over the collected dim×dim matrix
    (4096 floats — bounded at any corpus size), and the projection is
    a lazy codegen expression with the eigenvector as literals. Every
    cross-stage value is rounded HALF_UP to ``digits`` and every sum
    folds left-to-right, so a SQL oracle replaying the identical
    iteration lands on bit-equal projections (the kmeans-loop
    discipline applied to an eigensolver). Returns
    ``(eigenvector, projections)`` where projections =
    ``(vec_id, proj)``."""
    import math

    rows = gram_matrix(df, vec_col, dim, digits).collect()
    g = [[0.0] * dim for _ in range(dim)]
    for r in rows:
        g[r["i"]][r["j"]] = r["g"]
    v = _power_iterate(g, dim, n_iters, digits)
    vec = as_double(F.col(vec_col))
    vlit = F.array(*[F.lit(float(x)) for x in v])
    proj = df.select(
        F.col("vec_id"),
        F.round(dot(vec, vlit), digits).alias("proj"),
    )
    return v, proj


def xty_vector(
    df: DataFrame,
    vec_col: str = "embedding",
    y_col: str = "label",
    dim: int = 64,
    digits: int = 6,
) -> list[float]:
    """The b = X^T y block (ridge/least-squares normal equations),
    built with the same blocked Arrow kernel economics as
    :func:`gram_matrix`: one BLAS matvec per batch, dim rows per
    batch crossing the wire, one groupBy sum, rounded. Returns the
    dim driver-side floats."""
    import pandas as pd

    def fn(batches):
        import numpy as np

        acc = np.zeros(dim, dtype=np.float64)
        for pdf in batches:
            if len(pdf):
                x = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                y = np.asarray(pdf[y_col], dtype=np.float64)
                acc += x.T @ y
        yield pd.DataFrame({"i": list(range(dim)), "b": acc})

    rows = (
        df.select(vec_col, F.col(y_col).cast("double").alias(y_col))
        .mapInPandas(fn, "i int, b double")
        .groupBy("i")
        .agg(F.round(F.sum("b"), digits).alias("b"))
        .collect()
    )
    out = [0.0] * dim
    for r in rows:
        out[r["i"]] = r["b"]
    return out


def ridge_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    y_col: str = "label",
    id_col: str = "vec_id",
    dim: int = 64,
    n_steps: int = 15,
    eta: float = 0.001,
    lam: float = 1.0,
    digits: int = 6,
) -> tuple[list[float], DataFrame]:
    """Distributed ridge regression, engine-portable: the normal-
    equation blocks G = X^T X and b = X^T y build distributed ONCE
    (blocked Arrow kernels, corpus-size-independent shuffle payload);
    gradient descent then runs entirely on the DRIVER — the gradient
    (G·beta − b)/n + lam·beta needs no further corpus pass — with
    every value rounded HALF_UP and every sum a left fold, so a SQL
    oracle replaying the identical steps lands on bit-equal
    coefficients and predictions (the PCA/kmeans portability
    discipline applied to model TRAINING). Returns
    ``(beta, predictions)``; predictions = ``(id_col, pred)`` lazy."""
    rows = gram_matrix(df, vec_col, dim, digits).collect()
    g = [[0.0] * dim for _ in range(dim)]
    for r in rows:
        g[r["i"]][r["j"]] = r["g"]
    b = xty_vector(df, vec_col, y_col, dim, digits)
    n = df.count()
    beta = [0.0] * dim
    for _ in range(n_steps):
        nb = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc = acc + g[i][j] * beta[j]
            acc = _round_half_up(acc, digits)
            grad = (acc - b[i]) / n + lam * beta[i]
            nb.append(_round_half_up(beta[i] - eta * grad, digits))
        beta = nb
    vec = as_double(F.col(vec_col))
    blit = F.array(*[F.lit(float(x)) for x in beta])
    preds = df.select(
        F.col(id_col),
        F.round(dot(vec, blit), digits).alias("pred"),
    )
    return beta, preds


def farthest_first_seeds(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    digits: int = 6,
) -> list[tuple[int, int]]:
    """Deterministic k-means++-style seeding (farthest-first
    traversal, Gonzalez 1985): start from the min-id vector, then
    repeatedly pick the vector LEAST similar to its nearest chosen
    seed (rounded cosine, ties to the smaller id) — the seeding-
    quality lever over the stride sample, without kmeans++'s
    randomness (which would be retry-unstable and engine-specific).
    Returns ``[(ord, vec_id), ...]``.

    Scale shape: k-1 scans, each a pure-Column max-over-literals
    projection + a global argmin via orderBy(...).limit(1) (plans as
    TakeOrderedAndProject); chosen seeds ride as k×dim literals, so
    nothing but one row per step reaches the driver."""
    v = as_double(F.col(vec_col))
    base = cut(df.select(F.col(id_col).alias("id"), v.alias("v")))
    first = base.orderBy("id").limit(1).collect()[0]
    chosen = [(0, first["id"], list(first["v"]))]
    for t in range(1, k):
        cents = F.array(
            *[F.array(*[F.lit(float(x)) for x in c[2]]) for c in chosen]
        )
        x = F.col("v")
        nx = F.sqrt(dot_flat(x, x, dim)) if dim else norm(x)
        sims = F.transform(
            cents,
            lambda c: F.round(
                (dot_flat(x, c, dim) if dim else dot(x, c))
                / (nx * F.sqrt(dot_flat(c, c, dim) if dim else dot(c, c))),
                digits,
            ),
        )
        ms = F.array_max(sims)
        nxt = (
            base.select("id", "v", ms.alias("ms"))
            .orderBy(F.col("ms").asc(), F.col("id").asc())
            .limit(1)
            .collect()[0]
        )
        chosen.append((t, nxt["id"], list(nxt["v"])))
    return [(c[0], c[1]) for c in chosen]


def group_blocks(
    df: DataFrame,
    group_col: str,
    y_col: str,
    vec_col: str = "embedding",
    dim: int = 64,
    digits: int = 6,
):
    """Per-group sufficient statistics for linear models in ONE pass
    each: G_g = X_g^T X_g (dim² rows per group), b_g = X_g^T y_g,
    ysq_g = Σ y², n_g — everything leave-one-group-out training AND
    held-out evaluation need, with no further corpus scans (see
    :func:`loso_valuation`). Returns driver-side dicts keyed by
    group value."""
    import pandas as pd

    def gram_fn(key, pdf):
        import numpy as np

        x = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        g = x.T @ x
        ii, jj = np.meshgrid(range(dim), range(dim), indexing="ij")
        return pd.DataFrame(
            {
                "grp": [key[0]] * (dim * dim),
                "i": ii.reshape(-1),
                "j": jj.reshape(-1),
                "g": g.reshape(-1),
            }
        )

    def vec_fn(key, pdf):
        import numpy as np

        x = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        y = np.asarray(pdf[y_col], dtype=np.float64)
        b = x.T @ y
        out = pd.DataFrame({"grp": [key[0]] * dim, "i": range(dim), "b": b})
        out.loc[len(out)] = [key[0], -1, float((y * y).sum())]
        out.loc[len(out)] = [key[0], -2, float(len(y))]
        return out

    gsel = df.select(group_col, vec_col, F.col(y_col).cast("double"))
    gram_rows = (
        gsel.groupBy(group_col)
        .applyInPandas(gram_fn, f"grp string, i int, j int, g double")
        .groupBy("grp", "i", "j")
        .agg(F.round(F.sum("g"), digits).alias("g"))
        .collect()
    )
    vec_rows = (
        gsel.groupBy(group_col)
        .applyInPandas(vec_fn, "grp string, i int, b double")
        .groupBy("grp", "i")
        .agg(F.round(F.sum("b"), digits).alias("b"))
        .collect()
    )
    gmats: dict = {}
    bvecs: dict = {}
    ysq: dict = {}
    ns: dict = {}
    for r in gram_rows:
        gmats.setdefault(r["grp"], [[0.0] * dim for _ in range(dim)])[
            r["i"]
        ][r["j"]] = r["g"]
    for r in vec_rows:
        if r["i"] == -1:
            ysq[r["grp"]] = r["b"]
        elif r["i"] == -2:
            ns[r["grp"]] = int(r["b"])
        else:
            bvecs.setdefault(r["grp"], [0.0] * dim)[r["i"]] = r["b"]
    return gmats, bvecs, ysq, ns


def loso_valuation(
    df: DataFrame,
    group_col: str,
    y_col: str,
    holdouts: list[str],
    vec_col: str = "embedding",
    dim: int = 64,
    n_steps: int = 15,
    eta: float = 9.7,
    lam: float = 0.0013,
    digits: int = 6,
):
    """Leave-one-group-out data valuation from sufficient statistics:
    for each held-out group s, fit ridge on everything EXCEPT s
    (driver GD over G_{-s} = Σ_{g≠s} G_g, b_{-s}) and score the
    held-out SSE via the quadratic form
    SSE_s = βᵀG_sβ − 2·βᵀb_s + Σy²_s — so evaluating |holdouts|
    models costs ONE corpus pass total, not 2·|holdouts| (the
    sufficient-statistics economics that make per-source valuation
    affordable at 100 TB). Every value rounds HALF_UP, every sum is
    a left fold over sorted group order, so a SQL oracle replays to
    bit-equal valuations. Returns rows of
    ``(group, n_rows, sse_holdout)``."""
    gmats, bvecs, ysq, ns = group_blocks(
        df, group_col, y_col, vec_col, dim, digits
    )
    groups = sorted(gmats)
    out = []
    for s in holdouts:
        rest = [g for g in groups if g != s]
        gneg = [[0.0] * dim for _ in range(dim)]
        bneg = [0.0] * dim
        for i in range(dim):
            for j in range(dim):
                acc = 0.0
                for g in rest:
                    acc = acc + gmats[g][i][j]
                gneg[i][j] = _round_half_up(acc, digits)
            acc = 0.0
            for g in rest:
                acc = acc + bvecs[g][i]
            bneg[i] = _round_half_up(acc, digits)
        n = sum(ns[g] for g in rest)
        beta = [0.0] * dim
        for _ in range(n_steps):
            nb = []
            for i in range(dim):
                acc = 0.0
                for j in range(dim):
                    acc = acc + gneg[i][j] * beta[j]
                acc = _round_half_up(acc, digits)
                grad = (acc - bneg[i]) / n + lam * beta[i]
                nb.append(_round_half_up(beta[i] - eta * grad, digits))
            beta = nb
        inner = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc = acc + gmats[s][i][j] * beta[j]
            inner.append(_round_half_up(acc, digits))
        qf = 0.0
        for i in range(dim):
            qf = qf + beta[i] * inner[i]
        qf = _round_half_up(qf, digits)
        bdot = 0.0
        for i in range(dim):
            bdot = bdot + beta[i] * bvecs[s][i]
        bdot = _round_half_up(bdot, digits)
        sse = _round_half_up(qf - 2.0 * bdot + ysq[s], digits)
        out.append((s, ns[s], sse))
    return out


def pca_top2_components(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_iters: int = 10,
    digits: int = 6,
) -> tuple[list[float], list[float], DataFrame]:
    """Top TWO principal components via Hotelling deflation: v1 from
    the power iteration, eigenvalue estimate l1 = ||G·v1|| (rounded),
    then the second iteration runs on the deflated
    G2 = G − l1·v1·v1ᵀ (rounded per entry) — all on the driver over
    the one distributed Gram build. Same portability discipline as
    :func:`pca_top_component`; returns ``(v1, v2, projections)`` with
    projections = ``(vec_id, proj1, proj2)``."""
    import math

    rows = gram_matrix(df, vec_col, dim, digits).collect()
    g = [[0.0] * dim for _ in range(dim)]
    for r in rows:
        g[r["i"]][r["j"]] = r["g"]
    v1 = _power_iterate(g, dim, n_iters, digits)
    w = []
    for i in range(dim):
        acc = 0.0
        for j in range(dim):
            acc = acc + g[i][j] * v1[j]
        w.append(_round_half_up(acc, digits))
    nrm = 0.0
    for x in w:
        nrm = nrm + x * x
    l1 = _round_half_up(math.sqrt(nrm), digits)
    g2 = [
        [
            _round_half_up(g[i][j] - l1 * v1[i] * v1[j], digits)
            for j in range(dim)
        ]
        for i in range(dim)
    ]
    v2 = _power_iterate(g2, dim, n_iters, digits)
    vec = as_double(F.col(vec_col))
    v1l = F.array(*[F.lit(float(x)) for x in v1])
    v2l = F.array(*[F.lit(float(x)) for x in v2])
    proj = df.select(
        F.col("vec_id"),
        F.round(dot(vec, v1l), digits).alias("proj1"),
        F.round(dot(vec, v2l), digits).alias("proj2"),
    )
    return v1, v2, proj
