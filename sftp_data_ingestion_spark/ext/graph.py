"""Iterative graph ranking over edge lists — PageRank.

A crawl-derived pretraining corpus weights documents by the link
graph: a page's quality prior is its PageRank in the domain/host
graph (the public "quality weighting" signal used by CommonCrawl
curation pipelines). The reference engine has no graph operator at
all — this is LLM-data-pipeline extension surface, built the same
way as :func:`ext.dedup.connected_components`: Pregel-style
supersteps, one shuffle pair per iteration, ``localCheckpoint`` to
truncate the iterated lineage.

Scale shape (100 TB / 1e9-node graph):
- the edge list is materialized ONCE (eager localCheckpoint) so no
  superstep re-executes the upstream join that derived it;
- each iteration is exactly one equi-join of edges to the current
  rank vector (shuffle on the join key) plus one groupBy-sum on the
  destination (second shuffle) — the canonical PageRank schedule;
  nothing is ever broadcast or collected except the node count
  (one scalar aggregate, same legitimacy as the IVF centroid count);
- float determinism: partial sums are combined in partition order,
  so the last-ulp of each rank differs run-to-run / engine-to-engine;
  callers that need cross-engine comparability round the final ranks
  (8 dp leaves ~1e9 headroom over the ~1e-17 accumulated error).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.rebalance import cut


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over a directed edge list; returns ``(node, rank)``
    for every node that appears as a source or destination.

    Dangling nodes (no out-edges) keep their teleport share but do
    not redistribute rank mass — the sum of ranks therefore decays
    by the dangling mass each step. For the symmetric (bidirected)
    graphs this engine builds (see ``z2_pagerank_purchase_graph``)
    every node has out-degree >= 1, so no mass is lost and the
    classic formulation below is exact.

    ``iterations`` is a fixed superstep count (power iteration
    converges geometrically at rate ``damping``; 5-20 steps is the
    standard curation-pipeline setting) — fixed count keeps the
    result deterministic and the oracle expressible as K unrolled
    SQL CTEs.

    ``weight_col`` makes the walk weighted: a step leaves ``src``
    along each edge with probability ``w / sum(w over src's edges)``
    (e.g. purchase counts, link multiplicity). Unweighted is the
    ``w = 1.0`` special case and is arithmetically identical to the
    count-based form (``rank * 1.0 / deg`` is bit-equal to
    ``rank / deg``), so the unweighted oracle generator below stays
    exact; the weighted path is verified against the driver-side
    model in ``tests/test_signals.py``.
    """
    w = (
        F.lit(1.0)
        if weight_col is None
        else F.col(weight_col).cast("double")
    )
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    if weight_col is not None:
        # NULL, NaN or negative weights would silently propagate
        # NaN/null ranks through every superstep (NaN in particular
        # passes both `w < 0` and `w > 0` under Spark's NaN ordering);
        # zero-weight edges are "no edge" and are dropped so no src
        # can reach the walk with zero out-strength.
        bad_w = (
            F.col("w").isNull() | F.isnan("w") | (F.col("w") < 0)
        )
        # validation rides the SAME aggregate that computes
        # out-strength — no separate full edge scan just to validate
        deg = e.groupBy("src").agg(
            F.sum(F.when(~bad_w, F.col("w")).otherwise(F.lit(0.0))).alias(
                "deg"
            ),
            F.sum(bad_w.cast("long")).alias("n_bad"),
        ).transform(cut)
        n_bad = deg.agg(F.sum("n_bad")).first()[0] or 0
        if n_bad:
            raise ValueError(
                f"pagerank: {n_bad} edge(s) with NULL/NaN/negative weight"
            )
        deg = deg.drop("n_bad")
        e = cut(e.where(F.col("w") > 0).join(deg, "src"))
    else:
        # out-strength rides along each edge row so the per-iteration
        # join is edges-to-ranks only (degree never re-joins in-loop).
        deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
        e = cut(e.join(deg, "src"))
    nodes = (
        e.select("src").withColumnsRenamed({"src": "node"})
        .unionAll(e.select("dst").withColumnsRenamed({"dst": "node"}))
        .distinct()
        .transform(cut)
    )
    n = nodes.count()  # one scalar to the driver; folds into literals
    if n == 0:
        raise ValueError("pagerank: empty edge list (no nodes)")
    teleport = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("w") / F.col("deg")).alias(
                    "contrib"
                ),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            .transform(cut)
        )
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    iterations: int = 5,
    damping: float = 0.85,
    round_dp: int = 8,
) -> str:
    """The DuckDB twin of :func:`pagerank`: K unrolled CTE supersteps
    over ``edges_cte`` (a SQL fragment producing ``(src, dst)``).

    Every arithmetic step mirrors the Spark expression tree exactly —
    ``(1-damping)/n`` and ``1/n`` are single IEEE-754 divisions
    (correctly rounded in both engines), ``rank/deg`` likewise — so
    the only cross-engine drift is partial-sum order, absorbed by the
    final ``round``. All literals are cast to DOUBLE: DuckDB would
    otherwise parse ``0.85`` as DECIMAL and change the arithmetic.
    """
    d = repr(float(damping))
    one_minus_d = repr(1.0 - float(damping))
    parts = [
        f"WITH edges AS ({edges_cte})",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges"
        " UNION ALL SELECT dst AS node FROM edges))",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn)"
        " AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"r{i} AS (SELECT nodes.node AS node, "
            f"CAST({one_minus_d} AS DOUBLE) / (SELECT n FROM nn) "
            f"+ CAST({d} AS DOUBLE) * COALESCE(c.contrib, CAST(0.0 AS DOUBLE))"
            " AS rank FROM nodes LEFT JOIN ("
            "SELECT e.dst AS node, SUM(r.rank / e.deg) AS contrib "
            "FROM (SELECT edges.src, edges.dst, CAST(deg.deg AS DOUBLE)"
            " AS deg FROM edges JOIN deg ON edges.src = deg.src) e "
            f"JOIN r{i - 1} r ON e.src = r.node GROUP BY e.dst"
            ") c ON nodes.node = c.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, round(rank, {round_dp}) AS rank FROM r{iterations}"
    )


def cc_star_contraction(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond"): each round every node links its larger
    (resp. not-larger) neighbors to its local minimum, which provably
    converges to min-rooted stars in O(log^2 n) rounds on ANY graph —
    where min-label propagation (``ext.dedup.connected_components``)
    needs O(diameter) supersteps and silently stalls its iteration cap
    on a long chain. Use THIS for graphs whose diameter is not known
    to be tiny; label propagation stays the cheaper choice for
    near-dup cliques (diameter 2-3).

    Returns ``(id, component)``, component = min id reachable.

    Scale shape: each half-round is one groupBy-min + one equi-join on
    the node id (AQE-coalesced exchanges), localCheckpoint-bounded
    lineage, convergence checked by an edge-count + fingerprint pair
    (two cheap jobs) — no collect beyond those scalars, no
    collect_list of neighborhoods (the min is an aggregate, so
    high-degree nodes never materialize their adjacency)."""
    sym = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionAll(
            edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(cut)
    )

    def mins(e):
        return (
            e.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
        )

    def fingerprint(e):
        # bit_xor: order-independent and overflow-free (ANSI sum of
        # full-range xxhash64 longs overflows)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        return row["n"], row["h"]

    fp = fingerprint(sym)
    for _ in range(max_rounds):
        m = mins(sym)
        # large-star: (v, m(u)) for v in N(u), v > u
        large = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # keep u—m(u) links so local minima stay attached
        large = large.unionAll(m.select("u", F.col("m").alias("v")))
        sym = (
            large.unionAll(large.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .transform(cut)
        )
        m = mins(sym)
        # small-star: (v, m(u)) for v in N(u), v < u, plus (u, m(u))
        small = (
            sym.join(m, "u")
            .where(F.col("v") < F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        small = small.unionAll(m.select("u", F.col("m").alias("v")))
        sym = (
            small.unionAll(small.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .transform(cut)
        )
        fp2 = fingerprint(sym)
        if fp2 == fp:
            break
        fp = fp2
    else:
        # never hand back possibly-wrong labels: match the loud
        # failure contract of dedup.connected_components
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} "
            "rounds; raise max_rounds"
        )
    labels = mins(sym)
    return vertices.select(F.col(id_col).alias("id")).join(
        labels.select(F.col("u").alias("id"), F.col("m").alias("component")),
        "id",
        "left",
    ).select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
    )


_MK_CHANNELS = ["click", "error", "signup", "view"]  # alphabetical


def markov_removal_attribution(
    events: DataFrame,
    channels: list[str] | None = None,
    id_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    conv: str = "purchase",
    n_iters: int = 30,
    digits: int = 6,
):
    """First-order Markov removal-effect attribution (Anderl et al.
    2014): build each user's journey (truncated at the FIRST
    conversion, else terminated in NULL), count transitions over
    START + channel states + the CONV/NULL absorbers, and solve the
    absorbing chain by fixed-point iteration — then re-solve with
    each channel's state pinned to zero (its conversion mass
    redirected to NULL) and attribute by normalized removal effect.

    Scale shape: the distributed work is one per-user window-free
    path build (sort_array over collect_list, bounded by journey
    length) and a (src, dst) groupBy whose cardinality is
    (|channels|+2)² — the chain solve touches a ≤6×6 matrix on the
    driver. Every probability and iterate rounds HALF_UP with
    left-fold sums, so a SQL oracle replays all five chains
    (full + 4 removals) to bit-equal attributions."""
    channels = channels or _MK_CHANNELS
    states = ["START"] + channels
    k = len(states)

    state = F.when(F.col(type_col) == conv, F.lit("CONV")).otherwise(
        F.col(type_col)
    )
    srt = events.groupBy(id_col).agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(ts_col, seq_col, state.alias("s")))
            ),
            lambda x: x["s"],
        ).alias("full")
    )
    pos = F.array_position(F.col("full"), "CONV")
    lst = srt.select(
        F.concat(
            F.array(F.lit("START")),
            F.when(pos > 0, F.slice(F.col("full"), 1, pos)).otherwise(
                F.concat(F.col("full"), F.array(F.lit("NULL")))
            ),
        ).alias("l")
    )
    pairs = lst.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("l") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("l"), i + 1).alias("src"),
                    F.element_at(F.col("l"), i + 2).alias("dst"),
                ),
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    cnt = {
        (r["src"], r["dst"]): r["c"]
        for r in pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    tot = {}
    for (s, _d), c in cnt.items():
        tot[s] = tot.get(s, 0) + c
    P = [[0.0] * k for _ in range(k)]
    b = [0.0] * k
    for i, s in enumerate(states):
        t = tot.get(s, 0)
        if not t:
            continue
        for j, d in enumerate(states):
            c = cnt.get((s, d), 0)
            if c:
                P[i][j] = _round_half_up(c * 1.0 / t, digits)
        cc = cnt.get((s, "CONV"), 0)
        if cc:
            b[i] = _round_half_up(cc * 1.0 / t, digits)

    def solve(removed: int) -> float:
        v = [0.0] * k
        for _ in range(n_iters):
            nv = []
            for i in range(k):
                if i == removed:
                    nv.append(0.0)
                    continue
                acc = 0.0
                for j in range(k):
                    acc = acc + P[i][j] * v[j]
                nv.append(_round_half_up(acc + b[i], digits))
            v = nv
        return v[0]

    p0 = solve(-1)
    res = []
    for ci, ch in enumerate(channels):
        pc = solve(ci + 1)
        re = _round_half_up((p0 - pc) / p0, digits) if p0 else 0.0
        res.append([ch, re])
    s = 0.0
    for _, re in res:
        s = s + re
    out = []
    for ch, re in res:
        share = _round_half_up(re / s, digits) if s else 0.0
        out.append((ch, re, share))
    return out


def _round_half_up(x: float, digits: int) -> float:
    import decimal

    q = decimal.Decimal(1).scaleb(-digits)
    return float(
        decimal.Decimal(x).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts by degree-ordered edge orientation —
    the standard scale-out schedule (Cohen 2009, "Graph twiddling in
    a MapReduce world"; Suri & Vassilvitskii 2011): orient every
    undirected edge from its lower-(degree, id) endpoint to the
    higher one, so every wedge is enumerated at its LOWEST-degree
    corner. A hub of degree d contributes O(d) outgoing wedge roots
    only if no lower-degree corner exists, which bounds the wedge
    count by O(m^1.5) overall instead of O(Σ d²) — the difference
    between a skew-killed and a skew-proof plan on a power-law graph
    at 100 TB.

    ``edges``: columns (u, v), u < v, distinct (undirected edge set).
    Returns (node, n_tri) for every node in >= 1 triangle.

    Plan: one groupBy for degrees (broadcast back onto the edge
    list), then wedge⋈closure as two hash joins on the oriented
    list. No driver-side state.
    """
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(
            F.broadcast(deg.withColumnsRenamed({"node": "u", "d": "du"})), "u"
        )
        .join(
            F.broadcast(deg.withColumnsRenamed({"node": "v", "d": "dv"})), "v"
        )
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
        )
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.t")) & (F.col("e3.t") == F.col("e2.t")),
        )
        .select(
            F.col("e1.s").alias("a"),
            F.col("e1.t").alias("b"),
            F.col("e2.t").alias("c"),
        )
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def triangle_counts_oracle_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`triangle_counts` over the same
    (u, v) u < v distinct edge set."""
    return f"""
WITH edges AS ({edges_sql}),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
ori AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
),
tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM ori e1
  JOIN ori e2 ON e1.s = e2.s AND e1.t < e2.t
  JOIN ori e3 ON e3.s = e1.t AND e3.t = e2.t
)
SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) GROUP BY node
"""
