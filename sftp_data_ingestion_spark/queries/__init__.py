"""Declared query registry — the driver-contract surface.

Every implemented operator from SURVEY.md §2 (plus the LLM-data
extension surface) is declared here as a named query: a PySpark
callable ``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible,
a DuckDB oracle string the driver runs side-by-side at sf0.01.

Importing this package populates :data:`QUERIES` / :data:`ORACLES`.
"""

from __future__ import annotations

from sftp_data_ingestion_spark.queries.registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    query,
)

# modules register themselves on import (import order below is just
# load order).
#
# ORDERING POLICY: the driver's correctness gate grades the FIRST ~50
# registered queries, so registration order is proof budget. Since r6
# the report order is set EXPLICITLY by _grading_rank() below (the
# registry outgrew per-module ordering): never-driver-graded queries
# rank ahead of ever-green ones. New queries default to rank 9 (tail,
# ungraded) unless deliberately promoted into the window.
from sftp_data_ingestion_spark.queries import q_similarity  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_streaming  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_multimodal  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_temporal  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_sampling  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_extra  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_profile  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_text  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_cleaning  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_pipeline  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_relational  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_warehouse  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_curation  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_analytics  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_signals  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_corpus  # noqa: F401,E402
from sftp_data_ingestion_spark.queries import q_training  # noqa: F401,E402


# GRADING WINDOW (self-rotating since r6): the registry outgrew the
# driver's ~50-row grading budget, so module import order alone can no
# longer put every unproven query inside the window. Rebuild
# QUERIES/ORACLES in proof-priority order, derived from the repo's own
# CORRECTNESS_r*.json files at import time:
#
#   - any query WITHOUT a green driver row (never graded, or graded
#     red — e.g. the two r5 canonicalizer-crash m_* rows, fixed in
#     r6) sorts to the FRONT;
#   - within the unproven block, a stable family order (the r5
#     backlog families wh_ < c_ < z2_ < z3_ < z_, named singles
#     first, genuinely-new queries last);
#   - everything already driver-proven goes BEHIND every unproven
#     query, in registration order.
#
# The driver writes CORRECTNESS_r{N}.json AFTER grading round N, so
# the ordering each round reflects exactly the rounds before it —
# queries that go green rotate out of the window automatically next
# round, with no manual rank edits (before r6 this was hand-curated
# per round and the backlog hit 72 never-graded queries).
def _scan_driver_artifacts() -> tuple[set[str], dict[str, int]]:
    """Parse every CORRECTNESS_r*.json once: the green set (LATEST
    verdict per query wins — a red row in a later round REMOVES the
    query from the green set, so a regression rotates back into the
    grading window instead of hiding behind an early-round green, r6
    ADVICE) plus each query's most recent graded round, which orders
    the proven block least-recently-regraded-first (r12 VERDICT #10:
    with the whole registry green, the window's proven tail must
    CYCLE through stale greens instead of re-proving the same oldest
    registrations every round)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    green: set[str] = set()
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            last[name] = max(last.get(name, 0), rnd)
            ok = (
                r.get("rows_match") is True
                and r.get("schema_match") is not False
                # hash_match None = the driver's weaker rows-only check
                # (non-SQL-expressible ops) — rows green is its ceiling
                and r.get("hash_match") in (True, None)
            )
            if ok:
                green.add(name)
            else:
                green.discard(name)
    return green, last


def _green_in_driver_rows() -> set[str]:
    return _scan_driver_artifacts()[0]


def _family_rank(name: str) -> int:
    """Stable ordering WITHIN the unproven block."""
    if name in (
        "m_extract_features",
        "m_png_decode_histogram",
        "d_decontaminate",
        "d_chunk_boilerplate",
        "st_stream_stream_left_outer",
        "curation_e2e",
    ):
        return 0
    for rank, prefix in ((1, "wh_"), (2, "c_"), (3, "z2_"), (4, "z3_")):
        if name.startswith(prefix):
            return rank
    if name.startswith("z_"):
        return 5
    # a genuinely new query: graded after the existing backlog (it
    # has local-sweep proof only, same as they do, but they queued
    # first), still ahead of re-proving anything already green
    return 8


# Paths whose IMPLEMENTATION changed in the current/previous
# optimization round without a driver regrade yet (r13 VERDICT #1/#2:
# the r13 engine swaps rotated OUT of the grading window, so their
# oracle-green status rests on builder runs only). Pinning them to the
# absolute front of the window makes the next driver pass regrade them
# first; once a LATER round's CORRECTNESS artifact records them green
# they can be unpinned (the artifact scan handles the rotation again).
# Every query an optimization round rewrites MUST be added here.
REGRADE_FIRST: tuple[str, ...] = (
    # in-place table rewrites: the bucketed upsert commits through
    # io/sinks.overwrite_partitions and reads its bucket count from the
    # DW's layout record; the MV merge and the near-dup
    # stream ingests open their tables through io/sinks.read_table
    "u1_upsert_partitioned",
    "z_stream_mv_merge",
    "st_stream_cms_topk",
    "z3_stream_ingest_neardup",
    "st_stream_ingest_stateful",
    # near-dup, curation and connected-components consumers: their
    # candidate-verify tail (ext/dedup.verify_candidates) or their
    # lineage cuts (rebalance.cut) were rewritten since they were last
    # graded
    "v_embedding_neardup_clusters",
    "z_entity_resolution",
    "d_neardup_best_survivor",
    "d_minhash_lsh_near_dup_bucketed",
    "curation_e2e",
    "d_minhash_lsh_near_dup",
    "d_neardup_clusters",
    "v_mutual_knn_clusters",
    "curation_pipeline",
    "z3_contrastive_triplets",
    "d_lsh_recall_measured",
    # similarity top-k consumers: the Arrow engines share one kernel
    # (ext/similarity._arrow_topk, exact tie order at the local
    # cut), ivf_topk scores on it, and every top-k ends in the shared
    # latest_per_key tail
    "v_cosine_topk_bruteforce",
    "v_ivf_ann_topk",
    "v_ivf_ann_recall",
    "v_srp_ann_topk",
    "v_quantized_ann_recall",
    "wh_pq_ann_topk",
    "wh_ivfpq_ann_recall",
    "wh_matryoshka_ann_recall",
    "z3_hybrid_rrf_fusion",
)


def _proof_priority_order(
    names: list[str],
    green: set[str],
    last_graded: dict[str, int] | None = None,
    pinned: tuple[str, ...] = (),
) -> list[str]:
    """Pure ordering contract (tested in tests/test_entry.py).

    ``pinned`` names sort to the ABSOLUTE front in their listed order
    (REGRADE_FIRST: paths rewritten since their last driver grade —
    green-by-artifact but unproven-by-code, so they outrank even
    never-graded queries, whose code at least matches what local
    sweeps proved).

    With NO driver artifacts (``green`` empty — e.g. a fresh checkout
    without CORRECTNESS_r*.json) every query keeps its family rank and
    ties break on registration order, so the order is fully
    deterministic and depends only on module import order.

    Within the PROVEN block, ``last_graded`` (query -> most recent
    graded round) orders least-recently-regraded first, so with the
    whole registry green the ~50-row window cycles through stale
    greens round-robin (each regrade bumps the query's round, pushing
    it behind everything staler) instead of pinning the same oldest
    registrations forever. ``None`` preserves pure registration order
    (the pre-r13 contract the deterministic-fallback test pins)."""
    last_graded = last_graded or {}
    pin_rank = {n: i for i, n in enumerate(pinned)}
    return [
        name
        for _, name in sorted(
            enumerate(names),
            key=lambda t: (
                (-len(pinned) + pin_rank[t[1]], 0, 0)
                if t[1] in pin_rank
                else (
                    9 if t[1] in green else _family_rank(t[1]),
                    last_graded.get(t[1], 0) if t[1] in green else 0,
                    t[0],
                )
            ),
        )
    ]


def _reorder() -> None:
    green, last = _scan_driver_artifacts()
    order = _proof_priority_order(list(QUERIES), green, last, REGRADE_FIRST)
    qs = {name: QUERIES[name] for name in order}
    ors = {name: ORACLES[name] for name in order if name in ORACLES}
    QUERIES.clear()
    QUERIES.update(qs)
    ORACLES.clear()
    ORACLES.update(ors)


_reorder()
