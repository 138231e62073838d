#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of every bench
headline query at sf0.001, annotated with the property the plan
tests pin for that family. Run after any operator change:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from sftp_data_ingestion_spark import queries as q
from sftp_data_ingestion_spark.session import get_spark

NOTES = {
    "pedidos_pipeline_flagship": "two shuffles total (fan_out rebalance + dedup window on chave_nfe); the clean cascade is TWO Projects in one codegen stage (gated regex extractions aliased inner, gated outer -> each extraction evaluated once)",
    "u1_upsert_newer_wins": "left-outer merge (delta broadcast) + left-anti insert branch (DW key column broadcast); zero shuffles, no Exchange above the full-width DW scan",
    "w1_latest_event_per_user": "single shuffle (WindowGroupLimit pushes rank<=1 map-side)",
    "g_q1_pricing_summary": "scan + partial/final agg; PushedFilters carries the date bound",
    "j_revenue_by_nation": "small dims broadcast; one fact shuffle",
    "g_rollup_region_nation": "Expand + single agg shuffle",
    "e_hourly_windowed_agg": "time bucketing is a projection, one agg shuffle",
    "t_text_stats": "pure Column kernels, whole-stage codegen, zero shuffles",
    "d_exact_dedup_survivors": "sha2 hash shuffle (uniform), window keep-first",
    "d_minhash_lsh_near_dup": "banded bucket self-join; signatures (not text) shuffle; nondeterministic-field barrier keeps the sim filter above the scored projection",
    "v_cosine_topk_bruteforce": "broadcast-NL pair stage (deliberate: probe side tiny), flat-codegen dot products, per-partition top-k",
    "v_ivf_ann_topk": "centroids as literals (JVM-side), assignment per-row, candidate cells only",
    "a_asof_join_backward": "NO join node: union-sort form, one shuffle on the by-keys",
    "s_sessionize_batch": "one window shuffle; gaps-and-islands in projections",
    "z2_cms_heavy_hitters": "grid-bounded partial agg; 256-row sketch broadcasts to the probe",
    "z2_quality_logreg_score": "literal-weight fold: pure codegen map pass, zero shuffles",
    "z2_unigram_cross_entropy": "map-side-combined vocab counts; deliberate shuffle join tokens-vocab (not broadcastable at scale)",
    "z3_bigram_cross_entropy": "window-free array-slice bigram build; counts map-side combined; shuffle scoring join",
    "curation_e2e": "five proven stages composed; quality gate at scan speed ahead of every shuffle; survivor set checkpointed once (the write-to-table boundary), shingle array aliased before size/explode so the stage stays in codegen; budget+pack are one window per source shard",
    "z4_sparse_tfidf_topk": "postings materialized once at the checkpoint boundary (no consumer re-tokenizes); probe side broadcasts into the term join; pair dot bounded by probe x posting length",
    "corpus_release_e2e": "scoring+hash+sizing in one codegen scan below ONE (gated, sha256) window; packing window partitioned per source; card and drop ledger are one-row broadcast cross-joins above the checkpoint",
}

HEADER = """# PLANS — formatted physical plans of the bench headline set

Generated by `scripts/dump_plans.py` at sf0.001 (plan SHAPE is
scale-invariant; AQE can only improve these at runtime). Each entry
notes the property `tests/test_plans.py` pins for that family — read
the plan against the note. Regenerate after any operator change.
"""


def main() -> None:
    spark = get_spark(app_name="dump-plans")
    sf = "/root/testdata/sf0.001"
    out = [HEADER]
    for name in bench.HEADLINE:
        df = q.QUERIES[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        tree = plan.split("\n\n")[0]
        scans = "\n".join(
            ln.strip()[:200]
            for ln in plan.splitlines()
            if "PushedFilters" in ln or "ReadSchema" in ln
        )
        out.append(
            f"## {name}\n\n*{NOTES.get(name, '')}*\n\n```\n{tree}\n```\n"
        )
        if scans:
            out.append(f"Scan details:\n\n```\n{scans}\n```\n")
    with open(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w"
    ) as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
