#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.
Each query is forced end-to-end with a noop-format write (full
materialization — count() alone would let Catalyst prune the
projection work).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.probe import UNAVAILABLE, Spans, group_metrics
from sftp_data_ingestion_spark import queries as q
from sftp_data_ingestion_spark.session import get_spark

# Headline set: the flagship pipeline + one representative per operator
# family, weighted toward shuffle/join-heavy shapes where plan quality
# actually shows at scale.
HEADLINE = [
    "pedidos_pipeline_flagship",
    "u1_upsert_newer_wins",
    "w1_latest_event_per_user",
    "g_q1_pricing_summary",
    "j_revenue_by_nation",
    "g_rollup_region_nation",
    "e_hourly_windowed_agg",
    "t_text_stats",
    "d_exact_dedup_survivors",
    "d_minhash_lsh_near_dup",
    "v_cosine_topk_bruteforce",
    "v_ivf_ann_topk",
    "a_asof_join_backward",
    "s_sessionize_batch",
    # round-5 quality-signal family (cheap representatives; the heavy
    # members — pagerank, perceptual codecs — are scale-probed in
    # PERFORMANCE.md instead of inflating the headline)
    "z2_cms_heavy_hitters",
    "z2_quality_logreg_score",
    "z2_unigram_cross_entropy",
    # second-session corpus family representative (cheap; the heavy
    # members — stream ingest, recursion, minhash matrix — are
    # scale-probed in PERFORMANCE.md instead)
    "z3_bigram_cross_entropy",
    # round-6: the composed five-stage curation run (quality gate ->
    # near-dup -> decontaminate -> token budget -> pack) — the
    # end-to-end number a training-data pipeline actually cares about
    "curation_e2e",
    # round-7: z4 training-corpus family representative — the
    # inverted-index tf-idf top-k (term-join + pair-agg shape; the
    # rest of the family is scale-probed in PERFORMANCE.md)
    "z4_sparse_tfidf_topk",
    # round-8: the composed release run (score gate -> exact dedup ->
    # shard packing -> manifest + card) — the z4 family's end-to-end
    # counterpart of curation_e2e
    "corpus_release_e2e",
]


def _calibrate(spark) -> float:
    """Host-throughput anchor: a fixed, deterministic, CPU-bound
    aggregate with a pinned plan (range -> xxhash64 -> 1000-key
    hash agg; no IO, no AQE sensitivity, all whole-stage codegen).
    Three rounds running, the absolute bench artifact drifted 20-40%
    on byte-identical code because the host's throughput varies
    between sessions; `calib_s` lets any reader divide that out —
    query_time / calib_s is comparable across hosts, query_time
    alone is not. Min-of-3 after one warmup run."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 600_000_000, 1, 32)
        .select((F.xxhash64("id") % 1000).alias("k"), "id")
        .groupBy("k")
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    df.write.format("noop").mode("overwrite").save()  # warmup/compile
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _time_pass(
    spark, sf_dir: str, task_ms: dict[str, float] | None = None
) -> dict[str, float]:
    """One timed end-to-end pass over the headline set, each query under
    its own job group. When ``task_ms`` is given, also records each
    query's sum of executor task time (ms) there, read from the status
    store by ``perfbench/probe.py``'s ``group_metrics``: task time >>
    wall on N cores means real parallel work, task time ~ wall means
    fixed per-job cost dominates (r13 VERDICT #6: wall alone cannot
    tell that apart from "ignores cores"). The read runs after each
    query's span, outside the timed region."""
    sc = spark.sparkContext
    spans = Spans(sc)
    tag = uuid.uuid4().hex[:8]  # job groups stay unique across passes
    out: dict[str, float] = {}
    for name in HEADLINE:
        group = f"bench {tag}: {name}"
        with spans.span(f"bench: {name}", group=group) as rec:
            q.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        out[name] = spans.wall(rec)
        if task_ms is not None:
            groups = group_metrics(sc)
            if groups != UNAVAILABLE and group in groups:
                task_ms[name] = groups[group]["task_s"] * 1000.0
    return out


def _prev_round_commit_in(log_lines: list[str]) -> str | None:
    """The most recent 'round N: ' commit in ``git log`` lines of the
    form ``<hash>\t<subject>`` (newest first), skipping the first line
    (HEAD): when HEAD is itself a round snapshot, the previous round is
    the one before it."""
    for line in log_lines[1:]:
        h, _, msg = line.partition("\t")
        if re.match(r"round \d+: ", msg):
            return h
    return None


def _prev_round_commit() -> str | None:
    """The previous round's final tree = the most recent driver
    artifact commit ('round N: verdict/advice/correctness/bench')
    before HEAD."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "log", "--format=%H\t%s", "-n", "300"],
            capture_output=True, text=True, timeout=30,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
    except Exception:
        return None
    return _prev_round_commit_in(out.stdout.splitlines())


def _parity_vs_prev(sf_dir: str, n_rounds: int = 3) -> dict:
    """Host-drift-proof round-over-round comparison (r12 VERDICT #6):
    check the previous round's tree out into a git worktree and
    INTERLEAVE full bench passes — cur, prev, cur, prev, ... on the
    same host in the same window — then compare sum-of-per-query-MINS
    over the queries both trees share. This records in the artifact
    what PERFORMANCE.md r12 had to prove by hand: whether a raw-wall
    delta is code or host (the raw number alone drifted 20-40% on
    byte-identical trees). BOTH sides run as fresh JVMs via
    scripts/bench_tree_once.py (1 warm + 2 timed passes inside, min
    taken) — r14 measurement-bug fix, declared in OPTIMIZATION_r14.md:
    the r13 harness timed the CUR passes inside the long-lived main
    bench JVM while prev got a fresh JVM per pass, and the main JVM
    measurably ages (same tree: 29.8 s main phase -> 35.1 s by parity
    time in the r14 closing run — accumulated codegen classes /
    checkpoint blocks / broadcast state), so cur carried a ~18%
    handicap that had nothing to do with the tree under test.
    Any failure degrades to {"status": reason} — parity is evidence,
    never a gate that can wedge the bench."""
    import shutil
    import subprocess
    import tempfile

    if os.environ.get("SPARK_GRAFT_BENCH_PARITY", "1") != "1":
        return {"status": "disabled"}
    root = os.path.dirname(os.path.abspath(__file__))
    commit = _prev_round_commit()
    if commit is None:
        return {"status": "no_prev_round_commit"}
    tree = tempfile.mkdtemp(prefix="bench_prev_")
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", "--force", tree, commit],
            check=True, capture_output=True, timeout=120, cwd=root,
        )
    except Exception as e:
        shutil.rmtree(tree, ignore_errors=True)
        return {"status": f"worktree_failed: {e}"}
    cur_runs: list[dict[str, float]] = []
    prev_runs: list[dict[str, float]] = []

    def _tree_pass(tree_path: str) -> dict[str, float] | None:
        p = subprocess.run(
            [sys.executable,
             os.path.join(root, "scripts", "bench_tree_once.py"),
             tree_path, sf_dir],
            capture_output=True, text=True, timeout=1800,
        )
        line = (p.stdout.strip().splitlines() or [""])[-1]
        try:
            return json.loads(line)
        except ValueError:
            return None

    try:
        for _ in range(n_rounds):
            cur = _tree_pass(root)
            if cur is None:
                return {"status": "cur_pass_failed"}
            cur_runs.append(cur)
            prev = _tree_pass(tree)
            if prev is None:
                return {"status": "prev_pass_failed"}
            prev_runs.append(prev)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", tree],
            capture_output=True, timeout=60, cwd=root,
        )
        shutil.rmtree(tree, ignore_errors=True)
    cur_min = {
        k: min(r[k] for r in cur_runs) for k in cur_runs[0]
    }
    prev_min = {
        k: min(float(r[k]) for r in prev_runs) for k in prev_runs[0]
    }
    shared = sorted(set(cur_min) & set(prev_min))
    cur_sum = round(sum(cur_min[k] for k in shared), 3)
    prev_sum = round(sum(prev_min[k] for k in shared), 3)
    return {
        "status": "ok",
        "prev_commit": commit,
        "interleaved_rounds": n_rounds,
        "n_shared_queries": len(shared),
        "cur_sum_min_s": cur_sum,
        "prev_sum_min_s": prev_sum,
        "ratio_cur_over_prev": round(cur_sum / prev_sum, 4)
        if prev_sum else None,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="bench")

    # Warmup at the smallest SF: compiles every plan's whole-stage
    # codegen and loads parquet footers so the timed pass measures
    # steady-state execution, not one-time JVM compilation (which on a
    # real cluster amortizes across the job, not the first query).
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            try:
                q.QUERIES[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # warmup is best-effort; the timed pass surfaces errors

    # Best-of-3 per query: one-time costs (AQE-stage codegen at this
    # SF, shuffle-file warmup) and transient host noise land in the
    # early runs; the min is the steady-state execution cost a cluster
    # would see. Measured motivation: the sf0.001 warmup does NOT warm
    # the sf0.1 codegen cache (AQE shapes the physical plan
    # differently at each SF), and d_minhash_lsh_near_dup showed
    # 5.6 s / 9.1 s / 2.35 s / 2.32 s across four back-to-back runs —
    # two runs can both land in the compile window, three don't.
    calib_pre = _calibrate(spark)

    task_ms: dict[str, float] = {}
    passes = []
    for i in range(3):
        # task-time deltas recorded on the LAST pass only (steady
        # state, matching what the min-of-3 wall numbers represent)
        passes.append(
            _time_pass(spark, sf_dir, task_ms if i == 2 else None)
        )
    timings = {
        name: round(min(p[name] for p in passes), 3) for name in HEADLINE
    }

    # Interleaved A/B vs the previous round's tree (worktree checkout);
    # runs its own cur/prev passes — `timings` above stays the plain
    # 3-run min so the headline number's definition is unchanged.
    parity = _parity_vs_prev(sf_dir)

    calib_post = _calibrate(spark)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs_per_query": 3,
                "agg": "min",
                # Fixed CPU-bound anchor (see _calibrate): divide any
                # query time by calib_s to compare across hosts/rounds.
                # pre/post expose drift during this very run.
                "calib_s": round(min(calib_pre, calib_post), 3),
                "calib_pre_s": calib_pre,
                "calib_post_s": calib_post,
                # Scaling contract, stated in the artifact (r13
                # VERDICT #6): the effective master/core count this
                # run honored, plus each query's sum-of-executor-task
                # time on the final pass. task_s >> wall on N cores =
                # real parallel work; task_s ~ wall = fixed per-job
                # overhead dominates at this SF (what the ≈1 low-core
                # wall ratios actually mean) — NOT "ignores cores";
                # the calib anchor's core scaling is the direct proof
                # the master takes effect.
                "master": spark.sparkContext.master,
                "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
                "default_parallelism":
                    spark.sparkContext.defaultParallelism,
                "task_time_s": {
                    k: round(v / 1000.0, 3)
                    for k, v in sorted(task_ms.items())
                },
                # Same-host interleaved sum-of-per-query-mins vs the
                # previous round's tree: the number that separates code
                # regressions from host drift without re-deriving it
                # from PERFORMANCE.md prose.
                "parity_vs_prev": parity,
            }
        )
    )


if __name__ == "__main__":
    main()
