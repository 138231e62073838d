"""The measurement tools: scripts/query_profile.py and bench.py, both built on
perfbench/probe.py's ``Spans`` and ``group_metrics``."""

import importlib.util
import json
import os

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _profile_script():
    spec = importlib.util.spec_from_file_location(
        "query_profile", os.path.join(ROOT, "scripts", "query_profile.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_splits_compose_execute_with_operator_metrics(
    spark, sf_small, tmp_path
):
    prof = _profile_script()
    name = "w1_latest_event_per_user"
    report = prof.profile(spark, sf_small, [name], runs=1, out_dir=str(tmp_path))
    json.dumps(report)  # printed as one JSON line
    entry = report["queries"][name]
    for phase in ("compose", "execute"):
        assert entry[f"{phase}_s"] >= 0
        assert set(entry[phase]) == set(prof.PHASE_KEYS)
    assert entry["execute"]["task_s"] > 0
    assert entry["execute"]["jobs"] >= 1
    ops = {op["name"]: op["metrics"] for op in entry["operators"]}
    assert "shuffle records written" in ops["Exchange"]
    assert any(n.startswith("WholeStageCodegen") for n in ops)
    with open(entry["plan"]) as f:
        assert "== Physical Plan ==" in f.read()


def test_bench_time_pass_records_task_time_per_query(spark, sf_small, monkeypatch):
    headline = ["w1_latest_event_per_user", "g_q1_pricing_summary"]
    monkeypatch.setattr(bench, "HEADLINE", headline)
    task_ms: dict[str, float] = {}
    wall = bench._time_pass(spark, sf_small, task_ms)
    assert sorted(wall) == sorted(task_ms) == sorted(headline)
    assert all(v > 0 for v in task_ms.values()), task_ms


def test_prev_round_commit_skips_head():
    log = ["h3\tround 15: bench", "h2\tfix parser", "h1\tround 14: verdict"]
    # HEAD is itself a round snapshot: the previous round is older
    assert bench._prev_round_commit_in(log) == "h1"
    assert bench._prev_round_commit_in(["h4\twork after r15", *log]) == "h3"
    assert bench._prev_round_commit_in(["h3\tround 15: bench"]) is None
