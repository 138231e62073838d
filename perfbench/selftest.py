#!/usr/bin/env python3
"""Self-tests of the benchmark on tiny inputs (about a minute).

    python3 perfbench/selftest.py

Run from the repository root. Checks that:

* both workloads run end to end and pass their output checks;
* the traced path reads per-layer numbers from the status store;
* a corrupted DW and a corrupted query result each count as a failed
  operation, so the checks do catch bad output;
* ``BENCHMARK.json`` names exactly the metrics ``run.py`` prints;
* ``run.py`` exits non-zero, printing no result, in a directory that
  holds only ``BENCHMARK.json`` and ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def test_manifest() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check({m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E,
          "BENCHMARK.json end_to_end matches run.E2E")
    check({m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER,
          "BENCHMARK.json per_layer matches run.PER_LAYER")
    check(sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS),
          "BENCHMARK.json workloads match run.WORKLOADS")


def test_bare_checkout() -> None:
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cron_cycle",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    shutil.rmtree(bare, ignore_errors=True)
    check(p.returncode != 0 and '"correct"' not in p.stdout,
          f"bare checkout exits {p.returncode} without a result")


def test_workloads() -> None:
    from probe import UNAVAILABLE, group_metrics

    run.pin_env()
    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = run.start_spark()
    try:
        for name, cls in run.WORKLOADS.items():
            b = run.Bench(spark, seed=7, size="tiny",
                          work=os.path.join(work, name))
            os.makedirs(b.work)
            w = cls(b)
            w.setup()
            w.measure()
            w.verify()
            check(b.failed == 0 and b.attempted > 0,
                  f"{name}: {b.attempted} operations, none failed {b.problems}")
            groups = group_metrics(b.sc)
            check(groups != UNAVAILABLE, f"{name}: status store readable")
            layer = w.per_layer(groups)
            check(bool(layer) and all(isinstance(v, (int, float)) for v in layer.values())
                  and any(v > 0 for k, v in layer.items() if k.endswith("task_s")),
                  f"{name}: per-layer metrics with task time")
            before = b.failed
            if name == "cron_cycle":
                corrupt_dw(os.path.join(w.wh, "dw"))
                b.fail_checks("dw", w.replay.check_dw(os.path.join(w.wh, "dw")))
            else:
                from oracle import arrow_rows

                q = run.SUITE[0]
                cols, rows = arrow_rows(w.results[q][2])
                w.check(q, (cols, [("CORRUPTED",) + tuple(rows[0][1:])] + rows[1:]))
            check(b.failed > before, f"{name}: corrupted output counted as failed")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def corrupt_dw(path: str) -> None:
    """Rewrite the DW with one value changed in one row."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    col = t.column("status_prazo")
    first = pc.equal(pa.array(range(len(t))), 0)
    t = t.set_column(t.schema.get_field_index("status_prazo"), "status_prazo",
                     pc.if_else(first, pa.scalar("CORRUPTED"), col))
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(t, os.path.join(path, "part-00000.parquet"))


if __name__ == "__main__":
    test_manifest()
    test_bare_checkout()
    test_workloads()
    print("selftest passed")
