#!/usr/bin/env python
"""Profile registered queries: where does a query spend its time?

    python scripts/query_profile.py --sf DIR [--runs N] [--out DIR] QUERY...

For each query: one warm pass, then ``--runs`` timed passes. A pass has
two spans, each under its own Spark job group:

- compose: the ``QUERIES[q](spark, sf)`` call, i.e. the driver-side
  eager work a query does before it returns its frame (checkpoints,
  collects, iterative supersteps);
- execute: a noop-format write of that frame (full materialization).

Prints one JSON line ``{"sf", "runs", "queries": {q: ...}}``. Per query:
the best ``compose_s`` and ``execute_s``; for each phase, the task time,
shuffle-write bytes, spill, GC time and job count of the pass that gave
that best (``perfbench/probe.py``'s ``group_metrics``); and the best
execute's per-physical-operator SQL metrics (the SQL status store's plan
graph and metric values). Everything is read from Spark's in-process
status stores, so it works with the UI off and needs no event log.

With ``--out DIR``, each query's ``explain("formatted")`` is written to
``DIR/<query>.txt``. The package is imported from the working
directory, so running this script from the root of another checkout
(for example a ``git worktree`` of the parent commit) with a different
``--out`` gives before/after plan pairs from the same script. Point
``--sf`` at ``scripts/scale_probe.py``'s derivation to profile at scale.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import uuid
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.probe import UNAVAILABLE, Spans, group_metrics  # noqa: E402

PHASE_KEYS = ("task_s", "shuffle_b", "spill_b", "gc_s", "jobs")


def operator_metrics(spark, description: str) -> list[dict]:
    """Non-zero SQL metrics per physical operator of the SQL execution(s)
    whose description is ``description`` (a span's unique name). With AQE
    the stored plan graph is the final plan; WholeStageCodegen clusters
    carry the codegen stage's duration."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.description() != description:
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for j in range(nodes.size()):
            node, metrics = nodes.apply(j), {}
            ms = node.metrics()
            for k in range(ms.size()):
                v = values.get(ms.apply(k).accumulatorId())
                if not v.isDefined():
                    continue
                # "total (min, med, max ...)\n<total> (<min>, ...)" or "<total>"
                total = v.get().splitlines()[-1].split(" (")[0]
                if any(c in "123456789" for c in total):
                    metrics[ms.apply(k).name()] = total
            if metrics:
                out.append({"id": node.id(), "name": node.name(),
                            "metrics": metrics})
    return out


def profile(spark, sf_dir: str, names: list[str], runs: int = 3,
            out_dir: str | None = None) -> dict:
    from sftp_data_ingestion_spark import queries as q

    sc = spark.sparkContext
    spans = Spans(sc)
    tag = uuid.uuid4().hex[:8]  # job groups stay unique within a session
    report = {}
    for name in names:
        passes = []  # (compose span, execute span) per timed pass
        for i in range(runs + 1):
            label = f"profile {tag} {name} #{i}"
            with spans.span(f"{label} compose", group=f"{label} compose") as c:
                df = q.QUERIES[name](spark, sf_dir)
            with spans.span(f"{label} execute", group=f"{label} execute") as e:
                df.write.format("noop").mode("overwrite").save()
            if i > 0:  # pass 0 warms codegen and file footers
                passes.append((c, e))
        groups = group_metrics(sc)
        if groups == UNAVAILABLE:
            raise RuntimeError("Spark status store is unreachable")
        entry = {}
        for k, phase in enumerate(("compose", "execute")):
            best = min((p[k] for p in passes), key=spans.wall)
            m = groups.get(best["group"], dict.fromkeys(PHASE_KEYS, 0))
            entry[f"{phase}_s"] = round(spans.wall(best), 3)
            entry[phase] = {key: round(m[key], 3) for key in PHASE_KEYS}
            if phase == "execute":
                entry["operators"] = operator_metrics(spark, best["name"])
        if out_dir is not None:
            os.makedirs(out_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            entry["plan"] = os.path.join(out_dir, f"{name}.txt")
            with open(entry["plan"], "w") as f:
                f.write(f"# {name} (sf: {sf_dir})\n\n{buf.getvalue()}")
        report[name] = entry
    return {"sf": sf_dir, "runs": runs, "queries": report}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    sys.path.insert(0, os.getcwd())  # profile the working directory's tree
    from sftp_data_ingestion_spark.session import get_spark

    spark = get_spark(app_name="profile")
    print(json.dumps(profile(spark, args.sf, args.queries, args.runs, args.out)))


if __name__ == "__main__":
    main()
