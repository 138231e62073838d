#!/usr/bin/env python3
"""Pipeline-and-query benchmark for ``sftp_data_ingestion_spark``.

    python3 perfbench/run.py --workload cron_cycle --seed 1 --seconds 30 --trace 0

Run from the repository root. One Python process with a
``local[<cores>]`` Spark session drives the package's public entry points: ``cli.cmd_ingest`` /
``cmd_load`` / ``cmd_upsert`` / ``cmd_archive`` for the cron pipeline,
``queries.QUERIES[name]`` for the query suite. Each run measures one
cold unit of work, a cron cycle or a pass over the suite, in a fresh
JVM. ``--seconds`` is accepted so that every workload takes the same
arguments; it is of the order of the unit's length and bounds nothing.
Inputs are generated from ``--seed`` under ``.bench_work/`` (removed at exit);
every output is checked against a DuckDB oracle. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (read from
Spark's status store per job group) with ``--trace 1``. A ``context``
line before it records the pinned environment and host anchors.

Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEM = "3g"

# The headline queries that fit the run budget: the merge, the dedup
# window and the tf-idf top-k (ROADMAP item 3). The flagship
# cleaning pipeline is left to cron_cycle, whose upsert runs the same
# clean -> dedup -> merge path through the CLI.
SUITE = [
    "u1_upsert_newer_wins",
    "w1_latest_event_per_user",
    "z4_sparse_tfidf_topk",
]
STAGES = ("ingest", "load", "upsert", "archive")

SIZES = {
    # rows (and files) already loaded by earlier cron runs, rows (and
    # files) in the new drop, fixture-table scale (1.0 = sf0.01). The
    # bench size has the deployed shape: a DW of about 135k keys, 249
    # files in the landing directory (BASELINE.md's one observed corpus),
    # and a drop of about 6k rows, about 4% of the DW.
    "bench": dict(boot_rows=135_000, boot_files=245, drop_rows=6000,
                  drop_files=3, table_scale=1.0),
    "tiny": dict(boot_rows=1000, boot_files=2, drop_rows=200,
                 drop_files=2, table_scale=0.1),
}

# Wall time of the unit is printed in the context line, not bounded as a
# metric: on a host shared with other VMs it moved up to 35% (IQR over
# median, ten runs) where CPU time moved 10%.
E2E = {  # name -> unit
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}
_STAGE_METRICS = {
    "ingest": {"wall_s": "s", "files": "count"},
    "load": {"wall_s": "s", "task_s": "s", "core_util": "ratio", "jobs": "count",
             "shuffle_b": "B", "spill_b": "B", "gc_s": "s",
             "files_useful_ratio": "ratio", "rows": "count"},
    "upsert": {"wall_s": "s", "task_s": "s", "core_util": "ratio", "jobs": "count",
               "shuffle_b": "B", "spill_b": "B", "gc_s": "s", "write_amp": "ratio"},
    "archive": {"wall_s": "s", "task_s": "s", "jobs": "count", "rows": "count"},
}
PER_LAYER = {f"{s}.{m}": u for s, ms in _STAGE_METRICS.items() for m, u in ms.items()}
PER_LAYER["warehouse.stored_bytes_ratio"] = "ratio"
for _q in SUITE:
    for _m, _u in (("compose_s", "s"), ("execute_s", "s"), ("task_s", "s"),
                   ("shuffle_b", "B")):
        PER_LAYER[f"q.{_q}.{_m}"] = _u
PER_LAYER["suite.spill_b"] = "B"
PER_LAYER["suite.gc_s"] = "s"


def pin_env() -> dict[str, str]:
    """Pin the environment every run uses; returns what was pinned."""
    old_pp = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # the session default (24g) is above this class of host's RAM
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers start outside the repo root and must find the package
        "PYTHONPATH": ROOT + (os.pathsep + old_pp if old_pp else ""),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    return env


def start_spark():
    from sftp_data_ingestion_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(app_name="perfbench", extra_conf={
        # keep every job and stage for the per-group sums
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # A heap fixed at its maximum (-Xms = -Xmx) keeps peak RSS from
        # depending on when G1 decides to grow the heap: with a growing
        # heap, runs of one workload peaked at either about 2.5 or 3.1 GB.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    })


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Bench:
    """One run: the session, its spans, and the operation counters."""

    def __init__(self, spark, seed: int, size: str, work: str):
        from probe import Spans

        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.size = SIZES[size]
        self.work = work
        self.spans = Spans(self.sc)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_s = 0.0
        self.wall_s = self.cpu_s = self.peak_rss_mb = 0.0  # of the timed unit

    def op(self, name: str, group: str | None, fn):
        """Run one operation (a stage call or a query) under its own
        span and, when ``group`` is given, job group; a raise counts as
        a failed operation."""
        self.attempted += 1
        with self.spans.span(name, group) as rec:
            try:
                rec["out"] = fn()
            except Exception as exc:  # noqa: BLE001 — counted, reported
                self.failed += 1
                self.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
                rec["out"] = None
        return rec

    def fail_checks(self, what: str, problems: list[str]) -> None:
        if problems:
            self.failed += len(problems)
            self.problems += [f"{what}: {p}"[:400] for p in problems]

    def timed(self, unit) -> None:
        """Run the one cold unit a run measures; record its wall and CPU
        seconds and the peak RSS reached during it."""
        from probe import cpu_seconds, peak_rss_mb, reset_peak_rss

        pids = [os.getpid(), self.sc._gateway.proc.pid]
        reset_peak_rss(pids)  # set-up's own memory does not count
        c0, w0 = cpu_seconds(pids), time.perf_counter()
        unit()
        self.wall_s = time.perf_counter() - w0
        self.cpu_s = cpu_seconds(pids) - c0
        self.peak_rss_mb = peak_rss_mb(pids)


class CronCycle:
    """One cron run as deployed: a fresh process, an existing warehouse,
    one new landing drop, ingest -> load -> upsert -> archive."""

    name = "cron_cycle"

    def __init__(self, b: Bench):
        self.b = b
        self.wh = os.path.join(b.work, "warehouse")
        self.src = os.path.join(b.work, "source")
        self.args = argparse.Namespace(
            source=self.src, landing=os.path.join(b.work, "landing"),
            warehouse=self.wh, batch_id=None, buckets=None)
        self.recs: dict = {}

    def _prepare(self) -> None:
        """Warehouse as earlier runs left it (DW, hist, ledger, written
        from the DuckDB replay) plus the new drop in the source dir."""
        from gen import LandingGenerator, write_history, write_landing_file
        from oracle import PipelineReplay

        for d in (self.wh, self.src, self.args.landing):
            shutil.rmtree(d, ignore_errors=True)
        sz = self.b.size
        gen = LandingGenerator(self.b.seed)
        self.history = gen.batch_files(sz["boot_rows"], sz["boot_files"], new_share=1.0)
        self.drop = gen.batch_files(sz["drop_rows"], sz["drop_files"],
                                    new_share=0.25, n_bad=1)
        # landed files stay in the landing dir (route_file copies them);
        # the ledger is what keeps them from being loaded again. Writing
        # a file settles its rows (ragged rows), so write before replaying.
        os.makedirs(self.args.landing)
        os.makedirs(self.src)
        self.csv_bytes = (
            sum(write_landing_file(f, self.args.landing) for f in self.history)
            + sum(write_landing_file(f, self.src) for f in self.drop))
        self.replay = PipelineReplay()
        self.replay.apply([r for f in self.history for r in f.rows])
        self.replay.write_dw(os.path.join(self.wh, "dw"))
        write_history(self.wh, self.history)

    def setup(self) -> None:
        t = time.perf_counter()
        self._prepare()
        self.b.setup_s += time.perf_counter() - t

    def cycle(self) -> None:
        from sftp_data_ingestion_spark import cli

        cmds = {"ingest": cli.cmd_ingest, "load": cli.cmd_load,
                "upsert": cli.cmd_upsert, "archive": cli.cmd_archive}
        with self.b.spans.span("cycle"):
            self.recs = {s: self.b.op(f"cycle.{s}", f"{self.name}:{s}",
                                      lambda s=s: cmds[s](self.b.spark, self.args))
                         for s in STAGES}

    def measure(self) -> None:
        self.b.timed(self.cycle)

    def verify(self) -> None:
        from oracle import check_warehouse

        good = [r for f in self.drop if not f.bad for r in f.rows]
        self.replay.apply(good)
        self.b.fail_checks("dw", self.replay.check_dw(os.path.join(self.wh, "dw")))
        loaded = sum(len(f.rows) for f in self.history) + len(good)
        self.b.fail_checks("warehouse", check_warehouse(
            self.wh, self.history + self.drop, loaded))

    def per_layer(self, groups) -> dict[str, float]:
        from probe import dir_bytes

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        out: dict[str, float] = {}
        for stage, metrics in _STAGE_METRICS.items():
            rec = self.recs[stage]
            res = rec["out"] or {}
            grp = groups.get(f"{self.name}:{stage}", {})
            wall = self.b.spans.wall(rec)
            derived = {
                "wall_s": wall,
                "core_util": grp.get("task_s", 0.0) / (wall * cores),
                "files": res.get("fetched", 0),
                "files_useful_ratio": (res.get("files_processed", 0)
                                       / max(res.get("files_seen", 0), 1)),
                "rows": res.get("rows_loaded", res.get("moved", 0)),
                # DW rows written per delta row (clean, deduplicated keys)
                "write_amp": res.get("dw_rows", 0) / max(self.replay.delta_rows[-1], 1),
            }
            for m in metrics:
                out[f"{stage}.{m}"] = derived[m] if m in derived else grp.get(m, 0)
        stored = sum(dir_bytes(os.path.join(self.wh, n))
                     for n in ("bronze", "dw", "hist", "ledger"))
        out["warehouse.stored_bytes_ratio"] = stored / max(self.csv_bytes, 1)
        return out

    def context(self) -> dict:
        return {"history_rows": self.b.size["boot_rows"],
                "drop_rows": self.b.size["drop_rows"],
                "csv_bytes": self.csv_bytes,
                "stage_results": {s: r["out"] for s, r in self.recs.items()}}


class QuerySuite:
    """The headline-query subset over generated fixture tables, run once
    in a fresh session; each result is fetched into Python as Arrow
    and checked against its oracle after the timed pass."""

    name = "query_suite"

    def __init__(self, b: Bench):
        self.b = b
        self.tables = os.path.join(b.work, "tables")
        self.results: dict = {}

    def setup(self) -> None:
        from gen import write_tables

        t = time.perf_counter()
        write_tables(self.tables, self.b.seed, self.b.size["table_scale"])
        self.b.setup_s += time.perf_counter() - t

    def measure(self) -> None:
        from sftp_data_ingestion_spark import queries as q

        def run(name):
            grp = f"{self.name}:{name}"
            with self.b.spans.span(f"{name}.compose", f"{grp}:compose") as c:
                df = q.QUERIES[name](self.b.spark, self.tables)
            with self.b.spans.span(f"{name}.execute", f"{grp}:execute") as e:
                table = df.toArrow()
            return c, e, table

        def suite_pass():
            with self.b.spans.span("pass"):
                for name in SUITE:
                    self.results[name] = self.b.op(name, None, lambda n=name: run(n))["out"]

        self.b.timed(suite_pass)

    def check(self, name: str, result) -> None:
        from oracle import compare, oracle_rows
        from sftp_data_ingestion_spark import queries as q

        try:
            ocols, orows = oracle_rows(self.tables, q.ORACLES[name])
        except Exception as exc:  # noqa: BLE001
            self.b.fail_checks(name, [f"oracle error: {exc}"])
            return
        self.b.fail_checks(name, compare(result[0], result[1], ocols, orows))

    def verify(self) -> None:
        from oracle import arrow_rows

        for name in SUITE:
            if self.results[name] is not None:  # a raise is already counted
                self.check(name, arrow_rows(self.results[name][2]))

    def per_layer(self, groups) -> dict[str, float]:
        out: dict[str, float] = {}

        def g(name, key):
            return sum(groups.get(f"{self.name}:{name}:{ph}", {}).get(key, 0)
                       for ph in ("compose", "execute"))

        for name in SUITE:
            res = self.results[name]
            out[f"q.{name}.compose_s"] = self.b.spans.wall(res[0]) if res else 0.0
            out[f"q.{name}.execute_s"] = self.b.spans.wall(res[1]) if res else 0.0
            out[f"q.{name}.task_s"] = g(name, "task_s")
            out[f"q.{name}.shuffle_b"] = g(name, "shuffle_b")
        for key in ("spill_b", "gc_s"):
            out[f"suite.{key}"] = sum(g(n, key) for n in SUITE)
        return out

    def context(self) -> dict:
        return {"queries": SUITE, "table_scale": self.b.size["table_scale"],
                "result_rows": {n: r[2].num_rows for n, r in self.results.items() if r}}


WORKLOADS = {w.name: w for w in (CronCycle, QuerySuite)}


def run_workload(name: str, seed: int, seconds: float,
                 trace: bool) -> tuple[dict, dict]:
    """One benchmark run; returns (result object, context)."""
    env = pin_env()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from probe import UNAVAILABLE, calibrate, group_metrics

    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_spark()
    try:
        b = Bench(spark, seed, "bench", work)
        b.setup_s = time.perf_counter() - T_START  # imports + session start
        w = WORKLOADS[name](b)
        w.setup()
        w.measure()
        w.verify()
        e2e = {
            "setup_s": b.setup_s,
            "cpu_s": b.cpu_s,
            "peak_rss_mb": b.peak_rss_mb,
            "success_rate": 1.0 - min(b.failed, b.attempted) / b.attempted,
        }
        ctx = {"workload": name, "seed": seed, "seconds": seconds,
               "wall_s": b.wall_s,
               "trace": int(trace), "env": env,
               "master": b.sc.master,
               "default_parallelism": b.sc.defaultParallelism,
               **w.context(), "problems": b.problems[:20]}
        if trace:
            groups = group_metrics(b.sc)
            if groups == UNAVAILABLE:
                metrics = {k: UNAVAILABLE for k in PER_LAYER}
            else:
                metrics = {k: 0.0 for k in PER_LAYER}  # layers this workload skips
                metrics.update(w.per_layer(groups))
            spans_path = os.path.join(WORK, f"spans-{name}-seed{seed}.json")
            b.spans.write(spans_path)
            ctx.update(spans=os.path.relpath(spans_path, ROOT),
                       traced_e2e=e2e, calib_s=calibrate(spark))
            out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            out = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
        result = {"correct": b.failed == 0, "attempted": b.attempted,
                  "failed": b.failed, "metrics": out}
        return result, ctx
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for a uniform command line; a run measures one cold unit")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if importlib.util.find_spec("pyspark") is None or not os.path.isfile(
            os.path.join(ROOT, "sftp_data_ingestion_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds sftp_data_ingestion_spark/ "
              "and with pyspark installed", file=sys.stderr)
        return 2
    result, ctx = run_workload(args.workload, args.seed, args.seconds,
                               bool(args.trace))
    print(json.dumps({"context": ctx}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
