#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per run, end-to-end
metrics with tracing off, per-layer metrics with tracing on.

Run from the repository root::

    python3 perfbench/run.py --workload sync --seed 1 --seconds 1 --trace 0

Workloads:

- ``sync``: scan a generated ``*.shp`` tree, fetch the project table
  from a fake Gather API (its own process, fixed per-request service
  time), plan, report and apply a churn sync, then a resync over the
  applied state.  Warehouse invariants are checked after every apply.
- ``text_dedup``: the dedup/similarity/ANN registry queries over a
  generated corpus; the only workload that builds persisted artifacts.
- ``star_sql``: registry ``q1``-``q40`` over a generated star schema.
  Runnable here, but not listed in ``BENCHMARK.json``: a third
  workload's runs do not fit the benchmark's total time budget.

Each run works in its own ``.bench_work/<run>/`` directory (its own
artifact directory, Spark local dirs and working directory), deletes it
at the end, and writes its spans and pass records to
``.bench_results/<run>.json``.  The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

End-to-end metrics (``--trace 0``): ``setup_s``, ``cold_s``, ``pass_s``,
``cpu_s``, ``peak_rss_mb``.  Per-layer metrics (``--trace 1``) are the
figures of the traced warm pass, plus ``trace.overhead_s``, the traced
minus the untraced pass time.  The run record also carries the
core count, the Spark master, load1 before and after, the seed, the
failed operations by name and ``failed_ratio``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "gather_datawarehouse_sync_spark"

# Input sizes, fixed for every seed: the largest at which one run (JVM
# start, generation, the cold pass with its oracle check, one timed
# pass) takes about a minute on 4 cores, so that the 48 runs of two
# workloads fit in under an hour.  ``text_dedup`` has the 2000 vectors
# of the registry's sf0.1 testdata but a fifth of its 5000 documents:
# at 5000, q42 returns about three million pairs, and collecting them
# and checking them against the DuckDB oracle made one run take 185 s.
# ``sync`` at 4000 files took 105 s a run.
SIZES = {
    "star_sql": {"sf": 0.01, "docs": 500, "vecs": 500},
    "text_dedup": {"sf": 0.001, "docs": 1000, "vecs": 2000},
    "sync": {"files": 2000},
}
SETUP_REPS = 3


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _prepare_env(work: str) -> None:
    """Point every place the run writes to inside ``work``."""
    for sub in ("artifacts", "local", "cwd", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(work, "artifacts")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData')} pyspark-shell"
    )
    # Python workers import the engine and the fake Gather client
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # spark-warehouse/ and derby.log land in the run's working directory
    os.chdir(os.path.join(work, "cwd"))


def _generate(workload: str, seed: int, work: str) -> tuple[float, dict]:
    """Generate the run's inputs ``SETUP_REPS`` times into fresh
    directories and keep the last; returns the median generation time."""
    import datagen

    size = SIZES[workload]
    times, out = [], {}
    for rep in range(SETUP_REPS):
        target = os.path.join(work, f"input{rep}")
        t0 = time.perf_counter()
        if workload == "sync":
            out = datagen.sync_scenario(target, seed, size["files"])
        else:
            datagen.write_tables(target, seed, size["sf"], size["docs"], size["vecs"])
            out = {}
        times.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(target)
    out["dir"] = target
    return statistics.median(times), out


def _layer_metrics(workload: str, result: dict, scenario: dict) -> dict:
    """Per-layer figures of the traced warm pass, and the tracing
    overhead: its wall time minus that of the untraced warm pass.

    What each should move: ``session.start_s`` -> ``setup_s``;
    ``queries.build_*``, ``spark.driver_s`` and ``spark.idle_core_frac``
    -> ``pass_s`` on the registry workloads; the other ``spark.*`` and
    ``functions.*`` figures -> ``pass_s`` and ``cpu_s``;
    ``sources.artifacts.cold_*`` -> ``cold_s`` on ``text_dedup`` (zero in
    warm passes); ``sources.filescan.*``, ``sources.rest.*`` and
    ``sync.*`` -> ``pass_s`` on ``sync`` (through ``sync.churn_s`` and
    ``sync.resync_s``).  Figures of a layer a workload does not use are
    0 there."""
    warm = result["warm"]
    if workload == "sync":
        warm = [p for p in warm if "resync" in p] or warm  # skip passes that raised
    traced = [p for p in warm if p["traced"]] or warm
    untraced = [p for p in warm if not p["traced"]] or warm

    def per_pass(fn):
        return _median(fn(p) for p in traced)

    def span_sum(p, prefix, key="wall_s"):
        return sum(s.get(key, 0.0) for s in p["spans"] if s["name"].startswith(prefix))

    m = {"session.start_s": result["session_start_s"]}
    m["driver.peak_rss_mb"] = result["peak_rss_mb"]["driver"]
    m["functions.peak_rss_mb"] = result["peak_rss_mb"]["workers"]
    m["spark.jvm_peak_rss_mb"] = result["peak_rss_mb"]["jvm"]
    m["queries.build_s"] = per_pass(lambda p: span_sum(p, "queries.build:"))
    m["queries.build_jobs"] = per_pass(lambda p: span_sum(p, "queries.build:", "jobs"))
    # the spans that run Spark jobs; the sync.churn / sync.resync spans
    # enclose them and carry no Spark figures of their own
    leaf = ("spark.", "sources.", "sync.plan", "sync.sync_report", "sync.apply", "queries.build:")
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "driver_s"):
        m[f"spark.{key}"] = per_pass(
            lambda p, key=key: sum(span_sum(p, pre, key) for pre in leaf)
        )
    cores = _nproc()

    def idle(p):
        wall = sum(span_sum(p, pre) for pre in leaf)
        run_s = sum(span_sum(p, pre, "executor_run_s") for pre in leaf)
        return 1.0 - run_s / (wall * cores) if wall > 0 else 0.0

    m["spark.idle_core_frac"] = per_pass(idle)
    m["spark.jit_s"] = per_pass(lambda p: p["jit_s"])
    m["functions.python_cpu_s"] = per_pass(lambda p: p["cpu"]["workers"])
    m["functions.workers_spawned"] = per_pass(lambda p: p["workers_spawned"])
    m["driver.python_cpu_s"] = per_pass(lambda p: p["cpu"]["driver"])
    m["sources.artifacts.builds"] = per_pass(lambda p: p["artifact_builds"])
    m["sources.artifacts.mb"] = per_pass(lambda p: p["artifact_mb"])
    m["sources.artifacts.cold_builds"] = result["cold"]["artifact_builds"]
    m["sources.artifacts.cold_mb"] = result["cold"]["artifact_mb"]

    sync_keys = (
        "sources.filescan.list_s", "sources.filescan.read_amplification",
        "sources.rest.fetch_s", "sources.rest.fetch_requests",
        "sources.rest.sink_requests", "sources.rest.sink_retries", "sources.rest.sink_failed",
        "sources.rest.sink_max_in_flight", "sources.rest.sink_noop_ratio",
        "sync.churn_s", "sync.resync_s", "sync.plan_s", "sync.report_s", "sync.apply_s",
        "sync.jobs", "sync.stages",
    ) + tuple(f"sync.{k}.{a}" for k in ("churn", "resync") for a in ("insert", "update", "archive", "keep")) + (
        "sync.resync_writes",
    )
    m.update(dict.fromkeys(sync_keys, 0.0))
    if workload == "sync":
        tree_mb = scenario["tree_bytes"] / 1e6
        srv = lambda p, k: p["churn"]["server"][k] + p["resync"]["server"][k]  # noqa: E731
        m["sources.filescan.list_s"] = per_pass(lambda p: span_sum(p, "sources.filescan"))
        m["sources.filescan.read_amplification"] = per_pass(lambda p: _churn_input_mb(p) / tree_mb)
        m["sources.rest.fetch_s"] = per_pass(lambda p: span_sum(p, "sources.rest"))
        m["sources.rest.fetch_requests"] = per_pass(lambda p: srv(p, "get"))
        m["sources.rest.sink_requests"] = per_pass(lambda p: srv(p, "sink"))
        m["sources.rest.sink_retries"] = per_pass(lambda p: srv(p, "retry"))
        m["sources.rest.sink_failed"] = per_pass(lambda p: srv(p, "failed"))
        m["sources.rest.sink_max_in_flight"] = per_pass(
            lambda p: max(p["churn"]["server"]["max_in_flight"], p["resync"]["server"]["max_in_flight"])
        )
        m["sources.rest.sink_noop_ratio"] = per_pass(
            lambda p: srv(p, "noop") / srv(p, "sink") if srv(p, "sink") else 0.0
        )
        m["sync.churn_s"] = per_pass(lambda p: p["churn"]["wall_s"])
        m["sync.resync_s"] = per_pass(lambda p: p["resync"]["wall_s"])
        m["sync.plan_s"] = per_pass(lambda p: span_sum(p, "sync.plan"))
        m["sync.report_s"] = per_pass(lambda p: span_sum(p, "sync.sync_report"))
        m["sync.apply_s"] = per_pass(lambda p: span_sum(p, "sync.apply"))
        m["sync.jobs"] = per_pass(lambda p: sum(span_sum(p, pre, "jobs") for pre in leaf))
        m["sync.stages"] = per_pass(lambda p: sum(span_sum(p, pre, "stages") for pre in leaf))
        for kind in ("churn", "resync"):
            for a in ("insert", "update", "archive", "keep"):
                m[f"sync.{kind}.{a}"] = per_pass(lambda p: p[kind]["actions"][a])
        m["sync.resync_writes"] = per_pass(
            lambda p: sum(p["resync"]["actions"][a] for a in ("insert", "update", "archive"))
        )
    m["queries.p50_s"] = _median(t for p in traced for t in p.get("queries", {}).values())
    m["trace.overhead_s"] = _median(p["wall_s"] for p in traced) - _median(
        p["wall_s"] for p in untraced
    )
    return m


def _churn_input_mb(p: dict) -> float:
    """Input bytes read by the Spark jobs of the pass's churn sync."""
    churn = {s["id"] for s in p["spans"] if s["name"] == "sync.churn"}
    return sum(s.get("input_mb", 0.0) for s in p["spans"] if s["parent"] in churn)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"error: the engine package {ENGINE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    results_dir = os.path.join(ROOT, ".bench_results")
    os.makedirs(results_dir, exist_ok=True)
    cwd = os.getcwd()
    _prepare_env(work)
    box = {"nproc": _nproc(), "master": None, "seed": args.seed, "load1_before": os.getloadavg()[0]}
    spark = gather = run = None
    try:
        import workloads as W

        gen_s, inputs = _generate(args.workload, args.seed, work)
        t0 = time.perf_counter()
        if args.workload == "sync":
            gather = W.FakeGather(inputs["projects"], work)
        t_gather = time.perf_counter() - t0

        from gather_datawarehouse_sync_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_start = time.perf_counter() - t0
        box["master"] = spark.sparkContext.master

        run = W.Run(spark, args.workload, args.seed, bool(args.trace))
        if gather is not None:
            run.tree.exclude.add(gather.proc.pid)
        if args.workload == "sync":
            result = W.sync_workload(run, inputs, inputs["dir"], gather, args.seconds)
        else:
            names = W.STAR_SQL if args.workload == "star_sql" else W.TEXT_DEDUP
            result = W.registry_workload(run, names, inputs["dir"], args.seconds)
        result["session_start_s"] = session_start
        result["peak_rss_mb"] = rss = run.tree.peak_rss_mb()
        setup_s = session_start + gen_s + t_gather
        warm = result["warm"]
        untraced = [p for p in warm if not p["traced"]] or warm
        e2e = {
            "setup_s": setup_s,
            "cold_s": result["cold"]["wall_s"],
            "pass_s": _median(p["wall_s"] for p in untraced),
            "cpu_s": _median(p["cpu"]["total"] for p in untraced),
            # the JVM's high-water mark follows its heap resizing (2.2-3.2
            # GB on identical inputs), so the end-to-end figure is the
            # Python side; the JVM's own figure is a per-layer metric
            "peak_rss_mb": rss["driver"] + rss["workers"],
        }
        detail = {
            "setup": {"session_start_s": session_start, "generate_s": gen_s,
                      "fake_gather_s": t_gather},
            "sizes": SIZES[args.workload],
            "peak_rss_mb": rss,
            "jit_s": {"cold": result["cold"]["jit_s"],
                      "warm": _median(p["jit_s"] for p in untraced)},
        }
        if args.workload == "sync":
            detail["planted"] = inputs["counts"]
            detail["sync_s"] = _median(p["churn"]["wall_s"] for p in untraced if "churn" in p)
            detail["resync_s"] = _median(p["resync"]["wall_s"] for p in untraced if "resync" in p)
        else:
            samples = sorted(t for p in untraced for t in p["queries"].values())
            detail["query_p50_s"] = _median(samples)
            detail["query_samples"] = len(samples)
            if len(samples) >= 100:
                detail["query_p90_s"] = statistics.quantiles(samples, n=10)[-1]
        metrics = (
            _layer_metrics(args.workload, result, inputs) if args.trace
            else e2e
        )
        units = {k: _unit(k) for k in metrics}
    except Exception as exc:
        import traceback

        traceback.print_exc()
        print(f"error: run failed: {exc}", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        if run is not None:
            run.tree.wait_workers_gone(timeout=30)
        if gather is not None:
            gather.close()
        box["load1_after"] = os.getloadavg()[0]
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    failed = run.failed
    detail |= {"box": box, "failures": run.failures, "failed_ratio": failed / max(run.attempted, 1),
               "end_to_end": e2e, "passes": run.passes}
    with open(os.path.join(results_dir, f"{run_id}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({k: v for k, v in detail.items() if k != "passes"}, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python daemons
    under it) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("_frac", "_ratio", "amplification")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
