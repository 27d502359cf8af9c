"""The three workloads.  Each runs passes over seeded inputs:

- pass 1 is the cold pass (fresh JVM, empty artifact directory, no
  Python worker yet), reported as ``cold_s``.  It runs the same queries
  or syncs as a warm pass and is also the warm-up: it compiles every plan once
  and spawns every Python worker the warm passes use (they spawn none),
  and for the registry workloads it collects every query and compares
  it with the DuckDB oracle (the comparison is not timed);
- passes 2.. are the timed warm passes, run until ``--seconds`` is
  used: at least one.  A traced run makes exactly two, one traced and
  one not, and the seed's parity picks which comes first, so over
  seeds neither side of the tracing overhead always gets the later,
  better-compiled pass.

Every pass checks its outputs.  A failure is counted and named, never
dropped.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

from probes import ProcessTree, Tracer, cpu_delta, dir_usage

STAR_SQL = tuple(f"q{i}" for i in range(1, 41))
TEXT_DEDUP = (
    "q42", "x_dedup_against", "x_minhash_canon", "x_bm25",
    "x_embed_dup_lsh", "x_auto_nprobe", "x_curation_full",
)


class Run:
    """State shared by one benchmark run: the session, the tracer, the
    process tree and the failure log."""

    def __init__(self, spark, workload: str, seed: int, trace: bool) -> None:
        self.spark, self.seed = spark, seed
        self.tracer = Tracer(spark, workload, trace)
        self.tree = ProcessTree()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []
        self.artifacts = os.environ["SPARK_GRAFT_ARTIFACTS"]
        self.jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def fail(self, what: str, count: int = 1) -> None:
        """Record ``count`` failed operations under one message."""
        self.failed += count
        self.failures.append(what)
        print(f"FAILED: {what}", file=sys.stderr, flush=True)

    def run_pass(self, body, traced: bool) -> dict:
        """Run one pass, measuring CPU, artifact growth and new workers
        around it.  ``body(rec)`` fills the pass record."""
        self.tracer.pass_no += 1
        self.tracer.enabled = traced
        n_spans = len(self.tracer.spans)
        art0 = dir_usage(self.artifacts)
        cpu0 = self.tree.sample()
        self.tree.new_workers(cpu0)
        rec = {"pass": self.tracer.pass_no, "traced": traced}
        jit0 = self.jit.getTotalCompilationTime()
        t0 = time.perf_counter()
        body(rec)
        rec["wall_s"] = time.perf_counter() - t0 - rec.get("untimed_s", 0.0)
        # JIT compiler time: tens of CPU-seconds in the cold pass of a
        # fresh JVM, and still some in the warm passes after it
        rec["jit_s"] = (self.jit.getTotalCompilationTime() - jit0) / 1000.0
        cpu1 = self.tree.sample()
        rec["cpu"] = cpu_delta(cpu0, cpu1)
        rec["workers_spawned"] = self.tree.new_workers(cpu1)
        art1 = dir_usage(self.artifacts)
        rec["artifact_builds"] = art1[0] - art0[0]
        rec["artifact_mb"] = (art1[1] - art0[1]) / 1e6
        rec["spans"] = self.tracer.spans[n_spans:]
        self.passes.append(rec)
        return rec

    def warm_passes(self, body, seconds: float) -> list[dict]:
        """The timed passes after the cold one (see the module doc)."""
        if self.tracer.enabled:
            first = self.seed % 2 == 0
            return [self.run_pass(body, traced=first), self.run_pass(body, traced=not first)]
        deadline, out = time.time() + seconds, []
        while not out or time.time() < deadline:
            out.append(self.run_pass(body, traced=False))
        return out


# ------------------------------------------------------------ registry


class _Collected:
    """A collected result in the shape ``tests/oracle.compare`` reads."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self):
        return self.rows


def registry_workload(run: Run, names: tuple[str, ...], data_dir: str, seconds: float) -> dict:
    """Run registry queries pass after pass, in a seed-permuted order."""
    from gather_datawarehouse_sync_spark.queries import REGISTRY

    tr = run.tracer
    expected: dict[str, int] = {}

    def order() -> list[str]:
        rng = np.random.default_rng([run.seed, tr.pass_no])
        return [names[i] for i in rng.permutation(len(names))]

    def timed_pass(rec: dict) -> None:
        rec["queries"] = {}
        for name in order():
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span(f"queries.build:{name}") as sp:
                    sp["layer"] = "queries"
                    df = REGISTRY[name].spark(run.spark, data_dir)
                with tr.span(f"spark.count:{name}") as sp:
                    sp["layer"] = "spark"
                    n = df.count()
            except Exception as exc:
                run.fail(f"{name} raised in pass {tr.pass_no}: {_first_line(exc)}")
                continue
            rec["queries"][name] = time.perf_counter() - t0
            if name in expected and n != expected[name]:
                run.fail(f"{name} returned {n} rows in pass {tr.pass_no}, expected {expected[name]}")
            expected.setdefault(name, n)
            del df

    def check_pass(rec: dict) -> None:
        """The cold pass: build and collect each query (timed), then
        compare it with the DuckDB oracle (not timed)."""
        from tests.oracle import compare, duck_connection

        con = duck_connection(data_dir)
        untimed = 0.0
        rec["queries"] = {}
        for name in order():
            run.attempted += 1
            spec = REGISTRY[name]
            t0 = time.perf_counter()
            try:
                with tr.span(f"queries.build:{name}") as sp:
                    sp["layer"] = "queries"
                    df = spec.spark(run.spark, data_dir)
                with tr.span(f"spark.collect:{name}") as sp:
                    sp["layer"] = "spark"
                    got = _Collected(df)
            except Exception as exc:
                run.fail(f"{name} raised in the cold pass: {_first_line(exc)}")
                continue
            t1 = time.perf_counter()
            rec["queries"][name] = t1 - t0
            if spec.oracle is not None:
                problems = compare(got, con, spec.oracle)
            else:
                problems = [] if got.rows else ["no rows (rows-only check)"]
            expected[name] = len(got.rows)
            if problems:
                run.fail(f"{name} oracle check: {'; '.join(problems)}")
            untimed += time.perf_counter() - t1
        con.close()
        rec["untimed_s"] = untimed

    cold = run.run_pass(check_pass, traced=tr.enabled)
    return {"cold": cold, "warm": run.warm_passes(timed_pass, seconds)}


def _first_line(exc: BaseException) -> str:
    return (str(exc).strip().splitlines() or [type(exc).__name__])[0][:300]


# ------------------------------------------------------------ sync


class FakeGather:
    """The fake Gather API in its own process (see ``gather_fake.py``)."""

    def __init__(self, projects: list[dict], work: str) -> None:
        path = os.path.join(work, "projects.json")
        with open(path, "w") as fh:
            json.dump(projects, fh)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gather_fake.py"),
             "--projects", path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().strip()
        if not line.startswith("port="):
            self.close()
            raise RuntimeError(f"fake Gather API did not start: {line!r}")
        self.port = int(line.split("=", 1)[1])
        from gather_fake import HttpTransport

        self.transport = HttpTransport(self.port)

    def admin(self, route: str):
        return self.transport("GET" if route == "_state" else "POST", f"/{route}")

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _transport_factory(port: int):
    def factory():
        from gather_fake import HttpTransport

        return HttpTransport(port)

    return factory


def check_sync_state(state: dict, files: dict[str, str]) -> list[str]:
    """The sync invariants over the warehouse after an apply."""
    problems = []
    live_by_file: dict[str, list[dict]] = {}
    for p in state["projects"]:
        f = (p.get("metadata") or {}).get("file")
        if f is None:
            continue
        if p["archived"]:
            continue
        if f["file"] not in files:
            problems.append(f"live project {p['id']} names missing file {f['file']}")
        live_by_file.setdefault(f["file"], []).append(p)
    for path, md5 in files.items():
        owners = live_by_file.get(path, [])
        if len(owners) != 1:
            problems.append(f"{path} has {len(owners)} live projects")
        elif owners[0]["metadata"]["file"]["md5"] != md5:
            problems.append(f"{path} project {owners[0]['id']} carries a stale md5")
    for key in state["insert_keys_repeated"]:
        problems.append(f"insert idempotency key sent twice: {key}")
    return problems


def sync_workload(run: Run, scenario: dict, tree_root: str, gather: FakeGather, seconds: float) -> dict:
    """Churn sync then resync, pass after pass, from a reset warehouse."""
    from gather_datawarehouse_sync_spark.sources.filescan import scan_files
    from gather_datawarehouse_sync_spark.sources.rest import PROJECT_SCHEMA, fetch_paginated
    from gather_datawarehouse_sync_spark.sync.engine import (
        apply_file_actions,
        plan_filesystem_sync,
        sync_report,
    )

    tr, spark = run.tracer, run.spark
    factory = _transport_factory(gather.port)

    def one_sync(kind: str, rec: dict) -> None:
        run.attempted += 1
        gather.admin("_run")
        before = gather.admin("_state")["counters"]
        t0 = time.perf_counter()
        with tr.span(f"sync.{kind}", spark_call=False) as top:
            top["layer"] = "sync"
            with tr.span("sources.filescan.scan_files") as sp:
                sp["layer"] = "sources.filescan"
                files = scan_files(spark, tree_root)
            with tr.span("sources.rest.fetch_paginated") as sp:
                sp["layer"] = "sources.rest"
                active = fetch_paginated(spark, gather.transport, "/projects/active", PROJECT_SCHEMA)
                archived = fetch_paginated(spark, gather.transport, "/projects/archived", PROJECT_SCHEMA)
            with tr.span("sync.plan_filesystem_sync") as sp:
                sp["layer"] = "sync"
                actions = plan_filesystem_sync(files, active, archived)
            with tr.span("sync.sync_report") as sp:
                sp["layer"] = "sync"
                report = sync_report(actions)
            with tr.span("sync.apply_file_actions") as sp:
                sp["layer"] = "sync"
                apply_file_actions(actions, factory)
        wall = time.perf_counter() - t0
        state = gather.admin("_state")
        after = state["counters"]
        server = {k: after[k] - before[k] for k in after} | {"max_in_flight": after["max_in_flight"]}
        rec[kind] = {
            "wall_s": wall,
            "actions": {a: int(report.get(a, 0)) for a in ("insert", "update", "archive", "keep")},
            "server": server,
        }
        run.attempted += server["sink"]
        if server["failed"]:
            run.fail(f"{kind} sync in pass {tr.pass_no}: {server['failed']} sink requests failed",
                     server["failed"])
        problems = check_sync_state(state, scenario["files"])
        if problems:
            shown = "; ".join(problems[:5]) + (f"; {len(problems) - 5} more" if len(problems) > 5 else "")
            run.fail(f"{kind} sync in pass {tr.pass_no} broke invariants: {shown}")

    def sync_pass(rec: dict) -> None:
        """Reset the warehouse, then run the churn sync and the resync;
        only the syncs themselves count in the pass wall time."""
        t0 = time.perf_counter()
        gather.admin("_reset")
        try:
            for kind in ("churn", "resync"):
                one_sync(kind, rec)
        except Exception as exc:
            run.fail(f"sync pass {tr.pass_no} raised: {_first_line(exc)}")
        synced = sum(rec[k]["wall_s"] for k in ("churn", "resync") if k in rec)
        rec["untimed_s"] = time.perf_counter() - t0 - synced

    cold = run.run_pass(sync_pass, traced=tr.enabled)
    return {"cold": cold, "warm": run.warm_passes(sync_pass, seconds)}
