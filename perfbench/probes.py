"""Measurement from outside the engine: process CPU and memory from
``/proc``, and per-call Spark job, stage and task figures from the
status store.

A :class:`Tracer` wraps each call the benchmark makes into a layer's
public function.  With tracing on, the call runs under its own
``setJobGroup``; afterwards the group's jobs and stages are read from
``statusStore()`` and summed into the span.  With tracing off the
tracer only keeps wall time, so end-to-end runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ /proc


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after "(comm)": state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return int(f[1]), (int(f[11]) + int(f[12])) / _CLK, (int(f[13]) + int(f[14])) / _CLK


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcessTree:
    """The benchmark's own processes: this driver, the JVM it launched,
    and the Python daemons and workers under the JVM.  Pids listed in
    ``exclude`` (the fake server) are left out with their subtrees."""

    def __init__(self, exclude: set[int] | None = None) -> None:
        self.root = os.getpid()
        self.exclude = exclude or set()
        self.workers_seen: set[int] = set()
        self.hwm: dict[int, tuple[str, float]] = {}

    def _procs(self) -> dict[int, tuple[int, float, float]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        keep, frontier = {}, [self.root]
        children = defaultdict(list)
        for pid, s in stats.items():
            children[s[0]].append(pid)
        while frontier:
            pid = frontier.pop()
            if pid in self.exclude or pid not in stats:
                continue
            keep[pid] = stats[pid]
            frontier.extend(children[pid])
        return keep

    def sample(self) -> dict:
        """CPU seconds so far, split into driver / jvm / python workers.

        A live process counts its own time plus that of children it has
        reaped, so workers that exit between samples are not lost.  Each
        process's ``VmHWM`` is kept too, so one that exits later still
        counts in :meth:`peak_rss_mb`."""
        procs = self._procs()
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "worker_pids": set()}
        for pid, (_, own, reaped) in procs.items():
            if pid == self.root:
                kind = "driver"
                out[kind] += own  # reaped children here = the JVM launcher
            else:
                cmd = _cmdline(pid)
                kind = "workers" if "pyspark" in cmd and ("daemon" in cmd or "worker" in cmd) else "jvm"
                out[kind] += own + reaped
                if kind == "workers":
                    out["worker_pids"].add(pid)
            self.hwm[pid] = (kind, max(self.hwm.get(pid, (kind, 0.0))[1], _hwm_mb(pid)))
        out["total"] = out["driver"] + out["jvm"] + out["workers"]
        return out

    def new_workers(self, sample: dict) -> int:
        fresh = sample["worker_pids"] - self.workers_seen
        self.workers_seen |= fresh
        return len(fresh)

    def wait_workers_gone(self, timeout: float) -> None:
        """Wait until every Python daemon and worker seen has exited;
        they outlive the JVM by as long as they take to see its end."""
        deadline = time.time() + timeout
        while time.time() < deadline and any(_alive(pid) for pid in self.workers_seen):
            time.sleep(0.1)

    def peak_rss_mb(self) -> dict:
        """Summed ``VmHWM`` by process kind over every process sampled,
        live or exited, plus the worker count."""
        self.sample()
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "n_workers": 0}
        for kind, mb in self.hwm.values():
            out[kind] += mb
            out["n_workers"] += kind == "workers"
        out["total"] = out["driver"] + out["jvm"] + out["workers"]
        return out


def cpu_delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in ("driver", "jvm", "workers", "total")}


def dir_usage(path: str) -> tuple[int, int]:
    """(artifact entries, bytes) under an artifact root: an entry is one
    ``<corpus>/<key>`` directory, as ``sources.artifacts`` lays them out."""
    entries = nbytes = 0
    if not os.path.isdir(path):
        return 0, 0
    for corpus in os.listdir(path):
        cdir = os.path.join(path, corpus)
        if os.path.isdir(cdir):
            entries += sum(1 for k in os.listdir(cdir) if not k.startswith("."))
    for dirpath, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                nbytes += os.stat(os.path.join(dirpath, f)).st_size
    return entries, nbytes


# ------------------------------------------------------------------ spans

SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "stage_busy_s",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Spans around layer calls, kept in memory and written at the end."""

    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_no = 0
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._store = self.sc._jsc.sc().statusStore() if enabled else None

    @contextlib.contextmanager
    def span(self, name: str, spark_call: bool = True):
        """Time one call; with tracing on and ``spark_call`` set, also
        collect the Spark jobs it ran.  Yields the span dict, which the
        caller may annotate."""
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload, "pass": self.pass_no,
        }
        group = f"bench-{sid}"
        if self.enabled and spark_call:
            self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled and spark_call:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec.update(self._spark_stats(group, rec["wall_s"]))
            if self.enabled:
                self.spans.append(rec)

    def _spark_stats(self, group: str, wall: float) -> dict:
        # the status store is fed by an asynchronous listener; drain it
        # so the group's last job and stage have landed
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:
                    continue  # evicted or never submitted
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["input_mb"] += st.inputBytes() / 1e6
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if a is not None and b is not None:
                    intervals.append((a, b))
        busy, end = 0.0, float("-inf")
        for a, b in sorted(intervals):
            if b > end:
                busy += b - max(a, end)
                end = b
        out["stage_busy_s"] = busy
        out["driver_s"] = max(wall - busy, 0.0)
        return out
