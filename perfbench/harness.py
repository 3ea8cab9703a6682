"""Measurement plumbing shared by the workloads: the span tracer, the
process-tree RSS sampler, the host spin covariate, Spark session
lifecycle and the structural counts read from Spark.

Nothing here reaches into the program's private state: sessions come
from ``job.build_session`` and every count is read from Spark's own
status store or executed plan.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

SPIN_BYTES = 96 << 20


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as
    jsonl by :meth:`dump`. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "run": self.run_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self time per layer (the span name's first dotted part): each
        span's duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


# ---------------------------------------------------------------------------
# Process-tree RSS and the host spin covariate
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (parent pid, rss bytes)} of every live (non-zombie) process."""
    page = os.sysconf("SC_PAGE_SIZE")
    table: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != b"Z":
            table[int(name)] = (int(fields[1]), int(fields[21]) * page)
    return table


def descendants(root_pid: int, table: dict | None = None) -> dict[int, int]:
    """{pid: rss bytes} of every live process below `root_pid`."""
    table = _proc_table() if table is None else table
    out = {}
    for pid, (ppid, rss) in table.items():
        p = ppid
        while p and p != root_pid:
            p = table.get(p, (0, 0))[0]
        if p == root_pid:
            out[pid] = rss
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    table = _proc_table()
    return table.get(root_pid, (0, 0))[1] + sum(descendants(root_pid, table).values())


class RssSampler:
    """Peak RSS of this process and all its descendants (driver JVM,
    Python workers), sampled from /proc on a background thread."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def steal_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks from /proc/stat: the share of time the
    hypervisor ran someone else is a noise covariate."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


# One spin worker: reports it has started, waits for the go byte, hashes
# SPIN_BYTES and prints the seconds that took.
_SPIN_CODE = """
import hashlib, sys, time
block = b"\\1" * (1 << 16)
print("ready", flush=True)
sys.stdin.read(1)
t0 = time.perf_counter()
h = hashlib.blake2b()
for _ in range(int(sys.argv[1]) >> 16):
    h.update(block)
print(time.perf_counter() - t0, flush=True)
"""


def host_spin_s(procs: int = 4) -> float:
    """Slowest of `procs` processes each hashing SPIN_BYTES, started
    together: a covariate for host speed, so a noisy verdict can be told
    from a code change. Process start-up is not timed. Plain child
    processes, so nothing (no multiprocessing helper) outlives the call."""
    workers = [subprocess.Popen([sys.executable, "-c", _SPIN_CODE, str(SPIN_BYTES)],
                                stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                text=True)
               for _ in range(procs)]
    try:
        for w in workers:
            if w.stdout.readline().strip() != "ready":
                raise RuntimeError("spin worker did not start")
        for w in workers:
            w.stdin.write("g")
            w.stdin.close()
        took = [float(w.stdout.read()) for w in workers]
        for w in workers:
            w.wait(timeout=120)
    finally:
        for w in workers:
            if w.poll() is None:
                w.kill()
            w.wait()
            w.stdout.close()
    return max(took)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return f.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False


def reap(pids: list[int], grace_s: float = 20.0) -> None:
    """Wait until every process in `pids` has ended: children are
    waited for, orphans (Python workers re-parented when the JVM exits)
    are polled. Whatever is still running after `grace_s` is killed."""
    deadline = time.monotonic() + grace_s
    pending = list(pids)
    killed = False
    while pending:
        for pid in pending:
            try:                        # reap our own children
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        pending = [p for p in pending if _alive(p)]
        if not pending:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {pending} did not end")
            for pid in pending:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# Spark sessions and structural counts
# ---------------------------------------------------------------------------

def start_session(cores: int = 4):
    from local_pdftodocx_ocr_spark import job
    spark = job.build_session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Release the program's signature caches, stop the context. The
    JVM outlives a context; :func:`stop_jvm` ends it."""
    from local_pdftodocx_ocr_spark.operators import dedup
    dedup.release_caches()
    spark.stop()


def stop_jvm() -> None:
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()      # the launcher exits when stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:           # noqa: BLE001 - any failure: force it
                proc.kill()
                proc.wait(timeout=30)


def executor_totals(spark) -> dict[str, float]:
    """Cumulative task time, GC time and shuffle-write bytes over the
    context's executors, from Spark's status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    tot = {"task_ms": 0.0, "gc_ms": 0.0, "shuffle_write": 0.0}
    for i in range(execs.length()):
        e = execs.apply(i)
        tot["task_ms"] += e.totalDuration()
        tot["gc_ms"] += e.totalGCTime()
        tot["shuffle_write"] += e.totalShuffleWrite()
    return tot


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks launched under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
             "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
             "AggregateInPandas", "WindowInPandas", "PythonMapInArrow")


def plan_counts(df) -> dict[str, int]:
    """Exchange, Python-evaluation and codegen-stage nodes of the
    executed (final adaptive) plan of an already-executed DataFrame."""
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    lines = text.splitlines()
    exchanges = sum(1 for ln in lines
                    if re.search(r"\b(Shuffle|Broadcast)?Exchange\b", ln)
                    and "Reused" not in ln)
    python_nodes = sum(1 for ln in lines if any(n in ln for n in _PY_NODES))
    codegen = len(set(re.findall(r"\*\((\d+)\)", text)))
    return {"exchanges": exchanges, "python_nodes": python_nodes,
            "codegen_stages": codegen}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
