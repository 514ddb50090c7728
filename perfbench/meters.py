"""Measurement helpers: spans, Spark job counts, the event log, the
Python UDF profile, streaming progress and process memory.

Everything here observes the engine from outside.  Spans are recorded
around the benchmark's own calls into the engine's public functions;
nothing is added inside the package.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory; with
    ``enabled`` false ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, start: int, end: int) -> dict[str, float]:
        """Layer → total self time of spans[start:end]: each span's
        duration minus the time its children cover (children of one span
        never overlap, as calls are sequential)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i in range(start, end):
            s = self.spans[i]
            out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group, from the
    status tracker (kept for the last 1000 jobs)."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is None:
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(paths: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: executor run/CPU time, task wait (launch minus stage
    submission), shuffle bytes, spill, GC and AQE re-plans, from an
    uncompressed event log."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[str, str] = {}
    submitted: dict[int, float] = {}
    aqe: list[str] = []
    per = defaultdict(lambda: defaultdict(float))
    for ev in _events(paths):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            job_group[ev["Job ID"]] = group
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group[props["spark.sql.execution.id"]] = group
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            submitted[info["Stage ID"]] = info.get("Submission Time", 0) / 1000
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = per[group]
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            sr = m.get("Shuffle Read Metrics", {})
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            launch = ev.get("Task Info", {}).get("Launch Time", 0) / 1000
            if ev["Stage ID"] in submitted:
                g["task_wait_s"] += max(0.0, launch - submitted[ev["Stage ID"]])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            aqe.append(str(ev.get("executionId")))
    for eid in aqe:
        if eid in exec_group:
            per[exec_group[eid]]["aqe_replans"] += 1
    return {g: dict(v) for g, v in per.items()}


def udf_profile_s(spark) -> float:
    """Total time in Python UDFs recorded by the ``perf`` profiler since
    the last clear, then clears it.  Covers Arrow/pandas UDFs only."""
    try:
        results = spark._profiler_collector._perf_profile_results
    except AttributeError:
        return 0.0
    total = sum(stats.total_tt for stats in results.values())
    spark.profile.clear()
    return total


class StreamProgress:
    """Collects every streaming progress event, by query name."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events: dict[str, list] = defaultdict(list)
        self.events = events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events[p.name].append({
                    "rows": p.numInputRows,
                    "ms": p.durationMs.get("triggerExecution", 0),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)


def descendants(root: int, with_parent: bool = False) -> list:
    """Pids of every live process below ``root`` (``(pid, parent pid)``
    pairs with ``with_parent``)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out.append((c, parent) if with_parent else c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, every
    process below it and the children they have reaped.  Other tenants'
    processes are not in it, though a loaded host still makes the same
    work cost more CPU time here (measured: about 1.3 against 1.6 s per
    ``relational`` operation between quiet and loaded runs)."""
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    tick = os.sysconf("SC_CLK_TCK")
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended since it was listed
            continue
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


def _statm_and_kind(pid: int) -> tuple[tuple[int, ...], str]:
    """The page counts of ``/proc/<pid>/statm`` and what the process is."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            statm = tuple(int(x) for x in f.read().split())
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except (OSError, ValueError):
        return (), ""
    if b"java" in cmd.split(b"\0")[0]:
        return statm, "jvm"
    if b"python" in cmd:
        return statm, "python"
    return statm, "other"


def resident_by_kind(procs: dict, page: int) -> dict[str, int]:
    """Resident bytes per kind of process (and the number of Python
    processes) in one sample: ``procs`` maps pid to (parent pid, statm
    page counts, kind).  A child whose statm equals its parent's, or a
    JVM child of a JVM, shares its parent's address space between
    ``vfork`` and ``exec`` and is not counted."""
    out = {"jvm": 0, "python": 0, "other": 0, "python_procs": 0}
    for ppid, statm, kind in procs.values():
        parent = procs.get(ppid)
        if len(statm) < 2 or (parent and (parent[1] == statm
                                          or parent[2] == kind == "jvm")):
            continue
        out[kind if kind in ("jvm", "python") else "other"] += statm[1] * page
        out["python_procs"] += kind == "python"
    return out


class MemorySampler:
    """Samples, every ``interval`` seconds, the memory of every process
    started below this one (the driver JVM, its Python workers and the
    executables they pipe through) and keeps the peaks.

    ``total`` is what the engine holds at one time: for the JVM, the heap
    occupied right after the latest collection (live data plus old garbage
    not yet collected) plus its resident memory outside the committed heap
    (metaspace, code, thread stacks, Arrow and network buffers); for every
    other process, its resident set.  The JVM's own resident set is kept
    apart (``jvm_rss``): with the engine's 8 GB maximum heap it mostly
    follows how far G1 chose to grow the heap, which varies with the
    host's load.  Heap figures come from ``MemoryMXBean`` and the last
    ``GcInfo`` once ``watch_jvm`` has been called.

    A child whose ``statm`` equals its parent's in the same sample is a
    child caught between ``vfork`` and ``exec``: it shares its parent's
    address space and is skipped rather than counted twice (so is any JVM
    child of the JVM, which in local mode can only be such a child).
    Single-sample peaks count."""

    KEYS = ("total", "jvm_rss", "heap_live", "offheap", "python", "workers")

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = dict.fromkeys(self.KEYS, 0)
        self._jvm = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def watch_jvm(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        heap_pools = [p.getName() for p in mf.getMemoryPoolMXBeans()
                      if str(p.getType()) == "Heap memory"]
        self._jvm = (mf.getMemoryMXBean(), list(mf.getGarbageCollectorMXBeans()), heap_pools)

    def _heap(self) -> tuple[int, int]:
        """(bytes occupied after the latest collection, committed heap)."""
        mem, collectors, heap_pools = self._jvm
        last, live = -1, 0
        for gc in collectors:
            info = gc.getLastGcInfo()
            if info is not None and info.getEndTime() > last:
                last = info.getEndTime()
                after = info.getMemoryUsageAfterGc()
                live = sum(after[name].getUsed() for name in heap_pools if name in after)
        if last < 0:  # no collection yet: all of the heap in use counts
            live = mem.getHeapMemoryUsage().getUsed()
        return live, mem.getHeapMemoryUsage().getCommitted()

    def sample(self) -> None:
        procs = {}
        for pid, ppid in descendants(os.getpid(), with_parent=True):
            procs[pid] = (ppid, *_statm_and_kind(pid))
        now = dict.fromkeys(self.KEYS, 0)
        res = resident_by_kind(procs, os.sysconf("SC_PAGE_SIZE"))
        now["jvm_rss"], now["python"], other = res["jvm"], res["python"], res["other"]
        now["workers"] = res["python_procs"]
        jvm = now["jvm_rss"]
        if jvm and self._jvm is not None:
            try:
                live, committed = self._heap()
            except Exception:  # the gateway is shutting down: resident set only
                pass
            else:
                now["heap_live"] = live
                now["offheap"] = max(0, now["jvm_rss"] - committed)
                jvm = live + now["offheap"]
        now["total"] = jvm + now["python"] + other
        for k in self.KEYS:
            self.peak[k] = max(self.peak[k], now[k])

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def stop_engine(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every
    process started below this one (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)

