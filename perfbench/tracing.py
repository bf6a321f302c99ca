"""Measurement helpers: spans, the process-tree RSS sampler, and the
Spark event-log reader that attributes stage metrics to job groups.

Spans are recorded by the benchmark around its own calls into each
layer's public functions; nothing inside the program is instrumented.
"""
from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: (id, name, start, end, parent, run). Written
    out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part covered by its children (the
        benchmark's spans nest without overlap, so a plain sum)."""
        s = self.spans[sid]
        kids = sum(c["end"] - c["start"] for c in self.children(sid))
        return (s["end"] - s["start"]) - kids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def descendants(root_pid: int) -> list[int]:
    """Live processes below `root_pid`, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # process ended while listing
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def running(pid: int) -> bool:
    """Whether `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    """Resident bytes of `root_pid` and all its descendants."""
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:  # process ended since the listing
            continue
    return total


class RssSampler:
    """Samples the RSS of this process tree (driver, JVM, Python
    workers) every `interval` seconds on a daemon thread; `peak_mb`
    is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid, self._page))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class JvmMemory:
    """GC time and peak heap use of the driver JVM (which runs the
    executors in local mode) from its management beans: GC time summed
    and heap peak maxed over every block run under it."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [p for p in mf.getMemoryPoolMXBeans()
                      if str(p.getType()) == "Heap memory"]
        self.gc_s = self.heap_peak_mb = 0.0

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gcs)

    def __enter__(self):
        for p in self._heap:
            p.resetPeakUsage()
        self._gc0 = self._gc_ms()
        return self

    def __exit__(self, *exc):
        self.gc_s += (self._gc_ms() - self._gc0) / 1000
        self.heap_peak_mb = max(self.heap_peak_mb, sum(
            p.getPeakUsage().getUsed() for p in self._heap) / 2**20)


# ---------------------------------------------------------------------------
# Spark event log
SCAN_NODES = ("Scan ", "Range")   # source leaves: parquet scan, SQL range


def _walk_plan(node: dict, out: dict) -> None:
    if node["nodeName"].startswith(SCAN_NODES):
        for m in node.get("metrics", ()):
            if m["name"] == "number of output rows":
                out[m["accumulatorId"]] = node["nodeName"]
    for c in node.get("children", ()):
        _walk_plan(c, out)


class EventLog:
    """Per-job-group view of one application's uncompressed event log.

    - jobs[group]: list of (submit_ms, end_ms) per job;
    - stages[group]: completed stages with executor run/CPU time,
      shuffle bytes, spill and per-task durations;
    - scans[group]: source-scan nodes (parquet scan or `range`) that
      produced rows in that group's tasks.
    """

    def __init__(self, path: str):
        self.jobs: dict[str, list[list[float]]] = {}
        self.stages: dict[str, list[dict]] = {}
        self.scans: dict[str, set] = {}
        job_group: dict[int, str] = {}
        job_span: dict[int, list[float]] = {}
        stage_group: dict[tuple, str] = {}
        stage_rec: dict[tuple, dict] = {}
        scan_accums: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = g
                    job_span[ev["Job ID"]] = [ev["Submission Time"], None]
                elif kind == "SparkListenerJobEnd":
                    job_span[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    key = (si["Stage ID"], si["Stage Attempt ID"])
                    stage_group[key] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    stage_rec[key] = {"tasks": [], "run_ms": 0, "cpu_ns": 0,
                                      "shuffle_write": 0, "shuffle_read": 0,
                                      "spill": 0, "gc_ms": 0}
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    key = (si["Stage ID"], si["Stage Attempt ID"])
                    rec = stage_rec.get(key)
                    if rec is not None:
                        rec["wall_ms"] = (si["Completion Time"]
                                          - si["Submission Time"])
                        self.stages.setdefault(stage_group[key], []).append(
                            rec)
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    rec = stage_rec.get(key)
                    tm = ev.get("Task Metrics")
                    if rec is None or not tm:
                        continue
                    ti = ev["Task Info"]
                    rec["tasks"].append(ti["Finish Time"] - ti["Launch Time"])
                    rec["run_ms"] += tm["Executor Run Time"]
                    rec["cpu_ns"] += tm["Executor CPU Time"]
                    rec["gc_ms"] += tm["JVM GC Time"]
                    rec["spill"] += tm["Disk Bytes Spilled"]
                    rec["shuffle_write"] += \
                        tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    sr = tm["Shuffle Read Metrics"]
                    rec["shuffle_read"] += (sr["Remote Bytes Read"]
                                            + sr["Local Bytes Read"])
                    g = stage_group[key]
                    for acc in ti.get("Accumulables", ()):
                        if acc["ID"] in scan_accums and int(acc["Update"]):
                            self.scans.setdefault(g, set()).add(acc["ID"])
                elif kind.endswith(("SQLExecutionStart",
                                    "SQLAdaptiveExecutionUpdate")):
                    _walk_plan(ev["sparkPlanInfo"], scan_accums)
        for jid, g in job_group.items():
            self.jobs.setdefault(g, []).append(job_span[jid])

    def groups(self, prefix: str) -> list[str]:
        return [g for g in set(self.jobs) | set(self.stages)
                if g is not None and g.startswith(prefix)]

    def job_busy_s(self, groups: list[str]) -> float:
        """Union of the job intervals of `groups`, in seconds."""
        iv = sorted(s for g in groups for s in self.jobs.get(g, ())
                    if s[1] is not None)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy / 1000.0

    def n_jobs(self, groups: list[str]) -> int:
        return sum(len(self.jobs.get(g, ())) for g in groups)

    def stage_list(self, groups: list[str]) -> list[dict]:
        return [s for g in groups for s in self.stages.get(g, ())]

    def n_scans(self, groups: list[str]) -> int:
        return sum(len(self.scans.get(g, ())) for g in groups)
