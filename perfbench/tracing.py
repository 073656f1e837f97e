"""Spans, Spark stage/task metrics and process-tree RSS, all from outside
the package.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  sets the Spark job group to the span name, so every stage a span causes
  carries that name in the event log. Untraced runs create none.
- ``read_event_log`` parses the session's JSON event log (enabled by the
  benchmark's session settings in traced runs only) into per-stage records
  keyed by job group.
- ``RssSampler`` sums the RSS of this process and all its descendants
  (the JVM and its Python workers) from ``/proc`` on a background thread.
- ``HostSpeed`` times a fixed reference load on every core while the
  program is idle, to tell a slow host from a slow program.
"""

from __future__ import annotations

import glob
import json
import multiprocessing
import os
import random
import re
import statistics
import threading
import time
import uuid


class Tracer:
    def __init__(self, spark, event_dir: str):
        self.spark = spark
        self.event_dir = event_dir
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run_id = None

    def new_run(self) -> None:
        """Start a new iteration: spans opened from now share a run id."""
        self.run_id = uuid.uuid4().hex[:12]

    def _set_group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str) -> None:
        """Write the spans, each with its self time, as JSON."""
        out = [dict(s, self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)

    def stages(self) -> dict[int, dict]:
        return read_event_log(self.event_dir)

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it covered by its child spans."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans
            if c["parent"] == span["id"]
        )
        covered, lo, hi = 0.0, None, None
        for s, e in kids:
            if hi is None or s > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = s, e
            else:
                hi = max(hi, e)
        if hi is not None:
            covered += hi - lo
        return (span["end"] - span["start"]) - covered


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name
        self.rec: dict | None = None
        self.result = None  # what the traced call returned, if kept

    def __enter__(self):
        t = self.t
        parent = t._stack[-1]["id"] if t._stack else None
        self.rec = {
            "id": len(t.spans), "name": self.name, "parent": parent,
            "run_id": t.run_id, "start": time.time(), "end": None,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        t._set_group(self.name)
        return self

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.time()
        t._stack.pop()
        t._set_group(t._stack[-1]["name"] if t._stack else None)
        return False

    @property
    def seconds(self) -> float:
        return self.rec["end"] - self.rec["start"]


def event_log_confs(event_dir: str) -> dict[str, str]:
    """Session settings that make Spark write a plain JSON event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(event_dir: str) -> dict[int, dict]:
    """Per-stage records from the (possibly in-progress) event log.

    Each record: group (job group id), scopes (RDD operation scope names),
    submit/complete (ms), and per-task lists of duration_ms, run_ms,
    cpu_ns, gc_ms, shuffle_write, shuffle_read, spill, out_bytes."""
    stages: dict[int, dict] = {}
    files = glob.glob(os.path.join(event_dir, "*"))
    if not files:
        return stages
    path = max(files, key=os.path.getmtime)

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "group": None, "scopes": "", "submit": None, "complete": None,
            "tasks": [],
        })

    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue  # a half-flushed tail line
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"])
                st["group"] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id"
                )
                st["scopes"] = " ".join(
                    r.get("Scope", "") for r in info.get("RDD Info", [])
                )
                st["submit"] = info.get("Submission Time")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"])
                st["complete"] = info.get("Completion Time")
                if st["submit"] is None:
                    st["submit"] = info.get("Submission Time")
            elif kind == "SparkListenerTaskEnd":
                st = stage(ev["Stage ID"])
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                st["tasks"].append({
                    "duration_ms": ti["Finish Time"] - ti["Launch Time"],
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                    "out_bytes": (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    ),
                })
    return stages


class StageSet:
    """Aggregates over a set of stages (one span's, usually)."""

    def __init__(self, stages: list[dict]):
        self.stages = stages
        self.tasks = [t for s in stages for t in s["tasks"]]

    def total(self, key: str) -> float:
        return sum(t[key] for t in self.tasks)

    def where_scope(self, word: str) -> "StageSet":
        return StageSet([s for s in self.stages if word in s["scopes"]])

    def skew(self) -> float:
        """max/median task duration over the set's tasks."""
        d = [t["duration_ms"] for t in self.tasks]
        if not d:
            return 0.0
        med = statistics.median(d)
        return max(d) / med if med > 0 else 0.0

    def median_task_ms(self) -> float:
        d = [t["duration_ms"] for t in self.tasks]
        return float(statistics.median(d)) if d else 0.0


def stages_of(stages: dict[int, dict], group: str) -> StageSet:
    return StageSet([s for s in stages.values() if s["group"] == group])


def _stat_fields(pid: int) -> list[str]:
    """/proc/<pid>/stat fields after the parenthesised command name, so
    index 0 is field 3 (state) of proc(5)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d))[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own + reaped children) of the tree."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Timed:
    """Wall seconds of a block (``wall``), the host's steal over it as a
    share of all vCPU time (``steal_frac``), and the wall less that steal
    spread over the vCPUs (``net``). Only a vCPU that wants to run accrues
    steal, so ``net`` removes at most the delay steal caused: a block that
    keeps one vCPU busy is corrected by a quarter of its delay on four."""

    def __enter__(self):
        self._t, self._steal = time.perf_counter(), host_steal_s()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        steal = host_steal_s() - self._steal
        self.steal_frac = steal / (self.wall * os.cpu_count())
        self.net = self.wall - steal / os.cpu_count()
        return False


def _reference_load(_) -> float:
    """CPU seconds of a fixed pure-Python load (list sort, dict and string
    building, a regex scan); about 0.2 s on a 4-vCPU cloud guest."""
    t = time.process_time()
    rng = random.Random(1)
    xs = sorted(rng.random() for _ in range(150_000))
    {str(i): i for i in range(150_000)}
    re.findall(r"0\.\d{3}", " ".join(map(str, xs[:40_000])))
    return time.process_time() - t


class HostSpeed:
    """How fast this host runs a fixed load, sampled several times in a run.

    On a shared host the same work costs a different number of CPU
    seconds from one minute to the next, with no steal (other guests'
    load on shared cores and caches). Each ``sample()`` runs the reference
    load once in each of ``nproc`` forked processes, at a moment the
    program is idle, and keeps their CPU seconds; ``median`` is the run's
    figure. Times scaled by ``reference / median`` read as they would on a
    host that runs the load in ``reference`` seconds."""

    def __init__(self, nproc: int):
        self.nproc = nproc
        self.samples: list[float] = []

    def sample(self) -> None:
        ctx = multiprocessing.get_context("fork")
        with ctx.Pool(self.nproc) as pool:
            self.samples.extend(pool.map(_reference_load, range(self.nproc)))
            pool.close()
            pool.join()

    @property
    def median(self) -> float:
        return statistics.median(self.samples)


class RssSampler:
    """Peak summed RSS of this process tree while ``active`` is set."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval)
