"""Measurement plumbing shared by the workloads: the Spark session the
benchmark runs on, a peak-RSS sampler over the process tree, the span
tracer, and the readers of Spark's own statistics (job groups, the query
planning tracker and the event log)."""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

#: driver heap: the sf0.1 mix and the OSM pass use well under it, the 10x
#: mix fits in it, and it leaves most of a 15 GB host to the Python workers
#: and the OS
DRIVER_MEM = "3g"


def spark_conf(work_dir: str, event_log_dir: str | None) -> dict[str, str]:
    """Session settings that keep every file Spark writes under ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # the heap is committed and touched in full at start-up, so neither
        # the timed operations nor the footprint depend on when the JVM
        # decides to grow it
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={work_dir} -XX:-UsePerfData"
        ),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        # one plain JSON-lines file per application
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


# ---------------------------------------------------------------------------
# peak RSS of the process tree, from /proc
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue  # the process ended while we listed it
        # the command name is parenthesised and may hold spaces
        fields = data[data.rindex(")") + 2:].split()
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> dict[int, float]:
    """Resident memory in MB of ``root`` and each of its descendants."""
    kids = _children_map()
    rss, todo = {}, [root]
    while todo:
        pid = todo.pop()
        rss[pid] = _rss_kb(pid) / 1024.0
        todo.extend(kids.get(pid, ()))
    return rss


def descendants() -> list[int]:
    """Pids of every process this one started, directly or not."""
    me = os.getpid()
    return [pid for pid in tree_rss_mb(me) if pid != me]


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return False
    return data[data.rindex(")") + 2] != "Z"  # a zombie has ended


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what is still
    running after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while pids:
        pids = [pid for pid in pids if _running(pid)]
        if pids and time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak_mb`` is the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        #: per-process RSS (MB, largest first) at the peak
        self.at_peak: list[float] = []
        #: share of CPU time stolen by the hypervisor between start and stop
        self.steal_frac = 0.0
        self._steal0 = (0, 0)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        rss = tree_rss_mb(os.getpid())
        total = sum(rss.values())
        if total > self.peak_mb:
            self.peak_mb = total
            self.at_peak = sorted(rss.values(), reverse=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._steal0 = cpu_steal_jiffies()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()
        steal, total = cpu_steal_jiffies()
        self.steal_frac = (steal - self._steal0[0]) / max(total - self._steal0[1], 1)
        return self.peak_mb


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time in jiffies since boot, from /proc/stat: the
    share the hypervisor gave to other guests tells a slow host from a slow
    program."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into the program's layers. Disabled,
    ``span`` yields ``None`` and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), name, trace, stack[-1].id if stack else None,
                     time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part of it its children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.duration - covered

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# ---------------------------------------------------------------------------
# Spark's own statistics
# ---------------------------------------------------------------------------

def job_group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            stages += 1
            tasks += stage.numTasks if stage is not None else 0
    return jobs, stages, tasks


def planning_seconds(df) -> float:
    """Analysis + optimization + planning of ``df``'s query, read from
    Spark's QueryPlanningTracker after forcing the physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


@dataclass
class EventLogStats:
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    task_s: float = 0.0
    task_skew: float = 0.0


def event_log_stats(log_dir: str, start_ms: int, end_ms: int) -> EventLogStats:
    """Sum the task metrics of tasks launched in [start_ms, end_ms] from the
    (finished) event log(s) in ``log_dir``."""
    out = EventLogStats()
    stages: dict[tuple[int, int], list[tuple[int, int]]] = defaultdict(list)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev["Task Info"]
                launch, finish = info["Launch Time"], info["Finish Time"]
                if not start_ms <= launch <= end_ms:
                    continue
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                out.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                out.shuffle_read_bytes += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                out.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                out.gc_s += m.get("JVM GC Time", 0) / 1000.0
                out.task_s += (finish - launch) / 1000.0
                stages[(ev["Stage ID"], ev["Stage Attempt ID"])].append((launch, finish))
    if stages:
        slowest = max(stages.values(), key=lambda ts: max(f for _, f in ts) - min(s for s, _ in ts))
        durations = [f - s for s, f in slowest]
        out.task_skew = max(durations) / max(statistics.median(durations), 1)
    return out
