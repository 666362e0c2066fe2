"""Outside-in accounting: /proc CPU split and RSS, host steal, Spark job
counts per op from statusTracker, and per-op task metrics from the Spark
event log. Nothing here reaches into the library."""

from __future__ import annotations

import glob
import json
import os
import threading
from dataclasses import dataclass

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on);
    `pid` may also be "<pid>/task/<tid>"."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


@dataclass
class Cpu:
    """CPU seconds consumed so far by the driver's Python process, the JVM
    itself without its JIT compiler threads, the JVM's descendants (the
    Python workers and their daemon, including children already reaped),
    and the JIT compiler threads."""

    driver: float
    jvm: float
    workers: float
    jit: float = 0.0

    def __sub__(self, o: "Cpu") -> "Cpu":
        return Cpu(self.driver - o.driver, self.jvm - o.jvm, self.workers - o.workers, self.jit - o.jit)


# The JVM must run with -XX:-UseDynamicNumberOfCompilerThreads: its
# compiler threads then live as long as the JVM, so their CPU can be read
# per thread and taken out of the JVM's total.
_JIT_THREADS: dict[int, list[int]] = {}


def jit_threads(jvm_pid: int) -> list[int]:
    """Thread ids of the JVM's C1 / C2 compiler threads."""
    if jvm_pid not in _JIT_THREADS:
        tids = []
        for t in os.listdir(f"/proc/{jvm_pid}/task"):
            try:
                with open(f"/proc/{jvm_pid}/task/{t}/comm") as f:
                    if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        tids.append(int(t))
            except OSError:
                pass
        _JIT_THREADS[jvm_pid] = tids
    return _JIT_THREADS[jvm_pid]


def cpu_split(jvm_pid: int) -> Cpu:
    own = _stat(os.getpid())
    jvm = _stat(jvm_pid)
    drv = (int(own[11]) + int(own[12])) / TICK if own else 0.0
    if jvm is None:
        return Cpu(drv, 0.0, 0.0)
    jit = 0
    for tid in jit_threads(jvm_pid):
        st = _stat(f"{jvm_pid}/task/{tid}")
        if st is not None:
            jit += int(st[11]) + int(st[12])
    # a reaped child's time moves into its reaper's cutime/cstime, so the
    # sum over live descendants of (own + reaped) time plus the JVM's own
    # reaped time counts every worker once, alive or gone
    wrk = int(jvm[13]) + int(jvm[14])
    for pid in descendants(jvm_pid):
        st = _stat(pid)
        if st is not None:
            wrk += sum(int(x) for x in st[11:15])
    return Cpu(drv, (int(jvm[11]) + int(jvm[12]) - jit) / TICK, wrk / TICK, jit / TICK)


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background sampler of the summed RSS of the JVM and its descendant
    Python workers; `peak` is the largest sum seen. The process list is
    refreshed every `rescan` samples: a /proc walk holds the interpreter
    lock long enough to delay the client thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.2, rescan: int = 5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.rescan = rescan
        self.peak = 0
        self.peak_parts = (0, 0)  # (JVM bytes, worker count) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler")

    def _run(self) -> None:
        n, pids = 0, []
        while not self._stop.is_set():
            if n % self.rescan == 0:
                pids = [self.jvm_pid] + descendants(self.jvm_pid)
            n += 1
            total = rss_bytes(pids)
            if total > self.peak:
                self.peak = total
                self.peak_parts = (rss_bytes(pids[:1]), len(pids) - 1)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def host_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


class JobCounter:
    """Jobs, stages and tasks each op launched, read back from
    statusTracker. An op runs under its own job group; jobs the library
    starts from its own worker threads carry no group, so those are
    attributed by appearing in the no-group list during the op (one
    client thread runs one op at a time)."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._ungrouped: set[int] = set(self.tracker.getJobIdsForGroup(None))

    def begin(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc)

    def end(self, group: str) -> tuple[list[int], int, int]:
        """-> (job ids, stages run, tasks run) for the op just finished."""
        self.sc.setJobGroup("perfbench-idle", "between ops")
        now = set(self.tracker.getJobIdsForGroup(None))
        jobs = sorted(set(self.tracker.getJobIdsForGroup(group)) | (now - self._ungrouped))
        self._ungrouped = now
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return jobs, stages, tasks


@dataclass
class TaskTotals:
    scan_bytes: int = 0
    scan_records: int = 0
    shuffle_write_bytes: int = 0
    sched_delay_ms: float = 0.0


def event_log_totals(log_dir: str, job_to_op: dict[int, int]) -> dict[int, TaskTotals]:
    """Per-op task metrics from the (uncompressed, non-rolling) Spark
    event log: a task belongs to the op whose job submitted its stage."""
    stage_op: dict[int, int] = {}
    out: dict[int, TaskTotals] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = job_to_op.get(ev["Job ID"])
                    if op is not None:
                        for sid in ev.get("Stage IDs", ()):
                            stage_op.setdefault(sid, op)
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    if op is None:
                        continue
                    t = out.setdefault(op, TaskTotals())
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    inp = m.get("Input Metrics", {})
                    swr = m.get("Shuffle Write Metrics", {})
                    t.scan_bytes += inp.get("Bytes Read", 0)
                    t.scan_records += inp.get("Records Read", 0)
                    t.shuffle_write_bytes += swr.get("Shuffle Bytes Written", 0)
                    # the Spark UI's definition of scheduler delay
                    busy = (
                        m.get("Executor Deserialize Time", 0)
                        + m.get("Executor Run Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    total = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    t.sched_delay_ms += max(0, total - busy)
    return out
