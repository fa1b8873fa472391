"""Measurements taken from outside the engine: the process tree in
/proc (CPU seconds, resident memory), host facts, and Spark's stage
metrics per job group from the status store (readable with the UI off).
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds, rss bytes) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (
            int(parts[1]),
            (int(parts[11]) + int(parts[12])) / _CLK,
            int(parts[21]) * _PAGE,
        )
    return out


def descendants() -> list[int]:
    """This process and every live descendant."""
    return _tree(_proc_table(), os.getpid())


def _tree(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in table:
            out.append(p)
        stack.extend(children.get(p, []))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive; kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tree_usage() -> tuple[float, int]:
    """(CPU seconds, RSS bytes) summed over this process and its live
    descendants: the driver JVM and the Python workers it forks."""
    table = _proc_table()
    pids = _tree(table, os.getpid())
    return sum(table[p][1] for p in pids), sum(table[p][2] for p in pids)


class RssSampler:
    """Samples the process tree's total RSS on a background thread and
    keeps the peak."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval_s):
                return

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_usage()[1])

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def _spark_jvm_alive() -> bool:
    """Whether a Spark driver JVM runs on this host outside our tree."""
    mine = set(descendants())
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            return True
    return False


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) of the host's CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def host_facts() -> dict:
    """nproc, loadavg, MemTotal, and whether another Spark JVM is alive:
    a concurrent session on the same cores turns timings into noise."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "mem_total_mb": mem_kb // 1024,
        "other_spark_jvm": _spark_jvm_alive(),
    }


def _opt_ms(opt) -> float | None:
    """A Scala Option[java.util.Date] as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class StageMetrics:
    """Reads per-job-group Spark metrics from the application status
    store over py4j. Job groups are set with ``SparkContext.setJobGroup``
    before each traced call."""

    FIELDS = (
        "executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
        "failed_tasks", "jobs", "stages", "tasks",
    )

    def __init__(self, sc):
        self.store = sc._jsc.sc().statusStore()
        self.tracker = sc.statusTracker()

    def group(self, group_id: str) -> dict:
        """Summed stage metrics of every job in ``group_id``, plus the
        job intervals as (submitted, completed) epoch milliseconds."""
        out = dict.fromkeys(self.FIELDS, 0.0)
        intervals = []
        for jid in self.tracker.getJobIdsForGroup(group_id):
            job = self.store.job(jid)
            sub, done = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub, done))
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(out, stage_ids.apply(i))
        out["intervals_ms"] = intervals
        return out

    def _add_stage(self, out: dict, sid: int) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            st = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran has no attempt
            return
        if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
            return
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["input_bytes"] += st.inputBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        sub, first = _opt_ms(st.submissionTime()), _opt_ms(st.firstTaskLaunchedTime())
        if sub is not None and first is not None:
            out["scheduler_delay_s"] += max(first - sub, 0.0) / 1e3


def covered_s(intervals_ms: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals_ms):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3
