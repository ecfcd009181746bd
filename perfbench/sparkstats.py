"""Execution counters read from Spark's live status store and from the
JVM, outside the timed region.

The status store keeps every job and stage of the application (the
benchmark raises ``spark.ui.retainedJobs``/``retainedStages`` so none are
evicted during a run); a snapshot of the ids seen before a phase lets the
phase's own jobs be summed afterwards.
"""

from __future__ import annotations

import os
import threading
import time


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def job_ids(spark) -> set[int]:
    return {j.jobId() for j in _seq(_store(spark).jobsList(None))}


FIELDS = [
    "jobs",
    "stages",
    "tasks",
    "sched_wait_s",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_s",
    "output_records",
    "output_bytes",
]


def exec_totals(spark, before: set[int]) -> dict[str, dict[str, float]]:
    """Sums over the jobs submitted since ``before`` was taken and their
    stages, per job group (``""`` for jobs outside any group) and in
    total under ``"*"``. Times in seconds, sizes in bytes.

    ``sched_wait_s`` is the stage-level scheduling wait: for each stage,
    the time from submission until its first task launched, which is
    the wait for a free task slot that concurrent clients impose on
    each other."""
    store = _store(spark)
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {"*": dict.fromkeys(FIELDS, 0.0)}
    for j in _seq(store.jobsList(None)):
        if j.jobId() in before:
            continue
        g = j.jobGroup()
        group = g.get() if g.isDefined() else ""
        for key in ("*", group):
            out.setdefault(key, dict.fromkeys(FIELDS, 0.0))["jobs"] += 1
        for s in _seq(j.stageIds()):
            stage_group[int(s)] = group
    stages = store.stageList(
        None, False, False, getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    )
    for st in _seq(stages):
        group = stage_group.get(st.stageId())
        if group is None or st.status().toString() == "SKIPPED":
            continue
        sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
        wait = 0.0
        if sub.isDefined() and first.isDefined():
            wait = (first.get().getTime() - sub.get().getTime()) / 1e3
        row = {
            "stages": 1,
            "tasks": st.numCompleteTasks(),
            "sched_wait_s": wait,
            "executor_run_s": st.executorRunTime() / 1e3,
            "executor_cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "gc_s": st.jvmGcTime() / 1e3,
            "output_records": st.outputRecords(),
            "output_bytes": st.outputBytes(),
        }
        for key in ("*", group):
            tot = out[key]
            for k, v in row.items():
                tot[k] += v
    return out


def storage(spark) -> tuple[int, float]:
    """(persisted RDDs, MB of them held in memory) right now."""
    sc = spark.sparkContext._jsc.sc()
    infos = sc.getRDDStorageInfo()
    mem = sum(i.memSize() for i in infos)
    return sc.getPersistentRDDs().size(), mem / 2**20


def cpu_seconds(roots: list[int]) -> float:
    """User plus system CPU seconds of ``roots`` and all their descendant
    processes (Spark's Python workers), including reaped children.
    Time the hypervisor steals is not counted, so this figure moves much
    less than wall time when a shared host is busy."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep, frontier = set(), [p for p in roots if p in stats]
    while frontier:
        pid = frontier.pop()
        keep.add(pid)
        frontier += [c for c, (ppid, _) in stats.items() if ppid == pid and c not in keep]
    return sum(stats[p][1] for p in keep) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of ``pids`` (this process and the JVM)
    every 50 ms while running; ``peak_mb`` is the highest sum seen."""

    def __init__(self, pids: list[int]) -> None:
        self.pids = pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def wait_idle(spark, timeout: float = 10.0) -> None:
    """Block until no job is running (stragglers of a finished phase)."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
