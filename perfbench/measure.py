"""What the benchmark reads from outside the engine.

- CPU seconds and resident memory of the whole process tree (this Python
  process, the Spark JVM it launched and the JVM's Python workers), from
  ``/proc``. A child that exits is folded into its parent's ``cutime`` /
  ``cstime`` once reaped, so summing (utime + stime + cutime + cstime) over
  the live tree counts every process exactly once.
- Spark's own per-job-group status: ``statusTracker`` for job ids and
  ``statusStore().lastStageAttempt`` for stage data (works with the UI off).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # Fields after the parenthesised command name, which may hold spaces.
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based).
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds until closed."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pids, n = tree_pids(self.root), 0
        while not self._stop.wait(self.interval):
            n += 1
            if n % 10 == 0:  # the tree changes rarely; re-walk once a second
                pids = tree_pids(self.root)
            self.peak = max(self.peak, tree_rss_bytes(pids))

    def close(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


#: Stage fields summed over a job group (StageData accessor names).
_SUMS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
    "tasks": "numTasks",
}


def group_stages(spark, group: str, full: bool = True) -> dict:
    """Totals over every stage of every job in ``group``. With ``full=False``
    only the job count and shuffle bytes written are read (fewer py4j calls)."""
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info.isDefined():
            stage_ids.update(info.get().stageIds())
    out = {"jobs": len(job_ids), "stages": 0, "stages_skipped": 0, "longest_stage_ms": 0, "peak_execution_memory": 0}
    out.update({k: 0 for k in _SUMS})
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — a stage that never ran has no attempt
            out["stages_skipped"] += 1
            continue
        if str(sd.status().toString()) == "SKIPPED":
            out["stages_skipped"] += 1
            continue
        out["stages"] += 1
        if not full:
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            continue
        for k, attr in _SUMS.items():
            out[k] += getattr(sd, attr)()
        out["peak_execution_memory"] = max(out["peak_execution_memory"], sd.peakExecutionMemory())
        sub, done = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and done.isDefined():
            out["longest_stage_ms"] = max(out["longest_stage_ms"], done.get().getTime() - sub.get().getTime())
    return out
