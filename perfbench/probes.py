"""Outside-in probes: the process tree under ``/proc``, host CPU ticks, and
Spark's own status tracker and status store.

None of these touch the program under test; they read what the kernel and
Spark already record.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str | None:
    try:
        with open(path, encoding="utf-8", errors="replace") as fh:
            return fh.read()
    except OSError:  # the process ended between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def _role(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = (_read(f"/proc/{pid}/cmdline") or "").replace("\0", " ")
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
        return "python_worker"
    if "java" in cmd.split(" ", 1)[0]:
        return "jvm"
    return "other"


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds per role (driver, jvm, python_worker, other), each
    process's own time plus that of the children it has reaped."""
    out = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0, "other": 0.0}
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
            out[_role(pid, root)] += sum(int(x) for x in f[11:15]) / _TICK
    return out


def host_ticks() -> dict[str, int]:
    """Aggregate idle and steal ticks of the host from ``/proc/stat``."""
    cpu = (_read("/proc/stat") or "cpu 0 0 0 0 0 0 0 0").splitlines()[0].split()
    vals = [int(x) for x in cpu[1:]]
    return {"idle": vals[3] + vals[4], "steal": vals[7] if len(vals) > 7 else 0, "total": sum(vals[:8])}


@dataclass
class RssSampler:
    """Samples the resident memory of the process tree in a thread; the
    pid list is refreshed once a second, memory read every ``period``."""

    root: int
    period: float = 0.25
    peak_bytes: int = 0
    peak_by_role: dict[str, int] = field(default_factory=dict)
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def _sample(self, pids: list[int]) -> None:
        by_pid = {}
        for pid in pids:
            raw = _read(f"/proc/{pid}/statm")
            if raw:
                by_pid[pid] = int(raw.split()[1]) * _PAGE
        total = sum(by_pid.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_role = {}
            for pid, b in by_pid.items():
                role = _role(pid, self.root)
                self.peak_by_role[role] = self.peak_by_role.get(role, 0) + b

    def _loop(self) -> None:
        pids, n = tree_pids(self.root), 0
        while not self._stop.wait(self.period):
            n += 1
            if n % max(1, int(1 / self.period)) == 0:
                pids = tree_pids(self.root)
            self._sample(pids)

    def start(self) -> None:
        self._sample(tree_pids(self.root))
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


# --- Spark status tracker and status store -----------------------------------


@dataclass
class StageRecord:
    stage_id: int
    result: bool          # the job's final stage, as opposed to a shuffle-map stage
    start: float          # epoch seconds (status store submission time)
    end: float            # epoch seconds (status store completion time)
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read_b: int
    shuffle_write_b: int
    shuffle_write_records: int
    spill_b: int
    task_max_s: float
    task_median_s: float


class SparkStatus:
    """Reads jobs and stages of a job group from Spark's status tracker and
    the application status store (live with the UI disabled)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._tracker = self._sc.statusTracker()
        gw = self._sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def drain(self) -> None:
        """Wait until the listener bus has applied every event so far."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[StageRecord]:
        store = self._jsc.statusStore()
        out: list[StageRecord] = []
        seen: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            ids = sorted(info.stageIds)
            for sid in ids:
                if sid in seen:
                    continue
                seen.add(sid)
                rec = self._stage(store, sid, result=(sid == ids[-1]))
                if rec is not None:
                    out.append(rec)
        return out

    def _stage(self, store, sid: int, result: bool) -> StageRecord | None:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j error: evicted or skipped stage
            return None
        if sd.status().toString() != "COMPLETE" or not sd.submissionTime().isDefined():
            return None
        med = mx = 0.0
        summary = store.taskSummary(sid, sd.attemptId(), self._quantiles)
        if summary.isDefined():
            dist = summary.get().executorRunTime()
            med, mx = dist.apply(0) / 1000.0, dist.apply(1) / 1000.0
        return StageRecord(
            stage_id=sid,
            result=result,
            start=sd.submissionTime().get().getTime() / 1000.0,
            end=sd.completionTime().get().getTime() / 1000.0,
            tasks=sd.numTasks(),
            failed_tasks=sd.numFailedTasks(),
            run_s=sd.executorRunTime() / 1000.0,
            cpu_s=sd.executorCpuTime() / 1e9,
            gc_s=sd.jvmGcTime() / 1000.0,
            shuffle_read_b=sd.shuffleReadBytes(),
            shuffle_write_b=sd.shuffleWriteBytes(),
            shuffle_write_records=sd.shuffleWriteRecords(),
            spill_b=sd.diskBytesSpilled(),
            task_max_s=mx,
            task_median_s=med,
        )


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
