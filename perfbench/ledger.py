"""What the engine did, read from outside the package.

- Spark: jobs, stages and tasks per job group, from the status store
  (works with spark.ui.enabled=false), plus stage-level shuffle, spill
  and executor-time sums and the stage-active intervals that give the
  driver-serial remainder.
- Processes: peak resident memory of the JVM and its Python workers,
  and the JVM's write counter from /proc.
- Logs: ERROR lines the JVM writes to stderr, captured to a file.
"""

from __future__ import annotations

import os
import re
import threading

from spans import clip, union_length


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkLedger:
    def __init__(self, sc):
        self.store = sc._jsc.sc().statusStore()
        self.tracker = sc.statusTracker()
        self._stage_cache: dict[int, dict] = {}

    def group_jobs(self, group: str | None) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def ungrouped_jobs(self, t0: float, t1: float
                       ) -> list[tuple[int, float]]:
        """(job id, submission time) of the jobs with no group submitted
        inside [t0, t1]: jobs started from threads the package spawns
        carry no group."""
        out = []
        for jid in self.group_jobs(None):
            try:
                sub = _opt_ms(self.store.job(jid).submissionTime())
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            if sub is not None and t0 <= sub <= t1:
                out.append((jid, sub))
        return out

    def _stage(self, sid: int) -> dict | None:
        if sid in self._stage_cache:
            return self._stage_cache[sid]
        try:
            s = self.store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - never ran or evicted
            return None
        if s.status().toString() == "SKIPPED":
            return None
        d = {
            "tasks": s.numTasks(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "executor_run_s": s.executorRunTime() / 1000.0,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "t0": _opt_ms(s.submissionTime()),
            "t1": _opt_ms(s.completionTime()),
        }
        if d["t1"] is not None:  # complete: immutable from now on
            self._stage_cache[sid] = d
        return d

    def summarize(self, job_ids: list[int], t0: float, t1: float) -> dict:
        """Totals over the jobs, plus the wall of [t0, t1] that no
        stage of theirs was active in (the driver-serial remainder)."""
        stage_ids: set[int] = set()
        for jid in job_ids:
            try:
                seq = self.store.job(jid).stageIds()
            except Exception:  # noqa: BLE001 - evicted
                continue
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = {k: 0.0 for k in (
            "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "executor_run_s", "executor_cpu_s")}
        out["jobs"] = len(job_ids)
        out["stages"] = 0
        active = []
        for sid in stage_ids:
            d = self._stage(sid)
            if d is None:
                continue
            out["stages"] += 1
            for k in ("tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes", "executor_run_s", "executor_cpu_s"):
                out[k] += d[k]
            if d["t0"] is not None:
                active.append((d["t0"], d["t1"] if d["t1"] else t1))
        out["driver_serial_s"] = (t1 - t0) - union_length(
            clip(active, t0, t1))
        return out


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def write_bytes(pid: int) -> int:
    """Bytes the process caused to be written to storage."""
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the RSS of a process tree on a thread while armed."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root = root
        self.period_s = period_s
        self.peak = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pids: list[int] = []
        tick = 0
        while not self._stop.is_set():
            if self._armed.is_set():
                if tick % 10 == 0:  # the tree changes rarely
                    pids = process_tree(self.root)
                tick += 1
                self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(self.period_s)

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


_ERROR = re.compile(rb"(^|\s)ERROR(\s|$)")


class StderrLog:
    """Counts ERROR lines appended to the captured stderr file."""

    def __init__(self, path: str):
        self.path = path
        self.offset = 0

    def mark(self) -> None:
        self.offset = os.path.getsize(self.path)

    def errors_since_mark(self) -> int:
        with open(self.path, "rb") as fh:
            fh.seek(self.offset)
            data = fh.read()
        return sum(1 for line in data.splitlines() if _ERROR.search(line))
