"""Spark's own accounting, read from the in-process status store, and
the process-tree memory sampler.

`StatusStore` reads `SparkContext.statusStore()` through py4j.  It works
with the UI disabled (session.build_session sets spark.ui.enabled=false)
and starts no Spark job: it only reads the listener's key-value store.
Stage ids come from the DAG scheduler's counter, so a watermark taken
between two driver calls attributes every later stage to the later call.
"""

from __future__ import annotations

import os
import statistics
import threading
from dataclasses import dataclass

MB = 1e6


@dataclass(frozen=True)
class StageRow:
    stage_id: int
    attempt: int
    num_tasks: int
    run_ms: int             # summed executor run time of the stage's tasks
    cpu_ns: int             # summed JVM CPU time of the same tasks
    shuffle_read: int       # bytes
    shuffle_write: int      # bytes
    spill: int              # bytes spilled to disk


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._core = self._sc._jsc.sc()

    def watermark(self) -> int:
        """Id the next Spark stage will get."""
        return int(self._core.dagScheduler().nextStageId())

    def job_ids(self) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup())

    def stages(self, lo: int, hi: int | None = None) -> list[StageRow]:
        """Executed (not skipped) stage attempts with lo <= id < hi."""
        self._core.listenerBus().waitUntilEmpty()
        empty = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        js = self._core.statusStore().stageList(None, False, False, empty, None)
        out = []
        for i in range(js.size()):
            s = js.apply(i)
            sid = s.stageId()
            if sid < lo or (hi is not None and sid >= hi):
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out.append(StageRow(sid, s.attemptId(), s.numTasks(),
                                s.executorRunTime(), s.executorCpuTime(),
                                s.shuffleReadBytes(), s.shuffleWriteBytes(),
                                s.diskBytesSpilled()))
        return sorted(out, key=lambda r: (r.stage_id, r.attempt))

    def task_skew(self, row: StageRow) -> float:
        """max / median task run time of one stage attempt."""
        q = self._sc._gateway.new_array(self._sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._core.statusStore().taskSummary(row.stage_id,
                                                       row.attempt, q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        return float(run.apply(1)) / max(float(run.apply(0)), 1.0)


def summarize(store: StatusStore, rows: list[StageRow]) -> dict:
    """Totals over a set of stages.  Python time is executor run time
    minus JVM CPU time; skew is taken on the stage with the most run
    time, the one most likely to set the span's wall."""
    run_s = sum(r.run_ms for r in rows) / 1e3
    cpu_s = sum(r.cpu_ns for r in rows) / 1e9
    heaviest = max(rows, key=lambda r: r.run_ms, default=None)
    return {
        "stages": len(rows),
        "tasks": sum(r.num_tasks for r in rows),
        "run_s": run_s,
        "cpu_s": cpu_s,
        "python_s": max(run_s - cpu_s, 0.0),
        "shuffle_read_mb": sum(r.shuffle_read for r in rows) / MB,
        "shuffle_write_mb": sum(r.shuffle_write for r in rows) / MB,
        "spill_mb": sum(r.spill for r in rows) / MB,
        "task_skew": store.task_skew(heaviest) if heaviest else 1.0,
    }


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while pid exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _tree_pss_bytes(root: int) -> int:
    """Resident memory of `root` and all its descendants, each shared
    page counted once: the sum of their proportional set sizes."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory of this process tree (Python driver, the
    JVM and its Python workers) while the `with` block runs, shared
    pages counted once."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, _tree_pss_bytes(os.getpid()) / MB)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, _tree_pss_bytes(os.getpid()) / MB)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0
