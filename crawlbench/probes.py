"""Measurement probes the benchmark reads from outside the engine.

Nothing here changes what the engine does: memory comes from /proc, disk
usage from the warehouse directory, and Spark work from the driver's
status store (kept even with the web UI disabled).
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants (the
    driver JVM, the PySpark daemon and its Python workers). Pages the
    forked workers share copy-on-write with their daemon count once in
    total, not once per worker."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's proportional set size while active;
    ``peak`` is the largest sample seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(root))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                continue
    return size, files


class SparkWork:
    """Completed-stage totals from the driver's status store.

    ``snapshot()`` returns the stages finished since the previous call
    (stage ids grow, and the store lists newest first, so each call stops
    at the previous high-water mark)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._gw = self._sc._gateway
        self._seen_max = -1
        self._all: list[dict] = []

    def all_stages(self) -> list[dict]:
        """every stage completed since the session started"""
        self.snapshot()
        return self._all

    def jobs(self) -> int:
        return self._store.jobsList(None).size()

    def snapshot(self) -> list[dict]:
        stages = self._store.stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None
        )
        out, top, it = [], self._seen_max, stages.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._seen_max:
                break
            if s.status().toString() != "COMPLETE":
                continue
            top = max(top, sid)
            out.append(
                {
                    "stage": sid,
                    "attempt": s.attemptId(),
                    "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(),
                    "gc_ms": s.jvmGcTime(),
                    "shuffle_write": s.shuffleWriteBytes(),
                }
            )
        self._seen_max = top
        self._all.extend(out)
        return out

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage (1.0 = perfectly even)."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self._store.taskSummary(stage["stage"], stage["attempt"], q)
        if not summ.isDefined():
            return 1.0
        run = summ.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0


def totals(stages: list[dict]) -> dict:
    return {
        "tasks": sum(s["tasks"] for s in stages),
        "run_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "shuffle_write": sum(s["shuffle_write"] for s in stages),
    }


class Tracer:
    """In-memory spans: name, parent, start, end, and the status-store
    stages that finished between the span's boundaries. Written out once,
    when the run ends."""

    def __init__(self, work: SparkWork) -> None:
        self.work = work
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Times the block as one span; stages that finish inside it are
        charged to it (stages of an enclosing span stay with that span)."""
        self._charge()
        rec = {
            "name": name,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.perf_counter(),
            "stages": [],
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            self._charge()
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _charge(self) -> None:
        done = self.work.snapshot()
        if self._stack:
            self.spans[self._stack[-1]]["stages"].extend(done)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def dur(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def self_times(self) -> dict[str, float]:
        """span duration minus the time its direct children cover"""
        out = {}
        for s in self.spans:
            kids = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == s["name"]
            )
            out[s["name"]] = s["end"] - s["start"] - kids
        return out

    def stage_totals(self, *names: str) -> dict:
        return totals([st for n in names for st in self.get(n)["stages"]])

    def skew(self, *names: str) -> float:
        """task skew of the busiest stage the named spans ran"""
        stages = [st for n in names for st in self.get(n)["stages"]]
        if not stages:
            return 1.0
        return self.work.task_skew(max(stages, key=lambda st: st["run_ms"]))

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {
                "name": s["name"],
                "parent": s["parent"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                **totals(s["stages"]),
            }
            for s in self.spans
        ]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
