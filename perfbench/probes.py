"""Readers outside the program: peak RSS from ``/proc`` and Spark
engine metrics from the event log."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # comm may contain spaces: fields after the closing paren
        fields = data[data.rfind(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
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


def descendants(root: int) -> list[int]:
    """Every process below ``root``, not counting ``root`` itself."""
    kids = _children_map()
    todo, found = list(kids.get(root, ())), []
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, ()))
    return found


def alive(pid: int) -> bool:
    """Whether ``pid`` is a running (not zombie) process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return False
    return data[data.rfind(")") + 2:].split()[0] != "Z"


def descendants_rss_mb(root: int) -> float:
    """Summed RSS of every process below ``root`` (the driver JVM and
    its Python workers), not counting ``root`` itself."""
    return sum(_rss_kb(pid) for pid in descendants(root)) / 1024.0


class RssSampler:
    """Background sampler of :func:`descendants_rss_mb`; ``peak_mb`` is
    the largest sample. Use as a context manager."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def session_metrics(event_log_dir: str, since_ms: float = 0) -> dict[str, float]:
    """``session.*`` metrics over the jobs and tasks that started at or
    after ``since_ms`` (epoch ms) in every application log under
    ``event_log_dir`` (read after the session stopped)."""
    jobs = 0
    tasks = []  # (stage, run_ms, gc_ms)
    shuffle_w = shuffle_r = spill = 0
    for path in glob.glob(os.path.join(event_log_dir, "**", "*events*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs += ev.get("Submission Time", 0) >= since_ms
                elif kind == "SparkListenerTaskEnd" and ev["Task Info"]["Launch Time"] >= since_ms:
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    shuffle_w += sw.get("Shuffle Bytes Written", 0)
                    shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    tasks.append((ev.get("Stage ID"), m.get("Executor Run Time", 0), m.get("JVM GC Time", 0)))
    by_stage: dict = {}
    for stage, run_ms, _gc in tasks:
        by_stage.setdefault(stage, []).append(run_ms)
    # task skew: max / median task time per stage of >= 4 tasks,
    # weighted by the stage's total task time
    num = den = 0.0
    for times in by_stage.values():
        med = statistics.median(times)
        if len(times) >= 4 and med > 0:
            num += max(times) / med * sum(times)
            den += sum(times)
    run_total = sum(t[1] for t in tasks)
    return {
        "session.jobs": jobs,
        "session.tasks": len(tasks),
        "session.shuffle_write_mb": shuffle_w / 1e6,
        "session.shuffle_read_mb": shuffle_r / 1e6,
        "session.spill_mb": spill / 1e6,
        "session.task_skew": num / den if den else 1.0,
        "session.gc_frac": sum(t[2] for t in tasks) / run_total if run_total else 0.0,
    }
