"""Spans, box samples and the Spark event-log reader of the traced run.

Spans are recorded by the benchmark around its own calls into the
engine (workload -> call -> build/plan/fetch, workload -> job ->
micro-batch), kept in memory and written once when the run ends.  Task
level numbers come from Spark's JSON event log, which the traced run
turns on; each batch call runs under its own job group so its jobs can
be told apart.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


class Spans:
    """In-memory span list; ``enabled=False`` makes every call a no-op
    so the untraced runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float | None, parent: int | None = None,
            **attrs) -> int | None:
        """Record a span; ``end=None`` leaves it open until ``close``."""
        if not self.enabled:
            return None
        self.items.append(
            {"id": len(self.items), "name": name, "start": start, "end": end,
             "parent": parent, **attrs}
        )
        return len(self.items) - 1

    def close(self, span: int | None, end: float) -> None:
        if self.enabled and span is not None:
            self.items[span]["end"] = end


def read_proc_stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


class StealSampler:
    """CPU steal over the run, from /proc/stat deltas."""

    def __init__(self):
        self.start = read_proc_stat()

    def pct(self) -> float:
        steal, total = read_proc_stat()
        d_total = total - self.start[1]
        return 100.0 * (steal - self.start[0]) / d_total if d_total else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class EventLog:
    """Jobs and tasks from one application's uncompressed event log."""

    def __init__(self, log_dir: str):
        # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
        apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
        if len(apps) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
        files = sorted(
            glob.glob(os.path.join(apps[0], "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        for path in files:
            self._read(path)

    def _read(self, path: str) -> None:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for s in ev.get("Stage IDs", []):
                        self.stage_job[s] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(_task(ev))

    def summarize(self, groups: set[str] | None = None,
                  window: tuple[float, float] | None = None) -> dict:
        """Scheduler and executor totals over the jobs whose group is in
        ``groups`` (any group when None) submitted inside ``window``
        (any time when None); with a window, also the part of it in which
        none of those jobs ran."""
        jobs = {
            j: v for j, v in self.jobs.items()
            if (groups is None or v["group"] in groups)
            and (window is None or window[0] <= v["start"] <= window[1])
        }
        stages = {s for s, j in self.stage_job.items() if j in jobs}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["duration"])
        skew = 1.0
        for durs in by_stage.values():
            med = _median(durs)
            if med > 0:
                skew = max(skew, max(durs) / med)
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(by_stage),
            "spark.tasks": len(tasks),
            "spark.executor_run_s": sum(t["run"] for t in tasks),
            "spark.executor_cpu_s": sum(t["cpu"] for t in tasks),
            "spark.gc_s": sum(t["gc"] for t in tasks),
            "spark.deser_s": sum(t["deser"] for t in tasks),
            "spark.scheduler_delay_s": sum(t["sched"] for t in tasks),
            "spark.task_skew": skew,
            "spark.shuffle_write_bytes": sum(t["sw"] for t in tasks),
            "spark.shuffle_read_bytes": sum(t["sr"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.empty_task_frac": (
                sum(1 for t in tasks if t["empty"]) / len(tasks) if tasks else 0.0
            ),
        }
        if window is not None:
            busy = _union(
                [(v["start"], v["end"] or window[1]) for v in jobs.values()], window
            )
            out["spark.driver_gap_s"] = max(0.0, (window[1] - window[0]) - busy)
        return out


def _union(intervals, clip) -> float:
    lo, hi = clip
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _task(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    duration = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
    run = m.get("Executor Run Time", 0) / 1000.0
    deser = m.get("Executor Deserialize Time", 0) / 1000.0
    ser = m.get("Result Serialization Time", 0) / 1000.0
    getting = info.get("Getting Result Time", 0) / 1000.0
    records_in = inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
    records_out = out.get("Records Written", 0) + sw.get("Shuffle Records Written", 0)
    return {
        "stage": ev.get("Stage ID"),
        "duration": duration,
        "run": run,
        "cpu": m.get("Executor CPU Time", 0) / 1e9,
        "gc": m.get("JVM GC Time", 0) / 1000.0,
        "deser": deser,
        "sched": max(0.0, duration - run - deser - ser - getting),
        "sw": sw.get("Shuffle Bytes Written", 0),
        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "empty": records_in == 0 and records_out == 0,
    }
