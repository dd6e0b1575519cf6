"""Outside-in measurements: host record, CPU calibration, steal, peak
RSS from ``/proc``, and Spark's own event log.

Nothing here touches the program's code; every number is read from the
operating system or from files Spark writes.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import platform
import statistics
import time
from typing import Dict, Iterable, List, Optional


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_record(spark) -> Dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb(), 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
    }


def calib_s() -> float:
    """Single-core CPU reference: a fixed md5 chain (the probe bench.py
    records as ``calib_sec``). It moves with the host, not the code."""
    buf = b"\xab" * 65536
    t0 = time.perf_counter()
    h = buf
    for _ in range(1500):
        h = hashlib.md5(h).digest() + buf
    return time.perf_counter() - t0


def cpu_jiffies() -> List[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: List[int], after: List[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if total else 0.0


# ---------------------------------------------------------------------------
# peak RSS of the JVM and of the Python workers
# ---------------------------------------------------------------------------


def pids() -> List[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def stat_fields(pid: int) -> Optional[List[str]]:
    """``/proc/<pid>/stat`` from the state on (state, ppid, pgrp,
    session, ...), or None once the process has ended."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            text = f.read()
    except OSError:
        return None
    # the command name may contain spaces; the state follows the ')'
    return text[text.rfind(")") + 2 :].split()


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for pid in pids():
        fields = stat_fields(pid)
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(pid)
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> Optional[float]:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark" in cmd and (b"daemon" in cmd or b"worker" in cmd)


class RssSampler:
    """Highest ``VmHWM`` seen per process, sampled at pass boundaries.

    Spark reuses Python workers but reaps idle ones, so a worker's peak
    is read after every pass rather than once at the end."""

    def __init__(self, spark):
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.worker_peak_mb = 0.0
        self.jvm_peak_mb = 0.0

    def sample(self) -> None:
        jvm = vm_hwm_mb(self.jvm_pid)
        if jvm is not None:
            self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)
        for pid in descendants(self.jvm_pid):
            if _is_python_worker(pid):
                hwm = vm_hwm_mb(pid)
                if hwm is not None:
                    self.worker_peak_mb = max(self.worker_peak_mb, hwm)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

SPARK_METRICS = (
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.tasks_failed", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.task_max_over_median", "ratio"),
)


def _events(log_dir: str) -> Iterable[Dict]:
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress") or not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def spark_metrics(log_dir: str, job_group: str, passes: int) -> Dict[str, float]:
    """Per-pass engine totals for the jobs whose group starts with
    ``job_group``.

    Counts and sums are divided by ``passes``; ``task_max_over_median``
    is the slowest task over the median task of the longest stage."""
    stages: set = set()
    stage_wall: Dict[int, float] = {}
    task_ms: Dict[int, List[float]] = {}
    tot = {name: 0.0 for name, _ in SPARK_METRICS if name != "spark.task_max_over_median"}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if (props.get("spark.jobGroup.id") or "").startswith(job_group):
                stages.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stages and "Completion Time" in info:
                stage_wall[sid] = info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            task_ms.setdefault(ev["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"]
            )
            tot["spark.tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                tot["spark.tasks_failed"] += 1
            tot["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            tot["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            tot["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            tot["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            tot["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    tot["spark.stages"] = float(len(stage_wall))
    out = {k: v / max(passes, 1) for k, v in tot.items()}
    ratio = 1.0
    if stage_wall:
        slowest = max(stage_wall, key=stage_wall.get)
        durations = task_ms.get(slowest) or [1.0]
        ratio = max(durations) / max(statistics.median(durations), 1.0)
    out["spark.task_max_over_median"] = ratio
    return out
