"""Measurement plumbing for the benchmark: an in-memory span recorder, a
reader for Spark's JSON event log, and process-tree CPU / memory readings
from ``/proc``.

Spans are recorded around calls into the package's public functions (the
layers), never inside the package. Each span sets its own Spark job group,
so the event log can attribute every job, stage and task to the span that
caused it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class SpanRecorder:
    """Keeps spans (name, start, end, parent, run id) in memory; ``dump``
    writes them out once the traced run is over."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def read_event_log(log_dir: str) -> dict:
    """Parse the single application log under ``log_dir`` (written
    uncompressed, read after the SparkContext stopped) into job intervals
    and per-stage task totals, both keyed by job group."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: Dict[int, dict] = {}
    stage_group: Dict[tuple, Optional[str]] = {}
    stages: Dict[tuple, dict] = {}
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_group[key] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id"
                )
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                m = ev.get("Task Metrics") or {}
                acc = stages.setdefault(
                    key, {"cpu_ns": 0, "shuffle_write": 0, "spill_disk": 0}
                )
                acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                acc["spill_disk"] += m.get("Disk Bytes Spilled", 0)
    by_group: Dict[Optional[str], dict] = {}
    for key, acc in stages.items():
        tot = by_group.setdefault(
            stage_group.get(key), {"cpu_ns": 0, "shuffle_write": 0, "spill_disk": 0}
        )
        for k, v in acc.items():
            tot[k] += v
    return {"jobs": list(jobs.values()), "tasks_by_group": by_group}


def _covered(intervals: List[tuple], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_totals(spans: List[dict], log: dict) -> Dict[str, dict]:
    """Per span name: wall seconds, driver seconds (span time that none of
    the span's own Spark jobs cover) and the task totals of its stages."""
    out: Dict[str, dict] = {}
    for sp in spans:
        own = [
            (j["start"], j["end"] or sp["end"])
            for j in log["jobs"]
            if j["group"] == sp["id"]
        ]
        wall = sp["end"] - sp["start"]
        tasks = log["tasks_by_group"].get(
            sp["id"], {"cpu_ns": 0, "shuffle_write": 0, "spill_disk": 0}
        )
        tot = out.setdefault(
            sp["name"],
            {"s": 0.0, "driver_s": 0.0, "task_cpu_s": 0.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0},
        )
        tot["s"] += wall
        tot["driver_s"] += wall - _covered(own, sp["start"], sp["end"])
        tot["task_cpu_s"] += tasks["cpu_ns"] / 1e9
        tot["shuffle_write_mb"] += tasks["shuffle_write"] / 1e6
        tot["spill_mb"] += tasks["spill_disk"] / 1e6
    return out


def _proc_table() -> Dict[int, tuple]:
    """pid → (ppid, cpu ticks incl. reaped children, comm)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw[raw.rindex(")") + 2 :].split()
        # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        table[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]), comm)
    return table


def _descendants(table: Dict[int, tuple], root: int) -> List[int]:
    kids: Dict[int, List[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (the
    JVM, the Python worker daemon and its workers). A child that exited is
    still counted once its parent reaped it (cutime/cstime)."""
    table = _proc_table()
    return sum(table[p][1] for p in _descendants(table, os.getpid()) if p in table) / _CLK_TCK


def jvm_peak_rss_mb() -> float:
    """VmHWM of the driver JVM started by this process."""
    table = _proc_table()
    for pid in _descendants(table, os.getpid()):
        if pid in table and table[pid][2] == "java":
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
    raise RuntimeError("no JVM among this process's descendants")
