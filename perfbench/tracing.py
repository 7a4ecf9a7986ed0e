"""Benchmark-side spans, Spark event-log folding and process-tree memory.

Spans are recorded around the benchmark's own calls into the program (the
program itself is not instrumented). They stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

MB = 1024.0 * 1024.0


class Spans:
    """In-memory span log: (name, start, end, parent, op id). Times are
    epoch seconds so they line up with the Spark event log's clock."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, op_id: str | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        self.rows.append({"id": len(self.rows), "name": name, "start": time.time(),
                          "end": None, "parent": parent, "op_id": op_id})
        self._stack.append(len(self.rows) - 1)
        return len(self.rows) - 1

    def close(self, span_id: int) -> float:
        """End ``span_id`` and any child an exception left open."""
        now = time.time()
        while self._stack:
            top = self._stack.pop()
            self.rows[top]["end"] = now
            if top == span_id:
                break
        return now - self.rows[span_id]["start"]

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.rows, **extra}, f)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fold_event_log(path: str) -> dict[str, dict]:
    """Fold one uncompressed Spark event log into per-job-group totals:
    job intervals (epoch s), task run/CPU/GC/deserialize seconds, shuffle,
    input and spill bytes, peak execution memory and failed tasks."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": {}, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "deser_s": 0.0,
        "shuffle_write_b": 0, "shuffle_read_b": 0, "input_b": 0, "spill_b": 0,
        "peak_mem_b": 0, "failed_tasks": 0, "tasks": 0,
    })
    job_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                job_group[ev["Job ID"]] = group
                groups[group]["jobs"][ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                group = job_group.get(ev["Job ID"])
                if group is not None:
                    groups[group]["jobs"][ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = groups[group]
                g["tasks"] += 1
                if ev.get("Task Info", {}).get("Failed"):
                    g["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                g["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g["spill_b"] += m.get("Disk Bytes Spilled", 0)
                g["peak_mem_b"] = max(g["peak_mem_b"], m.get("Peak Execution Memory", 0))
    return groups


def op_fold(group: dict, start: float, end: float, cores: int) -> dict[str, float]:
    """Per-op metrics from one job group's fold and the op's wall span."""
    wall = end - start
    busy = _union_len([
        (max(lo, start), min(hi, end))
        for lo, hi in group["jobs"].values()
        if hi is not None and min(hi, end) > max(lo, start)
    ])
    return {
        "scheduler.idle_s": wall - busy,
        "executor.run_s": group["run_s"],
        "executor.cpu_s": group["cpu_s"],
        "executor.gc_s": group["gc_s"],
        "executor.deser_s": group["deser_s"],
        "executor.busy_frac": group["run_s"] / (wall * cores) if wall > 0 else 0.0,
        "shuffle.write_mb": group["shuffle_write_b"] / MB,
        "shuffle.read_mb": group["shuffle_read_b"] / MB,
        "scan.input_mb": group["input_b"] / MB,
        "executor.spill_mb": group["spill_b"] / MB,
        "executor.peak_mem_mb": group["peak_mem_b"] / MB,
        "scheduler.failed_tasks": float(group["failed_tasks"]),
    }


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc/<pid>/stat."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """VmHWM (peak resident set, MB) of each live process in ``pids``,
    keyed ``<pid>:<name>``."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # exited
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[f"{pid}:{name}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out
