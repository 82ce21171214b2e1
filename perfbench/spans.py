"""Spans, Spark job groups, event-log attribution and process-tree RSS.

A span records name, start, end and parent in memory; the file is
written once at exit.  Every span also sets a Spark job group named by
its id, so the event log attributes jobs, stages, shuffle bytes and task
time to the innermost span that submitted them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name, interruptOnCancel=False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            self.sc.setLocalProperty(
                GROUP_PROP, self._stack[-1]["id"] if self._stack else None
            )

    def subtree(self, root: dict) -> set[str]:
        ids = {root["id"]}
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def write(self, path: str, extra: dict):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


class EventLog:
    """Job, stage and task records of one finished application, keyed by
    the job group each was submitted under."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, str] = {}
        self.stage_group: dict[int, str] = {}
        self.tasks: list[dict] = []
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, e: dict):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = e.get("Properties", {}).get(GROUP_PROP)
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            self.stage_group[sid] = e.get("Properties", {}).get(GROUP_PROP)
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            m = e["Task Metrics"]
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": m["Executor Run Time"],
                "shuffle_write": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                "shuffle_read": m["Shuffle Read Metrics"]["Local Bytes Read"]
                + m["Shuffle Read Metrics"]["Remote Bytes Read"],
            })

    def summary(self, groups: set[str], wall_s: float, cores: int) -> dict:
        """Jobs, stages run, task time and the band-exchange shuffle of the
        stages submitted under ``groups``."""
        stages = {s for s, g in self.stage_group.items() if g in groups}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        per_stage: dict[int, list] = {}
        for t in tasks:
            per_stage.setdefault(t["stage"], []).append(t)
        write = {s: sum(t["shuffle_write"] for t in ts) for s, ts in per_stage.items()}
        read = {s: sum(t["shuffle_read"] for t in ts) for s, ts in per_stage.items()}
        out = {
            "jobs": sum(1 for g in self.jobs.values() if g in groups),
            "stages": len(stages),
            "task_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "core_util": sum(t["run_ms"] for t in tasks) / 1000.0 / (cores * wall_s),
            "shuffle_write_bytes": max(write.values(), default=0),
            "reduce_skew": 1.0,
        }
        if read and max(read.values()) > 0:
            reduce_stage = max(read, key=read.get)
            times = [t["run_ms"] for t in per_stage[reduce_stage]]
            med = statistics.median(times)
            out["reduce_skew"] = max(times) / med if med > 0 else float(max(times) > 0)
        return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval_s)


def _tree_pids(root: int) -> set[int]:
    """``root`` and every live descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    tree, frontier = {root}, [root]
    while frontier:
        kids = children.get(frontier.pop(), [])
        tree.update(kids)
        frontier.extend(kids)
    return tree


def _tree_rss_kb(root: int) -> int:
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total
