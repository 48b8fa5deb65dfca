"""Tracing for the per-layer run: spans kept in memory, one Spark job group
per traced call, job/stage/task counts from ``statusTracker``, and
shuffle/spill/GC/task-time figures parsed from the Spark event log after
the session stops. Nothing here changes engine code: every span wraps a
call from the benchmark into a public engine function."""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

import reference

_MB = float(1 << 20)


class Tracer:
    """Spans (name, start, end, parent, run id) plus per-group Spark counts."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, dict] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block; with ``group``, its Spark jobs carry that job group
        and their counts are read back when the block ends."""
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        if group is not None:
            before = self.sc._jsc.getPersistentRDDs().size()
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                c = self._status_counts(group)
                c["cached_left"] = self.sc._jsc.getPersistentRDDs().size() - before
                self.counts[group] = c

    def _status_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def seconds(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        rec = next(r for r in reversed(self.spans) if r["name"] == name)
        return rec["end"] - rec["start"]

    def write(self, path: str) -> None:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        out = [dict(r, start=r["start"] - t0, end=r["end"] - t0) for r in self.spans]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": out, "counts": self.counts}, f, indent=1)


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group: shuffle_mb, spill_mb, gc_s and task_skew (max over
    median task time in the group's stage with the most task time)."""
    # Spark 4 writes a rolling log: a directory of event files per application
    files = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs if f.startswith("events_")]
    stage_group: dict[int, str] = {}
    tasks = defaultdict(list)  # stage -> [(duration_ms, metrics)]
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks[ev["Stage ID"]].append((info["Finish Time"] - info["Launch Time"], m))
    out: dict[str, dict] = {}
    stage_time: dict[str, tuple[float, list]] = {}
    for stage, rows in tasks.items():
        group = stage_group.get(stage)
        if group is None:
            continue
        g = out.setdefault(group, {"shuffle_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0, "task_skew": 0.0})
        for _, m in rows:
            g["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
            g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        durations = [d for d, _ in rows]
        total = sum(durations)
        if total > stage_time.get(group, (-1.0, []))[0]:
            stage_time[group] = (total, durations)
    for group, (_, durations) in stage_time.items():
        med = statistics.median(durations)
        out[group]["task_skew"] = max(durations) / med if med > 0 else 1.0
    return out


def _best_of(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return min(times)


def kernel_metrics(lat: np.ndarray, lng: np.ndarray, polygons: dict, vertices: dict) -> dict:
    """Single-thread kernel figures on the workload's own points/polygons:
    cell-id encode rows/s, crossing tests/s on each polygon's bounding-box
    candidates, and mean covering time per polygon (max_cells=8)."""
    from s2_geometry_library_java_spark.kernel import cellid, coverer, predicates
    from s2_geometry_library_java_spark.kernel.region import Loop

    encode_s = _best_of(lambda: cellid.latlng_degrees_to_cell_id(lat, lng, 30))
    tests, cross_s = 0, 0.0
    for pid, poly in polygons.items():
        mask = reference.bbox_mask(lat, lng, vertices[pid])
        if not mask.any():
            continue
        p = reference.xyz(lat[mask], lng[mask])
        for lp in poly.loops:
            tests += len(p) * len(lp.vertices)
            cross_s += _best_of(lambda: predicates.count_crossings(Loop.ORIGIN, p, lp.vertices))
    cov = coverer.RegionCoverer(max_cells=8)
    t = time.perf_counter()
    for poly in polygons.values():
        cov.get_covering(poly)
    covering_s = time.perf_counter() - t
    return {
        "kernel.encode_rows_per_s": len(lat) / encode_s,
        "kernel.crossing_tests_per_s": tests / cross_s if cross_s else 0.0,
        "kernel.covering_ms": 1000.0 * covering_s / len(polygons),
    }
