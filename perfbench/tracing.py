"""Operation timing, layer spans and Spark accounting for one run.

Every operation the closed loop sends is timed with tracing on or off;
the end-to-end metrics come from those timings.  With tracing on, each
operation also runs under its own Spark job group, so the
`statusTracker()` job/stage/task counts and the event-log task metrics
can be attributed to it, and the layer calls inside it record spans
(name, start, end, parent, operation id), kept in memory and written
out when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import resource
import time
import traceback


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in [0, 100]) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def trimmed_mean(values: list[float]) -> float:
    """Mean after dropping an eighth of the sorted values at each end (none
    below eight values): a centre that ignores the odd outlier, such as
    the query that absorbs a cold session's warm-up, yet averages many
    samples where a median of a few heterogeneous operations rests on one
    or two."""
    s = sorted(values)
    k = len(s) // 8
    mid = s[k:len(s) - k]
    return sum(mid) / len(mid)


def tail(values: list[float]) -> dict:
    """The highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    beyond it, with its percentile and sample count (p50 when there are
    too few samples for any tail)."""
    n = len(values)
    p = 50.0
    for q in (75.0, 90.0, 95.0, 99.0, 99.9):
        if n * (1 - q / 100.0) >= 10:
            p = q
    return {"value": percentile(values, p), "percentile": p, "samples": n}


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self.counts: dict = {}  # layer counters recorded at span boundaries
        self._op: dict | None = None
        self._stack: list[int] = []
        self.jvm_pid = int(self.sc._jvm.ProcessHandle.current().pid())

    # -- operations ------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str, name: str, **facts):
        """Time one closed-loop operation.  The body sets `rec["ok"]` to
        False (or raises) when the output is wrong; either counts as a
        failed operation."""
        rec = {
            "id": len(self.ops), "kind": kind, "name": name, "ok": True, **facts
        }
        group = f"perfbench-{rec['id']}"
        if self.enabled:
            self.sc.setJobGroup(group, f"{kind}:{name}")
        self._op = rec
        rec["start"] = time.time()
        try:
            yield rec
        except Exception:  # a failed operation, not a failed run
            rec["ok"] = False
            rec["error"] = traceback.format_exc()[-2000:]
        finally:
            rec.setdefault("end", time.time())
            rec["wall_s"] = rec["end"] - rec["start"]
            self._op = None
            self.ops.append(rec)
            if self.enabled:
                self._count_jobs(rec, group)
                self.sc.setJobGroup("perfbench-idle", "between operations")

    def stop_clock(self, rec: dict) -> None:
        """End the timed part of an operation (the output check after it
        is not timed)."""
        rec["end"] = time.time()

    def _count_jobs(self, rec: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages, tasks = set(), 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0 and sid not in stages:
                    stages.add(sid)
                    tasks += st.numCompletedTasks
        rec["group"] = group
        rec["jobs"] = len(jobs)
        rec["stages"] = len(stages)
        rec["tasks"] = tasks
        # before anything is cleared: the harness never clears the cache
        rec["persisted_rdds"] = int(self.sc._jsc.getPersistentRDDs().size())

    # -- layer spans -----------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self._op["id"] if self._op else None,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def span_s(self, name: str, ops: list[dict] | None = None) -> float:
        ids = None if ops is None else {o["id"] for o in ops}
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (ids is None or s["op"] in ids)
        )

    # -- memory ----------------------------------------------------------
    def driver_rss_mb(self) -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def jvm_rss_mb(self) -> float:
        return _vm_hwm_mb(self.jvm_pid)


def parse_event_log(event_dir: str, ops: list[dict]) -> dict:
    """Per-operation job spans, task time, shuffle and spill bytes from a
    local, uncompressed Spark event log (read after the session stops)."""
    # Spark 4 writes a rolling log: a directory of event files per app
    files = [
        f for f in glob.glob(os.path.join(event_dir, "**"), recursive=True)
        if os.path.isfile(f)
    ]
    job_group, job_span, stage_group = {}, {}, {}
    per = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = g
                    job_span[ev["Job ID"]] = [ev["Submission Time"], None]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_span:
                        job_span[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    acc = per.setdefault(g, {
                        "task_time_s": 0.0, "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                    })
                    acc["task_time_s"] += m.get("Executor Run Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    spans_by_group: dict = {}
    for j, (s, e) in job_span.items():
        if e is not None:
            spans_by_group.setdefault(job_group.get(j), []).append((s, e))
    for rec in ops:
        g = rec.get("group")
        acc = per.get(g, {})
        rec.update({k: acc.get(k, 0) for k in (
            "task_time_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"
        )})
        # union of the op's job spans (ms), then wall minus that union
        covered, last = 0.0, None
        for s, e in sorted(spans_by_group.get(g, [])):
            if last is None or s > last:
                covered += e - s
                last = e
            elif e > last:
                covered += e - last
                last = e
        rec["driver_gap_s"] = max(0.0, rec["wall_s"] - covered / 1000.0)
    return {"event_files": len(files), "jobs_logged": len(job_span)}
