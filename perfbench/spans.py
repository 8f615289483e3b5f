"""Spans around the benchmark's calls into the program, and their Spark
counters read back from Spark's own event log.

A span records name, start, end, parent and the counters its caller
sets. While a span is open, every Spark job it starts carries the span's
id as its job group, so the event log attributes jobs, tasks, shuffle,
spill and GC time to the span. Spans stay in memory and are written out
when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# counters taken from the event log for every span
EVENT_COUNTERS = ("jobs", "tasks", "jobs_busy_s", "driver_gap_s",
                  "shuffle_write_bytes", "spill_bytes", "gc_s")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session confs of a traced run: a plain, uncompressed, unrolled log
    (Spark 4 rolls and compresses by default)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


class Tracer:
    """Records spans when `enabled`; otherwise every span is a no-op, so
    the untraced run pays nothing for the instrumentation."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.phase = "setup"

    @contextmanager
    def span(self, name: str):
        """Open a span; yields its counter dict for the caller to fill."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": f"pb-{len(self.spans)}", "name": name, "phase": self.phase,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, "counters": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec["counters"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            top = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(top["id"] if top else "pb-none", top["name"] if top else "")


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Jobs of the (single) application log in `log_dir`, grouped by job
    group: [{start, end, tasks, shuffle_write_bytes, spill_bytes, gc_s}]."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics") or {}
                if job is None:
                    continue
                job["tasks"] += 1
                job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        if j["end"] is not None:
            by_group.setdefault(j["group"], []).append(j)
    return by_group


def attribute(spans: list[dict], by_group: dict[str, list[dict]]) -> None:
    """Fill each span's event counters and self time in place. A span's
    jobs include its descendants' jobs; driver_gap_s is the span's wall
    time during which none of those jobs ran."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def subtree_jobs(s: dict) -> list[dict]:
        out = list(by_group.get(s["id"], []))
        for c in children.get(s["id"], []):
            out += subtree_jobs(c)
        return out

    for s in spans:
        wall = s["end"] - s["start"]
        jobs = subtree_jobs(s)
        busy = _union_s([(max(j["start"], s["start"]), min(j["end"], s["end"]))
                         for j in jobs if j["end"] > s["start"] and j["start"] < s["end"]])
        s["wall_s"] = wall
        s["self_s"] = wall - _union_s([(c["start"], c["end"]) for c in children.get(s["id"], [])])
        s["events"] = {
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "jobs_busy_s": busy,
            "driver_gap_s": max(wall - busy, 0.0),
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "spill_bytes": sum(j["spill_bytes"] for j in jobs),
            "gc_s": sum(j["gc_s"] for j in jobs),
        }


def per_name(spans: list[dict], phase: str = "run") -> dict[str, dict[str, float]]:
    """Median over the calls of each span name in `phase`: every counter
    the caller set, the event counters, and self time."""
    groups: dict[str, list[dict]] = {}
    for s in spans:
        if s["phase"] == phase:
            groups.setdefault(s["name"], []).append(s)
    out = {}
    for name, ss in groups.items():
        keys = set(EVENT_COUNTERS) | {"self_s", "wall_s"}
        for s in ss:
            keys |= set(s["counters"])
        row = {"calls": len(ss)}
        for k in sorted(keys):
            vals = [s["counters"].get(k, s["events"].get(k, s.get(k))) for s in ss]
            vals = [v for v in vals if v is not None]
            if vals:
                row[k] = statistics.median(vals)
        out[name] = row
    return out


def tree_lines(spans: list[dict], phase: str = "run") -> list[str]:
    """The span tree of `phase`, one line per distinct name path, with
    call count, median wall, self time and the event counters."""
    by_id = {s["id"]: s for s in spans}

    def path(s: dict) -> str:
        p = by_id.get(s["parent"]) if s["parent"] else None
        return (path(p) + " > " if p else "") + s["name"]

    groups: dict[str, list[dict]] = {}
    for s in spans:
        if s["phase"] == phase:
            groups.setdefault(path(s), []).append(s)
    lines = []
    for p, ss in sorted(groups.items(), key=lambda kv: min(s["start"] for s in kv[1])):
        ev = {k: round(statistics.median(s["events"][k] for s in ss), 4) for k in EVENT_COUNTERS}
        lines.append(
            f"{'  ' * p.count(' > ')}{p.split(' > ')[-1]}: calls={len(ss)} "
            f"wall_s={statistics.median(s['wall_s'] for s in ss):.4f} "
            f"self_s={statistics.median(s['self_s'] for s in ss):.4f} "
            + " ".join(f"{k}={v}" for k, v in ev.items()))
    return lines
