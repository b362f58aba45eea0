"""Spark event log -> per-phase stage table.

The round driver labels every Spark job ``rNNNNN:<phase>[:<sink>]``
(``drain+stats``, ``sink:<name>``, ``counters``); the benchmark labels
query leaves ``q:<leaf>``. This parser groups jobs by that label with
the round number dropped, and sums, per phase, the executor CPU, run
time, GC, spill, shuffle bytes and task count of every task of its
stages. It also keeps each job's interval, so a round's wall can be
split into time covered by Spark jobs and driver-only gaps.

Usage: python3 crawlbench/eventlog.py <event log file>
"""

from __future__ import annotations

import json
import re
import sys
from collections import defaultdict
from dataclasses import dataclass, field

_LABEL = re.compile(r"^r(\d{5}):(.+)$")
COLUMNS = ("jobs", "wall_ms", "cpu_ms", "run_ms", "gc_ms", "spill_bytes", "shuffle_bytes", "tasks")


@dataclass
class Stage:
    stage_id: int
    label: str | None = None
    scopes: set[str] = field(default_factory=set)
    task_run_ms: list[int] = field(default_factory=list)
    cpu_ms: float = 0.0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_bytes: int = 0


@dataclass
class Job:
    job_id: int
    label: str | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


def split_label(label: str | None) -> tuple[int | None, str]:
    """``r00003:sink:contents`` -> (3, ``sink:contents``)."""
    if not label:
        return None, "(unlabelled)"
    m = _LABEL.match(label)
    return (int(m.group(1)), m.group(2)) if m else (None, label)


class EventLog:
    """Jobs submitted before ``since_ms`` (epoch ms) and their stages are
    left out: the set-up's warm-up runs the same labelled jobs."""

    def __init__(self, path: str, since_ms: float = 0):
        self.since_ms = since_ms
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self._skipped: set[int] = set()
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        for sid in self._skipped:
            self.stages.pop(sid, None)

    def _stage(self, sid: int) -> Stage:
        return self.stages.setdefault(sid, Stage(sid))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            if ev["Submission Time"] < self.since_ms:
                self._skipped.update(ev["Stage IDs"])
                return
            label = (ev.get("Properties") or {}).get("spark.job.description")
            self.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], label, ev["Submission Time"], stage_ids=ev["Stage IDs"]
            )
            for sid in ev["Stage IDs"]:
                st = self._stage(sid)
                st.label = st.label or label
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            label = (ev.get("Properties") or {}).get("spark.job.description")
            st.label = label or st.label
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    st.scopes.add(json.loads(scope).get("name", ""))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                return
            st = self._stage(ev["Stage ID"])
            st.task_run_ms.append(m["Executor Run Time"])
            st.cpu_ms += m["Executor CPU Time"] / 1e6
            st.gc_ms += m["JVM GC Time"]
            st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            st.shuffle_bytes += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )

    # ------------------------------------------------------------------
    def phase_table(self) -> dict[str, dict[str, float]]:
        """phase -> COLUMNS, summed over rounds."""
        rows: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COLUMNS, 0))
        intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
        for job in self.jobs.values():
            _, phase = split_label(job.label)
            rows[phase]["jobs"] += 1
            if job.end_ms is not None:
                intervals[phase].append((job.start_ms, job.end_ms))
        for st in self.stages.values():
            _, phase = split_label(st.label)
            row = rows[phase]
            row["cpu_ms"] += st.cpu_ms
            row["run_ms"] += sum(st.task_run_ms)
            row["gc_ms"] += st.gc_ms
            row["spill_bytes"] += st.spill_bytes
            row["shuffle_bytes"] += st.shuffle_bytes
            row["tasks"] += len(st.task_run_ms)
        for phase, iv in intervals.items():
            rows[phase]["wall_ms"] = covered_ms(iv)
        return dict(rows)

    def stages_with_scope(self, name: str) -> list[Stage]:
        return [s for s in self.stages.values() if name in s.scopes and s.task_run_ms]

    def stages_of_phase(self, phase: str) -> list[Stage]:
        return [
            s for s in self.stages.values()
            if split_label(s.label)[1] == phase and s.task_run_ms
        ]


def covered_ms(intervals: list[tuple[float, float]], lo: float = float("-inf"),
               hi: float = float("inf")) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def format_table(rows: dict[str, dict[str, float]]) -> str:
    head = f"{'phase':<28}" + "".join(f"{c:>15}" for c in COLUMNS)
    lines = [head]
    for phase in sorted(rows):
        lines.append(
            f"{phase:<28}" + "".join(f"{rows[phase][c]:>15.0f}" for c in COLUMNS)
        )
    return "\n".join(lines)


if __name__ == "__main__":
    print(format_table(EventLog(sys.argv[1]).phase_table()))
