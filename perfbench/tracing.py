"""Spans recorded around the benchmark's calls into the program, and the
parser that joins them with the Spark event log.

Every timed operation gets an id. In traced runs the benchmark sets the
Spark job group to that id before calling the program, so each job in
the event log (``spark.jobGroup.id`` in its properties) maps back to the
operation that caused it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None  # operation id shared by every span of one operation
    ok: bool = True

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store. ``op()`` opens a top-level operation span
    with a fresh operation id; ``span()`` opens a child of the innermost
    open span. Spans are kept in memory and read when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None  # set -> tag each operation's Spark jobs with its id
        self._ops = 0

    def set_spark_context(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def op(self, name: str):
        self._ops += 1
        op_id = f"op-{self._ops}"
        if self._sc is not None:
            self._sc.setJobGroup(op_id, name)
        try:
            with self.span(name, op=op_id) as s:
                yield s
        finally:
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, time.perf_counter(),
            parent=parent.id if parent else None,
            op=op or (parent.op if parent else None),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        except BaseException:
            s.ok = False
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, ok_only: bool = True) -> list[float]:
        """Durations of the spans called ``name`` inside operations
        (spans recorded outside any operation, as in a warm-up, are left out)."""
        return [
            s.seconds for s in self.spans
            if s.name == name and s.op is not None and (s.ok or not ok_only)
        ]



# --- Spark event log -------------------------------------------------------------


@dataclass
class JobStats:
    group: str | None
    start_ms: int = 0
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    output: int = 0


def find_event_log(log_dir: str) -> str:
    """The single application log the run wrote (finished, not
    ``.inprogress``)."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return os.path.join(log_dir, logs[0])


def parse_event_log(lines) -> dict[int, JobStats]:
    """Fold an uncompressed JSON-lines Spark event log into per-job
    totals. Task metrics are attributed to the job owning their stage."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = JobStats(group=props.get("spark.jobGroup.id"),
                         start_ms=ev.get("Submission Time", 0),
                         stages=list(ev.get("Stage IDs", [])))
            jobs[ev["Job ID"]] = j
            for sid in j.stages:
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j.end_ms = ev.get("Completion Time", j.start_ms)
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics")
            if j is None or not m:
                continue
            j.tasks += 1
            j.run_ms += m.get("Executor Run Time", 0)
            j.cpu_ns += m.get("Executor CPU Time", 0)
            j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            j.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            j.output += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs


def jobs_by_op(jobs: dict[int, JobStats]) -> dict[str, list[JobStats]]:
    out: dict[str, list[JobStats]] = defaultdict(list)
    for j in jobs.values():
        if j.group is not None:
            out[j.group].append(j)
    return out


def spark_layer(jobs: dict[int, JobStats], ops: list[Span], cores: int) -> dict[str, float]:
    """Per-operation Spark counters over the traced operations ``ops``:
    jobs, tasks, bytes and seconds are means per operation; busy_ratio is
    task run time over (wall time x cores); driver_overhead_s is the
    median of (operation wall time - wall time covered by its jobs)."""
    by_op = jobs_by_op(jobs)
    n = max(len(ops), 1)
    mine = [j for s in ops for j in by_op.get(s.op, [])]
    wall = sum(s.seconds for s in ops)
    overhead = sorted(s.seconds - _covered(by_op.get(s.op, [])) for s in ops)
    return {
        "spark.jobs": len(mine) / n,
        "spark.tasks": sum(j.tasks for j in mine) / n,
        "spark.job_s": sum(_covered(by_op.get(s.op, [])) for s in ops) / n,
        "spark.busy_ratio": sum(j.run_ms for j in mine) / 1000.0 / (wall * cores) if wall else 0.0,
        "spark.task_cpu_s": sum(j.cpu_ns for j in mine) / 1e9 / n,
        "spark.shuffle_write_bytes": sum(j.shuffle_write for j in mine) / n,
        "spark.shuffle_read_bytes": sum(j.shuffle_read for j in mine) / n,
        "spark.spill_bytes": sum(j.spill for j in mine) / n,
        "spark.output_bytes": sum(j.output for j in mine) / n,
        "driver.overhead_s": overhead[len(overhead) // 2] if overhead else 0.0,
    }


def _covered(jobs: list[JobStats]) -> float:
    """Wall seconds covered by the union of the jobs' [start, end]."""
    iv = sorted((j.start_ms, j.end_ms) for j in jobs)
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0
