"""Layer spans for the traced run, and Spark event-log attribution.

Spans are recorded from the benchmark's side of the call boundary only:
around the benchmark's own calls into a layer, and around module-level
entry points the jobs call (patched for the traced run). Each span ends on a
materialization of the layer's output, because Spark is lazy. Spans are kept
in memory and written out when the run ends.

Spark jobs are attributed to the innermost span whose wall-clock window holds
the job's submission time. ``dedup_corpus`` submits jobs from its own thread
pool, so job groups set by the caller would not follow them; time windows do.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: str | None
    iteration: int
    start: float  # epoch seconds, the clock the event log uses
    end: float = 0.0


class Tracer:
    """In-memory span recorder. ``iteration`` is set by the caller; spans
    recorded while it is None (warm-up, checks) are dropped."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.iteration: int | None = None
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.iteration is None:
            yield
            return
        s = Span(name, self._stack[-1].name if self._stack else None, self.iteration, time.time())
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, per-stage task totals) from the application log in log_dir
    (a single file, or a directory of rolled files)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if os.path.isfile(path):
            _read_events(path, jobs, stages)
    return list(jobs.values()), stages


def _read_events(path: str, jobs: dict[int, dict], stages: dict[int, dict]) -> None:
    with open(path) as f:
        for line in f:
            if not line.startswith("{"):
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(
                    ev["Stage ID"], {"run_ms": 0, "gc_ms": 0, "shuffle_bytes": 0}
                )
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )


def span_metrics(
    spans: list[Span], jobs: list[dict], stages: dict[int, dict], cores: int
) -> dict[tuple[int, str], dict[str, float]]:
    """Per (iteration, span name): wall and self seconds, Spark jobs, task and
    GC seconds, shuffle bytes written. Job counts and task totals are self
    figures: a job belongs to the innermost span open at its submission."""
    out: dict[tuple[int, str], dict[str, float]] = {}
    for s in spans:
        kids = [c for c in spans if c.parent == s.name and c.iteration == s.iteration
                and s.start <= c.start and c.end <= s.end]
        out[(s.iteration, s.name)] = {
            "wall_s": s.end - s.start,
            "self_s": (s.end - s.start) - sum(c.end - c.start for c in kids),
            "spark_jobs": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
        }
    counted: set[int] = set()  # a reused shuffle stage is listed by every job that reads it
    for job in sorted(jobs, key=lambda j: j["submit"]):
        owner = None
        for s in spans:
            if s.start <= job["submit"] <= s.end and (owner is None or s.start >= owner.start):
                owner = s
        if owner is None:
            continue
        m = out[(owner.iteration, owner.name)]
        m["spark_jobs"] += 1
        for sid in job["stages"]:
            st = stages.get(sid)
            if st and sid not in counted:
                counted.add(sid)
                m["task_s"] += st["run_ms"] / 1000.0
                m["gc_s"] += st["gc_ms"] / 1000.0
                m["shuffle_bytes"] += st["shuffle_bytes"]
    for m in out.values():
        m["core_util"] = m["task_s"] / (m["self_s"] * cores) if m["self_s"] > 0 else 0.0
    return out


def per_span_medians(
    metrics: dict[tuple[int, str], dict[str, float]], iterations: list[int], names: list[str]
) -> dict[str, dict[str, float]]:
    """Median over traced iterations of each span's figures; a span that did
    not run in an iteration counts as zero there."""
    zero = {"wall_s": 0.0, "self_s": 0.0, "spark_jobs": 0, "task_s": 0.0, "gc_s": 0.0,
            "shuffle_bytes": 0, "core_util": 0.0}
    res = {}
    for name in names:
        rows = [metrics.get((i, name), zero) for i in iterations]
        res[name] = {k: statistics.median(r[k] for r in rows) for k in zero}
    return res
