"""Spans around calls into the program's layers, and the attribution of
Spark jobs to them.

A span records a name, a kind (``setup``, ``pass``, ``layer`` or
``check``), its start and end, its parent and the run id. While a span is
open, every job the driver thread submits carries the span's job group,
so once the run ends one read of the Spark status API attributes each job
(and its stages' task CPU and shuffle bytes) to exactly one span. Jobs a
streaming query runs on its own thread carry the query's ``runId`` as
their group instead; ``adopt_group`` maps that group onto the span that
started the query.

Untraced runs open only ``setup``, ``pass`` and ``check`` spans; traced
runs also open one ``layer`` span per call into a program layer and
sample the storage memory at every span boundary. Spans stay in memory
until the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.error
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


class TraceError(RuntimeError):
    """The status API could not account for every job of the run."""


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    run_id: str
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}.{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Opens spans and tags jobs with their group; when tracing, also
    samples the storage memory the program holds at span boundaries."""

    def __init__(self, spark, run_id: str, traced: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.traced = traced
        self.spans: list[Span] = []
        self.external_groups: dict[str, int] = {}
        self.cached_peak_bytes = 0
        self.self_time: dict[int, float] = defaultdict(float)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, kind: str = "layer", **attrs):
        if kind == "layer" and not self.traced:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, kind, parent.id if parent else None,
            self.run_id, attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        self._charge(t_in)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t_out = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent.group, parent.name)
            if self.traced:
                self.sample_cache()
            self._charge(t_out)

    def _charge(self, t0: float) -> None:
        # time spent in the recorder, charged to every open pass span
        dt = time.perf_counter() - t0
        for sp in self._stack:
            self.self_time[sp.id] += dt

    def adopt_group(self, group: str) -> None:
        """Attribute jobs of an outside job group (a streaming query's
        runId) to the innermost open span."""
        self.external_groups[group] = self._stack[-1].id

    def sample_cache(self) -> None:
        used = sum(i.memSize() for i in self.sc._jsc.sc().getRDDStorageInfo())
        self.cached_peak_bytes = max(self.cached_peak_bytes, used)


# ---------------------------------------------------------------------------
# Status API
# ---------------------------------------------------------------------------


def _epoch(ts: str) -> float:
    # the status API writes e.g. "2026-10-16T23:35:29.123GMT"
    return (
        datetime.strptime(ts.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _get(url: str):
    try:
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)
    except (urllib.error.URLError, OSError) as exc:
        raise TraceError(f"status API unreachable at {url}: {exc}") from exc


@dataclass
class Job:
    id: int
    group: str | None
    description: str
    start: float
    end: float
    cpu_s: float = 0.0
    read_mb: float = 0.0
    write_mb: float = 0.0


def fetch_jobs(spark, first_job: int) -> list[Job]:
    """Every job from ``first_job`` on, with its stages' task totals (a
    stage shared by several jobs counts once, for the first of them).

    Raises ``TraceError`` if the status API is unreachable, a job id in
    the range is missing (evicted by ``spark.ui.retainedJobs``), a job
    has not finished, or a job's stage is missing."""
    sc = spark.sparkContext
    # the status store is fed asynchronously: let it catch up first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    if not sc.uiWebUrl:
        raise TraceError("the Spark UI (status API) is disabled")
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    raw_jobs = [j for j in _get(f"{base}/jobs") if j["jobId"] >= first_job]
    stages: dict[int, list[dict]] = defaultdict(list)
    for st in _get(f"{base}/stages?details=false"):
        stages[st["stageId"]].append(st)  # one record per attempt
    ids = sorted(j["jobId"] for j in raw_jobs)
    if ids and ids != list(range(first_job, ids[-1] + 1)):
        missing = sorted(set(range(first_job, ids[-1] + 1)) - set(ids))
        raise TraceError(f"status API lost {len(missing)} jobs, e.g. {missing[:5]}")
    owner: dict[int, int] = {}  # stage id -> first job listing it
    for j in sorted(raw_jobs, key=lambda j: j["jobId"]):
        for s in j["stageIds"]:
            owner.setdefault(s, j["jobId"])
    jobs = {}
    for j in raw_jobs:
        if j.get("completionTime") is None:
            raise TraceError(f"job {j['jobId']} has not finished ({j['status']})")
        jobs[j["jobId"]] = Job(
            j["jobId"], j.get("jobGroup"), j.get("description") or j["name"],
            _epoch(j["submissionTime"]), _epoch(j["completionTime"]),
        )
    for s, jid in owner.items():
        if s not in stages:
            raise TraceError(f"status API lost stage {s} of job {jid}")
        for st in stages[s]:
            job = jobs[jid]
            job.cpu_s += st["executorCpuTime"] / 1e9
            job.read_mb += (
                st["shuffleLocalBytesRead"] + st["shuffleRemoteBytesRead"]
            ) / 1e6
            job.write_mb += st["shuffleWriteBytes"] / 1e6
    return sorted(jobs.values(), key=lambda j: j.id)


# ---------------------------------------------------------------------------
# Attribution
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals, overlaps counted once."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


class Attribution:
    """Jobs grouped by the span that submitted them."""

    def __init__(self, rec: Recorder, jobs: list[Job]):
        self.rec = rec
        by_group = {sp.group: sp.id for sp in rec.spans}
        by_group.update(rec.external_groups)
        self.own: dict[int, list[Job]] = defaultdict(list)
        self.unattributed: list[Job] = []
        for j in jobs:
            sid = by_group.get(j.group)
            if sid is None:
                self.unattributed.append(j)
            else:
                self.own[sid].append(j)
        self.children: dict[int, list[int]] = defaultdict(list)
        for sp in rec.spans:
            if sp.parent is not None:
                self.children[sp.parent].append(sp.id)

    def jobs(self, span: Span) -> list[Job]:
        """Jobs of the span and of every span nested in it."""
        out, todo = [], [span.id]
        while todo:
            sid = todo.pop()
            out.extend(self.own[sid])
            todo.extend(self.children[sid])
        return out

    def busy(self, span: Span) -> float:
        """Seconds of the span during which at least one of its jobs ran."""
        return union_length(
            [
                (max(j.start, span.start), min(j.end, span.end))
                for j in self.jobs(span)
                if j.end > span.start and j.start < span.end
            ]
        )

    def child_cover(self, span: Span) -> float:
        """Seconds of the span covered by its direct child spans."""
        spans = self.rec.spans
        return union_length(
            [(spans[c].start, spans[c].end) for c in self.children[span.id]]
        )


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
