"""End-to-end and per-layer metrics of a run, from its spans and the jobs
attributed to them."""

from __future__ import annotations

import re
from collections import Counter

from spans import Attribution, Recorder, median

# Per-layer metrics every traced run reports (0 where a workload does
# not call the layer); see README.md for what each should move.
ITERATIVE = ("sssp", "components", "kcore", "pagerank", "pregel", "centrality")
LAYER_METRICS = {
    "generator": ("wall_s", "jobs", "task_cpu_s", "edges"),
    "graph_build": ("wall_s", "jobs", "task_cpu_s", "shuffle_write_mb", "edges_out"),
    "roots": ("wall_s", "jobs"),
    "bfs": (
        "wall_s", "jobs", "supersteps", "jobs_per_superstep", "gap_share",
        "task_cpu_s", "shuffle_read_mb",
    ),
    "validate": ("wall_s", "jobs", "gap_share", "task_cpu_s", "shuffle_read_mb"),
    "stats": ("wall_s", "jobs", "harmonic_teps"),
    "queries": ("fixture_wall_s", "fixture_jobs"),
    **{q: ("wall_s", "jobs", "gap_share", "task_cpu_s") for q in ITERATIVE},
    "corpus_ingest": (
        "wall_s", "rows_per_s", "batches", "batch_s_p50", "jobs_per_batch",
        "gap_share", "task_cpu_s", "accepted_per_input",
    ),
}

UNITS = {
    "setup_s": "s",
    "total_s": "s",
    "spark_jobs": "count",
    "pass.task_cpu_s": "s",
    "session.start_s": "s",
    "storage.cached_mb_peak": "MB",
    "trace.overhead_s": "s",
    "trace.uncovered_s": "s",
    "trace.unattributed_jobs": "count",
}
_LAYER_UNITS = {
    "wall_s": "s", "fixture_wall_s": "s", "task_cpu_s": "s", "batch_s_p50": "s",
    "jobs": "count", "fixture_jobs": "count", "supersteps": "count",
    "batches": "count", "edges": "count", "edges_out": "count",
    "jobs_per_superstep": "jobs/step", "jobs_per_batch": "jobs/batch",
    "gap_share": "ratio", "accepted_per_input": "ratio",
    "harmonic_teps": "edges/s", "rows_per_s": "rows/s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
}
for _layer, _names in LAYER_METRICS.items():
    for _m in _names:
        UNITS[f"{_layer}.{_m}"] = _LAYER_UNITS[_m]


def end_to_end(rec: Recorder, att: Attribution, out) -> dict[str, float]:
    passes = out.passes
    return {
        "setup_s": median(out.setup_s),
        "total_s": median(sp.wall for sp in passes),
        "spark_jobs": median(len(att.jobs(sp)) for sp in passes),
    }


def _jobs_per_batch(span, jobs) -> list[int]:
    """Jobs of each micro-batch the stream span ran: a streaming job's
    description names its batch ("batch = N")."""
    count = Counter(
        int(m.group(1)) for j in jobs if (m := re.search(r"batch = (\d+)", j.description))
    )
    return [count[b] for b in span.attrs.get("batch_ids", [])]


def _layer_spans(rec: Recorder, layer: str) -> list:
    return [sp for sp in rec.spans if sp.kind == "layer" and sp.name == layer]


def per_layer(rec: Recorder, att: Attribution, out, session_s: float) -> dict[str, float]:
    values: dict[str, float] = {}
    for layer, names in LAYER_METRICS.items():
        calls = _layer_spans(rec, layer)
        jobs = [att.jobs(sp) for sp in calls]
        wall = sum(sp.wall for sp in calls)
        got = {
            "wall_s": median(sp.wall for sp in calls),
            "jobs": median(len(js) for js in jobs),
            "task_cpu_s": median(sum(j.cpu_s for j in js) for js in jobs),
            "shuffle_read_mb": median(sum(j.read_mb for j in js) for js in jobs),
            "shuffle_write_mb": median(sum(j.write_mb for j in js) for js in jobs),
            "gap_share": 1 - sum(att.busy(sp) for sp in calls) / wall if wall else 0.0,
        }
        got["fixture_wall_s"], got["fixture_jobs"] = got["wall_s"], got["jobs"]
        n_jobs = sum(len(js) for js in jobs)
        for key in ("edges", "edges_out", "supersteps", "batches"):
            got[key] = median(sp.attrs[key] for sp in calls if key in sp.attrs)
        steps = sum(sp.attrs.get("supersteps", 0) for sp in calls)
        got["jobs_per_superstep"] = n_jobs / steps if steps else 0.0
        got["jobs_per_batch"] = median(
            n for sp, js in zip(calls, jobs) for n in _jobs_per_batch(sp, js)
        )
        got["batch_s_p50"] = median(
            b for sp in calls for b in sp.attrs.get("batch_s", [])
        )
        for m in names:
            name = f"{layer}.{m}"
            values[name] = got[m] if m in got else out.metrics.get(name, 0.0)
    values["pass.task_cpu_s"] = median(
        sum(j.cpu_s for j in att.jobs(sp)) for sp in out.passes
    )
    values["session.start_s"] = session_s
    values["storage.cached_mb_peak"] = rec.cached_peak_bytes / 1e6
    values["trace.overhead_s"] = median(rec.self_time[sp.id] for sp in out.passes)
    values["trace.uncovered_s"] = median(
        sp.wall - att.child_cover(sp) for sp in out.passes
    )
    values["trace.unattributed_jobs"] = len(att.unattributed)
    return values
