"""Self-tests of the benchmark: every workload path at tiny size, one
injected fault per check family, the status-API guards, and the
references the checks rest on.

    python3 -m pytest g500bench/tests -q

The end-to-end cases start one Spark driver each (about a minute apiece
on 4 cores).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parents[1]
REPO = BENCH.parent
sys.path.insert(0, str(BENCH))

import inputs  # noqa: E402
import spans  # noqa: E402
from workloads import value_hash  # noqa: E402

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def run_bench(*args: str, cwd: Path = REPO) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, str(cwd / "g500bench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def tiny(workload: str, trace: int, *extra: str) -> tuple[int, list[str]]:
    return run_bench(
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny", *extra,
    )


# ---------------------------------------------------------------------------
# end to end, tiny size
# ---------------------------------------------------------------------------


# the untraced g500-s14-strict path runs in the fault-injection cases below
@pytest.mark.parametrize(
    "workload,trace",
    [("g500-s14-strict", 1), ("iterative-stream", 0), ("iterative-stream", 1)],
)
def test_tiny_run_reports_every_metric(workload, trace):
    rc, lines = tiny(workload, trace)
    assert rc == 0, lines[-3:]
    env = json.loads(lines[-2])["env"]
    assert env["master"] == "local[4]" and env["default_parallelism"] == 4
    for key in ("shuffle_partitions", "driver_memory", "nproc", "spark",
                "java", "python", "commit", "seed"):
        assert key in env
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize(
    "workload,fault",
    [
        ("g500-s14-strict", "pred"),  # a corrupted pred tree
        ("g500-s14-strict", "golden"),  # a wrong expected edge count
        ("iterative-stream", "result"),  # a tampered query result
    ],
)
def test_injected_fault_fails_the_run(workload, fault):
    rc, lines = tiny(workload, 0, "--inject", fault)
    assert rc == 1
    result = json.loads(lines[-1])
    assert result["correct"] is False
    assert 0 < result["failed"] <= result["attempted"]


def test_exits_without_result_when_program_is_missing(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "g500bench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = run_bench(
        "--workload", "g500-s14-strict", "--seed", "1", "--seconds", "1", "--trace", "0",
        cwd=tmp_path,
    )
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in lines)


# ---------------------------------------------------------------------------
# status API guards
# ---------------------------------------------------------------------------


class _FakeContext:
    uiWebUrl = "http://localhost:4040"
    applicationId = "app"

    class _jsc:  # noqa: N801 - mirrors SparkContext._jsc
        @staticmethod
        def sc():
            class _Bus:
                def waitUntilEmpty(self):
                    pass

            class _Sc:
                def listenerBus(self):
                    return _Bus()

            return _Sc()


class _FakeSpark:
    sparkContext = _FakeContext()


def _job(i, stages):
    return {
        "jobId": i, "jobGroup": "g", "name": "count", "status": "SUCCEEDED",
        "submissionTime": "2026-01-01T00:00:00.000GMT",
        "completionTime": "2026-01-01T00:00:01.500GMT", "stageIds": stages,
    }


def _stage(i):
    return {
        "stageId": i, "status": "COMPLETE", "executorCpuTime": 2_000_000_000,
        "shuffleLocalBytesRead": 1_000_000,
        "shuffleRemoteBytesRead": 0, "shuffleWriteBytes": 500_000,
    }


def test_fetch_jobs_attributes_stage_totals_once(monkeypatch):
    answers = {"jobs": [_job(0, [0]), _job(1, [0, 1])], "stages?details=false": [_stage(0), _stage(1)]}
    monkeypatch.setattr(spans, "_get", lambda url: answers[url.rsplit("/", 1)[1]])
    jobs = spans.fetch_jobs(_FakeSpark(), 0)
    assert [j.id for j in jobs] == [0, 1]
    assert [j.cpu_s for j in jobs] == [2.0, 2.0]  # stage 0 counts for job 0 only
    assert jobs[0].read_mb == 1.0 and jobs[1].write_mb == 0.5
    assert jobs[0].end - jobs[0].start == pytest.approx(1.5)


def test_fetch_jobs_fails_on_a_missing_job(monkeypatch):
    answers = {"jobs": [_job(0, [0]), _job(2, [1])], "stages?details=false": [_stage(0), _stage(1)]}
    monkeypatch.setattr(spans, "_get", lambda url: answers[url.rsplit("/", 1)[1]])
    with pytest.raises(spans.TraceError, match="lost 1 jobs"):
        spans.fetch_jobs(_FakeSpark(), 0)


def test_status_api_unreachable_raises():
    with pytest.raises(spans.TraceError, match="unreachable"):
        spans._get("http://localhost:9/api/v1/applications")


def test_union_length_merges_overlaps():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([]) == 0


# ---------------------------------------------------------------------------
# references
# ---------------------------------------------------------------------------


def test_bfs_reference_on_a_hand_graph():
    # path 0-1-2 with a duplicate and a self-loop; 3-4 apart; 5 isolated
    src = np.array([0, 1, 1, 2, 3], dtype=np.int64)
    dst = np.array([1, 2, 2, 2, 4], dtype=np.int64)
    ref = inputs.bfs_reference(src, dst, 6, [0, 3, 5])
    assert ref[0] == (3, 4, 2)
    assert ref[3] == (2, 1, 1)
    assert ref[5] == (1, 0, 0)


def test_value_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"v": [1, 2], "x": [0.5, 0.25]})
    b = pd.DataFrame({"x": [0.25, 0.5], "v": [2, 1]})
    assert value_hash(a) == value_hash(b)
    b.loc[0, "x"] = 0.3
    assert value_hash(a) != value_hash(b)
