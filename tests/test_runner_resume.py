"""S7 checkpoint/resume semantics of the benchmark runner.

The reference appends one LogFileFormat record per completed root and
skips completed roots on restart (read_log_file/update_log_file,
/root/reference/mpi/benchmark_helper.hpp:530-604). The Spark runner's
equivalent is an append-mode parquet results sink consulted at startup.
"""

from __future__ import annotations

from graph500_spark.plans.runner import run_benchmark


def test_resume_skips_completed_roots(spark, tmp_path):
    path = str(tmp_path / "results")

    first = run_benchmark(
        spark, scale=6, num_roots=2, validation=False, results_path=path
    )
    assert len(first.runs) == 2
    logged = spark.read.parquet(path)
    assert logged.count() == 2

    # Same config again: every root is already logged → no new runs,
    # no new rows in the sink.
    again = run_benchmark(
        spark, scale=6, num_roots=2, validation=False, results_path=path
    )
    assert again.runs == []
    assert spark.read.parquet(path).count() == 2

    # Widening to 4 roots resumes: only the 2 new roots execute
    # (deterministic root sampling makes roots 0-1 identical to the
    # first invocation).
    widened = run_benchmark(
        spark, scale=6, num_roots=4, validation=False, results_path=path
    )
    assert len(widened.runs) == 2
    done_roots = {r["root"] for r in first.runs}
    assert all(r["root"] not in done_roots for r in widened.runs)
    assert spark.read.parquet(path).count() == 4


def test_no_results_path_runs_everything(spark):
    res = run_benchmark(spark, scale=6, num_roots=2, validation=False)
    assert len(res.runs) == 2
    assert all(r["teps"] > 0 for r in res.runs)


def test_cli_main_runs_and_prints_stats(spark, capsys):
    """`python -m graph500_spark` contract: runs the benchmark with
    the given knobs and prints one JSON line of TEPS statistics."""
    import json

    from graph500_spark.__main__ import main

    rc = main(
        ["--scale", "7", "--edgefactor", "8", "--roots", "4",
         "--root-batch", "2"]
    )
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    stats = json.loads(line)
    assert stats["scale"] == 7 and stats["completed_runs"] == 4
    assert stats["harmonic_mean_teps"] > 0
    assert stats["validation"] is True


def test_batching_and_validation_mode_keep_edge_counts(spark):
    """Strict validation over 2-root batches and the deferred batched
    pass both go through the keyed validators: per-root TEPS edge
    counts equal the one-root-at-a-time run."""

    def counts(**kw):
        res = run_benchmark(spark, scale=6, num_roots=4, **kw)
        return {r["root"]: r["edge_count"] for r in res.runs}

    want = counts(validation=True, root_batch=1)
    assert len(want) == 4 and all(v > 0 for v in want.values())
    assert counts(validation=True, root_batch=2) == want
    assert counts(validation="batched", root_batch=1) == want
