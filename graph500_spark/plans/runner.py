"""End-to-end Graph500 benchmark pipeline (SURVEY.md §3.1).

Mirrors graph500_bfs (/root/reference/mpi/main.cc:34-178):
generate → construct → sample roots → per root (BFS + validate +
edge count + TEPS) → statistics. Every MPI collective of the reference
becomes a shuffle/aggregation boundary Catalyst inserts automatically.

Resume semantics (S7, benchmark_helper.hpp:530-604): results are
appended per root to a parquet sink; a rerun skips roots already
present — idempotent reruns replace the reference's binary checkpoint
log.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph500_spark.operators import bfs as bfs_mod
from graph500_spark.operators import graph_build, roots, stats, validate
from graph500_spark.sources import generator


@dataclass
class BenchmarkResult:
    scale: int
    edgefactor: int
    num_roots: int
    runs: list[dict] = field(default_factory=list)

    def runs_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [
                (
                    r["run_id"],
                    float(r["bfs_time"]),
                    float(r["validate_time"]),
                    float(r["edge_count"]),
                )
                for r in self.runs
            ],
            "run_id int, bfs_time double, validate_time double, edge_count double",
        )


def _append_run_row(
    spark: SparkSession, results_path: str, row: dict
) -> None:
    spark.createDataFrame(
        [tuple(row.values())],
        "run_id int, root long, bfs_time double,"
        " validate_time double, edge_count double, teps double",
    ).write.mode("append").parquet(results_path)


def _check_trees(
    edges_raw: DataFrame,
    pred: DataFrame,
    tree_roots: list[int],
    nverts: int,
    check: bool,
) -> dict[int, float]:
    """{root: edge_visit_count} for the BFS trees in ``pred`` — one
    tree ``[vertex, pred, depth]`` from ``bfs`` or a ``root``-keyed
    table from ``bfs_multi``; with ``check``, raises unless all five
    spec checks pass for every tree."""
    if "root" in pred.columns:
        summary = validate.validate_bfs_multi(edges_raw, pred, nverts)
        counts = validate.edge_visit_counts_multi(edges_raw, pred)
    else:
        (root,) = tree_roots
        summary = validate.validate_bfs(edges_raw, pred, root, nverts)
        counts = validate.edge_visit_count(edges_raw, pred).select(
            F.lit(root).alias("root"), "edge_visit_count"
        )
    if check:
        bad = summary.filter(F.col("violations") > 0).collect()
        if bad:
            raise AssertionError(
                f"BFS validation failed for roots {tree_roots}: {bad}"
            )
    return {r["root"]: float(r["edge_visit_count"]) for r in counts.collect()}


def run_benchmark(
    spark: SparkSession,
    scale: int,
    edgefactor: int = 16,
    num_roots: int = 16,
    validation: bool | str = True,
    results_path: str | None = None,
    root_batch: int = 1,
) -> BenchmarkResult:
    """The full pipeline at a given SCALE. num_roots=64 is spec mode,
    16 is the reference's own --test mode (run-benchmark.py:112).

    ``validation`` — True runs the 5 spec checks on every tree inside
    the timing loop (spec-strict, mpi/main.cc:129-146); "batched" runs
    ONE multi-root validation pass over all pred trees after the timed
    runs (same checks, same zero-violation gate, 5 dataflows total
    instead of 5 × n_roots; validate_time is then the pass's wall
    divided across runs); False skips the checks (timing-only runs)
    but still counts each tree's TEPS edges. Every mode goes through
    ``_check_trees``: ``validate.validate_bfs`` + ``edge_visit_count``
    for a single-root tree, ``validate_bfs_multi`` +
    ``edge_visit_counts_multi`` for a root-keyed table — the same
    keyed checks (operators/validate.py), so per-root results do not
    depend on the mode or the batch width.

    ``root_batch`` > 1 runs the BFS phase in batches of that many
    roots through one shared multi-source frontier
    (operators/bfs.py::bfs_multi) — measured ~2x wall-clock for 4
    roots at s16, since the per-level scheduling floor is paid once
    per batch instead of once per root. Per-root results (pred tree,
    validation, edge counts) are identical to sequential runs;
    bfs_time is then the batch wall time divided by the batch width,
    and so is validate_time in strict mode, since the batch's trees
    are validated in one keyed pass (amortized — spec-strict per-root
    timing requires root_batch=1, the default)."""
    nverts = 1 << scale

    edges_raw = generator.generate_kronecker_edges(spark, scale, edgefactor)
    edges_raw = edges_raw.persist()
    edges_raw.count()  # materialize once (generation phase)

    # ids at SCALE s are < 2^s: the proven bound lets construction
    # narrow the dedup exchange to int32 below 2^31 (graph_build)
    edges_clean = graph_build.build_clean_edges(
        edges_raw, max_id=nverts - 1
    ).persist()
    # construction phase; the count also feeds the BFS loops' "auto"
    # shuffle sizing (functions/sizing.py — a no-op until clean |E|
    # exceeds session_width × 2M rows, i.e. the s24-class rungs)
    n_clean = edges_clean.count()

    done: set[int] = set()
    if results_path is not None:
        try:
            prev = spark.read.parquet(results_path)
            done = {r["root"] for r in prev.select("root").distinct().collect()}
        except Exception:
            done = set()

    root_list = roots.find_roots(spark, edges_raw, nverts, num_roots)
    result = BenchmarkResult(scale, edgefactor, num_roots)

    pending = [
        (run_id, root)
        for run_id, root in enumerate(root_list)
        if root not in done
    ]
    batches = [
        pending[i : i + max(1, root_batch)]
        for i in range(0, len(pending), max(1, root_batch))
    ]

    def record(timed: list[tuple], counts: dict, validate_time: float):
        for run_id, root, bfs_time in timed:
            ec = counts.get(root, 0.0)
            row = {
                "run_id": run_id,
                "root": root,
                "bfs_time": bfs_time,
                "validate_time": validate_time,
                "edge_count": ec,
                "teps": ec / bfs_time if bfs_time > 0 else 0.0,
            }
            result.runs.append(row)
            if results_path is not None:
                _append_run_row(spark, results_path, row)

    kept_preds: list[DataFrame] = []
    deferred: list[tuple] = []
    for batch in batches:
        batch_roots = [root for _, root in batch]
        t0 = time.monotonic()
        if len(batch) == 1:
            pred = bfs_mod.bfs(
                spark,
                edges_clean,
                batch_roots[0],
                prepartition=False,
                edge_count=n_clean,
            )
        else:
            pred = bfs_mod.bfs_multi(
                spark,
                edges_clean,
                batch_roots,
                prepartition=False,
                edge_count=n_clean,
            )
        pred = pred.persist()
        pred.count()
        bfs_time = (time.monotonic() - t0) / len(batch)
        timed = [(run_id, root, bfs_time) for run_id, root in batch]

        if validation == "batched":
            # validation AND the per-root TEPS numerator are both
            # deferred to the single multi-root pass below — the
            # sequential per-root edge_visit_count jobs (64 driver-
            # scheduled two-join jobs in spec mode) were the
            # harness's dominant non-BFS cost
            if "root" not in pred.columns:
                pred = pred.withColumn("root", F.lit(int(batch_roots[0])))
            kept_preds.append(pred)  # unpersisted after the pass
            deferred += timed
            continue
        t1 = time.monotonic()
        counts = _check_trees(
            edges_raw, pred, batch_roots, nverts, validation is True
        )
        record(timed, counts, (time.monotonic() - t1) / len(batch))
        pred.unpersist()

    if kept_preds:
        t1 = time.monotonic()
        pred_multi = kept_preds[0]
        for p in kept_preds[1:]:
            pred_multi = pred_multi.unionByName(p)
        deferred_roots = [root for _, root, _ in deferred]
        counts = _check_trees(
            edges_raw, pred_multi, deferred_roots, nverts, True
        )
        record(deferred, counts, (time.monotonic() - t1) / len(deferred))
        for p in kept_preds:
            p.unpersist()

    edges_clean.unpersist()
    edges_raw.unpersist()
    return result


def benchmark_statistics(
    spark: SparkSession, result: BenchmarkResult
) -> tuple[DataFrame, DataFrame]:
    """(per-quantity order stats, TEPS headline row) — §2 A7."""
    runs = result.runs_df(spark)
    return stats.run_statistics(runs), stats.teps_summary(runs)
