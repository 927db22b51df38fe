"""Graph500 pipeline benchmark for graph500_spark.

    python3 g500bench/run.py --workload g500-s14-strict --seed 1 --seconds 20 --trace 0

Runs one workload on ``local[N]`` from a single driver process through the
program's public functions, checks every output, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, attributed from the Spark
status API. The line before it records the run's environment. The whole
record, spans included, is written under ``.bench_work/results/``.

Exits 1 if an output check fails, 2 if the program cannot be imported,
3 if the session's parallelism differs from the 4 cores it asks for.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
WORKLOADS = ("g500-s14-strict", "iterative-stream")
CORES = 4
DRIVER_MEMORY = "3g"  # the driver JVM holds every executor thread in local mode


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="tiny: the self-test size (SCALE 8, 2 roots; sf0.001; one micro-batch)",
    )
    p.add_argument(
        "--inject", choices=("pred", "golden", "result"),
        help="self-test only: corrupt a pred tree, a golden, or a query result",
    )
    return p.parse_args(argv)


def source_digest() -> str:
    h = hashlib.sha256()
    for f in sorted((CHECKOUT / "graph500_spark").rglob("*.py")):
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def commit() -> str:
    try:
        top, head = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=CHECKOUT,
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.split()
    except (OSError, subprocess.SubprocessError, ValueError):
        return "unknown (not a git checkout)"
    # a checkout inside another repository must not report that one's commit
    return head if Path(top).resolve() == CHECKOUT else "unknown (not a git checkout)"


def start_session(args, work: Path):
    from graph500_spark.session import get_spark

    many = "1000000"  # keep every job and stage of the run in the status store
    return get_spark(
        app_name=f"g500bench-{args.workload}",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": many,
            "spark.ui.retainedStages": many,
            "spark.sql.ui.retainedExecutions": many,
            "spark.sql.streaming.ui.retainedQueries": many,
        },
    )


def environment(spark, args) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": commit(),
        "source_sha256": source_digest(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "size": args.size,
        "trace": args.trace,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    run_id = uuid.uuid4().hex[:12]
    work = CHECKOUT / ".bench_work" / f"{args.workload}-{args.seed}-{run_id}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Python, the JVM and the Python workers write only under the checkout,
    # and the workers import the program from it whatever the cwd
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(CHECKOUT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    sys.path.insert(0, str(CHECKOUT))
    try:
        import graph500_spark

        # measure this checkout's program, never a copy found elsewhere
        if not Path(graph500_spark.__file__).resolve().is_relative_to(CHECKOUT):
            raise ImportError(f"graph500_spark found outside {CHECKOUT}")
    except ImportError as exc:
        print(f"g500bench: cannot import the program: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import metrics
    import spans
    import workloads

    t0 = time.perf_counter()
    spark = start_session(args, work)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        env = environment(spark, args)
        if env["default_parallelism"] != CORES:
            print(
                f"g500bench: defaultParallelism {env['default_parallelism']}"
                f" != {CORES} cores; refusing to run",
                file=sys.stderr,
            )
            return 3
        rec = spans.Recorder(spark, run_id, traced=bool(args.trace))
        ctx = workloads.Context(
            spark, rec, args.seed % 2**31, args.seconds,
            workloads.SIZES[args.workload][args.size], str(work), args.inject,
        )
        outcome = workloads.WORKLOADS[args.workload](ctx)
        jobs = spans.fetch_jobs(spark, 0)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    att = spans.Attribution(rec, jobs)
    if args.trace:
        values = metrics.per_layer(rec, att, outcome, session_s)
    else:
        values = metrics.end_to_end(rec, att, outcome)
    units = metrics.UNITS
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    record = {
        "env": env,
        "result": result,
        "problems": outcome.problems,
        "spans": [vars(sp) for sp in rec.spans],
        "jobs": [vars(j) for j in jobs],
    }
    results = CHECKOUT / ".bench_work" / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json"
    (results / name).write_text(json.dumps(record))
    for problem in outcome.problems:
        print(f"g500bench: check failed: {problem}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
