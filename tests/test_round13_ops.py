"""Round-13 optimization guards.

1. markov_stationary's driver finish is now GUARDED: the k x k
   transition collect runs only while |event_type| and the transition
   row count are driver-bounded; past either threshold the loop runs
   distributed (the pre-round-12 pregel form). Both branches must be
   bit-identical.
2. Session-conf scoping serializes across driver threads
   (functions/confscope): a conf-scoping operator inside the corpus
   pipeline's pooled rank no longer races sibling stages — scopers
   queue on the global lock and every scope restores what it saw.
3. truncate_plan_lazy: the lazy checkpoint leaf materializes within
   the first consuming action and behaves like the eager form after.
4. widen_narrow_input: narrow frames widen to defaultParallelism,
   wide frames pass through, rows unchanged.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _events(spark):
    return spark.read.parquet(f"{SF_SMALL}/events.parquet")


def test_markov_guard_branches_identical(spark, monkeypatch):
    from graph500_spark.streaming import windows as W

    events = _events(spark)
    driver = sorted(
        (r["event_type"], r["p_micro"])
        for r in W.markov_stationary(spark, events).collect()
    )
    # force the distributed fallback
    monkeypatch.setattr(W, "MARKOV_MAX_DRIVER_STATES", 0)
    dist = sorted(
        (r["event_type"], r["p_micro"])
        for r in W.markov_stationary(spark, events).collect()
    )
    assert driver == dist
    assert len(driver) > 0


def test_markov_guard_row_bound(spark, monkeypatch):
    from graph500_spark.streaming import windows as W

    events = _events(spark)
    base = sorted(
        (r["event_type"], r["p_micro"])
        for r in W.markov_stationary(spark, events).collect()
    )
    monkeypatch.setattr(W, "MARKOV_MAX_DRIVER_ROWS", 0)
    assert base == sorted(
        (r["event_type"], r["p_micro"])
        for r in W.markov_stationary(spark, events).collect()
    )


def test_conf_scope_serializes_threads(spark):
    from graph500_spark.functions.confscope import scoped_session_confs

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    seen: list[tuple[str, str]] = []
    gate = threading.Barrier(2, timeout=30)

    def scoper(width: str):
        gate.wait()  # both threads race for the lock together
        with scoped_session_confs(spark, {key: width}):
            # inside the scope the session MUST show this thread's
            # width — a concurrent scoper would have overwritten it
            # without the lock
            seen.append((width, spark.conf.get(key)))

    t1 = threading.Thread(target=scoper, args=("3",))
    t2 = threading.Thread(target=scoper, args=("5",))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert sorted(seen) == [("3", "3"), ("5", "5")]
    assert spark.conf.get(key) == before


def test_conf_scoping_operator_inside_pooled_rank(spark, tmp_path):
    """A conf-scoping operator (bfs with an explicit width) running
    inside a ThreadPoolExecutor rank alongside a plain stage: the
    scoped conf must never leak into the session after the rank, and
    both stages produce correct results."""
    from concurrent.futures import ThreadPoolExecutor

    from graph500_spark.operators.bfs import bfs

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )

    def scoping_stage():
        out = bfs(spark, edges, 1, shuffle_partitions=3)
        return sorted((r["vertex"], r["depth"]) for r in out.collect())

    def plain_stage():
        return edges.count()

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(scoping_stage)
        f2 = pool.submit(plain_stage)
        reached = f1.result()
        n = f2.result()
    assert reached == [(1, 0), (2, 1), (3, 2)]
    assert n == 4
    assert spark.conf.get(key) == before


def test_truncate_plan_lazy_materializes_on_first_action(spark):
    from graph500_spark.functions.plantrunc import truncate_plan_lazy

    df = spark.range(100).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v")
    )
    agg = df.groupBy("k").agg(F.sum("v").alias("s"))
    lazy = truncate_plan_lazy(agg)
    # leaf plan (stats-clean rewrap) even before materialization
    assert "LogicalRDD" in lazy._jdf.queryExecution().optimizedPlan().toString()
    assert lazy.count() == 10
    rows = sorted((r["k"], r["s"]) for r in lazy.collect())
    expect = sorted(
        (r["k"], r["s"]) for r in agg.collect()
    )
    assert rows == expect


def test_build_clean_edges_int32_narrowing_parity(spark):
    """max_id below 2^31 narrows the dedup exchange to int32; rows and
    schema must be identical to the wide path (multiset equality both
    directions), and an out-of-range max_id must leave the path wide."""
    from graph500_spark.operators.graph_build import build_clean_edges

    raw = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 3), (2, 5), (5, 2), (1, 2), (4, 5)],
        "src long, dst long",
    )
    wide = build_clean_edges(raw)
    narrow = build_clean_edges(raw, max_id=5)
    assert narrow.schema == wide.schema
    assert narrow.exceptAll(wide).count() == 0
    assert wide.exceptAll(narrow).count() == 0
    # narrowing declined when the bound does not fit int32
    huge = build_clean_edges(raw, max_id=2**31)
    assert huge.exceptAll(wide).count() == 0
    assert wide.exceptAll(huge).count() == 0


def test_widen_narrow_input(spark):
    from graph500_spark.functions.sizing import widen_narrow_input

    dp = spark.sparkContext.defaultParallelism
    # with no probe only a cached frame is probed (test_sizing.py)
    narrow = spark.createDataFrame(
        [(i % 7, i) for i in range(100)], "src long, dst long"
    ).coalesce(1).persist()
    widened = widen_narrow_input(narrow, "src")
    assert widened.rdd.getNumPartitions() == dp
    assert sorted(map(tuple, widened.collect())) == sorted(
        map(tuple, narrow.collect())
    )
    wide = narrow.repartition(dp + 4, "src").persist()
    assert widen_narrow_input(wide, "src") is wide
    wide.unpersist()
    narrow.unpersist()
