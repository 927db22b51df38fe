"""Fault injection for conf-scoped and edge-caching operators: a Spark
job that fails inside an operator's loop must not leave the
process-wide conf lock held, the scoped session conf changed, or the
operator's edge cache behind."""

from __future__ import annotations

import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.operators import bfs as bfs_mod
from graph500_spark.operators import components, kcore, pagerank, pregel
from graph500_spark.operators import sssp

KEY = "spark.sql.shuffle.partitions"
EDGES = ("src", "dst")
WEIGHTED = ("src", "dst", "weight")


def _poisoned_edges(spark, cols):
    """A clean-looking edge list with columns ``cols`` whose ``src``
    fails on evaluation, so the operator's first edge job raises."""
    rows = [(0, 1, 1), (1, 0, 1), (1, 2, 2), (2, 1, 2)]
    return spark.createDataFrame(
        rows, "src long, dst long, weight long"
    ).select(
        F.when(F.col("src") >= 0, F.raise_error(F.lit("injected fault")))
        .otherwise(F.col("src"))
        .cast("long")
        .alias("src"),
        *cols[1:],
    )


# name -> (edge columns, call)
OPERATORS = {
    "connected_components": (EDGES, lambda spark, e: (
        components.connected_components(spark, e, shuffle_partitions=3)
    )),
    "bfs": (EDGES, lambda spark, e: bfs_mod.bfs(
        spark, e, 0, shuffle_partitions=3
    )),
    "label_propagation": (EDGES, lambda spark, e: pregel.label_propagation(
        spark, e, shuffle_partitions=3
    )),
    "core_numbers": (EDGES, lambda spark, e: kcore.core_numbers(e)),
    "pagerank": (EDGES, lambda spark, e: pagerank.pagerank(
        spark, e, shuffle_partitions=3
    )),
    "sssp": (WEIGHTED, lambda spark, e: sssp.sssp(
        spark, e, 0, shuffle_partitions=3
    )),
    "sssp_multi": (WEIGHTED, lambda spark, e: sssp.sssp_multi(
        spark, e, [0, 2], shuffle_partitions=3
    )),
}


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_failed_job_releases_conf_lock(spark, op):
    before = spark.conf.get(KEY)
    assert before != "3"
    cols, run = OPERATORS[op]
    e = _poisoned_edges(spark, cols)
    with pytest.raises(Exception, match="injected fault"):
        run(spark, e)
    assert e.select(*cols).storageLevel == StorageLevel.NONE

    # The lock is an RLock, so re-entering it on this thread would
    # succeed even if it leaked: a second thread has to take it.
    entered = threading.Event()

    def other_scoper():
        with scoped_session_confs(spark, {KEY: before}):
            entered.set()

    t = threading.Thread(target=other_scoper, daemon=True)
    t.start()
    assert entered.wait(timeout=30), "conf lock still held after failure"
    t.join(timeout=30)
    assert not t.is_alive()
    assert spark.conf.get(KEY) == before
