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

KEY = "spark.sql.shuffle.partitions"


def _poisoned_edges(spark):
    """A clean-looking edge list whose ``src`` fails on evaluation, so
    the operator's first Spark job raises."""
    rows = [(0, 1), (1, 0), (1, 2), (2, 1)]
    return spark.createDataFrame(rows, "src long, dst long").select(
        F.when(F.col("src") >= 0, F.raise_error(F.lit("injected fault")))
        .otherwise(F.col("src"))
        .cast("long")
        .alias("src"),
        "dst",
    )


OPERATORS = {
    "connected_components": lambda spark, e: components.connected_components(
        spark, e, shuffle_partitions=3
    ),
    "bfs": lambda spark, e: bfs_mod.bfs(spark, e, 0, shuffle_partitions=3),
    "label_propagation": lambda spark, e: pregel.label_propagation(
        spark, e, shuffle_partitions=3
    ),
    "core_numbers": lambda spark, e: kcore.core_numbers(e),
    "pagerank": lambda spark, e: pagerank.pagerank(
        spark, e, shuffle_partitions=3
    ),
}


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_failed_job_releases_conf_lock(spark, op):
    before = spark.conf.get(KEY)
    assert before != "3"
    e = _poisoned_edges(spark)
    with pytest.raises(Exception, match="injected fault"):
        OPERATORS[op](spark, e)
    assert e.select("src", "dst").storageLevel == StorageLevel.NONE

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
