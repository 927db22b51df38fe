"""Cache ownership: an operator must never drop a cache its caller
holds. ``g.select("src", "dst")`` on a cached ``(src, dst)`` graph is
the cached plan itself, so an operator that persists and later
unpersists that projection would uncache the caller's graph. The same
holds for the registry's construct-once fixtures, whose cache must
survive the temp views being registered for another directory."""

from __future__ import annotations

import shutil

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from graph500_spark.operators import centrality, components, kcore
from graph500_spark.operators import pagerank, pregel, sssp, triangles
from graph500_spark.operators.graph_build import build_clean_edges
from graph500_spark.functions.sizing import widen_narrow_input
from graph500_spark.plans import queries as Q

from tests.conftest import SF_SMALL

# name -> (takes a [src, dst, weight] table, call)
OPERATORS = {
    "core_numbers": (False, lambda spark, g: kcore.core_numbers(g)),
    "k_core": (False, lambda spark, g: kcore.k_core(g, 2)),
    "label_propagation": (False, lambda spark, g: (
        pregel.label_propagation(spark, g)
    )),
    "pagerank": (False, lambda spark, g: pagerank.pagerank(spark, g)),
    "katz_centrality": (False, lambda spark, g: (
        centrality.katz_centrality(spark, g)
    )),
    "strongly_connected_components": (False, lambda spark, g: (
        components.strongly_connected_components(spark, g)
    )),
    "sssp": (True, lambda spark, g: sssp.sssp(spark, g, 0)),
    "sssp_multi": (True, lambda spark, g: sssp.sssp_multi(spark, g, [0, 10])),
}


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_operator_keeps_callers_cache(spark, op):
    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (10, 11)]
    weighted, run = OPERATORS[op]
    g = build_clean_edges(spark.createDataFrame(pairs, "src long, dst long"))
    if weighted:
        g = g.withColumn("weight", (F.col("src") + F.col("dst")) % 3 + 1)
    g = g.persist()
    try:
        g.count()
        run(spark, g).collect()
        assert g.storageLevel != StorageLevel.NONE, "caller's cache dropped"
    finally:
        g.unpersist()


def test_triangles_leaves_no_cache(spark):
    """The oriented edge table ``triangles`` shares between its three
    join branches must not stay in the CacheManager after the call."""
    g = build_clean_edges(
        spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0)], "src long, dst long"
        )
    )
    assert triangles.triangles(g).count() == 2
    oriented = widen_narrow_input(triangles.orient_edges(g), "lo", probe=g)
    assert oriented.storageLevel == StorageLevel.NONE


def test_fixture_cache_survives_other_directory(spark, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    shutil.copytree(SF_SMALL, a)
    shutil.copytree(SF_SMALL, b)
    mod997 = Q.clean_mod997_graph(spark, str(a))
    assert mod997.storageLevel != StorageLevel.NONE
    hetero = Q.clean_hetero_graph(spark, str(b))
    try:
        assert mod997.storageLevel != StorageLevel.NONE
        assert hetero.storageLevel != StorageLevel.NONE
    finally:
        mod997.unpersist()
        hetero.unpersist()
