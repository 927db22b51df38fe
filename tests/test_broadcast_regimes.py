"""One broadcast policy (functions/sizing.py): every operator whose
plan branches on the driver-known broadcast threshold returns the same
rows in the shuffle regime (``BROADCAST_ROWS`` forced to 0) as in the
default broadcast regime, on a kron s6 graph."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph500_spark.functions import sizing
from graph500_spark.operators import bfs, centrality, components, hits
from graph500_spark.operators import graph_build as gb
from graph500_spark.operators import kcore, louvain, mst, pagerank, setops
from graph500_spark.operators import sssp, triangles, walks
from graph500_spark.sources.generator import generate_kronecker_edges

SP = {"shuffle_partitions": 4}

OPERATORS = {
    "bfs": lambda s, g: bfs.bfs(
        s, g.und, g.roots[0], prepartition=False, **SP
    ),
    "bfs_multi": lambda s, g: bfs.bfs_multi(
        s, g.und, g.roots, prepartition=False, **SP
    ),
    "sssp": lambda s, g: sssp.sssp(s, g.weighted, g.roots[0], **SP),
    "sssp_multi": lambda s, g: sssp.sssp_multi(s, g.weighted, g.roots, **SP),
    "connected_components": lambda s, g: (
        components.connected_components(s, g.und, **SP)
    ),
    "strongly_connected_components": lambda s, g: (
        components.strongly_connected_components(s, g.directed, **SP)
    ),
    "k_core": lambda s, g: kcore.k_core(g.und, 3),
    "core_numbers": lambda s, g: kcore.core_numbers(g.und),
    "pagerank": lambda s, g: pagerank.pagerank(s, g.und, **SP),
    "hits": lambda s, g: hits.hits(s, g.directed),
    "louvain_communities": lambda s, g: (
        louvain.louvain_communities(s, g.und, **SP)
    ),
    "minimum_spanning_forest": lambda s, g: (
        mst.minimum_spanning_forest(s, g.weighted, **SP)
    ),
    "maximal_independent_set": lambda s, g: (
        setops.maximal_independent_set(g.und)
    ),
    "random_walks": lambda s, g: walks.random_walks(s, g.und),
    "node2vec_walks": lambda s, g: walks.node2vec_walks(s, g.und),
    "betweenness_sampled": lambda s, g: (
        centrality.betweenness_sampled(s, g.und, g.roots, **SP)
    ),
    "ego_subgraph": lambda s, g: gb.ego_subgraph(
        s, g.und, g.roots[0], 2, prepartition=False, **SP
    ),
    "k_truss": lambda s, g: triangles.k_truss(g.und, k=4),
}


class _Graph:
    def __init__(self, spark):
        raw = generate_kronecker_edges(spark, 6, 8)
        self.und = gb.build_clean_edges(raw).persist()
        self.directed = gb.dedup_edges(gb.remove_self_loops(raw)).persist()
        self.weighted = self.und.withColumn(
            "weight", F.expr("(src * 7 + dst * 13) % 20 + 1")
        )
        self.roots = [
            r["src"]
            for r in self.und.select("src").distinct().orderBy("src")
            .limit(3).collect()
        ]


@pytest.fixture(scope="module")
def kron6(spark):
    g = _Graph(spark)
    yield g
    g.directed.unpersist()
    g.und.unpersist()


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_shuffle_regime_matches_broadcast_regime(
    spark, kron6, monkeypatch, op
):
    want = sorted(map(tuple, OPERATORS[op](spark, kron6).collect()))
    assert want, "empty result shows nothing"
    monkeypatch.setattr(sizing, "BROADCAST_ROWS", 0)
    got = sorted(map(tuple, OPERATORS[op](spark, kron6).collect()))
    assert got == want
