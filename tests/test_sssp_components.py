"""SSSP and connected-components unit tests on hand-built graphs with
known answers, plus the lexicographic-pred determinism property."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph500_spark.operators.components import connected_components
from graph500_spark.operators.graph_build import build_clean_edges
from graph500_spark.operators.sssp import sssp


def _weighted(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, weight long")


def _sym(rows):
    return rows + [(d, s, w) for (s, d, w) in rows]


def test_sssp_path_graph(spark):
    # 0 -5- 1 -1- 2 -1- 3 ; direct 0 -3- 2 shortcut
    rows = _sym([(0, 1, 5), (1, 2, 1), (2, 3, 1), (0, 2, 3)])
    out = sssp(spark, _weighted(spark, rows), 0)
    got = {r["vertex"]: (r["dist"], r["pred"]) for r in out.collect()}
    assert got == {
        0: (0, 0),
        1: (4, 2),  # via the 0-2-1 shortcut, not the direct 5-edge
        2: (3, 0),
        3: (4, 2),
    }


def test_sssp_min_pred_tie_break(spark):
    # two equal-cost parents for vertex 3: via 1 (0-1-3 = 2) and via
    # 2 (0-2-3 = 2) — pred must be the smaller vertex id 1
    rows = _sym([(0, 1, 1), (0, 2, 1), (1, 3, 1), (2, 3, 1)])
    out = sssp(spark, _weighted(spark, rows), 0)
    got = {r["vertex"]: (r["dist"], r["pred"]) for r in out.collect()}
    assert got[3] == (2, 1)


def test_sssp_unreachable_absent(spark):
    rows = _sym([(0, 1, 2), (5, 6, 1)])
    out = sssp(spark, _weighted(spark, rows), 0)
    got = {r["vertex"] for r in out.collect()}
    assert got == {0, 1}


def test_sssp_matches_bfs_on_unit_weights(spark):
    """With all weights 1, SSSP dist == BFS depth on the same graph."""
    from graph500_spark.operators.bfs import bfs

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 50) for i in range(50)], "src long, dst long"
    )
    clean = build_clean_edges(edges).persist()
    unit = clean.withColumn("weight", F.lit(1))
    d = {r["vertex"]: r["dist"] for r in sssp(spark, unit, 3).collect()}
    b = {r["vertex"]: r["depth"] for r in bfs(spark, clean, 3).collect()}
    clean.unpersist()
    assert d == {v: int(depth) for v, depth in b.items()}


def _bellman_ford(rows, root, rounds):
    """Driver-side synchronous Bellman-Ford: ``rounds`` relaxations of
    every edge from the previous round's entries, keeping the
    lexicographic-min (dist, pred) per vertex (None = to the fixpoint)."""
    best = {root: (0, root)}
    while rounds is None or rounds > 0:
        nxt = dict(best)
        for s, d, w in rows:
            if s in best:
                cand = (best[s][0] + w, s)
                nxt[d] = min(nxt.get(d, cand), cand)
        if nxt == best:
            break
        best = nxt
        rounds = None if rounds is None else rounds - 1
    return best


def test_sssp_max_rounds_truncates_like_bellman_ford(spark):
    """``max_rounds=2`` stops after two supersteps, with the same
    entries a two-round Bellman-Ford with the (dist, pred) tie-break
    holds, for the single-source and the batched entry point."""
    from graph500_spark.operators.sssp import sssp_multi

    rows = _sym(
        [(i, (i * 7 + 3) % 30, (i * 13) % 9 + 1) for i in range(30)]
        + [(i, (i + 1) % 30, (i * 5) % 4 + 1) for i in range(30)]
    )
    edges = _weighted(spark, rows)
    roots = [0, 11]
    for root in roots:
        assert _bellman_ford(rows, root, 2) != _bellman_ford(rows, root, None)

    out = sssp(spark, edges, roots[0], max_rounds=2)
    got = {r["vertex"]: (r["dist"], r["pred"]) for r in out.collect()}
    assert got == _bellman_ford(rows, roots[0], 2)

    multi = sssp_multi(spark, edges, roots, max_rounds=2)
    for root in roots:
        got = {
            r["vertex"]: (r["dist"], r["pred"])
            for r in multi.filter(F.col("source") == root).collect()
        }
        assert got == _bellman_ford(rows, root, 2), f"source {root}"


def test_validate_sssp_clean_and_corrupted(spark):
    from pyspark.sql import functions as F2

    from graph500_spark.operators.sssp import validate_sssp

    rows = _sym([(0, 1, 5), (1, 2, 1), (2, 3, 1), (0, 2, 3)])
    edges = _weighted(spark, rows)
    good = sssp(spark, edges, 0)

    # the engine's own result passes all four checks
    summary = validate_sssp(edges, good, 0, 100)
    assert {r["check"]: r["violations"] for r in summary.collect()} == {
        "dist_ranges": 0,
        "root_dist": 0,
        "tree_weights": 0,
        "no_relaxable_edge": 0,
    }

    # corrupt one distance (vertex 2: 3 → 9): tree_weights fires for
    # its children's claims and itself, and edges into 2 are relaxable
    bad = good.withColumn(
        "dist",
        F2.when(F2.col("vertex") == 2, F2.lit(9)).otherwise(F2.col("dist")),
    )
    s = {r["check"]: r["violations"] for r in validate_sssp(
        edges, bad, 0, 100
    ).collect()}
    assert s["no_relaxable_edge"] > 0
    assert s["tree_weights"] > 0

    # out-of-range parent
    bad2 = good.withColumn(
        "pred",
        F2.when(F2.col("vertex") == 3, F2.lit(1000)).otherwise(
            F2.col("pred")
        ),
    )
    s2 = {r["check"]: r["violations"] for r in validate_sssp(
        edges, bad2, 0, 100
    ).collect()}
    assert s2["dist_ranges"] == 1
    assert s2["tree_weights"] >= 1  # claimed parent edge doesn't exist


def test_connected_components_two_islands(spark):
    rows = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    out = connected_components(spark, build_clean_edges(edges))
    got = {r["vertex"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_chain_long_diameter(spark):
    # a 16-vertex path exercises multi-round label propagation
    # (label 0 travels one hop per round → 16 rounds)
    rows = [(i, i + 1) for i in range(16)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    out = connected_components(spark, build_clean_edges(edges))
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}
    assert out.count() == 17


class TestStronglyConnectedComponents:
    def _scc(self, spark, edges_list):
        from graph500_spark.operators.components import (
            strongly_connected_components,
        )

        edges = spark.createDataFrame(edges_list, "src: long, dst: long")
        return {
            r.vertex: r.scc_id
            for r in strongly_connected_components(
                spark, edges, shuffle_partitions=4
            ).collect()
        }

    def test_two_cycles_and_bridge(self, spark):
        # cycle {0,1,2} → bridge → cycle {10,11}
        out = self._scc(
            spark,
            [(0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (11, 10)],
        )
        assert out == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10}

    def test_dag_is_all_singletons(self, spark):
        out = self._scc(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
        assert out == {0: 0, 1: 1, 2: 2, 3: 3}

    def test_chain_of_sccs(self, spark):
        # three 2-cycles in a chain — exercises multiple outer rounds
        out = self._scc(
            spark,
            [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2), (3, 4),
             (4, 5), (5, 4)],
        )
        assert out == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 4}

    def test_matches_undirected_cc_on_symmetric_input(self, spark):
        from graph500_spark.operators.components import (
            connected_components,
            strongly_connected_components,
        )

        und = [(0, 1), (1, 2), (5, 6)]
        sym = spark.createDataFrame(
            und + [(b, a) for a, b in und], "src: long, dst: long"
        )
        cc = {r.vertex: r.component
              for r in connected_components(spark, sym,
                                            shuffle_partitions=4).collect()}
        scc = {r.vertex: r.scc_id
               for r in strongly_connected_components(
                   spark, sym, shuffle_partitions=4).collect()}
        assert scc == cc


class TestBetweennessSampled:
    def _bc(self, spark, und, roots, **kw):
        from graph500_spark.operators.centrality import (
            betweenness_sampled,
        )

        edges = spark.createDataFrame(
            und + [(b, a) for a, b in und], "src: long, dst: long"
        )
        return {
            r.vertex: r.bc_q
            for r in betweenness_sampled(
                spark, edges, roots, shuffle_partitions=4, **kw
            ).collect()
        }

    def test_path_center_carries_flow(self, spark):
        # path 1-2-3, root 1: δ(2) = 1 → 10^6 micro-units
        out = self._bc(spark, [(1, 2), (2, 3)], [1])
        assert out == {2: 1_000_000, 3: 0}

    def test_diamond_splits_credit(self, spark):
        # 1-2-4 and 1-3-4: σ(4)=2, each middle gets 0.5
        out = self._bc(spark, [(1, 2), (1, 3), (2, 4), (3, 4)], [1])
        assert out == {2: 500_000, 3: 500_000, 4: 0}

    def test_multi_root_sums(self, spark):
        out = self._bc(spark, [(1, 2), (1, 3), (2, 4), (3, 4)], [1, 4])
        # symmetric diamond: middles get 0.5 from each side
        assert out[2] == 1_000_000 and out[3] == 1_000_000
        # endpoints: reached by the other root with δ = 0
        assert out[1] == 0 and out[4] == 0

    def test_rejoin_fallback_matches_tree_pairs(self, spark, monkeypatch):
        # a zero threshold leaves the broadcast regime at the first
        # level: the backward pass re-joins the edge table instead of
        # reusing the forward pass's tree pairs — same integer sums
        from graph500_spark.functions import sizing

        diamond = [(1, 2), (1, 3), (2, 4), (3, 4)]
        for roots in ([1], [1, 4]):
            want = self._bc(spark, diamond, roots)
            with monkeypatch.context() as m:
                m.setattr(sizing, "BROADCAST_ROWS", 0)
                assert self._bc(spark, diamond, roots) == want


class TestKatzCentrality:
    def test_path_hand_values(self, spark):
        from graph500_spark.operators.centrality import katz_centrality

        # directed-as-symmetric path 1-2: each vertex has indeg 1
        und = [(1, 2)]
        edges = spark.createDataFrame(
            und + [(b, a) for a, b in und], "src: long, dst: long"
        )
        out = {r.vertex: r.katz_q
               for r in katz_centrality(spark, edges, n_iterations=2,
                                        shuffle_partitions=4).collect()}
        # k1 = 10^6/8 = 125000; k2 = (10^6 + 125000)//8 = 140625
        assert out == {1: 140625, 2: 140625}

    def test_hub_beats_leaf(self, spark):
        from graph500_spark.operators.centrality import katz_centrality

        und = [(0, i) for i in range(1, 6)]
        edges = spark.createDataFrame(
            und + [(b, a) for a, b in und], "src: long, dst: long"
        )
        out = {r.vertex: r.katz_q
               for r in katz_centrality(spark, edges,
                                        shuffle_partitions=4).collect()}
        assert out[0] > out[1]
        assert len({out[i] for i in range(1, 6)}) == 1  # leaves equal
