"""Construction-ETL operator tests (P1/P2/O2/A1/A2/A3/O1/P4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.operators import graph_build as gb


@pytest.fixture(scope="module")
def edges(spark):
    # raw list with self-loop and duplicates
    rows = [(1, 2), (2, 1), (1, 2), (3, 3), (2, 4), (4, 5), (5, 1)]
    return spark.createDataFrame(rows, "src long, dst long")


def test_remove_self_loops(edges):
    out = gb.remove_self_loops(edges)
    assert out.filter(F.col("src") == F.col("dst")).count() == 0
    assert out.count() == 6


def test_symmetrize(edges):
    out = gb.symmetrize(edges)
    assert out.count() == 2 * edges.count()
    fwd = {(r["src"], r["dst"]) for r in out.collect()}
    assert (2, 1) in fwd and (1, 2) in fwd and (5, 4) in fwd


def test_build_clean_edges_invariants(edges):
    clean = gb.build_clean_edges(edges)
    rows = {(r["src"], r["dst"]) for r in clean.collect()}
    # no self loops
    assert all(s != d for s, d in rows)
    # symmetric closure
    assert all((d, s) in rows for s, d in rows)
    # unique
    assert clean.count() == len(rows)
    assert rows == {
        (1, 2), (2, 1), (2, 4), (4, 2), (4, 5), (5, 4), (5, 1), (1, 5)
    }


@pytest.mark.parametrize("bad_id", [2**31 + 5, -3])
def test_max_id_bound_violation_raises(spark, edges, bad_id):
    """An id outside [0, max_id] must fail the job, also with ANSI off,
    where the int32 cast would wrap 2^31 + 5 silently; a correct bound
    changes nothing."""
    bad = edges.union(
        spark.createDataFrame([(1, bad_id)], "src long, dst long")
    )
    with scoped_session_confs(spark, {"spark.sql.ansi.enabled": "false"}):
        assert sorted(
            gb.build_clean_edges(edges, max_id=5).collect()
        ) == sorted(gb.build_clean_edges(edges).collect())
        with pytest.raises(Exception, match="outside max_id bound"):
            gb.build_clean_edges(bad, max_id=10).collect()


def test_degrees(edges):
    clean = gb.build_clean_edges(edges)
    deg = {r["vertex"]: r["degree"] for r in gb.degrees(clean).collect()}
    assert deg == {1: 2, 2: 2, 4: 2, 5: 2}


def test_max_vertex_and_count(edges):
    assert gb.max_vertex(edges).collect()[0]["max_vertex"] == 5
    assert gb.count_vertices(edges).collect()[0]["num_vertices"] == 5


def test_degree_order_map(spark):
    rows = [(1, 2), (1, 3), (1, 4), (2, 3), (5, 1)]
    e = gb.build_clean_edges(spark.createDataFrame(rows, "src long, dst long"))
    m = {r["vertex"]: (r["degree"], r["new_id"]) for r in gb.degree_order_map(e).collect()}
    # degrees: 1->4, 2->2, 3->2, 4->1, 5->1
    assert m[1] == (4, 1)
    assert m[2] == (2, 2)
    assert m[3] == (2, 3)
    assert m[4] == (1, 4)
    assert m[5] == (1, 5)


def test_apply_vertex_map(spark):
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    vm = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "vertex long, new_id long"
    )
    out = {(r["src"], r["dst"]) for r in gb.apply_vertex_map(e, vm).collect()}
    assert out == {(10, 20), (20, 30)}


def test_adjacency(spark):
    e = gb.build_clean_edges(
        spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src long, dst long")
    )
    adj = {r["src"]: r["neighbors"] for r in gb.build_adjacency(e).collect()}
    assert adj == {1: [2, 3], 2: [1, 3], 3: [1, 2]}


class TestBipartiteProject:
    def test_cooccurrence_weights(self, spark):
        from graph500_spark.operators.graph_build import bipartite_project

        rows = [(1, 10), (2, 10), (3, 10), (1, 20), (2, 20), (4, 30)]
        b = spark.createDataFrame(rows, "item: long, grp: long")
        out = {(r.src, r.dst): r.weight
               for r in bipartite_project(b).collect()}
        assert out == {(1, 2): 2, (1, 3): 1, (2, 3): 1}

    def test_hub_group_cap_drops_megagroup(self, spark):
        from graph500_spark.operators.graph_build import bipartite_project

        rows = [(i, 99) for i in range(10)] + [(1, 10), (2, 10)]
        b = spark.createDataFrame(rows, "item: long, grp: long")
        out = {(r.src, r.dst): r.weight
               for r in bipartite_project(b, max_group=5).collect()}
        assert out == {(1, 2): 1}  # group 99 filtered pre-join
