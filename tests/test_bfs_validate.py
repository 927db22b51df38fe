"""BFS + validator tests: the reference's own correctness story —
every BFS is checked by the 5 spec checks (SURVEY.md §5), plus
corrupted-fixture tests proving each check fires."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from graph500_spark.functions import sizing
from graph500_spark.operators import bfs as bfs_mod
from graph500_spark.operators import graph_build as gb
from graph500_spark.operators import validate as V
from graph500_spark.sources import generator

PRED_SCHEMA = "vertex long, pred long, depth int"


def bfs_reference(edges, root):
    """Driver-side level-synchronous BFS over directed (src, dst)
    pairs: {vertex: (pred, depth)}, pred = the minimum frontier
    neighbour, root = (root, 0) — the engine's spec convention."""
    adj = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    out = {root: (root, 0)}
    frontier, depth = [root], 0
    while frontier:
        depth += 1
        nxt = {}
        for u in frontier:
            for v in adj[u]:
                if v not in out and (v not in nxt or u < nxt[v]):
                    nxt[v] = u
        out.update((v, (u, depth)) for v, u in nxt.items())
        frontier = list(nxt)
    return out


@pytest.fixture(scope="module")
def chain_graph(spark):
    # path 0-1-2-3-4 plus branch 2-5
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (2, 5)], "src long, dst long"
    )
    return e, gb.build_clean_edges(e)


def test_bfs_chain(spark, chain_graph):
    raw, clean = chain_graph
    pred = bfs_mod.bfs(spark, clean, 0, prepartition=False)
    got = {r["vertex"]: (r["pred"], r["depth"]) for r in pred.collect()}
    assert got == {
        0: (0, 0),
        1: (0, 1),
        2: (1, 2),
        3: (2, 3),
        5: (2, 3),
        4: (3, 4),
    }


def test_bfs_validates_clean(spark, chain_graph):
    raw, clean = chain_graph
    pred = bfs_mod.bfs(spark, clean, 0, prepartition=False)
    summary = V.validate_bfs(raw, pred, 0, 6)
    assert all(r["violations"] == 0 for r in summary.collect())
    evc = V.edge_visit_count(raw, pred).collect()[0]["edge_visit_count"]
    assert evc == 5  # every raw edge has both endpoints reached


def test_bfs_unreachable_component(spark):
    raw = spark.createDataFrame(
        [(0, 1), (5, 6)], "src long, dst long"
    )
    clean = gb.build_clean_edges(raw)
    pred = bfs_mod.bfs(spark, clean, 0, prepartition=False)
    verts = {r["vertex"] for r in pred.collect()}
    assert verts == {0, 1}
    # check 4 fires is NOT expected: edge 5-6 has both endpoints unreached
    assert V.check_edge_depths(raw, pred).count() == 0
    assert (
        V.edge_visit_count(raw, pred).collect()[0]["edge_visit_count"] == 1
    )


def test_bfs_isolated_root(spark):
    # root 9 has no edges at all: pred tree = {root}, all validators
    # clean, zero visited edges
    raw = spark.createDataFrame([(0, 1)], "src long, dst long")
    clean = gb.build_clean_edges(raw)
    pred = bfs_mod.bfs(spark, clean, 9, prepartition=False)
    assert [tuple(r) for r in pred.collect()] == [(9, 9, 0)]
    summary = V.validate_bfs(raw, pred, 9, 10)
    assert all(r["violations"] == 0 for r in summary.collect())
    assert V.edge_visit_count(raw, pred).collect()[0]["edge_visit_count"] == 0


def test_bfs_min_parent_determinism(spark):
    # diamond: 0-1, 0-2, 1-3, 2-3 → pred[3] must be min(1,2)=1
    clean = gb.build_clean_edges(
        spark.createDataFrame([(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long")
    )
    pred = bfs_mod.bfs(spark, clean, 0, prepartition=False)
    got = {r["vertex"]: r["pred"] for r in pred.collect()}
    assert got[3] == 1


def test_validators_fire_on_corrupted_fixtures(spark, chain_graph):
    raw, _ = chain_graph
    ok = spark.createDataFrame(
        [(0, 0, 0), (1, 0, 1), (2, 1, 2), (3, 2, 3), (4, 3, 4), (5, 2, 3)],
        PRED_SCHEMA,
    )
    # check 1: out-of-range parent
    bad1 = ok.withColumn(
        "pred", F.when(F.col("vertex") == 3, F.lit(99)).otherwise(F.col("pred"))
    )
    assert V.check_value_ranges(bad1, 6).count() == 1
    # check 2: self parent (non-root)
    bad2 = ok.withColumn(
        "pred", F.when(F.col("vertex") == 2, F.lit(2)).otherwise(F.col("pred"))
    )
    assert V.check_root_and_self_parents(bad2, 0).count() == 1
    # check 2: root not its own parent
    bad2b = ok.withColumn(
        "pred", F.when(F.col("vertex") == 0, F.lit(1)).otherwise(F.col("pred"))
    )
    assert V.check_root_and_self_parents(bad2b, 0).count() == 1
    # check 3: depth gap
    bad3 = ok.withColumn(
        "depth", F.when(F.col("vertex") == 4, F.lit(9)).otherwise(F.col("depth"))
    )
    assert V.check_depth_consistency(bad3, 0).count() >= 1
    # check 4: edge spanning >1 depth levels
    assert V.check_edge_depths(raw, bad3).count() >= 1
    # check 5: phantom tree edge
    bad5 = ok.withColumn(
        "pred", F.when(F.col("vertex") == 4, F.lit(0)).otherwise(F.col("pred"))
    )
    assert V.check_tree_edges(raw, bad5, 0).count() == 1
    # clean fixture passes everything
    assert all(
        r["violations"] == 0 for r in V.validate_bfs(raw, ok, 0, 6).collect()
    )


def test_bfs_on_kronecker_graph_validates(spark):
    raw = generator.generate_kronecker_edges(spark, 7, 8)
    clean = gb.build_clean_edges(raw).persist()
    from graph500_spark.operators import roots as roots_mod

    rts = roots_mod.find_roots(spark, raw, 1 << 7, num_roots=2)
    assert len(rts) == 2
    for root in rts:
        pred = bfs_mod.bfs(spark, clean, root, prepartition=False)
        summary = V.validate_bfs(raw, pred, root, 1 << 7)
        bad = {r["check"]: r["violations"] for r in summary.collect()}
        assert all(v == 0 for v in bad.values()), bad
    clean.unpersist()


class TestBfsMulti:
    def test_multi_equals_per_root(self, spark):
        """bfs_multi's per-root slices must be row-identical to
        independent single-root runs (same min-parent convention),
        and both must equal the driver-side reference BFS."""
        from graph500_spark.operators.bfs import bfs, bfs_multi
        from graph500_spark.operators.graph_build import build_clean_edges
        from graph500_spark.sources.generator import (
            generate_kronecker_edges,
        )

        g = build_clean_edges(generate_kronecker_edges(spark, 8, 8))
        g = g.persist()
        pairs = [(r["src"], r["dst"]) for r in g.collect()]
        roots = [2, 5, 11]
        multi = bfs_multi(
            spark, g, roots, prepartition=False, shuffle_partitions=8
        )
        got = {
            (r["root"], r["vertex"]): (r["pred"], r["depth"])
            for r in multi.collect()
        }
        for root in roots:
            single = bfs(
                spark, g, root, prepartition=False, shuffle_partitions=8
            )
            want = {
                (root, r["vertex"]): (r["pred"], r["depth"])
                for r in single.collect()
            }
            mine = {k: v for k, v in got.items() if k[0] == root}
            assert mine == want, f"root {root} diverges"
            ref = {
                (root, v): pred_depth
                for v, pred_depth in bfs_reference(pairs, root).items()
            }
            assert want == ref, f"bfs from root {root} != reference"
            assert mine == ref, f"bfs_multi root {root} != reference"
        g.unpersist()

    def test_pred_free_same_level_sets(self, spark, monkeypatch):
        """with_pred=False (the depth-only fast path closeness /
        eccentricity / avg-path ride) must produce exactly the same
        (root, vertex, depth) multiset as the pred-carrying form, and
        no pred column."""
        from graph500_spark.operators.bfs import bfs_multi
        from graph500_spark.operators.graph_build import build_clean_edges
        from graph500_spark.sources.generator import (
            generate_kronecker_edges,
        )

        g = build_clean_edges(generate_kronecker_edges(spark, 8, 8))
        g = g.persist()
        roots = [2, 5, 11]
        full = bfs_multi(
            spark, g, roots, prepartition=False, shuffle_partitions=8
        )
        lean = bfs_multi(
            spark,
            g,
            roots,
            prepartition=False,
            shuffle_partitions=8,
            with_pred=False,
        )
        assert lean.columns == ["root", "vertex", "depth"]
        want = sorted(
            (r["root"], r["vertex"], r["depth"]) for r in full.collect()
        )
        got = sorted(
            (r["root"], r["vertex"], r["depth"]) for r in lean.collect()
        )
        assert got == want
        # both broadcast-threshold branches: force the shuffle branch
        monkeypatch.setattr(sizing, "BROADCAST_ROWS", 0)
        lean_shuffle = bfs_multi(
            spark,
            g,
            roots,
            prepartition=False,
            shuffle_partitions=8,
            with_pred=False,
        )
        got2 = sorted(
            (r["root"], r["vertex"], r["depth"])
            for r in lean_shuffle.collect()
        )
        assert got2 == want
        g.unpersist()


@pytest.fixture(scope="module")
def multi_trees(spark):
    """kron s7 raw edges + a 3-root ``bfs_multi`` table, persisted."""
    from graph500_spark.operators import roots as roots_mod

    raw = generator.generate_kronecker_edges(spark, 7, 8).persist()
    clean = gb.build_clean_edges(raw).persist()
    rts = roots_mod.find_roots(spark, raw, 1 << 7, num_roots=3)
    pm = bfs_mod.bfs_multi(spark, clean, rts, prepartition=False).persist()
    yield raw, rts, pm
    pm.unpersist()
    clean.unpersist()
    raw.unpersist()


# The five corruption shapes of test_validators_fire_on_corrupted_fixtures
# plus a root depth != 0, as (tree vertex to corrupt, column, new value,
# check that must fire); "d1"/"d2" are the least vertex at depth 1/2 of
# the corrupted tree.
MULTI_CORRUPTIONS = {
    "out_of_range_pred": (
        "d1", "pred", lambda t: F.lit(99 + (1 << 7)), "value_ranges"
    ),
    "self_parent": (
        "d1", "pred", lambda t: F.col("vertex"), "root_self_parents"
    ),
    "root_parent": (
        "root", "pred", lambda t: F.lit(t["d1"]), "root_self_parents"
    ),
    "depth_gap": ("d1", "depth", lambda t: F.lit(9), "depth_consistency"),
    "root_depth": ("root", "depth", lambda t: F.lit(7), "depth_consistency"),
    "phantom_edge": ("d2", "pred", lambda t: F.lit(t["root"]), "tree_edges"),
}


@pytest.mark.parametrize("shape", sorted(MULTI_CORRUPTIONS))
def test_validate_bfs_multi_matches_per_root_and_fires(
    spark, multi_trees, shape
):
    """Batched multi-root validator (spec64's benchmark-mode gate):
    one corruption injected into one root's tree fires for that root
    only, and every (root, check) count equals validate_bfs on that
    root's slice."""
    raw, rts, pm = multi_trees
    target = rts[sorted(MULTI_CORRUPTIONS).index(shape) % len(rts)]
    rows = pm.filter(F.col("root") == int(target)).collect()
    tree = {"root": target}
    for d in (1, 2):
        tree[f"d{d}"] = min(r["vertex"] for r in rows if r["depth"] == d)
    where, col, value, fires = MULTI_CORRUPTIONS[shape]
    bad = pm.withColumn(
        col,
        F.when(
            (F.col("root") == int(target))
            & (F.col("vertex") == int(tree[where])),
            value(tree),
        ).otherwise(F.col(col)),
    )
    multi = {
        (r["root"], r["check"]): r["violations"]
        for r in V.validate_bfs_multi(raw, bad, 1 << 7).collect()
    }
    assert len(multi) == 5 * len(rts)
    assert multi[(target, fires)] > 0, multi
    assert all(v == 0 for (root, _), v in multi.items() if root != target)
    for root in rts:
        single = V.validate_bfs(
            raw,
            bad.filter(F.col("root") == int(root)).drop("root"),
            root,
            1 << 7,
        ).collect()
        for r in single:
            assert multi[(root, r["check"])] == r["violations"], (root, r)


def test_validate_bfs_multi_clean_trees(spark, multi_trees):
    """Real trees: every (root, check) reports 0, and the batched TEPS
    numerators equal edge_visit_count per root."""
    raw, rts, pm = multi_trees
    multi = V.validate_bfs_multi(raw, pm, 1 << 7).collect()
    assert len(multi) == 5 * len(rts)
    assert all(r["violations"] == 0 for r in multi), multi
    counts = {
        r["root"]: r["edge_visit_count"]
        for r in V.edge_visit_counts_multi(raw, pm).collect()
    }
    for root in rts:
        one = pm.filter(F.col("root") == int(root)).drop("root")
        want = V.edge_visit_count(raw, one).collect()[0]["edge_visit_count"]
        assert counts[root] == want
