"""Single-source shortest paths over weighted edges (SURVEY.md §7.2.8).

The reference generates edge weights (generator/graph_generator.hpp:479-506)
and declares the SSSP entry point but leaves it empty
(/root/reference/mpi/bfs.hpp:2569-2571, ``run_sssp { }``) — this module
supplies the capability the reference stubs out, Spark-first.

Algorithm: iterated relaxation (Bellman-Ford rounds) with a *delta
frontier* — only vertices whose (dist, pred) entry improved in the
previous round propose relaxations in the next, so per-round work is
proportional to the changing set, not the whole graph (the DataFrame
analog of delta-stepping's request generation).

Determinism: the tentative entry per vertex is the lexicographic
minimum of (dist, pred) structs, so the final tree is unique:
dist(v) is the true shortest distance and pred(v) = min{u :
dist(u) + w(u,v) = dist(v)} — an oracle-checkable property (the
queries registry pairs this with a DuckDB recursive-CTE oracle).

Scale notes: per-round plan is one join (frontier is broadcast while
small — driver-known counts, same strategy as operators/bfs.py) + one
groupBy(vertex) min-aggregation; the dist table is re-merged by a
union + min-agg, one shuffle on vertex. ``localCheckpoint`` truncates
the per-round lineage. Rounds ≤ hop-diameter of the shortest-path
tree (weights ≥ 1 ⇒ finite).

One round loop, ``_sssp_rounds``, serves both entry points. Its ``key``
list names the columns that tell independent trees apart: ``[]`` for
single-source ``sssp`` (state keyed by vertex alone) and ``["source"]``
for batched ``sssp_multi`` (state keyed by (source, vertex), so the
trees share each round's job but never interact). Every join and
merge runs on ``[*key, "vertex"]``, so the single-source plan carries
no constant key column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.plantrunc import truncate_plan_lazy
from graph500_spark.functions.sizing import (
    broadcast_if_fits,
    resolve_shuffle_partitions,
)
from graph500_spark.operators.validate import violation_summary

DIST_SCHEMA = T.StructType(
    [
        T.StructField("vertex", T.LongType(), False),
        T.StructField("dist", T.LongType(), True),
        T.StructField("pred", T.LongType(), True),
    ]
)


def _sssp_rounds(
    spark: SparkSession,
    edges_weighted: DataFrame,
    seeds: list[tuple],
    schema: T.StructType | str,
    key: list[str],
    max_rounds: int | None,
    shuffle_partitions: int | str | None,
    edge_count: int | None,
) -> DataFrame:
    """The delta-frontier relaxation loop behind ``sssp`` and
    ``sssp_multi``: ``seeds`` are the dist-0 rows in ``schema`` order,
    ``key`` the tree-identifying columns (module docstring). Returns
    the final [*key, vertex, dist, pred] state, a checkpoint leaf."""
    cols = [*key, "vertex"]
    edges = edges_weighted.select("src", "dst", "weight")

    # volume-derived default ("auto", functions/sizing.py): the edge
    # table is NOT persisted here, so auto engages only when the
    # caller supplies edge_count — never a scan over unpersisted
    # lineage just to size shuffles.
    sp_override = resolve_shuffle_partitions(
        spark, shuffle_partitions, edge_count
    )
    with scoped_session_confs(
        spark, {"spark.sql.shuffle.partitions": sp_override}
    ):
        dist = spark.createDataFrame(seeds, schema=schema).transform(
            truncate_plan_lazy
        )
        frontier = dist
        n_frontier = len(seeds)
        rounds = 0
        try:
            while max_rounds is None or rounds < max_rounds:
                rounds += 1
                f_side = broadcast_if_fits(
                    frontier.select(
                        *key,
                        F.col("vertex").alias("src"),
                        F.col("dist").alias("f_dist"),
                    ),
                    n_frontier,
                )
                proposals = edges.join(f_side, "src").select(
                    *key,
                    F.col("dst").alias("vertex"),
                    (F.col("f_dist") + F.col("weight")).alias("dist"),
                    F.col("src").alias("pred"),
                )
                # merge: per vertex keep the lexicographic-min (dist,
                # pred). The checkpoint makes the state a LEAF plan —
                # the next round references it twice (union +
                # improvement join), so anything short of truncation
                # grows the plan tree exponentially with round count.
                # LAZY: the improved.count below materializes merged
                # AND improved in ONE job — one driver barrier per
                # round instead of two (guide §1.2/§5).
                merged = (
                    dist.unionByName(proposals)
                    .groupBy(*cols)
                    .agg(F.min(F.struct("dist", "pred")).alias("best"))
                    .select(
                        *cols,
                        F.col("best.dist").alias("dist"),
                        F.col("best.pred").alias("pred"),
                    )
                    .transform(truncate_plan_lazy)
                )
                # improved = entries that changed this round (new
                # vertex or struct-smaller entry) — the next frontier
                old = dist.select(
                    *cols,
                    F.col("dist").alias("o_dist"),
                    F.col("pred").alias("o_pred"),
                )
                improved = (
                    merged.join(old, cols, "left")
                    .filter(
                        F.col("o_dist").isNull()
                        | (F.col("dist") < F.col("o_dist"))
                        | (
                            (F.col("dist") == F.col("o_dist"))
                            & (F.col("pred") < F.col("o_pred"))
                        )
                    )
                    .select(*cols, "dist", "pred")
                    .persist()  # shallow plan over two cached leaves
                )
                n_new = improved.count()
                if n_new == 0:
                    improved.unpersist()
                    break
                # the superseded round's blocks can be freed — without
                # this, long loops accumulate O(rounds) cached state
                old_dist, old_frontier = dist, frontier
                dist = merged
                frontier = improved
                n_frontier = n_new
                old_dist.unpersist()
                if old_frontier is not old_dist:
                    old_frontier.unpersist()
        finally:
            # the last frontier's blocks are dead on every exit path
            # (n_new==0 break, max_rounds break, or an error) — without
            # this each invocation leaks one persisted frontier
            if frontier is not dist:
                frontier.unpersist()
    return dist


def sssp(
    spark: SparkSession,
    edges_weighted: DataFrame,
    root: int,
    max_rounds: int | None = None,
    shuffle_partitions: int | str | None = "auto",
    edge_count: int | None = None,
) -> DataFrame:
    """Shortest-path tree from ``root``: [vertex, dist, pred] for every
    reachable vertex (root has dist 0, pred == root). Input:
    [src, dst, weight] with integer weights ≥ 1, already symmetrized
    if undirected semantics are wanted.
    """
    return _sssp_rounds(
        spark,
        edges_weighted,
        [(int(root), 0, int(root))],
        DIST_SCHEMA,
        key=[],
        max_rounds=max_rounds,
        shuffle_partitions=shuffle_partitions,
        edge_count=edge_count,
    )


def sssp_multi(
    spark: SparkSession,
    edges_weighted: DataFrame,
    roots: list[int],
    max_rounds: int | None = None,
    shuffle_partitions: int | str | None = "auto",
    edge_count: int | None = None,
) -> DataFrame:
    """[source, vertex, dist, pred] — k shortest-path trees through
    ONE shared delta-frontier loop: the operators/bfs.py::bfs_multi
    batching applied to weighted relaxation. Per-root results are
    identical to sequential sssp() (the state is keyed by
    (source, vertex), so trees never interact); the win is the
    reference's 64-root batching story — the per-round scheduling
    floor and the edge-table scan are paid once per BATCH, not once
    per root (the bench's bfs_s16 sequential-vs-batched pair measures
    that floor directly).

    Scale shape per round: one frontier⋈edges equi-join on src (the
    frontier broadcast while its TOTAL rows across sources stay under
    the threshold — driver-known counts) + one (source, vertex)
    min-struct merge with map-side partials."""
    return _sssp_rounds(
        spark,
        edges_weighted,
        [(int(r), int(r), 0, int(r)) for r in roots],
        "source long, vertex long, dist long, pred long",
        key=["source"],
        max_rounds=max_rounds,
        shuffle_partitions=shuffle_partitions,
        edge_count=edge_count,
    )


# ---------------------------------------------------------------------------
# SSSP validation — the shortest-path analog of the Graph500 BFS spec
# checks (mpi/validate.hpp:489-802); the reference never wrote these
# because run_sssp itself is empty. Same shape: each check is a pure
# DataFrame query returning violation rows; empty == pass.
# ---------------------------------------------------------------------------


def check_dist_ranges(dist_df: DataFrame, nglobalverts: int) -> DataFrame:
    """Check 1: parent ids in range, distances non-negative."""
    return dist_df.filter(
        (F.col("pred") < 0)
        | (F.col("pred") >= F.lit(nglobalverts))
        | (F.col("dist") < 0)
    ).select("vertex", "dist", "pred")


def check_root_dist(dist_df: DataFrame, root: int) -> DataFrame:
    """Check 2: dist[root]==0 with pred==root; no non-root vertex is
    its own parent."""
    bad_root = dist_df.filter(
        (F.col("vertex") == F.lit(root))
        & ((F.col("dist") != 0) | (F.col("pred") != F.col("vertex")))
    )
    self_parent = dist_df.filter(
        (F.col("vertex") != F.lit(root)) & (F.col("pred") == F.col("vertex"))
    )
    return bad_root.unionByName(self_parent).select("vertex", "dist", "pred")


def check_tree_weights(
    edges_weighted: DataFrame, dist_df: DataFrame, root: int
) -> DataFrame:
    """Check 3: every non-root entry's claimed parent edge exists and
    dist[v] == dist[pred[v]] + weight(pred[v], v). A missing edge
    (left-join null) is a violation too — this subsumes the BFS
    tree-edge-existence check."""
    claims = dist_df.filter(F.col("vertex") != F.lit(root)).select(
        "vertex", "dist", "pred"
    )
    parent = dist_df.select(
        F.col("vertex").alias("p_vertex"), F.col("dist").alias("p_dist")
    )
    edge_w = edges_weighted.select(
        F.col("src").alias("e_src"),
        F.col("dst").alias("e_dst"),
        F.col("weight").alias("e_w"),
    )
    return (
        claims.join(parent, claims.pred == parent.p_vertex, "left")
        .join(
            edge_w,
            (F.col("pred") == F.col("e_src"))
            & (F.col("vertex") == F.col("e_dst")),
            "left",
        )
        .filter(
            F.col("p_dist").isNull()
            | F.col("e_w").isNull()
            | (F.col("dist") != F.col("p_dist") + F.col("e_w"))
        )
        .select("vertex", "dist", "pred")
    )


def check_no_relaxable_edge(
    edges_weighted: DataFrame, dist_df: DataFrame
) -> DataFrame:
    """Check 4 (optimality): no edge (u,v,w) with u reached admits
    dist[v] > dist[u] + w, and no edge leaves the reached set (v
    unreached while u reached). This is the Bellman-Ford fixpoint
    condition — together with checks 1-3 it proves the distances are
    exactly the shortest-path metric."""
    u = dist_df.select(
        F.col("vertex").alias("src"), F.col("dist").alias("u_dist")
    )
    v = dist_df.select(
        F.col("vertex").alias("dst"), F.col("dist").alias("v_dist")
    )
    return (
        edges_weighted.join(u, "src", "inner")
        .join(v, "dst", "left")
        .filter(
            F.col("v_dist").isNull()
            | (F.col("v_dist") > F.col("u_dist") + F.col("weight"))
        )
        .select("src", "dst", "weight", "u_dist", "v_dist")
    )


def validate_sssp(
    edges_weighted: DataFrame,
    dist_df: DataFrame,
    root: int,
    nglobalverts: int,
) -> DataFrame:
    """All four checks → [check: string, violations: long] summary
    (``validate.violation_summary``, as for ``validate_bfs``)."""
    return violation_summary(
        {
            "dist_ranges": check_dist_ranges(dist_df, nglobalverts),
            "root_dist": check_root_dist(dist_df, root),
            "tree_weights": check_tree_weights(edges_weighted, dist_df, root),
            "no_relaxable_edge": check_no_relaxable_edge(
                edges_weighted, dist_df
            ),
        }
    )
