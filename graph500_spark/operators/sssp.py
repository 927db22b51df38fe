"""Single-source shortest paths over weighted edges (SURVEY.md §7.2.8).

The reference generates edge weights (generator/graph_generator.hpp:479-506)
and declares the SSSP entry point but leaves it empty
(/root/reference/mpi/bfs.hpp:2569-2571, ``run_sssp { }``) — this module
supplies the capability the reference stubs out, Spark-first.

Algorithm: Bellman-Ford relaxation as a vertex program on the one
fixpoint loop, ``operators/pregel.py::pregel``, over the state
[*key, vertex, dist, pred]. Each superstep sends
``struct(dist + weight, src)`` along every edge to ``dst``, merges a
vertex's inbox with ``min``, and applies a full join of the old state
with the inbox that keeps ``least(struct(dist, pred), msg)``; ``chg``
is true where that struct changed or the vertex is new. The merge is
idempotent and the apply monotone, so only the vertices that changed
in the previous superstep send (``active_only``, GraphX's active set:
per-superstep work follows the changing set, as in delta-stepping),
and the loop stops at the first superstep that changes nothing or
after ``max_rounds``. Supersteps ≤ hop-diameter of the shortest-path
tree (weights ≥ 1 ⇒ finite).

Determinism: the entry per vertex is the lexicographic minimum of
(dist, pred) structs, so the final tree is unique: dist(v) is the
true shortest distance and pred(v) = min{u : dist(u) + w(u,v) =
dist(v)} — an oracle-checkable property (the queries registry pairs
this with a DuckDB recursive-CTE oracle).

The ``key`` list names the columns that tell independent trees apart:
``[]`` for single-source ``sssp`` and ``["source"]`` for batched
``sssp_multi``, whose trees share each superstep's job but never
interact. The inbox groups and the apply joins on ``[*key, "vertex"]``,
so the single-source plan carries no constant key column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from graph500_spark.operators.pregel import pregel
from graph500_spark.operators.validate import violation_summary


def _relax(
    spark: SparkSession,
    edges_weighted: DataFrame,
    seeds: list[tuple],
    key: list[str],
    max_rounds: int | None,
    shuffle_partitions: int | str | None,
    edge_count: int | None,
) -> DataFrame:
    """The vertex program behind ``sssp`` and ``sssp_multi`` (module
    docstring): ``seeds`` are the dist-0 rows (*key, vertex, dist,
    pred). Returns the final state, a checkpoint leaf."""
    cols = [*key, "vertex"]

    def send(j: DataFrame) -> DataFrame:
        return j.select(
            *key,
            F.col("dst").alias("vertex"),
            F.struct(
                (F.col("dist") + F.col("weight")).alias("dist"),
                F.col("src").alias("pred"),
            ).alias("msg"),
        )

    def apply_fn(old: DataFrame, inbox: DataFrame) -> DataFrame:
        # NULL for a vertex only the inbox has: a struct of two nulls
        # would sort below every message and win the least()
        entry = F.when(F.col("dist").isNotNull(), F.struct("dist", "pred"))
        best = F.least(entry, F.col("msg"))
        return old.join(inbox, cols, "full").select(
            *cols,
            best["dist"].alias("dist"),
            best["pred"].alias("pred"),
            (entry.isNull() | (best != entry)).alias("chg"),
        )

    schema = ", ".join(f"{c} long" for c in [*cols, "dist", "pred"])
    return pregel(
        spark,
        edges_weighted.select("src", "dst", "weight"),
        spark.createDataFrame(seeds, schema),
        send,
        [F.min("msg").alias("msg")],
        apply_fn,
        n_supersteps=max_rounds,
        active_only=True,
        shuffle_partitions=shuffle_partitions,
        edge_count=edge_count,
        key=key,
    )


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
    return _relax(
        spark,
        edges_weighted,
        [(int(root), 0, int(root))],
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
    ONE shared superstep loop: the operators/bfs.py::bfs_multi
    batching applied to weighted relaxation. Per-root results are
    identical to sequential sssp() (the state is keyed by
    (source, vertex), so trees never interact); the win is the
    reference's 64-root batching story — the per-superstep scheduling
    floor and the edge-table scan are paid once per BATCH, not once
    per root (the bench's bfs_s16 sequential-vs-batched pair measures
    that floor directly).

    Scale shape per superstep: one active-set⋈edges equi-join on src
    (the active set broadcast while its TOTAL rows across sources stay
    under the threshold — driver-known counts), one (source, vertex)
    min-struct merge with map-side partials, and the state⋈inbox full
    join."""
    return _relax(
        spark,
        edges_weighted,
        [(int(r), int(r), 0, int(r)) for r in roots],
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
